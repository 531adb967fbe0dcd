package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class HashFnsSpec extends SparkSpec {
  import spark.implicits._

  test("simhash: identical token arrays hash identically; perturbation stays close") {
    val doc = "the quick brown fox jumps over the lazy dog " * 4
    val near = doc.replace("lazy", "sleepy")
    val far = "completely different content about spark engines and parquet files " * 4
    val r = Seq(doc, doc, near, far).toDF("t")
      .select(HashFns.simhash(split($"t", " "))).as[Long].collect()
    assert(r(0) == r(1))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(r(0), r(2)) < ham(r(0), r(3)))
    assert(ham(r(0), r(2)) <= 12)
  }

  test("minhash signature-match fraction estimates jaccard") {
    // two strings sharing ~half their shingles
    val a = "abcdefghijklmnopqrstuvwxyz0123456789"
    val b = "abcdefghijklmnopqr_ZZZZZZZZZZZZZZZZZ"
    val Seq(sa, sb) = Seq(a, b).toDF("t")
      .select(HashFns.minhashSig($"t", 5, 256)).as[Seq[Long]].collect().toSeq
    val est = sa.zip(sb).count { case (x, y) => x == y }.toDouble / 256
    def shingles(s: String) = (0 to s.length - 5).map(i => s.substring(i, i + 5)).toSet
    val j = {
      val (x, y) = (shingles(a), shingles(b))
      x.intersect(y).size.toDouble / x.union(y).size
    }
    assert(math.abs(est - j) < 0.12, s"est=$est true=$j")
  }

  test("word-shingle minhash: identical docs match on all components") {
    val Seq(sa, sb, sc) = Seq("a b c d e f g", "a b c d e f g", "x y z w v u t")
      .toDF("t").select(HashFns.minhashWordSig(split($"t", " "), 3, 32))
      .as[Seq[Long]].collect().toSeq
    assert(sa == sb)
    assert(sa.zip(sc).count { case (x, y) => x == y } == 0)
  }

  test("winnowing fingerprints are shift-robust: shared set survives a prefix insert") {
    val doc = "the quick brown fox jumps over the lazy dog and keeps running far away"
    val shifted = "PREFIX INSERTED HERE " + doc
    val Seq(a, b) = Seq(doc, shifted).toDF("t")
      .select(HashFns.winnowFingerprints($"t", 8, 4)).as[Seq[Long]].collect().toSeq
    val shared = a.toSet.intersect(b.toSet).size.toDouble / a.toSet.size
    assert(shared >= 0.8, s"shared=$shared") // only the boundary region differs
    // whole-document hashing would share nothing after the shift;
    // rolling selection keeps the common suffix's fingerprints identical
    assert(a.nonEmpty && b.toSet.size > a.toSet.size * 0.8)
  }

  test("sortedJaccard equals set-based jaccard on sorted distinct arrays") {
    val rnd = new scala.util.Random(3)
    (1 to 20).foreach { _ =>
      val a = Seq.fill(30)(rnd.nextInt(40).toString).distinct.sorted
      val b = Seq.fill(30)(rnd.nextInt(40).toString).distinct.sorted
      val got = Seq((a, b)).toDF("a", "b")
        .select(HashFns.jaccardSorted($"a", $"b")).as[Double].head()
      val exp = a.toSet.intersect(b.toSet).size.toDouble / a.toSet.union(b.toSet).size
      assert(math.abs(got - exp) < 1e-15)
    }
  }

  test("hashed shingle jaccard equals string shingle jaccard, accents included") {
    // the last two rows are the non-ASCII hazard: normalization keeps
    // é/è/ç/ê (multi-byte in UTF-8), so byte-windowed hashing would
    // shingle them differently from the codepoint-windowed string
    // kernel — equality here pins the codepoint walk
    val docs = Seq(
      ("spark makes big joins fast", "spark makes big joins very fast"),
      ("the quick brown fox", "a quick brown dog"),
      ("identical text", "identical text"),
      ("ingénieur données marché", "ingénieur de données marché"),
      ("développeur expérimenté à genève", "développeur expérimenté de genève"))
      .toDF("a", "b")
    val both = docs.select(
      HashFns.jaccardSorted(
        HashFns.sortedShingleSet($"a", 5), HashFns.sortedShingleSet($"b", 5)).as("s"),
      HashFns.jaccardSortedLong(
        HashFns.sortedShingleHashSet($"a", 5), HashFns.sortedShingleHashSet($"b", 5)).as("h"))
      .as[(Double, Double)].collect()
    both.foreach { case (s, h) => assert(s == h, s"string=$s hashed=$h") }
  }

  test("byte-packed sig match fraction tracks the exact fraction within 1/256 noise") {
    val rnd = new scala.util.Random(7)
    (1 to 20).foreach { _ =>
      val a = Seq.fill(32)(rnd.nextLong())
      // share a random subset of components
      val b = a.zipWithIndex.map { case (v, i) => if (rnd.nextBoolean()) v else rnd.nextLong() }
      val exact = a.zip(b).count { case (x, y) => x == y }.toDouble / 32
      val packed = Seq((a, b)).toDF("a", "b")
        .select(HashFns.signatureMatchFractionBytes(
          HashFns.sigBytes($"a"), HashFns.sigBytes($"b")))
        .as[Double].head()
      // packed can only OVER-estimate (byte collisions), never under
      assert(packed >= exact && packed <= exact + 8.0 / 32, s"exact=$exact packed=$packed")
    }
  }

  test("permuteM61 equals the BigInt formula DuckDB's HUGEINT % computes") {
    val M = BigInt(HashFns.M61)
    val rnd = new scala.util.Random(13)
    // random 60-bit hashes x every permutation constant, plus the edges
    val hs = Seq(0L, 1L, (1L << 60) - 1) ++ Seq.fill(200)(rnd.nextLong() >>> 4)
    for (h <- hs; j <- 0 until 32) {
      val a = HashFns.PortableA(j); val b = HashFns.PortableB(j)
      val want = ((BigInt(a) * h + b) mod M).toLong
      val got = HashFns.permuteM61(a, b, h)
      assert(got == want, s"a=$a b=$b h=$h got=$got want=$want")
    }
  }

  test("portable md5-60-bit shingle hashes equal the built-in conv(substr(md5)) route") {
    // the same value DuckDB spells ('0x'||substr(md5(s),1,15))::bigint;
    // accented text exercises the codepoint (not byte) windowing
    val docs = Seq("spark makes big joins fast", "héllo wörld événement çà",
                   "abc", "a", "répété répété répété")
    docs.foreach { d =>
      val viaExpr = Seq(d).toDF("nt").selectExpr(
        """array_sort(array_distinct(transform(
          |  sequence(1, greatest(length(nt) - 4, 1)),
          |  i -> cast(conv(substr(md5(cast(substr(nt, i, 5) as binary)), 1, 15), 16, 10) as bigint))))"""
          .stripMargin).as[Seq[Long]].head()
      val viaKernel = Seq(d).toDF("nt")
        .select(HashFns.sortedPortableShingleHashSet($"nt", 5)).as[Seq[Long]].head()
      assert(viaKernel == viaExpr, s"doc=$d kernel=$viaKernel expr=$viaExpr")
    }
  }

  test("portable minhash: identical sets match on all components; signature estimates jaccard") {
    val a = "abcdefghijklmnopqrstuvwxyz0123456789"
    val Seq(sa, sa2) = Seq(a, a).toDF("t")
      .select(HashFns.portableMinhashSig(
        HashFns.sortedPortableShingleHashSet($"t", 5), 32)).as[Seq[Long]].collect().toSeq
    assert(sa == sa2 && sa.length == 32)
    // a doc sharing roughly half its shingles should match roughly half
    // the components (σ ≈ 1/√32 ≈ 0.18 at k=32 — wide bounds)
    val b = "abcdefghijklmnopqr_ZZZZZZZZZZZZZZZZZ"
    val Seq(ha, hb) = Seq(a, b).toDF("t")
      .select(HashFns.sortedPortableShingleHashSet($"t", 5)).as[Seq[Long]].collect().toSeq
    val j = ha.toSet.intersect(hb.toSet).size.toDouble / ha.toSet.union(hb.toSet).size
    val Seq(sb) = Seq(b).toDF("t")
      .select(HashFns.portableMinhashSig(
        HashFns.sortedPortableShingleHashSet($"t", 5), 32)).as[Seq[Long]].collect().toSeq
    val est = sa.zip(sb).count { case (x, y) => x == y }.toDouble / 32
    assert(math.abs(est - j) < 0.3, s"est=$est true=$j")
    // and the integer match-count kernel agrees with the driver-side count
    val n = Seq((sa, sb)).toDF("a", "b")
      .select(HashFns.signatureMatchCount($"a", $"b")).as[Int].head()
    assert(n == sa.zip(sb).count { case (x, y) => x == y })
  }
}
