package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  // planted corpus: 0/1 exact dups (modulo punctuation), 2/3 near dups,
  // 4..9 unrelated
  private lazy val planted = Seq(
    (0L, "The quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox, jumps over the lazy dog near the river bank today!"),
    (2L, "spark engines process massive parquet datasets with columnar scans and pushdown filters enabled"),
    (3L, "spark engines process massive parquet datasets with columnar scans and pushdown predicates enabled"),
    (4L, "completely unrelated text about gardening tulips and watering schedules in spring"),
    (5L, "another document concerning medieval castle architecture and defensive moats"),
    (6L, "recipes for sourdough bread require patience starter flour water and salt"),
    (7L, "orbital mechanics of low earth satellites depend on atmospheric drag models"),
    (8L, "financial derivatives pricing uses stochastic calculus and monte carlo methods"),
    (9L, "deep learning optimizers like adam combine momentum with adaptive rates"),
  ).toDF("doc_id", "text")

  test("exact dedup groups the punctuation-variant duplicates") {
    // the d01 gate over the planted corpus: 0/1 differ only in case and
    // punctuation (one group, keeper 0); the 2/3 near-dup is NOT exact
    val dir = graft.util.Scratch.dir(spark, "exact_dedup_spec", "planted").toString
    planted.write.parquet(s"$dir/documents.parquet")
    val groups = Dedup.exactDedup(spark, dir).as[(Long, Long)].collect().toSeq
    assert(groups == Seq((0L, 2L)) ++ (2L to 9L).map(id => (id, 1L)), s"got $groups")
  }

  test("portable minhash LSH (the d03 gate) finds the planted dups, no false positives") {
    val pairs = Dedup.minHashLshPairsPortable(planted, "doc_id", "text")
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)), s"missing exact-dup pair, got $pairs")
    assert(pairs.contains((2L, 3L)), s"missing near-dup pair, got $pairs")
    assert(!pairs.exists(p => p._1 >= 4L), s"false positives: $pairs")
  }

  test("simhash flags the near-dup pair within hamming budget") {
    // the simhash64 SQL-surface kernel over normalized tokens: both
    // planted pairs sit within a 10-bit budget
    import graft.functions.{HashFns, TextFns}
    val sig = planted.select($"doc_id",
        HashFns.simhash(TextFns.tokens(TextFns.normalizeText($"text"))).as("sig"))
      .as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(sig(a) ^ sig(b))
    assert(hamming(0L, 1L) <= 10, s"(0,1) at ${hamming(0L, 1L)} bits")
    assert(hamming(2L, 3L) <= 10, s"(2,3) at ${hamming(2L, 3L)} bits")
  }

  test("portable simhash (the d04 gate) flags the planted dups within hamming budget") {
    val pairs = Dedup.simHashPairsPortable(planted, "doc_id", "text", maxHamming = 10)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)), s"got $pairs")
    assert(pairs.contains((2L, 3L)), s"got $pairs")
  }

  test("portable word-ngram jaccard (the d05 gate) finds near dups, not unrelated docs") {
    // (2,3) sits at word-3-gram jaccard ≈ 0.57 — at 4×4 banding each
    // hash family deterministically hits or misses it (≈36% hit
    // probability; XXH64 hits, this md5 family misses — the ORACLE
    // misses it identically, which is why the gate hash-matches).
    // Recall is asserted on a solidly-high-jaccard pair instead: 40
    // tokens differing in one (j ≈ 0.86, miss probability ≈ 3%,
    // deterministic for a fixed family).
    val long1 = (1 to 40).map(i => s"tok$i").mkString(" ")
    val long2 = (1 to 40).map(i => if (i == 20) "CHANGED" else s"tok$i").mkString(" ")
    val corpus = planted.union(Seq((10L, long1), (11L, long2)).toDF("doc_id", "text"))
    val pairs = Dedup.ngramJaccardPairsPortable(corpus, "doc_id", "text", n = 3, threshold = 0.4)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)), s"got $pairs")
    assert(pairs.contains((10L, 11L)), s"got $pairs")
    assert(!pairs.exists(p => Set(4L, 5L, 6L, 7L, 8L, 9L).contains(p._1)), s"false positives: $pairs")
  }

  test("portable embedding near-dup (the d06 gate) finds planted almost-parallel vectors") {
    val rnd = new scala.util.Random(23)
    def v(): Array[Float] = Array.fill(64)(rnd.nextFloat() * 2 - 1)
    val base = v()
    val near = base.map(x => x + 0.01f * (rnd.nextFloat() - 0.5f))
    val rows = Seq((0L, base.toSeq), (1L, near.toSeq)) ++
      (2L until 40L).map(i => (i, v().toSeq))
    val emb = rows.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast(ArrayType(FloatType)).as("embedding"))
    val pairs = Dedup.embeddingNearDupPairsPortable(emb, "vec_id", "embedding",
      dim = 64, threshold = 0.95)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)), s"got $pairs")
  }

  test("embedding near-dup finds planted almost-parallel vectors") {
    // the d06 kernel at a non-default width (32 dims)
    val rnd = new scala.util.Random(11)
    def v(): Array[Float] = Array.fill(32)(rnd.nextFloat() * 2 - 1)
    val base = v()
    val near = base.map(x => x + 0.01f * (rnd.nextFloat() - 0.5f))
    val rows = Seq((0L, base.toSeq), (1L, near.toSeq)) ++
      (2L until 40L).map(i => (i, v().toSeq))
    val emb = rows.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast(ArrayType(FloatType)).as("embedding"))
    val pairs = Dedup.embeddingNearDupPairsPortable(emb, "vec_id", "embedding",
      dim = 32, threshold = 0.95)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)), s"got $pairs")
  }

  test("dupClusters collapses transitive chains to one cluster root") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val clusters = Dedup.dupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(clusters(_) == 1L)) // chain collapses
    assert(clusters(10L) == 10L && clusters(11L) == 10L)  // separate cluster
  }

  test("distributed label propagation agrees with driver union-find") {
    val rnd = new scala.util.Random(5)
    val pairs = (1 to 60).map(_ => (rnd.nextInt(30).toLong, 30L + rnd.nextInt(30)))
      .toDF("doc_a", "doc_b")
    val local = Dedup.dupClusters(pairs).as[(Long, Long)].collect().toMap
    val dist = Dedup.dupClusters(pairs, localLimit = 0L) // force iterative path
      .as[(Long, Long)].collect().toMap
    assert(local == dist && local.nonEmpty)
  }

  test("d10 gate entry: cluster labels are component minima over the exact pairs") {
    val pairs = Dedup.jaccardExactPairs(spark, sf)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    val labels = Dedup.dupClustersQuery(spark, sf)
      .as[(Long, Long)].collect().toMap
    // every endpoint of a pair is labeled, label ≤ id, label is in the map
    pairs.foreach { case (a, b) =>
      assert(labels.contains(a) && labels.contains(b))
      assert(labels(a) == labels(b), s"pair ($a,$b) split across clusters")
    }
    labels.foreach { case (id, c) =>
      assert(c <= id && labels(c) == c, s"label $c of $id is not a root")
    }
  }

  test("fingerprint dedup counts match exact dedup on the fixture corpus") {
    val a = Dedup.exactDedup(spark, sf).count()
    val b = Dedup.fingerprintDedup(spark, sf).count()
    assert(a == b)
  }

  test("exact jaccard pairs are a superset of LSH pairs at the same threshold") {
    // d08 is the ground truth d03 approximates: every LSH-verified pair
    // within the id slice must appear in the exact pair set, with the
    // identical jaccard value (same shingling, same normalize chain)
    val exact = Dedup.jaccardExactPairs(spark, sf, maxId = 300L, threshold = 0.6)
      .select($"doc_a", $"doc_b", $"jaccard")
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    val lsh = Dedup.minHashLshPairsPortable(
        graft.Tables.documents(spark, sf).filter($"doc_id" < 300), "doc_id", "text",
        threshold = 0.6)
      .select($"doc_a", $"doc_b", $"jaccard")
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(lsh.nonEmpty, "fixture should contain planted near-dups under id 300")
    lsh.foreach { case (pair, j) =>
      assert(exact.get(pair).contains(j), s"pair $pair: exact=${exact.get(pair)} lsh=$j")
    }
  }

  // d13: a 50-char block shared verbatim by docs 100/101 mid-text,
  // absent everywhere else
  private lazy val spanPlanted = {
    val shared = "XPQZ shared verbatim block of exactly fifty chars!"
    Seq(
      (100L, s"left context before the stolen text $shared and some trailing words here"),
      (101L, s"totally different opening sentence00 $shared then a different ending too"),
      (102L, "an unrelated document long enough to emit several spans of its own making"),
      (103L, "short"),
    ).toDF("doc_id", "text")
  }

  test("d13 substring spans: cross-doc duplicated span found, none elsewhere") {
    val dups = Dedup.substringDupSpans(spanPlanted, "doc_id", "text",
        k = 40, stride = 1, minDocs = 2)
      .select($"span", $"n_docs", $"n_occ").as[(String, Long, Long)].collect()
    assert(dups.nonEmpty, "the planted shared block must surface")
    // every surviving span sits inside the shared region (the planted
    // block plus the space on each side, also common to both docs);
    // stride=1 must catch ALL its k-windows
    val shared = " XPQZ shared verbatim block of exactly fifty chars! "
    assert(dups.forall(d => shared.contains(d._1)), dups.mkString(", "))
    assert(dups.length == shared.length - 40 + 1, s"got ${dups.length} spans")
    assert(dups.forall(d => d._2 == 2L && d._3 == 2L))
  }

  test("d13 hashed variant agrees with the raw variant span-for-span") {
    val raw = Dedup.substringDupSpans(spanPlanted, "doc_id", "text",
        k = 40, stride = 1, minDocs = 2)
      .select(xxhash64($"span"), $"n_docs", $"n_occ")
      .as[(Long, Long, Long)].collect().toSet
    val hashed = Dedup.substringDupSpansHashed(spanPlanted, "doc_id", "text",
        k = 40, stride = 1, minDocs = 2)
      .select($"span_hash", $"n_docs", $"n_occ")
      .as[(Long, Long, Long)].collect().toSet
    assert(raw == hashed)
  }

  test("d15 coverage: dup windows only in the two docs sharing the block") {
    val cov = Dedup.substringDupCoverage(spanPlanted, "doc_id", "text",
        k = 40, stride = 1, minDocs = 2)
      .select($"doc_id", $"n_windows", $"n_dup_windows", $"dup_frac")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(cov(100L)._3 > 0L && cov(101L)._3 > 0L)
    assert(cov(102L)._3 == 0L && cov(102L)._4 == 0.0)
    assert(!cov.contains(103L), "sub-window doc emits no windows at all")
    cov.values.foreach { c =>
      assert(c._3 <= c._2 && c._4 == c._3.toDouble / c._2)
    }
  }

  test("d13 skips documents shorter than the window without erroring") {
    val only = Dedup.substringDupSpans(
      Seq((1L, "tiny"), (2L, "tiny")).toDF("doc_id", "text"),
      "doc_id", "text", k = 40, stride = 1, minDocs = 2)
    assert(only.count() == 0L)
  }

  test("d14 fuzzy prefix pairs: same-block titles within edit budget only") {
    val docs = Seq(
      (1L, "Breaking news: markets rally on rate cut hopes amid strong earnings"),
      (2L, "Breaking news: markets rally on rate cut hopes amid robust earnings"), // few edits
      (3L, "Breaking news: completely different story about a local bake sale!!"),  // same block, far
      (4L, "Different prefix entirely, so never even a candidate for pairing"),
    ).toDF("doc_id", "text")
    val pairs = Dedup.fuzzyPrefixPairs(docs, "doc_id", "text",
        blockLen = 10, titleLen = 60, maxDist = 8)
      .select($"doc_a", $"doc_b", $"dist").as[(Long, Long, Long)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)), pairs.mkString(", "))
    assert(pairs.head._3 > 0L && pairs.head._3 <= 8L)
  }

  test("d14 gate query finds the fixture's planted near-dup titles") {
    val pairs = Dedup.fuzzyTitleDedup(spark, sf)
    assert(pairs.count() > 0)
    // blocking is sound: every pair shares the 10-char prefix
    val docs = graft.Tables.documents(spark, sf)
      .select($"doc_id", substring($"text", 1, 10).as("p"))
    val bad = pairs
      .join(docs.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("p", "pa"), "doc_a")
      .join(docs.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("p", "pb"), "doc_b")
      .filter($"pa" =!= $"pb")
    assert(bad.count() == 0L)
  }

  test("d17 semantic dedup: greedy sweep matches brute force on a planted corpus") {
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    // 10 well-separated base directions + near-copies (tiny deterministic
    // noise → cos ≈ 1 to their base); nCells = 1 removes the clustering
    // variable so the integer sweep itself is what's under test
    val rnd = new scala.util.Random(11)
    val bases = Array.fill(10)(Array.fill(32)(rnd.nextFloat() * 2 - 1))
    val rows: Seq[(Long, Seq[Float])] =
      bases.zipWithIndex.flatMap { case (b, i) =>
        val copies = (1 to (i % 3)).map { c =>
          ((i * 10 + c).toLong, b.map(x => x + 0.001f * c).toSeq)
        }
        ((i * 10).toLong, b.toSeq) +: copies
      }.toSeq
    val df = rows.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast(ArrayType(FloatType)).as("embedding"))
    val tau = (0.95 * (1L << 40)).toLong // integer image of cos ≥ 0.95
    val kept = Dedup.semanticDedupPortable(df, "vec_id", "embedding",
        tauInt = tau, nCells = 1)
      .select($"vec_id").as[Long].collect().toSet
    // brute-force reference: the same greedy, driver side, over the
    // kernel's quantization contract (sequential double norm,
    // float-cast normalized components, floor(x·2^20), integer dots)
    def qn(v: Seq[Float]): Array[Long] = {
      val n = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
      v.map(x => math.floor((x.toDouble / n).toFloat.toDouble * 1048576L).toLong).toArray
    }
    def idot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    val expected = rows.sortBy(_._1).foldLeft(Vector.empty[(Long, Array[Long])]) {
      case (acc, (id, v)) =>
        val q = qn(v)
        if (acc.exists { case (_, kq) => idot(kq, q) >= tau }) acc else acc :+ ((id, q))
    }.map(_._1).toSet
    assert(kept == expected)
    // every base survives, every near-copy is pruned
    assert(bases.indices.forall(i => kept.contains(i * 10L)))
    assert(kept.size == 10)
  }

  test("d17 tolerates zero-norm vectors in the corpus") {
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    // a zero vector has no direction: integer Lloyd trains over it like
    // any other row, normalization passes it through raw (the oracles'
    // zero-norm guard), and its integer dot to every vector is 0 — so
    // the sweep keeps it as its own representative
    val rows: Seq[(Long, Seq[Float])] =
      (0 until 30).map { i =>
        val base = Array.fill(16)(0f)
        base(i % 4) = 1f + 0.01f * i // 4 clear directions
        (i.toLong, base.toSeq)
      } :+ ((99L, Seq.fill(16)(0f)))
    val df = rows.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast(ArrayType(FloatType)).as("embedding"))
    val kept = Dedup.semanticDedupPortable(df, "vec_id", "embedding", nCells = 2)
      .select($"vec_id").as[Long].collect().toSet
    assert(kept.contains(99L)) // zero vector survives (similarity 0 to everything)
    assert(kept.nonEmpty && kept.size < rows.size) // and the sweep still prunes
  }

  test("d18 canonicalizeUrl collapses every planted URL variance class") {
    // all four spellings differ only in canonicalization hazards:
    // scheme/host case, WWW., :443, trailing slash, tracking params,
    // fragment — one canonical form must survive
    val urls = Seq(
      "HTTPS://WWW.Site.Example.COM:443/docs/3/?utm_source=feed&page=1&ref=rss#frag",
      "https://site.example.com/docs/3?page=1",
      "https://www.site.example.com/docs/3/?page=1&utm_campaign=x",
      "https://site.example.com:443/docs/3?utm_medium=a&page=1").toDF("url")
    val got = urls.select(Dedup.canonicalizeUrl($"url")).as[String].collect().toSet
    assert(got == Set("https://site.example.com/docs/3?page=1"), got.toString)
    // param ORDER is not identity: kept params are sorted
    val multi = Seq("https://h.com/p?b=2&a=1", "https://h.com/p?a=1&b=2").toDF("url")
    val canon = multi.select(Dedup.canonicalizeUrl($"url")).as[String].collect().toSet
    assert(canon == Set("https://h.com/p?a=1&b=2"), canon.toString)
    // queryless (or all-tracking) URLs carry no '?'
    val bare = Seq("https://www.h.com/p/#x", "https://h.com/p?utm_only=1")
      .toDF("url")
    assert(bare.select(Dedup.canonicalizeUrl($"url")).as[String].collect().toSet
      == Set("https://h.com/p"))
  }

  test("d18 gate query: every group's keeper is its minimum doc_id") {
    val got = Dedup.urlDedup(spark, sf)
    assert(got.count() > 0)
    // keeper invariant + variant counts sum back to the corpus size
    import org.apache.spark.sql.functions.sum
    val total = got.agg(sum($"n_variants")).as[Long].head()
    assert(total == graft.Tables.documents(spark, sf).count())
  }

  test("d19 paragraph dedup keeps first occurrences and reassembles docs") {
    val docs = Seq(
      (1L, "a b c d e f"),  // both chunks first occurrences
      (2L, "a b c x y z"),  // chunk "a b c" already seen in doc 1
      (3L, "a b c d e f"),  // every chunk seen → survives with empty text
      (4L, "p q r s"),      // short tail chunk "s" kept
      (5L, "m m m m m m")   // WITHIN-doc dup: pos-1 chunk dropped too
    ).toDF("doc_id", "text")
    val got = Dedup.paragraphDedupDocs(docs, "doc_id", "text", words = 3)
      .orderBy($"doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 2L, "a b c d e f"),
      (2L, 2L, 1L, "x y z"),
      (3L, 2L, 0L, ""),
      (4L, 2L, 2L, "p q r s"),
      (5L, 2L, 1L, "m m m")))
  }

  test("d19 hashed (100 TB) variant agrees with the text variant chunk-for-chunk") {
    val docs = graft.Tables.documents(spark, sf)
    val a = Dedup.paragraphDedupDocs(docs, "doc_id", "text")
      .orderBy($"doc_id").as[(Long, Long, Long, String)].collect().toSeq
    val b = Dedup.paragraphDedupDocsHashed(docs, "doc_id", "text")
      .orderBy($"doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(a == b)
  }

  test("d19 gate query invariants: kept chunks = distinct chunks, rows = docs") {
    val docs = graft.Tables.documents(spark, sf)
    val got = Dedup.paragraphDedup(spark, sf)
    assert(got.count() == docs.count()) // no silent row loss
    // keep-first means every distinct chunk survives exactly once
    import org.apache.spark.sql.functions.{sum => fsum}
    val keptTotal = got.agg(fsum($"n_kept")).as[Long].head()
    val distinctChunks = docs.select(
      explode(transform(
        sequence(lit(0),
          ceil(size(split($"text", " ")).cast("double") / 10).cast("int") - 1),
        i => array_join(slice(split($"text", " "), i * 10 + 1, lit(10)), " ")))
        .as("chunk"))
      .select($"chunk").distinct().count()
    assert(keptTotal == distinctChunks)
  }

  test("d17 portable: deterministic; integer sweep sound AND complete within every cell") {
    val emb = graft.Tables.embeddings(spark, sf)
    val a = Dedup.semanticDedupPortableGate(spark, sf)
      .as[(Long, Int)].collect().toSeq
    val b = Dedup.semanticDedupPortableGate(spark, sf)
      .as[(Long, Int)].collect().toSeq
    assert(a == b, "portable SemDeDup must be run-to-run deterministic")
    assert(a.nonEmpty && a.size < emb.count())
    // the kernel's quantization contract, replicated driver-side
    def qn(v: Seq[Float]): Array[Long] = {
      val n = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
      v.map(x => math.floor((x.toDouble / n).toFloat.toDouble * 1048576L).toLong).toArray
    }
    def idot(x: Array[Long], y: Array[Long]): Long =
      x.zip(y).map { case (p, q) => p * q }.sum
    val vecs = emb.select($"vec_id", $"embedding").as[(Long, Seq[Float])]
      .collect().toMap.view.mapValues(qn).toMap
    val keptByCell = a.groupBy(_._2).view.mapValues(_.map(_._1).sorted).toMap
    // soundness: no two survivors of a cell are >= tau-similar
    keptByCell.values.foreach { ids =>
      for (i <- ids; j <- ids if i < j)
        assert(idot(vecs(i), vecs(j)) < Dedup.semanticTauInt, s"kept pair $i,$j too close")
    }
    // completeness: every dropped id has a kept SMALLER same-cell id
    // within tau (otherwise the sweep would have kept it)
    val keptSet = a.map(_._1).toSet
    val cellOf = a.map(t => (t._1, t._2)).toMap
    // recompute each id's cell from the kept rows' cells via the gate's
    // own assignment: drop ids aren't in the output, so re-derive from
    // the operator's building blocks
    val cellsDf = {
      val trainSet = graft.operators.Similarity.quantized(emb, "vec_id", "embedding")
      val cents = graft.operators.Similarity.trainCentroidsFixedPoint(
        trainSet, "vec_id", graft.operators.Similarity.ivfKmeansCells,
        graft.operators.Similarity.ivfKmeansIters)
      graft.operators.Similarity.assignCellsFixedPoint(emb, "vec_id", "embedding", cents)
        .select($"neighbor_id".cast("long"), $"cell").as[(Long, Int)].collect()
    }
    // kept rows must agree with the recomputed assignment
    cellsDf.filter(t => keptSet.contains(t._1)).foreach { case (id, c) =>
      assert(cellOf(id) == c, s"cell drift for kept id $id")
    }
    cellsDf.filter(t => !keptSet.contains(t._1)).foreach { case (id, c) =>
      val blockers = keptByCell(c).filter(k => k < id && idot(vecs(k), vecs(id)) >= Dedup.semanticTauInt)
      assert(blockers.nonEmpty, s"dropped id $id has no kept blocker in cell $c")
    }
  }

  test("d21 incremental dedup against the stored index equals a full rebuild") {
    import graft.functions.TextFns
    val sf = "/root/testdata/sf0.001"
    val got = Dedup.incrementalDedup(spark, sf).collect().toSeq
    // rebuild from scratch: full-corpus groups; keep delta-side keepers
    // whose group contains no base doc
    val split = Dedup.incrementalSplit
    val full = graft.Tables.documents(spark, sf)
      .groupBy(TextFns.fingerprintMd5($"text").as("fp"))
      .agg(min($"doc_id").as("keeper_id"),
        sum(when($"doc_id" >= split, 1L).otherwise(0L)).as("n_delta"),
        sum(when($"doc_id" < split, 1L).otherwise(0L)).as("n_base"))
      .filter($"n_base" === 0 && $"keeper_id" >= split)
      .select($"keeper_id", $"n_delta".as("n_copies"))
      .orderBy($"keeper_id")
      .collect().toSeq
    assert(got == full)
    assert(got.nonEmpty)
  }

  test("d22 prefix-filtered set-similarity join equals brute force, exactly") {
    // planted corpus: the filter must keep (0,1) and (2,3) and nothing
    // else — and more fundamentally, must EQUAL the all-pairs scan
    val gotPlanted = Dedup.setSimJoinPrefix(planted, "doc_id", "text")
      .collect().toSeq
    val naivePlanted = Dedup.setSimJoinNaive(planted, "doc_id", "text")
      .collect().toSeq
    assert(gotPlanted == naivePlanted)
    assert(gotPlanted.map(r => (r.getLong(0), r.getLong(1))).toSet
      .contains((0L, 1L)))
    // fixture corpus: completeness at realistic density
    val docs = graft.Tables.documents(spark, sf)
    val got = Dedup.setSimJoinPrefix(docs, "doc_id", "text").collect().toSeq
    val naive = Dedup.setSimJoinNaive(docs, "doc_id", "text").collect().toSeq
    assert(got == naive)
    assert(got.nonEmpty, "fixture has planted near-dups; d22 must find them")
  }

  test("d23 one-sided-prefix containment join equals brute force, exactly") {
    // planted asymmetric case: doc 10 is a SNIPPET of doc 11 — high
    // containment 10→11, low jaccard (11 is much larger), so d22's
    // symmetric gate cannot see it but d23 must
    // 17 tokens → 16 shingle windows; only the end-clipped window can
    // miss in the host, so containment = 15/16 ≥ 0.9 by construction
    val snippet = "the committee approved the annual budget for renewable " +
      "energy research with unanimous support from all regional delegates"
    val host = snippet + " after extensive deliberation spanning several " +
      "sessions the members debated infrastructure allocations tax incentives " +
      "municipal bonds and long term sustainability commitments across regions"
    import spark.implicits._
    val asym = planted.unionByName(
      Seq((10L, snippet), (11L, host)).toDF("doc_id", "text"))
    val got = Dedup.containmentJoinPrefix(asym, "doc_id", "text").collect().toSeq
    val naive = Dedup.containmentJoinNaive(asym, "doc_id", "text").collect().toSeq
    assert(got == naive)
    assert(got.map(r => (r.getLong(0), r.getLong(1))).contains((10L, 11L)),
      s"snippet-in-host containment missed: $got")
    // fixture corpus completeness
    val docs = graft.Tables.documents(spark, sf)
    val gotF = Dedup.containmentJoinPrefix(docs, "doc_id", "text").collect().toSeq
    val naiveF = Dedup.containmentJoinNaive(docs, "doc_id", "text").collect().toSeq
    assert(gotF == naiveF)
    assert(gotF.nonEmpty)
  }

  test("d24 cluster-weighted sample: singletons kept, acceptance rule exact, deterministic") {
    val kept = Dedup.clusterWeightedSample(spark, sf).collect().toSeq
    val keptIds = kept.map(_.getLong(0)).toSet
    // reconstruct units independently: cluster-or-self over the same
    // d10 clusters, then re-derive the md5-60-bit acceptance per doc
    val clusters = Dedup.dupClusters(Dedup.jaccardExactPairs(spark, sf))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val allIds = graft.Tables.documents(spark, sf)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    val unitOf = allIds.map(id => id -> clusters.getOrElse(id, id)).toMap
    val sizeOf = unitOf.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    def h60(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        md.take(8).map(b => f"$b%02x").mkString.substring(0, 15), 16)
    }
    val expected = allIds.filter { id =>
      h60(id) < (1152921504606846976L / sizeOf(unitOf(id)))
    }.toSet
    assert(keptIds == expected, "acceptance rule must be the exact hash threshold")
    // singletons (no near-dup partner) are always kept: h < 2^60 always
    val singletons = allIds.filterNot(clusters.contains).toSet
    assert(singletons.subsetOf(keptIds), "every singleton must survive")
    // per-row metadata agrees with the reconstruction
    kept.foreach { r =>
      assert(r.getLong(1) == unitOf(r.getLong(0)))
      assert(r.getLong(2) == sizeOf(r.getLong(1)))
    }
    // determinism: a second run is row-identical
    val again = Dedup.clusterWeightedSample(spark, sf).collect().toSeq
    assert(kept == again)
  }

  test("d27 LSH-path sample: units consistent with LSH pairs, acceptance rule exact") {
    val kept = Dedup.clusterWeightedSampleLsh(spark, sf).collect().toSeq
    // units must be consistent with the LSH edge set: every LSH
    // near-dup pair shares a unit, and each unit id is the minimum
    // doc_id of its member set (the dupClusters contract)
    val pairs = Dedup.minHashDedupPortable(spark, sf)
      .select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val unitOf = kept.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // kept is a SAMPLE — check pair-unit agreement only where both
    // endpoints survived (the full assignment is the d10-gated chain)
    pairs.foreach { case (a, b) =>
      (unitOf.get(a), unitOf.get(b)) match {
        case (Some(ua), Some(ub)) =>
          assert(ua == ub, s"surviving LSH pair ($a,$b) split across units $ua/$ub")
        case _ => ()
      }
    }
    kept.foreach { r =>
      assert(r.getLong(1) <= r.getLong(0), "unit id is the component minimum")
      assert(r.getLong(2) >= 1L)
    }
    // the acceptance rule is the same md5-60-bit threshold as d24
    def h60(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        md.take(8).map(b => f"$b%02x").mkString.substring(0, 15), 16)
    }
    kept.foreach { r =>
      assert(h60(r.getLong(0)) < 1152921504606846976L / r.getLong(2),
        s"kept row ${r.getLong(0)} fails its own acceptance threshold")
    }
    // determinism: a second run is row-identical
    assert(kept == Dedup.clusterWeightedSampleLsh(spark, sf).collect().toSeq)
  }

  test("d26 dedup recall audit: rows match a recompute from the constituent gates; floors gate") {
    import org.apache.spark.sql.functions._
    val rows = Dedup.dedupRecallAudit(spark, sf)
      .as[(String, Long, Long)].collect().toSeq
    // recompute each method's slice recall from the same frames
    val exact = Dedup.jaccardExactPairs(spark, sf)
      .filter($"jaccard" >= 0.6).select($"doc_a", $"doc_b")
      .as[(Long, Long)].collect().toSet
    val floors = Dedup.dedupRecallFloors.toMap
    val expected = Seq(
      "d03_minhash_lsh" -> Dedup.minHashDedupPortable(spark, sf),
      "d04_simhash" -> Dedup.simHashDedupPortable(spark, sf),
      "d05_ngram_jaccard" -> Dedup.ngramJaccardDedupPortable(spark, sf))
      .map { case (n, df) =>
        val got = df.filter($"doc_a" < 250 && $"doc_b" < 250)
          .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
        val recall = if (exact.isEmpty) 0L
          else (exact intersect got).size.toLong * 100L / exact.size
        (n, recall, floors(n))
      }
      .filter { case (_, r, f) => r >= f }
    // the sentinel (anchor pair count at floor 0) keeps the gate
    // non-empty even where every method row vanishes below floor
    val expectedAll =
      (("anchor_pairs", exact.size.toLong, 0L) +: expected).sortBy(_._1)
    assert(rows == expectedAll, s"audit diverges: $rows vs $expectedAll")
    // the anchor must be non-degenerate and the primary jaccard
    // methods must be present (they share the anchor's similarity
    // notion — if either vanished, calibration collapsed)
    assert(exact.nonEmpty)
    assert(rows.map(_._1).toSet.intersect(
      Set("d03_minhash_lsh", "d05_ngram_jaccard")).size == 2)
  }

  test("hot-bucket guard: 500-doc near-identical cluster — width bounded, pairs preserved") {
    import graft.functions.{HashFns, TextFns}
    // adversarial low-entropy density: one boilerplate body with a
    // ≤2-char tail → every band key collapses to a handful of ~500-wide
    // buckets, the LSH skew case that is O(bucket²) in one task without
    // the guard and invisible at normal fixture density
    val body = "the same boilerplate legal disclaimer repeated on every page of this crawl shard " * 3
    val docs = (0 until 500).map(i => (i.toLong, body + ("x" * (i % 3))))
      .toDF("doc_id", "text")

    // the guard fires (g > 1) and bounds every join-side cell width:
    // the hash split (xxhash64(id) mod g — type-agnostic, see the
    // guard doc) balances binomially, so cell width concentrates at
    // bsz/g ≤ maxBucket; 2× covers the toy-threshold tail here (at
    // the production default 10000 the deviation is a few %)
    val maxBucket = 25
    val hashed = docs.select($"doc_id".as("id"),
        HashFns.sortedPortableShingleHashSet(
          TextFns.normalizeText($"text"), 5).as("hs"))
      .withColumn("sig", HashFns.portableMinhashSig($"hs", 32))
    val cells = Dedup.hotBucketCells(
      Dedup.portableBanded(hashed, bands = 8, rows = 4), maxBucket)
    assert(cells.agg(max($"g")).as[Int].head > 1, "guard must fire on this density")
    val maxWidth = cells.groupBy($"band", $"bkey", $"gid")
      .count().agg(max($"count")).as[Long].head
    assert(maxWidth <= 2L * maxBucket,
      s"cell width $maxWidth exceeds the ${2 * maxBucket} binomial bound")

    // and it is semantics-preserving WHILE firing: the pair set equals
    // the unguarded (g=1 everywhere) run exactly, jaccards included
    val guarded = Dedup.minHashLshPairsPortable(
        docs, "doc_id", "text", maxBucket = maxBucket)
      .as[(Long, Long, Double)].collect().toSeq
    val unguarded = Dedup.minHashLshPairsPortable(
        docs, "doc_id", "text", maxBucket = 1000000)
      .as[(Long, Long, Double)].collect().toSeq
    assert(guarded.nonEmpty, "planted near-identical cluster must yield pairs")
    assert(guarded == unguarded, "guard must not add, drop, or reorder pairs")
  }

  test("hot-bucket guard: STRING ids through a hot bucket — no silent pair loss") {
    // regression for the type hole a raw `id mod g` split key would
    // open: the public chains accept arbitrary idCol, and a string id
    // implicit-cast to null gid would drop every pair in a
    // wider-than-maxBucket bucket — exactly the at-scale condition
    // the guard exists for, invisible on int64 fixtures. The
    // xxhash64-based split key must keep the guarded run identical to
    // the unguarded one on string-keyed docs too.
    val body = "the same boilerplate legal disclaimer repeated on every page of this crawl shard " * 3
    val docs = (0 until 300).map(i => (f"crawl/shard-7/doc-$i%04d", body + ("x" * (i % 3))))
      .toDF("doc_id", "text")
    val guarded = Dedup.minHashLshPairsPortable(
        docs, "doc_id", "text", maxBucket = 25)
      .as[(String, String, Double)].collect().toSeq.sorted
    val unguarded = Dedup.minHashLshPairsPortable(
        docs, "doc_id", "text", maxBucket = 1000000)
      .as[(String, String, Double)].collect().toSeq.sorted
    assert(guarded.nonEmpty, "planted cluster must yield pairs under string ids")
    assert(guarded == unguarded,
      "string-id hot bucket must survive the guard pair-for-pair")
  }

  test("two-sided guard: hot index bucket — detect pairs preserved, size lookup honored") {
    // the s19/p06 ingest probe with a degenerate HISTORICAL corpus:
    // every index bucket ≫ maxBucket, the delta small. The two-sided
    // grid (gl×gr cells, index side sized from the PERSISTED lookup)
    // must emit exactly the unguarded join's pairs — and the
    // incremental size table maintained across an append must keep a
    // SECOND delta's detection identical too (stale sizes only widen
    // tasks, but a WRONG size table that dropped keys would lose pairs)
    val body = "the same boilerplate legal disclaimer repeated on every page of this crawl shard " * 3
    val docs = (0 until 300).map(i => (i.toLong, body + ("x" * (i % 3))))
      .toDF("doc_id", "text")
    val idxDir = tempDir("graft_twoguard_idx")
    try {
      Dedup.buildLshIndex(docs.filter($"doc_id" < 200), "doc_id", "text",
        idxDir.toString)
      val delta1 = docs.filter($"doc_id" >= 200 && $"doc_id" < 250)
      val g1 = Dedup.detectDeltaPairs(delta1, "doc_id", "text",
          idxDir.toString, maxBucket = 25)
        .as[(Long, Long, Double)].collect().toSeq.sorted
      val u1 = Dedup.detectDeltaPairs(delta1, "doc_id", "text",
          idxDir.toString, maxBucket = 1000000)
        .as[(Long, Long, Double)].collect().toSeq.sorted
      assert(g1.nonEmpty, "planted hot index bucket must yield pairs")
      assert(g1 == u1, "two-sided guard must not add, drop, or reorder pairs")
      // append delta1 (maintains bands + the size table), then detect a
      // second delta against the grown index — guarded ≡ unguarded again
      val outDir = tempDir("graft_twoguard_out")
      try {
        Dedup.appendLshDetect(delta1, "doc_id", "text", idxDir.toString,
          outDir.toString)
        // the size partials must sum to a fresh aggregation of the bands
        val sizes = spark.read.parquet(
            graft.util.GenManifest.tablePath(spark, idxDir.toString, "sizes"))
          .groupBy($"band", $"bkey").agg(sum($"bsz").as("bsz"))
          .as[(Int, String, Long)].collect().toSet
        val fresh = spark.read.parquet(
            graft.util.GenManifest.tablePath(spark, idxDir.toString, "bands"))
          .groupBy($"band", $"bkey").count()
          .as[(Int, String, Long)].collect().toSet
        assert(sizes == fresh, "incremental size table diverged from the bands")
        val delta2 = docs.filter($"doc_id" >= 250)
        val g2 = Dedup.detectDeltaPairs(delta2, "doc_id", "text",
            idxDir.toString, maxBucket = 25)
          .as[(Long, Long, Double)].collect().toSeq.sorted
        val u2 = Dedup.detectDeltaPairs(delta2, "doc_id", "text",
            idxDir.toString, maxBucket = 1000000)
          .as[(Long, Long, Double)].collect().toSeq.sorted
        assert(g2 == u2, "post-append detection must stay guard-invariant")
      } finally graft.util.Scratch.rmTree(outDir)
    } finally graft.util.Scratch.rmTree(idxDir)
  }

  test("index lifecycle: compaction preserves detection, folds tombstones, reclaims files") {
    // near-dup corpus with real cross-increment pairs: 3-doc clusters
    // (i, i+100, i+200 share a body), history = [0,100) ∪ [100,200)
    // appended, delta = [200,300) probed
    val bodies = (0 until 100).map(i =>
      s"document body number $i with enough distinct words to shingle properly " +
        s"and a cluster-specific tail ${i * 37} ${i * 91} shared by all three copies")
    val docs = (0 until 300).map { i =>
      (i.toLong, bodies(i % 100) + (if (i >= 200) " delta!" else ""))
    }.toDF("doc_id", "text")
    val idxDir = tempDir("graft_lifecycle_spec")
    val outDir = tempDir("graft_lifecycle_out")
    try {
      Dedup.buildLshIndex(docs.filter($"doc_id" < 100), "doc_id", "text",
        idxDir.toString)
      Dedup.appendLshDetect(docs.filter($"doc_id" >= 100 && $"doc_id" < 200),
        "doc_id", "text", idxDir.toString, outDir.toString)
      val delta = docs.filter($"doc_id" >= 200)
      def detect(): Seq[(Long, Long, Double)] =
        Dedup.detectDeltaPairs(delta, "doc_id", "text", idxDir.toString)
          .as[(Long, Long, Double)].collect().toSeq.sorted
      val before = detect()
      assert(before.nonEmpty, "planted clusters must detect cross-increment pairs")

      // live tombstone: retiring doc 0 removes exactly doc 0's pairs,
      // immediately (no compaction yet)
      Dedup.tombstoneLshDocs(Seq(0L).toDF("id"), idxDir.toString)
      val afterTomb = detect()
      assert(afterTomb == before.filterNot(p => p._1 == 0L || p._2 == 0L),
        "live tombstone must remove exactly the retired doc's pairs")

      // compaction: folds the tombstone physically, merges size
      // partials, coalesces appended files — detection unchanged
      def tablePath(t: String): String =
        graft.util.GenManifest.tablePath(spark, idxDir.toString, t)
      def sizeFiles(): Int = new java.io.File(tablePath("sizes")).listFiles()
        .count(_.getName.endsWith(".parquet"))
      val sizeFilesBefore = sizeFiles()
      Dedup.compactLshIndex(spark, idxDir.toString, targetFiles = 2)
      assert(detect() == afterTomb, "compaction must not change detection")
      assert(!graft.util.GenManifest.required(spark, idxDir.toString)
          .tables.contains("tombstones"),
        "compaction must fold the tombstone ledger out of the manifest")
      assert(spark.read.parquet(tablePath("hashes")).filter($"id" === 0L).isEmpty &&
        spark.read.parquet(tablePath("bands")).filter($"id" === 0L).isEmpty,
        "compaction must physically drop tombstoned rows")
      val sizeFilesAfter = sizeFiles()
      assert(sizeFilesAfter < sizeFilesBefore && sizeFilesAfter <= 2,
        s"size partials must merge: $sizeFilesBefore -> $sizeFilesAfter")
      // the compacted sizes are LIVE counts (tombstone folded out)
      val sizesSum = spark.read.parquet(tablePath("sizes"))
        .agg(sum($"bsz")).head().getLong(0)
      val bandRows = spark.read.parquet(tablePath("bands")).count()
      assert(sizesSum == bandRows, "compacted sizes must equal live band rows")

      // the appended lifecycle continues on the compacted index
      Dedup.appendLshDetect(delta, "doc_id", "text", idxDir.toString,
        outDir.toString)
      val drained = spark.read.parquet(outDir.toString)
        .dropDuplicates("doc_a", "doc_b")
        .as[(Long, Long, Double)].collect().toSeq.sorted
      assert(drained.filter(_._2 >= 200) == afterTomb,
        "post-compaction append must drain the probe's pairs")

      // VERSIONED re-ingest: takedown doc 1, its pairs vanish; then
      // re-ingest doc 1 through the append path — the new rows carry a
      // batch number past the tombstone watermark, so they are visible
      // with NO resurrect bookkeeping, and a subsequent compaction
      // keeps them (the r13 silent-erasure case: tombstone → re-append
      // → compact must not lose a live doc)
      def detectSet(): Set[(Long, Long)] =
        Dedup.detectDeltaPairs(delta, "doc_id", "text", idxDir.toString)
          .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
      val withDoc1 = detectSet()
      assert(withDoc1.exists(p => p._1 == 1L || p._2 == 1L),
        "fixture must pair doc 1 across the split")
      Dedup.tombstoneLshDocs(Seq(1L).toDF("id"), idxDir.toString)
      assert(detectSet() == withDoc1.filterNot(p => p._1 == 1L || p._2 == 1L),
        "takedown must hide exactly doc 1's pairs")
      Dedup.appendLshDetect(docs.filter($"doc_id" === 1L), "doc_id", "text",
        idxDir.toString, outDir.toString)
      assert(detectSet() == withDoc1,
        "re-ingesting a tombstoned id must resurrect it")
      Dedup.compactLshIndex(spark, idxDir.toString, targetFiles = 2)
      assert(detectSet() == withDoc1,
        "compaction after a resurrect must not erase the live doc")
    } finally {
      graft.util.Scratch.rmTree(idxDir)
      graft.util.Scratch.rmTree(outDir)
    }
  }

  test("appends never touch the tombstone ledger; changed-text re-ingest hides only the old text") {
    // versioned-tombstone semantics (r13's id-granular design rewrote
    // the whole ledger on every append and unhid PRE-takedown rows on
    // re-ingest — both gone): docs 1/2 share oldBody, docs 3/4 share
    // newBody; history = {1, 3}, probes arrive later
    val oldBody = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    val newBody = "one two three four five six seven eight nine ten eleven twelve " * 4
    val history = Seq((1L, oldBody), (3L, newBody)).toDF("doc_id", "text")
    val idxDir = tempDir("graft_versioned_idx")
    val outDir = tempDir("graft_versioned_out")
    try {
      Dedup.buildLshIndex(history, "doc_id", "text", idxDir.toString)
      Dedup.tombstoneLshDocs(Seq(1L).toDF("id"), idxDir.toString)
      def tombFiles(): Set[(String, Long)] = {
        val d = new java.io.File(graft.util.GenManifest.tablePath(
          spark, idxDir.toString, "tombstones"))
        d.listFiles().map(f => (f.getName, f.lastModified())).toSet
      }
      val ledgerBefore = tombFiles()
      // append a batch that DOES re-ingest the tombstoned id — with
      // CHANGED text (doc 1 now reads like newBody): the ledger is not
      // rewritten (versioned visibility needs no resurrect pass)...
      Dedup.appendLshDetect(Seq((1L, newBody + " changed"), (5L, "unrelated filler text " * 8))
        .toDF("doc_id", "text"), "doc_id", "text", idxDir.toString, outDir.toString)
      assert(tombFiles() == ledgerBefore,
        "append must leave the tombstone ledger files byte-for-byte alone")
      // ...the OLD text's rows stay hidden (probe 2 ~ oldBody finds no
      // partner), and the NEW text's rows are live (probe 4 ~ newBody
      // pairs with both 3 and the re-ingested 1)
      val probed = Dedup.detectDeltaPairs(
        Seq((2L, oldBody + " probe"), (4L, newBody + " probe"))
          .toDF("doc_id", "text"), "doc_id", "text", idxDir.toString)
        .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
      assert(!probed.contains((1L, 2L)),
        s"pre-takedown text must STAY hidden after a changed-text re-ingest: $probed")
      assert(probed.contains((3L, 4L)) && probed.contains((1L, 4L)),
        s"re-ingested text and untouched docs must both match: $probed")
      // compaction folds the hidden old-text rows but keeps the
      // re-ingested rows — detection unchanged
      Dedup.compactLshIndex(spark, idxDir.toString, targetFiles = 2)
      val after = Dedup.detectDeltaPairs(
        Seq((2L, oldBody + " probe"), (4L, newBody + " probe"))
          .toDF("doc_id", "text"), "doc_id", "text", idxDir.toString)
        .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
      assert(after == probed, "compaction must preserve versioned visibility")
      val hs = spark.read.parquet(graft.util.GenManifest.tablePath(
        spark, idxDir.toString, "hashes"))
      assert(hs.filter($"id" === 1L).count() == 1,
        "compaction must fold the hidden old-text row and keep the re-ingested one")
    } finally {
      graft.util.Scratch.rmTree(idxDir)
      graft.util.Scratch.rmTree(outDir)
    }
  }

  test("reband migration: geometry flips atomically, detection equals the alternate-geometry closed form") {
    // build at the default 8×4, migrate to 16×2 from the persisted
    // signatures, probe — pairs must equal the one-shot 16×2 chain's
    // pairs with a delta member (the d31 gate's oracle, in-process)
    val bodies = (0 until 60).map(i =>
      s"reband fixture body $i with plenty of shingle material and tail ${i * 53} ${i * 17}")
    val docs = (0 until 180).map { i =>
      (i.toLong, bodies(i % 60) + (if (i >= 120) " delta!" else ""))
    }.toDF("doc_id", "text").localCheckpoint(true)
    val idxDir = tempDir("graft_reband_idx")
    try {
      Dedup.buildLshIndex(docs.filter($"doc_id" < 120), "doc_id", "text",
        idxDir.toString)
      val m0 = graft.util.GenManifest.required(spark, idxDir.toString)
      Dedup.rebandLshIndex(spark, idxDir.toString, bands = 16, rows = 2)
      val m1 = graft.util.GenManifest.required(spark, idxDir.toString)
      assert(m1.meta("bands") == "16" && m1.meta("rows") == "2",
        "manifest must carry the migrated geometry")
      assert(m1.tables("hashes") == m0.tables("hashes"),
        "reband must NOT rewrite the signatures (the expensive half)")
      assert(m1.tables("bands") != m0.tables("bands"),
        "reband must publish a new bands generation")
      val got = Dedup.detectDeltaPairs(docs.filter($"doc_id" >= 120),
          "doc_id", "text", idxDir.toString)
        .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
      val exp = Dedup.minHashLshPairsPortable(docs, "doc_id", "text", bands = 16)
        .filter($"doc_b" >= 120)
        .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
      assert(got == exp, s"migrated-geometry detection diverged: got $got exp $exp")
      assert(got.nonEmpty, "fixture must detect cross-split pairs")
    } finally graft.util.Scratch.rmTree(idxDir)
  }

  test("hot-bucket guard: sizing probe does not re-execute a persisted input (input contract)") {
    // lineage-execution counter: every materialization of the frame
    // below runs mapPartitions once per partition and bumps the
    // accumulator — the direct measure of how many times the guard's
    // eager probe + join sides execute their input's ancestry
    val acc = spark.sparkContext.longAccumulator("banded_materializations")
    def countedBanded(): org.apache.spark.sql.DataFrame =
      (0 until 400).map(i => (i.toLong, i % 4, (i % 40).toString))
        .toDF("id", "band", "bkey")
        .repartition(4)
        .as[(Long, Int, String)]
        .mapPartitions { it => acc.add(1L); it }
        .toDF("id", "band", "bkey")
    // contract HONORED: a materialized input costs the probe ZERO
    // lineage re-executions — probe and both join sides read the cache
    val persisted = countedBanded().localCheckpoint(true)
    val afterCheckpoint = acc.value
    assert(afterCheckpoint == 4L, s"checkpoint must run the lineage once, saw $afterCheckpoint")
    val n = Dedup.guardedBandedSelfJoin(persisted, maxBucket = 10000).count()
    assert(n > 0L)
    assert(acc.value == afterCheckpoint,
      s"guard re-executed a PERSISTED input: ${acc.value - afterCheckpoint} extra task runs")
    // contract VIOLATED (negative control, documenting why it exists):
    // an unpersisted input runs its lineage at least twice more — the
    // eager sizing probe is one full extra pass on top of the join's
    acc.reset()
    Dedup.guardedBandedSelfJoin(countedBanded(), maxBucket = 10000).count()
    assert(acc.value >= 8L,
      s"expected >= 2 lineage passes over an unpersisted input, saw ${acc.value} task runs")
  }
}
