package graft.operators

import graft.SparkSpec
import graft.Tables
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("brute-force top-k matches a driver-side exact computation") {
    val emb = Tables.embeddings(spark, sf)
    val got = Similarity.knnBruteForce(spark, sf)
      .select($"query_id", $"rank", $"neighbor_id")
      .as[(Long, Long, Long)].collect().toSeq

    val all = emb.select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    val exp = all.filter(_._1 < 10).flatMap { case (q, qv) =>
      all.filter(_._1 != q)
        .map { case (n, nv) => (n, cos(qv, nv)) }
        .sortBy { case (n, c) => (-c, n) }
        .take(5).zipWithIndex
        .map { case ((n, _), i) => (q, (i + 1).toLong, n) }
    }.toSeq.sortBy(t => (t._1, t._2))
    assert(got == exp)
  }

  test("e08 recall audit: EVERY floored method present (count is the gate signal)") {
    val rows = Similarity.recallAudit(spark, sf)
      .as[(String, Long, Long)].collect().toSeq
    // the audit emits ONLY methods at-or-above their floor, so this
    // count pin is the collapse detector: one degraded index => one
    // missing row => this assert AND the driver's spark_rows both move
    assert(rows.size == Similarity.recallFloors.size,
      s"methods below floor: ${
        Similarity.recallFloors.map(_._1).toSet -- rows.map(_._1).toSet}")
    assert(rows.map(_._1).toSet == Similarity.recallFloors.map(_._1).toSet)
    rows.foreach { case (m, r, floor) =>
      assert(r >= floor && r <= 100L, s"$m recall_x100=$r floor=$floor")
    }
  }

  test("e10 filtered ANN: neighbors all satisfy the predicate; filter pushed to scan") {
    val emb = Tables.embeddings(spark, sf)
    val got = Similarity.knnFiltered(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(got.nonEmpty)
    // every neighbor is from the filtered slice, ranks dense per query
    val label3 = emb.filter($"label" === 3).select($"vec_id").as[Long].collect().toSet
    assert(got.forall(r => label3.contains(r._3)))
    got.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.length))
    }
    // pre-filter, not post-filter: the predicate reaches the parquet scan
    val plan = Similarity.knnFiltered(spark, sf)
      .queryExecution.executedPlan.toString
    val pushed = plan.linesIterator.find(_.contains("EqualTo(label,3)")).getOrElse("")
    assert(pushed.contains("PushedFilters: [IsNotNull(label), EqualTo(label,3)"), plan)
    // and equals a driver-side recompute restricted to the slice
    val all = emb.select($"vec_id", $"embedding", $"label")
      .as[(Long, Seq[Float], Int)].collect()
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x.toDouble).sum) *
        math.sqrt(b.map(x => x.toDouble * x.toDouble).sum))
    }
    val exp = all.filter(_._1 < 10).flatMap { case (q, qv, _) =>
      all.filter(r => r._3 == 3 && r._1 != q)
        .map { case (n, nv, _) => (n, cos(qv, nv)) }
        .sortBy { case (n, c) => (-c, n) }
        .take(5).zipWithIndex.map { case ((n, _), i) => (q, (i + 1).toLong, n) }
    }.toSeq.sortBy(t => (t._1, t._2))
    assert(got.toSeq.sortBy(t => (t._1, t._2)) == exp)
  }

  test("e16 fixed-point filtered IVF: deterministic, predicate-sound, >=40% recall vs e10") {
    val emb = Tables.embeddings(spark, sf)
    val a = Similarity.knnFilteredIvfFixedPoint(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    val b = Similarity.knnFilteredIvfFixedPoint(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(a == b, "fixed-point filtered IVF must be run-to-run deterministic")
    assert(a.nonEmpty)
    val label3 = emb.filter($"label" === 3).select($"vec_id").as[Long].collect().toSet
    assert(a.forall(r => label3.contains(r._3)))
    a.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted == (1L to rows.length).toSeq)
    }
    val exact = Similarity.knnFiltered(spark, sf)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._3)).toSet
    val approx = a.map(r => (r._1, r._3)).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"fixed-point filtered-IVF recall $recall")
  }

  test("e12 kNN join: >=40% recall vs exact for every-row top-3; never self; dense ranks") {
    val got = Similarity.knnJoinQuery(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(got.forall(r => r._1 != r._3))
    got.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.length))
    }
    // exact every-row top-3 (O(n²) but n=500 here)
    val all = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x.toDouble).sum) *
        math.sqrt(b.map(x => x.toDouble * x.toDouble).sum))
    }
    val exact = all.flatMap { case (id, v) =>
      all.filter(_._1 != id).map { case (n, nv) => (id, n, cos(v, nv)) }
        .sortBy { case (_, n, c) => (-c, n) }.take(3).map(t => (t._1, t._2))
    }.toSet
    val approx = got.map(r => (r._1, r._3)).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"recall=$recall")
    // most rows should find at least one neighbor through the banding
    assert(got.map(_._1).distinct.length >= all.length * 9 / 10)
    // the per-band-top-k plan is LOSSLESS vs the naive
    // dedup-all-candidates-then-rank formulation: same result, smaller
    // shuffles — verify the equivalence on the fixture
    import graft.functions.VectorFns
    val planes = VectorFns.hyperplanes(16, 6, 64, 42L)
    val vecs = Tables.embeddings(spark, sf)
      .select($"vec_id".as("id"), $"embedding".as("v"))
    val sig = vecs.select($"id",
      posexplode(VectorFns.bandKeys($"v", planes, 6)).as(Seq("band", "bkey")))
    val na = sig.select($"band", $"bkey", $"id".as("id_a"))
    val nb = sig.select($"band", $"bkey", $"id".as("id_b"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"id_a").orderBy($"cos".desc, $"id_b")
    val naive = na.join(nb, Seq("band", "bkey"))
      .filter($"id_a" =!= $"id_b")
      .select($"id_a", $"id_b").dropDuplicates("id_a", "id_b")
      .join(vecs.select($"id".as("id_a"), $"v".as("v_a")), "id_a")
      .join(vecs.select($"id".as("id_b"), $"v".as("v_b")), "id_b")
      .withColumn("cos", VectorFns.cosineSim($"v_a", $"v_b"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"id_a", $"rank".cast("long").as("rank"), $"id_b")
      .as[(Long, Long, Long)].collect().toSeq.sortBy(t => (t._1, t._2))
    assert(got.toSeq.sortBy(t => (t._1, t._2)) == naive)
  }

  test("e12 hot-bucket cap: forced splits keep ranks dense, no self, usable recall") {
    // hotCap=8 forces nearly every bucket through the re-split path on
    // the 500-row fixture (expected bucket ≈ 8 rows at 6 bits), proving
    // the refined-key plan end-to-end; the default cap of 4096 never
    // triggers here (that no-op case is pinned by the bit-equality spec
    // above). Recall drops vs the unsplit banding — near-pairs can land
    // on opposite sides of an extra hyperplane — but the 16-band
    // redundancy must keep it usable.
    val got = Similarity.knnJoin(Tables.embeddings(spark, sf),
      "vec_id", "embedding", dim = 64, k = 3, hotCap = 8)
      .as[(Long, Long, Long)].collect()
    assert(got.nonEmpty)
    assert(got.forall(r => r._1 != r._3))
    got.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.length))
    }
    val all = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x.toDouble).sum) *
        math.sqrt(b.map(x => x.toDouble * x.toDouble).sum))
    }
    val exact = all.flatMap { case (id, v) =>
      all.filter(_._1 != id).map { case (n, nv) => (id, n, cos(v, nv)) }
        .sortBy { case (_, n, c) => (-c, n) }.take(3).map(t => (t._1, t._2))
    }.toSet
    val approx = got.map(r => (r._1, r._3)).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"recall=$recall under forced splits")
  }

  test("e17 portable kNN join: deterministic, never self, dense ranks, >=40% recall vs exact") {
    val got = Similarity.knnJoinQueryPortable(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    val again = Similarity.knnJoinQueryPortable(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == again, "portable kNN join must be run-to-run deterministic")
    assert(got.forall(r => r._1 != r._3))
    got.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted == (1L to rows.length).toSeq)
    }
    // exact every-row top-3 (O(n²), n=500 at test sf)
    val all = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x.toDouble).sum) *
        math.sqrt(b.map(x => x.toDouble * x.toDouble).sum))
    }
    val exact = all.flatMap { case (id, v) =>
      all.filter(_._1 != id).map { case (n, w) => (id, n, cos(v, w)) }
        .sortBy { case (_, n, c) => (-c, n) }.take(3).map(t => (t._1, t._2))
    }.toSet
    val approx = got.map(t => (t._1, t._3)).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"portable kNN-join recall $recall")
  }

  test("e11 portable MMR: matches a driver-side integer greedy reference; diversity holds") {
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      if (na == 0 || nb == 0) 0.0 else d / (na * nb)
    }
    // the kernel's quantization contract: sequential double norm,
    // float-cast of each normalized component, floor(x·2^20)
    def qn(v: Seq[Float]): Array[Long] = {
      val n = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
      v.map(x => math.floor((x.toDouble / n).toFloat.toDouble * 1048576L).toLong).toArray
    }
    def idot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    val all = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    val got = Similarity.knnMmrPortable(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(t => (t._1, t._2))
    val exp = all.filter(_._1 < 10).flatMap { case (qid, qv) =>
      val qq = qn(qv)
      // shortlist = float exact-cosine top-20 (ties by id) — the e01
      // contract — then integer rel/sim greedy
      val short = all.filter(_._1 != qid)
        .map { case (id, v) => (id, cos(qv, v), qn(v)) }
        .sortBy { case (id, c, _) => (-c, id) }.take(20)
        .map { case (id, _, cv) => (id, idot(qq, cv), cv) }
      val sel = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Long])]
      while (sel.length < 5) {
        val pick = short.filter(c => !sel.exists(_._1 == c._1))
          .map { case (id, rel, cv) =>
            val maxSim = if (sel.isEmpty) 0L else sel.map(s => idot(s._2, cv)).max
            (rel - maxSim, rel, id, cv)
          }
          // argmax (score, rel, -id) — the kernel's integer tie rule
          .minBy { case (score, rel, id, _) => (-score, -rel, id) }
        sel += ((pick._3, pick._4))
      }
      sel.zipWithIndex.map { case ((id, _), i) => (qid, (i + 1).toLong, id) }
    }.toSeq.sortBy(t => (t._1, t._2))
    assert(got == exp)
    // determinism
    val again = Similarity.knnMmrPortable(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(t => (t._1, t._2))
    assert(got == again)
    // diversity: mean pairwise sim never exceeds the plain top-k set's
    val vecs = all.toMap
    def meanPairSim(ids: Seq[Long]): Double = {
      val ps = for (a <- ids; b <- ids if a < b) yield cos(vecs(a), vecs(b))
      ps.sum / ps.length
    }
    val topk = Similarity.knnBruteForce(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    got.groupBy(_._1).foreach { case (q, rows) =>
      assert(meanPairSim(rows.map(_._3)) <= meanPairSim(topk(q)) + 1e-12, s"query $q")
    }
  }

  test("int8 quantizer: codes bounded, zero vector safe, scale recovers magnitude") {
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val rnd = new scala.util.Random(5)
    val vecs: Seq[Seq[Float]] =
      Seq(Seq.fill(16)(0f), Seq.fill(16)(1e-20f), Seq.fill(16)(3.5f)) ++
        Seq.fill(40)(Seq.fill(16)(rnd.nextFloat() * 20 - 10))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast(ArrayType(FloatType)).as("embedding"))
    // drive the same quantization the operator uses, via its public shape:
    // int8TopK on a corpus containing the edge vectors must not error and
    // must produce dense ranks for every query
    val out = Similarity.int8TopK(df, df.filter($"vec_id" < 3), "vec_id", "embedding", k = 3)
      .as[(Long, Long, Long)].collect()
    assert(out.map(_._1).distinct.length == 3)
    out.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.length))
    }
    // quantizer internals: codes stay in [-127, 127] even at extreme scale
    val codes = df
      .withColumn("s", greatest(array_max(transform($"embedding",
        x => abs(x.cast("double")))), lit(1e-12)))
      .select(explode(transform($"embedding",
        x => floor(x.cast("double") * lit(127.0) / $"s" + lit(0.5)))).as("c"))
      .agg(min($"c"), max($"c")).as[(Long, Long)].head()
    assert(codes._1 >= -127L && codes._2 <= 127L, codes.toString)
  }

  test("int8 ANN (e09): high recall vs brute force; deterministic") {
    val brute = Similarity.knnBruteForce(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val sq = Similarity.knnInt8(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    // 4× shortlist + exact re-rank over int8 codes: quantization noise is
    // ~1/254 per component, so the true top-5 rarely falls outside the
    // 20-deep integer shortlist — demand well above the 40% LSH floor
    val recall = brute.intersect(sq).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall=$recall")
    val again = Similarity.knnInt8(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    assert(sq == again)
  }

  test("LSH ANN achieves >=40% top-5 recall vs brute force on the fixture") {
    val brute = Similarity.knnBruteForce(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.knnLshPortable(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(lsh).size.toDouble / brute.size
    assert(recall >= 0.4, s"recall=$recall")
  }

  test("IVF ANN achieves >=40% top-5 recall; cells partition the corpus") {
    val brute = Similarity.knnBruteForce(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.knnIvfPortable(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.4, s"recall=$recall")
  }

  test("PQ codebooks beyond 128 centers survive the signed-byte boundary") {
    // codes above 127 are negative as JVM bytes: the & 0xFF mask in
    // adcLookupI64 is what makes the documented k <= 256 true. Exact
    // integer reference: sum over subspaces of ||v_j - C_j[code_j]||^2
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val m = 8
    val k = 200
    val vecs = Similarity.quantizedNormalized(Tables.embeddings(spark, sf),
        "vec_id", "embedding", "vec_id")
      .orderBy($"vec_id").select($"qn").limit(400)
      .collect().map(_.getSeq[Long](0).toArray)
    val cb = graft.functions.Pq.trainFixedPoint(vecs, m = m, k = k, iters = 2)
    assert(cb.forall(_.length == k))
    // seeds are the first k sample rows, so the rows past 128 exercise
    // the high codes
    val codes = vecs.map(v => graft.functions.Pq.encodeI64(
      new GenericArrayData(v.map(x => x: Any)), cb))
    assert(codes.forall(c => c.length == m && c.forall(b => (b & 0xFF) < k)),
      "codes index inside the codebook")
    assert(codes.exists(_.exists(_ < 0)), "fixture must actually exercise codes > 127")
    val sub = vecs.head.length / m
    vecs.zip(codes).foreach { case (v, code) =>
      val exact = (0 until m).map { j =>
        val cen = cb(j)(code(j) & 0xFF)
        (0 until sub).map { i =>
          BigInt(v(j * sub + i) - cen(i)).pow(2)
        }.sum
      }.sum
      val table = graft.functions.Pq.adcTableI64(
        new GenericArrayData(v.map(x => x: Any)), cb)
      val viaTable = graft.functions.Pq.adcLookupI64(table, code, k)
      assert(BigInt(viaTable) == exact, s"$viaTable vs $exact")
    }
  }
  test("LSH candidates are a strict subset: no query returns itself, ranks dense") {
    val rows = Similarity.knnLshPortable(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(rows.forall { case (q, _, n) => q != n })
    rows.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1L to rs.length.toLong))
    }
  }

  test("e14 hybrid search: RRF of the two legs recomputed exactly from their ranks") {
    val got = Similarity.hybridSearch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got.size == 20)

    // the legs, computed independently of the fused operator
    val emb = Tables.embeddings(spark, sf)
    val vecRanks = Similarity.bruteForceTopK(
        emb, emb.filter($"vec_id" === 0L), "vec_id", "embedding", k = 50)
      .select($"neighbor_id", $"rank").as[(Long, Long)].collect().toMap
    val textRanks = TextAnalysis.bm25Rank(spark, sf)
      .select($"doc_id").as[Long].collect().zipWithIndex
      .map { case (id, i) => id -> (i + 1L) }.toMap
    def rrf(r: Option[Long]): Double = r.map(x => 1.0 / (60.0 + x)).getOrElse(0.0)
    val want = (textRanks.keySet ++ vecRanks.keySet).toSeq.map { id =>
      (id, textRanks.getOrElse(id, 0L), vecRanks.getOrElse(id, 0L),
        rrf(textRanks.get(id)) + rrf(vecRanks.get(id)))
    }.sortBy { case (id, _, _, s) => (-s, id) }.take(20)
    assert(got == want)
    // a doc on BOTH shortlists must outrank a same-rank single-leg doc
    assert(got.head._4 >= got.last._4)
  }

  test("fixed-point trained IVF (e06): matches a driver-side integer Lloyd reference") {
    val emb = Tables.embeddings(spark, sf)
    val got = Similarity.knnIvfKmeansFixedPoint(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq

    // independent reference: the same kernel in plain Scala over
    // collected arrays — md5 seed order, integer assign (first-min
    // ties), truncating-division updates, integer probe order, double
    // cosine re-rank. Agreement here plus the DuckDB hash gate pins
    // the distributed path from two directions.
    val all = emb.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    val ids = all.map(_._1)
    val vs = all.map(_._2.toArray)
    val qv = vs.map(_.map(x =>
      math.floor(x.toDouble * Similarity.fixedPointScale).toLong))
    def md5h(id: Long): BigInt = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      BigInt(1, d).>>(68) // top 60 bits = first 15 hex chars
    }
    val nc = Similarity.ivfKmeansCells
    val seedIdx = ids.indices.sortBy(i => (md5h(ids(i)), ids(i))).take(nc)
    var cents = seedIdx.map(i => qv(i).clone()).toArray
    def sqd(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    def cell(v: Array[Long]): Int = {
      var best = 0; var bd = Long.MaxValue; var c = 0
      while (c < nc) {
        val d = sqd(v, cents(c)); if (d < bd) { bd = d; best = c }; c += 1
      }
      best
    }
    for (_ <- 1 to Similarity.ivfKmeansIters) {
      val asg = qv.map(cell)
      val next = cents.map(_.clone)
      for (c <- 0 until nc) {
        val members = qv.indices.filter(asg(_) == c)
        if (members.nonEmpty) {
          next(c) = Array.tabulate(qv(0).length)(d =>
            members.map(qv(_)(d)).sum / members.length)
        }
      }
      cents = next
    }
    val asg = qv.map(cell)
    def cos(a: Array[Float], b: Array[Float]): Double =
      graft.functions.VectorFns.cosineScalar(a, b)
    val exp = ids.indices.filter(ids(_) < 10).flatMap { qi =>
      val dists = cents.indices.map(c => (sqd(qv(qi), cents(c)), c))
      val probed = dists.sorted.take(Similarity.ivfKmeansProbe).map(_._2).toSet
      val cand = ids.indices
        .filter(j => probed.contains(asg(j)) && ids(j) != ids(qi))
      cand.map(j => (ids(j), cos(vs(qi), vs(j))))
        .sortBy { case (nid, c) => (-c, nid) }
        .take(5).zipWithIndex
        .map { case ((nid, _), r) => (ids(qi), (r + 1).toLong, nid) }
    }.sortBy(t => (t._1, t._2))
    assert(got == exp)
  }

  test("fixed-point trained IVF (e06): deterministic and >=40% recall vs brute force") {
    val brute = Similarity.knnBruteForce(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val a = Similarity.knnIvfKmeansFixedPoint(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    val b = Similarity.knnIvfKmeansFixedPoint(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(a == b, "fixed-point training must be run-to-run deterministic")
    val approx = a.map(t => (t._1, t._3)).toSet
    val recall = brute.intersect(approx).size.toDouble / brute.size
    assert(recall >= 0.4, s"recall=$recall")
  }

  test("e13 fixed-point persisted: build+append+load == fresh in-memory, base-trained") {
    val got = Similarity.knnPersistedFixedPoint(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    // fresh in-memory run with the SAME training slice: if the stored
    // qcentroids/assignments round-trip loses a bit anywhere, the two
    // paths diverge — this is a strict equality, not a recall bound
    val emb = Tables.embeddings(spark, sf)
    val fresh = Similarity.kmeansIvfTopKFixedPoint(
      emb, emb.filter($"vec_id" < 10), "vec_id", "embedding", k = 5,
      trainOn = Some(emb.filter($"vec_id" < Similarity.indexBaseSplit)))
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == fresh)
    // the delta really was appended (not rebuilt): the live assignment
    // rows cover every id, and the delta slice past the split is there
    val idxDir = graft.util.Scratch.resolve(spark, "e13fp_idx", sf).toString
    val assigned = spark.read.parquet(
      graft.util.GenManifest.tablePath(spark, idxDir, "assignments"))
    assert(assigned.count() == emb.count())
    assert(assigned.filter($"neighbor_id" >= Similarity.indexBaseSplit).count() > 0)
    // quality floor vs exact, so the base-trained cells stay usable
    val brute = Similarity.knnBruteForce(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val approx = got.map(t => (t._1, t._3)).toSet
    val recall = brute.intersect(approx).size.toDouble / brute.size
    assert(recall >= 0.4, s"recall=$recall")
  }

  test("e22 retrain: staged swap publishes exactly the from-scratch rebuild; tmp cleared") {
    val got = Similarity.knnIndexRetrain(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    // retrain ≡ rebuild: the queried post-swap index answers exactly as
    // the fresh full-corpus-trained engine (strict equality, the e13
    // loaded≡fresh discipline applied to the retrain path)
    val emb = Tables.embeddings(spark, sf)
    val fresh = Similarity.kmeansIvfTopKFixedPoint(
      emb, emb.filter($"vec_id" < 10), "vec_id", "embedding", k = 5)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == fresh, "retrained index diverges from a from-scratch rebuild")
    // the retrain published a NEW generation atomically: the manifest
    // names the retrained tables, and the retrained assignments
    // physically cover the full corpus (the frozen-append rows were
    // REPLACED, not appended to)
    val idxDir = graft.util.Scratch.resolve(spark, "e22_idx", sf).toString
    val m = graft.util.GenManifest.required(spark, idxDir)
    assert(m.watermark == 0L, "retrain must reset the append watermark")
    assert(spark.read.parquet(m.tableDir(idxDir, "assignments")).count() ==
      emb.count())
  }

  test("e23 ivf tombstones: retrain folds retired ids, live tombstones hide at probe, re-append resurrects") {
    val emb = Tables.embeddings(spark, sf)
    val r3 = Similarity.ivfTombstoneResidues.head
    val r5 = Similarity.ivfTombstoneResidues(1)
    val got = Similarity.knnIndexTombstone(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    // no retired vector may surface as a neighbor through either path
    assert(got.forall(t => t._3 % 7 != r3 && t._3 % 7 != r5),
      s"retired ids leaked into the neighbor lists: $got")
    // strict equality with the from-scratch twin: train on emb minus
    // the FOLDED ids (the retrain's corpus), assign the same minus the
    // LIVE-hidden ids (assignment is a pure per-row function, so
    // hiding-at-probe ≡ dropping the rows from the assigned corpus)
    val fresh = Similarity.kmeansIvfTopKFixedPoint(
      emb.filter($"vec_id" % 7 =!= r3 && $"vec_id" % 7 =!= r5),
      emb.filter($"vec_id" < 10 && $"vec_id" % 7 =!= r3),
      "vec_id", "embedding", k = 5,
      trainOn = Some(emb.filter($"vec_id" % 7 =!= r3)))
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == fresh, "tombstoned index diverges from the survivors-only twin")
    // VERSIONED re-ingest: append one retired ≡5 vector again — its new
    // assignment row postdates the takedown watermark, so it is visible
    // with no resurrect bookkeeping (the d30→e23 semantics match)
    val idxDir = graft.util.Scratch.resolve(spark, "e23_idx", sf).toString
    val backId = emb.filter($"vec_id" % 7 === r5)
      .agg(min($"vec_id")).head().getLong(0)
    def visibleRows(): Long = {
      val m = graft.util.GenManifest.required(spark, idxDir)
      graft.util.Tombstones.visible(
          spark.read.parquet(m.tableDir(idxDir, "assignments")),
          "neighbor_id", graft.util.Tombstones.aggOf(spark, idxDir, m))
        .filter($"neighbor_id" === backId).count()
    }
    assert(visibleRows() == 0, "retired id must have no visible rows")
    Similarity.appendIvfIndexFixedPoint(emb.filter($"vec_id" === backId),
      "vec_id", "embedding", idxDir)
    assert(visibleRows() == 1,
      "a re-appended retired id must be visible again (versioned tombstones)")
  }

  test("e24 ivf compaction: queries invariant minus retired, files collapse, centroids untouched") {
    val emb = Tables.embeddings(spark, sf)
    val idxDir = graft.util.Scratch.dir(spark, "e24spec_idx", sf).toString
    Similarity.buildIvfIndexFixedPoint(
      emb.filter($"vec_id" < Similarity.indexBaseSplit),
      "vec_id", "embedding", idxDir)
    Similarity.appendIvfIndexFixedPoint(
      emb.filter($"vec_id" >= Similarity.indexBaseSplit),
      "vec_id", "embedding", idxDir)
    def centroids(): Seq[Seq[Long]] = Similarity.loadQCentroids(spark, idxDir,
      graft.util.GenManifest.required(spark, idxDir)).map(_.toSeq).toSeq
    val centsBefore = centroids()
    val queries = emb.filter($"vec_id" < 10)
    def answers(): Seq[(Long, Long, Long)] =
      Similarity.queryIvfIndexFixedPoint(spark, idxDir, queries,
        "vec_id", "embedding", k = 5).as[(Long, Long, Long)].collect().toSeq
    val before = answers()
    def asgFiles(): Int = new java.io.File(
      graft.util.GenManifest.tablePath(spark, idxDir, "assignments"))
      .listFiles().count(_.getName.endsWith(".parquet"))
    val filesBefore = asgFiles()
    // no tombstones: compaction is a pure file-count collapse with
    // identical answers and IDENTICAL centroids (no retraining)
    Similarity.compactIvfIndexFixedPoint(spark, idxDir, targetFiles = 1)
    assert(answers() == before, "tombstone-free compaction must not change answers")
    assert(asgFiles() == 1 && asgFiles() < filesBefore,
      s"compaction must collapse the file sets: $filesBefore -> ${asgFiles()}")
    assert(centroids() == centsBefore,
      "compaction must not touch the centroids")
    // with a tombstone: the fold removes exactly the retired candidate
    val victim = before.head._3
    Similarity.tombstoneIvfVecs(Seq(victim).toDF("id"), idxDir)
    val hidden = answers()
    assert(hidden.forall(_._3 != victim), "takedown must hide the victim immediately")
    Similarity.compactIvfIndexFixedPoint(spark, idxDir, targetFiles = 2)
    assert(answers() == hidden, "folding the tombstone must not change answers further")
    assert(!graft.util.GenManifest.required(spark, idxDir)
        .tables.contains("tombstones"),
      "compaction must fold the ledger out of the manifest")
    assert(spark.read.parquet(graft.util.GenManifest.tablePath(
        spark, idxDir, "assignments"))
      .filter($"neighbor_id" === victim).isEmpty,
      "compaction must physically drop the retired rows")
  }

  test("retrain does not censor an id tombstoned before it was ever ingested") {
    // the harmless-no-op contract: a takedown recorded for an id the
    // index never held must not silently drop that id from a LATER
    // retrain corpus (the data arrived after the takedown — visible by
    // the versioned rule)
    val emb = Tables.embeddings(spark, sf)
    val idxDir = graft.util.Scratch.dir(spark, "retrain_noop_idx", sf).toString
    Similarity.buildIvfIndexFixedPoint(
      emb.filter($"vec_id" < Similarity.indexBaseSplit),
      "vec_id", "embedding", idxDir)
    val phantom = Similarity.indexBaseSplit.toLong + 1
    Similarity.tombstoneIvfVecs(Seq(phantom).toDF("id"), idxDir)
    // also retire a REAL base id, to prove the fold still works in the
    // same pass
    Similarity.tombstoneIvfVecs(Seq(7L).toDF("id"), idxDir)
    Similarity.retrainIvfIndexFixedPoint(emb, "vec_id", "embedding", idxDir)
    val asg = spark.read.parquet(graft.util.GenManifest.tablePath(
      spark, idxDir, "assignments"))
    assert(asg.filter($"neighbor_id" === phantom).count() == 1,
      "an id tombstoned before ingest must survive a retrain that includes it")
    assert(asg.filter($"neighbor_id" === 7L).isEmpty,
      "a genuinely retired id must be folded by the retrain")
  }

  test("e21 occupancy audit: counts cover the corpus exactly; audit == fresh assignment") {
    val emb = Tables.embeddings(spark, sf)
    val got = Similarity.indexOccupancy(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // conservation: the inverted lists hold every corpus vector exactly
    // once — append lost and duplicated nothing
    assert(got.map(_._2).sum == emb.count(), s"counts don't cover the corpus: $got")
    assert(got.map(_._1) == got.map(_._1).sorted && got.map(_._1).distinct == got.map(_._1))
    got.foreach { case (cell, n, lo, hi) =>
      assert(cell >= 1 && n > 0 && lo <= hi, s"malformed row ($cell,$n,$lo,$hi)")
    }
    // the audited (loaded) occupancy equals a fresh in-memory assignment
    // with the same base-trained centroids — the e13 loaded≡fresh
    // contract at the audit level
    val trainSet = emb.filter($"vec_id" < Similarity.indexBaseSplit)
    val cents = Similarity.trainCentroidsFixedPoint(
      Similarity.quantized(trainSet, "vec_id", "embedding"), "vec_id",
      Similarity.ivfKmeansCells, Similarity.ivfKmeansIters)
    val fresh = Similarity.assignCellsFixedPoint(emb, "vec_id", "embedding", cents)
      .groupBy($"cell")
      .agg(count(lit(1)).as("n"), min($"neighbor_id"), max($"neighbor_id"))
      .select($"cell".cast("long"), $"n", $"min(neighbor_id)", $"max(neighbor_id)")
      .orderBy($"cell")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == fresh, "loaded-index occupancy diverges from fresh assignment")
  }

  test("e07 fixed-point PQ: deterministic, >=40% recall vs brute force") {
    val brute = Similarity.knnBruteForce(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val a = Similarity.knnPqFixedPoint(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    val b = Similarity.knnPqFixedPoint(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(a == b, "fixed-point PQ must be run-to-run deterministic")
    val approx = a.map(t => (t._1, t._3)).toSet
    val recall = brute.intersect(approx).size.toDouble / brute.size
    assert(recall >= 0.4, s"recall=$recall")
    // dense 1..5 ranks, never self
    a.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._2).sorted == Seq(1L, 2L, 3L, 4L, 5L), s"query $q ranks")
      assert(!rows.exists(_._3 == q))
    }
  }

  test("e15 fixed-point IVF+PQ: deterministic, >=40% recall vs brute force, dense ranks") {
    val brute = Similarity.knnBruteForce(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val a = Similarity.knnIvfPqFixedPoint(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    val b = Similarity.knnIvfPqFixedPoint(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(a == b, "fixed-point IVF+PQ must be run-to-run deterministic")
    val approx = a.map(t => (t._1, t._3)).toSet
    val recall = brute.intersect(approx).size.toDouble / brute.size
    assert(recall >= 0.4, s"recall=$recall")
    a.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._2).sorted == (1L to rows.length).toSeq, s"query $q ranks")
      assert(!rows.exists(_._3 == q))
    }
  }

  test("e18 JL projection matches a raw-MessageDigest reference and preserves norms") {
    // independent sign reference: low bit of the 15th md5 hex char of
    // "p-j-i" (i 1-based) — the exact quantity the DuckDB oracle
    // parses via ('0x' || substr(md5(...), 1, 15))::BIGINT & 1
    def sign(j: Int, i: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"p-$j-$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if ((Integer.parseInt(hex.substring(14, 15), 16) & 1) == 1) 1L else -1L
    }
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    val exp = emb.map { case (id, v) =>
      id -> (0 until 32).map { j =>
        (0 until 64).map { i =>
          sign(j, i + 1) * math.floor(v(i).toDouble * 1000.0 + 0.5).toLong
        }.sum
      }.toVector
    }.toMap
    val got = Similarity.randomProjection(spark, sf)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (id, rows) =>
        id -> rows.sortBy(_._2).map(_._3).toVector
      }
    assert(got == exp, "projection must equal the md5-sign reference")
    // JL norm preservation: E[‖Pq‖²] = dims·‖q‖² for a ±1 matrix, so
    // the per-vector ratio ‖Pq‖²/(32·‖q‖²) concentrates near 1 with
    // relative sd ≈ √(2/32) ≈ 25% — deterministic on this fixture
    // (measured min 0.42 / max 2.04; dims=16's 35% sd broke the lower
    // bound at 0.184, which is why r10 moved to 32)
    val ratios = emb.map { case (id, v) =>
      val q = v.map(x => math.floor(x.toDouble * 1000.0 + 0.5).toLong)
      val qn = q.map(x => x.toDouble * x).sum
      val pn = got(id).map(x => x.toDouble * x).sum
      pn / (32.0 * qn)
    }
    assert(ratios.forall(r => r > 0.25 && r < 4.0),
      s"distortion outlier: min=${ratios.min} max=${ratios.max}")
    val mean = ratios.sum / ratios.length
    assert(mean > 0.8 && mean < 1.25, s"mean distortion $mean")
  }

  test("e19 projected kNN: deterministic, >=40% recall vs brute force, dense ranks") {
    val brute = Similarity.knnBruteForce(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val a = Similarity.knnProjected(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    val b = Similarity.knnProjected(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(a == b, "projected kNN must be run-to-run deterministic")
    val recall = brute.intersect(a.map(t => (t._1, t._3)).toSet).size.toDouble / brute.size
    assert(recall >= 0.4, s"recall=$recall")
    a.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._2).sorted == (1L to rows.length).toSeq, s"query $q ranks")
      assert(!rows.exists(_._3 == q))
    }
  }
}
