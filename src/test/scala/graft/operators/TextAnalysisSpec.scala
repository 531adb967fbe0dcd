package graft.operators

import graft.SparkSpec
import graft.functions.TextFns
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("textMatch ranks by tf-idf: rare-term hit outranks common-term hit") {
    val docs = Seq(
      (0L, "join join join hash tables"),          // 3x join + 1x hash
      (1L, "a join of two relations"),             // 1x join (common term)
      (2L, "the stream never sleeps"),             // 1x stream (rare term)
      (3L, "join the parade"),                     // 1x join
      (4L, "nothing relevant whatsoever"),         // no hits → excluded
    ).toDF("doc_id", "text")
    val dir = tempDir("graft_textmatch_test").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.textMatch(spark, dir)
      .as[(Long, Long, Double)].collect()

    val ids = out.map(_._1).toSet
    assert(!ids.contains(4L), "doc with no hits must be excluded")
    assert(out.head._1 == 0L, s"heaviest-hitting doc first, got ${out.toSeq}")
    // idf: df(join)=3, df(stream)=1 → one stream hit (5/1) outscores one
    // join hit (5/3)
    val score = out.map(t => t._1 -> t._3).toMap
    assert(score(2L) > score(1L) && score(2L) > score(3L),
      s"rare term must outrank common term: $score")
    // n_hits is a plain integer hit count
    assert(out.find(_._1 == 0L).get._2 == 4L)
  }

  test("bm25 ranking: tf monotone, rare terms weighted up, long docs normalized down") {
    val docs = Seq(
      (0L, "join join alpha beta"),               // tf(join)=2, dl=4
      (1L, "join alpha beta gamma"),              // tf(join)=1, dl=4
      (2L, "join alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"), // tf=1, dl=12
      (3L, "stream alpha beta gamma"),            // tf(stream)=1, dl=4 — rare term
      (4L, "join whatever else here"),            // pushes df(join) up
      (5L, "nothing matching at all"),
    ).toDF("doc_id", "text")
    val dir = tempDir("graft_bm25_test").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val score = TextAnalysis.bm25Rank(spark, dir)
      .as[(Long, Long, Double)].collect().map(t => t._1 -> t._3).toMap

    assert(!score.contains(5L), "doc with no query term must be excluded")
    assert(score(0L) > score(1L), s"higher tf must score higher: $score")
    assert(score(1L) > score(2L),
      s"same tf in a longer doc must score lower (length normalization): $score")
    // df(join)=4, df(stream)=1 → one stream hit outweighs one join hit
    assert(score(3L) > score(1L), s"rarer term must outweigh common term: $score")
    assert(score.values.forall(s => s > 0 && !s.isNaN))
  }

  test("textMatch with an absent query term keeps scores finite (df=0 guard)") {
    val docs = Seq((0L, "join things"), (1L, "other stuff")).toDF("doc_id", "text")
    val dir = graft.util.Scratch.dir(spark, "df0_docs", "planted").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.textMatch(spark, dir,
      terms = Seq("join", "zzznotincorpus"))
      .as[(Long, Long, Double)].collect()
    assert(out.map(_._1).toSeq == Seq(0L))
    assert(out.forall(r => !r._3.isNaN && r._3 > 0), out.toSeq.toString)
  }

  test("winnowing gate is deterministic; selection density matches the MOSS bound") {
    val r1 = TextAnalysis.winnowingFingerprints(spark, sf)
      .as[(Long, Long, String)].collect().toSeq
    val r2 = TextAnalysis.winnowingFingerprints(spark, sf)
      .as[(Long, Long, String)].collect().toSeq
    assert(r1 == r2 && r1.nonEmpty)
    assert(r1.forall(_._2 >= 0), "fingerprint counts are non-negative")
    // every doc with at least one gram selects at least one fingerprint,
    // and never more than the number of window starts (MOSS upper bound)
    val lens = graft.Tables.documents(spark, sf)
      .select($"doc_id", length(graft.functions.TextFns.normalizeText($"text")).as("n"))
      .as[(Long, Int)].collect().toMap
    r1.foreach { case (id, cnt, _) =>
      val ng = math.max(lens(id) - 7, 0)
      if (ng >= 1) assert(cnt >= 1 && cnt <= math.max(ng - 3, 1), s"doc $id cnt=$cnt ng=$ng")
      else assert(cnt == 0)
    }
  }

  test("sketch-prefiltered exact heavy hitters equal the direct exact query") {
    import graft.functions.TextFns._
    val viaSketch = TextAnalysis.heavyHittersExact(spark, sf, k = 32)
      .as[(String, Long)].collect().toSeq
    // direct exact computation, no sketch anywhere
    val terms = graft.Tables.documents(spark, sf)
      .select(explode(tokens(normalizeText($"text"))).as("term"))
      .filter(length($"term") > 0)
    val n = terms.count()
    val direct = terms.groupBy($"term").agg(count(lit(1)).as("n_count"))
      .filter($"n_count" * 32 > n)
      .orderBy($"n_count".desc, $"term")
      .as[(String, Long)].collect().toSeq
    assert(viaSketch == direct, s"sketch path diverged: $viaSketch vs $direct")
    assert(viaSketch.nonEmpty)
  }

  test("pii redaction removes every planted pattern and counts them") {
    val out = TextAnalysis.piiRedaction(spark, sf)
    val rows = out.as[(Long, Long, Long, Long, String)].collect()
    assert(rows.nonEmpty)
    // one planted email/phone/ip per doc, all found
    assert(rows.forall(r => r._2 == 1 && r._3 == 1 && r._4 == 1),
      rows.take(3).toSeq.toString)
    // redaction is idempotent evidence: no residual matches after replace
    val residual = graft.Tables.documents(spark, sf)
      .select(regexp_replace(regexp_replace(regexp_replace(
        concat($"text", lit(" contact user"), $"doc_id",
          lit("@example.com tel +33 6 12 34 56 "),
          lpad(pmod($"doc_id", lit(100)).cast("string"), 2, "0"),
          lit(" host 10.0."), pmod($"doc_id", lit(256)), lit(".7")),
        TextAnalysis.emailRe, "<EMAIL>"),
        TextAnalysis.phoneRe, "<PHONE>"),
        TextAnalysis.ipRe, "<IP>").as("red"))
      .filter($"red".rlike(TextAnalysis.emailRe) ||
        $"red".rlike(TextAnalysis.phoneRe) || $"red".rlike(TextAnalysis.ipRe))
      .count()
    assert(residual == 0, s"$residual rows still match a PII pattern after redaction")
  }

  test("collocations rank a planted phrase above independent co-occurrence") {
    // "alpha beta" always adjacent (perfect collocation); "gamma" and
    // "delta" both frequent but never adjacent; filler varies
    val docs = (0 until 40).map { i =>
      (i.toLong, s"alpha beta gamma filler$i delta end$i gamma delta start$i")
    }.toDF("doc_id", "text")
    val dir = graft.util.Scratch.dir(spark, "colloc_docs", "planted").toString
    docs.write.parquet(s"$dir/documents.parquet")
    val top = graft.operators.TextAnalysis.collocations(spark, dir, minCount = 5)
      .select($"a", $"b", $"assoc").as[(String, String, Double)].collect()
    assert(top.nonEmpty)
    val byPair = top.map(t => (t._1, t._2) -> t._3).toMap
    assert(byPair.contains(("alpha", "beta")))
    // the always-adjacent pair outranks the merely-frequent pair
    byPair.get(("gamma", "delta")).foreach { gd =>
      assert(byPair(("alpha", "beta")) > gd, byPair)
    }
    assert(top.forall(_._3 > 0))
  }

  test("repetition signals: hand-computed example + bounds on the fixture") {
    val planted = Seq(
      (0L, "a b a b a b"),        // bigrams: ab ba ab ba ab → 5 total, 2 distinct
      (1L, "w x y z"),            // all distinct
      (2L, "solo"),               // degenerate: no bigrams
    ).toDF("doc_id", "text")
    val dir = graft.util.Scratch.dir(spark, "rep_docs", "planted").toString
    planted.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = TextAnalysis.repetitionSignals(spark, dir)
      .as[(Long, Long, Double, Double)].collect().map(t => t._1 -> t).toMap
    assert(r(0L)._3 == 3.0 / 5.0, r(0L)) // 5 bigrams, 2 distinct → 3/5 dup
    assert(r(0L)._4 == 3.0 / 6.0, r(0L)) // 'a' ×3 of 6 tokens
    assert(r(1L)._3 == 0.0 && r(1L)._4 == 1.0 / 4.0, r(1L))
    assert(r(2L)._3 == 0.0 && r(2L)._4 == 1.0, r(2L))
    val fixture = TextAnalysis.repetitionSignals(spark, sf)
      .as[(Long, Long, Double, Double)].collect()
    assert(fixture.forall(t => t._3 >= 0 && t._3 <= 1 && t._4 > 0 && t._4 <= 1))
  }

  test("t16 chunking: dense indices, full windows except the tail, coverage") {
    val chunks = TextAnalysis.chunkDocuments(spark, sf)
      .as[(Long, Long, Long, String)].collect()
    val lens = graft.Tables.documents(spark, sf)
      .select($"doc_id",
        size(split(graft.functions.TextFns.normalizeText($"text"), " ")).cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(chunks.map(_._1).toSet == lens.keySet, "every doc chunked")
    chunks.groupBy(_._1).foreach { case (id, cs) =>
      val sorted = cs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (0L until cs.length).toSeq, s"doc $id dense idx")
      val n = lens(id)
      val expected = if (n <= 64) 1L else (n - 64 + 47) / 48 + 1
      assert(cs.length == expected, s"doc $id: ${cs.length} chunks for $n tokens")
      // all chunks are full windows except possibly the trailing ones
      sorted.dropRight(1).foreach { c =>
        assert(c._3 == 64L || n < 64, s"doc $id chunk ${c._2} has ${c._3} tokens")
      }
      // stride coverage: last window start + window ≥ n ⇒ no token dropped
      assert((cs.length - 1) * 48 + 64 >= n, s"doc $id tail covered")
    }
  }

  test("t17 quantile filter: drops exactly the bottom quartile per lang (mod ties), broadcast thresholds") {
    val all = TextAnalysis.docQuality(spark, sf)
      .select(col("doc_id"), col("n_tokens")).as[(Long, Long)].collect().toMap
    val langs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang")).as[(Long, String)].collect().toMap
    val kept = TextAnalysis.qualityQuantileFilter(spark, sf)
      .as[(Long, String, Long)].collect()

    // token counts agree with the oracle-checked t02 metric
    kept.foreach { case (id, _, n) => assert(all(id) == n, s"doc $id token count") }

    val keptByLang = kept.groupBy(_._2)
    all.keys.toSeq.groupBy(langs).foreach { case (lang, ids) =>
      val counts = ids.map(all).sorted
      val k = counts.length / 4
      val thr = counts(k) // (k+1)-th smallest
      val expected = ids.filter(all(_) >= thr).toSet
      val got = keptByLang.getOrElse(lang, Array.empty).map(_._1).toSet
      assert(got == expected, s"lang $lang: kept ${got.size}, expected ${expected.size}")
      // at most a quarter dropped; ties at the threshold are all kept
      assert(ids.size - got.size <= k, s"lang $lang over-dropped")
    }

    // the corpus-side filter join must be a broadcast, not a shuffle
    val plan = TextAnalysis.qualityQuantileFilter(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("t18 rank fusion: RRF of the bm25 and tf-idf shortlists, exact reciprocal sums") {
    def ranks(rows: Array[(Long, Double)]): Map[Long, Long] =
      rows.sortBy { case (id, s) => (-s, id) }.zipWithIndex
        .map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val bm = ranks(TextAnalysis.bm25Rank(spark, sf)
      .select(col("doc_id"), col("score")).as[(Long, Double)].collect())
    val tm = ranks(TextAnalysis.textMatch(spark, sf)
      .select(col("doc_id"), col("score")).as[(Long, Double)].collect())

    val fused = TextAnalysis.rankFusion(spark, sf)
      .as[(Long, Long, Long, Double)].collect()

    assert(fused.map(_._1).toSet == bm.keySet ++ tm.keySet, "union of shortlists")
    assert(fused.map(_._1).distinct.length == fused.length, "one row per doc")
    fused.foreach { case (id, rBm, rTm, score) =>
      assert(rBm == bm.getOrElse(id, 0L), s"doc $id bm25 rank")
      assert(rTm == tm.getOrElse(id, 0L), s"doc $id tfidf rank")
      val expected = bm.get(id).map(r => 1.0 / (60.0 + r)).getOrElse(0.0) +
        tm.get(id).map(r => 1.0 / (60.0 + r)).getOrElse(0.0)
      assert(score == expected, s"doc $id rrf score $score != $expected")
    }
    // output is sorted by fused score — the reranker contract
    assert(fused.map(_._4).toSeq == fused.map(_._4).sortBy(-_).toSeq)
  }

  test("t19 quality classifier: score matches an explode-based recompute; both labels present") {
    val got = TextAnalysis.qualityClassifier(spark, sf)
      .as[(Long, Long, String)].collect()
    assert(got.map(_._3).toSet == Set("keep", "drop"))
    got.foreach { case (_, s, l) =>
      assert(l == (if (s >= 4000L) "keep" else "drop"))
    }
    // independent feature computation: explode + aggregate instead of
    // the operator's array-expression chain
    val toks = graft.Tables.documents(spark, sf)
      .select($"doc_id", length($"text").cast("long").as("n_chars"),
        explode(TextFns.tokens(TextFns.normalizeText($"text"))).as("tok"))
    val feats = toks.groupBy($"doc_id", $"n_chars")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct($"tok").as("n_distinct"),
        sum(when($"tok".isin(TextAnalysis.enStopwords: _*), 1L).otherwise(0L)).as("n_stop"))
      .select($"doc_id",
        (lit(2L) * $"n_chars" + lit(15L) * $"n_tokens" + lit(120L) * $"n_distinct" +
          lit(500L) * $"n_stop" - lit(60L) * ($"n_tokens" - $"n_distinct")).as("expected"))
      .as[(Long, Long)].collect().toMap
    got.foreach { case (id, s, _) =>
      assert(s == feats(id), s"doc $id: $s != ${feats(id)}")
    }
  }

  test("t23 nfc: decomposed pairs recompose; precomposed text is a fixed point") {
    val decomposed = "cafe\u0301 cre\u0300me"      // e + combining acute/grave
    val precomposed = "caf\u00e9 cr\u00e8me"       // precomposed e-acute / e-grave
    val got = Seq(decomposed).toDF("t")
      .select(TextFns.nfc($"t")).as[String].head()
    assert(got == precomposed)
    assert(got != decomposed) // the plant really was a different string
    // idempotence / fast path: already-NFC text passes through unchanged
    val again = Seq(precomposed).toDF("t")
      .select(TextFns.nfc($"t")).as[String].head()
    assert(again == precomposed)
  }

  test("t22 foldAccents: full French diacritic set + ligature expansion") {
    val rows = Seq(
      ("Œuvre à l'été, garçon naïf", "OEuvre a l'ete, garcon naif"),
      ("cœur æther ÀÉÎÔÛÇ Ñ ÿ", "coeur aether AEIOUC N y"),
      ("no accents stays put", "no accents stays put"))
      .toDF("in", "expected")
    val got = rows.select(TextFns.foldAccents($"in").as("got"), $"expected")
      .as[(String, String)].collect()
    got.foreach { case (g, e) => assert(g == e, s"'$g' != '$e'") }
    // the gate's planted-hazard round trip: fold(plant(text)) == text
    val docs = graft.Tables.documents(spark, sf).select($"doc_id", $"text")
    val rt = TextAnalysis.accentFoldRoundtrip(spark, sf)
      .join(docs, "doc_id")
      .filter($"text_folded" =!= $"text")
    assert(rt.count() == 0)
  }

  test("t26 readability: formula recompute exact, planted sentences vary") {
    val rows = TextAnalysis.readability(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val w = r.getLong(1); val s = r.getLong(2); val syl = r.getLong(3)
      assert(w > 0 && s >= 1 && syl > 0)
      // the exact double the fixed-order formula must produce
      val want = 206.835 - 1.015 * (w.toDouble / s.toDouble) -
        84.6 * (syl.toDouble / w.toDouble)
      assert(r.getDouble(4) == want, r.toString)
    }
    // the planted '. s' rule yields a real distribution, not a constant
    assert(rows.map(_.getLong(2)).distinct.length > 1)
  }

  test("t07 portable ranking: integer dot²/(na·nb) agrees with float cosine on the same vectors") {
    import graft.functions.HashFns
    // same md5-bucket TF vectors on both sides — the portable gate's
    // rational score must order pairs exactly as float cosine does
    // (monotone for non-negative dots, no near-tie inversions on the
    // fixture)
    val vecs = graft.Tables.documents(spark, sf)
      .select($"doc_id",
        HashFns.md5TfVec(graft.functions.TextFns.tokens(
          graft.functions.TextFns.normalizeText($"text")), 64).as("vec"))
      .withColumn("fvec", $"vec".cast("array<float>"))
    val portable = TextAnalysis.docSimilarityPortable(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    val viaCosine = graft.operators.Similarity.bruteForceTopK(
        vecs.select($"doc_id", $"fvec".as("vec")),
        vecs.select($"doc_id", $"fvec".as("vec")).filter($"doc_id" < 5),
        "doc_id", "vec", k = 3)
      .as[(Long, Long, Long)].collect().toSeq
    assert(portable == viaCosine, s"portable=$portable cosine=$viaCosine")
  }

  test("t27 phrase search: n-way position chaining, adjacency strict, order strict") {
    import org.apache.spark.sql.SparkSession
    val planted = Seq(
      (0L, "the quick brown fox and the quick brown fox again"), // 2 occurrences
      (1L, "quick brown stuff between brown fox"),               // broken adjacency
      (2L, "brown quick fox"),                                   // wrong order
      (3L, "prefix quick brown fox suffix"),                     // 1 occurrence
    ).toDF("doc_id", "text")
    val dirTmp = tempDir("t27fix")
    planted.write.mode("overwrite")
      .parquet(dirTmp.resolve("documents.parquet").toString)
    val got = TextAnalysis.phraseSearch(spark, dirTmp.toString,
        Seq("quick", "brown", "fox"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 2L, 3L -> 1L), got.toString)
  }

  test("t28 CDC chunks: lossless, deterministic, and edit-SURVIVABLE (the CDC property)") {
    import graft.functions.TextFns
    // fixture chunks reconstruct the normalized text exactly
    val rows = TextAnalysis.cdcChunks(spark, sf)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, ch) =>
      assert(ch.map(_._2).sorted == (1L to ch.length).toSeq)
    }
    val lens = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val norms = graft.Tables.documents(spark, sf)
      .select($"doc_id", length(TextFns.normalizeText($"text")).cast("long"))
      .as[(Long, Long)].collect().toMap
    lens.foreach { case (id, tot) => assert(tot == norms(id), s"doc $id") }

    // THE property fixed-size chunking lacks: edit one region of a doc
    // and every chunk hash outside that region survives. Plant a long
    // doc, chunk it, insert text mid-document, re-chunk: the multiset
    // of chunk hashes must differ only near the edit (shared hashes
    // cover all but a bounded few chunks).
    val rnd = new scala.util.Random(7)
    val words = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo", "lima")
    val original = Seq.fill(400)(words(rnd.nextInt(words.length))).mkString(" ")
    val edited = {
      val cut = original.length / 2
      original.substring(0, cut) + " inserted brand new material here " +
        original.substring(cut)
    }
    val dirTmp = tempDir("t28fix")
    Seq((0L, original), (1L, edited)).toDF("doc_id", "text")
      .write.mode("overwrite")
      .parquet(dirTmp.resolve("documents.parquet").toString)
    val ch = TextAnalysis.cdcChunks(spark, dirTmp.toString)
      .as[(Long, Long, Long, String)].collect().toSeq
    val h0 = ch.filter(_._1 == 0L).map(_._4)
    val h1 = ch.filter(_._1 == 1L).map(_._4)
    // shared hashes (multiset intersection) cover all but a few chunks
    // on each side — the edit is LOCAL in chunk space
    val shared = (h0.groupBy(identity).keySet intersect h1.groupBy(identity).keySet)
      .toSeq.map(k => math.min(h0.count(_ == k), h1.count(_ == k))).sum
    assert(h0.size - shared <= 3, s"original lost ${h0.size - shared} of ${h0.size} chunks")
    assert(h1.size - shared <= 4, s"edited gained ${h1.size - shared} of ${h1.size} chunks")
    // determinism
    val again = TextAnalysis.cdcChunks(spark, dirTmp.toString)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(again == ch)
  }

  test("t29 bigram LM score: integer log contributions, OOV tally, zero-bigram totality") {
    // train side (doc_id % 10 < 8): (the,cat)=2 (cat,sat)=2 (the,dog)=1 (a,b)=5
    val docs = Seq(
      (0L, "the cat sat"), (1L, "the cat sat"), (2L, "the dog"),
      (3L, "a b"), (4L, "a b"), (5L, "a b"), (6L, "a b"), (7L, "a b"),
      // score side (doc_id % 10 >= 8)
      (8L, "the cat sat"),    // 2 known bigrams, cnt 2 each → 2·len(bin(2)) = 4
      (9L, "the bird flies"), // 2 bigrams, both OOV → score 0
      (18L, "single"),        // <2 tokens → zero bigrams, must still appear
      (19L, "a b"),           // cnt 5 → len(bin(5)) = 3 (the floor(log2)+1 path)
    ).toDF("doc_id", "text")
    val dirTmp = tempDir("t29fix")
    docs.write.mode("overwrite")
      .parquet(dirTmp.resolve("documents.parquet").toString)
    val out = TextAnalysis.bigramLmScore(spark, dirTmp.toString)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (8L, 2L, 0L, 4L),
      (9L, 2L, 2L, 0L),
      (18L, 0L, 0L, 0L),
      (19L, 1L, 0L, 3L)), s"got $out")
  }

  test("t29 kernel matches a driver-side reference on a seeded random corpus") {
    // 60 docs over a 12-word vocab: dense bigram collisions, doc
    // lengths 0-7 covering the empty/one-token edge cases
    val rnd = new scala.util.Random(41)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h", "i", "j", "k", "l")
    val corpus = (0L until 60L).map { id =>
      id -> Seq.fill(rnd.nextInt(8))(vocab(rnd.nextInt(vocab.length)))
    }
    val dirTmp = tempDir("t29prop")
    corpus.map { case (id, ts) => (id, ts.mkString(" ")) }
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(dirTmp.resolve("documents.parquet").toString)
    val got = TextAnalysis.bigramLmScore(spark, dirTmp.toString)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // plain-Scala recompute: sliding-window bigrams, Map counts,
    // contribution = bit length of the count (≡ length(bin(cnt)))
    val bigramsOf = (ts: Seq[String]) =>
      if (ts.length < 2) Seq.empty[(String, String)]
      else ts.sliding(2).map(p => (p(0), p(1))).toSeq
    val lm = corpus.filter(_._1 % 10 < 8)
      .flatMap(c => bigramsOf(c._2)).groupBy(identity).map { case (k, v) => k -> v.size }
    val exp = corpus.filter(_._1 % 10 >= 8).map { case (id, ts) =>
      val bgs = bigramsOf(ts)
      val oov = bgs.count(!lm.contains(_))
      val score = bgs.flatMap(lm.get).map(c => java.lang.Long.toBinaryString(c).length.toLong).sum
      (id, bgs.size.toLong, oov.toLong, score)
    }.sortBy(_._1)
    assert(got == exp, s"kernel diverges from reference:\n$got\nvs\n$exp")
  }

  test("t30 BPE merges match a driver-side reference (greedy apply, count-desc/pair-asc ties)") {
    // the classic BPE corpus shape + an accented word (code-point path)
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest") ++
      Seq.fill(4)("été")).mkString(" ")
    val dirTmp = tempDir("t30fix")
    Seq((0L, text), (1L, "low low newest"))
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(dirTmp.resolve("documents.parquet").toString)
    val got = TextAnalysis.bpeMerges(spark, dirTmp.toString, k = 6)
      .as[(Long, String, String, Long)].collect().toSeq

    // plain-Scala reference over the SAME word counts
    val words = Map("low" -> 7L, "lower" -> 2L, "newest" -> 7L,
      "widest" -> 3L, "été" -> 4L)
    var vocab = words.toSeq.map { case (w, c) => (w.map(_.toString).toVector, c) }
    val exp = (1 to 6).flatMap { r =>
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      vocab.foreach { case (syms, c) =>
        syms.sliding(2).filter(_.length == 2).foreach { p =>
          counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + c
        }
      }
      if (counts.isEmpty) None
      else {
        val ((l, rr), pc) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        vocab = vocab.map { case (syms, c) =>
          val out = Vector.newBuilder[String]; var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == rr) {
              out += (l + rr); i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.result(), c)
        }
        Some((r.toLong, l, rr, pc))
      }
    }
    assert(got == exp, s"BPE diverges from reference:\n$got\nvs\n$exp")
    // sanity on the corpus itself: the first merges come from the
    // heavy 'newest'/'low' mass, and ranks are 1..6
    assert(got.map(_._1) == (1L to 6L))

    // t31 on the same fixture: per-doc counts under the trained vocab
    // must equal the reference segmentation (greedy apply per word,
    // merges in rank order), and sit strictly between the word count
    // and the char count for this merge-heavy corpus
    val enc = TextAnalysis.bpeEncode(spark, dirTmp.toString, k = 6)
      .as[(Long, Long)].collect().toMap
    val refMerges = exp.map { case (_, l, r, _) => (l, r) }
    def segCount(w: String): Long = {
      var syms = w.map(_.toString).toVector
      refMerges.foreach { case (l, r) =>
        val out = Vector.newBuilder[String]; var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += (l + r); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
      syms.length.toLong
    }
    val doc0 = text.split(" ").map(segCount).sum
    val doc1 = "low low newest".split(" ").map(segCount).sum
    assert(enc == Map(0L -> doc0, 1L -> doc1),
      s"encode diverges: $enc vs (${doc0}, ${doc1})")
    assert(doc0 < text.replace(" ", "").length && doc0 > text.split(" ").length)
  }

  test("t37 batched-vocab usage audit: conserves t34's token mass; top-25 is a prefix") {
    // conservation: summing the FULL frequency table (topN unbounded)
    // equals the t34 per-doc meter's corpus total — the audit and the
    // meter count the same trained tokens (the one-denomination
    // contract), and the registered top-25 is a prefix of that table
    val full = TextAnalysis.bpeTokenFreqsBatched(spark, sf, topN = Int.MaxValue)
      .as[(String, Long, Long, Long)].collect().toSeq
    val meterTotal = TextAnalysis.bpeEncodeBatched(spark, sf)
      .agg(sum($"n_bpe_tokens")).as[Long].head
    assert(full.map(_._2).sum == meterTotal,
      s"audit mass ${full.map(_._2).sum} != meter total $meterTotal")
    val top = TextAnalysis.bpeTokenFreqsBatched(spark, sf)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(top == full.take(25), "registered top-25 must be a prefix of the full table")
    top.foreach { case (tok, cnt, nc, cc) =>
      assert(tok.nonEmpty && nc == tok.length.toLong && cc == cnt * nc)
    }
  }

  test("t32 trained-vocab token frequencies match the reference segmentation") {
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest") ++
      Seq.fill(4)("été")).mkString(" ")
    val dirTmp = tempDir("t32fix")
    Seq((0L, text), (1L, "low low newest"))
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(dirTmp.resolve("documents.parquet").toString)

    // reference: train merges (same greedy argmax reference as the t30
    // test), segment every word occurrence, count tokens corpus-wide
    val words = Seq("low" -> 7L, "lower" -> 2L, "newest" -> 7L,
      "widest" -> 3L, "été" -> 4L)
    var vocab = words.map { case (w, c) => (w.map(_.toString).toVector, c) }
    val merges = (1 to 6).flatMap { _ =>
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      vocab.foreach { case (syms, c) =>
        syms.sliding(2).filter(_.length == 2).foreach { p =>
          counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + c
        }
      }
      if (counts.isEmpty) None
      else {
        val ((l, rr), _) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        vocab = vocab.map { case (syms, c) =>
          val out = Vector.newBuilder[String]; var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == rr) {
              out += (l + rr); i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.result(), c)
        }
        Some((l, rr))
      }
    }
    def segment(w: String): Vector[String] = {
      var syms = w.map(_.toString).toVector
      merges.foreach { case (l, r) =>
        val out = Vector.newBuilder[String]; var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += (l + r); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
      syms
    }
    val corpusTokens = (text.split(" ") ++ "low low newest".split(" "))
      .toSeq.flatMap(segment)
    val expAll = corpusTokens.groupBy(identity).map { case (t, v) =>
      (t, v.size.toLong, t.length.toLong, v.size.toLong * t.length)
    }.toSeq.sortBy { case (t, c, _, _) => (-c, t) }

    val got = TextAnalysis.bpeTokenFreqs(spark, dirTmp.toString, k = 6, topN = 25)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == expAll.take(25), s"freqs diverge:\n$got\nvs\n${expAll.take(25)}")
    // coverage sanity: token counts weighted by length reconstruct the
    // corpus' non-space char mass exactly (merges never drop chars)
    val charMass = (text + " low low newest").count(!_.isWhitespace).toLong
    assert(expAll.map(_._4).sum == charMass)
  }

  test("t33 batched BPE matches a driver-side reference; fixture rounds full and disjoint") {
    // toy corpus (t30's), small batch shape: 3 rounds x up to 2
    // disjoint merges from the top-8 candidates
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest") ++
      Seq.fill(4)("été")).mkString(" ")
    val dirTmp = tempDir("t33fix")
    Seq((0L, text), (1L, "low low newest"))
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(dirTmp.resolve("documents.parquet").toString)
    val got = TextAnalysis.bpeTrainBatched(spark, dirTmp.toString,
      rounds = 3, m = 2, cand = 8)

    // plain-Scala batched reference over the SAME word counts: rank
    // round-start pair counts by (count DESC, pair ASC), greedily take
    // up to m symbol-disjoint pairs from the top cand, apply them in
    // rank order (sequential passes == the chained replace contract)
    val words = Map("low" -> 7L, "lower" -> 2L, "newest" -> 7L,
      "widest" -> 3L, "été" -> 4L)
    var vocab = words.toSeq.map { case (w, c) => (w.map(_.toString).toVector, c) }
    var rank = 0L
    val exp = (1 to 3).flatMap { _ =>
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      vocab.foreach { case (syms, c) =>
        syms.sliding(2).filter(_.length == 2).foreach { p =>
          counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + c
        }
      }
      val ranked = counts.toSeq.sortBy { case ((a, b), c) => (-c, a, b) }.take(8)
      val used = scala.collection.mutable.Set[String]()
      val sel = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
      ranked.foreach { case ((a, b), c) =>
        if (sel.size < 2 && !used(a) && !used(b)) {
          used += a; used += b; sel += ((a, b, c))
        }
      }
      sel.map { case (l, rr, pc) =>
        vocab = vocab.map { case (syms, c) =>
          val out = Vector.newBuilder[String]; var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == rr) {
              out += (l + rr); i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.result(), c)
        }
        rank += 1; (rank, l, rr, pc)
      }
    }
    assert(got == exp, s"batched BPE diverges from reference:\n$got\nvs\n$exp")

    // real fixture at the registered shape: 8 full rounds of 8 (64
    // dense ranks ⇒ every round filled, so round boundaries are the
    // 8-blocks), every round's batch pairwise symbol-disjoint, and
    // the very first selection equals sequential t30's first merge
    // (identical round-1 ranking)
    val full = TextAnalysis.bpeTrainBatched(spark, sf, 8, 8, 64)
    assert(full.map(_._1) == (1L to 64L), "64 dense global ranks")
    full.grouped(8).foreach { block =>
      // disjoint ACROSS pairs (a self-pair like (g,g) is one symbol):
      // the union of per-pair symbol sets must not lose any element
      val perPair = block.map { case (_, l, r, _) => Set(l, r) }
      assert(perPair.map(_.size).sum == perPair.reduce(_ ++ _).size,
        s"round batch must be symbol-disjoint: $block")
    }
    val seq1 = TextAnalysis.bpeTrain(spark, sf, 1).head
    assert((full.head._2, full.head._3) == (seq1._2, seq1._3),
      "batched merge #1 must equal sequential merge #1")

    // t35: the persisted artifact round-trips losslessly — the loaded
    // merge table equals the fresh one, and encoding from it equals
    // encoding from the in-memory trainer output
    val idxDir = tempDir("t35idx").toString
    val persisted = TextAnalysis.bpeEncodePersisted(spark, sf, Some(idxDir))
      .as[(Long, Long)].collect().toSeq
    val loadedMerges = spark.read.parquet(s"$idxDir/merges.parquet")
      .orderBy(col("merge_rank"))
      .as[(Long, String, String, Long)].collect().toSeq
    assert(loadedMerges == full, "persist/load must round-trip the merge table")
    val fresh = graft.Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(TextAnalysis.bpeTokensCol(full, col("text"))).cast("long"))
      .orderBy(col("doc_id"))
      .as[(Long, Long)].collect().toSeq
    assert(persisted == fresh, "encode-from-loaded must equal encode-from-fresh")
  }

  test("t31 inverse: decode(encode(doc)) == normalized doc, fixture + ScalaCheck") {
    // BPE merges are concatenative — every learned token is a literal
    // substring of the input — so detokenization is concat, and
    // concat(tokens(x)) must equal normalize(x) minus whitespace for
    // ANY input. A merge-ordering bug (wrong gap width, an overlap
    // consumed twice, a symbol dropped at a word edge) breaks this
    // identity even when per-doc token COUNTS happen to survive, which
    // is why no oracle row would localize it.
    val merges = TextAnalysis.bpeTrain(spark, sf, 8)
    assert(merges.size == 8)
    val toks = TextAnalysis.bpeTokensCol(merges, col("text"))
    def expected(c: org.apache.spark.sql.Column) =
      regexp_replace(TextFns.normalizeText(c), "\\s+", "")
    // 1) every fixture document, through the SAME column chain t31 runs
    val fixtureBad = graft.Tables.documents(spark, sf)
      .select(concat_ws("", toks).as("decoded"),
        expected(col("text")).as("exp"))
      .filter(col("decoded") =!= col("exp")).count()
    assert(fixtureBad == 0L, s"$fixtureBad fixture docs fail decode∘encode=id")
    // 2) ScalaCheck adversarial inputs: strings drawn from the learned
    // merge SYMBOLS themselves (chained/overlapping merge patterns are
    // the worst case for a greedy-apply bug) plus whitespace/punct,
    // deterministic via per-case seeds
    import org.scalacheck.Gen
    val symbolChars = merges.flatMap { case (_, l, r, _) => (l + r).toCharArray }
      .distinct
    val atomGen = Gen.frequency(
      (4, Gen.oneOf(symbolChars).map(_.toString)),
      (2, Gen.oneOf(merges.map { case (_, l, r, _) => l + r })),
      (1, Gen.oneOf(" ", "  ", ", ", ". ", "-", "!")),
      (1, Gen.alphaLowerChar.map(_.toString)))
    val docGen = Gen.listOfN(40, atomGen).map(_.mkString)
    val cases = (1 to 200).flatMap { i =>
      docGen.apply(Gen.Parameters.default,
        org.scalacheck.rng.Seed(i.toLong)).toSeq
    }
    assert(cases.size >= 150, "seeded generation must mostly succeed")
    val genBad = cases.toDF("text")
      .select(col("text"), concat_ws("", TextAnalysis.bpeTokensCol(merges, col("text"))).as("decoded"),
        expected(col("text")).as("exp"))
      .filter(col("decoded") =!= col("exp"))
      .collect()
    assert(genBad.isEmpty,
      s"${genBad.length} generated inputs fail, first: ${genBad.headOption}")
    // 3) the identity must survive the 64-merge BATCHED vocab too —
    // 8× the chained replaces, same concatenative contract
    val batched = TextAnalysis.bpeTrainBatched(spark, sf, 8, 8, 64)
    val batchedBad = graft.Tables.documents(spark, sf)
      .select(concat_ws("", TextAnalysis.bpeTokensCol(batched, col("text"))).as("decoded"),
        expected(col("text")).as("exp"))
      .filter(col("decoded") =!= col("exp")).count()
    assert(batchedBad == 0L,
      s"$batchedBad fixture docs fail decode∘encode=id under the batched vocab")
  }
}
