package graft.tools

import java.nio.file.{Files, Paths}

import graft.{Bench, SparkEntry, Tables}
import graft.util.GraftSession
import org.apache.spark.sql.functions._

/** Scale-stress harness for the fixture-bound dedup/ANN/text paths:
  * materializes a `factor`× slice of the sf0.1 documents + embeddings
  * tables (deterministic id offsets; per-copy text/vector perturbation
  * so copies are NEAR-dups, not byte-dups — the adversarial case for
  * LSH bucketing and cluster resolution), symlinks the other tables,
  * and times the scale-path queries against the enlarged corpus.
  *
  * Usage: `runMain graft.tools.ScaleStress [factor] [outDir]`
  * (defaults 10, /tmp/graft_scale10; base dir from SPARK_GRAFT_SF_DIR
  * or sf0.1). Prints one JSON line per run, Bench-shaped.
  *
  * Copies multiply the near-dup density ~10×ΒΈ (every doc gains
  * `factor-1` high-Jaccard partners; every vector gains `factor-1`
  * cos≈0.999 partners), so the LSH pair/cluster stages face a far
  * DENSER problem than a plain 10× row-count scale — if a hot bucket
  * or driver collect were hiding anywhere in d03/d06/d10/d11/e0x, this
  * run finds it.
  */
object ScaleStress {
  def main(args: Array[String]): Unit = {
    val factor = if (args.length > 0) args(0).toInt else 10
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_scale10"
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    val cpus = spark.sparkContext.defaultParallelism

    Files.createDirectories(Paths.get(outDir))
    // id offset per copy keeps ids disjoint AND keeps the bounded
    // oracle slices (doc_id < 250 anchors) on the original rows only
    val off = 1000000L

    if (!Files.exists(Paths.get(s"$outDir/documents.parquet"))) {
      val docs = Tables.documents(spark, base)
      (0 until factor).map { i =>
        docs.select(
          (col("doc_id") + lit(i * off)).as("doc_id"),
          (if (i == 0) col("text")
           else concat(col("text"), lit(s" variant copy $i"))).as("text"),
          col("lang"), col("source"))
          // keep the fixture invariant n_chars == length(text) for the
          // perturbed copies too (t02 reads this column directly)
          .withColumn("n_chars", length(col("text")).cast("long"))
          .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      }.reduce(_.unionByName(_))
        .repartition(cpus)
        .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

      val emb = Tables.embeddings(spark, base)
      (0 until factor).map { i =>
        emb.select(
          (col("vec_id") + lit(i * off)).as("vec_id"),
          (if (i == 0) col("embedding")
           else transform(col("embedding"),
             (x, j) => x + lit(0.01f * i) * (j % 7 - 3).cast("float")))
            .as("embedding"),
          col("label"))
      }.reduce(_.unionByName(_))
        .repartition(cpus)
        .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

      Tables.names.filterNot(n => n == "documents" || n == "embeddings")
        .foreach { t =>
          val link = Paths.get(s"$outDir/$t.parquet")
          if (!Files.exists(link))
            Files.createSymbolicLink(link, Paths.get(s"$base/$t.parquet"))
        }
    }

    // the scale-path subset: everything that reads documents/embeddings
    // and is meant to survive 100 TB. Excludes the bounded O(n²) oracle
    // anchors' unbounded sibling (e03 would be 20k² pairs by DESIGN
    // refusal — its require() guard is the point) but keeps the bounded
    // ones (d08/d10/d07 anchor on the doc_id<250 slice regardless of
    // corpus size).
    val subset = Seq(
      "d01_exact_dedup", "d02_fingerprint_dedup", "d03_minhash_lsh",
      "d04_simhash", "d05_ngram_jaccard", "d06_embedding_neardup",
      "d07_curation_pipeline", "d08_jaccard_exact_pairs",
      "d09_priority_dedup", "d10_dup_clusters", "d11_curation_lsh",
      "e01_knn_brute", "e02_knn_lsh", "e04_knn_ivf", "e06_knn_ivf_kmeans",
      "e07_knn_pq", "e08_recall_audit",
      "t02_doc_quality", "t03_token_counts", "t04_term_frequencies",
      "t05_langid_confusion", "t06_fingerprints", "t08_winnowing",
      "t09_text_match", "t10_bm25", "t11_heavy_hitters",
      "t12_heavy_hitters_exact", "t13_pii_redaction", "t14_repetition",
      "t15_collocations", "q50_inverted_index",
      // round-5 additions. The copy-variant corpus is ADVERSARIAL for
      // d13/d15: every span of every original is duplicated across all
      // `factor` copies, so the span aggregation and coverage join run
      // at near-100% dup density; d14's title blocks grow `factor`×.
      "d12_decontamination", "d13_substring_dups", "d14_fuzzy_pairs",
      "d15_substring_coverage", "q57_sequence_pack", "q58_token_budget_mix",
      "t16_chunking", "t17_quantile_filter", "t18_rank_fusion",
      // round-5 second batch: the copy corpus gives every vector
      // `factor-1` cos≈0.999 partners, so the d17 sweep faces maximal
      // redundancy (kept set stays near the original corpus size while
      // input grows factor×) and the e09 integer shortlist must keep
      // ranks stable under dense near-ties
      "d17_semantic_dedup", "d18_url_dedup", "e09_knn_int8", "t19_quality_classifier",
      "e10_knn_filtered", "e11_knn_mmr", "q59_cluster_split",
      "e12_knn_join", "q61_text_roundtrip", "q62_xml_roundtrip",
      // round-5 tail: Avro container + message codec over the 10×
      // documents (per-row encode/decode throughput is the point)
      "q63_avro_roundtrip", "q64_avro_messages",
      // round-6: the copy corpus is adversarial for paragraph dedup —
      // every chunk of every original recurs in all `factor` copies
      // (the min-struct aggregate must combine map-side, not sort);
      // q68's two-pass numbering scales with the sort, not the window
      "d19_paragraph_dedup", "q68_stable_ids",
      // round-6: the copy corpus multiplies every bigram's corpus count
      // by `factor` — t21's count join runs at maximal key density;
      // d21's delta (everything ≥250) dedups against the stored index
      // at full corpus width; t22 is the map-only fold ceiling check
      "t21_bigram_novelty", "d21_incremental_dedup", "t22_accent_fold",
      // round-7 second batch: t25's frequency join runs with every
      // corpus count multiplied by `factor` (the Zipf head gets
      // heavier — exactly what the broadcast-head split is for); e14's
      // legs stay shortlist-bounded by construction (the fusion cost
      // must NOT grow); e15's cells hold factor× rows with cos≈0.999
      // near-ties (ADC shortlist rank stability under density)
      "t25_rare_token_score", "e14_hybrid_search", "e15_knn_ivf_pq",
      // round-7 third batch: the copy corpus is the worst case for the
      // EXACT join pair (every doc gains factor-1 partners ABOVE both
      // thresholds, so true-pair volume grows ~factor²·n while the
      // prefix filters must keep CANDIDATE volume near it, not at n²);
      // d23's one-sided prefix is 10% of each set at c=0.9 — the
      // strong-filter regime — while d22's τ=0.5 prefix is the weak
      // half-set regime, probing both ends of the family
      "d22_setsim_prefix", "d23_containment_join",
      // round-8: the two fixed-point-trained gates (e06 swapped
      // kernels, e13 newly scale-pathed here — build+append+query over
      // the 20k-vector corpus with cos≈0.999 near-ties per cell)
      "e13_knn_persisted",
      // round-8 second batch: the filtered probe through the fixed-
      // point index (the label predicate thins factor×-denser cells).
      // e17 is deliberately NOT stressed: it freezes the 16×6 bucket
      // geometry as the cross-engine semantic anchor, so at 10×
      // adversarial density it would reproduce the documented
      // pre-adaptive bucket collapse by construction — e12 (adaptive
      // sizing + hot-split) is the scale path and carries the stress
      // evidence; streaming drains (s13/s19) are likewise excluded —
      // the stress corpus writes multi-file parquet dirs the
      // pathGlobFilter file stream doesn't address
      "e16_knn_filtered_ivf",
      // round-8 third batch: CDC chunk explosion grows linearly with
      // the doc bytes (per-position predicate, no cross-row state)
      "t28_cdc_chunks",
      // round-9: the end-to-end pipeline at scale — the d11 LSH chain
      // over factor× docs feeding decontamination and packing
      "p01_corpus_pipeline",
      // round-9: cluster-weighted sampling — clusters ride the BOUNDED
      // exact-pair anchor (doc_id<250, same as q59), so what scales
      // here is the full-width unit/size join and the per-row md5
      // acceptance over factor× docs (the cluster-resolution scale
      // path itself is d11's LSH→CC chain, stressed separately)
      "d24_cluster_sample",
      // round-9 second batch: the copy corpus multiplies every bigram
      // count by factor (t29's LM join at maximal key density, the
      // t21/t25 regime) and hands p02's budget prefix a factor× tail
      // to prune before the local windows sort
      "t29_bigram_lm_score", "p02_ccnet_mixture",
      // round-9 third batch: BPE training — the corpus reduction grows
      // 10×, the vocab (and so every merge round) grows only with
      // Heaps' law; the copy-suffix words add vocab mass. The encode
      // pass is the map-only ceiling check (replace chain over 10×
      // bytes)
      "t30_bpe_merges", "t31_bpe_encode",
      // p03 composes mixture+encode+pack — the full tokenizer-aware
      // build over the 10× corpus
      "p03_tokenized_pack",
      // round-10: p05 = temperature-balance → trained-token meter →
      // pack; p04's stats agg grows 10× but stays |langs| rows, the
      // meter is the map-only t31 closure, the pack window rides the
      // shard partitioning — wall should track t31's near-flat shape
      "p05_temperature_pack",
      // round-10: batched BPE at 64 merges — per-round cost must stay
      // vocab-bound (the t30 argument at 8× the merge count)
      "t33_bpe_merges_batched", "t34_bpe_encode_batched",
      // round-10: d27 = the sampling step on the REAL cluster path —
      // d03's LSH chain → connected components → unit sizes over the
      // full factor× corpus at adversarial near-dup density (d24's
      // stress above only exercised the sampling join; this one
      // carries the cluster-resolution scale claim end-to-end)
      "d27_cluster_sample_lsh",
      // round-11: the alternate-shape gates from the parameterized
      // oracle builders — t36's 4×16×128 trainer faces the same 10×
      // corpus reduction as t33, e20's 16-dim projection is the
      // map-only half-width JL kernel
      "t36_bpe_merges_batched_alt", "e20_random_projection_alt",
      // round-11: the index-health audit over the full e13 cycle at
      // factor× corpus — build stays base-bounded, the frozen append
      // and the occupancy groupBy carry the growth
      "e21_index_occupancy",
      // round-11: the usage audit at the production vocab — the t32
      // explode shape with the 64-deep replace chain over 10× bytes
      "t37_bpe_token_freqs_batched",
      // round-12: the alternate 16×2 band geometry — 2-component keys
      // collide far more at copy density (the recall-leaning trade),
      // probing the guarded chain's worst banding shape
      "d28_minhash_lsh_alt",
      // round-12: the incremental-refresh capstone — index build over
      // the sub-split base + guarded delta detect + decontam + pack;
      // at 10× the delta is ~the whole copy corpus, so this rides the
      // guarded two-sided probe at adversarial density (the degenerate
      // hot-bucket case is GuardStress's, not this one)
      "p06_incremental_refresh",
      // round-12: the datasheet — rides the p01 chains plus one
      // count-distinct over md5(norm) (16-byte keys at factor× rows)
      // and the two mix groupBys (|langs|/|sources| rows); wall should
      // track p01's
      "p07_datasheet",
      // round-13: the index LIFECYCLE gates — d29 appends the ~whole
      // copy corpus in two increments with a compaction rewrite
      // between (two guarded two-sided probes at adversarial density +
      // the compaction's coalesce/merge); d30 retires history docs
      // through both tombstone paths and probes the full delta
      "d29_index_compaction", "d30_index_tombstone",
      // round-14: geometry migration of the factor× index — re-band
      // 8×4→16×2 from the persisted signatures, then the full-delta
      // probe at the DENSER recall-leaning geometry (the collision
      // volume, not the re-band itself, is the scale question)
      "d31_index_reband",
      // round-13: the ANN lifecycle — e13's build/frozen-append over
      // the factor× corpus, then the in-place retrain (full-corpus
      // fixed-point training + total re-assignment + staged swap)
      "e22_index_retrain",
      // round-14: ANN takedowns at scale — tombstone two residue
      // classes of the factor× corpus, retrain-fold one, live-hide the
      // other, query through the visibility filter
      "e23_index_tombstone",
      // round-14: the cheap between-retrains maintenance pass — fold +
      // coalesce of the factor× inverted lists with frozen centroids
      "e24_index_compaction")

    // SPARK_GRAFT_ONLY=name1,name2 narrows the run (iteration / probes)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val chosen = only.fold(subset)(o => subset.filter(o.contains))

    // one untimed warmup pass at the small fixture (JIT/codegen)
    chosen.foreach { n =>
      try SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
    }
    Bench.dropAllStorage(spark)

    // steady state, same contract as graft.Bench since round 6: two
    // timed reps with full storage drops between (rep 1 doubles as the
    // at-scale JIT warmup), report the min — in-sequence single-pass
    // numbers measured first-execution compile cost once the suite
    // grew (r5's e12 84s-in-sequence vs 24s warm standalone).
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    val results = chosen.map { name =>
      var rows = -1L
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        rows = try SparkEntry.queries(name)(spark, outDir).count()
               catch { case e: Throwable =>
                 System.err.println(s"[scale] $name FAILED: ${e.getMessage}"); -1L }
        val dt = (System.nanoTime() - t0) / 1e9
        Bench.dropAllStorage(spark)
        dt
      }
      val dt = times.min
      println(f"""[scale] $name rows=$rows sec=$dt%.2f""")
      name -> (dt, rows)
    }
    val qs = results.map { case (k, (v, r)) => s""""$k":{"sec":$v,"rows":$r}""" }
      .mkString("{", ",", "}")
    val total = results.map(_._2._1).sum
    println(s"""{"metric":"scale${factor}x_total","value":$total,"unit":"sec","queries":$qs,"base":"$base"}""")
    spark.stop()
  }
}
