package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Dedup, Relational, Similarity, TextAnalysis}
import graft.streaming.Streams

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator in SURVEY.md §2 (plus the training-data-pipeline
  * extensions, §2.11) is registered here as a named query; the ones
  * whose semantics are ANSI-SQL-expressible carry a DuckDB oracle in
  * [[oracleSql]] (names + column aliases match exactly — the driver
  * sorts columns by name and hash-compares values). Hash-dependent
  * (murmur3/xxhash64) and approximate operators are registered without
  * an oracle → rows-only check.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's active pipeline shape (csv-tech): IN-list filter →
    * projection → text-normalization chain (SURVEY §2.2, §2.5).
    */
  def entry(spark: SparkSession): DataFrame =
    TextAnalysis.normalizePipeline(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // — relational core (SURVEY §2.2-§2.8) —
    "q01_pricing_summary"   -> (Relational.pricingSummary _),
    "q02_filter_project"    -> (Relational.filterProject _),
    "q03_revenue_by_nation" -> (Relational.revenueByNation _),
    "q04_customers_per_region" -> (Relational.customersPerRegion _),
    "q05_region_supplier_matrix" -> (Relational.regionSupplierMatrix _),
    "q06_semi_join"         -> (Relational.semiJoin _),
    "q07_anti_join"         -> (Relational.antiJoin _),
    "q08_topk_orders"       -> (Relational.topKOrders _),
    "q09_latest_order_per_customer" -> (Relational.latestOrderPerCustomer _),
    "q10_running_supplier_revenue"  -> (Relational.runningSupplierRevenue _),
    "q11_union_slices"      -> (Relational.unionSlices _),
    "q12_intersect_keys"    -> (Relational.intersectKeys _),
    "q13_except_keys"       -> (Relational.exceptKeys _),
    "q14_rollup_counts"     -> (Relational.rollupCounts _),
    "q15_cube_counts"       -> (Relational.cubeCounts _),
    "q16_distinct_customers" -> (Relational.distinctCustomersPerPriority _),
    "q17_monthly_orders"    -> (Relational.monthlyOrderStats _),
    "q18_json_extract"      -> (Relational.jsonExtract _),
    "q19_order_buckets"     -> (Relational.orderSizeBuckets _),
    "q20_keyed_upsert"      -> (Relational.keyedUpsertLatest _),
    "q21_above_cust_avg"    -> (Relational.aboveCustomerAverage _),
    "q22_topk_per_group_agg" -> (Relational.topOrdersPerPriorityAgg _),
    "q23_approx_distinct"   -> (Relational.approxDistinctParts _),
    // q84: the engine-portable distinct sketch (KMV over md5-60-bit
    // hashes) — approximate counting that hash-checks, where q23's
    // engine-internal HLL cannot
    "q84_kmv_distinct"      -> ((s: SparkSession, dir: String) =>
      Relational.kmvDistinct(s, dir)),
    // q85/q86: the event-dashboard pair — ordered funnel + retention
    // cohorts, integer time algebra, user-keyed shuffles only
    "q85_funnel_steps"      -> (Relational.funnelSteps _),
    "q86_retention_cohorts" -> (Relational.retentionCohorts _),
    // q67: exact distinct via mergeable per-bucket bitmaps — the
    // persistable/incremental alternative to count(DISTINCT)
    "q67_bitmap_distinct"   -> (Relational.bitmapDistinct _),
    "q24_sql_shipping_priority" -> (Relational.shippingPriority _),
    "q25_from_json_events"  -> (Relational.fromJsonEvents _),
    // q65: same payload through Spark 4's VARIANT (parse_json +
    // variant_get) — parse-once shredded semi-structured path
    "q65_variant_events"    -> (Relational.variantEvents _),
    "q26_orders_year_quarter" -> (Relational.ordersByYearQuarter _),
    "q27_trailing_30d_revenue" -> (Relational.trailing30dRevenue _),
    "q28_grouping_sets"     -> (Relational.groupingSets _),
    "q29_pivot_status"      -> (Relational.pivotStatusCounts _),
    "q30_price_quantiles"   -> (Relational.priceQuantiles _),
    "q31_asof_join"         -> (graft.operators.AsOf.purchasesWithPriorClick _),
    "q33_exists_agg"        -> (Relational.priorityWithBigLines _),
    "q34_order_distribution" -> (Relational.customerOrderDistribution _),
    "q32_range_join"        -> (graft.operators.AsOf.purchaseClickProximity _),
    "q35_salted_agg"        -> (graft.operators.Skew.saltedReturnflagAgg _),
    "q37_csv_roundtrip"     -> (Relational.csvRoundTrip _),
    "q39_value_distribution" -> (Relational.orderValueDistribution _),
    "q40_promo_revenue"     -> (Relational.revenueByPartType _),
    "q38_json_roundtrip"    -> (Relational.jsonRoundTrip _),
    "q36_salted_join"       -> (graft.operators.Skew.saltedSupplierRevenue _),
    // — curation: deterministic splits / balanced sampling (SURVEY §2.11) —
    "q41_deterministic_split" -> (graft.operators.Curation.deterministicSplit _),
    "q42_balanced_sample"   -> ((s: SparkSession, dir: String) => graft.operators.Curation.balancedSample(s, dir)),
    "q54_weighted_mix"      -> ((s: SparkSession, dir: String) => graft.operators.Curation.weightedMix(s, dir)),
    "q57_sequence_pack"     -> ((s: SparkSession, dir: String) => graft.operators.Curation.sequencePack(s, dir)),
    "q58_token_budget_mix"  -> ((s: SparkSession, dir: String) => graft.operators.Curation.tokenBudgetMix(s, dir)),
    "d12_decontamination"   -> ((s: SparkSession, dir: String) => graft.operators.Curation.decontaminate(s, dir)),
    "d16_decontaminate_bloom" -> ((s: SparkSession, dir: String) => graft.operators.Curation.decontaminateBloom(s, dir)),
    // — physical layout: format round trip, partition pruning, bucketed
    //   co-located join, Z-order clustering —
    "q43_orc_roundtrip"     -> (graft.operators.Layout.orcRoundTrip _),
    // q61/q62: the remaining format surface — raw line-oriented text
    // (the LLM-corpus arrival format) and Spark 4's built-in XML
    "q61_text_roundtrip"    -> (graft.operators.Layout.textRoundTrip _),
    "q62_xml_roundtrip"     -> (graft.operators.Layout.xmlRoundTrip _),
    // q63/q64: the Avro leg — file container + to_avro/from_avro
    // message codec (the Kafka payload shape)
    "q63_avro_roundtrip"    -> (graft.operators.Layout.avroRoundTrip _),
    "q64_avro_messages"     -> (graft.operators.Layout.avroMessages _),
    "q44_partitioned_prune" -> (graft.operators.Layout.partitionedPrune _),
    "q45_bucketed_join"     -> (graft.operators.Layout.bucketedJoin _),
    "q46_zorder_scan"       -> (graft.operators.Layout.zOrderScan _),
    "q56_partition_overwrite" -> (graft.operators.Layout.partitionOverwrite _),
    // q68: contiguous global row ids via range-partition + per-partition
    // offsets — the scalable plan for row_number() OVER (ORDER BY k),
    // which Spark would otherwise run in ONE task
    "q68_stable_ids"        -> (graft.operators.Layout.stableIdsQuery _),
    // q76/q77: bucketing pays off for GROUP BY (Exchange-free agg) and
    // dynamic partition pruning (runtime join-driven partition skip)
    "q76_bucketed_agg"      -> (graft.operators.Layout.bucketedAgg _),
    "q77_dynamic_prune"     -> (graft.operators.Layout.dynamicPartitionPrune _),
    // — warehouse maintenance: MERGE + SCD2 history —
    "q47_merge_upsert"      -> (Relational.mergeUpsert _),
    // q60: incremental view maintenance — merge delta partials into
    // stored partials, never rescan the base; oracle = full recompute
    "q60_incremental_agg"   -> (Relational.incrementalAgg _),
    "q48_scd2_intervals"    -> (Relational.scd2Intervals _),
    // — runtime join filtering —
    "q55_bloom_join"        -> (Relational.bloomFilteredRevenue _),
    "q49_compaction"        -> (graft.operators.Layout.compaction _),
    "q50_inverted_index"    -> ((s: SparkSession, dir: String) => TextAnalysis.invertedIndexQuery(s, dir)),
    // — data quality: profiling, constraints, snapshot diff —
    "q51_profile_orders"    -> (graft.operators.DataQuality.profileOrders _),
    // q66: observe-based metrics riding a noop write — zero-extra-scan
    // profiling, vs q51's dedicated profiling scan
    "q66_observed_profile"  -> (graft.operators.DataQuality.observedProfile _),
    "q52_constraint_checks" -> (graft.operators.DataQuality.constraintChecks _),
    "q53_snapshot_diff"     -> (graft.operators.DataQuality.snapshotDiff _),
    "e03_cosine_pairs_exact" -> (Similarity.cosinePairsExact _),
    // — text analysis (SURVEY §2.5, §2.11) —
    "t01_normalize_pipeline" -> (TextAnalysis.normalizePipeline _),
    // t20: the same kernel through spark.sql TEXT via the registered
    // function surface (GraftFunctions/GraftExtensions)
    "t20_sql_text_kernels"   -> (TextAnalysis.sqlTextKernels _),
    "t02_doc_quality"        -> (TextAnalysis.docQuality _),
    "t03_token_counts"       -> (TextAnalysis.tokenCounts _),
    "t04_term_frequencies"   -> (TextAnalysis.termFrequencies _),
    "t05_langid_confusion"   -> (TextAnalysis.langIdConfusion _),
    "t06_fingerprints"       -> (TextAnalysis.fingerprints _),
    // t07: engine-portable integer-TF ranking (md5-bucket TF vectors,
    // exact dot²/(na·nb) rational) — the float hashingTfVec →
    // bruteForceTopK bridge stays the spec'd ANN-integration path
    "t07_doc_similarity"     -> (TextAnalysis.docSimilarityPortable _),
    "t08_winnowing"          -> (TextAnalysis.winnowingFingerprints _),
    "t09_text_match"         -> ((s: SparkSession, dir: String) => TextAnalysis.textMatch(s, dir)),
    "t10_bm25"               -> ((s: SparkSession, dir: String) => TextAnalysis.bm25Rank(s, dir)),
    "t11_heavy_hitters"      -> ((s: SparkSession, dir: String) => TextAnalysis.heavyHitters(s, dir)),
    "t12_heavy_hitters_exact" -> ((s: SparkSession, dir: String) => TextAnalysis.heavyHittersExact(s, dir)),
    "t13_pii_redaction"      -> (TextAnalysis.piiRedaction _),
    "t14_repetition"         -> (TextAnalysis.repetitionSignals _),
    "t15_collocations"       -> ((s: SparkSession, dir: String) => TextAnalysis.collocations(s, dir)),
    "t16_chunking"           -> ((s: SparkSession, dir: String) => TextAnalysis.chunkDocuments(s, dir)),
    "t17_quantile_filter"    -> (TextAnalysis.qualityQuantileFilter _),
    "t18_rank_fusion"        -> (TextAnalysis.rankFusion _),
    // t19: linear quality-classifier scoring — integer milli-unit
    // weights over counting features, so the score is oracle-exact
    "t19_quality_classifier" -> (TextAnalysis.qualityClassifier _),
    // — dedup (SURVEY §2.11) —
    "d01_exact_dedup"        -> (Dedup.exactDedup _),
    "d02_fingerprint_dedup"  -> (Dedup.fingerprintDedup _),
    // d03: the ENGINE-PORTABLE MinHash+LSH pipeline (md5-60-bit grams,
    // mod-M61 permutations) — hash-checked end-to-end by a DuckDB
    // oracle that reproduces signature, banding, prefilter and verify
    "d03_minhash_lsh"        -> (Dedup.minHashDedupPortable _),
    // d04/d05: engine-portable like d03
    "d04_simhash"            -> (Dedup.simHashDedupPortable _),
    "d05_ngram_jaccard"      -> (Dedup.ngramJaccardDedupPortable _),
    // d28: d03 at the alternate 16×2 band geometry (recall-leaning) —
    // same signatures/prefilter/verify, geometry threaded through the
    // parameterized chain on BOTH engines (the e20/t36 builder pattern)
    "d28_minhash_lsh_alt"    -> (Dedup.minHashDedupPortableAlt _),
    // d06: engine-portable like d03/d04/d05 — md5-derived Rademacher
    // hyperplanes instead of a seeded Gaussian RNG
    "d06_embedding_neardup"  -> (Dedup.embeddingNearDupPortable _),
    // d07 = the flagship pipeline on the exact-Jaccard kernel over the
    // bounded slice (fully oracle-checked); d11 = the identical
    // pipeline with MinHash+LSH near-dup — the scale path, rows-only
    "d07_curation_pipeline"  -> ((s: SparkSession, dir: String) => graft.jobs.CurationJob.curateExact(s, dir)),
    "d11_curation_lsh"       -> (graft.jobs.CurationJob.curate _),
    "d08_jaccard_exact_pairs" -> ((s: SparkSession, dir: String) => Dedup.jaccardExactPairs(s, dir)),
    // d26: the e08 calibration pattern for the DEDUP family — each
    // method's slice recall vs the exact ≥0.6 anchor, floor-gated
    // (below-floor methods vanish from the row set)
    "d26_dedup_recall_audit" -> (Dedup.dedupRecallAudit _),
    // d29/d30: the persisted-index LIFECYCLE — append cycles with a
    // compaction rewrite in the middle (d29) and takedown/tombstone
    // retirement through both the probe-time anti-join and the
    // compaction fold (d30); both hash-checked against the closed-form
    // d03 CTE chain
    "d29_index_compaction"   -> (Dedup.indexCompactionCycle _),
    "d30_index_tombstone"    -> (Dedup.indexTombstoneCycle _),
    // d31: live-index GEOMETRY MIGRATION — build at 8×4, re-band to
    // 16×2 from the persisted signatures (no re-shingle), probe the
    // delta at the migrated geometry; hash-checked against the d28
    // closed-form chain (migration ≡ rebuild-at-the-new-geometry)
    "d31_index_reband"       -> (Dedup.indexRebandCycle _),
    "d09_priority_dedup"     -> (graft.operators.Curation.priorityDedup _),
    "d10_dup_clusters"       -> ((s: SparkSession, dir: String) => Dedup.dupClustersQuery(s, dir)),
    // d13/d14: partial-duplication detectors — cross-doc duplicated
    // char spans (substring dedup) and edit-distance title pairs with
    // prefix blocking; both bit-exact against the DuckDB oracle
    "d13_substring_dups"     -> (Dedup.substringDups _),
    "d14_fuzzy_pairs"        -> ((s: SparkSession, dir: String) => Dedup.fuzzyTitleDedup(s, dir)),
    "d15_substring_coverage" -> (Dedup.substringCoverage _),
    // d17: SemDeDup-style semantic dedup — fixed-point integer-Lloyd
    // cells + in-cluster greedy sweep on INTEGER quantized-normalized
    // dots since r8, so the survivor set hash-checks (oracle sweeps
    // via a recursive CTE)
    "d17_semantic_dedup"     -> (Dedup.semanticDedupPortableGate _),
    // d18: URL-keyed dedup — parse_url canonicalization chain
    // (host case, www., default port, trailing slash, tracking params,
    // fragments) + keep-min groupBy; oracle derives the canonical key
    // closed-form, pinning the whole normalize chain to its spec
    "d18_url_dedup"          -> (Dedup.urlDedup _),
    // d21: incremental dedup against a persisted fingerprint index —
    // per-batch cost scales with the delta, the corpus is never
    // rescanned; oracle proves increment ≡ full rebuild
    "d21_incremental_dedup"  -> (Dedup.incrementalDedup _),
    // d22: EXACT Jaccard-threshold set-similarity self-join via prefix
    // filtering (AllPairs/PPJoin) — deterministic completeness where
    // d03/d05 are probabilistic; oracle brute-forces all pairs, the
    // engine never does
    "d22_setsim_prefix"      -> (Dedup.setSimDedup _),
    // d23: EXACT containment-threshold join (|A∩B|/|A| ≥ 0.9) via
    // ONE-SIDED prefix filtering — the asymmetric decontamination/
    // quotation primitive; oracle brute-forces all ordered pairs
    "d23_containment_join"   -> (Dedup.containmentDedup _),
    // d24: cluster-weighted sampling — keep each doc with probability
    // 1/|near-dup cluster| via the portable md5-60-bit draw (expected
    // ONE survivor per cluster; singletons always kept): the
    // "discount duplicates, keep diversity" training-mix step, on the
    // d10 cluster units
    "d24_cluster_sample"     -> (Dedup.clusterWeightedSample _),
    // d27: the same sampling step on the SCALE path — clusters from
    // the portable MinHash-LSH pairs (signature-only shuffles, no
    // bounded-id anchor), gating the composition a 100 TB run uses
    "d27_cluster_sample_lsh" -> (Dedup.clusterWeightedSampleLsh _),
    // p01: the end-to-end training-corpus pipeline as ONE hash-checked
    // gate — d11's curate chain → d12's decontamination → q57's
    // sequence packing; the oracle composes the three proven chains,
    // so drift anywhere in the composition moves the final hash
    "p01_corpus_pipeline"    -> (graft.operators.Curation.corpusPipeline(_, _)),
    // p06: the INCREMENTAL refresh capstone — crawl delta vs the
    // PERSISTED LSH index (s19's build/append split, both joins behind
    // the hot-bucket guard, index side via the persisted size lookup)
    // → d12 decontamination → q57 packing of the increment; oracle =
    // the d03 chain's pairs at doc_b ≥ split + the nested d12/q57
    // statements (the p01 composition pattern over s19's closed form)
    "p06_incremental_refresh" -> (graft.operators.Curation.incrementalRefresh(_, _)),
    // p02: the CCNet-style quality-MIXTURE pipeline — quality gate →
    // integer bigram-LM milli-scores vs the %10<8 reference split →
    // per-lang head/middle/tail buckets relative to the per-lang
    // integer mean → language-balanced token budget via the q68
    // two-pass offsets shape (oracle = the naive global window)
    "p02_ccnet_mixture"      -> (graft.operators.Curation.ccnetMixture(_, _)),
    // p03: the tokenizer-aware corpus build — p02's mixture selection
    // metered by the batched 64-merge vocabulary (t33/t34, the same
    // denomination as s23/t35) and packed with q57's window; the
    // oracle nests the p02 + t34 statements verbatim (p01 pattern)
    "p03_tokenized_pack"     -> (graft.operators.Curation.tokenizedPack(_, _)),
    // p04: temperature (α=0.5) mixture resampling — per-lang keep rate
    // √(n_min/n) via the q54 stable hash-threshold; one count agg +
    // one broadcast-joined map-only filter, thresholds re-derived by
    // the oracle from its own GROUP BY
    "p04_temperature_mix"    -> ((s: SparkSession, dir: String) =>
      graft.operators.Curation.temperatureMix(s, dir)),
    // p05: the full multilingual recipe — p04's temperature resample
    // selects, the batched 64-merge vocabulary (t33/t34) meters,
    // q57's window packs; the oracle nests the p04 + t34 statements
    // verbatim (p01 pattern)
    "p05_temperature_pack"   -> ((s: SparkSession, dir: String) =>
      graft.operators.Curation.temperatureTokenizedPack(s, dir)),
    // p07: the corpus DATASHEET — the data card published next to the
    // corpus: raw/curated/contaminated/packed counts, pack + token
    // totals, per-lang and per-source shipped mix, all derived from
    // the same proven d11→d12→q57 chains so the report can never
    // drift from the pipeline it describes (oracle nests those
    // statements — the p01 composition pattern, aggregated)
    "p07_datasheet"          -> (graft.operators.Curation.datasheet(_, _)),
    // d19: CCNet/C4-style paragraph-level corpus dedup — keep each
    // distinct 10-word chunk's first (doc_id, pos) occurrence via an
    // algebraic min-struct aggregate (map-side combinable, no window
    // over the chunk key), reassemble surviving chunks per document
    "d19_paragraph_dedup"    -> (Dedup.paragraphDedup _),
    // — multimodal columns (SURVEY §2.11; image/audio decode REAL via
    //   JDK codecs, video decode = documented stub) —
    "m01_media_ann"          -> (graft.operators.Multimodal.mediaAnn _),
    "m02_media_dedup"        -> (graft.operators.Multimodal.mediaDedup _),
    "m03_media_frames"       -> (graft.operators.Multimodal.mediaFrameSample _),
    "m04_media_resize"       -> (graft.operators.Multimodal.mediaResize _),
    // m05: the missing first hop of the media story — files on disk →
    // binary column via the built-in binaryFile source, glob-pruned at
    // the listing, decoded by the same real JDK codec path
    "m05_media_ingest"       -> (graft.operators.Multimodal.mediaIngest _),
    // m06: perceptual (average-hash) near-dup over decoded pixels —
    // catches brightness-shifted re-encoded copies exact byte hashing
    // (m02) cannot; d04's banding scheme applied to images
    "m06_media_phash"        -> (graft.operators.Multimodal.mediaPerceptualDedup _),
    // m07: perceptual audio near-dup — gain-invariant energy hash over
    // decoded PCM through the d04 banding (rows-only: WAV bytes are
    // not SQL-derivable; planted-pair recovery spec'd)
    "m07_media_audiodedup"   -> (graft.operators.Multimodal.mediaAudioDedup _),
    // m08: perceptual VIDEO near-dup — temporal-luminance hash over
    // the decoded AVI/JPEG frames through the shared banded join
    // (rows-only: media byte streams are not SQL-derivable)
    "m08_media_videodedup"   -> (graft.operators.Multimodal.mediaVideoDedup _),
    // m09: the golden decode-digest table as a HARD oracle gate — one
    // row per fixture item, all three modalities; the DuckDB oracle is
    // the literal VALUES table of the pinned digests, so decode byte
    // drift fails a hash_match (the anchor for the rows-only m-family)
    "m09_media_digests"      -> (graft.operators.Multimodal.mediaDigests _),
    // — similarity search (SURVEY §2.11) —
    "e01_knn_brute"          -> (Similarity.knnBruteForce _),
    // e02: portable Rademacher banding, ids+rank output (the e01
    // oracle convention)
    "e02_knn_lsh"            -> (Similarity.knnLshPortable _),
    // e04: portable md5-ordered centroid selection; machinery
    // unchanged; ids+rank output
    "e04_knn_ivf"            -> ((s: SparkSession, dir: String) =>
      Similarity.knnIvfPortable(s, dir)),
    // e06: trained IVF with the Lloyd iterations in fixed-point
    // INTEGER arithmetic — the whole train→assign→probe→re-rank
    // pipeline hash-checks against an unrolled DuckDB CTE chain
    "e06_knn_ivf_kmeans"     -> (Similarity.knnIvfKmeansFixedPoint _),
    // e07: PQ with fixed-point integer train/encode/ADC — the whole
    // compressed-scan pipeline hash-checks
    "e07_knn_pq"             -> (Similarity.knnPqFixedPoint _),
    // e09: scalar int8 quantization (SQ8) — closed-form quantizer +
    // all-integer shortlist scores make this the one ANN index whose
    // shortlist AND final ranks are fully oracle-checked
    "e09_knn_int8"           -> (Similarity.knnInt8 _),
    // e10: filtered vector search — metadata predicate pruned at the
    // parquet scan BEFORE any distance arithmetic
    "e10_knn_filtered"       -> (Similarity.knnFiltered _),
    // e11: MMR diversified top-k — greedy relevance-vs-novelty rerank
    // over the e01 shortlist; PORTABLE integer scores since r8 (λ=1/2
    // makes the objective order the integer rel − maxSim), so the
    // greedy pick sequence hash-checks against k unrolled CTE steps
    "e11_knn_mmr"            -> (Similarity.knnMmrPortable _),
    // e12: kNN JOIN — top-k for EVERY row, both sides large (LSH
    // candidates, never O(n²); rows-only: the SCALE kernel keeps the
    // adaptive count-probe bucket sizing and hot-bucket re-split,
    // which are corpus-dependent). Since r9 the registered entry is
    // COUNT-ENCODED: rows = adaptive∩anchor agreement vs the
    // hash-checked e17 twin, zero rows below the pinned floor — the
    // adaptive path's health is gate-visible without freezing it
    "e12_knn_join"           -> (Similarity.knnJoinAudited _),
    // e17: the e12 shape with the engine-local pieces swapped portable
    // (md5-Rademacher bands at fixed 16×6, int8-of-normalized rider
    // codes, INTEGER per-band prune) — the corpus-vs-corpus join's
    // band/prune/re-rank semantics, cross-engine hash-checked
    "e17_knn_join_portable"  -> (Similarity.knnJoinQueryPortable _),
    // e18: JL random projection — 64-float embeddings → 32 integer
    // coordinates (Achlioptas ±1 matrix from md5, fixed-point
    // quantize); map-only fused kernel, integer-exact cross-engine
    // (r10: 16→32 dims — 16 broke its own distortion bound, see spec)
    "e18_random_projection"  -> ((s: SparkSession, dir: String) =>
      Similarity.randomProjection(s, dir)),
    // e20: e18 at dims=16 against the SAME parameterized oracle
    // builder — proof the (dims, scale) surface is open (projection
    // correctness is exact at any dims; the JL distortion/recall
    // bounds remain e18/e19's 32-dim story)
    "e20_random_projection_alt" -> ((s: SparkSession, dir: String) =>
      Similarity.randomProjection(s, dir, dims = 16)),
    // e19: kNN over the e18 sketches — integer-L2 shortlist (40) +
    // exact cosine re-rank to top-5 (the e09 two-phase shape); the
    // scan side reads the 32-long sketch, exact integer arithmetic
    "e19_knn_projected"      -> ((s: SparkSession, dir: String) =>
      Similarity.knnProjected(s, dir)),
    // e13: PERSISTED IVF index, fixed-point — build on the base slice,
    // frozen-centroid append of the delta, query the LOADED index;
    // hash-checked against the e06 CTE chain with base-restricted
    // training (s13 drives the same index from a stream)
    "e13_knn_persisted"      -> (Similarity.knnPersistedFixedPoint _),
    // e21: IVF index-occupancy audit — per-cell counts + id ranges
    // from the LOADED e13-cycle index (build base, frozen append
    // delta); the index-health signal that decides when frozen-append
    // drift warrants a re-train, hash-checked against the e13 CTE
    // chain's assignment stage
    "e21_index_occupancy"    -> (Similarity.indexOccupancy _),
    // e22: the IVF lifecycle CLOSED — e13's build/frozen-append cycle,
    // then the in-place staged RETRAIN the e21 audit exists to trigger;
    // the queried post-swap index must equal the from-scratch e06
    // chain bit-for-bit (retrain ≡ rebuild), so the oracle is e06's
    // verbatim — the d29 compaction-parity move on the ANN family
    "e22_index_retrain"      -> (Similarity.knnIndexRetrain _),
    // e23: IVF takedown/tombstone semantics — ids ≡3 (mod 7) retired
    // then FOLDED by the retrain, ids ≡5 hidden LIVE by the probe-time
    // visibility filter; hash-checked against the e06 chain minus the
    // retired rows (the d30 closed-form move on the ANN family)
    "e23_index_tombstone"    -> (Similarity.knnIndexTombstone _),
    // e24: IVF COMPACTION — coalesce the append-accreted inverted
    // lists and fold tombstones WITHOUT retraining (centroids frozen,
    // the cheap between-retrains maintenance pass); hash-checked
    // against the e13 chain minus the retired candidates
    "e24_index_compaction"   -> (Similarity.knnIndexCompaction _),
    "e05_cosine_range"       -> (Similarity.knnRange _),
    // e15: IVF+PQ composite (coarse cells bound rows touched, PQ codes
    // bound per-row cost — the FAISS-IVFPQ shape) with BOTH trained
    // structures fixed-point — cells, codes, and the ADC shortlist all
    // hash-check; recall pinned in e08
    "e15_knn_ivf_pq"         -> (Similarity.knnIvfPqFixedPoint _),
    // e16: FILTERED vector search through the IVF index — metadata
    // predicate pruning the assigned slice before the probe join,
    // nProbe widened for the filtered-recall hazard; fixed-point
    // training since r8, so the composition hash-checks (e10 stays
    // the exact filtered baseline)
    "e16_knn_filtered_ivf"   -> (Similarity.knnFilteredIvfFixedPoint _),
    // e08: in-gate ANN quality audit — recall of every approximate
    // index vs the e01 exact ranks. HASH-CHECKED since r9: the oracle
    // composes each audited method's own green DuckDB chain and counts
    // the same integer intersections. The output still contains ONLY
    // methods at-or-above their recallFloors floor, so a collapsed
    // index drops its row — gate-visible twice over.
    "e08_recall_audit"       -> (Similarity.recallAudit _),
    // — ingestion layer (SURVEY §2.1 S1-S5/S7/S9/S12, §3 E1): the
    //   production DSv2 + java.net.http path against an in-process
    //   reference-protocol stub whose offers derive from `customer` —
    "i01_ingest_offres"      -> (graft.jobs.IngestionGate.ingestOffres _),
    "i02_ingest_reconciliation" -> (graft.jobs.IngestionGate.ingestReconciliation _),
    "i03_empty_filter_scan"  -> (graft.jobs.IngestionGate.ingestEmptyFilter _),
    // q69: the F6 nested flatten + F11 JSON round trip as a dedicated
    // gate row — real lieuTravail structs built from customer, JSON-
    // encoded, permissively re-parsed, flattened by the export pipeline
    "q69_export_flatten"     -> (graft.sources.Offres.exportFlattenQuery _),
    // q70-q73: wide→long unpivot, correlated LATERAL (decorrelated by
    // Catalyst), the higher-order array-function surface, and
    // WITH RECURSIVE (Spark 4 UnionLoop) — each hash-matched against
    // the identical-semantics DuckDB form
    "q70_unpivot"            -> (Relational.unpivotMeasures _),
    "q71_lateral_topn"       -> (Relational.lateralTopN _),
    "q72_hof_arrays"         -> (Relational.hofArrays _),
    "q73_recursive_chain"    -> (Relational.recursiveChain _),
    // q78: multiset EXCEPT ALL / INTERSECT ALL (multiplicity-aware —
    // the distinct forms q12/q13 erase duplicate counts)
    "q78_multiset_ops"       -> (Relational.multisetOps _),
    // q79: correlated scalar subqueries in SELECT (decorrelated to
    // outer aggregate joins, COUNT-over-empty = 0)
    "q79_scalar_subqueries"  -> (Relational.scalarSubqueries _),
    // q80: MapType round trip (map_from_entries → map_keys → explode)
    "q80_map_roundtrip"      -> (Relational.mapRoundtrip _),
    // t23: Unicode NFC — planted decomposed pairs must recompose to
    // the oracle's precomposed literals
    "t23_nfc_normalize"      -> (TextAnalysis.nfcRoundtrip _),
    // q74/q75: forward fill (IGNORE NULLS running window) and pure-SQL
    // gap sessionization (the batch twin of s03's session_window) —
    // one shared SQL text per query runs on both engines
    "q74_forward_fill"       -> (Relational.forwardFill _),
    "q75_gap_sessionize"     -> (Relational.gapSessionize _),
    // t21: integer-exact bigram novelty/familiarity profile
    "t21_bigram_novelty"     -> (TextAnalysis.bigramNovelty _),
    // t22: accent folding (French diacritics) proven by plant+fold
    // round trip against the untouched original text
    "t22_accent_fold"        -> (TextAnalysis.accentFoldRoundtrip _),
    // q81: linear interpolation of planted gaps — q74's arithmetic
    // upgrade; integer-exact fraction, one shared window partitioning
    "q81_interpolate"        -> (Relational.linearInterpolate _),
    // q82: fixed-point integer PageRank (3 unrolled iterations) on the
    // customer↔supplier trading graph — bit-reproducible iterative
    // graph analytics, fully oracle-checked
    "q82_pagerank"           -> ((s: SparkSession, dir: String) =>
      graft.operators.Graph.pageRank(s, dir)),
    // q83: bounded-hop multi-source BFS over the same graph — integer
    // hop counts, the full iterative sweep oracle-checked like q82
    "q83_bfs_hops"           -> ((s: SparkSession, dir: String) =>
      graft.operators.Graph.bfsHops(s, dir)),
    // t24: exact total-variation distance between per-language term
    // distributions — corpus drift, integer-exact via |n_a·T_b−n_b·T_a|
    "t24_domain_shift"       -> (TextAnalysis.domainShift _),
    // t26: Flesch readability (vowel-group syllable proxy) — integer
    // counts, fixed-order three-term formula; sentence punctuation
    // planted closed-form (the d18/t22 pattern)
    "t26_readability"        -> (TextAnalysis.readability _),
    // t27: exact phrase search over positional postings — term-
    // prefiltered n-way position-chained self-join; all-integer
    "t27_phrase_search"      -> ((s: SparkSession, dir: String) =>
      TextAnalysis.phraseSearch(s, dir)),
    // t28: content-defined chunking — boundaries from the md5-60-bit
    // gram hash (cut iff ≡0 mod 64), a pure per-position predicate:
    // parallel within a doc, edit-survivable chunk hashes, portable
    "t28_cdc_chunks"         -> (TextAnalysis.cdcChunks _),
    // t29: bigram-LM quality scoring (the CCNet/KenLM perplexity
    // filter) — integer log contribution length(bin(cnt)), train/score
    // corpus split on doc_id % 10, one bigram⋈LM equi-join
    "t29_bigram_lm_score"    -> (TextAnalysis.bigramLmScore _),
    // t30: BPE tokenizer training — first 8 merge rules from corpus
    // word counts; one corpus pass, merge rounds on the vocab table,
    // greedy merge = engine-shared replace() contract, hash-checked
    "t30_bpe_merges"         -> ((s: SparkSession, dir: String) =>
      TextAnalysis.bpeMerges(s, dir)),
    // t31: tokenize with the TRAINED tokenizer — t30's merges inlined
    // as literals into a map-only per-doc replace chain (the e06
    // centroid-closure pattern); per-doc counts under the real vocab
    "t31_bpe_encode"         -> ((s: SparkSession, dir: String) =>
      TextAnalysis.bpeEncode(s, dir)),
    // t32: trained-vocab usage audit — corpus token frequencies under
    // the t30 tokenizer (top-25 by count, per-token char coverage);
    // explode + vocab-sized agg + TakeOrderedAndProject, oracle
    // re-derives the merge rounds themselves
    "t32_bpe_token_freqs"    -> ((s: SparkSession, dir: String) =>
      TextAnalysis.bpeTokenFreqs(s, dir)),
    // t33: BATCHED BPE training — 64 merges in 8 rounds of 8
    // symbol-disjoint selections (one bounded collect + one vocab
    // rewrite per ROUND, not per merge — the t30 shape scaled past
    // toy vocab); oracle unrolls rank/select/apply per round
    "t33_bpe_merges_batched" -> ((s: SparkSession, dir: String) =>
      TextAnalysis.bpeMergesBatched(s, dir)),
    // t36: t33 at an ALTERNATE batch shape (4 rounds × 16 selections,
    // 128 candidates) against the SAME parameterized oracle builder —
    // the CI proof that the (rounds, m, cand) surface is genuinely
    // open, not frozen to the t33 fixture shape
    "t36_bpe_merges_batched_alt" -> ((s: SparkSession, dir: String) =>
      TextAnalysis.bpeMergesBatched(s, dir, rounds = 4, m = 16, cand = 128)),
    // t37: the t32 vocab-usage audit at the PRODUCTION (batched
    // 64-merge) vocabulary — the report a tokenizer owner reads after
    // training the deployable vocab, in the same denomination as
    // p03/p05/s23/t34/t35
    "t37_bpe_token_freqs_batched" -> ((s: SparkSession, dir: String) =>
      TextAnalysis.bpeTokenFreqsBatched(s, dir)),
    // t34: the batched 64-merge vocabulary applied corpus-wide — the
    // apply half of the scale path; still ONE map-only projection
    "t34_bpe_encode_batched" -> ((s: SparkSession, dir: String) =>
      TextAnalysis.bpeEncodeBatched(s, dir)),
    // t35: the persisted-tokenizer contract (e13's shape for BPE) —
    // train once, write the merge table, encode from the LOADED
    // artifact; hash-checked against the same derived chain as t34,
    // so a persist/load corruption moves the gate hash
    "t35_bpe_encode_persisted" -> ((s: SparkSession, dir: String) =>
      TextAnalysis.bpeEncodePersisted(s, dir)),
    // t25: CCNet-style unigram-LM quality score (mean corpus frequency
    // of a doc's tokens) — integer-exact until two fixed-order
    // divisions; the frequency join is skew-split (broadcast head,
    // shuffled tail)
    "t25_rare_token_score"   -> ((s: SparkSession, dir: String) =>
      TextAnalysis.rareTokenScore(s, dir)),
    // q87: degree-oriented distributed triangle count over the part
    // co-purchase graph — all-integer output; the oracle runs the
    // naive id-ordered join, the engine the O(√m)-bounded orientation
    "q87_triangle_count"     -> ((s: SparkSession, dir: String) =>
      graft.operators.Graph.triangleCount(s, dir)),
    // e14: hybrid sparse+dense retrieval — BM25 shortlist ⊕ exact
    // cosine shortlist via reciprocal-rank fusion; integer ranks make
    // the fused doubles bit-identical cross-engine
    "e14_hybrid_search"      -> ((s: SparkSession, dir: String) =>
      Similarity.hybridSearch(s, dir)),
    // q88: variance/correlation/regression moments from exact DECIMAL
    // power sums + fixed-order double epilogue — reproducible at any
    // parallelism where float-accumulating var_samp/corr are not
    "q88_stats_moments"      -> (graft.operators.DataQuality.statsMoments _),
    // q89: pairwise slice-overlap matrix by KMV set algebra — one
    // corpus scan builds per-slice sketches, every pair estimate
    // touches only sketch rows; md5-deterministic ⇒ fully hash-checked
    "q89_kmv_overlap"        -> ((s: SparkSession, dir: String) =>
      Relational.kmvOverlap(s, dir)),
    // q90: association rules (support/confidence/lift) over co-purchase
    // baskets — basket-keyed pair join, broadcast scalar N, exact-int
    // ratios ⇒ hash-checked
    "q90_assoc_rules"        -> ((s: SparkSession, dir: String) =>
      graft.operators.Graph.assocRules(s, dir)),
    // q91: per-user Markov transition matrix — one user-keyed lag
    // window + a |types|²-row normalize; exact-int prob ratios
    "q91_transition_matrix"  -> (Relational.transitionMatrix _),
    // q92: per-group z-score outliers via exact DECIMAL power sums
    // rearranged division-free — the q88 pattern as a portable FILTER
    "q92_value_outliers"     -> ((s: SparkSession, dir: String) =>
      graft.operators.DataQuality.valueOutliers(s, dir)),
    // q93: percent_rank/cume_dist/ntile cohort distribution ranks —
    // tie-broken ordering makes every rank integer-deterministic
    "q93_distribution_ranks" -> (Relational.distributionRanks _),
    // q94: ROBUST outliers via discrete median + MAD — all-decimal
    // decision path, no floats anywhere
    "q94_mad_outliers"       -> ((s: SparkSession, dir: String) =>
      graft.operators.DataQuality.madOutliers(s, dir)),
    // q95: last-touch attribution — conditional forward-fill window
    // (q74's frame, filtered payload) + exact-decimal credit sums
    "q95_attribution"        -> (Relational.lastTouchAttribution _),
    // q96: portable approximate quantiles — deterministic md5-sample
    // + discrete rank selection; the approximate answer hash-checks
    "q96_sampled_quantiles"  -> ((s: SparkSession, dir: String) =>
      graft.operators.DataQuality.sampledQuantiles(s, dir)),
    // q97: GDPR cascading referential delete — three anti-joins, one
    // per referencing table; all-integer erasure ledger
    "q97_cascade_delete"     -> (Relational.cascadeDelete _),
    // q98: schema evolution across parquet generations — mergeSchema
    // read reconciling files written before/after a column existed
    "q98_schema_evolution"   -> (graft.operators.Layout.schemaEvolution _),
    // — event-time / streaming-unified (SURVEY §2.9) —
    "s01_hourly_type_counts" -> (Streams.hourlyTypeCountsBatch _),
    "s02_sliding_counts"     -> (Streams.slidingTypeCountsBatch _),
    "s03_user_sessions"      -> (Streams.userSessionStats _),
    "s04_streaming_hourly"   -> (Streams.hourlyTypeCountsStreamed _),
    "s05_streaming_dedup"    -> (Streams.streamingDedup _),
    // q59: leakage-proof split — near-dup clusters are the split unit,
    // so duplicates can never straddle train/test (oracle-checked)
    "q59_cluster_split"      -> ((s: SparkSession, dir: String) => graft.operators.Curation.clusterAwareSplit(s, dir)),
    "s06_streaming_join"     -> (Streams.streamingIntervalJoin _),
    // s10: chained stateful operators — hourly window agg re-windowed
    // into daily aggregates inside ONE append-mode streaming query;
    // the oracle re-derives append's watermark-finalization cutoff
    "s10_streaming_rollup"   -> (Streams.streamingChainedDaily _),
    // s11: LEFT OUTER stream-stream interval join — outer-null rows
    // emit at state-eviction time; oracle = matches ∪ watermark-proven
    // unmatched purchases
    "s11_streaming_left_join" -> (Streams.streamingLeftOuterJoin _),
    // s12: streaming keyed-upsert sink (foreachBatch CDC apply, the
    // reference's _id bulk upsert streamed); oracle = latest per key
    "s12_streaming_upsert"   -> (Streams.streamingUpsertApply _),
    // s13: streaming maintenance of the e13 persisted ANN index —
    // micro-batch frozen-centroid appends via foreachBatch, queries
    // answered from the loaded index. Fixed-point centroids since r8:
    // the drained answers hash-check against e13's oracle verbatim
    // (drained ≡ one-pass additionally pinned in StreamsSpec)
    "s13_streaming_index_append" -> (Streams.streamingIndexAppend _),
    // s14: the q85 funnel as a stateful streaming query (per-user
    // mapGroupsWithState + max-stage foreachBatch upsert); drained
    // counts equal the batch funnel, so the oracle is q85's verbatim
    "s14_streaming_funnel"   -> (Streams.streamingFunnel _),
    // s15: stream-STATIC enrichment join (events stream ⋈ broadcast
    // customer dimension) through a real complete-mode drain —
    // stateless join, batch-equal totals, fully oracle-checked
    "s15_streaming_enrich"   -> (Streams.streamingEnrichedSegments _),
    // s16: streaming KMV distinct sketch — bounded k·8-byte state per
    // key via transformWithState; md5-deterministic + merge-order-
    // insensitive, so the drained estimate hash-checks (q84's math)
    "s16_streaming_kmv"      -> ((s: SparkSession, dir: String) =>
      Streams.streamingKmvDistinct(s, dir)),
    // s17: streaming anomaly gate — the q92 exact-power-sum z-score
    // filter over the event stream vs a broadcast static profile;
    // stateless append-mode drain is batch-equal ⇒ q92's oracle
    "s17_streaming_outliers" -> (Streams.streamingOutlierGate _),
    // s18: streaming quantile sample sketch — q96's deterministic
    // md5 sample as bounded transformWithState state; the drained
    // discrete rank selections hash-check against q96's oracle
    "s18_streaming_quantiles" -> ((s: SparkSession, dir: String) =>
      Streams.streamingSampledQuantiles(s, dir)),
    // s19: streaming near-dup detection against a persisted LSH
    // index — dedup-on-ingest (the s13 build/append split for TEXT):
    // each micro-batch probes the band buckets, verifies exact
    // jaccard once, appends itself; drained pairs = the closed-form
    // "d03 pairs with a delta member", hash-checked
    "s19_streaming_neardup"  -> (Streams.streamingNearDup _),
    // s20: streaming decontamination — eval-benchmark shingle keys as
    // the static broadcast side (s15 shape), per-batch hit counts are
    // doc-complete so the drain ≡ batch d12 verbatim, hash-checked
    "s20_streaming_decontam" -> (Streams.streamingDecontaminate _),
    // s21: streaming LM quality scoring — the t29 bigram LM as the
    // static side (a trained artifact; the crawl is what grows), each
    // micro-batch scores only its own docs; scores are doc-complete so
    // the drain ≡ batch t29 verbatim, hash-checked
    "s21_streaming_lm_score" -> (Streams.streamingLmScore _),
    // s22: streaming sequence packing — per-shard running-offset
    // ValueState (transformWithState), in-batch doc_id order, q57's
    // pack namespace; completes the ingest chain (dedup → decontam →
    // score → PACK) and drains equal to the batch packer
    "s22_streaming_pack"     -> ((s: SparkSession, dir: String) =>
      Streams.streamingPack(s, dir)),
    // s23: streaming trained-tokenizer metering — per-doc n_bpe_tokens
    // under the static batched-trained vocab as docs land (the
    // s20/s21 stream-static shape); drains equal to t34's batch encode
    "s23_streaming_token_meter" -> (Streams.streamingTokenMeter _),
    // s07: the transformWithState (state API v2, RocksDB) operator run
    // through a REAL streaming drain; integer-cents state makes the
    // final totals batch-boundary-invariant and oracle-exact
    "s07_streaming_totals"   -> (Streams.streamingUserTotals _),
    // s08: MapState (state v2) through a real streaming drain; sharded
    // monotone counts reduce to the exact global GROUP BY
    "s08_streaming_type_counts" -> (Streams.streamingTypeCounts _),
    // s09: the `statestore` batch reader over a retained checkpoint —
    // offline inspection of a stateful query's store; after a full
    // drain the per-key count buffers ARE the global GROUP BY
    "s09_state_inspect"      -> (Streams.stateInspect _),
  )

  /** DuckDB-dialect oracle SQL: same table names (parquet fixtures),
    * same column aliases as the Spark results.
    */
  def oracleSql: Map[String, String] = {
    // the reference punctuation class (csv-tech.conf:30) — identical
    // byte sequence under Java regex and RE2
    val norm: String => String = c =>
      s"""trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(lower($c), '\\r', ' ', 'g'), '&nbsp', ' ', 'g'), '[,*-.:;«»✔➡¿\\\\"·?!()/]', ' ', 'g'), '\\s', ' ', 'g'), ' +', ' ', 'g'))"""
    val toks: String => String = c => s"string_split(${norm(c)}, ' ')"
    // e18/e19 parameterized builders — the md5-low-bit ±1 projection,
    // quantize, and integer sum at ANY (dims, scale); e18 registers
    // (32, 1000), e20 proves dims=16 from the same builder
    // projects the FIXED 64-wide input embedding (range(1, 65)); the
    // output width is the callers' range(0, $dims), not a parameter
    // of the per-dim expression
    def jlProjExpr(scale: Long): String =
      s"""CAST(list_sum(list_transform(range(1, 65), i ->
         |  (CASE WHEN (('0x' || substr(md5('p-' || j::VARCHAR || '-' || i::VARCHAR), 1, 15))::BIGINT & 1) = 1
         |        THEN 1 ELSE -1 END)
         |  * CAST(floor(CAST(embedding[i] AS DOUBLE) * $scale.0 + 0.5) AS BIGINT))) AS BIGINT)""".stripMargin
    def e18SqlFor(dims: Int, scale: Long): String =
      s"""SELECT vec_id, j AS proj_dim, ${jlProjExpr(scale)} AS proj
         |FROM embeddings, range(0, $dims) t(j)
         |ORDER BY vec_id, proj_dim""".stripMargin
    def e19SqlFor(k: Int, shortlist: Int, dims: Int, scale: Long): String =
      s"""WITH pj AS (
         | SELECT vec_id, j, ${jlProjExpr(scale)} AS proj
         | FROM embeddings, range(0, $dims) t(j)),
         |vecs AS (SELECT vec_id, list(proj ORDER BY j) AS p FROM pj GROUP BY vec_id),
         |short AS (
         | SELECT qid, nid FROM (
         |  SELECT q.vec_id qid, c.vec_id nid,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY list_sum(list_transform(range(1, ${dims + 1}),
         |       x -> (q.p[x] - c.p[x]) * (q.p[x] - c.p[x]))), c.vec_id) AS srank
         |  FROM vecs q, vecs c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
         | WHERE srank <= $shortlist)
         |SELECT query_id, rank, neighbor_id FROM (
         | SELECT s.qid AS query_id, s.nid AS neighbor_id,
         |  row_number() OVER (PARTITION BY s.qid
         |    ORDER BY list_cosine_similarity(qe.embedding, ne.embedding) DESC, s.nid) AS rank
         | FROM short s
         | JOIN embeddings qe ON qe.vec_id = s.qid
         | JOIN embeddings ne ON ne.vec_id = s.nid)
         |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
    // the d24/d27 shared closure+acceptance tail, parameterized by the
    // pair-source CTE (d24: exact-jaccard `pairs`; d27: the portable
    // LSH chain's `lshpairs`): transitive closure → cluster-or-self
    // units → unit sizes → md5-draw acceptance at floor(2^60/size)
    def closureAcceptanceSql(pairSrc: String): String =
      s"""edges AS (
         | SELECT doc_a AS s, doc_b AS d FROM $pairSrc
         | UNION SELECT doc_b, doc_a FROM $pairSrc),
         |reach AS (
         | SELECT s, d FROM edges
         | UNION
         | SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
         |clusters AS (
         | SELECT s AS doc_id, least(s, min(d)) AS cluster_id FROM reach GROUP BY s),
         |units AS (
         | SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS unit
         | FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id),
         |sizes AS (SELECT unit, count(*) AS unit_size FROM units GROUP BY unit)
         |SELECT u.doc_id, u.unit, z.unit_size
         |FROM units u JOIN sizes z ON u.unit = z.unit
         |WHERE ('0x' || substr(md5(CAST(u.doc_id AS VARCHAR)), 1, 15))::BIGINT
         |      < 1152921504606846976 // z.unit_size
         |ORDER BY u.doc_id""".stripMargin

    // The portable MinHash+LSH pipeline as a reusable CTE chain over a
    // relation exposing (doc_id, nt): md5-60-bit 5-gram shingle hashes,
    // 32 mod-M61 permutations (constants from HashFns.PortableA/B — one
    // source of truth with the Spark kernel), bands×rows value-keyed
    // bands, integer ≥minMatch-of-32 estimate prefilter, exact jaccard
    // ≥ threshold over the same hashed sets. Emits
    // `lshpairs(doc_a, doc_b, jaccard)`. Used by d03/s19 (8×4 default),
    // d11 (inside the curation pipeline), and d28 (the 16×2
    // alternate-geometry gate) — the band geometry threads through the
    // builder exactly like e18SqlFor/t33SqlFor, so an alternate shape
    // is one call, not duplicated SQL.
    def portableLshCtesFor(src: String, bands: Int, rows: Int,
                           minMatch: Int, threshold: Double): String = {
      require(bands * rows == 32, s"band geometry must tile the 32 hashes: $bands x $rows")
      val aLit = graft.functions.HashFns.PortableA.mkString("[", ", ", "]")
      val bLit = graft.functions.HashFns.PortableB.mkString("[", ", ", "]")
      s"""hs AS (
         | SELECT doc_id, list_sort(list_distinct(list_transform(
         |   range(1, greatest(length(nt) - 3, 2)),
         |   i -> ('0x' || substr(md5(substr(nt, i, 5)), 1, 15))::BIGINT))) AS hs
         | FROM $src
         |), sig AS (
         | SELECT doc_id, hs, list_transform(range(0, 32),
         |  j -> (list_min(list_transform(hs,
         |   h -> (($aLit[j+1]::HUGEINT * h + $bLit[j+1])
         |         % 2305843009213693951)::BIGINT)))) AS sig
         | FROM hs
         |), banded AS (
         | SELECT doc_id, sig, b,
         |  array_to_string(sig[1 + $rows*b : $rows + $rows*b], '-') AS bkey
         | FROM sig, range(0, $bands) t(b)
         |), cand AS (
         | SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         | FROM banded x JOIN banded y
         |   ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id
         | WHERE len(list_filter(range(1, 33), i -> x.sig[i] = y.sig[i])) >= $minMatch
         |), lshpairs AS (
         | SELECT doc_a, doc_b, jaccard FROM (
         |  SELECT c.doc_a, c.doc_b,
         |   CAST(len(list_intersect(p.hs, q.hs)) AS DOUBLE)
         |    / (len(p.hs) + len(q.hs) - len(list_intersect(p.hs, q.hs))) AS jaccard
         |  FROM cand c JOIN hs p ON c.doc_a = p.doc_id JOIN hs q ON c.doc_b = q.doc_id)
         | WHERE jaccard >= $threshold
         |)""".stripMargin
    }
    def portableLshCtes(src: String): String =
      portableLshCtesFor(src, bands = 8, rows = 4, minMatch = 13, threshold = 0.6)

    // t09/t10 ranker SQL — standalone entries below, and reused verbatim
    // as the shortlist CTE bodies of the t18 RRF fusion
    // BM25 with rational idf (no log): every step is integer-derived
    // double arithmetic in a fixed order — bit-identical across engines
    val t10Sql: String =
      s"""WITH tf AS (
         | SELECT doc_id, len(toks) AS dl,
         |  len(list_filter(toks, t -> t = 'join')) AS tf_join,
         |  len(list_filter(toks, t -> t = 'hash')) AS tf_hash,
         |  len(list_filter(toks, t -> t = 'stream')) AS tf_stream
         | FROM (SELECT doc_id, ${toks("text")} AS toks FROM documents)),
         |st AS (
         | SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl,
         |  CAST(sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_join,
         |  CAST(sum(CASE WHEN tf_hash > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_hash,
         |  CAST(sum(CASE WHEN tf_stream > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_stream
         | FROM tf)
         |SELECT doc_id, dl, score FROM (
         | SELECT doc_id, dl,
         |  ((CAST(n_docs AS DOUBLE) - CAST(df_join AS DOUBLE) + 0.5) / (CAST(df_join AS DOUBLE) + 0.5))
         |    * ((CAST(tf_join AS DOUBLE) * 2.2) / (CAST(tf_join AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))))
         |  + ((CAST(n_docs AS DOUBLE) - CAST(df_hash AS DOUBLE) + 0.5) / (CAST(df_hash AS DOUBLE) + 0.5))
         |    * ((CAST(tf_hash AS DOUBLE) * 2.2) / (CAST(tf_hash AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))))
         |  + ((CAST(n_docs AS DOUBLE) - CAST(df_stream AS DOUBLE) + 0.5) / (CAST(df_stream AS DOUBLE) + 0.5))
         |    * ((CAST(tf_stream AS DOUBLE) * 2.2) / (CAST(tf_stream AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))) AS score
         | FROM tf, (SELECT *, CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl FROM st)
         | WHERE tf_join + tf_hash + tf_stream > 0)
         |ORDER BY score DESC, doc_id LIMIT 50""".stripMargin
    // tf-idf with rational idf (N/df) and fixed left-assoc summation:
    // identical IEEE doubles on both engines
    val t09Sql: String =
      s"""WITH tf AS (
         | SELECT doc_id,
         |  len(list_filter(${toks("text")}, t -> t = 'join')) AS tf_join,
         |  len(list_filter(${toks("text")}, t -> t = 'hash')) AS tf_hash,
         |  len(list_filter(${toks("text")}, t -> t = 'stream')) AS tf_stream
         | FROM documents),
         |st AS (
         | SELECT count(*) AS n_docs,
         |  CAST(sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_join,
         |  CAST(sum(CASE WHEN tf_hash > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_hash,
         |  CAST(sum(CASE WHEN tf_stream > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_stream
         | FROM tf)
         |SELECT doc_id, n_hits, score FROM (
         | SELECT doc_id, tf_join + tf_hash + tf_stream AS n_hits,
         |  (CASE WHEN df_join > 0 THEN CAST(tf_join AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(df_join AS DOUBLE)) ELSE 0.0 END)
         |  + (CASE WHEN df_hash > 0 THEN CAST(tf_hash AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(df_hash AS DOUBLE)) ELSE 0.0 END)
         |  + (CASE WHEN df_stream > 0 THEN CAST(tf_stream AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(df_stream AS DOUBLE)) ELSE 0.0 END) AS score
         | FROM tf, st)
         |WHERE n_hits > 0
         |ORDER BY score DESC, doc_id LIMIT 50""".stripMargin

    val base = Map(
      "q01_pricing_summary" ->
        """SELECT l_returnflag, l_linestatus,
          | sum(l_quantity) AS sum_qty,
          | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
          | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
          | sum(l_quantity) / count(*) AS avg_qty,
          | count(*) AS count_order
          |FROM lineitem GROUP BY l_returnflag, l_linestatus
          |ORDER BY l_returnflag, l_linestatus""".stripMargin,
      "q02_filter_project" ->
        """SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
          |FROM orders
          |WHERE o_orderpriority IN ('1-URGENT','2-HIGH') AND o_totalprice > 150000.0
          |ORDER BY o_orderkey""".stripMargin,
      "q03_revenue_by_nation" ->
        """SELECT n_name,
          | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
          | count(*) AS n_items
          |FROM lineitem
          | JOIN orders ON l_orderkey = o_orderkey
          | JOIN customer ON o_custkey = c_custkey
          | JOIN nation ON c_nationkey = n_nationkey
          |GROUP BY n_name ORDER BY n_name""".stripMargin,
      "q04_customers_per_region" ->
        """SELECT r_name, count(*) AS n_customers,
          | CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
          |FROM customer
          | JOIN nation ON c_nationkey = n_nationkey
          | JOIN region ON n_regionkey = r_regionkey
          |GROUP BY r_name ORDER BY r_name""".stripMargin,
      "q05_region_supplier_matrix" ->
        """SELECT r_name, s_name FROM region CROSS JOIN supplier
          |ORDER BY r_name, s_name""".stripMargin,
      "q06_semi_join" ->
        """SELECT c_mktsegment, count(*) AS n_customers FROM customer
          |WHERE EXISTS (SELECT 1 FROM orders
          |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
      "q07_anti_join" ->
        """SELECT c_custkey, c_name, c_mktsegment FROM customer
          |WHERE NOT EXISTS (SELECT 1 FROM orders
          |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
          |ORDER BY c_custkey""".stripMargin,
      "q08_topk_orders" ->
        """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
          |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin,
      "q09_latest_order_per_customer" ->
        """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
          | SELECT *, row_number() OVER (PARTITION BY o_custkey
          |   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
          |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
      "q10_running_supplier_revenue" ->
        """SELECT l_suppkey, l_orderkey, l_linenumber,
          | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) OVER (
          |   PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
          |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_rev,
          | CAST(lag(CAST(l_extendedprice AS DECIMAL(18,2)), 1) OVER (
          |   PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber) AS DOUBLE) AS prev_price
          |FROM lineitem WHERE l_suppkey <= 10
          |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,
      "q11_union_slices" ->
        """SELECT o_orderstatus, count(*) AS n FROM (
          | SELECT * FROM orders WHERE o_orderpriority IN ('1-URGENT','2-HIGH')
          | UNION ALL
          | SELECT * FROM orders WHERE o_orderpriority NOT IN ('1-URGENT','2-HIGH'))
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
      "q12_intersect_keys" ->
        """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
          |INTERSECT
          |SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
          |ORDER BY c_custkey""".stripMargin,
      "q13_except_keys" ->
        """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
          |EXCEPT
          |SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
          |ORDER BY c_custkey""".stripMargin,
      "q14_rollup_counts" ->
        """SELECT r_name, c_mktsegment, count(*) AS n
          |FROM customer
          | JOIN nation ON c_nationkey = n_nationkey
          | JOIN region ON n_regionkey = r_regionkey
          |GROUP BY ROLLUP(r_name, c_mktsegment)
          |ORDER BY r_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST""".stripMargin,
      "q15_cube_counts" ->
        """SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty
          |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
          |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
      "q16_distinct_customers" ->
        """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_customers,
          | count(*) AS n_orders
          |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      "q17_monthly_orders" ->
        """SELECT date_trunc('month', o_orderdate) AS month, count(*) AS n_orders,
          | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
          |FROM orders GROUP BY 1 ORDER BY month""".stripMargin,
      "q18_json_extract" ->
        """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
          |FROM events WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) >= 50
          |ORDER BY event_id""".stripMargin,
      "q19_order_buckets" ->
        """SELECT CASE WHEN o_totalprice < 50000.0 THEN 'small'
          |  WHEN o_totalprice < 200000.0 THEN 'medium' ELSE 'large' END AS bucket,
          | count(*) AS n, min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
          |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,
      "q20_keyed_upsert" ->
        """SELECT user_id, event_type, event_id, value FROM (
          | SELECT *, row_number() OVER (PARTITION BY user_id, event_type
          |   ORDER BY ts DESC, event_id DESC) AS rn FROM events)
          |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
      "q21_above_cust_avg" ->
        """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
          |JOIN (SELECT o_custkey AS k,
          |   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price
          |  FROM orders GROUP BY o_custkey) a ON o.o_custkey = a.k
          |WHERE o_totalprice > avg_price * 1.5
          |ORDER BY o_orderkey""".stripMargin,
      "q22_topk_per_group_agg" ->
        """SELECT o_orderpriority, rank, o_orderkey FROM (
          | SELECT o_orderpriority, o_orderkey,
          |  row_number() OVER (PARTITION BY o_orderpriority
          |    ORDER BY o_totalprice DESC, o_orderkey) AS rank
          | FROM orders)
          |WHERE rank <= 3 ORDER BY o_orderpriority, rank""".stripMargin,
      "q24_sql_shipping_priority" -> graft.operators.Relational.shippingPrioritySql,
      "q25_from_json_events" ->
        """SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
          | count(*) AS n
          |FROM events GROUP BY 1 ORDER BY k""".stripMargin,
      "q65_variant_events" ->
        """SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
          | count(*) AS n
          |FROM events GROUP BY 1 ORDER BY k""".stripMargin,
      // q67: bucketed bitmaps sum to the EXACT distinct count
      "q67_bitmap_distinct" ->
        """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_custs
          |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
      "q26_orders_year_quarter" ->
        """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr,
          | CAST(EXTRACT(quarter FROM o_orderdate) AS INTEGER) AS qtr,
          | count(*) AS n_orders,
          | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
          |FROM orders GROUP BY 1, 2 ORDER BY yr, qtr""".stripMargin,
      "q27_trailing_30d_revenue" ->
        """SELECT l_suppkey, l_orderkey, l_linenumber,
          | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) OVER (
          |   PARTITION BY l_suppkey ORDER BY CAST(epoch(l_shipdate) AS BIGINT)
          |   RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_rev
          |FROM lineitem WHERE l_suppkey <= 5
          |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,
      "q28_grouping_sets" -> graft.operators.Relational.groupingSetsSql,
      "q29_pivot_status" ->
        """SELECT o_orderpriority,
          | count(*) FILTER (o_orderstatus = 'F') AS n_f,
          | count(*) FILTER (o_orderstatus = 'O') AS n_o,
          | count(*) FILTER (o_orderstatus = 'P') AS n_p
          |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      "q30_price_quantiles" ->
        """SELECT l_returnflag,
          | quantile_cont(l_extendedprice, 0.5) AS med_price,
          | quantile_cont(l_extendedprice, 0.9) AS p90_price
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      "e03_cosine_pairs_exact" ->
        """SELECT a.vec_id AS id_a, b.vec_id AS id_b
          |FROM embeddings a, embeddings b
          |WHERE a.vec_id < b.vec_id
          |  AND list_cosine_similarity(a.embedding, b.embedding) >= 0.4
          |ORDER BY id_a, id_b""".stripMargin,
      // e02: same Rademacher sign table at 16×6, candidates from the
      // bucket join, rank by list_cosine_similarity (ordering agreement
      // proven by e01's green hash-match), ids+rank output
      "e02_knn_lsh" ->
        """WITH hp AS (
          | SELECT b, j, list_transform(range(1, 65), i ->
          |   CASE WHEN (('0x' || substr(md5(b::VARCHAR || '-' || j::VARCHAR || '-' || i::VARCHAR), 1, 15))::BIGINT & 1) = 1
          |        THEN 1.0 ELSE -1.0 END) AS s
          | FROM range(0, 16) t(b), range(0, 6) u(j)),
          |bits AS (
          | SELECT e.vec_id, hp.b, hp.j,
          |  CASE WHEN list_sum(list_transform(range(1, 65),
          |         i -> hp.s[i] * e.embedding[i]::DOUBLE)) >= 0
          |       THEN 1::BIGINT ELSE 0::BIGINT END AS bit
          | FROM embeddings e, hp),
          |keys AS (
          | SELECT vec_id, b AS band, CAST(sum(bit * (1::BIGINT << j)) AS BIGINT) AS bkey
          | FROM bits GROUP BY vec_id, b),
          |cand AS (
          | SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
          | FROM keys q JOIN keys c ON q.band = c.band AND q.bkey = c.bkey
          | WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
          |SELECT query_id, rank, neighbor_id FROM (
          | SELECT cand.query_id, cand.neighbor_id,
          |  row_number() OVER (PARTITION BY cand.query_id
          |    ORDER BY list_cosine_similarity(qe.embedding, ce.embedding) DESC,
          |             cand.neighbor_id) AS rank
          | FROM cand JOIN embeddings qe ON cand.query_id = qe.vec_id
          |           JOIN embeddings ce ON cand.neighbor_id = ce.vec_id)
          |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
      // e18: the same md5-low-bit sign derivation as e02's planes
      // (key 'p-j-i', i 1-based), quantize = one correctly-rounded
      // double multiply + floor, then an order-free integer sum —
      // every coordinate bit-identical cross-engine
      "e18_random_projection" -> e18SqlFor(32, 1000L),
      // e20: e18 at an ALTERNATE shape (dims=16) from the SAME
      // parameterized builder — the CI proof the (dims, scale)
      // surface is open, not frozen to the e18 fixture shape (the
      // JL quality bounds stay with e18/e19 at 32: fewer dims cost
      // distortion, never projection correctness)
      "e20_random_projection_alt" -> e18SqlFor(16, 1000L),
      // e19: sketch-space integer-L2 shortlist (dist ASC, id tie rule)
      // re-ranked by exact cosine — the e09 two-phase contract with
      // e18's projection as the quantizer
      "e19_knn_projected" -> e19SqlFor(5, 40, 32, 1000L),
      // e04: md5-hash-ordered centroid pick (tie-broken by id), the
      // same first-max assignment rule (s DESC, cn ASC), the same
      // (−sim, idx) probe order, exact-cosine re-rank, ids+rank output
      "e04_knn_ivf" ->
        """WITH cent AS (
          | SELECT cid, cv, row_number() OVER (ORDER BY h, cid) AS cn FROM (
          |  SELECT vec_id AS cid, embedding AS cv,
          |   ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS h
          |  FROM embeddings)),
          |cent16 AS (SELECT cid, cv, cn FROM cent WHERE cn <= 16),
          |sims AS (
          | SELECT e.vec_id, c.cn,
          |  list_cosine_similarity(e.embedding, c.cv) AS s
          | FROM embeddings e, cent16 c),
          |asg AS (
          | SELECT vec_id AS neighbor_id, cn AS cell FROM (
          |  SELECT vec_id, cn,
          |   row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cn) AS r
          |  FROM sims) WHERE r = 1),
          |probes AS (
          | SELECT vec_id AS query_id, cn AS cell FROM (
          |  SELECT vec_id, cn,
          |   row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cn) AS r
          |  FROM sims WHERE vec_id < 10) WHERE r <= 4),
          |cand AS (
          | SELECT p.query_id, a.neighbor_id
          | FROM probes p JOIN asg a ON a.cell = p.cell
          | WHERE a.neighbor_id <> p.query_id)
          |SELECT query_id, rank, neighbor_id FROM (
          | SELECT c.query_id, c.neighbor_id,
          |  row_number() OVER (PARTITION BY c.query_id
          |    ORDER BY list_cosine_similarity(qe.embedding, ne.embedding) DESC,
          |             c.neighbor_id) AS rank
          | FROM cand c JOIN embeddings qe ON qe.vec_id = c.query_id
          |             JOIN embeddings ne ON ne.vec_id = c.neighbor_id)
          |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
      // e06: fixed-point integer Lloyd — md5-ordered seeds, 4 unrolled
      // assign/update iterations in pure integer arithmetic (truncating
      // division), frozen-centroid assignment + 4-cell probe, exact
      // cosine re-rank. Generated by ivfKmeansOracleSql so the SQL and
      // the Spark kernel share one set of constants.
      "e06_knn_ivf_kmeans" -> Similarity.ivfKmeansOracleSql(),
      // e22: retrain ≡ rebuild — the post-retrain index answers
      // exactly as the from-scratch full-corpus chain, so the oracle
      // IS e06's (the gate's value is the staged in-place swap on the
      // Spark side, which the shared SQL proves published correctly)
      "e22_index_retrain" -> Similarity.ivfKmeansOracleSql(),
      // e23: the e06 chain minus the retired rows — ids ≡3 (mod 7)
      // removed from the CORPUS (the retrain folded them: never seed,
      // never train, never assign, never probe), ids ≡5 removed at the
      // CANDIDATE stage only (live tombstones: physically present,
      // hidden by the probe-time visibility filter)
      "e23_index_tombstone" -> Similarity.ivfKmeansOracleSql(
        rowPredSql = s"vec_id % 7 <> ${Similarity.ivfTombstoneResidues.head}",
        candPredSql = s"a.neighbor_id % 7 <> ${Similarity.ivfTombstoneResidues(1)}"),
      // e24: the e13 chain (frozen base-trained centroids — compaction
      // must NOT retrain) minus the retired candidates: ≡3 ids
      // ingested before the takedown (folded by the compaction), all
      // ≡5 ids (live tombstones)
      "e24_index_compaction" -> Similarity.ivfKmeansOracleSql(
        trainMax = Similarity.indexBaseSplit,
        candPredSql =
          s"NOT (a.neighbor_id % 7 = ${Similarity.ivfTombstoneResidues.head}" +
          s" AND a.neighbor_id < ${Similarity.ivfMidSplit})" +
          s" AND a.neighbor_id % 7 <> ${Similarity.ivfTombstoneResidues(1)}"),
      // e13: the same chain with training restricted to the base
      // slice — final assignment covers base + delta with the frozen
      // centroids, which IS the append semantics
      "e13_knn_persisted" -> Similarity.ivfKmeansOracleSql(
        trainMax = Similarity.indexBaseSplit),
      // e21: the e13 chain's asg CTEs grouped to per-cell occupancy —
      // a hash match pins that the persisted inverted lists hold
      // exactly the fixed-point assignment (append lost nothing)
      "e21_index_occupancy" -> Similarity.indexOccupancyOracleSql(),
      // e07: per-subspace integer Lloyd (one CTE chain trains all m
      // codebooks, keys carry the subspace id), integer ADC shortlist,
      // exact-cosine re-rank
      "e07_knn_pq" -> Similarity.pqOracleSql(),
      // e15: the composite chain — e06's coarse CTEs + e07's codebook
      // CTEs, candidates from probed cells, ADC over candidates only
      "e15_knn_ivf_pq" -> Similarity.ivfPqOracleSql(),
      // s13: the STREAMING append cycle lands the identical
      // integer-derived index, so the drained query answers are e13's
      // oracle verbatim — the whole streamed maintenance path is now
      // hash-checked, not just spec-pinned
      "s13_streaming_index_append" -> Similarity.ivfKmeansOracleSql(
        trainMax = Similarity.indexBaseSplit),
      // e16: the e06 chain with the label predicate applied at the
      // ASSIGNMENT stage (training unfiltered — an index is built
      // once, predicates vary per query) and the widened probe
      "e16_knn_filtered_ivf" -> Similarity.ivfKmeansOracleSql(
        nProbe = Similarity.filteredIvfProbe, asgFilterSql = "label = 3"),
      // e11: float exact-cosine shortlist (the e01 contract), then the
      // k greedy MMR picks unrolled as CTEs over integer rel/sim dots
      "e11_knn_mmr" -> Similarity.mmrOracleSql(),
      // d17: e06 coarse CTEs for cells, integer-dot adjacency, the
      // greedy sweep as a recursive CTE (kept ids strictly increase,
      // so each round appends the smallest eligible id per cell)
      "d17_semantic_dedup" -> Dedup.semanticDedupOracleSql(),
      // e17: e02's Rademacher band keys over ALL rows, int8 codes of
      // normalized components, integer per-band prune at k·margin,
      // pair dedup, exact-cosine top-k
      "e17_knn_join_portable" -> Similarity.knnJoinOracleSql(),
      // m09: the pinned golden decode digests as a literal VALUES
      // table — any decode byte drift in any modality fails hash_match
      "m09_media_digests" -> graft.operators.MediaGolden.mediaDigestsOracleSql,
      // m06/m07/m08: the same pinned-literal pattern applied to the
      // perceptual near-dup pair tables (deterministic integers) —
      // promotes the three modal near-dup gates from rows-only to
      // hash-checked; regenerate via DumpMediaDigests m06|m07|m08
      // m01-m05: the same pattern for the remaining integer-valued
      // media gates — r12 closes the set with m03 (the frame-sample
      // rollup and its per-video decode digests are deterministic
      // integers of the seeded fixture + JDK codecs, exactly the
      // m04/m05 shape); the whole m-family is now hash-checked
      "m01_media_ann" -> graft.operators.MediaGoldenTables.mediaAnnOracleSql,
      "m02_media_dedup" -> graft.operators.MediaGoldenTables.mediaDedupOracleSql,
      "m03_media_frames" -> graft.operators.MediaGoldenTables.mediaFrameSampleOracleSql,
      "m04_media_resize" -> graft.operators.MediaGoldenTables.mediaResizeOracleSql,
      "m05_media_ingest" -> graft.operators.MediaGoldenTables.mediaIngestOracleSql,
      "m06_media_phash" -> graft.operators.MediaGoldenPairs.mediaPhashOracleSql,
      "m07_media_audiodedup" -> graft.operators.MediaGoldenPairs.mediaAudioDedupOracleSql,
      "m08_media_videodedup" -> graft.operators.MediaGoldenPairs.mediaVideoDedupOracleSql,
      // d06: the identical md5-derived ±1 sign table (i is 1-based,
      // matching the kernel's "b-j-i" key), signed sequential double
      // sums for the sign bits, bucket self-join, cosine-threshold
      // verify with ids-only output (the e03 convention)
      "d06_embedding_neardup" ->
        """WITH hp AS (
          | SELECT b, j, list_transform(range(1, 65), i ->
          |   CASE WHEN (('0x' || substr(md5(b::VARCHAR || '-' || j::VARCHAR || '-' || i::VARCHAR), 1, 15))::BIGINT & 1) = 1
          |        THEN 1.0 ELSE -1.0 END) AS s
          | FROM range(0, 8) t(b), range(0, 6) u(j)),
          |bits AS (
          | SELECT e.vec_id, hp.b, hp.j,
          |  CASE WHEN list_sum(list_transform(range(1, 65),
          |         i -> hp.s[i] * e.embedding[i]::DOUBLE)) >= 0
          |       THEN 1::BIGINT ELSE 0::BIGINT END AS bit
          | FROM embeddings e, hp),
          |keys AS (
          | SELECT vec_id, b AS band, CAST(sum(bit * (1::BIGINT << j)) AS BIGINT) AS bkey
          | FROM bits GROUP BY vec_id, b),
          |cand AS (
          | SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
          | FROM keys x JOIN keys y
          |   ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id < y.vec_id)
          |SELECT id_a, id_b FROM cand c
          |JOIN embeddings p ON c.id_a = p.vec_id
          |JOIN embeddings q ON c.id_b = q.vec_id
          |WHERE list_cosine_similarity(p.embedding, q.embedding) >= 0.25
          |ORDER BY id_a, id_b""".stripMargin,
      "q31_asof_join" ->
        """SELECT p.event_id, p.user_id, c.event_id AS prior_click_id
          |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
          |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          |  ON p.user_id = c.user_id AND p.ts >= c.ts
          |ORDER BY p.event_id""".stripMargin,
      "q32_range_join" ->
        """SELECT p.event_id, count(*) AS n_nearby_clicks
          |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
          |JOIN (SELECT * FROM events WHERE event_type = 'click') c
          |  ON p.user_id = c.user_id
          |  AND abs(CAST(floor(epoch(p.ts)) AS BIGINT) - CAST(floor(epoch(c.ts)) AS BIGINT)) <= 3600
          |GROUP BY p.event_id ORDER BY p.event_id""".stripMargin,
      "q33_exists_agg" ->
        """SELECT o_orderpriority, count(*) AS n_orders FROM orders
          |WHERE EXISTS (SELECT 1 FROM lineitem
          |  WHERE l_orderkey = o_orderkey AND l_quantity > 45.0)
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      "q34_order_distribution" ->
        """SELECT c_count, count(*) AS n_customers FROM (
          | SELECT c_custkey, count(o_orderkey) AS c_count
          | FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
          | GROUP BY c_custkey)
          |GROUP BY c_count ORDER BY n_customers DESC, c_count DESC""".stripMargin,
      "q40_promo_revenue" ->
        """SELECT p_type, count(*) AS n_items,
          | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
          | CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_retail
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |GROUP BY p_type ORDER BY p_type""".stripMargin,
      // distribution windows: ntile/percent_rank/cume_dist are rational
      // functions of integer ranks and counts — oracle-exact doubles
      "q39_value_distribution" ->
        """SELECT o_orderpriority, o_orderkey,
          | CAST(ntile(4) OVER w AS BIGINT) AS quartile,
          | percent_rank() OVER w AS pct_rank,
          | cume_dist() OVER w AS cume
          |FROM orders WHERE o_custkey <= 100
          |WINDOW w AS (PARTITION BY o_orderpriority
          |  ORDER BY o_totalprice, o_orderkey)
          |ORDER BY o_orderpriority, o_orderkey""".stripMargin,
      // streaming dedup (append mode, real readStream run): fixture
      // event ids are unique, so the drained result is the projection
      "s05_streaming_dedup" ->
        """SELECT event_id, user_id, event_type FROM events
          |ORDER BY event_id""".stripMargin,
      // round-trip queries: the oracle is the ORIGINAL table — any
      // escaping asymmetry between the sink and source hash-fails
      "q37_csv_roundtrip" ->
        "SELECT doc_id, lang, text FROM documents ORDER BY doc_id",
      "q38_json_roundtrip" ->
        "SELECT doc_id, lang, text FROM documents ORDER BY doc_id",
      // salted queries: the salt must be invisible in the result — the
      // oracle IS the plain unsalted SQL
      "q35_salted_agg" ->
        """SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sum_qty
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      "q36_salted_join" ->
        """SELECT s_name, count(*) AS n_items,
          | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
          |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          |GROUP BY s_name ORDER BY s_name""".stripMargin,
      "t10_bm25" -> t10Sql,
      "t01_normalize_pipeline" ->
        s"""SELECT doc_id, lang, ${norm("text")} AS text_norm
           |FROM documents WHERE lang IN ('en','fr') ORDER BY doc_id""".stripMargin,
      // t20: SQL-text route through the registered kernel — same oracle
      "t20_sql_text_kernels" ->
        s"""SELECT doc_id, lang, ${norm("text")} AS text_norm
           |FROM documents WHERE lang IN ('en','fr') ORDER BY doc_id""".stripMargin,
      "t02_doc_quality" ->
        s"""SELECT doc_id, length(text) AS n_chars,
           | len(${toks("text")}) AS n_tokens,
           | CAST(list_aggregate(list_transform(${toks("text")}, t -> length(t)), 'sum') AS DOUBLE)
           |   / len(${toks("text")}) AS mean_token_len,
           | CAST(len(list_filter(${toks("text")}, t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) AS DOUBLE)
           |   / len(${toks("text")}) AS stopword_ratio
           |FROM documents ORDER BY doc_id""".stripMargin,
      "t03_token_counts" ->
        """SELECT doc_id,
          | len(string_split(text, ' ')) AS ws_tokens,
          | len(list_filter(string_split_regex(regexp_replace(text, '([^\sA-Za-z0-9]|\d)', ' \1 ', 'g'), '\s+'), t -> length(t) > 0)) AS bpeish_tokens
          |FROM documents ORDER BY doc_id""".stripMargin,
      "t04_term_frequencies" ->
        s"""SELECT term, count(*) AS n FROM (
           | SELECT unnest(${toks("text")}) AS term FROM documents)
           |WHERE length(term) > 0
           |GROUP BY term ORDER BY n DESC, term LIMIT 25""".stripMargin,
      "t05_langid_confusion" ->
        s"""SELECT lang, CASE WHEN greatest(h_de,h_en,h_es,h_fr) = 0 THEN 'und'
           |  WHEN h_fr = greatest(h_de,h_en,h_es,h_fr) THEN 'fr'
           |  WHEN h_es = greatest(h_de,h_en,h_es,h_fr) THEN 'es'
           |  WHEN h_en = greatest(h_de,h_en,h_es,h_fr) THEN 'en'
           |  ELSE 'de' END AS lang_guess, count(*) AS n
           |FROM (SELECT lang,
           |  len(list_filter(toks, t -> list_contains(['der','die','das','und','ein','eine','ist','zu','für','mit'], t))) AS h_de,
           |  len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) AS h_en,
           |  len(list_filter(toks, t -> list_contains(['el','la','los','de','y','un','una','es','que','para'], t))) AS h_es,
           |  len(list_filter(toks, t -> list_contains(['le','la','les','de','des','et','un','une','est','pour'], t))) AS h_fr
           | FROM (SELECT lang, ${toks("text")} AS toks FROM documents))
           |GROUP BY lang, lang_guess ORDER BY lang, lang_guess""".stripMargin,
      "t06_fingerprints" ->
        s"""SELECT doc_id, md5(${norm("text")}) AS fp
           |FROM documents ORDER BY doc_id""".stripMargin,
      // t08: the MOSS winnowing selection on 60-bit md5 gram hashes —
      // both engines compute the same gram hash (first 15 hex chars of
      // md5), the same window-min rule (slices clip at the gram-array
      // end, so ng<=w degenerates to one global min), and an
      // order-insensitive digest over the sorted distinct selection
      "t08_winnowing" ->
        s"""WITH g AS (
           | SELECT doc_id, nt, greatest(length(nt) - 7, 0) AS ng
           | FROM (SELECT doc_id, ${norm("text")} AS nt FROM documents)
           |), h AS (
           | SELECT doc_id, ng,
           |  CASE WHEN ng >= 1 THEN list_transform(range(1, ng + 1),
           |   i -> ('0x' || substr(md5(substr(nt, i, 8)), 1, 15))::bigint)
           |  ELSE CAST([] AS BIGINT[]) END AS hs
           | FROM g
           |), s AS (
           | SELECT doc_id,
           |  CASE WHEN ng >= 1 THEN list_sort(list_distinct(list_transform(
           |   range(1, greatest(ng - 3, 1) + 1),
           |   p -> list_min(hs[p : p + 3]))))
           |  ELSE CAST([] AS BIGINT[]) END AS sel
           | FROM h
           |)
           |SELECT doc_id, CAST(len(sel) AS BIGINT) AS n_fingerprints,
           | md5(array_to_string(sel, ',')) AS fps_digest
           |FROM s ORDER BY doc_id""".stripMargin,
      // t19: all-integer linear model — counting features × milli-unit
      // weights, threshold decision; every step exact on both engines
      "t19_quality_classifier" ->
        s"""SELECT doc_id, score_x1000,
           | CASE WHEN score_x1000 >= 4000 THEN 'keep' ELSE 'drop' END AS label
           |FROM (
           | SELECT doc_id,
           |  2*n_chars + 15*n_tokens + 120*n_distinct + 500*n_stop
           |    - 60*(n_tokens - n_distinct) AS score_x1000
           | FROM (
           |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
           |   CAST(len(toks) AS BIGINT) AS n_tokens,
           |   CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
           |   CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) AS BIGINT) AS n_stop
           |  FROM (SELECT doc_id, text, ${toks("text")} AS toks FROM documents)))
           |ORDER BY doc_id""".stripMargin,
      // exact char-shingle jaccard: same shingle windows (1..len-n+1,
      // short-text degenerate window included), same set semantics
      // (distinct), same rational division — identical doubles on both
      // engines, so the threshold predicate and the hash compare agree
      "d08_jaccard_exact_pairs" ->
        s"""WITH sh AS (
           | SELECT doc_id, list_distinct(list_transform(
           |   range(1, greatest(length(nt) - 3, 2)), i -> substr(nt, i, 5))) AS s
           | FROM (SELECT doc_id, ${norm("text")} AS nt FROM documents WHERE doc_id < 250))
           |SELECT doc_a, doc_b, jaccard FROM (
           | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
           |    / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
           | FROM sh a, sh b WHERE a.doc_id < b.doc_id)
           |WHERE jaccard >= 0.25
           |ORDER BY doc_a, doc_b""".stripMargin,
      // d03: the full MinHash+LSH pipeline, stage by stage — the same
      // md5-60-bit gram hashes (t08's portable hash), the same
      // (a·h+b) mod 2^61−1 permutations via HUGEINT (constants
      // interpolated from HashFns.PortableA/B — one source of truth),
      // band keys = the 4 components themselves, the same integer
      // ≥13-of-32 estimate prefilter, and exact jaccard over the SAME
      // hashed shingle sets. Every stage is integer algebra until the
      // one final division of identical ints.
      "d03_minhash_lsh" ->
        s"""WITH ${portableLshCtes(s"(SELECT doc_id, ${norm("text")} AS nt FROM documents)")}
           |SELECT doc_a, doc_b, jaccard FROM lshpairs
           |ORDER BY doc_a, doc_b""".stripMargin,
      // d28: the SAME chain from the SAME builder at 16 bands × 2 rows
      // (recall-leaning geometry) — nothing duplicated but the call
      "d28_minhash_lsh_alt" ->
        s"""WITH ${portableLshCtesFor(s"(SELECT doc_id, ${norm("text")} AS nt FROM documents)",
                                      bands = 16, rows = 2, minMatch = 13, threshold = 0.6)}
           |SELECT doc_a, doc_b, jaccard FROM lshpairs
           |ORDER BY doc_a, doc_b""".stripMargin,
      // s19: a pair (a < b) is emitted when its second-processed
      // member arrives, so the drained set is exactly the d03 pairs
      // whose LARGER id is a delta doc (both-base pairs never stream)
      "s19_streaming_neardup" ->
        s"""WITH ${portableLshCtes(s"(SELECT doc_id, ${norm("text")} AS nt FROM documents)")}
           |SELECT doc_a, doc_b, jaccard FROM lshpairs
           |WHERE doc_b >= ${graft.operators.Dedup.incrementalSplit}
           |ORDER BY doc_a, doc_b""".stripMargin,
      // d29: same emission rule as s19 — the two-increment drain with a
      // compaction between the appends detects exactly the pairs whose
      // larger id is a delta doc; compaction must be invisible here
      "d29_index_compaction" ->
        s"""WITH ${portableLshCtes(s"(SELECT doc_id, ${norm("text")} AS nt FROM documents)")}
           |SELECT doc_a, doc_b, jaccard FROM lshpairs
           |WHERE doc_b >= ${graft.operators.Dedup.incrementalSplit}
           |ORDER BY doc_a, doc_b""".stripMargin,
      // d30: the s19 closed form MINUS pairs whose index-side member
      // was tombstoned (retiring a doc removes exactly the pairs it
      // participates in — per-pair independence of the collision join);
      // the takedown set is the two mod-7 residues, one folded by
      // compaction, one live in the tombstone table
      "d30_index_tombstone" ->
        s"""WITH ${portableLshCtes(s"(SELECT doc_id, ${norm("text")} AS nt FROM documents)")}
           |SELECT doc_a, doc_b, jaccard FROM lshpairs
           |WHERE doc_b >= ${graft.operators.Dedup.incrementalSplit}
           |  AND NOT (doc_a < ${graft.operators.Dedup.incrementalSplit}
           |           AND doc_a % 7 IN (${graft.operators.Dedup.tombstoneResidues.mkString(", ")}))
           |ORDER BY doc_a, doc_b""".stripMargin,
      // d31: the index migrated 8×4 → 16×2 from its persisted
      // signatures must probe exactly as a 16×2 index built from
      // scratch — the d28 chain (same builder, same 32 permutations,
      // same ≥13 prefilter and 0.6 verify) at the s19 emission rule
      "d31_index_reband" ->
        s"""WITH ${portableLshCtesFor(s"(SELECT doc_id, ${norm("text")} AS nt FROM documents)",
                                      bands = 16, rows = 2, minMatch = 13, threshold = 0.6)}
           |SELECT doc_a, doc_b, jaccard FROM lshpairs
           |WHERE doc_b >= ${graft.operators.Dedup.incrementalSplit}
           |ORDER BY doc_a, doc_b""".stripMargin,
      // d04: portable SimHash — md5-60-bit token hashes, 60-bit
      // majority-vote signature (integer tie rule 2·cnt > n), 4×15-bit
      // bands, bit_count(xor) <= 3 verify. Integer algebra throughout.
      "d04_simhash" ->
        s"""WITH hs AS (
           | SELECT doc_id, list_transform(string_split(nt, ' '),
           |   t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hs
           | FROM (SELECT doc_id, ${norm("text")} AS nt FROM documents)
           |), sig AS (
           | SELECT doc_id, list_sum(list_transform(range(0, 60),
           |  j -> CASE WHEN 2 * len(list_filter(hs, h -> (h >> j) & 1 = 1)) > len(hs)
           |       THEN (1::BIGINT << j) ELSE 0::BIGINT END))::BIGINT AS sig
           | FROM hs
           |), banded AS (
           | SELECT doc_id, sig, b, (sig >> (b * 15)) & 32767 AS bkey
           | FROM sig, range(0, 4) t(b)
           |)
           |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
           |  bit_count(xor(x.sig, y.sig))::BIGINT AS hamming
           |FROM banded x JOIN banded y
           |  ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id
           |WHERE bit_count(xor(x.sig, y.sig)) <= 3
           |ORDER BY doc_a, doc_b""".stripMargin,
      // d05: portable word-3-gram MinHash — same machinery as d03 with
      // k=16, 4×4 bands, >=3-of-16 prefilter, jaccard >= 0.4; n-gram
      // hash = md5-60-bit of the space-joined window (windows clip at
      // the token-array end; the short-doc all-tokens window included)
      "d05_ngram_jaccard" -> {
        val aLit = graft.functions.HashFns.PortableA.take(16).mkString("[", ", ", "]")
        val bLit = graft.functions.HashFns.PortableB.take(16).mkString("[", ", ", "]")
        s"""WITH hs AS (
           | SELECT doc_id, list_sort(list_distinct(list_transform(
           |   range(1, greatest(len(toks) - 1, 2)),
           |   i -> ('0x' || substr(md5(array_to_string(toks[i : i+2], ' ')), 1, 15))::BIGINT))) AS hs
           | FROM (SELECT doc_id, ${toks("text")} AS toks FROM documents)
           |), sig AS (
           | SELECT doc_id, hs, list_transform(range(0, 16),
           |  j -> (list_min(list_transform(hs,
           |   h -> (($aLit[j+1]::HUGEINT * h + $bLit[j+1])
           |         % 2305843009213693951)::BIGINT)))) AS sig
           | FROM hs
           |), banded AS (
           | SELECT doc_id, sig, b,
           |  array_to_string(sig[1 + 4*b : 4 + 4*b], '-') AS bkey
           | FROM sig, range(0, 4) t(b)
           |), cand AS (
           | SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           | FROM banded x JOIN banded y
           |   ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id
           | WHERE len(list_filter(range(1, 17), i -> x.sig[i] = y.sig[i])) >= 3
           |)
           |SELECT doc_a, doc_b, jaccard FROM (
           | SELECT c.doc_a, c.doc_b,
           |  CAST(len(list_intersect(p.hs, q.hs)) AS DOUBLE)
           |   / (len(p.hs) + len(q.hs) - len(list_intersect(p.hs, q.hs))) AS jaccard
           | FROM cand c JOIN hs p ON c.doc_a = p.doc_id JOIN hs q ON c.doc_b = q.doc_id)
           |WHERE jaccard >= 0.4
           |ORDER BY doc_a, doc_b""".stripMargin
      },
      // d22: the oracle brute-forces EXACT Jaccard over ALL pairs of
      // the same hashed word-3-gram shingle sets (d05's element space)
      // — equality proves the engine's prefix filter loses no pair
      // while never itself running O(n²)
      "d22_setsim_prefix" ->
        s"""WITH hs AS (
           | SELECT doc_id, list_sort(list_distinct(list_transform(
           |   range(1, greatest(len(toks) - 1, 2)),
           |   i -> ('0x' || substr(md5(array_to_string(toks[i : i+2], ' ')), 1, 15))::BIGINT))) AS hs
           | FROM (SELECT doc_id, ${toks("text")} AS toks FROM documents)
           |), s AS (
           | SELECT doc_id, hs, len(hs) AS sz FROM hs WHERE len(hs) > 0
           |), p AS (
           | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sz AS sza,
           |        b.sz AS szb, len(list_intersect(a.hs, b.hs)) AS i
           | FROM s a JOIN s b ON a.doc_id < b.doc_id
           |)
           |SELECT doc_a, doc_b,
           |       CAST(i AS DOUBLE) / (sza + szb - i) AS jaccard
           |FROM p
           |WHERE CAST(i AS DOUBLE) / (sza + szb - i) >= 0.5
           |ORDER BY doc_a, doc_b""".stripMargin,
      // d23: ordered-pair brute force over the same element space;
      // containment divides by |A| only
      "d23_containment_join" ->
        s"""WITH hs AS (
           | SELECT doc_id, list_sort(list_distinct(list_transform(
           |   range(1, greatest(len(toks) - 1, 2)),
           |   i -> ('0x' || substr(md5(array_to_string(toks[i : i+2], ' ')), 1, 15))::BIGINT))) AS hs
           | FROM (SELECT doc_id, ${toks("text")} AS toks FROM documents)
           |), s AS (
           | SELECT doc_id, hs, len(hs) AS sz FROM hs WHERE len(hs) > 0
           |), p AS (
           | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sz AS sza,
           |        len(list_intersect(a.hs, b.hs)) AS i
           | FROM s a JOIN s b ON a.doc_id <> b.doc_id
           |)
           |SELECT doc_a, doc_b, CAST(i AS DOUBLE) / sza AS containment
           |FROM p
           |WHERE CAST(i AS DOUBLE) / sza >= 0.9
           |ORDER BY doc_a, doc_b""".stripMargin,
      // t07: integer TF vectors (md5-60-bit token hash & 63 → 64
      // buckets), ranking by the exact rational dot²/(‖q‖²·‖c‖²) —
      // monotone-identical to cosine for non-negative dots; every
      // product < 2^53 so the one double division is bit-identical
      "t07_doc_similarity" ->
        s"""WITH tf AS (
           | SELECT doc_id, list_transform(range(0, 64), b ->
           |   CAST(len(list_filter(hs, h -> (h & 63) = b)) AS BIGINT)) AS v
           | FROM (SELECT doc_id, list_transform(${toks("text")},
           |   t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hs FROM documents)
           |), n AS (
           | SELECT doc_id, v,
           |  (list_sum(list_transform(v, x -> x * x)))::BIGINT AS nsq FROM tf
           |), scored AS (
           | SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
           |  (list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i])))::BIGINT AS dot,
           |  q.nsq AS na, c.nsq AS nb
           | FROM n q JOIN n c ON q.doc_id < 5 AND c.doc_id <> q.doc_id
           |)
           |SELECT query_id, rank, neighbor_id FROM (
           | SELECT query_id, neighbor_id,
           |  row_number() OVER (PARTITION BY query_id
           |    ORDER BY CAST(dot * dot AS DOUBLE) / (na * nb) DESC, neighbor_id) AS rank
           | FROM scored) WHERE rank <= 3
           |ORDER BY query_id, rank""".stripMargin,
      // q85: the same strictly-after min-timestamp funnel rule on
      // integer epoch micros
      "q85_funnel_steps" ->
        """WITH ev AS (
          | SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
          |v AS (SELECT user_id, min(us) AS t1 FROM ev
          |      WHERE event_type = 'view' GROUP BY 1),
          |c AS (SELECT e.user_id, min(e.us) AS t2 FROM ev e
          |      JOIN v ON e.user_id = v.user_id
          |      WHERE e.event_type = 'click' AND e.us > v.t1 GROUP BY 1),
          |p AS (SELECT e.user_id, min(e.us) AS t3 FROM ev e
          |      JOIN c ON e.user_id = c.user_id
          |      WHERE e.event_type = 'purchase' AND e.us > c.t2 GROUP BY 1)
          |SELECT step, event_type, n_users FROM (
          | SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type,
          |        CAST(count(*) AS BIGINT) AS n_users FROM v
          | UNION ALL SELECT 2, 'click', count(*) FROM c
          | UNION ALL SELECT 3, 'purchase', count(*) FROM p)
          |ORDER BY step""".stripMargin,
      // q86: UTC day truncation + integer day diff
      "q86_retention_cohorts" ->
        """WITH ev AS (
          | SELECT user_id, CAST(ts AS DATE) AS d FROM events),
          |f AS (SELECT user_id, min(d) AS cohort_day FROM ev GROUP BY 1)
          |SELECT cohort_day, offset_days, CAST(count(*) AS BIGINT) AS n_users
          |FROM (
          | SELECT DISTINCT strftime(f.cohort_day, '%Y-%m-%d') AS cohort_day,
          |  CAST(date_diff('day', f.cohort_day, ev.d) AS BIGINT) AS offset_days,
          |  ev.user_id
          | FROM ev JOIN f ON ev.user_id = f.user_id)
          |GROUP BY cohort_day, offset_days
          |ORDER BY cohort_day, offset_days""".stripMargin,
      "t09_text_match" -> t09Sql,
      "d01_exact_dedup" ->
        s"""SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
           |FROM documents GROUP BY ${norm("text")} ORDER BY keeper_id""".stripMargin,
      // d02 groups by xxhash64(normalized text); with no 64-bit
      // collisions the groups coincide with the exact text groups.
      "d02_fingerprint_dedup" ->
        s"""SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
           |FROM documents GROUP BY ${norm("text")} ORDER BY keeper_id""".stripMargin,
      // d21: increment ≡ rebuild — the oracle recomputes full-corpus
      // dedup from scratch and keeps the delta-batch keepers whose
      // text is new corpus-wide (no base doc shares the group)
      "d21_incremental_dedup" -> {
        val split = graft.operators.Dedup.incrementalSplit
        s"""WITH g AS (
           | SELECT min(doc_id) AS keeper_id,
           |  CAST(sum(CASE WHEN doc_id >= $split THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
           |  CAST(sum(CASE WHEN doc_id < $split THEN 1 ELSE 0 END) AS BIGINT) AS n_base
           | FROM documents GROUP BY ${norm("text")})
           |SELECT keeper_id, n_delta AS n_copies FROM g
           |WHERE n_base = 0 AND keeper_id >= $split
           |ORDER BY keeper_id""".stripMargin
      },
      "e05_cosine_range" ->
        """SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id
          |FROM embeddings q, embeddings e
          |WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id
          |  AND list_cosine_similarity(q.embedding, e.embedding) >= 0.3
          |ORDER BY query_id, neighbor_id""".stripMargin,
      "e01_knn_brute" ->
        """SELECT qid AS query_id, rank, nid AS neighbor_id FROM (
          | SELECT q.vec_id qid, e.vec_id nid,
          |  row_number() OVER (PARTITION BY q.vec_id
          |    ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id) AS rank
          | FROM embeddings q, embeddings e
          | WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id)
          |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
      // e10: same rank-only shape as e01 with the metadata predicate on
      // the corpus side only (queries stay unfiltered)
      "e10_knn_filtered" ->
        """SELECT qid AS query_id, rank, nid AS neighbor_id FROM (
          | SELECT q.vec_id qid, e.vec_id nid,
          |  row_number() OVER (PARTITION BY q.vec_id
          |    ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id) AS rank
          | FROM embeddings q, embeddings e
          | WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id AND e.label = 3)
          |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
      // e09: the quantizer is closed-form (floor(x·127/max|x| + 0.5))
      // and shortlist scores are integer dots rescaled by one double
      // multiply in a fixed order — both engines produce bit-identical
      // scores, so the 20-deep shortlist and the exact re-ranked top-5
      // agree row for row
      "e09_knn_int8" ->
        """WITH sv AS (
          | SELECT vec_id, embedding,
          |  greatest(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 1e-12) AS s
          | FROM embeddings),
          |qc AS (
          | SELECT vec_id, s,
          |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*127.0/s + 0.5) AS BIGINT)) AS code
          | FROM sv),
          |short AS (
          | SELECT qid, nid FROM (
          |  SELECT q.vec_id qid, c.vec_id nid,
          |   row_number() OVER (PARTITION BY q.vec_id
          |     ORDER BY CAST(list_dot_product(q.code, c.code) AS DOUBLE) * (q.s * c.s) DESC, c.vec_id) AS arank
          |  FROM qc q, qc c
          |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
          | WHERE arank <= 20)
          |SELECT query_id, rank, neighbor_id FROM (
          | SELECT s.qid AS query_id, s.nid AS neighbor_id,
          |  row_number() OVER (PARTITION BY s.qid
          |    ORDER BY list_cosine_similarity(qe.embedding, ne.embedding) DESC, s.nid) AS rank
          | FROM short s
          | JOIN embeddings qe ON qe.vec_id = s.qid
          | JOIN embeddings ne ON ne.vec_id = s.nid)
          |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
      "s02_sliding_counts" ->
        """SELECT win_start, event_type, count(*) AS n FROM (
          | SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start, event_type FROM events
          | UNION ALL
          | SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) - INTERVAL 1 HOUR AS win_start, event_type FROM events)
          |GROUP BY win_start, event_type ORDER BY win_start, event_type""".stripMargin,
      "s01_hourly_type_counts" ->
        """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type,
          | count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
          |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,
      // s04 executes through a real readStream+foreachBatch run; complete
      // mode ⇒ the read-back result equals the batch aggregation, so the
      // s01 oracle applies verbatim
      "s04_streaming_hourly" ->
        """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type,
          | count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
          |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,
      // s07: the drained transformWithState totals reduce to the plain
      // per-user aggregate; cents are integers, so the sum is exact on
      // both engines whatever the micro-batch/emission order was
      "s07_streaming_totals" ->
        """SELECT user_id, count(*) AS n_events,
          | CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_cents
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
      // s08: shard finals summed per type ≡ the plain global count
      "s08_streaming_type_counts" ->
        """SELECT event_type, count(*) AS n
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      // s09: state buffers of the drained count query = the global count
      "s09_state_inspect" ->
        """SELECT event_type, count(*) AS n
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      // curation: md5 is bit-identical across engines (lowercase hex),
      // so hash-keyed splits/samples/priority-dedup are oracle-exact
      "q41_deterministic_split" ->
        """SELECT doc_id,
          | CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'train'
          |  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e' THEN 'val'
          |  ELSE 'test' END AS split
          |FROM documents ORDER BY doc_id""".stripMargin,
      // p04: thresholds re-derived from the oracle's own lang counts —
      // n_min/n, sqrt, ·65536, floor are each one correctly-rounded
      // IEEE op, so the integer thresholds (and the hex-quad compare)
      // are bit-identical cross-engine
      "p04_temperature_mix" ->
        """WITH st AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
          |  FROM documents GROUP BY lang),
          |thr AS (
          | SELECT lang, CASE WHEN t >= 65536 THEN 'g'
          |   ELSE printf('%04x', t) END AS thr_hex
          | FROM (SELECT lang, CAST(floor(65536.0 *
          |    sqrt(CAST((SELECT min(n) FROM st) AS DOUBLE) / CAST(n AS DOUBLE)))
          |   AS BIGINT) AS t FROM st))
          |SELECT d.doc_id, d.lang FROM documents d JOIN thr USING (lang)
          |WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < thr.thr_hex
          |ORDER BY doc_id""".stripMargin,
      "q42_balanced_sample" ->
        """SELECT doc_id, lang, rn FROM (
          | SELECT doc_id, lang,
          |  CAST(row_number() OVER (PARTITION BY lang
          |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
          | FROM documents)
          |WHERE rn <= 50 ORDER BY lang, rn""".stripMargin,
      // q54: two-char lowercase hex prefixes compare lexicographically
      // == numerically, so the weight thresholds are string literals
      // shared verbatim with the Spark side (en 256/256, fr 192/256,
      // default 128/256)
      "q54_weighted_mix" ->
        """SELECT doc_id, lang FROM documents
          |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
          |  CASE WHEN lang = 'en' THEN 'g' WHEN lang = 'fr' THEN 'c0' ELSE '80' END
          |ORDER BY doc_id""".stripMargin,
      // t16: sliding-window chunking (64-token windows, stride 48) —
      // same window starts, slices, joins and md5 fingerprints on both
      // engines; chunk_idx = (start-1)/stride is exact integer division
      "t16_chunking" ->
        s"""SELECT doc_id,
           | CAST((s - 1) / 48 AS BIGINT) AS chunk_idx,
           | CAST(len(t[s:s+63]) AS BIGINT) AS n_chunk_tokens,
           | md5(array_to_string(t[s:s+63], ' ')) AS chunk_fp
           |FROM (
           | SELECT doc_id, t, unnest(range(1, greatest(len(t) - 16, 1) + 1, 48)) AS s
           | FROM (SELECT doc_id, string_split(${norm("text")}, ' ') AS t
           |       FROM documents))
           |ORDER BY doc_id, chunk_idx""".stripMargin,
      // t17: per-language bottom-quartile quality filter — integer-exact
      // threshold = the (n div 4 + 1)-th smallest token count per lang,
      // derived from the same (lang, n_tokens, cnt) histogram + running
      // sum the Spark side aggregates (no FP quantile interpolation)
      "t17_quantile_filter" ->
        s"""WITH scored AS (
           |  SELECT doc_id, lang,
           |    CAST(len(${toks("text")}) AS BIGINT) AS n_tokens FROM documents),
           |thr AS (
           |  SELECT lang, min(n_tokens) AS thr FROM (
           |    SELECT lang, n_tokens,
           |      sum(cnt) OVER (PARTITION BY lang ORDER BY n_tokens) AS cum,
           |      sum(cnt) OVER (PARTITION BY lang) AS n
           |    FROM (SELECT lang, n_tokens, count(*) AS cnt
           |          FROM scored GROUP BY 1, 2))
           |  WHERE cum >= n // 4 + 1 GROUP BY lang)
           |SELECT s.doc_id, s.lang, s.n_tokens
           |FROM scored s JOIN thr USING (lang)
           |WHERE s.n_tokens >= thr.thr
           |ORDER BY doc_id""".stripMargin,
      // t18: reciprocal-rank fusion of the t10 (BM25) and t09 (tf-idf)
      // shortlists — ranks re-derived by the same (score DESC, doc_id)
      // order, RRF = two fixed-order IEEE divisions; rank 0 = absent
      "t18_rank_fusion" ->
        s"""WITH bm AS (
           |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
           |  FROM ($t10Sql)),
           |tm AS (
           |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
           |  FROM ($t09Sql))
           |SELECT doc_id,
           |  COALESCE(bm.r, 0) AS bm25_rank,
           |  COALESCE(tm.r, 0) AS tfidf_rank,
           |  COALESCE(CAST(1 AS DOUBLE) / (60.0 + CAST(bm.r AS DOUBLE)), CAST(0 AS DOUBLE))
           |    + COALESCE(CAST(1 AS DOUBLE) / (60.0 + CAST(tm.r AS DOUBLE)), CAST(0 AS DOUBLE)) AS rrf_score
           |FROM bm FULL JOIN tm USING (doc_id)
           |ORDER BY rrf_score DESC, doc_id""".stripMargin,
      // q57: GPT-style concat-and-chunk sequence packing, sharded so no
      // global offset serializes the corpus — running sum per shard
      "q57_sequence_pack" ->
        """SELECT doc_id, n_tokens, shard, start_off,
          | shard * 2199023255552 + CAST(floor(start_off / 2048) AS BIGINT) AS pack_id
          |FROM (
          | SELECT doc_id, n_tokens, shard,
          |  CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          |    - n_tokens AS start_off
          | FROM (SELECT doc_id,
          |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
          |   doc_id % 32 AS shard FROM documents))
          |ORDER BY doc_id""".stripMargin,
      // q58: token-budget corpus mixing — per-source cumulative token
      // cap in deterministic md5 order (the q41/q42 hash idiom)
      "q58_token_budget_mix" ->
        """SELECT doc_id, source, n_tokens, cum_tokens FROM (
          | SELECT doc_id, source, n_tokens,
          |  CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
          | FROM (SELECT doc_id, source,
          |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
          |   md5(CAST(doc_id AS VARCHAR)) AS h FROM documents))
          |WHERE cum_tokens <= 600 ORDER BY source, cum_tokens""".stripMargin,
      // d13: duplicated 40-char spans (stride 10) across documents —
      // lateral unnest(range(...)) re-derives the span stream
      "d13_substring_dups" ->
        """SELECT span, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
          |FROM (
          | SELECT doc_id, substr(text, CAST(i AS INTEGER), 40) AS span
          | FROM documents,
          |  LATERAL (SELECT unnest(range(1, len(text) - 39 + 1, 10)) AS i)
          | WHERE len(text) >= 40)
          |GROUP BY span HAVING count(DISTINCT doc_id) >= 2
          |ORDER BY span""".stripMargin,
      // d15: per-doc duplicated-span coverage; dup_frac is one IEEE
      // division of two exact counts — bit-identical across engines
      "d15_substring_coverage" ->
        """WITH sh AS (
          | SELECT doc_id, substr(text, CAST(i AS INTEGER), 40) AS span
          | FROM documents,
          |  LATERAL (SELECT unnest(range(1, len(text) - 39 + 1, 10)) AS i)
          | WHERE len(text) >= 40),
          |d AS (
          | SELECT span FROM sh GROUP BY span
          | HAVING count(DISTINCT doc_id) >= 2)
          |SELECT doc_id, count(*) AS n_windows,
          | CAST(count(d.span) AS BIGINT) AS n_dup_windows,
          | CAST(count(d.span) AS DOUBLE) / count(*) AS dup_frac
          |FROM sh LEFT JOIN d USING (span)
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      // d18: the oracle derives the CANONICAL url closed-form from the
      // same (source, doc_id) arithmetic the Spark side plants hazards
      // from — a hash match pins the whole parse_url/normalize chain
      // to its specification (scheme/host case, WWW., :443, trailing
      // slash, utm_/ref params and fragments must all collapse)
      "d18_url_dedup" ->
        """SELECT 'https://' || source || '.example.com/docs/'
          |   || CAST(doc_id % 25 AS VARCHAR)
          |   || '?page=' || CAST(doc_id % 3 AS VARCHAR) AS canonical_url,
          | min(doc_id) AS kept_doc_id, count(*) AS n_variants
          |FROM documents
          |GROUP BY 1 ORDER BY canonical_url""".stripMargin,
      // d19: paragraph-level corpus dedup — the oracle re-derives the
      // 10-word chunk stream with lateral unnest, picks keepers with a
      // keyed window (fine at oracle scale), and reassembles surviving
      // chunks with an ordered string_agg; counts AND the rebuilt text
      // must match chunk-for-chunk
      "d19_paragraph_dedup" ->
        """WITH toks AS (
          | SELECT doc_id, string_split(text, ' ') AS w FROM documents),
          |ch AS (
          | SELECT doc_id, CAST(i AS INTEGER) AS pos,
          |   array_to_string(w[(i*10+1):(i*10+10)], ' ') AS chunk
          | FROM toks, LATERAL (SELECT unnest(range(0,
          |   CAST(ceil(len(w) / 10.0) AS BIGINT))) AS i)),
          |r AS (
          | SELECT doc_id, pos, chunk,
          |  row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
          | FROM ch)
          |SELECT doc_id, count(*) AS n_chunks,
          | CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
          | coalesce(string_agg(chunk, ' ' ORDER BY pos)
          |   FILTER (WHERE rn = 1), '') AS text_dedup
          |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      // d14: edit-distance title pairs under prefix blocking —
      // unit-cost levenshtein is bit-identical across engines
      "d14_fuzzy_pairs" ->
        """WITH t AS (SELECT doc_id, substr(text, 1, 60) AS title,
          |                  substr(text, 1, 10) AS blk FROM documents)
          |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          | CAST(levenshtein(a.title, b.title) AS BIGINT) AS dist
          |FROM t a JOIN t b ON a.blk = b.blk AND a.doc_id < b.doc_id
          |WHERE levenshtein(a.title, b.title) <= 8
          |ORDER BY doc_a, doc_b""".stripMargin,
      // s06: drained inner interval join == the batch interval join
      // (inner matches are emitted per micro-batch; watermarks only
      // bound state retention)
      // s10: the chained rollup — hourly counts re-aggregated per day;
      // append mode only finalizes a day once the watermark (max ts −
      // 2 h) passes its end, so the oracle applies the same cutoff
      "s10_streaming_rollup" ->
        """WITH h AS (
          | SELECT date_trunc('hour', ts) AS hs, event_type, count(*) AS n
          | FROM events GROUP BY 1, 2),
          |cut AS (SELECT max(ts) - INTERVAL 2 HOUR AS wm FROM events)
          |SELECT CAST(date_trunc('day', hs) AS TIMESTAMP) AS day_start,
          | event_type, CAST(sum(n) AS BIGINT) AS n_day, max(n) AS max_hourly
          |FROM h, cut
          |WHERE CAST(date_trunc('day', hs) AS TIMESTAMP) + INTERVAL 1 DAY
          |  <= wm
          |GROUP BY 1, 2 ORDER BY day_start, event_type""".stripMargin,
      "s06_streaming_join" ->
        """SELECT p.event_id, p.user_id, CAST(c.ts AS TIMESTAMP) AS c_ts
          |FROM events p JOIN events c ON p.user_id = c.user_id
          | AND p.event_type = 'purchase' AND c.event_type = 'click'
          | AND c.ts >= p.ts - INTERVAL 1 HOUR
          | AND c.ts <= p.ts + INTERVAL 1 HOUR
          |ORDER BY p.event_id, c_ts""".stripMargin,
      // s11: left-outer matches are the s06 inner set; the null-click
      // rows are the unmatched purchases whose join window is fully
      // below the final GLOBAL watermark. With one watermark node per
      // side, Spark's multipleWatermarkPolicy=min makes that
      // least(max purchase ts, max click ts) − 2h — verified against
      // the engine's reported per-batch watermark. The hash match pins
      // the min-policy + state-eviction emission rule, not just the
      // join arithmetic.
      "s11_streaming_left_join" ->
        """WITH wm AS (SELECT least(
          |  (SELECT max(ts) FROM events WHERE event_type = 'purchase'),
          |  (SELECT max(ts) FROM events WHERE event_type = 'click'))
          |  - INTERVAL 2 HOUR AS wm)
          |SELECT p.event_id, p.user_id, CAST(c.ts AS TIMESTAMP) AS c_ts
          |FROM events p JOIN events c ON p.user_id = c.user_id
          | AND p.event_type = 'purchase' AND c.event_type = 'click'
          | AND c.ts >= p.ts - INTERVAL 1 HOUR
          | AND c.ts <= p.ts + INTERVAL 1 HOUR
          |UNION ALL
          |SELECT p.event_id, p.user_id, CAST(NULL AS TIMESTAMP) AS c_ts
          |FROM events p, wm
          |WHERE p.event_type = 'purchase'
          | AND p.ts + INTERVAL 1 HOUR < wm.wm
          | AND NOT EXISTS (
          |   SELECT 1 FROM events c WHERE c.event_type = 'click'
          |    AND c.user_id = p.user_id
          |    AND c.ts >= p.ts - INTERVAL 1 HOUR
          |    AND c.ts <= p.ts + INTERVAL 1 HOUR)
          |ORDER BY event_id, c_ts""".stripMargin,
      // s12: after the drain the upsert table IS the latest event per
      // user ((ts, event_id)-ordered last-write-wins)
      "s12_streaming_upsert" ->
        """SELECT user_id, event_id AS last_event_id,
          | CAST(ts AS TIMESTAMP) AS ts, value
          |FROM (SELECT *, row_number() OVER (
          |   PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          |  FROM events)
          |WHERE rn = 1 ORDER BY user_id""".stripMargin,
      // d12: word-8-gram contamination vs an eval suite of 20-token
      // excerpts (tokens 6-25 of every doc_id%97 doc — benchmark items
      // quoted from the corpus); md5 shingle keys are bit-identical
      // across engines. Shingle windows mirror TextFns.wordShingles
      // exactly (distinct, short-doc degenerate window included)
      "d12_decontamination" ->
        s"""WITH tk AS (
           | SELECT doc_id, string_split(${norm("text")}, ' ') AS t
           | FROM documents),
           |sh AS (
           | SELECT doc_id, md5(s) AS shkey FROM (
           |  SELECT doc_id, unnest(list_distinct(list_transform(
           |    range(1, greatest(len(t) - 7, 1) + 1),
           |    i -> array_to_string(t[i:i+7], ' ')))) AS s
           |  FROM tk)),
           |ev AS (
           | SELECT DISTINCT md5(s) AS shkey FROM (
           |  SELECT unnest(list_distinct(list_transform(
           |    range(1, greatest(len(e) - 7, 1) + 1),
           |    i -> array_to_string(e[i:i+7], ' ')))) AS s
           |  FROM (SELECT t[6:25] AS e FROM tk WHERE doc_id % 97 = 0)))
           |SELECT doc_id, count(*) AS n_eval_hits
           |FROM sh JOIN ev USING (shkey)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "d09_priority_dedup" ->
        s"""SELECT keeper_id, lang, n_copies FROM (
           | SELECT doc_id AS keeper_id, lang,
           |  row_number() OVER (PARTITION BY md5(${norm("text")})
           |    ORDER BY CASE lang WHEN 'en' THEN 0 WHEN 'fr' THEN 1 ELSE 2 END, doc_id) AS rn,
           |  count(*) OVER (PARTITION BY md5(${norm("text")})) AS n_copies
           | FROM documents)
          |WHERE rn = 1 ORDER BY keeper_id""".stripMargin,
      // t12: the sketch prefilter is exact-recovered (MG superset +
      // recount), so the oracle is the plain exact heavy-hitter query
      "t12_heavy_hitters_exact" ->
        s"""WITH t AS (SELECT unnest(${toks("text")}) AS term FROM documents),
           |tf AS (SELECT term, count(*) AS n_count FROM t
           |  WHERE length(term) > 0 GROUP BY term),
           |tot AS (SELECT CAST(sum(n_count) AS BIGINT) AS n_total FROM tf)
           |SELECT term, n_count FROM tf, tot WHERE n_count * 32 > n_total
           |ORDER BY n_count DESC, term""".stripMargin,
      // t13: identical planted-PII expression and identical patterns
      // (common Java-regex/RE2 subset) on both engines
      "t13_pii_redaction" -> {
        val planted =
          """text || ' contact user' || CAST(doc_id AS VARCHAR)
            | || '@example.com tel +33 6 12 34 56 '
            | || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
            | || ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'"""
            .stripMargin.replace("\n", "")
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
        val phone = "\\+\\d{1,3}[ ]\\d(?:[ ]?\\d){7,}"
        s"""SELECT doc_id,
           | CAST(len(regexp_extract_all(p, '$email')) AS BIGINT) AS n_emails,
           | CAST(len(regexp_extract_all(p, '$phone')) AS BIGINT) AS n_phones,
           | CAST(len(regexp_extract_all(p, '$ip')) AS BIGINT) AS n_ips,
           | md5(regexp_replace(regexp_replace(regexp_replace(p,
           |   '$email', '<EMAIL>', 'g'), '$phone', '<PHONE>', 'g'), '$ip', '<IP>', 'g')) AS redacted_fp
           |FROM (SELECT doc_id, $planted AS p FROM documents)
           |ORDER BY doc_id""".stripMargin
      },
      // t14: rational functions of integer counts, single fixed
      // division — bit-identical doubles on both engines
      "t14_repetition" ->
        """SELECT doc_id, n_tokens,
          | CASE WHEN len(bigrams) > 0
          |  THEN CAST(len(bigrams) - len(list_distinct(bigrams)) AS DOUBLE)
          |    / CAST(len(bigrams) AS DOUBLE)
          |  ELSE 0.0 END AS dup_bigram_frac,
          | CAST(top_tok AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS top_token_frac
          |FROM (
          | SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
          |  CASE WHEN len(toks) >= 2
          |   THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
          |   ELSE [] END AS bigrams,
          |  list_max(list_transform(list_distinct(toks),
          |    t -> len(list_filter(toks, x -> x = t)))) AS top_tok
          | FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
          |ORDER BY doc_id""".stripMargin,
      // t15: rational PMI core (no log — monotone, ranking unchanged);
      // identical left-assoc double arithmetic on both engines. The
      // DuckDB side groups string bigrams "a b" (tokens contain no
      // spaces) and splits back — bijective with the struct grouping.
      "t15_collocations" ->
        s"""WITH tk AS (SELECT list_filter(${toks("text")}, t -> length(t) > 0) AS tk FROM documents),
           |uni AS (SELECT tok, count(*) AS n_tok
           |  FROM (SELECT unnest(tk) AS tok FROM tk) GROUP BY tok),
           |tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS n_uni_total FROM uni),
           |bi AS (SELECT bg, count(*) AS n_ab FROM (
           |   SELECT unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])) AS bg
           |   FROM tk WHERE len(tk) >= 2)
           |  GROUP BY bg HAVING count(*) >= 5),
           |btot AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n_bi_total FROM bi)
           |SELECT a, b, n_ab, assoc FROM (
           | SELECT string_split(bg, ' ')[1] AS a, string_split(bg, ' ')[2] AS b, n_ab,
           |  (CAST(n_ab AS DOUBLE) * CAST(n_uni_total AS DOUBLE) * CAST(n_uni_total AS DOUBLE))
           |   / (CAST(n_bi_total AS DOUBLE) * CAST(ua.n_tok AS DOUBLE) * CAST(ub.n_tok AS DOUBLE)) AS assoc
           | FROM bi CROSS JOIN tot CROSS JOIN btot
           |  JOIN uni ua ON string_split(bg, ' ')[1] = ua.tok
           |  JOIN uni ub ON string_split(bg, ' ')[2] = ub.tok)
           |ORDER BY assoc DESC, a, b LIMIT 25""".stripMargin,
      // q56: dynamic partition overwrite must change exactly the
      // rewritten slice — oracle = the CASE projection over the
      // original table
      "q56_partition_overwrite" ->
        """SELECT o_orderkey,
          | CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice * 2
          |  ELSE o_totalprice END AS o_totalprice,
          | o_orderpriority
          |FROM orders ORDER BY o_orderkey""".stripMargin,
      // q76: layout is invisible in the result — same agg, plain table
      "q76_bucketed_agg" ->
        """SELECT l_orderkey, count(*) AS n_items,
          | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
          |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
      // q77: the dim derives closed-form from orders; pruning must not
      // change the join result
      "q77_dynamic_prune" ->
        """WITH dim AS (
          | SELECT DISTINCT o_orderpriority AS p,
          |  CASE WHEN substr(o_orderpriority, 1, 1) IN ('1','2')
          |       THEN 'hot' ELSE 'cold' END AS klass
          | FROM orders)
          |SELECT o_orderpriority, count(*) AS n,
          | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM orders JOIN dim ON o_orderpriority = dim.p
          |WHERE dim.klass = 'hot'
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      // q68: the scalable id-assignment plan must be indistinguishable
      // from the naive global window
      "q68_stable_ids" ->
        """SELECT o_orderkey,
          | row_number() OVER (ORDER BY o_orderkey) AS rid
          |FROM orders ORDER BY o_orderkey""".stripMargin,
      // layout family: the physical layout must be invisible in the
      // result — every oracle is the plain query over the original table
      "q43_orc_roundtrip" ->
        "SELECT doc_id, lang, text FROM documents ORDER BY doc_id",
      "q61_text_roundtrip" ->
        "SELECT doc_id, text FROM documents ORDER BY doc_id",
      "q62_xml_roundtrip" ->
        "SELECT doc_id, lang, text FROM documents ORDER BY doc_id",
      "q63_avro_roundtrip" ->
        "SELECT doc_id, lang, text FROM documents ORDER BY doc_id",
      "q64_avro_messages" ->
        "SELECT doc_id, lang, text FROM documents ORDER BY doc_id",
      "q44_partitioned_prune" ->
        """SELECT date_trunc('month', o_orderdate) AS month, count(*) AS n_orders
          |FROM orders WHERE o_orderpriority = '1-URGENT'
          |GROUP BY 1 ORDER BY month""".stripMargin,
      "q45_bucketed_join" ->
        """SELECT o_orderpriority, count(*) AS n_items,
          | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      "q46_zorder_scan" ->
        """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
          |WHERE o_custkey BETWEEN 100 AND 200
          |  AND o_totalprice BETWEEN 50000.0 AND 150000.0
          |ORDER BY o_orderkey""".stripMargin,
      // q47: MERGE semantics spelled out relationally — update matched,
      // delete matched-with-predicate, insert not-matched
      "q47_merge_upsert" ->
        """WITH upd AS (SELECT o_custkey AS k, count(*) AS n_urgent
          |  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1)
          |SELECT c_custkey, c_name,
          | CAST(CAST(c_acctbal AS DECIMAL(18,2)) + COALESCE(n_urgent, 0) * 10 AS DOUBLE) AS acctbal
          |FROM customer LEFT JOIN upd ON c_custkey = k
          |WHERE NOT (c_mktsegment = 'MACHINERY' AND n_urgent IS NULL)
          |UNION ALL
          |SELECT s_suppkey + 1000000 AS c_custkey, s_name AS c_name,
          | CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal
          |FROM supplier
          |ORDER BY c_custkey""".stripMargin,
      // q60: the refresh merges stored + delta partials; count/sum are
      // algebraic and cents are integers, so the merged result is
      // bit-identical to the full recompute the oracle runs
      "q60_incremental_agg" ->
        """SELECT o_custkey, count(*) AS n_orders,
          | CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_cents
          |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
      // q55: the Bloom prefilter admits no false negatives and the
      // exact join removes false positives — oracle = the plain join
      "q55_bloom_join" ->
        """SELECT s_name, count(*) AS n_items,
          | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
          |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          |WHERE s_nationkey < 5
          |GROUP BY s_name ORDER BY s_name""".stripMargin,
      // q48: epoch-micros interval bounds are integer-exact in both
      // engines (events ns timestamps are whole microseconds)
      "q48_scd2_intervals" ->
        """SELECT user_id, event_id, value,
          | epoch_us(ts) AS valid_from_us,
          | lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to_us
          |FROM events
          |ORDER BY user_id, valid_from_us, event_id""".stripMargin,
      // q49: compaction is a pure layout change — oracle = the original
      "q49_compaction" ->
        "SELECT doc_id, lang, text FROM documents ORDER BY doc_id",
      // q50: the index answer must equal the brute-force token scan
      "q50_inverted_index" ->
        s"""SELECT doc_id, CAST(len(m) AS BIGINT) AS n_terms_matched,
           | array_to_string(list_sort(m), ',') AS terms
           |FROM (SELECT doc_id,
           |  list_intersect(list_distinct(${toks("text")}), ['hash','join','stream']) AS m
           | FROM documents)
           |WHERE len(m) > 0 ORDER BY doc_id""".stripMargin,
      // q66: the observed single-pass metrics; dates compare as
      // ISO-8601 strings in both engines
      "q66_observed_profile" ->
        """SELECT count(*) AS n_rows,
          | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
          | strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S') AS first_date,
          | strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S') AS last_date
          |FROM orders""".stripMargin,
      "q51_profile_orders" ->
        """SELECT * FROM (
          | SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
          |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
          |  count(DISTINCT o_orderkey) AS n_distinct,
          |  CAST(min(o_orderkey) AS DOUBLE) AS min_num, CAST(max(o_orderkey) AS DOUBLE) AS max_num
          | FROM orders
          | UNION ALL
          | SELECT 'o_custkey', count(*),
          |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
          |  count(DISTINCT o_custkey),
          |  CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE)
          | FROM orders
          | UNION ALL
          | SELECT 'o_totalprice', count(*),
          |  CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
          |  count(DISTINCT o_totalprice),
          |  CAST(min(o_totalprice) AS DOUBLE), CAST(max(o_totalprice) AS DOUBLE)
          | FROM orders
          | UNION ALL
          | SELECT 'o_orderpriority', count(*),
          |  CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
          |  count(DISTINCT o_orderpriority),
          |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
          | FROM orders)
          |ORDER BY col_name""".stripMargin,
      "q52_constraint_checks" ->
        """SELECT * FROM (
          | SELECT 'customer_acctbal_notnull' AS rule, count(*) AS n_violations
          |  FROM customer WHERE c_acctbal IS NULL
          | UNION ALL
          | SELECT 'lineitem_quantity_range', count(*)
          |  FROM lineitem WHERE l_quantity <= 0.0 OR l_quantity > 50.0
          | UNION ALL
          | SELECT 'orders_custkey_fk', count(*)
          |  FROM orders WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
          | UNION ALL
          | SELECT 'orders_orderkey_unique', CAST(COALESCE(sum(n), 0) AS BIGINT)
          |  FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderkey HAVING count(*) > 1))
          |ORDER BY rule""".stripMargin,
      "q53_snapshot_diff" ->
        """WITH upd AS (SELECT o_custkey AS k, count(*) AS n_urgent
          |  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
          |after_t AS (
          | SELECT c_custkey AS k_after,
          |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) + COALESCE(n_urgent, 0) * 10 AS DOUBLE) AS v_after
          | FROM customer LEFT JOIN upd ON c_custkey = k
          | WHERE NOT (c_mktsegment = 'MACHINERY' AND n_urgent IS NULL)
          | UNION ALL
          | SELECT s_suppkey + 1000000, CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS DOUBLE)
          | FROM supplier),
          |before_t AS (SELECT c_custkey AS k_before,
          |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS v_before FROM customer)
          |SELECT change_type, count(*) AS n FROM (
          | SELECT CASE WHEN k_before IS NULL THEN 'inserted'
          |   WHEN k_after IS NULL THEN 'deleted'
          |   WHEN v_before <> v_after THEN 'updated'
          |   ELSE 'unchanged' END AS change_type
          | FROM before_t FULL OUTER JOIN after_t ON k_before = k_after)
          |GROUP BY change_type ORDER BY change_type""".stripMargin,
      // d10: connected components via transitive closure (recursive
      // CTE) over the same deterministic exact-jaccard edges as d08 —
      // cluster id = min id reachable in the component
      // q59: d10's recursive-CTE cluster oracle + q41's CASE, keyed by
      // the cluster-or-self unit — leakage-proof split, fully derivable
      "q59_cluster_split" -> {
        val shingled =
          s"""SELECT doc_id, list_distinct(list_transform(
             |   range(1, greatest(length(nt) - 3, 2)), i -> substr(nt, i, 5))) AS s
             | FROM (SELECT doc_id, ${norm("text")} AS nt FROM documents WHERE doc_id < 250)"""
            .stripMargin
        s"""WITH RECURSIVE sh AS ($shingled),
           |pairs AS (
           | SELECT doc_a, doc_b FROM (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |   CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
           |     / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
           |  FROM sh a, sh b WHERE a.doc_id < b.doc_id)
           | WHERE jaccard >= 0.25),
           |edges AS (
           | SELECT doc_a AS s, doc_b AS d FROM pairs
           | UNION SELECT doc_b, doc_a FROM pairs),
           |reach AS (
           | SELECT s, d FROM edges
           | UNION
           | SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
           |clusters AS (
           | SELECT s AS doc_id, least(s, min(d)) AS cluster_id FROM reach GROUP BY s)
           |SELECT doc_id, unit,
           | CASE WHEN substr(md5(CAST(unit AS VARCHAR)), 1, 1) < 'c' THEN 'train'
           |  WHEN substr(md5(CAST(unit AS VARCHAR)), 1, 1) < 'e' THEN 'val'
           |  ELSE 'test' END AS split
           |FROM (
           | SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS unit
           | FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id)
           |ORDER BY doc_id""".stripMargin
      },
      // the shared d24/d27 tail: transitive closure over a pair source,
      // cluster-or-self units, unit sizes, md5-draw acceptance — ONE
      // definition so a fix to either gate's closure or acceptance
      // arithmetic cannot silently drift the other's oracle
      // d24: the d10 cluster CTE chain + q59's cluster-or-self unit,
      // one count per unit, keep iff the md5-60-bit draw clears
      // floor(2^60 / unit_size) — integer division in both engines
      "d24_cluster_sample" -> {
        val shingled =
          s"""SELECT doc_id, list_distinct(list_transform(
             |   range(1, greatest(length(nt) - 3, 2)), i -> substr(nt, i, 5))) AS s
             | FROM (SELECT doc_id, ${norm("text")} AS nt FROM documents WHERE doc_id < 250)"""
            .stripMargin
        s"""WITH RECURSIVE sh AS ($shingled),
           |pairs AS (
           | SELECT doc_a, doc_b FROM (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |   CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
           |     / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
           |  FROM sh a, sh b WHERE a.doc_id < b.doc_id)
           | WHERE jaccard >= 0.25),
           |${closureAcceptanceSql("pairs")}""".stripMargin
      },
      // d27: d03's portable LSH CTE chain feeding d10's recursive
      // transitive closure feeding d24's unit-size acceptance filter —
      // the full scale-path composition derived end-to-end, nothing
      // pinned and no bounded-id anchor
      "d27_cluster_sample_lsh" ->
        s"""WITH RECURSIVE ${portableLshCtes(s"(SELECT doc_id, ${norm("text")} AS nt FROM documents)")},
           |${closureAcceptanceSql("lshpairs")}""".stripMargin,
      "d10_dup_clusters" -> {
        val shingled =
          s"""SELECT doc_id, list_distinct(list_transform(
             |   range(1, greatest(length(nt) - 3, 2)), i -> substr(nt, i, 5))) AS s
             | FROM (SELECT doc_id, ${norm("text")} AS nt FROM documents WHERE doc_id < 250)"""
            .stripMargin
        s"""WITH RECURSIVE sh AS ($shingled),
           |pairs AS (
           | SELECT doc_a, doc_b FROM (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |   CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
           |     / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
           |  FROM sh a, sh b WHERE a.doc_id < b.doc_id)
           | WHERE jaccard >= 0.25),
           |edges AS (
           | SELECT doc_a AS s, doc_b AS d FROM pairs
           | UNION SELECT doc_b, doc_a FROM pairs),
           |reach AS (
           | SELECT s, d FROM edges
           | UNION
           | SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
           |SELECT doc_id, cluster_id FROM (
           | SELECT s AS doc_id, least(s, min(d)) AS cluster_id FROM reach GROUP BY s)
           |ORDER BY doc_id""".stripMargin
      },
      // i01: the stub API serves a pure function of `customer`, so the
      // oracle re-derives the landed offres table in SQL — a hash match
      // proves the OAuth + planning + paged fetch + backoff path lost
      // and duplicated nothing
      "i01_ingest_offres" ->
        """SELECT CAST(c_custkey AS VARCHAR) AS id,
          | c_name AS intitule,
          | c_name || ' (' || c_mktsegment || ')' AS description,
          | c_mktsegment AS romeCode,
          | 'R' || CAST(c_custkey % 3 AS VARCHAR) AS region,
          | 'R' || CAST(c_custkey % 3 AS VARCHAR) || 'D' || CAST(c_custkey % 2 AS VARCHAR) AS departement
          |FROM customer WHERE c_custkey <= 5000 ORDER BY id""".stripMargin,
      // i02: integer-exact run invariants — every 50th customer is
      // served id-less and must surface as a dead-letter row, and the
      // ledger must balance (accounted = 1)
      "i02_ingest_reconciliation" ->
        """SELECT 'collected' AS metric, count(*) AS value
          | FROM customer WHERE c_custkey % 50 <> 0 AND c_custkey <= 5000
          |UNION ALL SELECT 'dead_letter', count(*)
          | FROM customer WHERE c_custkey % 50 = 0 AND c_custkey <= 5000
          |UNION ALL SELECT 'expected', count(*) FROM customer
          | WHERE c_custkey <= 5000
          |UNION ALL SELECT 'accounted', CAST(1 AS BIGINT)
          |ORDER BY metric""".stripMargin,
      // i03: the P6 zero-result guard — a pushed region predicate no
      // offer matches plans ZERO partitions; the oracle re-derives the
      // same (empty) predicate over customer, so both sides count 0
      "i03_empty_filter_scan" ->
        """SELECT 'empty_scan_rows' AS metric, count(*) AS value
          | FROM customer
          | WHERE ('R' || CAST(c_custkey % 3 AS VARCHAR)) = 'R9'""".stripMargin,
      // q69: the F6 nested flatten — the oracle derives the flattened
      // export closed-form from customer (it never builds the struct);
      // a hash match pins build-struct → to_json → from_json → flatten
      // as lossless, including the null lat/long fields to_json omits
      "q69_export_flatten" ->
        """SELECT CAST(c_custkey AS VARCHAR) AS id,
          | c_name AS intitule,
          | c_mktsegment AS romeCode,
          | 'NAF' || CAST(c_custkey % 10 AS VARCHAR) AS codeNAF,
          | CAST(c_custkey % 5 AS VARCHAR) AS qualificationCode,
          | CAST(DATE '2024-01-01'
          |   + CAST(c_custkey % 30 AS INTEGER) AS TIMESTAMP) AS dateActualisation,
          | lpad(CAST(c_custkey % 100 AS VARCHAR), 5, '0') AS codecommune
          |FROM customer ORDER BY id""".stripMargin,
      // q70: the melt re-derived as a UNION ALL over the wide aggregate
      "q70_unpivot" ->
        """WITH w AS (SELECT l_returnflag,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
          |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_discount,
          |  CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
          | FROM lineitem GROUP BY l_returnflag)
          |SELECT l_returnflag, 'sum_price' AS measure, sum_price AS value FROM w
          |UNION ALL SELECT l_returnflag, 'sum_discount', sum_discount FROM w
          |UNION ALL SELECT l_returnflag, 'sum_qty', sum_qty FROM w
          |ORDER BY l_returnflag, measure""".stripMargin,
      // q71/q73: the same SQL text Spark runs (LATERAL / WITH
      // RECURSIVE are ANSI; DuckDB executes them natively)
      "q71_lateral_topn" -> graft.operators.Relational.lateralTopNSql,
      "q73_recursive_chain" -> graft.operators.Relational.recursiveChainSql,
      "q74_forward_fill" -> graft.operators.Relational.forwardFillOracleSql,
      // q78: DuckDB's native EXCEPT ALL / INTERSECT ALL re-derive the
      // multiset semantics
      "q78_multiset_ops" ->
        """WITH a AS (SELECT l_orderkey AS k FROM lineitem),
          |b AS (SELECT l_orderkey AS k FROM lineitem WHERE l_quantity > 25),
          |ex AS (SELECT k FROM a EXCEPT ALL SELECT k FROM b),
          |ia AS (SELECT k FROM a INTERSECT ALL SELECT k FROM b)
          |SELECT 'except_all' AS op, k, count(*) AS n FROM ex GROUP BY k
          |UNION ALL
          |SELECT 'intersect_all' AS op, k, count(*) AS n FROM ia GROUP BY k
          |ORDER BY op, k""".stripMargin,
      "q75_gap_sessionize" -> graft.operators.Relational.gapSessionizeSql,
      // q72: DuckDB's list lambdas mirror each HOF kernel one-for-one
      "q72_hof_arrays" ->
        """WITH a AS (
          | SELECT l_orderkey,
          |  list_sort(list(CAST(l_quantity AS BIGINT))) AS qtys
          | FROM lineitem GROUP BY l_orderkey)
          |SELECT l_orderkey,
          | CAST(len(qtys) AS BIGINT) AS n_lines,
          | CAST(list_aggregate(qtys, 'sum') AS BIGINT) AS total_qty,
          | CAST(len(list_filter(qtys, x -> x > 25)) AS BIGINT) AS n_big,
          | CAST(list_aggregate(list_transform(qtys, x -> x * x), 'sum') AS BIGINT) AS sum_sq,
          | CAST(coalesce(list_aggregate(list_transform(range(2, len(qtys) + 1),
          |   i -> qtys[i] - qtys[i - 1]), 'sum'), 0) AS BIGINT) AS tv_steps
          |FROM a ORDER BY l_orderkey""".stripMargin,
      // t21: bigram novelty — corpus bigram frequencies re-derived with
      // the t15 lateral-unnest bigram stream; every aggregate is an
      // integer, novelty is one fixed-order division
      "t21_bigram_novelty" ->
        s"""WITH tk AS (SELECT doc_id,
           |  list_filter(${toks("text")}, t -> length(t) > 0) AS tk
           | FROM documents),
           |bi AS (SELECT doc_id,
           |  unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])) AS bg
           | FROM tk WHERE len(tk) >= 2),
           |cf AS (SELECT bg, count(*) AS cf FROM bi GROUP BY bg)
           |SELECT doc_id, count(*) AS n_bigrams,
           | CAST(sum(cf) AS BIGINT) AS sum_bigram_freq,
           | CAST(sum(CASE WHEN cf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           | max(cf) AS max_bigram_freq,
           | CAST(sum(CASE WHEN cf = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS novelty
           |FROM bi JOIN cf USING (bg)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      // t22: the fold must restore the pre-plant text EXACTLY — the
      // oracle never runs the chain, it IS the expected fixed point
      "t22_accent_fold" ->
        """SELECT doc_id, text AS text_folded
          |FROM documents ORDER BY doc_id""".stripMargin,
      // q79: identical ANSI text runs on DuckDB
      "q79_scalar_subqueries" -> graft.operators.Relational.scalarSubqueriesSql,
      // q80: the exploded map ≡ the plain group counts; n_priorities
      // = per-customer distinct priority count
      "q80_map_roundtrip" ->
        """WITH c AS (
          | SELECT o_custkey, o_orderpriority, count(*) AS n
          | FROM orders GROUP BY o_custkey, o_orderpriority)
          |SELECT o_custkey,
          | CAST(count(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS n_priorities,
          | o_orderpriority, n
          |FROM c ORDER BY o_custkey, o_orderpriority""".stripMargin,
      // t23: the oracle substitutes the PRECOMPOSED é (U+00E9)
      // directly — the Spark side plants e+U+0301 and must recompose
      "t23_nfc_normalize" ->
        """SELECT doc_id, replace(text, 'e', 'é') AS text_nfc
          |FROM documents ORDER BY doc_id""".stripMargin,
      // q81: same window algebra, DuckDB IGNORE-NULLS spelling +
      // epoch_us; the interpolation arithmetic is integer-derived and
      // order-free, so the hash compare is exact
      "q81_interpolate" -> graft.operators.Relational.interpolateOracleSql,
      // q82: the three PageRank iterations unrolled as CTEs — integer
      // fixed-point algebra is engine-independent
      "q82_pagerank" -> graft.operators.Graph.pageRankOracleSql,
      "q83_bfs_hops" -> graft.operators.Graph.bfsHopsOracleSql,
      // q84: same md5-60-bit hash, same k-smallest selection, same
      // single-division estimator (63·2^60 is exact in a double; h_k
      // rounds identically) — an approximate count that hash-matches
      "q84_kmv_distinct" ->
        """WITH h AS (
          | SELECT DISTINCT o_orderpriority AS prio,
          |  ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
          | FROM orders),
          |k AS (
          | SELECT prio, h, row_number() OVER (PARTITION BY prio ORDER BY h) AS rn
          | FROM h),
          |s AS (
          | SELECT prio, max(h) AS h_k, count(*) AS n_kept
          | FROM k WHERE rn <= 64 GROUP BY prio),
          |x AS (
          | SELECT o_orderpriority AS prio,
          |  count(DISTINCT o_custkey) AS n_exact FROM orders GROUP BY 1)
          |SELECT s.prio,
          | CASE WHEN s.n_kept < 64 THEN s.n_kept::DOUBLE
          |  ELSE (63.0 * 1152921504606846976.0) / s.h_k::DOUBLE END AS est_distinct,
          | x.n_exact
          |FROM s JOIN x ON s.prio = x.prio
          |ORDER BY s.prio""".stripMargin,
      // t24: exact TV distance — HUGEINT mirrors Spark's decimal(38,0);
      // both are exact integer sums cast to double once at the end
      "t24_domain_shift" -> {
        val ls = Seq("de", "en", "es", "fr")
        val prs = for { i <- ls.indices; j <- ls.indices if i < j }
          yield (ls(i), ls(j))
        val nCols = ls.map(l =>
          s"CAST(sum(CASE WHEN lang = '$l' THEN 1 ELSE 0 END) AS BIGINT) AS n_$l")
          .mkString(", ")
        val tCols = ls.map(l => s"CAST(sum(n_$l) AS BIGINT) AS t_$l").mkString(", ")
        val sCols = prs.map { case (a, b) =>
          s"sum(abs(CAST(n_$a AS HUGEINT) * t_$b - CAST(n_$b AS HUGEINT) * t_$a)) AS s_${a}_$b"
        }.mkString(", ")
        val kCols = prs.map { case (a, b) =>
          s"CAST(sum(CASE WHEN n_$a > 0 OR n_$b > 0 THEN 1 ELSE 0 END) AS BIGINT) AS k_${a}_$b"
        }.mkString(", ")
        val mCols = ls.map(l => s"max(t_$l) AS t_$l").mkString(", ")
        val branches = prs.map { case (a, b) =>
          s"""SELECT '$a' AS lang_a, '$b' AS lang_b,
             | CAST(s_${a}_$b AS DOUBLE) / (2.0 * CAST(t_$a AS DOUBLE) * CAST(t_$b AS DOUBLE)) AS tv_distance,
             | k_${a}_$b AS n_terms FROM g""".stripMargin
        }.mkString("\nUNION ALL ")
        s"""WITH tk AS (
           | SELECT lang, unnest(${toks("text")}) AS term
           | FROM documents WHERE lang IN ('de','en','es','fr')),
           |pt AS (
           | SELECT term, $nCols
           | FROM tk WHERE length(term) > 0 GROUP BY term),
           |a AS (SELECT pt.*, t.* FROM pt, (SELECT $tCols FROM pt) t),
           |g AS (SELECT $sCols, $kCols, $mCols FROM a)
           |$branches
           |ORDER BY lang_a, lang_b""".stripMargin
      },
      // t26: same planted sentences, same integer counts, same
      // fixed-order Flesch arithmetic
      "t26_readability" ->
        s"""SELECT doc_id, n_words, n_sentences, n_syllables,
           | CAST(206.835 AS DOUBLE)
           |  - CAST(1.015 AS DOUBLE) * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
           |  - CAST(84.6 AS DOUBLE) * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) AS flesch
           |FROM (
           | SELECT doc_id,
           |  CAST(len(list_filter(string_split(nt, ' '), t -> length(t) > 0)) AS BIGINT) AS n_words,
           |  CAST(len(regexp_extract_all(planted, '[.!?]+')) + 1 AS BIGINT) AS n_sentences,
           |  CAST(len(regexp_extract_all(nt, '[aeiouy]+')) AS BIGINT) AS n_syllables
           | FROM (
           |  SELECT doc_id, planted, ${norm("planted")} AS nt
           |  FROM (SELECT doc_id, replace(text, ' s', '. s') AS planted
           |        FROM documents)))
           |WHERE n_words > 0 ORDER BY doc_id""".stripMargin,
      // t27: the same positional postings derived in SQL (1-based vs
      // Spark's 0-based — only position DIFFERENCES matter), adjacency
      // = pos + 1; all-integer occurrence counts
      "t27_phrase_search" ->
        s"""WITH t AS (
           | SELECT doc_id, ${toks("text")} AS toks FROM documents
           |), p AS (
           | SELECT doc_id, i AS pos, toks[i] AS tok
           | FROM t, lateral unnest(range(1, len(toks) + 1)) r(i)
           |)
           |SELECT a.doc_id, count(*) AS n_occurrences
           |FROM p a JOIN p b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
           |WHERE a.tok = 'hash' AND b.tok = 'join'
           |GROUP BY a.doc_id
           |ORDER BY a.doc_id""".stripMargin,
      // t28: the same per-position cut predicate (md5-60-bit gram hash
      // ≡ 0 mod 64, positions 2..ng), bounds = 1 ∥ cuts ∥ ln+1, chunks
      // re-substring'd and md5'd — chunk hashes identical by the t08
      // gram-hash equivalence
      "t28_cdc_chunks" ->
        s"""WITH g AS (
           | SELECT doc_id, nt, length(nt) AS ln,
           |  greatest(length(nt) - 7, 0) AS ng
           | FROM (SELECT doc_id, ${norm("text")} AS nt FROM documents)
           | WHERE length(nt) >= 1
           |), c AS (
           | SELECT doc_id, nt, ln,
           |  CASE WHEN ng >= 2 THEN list_filter(range(2, ng + 1),
           |   i -> ('0x' || substr(md5(substr(nt, i::INT, 8)), 1, 15))::BIGINT % 64 = 0)
           |  ELSE CAST([] AS BIGINT[]) END AS cuts
           | FROM g
           |), b AS (
           | SELECT doc_id, nt,
           |  list_concat(list_concat([1::BIGINT], cuts), [ln + 1]) AS bounds
           | FROM c
           |), u AS (
           | SELECT doc_id, unnest(list_transform(range(1, len(bounds)),
           |  k -> struct_pack(ci := k,
           |   cl := bounds[k::INT + 1] - bounds[k::INT],
           |   ck := md5(substr(nt, bounds[k::INT]::INT,
           |     (bounds[k::INT + 1] - bounds[k::INT])::INT))))) AS ch
           | FROM b
           |)
           |SELECT doc_id, CAST(ch.ci AS BIGINT) AS chunk_idx,
           | CAST(ch.cl AS BIGINT) AS chunk_len, ch.ck AS chunk_hash
           |FROM u ORDER BY doc_id, chunk_idx""".stripMargin,
      // t29: the same integer bigram LM — bigrams from 1-indexed list
      // transforms (range(1, len) is empty for <2-token docs, matching
      // the Spark zero-floored slices), contribution length(bin(cnt)),
      // LEFT joins mirror the plan (OOV null tally, zero-bigram
      // re-attach) so the gate is integer-exact end to end
      "t29_bigram_lm_score" ->
        s"""WITH d AS (
           | SELECT doc_id, list_filter(${toks("text")}, t -> length(t) > 0) AS toks
           | FROM documents
           |), p AS (
           | SELECT doc_id, bg.t1 AS t1, bg.t2 AS t2 FROM (
           |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
           |   i -> struct_pack(t1 := toks[i::INT], t2 := toks[i::INT + 1]))) AS bg
           |  FROM d)
           |), lm AS (
           | SELECT t1, t2, CAST(count(*) AS BIGINT) AS cnt
           | FROM p WHERE doc_id % 10 < 8 GROUP BY t1, t2
           |), sc AS (
           | SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           |  CAST(sum(CASE WHEN lm.cnt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_bigrams,
           |  CAST(sum(CASE WHEN lm.cnt IS NULL THEN 0 ELSE length(bin(lm.cnt)) END) AS BIGINT) AS lm_score
           | FROM p LEFT JOIN lm ON p.t1 = lm.t1 AND p.t2 = lm.t2
           | WHERE p.doc_id % 10 >= 8 GROUP BY p.doc_id
           |)
           |SELECT d.doc_id, CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           | CAST(coalesce(sc.oov_bigrams, 0) AS BIGINT) AS oov_bigrams,
           | CAST(coalesce(sc.lm_score, 0) AS BIGINT) AS lm_score
           |FROM d LEFT JOIN sc USING (doc_id)
           |WHERE d.doc_id % 10 >= 8
           |ORDER BY d.doc_id""".stripMargin,
      // p02: the naive-global-window statement of the mixture pipeline
      // — same t29 LM CTEs scoring the FULL corpus, per-lang integer
      // mean via GROUP BY, head/middle/tail CASE, and ONE window
      // running sum per lang (the Spark side's two-pass offsets shape
      // must be bit-identical to this, the q68 proof pattern)
      "p02_ccnet_mixture" ->
        s"""WITH d AS (
           | SELECT doc_id, lang, list_filter(${toks("text")}, t -> length(t) > 0) AS toks
           | FROM documents
           |), p AS (
           | SELECT doc_id, bg.t1 AS t1, bg.t2 AS t2 FROM (
           |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
           |   i -> struct_pack(t1 := toks[i::INT], t2 := toks[i::INT + 1]))) AS bg
           |  FROM d)
           |), lm AS (
           | SELECT t1, t2, CAST(count(*) AS BIGINT) AS cnt
           | FROM p WHERE doc_id % 10 < 8 GROUP BY t1, t2
           |), sc AS (
           | SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           |  CAST(sum(CASE WHEN lm.cnt IS NULL THEN 0 ELSE length(bin(lm.cnt)) END) AS BIGINT) AS lm_score
           | FROM p LEFT JOIN lm ON p.t1 = lm.t1 AND p.t2 = lm.t2
           | GROUP BY p.doc_id
           |), m AS (
           | SELECT d.doc_id, d.lang, CAST(len(d.toks) AS BIGINT) AS n_tokens,
           |  CASE WHEN coalesce(sc.n_bigrams, 0) = 0 THEN 0
           |   ELSE (coalesce(sc.lm_score, 0) * 1000) // sc.n_bigrams END AS mscore
           | FROM d LEFT JOIN sc USING (doc_id)
           | WHERE len(d.toks) >= 16
           |), lme AS (
           | SELECT lang, CAST(sum(mscore) // count(*) AS BIGINT) AS lmean
           | FROM m GROUP BY lang
           |), kept AS (
           | SELECT m.doc_id, m.lang, m.n_tokens,
           |  CASE WHEN m.mscore >= lme.lmean + 15 THEN 'head' ELSE 'middle' END AS bucket,
           |  CASE WHEN m.mscore >= lme.lmean + 15 THEN 0 ELSE 1 END AS rnk
           | FROM m JOIN lme USING (lang)
           | WHERE m.mscore >= lme.lmean - 40
           |), cum AS (
           | SELECT doc_id, lang, bucket, n_tokens,
           |  CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY rnk, doc_id
           |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
           | FROM kept
           |)
           |SELECT doc_id, lang, bucket, n_tokens, cum_tokens
           |FROM cum WHERE cum_tokens <= 1500
           |ORDER BY lang, cum_tokens""".stripMargin,
      // t25: unigram-LM quality score — integer-exact cnt_sum/dl,
      // score = (cnt_sum/dl)/n_total divided left-to-right (the same
      // two IEEE divisions the Spark expression performs)
      "t25_rare_token_score" ->
        s"""WITH tok AS (
           | SELECT doc_id, term FROM (
           |  SELECT doc_id, unnest(${toks("text")}) AS term FROM documents)
           | WHERE length(term) > 0),
           |freqs AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt
           |          FROM tok GROUP BY term),
           |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM tok)
           |SELECT doc_id, dl, cnt_sum,
           | CAST(cnt_sum AS DOUBLE) / CAST(dl AS DOUBLE)
           |  / CAST(n_total AS DOUBLE) AS score
           |FROM (
           | SELECT t.doc_id, CAST(count(*) AS BIGINT) AS dl,
           |  CAST(sum(f.cnt) AS BIGINT) AS cnt_sum
           | FROM tok t JOIN freqs f USING (term) GROUP BY t.doc_id), tot
           |ORDER BY doc_id""".stripMargin,
      // q87: naive id-ordered triangle join over the same support-≥2
      // co-purchase graph — same count as the engine's degree-oriented
      // plan (each triangle a<b<c counted at its id-minimum vertex
      // here, its (deg,id)-minimum vertex there)
      "q87_triangle_count" ->
        """WITH op AS (
          | SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
          |e AS (
          | SELECT a.pk AS s, b.pk AS d
          | FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
          | GROUP BY a.pk, b.pk HAVING count(*) >= 2),
          |n AS (SELECT CAST(count(DISTINCT v) AS BIGINT) AS n_nodes FROM (
          |       SELECT s AS v FROM e UNION ALL SELECT d FROM e)),
          |m AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e),
          |t AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
          |      FROM e e1
          |      JOIN e e2 ON e2.s = e1.d
          |      JOIN e e3 ON e3.s = e1.s AND e3.d = e2.d)
          |SELECT n_nodes, n_edges, n_triangles FROM n, m, t""".stripMargin,
      // e14: RRF fusion of the t10 BM25 shortlist and the e01-shaped
      // exact-cosine shortlist for query vector 0 — integer ranks in,
      // fixed-order rational doubles out
      "e14_hybrid_search" ->
        s"""WITH txt AS (
           | SELECT doc_id,
           |  row_number() OVER (ORDER BY score DESC, doc_id) AS rank_text
           | FROM ($t10Sql)),
           |vec AS (
           | SELECT nid AS doc_id, rank AS rank_vec FROM (
           |  SELECT e.vec_id AS nid,
           |   row_number() OVER (ORDER BY
           |     list_cosine_similarity(q.embedding, e.embedding) DESC,
           |     e.vec_id) AS rank
           |  FROM embeddings q, embeddings e
           |  WHERE q.vec_id = 0 AND e.vec_id <> 0)
           | WHERE rank <= 50)
           |SELECT doc_id,
           | COALESCE(rank_text, 0) AS rank_text,
           | COALESCE(rank_vec, 0) AS rank_vec,
           | COALESCE(CAST(1 AS DOUBLE) / (60.0 + CAST(rank_text AS DOUBLE)), CAST(0 AS DOUBLE))
           |  + COALESCE(CAST(1 AS DOUBLE) / (60.0 + CAST(rank_vec AS DOUBLE)), CAST(0 AS DOUBLE)) AS rrf_score
           |FROM txt FULL OUTER JOIN vec USING (doc_id)
           |ORDER BY rrf_score DESC, doc_id LIMIT 20""".stripMargin,
      // q89: KMV set algebra in SQL — same sketches, same union merge,
      // same inclusion-exclusion estimator arithmetic as the engine
      "q89_kmv_overlap" ->
        """WITH h AS (
          | SELECT DISTINCT o_orderpriority AS prio,
          |  ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
          | FROM orders),
          |kk AS (
          | SELECT prio, h, row_number() OVER (PARTITION BY prio ORDER BY h) AS rn
          | FROM h),
          |sk AS (SELECT prio, h FROM kk WHERE rn <= 64),
          |g AS (SELECT prio, max(h) AS h_k, count(*) AS n_kept FROM sk GROUP BY prio),
          |pairs AS (
          | SELECT a.prio AS prio_a, a.h_k AS h_a, a.n_kept AS n_a,
          |        b.prio AS prio_b, b.h_k AS h_b, b.n_kept AS n_b
          | FROM g a JOIN g b ON a.prio < b.prio),
          |u AS (
          | SELECT DISTINCT p.prio_a, p.prio_b, s.h
          | FROM pairs p JOIN sk s ON s.prio = p.prio_a OR s.prio = p.prio_b),
          |uk AS (
          | SELECT prio_a, prio_b, h,
          |  row_number() OVER (PARTITION BY prio_a, prio_b ORDER BY h) AS rn
          | FROM u),
          |us AS (
          | SELECT prio_a, prio_b, max(h) AS h_u, count(*) AS n_u
          | FROM uk WHERE rn <= 64 GROUP BY prio_a, prio_b),
          |cust AS (SELECT DISTINCT o_orderpriority AS prio, o_custkey AS c FROM orders),
          |ex AS (
          | SELECT a.prio AS prio_a, b.prio AS prio_b,
          |  CAST(count(*) AS BIGINT) AS n_inter_exact
          | FROM cust a JOIN cust b ON a.c = b.c AND a.prio < b.prio
          | GROUP BY 1, 2)
          |SELECT p.prio_a, p.prio_b,
          | CASE WHEN us.n_u < 64 THEN us.n_u::DOUBLE
          |  ELSE (63.0 * 1152921504606846976.0) / us.h_u::DOUBLE END AS est_union,
          | greatest(
          |  (CASE WHEN p.n_a < 64 THEN p.n_a::DOUBLE
          |    ELSE (63.0 * 1152921504606846976.0) / p.h_a::DOUBLE END
          |   + CASE WHEN p.n_b < 64 THEN p.n_b::DOUBLE
          |    ELSE (63.0 * 1152921504606846976.0) / p.h_b::DOUBLE END)
          |  - CASE WHEN us.n_u < 64 THEN us.n_u::DOUBLE
          |    ELSE (63.0 * 1152921504606846976.0) / us.h_u::DOUBLE END,
          |  CAST(0 AS DOUBLE)) AS est_inter,
          | COALESCE(ex.n_inter_exact, 0) AS n_inter_exact
          |FROM pairs p
          |JOIN us USING (prio_a, prio_b)
          |LEFT JOIN ex USING (prio_a, prio_b)
          |ORDER BY prio_a, prio_b""".stripMargin,
      // q90: identical exact-int counts off one DISTINCT basket table;
      // confidence and lift are each one double division of int64
      // products — bit-identical cross-engine
      "q90_assoc_rules" ->
        """WITH b AS (
          | SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
          |), cnt AS (
          | SELECT pk, count(*) AS c FROM b GROUP BY pk
          |), n AS (
          | SELECT count(DISTINCT ok) AS n_orders FROM b
          |), p AS (
          | SELECT x.pk AS part_a, y.pk AS part_b, count(*) AS pair_cnt
          | FROM b x JOIN b y ON x.ok = y.ok AND x.pk < y.pk
          | GROUP BY x.pk, y.pk
          |)
          |SELECT part_a, part_b, pair_cnt, ca.c AS cnt_a, cb.c AS cnt_b,
          | CAST(pair_cnt AS DOUBLE) / ca.c AS confidence,
          | CAST(pair_cnt * n.n_orders AS DOUBLE) / (ca.c * cb.c) AS lift
          |FROM p
          |JOIN cnt ca ON p.part_a = ca.pk
          |JOIN cnt cb ON p.part_b = cb.pk, n
          |WHERE pair_cnt >= 2
          |ORDER BY part_a, part_b""".stripMargin,
      // q91: same lag window keyed (ts, event_id); prob is one double
      // division of exact int64 counts
      "q91_transition_matrix" ->
        """WITH seq AS (
          | SELECT event_type AS to_type,
          |  lag(event_type) OVER (PARTITION BY user_id
          |                        ORDER BY ts, event_id) AS from_type
          | FROM events
          |), c AS (
          | SELECT from_type, to_type, count(*) AS n FROM seq
          | WHERE from_type IS NOT NULL GROUP BY from_type, to_type
          |)
          |SELECT from_type, to_type, n,
          | CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type) AS prob
          |FROM c
          |ORDER BY from_type, to_type""".stripMargin,
      // q92: exact DECIMAL power sums, then the division-free outlier
      // test (n·x − Σx)² > 9·(n·Σx² − (Σx)²) in pinned double order —
      // the boolean is bit-deterministic on both engines
      "q92_value_outliers" ->
        """WITH s AS (
          | SELECT event_type, count(*) AS n,
          |  sum(CAST(value AS DECIMAL(18,2))) AS s1,
          |  sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS s2
          | FROM events GROUP BY event_type
          |)
          |SELECT e.event_type, e.event_id,
          | CAST(CAST(e.value AS DECIMAL(18,2)) AS DOUBLE) AS value
          |FROM events e JOIN s USING (event_type)
          |WHERE (CAST(s.n AS DOUBLE) * CAST(CAST(e.value AS DECIMAL(18,2)) AS DOUBLE)
          |        - CAST(s.s1 AS DOUBLE))
          |    * (CAST(s.n AS DOUBLE) * CAST(CAST(e.value AS DECIMAL(18,2)) AS DOUBLE)
          |        - CAST(s.s1 AS DOUBLE))
          |  > 9.0 * (CAST(s.n AS DOUBLE) * CAST(s.s2 AS DOUBLE)
          |        - CAST(s.s1 AS DOUBLE) * CAST(s.s1 AS DOUBLE))
          |ORDER BY event_type, event_id""".stripMargin,
      // q93: identical (value, key)-ordered windows; percent_rank and
      // cume_dist are one int/int double division each, ntile integer
      "q93_distribution_ranks" ->
        """SELECT o_orderkey, o_orderpriority, o_totalprice,
          | percent_rank() OVER w AS pct_rank,
          | cume_dist() OVER w AS cume,
          | CAST(ntile(10) OVER w AS BIGINT) AS decile
          |FROM orders
          |WINDOW w AS (PARTITION BY o_orderpriority
          |             ORDER BY o_totalprice, o_orderkey)
          |ORDER BY o_orderpriority, o_orderkey""".stripMargin,
      // q95: the same IGNORE-NULLS preceding-rows frame; credited
      // sums exact DECIMAL cast to double once
      "q95_attribution" ->
        """WITH w AS (
          | SELECT user_id, event_type, CAST(value AS DECIMAL(18,2)) AS v,
          |  last_value(CASE WHEN event_type <> 'purchase'
          |                  THEN event_type END IGNORE NULLS)
          |   OVER (PARTITION BY user_id ORDER BY ts, event_id
          |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS channel
          | FROM events
          |)
          |SELECT channel, count(*) AS n_purchases,
          | CAST(sum(v) AS DOUBLE) AS credited
          |FROM w WHERE event_type = 'purchase' AND channel IS NOT NULL
          |GROUP BY channel ORDER BY channel""".stripMargin,
      // q96: identical md5 sample (k hash-smallest per group) and
      // identical discrete rank selection — the approximation itself
      // is engine-portable
      "q96_sampled_quantiles" ->
        """WITH h AS (
          | SELECT event_type, event_id, CAST(value AS DECIMAL(18,2)) AS v,
          |  ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT AS hk
          | FROM events
          |), s AS (
          | SELECT * FROM (
          |  SELECT *, row_number() OVER (PARTITION BY event_type
          |                               ORDER BY hk, event_id) AS rn FROM h)
          | WHERE rn <= 256
          |), r AS (
          | SELECT event_type, v,
          |  row_number() OVER (PARTITION BY event_type
          |                     ORDER BY v, event_id) AS vr,
          |  count(*) OVER (PARTITION BY event_type) AS m FROM s
          |)
          |SELECT event_type, q,
          | max(CASE WHEN vr = greatest(1, CAST(ceil(q*m) AS BIGINT))
          |     THEN CAST(v AS DOUBLE) END) AS est
          |FROM r, (VALUES (0.25),(0.5),(0.75),(0.9)) t(q)
          |GROUP BY event_type, q
          |ORDER BY event_type, q""".stripMargin,
      // q97: the same cascade derived closed-form — forget set is the
      // c_custkey % 97 slice, lineitem cascades through deleted orders
      "q97_cascade_delete" ->
        """WITH f AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
          |del_o AS (SELECT o_orderkey FROM orders
          |          WHERE o_custkey IN (SELECT c_custkey FROM f))
          |SELECT 'customer' AS "table",
          | (SELECT count(*) FROM customer) AS n_before,
          | (SELECT count(*) FROM f) AS n_deleted,
          | (SELECT count(*) FROM customer) - (SELECT count(*) FROM f) AS n_after
          |UNION ALL
          |SELECT 'orders',
          | (SELECT count(*) FROM orders),
          | (SELECT count(*) FROM del_o),
          | (SELECT count(*) FROM orders) - (SELECT count(*) FROM del_o)
          |UNION ALL
          |SELECT 'lineitem',
          | (SELECT count(*) FROM lineitem),
          | (SELECT count(*) FROM lineitem
          |  WHERE l_orderkey IN (SELECT o_orderkey FROM del_o)),
          | (SELECT count(*) FROM lineitem) -
          | (SELECT count(*) FROM lineitem
          |  WHERE l_orderkey IN (SELECT o_orderkey FROM del_o))
          |ORDER BY "table"""".stripMargin,
      // q98: the merged-read semantics re-derived closed-form — the
      // pre-evolution generation is the NULL o_year group
      "q98_schema_evolution" ->
        """SELECT CASE WHEN o_orderkey % 2 = 1
          |        THEN CAST(year(o_orderdate) AS BIGINT) END AS o_year,
          | count(*) AS n_orders,
          | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM orders
          |GROUP BY 1 ORDER BY o_year""".stripMargin,
      // q94: identical discrete-median rank selection (row at
      // ⌊(n+1)/2⌋ under the same tie-broken order) and exact-decimal
      // k·MAD comparison — no float in the decision path
      "q94_mad_outliers" ->
        """WITH v AS (
          | SELECT event_type, event_id, CAST(value AS DECIMAL(18,2)) AS v
          | FROM events
          |), r AS (
          | SELECT *, row_number() OVER (PARTITION BY event_type
          |                              ORDER BY v, event_id) AS rn,
          |  count(*) OVER (PARTITION BY event_type) AS n FROM v
          |), med AS (
          | SELECT event_type, max(CASE WHEN rn = (n+1)//2 THEN v END) AS med
          | FROM r GROUP BY event_type
          |), d AS (
          | SELECT v.event_type, v.event_id, v.v, abs(v.v - med.med) AS dev
          | FROM v JOIN med USING (event_type)
          |), r2 AS (
          | SELECT *, row_number() OVER (PARTITION BY event_type
          |                              ORDER BY dev, event_id) AS rn,
          |  count(*) OVER (PARTITION BY event_type) AS n FROM d
          |), mad AS (
          | SELECT event_type, max(CASE WHEN rn = (n+1)//2 THEN dev END) AS mad
          | FROM r2 GROUP BY event_type
          |)
          |SELECT d.event_type, d.event_id, CAST(d.v AS DOUBLE) AS value
          |FROM d JOIN mad USING (event_type)
          |WHERE d.dev > 3 * mad.mad
          |ORDER BY event_type, event_id""".stripMargin,
      // q88: the same exact power sums (DECIMAL, order-independent)
      // and the same fixed-order double formulas — bit-equal moments
      "q88_stats_moments" ->
        """WITH s AS (
          | SELECT l_returnflag,
          |  count(*) AS n_raw,
          |  CAST(count(*) AS DOUBLE) AS n,
          |  CAST(sum(q) AS DOUBLE) AS s1, CAST(sum(q*q) AS DOUBLE) AS s2,
          |  CAST(sum(p) AS DOUBLE) AS t1, CAST(sum(p*p) AS DOUBLE) AS t2,
          |  CAST(sum(q*p) AS DOUBLE) AS sp
          | FROM (SELECT l_returnflag,
          |        CAST(l_quantity AS DECIMAL(18,2)) AS q,
          |        CAST(l_extendedprice AS DECIMAL(18,2)) AS p FROM lineitem)
          | GROUP BY l_returnflag)
          |SELECT l_returnflag, n_raw AS n,
          | (n*s2 - s1*s1) / (n*(n - 1.0)) AS var_qty,
          | sqrt((n*s2 - s1*s1) / (n*(n - 1.0))) AS std_qty,
          | (n*sp - s1*t1) / sqrt((n*s2 - s1*s1) * (n*t2 - t1*t1)) AS corr_qty_price,
          | (n*sp - s1*t1) / (n*s2 - s1*s1) AS slope_price_qty
          |FROM s ORDER BY l_returnflag""".stripMargin,
      // d07: the WHOLE curation pipeline in SQL — quality metrics +
      // gate (the t02 expressions), exact dedup (min id per normalized
      // text), all-pairs exact Jaccard >= 0.6 on 5-char shingles of
      // the normalized text, transitive clusters (recursive CTE, the
      // d10 pattern), keep each cluster's min-id root
      "d07_curation_pipeline" -> {
        val shingled =
          s"""SELECT doc_id, text, list_distinct(list_transform(
             |   range(1, greatest(length(nt) - 3, 2)), i -> substr(nt, i, 5))) AS s
             | FROM exact""".stripMargin
        s"""WITH RECURSIVE base AS (
           | SELECT doc_id, text, ${norm("text")} AS nt
           | FROM documents WHERE doc_id < 250),
           |scored AS (
           | SELECT doc_id, text, nt, len(toks) AS n_tokens,
           |  CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
           |    / len(toks) AS mean_token_len,
           |  CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) AS DOUBLE)
           |    / len(toks) AS stopword_ratio
           | FROM (SELECT doc_id, text, nt, string_split(nt, ' ') AS toks FROM base)),
           |quality AS (
           | SELECT doc_id, text, nt FROM scored
           | WHERE n_tokens BETWEEN 5 AND 100000
           |  AND mean_token_len >= 2.0 AND stopword_ratio <= 0.9),
           |exact AS (
           | SELECT doc_id, text, nt FROM (
           |  SELECT doc_id, text, nt,
           |   row_number() OVER (PARTITION BY nt ORDER BY doc_id) AS rn
           |  FROM quality) WHERE rn = 1),
           |sh AS ($shingled),
           |pairs AS (
           | SELECT doc_a, doc_b FROM (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |   CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
           |     / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
           |  FROM sh a, sh b WHERE a.doc_id < b.doc_id)
           | WHERE jaccard >= 0.6),
           |edges AS (
           | SELECT doc_a AS s, doc_b AS d FROM pairs
           | UNION SELECT doc_b, doc_a FROM pairs),
           |reach AS (
           | SELECT s, d FROM edges
           | UNION
           | SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
           |nonroots AS (
           | SELECT doc_id FROM (
           |  SELECT s AS doc_id, least(s, min(d)) AS cluster_id FROM reach GROUP BY s)
           | WHERE doc_id <> cluster_id)
           |SELECT doc_id, text FROM exact
           |WHERE doc_id NOT IN (SELECT doc_id FROM nonroots)
           |ORDER BY doc_id""".stripMargin
      },
      // d11: the d07 pipeline skeleton over the FULL corpus with the
      // near-dup stage on the portable LSH chain (portableLshCtes) —
      // quality gate, exact min-id dedup, LSH pairs, transitive
      // clusters via the recursive reach CTE, min-id keep. With d03
      // portable, the whole 100 TB curation path is now hash-checked,
      // not just the bounded exact-kernel anchor.
      "d11_curation_lsh" ->
        s"""WITH RECURSIVE scored AS (
           | SELECT doc_id, text, nt, len(toks) AS n_tokens,
           |  CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
           |    / len(toks) AS mean_token_len,
           |  CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) AS DOUBLE)
           |    / len(toks) AS stopword_ratio
           | FROM (SELECT doc_id, text, nt, string_split(nt, ' ') AS toks
           |       FROM (SELECT doc_id, text, ${norm("text")} AS nt FROM documents))),
           |quality AS (
           | SELECT doc_id, text, nt FROM scored
           | WHERE n_tokens BETWEEN 5 AND 100000
           |  AND mean_token_len >= 2.0 AND stopword_ratio <= 0.9),
           |exact AS (
           | SELECT doc_id, text, nt FROM (
           |  SELECT doc_id, text, nt,
           |   row_number() OVER (PARTITION BY nt ORDER BY doc_id) AS rn
           |  FROM quality) WHERE rn = 1),
           |${portableLshCtes("exact")},
           |edges AS (
           | SELECT doc_a AS s, doc_b AS d FROM lshpairs
           | UNION SELECT doc_b, doc_a FROM lshpairs),
           |reach AS (
           | SELECT s, d FROM edges
           | UNION
           | SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
           |nonroots AS (
           | SELECT doc_id FROM (
           |  SELECT s AS doc_id, least(s, min(d)) AS cluster_id FROM reach GROUP BY s)
           | WHERE doc_id <> cluster_id)
           |SELECT doc_id, text FROM exact
           |WHERE doc_id NOT IN (SELECT doc_id FROM nonroots)
           |ORDER BY doc_id""".stripMargin,
      // s16: the drained sketch state equals the batch KMV — same
      // hashes, same k-smallest rule, same q84 estimator arithmetic
      "s16_streaming_kmv" ->
        """WITH h AS (
          | SELECT DISTINCT event_type,
          |  ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
          | FROM events),
          |kk AS (
          | SELECT event_type, h,
          |  row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
          | FROM h),
          |s AS (
          | SELECT event_type, max(h) AS h_k, count(*) AS n_kept
          | FROM kk WHERE rn <= 64 GROUP BY event_type),
          |x AS (
          | SELECT event_type, count(DISTINCT user_id) AS n_exact
          | FROM events GROUP BY 1)
          |SELECT s.event_type,
          | CASE WHEN s.n_kept < 64 THEN s.n_kept::DOUBLE
          |  ELSE (63.0 * 1152921504606846976.0) / s.h_k::DOUBLE END AS est_distinct,
          | x.n_exact
          |FROM s JOIN x USING (event_type)
          |ORDER BY event_type""".stripMargin,
      // s15: stream-static enrichment — the drained complete-mode
      // aggregate equals the plain batch join+group (decimal-exact sums)
      "s15_streaming_enrich" ->
        """SELECT c_mktsegment, event_type, count(*) AS n,
          | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
          |FROM events JOIN customer ON user_id = c_custkey
          |GROUP BY 1, 2 ORDER BY c_mktsegment, event_type""".stripMargin,
      "s03_user_sessions" ->
        """SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions,
          | count(*) AS n_events
          |FROM (SELECT user_id,
          |  CASE WHEN lag(ts) OVER w IS NULL
          |    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
          |  THEN 1 ELSE 0 END AS new_s
          | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
          |GROUP BY user_id ORDER BY user_id""".stripMargin,
    )
    // d16 = d12's semantics behind a Bloom prefilter (no false
    // negatives + exact join after ⇒ identical result) — same oracle
    // s14 drains to exactly the batch funnel counts — same oracle as q85
    // s17 drains the stateless stream filter to exactly the q92 batch
    // outlier set — same oracle
    // s18's drained bounded-state sample equals the q96 batch sample
    // by construction (k hash-smallest is split-insensitive)
    // s20 drains the stateless per-batch contamination counts to
    // exactly the batch d12 result (a doc's shingles are complete
    // within its batch) — same oracle
    // e08: the recall audit FULLY DERIVED in SQL (r9 — previously the
    // last algorithmic rows-only entry). Every audited method already
    // has a green oracle chain, and so do both exact baselines — so
    // recall_x100 = 100·|method ∩ exact| // |exact| is just those
    // chains re-used as subqueries (each keeps its own WITH scope; no
    // CTE-name collisions) plus one integer join-count per method,
    // with the same floor filter the Spark side applies. Derived from
    // the tables, not pinned literals — it tracks any fixture
    // regeneration the way every other oracle does. Floors interpolate
    // from Similarity.recallFloors: one source of truth.
    def recallLeg(method: String, ex: String, exn: String): String =
      s"""SELECT '$method' AS method,
         | 100 * (SELECT count(*)
         |        FROM (SELECT query_id, neighbor_id FROM (${base(method)}) s) a
         |        JOIN $ex e ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id)
         |   // (SELECT n FROM $exn) AS recall_x100,
         | CAST(${graft.operators.Similarity.recallFloors.toMap.apply(method)} AS BIGINT) AS floor""".stripMargin
    val e08Sql =
      s"""WITH ex AS (SELECT query_id, neighbor_id FROM (${base("e01_knn_brute")}) t),
         |fex AS (SELECT query_id, neighbor_id FROM (${base("e10_knn_filtered")}) t),
         |exn AS (SELECT count(*) AS n FROM ex),
         |fexn AS (SELECT count(*) AS n FROM fex)
         |SELECT method, recall_x100, floor FROM (
         |${(Seq("e02_knn_lsh", "e04_knn_ivf", "e06_knn_ivf_kmeans",
                 "e07_knn_pq", "e09_knn_int8", "e15_knn_ivf_pq",
                 "e19_knn_projected")
               .map(recallLeg(_, "ex", "exn")) :+
             recallLeg("e16_knn_filtered_ivf", "fex", "fexn"))
            .mkString("\nUNION ALL\n")}
         |) WHERE recall_x100 >= floor ORDER BY method""".stripMargin
    // p01: the end-to-end pipeline oracle — d11's curated set minus
    // d12's flagged set (both nested verbatim as subqueries, each
    // keeping its own WITH scope), packed with q57's window
    // expressions. A doc's contamination count depends only on its
    // own text, so "flag on the full corpus, subtract from curated"
    // equals the Spark side's "flag the curated survivors".
    // t30: the BPE training rounds re-derived entirely in SQL — k
    // unrolled CTE blocks, each recomputing the weighted pair counts
    // from the previous vocab state, taking its own argmax (ORDER BY
    // pc DESC, l, r LIMIT 1 — the Spark side's exact tie rule) and
    // applying the merge with the same left-to-right replace contract;
    // nothing is pinned, so a drift in ANY round's counts or tie-break
    // moves the hash
    val bpeCtes = {
      val rounds = (1 to 8).map { i =>
        s"""p$i AS (
           | SELECT bg.t1 AS l, bg.t2 AS r, CAST(sum(cnt) AS BIGINT) AS pc FROM (
           |  SELECT cnt, unnest(list_transform(range(1, len(syms)),
           |   j -> struct_pack(t1 := syms[j::INT], t2 := syms[j::INT + 1]))) AS bg
           |  FROM (SELECT cnt, list_filter(string_split(trim(s), '  '),
           |         x -> length(x) > 0) AS syms FROM w${i - 1}))
           | GROUP BY l, r
           |), m$i AS (
           | SELECT CAST($i AS BIGINT) AS merge_rank, l, r, pc FROM p$i
           | ORDER BY pc DESC, l, r LIMIT 1
           |), w$i AS (
           | SELECT replace(w.s, ' ' || m.l || '  ' || m.r || ' ',
           |   ' ' || m.l || m.r || ' ') AS s, w.cnt
           | FROM w${i - 1} w, m$i m
           |)""".stripMargin
      }.mkString(", ")
      s"""w0 AS (
         | SELECT regexp_replace(w, '(.)', ' \\1 ', 'g') AS s, cnt FROM (
         |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
         |   SELECT unnest(list_filter(${toks("text")}, t -> length(t) > 0)) AS w
         |   FROM documents)
         |  GROUP BY w)
         |), $rounds""".stripMargin
    }
    val t30Sql = {
      val union = (1 to 8).map(i => s"SELECT * FROM m$i").mkString(" UNION ALL ")
      s"""WITH $bpeCtes
         |SELECT merge_rank, l AS left_sym, r AS right_sym, pc AS pair_count
         |FROM ($union) ORDER BY merge_rank""".stripMargin
    }
    // t31: the same derived merges APPLIED — whole-doc symbol string
    // (3-space inter-word gaps can never match a 2-space merge
    // pattern), 8 chained replaces parameterized by scalar subqueries
    // on the m$i tables (never pinned literals), one split-count
    val t31Sql = {
      val encs = (1 to 8).map { i =>
        s"""enc$i AS (
           | SELECT doc_id, replace(s,
           |   ' ' || (SELECT l FROM m$i) || '  ' || (SELECT r FROM m$i) || ' ',
           |   ' ' || (SELECT l FROM m$i) || (SELECT r FROM m$i) || ' ') AS s
           | FROM enc${i - 1}
           |)""".stripMargin
      }.mkString(", ")
      s"""WITH $bpeCtes, enc0 AS (
         | SELECT doc_id, regexp_replace(${norm("text")}, '(\\S)', ' \\1 ', 'g') AS s
         | FROM documents
         |), $encs
         |SELECT doc_id, CAST(len(list_filter(string_split_regex(trim(s), '\\s+'),
         |  x -> length(x) > 0)) AS BIGINT) AS n_bpe_tokens
         |FROM enc8 ORDER BY doc_id""".stripMargin
    }
    // t32: the trained-vocab usage table — the t31 encode chain kept
    // as token LISTS (enc8), exploded and counted; same derived-merge
    // CTEs, same (cnt DESC, tok) tie rule as the Spark side's
    // TakeOrderedAndProject
    val t32Sql = {
      val encs = (1 to 8).map { i =>
        s"""enc$i AS (
           | SELECT doc_id, replace(s,
           |   ' ' || (SELECT l FROM m$i) || '  ' || (SELECT r FROM m$i) || ' ',
           |   ' ' || (SELECT l FROM m$i) || (SELECT r FROM m$i) || ' ') AS s
           | FROM enc${i - 1}
           |)""".stripMargin
      }.mkString(", ")
      s"""WITH $bpeCtes, enc0 AS (
         | SELECT doc_id, regexp_replace(${norm("text")}, '(\\S)', ' \\1 ', 'g') AS s
         | FROM documents
         |), $encs
         |SELECT tok, cnt, CAST(length(tok) AS BIGINT) AS n_chars,
         | cnt * CAST(length(tok) AS BIGINT) AS chars_covered
         |FROM (
         | SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM (
         |  SELECT unnest(list_filter(string_split_regex(trim(s), '\\s+'),
         |    x -> length(x) > 0)) AS tok
         |  FROM enc8)
         | GROUP BY tok)
         |ORDER BY cnt DESC, tok LIMIT 25""".stripMargin
    }
    // t33: the BATCHED trainer derived end-to-end — 8 round blocks,
    // each re-counting weighted pairs from the previous vocab state,
    // ranking ONCE (row_number over (pc DESC, l, r), top 64), then the
    // greedy symbol-disjoint selection unrolled as 8 NOT-EXISTS
    // selection CTEs per round (bs{r}_{j} = first-ranked candidate
    // sharing no symbol with bs{r}_{1..j-1}; empties are suffix-only
    // by construction), and the batch applied as ONE chained replace
    // pass in rank order. chr(1) coalesce-guards make an empty
    // selection's replace an identity (the control char can never
    // appear in a normalized symbol string). Nothing pinned: every
    // round's ranking, selection and application re-derive from the
    // corpus.
    // parameterized over (rounds, m, cand) — the t33 pin is not a frozen
    // shape but "shapes this builder supports", which is all of them;
    // t36 registers an alternate (4,16,128) instance as the CI proof
    def t33CtesFor(rounds: Int, m: Int, cand: Int): String = {
      val w0 =
        s"""w0 AS MATERIALIZED (
           | SELECT regexp_replace(w, '(.)', ' \\1 ', 'g') AS s, cnt FROM (
           |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
           |   SELECT unnest(list_filter(${toks("text")}, t -> length(t) > 0)) AS w
           |   FROM documents)
           |  GROUP BY w)
           |)""".stripMargin
      def roundBlock(r: Int): String = {
        val prev = if (r == 1) "w0" else s"bw${r - 1}"
        val pair =
          s"""bp$r AS MATERIALIZED (
             | SELECT bg.t1 AS l, bg.t2 AS r, CAST(sum(cnt) AS BIGINT) AS pc FROM (
             |  SELECT cnt, unnest(list_transform(range(1, len(syms)),
             |   j -> struct_pack(t1 := syms[j::INT], t2 := syms[j::INT + 1]))) AS bg
             |  FROM (SELECT cnt, list_filter(string_split(trim(s), '  '),
             |         x -> length(x) > 0) AS syms FROM $prev))
             | GROUP BY l, r
             |), bc$r AS MATERIALIZED (
             | SELECT * FROM (SELECT l, r, pc,
             |   row_number() OVER (ORDER BY pc DESC, l, r) AS rn FROM bp$r)
             | WHERE rn <= $cand
             |)""".stripMargin
        val sels = (1 to m).map { j =>
          val guards = (1 until j).map { i =>
            s"NOT EXISTS (SELECT 1 FROM bs${r}_$i s WHERE c.l IN (s.l, s.r) OR c.r IN (s.l, s.r))"
          }
          val where =
            if (guards.isEmpty) "" else guards.mkString("\n WHERE ", "\n   AND ", "")
          s"""bs${r}_$j AS MATERIALIZED (
             | SELECT $r AS rnd, $j AS j, c.l, c.r, c.pc FROM bc$r c$where
             | ORDER BY c.rn LIMIT 1
             |)""".stripMargin
        }.mkString(", ")
        val applied = (1 to m).foldLeft("w.s") { (acc, j) =>
          s"""replace($acc,
             |  coalesce(' ' || (SELECT l FROM bs${r}_$j) || '  ' || (SELECT r FROM bs${r}_$j) || ' ', chr(1)),
             |  coalesce(' ' || (SELECT l FROM bs${r}_$j) || (SELECT r FROM bs${r}_$j) || ' ', chr(1)))""".stripMargin
        }
        s"$pair, $sels, bw$r AS MATERIALIZED (SELECT $applied AS s, w.cnt FROM $prev w)"
      }
      s"$w0, ${(1 to rounds).map(roundBlock).mkString(", ")}"
    }
    def t33SqlFor(rounds: Int, m: Int, cand: Int): String = {
      val union = (1 to rounds)
        .flatMap(r => (1 to m).map(j => s"SELECT * FROM bs${r}_$j"))
        .mkString(" UNION ALL ")
      s"""WITH ${t33CtesFor(rounds, m, cand)}
         |SELECT CAST(row_number() OVER (ORDER BY rnd, j) AS BIGINT) AS merge_rank,
         |  l AS left_sym, r AS right_sym, pc AS pair_count
         |FROM ($union) ORDER BY merge_rank""".stripMargin
    }
    val t33Ctes = t33CtesFor(8, 8, 64)
    val t33Sql = t33SqlFor(8, 8, 64)
    // t34: the batched vocabulary APPLIED — t33's (up to) 64 derived
    // merges as scalar-subquery replaces chained in global rank order
    // (bs1_1 … bs8_8) inside ONE projection (no per-merge corpus
    // CTEs — the 64-deep nest is a single pass, mirroring the Spark
    // side's single codegen'd projection); chr(1) coalesce-guards
    // keep suffix-empty selections as identity, exactly as the Spark
    // side skips them
    // the 64-deep batched-vocab replace chain over column d.s — shared
    // by the t34/t35/s23 per-doc meter and the t37 usage audit
    val t33Applied = (1 to 8).flatMap(r => (1 to 8).map(j => (r, j)))
      .foldLeft("d.s") { case (acc, (r, j)) =>
        s"""replace($acc,
           |  coalesce(' ' || (SELECT l FROM bs${r}_$j) || '  ' || (SELECT r FROM bs${r}_$j) || ' ', chr(1)),
           |  coalesce(' ' || (SELECT l FROM bs${r}_$j) || (SELECT r FROM bs${r}_$j) || ' ', chr(1)))""".stripMargin
      }
    val t34Sql = {
      val applied = t33Applied
      s"""WITH $t33Ctes
         |SELECT doc_id, CAST(len(list_filter(string_split_regex(trim($applied), '\\s+'),
         |  x -> length(x) > 0)) AS BIGINT) AS n_bpe_tokens
         |FROM (
         | SELECT doc_id, regexp_replace(${norm("text")}, '(\\S)', ' \\1 ', 'g') AS s
         | FROM documents) d
         |ORDER BY doc_id""".stripMargin
    }
    // t37: the t32 usage audit under the BATCHED vocab — the t34
    // applied chain kept as token lists, exploded and counted, same
    // (cnt DESC, tok) tie rule
    val t37Sql =
      s"""WITH $t33Ctes
         |SELECT tok, cnt, CAST(length(tok) AS BIGINT) AS n_chars,
         | cnt * CAST(length(tok) AS BIGINT) AS chars_covered
         |FROM (
         | SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM (
         |  SELECT unnest(list_filter(string_split_regex(trim($t33Applied), '\\s+'),
         |    x -> length(x) > 0)) AS tok
         |  FROM (
         |   SELECT doc_id, regexp_replace(${norm("text")}, '(\\S)', ' \\1 ', 'g') AS s
         |   FROM documents) d)
         | GROUP BY tok)
         |ORDER BY cnt DESC, tok LIMIT 25""".stripMargin
    // d26: the dedup calibration audit — same leg shape as e08Sql,
    // over the composed d08 anchor (≥0.6) and the d03/d04/d05 chains
    // restricted to the anchor slice
    val d26Sql = {
      def leg(method: String): String =
        s"""SELECT '$method' AS method,
           | 100 * (SELECT count(*)
           |        FROM (SELECT doc_a, doc_b FROM (${base(method)}) s
           |              WHERE doc_a < 250 AND doc_b < 250) a
           |        JOIN dex e ON e.doc_a = a.doc_a AND e.doc_b = a.doc_b)
           |   // (SELECT n FROM dexn) AS recall_x100,
           | CAST(${graft.operators.Dedup.dedupRecallFloors.toMap.apply(method)} AS BIGINT) AS floor""".stripMargin
      // anchor_pairs sentinel at floor 0 mirrors the Spark side: the
      // gate is never empty-by-rows even where the anchor slice has no
      // ≥0.6 pairs and every method row vanishes below its floor
      s"""WITH dex AS (SELECT doc_a, doc_b FROM (${base("d08_jaccard_exact_pairs")}) t
         |  WHERE jaccard >= 0.6),
         |dexn AS (SELECT count(*) AS n FROM dex)
         |SELECT method, recall_x100, floor FROM (
         |SELECT 'anchor_pairs' AS method, (SELECT n FROM dexn) AS recall_x100,
         |  CAST(0 AS BIGINT) AS floor
         |UNION ALL
         |${Seq("d03_minhash_lsh", "d04_simhash", "d05_ngram_jaccard")
              .map(leg).mkString("\nUNION ALL\n")}
         |) WHERE recall_x100 >= floor ORDER BY method""".stripMargin
    }
    // p03: mixture selection (p02) ⋈ the BATCHED 64-merge token meter
    // (t34 — the same denomination s23/t35 use), packed with q57's
    // expressions — both stage statements nested verbatim, each
    // keeping its own WITH scope (the p01 composition pattern)
    val p03Sql =
      s"""WITH sel AS (SELECT doc_id FROM (${base("p02_ccnet_mixture")}) x),
         |enc AS (SELECT doc_id, n_bpe_tokens FROM ($t34Sql) y)
         |SELECT doc_id, n_bpe_tokens, shard, start_off,
         | shard * 2199023255552 + CAST(floor(start_off / 2048) AS BIGINT) AS pack_id
         |FROM (
         | SELECT doc_id, n_bpe_tokens, shard,
         |  CAST(sum(n_bpe_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    - n_bpe_tokens AS start_off
         | FROM (SELECT e.doc_id, e.n_bpe_tokens, e.doc_id % 32 AS shard
         |  FROM enc e JOIN sel USING (doc_id)))
         |ORDER BY doc_id""".stripMargin
    // p05: p04's temperature selection + the batched 64-merge token
    // meter (t34) + q57's pack window — the p03 composition with the
    // multilingual balancing stage as the selector, both constituents
    // nested verbatim in their own WITH scopes
    val p05Sql =
      s"""WITH sel AS (SELECT doc_id FROM (${base("p04_temperature_mix")}) x),
         |enc AS (SELECT doc_id, n_bpe_tokens FROM ($t34Sql) y)
         |SELECT doc_id, n_bpe_tokens, shard, start_off,
         | shard * 2199023255552 + CAST(floor(start_off / 2048) AS BIGINT) AS pack_id
         |FROM (
         | SELECT doc_id, n_bpe_tokens, shard,
         |  CAST(sum(n_bpe_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    - n_bpe_tokens AS start_off
         | FROM (SELECT e.doc_id, e.n_bpe_tokens, e.doc_id % 32 AS shard
         |  FROM enc e JOIN sel USING (doc_id)))
         |ORDER BY doc_id""".stripMargin
    // p06: the incremental-refresh composition — the d03 CTE chain
    // names the delta's near-dup victims (a pair's doc_b IS its delta
    // member: doc_b ≥ split ⇔ the pair touches the delta, and greedy
    // keep-first drops exactly doc_b), d12's statement flags eval
    // contamination, q57's window packs the surviving increment in its
    // own shard namespace
    val p06Sql =
      s"""WITH ${portableLshCtes(s"(SELECT doc_id, ${norm("text")} AS nt FROM documents)")},
         |victims AS (SELECT DISTINCT doc_b AS doc_id FROM lshpairs
         |  WHERE doc_b >= ${graft.operators.Dedup.incrementalSplit}),
         |flagged AS (SELECT doc_id FROM (${base("d12_decontamination")}) f),
         |survivors AS (
         | SELECT doc_id, text FROM documents
         | WHERE doc_id >= ${graft.operators.Dedup.incrementalSplit}
         |  AND doc_id NOT IN (SELECT doc_id FROM victims)
         |  AND doc_id NOT IN (SELECT doc_id FROM flagged))
         |SELECT doc_id, n_tokens, shard, start_off,
         | shard * 2199023255552 + CAST(floor(start_off / 2048) AS BIGINT) AS pack_id
         |FROM (
         | SELECT doc_id, n_tokens, shard,
         |  CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    - n_tokens AS start_off
         | FROM (SELECT doc_id,
         |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |   doc_id % 32 AS shard
         |  FROM survivors))
         |ORDER BY doc_id""".stripMargin
    // p07: the datasheet — every stat an aggregate over the same
    // nested d11/d12/q57 statements p01 composes; the mix rows GROUP
    // BY the survivors' lang/source (dynamic stat names are data)
    val p07Sql =
      s"""WITH curated AS (SELECT doc_id, text FROM (${base("d11_curation_lsh")}) c),
         |flagged AS (SELECT doc_id FROM (${base("d12_decontamination")}) f
         |  WHERE doc_id IN (SELECT doc_id FROM curated)),
         |survivors AS (SELECT doc_id, text FROM curated
         |  WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
         |packed AS (
         | SELECT doc_id, n_tokens, shard,
         |  shard * 2199023255552 + CAST(floor(start_off / 2048) AS BIGINT) AS pack_id
         | FROM (
         |  SELECT doc_id, n_tokens, shard,
         |   CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |     - n_tokens AS start_off
         |  FROM (SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    doc_id % 32 AS shard
         |   FROM survivors)))
         |SELECT stat, CAST(value AS BIGINT) AS value FROM (
         | SELECT 'docs_total' AS stat,
         |  (SELECT count(*) FROM documents) AS value
         | UNION ALL SELECT 'docs_curated', (SELECT count(*) FROM curated)
         | UNION ALL SELECT 'docs_contaminated', (SELECT count(*) FROM flagged)
         | UNION ALL SELECT 'docs_packed', (SELECT count(*) FROM packed)
         | UNION ALL SELECT 'packs', (SELECT count(DISTINCT pack_id) FROM packed)
         | UNION ALL SELECT 'tokens_packed',
         |  (SELECT coalesce(sum(n_tokens), 0) FROM packed)
         | UNION ALL SELECT 'docs_distinct_norm',
         |  (SELECT count(DISTINCT md5(${norm("text")})) FROM documents)
         | UNION ALL SELECT 'lang_docs_' || coalesce(lang, 'unknown'), count(*)
         |  FROM survivors JOIN documents USING (doc_id)
         |  GROUP BY coalesce(lang, 'unknown')
         | UNION ALL SELECT 'source_docs_' || coalesce(source, 'unknown'), count(*)
         |  FROM survivors JOIN documents USING (doc_id)
         |  GROUP BY coalesce(source, 'unknown')
         |) ORDER BY stat""".stripMargin
    val p01Sql =
      s"""WITH curated AS (SELECT doc_id, text FROM (${base("d11_curation_lsh")}) c),
         |flagged AS (SELECT doc_id FROM (${base("d12_decontamination")}) f)
         |SELECT doc_id, n_tokens, shard, start_off,
         | shard * 2199023255552 + CAST(floor(start_off / 2048) AS BIGINT) AS pack_id
         |FROM (
         | SELECT doc_id, n_tokens, shard,
         |  CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    - n_tokens AS start_off
         | FROM (SELECT doc_id,
         |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |   doc_id % 32 AS shard
         |  FROM curated WHERE doc_id NOT IN (SELECT doc_id FROM flagged)))
         |ORDER BY doc_id""".stripMargin
    base + ("d16_decontaminate_bloom" -> base("d12_decontamination"),
            "p01_corpus_pipeline" -> p01Sql,
            "p06_incremental_refresh" -> p06Sql,
            "p07_datasheet" -> p07Sql,
            "s14_streaming_funnel" -> base("q85_funnel_steps"),
            "s17_streaming_outliers" -> base("q92_value_outliers"),
            "s18_streaming_quantiles" -> base("q96_sampled_quantiles"),
            "s20_streaming_decontam" -> base("d12_decontamination"),
            "s21_streaming_lm_score" -> base("t29_bigram_lm_score"),
            "s22_streaming_pack" -> base("q57_sequence_pack"),
            "t30_bpe_merges" -> t30Sql,
            "t31_bpe_encode" -> t31Sql,
            "t32_bpe_token_freqs" -> t32Sql,
            "t33_bpe_merges_batched" -> t33Sql,
            "t36_bpe_merges_batched_alt" -> t33SqlFor(4, 16, 128),
            "t37_bpe_token_freqs_batched" -> t37Sql,
            "t34_bpe_encode_batched" -> t34Sql,
            "t35_bpe_encode_persisted" -> t34Sql,
            "s23_streaming_token_meter" -> t34Sql,
            "p03_tokenized_pack" -> p03Sql,
            "p05_temperature_pack" -> p05Sql,
            "d26_dedup_recall_audit" -> d26Sql,
            "e08_recall_audit" -> e08Sql)
  }
}
