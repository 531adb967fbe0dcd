package graft.operators

import graft.Tables
import graft.functions.TextFns._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Corpus-curation operators a large-scale training-data pipeline needs
  * beyond dedup/similarity: deterministic train/val/test splits,
  * per-group balanced sampling, and priority-source deduplication.
  *
  * All three are CONTENT-DETERMINISTIC (keyed on md5, which is
  * bit-identical across engines) rather than seeded-random: re-running
  * the pipeline on a grown corpus keeps every previously-assigned
  * document in the same split/sample, which is what a training pipeline
  * needs for leak-free eval sets. md5 is the cross-engine-stable choice
  * here (the oracle reproduces it exactly); the intra-engine fast path
  * would be xxhash64.
  */
object Curation {

  /** Lexicographic md5-hex of a long id — deterministic, uniform, and
    * identical in Spark and DuckDB (both emit lowercase hex).
    */
  private def idHash(c: Column): Column = md5(c.cast("string").cast("binary"))

  /** q41: deterministic train/val/test assignment by hash prefix.
    * First hex nibble < 'c' → train (12/16 = 75%), < 'e' → val
    * (2/16 = 12.5%), else test (12.5%). Pure per-row expression — no
    * shuffle, no driver state; scales as a map-only stage and is stable
    * under corpus growth (adding documents never reassigns old ones —
    * the property that keeps eval sets leak-free across pipeline runs).
    */
  def deterministicSplit(spark: SparkSession, dir: String): DataFrame = {
    val nib = substring(idHash(col("doc_id")), 1, 1)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(nib < "c", "train").when(nib < "e", "val").otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  /** q42: balanced per-group sampling — cap each language at `cap`
    * documents, chosen by hash order (deterministic "random" sample).
    * One shuffle on the group key; the per-group top-`cap` is a
    * rank-filter, so each reducer holds one group's stream, not the
    * corpus. Skewed group sizes are bounded by the same salting tools
    * as any hot-key aggregate ([[Skew]]); at 100 TB the win is that the
    * payload shuffled is (id, lang, 32-byte hash), never the text.
    */
  def balancedSample(spark: SparkSession, dir: String, cap: Int = 50): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), idHash(col("doc_id")).as("h"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= cap)
      .select(col("doc_id"), col("lang"), col("rn"))
      .orderBy(col("lang"), col("rn"))
  }

  /** q54: weighted corpus mixing — downsample each group to a target
    * fraction (the "mixture weights" stage of training-data assembly:
    * e.g. keep all English, half of everything else). The keep decision
    * compares the doc's hash prefix against the group's weight
    * threshold: map-only, no shuffle, and — like [[deterministicSplit]]
    * — stable under corpus growth, so re-mixing an extended corpus
    * never flips previously-kept documents. Weights are expressed in
    * 256ths via the first hash byte (hex chars 1-2).
    */
  def weightedMix(spark: SparkSession, dir: String,
                  weights256: Map[String, Int] = Map("en" -> 256, "fr" -> 192),
                  default256: Int = 128): DataFrame = {
    // two-char lowercase hex compares lexicographically == numerically,
    // so the keep test is a pure string comparison that is literally
    // identical in the oracle; w ≥ 256 = keep-all ("g" > every hex pair)
    def hx(w: Int): String = if (w >= 256) "g" else f"$w%02x"
    val byte0 = substring(idHash(col("doc_id")), 1, 2)
    val threshold = weights256.toSeq.sortBy(_._1)
      .foldLeft(lit(hx(default256))) { case (acc, (lang, w)) =>
        when(col("lang") === lang, hx(w)).otherwise(acc)
      }
    Tables.documents(spark, dir)
      .filter(byte0 < threshold)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  /** d09: priority-source deduplication — when the same content arrives
    * from several sources, keep the copy from the most-trusted source
    * (here: lang as the source surrogate, en > fr > rest; ties broken
    * by lowest id). The group key is md5(normalized text) — a 32-byte
    * surrogate, so the shuffle carries (key, priority, id, lang) and
    * never the document body: the d02 fingerprint-dedup shape with a
    * priority policy on top.
    */
  def priorityDedup(spark: SparkSession, dir: String): DataFrame = {
    val prio = when(col("lang") === "en", 0)
      .when(col("lang") === "fr", 1)
      .otherwise(2)
    val w = Window.partitionBy(col("ckey")).orderBy(col("prio"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), prio.as("prio"),
        md5(normalizeText(col("text")).cast("binary")).as("ckey"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_copies", count(lit(1)).over(Window.partitionBy(col("ckey"))))
      .filter(col("rn") === 1)
      .select(col("doc_id").as("keeper_id"), col("lang"), col("n_copies"))
      .orderBy(col("keeper_id"))
  }

  /** q57: sequence packing — GPT-style concat-and-chunk assignment of
    * documents to fixed-token-budget training sequences. Documents are
    * sharded (`doc_id % shards`), each shard's docs are concatenated in
    * id order, and a doc's pack is the chunk its first token lands in:
    * `pack_id = (shard << 41) + ⌊shard_offset / budget⌋`.
    *
    * Scale shape: this is how distributed packing actually runs — a
    * GLOBAL running offset would serialize the corpus through one
    * partition, so each worker packs its shard independently (see the
    * inline note on the pack-namespace width). One shuffle (window over
    * shard), running sum per shard, O(1) state per row. Deterministic
    * and stable: a doc's pack depends only on the ids/lengths before it
    * in its shard.
    */
  def sequencePack(spark: SparkSession, dir: String,
                   budget: Int = 2048, shards: Int = 32): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        (col("doc_id") % shards).as("shard"))
      .withColumn("start_off", sum(col("n_tokens")).over(w) - col("n_tokens"))
      // pack namespace: shard in the high 22 bits, chunk in the low 41
      // (shard << 41 | chunk). 2^41 chunks/shard × budget 2048 ≈ 4.5e15
      // tokens per shard before a collision — 4 orders past the 100 TB
      // point (a 1e6 multiplier would collide at ~2e9 tokens/shard,
      // i.e. ~10 GB of text, merging unrelated training sequences)
      .withColumn("pack_id",
        col("shard") * 2199023255552L + floor(col("start_off") / budget).cast("long"))
      .select(col("doc_id"), col("n_tokens"), col("shard"),
        col("start_off"), col("pack_id"))
      .orderBy(col("doc_id"))
  }

  /** d12: train/eval decontamination — the standard word-n-gram
    * contamination check every LLM data pipeline runs before training.
    * The stand-in eval suite is a 20-token excerpt (tokens 6-25) of
    * every `doc_id % 97 == 0` document — benchmark items quoted from
    * crawled text, the realistic contamination mechanism. A corpus doc
    * is flagged with the number of its distinct word 8-grams that
    * appear in the eval suite (each excerpt's source doc flags itself;
    * its near-dups follow).
    *
    * Scale shape: shingles are per-row expressions; each side reduces
    * to DISTINCT (doc, md5-key) pairs so the join carries 32-byte keys,
    * never text. The eval side is tiny by construction (benchmarks are
    * ~10³-10⁵ items vs a 10⁹-doc corpus) and is broadcast — the corpus
    * never shuffles. md5 keeps the key cross-engine-stable for the
    * oracle; the intra-engine fast path would be xxhash64 (8-byte keys).
    */
  /** The eval suite's distinct shingle keys — the static side of both
    * the batch d12 gate and s20's streaming apply (an eval benchmark
    * is a fixed artifact; the corpus is what grows).
    */
  private[graft] def evalShingleKeys(docs: DataFrame, n: Int): DataFrame = {
    val toks = tokens(normalizeText(col("text")))
    docs.filter(col("doc_id") % 97 === 0)
      .select(explode(wordShingles(slice(toks, 6, 20), n)).as("sh"))
      .select(md5(col("sh").cast("binary")).as("shkey")).distinct()
  }

  /** Per-doc eval-shingle hit counts for an arbitrary docs frame
    * against prepared eval keys — shared by d12 and s20. A doc's
    * shingles all derive from its own row, so the count is complete
    * within whatever slice (or micro-batch) carries the doc.
    */
  private[graft] def contaminationHits(docs: DataFrame, evalKeys: DataFrame,
                                       n: Int): DataFrame = {
    val toks = tokens(normalizeText(col("text")))
    docs.select(col("doc_id"), explode(wordShingles(toks, n)).as("sh"))
      .select(col("doc_id"), md5(col("sh").cast("binary")).as("shkey"))
      .join(broadcast(evalKeys), "shkey")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_eval_hits"))
  }

  /** p01: the END-TO-END training-corpus pipeline — the composition a
    * 100 TB curation run actually executes, as ONE gate: quality gate →
    * exact dedup → portable-LSH near-dup clusters → keep roots (the
    * d11 chain), then eval decontamination (the d12 chain — drop every
    * surviving doc with ≥1 eval 8-gram hit), then GPT-style
    * sequence packing of the survivors (the q57 chain: per-shard
    * running token offsets, fixed 2048-token budget). Every stage is
    * individually hash-checked (d11, d12, q57); this gate hash-checks
    * the COMPOSITION — the DuckDB oracle nests the d11 and d12 oracle
    * statements as subqueries and packs the surviving set with q57's
    * window expressions, so a drift anywhere in the pipeline (a
    * quality threshold, an LSH constant, a shingle width, a pack
    * boundary) moves the final hash.
    *
    * Scale shape inherits from the stages: the LSH chain shuffles
    * signatures not text, decontamination broadcasts the (tiny) eval
    * keys so the corpus never shuffles, and packing is one window over
    * the shard partitioning. A doc's contamination count depends only
    * on its own text, so computing hits on the curated survivors
    * (instead of the full corpus) is exact, not an approximation.
    */
  // `shards` is a LAYOUT knob (how many pack namespaces the corpus is
  // split into — part of the query's semantics and its oracle), not a
  // parallelism pin: execution parallelism stays whatever the session's
  // shuffle partitioning says, and any shards value scales the same way.
  def corpusPipeline(spark: SparkSession, dir: String,
                     budget: Int = 2048, shards: Int = 32): DataFrame =
    decontaminateAndPack(graft.jobs.CurationJob.curate(spark, dir),
      Tables.documents(spark, dir), budget, shards)

  /** Lazy-curate variant for `DumpPlans`: keeps the quality scan, the
    * fingerprint dedup window and the LSH/cluster anti-join visible in
    * the dumped plan instead of a checkpoint scan.
    */
  private[graft] def corpusPipelinePlan(spark: SparkSession, dir: String): DataFrame =
    decontaminateAndPack(graft.jobs.CurationJob.curatePlan(spark, dir),
      Tables.documents(spark, dir), 2048, 32)

  /** The post-curation stages of [[corpusPipeline]]: decontaminate the
    * curated survivors against the eval suite derived from the FULL
    * corpus, pack what remains (q57's expressions).
    */
  private def decontaminateAndPack(curated: DataFrame, docs: DataFrame,
                                   budget: Int, shards: Int): DataFrame = {
    // NOT spread (r14 `propab graft.spread.off` A/B): repartitioning the checkpointed
    // curated frame before the shingle/token kernels measured p01 3.99
    // (raw) vs 4.07, p06 3.61 vs 3.55, p07 4.53 vs 4.65 min-of-3 —
    // neutral everywhere (the d12 raw-scan site DOES win; here the
    // anti-join + pack pipeline amortizes the one-task stage already)
    val flagged = contaminationHits(curated, evalShingleKeys(docs, 8), 8)
      .select(col("doc_id"))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    curated.join(flagged, Seq("doc_id"), "left_anti")
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        (col("doc_id") % shards).as("shard"))
      .withColumn("start_off", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("pack_id",
        col("shard") * 2199023255552L + floor(col("start_off") / budget).cast("long"))
      .select(col("doc_id"), col("n_tokens"), col("shard"),
        col("start_off"), col("pack_id"))
      .orderBy(col("doc_id"))
  }

  /** p06: the INCREMENTAL corpus-refresh capstone — the composition a
    * 100 TB pipeline actually runs BETWEEN full rebuilds (p01 is the
    * rebuild; this is the nightly increment): a crawl DELTA is
    * near-dup-checked against the PERSISTED LSH index of everything
    * already accepted (the s19/d21 build/append split — history is
    * never re-shingled; both collision joins ride the hot-bucket
    * guard, the index side through the persisted bucket-size lookup),
    * the surviving delta docs are eval-decontaminated (d12's static
    * broadcast keys), and the remainder is sequence-packed into its
    * own shard namespace (q57's window expressions over the
    * increment). Ingest dedup is greedy keep-first — a delta doc drops
    * iff it near-dups ANY lower id (historical or earlier-in-delta),
    * exactly s19's emission rule — so the oracle is closed-form: the
    * d03 CTE chain's pairs restricted to `doc_b ≥ split` name the
    * victims, and d12 + q57's nested statements do the rest. Every
    * constituent is individually hash-checked (d03/s19, d12, q57);
    * this gate hash-checks the COMPOSITION, like p01 for the rebuild.
    *
    * Scale shape: delta-phase cost tracks the DELTA (shingle/sign the
    * batch, probe the index buckets, verify collisions) — the
    * historical corpus contributes only its persisted band/size
    * tables, never a rescan. The index build inside the gate is the
    * amortized half (in production it already exists on disk).
    */
  def incrementalRefresh(spark: SparkSession, dir: String,
                         budget: Int = 2048, shards: Int = 32): DataFrame = {
    val split = Dedup.incrementalSplit
    val docs = Tables.documents(spark, dir)
    val idxDir = graft.util.Scratch.dir(spark, "p06_idx", dir).toString
    Dedup.buildLshIndex(docs.filter(col("doc_id") < split), "doc_id", "text", idxDir)
    val delta = docs.filter(col("doc_id") >= split)
    // victims: every delta doc that near-dups a lower id — doc_b of a
    // detect pair is the delta member by construction (delta ids sit
    // above the split; in-delta pairs keep their smaller id)
    // checkpoint the (ids-only, pair-bounded) victim list: the detect
    // chain runs ONCE, and the returned plan carries the packing logic
    // over a materialized anti-list instead of re-embedding the whole
    // guarded probe per action (the p01 curate() barrier pattern)
    val victims = Dedup.detectDeltaPairs(delta, "doc_id", "text", idxDir)
      .select(col("doc_b").as("doc_id")).distinct()
      .localCheckpoint(true)
    val survivors = delta.join(victims, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("text"))
    decontaminateAndPack(survivors, docs, budget, shards)
  }

  /** p07: the corpus DATASHEET — the data card a training run
    * publishes next to its corpus, as ONE hash-checked gate: every
    * headline number an auditor asks for (raw size, curation survivor
    * counts, contamination count, packed-token totals, pack count, and
    * the per-language / per-source mix of what actually ships) derived
    * from the SAME proven chains the pipeline gates run (d11 curate →
    * d12 decontaminate → q57 pack), emitted as `(stat, value)` rows.
    * The DuckDB oracle nests the d11/d12 oracle statements and the q57
    * window verbatim (the p01 composition pattern), so the datasheet
    * can never drift from the pipeline it describes — a threshold or
    * constant moving anywhere upstream moves a published number here.
    *
    * Scale shape: one curate pass (the p01 cost), then every stat is a
    * tiny aggregate over the (already materialized) survivor/pack
    * frames — map-side-combined counts and sums, two small groupBys
    * for the mix rows, a union of one-row frames. The report is O(1)
    * output over one corpus pass, exactly what a 100 TB run can afford
    * nightly.
    */
  def datasheet(spark: SparkSession, dir: String,
                budget: Int = 2048, shards: Int = 32): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // the p01 stages, shared: curate once (checkpointed inside), flag
    // once, pack once — the stats all read these three frames (NOT
    // spread: the r14 `propab graft.spread.off` A/B measured p07 4.53 raw vs 4.65 —
    // the decontaminateAndPack rationale)
    val curated = graft.jobs.CurationJob.curate(spark, dir)
    // ids-only and doc-bounded; checkpointed because the stat branch,
    // the pack branch and both mix branches all anti-join against it —
    // the corpus shingle pass behind it must run once, not four times
    val flagged = contaminationHits(curated, evalShingleKeys(docs, 8), 8)
      .select(col("doc_id"))
      .localCheckpoint(true)
    val survivors = curated.join(flagged, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("text"))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val packed = survivors
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        (col("doc_id") % shards).as("shard"))
      .withColumn("start_off", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("pack_id",
        col("shard") * 2199023255552L + floor(col("start_off") / budget).cast("long"))
    // one corpus pass for both raw-size stats; the distinct key is the
    // 16-byte md5 of the normalized text (identical in DuckDB), not
    // the text itself — at 100 TB the distinct shuffle carries hashes
    val docStats = docs
      .select(md5(normalizeText(col("text")).cast("binary")).as("h"))
      .agg(count(lit(1)).as("docs_total"),
        countDistinct(col("h")).as("docs_distinct_norm"))
      .select(expr("stack(2, 'docs_total', docs_total, " +
        "'docs_distinct_norm', docs_distinct_norm)").as(Seq("stat", "value")))
    // one pass for all three pack stats — the pack window computes
    // once inside this branch, nothing else re-derives it
    val packStats = packed
      .agg(count(lit(1)).as("docs_packed"),
        countDistinct(col("pack_id")).as("packs"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("tokens_packed"))
      .select(expr("stack(3, 'docs_packed', docs_packed, 'packs', packs, " +
        "'tokens_packed', tokens_packed)").as(Seq("stat", "value")))
    // flagged is computed ON the curated survivors, so its count IS
    // the curated-and-contaminated count
    val stageStats = Seq(
      curated.agg(count(lit(1)).as("value"))
        .select(lit("docs_curated").as("stat"), col("value")),
      flagged.agg(count(lit(1)).as("value"))
        .select(lit("docs_contaminated").as("stat"), col("value")))
    // the mix of what actually ships: per-language / per-source doc
    // counts over the packed survivors (dynamic stat names — the
    // fixture's lang/source domains are data, not schema)
    // lang/source coalesce to 'unknown' on BOTH engines: a NULL key
    // would otherwise make a NULL stat name that Spark sorts first and
    // DuckDB last, silently diverging the hash-check ordering
    val mix = Seq("lang", "source").map { c =>
      survivors.select(col("doc_id"))
        .join(docs.select(col("doc_id"),
          coalesce(col(c), lit("unknown")).as(c)), Seq("doc_id"))
        .groupBy(col(c)).agg(count(lit(1)).as("value"))
        .select(concat(lit(s"${c}_docs_"), col(c)).as("stat"), col("value"))
    }
    (Seq(docStats, packStats) ++ stageStats ++ mix)
      .map(_.select(col("stat"), col("value").cast("long").as("value")))
      .reduce(_.unionAll(_)).orderBy(col("stat"))
  }

  /** p02: the CCNet-style quality-MIXTURE pipeline, as one gate —
    * the curation pattern where documents are not just kept/dropped
    * (p01) but routed into perplexity buckets and re-balanced across
    * languages:
    *
    *  1. quality gate: ≥ `minTokens` normalized tokens;
    *  2. LM scoring: the FULL corpus scored against the `doc_id%10<8`
    *     reference split with t29's integer bigram-LM kernel
    *     ([[TextAnalysis.lmDocScores]]), reduced to a milli-score
    *     `(lm_score·1000) div n_bigrams`;
    *  3. perplexity buckets RELATIVE to the per-language integer mean
    *     (head ≥ mean+`headDelta`, tail < mean−`midDelta`, middle
    *     between) — CCNet's per-language head/middle/tail, made
    *     scale-robust: absolute thresholds would invert as corpus
    *     bigram counts grow. The mean is a groupBy(lang) aggregate
    *     broadcast back, NOT a window over a 5-partition lang key;
    *  4. drop tail, then a LANGUAGE-BALANCED token budget: per lang,
    *     keep the head-first running-token prefix with
    *     `cum_tokens ≤ budget` — the mixture re-balancer that gives
    *     every language the same token mass regardless of its crawl
    *     share (en is 44% of the fixture corpus, 20% of the output).
    *
    * The running sum does NOT use a `partitionBy(lang)` window (5
    * lang values ⇒ 5 tasks would serialize the corpus at scale): it
    * reuses q68/stableIds' two-pass shape — range-partition the slim
    * `(doc_id, lang, rank, n_tokens)` projection by the output order,
    * per-(shard,lang) partial token sums (a metadata-sized frame),
    * cumulative offsets over THAT, broadcast back, and a
    * within-shard window keyed (shard,lang) — every stage parallel in
    * the shard count. Shards whose start offset already exceeds the
    * budget are pruned BEFORE their local window runs, so the far
    * tail of a 10⁹-doc language never even sorts. Bit-identical to
    * the naive global window (the DuckDB oracle IS the naive window),
    * all-integer end to end.
    */
  def ccnetMixture(spark: SparkSession, dir: String, minTokens: Int = 16,
                   headDelta: Long = 15L, midDelta: Long = 40L,
                   budget: Long = 1500L, pin: Boolean = true): DataFrame = {
    // NOT checkpointed/spread (r14 A/B `DebugPerf propab`): pinning the
    // tokenized projection measured p02 2.70 s (lazy) vs 2.69 s and p03
    // 4.20 vs 4.37 min-of-3 — the existing mLazy checkpoint already
    // bounds the re-execution, so materializing toks bought nothing
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        filter(tokens(normalizeText(col("text"))), t => length(t) > 0).as("toks"))
    val scored = TextAnalysis.lmDocScores(
      docs.select(col("doc_id"), col("toks")), col("doc_id") % 10 < 8, lit(true))
    val mLazy = docs.filter(size(col("toks")) >= minTokens)
      .select(col("doc_id"), col("lang"), size(col("toks")).cast("long").as("n_tokens"))
      .join(scored, Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        when(col("n_bigrams") === 0L, 0L)
          .otherwise(expr("(lm_score * 1000) div n_bigrams")).as("mscore"))
    // the scored projection feeds BOTH the lmean aggregate and the
    // bucketing join — pin it (4 slim columns) so the LM-join subtree
    // runs once, not twice (pin=false only for plan dumps)
    val m = if (pin) mLazy.localCheckpoint() else mLazy
    // per-lang integer mean milli-score: aggregate + broadcast, so the
    // low-cardinality lang key never becomes a window partition
    val lmean = m.groupBy(col("lang"))
      .agg(expr("sum(mscore) div count(*)").as("lmean"))
    val bucketed = m.join(broadcast(lmean), Seq("lang"))
      .withColumn("bucket",
        when(col("mscore") >= col("lmean") + headDelta, "head")
          .when(col("mscore") >= col("lmean") - midDelta, "middle")
          .otherwise("tail"))
      .filter(col("bucket") =!= "tail")
      .withColumn("rank", when(col("bucket") === "head", 0).otherwise(1))
    // two-pass budgeted prefix (q68's offsets trick, summed not counted)
    val shards = spark.sessionState.conf.numShufflePartitions
    val ranged = bucketed
      .repartitionByRange(shards, col("lang"), col("rank"), col("doc_id"))
      .sortWithinPartitions(col("lang"), col("rank"), col("doc_id"))
      .withColumn("_pid", spark_partition_id())
    // pin=false only for plan dumps (localCheckpoint collapses the
    // upstream plan to a Scan ExistingRDD, hiding the range exchange)
    val sorted = if (pin) ranged.localCheckpoint() else ranged
    val offsets = sorted.groupBy(col("_pid"), col("lang"))
      .agg(sum(col("n_tokens")).as("_t"))
      // ≤ shards×|langs| rows — the cumulative runs on metadata, and
      // rowsBetween(-1) makes it the sum STRICTLY BEFORE this shard
      .withColumn("_offset", coalesce(
        sum(col("_t")).over(Window.partitionBy(col("lang")).orderBy(col("_pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_pid"), col("lang"), col("_offset"))
    sorted.join(broadcast(offsets), Seq("_pid", "lang"))
      // budget-prune whole shards before their local window sorts
      .filter(col("_offset") <= budget)
      .withColumn("cum_tokens", col("_offset") +
        sum(col("n_tokens")).over(Window.partitionBy(col("_pid"), col("lang"))
          .orderBy(col("rank"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("lang"), col("bucket"),
        col("n_tokens"), col("cum_tokens"))
      .orderBy(col("lang"), col("cum_tokens"))
  }

  /** p03: the tokenizer-aware corpus build — what a trainer ACTUALLY
    * executes end-to-end: p02's quality/LM mixture selects the docs,
    * the BATCHED 64-merge vocabulary (t33/t34 — the same denomination
    * the s23 streaming meter and the t35 deployment artifact use, so
    * a batch-assembled budget and its streaming meter agree on every
    * doc) meters them, and q57's shard-parallel packing assigns
    * training sequences. Third pipeline gate: the oracle nests the
    * p02 and t34 oracle statements verbatim (each keeps its own WITH
    * scope — the p01 composition pattern) and packs with q57's window
    * expressions, so a drift in ANY stage (a bucket threshold, a
    * merge round's ranking or selection, a pack boundary) moves the
    * final hash.
    *
    * Scale shape inherits from the stages: mixture = the two-pass
    * budget (no lang-partition window), encode = one map-only replace
    * chain (the trained merges ride the closure), pack = one window
    * over the shard partitioning; the only new join is
    * selected⋈encoded on doc_id.
    */
  /** The p03/p05 pack step: join a selection onto the trained-token
    * meter, shard by doc_id, one running-sum window per shard, q57's
    * pack-id namespace (shard in the high bits, chunk in the low 41).
    */
  private def packEncoded(sel: DataFrame, enc: DataFrame,
                          budget: Int, shards: Int): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    enc.join(sel, Seq("doc_id"))
      .select(col("doc_id"), col("n_bpe_tokens"),
        (col("doc_id") % shards).as("shard"))
      .withColumn("start_off", sum(col("n_bpe_tokens")).over(w) - col("n_bpe_tokens"))
      // same pack namespace as q57/p01: shard in the high bits, chunk
      // in the low 41 (see sequencePack's collision-bound note)
      .withColumn("pack_id",
        col("shard") * 2199023255552L + floor(col("start_off") / budget).cast("long"))
      .select(col("doc_id"), col("n_bpe_tokens"), col("shard"),
        col("start_off"), col("pack_id"))
      .orderBy(col("doc_id"))
  }

  def tokenizedPack(spark: SparkSession, dir: String,
                    budget: Int = 2048, shards: Int = 32,
                    pin: Boolean = true): DataFrame =
    packEncoded(ccnetMixture(spark, dir, pin = pin).select(col("doc_id")),
      graft.operators.TextAnalysis.bpeEncodeBatched(spark, dir), budget, shards)

  /** p05: the FULL multilingual pretraining-data recipe as one gate —
    * p04's temperature (α=0.5) language resampling selects the docs,
    * the batched 64-merge vocabulary (t33/t34 — one token
    * denomination across p03/p05/s23/t34/t35) meters them, q57's
    * shard-parallel window packs them. This is the composition a
    * multilingual trainer actually runs (balance languages FIRST,
    * then denominate the result in trained-vocab tokens and cut
    * training sequences); p03 is the same shape with the quality/LM
    * mixture as the selector. The oracle nests the p04 statement and
    * the t34 derived chain verbatim (each keeps its own WITH scope —
    * the p01/p03 composition pattern), so a drift in the language
    * stats, the acceptance threshold arithmetic, any batched merge
    * round's ranking or selection, or a pack boundary moves the
    * final hash.
    *
    * Scale shape: p04 = one language-stats agg broadcast back +
    * map-side acceptance; meter = map-only trained-merge closure;
    * pack = one window over the shard partitioning; the one new join
    * is selection⋈meter on doc_id (same as p03's).
    */
  def temperatureTokenizedPack(spark: SparkSession, dir: String,
                               budget: Int = 2048,
                               shards: Int = 32): DataFrame =
    packEncoded(temperatureMix(spark, dir).select(col("doc_id")),
      graft.operators.TextAnalysis.bpeEncodeBatched(spark, dir), budget, shards)

  /** p04: temperature (α) mixture resampling — the multilingual
    * balancing step of corpus assembly (the mBERT/XLM-R exponential-
    * smoothing recipe): per-language keep rates ∝ shareᵅ so
    * high-resource languages are downsampled toward — never fully to —
    * uniform. At α = 0.5 the keep rate is `sqrt(n_min / n_lang)`
    * (the rarest language keeps everything, a 4×-bigger one keeps
    * half), realized as the q54 stable hash-threshold test: keep iff
    * the first 4 md5 nibbles of doc_id sort below the language's
    * threshold — map-only per doc, stable under corpus growth (an
    * already-kept doc is never dropped by adding languages with the
    * same stats), and re-derivable by any engine.
    *
    * Portability of the threshold itself: `n_min/n`, `sqrt`, `·65536`
    * and `floor` are all single correctly-rounded IEEE ops, so both
    * engines compute the SAME integer threshold from the SAME counts —
    * the oracle re-derives it from its own GROUP BY, nothing pinned.
    * Scale shape: stats = one map-side-combinable count per language
    * (|langs| rows, broadcast back); the corpus is touched by exactly
    * one scan + one broadcast-joined filter — no shuffle of documents.
    */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    // NOT a tuning parameter: the 'g' keep-all sentinel and the %04x
    // lexicographic compare are built around exactly a 4-hex-digit
    // threshold, so 65536 is structural to the algorithm (and to the
    // p04 oracle) — a former `scale` argument was a trap that only
    // failed at runtime
    val scale = 65536
    val docs = Tables.documents(spark, dir)
    val stats = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val thr = stats
      .crossJoin(broadcast(stats.agg(min(col("n")).as("n_min"))))
      .select(col("lang"),
        floor(lit(scale.toDouble) *
          sqrt(col("n_min").cast("double") / col("n").cast("double")))
          .cast("long").as("t"))
      // 4-char lowercase hex compares lexicographically == numerically;
      // t = scale (keep-all, the n_min language) → 'g' > every hex quad
      .select(col("lang"), when(col("t") >= scale, lit("g"))
        .otherwise(format_string("%04x", col("t"))).as("thr_hex"))
    docs.join(broadcast(thr), Seq("lang"))
      .filter(substring(idHash(col("doc_id")), 1, 4) < col("thr_hex"))
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  def decontaminate(spark: SparkSession, dir: String, n: Int = 8): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // the corpus side's shingle+md5 kernel runs one-task on the
    // unsplittable fixture scan — scale-adaptive spread (the eval-keys
    // side stays as-is: a 1/97 slice, too small to amortize an
    // exchange)
    contaminationHits(graft.util.Spread.narrow(docs),
        evalShingleKeys(docs, n), n)
      .orderBy(col("doc_id"))
  }

  /** d16: Bloom-prefiltered decontamination — the SEMANTICS of
    * [[decontaminate]] with the execution shape for a corpus whose
    * shingle stream is too big to even hash-join comfortably: build an
    * 8 KiB Bloom filter over the eval suite's shingle hashes with one
    * distributed aggregate, drop non-matching corpus shingles MAP-SIDE
    * (the codegen'd double-murmur3 probe of `functions.Bloom`, the q55
    * runtime-filter kernel), and exact-join only the survivors. At
    * 100 TB the ~100% of shingles that are clean never reach a shuffle
    * or broadcast probe at all. Bloom filters have no false negatives
    * and the exact join runs after ⇒ result ≡ [[decontaminate]], which
    * is exactly what the oracle re-checks.
    */
  def decontaminateBloom(spark: SparkSession, dir: String, n: Int = 8): DataFrame = {
    import spark.implicits._
    import graft.functions.Bloom
    val toks = tokens(normalizeText(col("text")))
    val docs = Tables.documents(spark, dir)
    val sh = docs
      .select(col("doc_id"), explode(wordShingles(toks, n)).as("sh"))
      .select(col("doc_id"), xxhash64(col("sh")).as("shh"),
        md5(col("sh").cast("binary")).as("shkey"))
    // the eval side is referenced twice (Bloom build + broadcast join)
    // and derives from a FULL documents scan each time (doc_id % 97 is
    // not a pushable predicate) — materialize its ~|eval| rows once
    val evalSh = docs.filter(col("doc_id") % 97 === 0)
      .select(explode(wordShingles(slice(toks, 6, 20), n)).as("sh"))
      .select(xxhash64(col("sh")).as("shh"),
        md5(col("sh").cast("binary")).as("shkey"))
      .distinct()
      .localCheckpoint(true)
    val bits: Array[Long] = evalSh.select(col("shh")).as[Long]
      .select(Bloom.bloomAgg.toColumn.name("bits"))
      .head()
    Bloom.prefilter(sh, "shh", bits)
      .join(broadcast(evalSh.select(col("shkey"))), "shkey")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_eval_hits"))
      .orderBy(col("doc_id"))
  }

  /** q58: token-budget corpus mixing — draw documents per source in
    * deterministic hash order until each source's cumulative
    * whitespace-token count reaches `budget`: the "sample N tokens from
    * each source" stage of training-mix assembly ([[weightedMix]] caps
    * by FRACTION; this caps by TOKENS, which is what a training run
    * actually budgets). Content-deterministic like the other curation
    * ops: a grown corpus only APPENDS to each source's draw order, so
    * documents already inside the budget stay chosen.
    *
    * One shuffle (window over source); the shuffled payload is
    * (id, source, token count, 32-byte hash) — never text. Per-source
    * streams are rank-cut, so each reducer holds one source's prefix,
    * and skewed source sizes cost no more than any hot-key window.
    */
  def tokenBudgetMix(spark: SparkSession, dir: String,
                     budget: Long = 600L): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        tokenCount(col("text")).cast("long").as("n_tokens"),
        idHash(col("doc_id")).as("h"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
      .orderBy(col("source"), col("cum_tokens"))
  }

  /** q59: CLUSTER-AWARE train/val/test split — the leakage-proof version
    * of [[deterministicSplit]]. Hash-splitting by doc id puts two
    * near-duplicate documents in different splits ~37% of the time (the
    * classic train→test contamination path); here the split unit is the
    * near-dup CLUSTER ([[graft.operators.Dedup.dupClustersQuery]], the
    * oracle-checked connected components over exact-Jaccard edges), so
    * every member of a dup cluster lands in the same split by
    * construction. Singletons hash by their own id — identical to q41
    * for the un-duplicated bulk of the corpus.
    *
    * Scale shape: clusters are the OUTPUT of dedup (tiny vs corpus) →
    * broadcast left join; the split itself stays a map-side hash-prefix
    * compare, growth-stable exactly like q41. Fully oracle-checked
    * (clusters via the d10 recursive-CTE oracle + the q41 CASE).
    */
  def clusterAwareSplit(spark: SparkSession, dir: String): DataFrame = {
    val clusters = graft.operators.Dedup.dupClustersQuery(spark, dir)
    val unit = coalesce(col("cluster_id"), col("doc_id"))
    val nib = substring(idHash(unit), 1, 1)
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(broadcast(clusters), Seq("doc_id"), "left")
      .select(col("doc_id"), unit.as("unit"),
        when(nib < "c", "train").when(nib < "e", "val").otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }
}
