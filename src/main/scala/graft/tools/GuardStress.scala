package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

import graft.operators.{Dedup, Multimodal}
import graft.util.GraftSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fires the hot-bucket guard AT THE SCALE IT WAS BUILT FOR — the
  * degenerate one-cluster corpus (tens of thousands of near-identical
  * boilerplate docs, the "legal disclaimer on every page of a crawl
  * shard" case named in the guard's own doc, `Dedup.scala`
  * guardedBandedSelfJoin) run through the guarded LSH family at the
  * PRODUCTION default maxBucket=10000. `ScaleStress` multiplies
  * density ~10× but its committed rows all note "hot path empty at
  * copy density"; this harness is the missing half: every band bucket
  * here is ≫ maxBucket, so the g×g cell split is the ONLY path.
  *
  * Per leg it reports wall seconds, output rows, and the straggler
  * evidence a Spark UI would show — max single-task duration and max
  * single-task shuffle-read records (TaskEnd listener) — for:
  *
  *  - d03/d05 guarded AT DEFAULT vs unguarded (maxBucket=MaxValue) on
  *    the same corpus: rows must MATCH (the semantics-preservation
  *    proof at stress scale), walls and max-task tell the
  *    parallelized-grid vs one-straggler story;
  *  - m06's banded-Hamming shape on `clusterSize` byte-identical PNGs
  *    (every aHash equal — all 4 bands one hot bucket): rows must
  *    equal the CLOSED FORM C(n,2);
  *  - d11/d27 (the full curate/sample chains riding the guarded d03
  *    pairs + connected components) at default maxBucket — the
  *    end-to-end 100 TB curation path over the degenerate corpus;
  *  - the TWO-SIDED guard (s19/p06's ingest probe): a 500-doc delta
  *    detected against a persisted index whose every bucket is hot
  *    (clusterSize docs), guarded-with-size-lookup vs unguarded —
  *    rows must match; detect wall is the "delta cost tracks the
  *    delta" number (index build wall printed alongside);
  *  - s19's streaming drain over the same corpus written as a single
  *    parquet file (hot in-batch self-join per micro-batch), pair
  *    count cross-checked against the batch detect path.
  *
  * Usage: `runMain graft.tools.GuardStress [clusterSize] [outDir]`
  * (defaults 15000, /tmp/graft_guardstress). Prints one [guard] line
  * per leg; paste the table into PLANS.md.
  */
object GuardStress {
  /** Max single-task duration/shuffle-read tracker — the straggler
    * signal. Reset per leg.
    */
  private final class TaskExtremes extends SparkListener {
    val maxDurMs = new AtomicLong(0L)
    val maxShuffleRecords = new AtomicLong(0L)
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      if (te.taskInfo != null && te.taskMetrics != null) {
        maxDurMs.getAndAccumulate(te.taskInfo.duration, math.max)
        maxShuffleRecords.getAndAccumulate(
          te.taskMetrics.shuffleReadMetrics.recordsRead, math.max)
      }
    }
    def reset(): Unit = { maxDurMs.set(0L); maxShuffleRecords.set(0L) }
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 15000
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_guardstress"
    val spark = GraftSession()
    val cpus = spark.sparkContext.defaultParallelism
    // 1m, not the factory's 64m: at 100 TB no banded side fits a
    // broadcast, so the representative plan for the candidate joins
    // is the SHUFFLED one — under 64m the harness-scale banded frames
    // (~160 MB est / 20k docs) would broadcast and the A/B would
    // measure stream-partitioning, not the join-key skew the guard
    // exists for. The guard's own hot-key table stays broadcast (an
    // explicit broadcast() of ~bands rows, threshold-independent).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1m")
    import spark.implicits._
    val extremes = new TaskExtremes
    spark.sparkContext.addSparkListener(extremes)

    def leg(name: String)(f: => Long): Long = {
      extremes.reset()
      val t0 = System.nanoTime()
      val rows = f
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[guard] $name%-28s rows=$rows%12d wall=$dt%8.2fs " +
        f"maxTask=${extremes.maxDurMs.get / 1000.0}%7.2fs " +
        f"maxTaskShufRecords=${extremes.maxShuffleRecords.get}%12d")
      graft.QueryRun.dropAllStorage(spark)
      rows
    }

    // — the degenerate corpus: one boilerplate cluster, distinct short
    //   tails (so exact dedup keeps every doc and the LSH stage faces
    //   the full cluster), every band bucket ≈ n ≫ maxBucket=10000 —
    val body = "the shared boilerplate legal disclaimer text stamped " +
      "across every page of this crawl shard with common terms and " +
      "navigation structure repeated verbatim"
    Files.createDirectories(Paths.get(outDir))
    val streamDir = s"$outDir/stream"
    Files.createDirectories(Paths.get(streamDir))
    val docsPath = s"$outDir/documents.parquet"
    // the stream layout is keyed on its OWN marker file, not on
    // docsPath: an outDir cached by the r12 harness (single-file
    // stream corpus) must be regenerated, or the s19 leg would
    // silently re-measure the single-split layout while reporting the
    // multi-file number
    val streamOk = Files.exists(Paths.get(f"$streamDir/documents-${0}%05d.parquet"))
    if (!Files.exists(Paths.get(docsPath)) || !streamOk) {
      val corpus = spark.range(n).select(
          col("id").as("doc_id"),
          concat(lit(body), lit(" v"), col("id")).as("text"),
          lit("en").as("lang"),
          lit("stress").as("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
      // batch legs: a multi-file dir, read as `cpus` partitions (how a
      // 100 TB table arrives — single-file would serialize every
      // map-side stage of the registered chains)
      corpus.repartition(cpus)
        .write.mode("overwrite").parquet(docsPath)
      // streaming leg: the corpus lands as `cpus` FILES named
      // documents-NNNNN.parquet (all matched by s19's glob) — a real
      // drop delivers many files per trigger, so the micro-batch gets
      // one input split per file and its map stages parallelize. (The
      // r12 single-file layout serialized every pre-shuffle stage of
      // the per-batch chain into one task — a fixture artifact the
      // round-12 PLANS.md table had to adjudicate in prose.)
      val tmp = s"$outDir/_docs_tmp"
      corpus.repartition(cpus).write.mode("overwrite").parquet(tmp)
      import scala.jdk.CollectionConverters._
      // wipe any stale layout first (e.g. the r12 single documents
      // .parquet file) — the glob matches BOTH layouts, so leftovers
      // would double the streamed corpus
      Files.list(Paths.get(streamDir)).iterator().asScala
        .filter(_.getFileName.toString.startsWith("documents"))
        .foreach(Files.delete)
      Files.list(Paths.get(tmp)).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).zipWithIndex
        .foreach { case (part, i) =>
          Files.move(part, Paths.get(f"$streamDir/documents-$i%05d.parquet"),
            StandardCopyOption.REPLACE_EXISTING)
        }
      graft.util.Scratch.rmTree(Paths.get(tmp))
    }
    val docs = spark.read.parquet(docsPath)

    // SPARK_GRAFT_GUARD_MODE=isolate runs only the candidate-stage
    // isolate legs (iteration aid — the full legs take ~1.5h);
    // =s19 runs only the streaming-drain legs (the multi-file drain
    // re-measurement)
    val mode = sys.env.get("SPARK_GRAFT_GUARD_MODE")
    val isolateOnly = mode.contains("isolate")
    val s19Only = mode.contains("s19")
    if (!isolateOnly && !s19Only) {

    // 1) d03 guarded (default) vs unguarded — same rows, bounded tasks
    val d03g = leg("d03 guarded@10000") {
      Dedup.minHashLshPairsPortable(docs, "doc_id", "text").count()
    }
    val d03u = leg("d03 UNGUARDED") {
      Dedup.minHashLshPairsPortable(docs, "doc_id", "text",
        maxBucket = Int.MaxValue).count()
    }
    assert(d03g == d03u, s"d03 guard changed the pair set: $d03g vs $d03u")

    // 2) d05 guarded vs unguarded
    val d05g = leg("d05 guarded@10000") {
      Dedup.ngramJaccardPairsPortable(docs, "doc_id", "text").count()
    }
    val d05u = leg("d05 UNGUARDED") {
      Dedup.ngramJaccardPairsPortable(docs, "doc_id", "text",
        maxBucket = Int.MaxValue).count()
    }
    assert(d05g == d05u, s"d05 guard changed the pair set: $d05g vs $d05u")

    // 3) m06's banded-Hamming shape: byte-identical PNGs — one hot
    //    bucket per band, closed-form C(n,2) pairs
    val m06rows = leg("m06-shape guarded@10000") {
      val img = Multimodal.syntheticMedia(spark, 3)
        .filter(col("kind") === "image")
        .select(col("payload")).head.getAs[Array[Byte]](0)
      val images = spark.range(n).select(col("id").as("media_id"),
        lit(img).as("payload"))
      Multimodal.perceptualPairs(images).count()
    }
    assert(m06rows == n.toLong * (n - 1) / 2,
      s"m06 shape must emit the closed-form C(n,2): got $m06rows")

    // 4) the full curation chains at default maxBucket (guarded d03
    //    pairs + connected components + keep/sample) — wall + rows
    leg("d11 curate (guarded)") {
      graft.jobs.CurationJob.curate(spark, outDir).count()
    }
    leg("d27 sample (guarded)") {
      Dedup.clusterWeightedSampleLsh(spark, outDir).count()
    }

    // 5) the TWO-SIDED guard: 500-doc delta vs a persisted index whose
    //    every bucket is hot (the s19/p06 ingest probe). Guarded run
    //    uses the persisted size LOOKUP; unguarded A/B must agree.
    val idxDir = s"$outDir/lsh_idx"
    val idxDocs = docs.filter(col("doc_id") < n - 500)
    val delta = docs.filter(col("doc_id") >= n - 500)
    leg("p06 index build (amortized)") {
      Dedup.buildLshIndex(idxDocs, "doc_id", "text", idxDir); 0L
    }
    val detG = leg("p06 delta detect guarded") {
      Dedup.detectDeltaPairs(delta, "doc_id", "text", idxDir).count()
    }
    val detU = leg("p06 delta detect UNGUARDED") {
      Dedup.detectDeltaPairs(delta, "doc_id", "text", idxDir,
        maxBucket = Int.MaxValue).count()
    }
    assert(detG == detU, s"two-sided guard changed the pair set: $detG vs $detU")

    } // !isolateOnly && !s19Only
    if (!isolateOnly) {

    // 6) s19's streaming drain over the same corpus (hot in-batch
    //    self-join; index side = the 250 sub-split docs). Cross-check:
    //    the drained pair set must equal the batch detect path's over
    //    the same split — two independent implementations of the same
    //    closed form.
    val s19rows = leg("s19 streaming drain") {
      graft.streaming.Streams.streamingNearDup(spark, streamDir).count()
    }
    val s19batch = leg("s19 batch cross-check") {
      val idx2 = s"$outDir/lsh_idx_s19"
      Dedup.buildLshIndex(docs.filter(col("doc_id") < Dedup.incrementalSplit),
        "doc_id", "text", idx2)
      Dedup.detectDeltaPairs(docs.filter(col("doc_id") >= Dedup.incrementalSplit),
        "doc_id", "text", idx2).dropDuplicates("doc_a", "doc_b").count()
    }
    assert(s19rows == s19batch,
      s"streaming drain diverges from the batch closed form: $s19rows vs $s19batch")

    } // !isolateOnly

    // 7) CANDIDATE-STAGE ISOLATE at 2.5×n — the guard's actual scope,
    //    freed of the downstream dedup/verify stages that dominate the
    //    full chains IDENTICALLY under either plan. Per band the
    //    unguarded join enumerates the whole bucket² in ONE task (the
    //    banded partitions sit far under AQE's 256 MB skew-split
    //    threshold here, and at real scale AQE's split still leaves
    //    each task bucket²/g work — it duplicates the unsplit side —
    //    vs the guard's bucket²/g²); the guard spreads the same
    //    enumeration over g² cells per band. Wall and max-task tell
    //    the straggler story; counts must match exactly.
    val big = (n * 2.5).toInt
    // bandedBig is re-derived and re-checkpointed INSIDE each leg —
    // leg() drops all storage afterwards, which would evict a shared
    // checkpoint between the A and B runs
    def bandedBig(): DataFrame = {
      val bigDocs = spark.range(big).select(
          col("id").as("doc_id"),
          concat(lit(body), lit(" v"), col("id")).as("text"))
        .repartition(cpus)
      Dedup.portableBanded(
        bigDocs.select(col("doc_id").as("id"),
            graft.functions.HashFns.sortedPortableShingleHashSet(
              graft.functions.TextFns.normalizeText(col("text")), 5).as("hs"))
          .withColumn("sig",
            graft.functions.HashFns.portableMinhashSig(col("hs"), 32))
          .drop("hs"),
        bands = 8, rows = 4).localCheckpoint(true)
    }
    if (!s19Only) {
    // Broadcast is DISABLED for the isolate legs: a 100 TB band bucket
    // cannot broadcast, so the only plan available at scale is the
    // hash-partitioned join — under it the unguarded plan pins each
    // band's whole bucket² enumeration to the ONE task owning that
    // key, while the guard's cells spread it across g² tasks per band.
    // (With broadcast allowed, harness-scale frames fit a hash map and
    // BOTH plans parallelize by stream partitions — measured guarded
    // 210s vs unguarded 50s: the grid's replication is pure overhead
    // when the join never key-partitions. That plan does not exist at
    // the guard's target scale.)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val candG = leg(s"cand-stage guarded n=$big") {
        Dedup.guardedBandedSelfJoin(bandedBig(), 10000)
          .filter(graft.functions.HashFns.signatureMatchCount(
            col("sig_a"), col("sig_b")) >= 13)
          .count()
      }
      val candU = leg(s"cand-stage UNGUARDED n=$big") {
        Dedup.guardedBandedSelfJoin(bandedBig(), Int.MaxValue)
          .filter(graft.functions.HashFns.signatureMatchCount(
            col("sig_a"), col("sig_b")) >= 13)
          .count()
      }
      assert(candG == candU,
        s"candidate-stage guard changed the multiset size: $candG vs $candU")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    } // !s19Only

    println(s"[guard] ALL PARITY CHECKS PASSED at n=$n, maxBucket=10000 default")
    spark.stop()
  }
}
