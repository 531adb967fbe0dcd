package graft.tools

import graft.Tables
import graft.operators.Dedup
import graft.util.{GraftSession, Scratch}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** N-cycle MIXED-lifecycle probe for the persisted LSH index — the
  * production nightly is not an append-only sequence: takedowns arrive
  * between increments, some retired docs get re-ingested, and
  * compaction runs mid-stream. This harness re-slices the fixture delta
  * into N id-range increments and drives the REAL operator sequence:
  *
  *  - cycle i appends delta_i ([[Dedup.appendLshDetect]]), measuring
  *    detect+append wall (must stay flat: per-batch cost is the batch
  *    hash + collision fan-in, never the corpus), the size-partials
  *    read, and live file counts;
  *  - every cycle with i ≡ 1 (mod 3) ends with a TAKEDOWN
  *    ([[Dedup.tombstoneLshDocs]]) of every ingested id ≡ 5 (mod 11);
  *  - the NEXT cycle's batch re-ingests the EVEN half of the just-taken-
  *    down ids (same text) — versioned tombstones must resurrect
  *    exactly those;
  *  - printed cycles 4 and 7 (0-based i = 3 and 6) end with a
  *    mid-sequence COMPACT ([[Dedup.compactLshIndex]]) — the fold +
  *    atomic republish under a live mixed history.
  *
  * The FINAL-STATE PARITY is a hard `require`: a held-out probe slice
  * detected against the final index must equal the closed form — all
  * portable-LSH pairs over (visible docs ∪ probe) with a probe member,
  * where visible = ingested minus retired and retired = tombstoned ids
  * whose last takedown was not followed by a re-ingest (here: the ODD
  * ids ≡ 5 mod 11). The r13 resurrect-on-append bug is exactly the
  * class this probe catches mechanically.
  *
  * Then the GEOMETRY-MIGRATION cost row: re-band the final index to
  * 16×2 from its persisted signatures vs a from-scratch rebuild
  * (shingle+sign+band) of the same corpus — the d31 economics.
  *
  * Usage: `runMain graft.tools.IndexLifecycle [sfDir] [nCycles]`
  * (defaults /root/testdata/sf0.1, 10). Prints one [lifecycle] line per
  * cycle; paste the table into PLANS.md.
  */
object IndexLifecycle {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val n = if (args.length > 1) args(1).toInt else 10
    val spark = GraftSession()
    import spark.implicits._

    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).localCheckpoint(true)
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val split = Dedup.incrementalSplit.toLong
    val idxDir = Scratch.dir(spark, "lifecycle_idx", sfDir).toString
    val outDir = Scratch.dir(spark, "lifecycle_out", sfDir).toString
    def secs[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    def fileCount(table: String): Int = {
      val d = new java.io.File(
        graft.util.GenManifest.tablePath(spark, idxDir, table))
      if (!d.exists()) 0
      else d.listFiles().count(f => f.isFile && f.getName.endsWith(".parquet"))
    }
    // the per-probe overhead a grown partials table adds: one full
    // sizes read+merge, timed cold (no caching in lshIndexSizes)
    def sizesReadSec(): Double =
      secs(spark.read.parquet(
          graft.util.GenManifest.tablePath(spark, idxDir, "sizes"))
        .groupBy(col("band"), col("bkey")).agg(sum(col("bsz")))
        .count())._2

    val (_, buildSec) = secs(
      Dedup.buildLshIndex(docs.filter(col("doc_id") < split),
        "doc_id", "text", idxDir))
    println(f"[lifecycle] build history=[0,$split) wall=$buildSec%.2fs " +
      f"bands_files=${fileCount("bands")} sizes_files=${fileCount("sizes")}")

    // the last slice is held OUT of ingestion as the parity probe
    val step = math.max(1L, (maxId - split) / (n + 1))
    val probeLo = split + n * step
    val tombPred = col("doc_id") % 11 === 5
    println("[lifecycle] | cycle | delta ids | ops | append+detect s | op s | sizes read s | bands files | sizes files |")
    println("[lifecycle] |---|---|---|---|---|---|---|---|")
    (0 until n).foreach { i =>
      val lo = split + i * step
      val hi = lo + step
      // after a takedown cycle, the next batch RE-INGESTS the even half
      // of the retired ids (same text) — the versioned-resurrect path;
      // the preceding takedown covered ids < hi_{i-1} = lo
      val reingests = i >= 1 && (i - 1) % 3 == 1
      val reappend = if (reingests)
        docs.filter(col("doc_id") < lo && tombPred && col("doc_id") % 2 === 0)
      else docs.limit(0)
      val batch = docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .unionByName(reappend)
      val (_, wall) = secs(Dedup.appendLshDetect(
        batch, "doc_id", "text", idxDir, outDir))
      // interleaved maintenance: takedowns on i≡1 (mod 3), mid-sequence
      // compactions after cycles 3 and 6
      val (ops, opSec) =
        if (i % 3 == 1) {
          val t = secs(Dedup.tombstoneLshDocs(
            docs.filter(col("doc_id") < hi && tombPred)
              .select(col("doc_id").as("id")), idxDir))._2
          ("tombstone", t)
        } else if (i == 3 || i == 6) {
          val t = secs(Dedup.compactLshIndex(spark, idxDir, targetFiles = 8))._2
          ("COMPACT", t)
        } else ("-", 0.0)
      val re = if (reingests) "+reingest" else ""
      println(f"[lifecycle] | ${i + 1} | [$lo,$hi)$re | $ops | $wall%.2f | $opSec%.2f " +
        f"| ${sizesReadSec()}%.2f | ${fileCount("bands")} | ${fileCount("sizes")} |")
    }

    // FINAL-STATE PARITY (hard require): held-out probe vs the closed
    // form over the visible corpus. Retired = odd ids ≡5 (mod 11) that
    // were ingested before the LAST takedown cycle (evens were
    // re-ingested afterwards and resurrected; any ≡5 ids appended
    // after the last takedown were never tombstoned).
    // n <= 1 runs no takedown cycle at all: retired is empty
    val lastTombOpt = (0 until n).filter(_ % 3 == 1).lastOption
    val retiredPred = lastTombOpt.fold(lit(false)) { lastTomb =>
      val tombHi = split + (lastTomb + 1) * step
      val resurrected = lastTomb + 1 < n // the re-ingest cycle ran
      tombPred && col("doc_id") < tombHi &&
        (if (resurrected) col("doc_id") % 2 === 1 else lit(true))
    }
    val probe = docs.filter(col("doc_id") >= probeLo).localCheckpoint(true)
    val visible = docs.filter(col("doc_id") < probeLo && !retiredPred)
    val (got, detSec) = secs(
      Dedup.detectDeltaPairs(probe, "doc_id", "text", idxDir)
        .select(col("doc_a"), col("doc_b"))
        .as[(Long, Long)].collect().toSet)
    val (exp, expSec) = secs(
      Dedup.minHashLshPairsPortable(visible.unionByName(probe), "doc_id", "text")
        .filter(col("doc_a") >= probeLo || col("doc_b") >= probeLo)
        .select(col("doc_a"), col("doc_b"))
        .as[(Long, Long)].collect().toSet)
    require(got == exp,
      s"MIXED-LIFECYCLE PARITY FAILED: ${got.size} probe pairs vs closed form " +
        s"${exp.size} (missing=${(exp -- got).take(5)} extra=${(got -- exp).take(5)})")
    println(f"[lifecycle] mixed parity OK: ${got.size} probe pairs == closed form " +
      f"(detect=$detSec%.2fs closed-form recompute=$expSec%.2fs)")

    // geometry-migration economics (d31): re-band from persisted
    // signatures vs a from-scratch rebuild that must re-shingle+sign
    val (_, rebandSec) = secs(Dedup.rebandLshIndex(spark, idxDir, 16, 2))
    val rebuildDir = Scratch.dir(spark, "lifecycle_rebuild", sfDir).toString
    val (_, rebuildSec) = secs(Dedup.buildLshIndex(
      visible, "doc_id", "text", rebuildDir))
    println(f"[lifecycle] reband 8x4->16x2 wall=$rebandSec%.2fs vs " +
      f"from-scratch rebuild=$rebuildSec%.2fs (reband skips shingle+sign)")

    // — the IVF half: the SAME mixed question for the e13 index — N
    // frozen-centroid append cycles with interleaved takedowns, then
    // the in-place RETRAIN (e22/e23's op) which must FOLD the retired
    // ids: query parity against a from-scratch rebuild on the
    // survivors.
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).localCheckpoint(true)
    val vMax = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    val vSplit = Similarity.indexBaseSplit.toLong
    val ivfDir = Scratch.dir(spark, "lifecycle_ivf", sfDir).toString
    def ivfFiles(): Int = {
      val d = new java.io.File(
        graft.util.GenManifest.tablePath(spark, ivfDir, "assignments"))
      if (!d.exists()) 0
      else d.listFiles().count(f => f.isFile && f.getName.endsWith(".parquet"))
    }
    val vTombPred = col("vec_id") % 11 === 5
    val queries = emb.filter(col("vec_id") < 10 && !vTombPred)
      .localCheckpoint(true)
    def querySec(): Double =
      secs(Similarity.queryIvfIndexFixedPoint(spark, ivfDir, queries,
        "vec_id", "embedding", k = 5).count())._2
    val (_, ivfBuild) = secs(Similarity.buildIvfIndexFixedPoint(
      emb.filter(col("vec_id") < vSplit), "vec_id", "embedding", ivfDir))
    println(f"[lifecycle] IVF build base=[0,$vSplit) wall=$ivfBuild%.2fs " +
      f"assign_files=${ivfFiles()}")
    val vStep = math.max(1L, (vMax - vSplit) / n)
    println("[lifecycle] | cycle | delta ids | ops | append s | op s | query s | assign files |")
    println("[lifecycle] |---|---|---|---|---|---|---|")
    (0 until n).foreach { i =>
      val lo = vSplit + i * vStep
      val hi = if (i == n - 1) vMax else lo + vStep
      val (_, wall) = secs(Similarity.appendIvfIndexFixedPoint(
        emb.filter(col("vec_id") >= lo && col("vec_id") < hi),
        "vec_id", "embedding", ivfDir))
      val (ops, opSec) =
        if (i % 3 == 1) {
          val t = secs(Similarity.tombstoneIvfVecs(
            emb.filter(col("vec_id") < hi && vTombPred)
              .select(col("vec_id").as("id")), ivfDir))._2
          ("tombstone", t)
        } else if (i == 3 || i == 6) {
          // mid-sequence file compaction (e24's op): coalesce the
          // append-accreted lists + fold hidden rows, centroids frozen
          val t = secs(Similarity.compactIvfIndexFixedPoint(spark, ivfDir,
            targetFiles = 4))._2
          ("COMPACT", t)
        } else ("-", 0.0)
      println(f"[lifecycle] | ${i + 1} | [$lo,$hi) | $ops | $wall%.2f | $opSec%.2f " +
        f"| ${querySec()}%.2f | ${ivfFiles()} |")
    }
    // one final full takedown sweep so the retired set is the clean
    // closed form (every ≡5 id), then retrain: the fold must land
    // exactly the survivors-only rebuild
    Similarity.tombstoneIvfVecs(
      emb.filter(vTombPred).select(col("vec_id").as("id")), ivfDir)
    val (_, retrainSec) = secs(Similarity.retrainIvfIndexFixedPoint(
      emb, "vec_id", "embedding", ivfDir))
    val postRetrain = Similarity.queryIvfIndexFixedPoint(spark, ivfDir, queries,
      "vec_id", "embedding", k = 5)
      .as[(Long, Long, Long)].collect().toSeq
    val fresh = Similarity.kmeansIvfTopKFixedPoint(
      emb.filter(!vTombPred), queries, "vec_id", "embedding", k = 5)
      .as[(Long, Long, Long)].collect().toSeq
    require(postRetrain == fresh,
      s"RETRAIN-FOLD PARITY FAILED: ${postRetrain.size} rows vs survivors-only " +
        s"rebuild ${fresh.size}")
    println(f"[lifecycle] IVF retrain(+fold) wall=$retrainSec%.2fs - " +
      f"assign_files=${ivfFiles()} query=${querySec()}%.2fs " +
      f"(parity with survivors-only rebuild OK, ${postRetrain.size} rows)")
    spark.stop()
  }
}
