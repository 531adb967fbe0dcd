package graft.jobs

import graft.sources.{AdaptivePlanner, Offres, OffresApiResolver}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's full ingestion run (SURVEY §3 E1) as one Spark job:
  *
  *  1. global count probe (A1) against the API;
  *  2. adaptive partitioned scan through the DSv2 source (S3-S5 —
  *     planning, pagination, credential round-robin, backoff live in
  *     the source);
  *  3. dead-letter split for rows without an id (S7);
  *  4. keyed dedup (S6) — overlapping fetch windows are harmless;
  *  5. full-refresh overwrite of the offres / erreurs tables (S8);
  *  6. run-metrics table with the count-reconciliation invariant (S9/A3).
  */
object IngestionJob {

  case class Result(totalExpected: Long, collected: Long, erreurs: Long,
                    reconciled: Boolean)

  /** The reference's `__main__` run, network and all, over the
    * source's options (`endpoint`, `authUrl`, `secrets`, optionally
    * `maxPerFilter`/`pageSize`).
    */
  def runWithOptions(spark: SparkSession, options: Map[String, String],
                     outDir: String): Result = {
    val startS = System.currentTimeMillis() / 1000
    val lower = options.map { case (k, v) => k.toLowerCase -> v }
    val api = OffresApiResolver.resolve(lower)
    val sourceKey = lower("endpoint")
    // discard overflow records leaked by a previously failed/aborted run
    // for this source — this run's erreurs must reflect THIS run
    graft.sources.OverflowLog.drain(sourceKey)
    val totalExpected = api.count(AdaptivePlanner.FetchFilter()) // A1 probe

    // persist: the REST scan must execute exactly once — the valid
    // write, dead-letter write, and error count would otherwise each
    // re-plan (count probes) and re-fetch every page against the
    // rate-limited API, and could observe different API snapshots
    val raw = spark.read.format("graft.sources.OffresSource")
      .options(options)
      .load()
      .persist()

    val valid = raw.filter(col("id").isNotNull).dropDuplicates("id")
    val deadRows = raw.filter(col("id").isNull)
      .select(to_json(struct(raw.columns.map(col).toSeq: _*)).as("response"),
        lit("offre without id").as("message"))

    Offres.overwriteTable(valid, s"$outDir/offres")
    // overflowed plan leaves → dead-letter rows (never silent loss, S7)
    val overflowRows = graft.sources.OverflowLog.drain(sourceKey).map { o =>
      (o.toString, s"overflow: ${o.total} offers exceed the fetch cap")
    }
    import spark.implicits._
    val dead = deadRows.unionByName(
      overflowRows.toDF("response", "message"))
    Offres.overwriteTable(dead, s"$outDir/erreurs")

    val collected = spark.read.parquet(s"$outDir/offres").count() // S12 recount
    val nErr = spark.read.parquet(s"$outDir/erreurs").count()
    raw.unpersist()
    val endS = System.currentTimeMillis() / 1000
    val metrics = Offres.runMetrics(spark, startS, endS, totalExpected, collected)
    metrics.write.mode("append").parquet(s"$outDir/ingestion")

    Result(totalExpected, collected, nErr,
      metrics.select(col("reconciled")).head().getBoolean(0))
  }
}
