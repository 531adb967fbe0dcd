package graft.util

import org.apache.spark.sql.SparkSession

/** The one place a session is built: Bench, Verify, the tests and every
  * tool share this configuration, so a plan, a timing or a committed
  * budget taken by one of them holds for the others. Only the core
  * count varies; a caller that needs a different SQL conf (a tool's
  * deliberate threshold, a spec's forced shuffle) sets it on the built
  * session where the reader can see it.
  *
  * `cpus` defaults to `SPARK_GRAFT_CPUS`, else the host's core count.
  */
object GraftSession {
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      // the nanos generation of the events fixture must still load
      // (Tables.normalizeEventTs)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
