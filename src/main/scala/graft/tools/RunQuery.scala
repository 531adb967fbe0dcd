package graft.tools

import graft.util.GraftSession

/** Ad-hoc single-query runner for local iteration:
  * `runMain graft.tools.RunQuery <queryName> [sfDir] [show]`
  * — prints the row count (and optionally the rows) of one registered
  * SparkEntry query, with the same session config as Verify/Bench.
  */
object RunQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = GraftSession()
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "1").toInt
    var df: org.apache.spark.sql.DataFrame = null
    (1 to reps).foreach { rep =>
      val t0 = System.nanoTime()
      df = graft.SparkEntry.queries(name)(spark, sfDir)
      val n = df.count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[runquery] $name rep=$rep rows=$n sec=$dt%.2f sf=$sfDir")
      // full storage drop (incl. localCheckpoint blocks), matching
      // Bench/Verify — later reps must not run with a predecessor's
      // storage resident. NOT after the last rep: `show` re-executes
      // the returned plan, which may read its own (lineage-truncated)
      // localCheckpoint blocks.
      if (rep < reps) graft.Bench.dropAllStorage(spark)
    }
    if (args.length > 2 && args(2) == "show") df.show(50, truncate = false)
    spark.stop()
  }
}
