package graft.tools

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.util.GraftSession
import org.apache.spark.sql.execution.ExplainMode

/** Per-query plan dumps for the optimization-round evidence trail:
  * `runMain graft.tools.DumpPlanFiles <outDir> <suffix> <query>[,<query>...] [sfDir]`
  * writes `<outDir>/<query>_<suffix>.txt` with the registered entry's
  * `explain("formatted")` output (e.g. suffix `before` / `after`).
  *
  * Dumps the REGISTERED form — the thing the bench times — even where
  * a checkpoint collapses part of the plan; the lazy plan variants for
  * human-readable evidence live in [[DumpPlans]] / PLANS.md.
  */
object DumpPlanFiles {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val dir = if (args.length > 3) args(3) else "/root/testdata/sf0.01"
    // 5th arg: extra -D system properties (comma-separated k=v) — lets a
    // "before" dump disable a code-level optimization toggle
    if (args.length > 4) args(4).split(",").foreach { kv =>
      val Array(k, v) = kv.split("=", 2); System.setProperty(k, v)
    }
    val spark = GraftSession()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), txt)
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
      graft.Bench.dropAllStorage(spark)
    }
    spark.stop()
  }
}
