package graft

import graft.tools.DumpExchangeBudget.initial
import org.apache.spark.sql.execution.SparkPlan

/** One sf0.001 run of every registered query function, shared by
  * `EntrySpec` (row counts) and `PlanAuditSpec` (initial physical
  * plans), so each function runs once per suite. Streaming entries
  * drain a real micro-batch run; their plan is the post-drain batch
  * plan (the stream side's state plans are pinned in `StreamsSpec`).
  */
object QueryMapRun {
  final case class Run(plan: SparkPlan, rows: Long)

  /** Per query, by name: why it failed, or its initial plan and rows. */
  lazy val results: Seq[(String, Either[String, Run])] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> (try {
        val df = fn(TestSpark.spark, TestSpark.sf)
        val plan = initial(df.queryExecution.executedPlan)
        Right(Run(plan, df.count()))
      } catch { case e: Throwable => Left(e.toString) })
    }
}
