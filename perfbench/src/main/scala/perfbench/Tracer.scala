package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.BenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

case class JobRec(id: Int, startMs: Long, var endMs: Long, callShort: String,
                  callLong: String, stageIds: Seq[Int])
case class StageRec(id: Int, submitMs: Long, completeMs: Long, recordsRead: Long)
case class TaskRec(endMs: Long, runMs: Long, cpuNs: Long, shuffleRead: Long,
                   shuffleWrite: Long, spill: Long, bytesWritten: Long)
case class QueryRec(atMs: Long, analysisMs: Long, optimizationMs: Long,
                    planningMs: Long, filesWritten: Long)

/** Benchmark-owned listeners for the traced run: a SparkListener for
  * jobs, stages, tasks and the call site of each SQL execution, and a
  * QueryExecutionListener for Catalyst phase times and files written.
  * Everything is kept in memory and attributed to ops by time, since
  * ops run one at a time.
  */
class Tracer(spark: SparkSession) {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val queries = new ConcurrentLinkedQueue[QueryRec]()
  private val openJobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  // SQL execution id -> (short, long) call site of the action that started it
  private val callSites = new java.util.concurrent.ConcurrentHashMap[Long, (String, String)]()

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => callSites.put(s.executionId, (s.description, s.details))
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val site = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(callSites.get(id.toLong))).getOrElse(("", ""))
      openJobs.put(e.jobId, JobRec(e.jobId, e.time, -1L, site._1, site._2, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(openJobs.remove(e.jobId)).foreach { j => j.endMs = e.time; jobs.add(j) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val read = Option(s.taskMetrics).map(_.inputMetrics.recordsRead).getOrElse(0L)
      stages.add(StageRec(s.stageId, s.submissionTime.getOrElse(0L),
        s.completionTime.getOrElse(0L), read))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      tasks.add(TaskRec(e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten))
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
      val at = ph.get("planning").orElse(ph.get("analysis")).map(_.endTimeMs)
        .getOrElse(System.currentTimeMillis())
      val files = qe.executedPlan.collect {
        case d: DataWritingCommandExec => d.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
      queries.add(QueryRec(at, ms("analysis"), ms("optimization"), ms("planning"), files))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private var gc0 = 0L
  var windowGcMs = 0L

  def beginOp(): Unit = BenchAccess.drainListenerBus(spark.sparkContext)
  def endOp(): Unit = BenchAccess.drainListenerBus(spark.sparkContext)
  def startWindow(): Unit = gc0 = gcMs()
  def stopWindow(): Unit = windowGcMs = gcMs() - gc0

  def jobsIn(s: Long, e: Long): Seq[JobRec] =
    jobs.asScala.filter(j => j.startMs >= s && j.endMs <= e).toSeq.sortBy(_.startMs)
  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = {
    val ids = js.flatMap(_.stageIds).toSet
    stages.asScala.filter(st => ids(st.id) && st.completeMs > 0).toSeq
  }
  def tasksIn(s: Long, e: Long): Seq[TaskRec] =
    tasks.asScala.filter(t => t.endMs >= s && t.endMs <= e).toSeq
  def queriesIn(s: Long, e: Long): Seq[QueryRec] =
    queries.asScala.filter(q => q.atMs >= s && q.atMs <= e).toSeq

  /** Total length covered by the union of intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
  def spans(js: Seq[JobRec]): Seq[(Long, Long)] = js.map(j => (j.startMs, j.endMs))

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The `engine.*` metrics: per-op means over the timed ops. */
  def engineMetrics(timed: Seq[OpRec]): Map[String, Double] = {
    def per(f: OpRec => Double): Double = mean(timed.map(f))
    def js(o: OpRec) = jobsIn(o.startMs, o.endMs)
    def ts(o: OpRec) = tasksIn(o.startMs, o.endMs)
    def qs(o: OpRec) = queriesIn(o.startMs, o.endMs)
    Map(
      "engine.jobs" -> per(o => js(o).size.toDouble),
      "engine.stages" -> per(o => stagesOf(js(o)).size.toDouble),
      "engine.tasks" -> per(o => ts(o).size.toDouble),
      "engine.job_span_ms" -> per(o => unionMs(spans(js(o))).toDouble),
      "engine.driver_gap_ms" -> per(o => o.wallMs - unionMs(spans(js(o)))),
      "engine.analysis_ms" -> per(o => qs(o).map(_.analysisMs).sum.toDouble),
      "engine.optimization_ms" -> per(o => qs(o).map(_.optimizationMs).sum.toDouble),
      "engine.planning_ms" -> per(o => qs(o).map(_.planningMs).sum.toDouble),
      "engine.executor_run_ms" -> per(o => ts(o).map(_.runMs).sum.toDouble),
      "engine.executor_cpu_ms" -> per(o => ts(o).map(_.cpuNs).sum / 1e6),
      "engine.shuffle_read_bytes" -> per(o => ts(o).map(_.shuffleRead).sum.toDouble),
      "engine.shuffle_write_bytes" -> per(o => ts(o).map(_.shuffleWrite).sum.toDouble),
      "engine.spill_bytes" -> per(o => ts(o).map(_.spill).sum.toDouble),
      "engine.bytes_written" -> per(o => ts(o).map(_.bytesWritten).sum.toDouble),
      "engine.files_written" -> per(o => qs(o).map(_.filesWritten).sum.toDouble),
      "engine.gc_ms" -> windowGcMs.toDouble)
  }
}
