package perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One timed operation of a workload: its kind (the unit medians are
  * taken over), a name, and the call. Only `body` is timed; `after`
  * gets its result untimed and returns what the checks need to know.
  */
case class Op(kind: String, name: String, body: () => Any,
              after: Any => Map[String, Any] = _ => Map.empty)

/** What one execution of an op left behind. */
case class OpRec(kind: String, name: String, phase: String, round: Int,
                 startMs: Long, endMs: Long, wallMs: Double, failed: Boolean,
                 info: Map[String, Any])

trait Workload {
  /** Rounds run before the timed window; they count in set-up time. */
  def warmupRounds: Int
  /** Untimed preparation after the session starts (counts in set-up). */
  def setup(): Unit
  /** The ops of round `r`: the same composition in every round. */
  def round(r: Int): Seq[Op]
  /** Untimed work after the window that the checks need. */
  def finish(): Map[String, Any]
  /** Workload-specific per-layer metrics for the traced run. */
  def layerMetrics(tracer: Tracer, timed: Seq[OpRec]): Map[String, Double]
}

case class Args(workload: String, seed: Long, rounds: Int, trace: Boolean,
                data: String, out: String, cores: Int)

/** Runs one workload in this JVM: set-up and warm-up, a timed window of
  * a fixed number of whole rounds, then the untimed finish. Writes
  * `run.json` into the run directory for `run.py` to check and
  * summarize.
  */
object Main {
  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("rounds").toInt, m("trace") == "1",
      m("data"), m("out"), m("cores").toInt)
  }

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.local.dir", s"${a.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.out}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Peak resident set of this JVM so far, from /proc/self/status. */
  def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a)
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val wl: Workload = a.workload match {
      case "harvest" => new Harvest(spark, a)
      case "index_refresh" => new IndexRefresh(spark, a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val recs = Seq.newBuilder[OpRec]
    def runRound(r: Int, phase: String): Unit = wl.round(r).foreach { op =>
      tracer.foreach(_.beginOp())
      val s = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val out = scala.util.Try(op.body())
      val wall = (System.nanoTime() - t0) / 1e6
      val e = System.currentTimeMillis()
      tracer.foreach(_.endOp())
      val info = out.fold(err => Map[String, Any]("error" -> err.toString), op.after)
      recs += OpRec(op.kind, op.name, phase, r, s, e, wall, out.isFailure, info)
    }

    wl.setup()
    var r = 0
    while (r < wl.warmupRounds) { runRound(r, "warmup"); r += 1 }
    val setupEndMs = System.currentTimeMillis()

    tracer.foreach(_.startWindow())
    val t0 = System.nanoTime()
    val firstTimed = r
    // the same rounds in every run, however fast the host: a window cut
    // by the clock would time a different, warmer set of ops on a faster
    // host or program
    while (r < firstTimed + a.rounds) { runRound(r, "timed"); r += 1 }
    val rss = rssPeakMb()
    val windowS = (System.nanoTime() - t0) / 1e9
    tracer.foreach(_.stopWindow())

    val all = recs.result()
    val timed = all.filter(_.phase == "timed")
    val layers = tracer.map(t => t.engineMetrics(timed) ++ wl.layerMetrics(t, timed))
      .getOrElse(Map.empty)
    val checks = wl.finish()
    val record = Map(
      "workload" -> a.workload, "cores" -> a.cores, "setup_end_ms" -> setupEndMs,
      "window_s" -> windowS, "timed_rounds" -> (r - firstTimed),
      "rss_peak_mb" -> rss,
      "ops" -> all.map(o => Map("kind" -> o.kind, "name" -> o.name, "phase" -> o.phase,
        "round" -> o.round, "wall_ms" -> o.wallMs, "failed" -> o.failed, "info" -> o.info)),
      "layers" -> layers,
      "checks" -> checks)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(a.out, "run.json"), record)
    spark.stop()
  }
}
