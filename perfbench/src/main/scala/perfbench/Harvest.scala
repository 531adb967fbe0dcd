package perfbench

import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.ObjectMapper
import graft.jobs.IngestionJob
import graft.sources._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** `harvest`: the offre corpus served by a fresh stub France Travail API
  * per op (each instance answers its first page fetch with one 429), in
  * rounds of two op kinds:
  *  - `full`: the whole ingestion job into a fresh directory;
  *  - `filtered`: the csv-tech export straight from the API, the tech
  *    ROME IN-list pushed into the source.
  */
class Harvest(spark: SparkSession, a: Args) extends Workload {
  private val secrets = Map("k1" -> "s-k1", "k2" -> "s-k2")
  private val maxPerFilter = 3149
  private val pageSize = 150
  private var offers: Seq[StubOffre] = Nil

  val warmupRounds = 2

  def setup(): Unit = {
    val mapper = new ObjectMapper()
    val src = scala.io.Source.fromFile(s"${a.data}/offres.jsonl", "UTF-8")
    try offers = src.getLines().map { line =>
      val n = mapper.readTree(line)
      def s(k: String) = n.get(k).asText
      StubOffre(Option(n.get("id")).filterNot(_.isNull).map(_.asText),
        s("intitule"), s("description"), s("romeCode"), s("region"), s("departement"))
    }.toVector
    finally src.close()
  }

  private def options(server: StubOffresServer): Map[String, String] = Map(
    "endpoint" -> server.base, "authUrl" -> server.authUrl,
    "secrets" -> secrets.map { case (k, v) => s"$k:$v" }.mkString(","),
    "maxPerFilter" -> maxPerFilter.toString, "pageSize" -> pageSize.toString)

  def round(r: Int): Seq[Op] = {
    val fullServer = new StubOffresServer(offers, secrets)
    val fullDir = s"${a.out}/harvest/full_$r"
    val csvServer = new StubOffresServer(offers, secrets)
    val csvDir = s"${a.out}/harvest/csv_$r"
    Seq(
      Op("full", "full", () => IngestionJob.runWithOptions(spark, options(fullServer), fullDir),
        out => {
          fullServer.stop()
          val res = out.asInstanceOf[IngestionJob.Result]
          Map("dir" -> fullDir, "expected" -> res.totalExpected,
            "collected" -> res.collected, "erreurs" -> res.erreurs)
        }),
      Op("filtered", "filtered", () => {
        val scan = spark.read.format("graft.sources.OffresSource")
          .options(options(csvServer)).load()
          .filter(col("romeCode").isin(Offres.techRomeCodes: _*))
        Offres.writeCsv(Offres.csvTechPipeline(scan), csvDir)
      }, _ => {
        csvServer.stop()
        val overflows = OverflowLog.drain(csvServer.base)
        Map("dir" -> csvDir, "overflows" -> overflows.size)
      }))
  }

  def finish(): Map[String, Any] =
    Map("t01_sql" -> graft.SparkEntry.oracleSql("t01_normalize_pipeline"))

  /** `jobs.*` from the full ops' Spark jobs by call site, `sources.*`
    * from a planner pass and a page sweep against a fresh stub with the
    * HTTP client called directly.
    */
  def layerMetrics(tracer: Tracer, timed: Seq[OpRec]): Map[String, Double] = {
    val full = timed.filter(_.kind == "full")
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val perOp = full.map { o =>
      val js = tracer.jobsIn(o.startMs, o.endMs)
      val writes = js.filter(_.callShort.startsWith("parquet at"))
      val recounts = js.filter(j => j.callShort.startsWith("count at") || j.callShort.startsWith("head at"))
      val scan = tracer.stagesOf(writes).filter(_.recordsRead > 0).sortBy(_.submitMs)
        .headOption.map(s => (s.completeMs - s.submitMs).toDouble).getOrElse(0.0)
      (scan, tracer.unionMs(tracer.spans(writes)) - scan,
        tracer.unionMs(tracer.spans(recounts)).toDouble, js.size.toDouble)
    }
    Map("jobs.scan_ms" -> mean(perOp.map(_._1)), "jobs.write_ms" -> mean(perOp.map(_._2)),
      "jobs.recount_ms" -> mean(perOp.map(_._3)), "jobs.spark_jobs" -> mean(perOp.map(_._4))) ++
      sourcesProbe() ++ Kernels.probe(spark, a)
  }

  private def sourcesProbe(): Map[String, Double] = {
    val server = new StubOffresServer(offers, secrets)
    try {
      val token = HttpOffresApi.authenticate(server.authUrl, "k1", "s-k1")._1
      val api = new HttpOffresApi(server.base, () => Some(token))
      val mapper = new ObjectMapper()
      def codes(name: String) = api.referentiel(name).map(j => mapper.readTree(j).get("code").asText)
      val deptRegion = api.referentiel("departements").map { j =>
        val n = mapper.readTree(j); n.get("code").asText -> n.get("region").get("code").asText
      }.toMap
      val regions = codes("regions")
      val metiers = codes("metiers")
      val probes = new AtomicInteger()
      val counting: AdaptivePlanner.FetchFilter => Long = f => { probes.incrementAndGet(); api.count(f) }
      // the filtered op's planning: one plan per pushed tech ROME code
      def filteredPlan(): Unit = Offres.techRomeCodes.foreach { rome =>
        AdaptivePlanner.plan(counting, regions, deptRegion, metiers, maxPerFilter, pageSize,
          AdaptivePlanner.FetchFilter(codeRome = Some(rome)))
      }
      val planMs = (1 to 5).map { _ =>
        probes.set(0)
        val t0 = System.nanoTime(); filteredPlan(); (System.nanoTime() - t0) / 1e6
      }.sorted
      val full = AdaptivePlanner.plan(api.count, regions, deptRegion, metiers, maxPerFilter, pageSize)
      val fetchMs = full.partitions.map { p =>
        val t0 = System.nanoTime()
        try api.fetch(p.filter, p.range, token)
        catch { case e: RateLimitedException => Thread.sleep(e.retryAfterMs); api.fetch(p.filter, p.range, token) }
        (System.nanoTime() - t0) / 1e6
      }.sorted
      Map("sources.plan_ms" -> planMs(planMs.size / 2), "sources.probes" -> probes.get.toDouble,
        "sources.pages" -> full.partitions.size.toDouble,
        "sources.page_fetch_p50_ms" -> fetchMs(fetchMs.size / 2))
    } finally server.stop()
  }
}
