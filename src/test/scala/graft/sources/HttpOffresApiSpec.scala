package graft.sources

import java.io.OutputStream
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.SparkSpec
import graft.sources.AdaptivePlanner.{FetchFilter, PageRange}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** End-to-end proof of the production HTTP client path: the DSv2 source
  * reading from a real (local) HTTP server that speaks the reference
  * protocol — OAuth2 token POST, `Content-Range` paged search, one 429
  * with `Retry-After` (`ingestion-elasticsearch.py:10-25,57-130`).
  */
class HttpOffresApiSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  case class O(id: Int, region: String, departement: String, rome: String)
  // R1 fits under maxPerFilter=100 (direct pages); R2 (120) saturates →
  // departement split over HTTP
  private val offers: Seq[O] =
    (0 until 80).map(i => O(i, "R1", "D11", "M1")) ++
    (0 until 60).map(i => O(100 + i, "R2", "D21", "M1")) ++
    (0 until 60).map(i => O(200 + i, "R2", "D22", "M2"))

  private val authCalls = new AtomicInteger(0)
  private val rateLimited429 = new AtomicBoolean(false) // fire exactly one 429
  private val retriedAfter429 = new AtomicInteger(0)
  private val authHeadersSeen = new ConcurrentHashMap[String, Boolean]()
  private val departementParamsSeen = new ConcurrentHashMap[String, Boolean]()
  private val probeUris = new ConcurrentLinkedQueue[String]() // range=0-0 requests
  private val pageUris = new ConcurrentLinkedQueue[String]()  // every other search
  private var server: HttpServer = _
  private var base: String = _

  private def params(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).map(_.split("&").toSeq.map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k -> URLDecoder.decode(v, StandardCharsets.UTF_8)
    }.toMap).getOrElse(Map.empty)

  private def respond(ex: HttpExchange, code: Int, body: String,
                      headers: Map[String, String] = Map.empty): Unit = {
    headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) {
      val os: OutputStream = ex.getResponseBody
      os.write(bytes); os.close()
    }
    ex.close()
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)

    server.createContext("/token", (ex: HttpExchange) => {
      authCalls.incrementAndGet()
      val form = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val fields = form.split("&").map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> URLDecoder.decode(v, StandardCharsets.UTF_8)
      }.toMap
      val ok = fields.get("grant_type").contains("client_credentials") &&
        fields.get("client_secret").contains("s-" + fields.getOrElse("client_id", "?"))
      if (ok)
        respond(ex, 200,
          s"""{"access_token":"tok-${fields("client_id")}","expires_in":3600}""")
      else respond(ex, 401, """{"error":"invalid_client"}""")
    })

    server.createContext("/referentiel", (ex: HttpExchange) => {
      Option(ex.getRequestHeaders.getFirst("Authorization"))
        .foreach(authHeadersSeen.put(_, true))
      val body = ex.getRequestURI.getPath.stripPrefix("/referentiel/") match {
        case "regions" => """[{"code":"R1"},{"code":"R2"}]"""
        case "departements" =>
          """[{"code":"D11","region":{"code":"R1"}},
            | {"code":"D21","region":{"code":"R2"}},
            | {"code":"D22","region":{"code":"R2"}}]""".stripMargin
        case "metiers" => """[{"code":"M1"},{"code":"M2"}]"""
        case _ => "[]"
      }
      respond(ex, 200, body)
    })

    server.createContext("/offres/search", (ex: HttpExchange) => {
      Option(ex.getRequestHeaders.getFirst("Authorization"))
        .foreach(authHeadersSeen.put(_, true))
      val p = params(ex)
      p.get("departement").foreach(departementParamsSeen.put(_, true))
      val hits = offers.filter(o =>
        p.get("region").forall(_ == o.region) &&
        p.get("departement").forall(_ == o.departement) &&
        p.get("codeROME").forall(_ == o.rome)).sortBy(_.id)
      val Array(a, b) = p("range").split("-").map(_.toInt)
      val isProbe = a == 0 && b == 0
      (if (isProbe) probeUris else pageUris).add(ex.getRequestURI.toString)
      // region THROTTLED is rate-limited forever
      if (p.get("region").contains("THROTTLED")) {
        respond(ex, 429, "", Map("Retry-After" -> "0"))
      // exactly one 429 on a real page fetch, then success on retry
      } else if (!isProbe && rateLimited429.compareAndSet(false, true)) {
        respond(ex, 429, "", Map("Retry-After" -> "1"))
      } else if (hits.isEmpty) {
        respond(ex, 204, "", Map("Content-Range" -> "offres 0-0/0"))
      } else {
        if (!isProbe) retriedAfter429.incrementAndGet()
        val page = hits.slice(a, b + 1)
        val results = page.map(o =>
          s"""{"id":"${o.id}","intitule":"Offre ${o.id}","description":"d${o.id}","romeCode":"${o.rome}","region":"${o.region}","departement":"${o.departement}"}""")
          .mkString("[", ",", "]")
        respond(ex, if (b + 1 >= hits.size) 200 else 206,
          s"""{"resultats":$results}""",
          Map("Content-Range" -> s"offres $a-${math.min(b, hits.size - 1)}/${hits.size}"))
      }
    })

    server.start()
    base = s"http://127.0.0.1:${server.getAddress.getPort}"
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop(0)
    super.afterAll()
  }

  test("DSv2 source over HTTP: OAuth2 + adaptive split + pagination + 429 retry, exactly once") {
    val df = spark.read.format("graft.sources.OffresSource")
      .option("endpoint", base)
      .option("authUrl", s"$base/token")
      .option("secrets", "k1:s-k1,k2:s-k2")
      .option("maxPerFilter", "100")
      .option("pageSize", "50")
      .load()
    val ids = df.select($"id").as[String].collect()
    assert(ids.length == 200, s"expected all offers, got ${ids.length}")
    assert(ids.distinct.length == 200, "exactly-once: no dup across pages/splits")
    assert(authCalls.get() >= 2, "both credential pairs authenticated")
    assert(authHeadersSeen.containsKey("Bearer tok-k1") &&
      authHeadersSeen.containsKey("Bearer tok-k2"),
      s"round-robin bearer tokens, saw ${authHeadersSeen.keySet()}")
    assert(rateLimited429.get() && retriedAfter429.get() > 0,
      "the 429'd page was retried after Retry-After")
    // saturated R2 split to departements over HTTP; R1 fetched directly
    assert(departementParamsSeen.containsKey("D21") &&
      departementParamsSeen.containsKey("D22"),
      s"adaptive split reached departement probes, saw ${departementParamsSeen.keySet()}")
  }

  test("HttpOffresApi: count, fetch sleeps Retry-After, referentiel") {
    val (tok, ttl) = HttpOffresApi.authenticate(s"$base/token", "k1", "s-k1")
    assert(tok == "tok-k1" && ttl == 3600000L)
    val api = new HttpOffresApi(base, () => Some(tok))
    assert(api.count(FetchFilter(region = Some("R1"))) == 80L)
    assert(api.count(FetchFilter()) == 200L)
    assert(api.referentiel("metiers").size == 2)
    rateLimited429.set(false) // re-arm the single 429 (Retry-After: 1)
    pageUris.clear()
    val t0 = System.nanoTime()
    val page = api.fetch(FetchFilter(region = Some("R1")), PageRange(0, 49), tok)
    val sleptMs = (System.nanoTime() - t0) / 1000000L
    assert(page.size == 50)
    assert(sleptMs >= 1000L, s"returned after $sleptMs ms, before the advertised 1 s")
    // the server saw the throttled request and then its retry
    val seen = pageUris.toArray.toSeq
    assert(seen.size == 2 && seen.distinct.size == 1, seen)
    // a filter throttled on every answer gives up with the last hint
    val e = intercept[RateLimitedException] {
      api.count(FetchFilter(region = Some("THROTTLED")))
    }
    assert(e.retryAfterMs == 0L)
  }

  test("one scan plans once: no count probe is requested twice") {
    probeUris.clear()
    val ids = spark.read.format("graft.sources.OffresSource")
      .option("endpoint", base)
      .option("authUrl", s"$base/token")
      .option("secrets", "k1:s-k1,k2:s-k2")
      .option("maxPerFilter", "100")
      .option("pageSize", "50")
      .load()
      .filter($"romeCode".isin("M1", "M2"))
      .select($"id")
      .as[String].collect()
    assert(ids.length == 200)
    val probes = probeUris.toArray.toSeq.map(_.toString)
    val repeated = probes.groupBy(identity).collect { case (u, us) if us.size > 1 => u -> us.size }
    assert(probes.nonEmpty && repeated.isEmpty, s"probes requested more than once: $repeated")
  }

  test("IngestionJob runs the full E1 lifecycle over HTTP: collect, dead-letter, reconcile") {
    rateLimited429.set(false) // re-arm: one page of this run gets throttled
    val out = tempDir("graft_ingest_http").toString
    val res = graft.jobs.IngestionJob.runWithOptions(spark, Map(
      "endpoint" -> base,
      "authUrl" -> s"$base/token",
      "secrets" -> "k1:s-k1,k2:s-k2",
      "maxPerFilter" -> "100",
      "pageSize" -> "50"), out)
    assert(res.totalExpected == 200 && res.collected == 200, res)
    assert(res.reconciled && res.erreurs == 0, res)
    assert(spark.read.parquet(s"$out/offres").count() == 200)
  }

  test("scanning fresh API endpoints leaves at most one HTTP client thread behind") {
    import scala.jdk.CollectionConverters._
    // each java.net.http client owns one SelectorManager thread until
    // it is collected, which that thread notices within seconds
    def selectorThreads(): Int = {
      System.gc()
      Thread.getAllStackTraces.keySet.asScala.count(_.getName.contains("SelectorManager"))
    }
    val stubOffers = (0 until 30).map(i =>
      StubOffre(Some(s"o$i"), s"Offre $i", s"d$i", "M1", "R1", "D11"))
    val before = selectorThreads()
    (1 to 6).foreach { _ =>
      val stub = new StubOffresServer(stubOffers, Map("k1" -> "s-k1"))
      try {
        val n = spark.read.format("graft.sources.OffresSource")
          .option("endpoint", stub.base)
          .option("authUrl", stub.authUrl)
          .option("secrets", "k1:s-k1")
          .load().count()
        assert(n == 30L)
      } finally stub.stop()
    }
    val deadline = System.nanoTime() + 15000000000L
    var after = selectorThreads()
    while (after > before + 1 && System.nanoTime() < deadline) {
      Thread.sleep(250)
      after = selectorThreads()
    }
    assert(after - before <= 1,
      s"$before SelectorManager threads before six scans, $after after")
  }

  test("bad credentials fail fast with a clear auth error") {
    val e = intercept[RuntimeException] {
      HttpOffresApi.authenticate(s"$base/token", "k1", "wrong")
    }
    assert(e.getMessage.contains("auth failed"), e.getMessage)
  }
}
