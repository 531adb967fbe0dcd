package graft.sources

import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration
import java.util.concurrent.ConcurrentHashMap

import com.fasterxml.jackson.databind.ObjectMapper
import graft.sources.AdaptivePlanner.{FetchFilter, PageRange}

/** The France Travail offres API client, over `java.net.http` (JDK
  * built-in — zero new dependencies), and the only way
  * [[OffresSource]] reaches the API. Speaks the reference client's
  * protocol (`ingestion-francetravail/ingestion-elasticsearch.py:66-130`):
  *
  *  - `GET {endpoint}/offres/search?range=a-b[&region&departement&codeROME]`
  *    with `Authorization: Bearer <token>`; results in the `resultats`
  *    array; total row count in `Content-Range: offres a-b/total`
  *    (parse at `ingestion-elasticsearch.py:62-63,95-97`);
  *  - 200/206 = page OK, 204 = empty result set
  *    (`ingestion-elasticsearch.py:85-98`);
  *  - 429 → sleep `Retry-After` and retry, inside the one request path
  *    [[count]], [[fetch]] and [[referentiel]] share
  *    (`ingestion-elasticsearch.py:79-83`); after ten throttled answers
  *    to one request it throws [[RateLimitedException]];
  *  - OAuth2 client-credentials POST → `access_token`/`expires_in`
  *    (`ingestion-elasticsearch.py:10-25`) via [[HttpOffresApi.authenticate]].
  *
  * [[count]] and [[referentiel]] authenticate with the token
  * `planningToken` supplies per request; [[fetch]] takes its page's
  * token. Unexpected HTTP statuses throw: Spark task retry is the outer
  * guard, and the ingestion job's dead-letter capture records the
  * failure (S7).
  */
class HttpOffresApi(endpoint: String, planningToken: () => Option[String]) {

  import HttpOffresApi.{client, mapper}

  private def enc(s: String) = URLEncoder.encode(s, StandardCharsets.UTF_8)

  private def searchUri(filter: FetchFilter, range: String): URI = {
    val params = Seq("range" -> range) ++
      filter.region.map("region" -> _) ++
      filter.departement.map("departement" -> _) ++
      filter.codeRome.map("codeROME" -> _)
    URI.create(endpoint + "/offres/search?" +
      params.map { case (k, v) => s"$k=${enc(v)}" }.mkString("&"))
  }

  private def get(uri: URI, token: Option[String]): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(uri).GET().timeout(Duration.ofSeconds(60))
    token.foreach(t => b.header("Authorization", s"Bearer $t"))
    client.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  /** RFC 9110 allows both delta-seconds and an HTTP-date; fall back to
    * 1s if the header is absent or unparseable — never let a malformed
    * backoff hint bypass the 429 path.
    */
  private def retryAfterMs(res: HttpResponse[String]): Long = {
    val h = res.headers().firstValue("Retry-After")
    if (!h.isPresent) 1000L
    else {
      val v = h.get.trim
      // clamp to [0, 1 day]: a negative or absurd delta must neither
      // crash Thread.sleep nor park a task forever
      v.toLongOption.map(sec => math.min(math.max(sec, 0L), 86400L) * 1000L)
        .getOrElse {
          try {
            val at = java.time.ZonedDateTime.parse(v,
              java.time.format.DateTimeFormatter.RFC_1123_DATE_TIME)
            math.min(math.max(java.time.Duration.between(
              java.time.ZonedDateTime.now(at.getZone), at).toMillis, 0L), 86400000L)
          } catch { case _: java.time.format.DateTimeParseException => 1000L }
        }
    }
  }

  /** `Content-Range: offres a-b/total` → total. */
  private def parseTotal(res: HttpResponse[String]): Long = {
    val h = res.headers().firstValue("Content-Range")
    if (!h.isPresent)
      throw new RuntimeException(s"missing Content-Range header from $endpoint")
    h.get.split('/').last.trim.toLong
  }

  /** GET `uri`, sleeping `Retry-After` on each 429 (bounded): the one
    * rate-limit loop every request goes through.
    */
  private def getWithBackoff(uri: URI, token: Option[String]): HttpResponse[String] = {
    var res = get(uri, token)
    var retries = 0
    while (res.statusCode() == 429) {
      if (retries >= HttpOffresApi.MaxRetries) throw new RateLimitedException(retryAfterMs(res))
      retries += 1
      Thread.sleep(retryAfterMs(res))
      res = get(uri, token)
    }
    res
  }

  /** Count probe for a filter (A1/A2; `Content-Range` total). */
  def count(filter: FetchFilter): Long = {
    val res = getWithBackoff(searchUri(filter, "0-0"), planningToken())
    res.statusCode() match {
      case 204 => 0L
      case 200 | 206 => parseTotal(res)
      case s => throw new RuntimeException(
        s"count probe failed: HTTP $s ${res.body().take(200)}")
    }
  }

  /** One page of `filter`'s results, as raw JSON documents. */
  def fetch(filter: FetchFilter, range: PageRange, token: String): Seq[String] = {
    val res = getWithBackoff(searchUri(filter, s"${range.start}-${range.end}"), Some(token))
    res.statusCode() match {
      case 204 => Seq.empty
      case 200 | 206 =>
        val root = mapper.readTree(res.body())
        val arr = root.get("resultats")
        if (arr == null || arr.isNull) Seq.empty
        else (0 until arr.size()).map(i => arr.get(i).toString)
      case s => throw new RuntimeException(
        s"search failed: HTTP $s ${res.body().take(200)}")
    }
  }

  /** Référentiel dimension fetch (S2): regions/departements/metiers. */
  def referentiel(name: String): Seq[String] = {
    val res = getWithBackoff(URI.create(s"$endpoint/referentiel/$name"), planningToken())
    if (res.statusCode() != 200)
      throw new RuntimeException(s"referentiel $name failed: HTTP ${res.statusCode()}")
    val arr = mapper.readTree(res.body())
    (0 until arr.size()).map(i => arr.get(i).toString)
  }
}

object HttpOffresApi {
  /** Throttled answers one request sleeps through before it gives up. */
  private val MaxRetries = 10

  /** The one HTTP client of the JVM, shared by every instance and by
    * [[authenticate]]: a `HttpClient` owns a selector thread until it is
    * collected, so a client per instance or per token request keeps one
    * thread alive per API endpoint the JVM ever talked to.
    */
  private val client: HttpClient = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(10))
    .build()
  private val mapper = new ObjectMapper()

  /** OAuth2 client-credentials flow (`ingestion-elasticsearch.py:10-25`):
    * form POST → `(access_token, ttlMs)`. Plugged into [[TokenProvider]]
    * for expiry-aware caching and re-auth.
    */
  def authenticate(authUrl: String, key: String, secret: String): (String, Long) = {
    val form = Seq(
      "grant_type" -> "client_credentials",
      "client_id" -> key,
      "client_secret" -> secret,
      "scope" -> s"application_$key api_offresdemploiv2 o2dsoffre")
      .map { case (k, v) => s"$k=${URLEncoder.encode(v, StandardCharsets.UTF_8)}" }
      .mkString("&")
    val res = client.send(
      HttpRequest.newBuilder(URI.create(authUrl))
        .header("Content-Type", "application/x-www-form-urlencoded")
        .POST(HttpRequest.BodyPublishers.ofString(form))
        .build(),
      HttpResponse.BodyHandlers.ofString())
    if (res.statusCode() != 200)
      throw new RuntimeException(s"auth failed: HTTP ${res.statusCode()} ${res.body().take(200)}")
    val node = mapper.readTree(res.body())
    val ttlSec = Option(node.get("expires_in")).map(_.asLong).getOrElse(3600L)
    (node.get("access_token").asText, ttlSec * 1000L)
  }
}

/** Builds the client and (once per JVM) the credential slots for a
  * lower-cased option map, on the driver for planning and on each
  * executor for page fetches: nothing but the plain string options
  * crosses the boundary. The source needs `endpoint`, `authUrl` and
  * `secrets`; a map without all three fails here, at planning, naming
  * what is missing, instead of planning a scan whose every request
  * gets a 401.
  */
object OffresApiResolver {
  /** Per-JVM token providers keyed by (authUrl, secrets): a partition
    * reader outliving the token TTL re-authenticates through the
    * expiry-aware [[TokenProvider]] instead of failing on a frozen
    * token.
    */
  private val providers = new ConcurrentHashMap[String, TokenProvider]()

  private def required(opts: Map[String, String], key: String): String =
    opts.getOrElse(key.toLowerCase, {
      val missing = Seq("endpoint", "authUrl", "secrets").filterNot(k => opts.contains(k.toLowerCase))
      throw new IllegalArgumentException(
        s"OffresSource is missing the option(s) ${missing.mkString(", ")}: it needs " +
          "'endpoint' (the API base URL), 'authUrl' (the OAuth2 token URL) and " +
          "'secrets' (key:secret pairs separated by ',')")
    })

  /** The credential slots of `secrets` (`k1:s1,k2:s2`), one token each. */
  def tokenProvider(opts: Map[String, String]): TokenProvider = {
    val authUrl = required(opts, "authUrl")
    val secrets = required(opts, "secrets")
    providers.computeIfAbsent(s"$authUrl|$secrets", _ => {
      val creds = secrets.split(",").toSeq.zipWithIndex.map { case (p, i) =>
        p.split(":", 2) match {
          case Array(k, sec) => (k, sec)
          // the entry itself is not echoed: it may be a bare secret
          case _ => throw new IllegalArgumentException(
            s"option 'secrets' must be key:secret pairs separated by ','; entry ${i + 1} has no ':'")
        }
      }
      new TokenProvider(creds, (k, sec) => HttpOffresApi.authenticate(authUrl, k, sec))
    })
  }

  /** A client for `endpoint`: cheap to build, as every instance shares
    * the one `HttpClient`; the planning token is read per probe from the
    * cached expiry-aware provider.
    */
  def resolve(opts: Map[String, String]): HttpOffresApi = {
    val endpoint = required(opts, "endpoint")
    val provider = tokenProvider(opts)
    new HttpOffresApi(endpoint, () => Some(provider.token(0)))
  }
}
