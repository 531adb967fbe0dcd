package graft.sources

import java.util
import java.util.concurrent.ConcurrentHashMap

import com.fasterxml.jackson.databind.ObjectMapper
import graft.sources.AdaptivePlanner._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** HTTP 429 with Retry-After. */
class RateLimitedException(val retryAfterMs: Long)
  extends RuntimeException(s"rate limited, retry after ${retryAfterMs}ms")

/** S1: OAuth2 client-credentials token lifecycle. The reference
  * authenticates each key/secret pair once up front
  * (`ingestion-elasticsearch.py:10-25,239-242`); this provider adds
  * expiry-aware caching + re-auth, so long scans survive token expiry.
  * `auth` is the network call (client-credentials POST → access token +
  * TTL); tests inject a fake.
  */
class TokenProvider(credentials: Seq[(String, String)],
                    auth: (String, String) => (String, Long),
                    clock: () => Long = () => System.currentTimeMillis())
    extends Serializable {
  private case class Tok(value: String, expiresAtMs: Long)
  @transient private lazy val cache =
    new ConcurrentHashMap[Int, Tok]()

  /** Token for credential slot i (round-robin index, F13); re-auths when
    * within 60s of expiry.
    */
  def token(i: Int): String = {
    val slot = math.floorMod(i, credentials.size)
    val cached = cache.get(slot)
    if (cached != null && cached.expiresAtMs - clock() > 60000L) cached.value
    else {
      val (key, secret) = credentials(slot)
      val (tok, ttlMs) = auth(key, secret)
      cache.put(slot, Tok(tok, clock() + ttlMs))
      tok
    }
  }

  def tokens: Seq[String] = credentials.indices.map(token)
}

/** Driver-side record of plan leaves that could not be fully fetched
  * (the reference's skip-and-log overflow,
  * `ingestion-elasticsearch.py:209-211`). Consumers ([[graft.jobs.IngestionJob]])
  * drain this per endpoint into the dead-letter table so the loss is a
  * row in `erreurs`, not just a log line.
  */
object OverflowLog {
  // set-valued: a scan plans once, but each query over the source plans
  // its own scan, so the same overflow seen by two queries collapses
  private val log =
    new ConcurrentHashMap[String, ConcurrentHashMap[AdaptivePlanner.Overflow, Boolean]]()
  def record(apiKey: String, o: AdaptivePlanner.Overflow): Unit =
    log.computeIfAbsent(apiKey, _ => new ConcurrentHashMap()).put(o, true)
  /** Returns and clears the overflows recorded for `apiKey`. */
  def drain(apiKey: String): Seq[AdaptivePlanner.Overflow] = {
    val m = log.remove(apiKey)
    if (m == null) Seq.empty
    else {
      val it = m.keySet().iterator()
      val b = Seq.newBuilder[AdaptivePlanner.Overflow]
      while (it.hasNext) b += it.next()
      b.result()
    }
  }
}

/** DataSource V2 adaptive REST-search source (SURVEY §2.1 S1-S5, §4).
  *
  * Re-expresses the reference ingester (`ingestion-elasticsearch.py`) as
  * a Spark source:
  *  - planning (driver side): count-probe → recursive region →
  *    departement → departement×métier split → one `InputPartition` per
  *    page range ([[AdaptivePlanner]]); overflowed leaves are recorded,
  *    not silently dropped;
  *  - execution (task side): each [[OffresPartitionReader]] pulls its
  *    page with its round-robin-assigned credential slot (S1/F13);
  *    [[HttpOffresApi]] sleep-retries on rate limiting (S5); Spark task
  *    retry is the outer guard;
  *  - pushdown: `SupportsPushDownFilters` maps equality/IN predicates on
  *    region/departement/romeCode into the fetch filter (P4 — the
  *    reference pushes them into the query URL);
  *    `SupportsPushDownRequiredColumns` prunes the projected schema (P1,
  *    the `_source` list).
  *
  * The source reaches the API only through [[HttpOffresApi]], which
  * [[OffresApiResolver]] builds from the plain string options — on the
  * driver for planning probes, independently on each executor for page
  * fetches (nothing non-serializable crosses the boundary). Credentials
  * go through the OAuth2 client-credentials flow of [[TokenProvider]].
  * Options: `endpoint`, `authUrl` and `secrets` (required),
  * `maxPerFilter` (default 3149) and `pageSize` (default 150).
  *
  * Usage: `spark.read.format("graft.sources.OffresSource")
  *   .option("endpoint", "https://api...").option("authUrl", "https://...")
  *   .option("secrets", "key1:secret1,key2:secret2").load()`
  */
class OffresSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    OffresSource.flatSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new OffresTable(new CaseInsensitiveStringMap(properties))
}

object OffresSource {
  /** Flat projection of the offre fields the source serves (the nested
    * variants live in [[Offres.offreSchema]] post-parse).
    */
  val flatSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("intitule", StringType),
    StructField("description", StringType),
    StructField("romeCode", StringType),
    StructField("region", StringType),
    StructField("departement", StringType)))
}

class OffresTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = "offres_api"
  override def schema(): StructType = OffresSource.flatSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new OffresScanBuilder(opts)
}

class OffresScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushedFilterList: Array[Filter] = Array.empty
  private var requiredSchema: StructType = OffresSource.flatSchema
  private var regionEq: Option[String] = None
  private var departementEq: Option[String] = None
  private var romeIn: Option[Seq[String]] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // Claim AT MOST ONE predicate per column as pushed: the fetch
    // filter holds a single value per field, so a second predicate on
    // the same column must stay residual (Spark re-applies residuals;
    // claiming both while keeping one returns wrong rows). A pushed
    // departement bypasses the plan's region level, so a simultaneous
    // region predicate stays residual for the same reason.
    val hasDept = filters.exists {
      case EqualTo("departement", _: String) => true
      case _ => false
    }
    val pushed = Array.newBuilder[Filter]
    val residual = Array.newBuilder[Filter]
    filters.foreach {
      case f @ EqualTo("region", v: String) if !hasDept && regionEq.isEmpty =>
        regionEq = Some(v); pushed += f
      case f @ EqualTo("departement", v: String) if departementEq.isEmpty =>
        departementEq = Some(v); pushed += f
      case f @ EqualTo("romeCode", v: String) if romeIn.isEmpty =>
        romeIn = Some(Seq(v)); pushed += f
      case f @ In("romeCode", vs)
          if romeIn.isEmpty && vs.forall(_.isInstanceOf[String]) =>
        romeIn = Some(vs.map(_.toString)); pushed += f
      case f => residual += f
    }
    pushedFilterList = pushed.result()
    residual.result() // Spark re-applies anything we can't guarantee
  }
  override def pushedFilters(): Array[Filter] = pushedFilterList

  override def pruneColumns(required: StructType): Unit =
    requiredSchema = required

  override def build(): Scan =
    new OffresScan(options, requiredSchema, regionEq, departementEq, romeIn)
}

class OffresScan(options: CaseInsensitiveStringMap, schema: StructType,
                 regionEq: Option[String], departementEq: Option[String],
                 romeIn: Option[Seq[String]]) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this

  /** Plain-string option map: the serializable form the reader factory
    * ships to executors, and what [[OffresApiResolver]] resolves from
    * on either side (keys lowercase via CaseInsensitiveStringMap).
    */
  private val optMap: Map[String, String] = {
    val it = options.entrySet().iterator()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) { val e = it.next(); b += (e.getKey.toLowerCase -> e.getValue) }
    b.result()
  }
  private def maxPerFilter = Option(options.get("maxPerFilter")).map(_.toInt).getOrElse(3149)
  private def pageSize = Option(options.get("pageSize")).map(_.toInt).getOrElse(150)

  override def planInputPartitions(): Array[InputPartition] = partitions

  /** Driver-side adaptive planning, once per scan: Spark asks again from
    * the copy of the scan node that `RemoveRedundantProjects` makes, and
    * each count probe and référentiel call would otherwise go out twice.
    * Dims via référentiel (S2), then count-probe split; pushed equality
    * filters narrow the key space BEFORE probing — partition pruning at
    * plan time (P4). Partitions get the credential slots (S1/F13)
    * round-robin; every slot authenticates here, so bad credentials
    * fail the plan. Readers carry the SLOT, not a token — an executor
    * whose fetch outlives the token TTL re-authenticates its slot.
    */
  private lazy val partitions: Array[InputPartition] = {
    val api = OffresApiResolver.resolve(optMap)
    val slots = OffresApiResolver.tokenProvider(optMap).tokens.size
    val mapper = new ObjectMapper()
    def codes(name: String): Seq[String] =
      api.referentiel(name).map(j => mapper.readTree(j).get("code").asText)

    // each référentiel the plans need, fetched once: a pushed departement
    // skips the region level, a pushed romeCode the métier level
    val regions =
      if (departementEq.isDefined) Nil else regionEq.map(Seq(_)).getOrElse(codes("regions"))
    val departementRegion: Map[String, String] =
      if (departementEq.isDefined) Map.empty
      else api.referentiel("departements").map { j =>
        val n = mapper.readTree(j)
        n.get("code").asText -> n.get("region").get("code").asText
      }.toMap
    val metiers = if (romeIn.isDefined) Nil else codes("metiers")

    // pushed rome predicates fan the plan out per code, each a `base`
    // filter threaded through every probe
    val plans = romeIn.map(_.map(Option(_))).getOrElse(Seq(None)).map { rome =>
      AdaptivePlanner.plan(api.count, regions, departementRegion, metiers, maxPerFilter,
        pageSize, FetchFilter(departement = departementEq, codeRome = rome))
    }
    plans.flatMap(_.overflows).foreach { o =>
      // skip-and-log semantics (ingestion-elasticsearch.py:209-211):
      // recorded for dead-letter capture by the consumer + logged
      OverflowLog.record(optMap("endpoint"), o)
      System.err.println(s"[offres-source] OVERFLOW not fully fetchable: $o")
    }
    plans.flatMap(_.partitions).zipWithIndex.map { case (p, i) =>
      OffresInputPartition(p, i % slots): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new OffresReaderFactory(optMap, schema)
}

case class OffresInputPartition(part: FetchPartition, slot: Int) extends InputPartition

class OffresReaderFactory(opts: Map[String, String], schema: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new OffresPartitionReader(opts, schema,
      partition.asInstanceOf[OffresInputPartition])
}

/** Task-side page reader: fetches its range with its credential slot's
  * token from the per-JVM [[TokenProvider]], which re-authenticates
  * when the cached token nears expiry (S1). JSON decoding via Jackson;
  * missing fields become nulls (dead-lettered downstream).
  */
class OffresPartitionReader(opts: Map[String, String], schema: StructType,
                            partition: OffresInputPartition)
    extends PartitionReader[InternalRow] {
  private val mapper = new ObjectMapper()
  private var rows: Iterator[String] = _
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (rows == null) {
      val token = OffresApiResolver.tokenProvider(opts).token(partition.slot)
      rows = OffresApiResolver.resolve(opts)
        .fetch(partition.part.filter, partition.part.range, token).iterator
    }
    if (!rows.hasNext) return false
    val node = mapper.readTree(rows.next())
    def str(field: String): UTF8String = {
      val v = node.get(field)
      if (v == null || v.isNull) null else UTF8String.fromString(v.asText)
    }
    current = new GenericInternalRow(
      schema.fieldNames.map(f => str(f): Any))
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
