package graft.jobs

import graft.sources.{StubOffre, StubOffresServer}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-gate (CORRECTNESS) entries for the ingestion layer — the
  * reference's whole entry point E1 (`ingestion-elasticsearch.py:229-315`)
  * run end-to-end inside a registered query:
  *
  * The stub API ([[StubOffresServer]]) serves offers that are a pure
  * function of the `customer` fixture table, so the landed result is
  * ANSI-SQL-expressible and the DuckDB oracle hash-checks the ENTIRE
  * production path: OAuth2 client-credentials (S1), référentiel scan
  * (S2), adaptive count-probe planning + paged DSv2 scan over
  * `java.net.http` (S3/S4), the in-gate 429 + Retry-After backoff (S5),
  * dead-letter capture (S7), run metrics + count reconciliation
  * (S9/S12/A3).
  *
  * Offer derivation (mirrored verbatim in the oracle SQL): each
  * customer row becomes one offre with
  * `id = custkey`, `intitule = c_name`,
  * `description = c_name || ' (' || c_mktsegment || ')'`,
  * `romeCode = c_mktsegment`, `region = 'R' || custkey % 3`,
  * `departement = region || 'D' || custkey % 2`.
  * `maxPerFilter = max(400, n/5)` keeps every scale factor on the
  * interesting path: regions saturate and split into departements
  * (P5), departements fit and page directly — no overflow, so the scan
  * is exactly-once and the oracle is the full table.
  */
object IngestionGate {

  /** Stub-corpus cap: the gate feeds the HTTP stub only the customers
    * with `c_custkey <= fixtureCap` — a deterministic, oracle-
    * mirrorable slice (TPC-H custkeys are contiguous from 1) that
    * makes gate cost sf-INVARIANT above sf≈0.03: the ingestion gates
    * prove the protocol path (OAuth, paging, backoff, dead-letter,
    * reconciliation), and protocol coverage does not improve with a
    * bigger fixture — it just scales driver-side stub cost linearly.
    */
  val fixtureCap = 5000L

  private val secrets = Map("k1" -> "s-k1", "k2" -> "s-k2")
  private val secretsOpt = "k1:s-k1,k2:s-k2"

  /** Customer-derived offers; `malformedEvery` > 0 serves every n-th
    * customer (custkey % n == 0) with a null id — the dead-letter rows
    * for i02.
    */
  private def fixtureOffers(spark: SparkSession, dir: String,
                            malformedEvery: Int): Seq[StubOffre] =
    spark.read.parquet(s"$dir/customer.parquet")
      .filter(col("c_custkey") <= fixtureCap)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
      .collect()
      .map { r =>
        val k = r.getLong(0)
        val name = r.getString(1)
        val seg = r.getString(2)
        val region = s"R${k % 3}"
        StubOffre(
          id = if (malformedEvery > 0 && k % malformedEvery == 0) None
               else Some(k.toString),
          intitule = name,
          description = s"$name ($seg)",
          romeCode = seg,
          region = region,
          departement = s"${region}D${k % 2}")
      }.toSeq

  private def scanOptions(server: StubOffresServer, n: Int): Map[String, String] =
    Map(
      "endpoint" -> server.base,
      "authUrl" -> server.authUrl,
      "secrets" -> secretsOpt,
      "maxPerFilter" -> math.max(400, n / 5).toString,
      "pageSize" -> "150")

  /** i01: the full production ingestion scan, landed to parquet and
    * read back (the server must outlive the scan, so the result is
    * materialized before it stops). The landing dir is the session's
    * [[graft.util.Scratch]] dir for i01: wiped per call, removed at
    * exit. Oracle = the same column derivation over `customer` in SQL.
    */
  def ingestOffres(spark: SparkSession, dir: String): DataFrame = {
    val offers = fixtureOffers(spark, dir, malformedEvery = 0)
    val server = new StubOffresServer(offers, secrets)
    try {
      val out = graft.util.Scratch.dir(spark, "i01", dir).toString
      spark.read.format("graft.sources.OffresSource")
        .options(scanOptions(server, offers.size))
        .load()
        .write.mode("overwrite").parquet(s"$out/offres")
      spark.read.parquet(s"$out/offres")
    } finally server.stop()
  }

  /** i03: the P6 zero-result guard end-to-end — a pushed region
    * predicate no offer matches (regions are R0-R2; we ask for R9): the
    * pushdown narrows the plan to that single region (P4), the count
    * probe returns 0, and the planner short-circuits to ZERO input
    * partitions ([[graft.sources.AdaptivePlanner.pages]] /
    * skip-empty-region) — the scan returns an empty relation without
    * fetching a single page. Registered as a 1-row count so the gate
    * hash-checks the emptiness exactly (reference behavior:
    * `ingestion-elasticsearch.py:90-93,155` — empty filter combos are
    * skipped, not paged).
    */
  def ingestEmptyFilter(spark: SparkSession, dir: String): DataFrame = {
    val offers = fixtureOffers(spark, dir, malformedEvery = 0)
    val server = new StubOffresServer(offers, secrets)
    try {
      import spark.implicits._
      val scanned = spark.read.format("graft.sources.OffresSource")
        .options(scanOptions(server, offers.size))
        .load()
        .filter(col("region") === "R9") // pushed (P4); no offer matches
      Seq(("empty_scan_rows", scanned.count())).toDF("metric", "value")
    } finally server.stop()
  }

  /** i02: the full [[IngestionJob]] lifecycle with malformed (null-id)
    * offers in the stream — landed offres, dead-letter rows, count
    * reconciliation — reduced to its integer-exact invariants. One row
    * per metric; `accounted = 1` iff collected + dead_letter ==
    * expected (the A3 reconciliation extended with the dead-letter
    * ledger: nothing lost, nothing duplicated).
    */
  def ingestReconciliation(spark: SparkSession, dir: String): DataFrame = {
    val offers = fixtureOffers(spark, dir, malformedEvery = 50)
    val server = new StubOffresServer(offers, secrets)
    val res =
      try {
        val out = graft.util.Scratch.dir(spark, "i02", dir).toString
        IngestionJob.runWithOptions(spark, scanOptions(server, offers.size), out)
      } finally server.stop()
    import spark.implicits._
    Seq(
      ("collected", res.collected),
      ("dead_letter", res.erreurs),
      ("expected", res.totalExpected),
      ("accounted",
        if (res.collected + res.erreurs == res.totalExpected) 1L else 0L))
      .toDF("metric", "value")
      .orderBy(col("metric"))
  }
}
