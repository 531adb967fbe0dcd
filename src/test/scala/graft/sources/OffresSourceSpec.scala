package graft.sources

import graft.SparkSpec
import org.scalatest.BeforeAndAfterAll

/** France-Travail-shaped corpus served by [[StubOffresServer]]: R1 small
  * (direct fetch), R2 saturated (→ departements; D22 saturated → métier
  * split). Exercises the full adaptive plan + pagination over HTTP.
  */
object OffresSourceSpec {
  val secrets: Map[String, String] = Map("k1" -> "s-k1", "k2" -> "s-k2", "k3" -> "s-k3")

  val offers: Seq[StubOffre] = {
    def o(id: Int, region: String, departement: String, rome: String) =
      StubOffre(Some(id.toString), s"Offre $id", s"desc $id", rome, region, departement)
    (0 until 200).map(i => o(i, "R1", "D11", if (i % 2 == 0) "M1" else "M2")) ++
      (0 until 2000).map(i => o(1000 + i, "R2", "D21", if (i % 2 == 0) "M1" else "M2")) ++
      (0 until 4000).map(i => o(10000 + i, "R2", "D22", if (i % 2 == 0) "M1" else "M2"))
  }

  def options(server: StubOffresServer): Map[String, String] = Map(
    "endpoint" -> server.base, "authUrl" -> server.authUrl,
    "secrets" -> secrets.map { case (k, v) => s"$k:$v" }.mkString(","))
}

class OffresSourceSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private var server: StubOffresServer = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    server = new StubOffresServer(OffresSourceSpec.offers, OffresSourceSpec.secrets)
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop()
    super.afterAll()
  }

  private def read = spark.read.format("graft.sources.OffresSource")
    .options(OffresSourceSpec.options(server))

  /** Messages along a throwable's cause chain. */
  private def chain(t: Throwable): List[String] =
    if (t == null) Nil else String.valueOf(t.getMessage) :: chain(t.getCause)

  test("adaptive scan reads every offer exactly once through the split hierarchy") {
    val df = read.load()
    val ids = df.select($"id").as[String].collect()
    assert(ids.length == 6200)                       // 200 + 2000 + 4000
    assert(ids.distinct.length == 6200)              // no dup, no loss (A3)
  }

  test("rome pushdown narrows the plan and the scan (P4)") {
    val df = read.load().filter($"romeCode" === "M1")
      .select($"id", $"romeCode")
    val rows = df.as[(String, String)].collect()
    assert(rows.length == 3100 && rows.forall(_._2 == "M1"))
    // plan shows the filter pushed into the source
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("romeCode"), plan)
  }

  test("departement pushdown bypasses the region level") {
    val df = read.load().filter($"departement" === "D21")
    assert(df.count() == 2000)
  }

  test("conjunctions of predicates on one column stay correct (one pushed, rest residual)") {
    // equality + IN on romeCode: only M1 satisfies both
    val both = read.load()
      .filter($"romeCode" === "M1" && $"romeCode".isin("M1", "M2"))
    assert(both.count() == 3100)
    assert(both.select($"romeCode").distinct().as[String].collect().toSeq == Seq("M1"))
    // region + departement where the departement is NOT in that region →
    // must be empty (region stays residual and filters the D21 rows out)
    val cross = read.load()
      .filter($"region" === "R1" && $"departement" === "D21")
    assert(cross.count() == 0)
  }

  test("a source without `endpoint` fails with a clear message") {
    val e = intercept[Exception] {
      spark.read.format("graft.sources.OffresSource")
        .options(OffresSourceSpec.options(server) - "endpoint").load().count()
    }
    assert(chain(e).exists(m => m.contains("missing the option(s) endpoint")),
      chain(e).toString)
  }

  test("incomplete credentials fail at planning, naming the option") {
    val noAuth = intercept[Exception] {
      spark.read.format("graft.sources.OffresSource")
        .option("endpoint", server.base).load().count()
    }
    assert(chain(noAuth).exists(_.contains("missing the option(s) authUrl, secrets")),
      chain(noAuth).toString)
    val badPair = intercept[Exception] {
      read.option("secrets", "k1:s-k1,k2").load().count()
    }
    assert(chain(badPair).exists(m =>
      m.contains("option 'secrets'") && m.contains("entry 2 has no ':'")),
      chain(badPair).toString)
  }

  test("column pruning reaches the reader schema (P1)") {
    val df = read.load().select($"id")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(!scan.contains("description"), scan)
  }
}
