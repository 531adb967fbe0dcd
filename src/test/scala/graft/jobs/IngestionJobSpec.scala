package graft.jobs

import graft.SparkSpec
import graft.sources.{FakeOffresApi, OffresApiRegistry, TokenProvider}

class IngestionJobSpec extends SparkSpec {

  OffresApiRegistry.register("fake-job", FakeOffresApi)

  test("E1 end-to-end: probe → adaptive scan → dedup → overwrite → metrics reconcile") {
    val out = tempDir("graft-ingest").toString
    val r = IngestionJob.run(spark, "fake-job", Seq("tokA", "tokB"), out)
    assert(r.totalExpected == 6200)
    assert(r.collected == 6200)
    assert(r.erreurs == 0)
    assert(r.reconciled)

    // tables exist with the right shapes
    assert(spark.read.parquet(s"$out/offres").count() == 6200)
    val metrics = spark.read.parquet(s"$out/ingestion")
    assert(metrics.columns.toSet.contains("duree_totale"))
    assert(metrics.count() == 1)

    // re-run = full refresh, not append (S8)
    val r2 = IngestionJob.run(spark, "fake-job", Seq("tokA"), out)
    assert(r2.collected == 6200)
    assert(spark.read.parquet(s"$out/offres").count() == 6200)
    assert(spark.read.parquet(s"$out/ingestion").count() == 2) // metrics append per run
  }

  test("overflowed plan leaves land in the dead-letter table, not just a log line") {
    object SaturatedApi extends graft.sources.OffresApi {
      import graft.sources.AdaptivePlanner._
      override def count(filter: FetchFilter): Long = 10000L // saturated everywhere
      override def fetch(filter: FetchFilter, range: PageRange, token: String) = Seq.empty
      override def referentiel(name: String): Seq[String] = name match {
        case "regions" => Seq("""{"code":"R"}""")
        case "departements" => Seq("""{"code":"D","region":{"code":"R"}}""")
        case "metiers" => Seq("""{"code":"M"}""")
        case _ => Seq.empty
      }
    }
    OffresApiRegistry.register("saturated", SaturatedApi)
    val out = tempDir("graft-ovf").toString
    val r = IngestionJob.run(spark, "saturated", Seq("t"), out)
    assert(r.collected == 0 && !r.reconciled)
    val err = spark.read.parquet(s"$out/erreurs")
    assert(err.filter(org.apache.spark.sql.functions.col("message")
      .contains("overflow")).count() == 1)
  }

  test("TokenProvider: caches until near expiry, re-auths after, round-robins slots") {
    var now = 0L
    var authCalls = 0
    val tp = new TokenProvider(
      Seq(("k1", "s1"), ("k2", "s2")),
      auth = (k, _) => { authCalls += 1; (s"tok-$k-$authCalls", 10 * 60 * 1000L) },
      clock = () => now)
    assert(tp.token(0) == "tok-k1-1")
    assert(tp.token(0) == "tok-k1-1") // cached
    assert(tp.token(2) == "tok-k1-1") // wraps to slot 0 (F13)
    assert(tp.token(1) == "tok-k2-2")
    now = 9 * 60 * 1000L + 1 // within 60s of expiry → refresh
    assert(tp.token(0) == "tok-k1-3")
    assert(authCalls == 3)
  }
}
