package graft.jobs

import graft.SparkSpec
import graft.sources.{OffresSourceSpec, StubOffre, StubOffresServer, TokenProvider}

class IngestionJobSpec extends SparkSpec {

  /** Runs `body` against a stub serving `offers`, then stops it. */
  private def withStub[T](offers: Seq[StubOffre])(body: StubOffresServer => T): T = {
    val server = new StubOffresServer(offers, OffresSourceSpec.secrets)
    try body(server) finally server.stop()
  }

  test("E1 end-to-end: probe → adaptive scan → dedup → overwrite → metrics reconcile") {
    val out = tempDir("graft-ingest").toString
    withStub(OffresSourceSpec.offers) { server =>
      val opts = OffresSourceSpec.options(server)
      val r = IngestionJob.runWithOptions(spark, opts + ("secrets" -> "k1:s-k1,k2:s-k2"), out)
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
      val r2 = IngestionJob.runWithOptions(spark, opts + ("secrets" -> "k1:s-k1"), out)
      assert(r2.collected == 6200)
      assert(spark.read.parquet(s"$out/offres").count() == 6200)
      assert(spark.read.parquet(s"$out/ingestion").count() == 2) // metrics append per run
    }
  }

  test("overflowed plan leaves land in the dead-letter table, not just a log line") {
    // one region, one departement, one métier, 20 offers over a cap of
    // 10: saturated at every level, so the departement×métier leaf overflows
    val saturated = (0 until 20).map(i =>
      StubOffre(Some(i.toString), s"Offre $i", s"desc $i", "M", "R", "D"))
    val out = tempDir("graft-ovf").toString
    val r = withStub(saturated) { server =>
      IngestionJob.runWithOptions(spark,
        OffresSourceSpec.options(server) + ("maxPerFilter" -> "10"), out)
    }
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
