package graft

class QueryRunSpec extends SparkSpec {
  test("names trims the list, drops empty entries and keeps map order") {
    val got = QueryRun.names(Some(" q02_filter_project ,q01_pricing_summary,"))
    val expected = SparkEntry.queries.keys.toSeq
      .filter(Set("q01_pricing_summary", "q02_filter_project"))
    assert(got == expected && got.size == 2)
  }

  test("names throws on an unknown name, naming it") {
    val e = intercept[IllegalArgumentException](QueryRun.names(Some("q02_filter_projet")))
    assert(e.getMessage.contains("q02_filter_projet"))
  }

  test("timed keeps every rep of a query that throws, marked failed with rows -1") {
    val missing = tempDir("graft-queryrun").resolve("no_such_sf").toString
    val reps = QueryRun.timed(spark, "q02_filter_project", missing, reps = 3)
    assert(reps.size == 3)
    assert(reps.forall(r => r.failed && r.rows == -1L && r.sec > 0), reps)
  }
}
