package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class OffresSpec extends SparkSpec {
  import spark.implicits._

  private val goodJson =
    """{"id":"42","intitule":"Développeur JAVA (H/F)","description":"Venez coder!\r&nbsp;Super équipe.","romeCode":"M1805","codeNAF":"62.01Z","qualificationCode":"9","dateActualisation":"2024-03-01T10:15:30Z","lieuTravail":{"commune":"75101","libelle":"Paris","latitude":48.86,"longitude":2.35},"competences":[{"code":"C1","libelle":"Java"}]}"""

  test("parseOffres: valid rows parse with nested fields; garbage dead-letters") {
    val raw = Seq(goodJson, """{"intitule":"no id"}""", "not json at all").toDF("json")
    val (valid, dead) = Offres.parseOffres(raw)
    assert(valid.count() == 1 && dead.count() == 2)
    val row = valid.head()
    assert(row.getAs[String]("id") == "42")
    assert(valid.select($"lieuTravail.commune").as[String].head() == "75101")
    assert(valid.select($"competences"(0)("libelle")).as[String].head() == "Java")
    assert(valid.schema("dateActualisation").dataType.typeName == "timestamp")
  }

  test("csvTechPipeline: ROME filter + projection + normalization chain (E2)") {
    val (valid, _) = Offres.parseOffres(Seq(
      goodJson,
      goodJson.replace(""""romeCode":"M1805"""", """"romeCode":"A9999"""").replace(""""id":"42"""", """"id":"43"""")
    ).toDF("json"))
    val out = Offres.csvTechPipeline(valid)
    assert(out.count() == 1) // A9999 filtered by the terms predicate
    val r = out.head()
    assert(r.getAs[String]("intitule") == "développeur java h f")
    assert(r.getAs[String]("description") == "venez coder super équipe")
  }

  test("exportOffresPipeline flattens lieuTravail.commune to codecommune (F6)") {
    val (valid, _) = Offres.parseOffres(Seq(goodJson).toDF("json"))
    val out = Offres.exportOffresPipeline(valid)
    assert(out.columns.contains("codecommune"))
    assert(out.select($"codecommune").as[String].head() == "75101")
  }

  test("upsertById keeps the freshest row per id (S6)") {
    val df = Seq(
      ("1", "old", "2024-01-01T00:00:00Z"),
      ("1", "new", "2024-06-01T00:00:00Z"),
      ("2", "only", "2024-01-01T00:00:00Z"))
      .toDF("id", "intitule", "d")
      .withColumn("dateActualisation", to_timestamp($"d")).drop("d")
    val up = Offres.upsertById(df)
    assert(up.count() == 2)
    assert(up.filter($"id" === "1").select($"intitule").as[String].head() == "new")
  }

  test("runMetrics formats dates dd/MM/yyyy HH:mm:ss and duration HH:MM (F9/F10)") {
    val start = java.time.Instant.parse("2024-03-01T08:00:00Z").getEpochSecond
    val end = start + 3 * 3600 + 7 * 60
    val m = Offres.runMetrics(spark, start, end, 100L, 100L).head()
    assert(m.getAs[String]("date_debut") == "01/03/2024 08:00:00")
    assert(m.getAs[String]("duree_totale") == "03:07")
    assert(m.getAs[Boolean]("reconciled"))
  }

  test("NDJSON roundtrip: bulk-format lines read back through the explicit schema") {
    val dir = tempDir("graftjson").toString + "/offres"
    val lines = Seq(goodJson,
      goodJson.replace(""""id":"42"""", """"id":"43""""))
    Seq(lines: _*).toDF("value").coalesce(1).write.text(dir)
    // schema-directed read — no inference nondeterminism
    val back = spark.read.schema(Offres.offreSchema).json(dir)
    assert(back.count() == 2)
    assert(back.select($"lieuTravail.commune").distinct().as[String].head() == "75101")
    // PERMISSIVE mode: a malformed line becomes an all-null row, not a crash
    Seq("{broken").toDF("value").coalesce(1).write.text(dir + "_bad")
    val bad = spark.read.schema(Offres.offreSchema).json(dir + "_bad")
    assert(bad.count() == 1 && bad.filter($"id".isNull).count() == 1)
  }

  test("q69 export flatten: JSON roundtrip + nested flatten is lossless (F6/F11)") {
    val out = Offres.exportFlattenQuery(spark, "/root/testdata/sf0.001")
    assert(out.columns.toSeq == Seq("id", "intitule", "romeCode", "codeNAF",
      "qualificationCode", "dateActualisation", "codecommune"))
    val n = spark.read
      .parquet("/root/testdata/sf0.001/customer.parquet").count()
    assert(out.count() == n)
    // closed-form spot check: custkey 7 → commune zero-padded to 5,
    // NAF/qualification mod-derived, date = 2024-01-01 + 7
    val r = out.filter($"id" === "7").head()
    assert(r.getAs[String]("codecommune") == "00007")
    assert(r.getAs[String]("codeNAF") == "NAF7")
    assert(r.getAs[String]("qualificationCode") == "2")
    assert(r.getAs[java.sql.Timestamp]("dateActualisation").toInstant
      == java.time.Instant.parse("2024-01-08T00:00:00Z"))
  }

  test("CSV sink: ordered fields, no header, comma sep (S11)") {
    val dir = tempDir("graftcsv").toString + "/out"
    val (valid, _) = Offres.parseOffres(Seq(goodJson).toDF("json"))
    Offres.writeCsv(Offres.csvTechPipeline(valid), dir)
    val lines = spark.read.text(dir).as[String].collect()
    assert(lines.length == 1)
    assert(lines.head.startsWith("42,M1805,développeur java h f,"))
  }
}
