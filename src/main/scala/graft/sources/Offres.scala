package graft.sources

import graft.functions.TextFns
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's data model and dataflow pipelines (SURVEY §1, §3 E2):
  * offre documents (nested JSON from the France Travail API shape),
  * the csv-tech / csv-tech-data / export-offres Logstash pipelines as
  * DataFrame transforms, keyed upsert, dead-letter capture, run metrics.
  */
object Offres {

  /** Explicit StructType for the offre fields the reference touches
    * (SURVEY §1 table) + the nested shapes (lieuTravail struct,
    * competences array-of-struct). Explicit — never inferred — so test
    * runs are deterministic; unknown API fields ride in `raw` if kept.
    */
  val offreSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("intitule", StringType),
    StructField("description", StringType),
    StructField("romeCode", StringType),
    StructField("codeNAF", StringType),
    StructField("qualificationCode", StringType),
    StructField("dateActualisation", StringType), // ISO-8601 from API
    StructField("lieuTravail", StructType(Seq(
      StructField("commune", StringType),
      StructField("libelle", StringType),
      StructField("latitude", DoubleType),
      StructField("longitude", DoubleType)))),
    StructField("competences", ArrayType(StructType(Seq(
      StructField("code", StringType),
      StructField("libelle", StringType)))))))

  /** Tech ROME codes (`csv-tech.conf:15-17`). */
  val techRomeCodes: Seq[String] = Seq("M1801", "M1802", "M1803", "M1805", "M1806")

  /** Parse raw JSON offre documents (PERMISSIVE): rows that fail to
    * parse or lack an id go to the dead-letter frame (S7) with the raw
    * payload and a reason — the reference's `erreurs` index semantics
    * (`ingestion-elasticsearch.py:105-123`): never silent loss.
    */
  def parseOffres(raw: DataFrame, jsonCol: String = "json")
      : (DataFrame, DataFrame) = {
    val parsed = raw.withColumn("offre", from_json(col(jsonCol), offreSchema))
    val valid = parsed
      .filter(col("offre").isNotNull && col("offre.id").isNotNull)
      .select(col("offre.*"))
      .withColumn("dateActualisation",
        to_timestamp(col("dateActualisation")))
    val dead = parsed
      .filter(col("offre").isNull || col("offre.id").isNull)
      .select(col(jsonCol).as("response"),
        lit("unparseable offre or missing id").as("message"))
    (valid, dead)
  }

  /** The csv-tech pipeline (E2, `csv-tech.conf`): `terms` ROME filter +
    * `_source` projection + lowercase/gsub chain. The intitule chain
    * omits the `\r` + whitespace-class steps the description chain has
    * (`csv-tech.conf:29-32` vs `:35-39`) — both normalize to the same
    * composed form here since `\s` subsumes `\r`.
    */
  def csvTechPipeline(offres: DataFrame, romeCodes: Seq[String] = techRomeCodes): DataFrame =
    offres
      .filter(col("romeCode").isin(romeCodes: _*))
      .select(col("id"), col("romeCode"),
        TextFns.normalizeText(col("intitule")).as("intitule"),
        TextFns.normalizeText(col("description")).as("description"))

  /** The full-export pipeline (`export-offres-csv.conf`): match_all +
    * projection + nested flatten `lieuTravail.commune` → `codecommune`.
    */
  def exportOffresPipeline(offres: DataFrame): DataFrame =
    offres.select(
      col("id"),
      col("intitule"),
      col("romeCode"),
      col("codeNAF"),
      col("qualificationCode"),
      col("dateActualisation"),
      col("lieuTravail.commune").as("codecommune"))

  /** F6/F11 gate query (q69): customer-derived offre documents with a
    * REAL nested `lieuTravail` struct + `competences` array, round-
    * tripped through the raw-JSON arrival shape (`to_json` →
    * [[parseOffres]], F11) and the full-export pipeline
    * ([[exportOffresPipeline]] — the `lieuTravail.commune` →
    * `codecommune` nested flatten, F6, `export-offres-csv.conf:14-16`).
    * Every output column is a closed-form function of `customer`, so
    * the DuckDB oracle re-derives the flattened export without ever
    * building the struct — a hash match proves the build-struct →
    * JSON-encode → permissive-parse → flatten chain is lossless.
    */
  def exportFlattenQuery(spark: SparkSession, dir: String): DataFrame = {
    val c = spark.read.parquet(s"$dir/customer.parquet")
    val offres = c.select(
      col("c_custkey").cast("string").as("id"),
      col("c_name").as("intitule"),
      concat(col("c_name"), lit(" "), col("c_mktsegment")).as("description"),
      col("c_mktsegment").as("romeCode"),
      concat(lit("NAF"), (col("c_custkey") % 10).cast("string")).as("codeNAF"),
      (col("c_custkey") % 5).cast("string").as("qualificationCode"),
      date_format(
        date_add(to_date(lit("2024-01-01")), (col("c_custkey") % 30).cast("int")),
        "yyyy-MM-dd'T'HH:mm:ss").as("dateActualisation"),
      struct(
        lpad((col("c_custkey") % 100).cast("string"), 5, "0").as("commune"),
        col("c_name").as("libelle"),
        lit(null).cast("double").as("latitude"),
        lit(null).cast("double").as("longitude")).as("lieuTravail"),
      array(struct(
        col("c_mktsegment").as("code"),
        col("c_name").as("libelle"))).as("competences"))
    val raw = offres.select(
      to_json(struct(offres.columns.map(col).toSeq: _*)).as("json"))
    val (valid, _) = parseOffres(raw)
    exportOffresPipeline(valid).orderBy(col("id"))
  }

  /** S11: ordered-field CSV sink, comma separator, no header
    * (`csv-tech.conf:45-53`).
    */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "false").option("sep", ",").csv(path)

  /** S6: `_id`-keyed idempotent upsert — keep the freshest row per id
    * (bulk-upsert semantics of `ingestion-elasticsearch.py:36-55`).
    * Same-date duplicates tiebreak on a hash of the whole tuple so the
    * surviving row is deterministic run-to-run.
    */
  def upsertById(offres: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("id"))
      .orderBy(col("dateActualisation").desc_nulls_last,
        xxhash64(struct(offres.columns.map(col).toSeq: _*)))
    offres.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** S8: full-refresh write (drop + recreate index ≡ overwrite). */
  def overwriteTable(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** S9 + F9 + F10: run-metrics row — start/end formatted
    * `dd/MM/yyyy HH:mm:ss`, duration `HH:MM` zero-padded, collected vs
    * expected counts (the reference's reconciliation invariant A3,
    * `ingestion-elasticsearch.py:291-313`).
    */
  def runMetrics(spark: SparkSession, startEpochSec: Long, endEpochSec: Long,
                 totalOffres: Long, totalCollecte: Long): DataFrame = {
    import spark.implicits._
    Seq((startEpochSec, endEpochSec, totalOffres, totalCollecte))
      .toDF("start_s", "end_s", "total_offres", "total_offres_collecte")
      .select(
        lit("ingestion terminée").as("message"),
        date_format(timestamp_seconds(col("start_s")), "dd/MM/yyyy HH:mm:ss").as("date_debut"),
        date_format(timestamp_seconds(col("end_s")), "dd/MM/yyyy HH:mm:ss").as("date_fin"),
        col("total_offres"),
        col("total_offres_collecte"),
        format_string("%02d:%02d",
          ((col("end_s") - col("start_s")) / 3600).cast("int"),
          (((col("end_s") - col("start_s")) % 3600) / 60).cast("int")).as("duree_totale"),
        (col("total_offres") === col("total_offres_collecte")).as("reconciled"))
  }
}
