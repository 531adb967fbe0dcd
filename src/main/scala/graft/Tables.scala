package graft

import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet fixture tables (TESTDATA.md).
  *
  * All engine queries take a scale-factor directory and read the tables
  * they need; Catalyst pushes projection + predicates into the parquet
  * scan, so loading "the whole table" here is free at any scale — only
  * the referenced columns/row-groups are read.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "lineitem")
  /** The events fixture's `ts` physical type has varied across driver
    * fixture generations: TIMESTAMP(NANOS) (arrives as long nanos under
    * `spark.sql.legacy.parquet.nanosAsLong=true` — convert with integer
    * division, no double round-trip since ns-since-epoch exceeds 2^53)
    * and TIMESTAMP(MICROS, isAdjustedToUTC=false) (arrives as
    * TIMESTAMP_NTZ — value-preserving cast to TimestampType; sessions
    * run with UTC session timezone, matching the oracle's naive reads).
    * Normalize adaptively so every downstream operator sees one
    * TimestampType column regardless of fixture generation.
    */
  private[graft] def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampType => df
      case _ => df.withColumn("ts", expr("cast(ts as timestamp)"))
    }

  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(table(spark, dir, "events"))

  /** NOTE on input splits (measured r12): the fixture's tables are
    * single-row-group parquet files — physically unsplittable (row
    * groups don't split, whatever `maxPartitionBytes` says) — so every
    * scan arrives as ONE partition and pre-shuffle map stages run as
    * one task. A blanket `repartition(defaultParallelism)` here was
    * A/B'd same-JVM (r12) and REJECTED: warm, the
    * heavy text chains are shuffle-bound, not scan-task-bound (raw ≈
    * spread within noise), while composition gates that re-enter the
    * table many times (p06/s19/s23) pay 32-way scheduling on every
    * tiny stage — a net bench regression. The ONE place a single-task
    * stage genuinely dominated — the bounded all-pairs anchor's O(250²)
    * intersection stage — is spread explicitly at that operator
    * (`Dedup.jaccardExactPairs`, A/B'd 2.6× same-JVM).
    * At 100 TB tables arrive as thousands of splits and none of this
    * applies; writers there should still avoid monolithic single-group
    * files (see q49 compaction).
    */
  def documents(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
