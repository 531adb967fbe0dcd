package perfbench

import graft.functions.{HashFns, TextFns, VectorFns}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `functions.*`: throughput of the codegen kernels over frames the
  * benchmark generates from the seed, plus the ALU calibration probe
  * (the same probe as `graft.Bench`'s `calib_sec`), as the host-drift
  * reference. Traced run only.
  */
object Kernels {
  private val TextRows = 100000
  private val VecRows = 50000

  private def medianSeconds(reps: Int)(f: => Unit): Double = {
    f // untimed: JIT and codegen
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }.sorted
    ts(ts.size / 2)
  }

  def probe(spark: SparkSession, a: Args): Map[String, Double] = {
    import spark.implicits._
    val rng = new scala.util.Random(a.seed)
    val words = Seq("Données", "&nbsp", "«spark»", "ingénieur", "H/F", "✔", "cloud,", "data;",
      "Python!", "\r", "(senior)", "réseau", "➡", "analyste", "projet.", "java")
    val texts = (0 until TextRows).map(_ => Seq.fill(8 + rng.nextInt(24))(words(rng.nextInt(words.size))).mkString(" "))
      .toDF("t").repartition(a.cores).cache()
    texts.count()
    val dim = 64
    val vecs = (0 until VecRows).map(_ => Array.fill(dim)(rng.nextInt(1 << 21).toLong - (1L << 20)))
      .toDF("v").repartition(a.cores).cache()
    vecs.count()
    val cents = Array.fill(16, dim)(rng.nextInt(1 << 21).toLong - (1L << 20))

    def run(df: DataFrame): Unit = { df.collect(); () }
    val norm = medianSeconds(3)(run(texts.select(sum(length(TextFns.normalizeText(col("t")))))))
    val minhash = medianSeconds(3)(run(texts.select(HashFns.portableMinhashSig(
      HashFns.sortedPortableShingleHashSet(TextFns.normalizeText(col("t")), 5), 32).as("s"))
      .select(expr("bit_xor(s[0])"))))
    val ivf = medianSeconds(3)(run(vecs.select(
      VectorFns.centroidSqDistsI64(col("v"), cents).as("d"), VectorFns.dotI64(col("v"), col("v")).as("n"))
      .select(expr("bit_xor(d[0])"), expr("bit_xor(n)"))))
    val calib = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0, 50000000L, 1, a.cores).selectExpr("bit_xor(xxhash64(id))").collect()
      (System.nanoTime() - t0) / 1e9
    }.min
    texts.unpersist(true); vecs.unpersist(true)
    Map("functions.normalize_rows_per_s" -> TextRows / norm,
      "functions.minhash_rows_per_s" -> TextRows / minhash,
      "functions.ivf_rows_per_s" -> VecRows / ivf,
      "functions.calib_s" -> calib)
  }
}
