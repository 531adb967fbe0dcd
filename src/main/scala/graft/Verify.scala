package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each registered query's result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = util.GraftSession()
    new java.io.File(outDir).mkdirs()
    // local iteration aid: SPARK_GRAFT_ONLY=i01_ingest_offres,d07_...
    // dumps just those queries (compare_oracle.py compares what's there)
    QueryRun.names().foreach { name =>
      try QueryRun.frame(spark, name, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release per-query persists + checkpoint blocks (LSH caches etc.)
      QueryRun.dropAllStorage(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
