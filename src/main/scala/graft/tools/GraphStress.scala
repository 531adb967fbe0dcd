package graft.tools

import java.nio.file.{Files, Paths}

import graft.{Bench, SparkEntry, Tables}
import graft.util.GraftSession
import org.apache.spark.sql.functions._

/** Scale-stress harness for the GRAPH/MINING kernels (q82 PageRank,
  * q83 BFS, q87 degree-oriented triangles, q90 association rules),
  * which read orders/lineitem rather than the documents/embeddings
  * corpus [[ScaleStress]] enlarges.
  *
  * Materializes `factor`× copies of orders + lineitem with disjoint
  * key offsets (every copy is an isolated component, so node, edge,
  * wedge, and basket volume all scale by exactly `factor` — a clean
  * scaling point for the O(√m)-bounded triangle enumeration and the
  * iteration-per-hop traversals), symlinks every other table, and
  * times the four kernels with the [[Bench]] two-rep min contract.
  *
  * Usage: `runMain graft.tools.GraphStress [factor] [outDir]`
  * (defaults 10, /tmp/graft_graph10; base from SPARK_GRAFT_SF_DIR or
  * sf0.1). Prints one JSON line, Bench-shaped.
  */
object GraphStress {
  def main(args: Array[String]): Unit = {
    val factor = if (args.length > 0) args(0).toInt else 10
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_graph10"
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    val cpus = spark.sparkContext.defaultParallelism

    Files.createDirectories(Paths.get(outDir))
    // key offset per copy: far above any sf0.1 orderkey/custkey/
    // partkey/suppkey, so copies are disjoint components
    val off = 100000000L

    if (!Files.exists(Paths.get(s"$outDir/orders.parquet"))) {
      val o = Tables.orders(spark, base)
      (0 until factor).map { i =>
        o.withColumn("o_orderkey", col("o_orderkey") + lit(i * off))
          .withColumn("o_custkey", col("o_custkey") + lit(i * off))
      }.reduce(_.unionByName(_))
        .repartition(cpus)
        .write.mode("overwrite").parquet(s"$outDir/orders.parquet")

      val l = Tables.lineitem(spark, base)
      (0 until factor).map { i =>
        l.withColumn("l_orderkey", col("l_orderkey") + lit(i * off))
          .withColumn("l_partkey", col("l_partkey") + lit(i * off))
          .withColumn("l_suppkey", col("l_suppkey") + lit(i * off))
      }.reduce(_.unionByName(_))
        .repartition(cpus)
        .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")

      Tables.names.filterNot(n => n == "orders" || n == "lineitem")
        .foreach { t =>
          val link = Paths.get(s"$outDir/$t.parquet")
          if (!Files.exists(link))
            Files.createSymbolicLink(link, Paths.get(s"$base/$t.parquet"))
        }
    }

    val subset = Seq("q82_pagerank", "q83_bfs_hops",
      "q87_triangle_count", "q90_assoc_rules")

    // untimed small-fixture warmup (JIT/codegen), then two timed reps
    // with storage drops between, min reported — the Bench contract
    subset.foreach { n =>
      try SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
    }
    Bench.dropAllStorage(spark)

    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    val results = subset.map { name =>
      var rows = -1L
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        rows = try SparkEntry.queries(name)(spark, outDir).count()
               catch { case e: Throwable =>
                 System.err.println(s"[graph] $name FAILED: ${e.getMessage}"); -1L }
        val dt = (System.nanoTime() - t0) / 1e9
        Bench.dropAllStorage(spark)
        dt
      }
      val dt = times.min
      println(f"""[graph] $name rows=$rows sec=$dt%.2f""")
      name -> (dt, rows)
    }
    val qs = results.map { case (k, (v, r)) => s""""$k":{"sec":$v,"rows":$r}""" }
      .mkString("{", ",", "}")
    val total = results.map(_._2._1).sum
    println(s"""{"metric":"graph${factor}x_total","value":$total,"unit":"sec","queries":$qs,"base":"$base"}""")
    spark.stop()
  }
}
