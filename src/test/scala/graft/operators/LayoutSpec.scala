package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  /** Runs `f` with broadcast joins off, then puts the session's own
    * threshold back (an unset would leave Spark's 10 MB default, not the
    * session's, for every later spec).
    */
  private def withoutBroadcast[A](f: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try f finally spark.conf.set(key, prev)
  }

  test("bucketed tables join without any Exchange (co-located sort-merge)") {
    try withoutBroadcast {
      Layout.writeBucketed(Tables.orders(spark, sf), "orders_b", "o_orderkey", 4)
      Layout.writeBucketed(
        Tables.lineitem(spark, sf).select($"l_orderkey", $"l_quantity"),
        "lineitem_b", "l_orderkey", 4)
      val joined = Layout.bucketedJoin(spark, "orders_b", "lineitem_b",
        "o_orderkey", "l_orderkey")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), plan) // the whole point of bucketing
      assert(joined.count() == Tables.lineitem(spark, sf).count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("interleave16 places bits at even/odd positions (Z-curve identity)") {
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (3L, 0L), (0L, 3L),
      (65535L, 0L), (0L, 65535L), (65535L, 65535L)).toDF("a", "b")
      .select(Layout.interleave16($"a", $"b").as("z")).as[Long].collect().toSeq
    assert(rows == Seq(0L, 2L, 1L, 3L, 10L, 5L,
      0xAAAAAAAAL, 0x55555555L, 0xFFFFFFFFL), rows)
  }

  test("q44 partition-pruned read: PartitionFilters on the scan, rows intact") {
    val df = Layout.partitionedPrune(spark, sf)
    df.collect()
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString)
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(scan.contains("o_orderpriority"), scan)
    val expected = Tables.orders(spark, sf)
      .filter($"o_orderpriority" === "1-URGENT")
      .groupBy(date_trunc("month", $"o_orderdate")).count().count()
    assert(df.count() == expected)
  }

  test("q45 fixture join subtree is Exchange-free (co-located buckets)") {
    withoutBroadcast {
      Layout.writeBucketedFixtures(spark, sf)
      val bare = Layout.bucketedJoinBare(spark)
      bare.collect()
      val plan = bare.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), plan)
      assert(bare.count() == Tables.lineitem(spark, sf).count())
    }
  }

  test("q46 z-order scan: both predicates pushed to the parquet scan") {
    val df = Layout.zOrderScan(spark, sf)
    df.collect()
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString)
      .find(_.contains("PushedFilters")).getOrElse("")
    assert(scan.contains("o_custkey") && scan.contains("o_totalprice"), scan)
    // layout is invisible in the result
    val expected = Tables.orders(spark, sf)
      .filter($"o_custkey".between(100, 200) && $"o_totalprice".between(50000.0, 150000.0))
      .count()
    assert(df.count() == expected)
  }

  test("q49 compaction shrinks the file count without touching a row") {
    val out = Layout.compaction(spark, sf)
    out.collect()
    def count(tag: String) = Layout.parquetFileCount(
      graft.util.Scratch.resolve(spark, tag, sf))
    assert(count("q49_frag") == 64, "manufactured fragmentation")
    assert(count("q49_comp") <= 8, "compacted file count")
    assert(out.count() == Tables.documents(spark, sf).count())
  }

  test("q50 term lookup is pushed into the posting-table scan") {
    val df = TextAnalysis.invertedIndexQuery(spark, sf)
    df.collect()
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString)
      .find(_.contains("PushedFilters")).getOrElse("")
    assert(scan.contains("In(term") || scan.contains("EqualTo(term"), scan)
  }

  test("q56 dynamic overwrite rewrites only the targeted partition's files") {
    val out = Layout.partitionOverwrite(spark, sf)
    out.collect()
    val base = graft.util.Scratch.resolve(spark, "q56_dynpart", sf)
    // the non-urgent partitions' data files must be the ORIGINAL ones:
    // the second (dynamic-overwrite) write only touched 1-URGENT
    def files(p: String) = {
      val d = base.resolve(s"o_orderpriority=$p")
      val s = java.nio.file.Files.list(d)
      try s.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.toString.endsWith(".parquet")).map(_.getFileName.toString)
      finally s.close()
    }
    // every part file of one write JOB shares the job's UUID
    // (part-NNNNN-<uuid>-c000...): siblings still carrying a UUID
    // disjoint from the urgent partition's proves the second
    // (dynamic-overwrite) job never touched them — unlike an mtime
    // compare, this is immune to coarse filesystem timestamp ticks
    def jobUuids(names: Seq[String]) =
      names.map(_.split("-").drop(1).dropRight(1).mkString("-")).toSet
    val urgent = jobUuids(files("1-URGENT"))
    val sibling = jobUuids(files("3-MEDIUM"))
    assert(sibling.size == 1 && urgent.size == 1 && sibling != urgent,
      s"sibling partition rewritten: sibling=$sibling urgent=$urgent")
    // content: urgent doubled, others untouched
    val changed = out.filter($"o_orderpriority" === "1-URGENT").count()
    val expect = Tables.orders(spark, sf).filter($"o_orderpriority" === "1-URGENT").count()
    assert(changed == expect && out.count() == Tables.orders(spark, sf).count())
  }

  test("date-partitioned layout prunes partitions at plan time") {
    val dir = tempDir("graft-part").toString + "/events"
    Layout.writeDatePartitioned(Tables.events(spark, sf), "ts", dir)
    val all = spark.read.parquet(dir)
    val dates = all.select($"p_date").distinct().count()
    assert(dates > 1)

    val oneDay = Layout.readPartitionPruned(spark, dir, "2024-01-01")
    oneDay.collect()
    val scan = oneDay.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters"), scan)
    assert(scan.contains("p_date"), scan)
    // pruned scan reads strictly fewer files than the full table
    val prunedCount = oneDay.count()
    assert(prunedCount > 0 && prunedCount < all.count())
  }

  test("text and xml round trips recover the documents projection exactly") {
    val base = graft.Tables.documents(spark, sf)
      .select($"doc_id", $"lang", $"text")
      .orderBy($"doc_id").as[(Long, String, String)].collect().toSeq
    val txt = Layout.textRoundTrip(spark, sf)
      .as[(Long, String)].collect().toSeq
    assert(txt == base.map(r => (r._1, r._3)))
    val xml = Layout.xmlRoundTrip(spark, sf)
      .as[(Long, String, String)].collect().toSeq
    assert(xml == base)
    // the line parse splits on the FIRST tab only: tabs inside the
    // document text survive (the key contract of the raw-lines format)
    val parsed = Seq("7\ta\tb\tc").toDF("value")
      .select(
        substring_index($"value", "\t", 1).cast("long").as("doc_id"),
        regexp_replace($"value", "^[^\t]*\t", "").as("text"))
      .as[(Long, String)].head()
    assert(parsed == ((7L, "a\tb\tc")))
  }

  test("q61 text sink fails loudly on a contract-violating corpus") {
    // an embedded newline (would split one doc into two records) and a
    // null text (would null the concat and be dropped) must both abort
    // the write instead of silently round-tripping wrong data
    val tmp = tempDir("q61_guard").toString
    val newlineDoc = Seq((1L, "ok"), (2L, "bad\nline")).toDF("doc_id", "text")
    val ex1 = intercept[Exception] { Layout.writeTextLines(newlineDoc, tmp) }
    assert(exceptionChain(ex1).exists(_.getMessage != null) &&
      exceptionChain(ex1).exists(m => Option(m.getMessage).exists(_.contains("doc_id=2"))))
    val nullDoc = Seq((3L, "ok"), (4L, null: String)).toDF("doc_id", "text")
    val ex2 = intercept[Exception] { Layout.writeTextLines(nullDoc, tmp) }
    assert(exceptionChain(ex2).exists(m => Option(m.getMessage).exists(_.contains("doc_id=4"))))
  }

  private def exceptionChain(t: Throwable): List[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toList

  test("avro file + message round trips recover documents exactly, nulls included") {
    val base = graft.Tables.documents(spark, sf)
      .select($"doc_id", $"lang", $"text")
      .orderBy($"doc_id").as[(Long, String, String)].collect().toSeq
    val file = Layout.avroRoundTrip(spark, sf)
      .as[(Long, String, String)].collect().toSeq
    assert(file == base)
    val msg = Layout.avroMessages(spark, sf)
      .as[(Long, String, String)].collect().toSeq
    assert(msg == base)
    // null fields must survive the encode/decode union encoding —
    // the fixtures may be fully populated, so pin it directly
    import org.apache.spark.sql.avro.GraftAvroCodec
    val df = Seq((1L, Option.empty[String]), (2L, Some("fr")))
      .toDF("doc_id", "lang")
      .select(org.apache.spark.sql.functions.struct($"doc_id", $"lang").as("v"))
    val vType = df.schema("v").dataType
    val sch = GraftAvroCodec.writerSchemaFor(vType, "doc")
    val back = df.select(GraftAvroCodec.toAvroBinary($"v", sch).as("value"))
      .select(GraftAvroCodec.fromAvroBinary($"value", sch, vType).as("v"))
      .select($"v.doc_id", $"v.lang")
      .as[(Long, Option[String])].collect().toSeq.sortBy(_._1)
    assert(back == Seq((1L, None), (2L, Some("fr"))))
  }

  test("q68 stableIds matches the naive global row_number bit-for-bit") {
    // shuffled, gapped, duplicate-free keys across several partitions
    val keys = (1 to 500).map(i => (i * 7 % 501).toLong).distinct
    val df = spark.sparkContext.parallelize(keys, 6).toDF("k")
    val got = Layout.stableIds(df, "k", 5)
      .select($"k", $"rid").as[(Long, Long)].collect().sortBy(_._1)
    val want = keys.sorted.zipWithIndex.map { case (k, i) => (k, i + 1L) }
    assert(got.toSeq == want)
    // ids are a contiguous 1..n sequence (the contract downstream
    // array-indexed stores depend on)
    assert(got.map(_._2).sorted.toSeq == (1L to keys.size).toSeq)
  }

  test("q68 numbers rows with NO window and NO shuffle over the data") {
    val q = Layout.stableIdsQuery(spark, sf)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    // the single-task global row_number window is exactly what this
    // operator exists to avoid — and the per-partition-window variant
    // would still re-Exchange the corpus on _pid; the mid-based local
    // rank needs neither. The only Window left is the offsets cumsum
    // over <= `partitions` rows of count metadata.
    assert(!plan.contains("row_number"), plan)
    assert(plan.contains("monotonically_increasing_id"), plan)
    // offsets reach the data side by broadcast, never by shuffling it
    assert(plan.contains("BroadcastHashJoin"), plan)
    val windows = plan.linesIterator.filter(_.contains("Window (")).toList
    assert(windows.isEmpty || plan.contains("_n"), plan)
  }

  test("q76 per-key aggregate over the bucketed table has no Exchange below it") {
    Layout.writeBucketedFixtures(spark, sf)
    val df = Layout.bucketedAggBare(spark)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the only Exchange allowed is the final orderBy's range exchange,
    // which sits ABOVE the aggregate — the agg itself reads pre-hashed
    // buckets. Inspect the FINAL plan only (AQE echoes the initial
    // plan below it), from its first HashAggregate down.
    val finalPlan = plan.split("== Initial Plan ==")(0)
    val belowAgg = finalPlan.substring(finalPlan.indexOf("HashAggregate"))
    assert(!belowAgg.contains("Exchange"), plan)
    assert(plan.contains("Bucketed: true"), plan)
  }

  test("q77 join-driven restriction prunes fact partitions at RUNTIME (DPP)") {
    val out = graft.util.Scratch.dir(spark, "q77spec_dpp", sf).toString
    Tables.orders(spark, sf)
      .write.mode("overwrite").partitionBy("o_orderpriority").parquet(out)
    val df = Layout.dppAgg(spark.read.parquet(out), Layout.dppDim(spark, sf))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"), plan)
    // and the restriction is real: 2 of the 5 priorities survive
    assert(df.count() == 2)
  }
}
