package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double, props: String)

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${10 + minute / 60}%02d:${minute % 60}%02d:00")

  private val events = Seq(
    Ev(1, ts(0), 1, "click", 1.0, "{}"),
    Ev(2, ts(10), 1, "click", 2.0, "{}"),
    Ev(3, ts(65), 1, "view", 3.0, "{}"),   // next hour bucket
    Ev(4, ts(5), 2, "click", 4.0, "{}"),
    Ev(5, ts(50), 2, "view", 5.0, "{}"),   // 45min gap → new session for u2
  )

  test("streaming hourly windowed counts equal the batch transform on the same data") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(events: _*)
    val q = Streams.hourlyTypeCountsStream(mem.toDF())
      .writeStream.format("memory").queryName("hourly_out")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("hourly_out")
      .select($"hour_start", $"event_type", $"n", $"sum_value")
      .collect().toSet
    val batch = Streams.hourlyTypeCounts(events.toDF())
      .select($"hour_start", $"event_type", $"n", $"sum_value")
      .collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("dropDuplicatesWithinWatermark removes re-delivered event ids (streaming S6)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(events: _*)
    mem.addData(events.take(3): _*) // redelivery
    val q = Streams.dedupStream(mem.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("dedup_out").select($"event_id").as[Long].collect().toSeq
    assert(got.sorted == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("session windows: 30-minute gap splits sessions per user") {
    val stats = Streams.userSessionStatsOf(events.toDF())
    val byUser = stats.collect().map(r =>
      r.getAs[Long]("user_id") -> (r.getAs[Long]("n_sessions"), r.getAs[Long]("n_events"))).toMap
    assert(byUser(1L) == (2L, 3L)) // 0,10 | 65
    assert(byUser(2L) == (2L, 2L)) // 5 | 50
  }

  test("flatMapGroupsWithState sessionizer closes sessions as the watermark advances") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val in = mem.toDF().withWatermark("ts", "0 seconds")
      .selectExpr("user_id", "ts", "value")
      .as[Streams.SessionInput]
    val q = Streams.sessionizeWithState(in, gapMinutes = 30)
      .writeStream.format("memory").queryName("state_sessions")
      .outputMode("append").start()
    try {
      mem.addData(events: _*)
      q.processAllAvailable()
      // sentinel far in the future pushes the watermark past every gap
      mem.addData(Ev(99, Timestamp.valueOf("2024-01-02 00:00:00"), 999, "x", 0.0, "{}"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("state_sessions")
      .filter($"user_id" < 100)
      .select($"user_id", $"n_events", $"sum_value")
      .as[(Long, Long, Double)].collect().toSet
    // u1: sessions {1,2} (values 1+2) and {3}; u2: {4} and {5}
    assert(out == Set((1L, 2L, 3.0), (1L, 1L, 3.0), (2L, 1L, 4.0), (2L, 1L, 5.0)), out)
  }

  test("file-source streaming: events parquet replayed as a stream matches batch") {
    val dir = sf // fixture dir; the events stream globs its one file
    val q = Streams.hourlyTypeCountsStream(Streams.eventsStream(spark, dir))
      .writeStream.format("memory").queryName("file_hourly")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("file_hourly").collect().toSet
    val batch = Streams.hourlyTypeCounts(graft.Tables.events(spark, dir)).collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("stream-stream interval join matches the batch range join on drained input") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val evs = Seq(
      Ev(10, ts(0), 1, "click", 1.0, "{}"),
      Ev(11, ts(30), 1, "purchase", 2.0, "{}"),   // clicks at 0 within 1h
      Ev(12, ts(100), 1, "click", 3.0, "{}"),     // 70min after purchase → out
      Ev(13, ts(20), 2, "purchase", 4.0, "{}"),   // no clicks for u2
      Ev(14, ts(45), 1, "click", 5.0, "{}"),      // 15min after purchase → in
    )
    mem.addData(evs: _*)
    val df = mem.toDF()
    val q = Streams.purchaseClickJoinStream(
        df.filter($"event_type" === "purchase"),
        df.filter($"event_type" === "click"))
      .writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("ss_join")
      .select($"event_id", $"user_id").as[(Long, Long)].collect().toSeq.sorted
    // purchase 11 pairs with clicks 10 and 14; purchase 13 pairs with none
    assert(got == Seq((11L, 1L), (11L, 1L)), got.toString)
  }

  test("s06 drained streaming interval join equals the batch interval join") {
    val dir = "/root/testdata/sf0.001"
    val streamed = Streams.streamingIntervalJoin(spark, dir)
      .as[(Long, Long, java.sql.Timestamp)].collect().toSeq.sortBy(r => (r._1, r._3.getTime))
    val ev = graft.Tables.events(spark, dir)
    val p = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts".as("p_ts"), $"event_id")
    val c = ev.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"ts".as("c_ts"))
    val batch = p.join(c, $"user_id" === $"c_user" &&
        $"c_ts" >= $"p_ts" - expr("INTERVAL 1 HOUR") &&
        $"c_ts" <= $"p_ts" + expr("INTERVAL 1 HOUR"))
      .select($"event_id", $"user_id", $"c_ts")
      .as[(Long, Long, java.sql.Timestamp)].collect().toSeq.sortBy(r => (r._1, r._3.getTime))
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("transformWithState running totals accumulate across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    // the v2 state API needs column families → RocksDB state store
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Ev]
    val in = mem.toDF()
      .selectExpr("user_id", "CAST(value * 100 AS BIGINT) AS cents").as[Streams.TotalsInput]
    val q = Streams.runningUserCents(in)
      .writeStream.format("memory").queryName("tws_totals")
      .outputMode("update").start()
    try {
      mem.addData(events.take(2): _*)    // u1: events 1,2 (values 1,2)
      q.processAllAvailable()
      mem.addData(events.drop(2): _*)    // u1: +event 3; u2: events 4,5
      q.processAllAvailable()
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    val rows = spark.table("tws_totals")
      .select($"user_id", $"n_events", $"total_cents")
      .as[(Long, Long, Long)].collect().toSeq
    // batch 1 emitted u1 -> (2, 300); batch 2 emitted u1 -> (3, 600)
    // proving state carried across batches, and u2 -> (2, 900)
    assert(rows.contains((1L, 2L, 300L)))
    assert(rows.contains((1L, 3L, 600L)))
    assert(rows.contains((2L, 2L, 900L)))
  }

  test("s07 streaming user totals equal the batch aggregate on the fixture") {
    val got = Streams.streamingUserTotals(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    val exp = graft.Tables.events(spark, sf)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast("decimal(18,2)").multiply(100).cast("long")).as("total_cents"))
      .orderBy($"user_id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.nonEmpty && got == exp)
  }

  test("s08 streaming type counts equal the batch aggregate on the fixture") {
    val got = Streams.streamingTypeCounts(spark, sf)
      .as[(String, Long)].collect().toSeq
    val exp = graft.Tables.events(spark, sf)
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
      .orderBy($"event_type").as[(String, Long)].collect().toSeq
    assert(got.nonEmpty && got == exp)
  }

  test("s09 state-store read of the drained count query equals the batch aggregate") {
    val got = Streams.stateInspect(spark, sf)
      .as[(String, Long)].collect().toSeq
    val exp = graft.Tables.events(spark, sf)
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
      .orderBy($"event_type").as[(String, Long)].collect().toSeq
    assert(got.nonEmpty && got == exp)
  }

  test("MapState accumulates per-type counts across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Ev]
    val in = mem.toDF()
      .selectExpr("user_id % 16 AS shard", "event_type").as[Streams.ShardEvent]
    val q = Streams.runningTypeCounts(in)
      .writeStream.format("memory").queryName("tws_type_counts")
      .outputMode("update").start()
    try {
      mem.addData(events.take(2): _*)   // u1: 2 clicks
      q.processAllAvailable()
      mem.addData(events.take(2): _*)   // u1: the SAME 2 clicks again
      q.processAllAvailable()
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    val rows = spark.table("tws_type_counts")
      .select($"shard", $"event_type", $"n").as[(Long, String, Long)].collect().toSeq
    // batch 1 emitted (1, click, 2); batch 2 (1, click, 4) — the map
    // entry carried across batches
    assert(rows.contains((1L, "click", 2L)), rows.toString)
    assert(rows.contains((1L, "click", 4L)), rows.toString)
  }

  test("sessionizeWithState in batch mode emits every session incl. the open tail") {
    val in = events.toDF().selectExpr("user_id", "ts", "value")
      .as[Streams.SessionInput]
    val out = Streams.sessionizeWithState(in, gapMinutes = 30)
      .collect().map(s => (s.user_id, s.n_events)).groupBy(_._1)
    assert(out(1L).map(_._2).sorted.toSeq == Seq(1L, 2L)) // sessions {1,2} and {3}
    assert(out(2L).map(_._2).sorted.toSeq == Seq(1L, 1L)) // {4} and {5}
  }

  test("foreachBatch keyed-upsert sink applies idempotent _id semantics") {
    implicit val sqlCtx = spark.sqlContext
    val store = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
    val mem = MemoryStream[Ev]
    mem.addData(events: _*)
    mem.addData(events.map(e => e.copy(value = e.value * 10)): _*) // updates
    val q = mem.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select($"event_id", $"value").as[(Long, Double)].collect()
          .foreach { case (k, v) => store.put(k, v) } // last-write-wins upsert
      }
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(store.size() == 5)
    assert(store.get(1L) == 10.0) // updated, not duplicated
  }

  test("s11 left-outer join: matches equal inner; nulls obey the min-policy watermark cutoff") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val got = Streams.streamingLeftOuterJoin(spark, sf)
    val inner = Streams.streamingIntervalJoin(spark, sf)
    // matched rows are exactly the inner-join result
    assert(got.filter($"c_ts".isNotNull).count() == inner.count())
    // outer-null rows respect the global (min-policy) watermark: every
    // emitted unmatched purchase has p_ts + 1h < least(maxP, maxC) - 2h
    val ev = graft.Tables.events(spark, sf)
    val maxP = ev.filter($"event_type" === "purchase").agg(max($"ts")).head().getTimestamp(0)
    val maxC = ev.filter($"event_type" === "click").agg(max($"ts")).head().getTimestamp(0)
    val wm = (if (maxP.before(maxC)) maxP else maxC).toInstant
      .minus(java.time.Duration.ofHours(2))
    val nulls = got.filter($"c_ts".isNull)
      .join(ev.select($"event_id", $"ts"), "event_id")
    assert(nulls.count() > 0)
    val violating = nulls.filter(
      $"ts" + expr("INTERVAL 1 HOUR") >= lit(java.sql.Timestamp.from(wm)))
    assert(violating.count() == 0)
  }

  test("s12 streaming upsert apply: table equals latest-per-key; re-apply is a no-op") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val got = Streams.streamingUpsertApply(spark, sf).collect().toSeq
    val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
    val expected = graft.Tables.events(spark, sf)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"user_id", $"event_id".as("last_event_id"), $"ts", $"value")
      .orderBy($"user_id")
      .collect().toSeq
    assert(got == expected)
    // idempotence: a second full drain (an at-least-once redelivery of
    // every batch) lands the identical table
    val again = Streams.streamingUpsertApply(spark, sf).collect().toSeq
    assert(again == got)
  }

  test("s12 upsert sink survives a post-write batch failure: replay lands the same table") {
    // Injects the worst-case at-least-once hazard: the batch's effect
    // IS applied (the table overwrite completed), then the batch FAILS
    // before the engine commits its offsets — so on restart the engine
    // replays a batch whose writes already landed. Exactly-once effect
    // requires the re-apply to be a fixed point.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
    val sf = "/root/testdata/sf0.001"
    val tableDir = graft.util.Scratch.dir(spark, "s12_retry_table", sf).toString
    val ckpt = graft.util.Scratch.dir(spark, "s12_retry_ckpt", sf).toString
    val failedOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
    def run(): Unit = {
      val q = Streams.eventsStream(spark, sf)
        .select($"user_id", $"event_id", $"ts", $"value")
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          Streams.mergeInto(batch, tableDir)(Streams.latestPerUser)
          if (!failedOnce.getAndSet(true))
            throw new RuntimeException("injected post-write failure")
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    intercept[StreamingQueryException](run())
    val afterFailure = spark.read.parquet(tableDir)
      .orderBy($"user_id").collect().toSeq
    assert(afterFailure.nonEmpty, "the failed attempt's write really landed")
    run() // restart from the same checkpoint: the uncommitted batch replays
    val got = spark.read.parquet(tableDir).orderBy($"user_id").collect().toSeq
    val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
    val expected = graft.Tables.events(spark, sf)
      .select($"user_id", $"event_id", $"ts", $"value")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1).drop("rn")
      .orderBy($"user_id")
      .collect().toSeq
    assert(got == expected, "replayed drain equals the batch latest-per-key oracle")
  }

  test("s12 and s14 merges never read a table that is not there yet") {
    // Spark logs a WARN naming the path, with its FileNotFoundException,
    // whenever a parquet read is pointed at a missing path
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import scala.jdk.CollectionConverters._
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("s12-s14-warnings", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN))
          warnings.add(e.getMessage.getFormattedMessage + " " +
            Option(e.getThrown).map(_.toString).getOrElse(""))
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    try {
      assert(Streams.streamingUpsertApply(spark, sf).count() > 0)
      assert(Streams.streamingFunnel(spark, sf).count() == 3)
    } finally {
      root.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
    val onTables = warnings.asScala.filter(w => "graft_s1[24]_table".r.findFirstIn(w).isDefined)
    assert(onTables.isEmpty, onTables.mkString("\n"))
  }

  test("s13 streaming index append == one-pass assignment on the same frozen centroids") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val emb = graft.Tables.embeddings(spark, sf)
    val got = Streams.streamingIndexAppend(spark, sf)
      .collect().map(_.toSeq).toSeq
    // the drained stream's index must answer queries exactly like an
    // in-memory full-corpus assignment with the SAME frozen centroids
    val idxDir = graft.util.Scratch.resolve(spark, "s13_idx", sf).toString
    val cents = Similarity.loadQCentroids(spark, idxDir,
      graft.util.GenManifest.required(spark, idxDir))
    val fresh = Similarity.ivfTopKWithQCentroids(emb,
      emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5, cents)
      .collect().map(_.toSeq).toSeq
    assert(got == fresh)
    // the stream really appended: assignments cover the whole corpus,
    // delta included
    val assigned = spark.read.parquet(
      graft.util.GenManifest.tablePath(spark, idxDir, "assignments"))
    assert(assigned.count() == emb.count())
    assert(assigned.filter(col("neighbor_id") >= Similarity.indexBaseSplit).count() > 0)
  }

  test("s19 streaming near-dup drain == batch LSH pairs with a delta member; index covers all docs") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, sf)
    val got = Streams.streamingNearDup(spark, sf)
      .collect().map(_.toSeq).toSeq
    // closed form: ALL portable-LSH pairs whose larger id is a delta
    // doc (both-base pairs never stream) — recomputed in one batch pass
    val exp = Dedup.minHashLshPairsPortable(docs, "doc_id", "text")
      .filter(col("doc_b") >= Dedup.incrementalSplit)
      .orderBy(col("doc_a"), col("doc_b"))
      .collect().map(_.toSeq).toSeq
    assert(got == exp, "drained pair set must equal the batch closed form")
    // the ingest really appended: the index holds band rows and hash
    // rows for EVERY doc (base + delta), 8 bands each
    val idxDir = graft.util.Scratch.resolve(spark, "s19_idx", sf).toString
    val nDocs = docs.count()
    assert(spark.read.parquet(
      graft.util.GenManifest.tablePath(spark, idxDir, "hashes")).count() == nDocs)
    assert(spark.read.parquet(
      graft.util.GenManifest.tablePath(spark, idxDir, "bands")).count() == nDocs * 8)
  }

  test("s19 ingest survives a post-append batch failure: replay dedups to the same pairs") {
    // The worst-case at-least-once hazard for an index-maintaining
    // sink: the batch's effects ALL landed (pairs emitted, index
    // appended), then the batch fails before the offset commit — the
    // restart replays a batch whose bands/hashes/pairs are already
    // there. The drain-side pair dedup and the pair-level dedup before
    // verify must absorb the duplicate index rows and re-emissions.
    import graft.operators.Dedup
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
    val sf = "/root/testdata/sf0.001"
    val split = Dedup.incrementalSplit
    val idxDir = graft.util.Scratch.dir(spark, "s19_retry_idx", sf).toString
    val outDir = graft.util.Scratch.dir(spark, "s19_retry_out", sf).toString
    val ckpt = graft.util.Scratch.dir(spark, "s19_retry_ckpt", sf).toString
    val docs = graft.Tables.documents(spark, sf)
    Dedup.buildLshIndex(docs.filter($"doc_id" < split), "doc_id", "text", idxDir)
    Seq.empty[(Long, Long, Double)].toDF("doc_a", "doc_b", "jaccard")
      .write.mode("overwrite").parquet(outDir)
    def bandsCount(): Long = spark.read.parquet(
      graft.util.GenManifest.tablePath(spark, idxDir, "bands")).count()
    val baseBands = bandsCount()
    val failedOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
    def run(): Unit = {
      val q = Streams.fileStream(spark, sf, "documents.parquet").parquet(sf)
        .filter($"doc_id" >= split)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          Dedup.appendLshDetect(batch, "doc_id", "text", idxDir, outDir)
          if (!failedOnce.getAndSet(true))
            throw new RuntimeException("injected post-append failure")
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    intercept[StreamingQueryException](run())
    assert(bandsCount() > baseBands,
      "the failed attempt's index append really landed")
    run() // replay from the same checkpoint against the dirtied index
    val got = spark.read.parquet(outDir)
      .dropDuplicates("doc_a", "doc_b")
      .select($"doc_a", $"doc_b", $"jaccard")
      .orderBy($"doc_a", $"doc_b").collect().map(_.toSeq).toSeq
    val exp = Dedup.minHashLshPairsPortable(docs, "doc_id", "text")
      .filter($"doc_b" >= split)
      .orderBy($"doc_a", $"doc_b").collect().map(_.toSeq).toSeq
    assert(got == exp, "replayed drain equals the batch closed form")
  }

  test("s20 streaming decontamination drain == batch d12 hit counts") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val got = Streams.streamingDecontaminate(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = graft.operators.Curation.decontaminate(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got == exp, "drained contamination counts must equal the batch gate")
    assert(got.nonEmpty)
  }

  test("s21 streaming LM scoring drain == batch t29 scores") {
    val sf = "/root/testdata/sf0.001"
    val got = Streams.streamingLmScore(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = graft.operators.TextAnalysis.bigramLmScore(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got == exp, "drained LM scores must equal the batch t29 gate")
    assert(got.nonEmpty)
  }

  test("s22 streaming pack drain == batch q57 packer (single AvailableNow batch)") {
    val sf = "/root/testdata/sf0.001"
    val got = Streams.streamingPack(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = graft.operators.Curation.sequencePack(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got == exp, "drained pack assignment must equal the batch packer")
    assert(got.nonEmpty)
    // the stateful packer's offsets are contiguous per shard: total
    // tokens == max(start_off)+last n_tokens per shard
    val byShard = got.map(r => (r(2).asInstanceOf[Long],
      r(1).asInstanceOf[Long], r(3).asInstanceOf[Long])).groupBy(_._1)
    byShard.foreach { case (_, rs) =>
      val tot = rs.map(_._2).sum
      val last = rs.maxBy(_._3)
      assert(last._3 + last._2 == tot, "per-shard offsets must be gapless")
    }
  }

  test("s23 streaming token meter drain == batch t34 encode") {
    val sf = "/root/testdata/sf0.001"
    val got = Streams.streamingTokenMeter(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = graft.operators.TextAnalysis.bpeEncodeBatched(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got == exp, "drained token meter must equal the batch t34 encode")
    assert(got.nonEmpty)
  }

  test("s10 chained rollup equals the batch rollup up to the watermark cutoff") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val ev = graft.Tables.events(spark, sf)
    // batch re-derivation with the same append-mode finalization rule:
    // a day is emitted iff its end ≤ max(ts) − 2h
    val wm = ev.agg(max($"ts")).head().getTimestamp(0).toInstant
      .minus(java.time.Duration.ofHours(2))
    val expected = ev
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .groupBy(date_trunc("day", $"w.start").as("day_start"), $"event_type")
      .agg(sum($"n").as("n_day"), max($"n").as("max_hourly"))
      .filter($"day_start" + expr("INTERVAL 1 DAY") <= lit(java.sql.Timestamp.from(wm)))
      .orderBy($"day_start", $"event_type")
      .collect().toSeq
    val got = Streams.streamingChainedDaily(spark, sf).collect().toSeq
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("s14 funnel state machine reaches the batch-rule fixed point under ANY arrival order") {
    val rnd = new scala.util.Random(99)
    val types = Array("view", "click", "purchase", "error")
    (1 to 200).foreach { _ =>
      val events = Seq.fill(rnd.nextInt(12) + 1)(
        (types(rnd.nextInt(4)), rnd.nextInt(20).toLong))
      // batch rule (the q85 semantics)
      val views = events.collect { case ("view", t) => t }
      val t1 = if (views.nonEmpty) views.min else Long.MaxValue
      val clicks = events.collect { case ("click", t) if t > t1 => t }
      val t2 = if (clicks.nonEmpty) clicks.min else Long.MaxValue
      val purchases = events.collect { case ("purchase", t) if t > t2 => t }
      val t3 = if (purchases.nonEmpty) purchases.min else Long.MaxValue
      val wantStage = if (t3 != Long.MaxValue) 3 else if (t2 != Long.MaxValue) 2
        else if (t1 != Long.MaxValue) 1 else 0
      // fold in a random (adversarial, out-of-order) arrival order
      val shuffled = rnd.shuffle(events)
      val folded = shuffled.foldLeft(
        Streams.FunnelState(Long.MaxValue, Long.MaxValue, Long.MaxValue, Nil, Nil)) {
        case (s, (tpe, ts)) => Streams.funnelAdvance(s, tpe, ts)
      }
      assert((folded.t1, folded.t2, folded.t3) == (t1, t2, t3),
        s"events=$events order=$shuffled folded=$folded want=($t1,$t2,$t3)")
      assert(Streams.funnelStage(folded) == wantStage)
    }
  }

  test("s14 streaming funnel drains to the batch funnel counts") {
    val batch = graft.operators.Relational.funnelSteps(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val streamed = Streams.streamingFunnel(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(streamed == batch)
    assert(streamed.length == 3)
  }

  test("s16 streaming KMV sketch drains to the batch KMV estimate") {
    import java.security.MessageDigest
    def h60(x: Long): Long = java.lang.Long.parseLong(
      MessageDigest.getInstance("MD5").digest(x.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15), 16)
    val k = 64
    val sets = graft.Tables.events(spark, sf)
      .select($"event_type", $"user_id").distinct()
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toSet }
    val want = sets.toSeq.map { case (t, users) =>
      val sk = users.map(h60).toSeq.sorted.take(k)
      val est = if (sk.size < k) sk.size.toDouble
        else (k - 1).toDouble * 1152921504606846976.0d / sk.last.toDouble
      (t, est, users.size.toLong)
    }.sortBy(_._1)
    val got = Streams.streamingKmvDistinct(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("s15 stream-static enrichment drains to the batch join+aggregate") {
    val batch = Streams.enrichedSegmentCounts(
        graft.Tables.events(spark, sf), graft.Tables.customer(spark, sf))
      .orderBy($"c_mktsegment", $"event_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    val streamed = Streams.streamingEnrichedSegments(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // every event joins (fixture user ids ⊂ custkeys), so counts total
    // to the full event count — the inner join drops nothing
    val total = graft.Tables.events(spark, sf).count()
    assert(streamed.map(_._3).sum == total)
  }

  test("s17 streaming outlier gate drains to exactly the q92 batch set") {
    val batch = graft.operators.DataQuality.valueOutliers(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val streamed = Streams.streamingOutlierGate(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("s18 streaming quantile sample drains to exactly the q96 batch estimates") {
    val batch = graft.operators.DataQuality.sampledQuantiles(spark, sf)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq
    val streamed = Streams.streamingSampledQuantiles(spark, sf)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }
}
