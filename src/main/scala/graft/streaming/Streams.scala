package graft.streaming

import java.nio.file.{Files, Path, Paths}

import graft.Tables
import graft.util.Scratch
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamReader, Trigger}
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Structured-Streaming surface (SURVEY.md §2.9).
  *
  * Each transform is written against a plain `DataFrame`, so the SAME
  * function runs in batch mode (for the DuckDB oracle) and on a
  * `readStream` source (exercised in the streaming specs) — the
  * batch/streaming unification Spark gives for free.
  *
  * The reference has no true streaming (full refresh per run); these
  * give its event-time story: watermarked tumbling/sliding windows,
  * session windows, and `_id`-upsert dedup as
  * `dropDuplicatesWithinWatermark`.
  *
  * Every drained gate (s04-s23) runs its stream through ONE path,
  * [[drain]]: the stream reads a parquet file source ([[fileStream]],
  * schema from the fixture footer), is built on a child session whose
  * conf alone carries the shuffle width and, for the
  * `transformWithState` gates, the RocksDB state store
  * ([[streamSession]]), and runs to the end of its input under the
  * `AvailableNow` trigger, each micro-batch handed to a `foreachBatch`
  * sink. Its checkpoint is a `Scratch` dir per (gate, input dir,
  * application), kept after the run for offline state reads (s09),
  * wiped by the next run of the same gate and removed at JVM exit.
  * Keyed sinks (s12, s14) fold each batch into their table with the
  * one idempotent merge, [[mergeInto]].
  */
object Streams {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))

  /** Tumbling 1-hour windowed counts + exact value sums per event type. */
  def hourlyTypeCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(col("w.start").as("hour_start"), col("event_type"), col("n"), col("sum_value"))

  def hourlyTypeCountsBatch(spark: SparkSession, dir: String): DataFrame =
    hourlyTypeCounts(Tables.events(spark, dir))
      .orderBy(col("hour_start"), col("event_type"))

  /** Sliding windows: 2-hour window every 1 hour, per event type. */
  def slidingTypeCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n"))

  def slidingTypeCountsBatch(spark: SparkSession, dir: String): DataFrame =
    slidingTypeCounts(Tables.events(spark, dir))
      .orderBy(col("win_start"), col("event_type"))

  /** Session windows (30-minute inactivity gap) per user: one row per
    * session. Batch-mode `session_window` plans a dedicated
    * SessionWindowing aggregation; in streaming it is state-store backed.
    */
  def userSessions(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))

  /** Per-user session stats: number of sessions + total events. */
  def userSessionStatsOf(events: DataFrame): DataFrame =
    userSessions(events)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
      .orderBy(col("user_id"))

  def userSessionStats(spark: SparkSession, dir: String): DataFrame =
    userSessionStatsOf(Tables.events(spark, dir))

  /** [[hourlyTypeCounts]] with a 2-hour watermark, the stream form s04
    * drains (complete mode, so the watermark bounds state only and the
    * drained result stays batch-equal).
    */
  def hourlyTypeCountsStream(events: DataFrame): DataFrame =
    hourlyTypeCounts(events.withWatermark("ts", "2 hours"))

  // — real-streaming-run gate entries (shared scaffolding) —

  /** A file stream over `dir`'s files matching `glob`. `readStream`
    * needs an explicit schema; take it from a batch footer read of the
    * same glob (cheap, metadata-only), so the stream sees exactly the
    * types this fixture generation carries.
    */
  private[graft] def fileStream(ss: SparkSession, dir: String, glob: String): DataStreamReader =
    ss.readStream
      .schema(ss.read.option("pathGlobFilter", glob).parquet(dir).schema)
      .option("pathGlobFilter", glob)

  /** The events fixture as a stream, its physical `ts` normalized to
    * TimestampType exactly like the batch path (`Tables.events`).
    */
  private[graft] def eventsStream(spark: SparkSession, dir: String): DataFrame =
    Tables.normalizeEventTs(fileStream(spark, dir, "events.parquet").parquet(dir))

  /** A CHILD session (shared SparkContext, isolated SQLConf) pinned to
    * `width` shuffle partitions, with the RocksDB state store when
    * `rocksDb` (the v2 state API of `transformWithState` needs its
    * column families). Stateful-operator parallelism = shuffle
    * partitions AT QUERY START (frozen into the checkpoint): each
    * partition is a state-store instance whose per-batch commit is an
    * fsync'd delta file — a stream-stream join keeps FOUR stores per
    * partition. The drains here move fixture-scale batches, so 8 stores
    * beat 32 on pure commit overhead; a production deployment sizes the
    * width to key cardinality instead (state ops hash-partition by key,
    * so throughput scales out with the partition count). A query
    * executes under the conf of the session its DataFrame was created
    * in, so the stream MUST be built from this session; the caller's
    * conf is never touched, and a concurrent session (or the caller's
    * own next query) can never observe the override.
    */
  private def streamSession(spark: SparkSession, rocksDb: Boolean, width: Int = 8): SparkSession = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", width.toString)
    if (rocksDb)
      ss.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    ss
  }

  /** The one streaming run every drained gate goes through: build the
    * stream with `streamOf` on a [[streamSession]] child, run it to the
    * end of its input under `AvailableNow` in `outputMode`, and
    * hand each micro-batch to `sink`. Returns the checkpoint, which
    * lives in the `Scratch` dir `<tag>_ckpt` over `dir` and is KEPT
    * after the drain: s09 reads its state store offline. The next drain
    * with the same tag wipes it, and `Scratch`'s shutdown hook removes
    * it at exit.
    */
  private def drain(spark: SparkSession, tag: String, dir: String, outputMode: String,
                    rocksDb: Boolean = false)
                   (streamOf: SparkSession => DataFrame)
                   (sink: DataFrame => Unit): Path = {
    val ckpt = Scratch.dir(spark, s"${tag}_ckpt", dir)
    streamOf(streamSession(spark, rocksDb))
      .writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: DataFrame, _: Long) => sink(batch) }
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    ckpt
  }

  /** [[drain]] into the `Scratch` dir `<tag>_out` over `dir` and read
    * the drained table back: a complete-mode batch is the whole result
    * and overwrites, an append- or update-mode batch appends.
    */
  private def drainToTable(spark: SparkSession, tag: String, dir: String, outputMode: String,
                           rocksDb: Boolean = false)
                          (streamOf: SparkSession => DataFrame): DataFrame = {
    val out = Scratch.dir(spark, s"${tag}_out", dir).toString
    val mode = if (outputMode == "complete") "overwrite" else "append"
    drain(spark, tag, dir, outputMode, rocksDb)(streamOf)(_.write.mode(mode).parquet(out))
    spark.read.parquet(out)
  }

  /** The idempotent keyed-table merge of a `foreachBatch` sink: read
    * the table (or start empty), union the batch, `fold` to one row per
    * key, and overwrite (`localCheckpoint` cuts the lineage so the
    * overwrite never reads the files it replaces). With a `fold` whose
    * result does not depend on how often a row was seen, re-applying a
    * batch reaches the same fixed point: exactly-once effect from
    * at-least-once delivery (the retry spec in `StreamsSpec` proves it
    * through the engine's own replay). ONLY a missing table counts as
    * empty (first batch before any write): a read that fails on an
    * existing table throws and fails the batch — treating it as empty
    * would silently drop every previously merged key.
    */
  private[graft] def mergeInto(batch: DataFrame, tableDir: String)
                              (fold: DataFrame => DataFrame): Unit = {
    val existing =
      if (Files.exists(Paths.get(tableDir))) batch.sparkSession.read.parquet(tableDir)
      else batch.limit(0)
    fold(existing.unionByName(batch))
      .localCheckpoint(true)
      .write.mode("overwrite").parquet(tableDir)
  }

  /** s05: watermarked streaming dedup executed through a REAL streaming
    * query in APPEND mode — `readStream` → `dropDuplicatesWithinWatermark`
    * (the `_id`-upsert S6 analog) → foreachBatch parquet APPEND, read
    * back. Fixture event ids are unique, so the drained result equals
    * the plain projection — DuckDB-checkable while the state-store-backed
    * dedup operator does the work.
    */
  def streamingDedup(spark: SparkSession, dir: String): DataFrame =
    drainToTable(spark, "s05", dir, "append")(ss =>
      dedupStream(eventsStream(ss, dir)).select(col("event_id"), col("user_id"), col("event_type")))
      .orderBy(col("event_id"))

  /** s04: the hourly aggregation executed through a REAL streaming query
    * — `readStream` over the events parquet, watermark + complete-mode
    * aggregation, `foreachBatch` parquet sink, result read back. The
    * stream drains under `AvailableNow` and complete mode emits
    * the full aggregate, so the result is batch-equivalent and
    * DuckDB-checkable: the streaming engine itself (source planning,
    * state store, sink commit) sits inside the driver's correctness
    * gate instead of only inside specs.
    */
  def hourlyTypeCountsStreamed(spark: SparkSession, dir: String): DataFrame =
    drainToTable(spark, "s04", dir, "complete")(ss => hourlyTypeCountsStream(eventsStream(ss, dir)))
      .orderBy(col("hour_start"), col("event_type"))

  def dedupStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** CHAINED stateful operators in ONE streaming query (the Spark 3.5+/
    * 4.x multiple-stateful-operator capability): hourly tumbling counts
    * per event type, re-windowed downstream into per-day aggregates by
    * windowing ON the hourly window column — two cascaded state stores,
    * one watermark. The cascade is the production rollup shape (raw →
    * hourly → daily) run as a single query instead of two jobs with an
    * intermediate table.
    *
    * Append mode is REQUIRED for a chained aggregation, and append
    * emits a window only once the watermark passes its end — so the
    * drained result is exactly the days whose end ≤ max(ts) − delay.
    * The oracle derives the same cutoff closed-form from the data
    * (deterministic: the fixture's max ts is fixed), which pins the
    * append-mode finalization semantics themselves, not just the
    * arithmetic.
    */
  def chainedDailyStats(events: DataFrame): DataFrame = {
    val hourly = events.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w1"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    hourly
      .groupBy(window(col("w1"), "1 day").as("w2"), col("event_type"))
      .agg(sum(col("n")).as("n_day"), max(col("n")).as("max_hourly"))
      .select(col("w2.start").as("day_start"), col("event_type"),
        col("n_day"), col("max_hourly"))
  }

  /** s10: [[chainedDailyStats]] drained through a real append-mode
    * streaming run (`AvailableNow`, foreachBatch parquet APPEND
    * — finalized days arrive across micro-batches).
    */
  def streamingChainedDaily(spark: SparkSession, dir: String): DataFrame =
    drainToTable(spark, "s10", dir, "append")(ss => chainedDailyStats(eventsStream(ss, dir)))
      .orderBy(col("day_start"), col("event_type"))

  /** Stream-STATIC enrichment: the event stream inner-joined to the
    * batch `customer` dimension (user → market segment), then a
    * windowless segment×type aggregate. The static side is
    * broadcast — stream-static joins keep NO join state (the static
    * side is re-planned per micro-batch; only the aggregation holds
    * state), which is the canonical streaming-ETL enrichment shape: a
    * dimension table of any freshness joined to an unbounded fact
    * stream with zero watermark bookkeeping on the dimension.
    */
  def enrichedSegmentCounts(events: DataFrame, customers: DataFrame): DataFrame =
    events.join(
        broadcast(customers.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("sum_value"))

  /** s15: [[enrichedSegmentCounts]] through a REAL streaming drain —
    * `readStream` events ⋈ batch customer dimension, complete-mode
    * aggregate, foreachBatch parquet sink. Complete mode over a fully
    * drained `AvailableNow` run makes the result batch-equal, so the
    * stream-static join operator itself (per-batch static re-plan,
    * broadcast, stateless join) sits inside the DuckDB gate.
    */
  def streamingEnrichedSegments(spark: SparkSession, dir: String): DataFrame =
    drainToTable(spark, "s15", dir, "complete")(ss =>
      enrichedSegmentCounts(eventsStream(ss, dir), Tables.customer(spark, dir)))
      .orderBy(col("c_mktsegment"), col("event_type"))

  /** s17: streaming anomaly gate — the q92 z-score outlier filter run
    * over the event STREAM against a broadcast static reference
    * profile ([[graft.operators.DataQuality.outlierProfile]]'s exact
    * power sums). The filter is STATELESS (no watermark, no state
    * store, append mode): each micro-batch joins the tiny profile and
    * flags map-side, the canonical "score a live stream against a
    * trained/offline profile" production shape. A fully drained
    * `AvailableNow` run over the same fixture is batch-equal, so the
    * gate reuses q92's DuckDB oracle verbatim — the streaming operator
    * itself sits inside a hash check.
    */
  def streamingOutlierGate(spark: SparkSession, dir: String): DataFrame = {
    val profile = graft.operators.DataQuality.outlierProfile(
      Tables.events(spark, dir))
    drainToTable(spark, "s17", dir, "append")(ss =>
      graft.operators.DataQuality.flagOutliers(eventsStream(ss, dir), profile, 3.0))
      .orderBy(col("event_type"), col("event_id"))
  }

  /** Stream-stream interval join: each purchase joined to the same
    * user's clicks within ±1 hour. Both sides carry watermarks and the
    * join condition bounds the time skew, so the state store holds only
    * the watermark-window tail of each side — the streaming analog of
    * [[graft.operators.AsOf.rangeJoinCount]]'s bucketed range join, and
    * batch-equivalent on a drained stream (asserted in `StreamsSpec`).
    */
  def purchaseClickJoinStream(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = purchases.withWatermark("ts", "2 hours")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id"))
    val c = clicks.withWatermark("ts", "2 hours")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    p.join(c,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("event_id"), col("user_id"), col("c_ts"))
  }

  /** s06: the stream-stream interval join executed through a REAL
    * streaming run — two independent `readStream` sources over the same
    * events parquet (purchases vs clicks), both watermarked, inner
    * interval join on user within ±1 hour, drained append-mode under
    * `AvailableNow`. Inner-join matches are emitted in the
    * micro-batch where both sides are present (watermarks bound STATE
    * RETENTION, not inner-join emission), so the drained result equals
    * the batch interval join and is DuckDB-checkable — while the
    * symmetric-hash join state store does the actual work.
    */
  def streamingIntervalJoin(spark: SparkSession, dir: String): DataFrame =
    drainToTable(spark, "s06", dir, "append")(ss =>
      purchaseClickJoinStream(
        eventsStream(ss, dir).filter(col("event_type") === "purchase"),
        eventsStream(ss, dir).filter(col("event_type") === "click")))
      .orderBy(col("event_id"), col("c_ts"))

  /** LEFT OUTER stream-stream interval join — s06's shape with the
    * outer-null semantics that make streaming joins subtle: a matched
    * pair emits in the micro-batch where both sides are present, but
    * an UNMATCHED purchase emits its null-click row only once the
    * watermark proves no future click can match (wm past the join
    * window's upper bound, i.e. state eviction time). With one
    * watermark node per side, the GLOBAL watermark under
    * `multipleWatermarkPolicy=min` (the default) is
    * `least(max purchase ts, max click ts) − delay` — NOT the global
    * max-ts − delay (verified against the engine's reported per-batch
    * watermark). The drained result is therefore matches ∪
    * {unmatched p : p_ts + 1h < that min-policy wm} — the oracle
    * re-derives exactly that closed-form, pinning the min-policy and
    * the eviction-time emission rule themselves.
    */
  def purchaseClickLeftJoinStream(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = purchases.withWatermark("ts", "2 hours")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id"))
    val c = clicks.withWatermark("ts", "2 hours")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    p.join(c,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts") + expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select(col("event_id"), col("user_id"), col("c_ts"))
  }

  /** s11: [[purchaseClickLeftJoinStream]] drained through a real
    * two-source append-mode streaming run.
    */
  def streamingLeftOuterJoin(spark: SparkSession, dir: String): DataFrame =
    drainToTable(spark, "s11", dir, "append")(ss =>
      purchaseClickLeftJoinStream(
        eventsStream(ss, dir).filter(col("event_type") === "purchase"),
        eventsStream(ss, dir).filter(col("event_type") === "click")))
      .orderBy(col("event_id"), col("c_ts"))

  /** s12: the streaming KEYED-UPSERT SINK — the reference's `_id` bulk
    * upsert (S6, `ingestion-elasticsearch.py:36-55`) as a streaming
    * apply: every micro-batch folds into a keyed parquet table through
    * [[mergeInto]] with [[latestPerUser]] (the idempotent
    * `foreachBatch` CDC-apply pattern).
    * Last-write-wins is (ts, event_id)-ordered, so the winner is
    * deterministic under any batch split, and a batch REPLAY re-applies
    * to the same result — exactly-once effect from at-least-once
    * delivery. After the drain the table IS the latest event per user:
    * oracle = the batch latest-per-key query over all events.
    */
  def streamingUpsertApply(spark: SparkSession, dir: String): DataFrame = {
    val tableDir = Scratch.dir(spark, "s12_table", dir).toString
    drain(spark, "s12", dir, "append")(ss =>
      eventsStream(ss, dir).select(col("user_id"), col("event_id"), col("ts"), col("value")))(
      mergeInto(_, tableDir)(latestPerUser))
    spark.read.parquet(tableDir)
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("ts"), col("value"))
      .orderBy(col("user_id"))
  }

  // — s14: streaming funnel (the q85 semantics through a stateful stream) —

  case class FunnelEvent(user_id: Long, event_type: String, us: Long)
  /** Per-user funnel state. t1/t2/t3 = min view ts / min click strictly
    * after t1 / min purchase strictly after t2 (Long.MaxValue = absent);
    * pendClicks/pendPurchases buffer out-of-order events that arrived
    * BEFORE the threshold they must be strictly after — t1 and t2 only
    * ever decrease, so a pending event is promoted the moment its
    * threshold drops below it and an applied event can never become
    * invalid. The buffers hold only events ≤ the current threshold
    * (typically none when streams are roughly time-ordered); everything
    * else folds into the three longs — bounded state, exact
    * batch-equivalence.
    */
  case class FunnelState(t1: Long, t2: Long, t3: Long,
                         pendClicks: List[Long], pendPurchases: List[Long])
  case class FunnelUpdate(user_id: Long, stage: Int)

  private[graft] def funnelAdvance(s: FunnelState, tpe: String, ts: Long): FunnelState = {
    var t1 = s.t1; var t2 = s.t2; var t3 = s.t3
    var pc = s.pendClicks; var pp = s.pendPurchases
    tpe match {
      case "view"     => if (ts < t1) t1 = ts
      case "click"    => if (ts > t1) { if (ts < t2) t2 = ts } else pc ::= ts
      case "purchase" => if (ts > t2) { if (ts < t3) t3 = ts } else pp ::= ts
      case _          => ()
    }
    // cascade: a lower t1 may validate pending clicks; a lower t2 (from
    // either path) may validate pending purchases
    val (promC, keepC) = pc.partition(_ > t1)
    if (promC.nonEmpty) { val m = promC.min; if (m < t2) t2 = m }
    val (promP, keepP) = pp.partition(_ > t2)
    if (promP.nonEmpty) { val m = promP.min; if (m < t3) t3 = m }
    FunnelState(t1, t2, t3, keepC, keepP)
  }

  private[graft] def funnelStage(s: FunnelState): Int =
    if (s.t3 != Long.MaxValue) 3
    else if (s.t2 != Long.MaxValue) 2
    else if (s.t1 != Long.MaxValue) 1
    else 0

  /** s14: the ordered funnel (q85) executed as a STATEFUL STREAMING
    * query — `mapGroupsWithState` keeps the per-user [[FunnelState]],
    * every micro-batch emits the user's current stage (update mode),
    * and a [[mergeInto]] keyed upsert folds emissions into a stage
    * table keeping each user's MAX stage (stages are monotone because
    * t1/t2/t3 only decrease — so last-write and max-write agree, and a
    * batch replay re-applies to the same fixed point, the s12
    * idempotence story). After the drain the stage table aggregates to
    * exactly the batch funnel counts: the oracle is q85's SQL verbatim.
    */
  def streamingFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val tableDir = Scratch.dir(spark, "s14_table", dir).toString
    drain(spark, "s14", dir, "update")(ss =>
      eventsStream(ss, dir)
        .select(col("user_id"), col("event_type"),
          expr("unix_micros(ts)").as("us"))
        .as[FunnelEvent]
        .groupByKey(_.user_id)
        .mapGroupsWithState[FunnelState, FunnelUpdate](GroupStateTimeout.NoTimeout) {
          (uid: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
            var s = state.getOption.getOrElse(
              FunnelState(Long.MaxValue, Long.MaxValue, Long.MaxValue, Nil, Nil))
            rows.foreach(e => s = funnelAdvance(s, e.event_type, e.us))
            state.update(s)
            FunnelUpdate(uid, funnelStage(s))
        }
        .toDF())(
      mergeInto(_, tableDir)(_.groupBy(col("user_id")).agg(max(col("stage")).as("stage"))))
    val st = spark.read.parquet(tableDir)
    def stepRow(step: Int, name: String) =
      st.filter(col("stage") >= step)
        .agg(count(lit(1)).as("n_users"))
        .select(lit(step.toLong).as("step"), lit(name).as("event_type"),
          col("n_users"))
    stepRow(1, "view").union(stepRow(2, "click")).union(stepRow(3, "purchase"))
      .orderBy(col("step"))
  }

  /** s13: STREAMING maintenance of the persisted ANN index — the e13
    * build/append split driven by Structured Streaming. The base index
    * builds once (batch FIXED-POINT integer Lloyd since r8, so the
    * drained index — and therefore every query answer — hash-checks
    * against e13's DuckDB oracle); the delta slice
    * then arrives as a STREAM whose every micro-batch appends
    * frozen-centroid assignments via `foreachBatch` — the
    * vector-store-fed-by-a-stream shape a 100 TB embedding pipeline
    * runs in production (ingest never re-trains, never rescans the
    * historical corpus; per-batch cost scales with the batch). After
    * the drain, queries are answered from the LOADED index; the spec
    * pins drained-stream ≡ one-pass in-memory assignment on the same
    * frozen centroids.
    */
  def streamingIndexAppend(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val split = Similarity.indexBaseSplit
    val idxDir = Scratch.dir(spark, "s13_idx", dir).toString
    val emb = Tables.embeddings(spark, dir)
    // fixed-point build (r8): the frozen index is integer-derived, so
    // the drained stream's answers hash-check against the e13 oracle
    Similarity.buildIvfIndexFixedPoint(emb.filter(col("vec_id") < split), "vec_id", "embedding", idxDir)
    drain(spark, "s13", dir, "append")(ss =>
      fileStream(ss, dir, "embeddings.parquet").parquet(dir).filter(col("vec_id") >= split))(
      Similarity.appendIvfIndexFixedPoint(_, "vec_id", "embedding", idxDir))
    Similarity.queryIvfIndexFixedPoint(spark, idxDir,
      emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
  }

  /** s19: STREAMING near-dup detection against a persisted LSH index —
    * dedup-on-ingest, the text twin of s13's vector-index maintenance.
    * The base corpus builds the portable MinHash-LSH index once
    * (band buckets + hashed shingle sets, parquet); the delta then
    * arrives as a STREAM whose every micro-batch is checked against
    * the index AND itself (cross join on band buckets, integer
    * signature prefilter, ONE exact-jaccard verify) and appended —
    * ingest never re-shingles the historical corpus, per-batch cost
    * scales with the batch and its collision fan-in. That is the
    * shape a 100 TB curation pipeline runs: the crawl stream is
    * deduped against everything already accepted, not re-clustered.
    *
    * Every numeric is the d03-portable family, and a pair surfaces
    * exactly once under ANY batch split (at the batch of its
    * second-processed member, or the self-join when co-batched), so
    * the drained pair set is the closed-form "all portable-LSH pairs
    * with at least one delta member" — hash-checked against the d03
    * oracle CTEs restricted to doc_b ≥ split.
    */
  def streamingNearDup(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val split = Dedup.incrementalSplit
    val idxDir = Scratch.dir(spark, "s19_idx", dir).toString
    val outDir = Scratch.dir(spark, "s19_out", dir).toString
    // the index build and the stream source read the SAME glob, so one
    // fixture contract covers both layouts: the test fixtures' single
    // documents.parquet FILE and a production-shaped multi-file drop
    // (documents-NNNNN.parquet) — a micro-batch then carries one input
    // SPLIT per file, so the per-batch map stages parallelize instead of
    // running single-task (the GuardStress drain leg measures this)
    val glob = "documents*.parquet"
    val docs = spark.read.option("pathGlobFilter", glob).parquet(dir)
    // index build and the schema-seed write touch disjoint directories
    // — overlapped (guide §2.6), the seed's tiny job rides inside the
    // build's window instead of paying its own driver gap
    import spark.implicits._
    graft.util.Par.all(
      () => Dedup.buildLshIndex(docs.filter(col("doc_id") < split),
        "doc_id", "text", idxDir),
      // seed the result dir with the pair schema so a pair-free drain
      // still reads cleanly
      () => Seq.empty[(Long, Long, Double)].toDF("doc_a", "doc_b", "jaccard")
        .write.mode("overwrite").parquet(outDir))
    drain(spark, "s19", dir, "append")(ss =>
      fileStream(ss, dir, glob).parquet(dir).filter(col("doc_id") >= split))(
      Dedup.appendLshDetect(_, "doc_id", "text", idxDir, outDir))
    spark.read.parquet(outDir)
      .dropDuplicates("doc_a", "doc_b")
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** s20: STREAMING decontamination — the crawl stream scanned for
    * eval-benchmark n-gram overlap ON INGEST (the other half of the
    * s19 ingest-hygiene pair: s19 stops duplicates, this stops eval
    * leakage). The eval suite's distinct shingle keys are a STATIC
    * side computed once and broadcast into every micro-batch (the s15
    * stream-static shape — a benchmark is a fixed artifact; the
    * corpus is what grows); each batch shingles only ITS OWN docs,
    * counts eval hits per doc, and appends. A doc's shingles all
    * derive from its own row, so its count is complete within its
    * batch — STATELESS, batch-split-invariant, replay-idempotent
    * (re-emitted rows are identical; the drain dedups by doc). The
    * drained hit table therefore hash-checks against d12's batch
    * oracle VERBATIM.
    */
  def streamingDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Curation
    val outDir = Scratch.dir(spark, "s20_out", dir).toString
    val docs = Tables.documents(spark, dir)
    // static side once: an 8 KiB-scale key set, localCheckpoint cuts
    // the per-batch lineage back to the materialized keys
    val evalKeys = Curation.evalShingleKeys(docs, 8).localCheckpoint(true)
    import spark.implicits._
    Seq.empty[(Long, Long)].toDF("doc_id", "n_eval_hits")
      .write.mode("overwrite").parquet(outDir)
    drain(spark, "s20", dir, "append")(ss =>
      fileStream(ss, dir, "documents.parquet").parquet(dir))(
      Curation.contaminationHits(_, evalKeys, 8).write.mode("append").parquet(outDir))
    spark.read.parquet(outDir)
      .dropDuplicates("doc_id")
      .select(col("doc_id"), col("n_eval_hits"))
      .orderBy(col("doc_id"))
  }

  /** s21: streaming LM quality scoring — the third leg of the
    * ingest-hygiene trio (s19 stops duplicates, s20 stops eval
    * leakage, this scores QUALITY on ingest): every arriving doc gets
    * t29's integer bigram-LM score as it lands, so a perplexity filter
    * can gate the crawl before anything is stored. The LM is a STATIC
    * side built once from the reference split (an LM is a trained
    * artifact; the crawl is what grows — the s20 stream-static shape)
    * and each micro-batch scores only its own docs: a doc's score
    * depends only on its own bigrams and the static LM, so scores are
    * batch-complete, stateless, batch-split-invariant and
    * replay-idempotent. The drain hash-checks against t29's batch
    * oracle VERBATIM.
    */
  def streamingLmScore(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFns._
    import graft.operators.TextAnalysis
    val outDir = Scratch.dir(spark, "s21_out", dir).toString
    val toksOf = (df: DataFrame) => df.select(col("doc_id"),
      filter(tokens(normalizeText(col("text"))), t => length(t) > 0).as("toks"))
    // static side once: the reference split's bigram counts,
    // localCheckpoint cuts per-batch lineage back to the counts
    val lm = TextAnalysis.lmCounts(
      toksOf(Tables.documents(spark, dir).filter(col("doc_id") % 10 < 8)))
      .localCheckpoint(true)
    import spark.implicits._
    Seq.empty[(Long, Long, Long, Long)]
      .toDF("doc_id", "n_bigrams", "oov_bigrams", "lm_score")
      .write.mode("overwrite").parquet(outDir)
    drain(spark, "s21", dir, "append")(ss =>
      fileStream(ss, dir, "documents.parquet").parquet(dir))(batch =>
      TextAnalysis.lmScoreAgainst(toksOf(batch.filter(col("doc_id") % 10 >= 8)), lm)
        .write.mode("append").parquet(outDir))
    spark.read.parquet(outDir)
      .dropDuplicates("doc_id")
      .orderBy(col("doc_id"))
  }

  /** s23: streaming trained-tokenizer METERING — the ingest chain's
    * token accounting leg: every arriving doc's `n_bpe_tokens` under
    * the REAL trained vocabulary, computed as it lands, so token-budget
    * mixing (q58/p03) and packing (s22) can be denominated in trained
    * tokens on ingest rather than the whitespace proxy. The tokenizer
    * is a STATIC artifact (t33's batched trainer runs once — the t35
    * deployment shape: encode jobs get the 64-row merge table, never
    * the trainer) inlined into the map-only encode closure, and each
    * micro-batch meters only its own docs: a doc's count depends only
    * on its own text and the static merges, so counts are
    * batch-complete, stateless, batch-split-invariant and
    * replay-idempotent (the s20/s21 stream-static shape). The drain
    * hash-checks against t34's batch oracle VERBATIM; full-row dedup
    * surfaces any replay divergence as a hash mismatch.
    */
  def streamingTokenMeter(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis
    val merges = TextAnalysis.bpeTrainBatched(spark, dir, 8, 8, 64)
    drainToTable(spark, "s23", dir, "append")(ss =>
      // repartition BEFORE the 64-deep replace chain: a single-file
      // micro-batch otherwise metres the whole batch on one core (r14
      // job profile: 1.8 s in one 1-task stage); the exchange carries
      // raw text — cheap next to the encode — and the width follows
      // the session's core count, not a constant
      graft.util.Spread.stream(fileStream(ss, dir, "documents.parquet").parquet(dir))
        .select(col("doc_id"),
          size(TextAnalysis.bpeTokensCol(merges, col("text")))
            .cast("long").as("n_bpe_tokens")))
      .dropDuplicates(Seq("doc_id", "n_bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  /** The s12 fold: the latest row per user by (ts, event_id) — a
    * total order, so the winner is the same however often a row was
    * merged, which makes [[mergeInto]] idempotent under replay.
    */
  private[graft] def latestPerUser(rows: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    rows.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** s09: offline STATE-STORE inspection — the `statestore` batch
    * reader over a retained checkpoint. A streaming `groupBy(type)
    * .count()` drains under `AvailableNow` (update mode, the
    * checkpoint deliberately KEPT), then the state store itself is
    * read back as a batch DataFrame: one row per aggregation key
    * holding the running-count buffer of the last committed batch —
    * which, after a full drain, IS the global GROUP BY, so the result
    * is DuckDB-checkable while the thing under test is the state
    * reader. This is the ops surface that matters at scale: debugging
    * a 1000-partition stateful job means querying its state offline
    * (skew per key, store size per partition) without touching the
    * running query. Key/value buffer field names are engine-internal,
    * so they are discovered from the read schema, not hard-coded.
    */
  def stateInspect(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.StructType
    val sink = Scratch.dir(spark, "s09_out", dir).toString
    val ckpt = drain(spark, "s09", dir, "update")(ss =>
      eventsStream(ss, dir).groupBy(col("event_type")).agg(count(lit(1)).as("n")))(
      _.write.mode("append").parquet(sink))
    val state = spark.read.format("statestore")
      .option("path", ckpt.toString).load()
    val keyField = state.schema("key").dataType
      .asInstanceOf[StructType].fields.head.name
    val valField = state.schema("value").dataType
      .asInstanceOf[StructType].fields.head.name
    // each key lives in exactly one state partition → one row per key
    state.select(
        col(s"key.$keyField").as("event_type"),
        col(s"value.$valField").cast("long").as("n"))
      .orderBy(col("event_type"))
  }

  // — custom state v2: transformWithState running totals (§2.9) —

  case class TotalsInput(user_id: Long, cents: Long)
  case class UserTotal(user_id: Long, n_events: Long, total_cents: Long)

  /** Per-user running totals via the arbitrary-state v2 API
    * (`transformWithState` + `StatefulProcessor` + `ValueState`): state
    * survives across micro-batches, and each batch emits the updated
    * running (count, cents) per key. The state is ALL-INTEGER, so the
    * drained final totals are exact regardless of micro-batch
    * boundaries or in-batch row order (a double accumulator's value
    * depends on addition order; a long's doesn't). That is what lets a
    * `transformWithState` query sit inside the DuckDB-checked
    * correctness gate (s07) rather than only inside specs.
    */
  class CentsTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, TotalsInput, UserTotal] {
    @transient private var state:
        org.apache.spark.sql.streaming.ValueState[(Long, Long)] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[(Long, Long)]("cents_totals",
        org.apache.spark.sql.Encoders.product[(Long, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        userId: Long, rows: Iterator[TotalsInput],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[UserTotal] = {
      val (n0, c0) = if (state.exists()) state.get() else (0L, 0L)
      var n = n0; var c = c0
      rows.foreach { e => n += 1; c += e.cents }
      state.update((n, c))
      Iterator.single(UserTotal(userId, n, c))
    }
  }

  def runningUserCents(events: org.apache.spark.sql.Dataset[TotalsInput])
      : org.apache.spark.sql.Dataset[UserTotal] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.groupByKey(_.user_id)
      .transformWithState(new CentsTotalsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  case class ShardEvent(shard: Long, event_type: String)
  case class TypeCount(shard: Long, event_type: String, n: Long)

  /** Per-shard event-type counts via MapState — the state-v2 primitive
    * [[CentsTotalsProcessor]] (ValueState) doesn't exercise: one keyed
    * state handle holding a MAP of event_type → count, updated
    * incrementally and emitted as flattened rows per batch. The shape
    * of any per-key frequency table kept by a streaming job.
    */
  class TypeCountsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, ShardEvent, TypeCount] {
    @transient private var state:
        org.apache.spark.sql.streaming.MapState[String, Long] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getMapState[String, Long]("type_counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        shard: Long, rows: Iterator[ShardEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[TypeCount] = {
      val touched = scala.collection.mutable.Set.empty[String]
      rows.foreach { e =>
        val cur = if (state.containsKey(e.event_type)) state.getValue(e.event_type) else 0L
        state.updateValue(e.event_type, cur + 1L)
        touched += e.event_type
      }
      // Materialize EAGERLY (toSeq before returning): a lazy iterator
      // would read MapState at downstream-consumption time, relying on
      // the engine keeping the implicit grouping-key context bound
      // after handleInputRows returns — an internal detail, not the
      // documented contract.
      touched.toSeq.map(t => TypeCount(shard, t, state.getValue(t))).iterator
    }
  }

  def runningTypeCounts(events: org.apache.spark.sql.Dataset[ShardEvent])
      : org.apache.spark.sql.Dataset[TypeCount] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.groupByKey(_.shard)
      .transformWithState(new TypeCountsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** s08: MapState through the driver gate — a real streaming run of
    * [[TypeCountsProcessor]] over 16 user-hash shards. Per-shard
    * running counts are monotone, so the drained final value per
    * (shard, type) is the max-n row whatever the micro-batch split was;
    * summing the shard finals per type then equals the plain global
    * GROUP BY — integer-exact, DuckDB-checkable.
    */
  def streamingTypeCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val drained = drainToTable(spark, "s08", dir, "update", rocksDb = true)(ss =>
      runningTypeCounts(
        eventsStream(ss, dir)
          .select((col("user_id") % 16).as("shard"), col("event_type"))
          .as[ShardEvent]).toDF())
    drained.groupBy(col("shard"), col("event_type"))
      .agg(max(col("n")).as("n_final"))
      .groupBy(col("event_type"))
      .agg(sum(col("n_final")).as("n"))
      .orderBy(col("event_type"))
  }

  case class PackInput(shard: Long, doc_id: Long, n_tokens: Long)
  case class PackOutput(doc_id: Long, n_tokens: Long, shard: Long,
                        start_off: Long, pack_id: Long)

  /** Per-shard ONLINE sequence packer — q57's concat-and-chunk
    * assignment as a stateful streaming operator: the shard's running
    * token offset lives in `ValueState`, each arriving doc takes
    * `start_off` = the offset and advances it, and the pack id uses
    * q57's exact namespace (`shard << 41 | chunk`). Within a batch the
    * shard's rows are buffered and assigned in doc_id order (a batch
    * is unordered by contract; the buffer is batch-bounded, never
    * corpus-bounded); across batches assignment is arrival-ordered —
    * the honest streaming semantics for "pack documents as the crawl
    * delivers them". All-integer state ⇒ the drained assignment is
    * exact whatever the store/replay history (the s07 property).
    */
  class SequencePackProcessor(budget: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, PackInput, PackOutput] {
    @transient private var state:
        org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[Long]("pack_offset",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        shard: Long, rows: Iterator[PackInput],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[PackOutput] = {
      var off = if (state.exists()) state.get() else 0L
      val out = rows.toArray.sortBy(_.doc_id).map { d =>
        val start = off
        off += d.n_tokens
        PackOutput(d.doc_id, d.n_tokens, shard, start,
          shard * 2199023255552L + start / budget)
      }
      state.update(off)
      out.iterator
    }
  }

  /** s22: streaming sequence packing through the driver gate — a real
    * `transformWithState` run of [[SequencePackProcessor]] over the
    * document stream, drained and checked against q57's batch oracle
    * VERBATIM: with the fixture arriving as one AvailableNow batch per
    * shard (single-file source) and in-batch doc_id ordering, the
    * online assignment reproduces the batch packer exactly — the
    * stream/batch unification every ingest-then-train pipeline leans
    * on. Completes the streaming ingest chain: s19 dedups, s20
    * decontaminates, s21 scores, s22 PACKS.
    */
  def streamingPack(spark: SparkSession, dir: String,
                    budget: Long = 2048L, shards: Int = 32): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import graft.functions.TextFns._
    val drained = drainToTable(spark, "s22", dir, "update", rocksDb = true)(ss =>
      // maxFilesPerTrigger bounds the per-micro-batch row count at
      // scale (a crawl delivers many files), which is what bounds the
      // processor's per-shard sort buffer: buffer ≤ batch/shards rows.
      // On this single-file fixture the batch is the whole (small)
      // corpus — the file source can't split one file — so the option
      // is inert here but the bound is real in any multi-file
      // deployment.
      fileStream(ss, dir, "documents.parquet")
        .option("maxFilesPerTrigger", "1").parquet(dir)
        .select((col("doc_id") % shards).as("shard"), col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_tokens"))
        .as[PackInput]
        .groupByKey(_.shard)
        .transformWithState(new SequencePackProcessor(budget),
          TimeMode.None(), OutputMode.Update())
        .toDF())
    // dedup on ALL columns, not just doc_id: if a foreachBatch retry
    // ever replayed a batch with divergent state-derived offsets, a
    // doc_id-only dedup would mask it by keeping an arbitrary row —
    // full-row dedup instead surfaces the divergence as an extra row
    // (row-count/hash mismatch at the gate)
    drained
      .select(col("doc_id"), col("n_tokens"), col("shard"),
        col("start_off"), col("pack_id"))
      .dropDuplicates(Seq("doc_id", "n_tokens", "shard",
        "start_off", "pack_id"))
      .orderBy(col("doc_id"))
  }

  /** s07: the arbitrary-state v2 operator (`transformWithState` +
    * `StatefulProcessor` + `ValueState` on the RocksDB store) executed
    * through a REAL streaming run inside the driver gate. Update-mode
    * emissions accumulate in the drained parquet (one row per touched
    * key per micro-batch); the final total per user is the row with the
    * largest n_events — running totals are monotone, so this reduction
    * is batch-boundary-invariant — and integer cents make the value
    * order-insensitive, so the result hash-matches a plain DuckDB
    * GROUP BY regardless of how the engine split the batches.
    */
  def streamingUserTotals(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val drained = drainToTable(spark, "s07", dir, "update", rocksDb = true)(ss =>
      runningUserCents(
        eventsStream(ss, dir)
          .select(col("user_id"), (dec(col("value")) * 100).cast("long").as("cents"))
          .as[TotalsInput]).toDF())
    drained.groupBy(col("user_id"))
      .agg(max(struct(col("n_events"), col("total_cents"))).as("m"))
      .select(col("user_id"), col("m.n_events").as("n_events"),
        col("m.total_cents").as("total_cents"))
      .orderBy(col("user_id"))
  }

  // — custom state: flatMapGroupsWithState sessionizer (§2.9) —

  case class SessionInput(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(start: Long, lastTs: Long, nEvents: Long, sumValue: Double)
  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                        n_events: Long, sum_value: Double)

  /** Event-time sessionization with explicit per-key state — the shape
    * for session semantics `session_window` can't express (e.g. emitting
    * per-session running value sums with custom close rules). Works on a
    * stream (EventTimeTimeout closes sessions as the watermark passes)
    * and in the specs via batch-equivalent grouping.
    */
  def sessionizeWithState(events: org.apache.spark.sql.Dataset[SessionInput],
                          gapMinutes: Long)
      : org.apache.spark.sql.Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapMs = gapMinutes * 60000L

    def flush(userId: Long, s: SessionState): SessionOut =
      SessionOut(userId, new java.sql.Timestamp(s.start), s.nEvents, s.sumValue)

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[SessionInput], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(flush(userId, _)).toSeq
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var cur = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastTs < gapMs =>
                  cur = Some(s.copy(lastTs = t, nEvents = s.nEvents + 1,
                    sumValue = s.sumValue + e.value))
                case Some(s) =>
                  closed += flush(userId, s)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            val watermarked =
              try { state.getCurrentWatermarkMs(); true }
              catch { case _: UnsupportedOperationException => false }
            if (watermarked) {
              cur.foreach { s =>
                state.update(s)
                // must register on every batch (watermark may still be 0
                // on the first one); clamp above the watermark as required
                state.setTimeoutTimestamp(
                  math.max(s.lastTs + gapMs, state.getCurrentWatermarkMs() + 1))
              }
              closed.result().iterator
            } else {
              // batch mode (no watermark): this is the only call for the
              // group — emit the trailing open session too
              (closed.result() ++ cur.map(flush(userId, _))).iterator
            }
          }
      }
  }

  case class KmvInput(event_type: String, h: Long)
  case class KmvEmit(event_type: String, version: Long, n_kept: Long, h_k: Long)

  case class QsInput(event_type: String, event_id: Long, hk: Long, cents: Long)
  case class QsState(version: Long, hks: Array[Long], ids: Array[Long],
                     cents: Array[Long])
  case class QsEmit(event_type: String, version: Long, q: Double, est: Double)

  /** Streaming QUANTILE sample sketch — the [[KmvSketchProcessor]]
    * idea applied to ORDER STATISTICS (q96's batch sample maintained
    * as stream state): per key the state is the k rows with the
    * smallest md5(event_id) hash — a fixed k·24-byte buffer under
    * unbounded input. "k hash-smallest rows" is arrival-order- and
    * batch-split-insensitive, so the drained final sample — and the
    * discrete rank selections computed from it — equal the batch q96
    * result exactly, whatever the micro-batch layout.
    */
  class QuantileSampleProcessor(k: Int, qs: Seq[Double])
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, QsInput, QsEmit] {
    @transient private var state:
        org.apache.spark.sql.streaming.ValueState[QsState] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[QsState]("q_sample",
        org.apache.spark.sql.Encoders.product[QsState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        eventType: String, rows: Iterator[QsInput],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[QsEmit] = {
      val s0 = if (state.exists()) state.get()
               else QsState(0L, Array.empty, Array.empty, Array.empty)
      // merge = k hash-smallest of old sample ∪ new rows (dedup by id:
      // replayed rows must not double-enter the sample)
      val merged = (s0.hks.indices.iterator
          .map(i => (s0.hks(i), s0.ids(i), s0.cents(i))) ++
        rows.map(r => (r.hk, r.event_id, r.cents)))
        .toSeq.distinct.sortBy(t => (t._1, t._2)).take(k)
      state.update(QsState(s0.version + 1L, merged.map(_._1).toArray,
        merged.map(_._2).toArray, merged.map(_._3).toArray))
      // discrete rank selection over the in-state sample, ordered by
      // (value, id) — the exact q96 rule
      val byVal = merged.sortBy(t => (t._3, t._2))
      val m = byVal.length
      qs.iterator.map { q =>
        val rank = math.max(1L, math.ceil(q * m).toLong)
        QsEmit(eventType, s0.version + 1L, q,
          byVal((rank - 1).toInt)._3 / 100.0)
      }
    }
  }

  /** s18: [[QuantileSampleProcessor]] through a real streaming drain —
    * per-event-type approximate quantiles maintained as bounded sample
    * state. Deterministic md5 sampling + discrete rank selection make
    * the drained estimates hash-check against q96's DuckDB SQL
    * VERBATIM — the second streaming sketch an oracle can pin (s16
    * pinned cardinality; this pins order statistics).
    */
  def streamingSampledQuantiles(spark: SparkSession, dir: String,
                                k: Int = 256): DataFrame = {
    import spark.implicits._
    val drained = drainToTable(spark, "s18", dir, "update", rocksDb = true)(ss =>
      eventsStream(ss, dir)
        .select(col("event_type"), col("event_id"),
          expr("cast(conv(substr(md5(cast(cast(event_id as string) as binary)), 1, 15), 16, 10) as bigint)").as("hk"),
          (dec(col("value")) * 100).cast("long").as("cents"))
        .as[QsInput]
        .groupByKey(_.event_type)
        .transformWithState(
          new QuantileSampleProcessor(k, Seq(0.25, 0.5, 0.75, 0.9)),
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update())
        .toDF())
    drained
      .groupBy(col("event_type"), col("q"))
      .agg(max(struct(col("version"), col("est"))).as("m"))
      .select(col("event_type"), col("q"), col("m.est").as("est"))
      .orderBy(col("event_type"), col("q"))
  }

  /** Streaming KMV distinct sketch — SKETCH state in a stateful
    * operator: per key the state is the k smallest distinct md5-60-bit
    * element hashes (a FIXED k·8-byte buffer however many elements
    * stream past — the bounded-state property that makes cardinality
    * tracking viable in an unbounded stream, where s07/s08-style exact
    * counters are per-key scalars and an exact distinct would need
    * per-ELEMENT state). Each batch emits the updated sketch summary
    * under a monotone version number, so the drained final per key is
    * the max-version row whatever the micro-batch split.
    */
  class KmvSketchProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, KmvInput, KmvEmit] {
    @transient private var state:
        org.apache.spark.sql.streaming.ValueState[(Long, Array[Long])] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[(Long, Array[Long])]("kmv_sketch",
        org.apache.spark.sql.Encoders.product[(Long, Array[Long])],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        eventType: String, rows: Iterator[KmvInput],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[KmvEmit] = {
      val (v0, s0) = if (state.exists()) state.get() else (0L, Array.empty[Long])
      // merge = k smallest of the distinct union (the KMV merge rule)
      val merged = (s0.iterator ++ rows.map(_.h))
        .foldLeft(scala.collection.immutable.SortedSet.empty[Long])(_ + _)
        .take(k).toArray
      state.update((v0 + 1L, merged))
      Iterator.single(KmvEmit(eventType, v0 + 1L, merged.length.toLong,
        if (merged.isEmpty) 0L else merged.last))
    }
  }

  /** s16: [[KmvSketchProcessor]] through a real streaming drain — the
    * per-event-type distinct-USER cardinality estimate maintained as
    * bounded sketch state. Every input to the estimator is a
    * deterministic md5-derived integer and KMV merge is order- and
    * batch-boundary-insensitive (the k smallest of a set are the k
    * smallest under any arrival order), so — uniquely among streaming
    * sketches — the drained estimate hash-checks against the q84-style
    * DuckDB SQL. Exact distinct rides along as error evidence.
    */
  def streamingKmvDistinct(spark: SparkSession, dir: String,
                           k: Int = 64): DataFrame = {
    import spark.implicits._
    val drained = drainToTable(spark, "s16", dir, "update", rocksDb = true)(ss =>
      eventsStream(ss, dir)
        .select(col("event_type"),
          expr("cast(conv(substr(md5(cast(cast(user_id as string) as binary)), 1, 15), 16, 10) as bigint)").as("h"))
        .as[KmvInput]
        .groupByKey(_.event_type)
        .transformWithState(new KmvSketchProcessor(k),
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update())
        .toDF())
    val finals = drained
      .groupBy(col("event_type"))
      .agg(max(struct(col("version"), col("n_kept"), col("h_k"))).as("m"))
      .select(col("event_type"), col("m.n_kept").as("n_kept"), col("m.h_k").as("h_k"))
    val exact = Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    finals.join(exact, "event_type")
      .select(col("event_type"),
        when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(lit((k - 1).toDouble * 1152921504606846976.0d) / col("h_k").cast("double"))
          .as("est_distinct"),
        col("n_exact"))
      .orderBy(col("event_type"))
  }
}
