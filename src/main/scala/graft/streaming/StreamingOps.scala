package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import graft.lifecycle.Lifecycle
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured Streaming over the `events` table (SURVEY §2.8): the mandated
  * extension surface. Every transform below takes a DataFrame that may be
  * batch OR streaming — the same declarative plan runs in both engines,
  * which is the Spark-first way to keep a batch oracle for a streaming
  * pipeline. Entries in SparkEntry run genuinely streaming (file source →
  * AvailableNow trigger → memory sink) and are compared against DuckDB SQL.
  *
  * At scale: the file source becomes Kafka; AvailableNow becomes a
  * continuous trigger; the memory sink becomes a Delta/parquet sink with
  * checkpointing — the transforms are unchanged.
  */
object StreamingOps {

  /** Schema of events.parquet with `ts` left abstract — fixtures have
    * shipped ts as both TIMESTAMP(NANOS) (read as raw-nanos long under
    * nanosAsLong) and TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ); the
    * streaming source needs an explicit schema, so probe the file's batch
    * schema once and splice the observed type in (same dispatch as
    * graft.core.Tables.events). */
  private def rawSchema(tsType: org.apache.spark.sql.types.DataType): StructType =
    StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))

  /** Streaming read of the events parquet (ts normalized to microsecond
    * session-zone timestamps, same arithmetic as graft.core.Tables.events). */
  def readEventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    // The footer is cached per file identity; the 12 streaming entries share it.
    val tsType = graft.core.FileMeta.parquetSchema(spark, s"$sfDir/events.parquet")("ts")
      .dataType
    // The file source requires a directory: list the sf dir, glob-filtered
    // to the events file.
    val raw = spark.readStream.schema(rawSchema(tsType))
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    tsType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _        => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Event-time tumbling window aggregation with a watermark — the
    * canonical streaming query. Late rows beyond 1 hour are dropped (spec
    * exercises this via MemoryStream; the full-file run has no late data). */
  def windowedTypeCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      // Money/value sums leave as BIGINT micros (×1e6), never summed
      // DECIMAL — the driver's hash channel rejects summed-decimal columns
      // even when values are identical. Accumulate DECIMAL(38,0), cast the
      // FINAL aggregate: sum(long) would wrap silently at 100 TB group
      // sizes (see RelOps.sum6 — same convention).
      .agg(count(lit(1)).as("n"),
        sum((col("value").cast("decimal(18,6)") * 1000000).cast("decimal(38,0)"))
          .cast("long").as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
        col("event_type"), col("n"), col("sum_value"))

  /** Streaming dedup with bounded state: first row per (user_id,
    * event_type) within the watermark horizon. State size is |keys|, not
    * |stream| — the only dedup that works on an unbounded stream. */
  def dedupUsersByType(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark(Seq("user_id", "event_type"))

  /** Session windows (10-minute gap) per user — same operator as the batch
    * RelOps.sessionize; under streaming the watermark closes sessions. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "10 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("sstart"),
        col("n_events"))

  /** Event-time TTL for `userStats` state: a user idle (no events) past
    * this horizon of event time has its state EVICTED. Without eviction,
    * per-key state grows with the all-time distinct-user count — the
    * unbounded-state mistake that kills a 100 TB stream; with it, state is
    * bounded by the users active within one TTL window. */
  val UserStatsTtlMs: Long = 2 * 3600 * 1000L

  /** Custom arbitrary state via flatMapGroupsWithState — the §2.8 API for
    * semantics the built-in windows can't express (per-key accumulators
    * that survive across micro-batches). State here is (n, first, last)
    * per user; each batch folds its rows into the state and emits the
    * updated summary. The input is watermarked and every update arms an
    * EventTimeTimeout at last-seen + TTL: when the watermark passes it,
    * the key's state is dropped (emitting nothing — the summary rows
    * already went out), so state size tracks ACTIVE users, not all-time
    * users. The watermark also drops rows later than 1 hour before
    * reaching the state function — the same late-data contract as the
    * windowed aggs. */
  def userStats(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), (Long, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (uid, rows, state: GroupState[(Long, Long, Long)]) =>
          if (state.hasTimedOut) {
            // Idle past the TTL: evict. The per-batch summaries were already
            // emitted, so eviction changes state size, not output.
            state.remove()
            Iterator.empty
          } else {
            val (n0, f0, l0) = state.getOption.getOrElse((0L, Long.MaxValue, Long.MinValue))
            var n = n0; var first = f0; var last = l0
            rows.foreach { case (_, t) =>
              val s = t.getTime / 1000 // floor-seconds, = CAST(ts AS LONG)
              n += 1
              if (s < first) first = s
              if (s > last) last = s
            }
            state.update((n, first, last))
            // Arm the TTL at last-seen event time (clamped above the
            // current watermark — setTimeoutTimestamp rejects timestamps
            // at or behind it).
            state.setTimeoutTimestamp(
              math.max(last * 1000, state.getCurrentWatermarkMs() + 1) + UserStatsTtlMs)
            Iterator((uid, n, first, last))
          }
      }
      .toDF("user_id", "n_events", "first_s", "last_s")
  }

  /** `userStats` on the MODERN arbitrary-state API — Spark 4's
    * `transformWithState` (the successor to flatMapGroupsWithState):
    * explicit named state handles (`ValueState`) on the RocksDB state
    * store, first-class timers instead of a single per-key timeout slot,
    * and per-state TTL configs. Semantics are kept IDENTICAL to
    * `userStats` — fold (n, first, last) per user, re-arm an event-time
    * eviction timer at last-seen + TTL, clear state on expiry — so the two
    * APIs are directly comparable (spec asserts row parity) and the
    * migration path is demonstrated. The RocksDB provider is what makes
    * this the 100 TB shape: state spills off-heap and snapshots
    * incrementally instead of living in executor heap. */
  private class UserStatsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, java.sql.Timestamp), (Long, Long, Long, Long)] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimerValues, TTLConfig}
    @transient private var state:
      org.apache.spark.sql.streaming.ValueState[(Long, Long, Long)] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      // TTL here rides on the event-time TIMER below (TTLConfig TTLs are
      // processing-time only — wall-clock, wrong for replay determinism).
      state = getHandle.getValueState[(Long, Long, Long)]("stats",
        org.apache.spark.sql.Encoders.product[(Long, Long, Long)], TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[(Long, java.sql.Timestamp)],
                                 tv: TimerValues): Iterator[(Long, Long, Long, Long)] = {
      val (n0, f0, l0) =
        if (state.exists()) state.get() else (0L, Long.MaxValue, Long.MinValue)
      var n = n0; var first = f0; var last = l0
      rows.foreach { case (_, t) =>
        val s = t.getTime / 1000 // floor-seconds, = CAST(ts AS LONG)
        n += 1
        if (s < first) first = s
        if (s > last) last = s
      }
      state.update((n, first, last))
      // One live eviction timer per key: replace, then re-arm at last-seen
      // event time + TTL (clamped above the watermark, as timers must be).
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(
        math.max(last * 1000, tv.getCurrentWatermarkInMs() + 1) + UserStatsTtlMs)
      Iterator((uid, n, first, last))
    }
    override def handleExpiredTimer(uid: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[(Long, Long, Long, Long)] = {
      state.clear() // idle past TTL: evict; summaries already emitted
      Iterator.empty
    }
  }

  /** The transformWithState pipeline over a watermarked event stream. */
  def userStatsTws(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new UserStatsProcessor, TimeMode.EventTime(), OutputMode.Append())
      .toDF("user_id", "n_events", "first_s", "last_s")
  }

  /** Driver entry: userStatsTws on the RocksDB state store (required by
    * transformWithState), for this query only, so the sibling streaming
    * entries keep their default HDFS-backed store. */
  def streamedUserStatsTws(spark: SparkSession, sfDir: String): DataFrame =
    Lifecycle.demo(spark) { _ =>
      graft.core.Session.withConf(spark, "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
        runToMemory(spark,
          userStatsTws(readEventsStream(spark, sfDir).filter(col("user_id") < 50)),
          "append")
          .orderBy("user_id")
      }
    }

  /** Stream-stream interval join — the attribution shape: each purchase
    * joined to the same user's clicks in the 10 minutes before it. Both
    * sides carry watermarks and the join condition is time-bounded in both
    * directions, so Spark can expire join state: a click older than
    * (watermark − 10 min) can never match a future purchase and is dropped
    * from the state store. Without the time bound the state grows with the
    * stream — the unbounded-join mistake this operator exists to show
    * avoided. Works identically on a batch DataFrame (the oracle). */
  def purchaseClickJoin(events: DataFrame): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val c = events.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_uid"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    p.join(c,
      col("user_id") === col("c_uid") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
        col("c_ts") <= col("p_ts"))
      .select(col("p_id"), col("c_id"), col("user_id"))
  }

  /** Driver entry: the stream-stream join executed as a real streaming
    * query (append mode — inner interval joins emit as matches arrive). */
  def streamedClickAttribution(spark: SparkSession, sfDir: String): DataFrame =
    runToMemory(spark, purchaseClickJoin(readEventsStream(spark, sfDir)), "append")
      .orderBy("p_id", "c_id")

  /** Stream-static join — the enrichment shape: each micro-batch of events
    * is joined against a STATIC dimension (customer → segment) that is
    * re-resolved per batch but carries no streaming state at all (unlike
    * the stream-stream join above, nothing is watermarked or buffered).
    * The dim side is broadcast: at 100 TB of stream, the per-batch join
    * cost is the batch size, never the history. Aggregation runs in
    * complete mode so the final totals equal the batch twin (the oracle). */
  def segmentValueCounts(events: DataFrame, customers: DataFrame): DataFrame =
    events
      .join(broadcast(customers.select(col("c_custkey").as("user_id"),
        col("c_mktsegment").as("segment"))), Seq("user_id"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_events"),
        sum((col("value").cast("decimal(18,6)") * 1000000).cast("decimal(38,0)"))
          .cast("long").as("sum_value_micros"))

  /** Driver entry: stream-static enrichment executed as a real streaming
    * query (events stream ⋈ static customer parquet). */
  def streamedSegmentCounts(spark: SparkSession, sfDir: String): DataFrame =
    runToMemory(spark,
      segmentValueCounts(readEventsStream(spark, sfDir),
        graft.core.Tables.customer(spark, sfDir)),
      "complete")
      .orderBy("segment")

  /** Driver entry: the same windowed aggregation in APPEND mode — only
    * watermark-CLOSED windows are emitted (the no-data micro-batch after
    * the file batch advances the watermark to max(ts) − 1 h and flushes
    * every window whose end is at or below it; windows inside the final
    * hour stay open and never appear). This is the late-data-safe
    * emission contract a downstream incremental consumer relies on —
    * complete mode (st_window_counts) re-emits everything, append emits
    * each window exactly once, finalized. Oracle: batch twin filtered to
    * closed windows. */
  def streamedClosedWindows(spark: SparkSession, sfDir: String): DataFrame =
    runToMemory(spark, windowedTypeCounts(readEventsStream(spark, sfDir)), "append")
      .orderBy("wstart", "event_type")

  private val runId = new AtomicInteger(0)

  /** The shuffle partitions, hence state stores, a streaming entry's
    * query starts with (runToMemory says why 8). */
  private val StreamStores = "spark.sql.shuffle.partitions" -> 8

  /** Run a streaming DataFrame to completion (AvailableNow) into a memory
    * sink; return the materialized table. */
  def runToMemory(spark: SparkSession, sdf: DataFrame, outputMode: String): DataFrame = {
    val name = s"graft_stream_${runId.incrementAndGet()}"
    // One state store per shuffle partition: at this volume 32 stores are
    // pure per-batch overhead (open/commit/snapshot each). 8 is plenty
    // locally; a production stream sizes this to keyspace, not cores.
    // (Measured r6: dropping to 4 does NOT help — st_click_attrib stays
    // ~2.7 s either way; the cost is micro-batch planning + the four
    // join-state stores' commit cycle, not the store count.)
    graft.core.Session.withConf(spark, StreamStores) {
      sdf.writeStream.format("memory").queryName(name)
        .outputMode(outputMode).trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    }
    spark.table(name)
  }

  /** Driver entry: hourly type counts, executed as a real streaming query.
    * Complete mode so the final (not-yet-watermark-closed) windows are
    * emitted too — making the result equal to the batch twin. */
  def streamedWindowCounts(spark: SparkSession, sfDir: String): DataFrame =
    runToMemory(spark, windowedTypeCounts(readEventsStream(spark, sfDir)), "complete")
      .orderBy("wstart", "event_type")

  /** Driver entry: streamed dedup → distinct active users per event type.
    * The whole file arrives as one micro-batch (AvailableNow, single file),
    * so within-watermark dedup equals exact distinct — which is the oracle. */
  def streamedDistinctUsers(spark: SparkSession, sfDir: String): DataFrame =
    runToMemory(spark, dedupUsersByType(readEventsStream(spark, sfDir)), "append")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("event_type")

  /** Hourly per-user value sums — the streaming half of the windowed
    * top-k. Micro-unit BIGINT terms (the money-sum rule) so the streamed
    * partial aggregation is order-independent. */
  def windowedUserSums(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(sum(round(col("value") * 1e6).cast("long")).as("sum_micro"),
        count(lit(1)).as("n_events"))

  /** Driver entry: streaming windowed leaderboard — hourly top-3 users by
    * summed value. The continuously-maintained half (windowed per-user
    * sums, bounded state: users active within the watermark horizon) runs
    * as a real streaming query; the rank-within-window is the cheap batch
    * pass a dashboard runs over the sink table — the standard split: rank
    * state is NOT streaming state (top-k per closed window never changes
    * once the window closes, so ranking belongs downstream of the sink). */
  def streamedTopkPerWindow(spark: SparkSession, sfDir: String,
                            maxUser: Long = 50L, k: Int = 3): DataFrame = {
    val t = runToMemory(spark,
      windowedUserSums(readEventsStream(spark, sfDir).filter(col("user_id") < maxUser)),
      "complete")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("window").orderBy(desc("sum_micro"), asc("user_id"))
    t.withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= k)
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
        col("rnk"), col("user_id"), col("sum_micro"), col("n_events"))
      .orderBy("wstart", "rnk")
  }

  /** Driver entry: streamed session windows (10-minute gap) for a bounded
    * user slice, complete mode so every session (including the last, not
    * yet watermark-closed one) is emitted — equal to the batch
    * `RelOps.sessionize` twin, which is the oracle. */
  def streamedSessions(spark: SparkSession, sfDir: String): DataFrame =
    runToMemory(spark,
      sessionCounts(readEventsStream(spark, sfDir).filter(col("user_id") < 20)),
      "complete")
      .select(col("user_id"), col("sstart"), col("n_events"))
      .orderBy("user_id", "sstart")

  /** Driver entry: per-user custom-state summary, executed as a real
    * streaming query (Append + the whole file as one AvailableNow batch →
    * one emitted summary per user, equal to the batch aggregation, which
    * is the oracle). */
  def streamedUserStats(spark: SparkSession, sfDir: String): DataFrame =
    runToMemory(spark,
      userStats(readEventsStream(spark, sfDir).filter(col("user_id") < 50)),
      "append")
      .orderBy("user_id")

  /** S13 — the STREAMING twin of s12: a streaming dedup over the events
    * file MERGEd into the transactional table (graft.core.TxTable) via
    * foreachBatch, then read back IN THE SAME SESSION. Each distinct user
    * in the event slice becomes one upsert row — users whose id maps onto
    * an existing customer key UPDATE that node (house → STREAMED), the
    * rest INSERT app-created users (the reference's app.py:100-132 user
    * path, arriving as a stream). The probe output shows updated,
    * inserted, and untouched rows side by side; the oracle states the
    * post-MERGE table. Table + checkpoint live in fresh temp dirs per
    * invocation (a mutated table cannot be a shared artifact);
    * [[graft.lifecycle.Lifecycle.demo]] collects the bounded output before
    * it drops them. */
  def streamedTxMerge(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.core.TxTable
    Lifecycle.demo(spark, "s13") { case Seq(root) =>
      // A 200-key base slice: the protocol under test (stream →
      // foreachBatch → transactional MERGE → read-your-writes) is
      // IDENTICAL at any base size, and the full-table variant spent
      // most of its wall time writing 150k unrelated customer rows
      // through create+merge at sf0.1 — cost without coverage. The
      // probe still exercises updated, inserted AND unmodified rows.
      val base = Lifecycle.protocolSlice(spark, sfDir)
      // 4 buckets (s64's measured rule): a ≤203-row demo pays per-file
      // create cost, not scan cost — the default 16 buckets meant 4× the
      // files per commit for the same protocol coverage.
      val t = TxTable.create(spark, s"$root/table", base, Seq("name"),
        numBuckets = 4)
      def nameOf(uid: org.apache.spark.sql.Column) =
        when(uid % 3 === 0, concat(lit("Customer#"), lpad(uid.cast("string"), 9, "0")))
          .otherwise(concat(lit("User#"), uid.cast("string")))
      val upd = readEventsStream(spark, sfDir)
        .filter(col("event_id") < 500)
        .select(nameOf(col("user_id")).as("name"))
        .dropDuplicates("name") // one upsert row per user (single batch here)
        .select(col("name"), lit("STREAMED").as("house"),
          lit(0.0).cast("double").as("acctbal"))
      val q = upd.writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          t.merge(batch)
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // Bounded probe: the streamed names for user_id <= 30 plus two
      // untouched customers — updated, inserted, and unmodified rows in
      // one deterministic slice.
      val probe = graft.core.Tables.events(spark, sfDir)
        .filter(col("event_id") < 500 && col("user_id") <= 30)
        .select(nameOf(col("user_id")).as("name")).distinct()
        .unionByName(spark.createDataFrame(Seq(
          Tuple1("Customer#000000002"), Tuple1("Customer#000000004"))).toDF("name"))
        .distinct()
      t.snapshot()
        .join(probe, Seq("name"))
        .select(col("name"), col("house"), round(col("acctbal"), 2).as("acctbal"))
        .orderBy("name")
    }
  }

  /** Schema of documents.parquet for the streaming ingest probe. */
  val docsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** CONTINUOUS-INGEST dedup — the streaming twin of `dd_incremental`:
    * every arriving micro-batch of documents is probed against the
    * persisted source-partitioned shingle index inside `foreachBatch`,
    * emitting each new doc's best existing near-dup. This is the shape a
    * 100 TB pipeline actually runs — the crawler streams, the index is a
    * maintained artifact, and dedup is a per-batch probe whose cost is
    * proportional to the BATCH (the corpus appears only as pruned index
    * partitions). The driver-side buffer holds match rows only (bounded by
    * the batch's dup count, not by any table); index maintenance itself is
    * the already-demonstrated artifact build — appending the cleared
    * batch's shingle rows to its own partition directory is one
    * `write.mode("append")` with the same layout. */
  def streamedIncrementalDedup(spark: SparkSession, sfDir: String,
                               batchSource: String = "src3"): DataFrame = {
    val stream = spark.readStream.schema(docsSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(sfDir)
      .filter(col("source") === batchSource)
    val matches = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val q = stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val rows = graft.ops.TextOps
          .incrementalDedupOf(spark, sfDir, batch, batchSource, threshold = 0.8)
          .collect() // bounded: near-dup matches of THIS batch only
        matches.synchronized {
          matches ++= rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    import spark.implicits._
    matches.toSeq.toDF("doc_id", "dup_of", "jaccard").orderBy("doc_id")
  }

  /** Append-mode streaming PARQUET FILE SINK round-trip — the production
    * stream→lake handoff (memory sinks demo; file sinks ship). Watermark-
    * closed hourly windows are written exactly-once to a parquet directory
    * with a streaming checkpoint, then read back as a batch source and
    * re-aggregated per type (the downstream consumer stand-in). Two pieces
    * make this the at-scale shape: the sink's `_spark_metadata` commit log
    * means readers see only files of COMMITTED batches (a crashed batch's
    * orphans are invisible), and the checkpoint makes re-runs incremental —
    * a second invocation over the same input writes NO new files (spec-
    * verified). Only closed windows are emitted in append mode, so the
    * oracle applies the same `window end <= max ts - watermark` rule as
    * st_closed_windows before the consumer aggregation. */
  def streamedFileSink(spark: SparkSession, sfDir: String): DataFrame =
    Lifecycle.demo(spark, "s14") { case Seq(root) =>
      graft.core.Session.withConf(spark, StreamStores) {
        val q = windowedTypeCounts(readEventsStream(spark, sfDir))
          .writeStream.format("parquet")
          .option("path", s"$root/out")
          .option("checkpointLocation", s"$root/ckpt")
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        graft.core.FileMeta.parquet(spark, s"$root/out")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_windows"),
            sum("n").cast("long").as("n_events"),
            sum("sum_value").cast("long").as("sum_value_micros"))
          .orderBy("event_type")
      }
    }

  /** The reference's user-MERGE path (app.py:100-132) as a streaming
    * foreachBatch upsert: each micro-batch of (name, house) rows is MERGEd
    * into a graft.core.TxTable, last-writer-wins by name — the streaming
    * twin of the s12 transactional path. The per-batch body IS `MERGE
    * INTO` (copy-on-write buckets + atomic manifest commit), so a crash
    * between batches leaves the last committed version intact and the
    * checkpoint replays only unprocessed batches — unlike the previous
    * overwrite-and-swap parquet cycle, which had a window where the table
    * directory held a half-written state. At 100 TB the TxTable becomes
    * Delta/Iceberg; the batch-function shape is identical. */
  def foreachBatchUpsert(spark: SparkSession, updates: DataFrame, tablePath: String,
                         checkpoint: String): Unit = {
    import graft.core.TxTable
    val q = updates.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint) // resume → process only new batches
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (new java.io.File(s"$tablePath/_log").exists())
          TxTable.open(spark, tablePath, Seq("name")).merge(batch)
        else
          TxTable.create(spark, tablePath, batch, Seq("name"))
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** The MEDALLION hop — upstream TxTable change feed → downstream
    * TxTable, composed from the shipped halves (s41's change-feed source,
    * the foreachBatch MERGE sink): one AvailableNow pass reads every
    * not-yet-checkpointed upstream VERSION as a micro-batch, folds it to
    * the latest event per key (post-image wins; a same-version delete
    * beats its insert), MERGEs post-images and retires deletes on the
    * downstream table, and records which upstream versions it applied.
    * Exactly-once shape: offsets are upstream versions (immutable
    * manifests) tracked by the streaming checkpoint, the sink commit is
    * the TxTable's own atomic manifest publish, and the per-batch fold
    * is IDEMPOTENT (re-merging the same post-images is a no-op), so a
    * kill anywhere replays at most one batch with identical effect —
    * Delta's own end-to-end story, run here over two real process-shaped
    * passes (StreamingSpec kills between them). Returns the upstream
    * versions this pass applied — a resumed pass must report ONLY new
    * ones. */
  def medallionHop(spark: SparkSession, upstream: String, downstream: String,
                   checkpoint: String, keyCol: String = "name"): Set[Long] = {
    import graft.core.TxTable
    val applied = scala.collection.mutable.Set[Long]()
    val q = spark.readStream.format("graft")
      .option("changeFeed", "true").load(upstream)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch0: DataFrame, _: Long) =>
        // ONE materialization of the micro-batch: the fold, the split and
        // the applied-version set all derive from it — without this, each
        // derived action re-plans and re-reads the change-feed source.
        val batch = batch0.localCheckpoint()
        val valCols = batch.columns
          .filterNot(c => c == "_commit_version" || c == "_change_type" ||
            c == keyCol).toSeq
        // Latest event per key: version, then delete-beats-insert. The
        // ordering fields use reserved names so a value column named "v"
        // or "d" can't make the struct extraction ambiguous.
        val tops = batch.groupBy(keyCol)
          .agg(max(struct(
            Seq(col("_commit_version").as("__graft_cv"),
              (col("_change_type") === "delete").cast("int").as("__graft_del")) ++
              valCols.map(col): _*)).as("top"))
        val dn = TxTable.open(spark, downstream, Seq(keyCol))
        val ups = tops.filter(col("top.__graft_del") === 0)
          .select(col(keyCol) +: valCols.map(c => col(s"top.$c").as(c)): _*)
        val dels = tops.filter(col("top.__graft_del") === 1).select(keyCol)
        // One ATOMIC commit per micro-batch: upserts and deletes land
        // together (TxTable.applyChanges), so the downstream never shows
        // a mid-batch state and each batch costs one bucket pass + one
        // publish instead of two of each (the merge-then-MoR-delete
        // shape this hop originally ran).
        dn.applyChanges(ups, dels)
        batch.select("_commit_version").distinct().collect()
          .foreach(r => applied += r.getLong(0))
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    applied.toSet
  }
}
