package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming semantics the batch oracle can't express: watermark
  * late-data drop, within-watermark dedup, and the foreachBatch upsert
  * (the reference's user-MERGE path, app.py:100-132, as a stream). */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("windowed agg with watermark drops data later than 1 hour (append mode)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")
    val out = StreamingOps.windowedTypeCounts(events)
    val q = out.writeStream.format("memory").queryName("wm_test")
      .outputMode("append").start()
    // batch 1: two on-time events; watermark advances to 12:00 - 1h = 11:00
    mem.addData((ts("2024-06-01 10:10:00"), "click", 1.0),
                (ts("2024-06-01 12:00:00"), "click", 1.0))
    q.processAllAvailable()
    // batch 2: an event at 09:30 — behind the 11:00 watermark → dropped;
    // and one at 13:00 to push the watermark past 12:00.
    mem.addData((ts("2024-06-01 09:30:00"), "click", 99.0),
                (ts("2024-06-01 13:00:00"), "click", 1.0))
    q.processAllAvailable()
    mem.addData((ts("2024-06-01 15:00:00"), "click", 1.0)) // close the 13:00 window
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("wm_test").collect()
    val emitted = rows.map(_.getAs[String]("wstart")).toSet
    assert(emitted.contains("2024-06-01 10:00:00"))
    assert(!emitted.contains("2024-06-01 09:00:00"), "late row must be dropped")
    // the 10:00 window count is 1 — the late 09:30 row never reached it
    val w10 = rows.filter(_.getAs[String]("wstart") == "2024-06-01 10:00:00")
    assert(w10.head.getAs[Long]("n") == 1L)
  }

  test("stream-stream interval join matches clicks across micro-batches, bounds the interval") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String)]
    val events = mem.toDF().toDF("event_id", "ts", "user_id", "event_type")
    val out = StreamingOps.purchaseClickJoin(events)
    val q = out.writeStream.format("memory").queryName("ssj_test")
      .outputMode("append").start()
    // batch 1: clicks only — join state must survive to the next batch
    mem.addData((1L, ts("2024-06-01 10:00:00"), 7L, "click"),
                (2L, ts("2024-06-01 09:00:00"), 7L, "click"))
    q.processAllAvailable()
    // batch 2: purchase 5 min after click 1 (match), 65 min after click 2
    // (outside the 10-min interval); user 8 purchase has no click at all.
    mem.addData((10L, ts("2024-06-01 10:05:00"), 7L, "purchase"),
                (11L, ts("2024-06-01 10:05:00"), 8L, "purchase"))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("ssj_test").collect()
      .map(r => (r.getAs[Long]("p_id"), r.getAs[Long]("c_id"))).toSet
    assert(pairs == Set((10L, 1L)))
  }

  test("flatMapGroupsWithState accumulates per-key state ACROSS micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val events = mem.toDF().toDF("user_id", "ts")
    val out = StreamingOps.userStats(events)
    val q = out.writeStream.format("memory").queryName("ustats_test")
      .outputMode("append").start()
    mem.addData((1L, ts("2024-06-01 10:00:00")), (1L, ts("2024-06-01 10:05:00")))
    q.processAllAvailable()
    mem.addData((1L, ts("2024-06-01 10:30:00"))) // second batch, same key, on time
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ustats_test").filter(col("user_id") === 1L)
      .orderBy("n_events").collect()
    // one emission per batch; the second carries state folded across both
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("n_events") == 2L)
    assert(rows(1).getAs[Long]("n_events") == 3L, "state must survive the batch boundary")
    assert(rows(1).getAs[Long]("first_s") == ts("2024-06-01 10:00:00").getTime / 1000)
  }

  test("userStats state TTL: a user idle past the TTL is EVICTED (counter restarts)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val events = mem.toDF().toDF("user_id", "ts")
    val q = StreamingOps.userStats(events)
      .writeStream.format("memory").queryName("ustats_ttl_test")
      .outputMode("append").start()
    // batch 1: user 1 active at 10:00 → state (n=2), timeout armed ~12:05.
    mem.addData((1L, ts("2024-06-01 10:00:00")), (1L, ts("2024-06-01 10:05:00")))
    q.processAllAvailable()
    // batch 2: only user 2, far in the future → watermark 19:00 ≫ user 1's
    // timeout. User 1 has no data this batch.
    mem.addData((2L, ts("2024-06-01 20:00:00")))
    q.processAllAvailable()
    // batch 3: still only user 2 — executed with the 19:00 watermark, so
    // user 1's armed timeout FIRES here (hasTimedOut → state removed,
    // nothing emitted).
    mem.addData((2L, ts("2024-06-01 20:30:00")))
    q.processAllAvailable()
    // batch 4: user 1 returns → state must have been evicted: n restarts.
    mem.addData((1L, ts("2024-06-01 21:00:00")))
    q.processAllAvailable()
    q.stop()
    val u1 = spark.table("ustats_ttl_test").filter(col("user_id") === 1L)
      .select("n_events", "first_s").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // n=2 from batch 1, then n=1 (NOT 3) after eviction — and first_s
    // restarts at 21:00, proving the old (n, first, last) state is gone.
    assert(u1 == Set((2L, ts("2024-06-01 10:00:00").getTime / 1000),
                     (1L, ts("2024-06-01 21:00:00").getTime / 1000)),
      s"expected evicted-and-restarted state, got $u1")
  }

  test("dropDuplicatesWithinWatermark keeps one row per key within the horizon") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val events = mem.toDF().toDF("ts", "user_id", "event_type")
    val q = StreamingOps.dedupUsersByType(events)
      .writeStream.format("memory").queryName("dd_test")
      .outputMode("append").start()
    mem.addData((ts("2024-06-01 10:00:00"), 1L, "click"),
                (ts("2024-06-01 10:05:00"), 1L, "click"), // dup within watermark
                (ts("2024-06-01 10:10:00"), 2L, "click"))
    q.processAllAvailable()
    q.stop()
    val n = spark.table("dd_test").count()
    assert(n == 2, s"expected 2 deduped rows, got $n")
  }

  test("foreachBatch upsert: last writer wins by name across micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val base = Files.createTempDirectory("graft_upsert").toString
    try {
      val dir = base + "/nodes"
      val ckpt = base + "/ckpt"
      val mem = MemoryStream[(String, String)]
      val updates = mem.toDF().toDF("name", "house")
      mem.addData(("alice", "BUILDING"), ("bob", "MACHINERY"))
      StreamingOps.foreachBatchUpsert(spark, updates, dir, ckpt)
      mem.addData(("alice", "FURNITURE")) // second batch overwrites alice
      StreamingOps.foreachBatchUpsert(spark, updates, dir, ckpt)
      val t = graft.core.TxTable.open(spark, dir, Seq("name"))
      val state = t.snapshot().collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(state == Map("alice" -> "FURNITURE", "bob" -> "MACHINERY"))
      // batch 1 = create (v0), batch 2 = one MERGE commit (v1); the
      // checkpoint guarantees a batch is merged exactly once.
      assert(t.version == 1L)
    } finally graft.core.TxTable.drop(base)
  }

  test("medallion hop kill-and-resume: no duplicated and no lost upstream commits") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_medallion").toString
    val (up, dn, ck) = (s"$root/up", s"$root/dn", s"$root/ck")
    try {
      import spark.implicits._
      val base = (1 to 40).map(i => (s"u$i", i.toLong)).toDF("name", "v")
      val u = graft.core.TxTable.create(spark, up, base, Seq("name"), numBuckets = 4)
      graft.core.TxTable.create(spark, dn, base.limit(0), Seq("name"), numBuckets = 4)
      u.merge(Seq(("u3", 300L), ("u41", 41L)).toDF("name", "v"))

      def dnState = graft.core.TxTable.open(spark, dn, Seq("name")).snapshot()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      def upState = graft.core.TxTable.open(spark, up, Seq("name")).snapshot()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

      // Pass 1 consumes {create, merge}; the "process" then dies (the
      // query object is gone — only the checkpoint survives).
      val applied1 = StreamingOps.medallionHop(spark, up, dn, ck)
      assert(applied1 == Set(0L, 1L), s"pass 1 applied $applied1")
      assert(dnState == upState, "downstream diverged after pass 1 (loss)")

      // Commits land while the hop is down; resume must replay exactly
      // them — nothing re-applied (dup), nothing skipped (loss).
      u.deleteMergeOnRead(Seq(Tuple1("u7")).toDF("name"))
      u.merge(Seq(("u3", 3000L), ("u42", 42L)).toDF("name", "v"))
      val applied2 = StreamingOps.medallionHop(spark, up, dn, ck)
      assert(applied2 == Set(2L, 3L), s"resume applied $applied2")
      assert(dnState == upState, "downstream diverged after resume")
      assert(dnState("u3") == 3000L && !dnState.contains("u7") &&
        dnState("u42") == 42L)

      // An idle resume is a no-op: nothing new, nothing re-applied.
      val applied3 = StreamingOps.medallionHop(spark, up, dn, ck)
      assert(applied3.isEmpty, s"idle resume re-applied $applied3")
    } finally graft.core.TxTable.drop(root)
  }

  test("streamed window counts equal the batch twin (streaming/batch parity)") {
    val streamed = StreamingOps.streamedWindowCounts(spark, sf)
      .collect().map(_.toString).sorted
    val batch = graft.ops.RelOps.eventTumblingWindow(spark, sf)
      .collect().map(_.toString).sorted
    assert(streamed.sameElements(batch))
  }

  test("stream-static join enriches every micro-batch against the static dim") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dim = Seq((1L, "SEG_A"), (2L, "SEG_B"))
      .toDF("c_custkey", "c_mktsegment")
    val mem = MemoryStream[(Long, Double)]
    val events = mem.toDF().toDF("user_id", "value")
    val out = StreamingOps.segmentValueCounts(events, dim)
    val q = out.writeStream.format("memory").queryName("ss_test")
      .outputMode("complete").start()
    mem.addData((1L, 1.5), (2L, 2.0), (3L, 9.9)) // user 3 has no dim row → dropped
    q.processAllAvailable()
    mem.addData((1L, 0.5)) // second micro-batch folds into user 1's segment
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ss_test").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows == Map("SEG_A" -> ((2L, 2000000L)), "SEG_B" -> ((1L, 2000000L))))
  }

  test("transformWithState user stats == flatMapGroupsWithState user stats (API parity)") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val tws = rows(StreamingOps.streamedUserStatsTws(spark, sf))
    val fmg = rows(StreamingOps.streamedUserStats(spark, sf))
    assert(tws.nonEmpty && tws == fmg)
  }

  test("streamed incremental dedup emits exactly the batch probe's matches") {
    def tuples(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val streamed = tuples(StreamingOps.streamedIncrementalDedup(spark, sf).collect())
    val batch = tuples(graft.ops.TextOps.incrementalDedup(spark, sf).collect())
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("parquet file sink: commit log present, re-run with same checkpoint adds no files") {
    val root = Files.createTempDirectory("graft_sink_spec").toString
    def listFiles() = {
      val d = new java.io.File(s"$root/out")
      d.listFiles().filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getName).toSet
    }
    def runOnce(): Unit = {
      val q = StreamingOps.windowedTypeCounts(StreamingOps.readEventsStream(spark, sf))
        .writeStream.format("parquet")
        .option("path", s"$root/out").option("checkpointLocation", s"$root/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    try {
      runOnce()
      // the sink's transaction log makes the directory exactly-once readable
      assert(new java.io.File(s"$root/out/_spark_metadata").exists(),
        "file sink wrote no _spark_metadata commit log")
      val first = listFiles()
      assert(first.nonEmpty)
      val rows1 = spark.read.parquet(s"$root/out").count()
      // re-run against the SAME checkpoint: input unchanged → no new batch,
      // no new files, identical read-back (incremental restart semantics)
      runOnce()
      assert(listFiles() == first, "re-run duplicated sink output files")
      assert(spark.read.parquet(s"$root/out").count() == rows1)
    } finally graft.core.TxTable.drop(root)
  }

  test("checkpoint restart processes only files that arrived since, exactly once") {
    // The production recovery story: a stream dies, new data lands, the
    // restarted query must pick up EXACTLY the unprocessed files — no
    // replays of committed batches, no gaps.
    val root = Files.createTempDirectory("graft_restart_spec").toString
    val src = s"$root/src"
    new java.io.File(src).mkdirs()
    import spark.implicits._
    def addFile(rows: Seq[(Long, String)], name: String): Unit = {
      val stage = Files.createTempDirectory("graft_restart_stage").toString
      rows.toDF("id", "kind").coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(src, s"$name.parquet"))
      graft.core.TxTable.drop(stage)
    }
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, kind STRING")
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(src)
        .writeStream.format("parquet")
        .option("path", s"$root/out").option("checkpointLocation", s"$root/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    try {
      addFile((1L to 5L).map(_ -> "a"), "b1")
      runOnce()
      assert(spark.read.parquet(s"$root/out").count() == 5)
      addFile((6L to 8L).map(_ -> "b"), "b2")
      runOnce()
      val ids = spark.read.parquet(s"$root/out").select("id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == (1L to 8L), s"restart must add exactly the new file's rows: $ids")
    } finally graft.core.TxTable.drop(root)
  }
}
