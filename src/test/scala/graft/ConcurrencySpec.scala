package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** Result stability under CONCURRENT identical queries on one session —
  * the correctness half of the service-shape claim (BASELINE.md note 74
  * records the latency half). The reference is an
  * interactive web app: a query service multiplexes many requests over one
  * SparkSession, so a scan, join, or top-k whose result depended on
  * scheduling order would be a correctness bug only visible under load. */
class ConcurrencySpec extends AnyFunSuite {
  import TestSpark._

  /** Interrupt and wait out a writer pool before the table is dropped:
    * a drop racing live writers fails with DirectoryNotEmptyException,
    * which would replace the failed writer's own exception. */
  private def stopWriters(pool: java.util.concurrent.ExecutorService): Unit = {
    pool.shutdownNow()
    pool.awaitTermination(2, MINUTES)
  }

  test("concurrent identical interactive queries return identical results") {
    val names = Seq("j1_winder_topk", "j1_winder_depth2", "j2_expand_1hop", "p3_search_ci")
    def run(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, sf)
        .collect().map(_.mkString("|")).sorted.toSeq
    val refs = names.map(n => n -> run(n)).toMap // serial reference (warm)

    val pool = java.util.concurrent.Executors.newFixedThreadPool(12)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futs = (0 until 12).map { i =>
        val q = names(i % names.length)
        Future { q -> run(q) }
      }
      val res = Await.result(Future.sequence(futs), 5.minutes)
      res.foreach { case (q, r) =>
        assert(r == refs(q), s"concurrent $q diverged from its serial result")
      }
    } finally pool.shutdown()
  }

  test("concurrent MERGE writers: linearizable version history, no torn or lost commits") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_conc_writers").toString
    val writers = 3
    val merges = 2
    try {
      // Each writer re-stamps its OWN key slice (disjoint keys, shared
      // buckets — every commit races; the loser's optimistic rebase must
      // carry the winner's rows forward).
      val base = graft.core.Graph.nodes(spark, sf)
        .filter(col("nid") <= writers * 25L)
        .select(col("name"), (col("nid") % writers).cast("int").as("writer"),
          lit(0L).as("stamp"))
      graft.core.TxTable.create(spark, dir, base, Seq("name"), numBuckets = 8)

      // Mid-flight readers: one merge re-stamps a writer's whole slice
      // atomically, so every snapshot must show ONE stamp per writer.
      val torn = new java.util.concurrent.atomic.AtomicLong(0)
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val readerPool = java.util.concurrent.Executors.newFixedThreadPool(1)
      val reader = readerPool.submit(new Runnable {
        override def run(): Unit = {
          val rt = graft.core.TxTable.open(spark, dir, Seq("name"))
          while (!stop.get()) {
            val bad = rt.snapshot().groupBy("writer")
              .agg(countDistinct("stamp").as("k")).filter(col("k") > 1).count()
            if (bad > 0) torn.incrementAndGet()
          }
        }
      })

      val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val futs = (0 until writers).map { w =>
        Future {
          val t = graft.core.TxTable.open(spark, dir, Seq("name"))
          (1 to merges).foreach { it =>
            t.merge(base.filter(col("writer") === w)
              .withColumn("stamp", lit(w * 1000L + it)))
          }
          t.publishRetries.get()
        }
      }
      val retries = try Await.result(Future.sequence(futs), 10.minutes).sum
      finally {
        stop.set(true); readerPool.shutdown()
        stopWriters(pool)
      }
      reader.get()

      val t = graft.core.TxTable.open(spark, dir, Seq("name"))
      // Linearizable history: every commit owns exactly one version
      // number, so the log is DENSE — create at v0, then one version per
      // successful merge, no gaps, no shared numbers (publish is
      // create-exclusive) — and each recorded op is what ran.
      assert(t.version == writers * merges,
        s"expected ${writers * merges} merge commits after v0, head is v${t.version}")
      val hist = t.history().orderBy("version").collect()
      assert(hist.map(_.getLong(0)).toSeq == (0L to t.version),
        "version history has gaps — a commit number was skipped or lost")
      assert(hist.head.getString(1) == "create" &&
        hist.tail.forall(_.getString(1) == "merge"),
        s"unexpected ops in history: ${hist.map(_.getString(1)).toSeq}")
      // No lost updates: every writer's final stamp survived all rebases.
      assert(t.snapshot()
        .filter(col("stamp") =!= col("writer") * 1000L + merges).count() == 0,
        "a rebase dropped a winner's rows (lost update)")
      assert(torn.get() == 0, s"readers observed ${torn.get()} torn snapshots")
      // Contention was real (shared buckets) yet never an error.
      assert(retries >= 0)
    } finally graft.core.TxTable.drop(dir)
  }

  test("optimistic loop is correct over a primitive offering ONLY put-if-absent (object-store mock)") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_conc_putif").toString
    // Conditional-PUT mock: no hard links, no rename-into-place — a
    // single atomic claim set + byte copy, the exact contract an object
    // store's `If-None-Match: *` PUT gives. Claims are remembered even
    // if a rival deleted/recreated nothing — one winner per target path
    // EVER, which is strictly weaker than the local-fs primitive (a
    // second claim after a delete would also fail) and therefore a
    // sound stand-in.
    object PutIfAbsentOnly extends graft.core.TxTable.CommitPrimitive {
      val claims = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      val puts = new java.util.concurrent.atomic.AtomicLong(0)
      def putIfAbsent(target: java.nio.file.Path,
                      tmp: java.nio.file.Path): Boolean = {
        puts.incrementAndGet()
        val won = claims.add(target.toAbsolutePath.toString)
        if (won) java.nio.file.Files.copy(tmp, target,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        java.nio.file.Files.deleteIfExists(tmp)
        won
      }
    }
    val before = graft.core.TxTable.commitPrimitive
    graft.core.TxTable.commitPrimitive = PutIfAbsentOnly
    try {
      val writers = 3
      val merges = 2
      val base = graft.core.Graph.nodes(spark, sf)
        .filter(col("nid") <= writers * 25L)
        .select(col("name"), (col("nid") % writers).cast("int").as("writer"),
          lit(0L).as("stamp"))
      graft.core.TxTable.create(spark, dir, base, Seq("name"), numBuckets = 8)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val futs = (0 until writers).map { w =>
        Future {
          val t = graft.core.TxTable.open(spark, dir, Seq("name"))
          (1 to merges).foreach { it =>
            t.merge(base.filter(col("writer") === w)
              .withColumn("stamp", lit(w * 1000L + it)))
          }
        }
      }
      try Await.result(Future.sequence(futs), 10.minutes)
      finally pool.shutdown()
      val t = graft.core.TxTable.open(spark, dir, Seq("name"))
      assert(t.version == writers * merges,
        s"expected ${writers * merges} merges after v0, head is v${t.version}")
      val hist = t.history().orderBy("version").collect()
      assert(hist.map(_.getLong(0)).toSeq == (0L to t.version),
        "version history has gaps under the put-if-absent mock")
      assert(t.snapshot()
        .filter(col("stamp") =!= col("writer") * 1000L + merges).count() == 0,
        "a rebase dropped a winner's rows (lost update) under the mock")
      assert(PutIfAbsentOnly.puts.get() > 0 &&
        PutIfAbsentOnly.claims.size() > 0,
        "mock primitive never exercised — the seam is not wired")
    } finally {
      graft.core.TxTable.commitPrimitive = before
      graft.core.TxTable.drop(dir)
    }
  }

  test("disjoint-bucket writers resolve lost races without recompute or corruption") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_conc_disjoint").toString
    val writers = 4
    val merges = 3
    try {
      // Writer slices assigned by BUCKET (the table's own hash), so no
      // two writers ever touch the same bucket: every lost publish takes
      // the commit loop's metadata-only re-point — the re-pointed
      // commit dir must carry the loser's rows without a recompute, and
      // the winner's rows must survive untouched.
      val base = graft.core.Graph.nodes(spark, sf)
        .filter(col("nid") <= 100L)
        .select(col("name"),
          pmod(pmod(xxhash64(col("name")), lit(8)), lit(writers))
            .cast("int").as("writer"),
          lit(0L).as("stamp"))
        .localCheckpoint()
      graft.core.TxTable.create(spark, dir, base, Seq("name"), numBuckets = 8)

      // A start barrier per round maximizes genuinely racing publishes.
      val barrier = new java.util.concurrent.CyclicBarrier(writers)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val futs = (0 until writers).map { w =>
        Future {
          val t = graft.core.TxTable.open(spark, dir, Seq("name"))
          (1 to merges).foreach { it =>
            barrier.await(2, MINUTES)
            t.merge(base.filter(col("writer") === w)
              .withColumn("stamp", lit(w * 1000L + it)))
          }
          t.publishRetries.get()
        }
      }
      val retries = try Await.result(Future.sequence(futs), 10.minutes).sum
      finally stopWriters(pool)

      val t = graft.core.TxTable.open(spark, dir, Seq("name"))
      assert(t.version == writers * merges,
        s"expected ${writers * merges} merge commits after v0, head is v${t.version}")
      val hist = t.history().orderBy("version").collect()
      assert(hist.map(_.getLong(0)).toSeq == (0L to t.version),
        "version history has gaps")
      assert(hist.tail.forall(_.getString(1) == "merge"),
        s"unexpected ops in history: ${hist.map(_.getString(1)).toSeq}")
      // Every writer's LAST stamp is the final state for its whole slice
      // — a resolution that dropped loser rows or clobbered winner rows
      // would show here.
      assert(t.snapshot()
        .filter(col("stamp") =!= col("writer") * 1000L + merges).count() == 0,
        "disjoint resolution lost or clobbered rows")
      // The races were real: barrier-aligned publishes must collide at
      // least once across writers*merges rounds (if this ever flakes to
      // zero the assert below is the one to relax, not the ones above).
      assert(retries > 0, "no publish race occurred — probe lost its teeth")
    } finally graft.core.TxTable.drop(dir)
  }

  test("update(where,set) loser rebases when a winner adds matching rows to an untouched bucket") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_conc_updskew").toString
    try {
      // UPDATE's read-set is every bucket (predicate scan), so the
      // disjoint-buckets metadata retry alone is UNSOUND for it: a winner
      // that commits predicate-matching rows into a bucket the loser
      // never touched must force a rebase, or the loser publishes a head
      // that silently misses those rows (write-skew / lost update). The
      // race window is a few milliseconds wide, so the spec drives it
      // DETERMINISTICALLY through the pre-publish hook.
      val base = spark.range(1, 51)
        .select(concat(lit("k"), col("id")).as("id"),
          (col("id") % 10 * 10).cast("long").as("v"),
          lit("old").as("flag"))
      val t = graft.core.TxTable.create(spark, dir, base, Seq("id"),
        numBuckets = 16)
      // Warm-up merge: normalizes the recorded schema DDL to the
      // conform'd (all-nullable) form every later commit writes.
      // Without it the loser's resolve would bail on a NULLABILITY
      // mismatch between create-time and merge-time DDL — a rebase for
      // the wrong reason, and this spec would pass even against the
      // unsound retry it exists to catch.
      t.merge(base.filter(col("id") === "k1"))

      // The update touches only buckets holding v >= 90 rows; pick a
      // winner key whose bucket is OUTSIDE that set (exists w.h.p. over
      // 16 buckets; assert to keep the spec honest).
      val touched = t.lookupBuckets(base.filter(col("v") >= 90).select("id"))
      val winnerKey = (1 to 1000).map(i => s"w$i").find { k =>
        !touched.contains(t.lookupBuckets(
          spark.createDataFrame(Seq(Tuple1(k))).toDF("id")).head)
      }.get
      val winnerRow = spark.createDataFrame(Seq((winnerKey, 500L, "old")))
        .toDF("id", "v", "flag")

      // Fire once: the winner merges mid-flight (between the loser's data
      // write and its publish), wins the version, and the loser's publish
      // fails — landing it exactly in the resolve path under test.
      @volatile var fired = false
      t.prePublishHook = () => if (!fired) {
        fired = true
        graft.core.TxTable.open(spark, dir, Seq("id")).merge(winnerRow)
      }
      t.update("v >= 90", Map("flag" -> "'hit'"))
      assert(fired, "hook never ran — the spec exercised nothing")

      // Serialized after the winner, the update owes its SET to EVERY
      // matching row — including the winner's row in the untouched
      // bucket. The unsound metadata retry leaves it at 'old'.
      val missed = t.snapshot()
        .filter(col("v") >= 90 && col("flag") =!= "hit").count()
      assert(missed == 0,
        s"$missed matching rows missed the UPDATE (write-skew): the " +
          "loser re-pointed its stale commit over a conflicting winner")
      assert(t.snapshot()
        .filter(col("v") < 90 && col("flag") =!= "old").count() == 0,
        "the rebase touched rows outside the predicate")
    } finally graft.core.TxTable.drop(dir)
  }

  test("deleteWhere loser rebases when a winner adds matching rows to an untouched bucket") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_conc_delskew").toString
    try {
      // Same write-skew shape as the update case: deleteWhere's read-set
      // is every bucket, so a winner committing predicate-MATCHING rows
      // into a bucket the loser never touched must force a rebase — a
      // re-pointed head would silently keep rows the delete owes removal.
      val base = spark.range(1, 51)
        .select(concat(lit("k"), col("id")).as("id"),
          (col("id") % 10 * 10).cast("long").as("v"))
      val t = graft.core.TxTable.create(spark, dir, base, Seq("id"),
        numBuckets = 16)
      t.merge(base.filter(col("id") === "k1")) // normalize the DDL form
      val touched = t.lookupBuckets(base.filter(col("v") >= 90).select("id"))
      val winnerKey = (1 to 1000).map(i => s"w$i").find { k =>
        !touched.contains(t.lookupBuckets(
          spark.createDataFrame(Seq(Tuple1(k))).toDF("id")).head)
      }.get
      val winnerRow = spark.createDataFrame(Seq((winnerKey, 500L)))
        .toDF("id", "v") // v=500 MATCHES the delete predicate
      @volatile var fired = false
      t.prePublishHook = () => if (!fired) {
        fired = true
        graft.core.TxTable.open(spark, dir, Seq("id")).merge(winnerRow)
      }
      t.deleteWhere("v >= 90")
      assert(fired, "hook never ran — the spec exercised nothing")
      // Serialized after the winner, the delete owes removal to EVERY
      // matching row — including the winner's row in the untouched
      // bucket. The unsound metadata retry would leave it alive.
      assert(t.snapshot().filter(col("v") >= 90).count() == 0,
        "matching rows survived the DELETE (write-skew): the loser " +
          "re-pointed its stale commit over a conflicting winner")
      assert(t.snapshot().filter(col("v") < 90).count() ==
        base.filter(col("v") < 90).count(),
        "the rebase deleted rows outside the predicate")
    } finally graft.core.TxTable.drop(dir)
  }

  test("every writer verb counts a lost publish and ends in the serial-order state") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    import graft.core.TxTable
    // Each verb runs on a handle whose pre-publish hook first lands a
    // winning merge through another handle, so the verb's first claim
    // always loses. The race must end where the serial order (winner,
    // then verb) ends — computed by running those two steps on a twin
    // table — with a dense history and the lost claim counted.
    def batch(rows: (String, Int, String)*): DataFrame = rows.toDF("k", "n", "s")
    val base = batch((0 until 24).map(i => (f"k$i%02d", i, "a")): _*)
    val winner = batch(("w01", 100, "w"))
    def keys(ks: String*): DataFrame = ks.toDF("k")
    // (verb, set-up run before the race, the verb itself)
    val verbs: Seq[(String, TxTable => Unit, TxTable => Unit)] = Seq(
      ("merge", _ => (), t => t.merge(batch(("k01", -1, "m")))),
      ("mergeClauses", _ => (),
        t => t.mergeClauses(batch(("k02", -2, "c"), ("x9", 9, "c")), "true", "false", "true")),
      ("update", _ => (), t => t.update("n >= 20", Map("s" -> "'u'"))),
      ("deleteWhere", _ => (), t => t.deleteWhere("n < 3")),
      ("delete", _ => (), t => t.delete(keys("k04"))),
      ("deleteMergeOnRead", _ => (), t => t.deleteMergeOnRead(keys("k05"))),
      ("applyChanges", _ => (), t => t.applyChanges(batch(("k06", -6, "ap")), keys("k07"))),
      ("overwriteAll", _ => (), t => t.overwriteAll(batch(("o1", 1, "o")))),
      ("compact", _ => (), t => t.compact()),
      ("compactPartial", t => t.deleteMergeOnRead(keys("k08")), t => t.compactPartial()),
      ("addColumn", _ => (), t => t.addColumn("extra", "STRING", "'d'")),
      ("dropColumn", _ => (), t => t.dropColumn("s")),
      ("widenColumn", _ => (), t => t.widenColumn("n", "BIGINT")),
      ("renameColumn", _ => (), t => t.renameColumn("s", "label")),
      ("restore", t => t.merge(batch(("k09", -9, "r"))), t => t.restore(0L)),
      ("fastForward", t => t.branch("wap").merge(batch(("k10", -10, "f"))),
        t => t.fastForward("wap")))
    def state(t: TxTable): Seq[String] = {
      val df = t.snapshot()
      df.select(df.columns.sorted.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.mkString("|")).sorted.toSeq
    }
    verbs.foreach { case (name, setUp, verb) =>
      val dir = java.nio.file.Files.createTempDirectory(s"graft_conc_$name").toString
      try {
        val twin = TxTable.create(spark, s"$dir/twin", base, Seq("k"), numBuckets = 4)
        setUp(twin)
        twin.merge(winner)
        val serialOutcome = scala.util.Try(verb(twin)).isSuccess

        TxTable.create(spark, s"$dir/t", base, Seq("k"), numBuckets = 4)
        val t = TxTable.open(spark, s"$dir/t", Seq("k"))
        setUp(t)
        var fired = false
        t.prePublishHook = () => if (!fired) {
          fired = true
          TxTable.open(spark, s"$dir/t", Seq("k")).merge(winner)
        }
        val outcome = scala.util.Try(verb(t)).isSuccess
        assert(fired, s"$name: hook never ran — the race exercised nothing")
        assert(outcome == serialOutcome, s"$name: outcome differs from the serial order")
        assert(t.publishRetries.get() >= 1, s"$name: the lost publish was not counted")
        val hist = t.history().collect().map(_.getLong(0)).sorted.toSeq
        assert(hist == (0L to t.version), s"$name: version history has gaps: $hist")
        assert(state(t) == state(twin), s"$name: the race did not end in the serial-order state")
      } finally TxTable.drop(dir)
    }
  }
}
