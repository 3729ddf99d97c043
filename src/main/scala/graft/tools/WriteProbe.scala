package graft.tools

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions._

/** Scratch: WRITE-CONTENTION measurement for the TxTable's optimistic
  * concurrency. ConcurrencyProbe covers the read/service shape; this
  * probe puts N ∈ {2, 8} concurrent MERGE writers on ONE table in TWO
  * regimes, while R reader threads poll snapshots mid-flight:
  *
  *  - `shared`: each writer repeatedly re-stamps its own key slice —
  *    disjoint KEYS, overlapping BUCKETS, so every commit races AND
  *    conflicts: losers must rerun the full rebase loop. The OCC
  *    worst case.
  *  - `disjoint`: each writer's keys hash into its OWN bucket set, so
  *    losers resolve through the DISJOINT-bucKETS metadata retry
  *    (resolveDisjointPublish — the Delta-style logical conflict
  *    resolution): the already-written commit dir is re-pointed at the
  *    new head, no data recompute. The regime a partitioned 100 TB
  *    ingest actually runs, and the one that must scale near-linearly.
  *
  * Reported per (regime, N): wall time, per-merge p50/p99, total
  * publish retries (lost races), and two correctness counters that
  * must be zero — `torn` (a snapshot showing one writer's key slice
  * with MIXED stamps: commits are atomic, a reader sees all of a merge
  * or none of it) and `lost` (a final-state key missing its writer's
  * last stamp: a resolution that dropped the winner's rows).
  * Linearizability of the version history itself (dense versions, one
  * writer per number) is pinned by ConcurrencySpec; numbers recorded
  * in BASELINE.md. */
object WriteProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.core.Session.local(32)
    val merges = 4

    for {
      regime <- Seq("shared", "disjoint")
      n <- Seq(2, 8)
    } {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_writeprobe_$n").toString
      try {
        // Writer-slice assignment: `shared` spreads each writer's keys
        // over every bucket (max conflict); `disjoint` assigns keys by
        // their BUCKET (pmod(xxhash64(name), 8) — the table's own
        // bucketing), so writer bucket sets never overlap.
        val writerOf =
          if (regime == "shared") (col("nid") % n).cast("int")
          else pmod(pmod(xxhash64(col("name")), lit(8)), lit(n)).cast("int")
        val base = graft.core.Graph.nodes(spark, sfDir)
          .filter(col("nid") <= 200L)
          .select(col("name"), writerOf.as("writer"), lit(0L).as("stamp"))
          .localCheckpoint()
        graft.core.TxTable.create(spark, dir, base, Seq("name"), numBuckets = 8)

        val torn = new java.util.concurrent.atomic.AtomicLong(0)
        val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
        val readerPool = java.util.concurrent.Executors.newFixedThreadPool(2)
        val readers = (0 until 2).map { _ =>
          readerPool.submit(new Runnable {
            override def run(): Unit = {
              val rt = graft.core.TxTable.open(spark, dir, Seq("name"))
              while (!stop.get()) {
                // Per-writer stamp uniformity: one merge re-stamps a
                // writer's WHOLE slice, so any snapshot must show exactly
                // one stamp per writer — two means a torn commit.
                val bad = rt.snapshot().groupBy("writer")
                  .agg(countDistinct("stamp").as("k"))
                  .filter(col("k") > 1).count()
                if (bad > 0) torn.incrementAndGet()
              }
            }
          })
        }

        val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        val t0 = System.nanoTime()
        val futs = (0 until n).map { w =>
          Future {
            val t = graft.core.TxTable.open(spark, dir, Seq("name"))
            val times = (1 to merges).map { it =>
              val s = System.nanoTime()
              t.merge(base.filter(col("writer") === w)
                .withColumn("stamp", lit(w * 1000L + it)))
              (System.nanoTime() - s) / 1e9
            }
            (times, t.publishRetries.get())
          }
        }
        val results = Await.result(Future.sequence(futs), 15.minutes)
        val wall = (System.nanoTime() - t0) / 1e9
        stop.set(true); readerPool.shutdown()
        readers.foreach(_.get())
        pool.shutdown()

        val t = graft.core.TxTable.open(spark, dir, Seq("name"))
        val lost = t.snapshot()
          .filter(col("stamp") =!= col("writer") * 1000L + merges).count()
        val all = results.flatMap(_._1).sorted
        def pct(p: Double) = all(math.min(all.size - 1, (p * all.size).toInt))
        println(f"""{"probe":"write_contention_$regime%s","writers":$n,"merges_each":$merges,""" +
          f""""wall_sec":$wall%.2f,"merge_p50":${pct(0.5)}%.2f,"merge_p99":${pct(0.99)}%.2f,""" +
          f""""retries":${results.map(_._2).sum},"final_version":${t.version},""" +
          f""""torn":${torn.get()},"lost":$lost}""")
      } finally graft.core.TxTable.drop(dir)
    }
    spark.stop()
  }
}
