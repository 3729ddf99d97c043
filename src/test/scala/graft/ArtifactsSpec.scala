package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import graft.core.TxTable
import graft.etl.Artifacts
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The publish contract of `Artifacts.frozen`: a dir at an artifact's
  * path is complete, a failed build leaves nothing there, racing builders
  * agree on one copy, a dir without the ready mark is replaced, and a
  * TxTable survives being published by a rename of its dir. */
class ArtifactsSpec extends AnyFunSuite {
  import TestSpark._

  /** Runs `body` with a fresh input-dir name: artifacts are keyed by that
    * name, so each case owns its own subdir of the artifact dir. */
  private def withFreshSf(body: String => Unit): Unit = {
    val sf = s"/nonexistent/frozen_spec_${java.util.UUID.randomUUID()}"
    try body(sf) finally TxTable.drop(Artifacts.path(sf, ""))
  }

  private def names(dir: Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toList.sorted
    finally s.close()
  }

  test("a build that throws leaves nothing at the path, and the next call builds") {
    withFreshSf { sf =>
      val p = Paths.get(Artifacts.path(sf, "a"))
      val err = intercept[IllegalStateException] {
        Artifacts.frozen(sf, "a") { d =>
          Files.writeString(Paths.get(d, "half"), "x")
          throw new IllegalStateException("build failed")
        }
      }
      assert(err.getMessage == "build failed")
      assert(!Files.exists(p), "a failed build left a dir at the artifact path")
      assert(names(p.getParent).isEmpty, "a failed build left its temp dir behind")
      val dir = Artifacts.frozen(sf, "a")(d => Files.writeString(Paths.get(d, "full"), "y"))
      assert(dir == p.toString && Artifacts.isFrozen(dir))
      assert(names(p).filterNot(_.startsWith("_")) == Seq("full"))
    }
  }

  test("two racing builders publish one complete artifact, never a dir without its mark") {
    withFreshSf { sf =>
      val p = Paths.get(Artifacts.path(sf, "race"))
      val bothBuilding = new CountDownLatch(2)
      val done = new AtomicBoolean(false)
      val seen = new AtomicInteger(0)
      val torn = new AtomicInteger(0)
      val poller = new Thread(() =>
        while (!done.get()) if (Files.exists(p)) {
          seen.incrementAndGet()
          if (!Artifacts.isFrozen(p.toString)) torn.incrementAndGet()
        })
      poller.start()
      val pool = Executors.newFixedThreadPool(2)
      val results = try (1 to 2).map { i =>
        pool.submit(() => Artifacts.frozenValue(sf, "race") { d =>
          // Both builders are past the ready-mark check before either
          // publishes: the race is certain, not left to timing.
          bothBuilding.countDown()
          assert(bothBuilding.await(60, TimeUnit.SECONDS))
          Files.writeString(Paths.get(d, "data"), s"builder $i")
          Thread.sleep(200)
          s"builder $i"
        })
      }.map(_.get(120, TimeUnit.SECONDS))
      finally { pool.shutdown(); done.set(true); poller.join() }
      assert(results.distinct.size == 1, s"builders disagree: $results")
      val (dir, value) = results.head
      assert(dir == p.toString)
      assert(Files.readString(Paths.get(dir, "data")) == value,
        "the published data and the frozen value come from different builds")
      assert(names(p.getParent) == Seq("race"), "the losing builder left its copy behind")
      assert(seen.get() > 0, "the poller never saw the published artifact")
      assert(torn.get() == 0, s"the path held a dir without its mark ${torn.get()} times")
    }
  }

  test("a dir without the ready mark is replaced, and a complete one is never rebuilt") {
    withFreshSf { sf =>
      val p = Paths.get(Artifacts.path(sf, "left"))
      Files.createDirectories(p)
      Files.writeString(p.resolve("stale"), "crashed build")
      assert(!Artifacts.isFrozen(p.toString))
      val builds = new AtomicInteger(0)
      def build(d: String): Unit = {
        builds.incrementAndGet()
        Files.writeString(Paths.get(d, "fresh"), "rebuilt")
      }
      Artifacts.frozen(sf, "left")(build)
      Artifacts.frozen(sf, "left")(build)
      assert(builds.get() == 1)
      assert(Artifacts.isFrozen(p.toString))
      assert(!Files.exists(p.resolve("stale")) && Files.exists(p.resolve("fresh")))
    }
  }

  test("a TxTable published by frozen reads like one built in place") {
    import spark.implicits._
    withFreshSf { sf =>
      val inPlace = Files.createTempDirectory("graft_frozen_inplace").toString
      try {
        val base = (0 until 400).map(i => (f"K$i%03d", i.toLong, s"h${i % 7}"))
          .toDF("k", "v", "h")
        // Every kind of log and sidecar file: zone maps, blooms, stats
        // manifests, deletion vectors and a sorted compaction.
        def build(d: String): Unit = {
          val t = TxTable.create(spark, d, base, Seq("k"), numBuckets = 4,
            zoneMapCols = Seq("v"), bloomCols = Seq("h"))
          t.merge(base.filter(col("v") % 5 === 0).withColumn("h", lit("merged")))
          t.deleteMergeOnRead(base.filter(col("v") % 11 === 0).select("k"))
          t.compact(0, Seq("v"))
        }
        build(inPlace)
        val moved = Artifacts.frozen(sf, "tx")(build)
        def rows(df: DataFrame): Seq[String] =
          df.collect().map(_.mkString("|")).sorted.toSeq
        def conn(d: String) = spark.read.format("graft").load(d)
        val (a, b) = (TxTable.open(spark, inPlace, Seq("k")), TxTable.open(spark, moved, Seq("k")))
        assert(b.version == a.version && a.version >= 3)
        assert(rows(b.snapshot()) == rows(a.snapshot()))
        assert(rows(b.snapshotAt(1L)) == rows(a.snapshotAt(1L)))
        assert(rows(b.snapshot()).size == 400 - 37, "the deletes did not land")
        assert(rows(conn(moved)) == rows(conn(inPlace)))
        val band = col("v").between(100L, 160L)
        assert(rows(conn(moved).filter(band)) == rows(conn(inPlace).filter(band)))
        assert(rows(conn(moved).filter(col("h") === "merged")) ==
          rows(conn(inPlace).filter(col("h") === "merged")))
        assert(rows(b.history()) == rows(a.history()))
      } finally TxTable.drop(inPlace)
    }
  }
}
