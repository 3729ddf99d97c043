package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling harness for the SKIPPING LADDER — measures the claim the
  * storage entries actually make: "planning-tier pruning is
  * data-size-independent", which `ScalingCurve` cannot test because the
  * registry entries bundle table BUILD (honestly linear — it writes the
  * data) with the probe. This tool builds each layout ONCE per scale
  * factor and then times the PROBE PHASES in isolation (plan probes:
  * 2 warmups + min-of-7, see [[timePlan]]; e2e probes: min-of-3):
  *
  *  - `plan_bloom_point`: scan planning for an In probe on the
  *    bucket-bloom-indexed non-key column — bucket-tier `_bloomidx`
  *    refutation plus footer resolution of admitted files only;
  *  - `plan_zone_range`: scan planning for a range predicate on the
  *    zone-mapped cluster column — per-file `_zonemap` refutation,
  *    zero footer I/O on refuted files;
  *  - `plan_day_range`: scan planning for a 3-day band over a
  *    days(ts)-partitioned events table — path-derived refutation;
  *  - `e2e_bloom_point`: the full pruned point query through the
  *    connector (planning + row-group bloom refutation + decode of
  *    admitted groups);
  *  - `e2e_zone_range`: the full pruned range aggregate.
  *
  * Expected shape, which the committed `skipscale_out.json` pins via
  * ScalingSpec: planning times are METADATA work — O(buckets + admitted
  * files) — so their exponents sit near zero across 10× data steps;
  * end-to-end probes grow sublinearly (admitted bytes, not table
  * bytes). An exponent near 1.0 here would mean a skipping tier
  * silently stopped refuting and the probe degenerated to a scan.
  *
  * Usage: runMain graft.tools.SkipScale [sfDir ...]
  * (default /root/testdata/sf0.01 /root/testdata/sf0.1 /tmp/graft_sf1 —
  * generate the third with tools.ScaleUp first).
  */
object SkipScale {

  private def timeMin3(f: () => Unit): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
    }.min

  /** Planning probes sit at 10–60 ms where JIT/GC noise dominates a
    * min-of-3 — non-monotone samples were recording exponents the gate
    * could neither trust nor tighten. Planning is side-effect-free, so
    * burn 2 warmups (classloading, first-parse) and take min-of-7: the
    * minimum of a side-effect-free probe converges on the true cost,
    * and a tier that silently stops refuting still moves it 10×. */
  private def timePlan(f: () => Unit): Double = {
    (1 to 2).foreach(_ => f())
    (1 to 7).map { _ =>
      val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
    }.min
  }

  def main(args: Array[String]): Unit = {
    val sfDirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1", "/tmp/graft_sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.Session.local(cpus)

    def planOnly(dir: String, filters: Array[org.apache.spark.sql.sources.Filter]): Int =
      graft.sources.GraftDataSource.plannedPartitions(dir, filters).length

    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, String, Double)]
    var dayCountJson = ""

    sfDirs.foreach { sfDir =>
      val tag = sfDir.split('/').last
      val dir = java.nio.file.Files.createTempDirectory(s"graft_skipscale").toString
      val pdir = java.nio.file.Files.createTempDirectory(s"graft_skipscale_p").toString
      val maxRecBefore = spark.conf.getOption("spark.sql.files.maxRecordsPerFile")
      try {
        // ---- lineitem layout: bloom(token) + zonemap(price), sorted ----
        val base = graft.core.Tables.lineitem(spark, sfDir).select(
            (col("l_orderkey") * 8 + col("l_linenumber")).as("k"),
            round(col("l_extendedprice") * 100).cast("long").as("price_cents"))
          .dropDuplicates("k")
          .withColumn("token", md5(col("k").cast("string")))
        val nRows = base.count()
        val t = graft.core.TxTable.create(spark, dir, base, Seq("k"),
          numBuckets = 16)
        // No explicit sizing: the write path AUTO-SIZES each bucket's
        // bloom from the just-written row counts (an earlier run of this
        // harness measured the failure the auto-sizing now prevents —
        // the fixed 2^20-bit default saturates past ~100k values per
        // bucket and a saturated bloom admits every probe).
        t.setBloomColumns(Seq("token"))
        t.setZoneMapColumns(Seq("price_cents"))
        spark.conf.set("spark.sql.files.maxRecordsPerFile", math.max(1L, nRows / 96))
        t.compact(0, Seq("price_cents")) // rebuilds under the declared sidecars
        println(s"[skipscale] $tag lineitem layout built: $nRows rows")

        def hex(k: Long): String = java.security.MessageDigest.getInstance("MD5")
          .digest(k.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
        val targets = Seq(9L, 97L, 801L).map(hex)
        import org.apache.spark.sql.sources.{GreaterThanOrEqual, In, LessThanOrEqual}

        rows += ((tag, "plan_bloom_point", timePlan { () =>
          planOnly(dir, Array(In("token", targets.toArray[Any]))) }))
        rows += ((tag, "plan_zone_range", timePlan { () =>
          planOnly(dir, Array(GreaterThanOrEqual("price_cents", 2000000L),
            LessThanOrEqual("price_cents", 2100000L))) }))
        def conn = spark.read.format("graft").load(dir)
        rows += ((tag, "e2e_bloom_point", timeMin3 { () =>
          conn.filter(col("token").isin(targets: _*)).collect() }))
        rows += ((tag, "e2e_zone_range", timeMin3 { () =>
          conn.filter(col("price_cents").between(2000000L, 2100000L))
            .agg(count(lit(1)), sum("price_cents")).collect() }))

        // ---- events layout: hidden days(ts) partitioning ----
        val ev = graft.core.Tables.events(spark, sfDir)
          .select("event_id", "ts", "event_type", "value")
        val pt = graft.core.TxTable.create(spark, pdir, ev.limit(0),
          Seq("event_id"), numBuckets = 8)
        pt.setPartitioning("days(ts)")
        pt.merge(ev)
        // The merge ran under the file-size cap set above, so its
        // (bucket × day) cells hold several files; a real table compacts
        // — one file per (bucket × day), CONSTANT file count across scale.
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
        pt.compact()
        println(s"[skipscale] $tag events day layout built")
        val lo = java.time.Instant.parse("2024-01-10T00:00:00Z")
        val hi = java.time.Instant.parse("2024-01-13T00:00:00Z")
        rows += ((tag, "plan_day_range", timePlan { () =>
          planOnly(pdir, Array(GreaterThanOrEqual("ts", lo),
            org.apache.spark.sql.sources.LessThan("ts", hi))) }))
      } finally {
        maxRecBefore match {
          case Some(v) => spark.conf.set("spark.sql.files.maxRecordsPerFile", v)
          case None => spark.conf.unset("spark.sql.files.maxRecordsPerFile")
        }
        graft.core.TxTable.drop(dir); graft.core.TxTable.drop(pdir)
      }
    }

    // ---- DAY-COUNT sweep: constant rows, 10 → 100 → 1000 day dirs ----
    // Scales the number of `_p=` directories (not the data) to measure
    // the LISTING cost in isolation: before directory-level pruning the
    // planning walk enumerated every file of every day dir before the
    // path filter refuted them, so a 3-day probe's plan time grew
    // linearly in the day count. With refuted subtrees skipped at the
    // walk (plus the per-version stats manifest serving the listing from
    // ONE metadata read), the probe's plan time should stay ~flat across
    // a 100× day-count step.
    {
      import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
      val dayCounts = Seq(10, 100, 1000)
      val day0s = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
      val ev0 = graft.core.Tables.events(spark, sfDirs.head)
        .select("event_id", "value").limit(60000)
        // Day-locality like any real ingest: one day lands in few tasks,
        // so the dynamic-partition writer creates O(days × buckets)
        // files, not O(tasks × days × buckets).
        .localCheckpoint()
      val dayTimes = dayCounts.map { nd =>
        val ddir = java.nio.file.Files
          .createTempDirectory(s"graft_skipscale_d$nd").toString
        try {
          val rows = ev0.withColumn("ts", expr(
            s"timestamp_seconds($day0s + (event_id % $nd) * 86400 + (event_id % 3600))"))
            .repartition(32, expr("date_trunc('DAY', ts)"))
          val dt = graft.core.TxTable.create(spark, ddir, rows.limit(0),
            Seq("event_id"), numBuckets = 4)
          dt.setPartitioning("days(ts)")
          dt.merge(rows)
          println(s"[skipscale] day-count layout built: $nd days")
          val lo = java.time.Instant.ofEpochSecond(day0s + 3L * 86400)
          val hi = java.time.Instant.ofEpochSecond(day0s + 6L * 86400)
          timePlan { () =>
            planOnly(ddir, Array(GreaterThanOrEqual("ts", lo), LessThan("ts", hi))) }
        } finally graft.core.TxTable.drop(ddir)
      }
      val eDay = ScalingCurve.exponent(dayTimes(dayTimes.size - 2), dayTimes.last, 10.0)
      println(f"| plan_day_count | ${dayTimes.map(v => f"$v%.3f").mkString(" | ")} " +
        f"| $eDay%.3f | (10/100/1000 day dirs, constant rows)")
      dayCountJson = s""", "plan_day_count": {"times": [${dayTimes.mkString(", ")}], "exponent": $eDay}"""
    }
    spark.stop()

    val byProbe = rows.groupBy(_._2)
    val tags = sfDirs.map(_.split('/').last)
    println(s"\n| probe | ${tags.mkString(" s | ")} s | exponent (last step) |")
    println("|---|" + tags.map(_ => "---|").mkString + "---|")
    val json = new StringBuilder("{")
    byProbe.toSeq.sortBy(_._1).zipWithIndex.foreach { case ((probe, rs), i) =>
      val ts = tags.map(tg => rs.find(_._1 == tg).get._3)
      val e = ScalingCurve.exponent(ts(ts.size - 2), ts.last, 10.0)
      println(s"| $probe | ${ts.map(v => f"$v%.3f").mkString(" | ")} | ${f"$e%.3f"} |")
      if (i > 0) json.append(",")
      json.append(s""""$probe": {"times": [${ts.mkString(", ")}], "exponent": $e}""")
    }
    json.append(dayCountJson).append("}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("skipscale_out.json"), json.toString)
    println("\n[skipscale] wrote skipscale_out.json")
  }
}
