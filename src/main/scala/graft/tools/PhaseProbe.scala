package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scratch phase profiler for the s54-style lifecycle entries: time each
  * protocol phase (base build, create, merge, certificate probes) so the
  * optimization targets the measured term, not a guess.
  * Usage: runMain graft.tools.PhaseProbe [sfDir] [reps] [mode]
  * mode `s54` (default) probes the big clustered-write shape; mode `small`
  * probes the ~200-row protocol-demo shape (s40/s64/s65 class) where the
  * commit PROTOCOL, not data volume, is the whole cost. */
object PhaseProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 2
    val mode = if (args.length > 2) args(2) else "s54"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.Session.local(cpus)
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[phase] $label: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }
    if (mode == "s51") {
      import org.apache.spark.sql.functions._
      val hconf = spark.sparkContext.hadoopConfiguration
      (1 to reps).foreach { rep =>
        println(s"=== rep $rep (s51 shape) ===")
        val dir = java.nio.file.Files.createTempDirectory("graft_pp51").toString
        hconf.setInt("parquet.block.size", 256 * 1024)
        hconf.setInt("parquet.page.size", 64 * 1024)
        try {
          val base0 = graft.core.Tables.lineitem(spark, sfDir).select(
            (col("l_orderkey") * 8 + col("l_linenumber")).as("k"),
            round(col("l_extendedprice") * 100).cast("long").as("price_cents"),
            col("l_partkey").as("part"),
            col("l_returnflag").as("flag"))
          val maxPart = graft.core.Tables.footerMaxLong(sfDir, "lineitem", "l_partkey").get
          val t0 = t("create 1-bucket 600k") {
            graft.core.TxTable.create(spark, dir, base0, Seq("k"), numBuckets = 1)
          }
          def conn = spark.read.format("graft").load(dir)
          val predX = col("price_cents").between(2000000L, 2100000L)
          val predY = col("part") <= maxPart / 20
          def emitted(pred: org.apache.spark.sql.Column): Long =
            graft.lifecycle.Lifecycle.scanRowsEmitted(conn.filter(pred))
          t("b0 agg")(t0.snapshot().agg(count(lit(1)), sum("price_cents")).collect())
          t("emitted X pre")(emitted(predX))
          t("emitted Y pre")(emitted(predY))
          t("compactZOrder")(t0.compactZOrder(Seq("price_cents", "part")))
          t("emitted X post")(emitted(predX))
          t("emitted Y post")(emitted(predY))
          t("b1 agg")(t0.snapshot().agg(count(lit(1)), sum("price_cents")).collect())
          t("final agg scan") {
            conn.filter(predX).groupBy("flag")
              .agg(count(lit(1)).as("n"), sum("price_cents").as("sum_cents"))
              .orderBy("flag").collect()
          }
        } finally {
          hconf.unset("parquet.block.size"); hconf.unset("parquet.page.size")
          graft.core.TxTable.drop(dir)
          spark.catalog.clearCache()
        }
      }
      spark.stop(); return
    }
    if (mode == "small") {
      import org.apache.spark.sql.functions._
      (1 to reps).foreach { rep =>
        println(s"=== rep $rep (small lifecycle shape) ===")
        val dir = java.nio.file.Files.createTempDirectory("graft_pp_s").toString
        try {
          val base = t("base build (nodes filter)") {
            graft.lifecycle.Lifecycle.protocolSlice(spark, sfDir)
          }
          val tt = t("create 4-bucket") {
            graft.core.TxTable.create(spark, dir, base, Seq("name"), numBuckets = 4)
          }
          t("merge ~20 rows") {
            tt.merge(tt.snapshot().filter(col("name").endsWith("7"))
              .withColumn("house", lit("PROMOTED")))
          }
          t("deleteMergeOnRead 1 key") {
            tt.deleteMergeOnRead(spark.createDataFrame(
              Seq(Tuple1("Customer#000000013"))).toDF("name"))
          }
          t("snapshot.count")(tt.snapshot().count())
          t("conn read collect") {
            spark.read.format("graft").option("keys", "name").load(dir).collect()
          }
          t("snapshot collect")(tt.snapshot().collect())
          t("update where") {
            tt.update("house = 'BUILDING'", Map("acctbal" -> "acctbal + 1.0"))
          }
          t("compact")(tt.compact(0))
          t("history collect")(tt.history().orderBy("version").collect())
        } finally {
          graft.core.TxTable.drop(dir)
          graft.core.Session.clearCaches(spark)
        }
      }
      spark.stop(); return
    }
    (1 to reps).foreach { rep =>
      println(s"=== rep $rep (s54 shape) ===")
      val dir = java.nio.file.Files.createTempDirectory("graft_pp_a").toString
      val dir2 = java.nio.file.Files.createTempDirectory("graft_pp_b").toString
      val hconf = spark.sparkContext.hadoopConfiguration
      hconf.setInt("parquet.block.size", 256 * 1024)
      hconf.setInt("parquet.page.size", 64 * 1024)
      try {
        val base = t("base build (groupBy k + checkpoint)") {
          graft.core.Tables.lineitem(spark, sfDir).select(
              (col("l_orderkey") * 8 + col("l_linenumber")).as("k"),
              round(col("l_extendedprice") * 100).cast("long").as("pc"),
              col("l_returnflag").as("fl"))
            .groupBy("k")
            .agg(max("pc").as("price_cents"), max("fl").as("flag"))
            .localCheckpoint()
        }
        t("base.count")(base.count())
        val tt = t("create clustered") {
          graft.core.TxTable.create(spark, dir, base, Seq("k"),
            numBuckets = 1, clusterCols = Seq("price_cents"))
        }
        val twin = t("create twin") {
          graft.core.TxTable.create(spark, dir2, base, Seq("k"), numBuckets = 1)
        }
        val upd = base.filter(col("k") % 7 === 0).withColumn("flag", lit("U"))
        t("merge clustered")(tt.merge(upd))
        t("merge twin")(twin.merge(upd))
        val pred = col("price_cents").between(2000000L, 2100000L)
        def emitted(d: String): Long =
          graft.lifecycle.Lifecycle.scanRowsEmitted(spark.read.format("graft").load(d).filter(pred))
        t("contentMatch collect-style") {
          tt.snapshot().collect().map(_.mkString("|")).sorted.toSeq ==
            twin.snapshot().collect().map(_.mkString("|")).sorted.toSeq
        }
        t("contentMatch exceptAll-style") {
          tt.snapshot().exceptAll(twin.snapshot()).isEmpty &&
            twin.snapshot().exceptAll(tt.snapshot()).isEmpty
        }
        t("history")(tt.history().orderBy("version").collect())
        t("emitted clustered")(emitted(dir))
        t("emitted twin")(emitted(dir2))
        t("final agg + checkpoint") {
          spark.read.format("graft").load(dir).filter(pred)
            .groupBy("flag")
            .agg(count(lit(1)).as("n"), sum("price_cents").as("sum_cents"))
            .orderBy("flag").localCheckpoint().count()
        }
      } finally {
        hconf.unset("parquet.block.size"); hconf.unset("parquet.page.size")
        graft.core.TxTable.drop(dir); graft.core.TxTable.drop(dir2)
        graft.core.Session.clearCaches(spark)
      }
    }
    spark.stop()
  }
}
