package graft.tools

import org.apache.spark.sql.functions._

/** One-shot debug probe for the s49/s51 shallow-clone conversion: builds
  * the frozen pre-compact artifact, clones it, and compares the connector
  * read against the native snapshot at each step, printing row counts so
  * a clone-path read bug localizes to pre-compact vs post-compact. */
object CloneProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.Session.local(cpus)
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.setInt("parquet.block.size", 16 * 1024)
    hconf.setInt("parquet.page.size", 4 * 1024)
    val base = graft.core.Tables.lineitem(spark, sfDir).select(
      (col("l_orderkey") * 8 + col("l_linenumber")).as("k"),
      round(col("l_extendedprice") * 100).cast("long").as("price_cents"),
      col("l_partkey").as("part"),
      col("l_returnflag").as("flag"))
    val art = java.nio.file.Files.createTempDirectory("graft_cp_art").toString
    graft.core.TxTable.drop(art)
    graft.core.TxTable.create(spark, art, base, Seq("k"), numBuckets = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_cp_cl").toString
    try {
      val t = graft.core.TxTable.open(spark, art, Seq("k")).shallowClone(dir)
      def conn = spark.read.format("graft").load(dir)
      val pred = col("price_cents").between(2000000L, 2100000L)
      println(s"[cp] base band=${base.filter(pred).count()}")
      println(s"[cp] pre: snap=${t.snapshot().filter(pred).count()} " +
        s"conn=${conn.filter(pred).count()} connAll=${conn.count()} " +
        s"snapAll=${t.snapshot().count()}")
      t.compactZOrder(Seq("price_cents", "part"))
      println(s"[cp] post: snap=${t.snapshot().filter(pred).count()} " +
        s"conn=${conn.filter(pred).count()} connAll=${conn.count()} " +
        s"snapAll=${t.snapshot().count()}")
      conn.filter(pred).groupBy("flag")
        .agg(count(lit(1)).as("n")).orderBy("flag").show()
    } finally {
      graft.core.TxTable.drop(dir); graft.core.TxTable.drop(art)
      hconf.unset("parquet.block.size"); hconf.unset("parquet.page.size")
    }
    spark.stop()
  }
}
