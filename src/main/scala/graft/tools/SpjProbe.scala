package graft.tools

import org.apache.spark.sql.functions._

/** Scratch: measure the storage-partitioned join against the shuffled
  * join on the SAME two co-bucketed TxTables through the GraftCatalog —
  * the number behind the "fact-to-fact merge-key join becomes a local
  * zip" claim. Both runs are the identical SQL; only
  * spark.sql.sources.v2.bucketing.enabled flips. Min-of-3 warm. */
object SpjProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.core.Session.local(32)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the join shape
    val wh = java.nio.file.Files.createTempDirectory("graft_spjprobe").toString
    spark.conf.set("spark.sql.catalog.gspj", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gspj.warehouse", wh)
    try {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .selectExpr("l_orderkey * 8 + l_linenumber AS k", "l_quantity", "l_extendedprice")
      val big = (0 until 8).map(i => li.withColumn("k",
          col("k") + lit(i.toLong * 100000000L)))
        .reduce(_ unionByName _)
      graft.core.TxTable.create(spark, s"$wh/a", big, Seq("k"), numBuckets = 32)
      graft.core.TxTable.create(spark, s"$wh/b",
        big.withColumn("l_quantity", col("l_quantity") * 2),
        Seq("k"), numBuckets = 32)

      def join = spark.sql(
        """SELECT sum(a.l_quantity + b.l_quantity) AS s, count(*) AS n
          |FROM gspj.a a JOIN gspj.b b ON a.k = b.k"""
          .stripMargin)
      def time(label: String)(body: => Unit): Double = {
        body // warm
        val ts = (1 to 3).map { _ =>
          val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
        }
        println(f"$label%-18s min=${ts.min}%.3f s  (runs ${ts.map(v => f"$v%.3f").mkString(", ")})")
        ts.min
      }
      def exchanges(): Int =
        "Exchange".r.findAllIn(join.queryExecution.executedPlan.toString).length
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      // The scalar aggregate above the join keeps ONE SinglePartition
      // exchange in every plan; SPJ removes the TWO join-input exchanges.
      println("spj_exchanges=" + exchanges())
      val spj = time("SPJ (zero-shuffle)")(join.collect())
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      println("shuffled_exchanges=" + exchanges())
      val shuffled = time("shuffled join")(join.collect())
      println(f"shuffled/SPJ = ${shuffled / spj}%.2f x")
    } finally graft.core.TxTable.drop(wh)
    spark.stop()
  }
}
