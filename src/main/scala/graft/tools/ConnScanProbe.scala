package graft.tools

import org.apache.spark.sql.functions._

/** Scratch: measure the DSv2 connector's row-materialized data plane
  * (parquet-example Group per row) against the native vectorized path
  * (`TxTable.snapshot()` → Spark's columnar parquet reader) on a bulk
  * scan, so the connector scaladoc's "interop contract, not the bulk-scan
  * path" guidance carries a measured ×-factor instead of a guess.
  * Build once, warm both paths, min-of-3 each. */
object ConnScanProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.core.Session.local(32)
    val dir = java.nio.file.Files.createTempDirectory("graft_connprobe").toString
    try {
      // lineitem is the biggest table at any sf; composite key keeps the
      // merge-key contract honest.
      // Replicate 8x with disjoint keys so the DATA term dominates the
      // per-job constant — the marginal per-row factor is what matters
      // at 100 TB, not the overhead-masked small-scan ratio.
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
          "l_returnflag", "l_linestatus")
      val base = (0 until 8).map(i => li.withColumn("l_orderkey",
          col("l_orderkey") + lit(i.toLong * 10000000L)))
        .reduce(_ unionByName _)
      val t = graft.core.TxTable.create(spark, dir, base,
        Seq("l_orderkey", "l_linenumber"), numBuckets = 32)
      val rows = t.snapshot().count()

      def conn = spark.read.format("graft")
        .option("keys", "l_orderkey,l_linenumber").load(dir)
      def bulkAgg(df: org.apache.spark.sql.DataFrame): Long =
        df.agg(sum(col("l_quantity") + col("l_extendedprice")),
          count(col("l_returnflag"))).head().getLong(1)

      def time(label: String)(body: => Long): Double = {
        body // warm
        val ts = (1 to 3).map { _ =>
          val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
        }
        println(f"$label%-22s min=${ts.min}%.3f s  (runs ${ts.map(v => f"$v%.3f").mkString(", ")})")
        ts.min
      }
      println(s"rows=$rows, buckets=32, sf=$sfDir")
      println("nativeParts=" + t.snapshot().rdd.getNumPartitions +
        " connParts=" + conn.rdd.getNumPartitions)
      val native = time("native snapshot()")(bulkAgg(t.snapshot()))
      val connector = time("connector format(graft)")(bulkAgg(conn))
      println(f"connector/native = ${connector / native}%.2f x")

      // The ROW-MODE fallback's cost: one MOR delete forces every bucket
      // of the connector scan off the columnar handoff (Spark refuses
      // mixed partitions), so this measures the DV'd-scan path —
      // vectorized DECODE with row-at-a-time emission
      // (GraftVectorRowReader) — against the native snapshot's
      // vectorized-scan-plus-anti-join.
      import spark.implicits._
      t.deleteMergeOnRead(Seq((1L, 1)).toDF("l_orderkey", "l_linenumber"))
      val nativeDv = time("native DV'd snapshot()")(bulkAgg(t.snapshot()))
      val connDv = time("connector DV'd scan")(bulkAgg(conn))
      println(f"DV'd connector/native = ${connDv / nativeDv}%.2f x")
    } finally graft.core.TxTable.drop(dir)
    spark.stop()
  }
}
