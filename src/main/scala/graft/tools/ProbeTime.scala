package graft.tools

import org.apache.spark.sql.functions._

/** Scratch: time the j4 prefix-probe variants in one warmed session —
  * (a) r6 two-probe (sizes collect + limit collect, driver takeWhile),
  * (b) r7 one-probe (sizes join + running-sum window, one collect). */
object ProbeTime {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.core.Session.local(32)
    val houses = Seq("BUILDING", "AUTOMOBILE")
    val limit = 5000
    def inHouses = graft.core.Graph.nodes(spark, sfDir)
      .filter(col("house").isin(houses: _*))
    def twoProbe(): Seq[String] = {
      val sizes = inHouses.groupBy("house").agg(count(lit(1)).as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val prefix = inHouses.select("name", "house").orderBy("name").limit(limit).collect()
      var acc = 0L
      prefix.takeWhile { r =>
        val take = acc < limit
        acc += math.max(sizes(r.getString(1)) - 1, 1L)
        take
      }.map(_.getString(0)).toSeq
    }
    def oneProbe(): Seq[String] = {
      import org.apache.spark.sql.expressions.Window
      val sizes = inHouses.groupBy("house").agg(count(lit(1)).as("hsize"))
      val wAcc = Window.orderBy("name").rowsBetween(Window.unboundedPreceding, -1)
      inHouses.select("name", "house")
        .orderBy("name").limit(limit)
        .join(broadcast(sizes), "house")
        .withColumn("acc",
          coalesce(sum(greatest(col("hsize") - 1, lit(1L))).over(wAcc), lit(0L)))
        .filter(col("acc") < limit)
        .select("name")
        .collect().map(_.getString(0)).toSeq
    }
    (1 to 4).foreach { i =>
      val t0 = System.nanoTime(); val a = twoProbe()
      val t1 = System.nanoTime(); val b = oneProbe()
      val t2 = System.nanoTime()
      println(f"[probe] run $i two=${(t1 - t0) / 1e9}%.2f s one=${(t2 - t1) / 1e9}%.2f s " +
        s"equal=${a == b} n=${a.size}")
    }
    spark.stop()
  }
}
