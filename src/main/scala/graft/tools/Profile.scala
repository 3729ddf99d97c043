package graft.tools

/** Scratch profiler: time SparkEntry queries (comma-separated) N times each
  * in sequence, clearing caches between runs like Bench does.
  * Usage: runMain graft.tools.Profile <q1,q2,...> [sfDir] [runs] */
object Profile {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.Session.local(cpus)
    (1 to runs).foreach { i =>
      names.foreach { name =>
        val t0 = System.nanoTime()
        val n = graft.SparkEntry.queries(name)(spark, sfDir).count()
        println(f"[profile] $name run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
        graft.core.Session.clearCaches(spark)
      }
    }
    spark.stop()
  }
}
