package graft.tools

/** Scratch inspector: print a SparkEntry query's result as JSON lines.
  * Usage: runMain graft.tools.Show <queryName> [sfDir] [maxRows] */
object Show {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val maxRows = if (args.length > 2) args(2).toInt else 50
    val spark = graft.core.Session.local(32)
    graft.SparkEntry.queries(name)(spark, sfDir)
      .limit(maxRows).toJSON.collect().foreach(j => println(s"[show] $j"))
    spark.stop()
  }
}
