package graft.tools

/** Scratch plan inspector: print the formatted physical plan of SparkEntry
  * queries. Usage: runMain graft.tools.Explain <q1,q2,...> [sfDir] */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = graft.core.Session.local(32)
    names.foreach { name =>
      println(s"===== $name =====")
      graft.SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
