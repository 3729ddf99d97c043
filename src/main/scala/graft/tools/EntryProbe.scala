package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Generic per-entry profiler: run named registry entries (comma-separated)
  * `reps` times each under the bench session config, printing per-run wall
  * time, job count, summed on-job time and the driver gap, plus the slowest
  * jobs' stage names — so an entry's cost splits into scheduled work vs
  * driver-side protocol (planning, sidecar I/O, commit publish) without
  * touching the entry's code.
  * Usage: runMain graft.tools.EntryProbe <name[,name...]> [sfDir] [reps] */
object EntryProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: EntryProbe <name[,name...]> [sfDir] [reps]")
    val names = args(0).split(',').toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.Session.local(cpus)
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String)]()
    val live = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val stages = js.stageInfos.map(si =>
          s"${si.name.takeWhile(_ != '\n')}[${si.numTasks}]").mkString(" | ")
        live.put(js.jobId, (js.time, stages))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val s = live.remove(je.jobId)
        if (s != null) done.add((s._1, je.time, s._2))
      }
    })
    val registry = graft.SparkEntry.queries.toMap
    names.foreach { name =>
      val fn = registry.getOrElse(name, sys.error(s"unknown entry: $name"))
      // Unmeasured warmup (artifact builds, codegen)
      try fn(spark, sfDir).count() catch { case e: Throwable =>
        System.err.println(s"[entry] $name warmup failed: ${e.getMessage}") }
      graft.core.Session.clearCaches(spark)
      (1 to reps).foreach { rep =>
        done.clear()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(80)
        val evs = done.toArray(Array.empty[(Long, Long, String)]).sortBy(_._1)
        val jobSec = evs.map(e => (e._2 - e._1) / 1e3).sum
        println(f"[entry] $name rep$rep: wall $wall%.3f s, jobs ${evs.length}, on-job $jobSec%.3f s, gap ${wall - jobSec}%.3f s")
        if (rep == reps) evs.sortBy(e => -(e._2 - e._1)).take(12).foreach { case (s, e, d) =>
          println(f"[entry]    job ${(e - s) / 1e3}%.3f s  ${d.take(110)}") }
        graft.core.Session.clearCaches(spark)
      }
    }
    spark.stop()
  }
}
