package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Counters one span accumulates. Task-side counters arrive through the
  * listener, attributed by the span id carried as a job-local property;
  * driver-side counters are sampled at the span's start and end. */
final class Counters {
  var jobs, stages, tasks = 0L
  var jobBusyMs, execRunMs, execCpuMs, taskGcMs = 0L
  var shuffleBytes, inputBytes, inputRecords = 0L
  var compiles, compileMs, filesDiscovered, fileCacheHits = 0L
  var gcMs, jitMs = 0L
  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    jobBusyMs += o.jobBusyMs; execRunMs += o.execRunMs; execCpuMs += o.execCpuMs
    taskGcMs += o.taskGcMs; shuffleBytes += o.shuffleBytes; inputBytes += o.inputBytes
    inputRecords += o.inputRecords; compiles += o.compiles; compileMs += o.compileMs
    filesDiscovered += o.filesDiscovered; fileCacheHits += o.fileCacheHits
    gcMs += o.gcMs; jitMs += o.jitMs
  }
}

/** One timed call into a layer. `op` groups the spans of one request. */
final case class Span(id: Int, name: String, layer: String, parent: Int, op: Long,
                      start: Long, var end: Long = 0L, c: Counters = new Counters) {
  /** Driver-side counter deltas over the whole span, children included. */
  var driver: Array[Long] = Array.fill(6)(0L)
}

/** Records spans around the calls the benchmark makes into each layer.
  * Spans live in memory and are written out once, at the end. When off,
  * `span` is a plain call. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val Prop = "perfbench.span"
  val spans = new ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var currentOp = -1L
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val jobStart = new ConcurrentHashMap[Int, (Span, Long)]()
  private lazy val sc = spark.sparkContext
  /** Spans are recorded only while active. */
  var active: Boolean = on

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).map(_.toInt)
        .flatMap(id => Option(byId.get(id))).foreach { s =>
          s.c.synchronized { s.c.jobs += 1; s.c.stages += e.stageIds.size }
          e.stageIds.foreach(st => stageSpan.put(st, s))
          jobStart.put(e.jobId, (s, e.time))
        }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (s, t0) =>
        s.c.synchronized { s.c.jobBusyMs += e.time - t0 }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        s.c.synchronized {
          s.c.tasks += 1
          if (m != null) {
            s.c.execRunMs += m.executorRunTime
            s.c.execCpuMs += m.executorCpuTime / 1000000L
            s.c.taskGcMs += m.jvmGCTime
            s.c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
            s.c.inputBytes += m.inputMetrics.bytesRead
            s.c.inputRecords += m.inputMetrics.recordsRead
          }
        }
      }
  }
  if (on) sc.addSparkListener(listener)

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean
  private def driverSample(): Array[Long] = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    Array(h.getCount, (h.getSnapshot.getMean * h.getCount).toLong,
      HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount,
      HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount,
      gcBeans.map(_.getCollectionTime).sum, jit.getTotalCompilationTime)
  }

  /** Time spent in the tracer's own bookkeeping on the request path. */
  var overheadNs = 0L

  /** Starts a request: spans opened until the next call share its id. */
  def beginOp(id: Long): Unit = currentOp = id

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on || !active) body
    else {
      val o0 = System.nanoTime()
      val s = Span(spans.size, name, layer, stack.headOption.map(_.id).getOrElse(-1),
        currentOp, o0)
      spans += s; byId.put(s.id, s)
      val outer = sc.getLocalProperty(Prop)
      sc.setLocalProperty(Prop, s.id.toString)
      stack = s :: stack
      val d0 = driverSample()
      val b0 = System.nanoTime()
      try body
      finally {
        val b1 = System.nanoTime()
        val d1 = driverSample()
        s.end = b1
        stack = stack.tail
        sc.setLocalProperty(Prop, outer)
        s.driver = Array.tabulate(d0.length)(i => d1(i) - d0(i))
        // Driver samples nest: a span keeps what none of its children
        // saw, so summing a subtree never double counts.
        val self = s.driver.clone()
        spans.view.drop(s.id + 1).filter(_.parent == s.id)
          .foreach(k => for (i <- self.indices) self(i) -= k.driver(i))
        s.c.synchronized {
          s.c.compiles += self(0); s.c.compileMs += math.max(0L, self(1))
          s.c.filesDiscovered += self(2); s.c.fileCacheHits += self(3)
          s.c.gcMs += self(4); s.c.jitMs += self(5)
        }
        overheadNs += (b0 - o0) + (System.nanoTime() - b1)
      }
    }

  /** Blocks until every listener event posted so far has been handled. */
  def drain(): Unit = if (on) org.apache.spark.PerfbenchBridge.drainListeners(sc)

  /** Counters summed over a span and all its descendants. */
  def total(ss: Iterable[Span]): Counters = { val t = new Counters; ss.foreach(s => t += s.c); t }

  /** Self time per layer in ms: a span's duration minus the part of it
    * its children cover. */
  def selfMsByLayer(keep: Span => Boolean): Map[String, Double] = {
    val childNs = new Array[Long](spans.size)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    spans.filter(keep).groupMapReduce(_.layer)(s => (s.end - s.start - childNs(s.id)) / 1e6)(_ + _)
  }

  def write(path: String): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}","parent":${s.parent},""" +
        s""""op":${s.op},"start_ns":${s.start},"end_ns":${s.end},"jobs":${s.c.jobs},""" +
        s""""tasks":${s.c.tasks},"exec_run_ms":${s.c.execRunMs},"gc_ms":${s.c.gcMs}}""" + "\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}
