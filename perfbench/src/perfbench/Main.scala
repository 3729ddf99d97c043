package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload: set-ups, a closed-loop timed phase, checks, and
  * one JSON result line on stdout: the end-to-end metrics, or with
  * `--trace 1` the per-layer metrics of a traced timed phase.
  * `--selftest` checks the request generator instead. */
object Main {
  /** One timed request: kind, latency in ns, answer correct, op id. */
  final case class Done(kind: String, ns: Long, ok: Boolean, id: Long)

  private var warmFailed = 0

  /** Runs and checks a request outside the timed phase. */
  def untimed(op: Op): Unit =
    if (!(try op.check(op.run()) catch { case e: Throwable => report(op, e); false }))
      warmFailed += 1

  /** Phase timings since JVM start, on stderr. */
  private def phase(what: String): Unit = System.err.println(
    f"[perfbench] ${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s: $what")

  private def report(op: Op, e: Throwable): Unit =
    System.err.println(s"[perfbench] ${op.kind}(${op.params}) failed: $e")

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // The session graft.Bench measures with.
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Requests per second of request time. */
  def opsPerS(done: Seq[Done]): Double = 1e9 * done.size / done.map(_.ns).sum

  /** The mix's median latency in ms: each request counted at its kind's
    * median, averaged over the run's fixed counts. A pooled median would
    * sit on one request at the edge between two kinds. */
  def mixMedianMs(done: Seq[Done]): Double = {
    val byKind = done.groupBy(_.kind).map { case (k, ds) => k -> median(ds.map(_.ns / 1e6)) }
    done.map(d => byKind(d.kind)).sum / done.size
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (a.contains("selftest")) { selftest(); return }
    if (a.contains("train")) { train(a("work"), a("cpus").toInt); sys.exit(0) }
    val name = a("workload"); val seed = a("seed").toLong
    val seconds = a("seconds").toDouble; val trace = a("trace") == "1"
    val work = a("work"); val cpus = a("cpus").toInt
    val result = run(name, seed, seconds, trace, work, cpus, a.get("trace-out"))
    println(result)
    Console.flush()
    sys.exit(0) // no lingering non-daemon thread may keep the JVM up
  }

  /** What the timed phase leaves for the report: set-up times, timed
    * requests, the end-of-run check, and (traced) the per-layer metrics. */
  final case class Outcome(setups: Seq[Double], done: Seq[Done], finishOk: Boolean,
                           layers: Seq[(String, Double, String)])

  def run(name: String, seed: Long, seconds: Double, trace: Boolean, work: String,
          cpus: Int, traceOut: Option[String]): String = {
    val spark = session(cpus, work)
    phase("session")
    val tr = new Tracer(spark, trace)
    val o = measure(Workload.make(name, spark, work, seed, tr), tr, seconds, traceOut)
    val failed = o.done.count(!_.ok) + warmFailed
    val metrics =
      if (trace) o.layers
      else {
        // The workload, with its inputs and models, is unreachable here:
        // the heap left is what the engine and Spark retain.
        val mem = ManagementFactory.getMemoryMXBean
        // Later collections free what Spark's cleaner released after the
        // earlier ones (broadcast blocks, shuffle state of dead plans).
        val heap = (1 to 3).map { _ =>
          System.gc(); Thread.sleep(200); mem.getHeapMemoryUsage.getUsed / 1048576.0
        }.min
        Seq(("setup_s", median(o.setups), "s"),
          ("ops_per_s", opsPerS(o.done), "1/s"),
          ("p50_ms", mixMedianMs(o.done), "ms"),
          ("live_heap_mb", heap, "MB"))
      }
    phase("finish")
    spark.stop()
    val ms = metrics.map { case (k, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$k":{"value":$x,"unit":"$u"}""" }.mkString(",")
    s"""{"correct":${failed == 0 && o.finishOk},"attempted":${math.max(1, o.done.size)},""" +
      s""""failed":$failed,"metrics":{$ms}}"""
  }

  /** Set-ups, warm-up, then a fixed number of whole cycles of requests,
    * each timed and checked. */
  private def measure(wl: Workload, tr: Tracer, seconds: Double,
                      traceOut: Option[String]): Outcome = {
    tr.beginOp(-1)
    val setups = (1 to wl.setupReps).map { rep =>
      val t0 = System.nanoTime()
      wl.setup(rep)
      (System.nanoTime() - t0) / 1e9
    }
    wl.warmup()
    phase(s"setup ${setups.map(x => f"$x%.1f").mkString(" ")} and warm-up")
    tr.active = tr.on
    tr.overheadNs = 0L
    val done = new mutable.ArrayBuffer[Done]()
    for (cycle <- wl.deck().take(wl.cycles(seconds)); op <- cycle) {
      tr.beginOp(done.size)
      val s = System.nanoTime()
      val got = try Right(tr.span(op.kind, "request")(op.run())) catch { case e: Throwable => Left(e) }
      val ns = System.nanoTime() - s
      val ok = got match {
        case Right(v) => try op.check(v) catch { case e: Throwable => report(op, e); false }
        case Left(e) => report(op, e); false
      }
      if (!ok && got.isRight) System.err.println(s"[perfbench] ${op.kind}(${op.params}): wrong answer")
      done += Done(op.kind, ns, ok, done.size)
      System.err.println(f"[perfbench] op ${op.kind} ${ns / 1e6}%.1f ms")
    }
    tr.active = false
    phase("timed")
    val finishOk = try wl.finish() catch { case e: Throwable =>
      System.err.println(s"[perfbench] end-of-run check failed: $e"); false }
    val layers =
      if (!tr.on) Nil
      else {
        tr.drain()
        traceOut.foreach(tr.write)
        Layers.metrics(wl, tr, done.toSeq)
      }
    Outcome(setups, done.toSeq, finishOk, layers)
  }

  /** One set-up and one cycle of requests of `graph_serve`, which loads
    * most of the classes any workload needs: the profile the build archives for
    * class-data sharing. */
  def train(work: String, cpus: Int): Unit = {
    val spark = session(cpus, work)
    val tr = new Tracer(spark, false)
    val wl = Workload.make("graph_serve", spark, work, 1, tr)
    wl.setup(1)
    wl.deck().next().foreach(untimed)
    spark.stop()
  }

  /** The same seed gives the same request sequence, another seed another
    * one, and each deck holds its exact mix. */
  def selftest(): Unit = {
    val tr = new Tracer(null, false)
    for (name <- Workload.Names) {
      def seq(seed: Long) = Workload.make(name, null, "/nonexistent", seed, tr)
        .deck().flatten.take(200).map(o => s"${o.kind}(${o.params})").toList
      val a = seq(7); val b = seq(7); val c = seq(8)
      require(a == b, s"$name: seed 7 gave two different sequences")
      require(a != c, s"$name: seeds 7 and 8 gave the same sequence")
      val mix = Workload.make(name, null, "/nonexistent", 7, tr).mix
      val deckSize = mix.map(_._2).sum
      val first = a.take(deckSize).map(_.takeWhile(_ != '(')).groupBy(identity).view.mapValues(_.size).toMap
      require(first == mix.toMap, s"$name: first deck holds $first, not $mix")
      println(s"selftest $name ok")
    }
  }
}
