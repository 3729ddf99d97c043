package graft.tools

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** Scratch: SERVICE-SHAPE latency measurement. The reference is an
  * interactive web app (reference app.py — Flask routes answering point
  * lookups and 1-hop expansions per request), but every bench number in
  * this repo is one-query-at-a-time throughput. This probe runs the
  * interactive query class — the flagship j1 scoring, the j2 1-hop
  * expansion, the p3 case-insensitive search — at N ∈ {1, 8, 32}
  * CONCURRENT requests on ONE SparkSession (Spark's scheduler
  * multiplexes jobs from concurrent driver threads across the shared
  * executor pool, which is exactly the deployment shape of a query
  * service), reporting per-request p50/p99 latency and wall time, and
  * ASSERTING every concurrent response bit-identical to the serial
  * reference — result stability under concurrency is a correctness
  * claim, not just a speed one. Results recorded in BASELINE.md;
  * ConcurrencySpec pins the stability half in CI. */
object ConcurrencyProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.core.Session.local(32)

    val names = Seq("j1_winder_topk", "j2_expand_1hop", "p3_search_ci")
    def run(name: String): Seq[String] =
      graft.SparkEntry.queries(name)(spark, sfDir)
        .collect().map(_.mkString("|")).sorted.toSeq

    // Serial reference + warm (also builds the shared bucketed artifacts
    // once, as a deployed service would at startup).
    names.foreach(run)
    val refs = names.map(n => n -> run(n)).toMap

    Seq(1, 8, 32).foreach { n =>
      val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val t0 = System.nanoTime()
      val futs = (0 until n).map { i =>
        val q = names(i % names.length)
        Future {
          val s = System.nanoTime()
          val r = run(q)
          (q, (System.nanoTime() - s) / 1e9, r == refs(q))
        }
      }
      val res = Await.result(Future.sequence(futs), 10.minutes)
      val wall = (System.nanoTime() - t0) / 1e9
      pool.shutdown()
      val lats = res.map(_._2).sorted
      def pct(p: Double) = lats(math.round(p * (lats.size - 1)).toInt)
      val allOk = res.forall(_._3)
      println(f"""{"metric":"concurrency","n":$n,"wall_sec":$wall%.3f,""" +
        f""""p50_sec":${pct(0.5)}%.3f,"p99_sec":${pct(0.99)}%.3f,""" +
        f""""per_req_sec":${lats.sum / lats.size}%.3f,"all_correct":$allOk}""")
      require(allOk, s"concurrent results diverged from the serial reference at n=$n")
    }
    spark.stop()
  }
}
