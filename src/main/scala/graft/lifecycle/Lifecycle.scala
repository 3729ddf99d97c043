package graft.lifecycle

import graft.core.{Graph, Session, TxTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The runner of the storage-lifecycle demos ([[Demos]], and the
  * streaming entries s13, s14 and `st_user_stats_tws`): a demo builds
  * tables, runs a protocol and certifies it, and the runner, not the
  * demo, owns what that leaves behind. */
object Lifecycle {

  /** Runs one demo entry. One fresh temp dir per tag (`graft_tx_<tag>`)
    * is handed to `body`; zero tags serve the demos over frozen
    * artifacts. The body runs in a [[Session.released]] scope: its bounded
    * result is collected into a local relation, so it outlives the dirs,
    * and every RDD it persisted (inner pins, per-micro-batch pins) is
    * released. Then, whether or not `body` threw, the dirs are dropped. */
  def demo(spark: SparkSession, tags: String*)(body: Seq[String] => DataFrame): DataFrame = {
    val dirs = tags.map(t => java.nio.file.Files.createTempDirectory(s"graft_tx_$t").toString)
    try Session.released(spark)(body(dirs))
    finally dirs.foreach(TxTable.drop)
  }

  /** Warehouse root of the catalog demos, made once per JVM. */
  private lazy val warehouses =
    java.nio.file.Files.createTempDirectory("graft_gcat").toString

  /** A [[demo]] with GraftCatalog registered as `gcat_<tag>` over the
    * warehouse `<root>/<tag>`: `body` gets the catalog name and the
    * warehouse dir. The name is fixed, so Spark's catalog manager, which
    * keeps every catalog it has loaded, holds one instance per entry
    * however often it runs. The registration settings are scoped to
    * `body` (the catalog stays loaded after them), and the warehouse's
    * tables are dropped once the result is collected. */
  def catalogDemo(spark: SparkSession, tag: String)(body: (String, String) => DataFrame): DataFrame = {
    val (cat, wh) = (s"gcat_$tag", s"$warehouses/$tag")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(wh))
    try demo(spark) { _ =>
      Session.withConf(spark, s"spark.sql.catalog.$cat" -> "graft.sources.GraftCatalog",
        s"spark.sql.catalog.$cat.warehouse" -> wh)(body(cat, wh))
    } finally TxTable.drop(wh)
  }

  /** The protocol demos' base table: the first 200 customers' (name,
    * house, acctbal). These entries certify metadata protocols (layout,
    * branch, catalog, history), which are size-independent; the bounded
    * base keeps the lifecycle real and the bench honest about protocol
    * cost rather than bulk write throughput (s12 keeps the full-table
    * write path). */
  def protocolSlice(spark: SparkSession, sfDir: String): DataFrame =
    Graph.nodes(spark, sfDir)
      .filter(col("name") <= "Customer#000000199")
      .select("name", "house", "acctbal")

  /** Runs `df` and returns the rows its scans emitted (the leaves'
    * `numOutputRows`). Residual filters run above the scan, so only
    * skipping below it (footer statistics, blooms, pruned buckets) makes
    * this smaller than the table. */
  def scanRowsEmitted(df: DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.metrics.get("numOutputRows").map(_.value)).sum
  }

  /** Overlap two INDEPENDENT Spark actions from two driver threads
    * (optimization-guide §2.6): Spark's FIFO scheduler back-fills executor
    * slots the first job's task tail leaves idle with the second job's
    * tasks, so two short certificate probes cost ~max instead of ~sum.
    * Only for actions with no ordering dependency (separate tables /
    * separate read paths); never for two commits to the SAME table. */
  def par2[A, B](fa: => A, fb: => B): (A, B) = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val f = Future(fb)
    val ra = fa
    (ra, Await.result(f, 10.minutes))
  }

  /** Distributed order-independent multiset row-equality for certificate
    * comparisons: each side folds to (count, Σ xxhash64(all columns)) in
    * ONE narrow partial aggregate — no row shuffle, no driver data. The
    * collect-and-sort form this replaces was the single largest measured
    * term of s54 at sf0.1 (~1 s of a 4.8 s entry: two 600k-row driver
    * collects + driver sorts) and is impossible at 100 TB, where this
    * stays O(1) driver bytes (guide §5: the driver should do no data
    * work). Exact up to a 64-bit hash-sum collision on fixed,
    * non-adversarial layouts — the same trust level as the oracle's own
    * hash channel. Column order/names are taken from `a`; `b` is
    * projected to match, so positional column mismatches fail loudly. */
  def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    val cols = a.columns.toSeq
    def fp(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(
        count(lit(1)),
        sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)"))).head()
      (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
    }
    val (fa, fb) = par2(fp(a), fp(b.select(cols.map(col): _*)))
    fa._1 == fb._1 && fa._2.compareTo(fb._2) == 0
  }
}
