package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.core.{Graph, TxTable}
import graft.ops.{GraphOps, SimilarityOps}
import graft.plans.GraphAnalytics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import perfbench.Models.R

/** One request: `run` is timed, `check` (untimed) compares the answer with
  * the model and then applies the request's effect to the model. */
final case class Op(kind: String, params: String, run: () => Any, check: Any => Boolean)

/** A closed-loop workload: one client, next request after the previous. */
abstract class Workload(val spark: SparkSession, val work: String, val seed: Long,
                        val tr: Tracer) {
  /** Requests per cycle by kind: every run follows this exact mix. */
  def mix: Seq[(String, Int)]
  /** Seconds one cycle takes on a quiet 4-vCPU host. It fixes how many
    * cycles a run of a given length makes, so the requests a run measures
    * never depend on how fast the engine answers. */
  def cycleS: Double
  def cycles(seconds: Double): Int = math.max(1, math.round(seconds / cycleS).toInt)
  /** Set-ups per run; the median is `setup_s`, the last one serves. */
  val setupReps = 3
  /** Fresh inputs, artifacts and tables. */
  def setup(rep: Int): Unit
  protected def op(kind: String, r: SplittableRandom): Op
  /** One cycle of request kinds, in order. */
  protected def cycle(r: SplittableRandom): Seq[String] = Gen.deck(r, mix)

  /** The seeded request sequence, one cycle per element; the same seed
    * gives the same sequence. */
  def deck(): Iterator[Seq[Op]] = {
    val r = Gen.rng(seed, 100)
    Iterator.continually(cycle(r).map(op(_, r)))
  }

  /** Untimed, checked rounds of one request of each kind. None by
    * default: the set-ups warm the JVM, and the per-kind median behind
    * `p50_ms` drops the first, coldest request of a kind. */
  val warmupRounds = 0
  def warmup(): Unit = {
    val r = Gen.rng(seed, 99)
    for (_ <- 1 to warmupRounds; (k, _) <- mix) Main.untimed(op(k, r))
  }

  /** End-of-run correctness check. */
  def finish(): Boolean = true
  /** Layer figures this workload owns, beyond the span counters. */
  def layerMetrics: Map[String, Double] = Map.empty

  /** Engine call split into request construction, planning and execution. */
  protected def request(kind: String, layer: String)(build: => DataFrame): Seq[R] = {
    val df = tr.span(s"$kind.build", layer)(build)
    tr.span(s"$kind.plan", "spark_plan")(df.queryExecution.executedPlan)
    tr.span(s"$kind.exec", "spark_exec")(df.collect()).toSeq.map(Workload.values)
  }

  protected def rowsEqual(want: => Seq[R]): Any => Boolean = got => got == want
}

object Workload {
  def values(r: Row): R = r.toSeq.map {
    case i: Int => i.toLong
    case f: Float => f.toDouble
    case x => x
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
    }

  def dataFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.count(f => f.toString.endsWith(".parquet")).toLong finally s.close()
    }

  val Names: Seq[String] = Seq("graph_serve", "tx_mixed", "batch_analytics")

  def make(name: String, spark: SparkSession, work: String, seed: Long, tr: Tracer): Workload =
    name match {
      case "graph_serve" => new GraphServe(spark, work, seed, tr)
      case "tx_mixed" => new TxMixed(spark, work, seed, tr)
      case "batch_analytics" => new BatchAnalytics(spark, work, seed, tr)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
}

/** The reference's request surface at sf0.01: 1,500 persons, 500 vectors. */
final class GraphServe(spark: SparkSession, work: String, seed: Long, tr: Tracer)
    extends Workload(spark, work, seed, tr) {
  private val persons = Gen.persons(seed, 1500)
  private val vecs = Gen.vectors(seed, 500)
  private val model = new Models.GraphModel(persons)
  /** A cold set-up takes ~20 s and varies by a few percent between runs;
    * a second one would not fit the benchmark's time budget. */
  override val setupReps = 1
  private var sf: String = _
  val recall = new mutable.ArrayBuffer[Double]()

  /** One request per endpoint: no request log exists to weight them. */
  val mix: Seq[(String, Int)] = Seq("search", "winder", "lookup", "expand1", "mates2", "ann",
    "subgraph", "depth2").map(_ -> 1)
  val cycleS = 4.6

  def setup(rep: Int): Unit = {
    // A fresh directory name is a fresh artifact namespace (artifacts are
    // keyed by the input directory's name), so every rep builds cold.
    sf = s"$work/serve_r$rep"
    Gen.writePersons(spark, sf, persons)
    Gen.writeVectors(spark, sf, vecs)
    tr.span("etl.edges_und", "etl")(Graph.personEdgesU(spark, sf))
    tr.span("etl.edges_und_ids", "etl")(Graph.personEdgeIds(spark, sf))
    tr.span("etl.ivf_index", "etl")(SimilarityOps.ivfIndex(spark, sf))
  }

  protected def op(kind: String, r: SplittableRandom): Op = {
    val n = persons.size
    def req(params: Any)(want: => Seq[R])(build: => DataFrame): Op =
      Op(kind, params.toString, () => request(s"serve.$kind", "ops")(build), rowsEqual(want))
    kind match {
      case "search" =>
        val q = f"${r.nextInt(1000)}%03d"
        req(q)(model.search(q))(GraphOps.searchCi(spark, sf, q))
      case "winder" =>
        val fs = Gen.distinct(r, 3, n)
        req(fs)(model.winder(fs))(GraphOps.winderTopK(spark, sf, fs))
      case "lookup" =>
        val k = r.nextInt(n)
        req(k)(model.lookup(k))(GraphOps.exactLookup(spark, sf, k))
      case "expand1" =>
        val k = r.nextInt(n)
        req(k)(model.expand1(k))(GraphOps.expand1HopAny(spark, sf, k))
      case "mates2" =>
        val k = r.nextInt(n)
        req(k)(model.mates2(k))(GraphOps.housemates2Hop(spark, sf, k))
      case "subgraph" =>
        val hs = Gen.distinct(r, 1 + r.nextInt(2), Gen.Houses.size).map(Gen.Houses)
        req(hs)(model.subgraph(hs))(GraphOps.houseSubgraph(spark, sf, hs))
      case "depth2" =>
        val fs = Gen.distinct(r, 3, n)
        req(fs)(model.depth2(fs))(GraphOps.winderDepth2(spark, sf, fs))
      case "ann" =>
        val q = r.nextInt(vecs.size)
        Op(kind, q.toString, () => request("serve.ann", "ops")(SimilarityOps.ivfTopK(spark, sf, q.toLong)),
          got => annOk(q, got.asInstanceOf[Seq[R]]))
    }
  }

  /** Every returned cosine is exact, the order is (cosine desc, id asc),
    * and the count is k. Recall against brute force is recorded apart. */
  private def annOk(q: Int, got: Seq[R]): Boolean = {
    val exact = Models.exactTopK(vecs, q)
    recall += got.count(g => exact.exists(_._1 == g.head)).toDouble / exact.size
    val pairs = got.map(g => (g.head.asInstanceOf[Long], g(2).asInstanceOf[Double]))
    got.size == exact.size &&
      got.forall(g => g(1) == vecs(g.head.asInstanceOf[Long].toInt).label.toLong) &&
      pairs.forall { case (id, c) => math.abs(Models.cosine(vecs(id.toInt).v, vecs(q).v) - c) < 1e-6 } &&
      pairs == pairs.sortBy { case (id, c) => (-c, id) }
  }

  override def layerMetrics: Map[String, Double] = Map(
    "ann.recall_at_10" -> (if (recall.isEmpty) 0.0 else recall.sum / recall.size),
    "etl.artifact_bytes" -> Workload.dirBytes(Paths.get(graft.etl.Artifacts.path(sf, ""))).toDouble)
}

/** Reads beside writes on a keyed TxTable built from 150,000 orders
  * (sf0.1), 16 buckets. */
final class TxMixed(spark: SparkSession, work: String, seed: Long, tr: Tracer)
    extends Workload(spark, work, seed, tr) {
  private val base = Gen.orders(seed, 150000)
  private val nBase = base.size
  private val model = mutable.HashMap.empty[Long, Gen.Order]
  private var dir: String = _
  private var t: TxTable = _
  /** Per write op: (kind, bytes added, files added, user bytes given). */
  val writes = new mutable.ArrayBuffer[(String, Long, Long, Long)]()
  val reclaimed = new mutable.ArrayBuffer[Long]()
  /** Rows the table returned, per read kind. */
  val rowsOut = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  private var nextKey = 0L

  /** An assumed mix, not a measured one: three reads and three merges to
    * one range delete, and one compaction with vacuum per 12 requests, so
    * that one cycle holds every verb. */
  val mix: Seq[(String, Int)] = Seq("merge" -> 3, "lookup" -> 3, "scan" -> 3, "delete_where" -> 1,
    "compact" -> 1, "vacuum" -> 1)
  val cycleS = 10.0

  def setup(rep: Int): Unit = {
    dir = s"$work/tx_r$rep/orders"
    val src = s"$work/tx_r$rep/src"
    spark.createDataFrame(base.map(Gen.orderRow).asJava, Gen.OrderSchema).write.parquet(src)
    t = tr.span("tx.create", "txtable")(
      TxTable.create(spark, dir, spark.read.parquet(src), Seq("o_orderkey"), 16))
    model.clear(); base.foreach(o => model(o.key) = o)
    nextKey = 10000000L
  }

  /** A fixed order: the table's state (files per bucket, versions) moves
    * through the same trajectory in every run, so reads see the same
    * layouts; the seed varies the keys. */
  override protected def cycle(r: SplittableRandom): Seq[String] =
    Seq("merge", "lookup", "scan", "merge", "lookup", "scan", "compact", "vacuum",
      "delete_where", "merge", "lookup", "scan")

  private def userBytes(o: Gen.Order): Long =
    8 + 8 + o.status.length + 8 + 4 + o.priority.length

  private def write(kind: String, user: Long)(body: => Long): Long = {
    val p = Paths.get(dir)
    val (b0, f0) = if (tr.on) (Workload.dirBytes(p), Workload.dataFiles(p)) else (0L, 0L)
    val v = tr.span(s"tx.$kind", "txtable")(body)
    if (tr.on) writes += ((kind, Workload.dirBytes(p) - b0, Workload.dataFiles(p) - f0, user))
    v
  }

  protected def op(kind: String, r: SplittableRandom): Op = kind match {
    case "merge" =>
      val keys = Seq.fill(250)(1L + r.nextInt(nBase)).distinct ++
        (0 until 250).map(_ => { nextKey += 1; nextKey })
      val rows = keys.map(Gen.order(r, _))
      Op(kind, keys.mkString(","), () => write("merge", rows.map(userBytes).sum)(
          t.merge(spark.createDataFrame(rows.map(Gen.orderRow).asJava, Gen.OrderSchema))),
        _ => { rows.foreach(o => model(o.key) = o); true })
    case "lookup" =>
      val keys = Seq.fill(10)(1L + r.nextInt(nBase + 100))
      Op(kind, keys.mkString(","), () => tr.span("tx.lookup", "txtable")(
          t.lookup(spark.createDataFrame(keys.map(Tuple1(_))).toDF("o_orderkey")).collect().toSeq),
        got => {
          val rows = got.asInstanceOf[Seq[Row]]
          rowsOut("lookup") += rows.size
          rows.map(rowOrder).sortBy(_.key) == keys.distinct.sorted.flatMap(model.get)
        })
    case "scan" =>
      val a = 1L + r.nextInt(nBase - 2000)
      Op(kind, a.toString, () => tr.span("tx.scan", "graft_source")(
          spark.read.format("graft").load(dir)
            .filter(col("o_orderkey") >= a && col("o_orderkey") < a + 2000)
            .agg(count(lit(1)), sum("o_custkey"), sum("o_totalprice")).head()),
        got => {
          val g = got.asInstanceOf[Row]
          val want = (a until a + 2000).flatMap(model.get)
          rowsOut("scan") += g.getLong(0)
          g.getLong(0) == want.size &&
            (want.isEmpty || (g.getLong(1) == want.map(_.cust).sum &&
              math.abs(g.getDouble(2) - want.map(_.price).sum) <= 1e-6 * want.map(_.price).sum))
        })
    case "delete_where" =>
      val a = 1L + r.nextInt(nBase - 50)
      Op(kind, a.toString, () => write("delete_where", 0L)(
          t.deleteWhere(s"o_orderkey >= $a AND o_orderkey < ${a + 50}")),
        _ => { (a until a + 50).foreach(model.remove); true })
    case "compact" =>
      Op(kind, "", () => write("compact", 0L)(t.compact()), _ => true)
    case "vacuum" =>
      Op(kind, "", () => {
        val b0 = if (tr.on) Workload.dirBytes(Paths.get(dir)) else 0L
        val n = tr.span("tx.vacuum", "txtable")(t.vacuum(0L, keepVersions = 10))
        if (tr.on) reclaimed += b0 - Workload.dirBytes(Paths.get(dir))
        n
      }, _ => true)
  }

  private def rowOrder(x: Row): Gen.Order =
    Gen.Order(x.getAs[Long]("o_orderkey"), x.getAs[Long]("o_custkey"),
      x.getAs[String]("o_orderstatus"), x.getAs[Double]("o_totalprice"),
      x.getAs[java.sql.Date]("o_orderdate"), x.getAs[String]("o_orderpriority"))

  private def digest(os: Iterable[Gen.Order]): (Long, Long) =
    (os.size.toLong, os.iterator.map(o => (o.key, o.cust, o.status, o.price,
      o.date.toLocalDate.toEpochDay, o.priority).hashCode.toLong).sum)

  /** The whole snapshot equals the model, by (count, Σ row hash). */
  override def finish(): Boolean =
    digest(t.snapshot().collect().toSeq.map(rowOrder)) == digest(model.values)

  override def layerMetrics: Map[String, Double] = {
    val p = Paths.get(dir)
    val onDisk = Workload.dirBytes(p)
    val fresh = s"$work/tx_fresh"
    TxTable.create(spark, fresh, spark.createDataFrame(
      model.values.toSeq.map(Gen.orderRow).asJava, Gen.OrderSchema), Seq("o_orderkey"), 16)
    def mean(xs: Seq[Long]) = if (xs.isEmpty) 0.0 else xs.sum.toDouble / xs.size
    val m = mutable.Map[String, Double]()
    for (k <- Seq("merge", "delete_where", "compact")) {
      val w = writes.filter(_._1 == k).toSeq
      m(s"tx.$k.bytes_written") = mean(w.map(_._2))
      m(s"tx.$k.files_written") = mean(w.map(_._3))
    }
    m("tx.vacuum.bytes_reclaimed") = mean(reclaimed.toSeq)
    val user = writes.map(_._4).sum
    m("tx.write_amp") = if (user == 0) 0.0 else writes.map(_._2).sum.toDouble / user
    m("tx.space_amp") = onDisk.toDouble / Workload.dirBytes(Paths.get(fresh))
    m("tx.files_live") = Workload.dataFiles(p.resolve("data")).toDouble
    m("tx.versions") = {
      val s = Files.list(p.resolve("_log"))
      try s.iterator().asScala.count(f => f.getFileName.toString.matches("v\\d+\\.txt")).toDouble
      finally s.close()
    }
    m.toMap
  }
}

/** Passes of the corpus-scale analytics at sf0.1: PageRank, family CC,
  * k-core, and MinHash-LSH near-duplicate clustering into GraphX CC. */
final class BatchAnalytics(spark: SparkSession, work: String, seed: Long, tr: Tracer)
    extends Workload(spark, work, seed, tr) {
  private val persons = Gen.persons(seed, 15000)
  private val docs = Gen.docs(seed, 5000)
  private var sf: String = _
  val persisted = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** One pass per cycle. */
  val mix: Seq[(String, Int)] = Seq("pagerank", "cc", "kcore", "dedup_cc").map(_ -> 1)
  val cycleS = 5.0
  /** The first pass after the set-ups is the slowest by far while the JIT
    * compiles GraphX's code paths. */
  override val warmupRounds = 1

  def setup(rep: Int): Unit = {
    sf = s"$work/batch_r$rep"
    Gen.writePersons(spark, sf, persons)
    Gen.writeDocs(spark, sf, docs)
    // Building the request's plan builds the shingle-hash artifact.
    tr.span("etl.shingle_hashes", "etl")(graft.ops.TextOps.dedupMinHashLsh(spark, sf))
  }

  protected def op(kind: String, r: SplittableRandom): Op = {
    val n = persons.size
    val (want, build): (() => Seq[R], () => DataFrame) = kind match {
      case "pagerank" => (() => Models.pagerank(n), () => GraphAnalytics.corpusPageRank(spark, sf))
      case "cc" => (() => Models.familyCc(n), () => GraphAnalytics.corpusFamilyCc(spark, sf))
      case "kcore" => (() => Models.kcore(n), () => GraphAnalytics.corpusKCore(spark, sf))
      case "dedup_cc" => (() => Models.dedup(docs), () => GraphAnalytics.dedupClusters(spark, sf))
    }
    Op(kind, "", () => {
      val rows = request(s"gx.$kind", "graphx")(build())
      val sc = spark.sparkContext
      persisted.getOrElseUpdate(kind, new mutable.ArrayBuffer) += sc.getPersistentRDDs.size
      // Like graft.Bench: no cached state carries over to the next request.
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      rows
    }, got => got == want())
  }

  override def layerMetrics: Map[String, Double] =
    persisted.map { case (k, v) => s"gx.$k.persisted_left" -> v.sum / v.size }.toMap
}
