package graft.plans

import scala.reflect.ClassTag

import graft.core.{Graph, Session}
import org.apache.spark.graphx.{Edge, Graph => XGraph, PartitionStrategy, VertexId}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative graph analytics on GraphX — the BASELINE.json directive:
  * "GraphX for analytics, not OLTP traversal". One-hop/two-hop lookups stay
  * DataFrame joins (graft.ops.GraphOps); GraphX enters only where the
  * algorithm is genuinely iterative or message-passing shaped (connected
  * components, PageRank, triangle counting, neighborhood aggregation).
  *
  * Vertex ids are the stable `nid` (= c_custkey) from the graph projection
  * (SURVEY §2.7: Cypher `id(n)` replaced by a persisted total-order key), so
  * results join straight back to the nodes DataFrame with no id remapping.
  *
  * Scale note: every algorithm here is bounded either by a fixed-size
  * subgraph (nid cap — constant work at any sf) or by an edge set that is
  * linear in nodes (family classes), never the full same-house clique.
  */
object GraphAnalytics {

  // ---- The runtime. Every persist, force and release of this file is
  // here: one graph builder and one round loop. Each entry ends through
  // Session.released, which collects its bounded result and releases
  // every RDD the call persisted, the graphs the runtime keeps included.
  // The scope also puts the result in the entry's order. Three entries
  // (pageRankTop, personalizedPageRank, survivorship) end their GraphX
  // part in a scope and finish lazily over its local relation, which
  // persists nothing.

  /** The graph of a (src, dst[, attr]) frame: ids cast to long, the edge
    * attribute from the third column (cast to int) or 1, every vertex
    * attribute 0. Edges and vertices are kept MEMORY_AND_DISK, and both
    * are persisted when first computed. `parts` is the edge partition
    * count: the bounded subgraphs take 2, since 32 shuffle-sized
    * partitions would make every Pregel superstep pay 32-task scheduling
    * and shuffle overhead (measured r7: 2 partitions shave ~0.2 s off
    * staticPageRank(10)'s superstep tax vs 8); the corpus-scale relations
    * take 8, which on a cluster would be sized to edges/128MB. */
  private def graph(edges: DataFrame, parts: Int): XGraph[Int, Int] = {
    val c = edges.columns
    val e = edges.select(col(c(0)).cast("long"), col(c(1)).cast("long"),
      (if (c.length > 2) col(c(2)) else lit(1)).cast("int"))
    XGraph.fromEdges(e.rdd.coalesce(parts).map(r => Edge(r.getLong(0), r.getLong(1), r.getInt(2))),
      defaultValue = 0,
      edgeStorageLevel = StorageLevel.MEMORY_AND_DISK,
      vertexStorageLevel = StorageLevel.MEMORY_AND_DISK).cache()
  }

  /** Both directions of every (src, dst) pair, each reverse next to its
    * edge in the same partition. */
  private def undirected(edges: DataFrame): DataFrame = {
    val Array(s, d) = edges.columns.take(2).map(col)
    edges.select(explode(array(struct(s.as("src"), d.as("dst")),
      struct(d.as("src"), s.as("dst")))).as("e")).select("e.*")
  }

  /** Rounds between two lineage truncations in [[iterate]]. */
  private val CheckpointEvery = 5

  /** One round of [[iterate]]: its number (from 1), and how many live
    * vertices the graph had before and after it. */
  private final case class Round(n: Int, before: Long, after: Long)

  /** The round loop: `step` from `g0` until `stop` holds for a round,
    * failing if `maxRounds` rounds pass without it; a graph with no live
    * vertex is already a fixpoint. Each round's graph is persisted and
    * materialized by ONE job over both halves, which also counts the
    * live vertices. Both halves, because `next.edges` is the old edge
    * RDD with the new vertex attributes shipped LAZILY: releasing the
    * old graph after forcing only the vertices would make every later
    * round recompute its edge lineage back to the scan (quadratic total
    * work — observed 66 s at sf0.1 for the corpus PageRank vs ~2 s).
    * One job, because at 16 rounds the per-job overhead was a third of
    * that entry's wall time. Then every RDD persisted since the loop
    * began is released except the graph handed on; what was persisted
    * before it (`g0`'s own graph) stays for the caller's scope. Every
    * `CheckpointEvery` rounds the graph is checkpointed to files, which
    * truncates lineage: without it round R's job replays all R−1 prior
    * rounds' lineage and the serialized lineage grows with depth — a
    * driver blow-up on a graph that peels in Θ(|V|) rounds. Nothing
    * deletes a checkpoint's files but its writer, so the loop deletes
    * them when it ends, as GraphX's Pregel does; the graph it returns is
    * persisted and does not read them. */
  private def iterate[VD: ClassTag, ED: ClassTag](g0: XGraph[VD, ED], maxRounds: Int,
      live: VD => Boolean = (_: VD) => true)(step: XGraph[VD, ED] => XGraph[VD, ED])(
      stop: Round => Boolean): XGraph[VD, ED] = {
    val sc = g0.vertices.sparkContext
    val kept = Session.persistedIds(sc)
    def materialize(g: XGraph[VD, ED]): Long =
      sc.union(g.edges.map(_ => 0L), g.vertices.map(v => if (live(v._2)) 1L else 0L))
        .fold(0L)(_ + _)
    val checkpointed = scala.collection.mutable.Buffer.empty[RDD[_]]
    var g = g0.cache()
    var n = materialize(g)
    var round = 0
    var done = n == 0
    try {
      while (!done && round < maxRounds) {
        round += 1
        val next = step(g).cache()
        if (round % CheckpointEvery == 0) {
          if (sc.getCheckpointDir.isEmpty)
            sc.setCheckpointDir(java.nio.file.Files.createTempDirectory("graft_ckpt").toString)
          next.checkpoint()
          checkpointed ++= Seq(next.vertices, next.edges)
        }
        val m = materialize(next)
        val held = Seq(next.vertices, next.edges).flatMap(r => r.id +: r.dependencies.map(_.rdd.id))
        Session.releaseAllBut(sc, kept ++ held)
        done = stop(Round(round, n, m))
        g = next
        n = m
      }
    } finally checkpointed.flatMap(_.getCheckpointFile).foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(graft.core.FileMeta.hadoopConf()).delete(p, true)
    }
    require(done, s"no fixpoint in $maxRounds rounds")
    g
  }

  /** FRIEND_OF pairs (srcId, dstId) among nid < maxNid, canonical
    * direction (nid src < dst by construction in Graph.friendOf). */
  private def friendPairs(spark: SparkSession, sfDir: String, maxNid: Long): DataFrame = {
    // Restrict the node set BEFORE the same-house self-join (the nid bound
    // reaches the parquet scans); filtering the derived pairs instead would
    // build the full clique first.
    val n = Graph.nodes(spark, sfDir).filter(col("nid") < maxNid)
    Graph.friendOfAmong(n)
      .join(n.select(col("name").as("src"), col("nid").as("srcId")), "src")
      .join(n.select(col("name").as("dst"), col("nid").as("dstId")), "dst")
      .select(col("srcId").cast("long"), col("dstId").cast("long"))
  }

  /** The bounded FRIEND_OF subgraph. */
  private def friendEdges(spark: SparkSession, sfDir: String, maxNid: Long): XGraph[Int, Int] =
    graph(friendPairs(spark, sfDir, maxNid), 2)

  /** Degree histogram of the undirected FRIEND_OF graph (bounded subgraph):
    * GraphX `degrees` (aggregateMessages under the hood) → histogram.
    * Oracle: degree = |same-house peers| among nid < cap. */
  def degreeHistogram(spark: SparkSession, sfDir: String, maxNid: Long = 500): DataFrame =
    Session.released(spark, "degree") {
      val deg = friendEdges(spark, sfDir, maxNid).degrees // undirected: in+out over canonical edges
      spark.createDataFrame(deg.map { case (_, d) => Tuple1(d) })
        .toDF("degree")
        .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
    }

  /** Connected components over SAME_FAMILY (GraphX iterative CC). Family
    * classes are complete subgraphs, so the expected component of a node is
    * min(nid) of its class — exactly what CC converges to (components are
    * labeled by min vertex id). Oracle-checkable. */
  def familyComponents(spark: SparkSession, sfDir: String, maxOut: Long = 200,
                       maxNid: Long = 1000): DataFrame = Session.released(spark, "nid") {
    // Family classes are nid % FamilyMod, so every class's minimum member
    // (its eventual CC label) has nid ≤ FamilyMod: a bounded subgraph keeps
    // the labels of the reported nid < maxOut slice exactly equal to the
    // full graph's, while the self-join stays constant-size at any sf.
    val n = Graph.nodes(spark, sfDir).filter(col("nid") < maxNid)
      .select(col("nid"), col("name"))
    val e = Graph.sameFamilyAmong(n)
      .join(n.select(col("name").as("src"), col("nid").as("srcId")), "src")
      .join(n.select(col("name").as("dst"), col("nid").as("dstId")), "dst")
      .select(col("srcId").cast("long"), col("dstId").cast("long"))
    val cc = graph(e, 8).connectedComponents().vertices
    spark.createDataFrame(cc.map { case (v, c) => (v, c) })
      .toDF("nid", "component")
      .filter(col("nid") < maxOut)
  }

  /** The descent sparsifier's edge set as a DataFrame (nid, dst): nid →
    * nid − FamilyMod·2^j for every j with a non-negative target. ALL
    * constants derive from `Graph.FamilyMod` and the actual corpus max
    * nid — one source of truth shared by the CC/BFS entries, their
    * oracles, and the spec, so a FamilyMod change or a corpus growing
    * past any fixed j-cap cannot silently desync the closed forms. jMax =
    * floor(log2(maxNid div FamilyMod)) is exactly the largest power a
    * minimal binary descent needs; deriving it (one column-stats max
    * probe) removes the old implicit 25·2^27 ceiling entirely, and the
    * require makes the one genuine limit (Long shift range) fail loudly. */
  private[graft] def sparsifierEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val mod = Graph.FamilyMod.toLong
    val n = Graph.nodes(spark, sfDir).select(col("nid").cast("long").as("nid"))
    val maxNid = n.agg(max("nid")).head().getLong(0)
    val kMax = math.max(1L, maxNid / mod)
    val jMax = 63 - java.lang.Long.numberOfLeadingZeros(kMax)
    require(jMax <= 56, s"sparsifier: max nid $maxNid needs 2^$jMax steps — beyond Long shift safety")
    n.select(col("nid"), explode(expr(s"sequence(0, $jMax)")).as("j"))
      .select(col("nid"), expr(s"nid - shiftleft(${mod}L, j)").as("dst"))
      .filter(col("dst") >= 0L)
  }

  /** CORPUS-SCALE connected components — the gx_* entry whose input grows
    * with sf (every other gx_* runs on a fixed-size subgraph by design).
    * CC over the full SAME_FAMILY relation at the query's scale factor,
    * but NOT over its clique materialization: family classes are
    * equivalence classes (`nid % FamilyMod`), so any spanning subgraph
    * has identical components, and the clique's |class|²/2 edges per
    * class (quadratic in sf — the exact blow-up the header warns about)
    * are replaced by a LOG-DEPTH SPARSIFIER: nid → nid − 25·2^j for every
    * j with a non-negative target. Both endpoints share nid mod 25, so
    * every edge stays inside its class; custkeys are contiguous from 0,
    * so every target exists; each class is connected (j=0 chains it) and
    * any member reaches the class minimum in ≤ log₂(class) greedy hops,
    * so GraphX's hash-min label propagation converges in O(log class)
    * supersteps instead of the chain's O(class) — at 10⁹ nodes that is
    * ~26 rounds over n·log n edges, the textbook pointer-doubling shape.
    * Output is the per-component census (label = class min = the residue
    * itself, member count, max member) — 25 rows whose counts grow with
    * sf, so the oracle hash certifies the FULL corpus was traversed. */
  def corpusFamilyCc(spark: SparkSession, sfDir: String): DataFrame = Session.released(spark, "component") {
    val cc = graph(sparsifierEdges(spark, sfDir), 8).connectedComponents()
    spark.createDataFrame(cc.vertices.map { case (v, c) => (v, c) })
      .toDF("nid", "component")
      .groupBy("component")
      .agg(count(lit(1)).as("n_members"), max("nid").as("max_nid"))
  }

  /** CORPUS-SCALE multi-source BFS (gx_corpus_bfs) — raw Pregel over the
    * same doubling sparsifier as `corpusFamilyCc`, messages flowing UP
    * the descent edges from the 25 class anchors. The closed form is
    * exact number theory: a node's descent distance to its anchor is the
    * minimal count of powers of two summing to k = nid div 25, which is
    * popcount(k) (two copies of 2^a fold into one 2^(a+1), so no
    * multiset beats the binary representation). Supersteps = max
    * popcount ≈ log₂(corpus/25): ~10 rounds at sf0.1 and only ~26 at
    * 10⁹ nodes — iterative analytics whose ROUND COUNT scales
    * logarithmically while its input scales linearly, the shape Pregel
    * is for. Output is the per-distance census (counts grow with sf);
    * oracle = bit_count(nid // 25), both engines bit-exact. */
  def corpusAnchorBfs(spark: SparkSession, sfDir: String): DataFrame = Session.released(spark, "dist") {
    val anchorBound = Graph.FamilyMod.toLong
    val g = graph(sparsifierEdges(spark, sfDir), 8)
      .mapVertices((id, _) => if (id < anchorBound) 0 else Int.MaxValue)
    val dist = g.pregel(Int.MaxValue)(
      (_, d, msg) => math.min(d, msg),
      t => if (t.dstAttr != Int.MaxValue && t.dstAttr + 1 < t.srcAttr)
             Iterator((t.srcId, t.dstAttr + 1))
           else Iterator.empty,
      (a, b) => math.min(a, b))
    spark.createDataFrame(dist.vertices.map { case (_, d) => Tuple1(d.toLong) })
      .toDF("dist")
      .groupBy("dist").agg(count(lit(1)).as("n_nodes"))
  }

  /** CORPUS-SCALE weighted SSSP (gx_corpus_sssp) — min-plus Pregel
    * (distributed Bellman-Ford) over the same descent sparsifier, but
    * with NON-UNIFORM edge costs, so unlike `corpusAnchorBfs` the
    * traversal must genuinely MINIMIZE over alternative decompositions
    * rather than count hops: the 2^j descent edge costs (1 + j). The
    * closed form is exact number theory again — a path from nid to its
    * anchor decomposes k = nid div FamilyMod into a multiset of powers
    * {2^j_i} with cost Σ(1 + j_i), and folding two copies of 2^a into
    * one 2^(a+1) changes cost 2(1+a) → (2+a), never an increase — so
    * the binary representation of k is a minimizer:
    * min cost = popcount(k) + Σ(positions of set bits). Bellman-Ford's
    * round bound is the edge count of the min-cost path = popcount(k)
    * ≈ log₂(corpus/FamilyMod) supersteps (~10 at sf0.1, ~26 at 10⁹
    * nodes), messages flow only on improvement. Output is the
    * per-cost census (counts grow with sf); the oracle replays
    * bit_count + the weighted-bit-position sum — plain integer
    * arithmetic, bit-exact in both engines. */
  def corpusWeightedSssp(spark: SparkSession, sfDir: String): DataFrame = Session.released(spark, "cost") {
    val mod = Graph.FamilyMod.toLong
    // Recover j from the descent span: src − dst = mod·2^j exactly, and
    // 2^j − 1 has j set bits.
    val edges = sparsifierEdges(spark, sfDir)
      .select(col("nid"), col("dst"), expr(s"1 + bit_count((nid - dst) DIV $mod - 1)"))
    val g = graph(edges, 8)
      .mapVertices((id, _) => if (id < mod) 0L else Long.MaxValue)
    val dist = g.pregel(Long.MaxValue)(
      (_, d, msg) => math.min(d, msg),
      t => if (t.dstAttr != Long.MaxValue && t.dstAttr + t.attr < t.srcAttr)
             Iterator((t.srcId, t.dstAttr + t.attr))
           else Iterator.empty,
      (a, b) => math.min(a, b))
    spark.createDataFrame(dist.vertices.map { case (_, d) => Tuple1(d) })
      .toDF("cost")
      .groupBy("cost").agg(count(lit(1)).as("n_nodes"))
  }

  /** CORPUS-SCALE triangle counting (gx_corpus_triangles) — GraphX
    * `triangleCount` over the descent sparsifier, closing the gap the
    * rejected clique formulation couldn't (per-vertex triangles on the
    * SAME_FAMILY clique need the |class|² edge set; the sparsifier is
    * n·log n). The closed form is exact: a triangle needs all three
    * pairwise differences to be powers of two, and 2^y − 2^x = 2^z
    * forces y = x + 1, so the ONLY triangles are
    * {k, k − 2^a, k − 2^(a+1)} in class-index space. A vertex k in a
    * class with max index K therefore sits in
    *   top:    floor(log2 k)          triangles  (k ≥ 2)
    *   middle: floor(log2 min(k,K−k)) + 1        (min ≥ 1)
    *   bottom: floor(log2 (K−k))                 (K−k ≥ 2)
    * — all floor-log2 of integers, which both engines express exactly
    * as binary-string length (no libm). Per-triangle work is an
    * adjacency intersection of two O(log n) neighbor lists, so the
    * whole pass is n·log²n — the at-scale shape per-vertex triangle
    * counting is supposed to have. Output: per-count census (counts
    * grow with sf). */
  def corpusTriangles(spark: SparkSession, sfDir: String): DataFrame = Session.released(spark, "triangles") {
    val g = graph(sparsifierEdges(spark, sfDir), 8)
      .partitionBy(PartitionStrategy.EdgePartition2D)
    val tc = g.triangleCount().vertices
    spark.createDataFrame(tc.map { case (_, t) => Tuple1(t.toLong) })
      .toDF("triangles")
      .groupBy("triangles").agg(count(lit(1)).as("n_nodes"))
  }

  /** CORPUS-SCALE neighborhood aggregation (gx_corpus_nbrsum) — ONE
    * aggregateMessages pass over the descent sparsifier, vertex
    * attribute = class index k = nid div FamilyMod, messages flowing
    * BOTH directions: the GNN/Pregel message-passing primitive at the
    * scale the bounded `neighborDegreeSum` twin demonstrates on a
    * subgraph. Per-vertex closed form (exact integer): with
    * d = floor(log2 k) and r = K − k (K = class max index),
    *   down-sum = (d+1)·k − (2^(d+1) − 1)        (k ≥ 1)
    *   up-sum   = u·k + (2^u − 1), u = floor(log2 r) + 1   (r ≥ 1)
    * — both engines render floor-log2 as binary-string length. The
    * output is per-vertex (rows grow with sf), so the oracle certifies
    * every single message sum, not a census. */
  def corpusNeighborKSum(spark: SparkSession, sfDir: String): DataFrame = Session.released(spark, "nid") {
    val mod = Graph.FamilyMod.toLong
    val g = graph(sparsifierEdges(spark, sfDir), 8)
      .mapVertices((id, _) => id / mod)
    val sums = g.aggregateMessages[Long](
      ctx => { ctx.sendToDst(ctx.srcAttr); ctx.sendToSrc(ctx.dstAttr) },
      _ + _)
    // Isolated-class vertices receive no messages; default their sum to 0
    // rather than dropping the row (the oracle emits every node).
    val out = g.outerJoinVertices(sums)((_, _, s) => s.getOrElse(0L)).vertices
    spark.createDataFrame(out.map { case (v, s) => (v, s) })
      .toDF("nid", "nbr_k_sum")
  }

  /** CORPUS-SCALE strongly connected components (gx_corpus_scc) — the
    * FW-BW Pregel SCC (`fwBwScc`, shared with the bounded `gx_scc`) over
    * a DIRECTED relation whose input grows linearly with sf: within each
    * family residue r, class indices k = nid div FamilyMod are cut into
    * blocks of 8 and each block is closed into a directed ring (forward
    * k → k+1 inside the block, the block's last member wrapping back to
    * its anchor); every block anchor additionally points ONE-WAY at the
    * residue's root anchor (k = 0). SCCs are therefore exactly the
    * blocks — the bridges are un-returnable, so connectivity must refuse
    * to cross them — and the construction is built for bounded
    * convergence AT ANY CORPUS SIZE: block rings have no external
    * in-edges, so the forward coloring gives every ring its own anchor's
    * color in one flood (the star condensation has depth 1, never a
    * chain), fwBwScc finalizes EVERYTHING in a single outer round, and
    * every Pregel flood is bounded by the constant ring circumference.
    * Constant supersteps × linear input — at 10⁹ nodes this is still
    * ~16 message rounds. Edges are pure arithmetic on contiguous nids
    * (no window, no join); the closed form scc(nid) =
    * nid − FamilyMod·(k mod 8) (the block anchor) lets the oracle
    * certify every node via per-residue census: count, distinct SCCs,
    * and the sum/max of labels over MEMBERS (which grow with sf). */
  def corpusScc(spark: SparkSession, sfDir: String): DataFrame = Session.released(spark, "residue") {
    val mod = Graph.FamilyMod.toLong
    val scc = fwBwScc(graph(blockRings(spark, sfDir, bridged = true), 8))
    spark.createDataFrame(scc.map { case (v, s) => (v % mod, s) })
      .toDF("residue", "scc")
      .groupBy("residue")
      .agg(count(lit(1)).as("n_nodes"),
        countDistinct(col("scc")).as("n_sccs"),
        sum(col("scc")).as("sum_scc"),
        max(col("scc")).as("max_scc"))
  }

  /** Members per ring in [[blockRings]]. */
  private val RingBlock = 8L

  /** The block-ring relation (src, dst) of `corpusScc` and
    * `corpusPageRank`: within each family residue, class indices k = nid
    * div FamilyMod cut into blocks of `RingBlock`, each closed into a
    * directed ring (k → k+1, the block's last member wrapping back to its
    * anchor). `bridged` adds one ONE-WAY edge from every block anchor but
    * the first to the residue's root anchor. Pure arithmetic on the
    * contiguous nids: no window, no join. */
  private def blockRings(spark: SparkSession, sfDir: String, bridged: Boolean): DataFrame = {
    val (mod, b) = (Graph.FamilyMod.toLong, RingBlock)
    val n = Graph.nodes(spark, sfDir).select(col("nid").cast("long").as("nid"))
    val maxNid = n.agg(max("nid")).head().getLong(0)
    val k = expr(s"nid DIV $mod")
    val isLast = (k % b === b - 1) || (col("nid") + mod > maxNid)
    val rings = n.filter(!isLast)
      .select(col("nid").as("src"), (col("nid") + mod).as("dst"))
      .unionByName(n.filter(isLast)
        .select(col("nid").as("src"), (col("nid") - lit(mod) * (k % b)).as("dst")))
    if (!bridged) rings
    else rings.unionByName(n.filter(k % b === 0 && k >= b)
      .select(col("nid").as("src"), (col("nid") % mod).as("dst")))
  }

  /** CORPUS-SCALE personalized PageRank power iteration
    * (gx_corpus_pagerank) — the float-free form of the PageRank
    * recurrence, run as a REAL fixed-count power iteration (16 rounds of
    * aggregateMessages + vertex join — exactly GraphX staticPageRank's
    * internal shape) over the same linear-in-sf block-ring relation as
    * `corpusScc` minus its bridges (every vertex: out-degree 1, in-degree
    * 1). Why integer: float PageRank sums messages in partition order, so
    * per-vertex doubles are not hash-certifiable (the BASELINE note-7
    * class). Choosing damping = 1/2 (dyadic) and a 2^40 fixed-point unit
    * makes every iterate an exact multiple of 2^24 — each half-ing is an
    * exact Long shift and message combination is integer addition
    * (associative, commutative → bit-identical at ANY partitioning or
    * cluster size). Personalization mass 2^39 enters at each block
    * anchor; after k rounds the recurrence telescopes to the closed form
    *   mass(v) = 2^(40−k) + Σ_{j : p+j·c < k} 2^(39−p−j·c)
    * with p = position in the ring (k-index mod 8) and c = the ring's
    * circumference — mass depends only on (p, c), so the per-mass census
    * (counts grow with sf) certifies every vertex. Constant supersteps ×
    * linear input: 16 rounds at sf0.1 and 16 rounds at 10⁹ nodes. */
  def corpusPageRank(spark: SparkSession, sfDir: String, iters: Int = 16): DataFrame =
    Session.released(spark, "mass") {
      val (mod, hold) = (Graph.FamilyMod.toLong, 1L << 39)
      val g0 = graph(blockRings(spark, sfDir, bridged = false), 8).mapVertices((_, _) => 1L << 40)
      val g = iterate(g0, iters) { g =>
        // Every mass is a multiple of 2^(40 - round) ≥ 2^24, so /2 is exact.
        val msgs = g.aggregateMessages[Long](ctx => ctx.sendToDst(ctx.srcAttr / 2), _ + _)
        g.outerJoinVertices(msgs)((id, _, m) =>
          (if ((id / mod) % RingBlock == 0L) hold else 0L) + m.getOrElse(0L))
      }(_.n == iters)
      spark.createDataFrame(g.vertices.map { case (_, m) => Tuple1(m) })
        .toDF("mass")
        .groupBy("mass").agg(count(lit(1)).as("n_nodes"))
    }

  /** CORPUS-SCALE coreness decomposition (gx_corpus_kcore) — the FULL
    * k-core peel (successive `peelKCore` levels, each a degree-recompute
    * fixpoint) over a linear-in-sf relation built to have a NON-TRIVIAL
    * coreness spectrum: within each family residue, class indices are cut
    * into blocks of 4 (only blocks with all 4 members present enter — the
    * one partial block per residue would degrade the topology at the
    * boundary, and both engines derive "full" from the data, so the
    * filters can never desync; block size 4, unlike the scc family's 8,
    * so even the 150-customer sf0.001 corpus carries full blocks in every
    * residue), and the block's internal topology is banded by residue
    * mod 3:
    *   band 0 — a CHAIN (k → k+1): unravels at the 2-peel → coreness 1;
    *   band 1 — a RING (chain + wrap): a cycle survives every 2-peel but
    *     dies at 3 → coreness 2;
    *   band 2 — the ring CHORD-COMPLETED to K4 (adding only the two
    *     {0,2}/{1,3} diagonals — emitting all four i → i+2 chords of
    *     C4(1,2) would double-cover them as parallel edges and corrupt
    *     the peel's multigraph degrees): 3-regular → coreness 3.
    * The closed form is exact by construction — coreness(v) = band(v)'s
    * constant — so the per-(residue, coreness) census certifies every
    * vertex, with counts that grow with sf. Supersteps are CONSTANT at
    * any corpus size: each peel level converges within the 4-vertex block
    * diameter (~8 subgraph rounds total, at 10⁹ nodes as at sf0.001),
    * while the input grows linearly — and unlike the other gx_corpus
    * entries this one exercises vertex REMOVAL with degree recomputation,
    * the peeling shape GraphX analytics pipelines use for core/shell
    * filtering of web and citation graphs. Edges are pure arithmetic on
    * contiguous nids; the only shuffles are the full-block semi-join and
    * the peel's own degree passes. The census (≤ FamilyMod × 5 rows)
    * returns as a local relation, and every RDD the call persisted is
    * released before it returns. */
  def corpusKCore(spark: SparkSession, sfDir: String): DataFrame =
    Session.released(spark, "residue", "coreness") {
      val mod = Graph.FamilyMod.toLong
      val B = 4L
      val base = Graph.nodes(spark, sfDir)
        .select(col("nid").cast("long").as("nid"))
        .withColumn("residue", col("nid") % mod)
        .withColumn("k", expr(s"nid DIV $mod"))
        .withColumn("blk", expr(s"k DIV $B"))
        .withColumn("pos", col("k") % B)
      val full = base.groupBy("residue", "blk")
        .agg(count(lit(1)).as("m")).filter(col("m") === B)
        .select("residue", "blk")
      val mem = base.join(full, Seq("residue", "blk"))
      val band = col("residue") % 3
      // Canonical direction (src < dst) everywhere, and the three edge
      // families have pairwise-distinct spans (1, 3, 2 × mod), so the
      // undirected degree is exactly the family sum — no dedup pass needed.
      val chain = mem.filter(col("pos") < B - 1)
        .select(col("nid").as("src"), (col("nid") + mod).as("dst"))
      val wrap = mem.filter(band >= 1 && col("pos") === B - 1)
        .select((col("nid") - (B - 1) * mod).as("src"), col("nid").as("dst"))
      val chord = mem.filter(band === 2 && col("pos") < B - 2)
        .select(col("nid").as("src"), (col("nid") + 2 * mod).as("dst"))
      var g = graph(chain.unionByName(wrap).unionByName(chord), 8)
      // Coreness = the peel level that dropped the vertex, minus one: peel
      // at k ascending, diff the survivor sets. 4 levels suffice (max
      // coreness 3 by construction; the guard labels any 4-core remnant).
      // Every level's graph stays persisted until the call ends, so the
      // census diffs them without replaying a peel.
      var acc: RDD[(Long, Int)] = spark.sparkContext.emptyRDD
      for (kk <- 1 to 4) {
        val peeled = peelKCore(g, kk)
        acc = acc.union(g.vertices.keys.subtract(peeled.vertices.keys).map(v => (v, kk - 1)))
        g = peeled
      }
      spark.createDataFrame(acc.union(g.vertices.keys.map(v => (v, 4))).map { case (v, c) => (v % mod, c) })
        .toDF("residue", "coreness")
        .groupBy("residue", "coreness")
        .agg(count(lit(1)).as("n_nodes"))
    }

  /** Per-vertex triangle count on a bounded FRIEND_OF subgraph. Same-house
    * cliques make the closed form (size-1 choose 2) the oracle. GraphX
    * requires canonical partitioning for triangleCount. */
  def triangleCounts(spark: SparkSession, sfDir: String, maxNid: Long = 300): DataFrame =
    Session.released(spark, "nid") {
      val g = friendEdges(spark, sfDir, maxNid)
        .partitionBy(PartitionStrategy.EdgePartition2D)
      val tc = g.triangleCount().vertices
      spark.createDataFrame(tc.map { case (v, t) => (v, t) })
        .toDF("nid", "triangles")
        .filter(col("triangles") > 0)
    }

  /** Neighborhood aggregation via aggregateMessages: sum of neighbors'
    * degrees (a 2-hop statistic — the message-passing shape Pregel/GNN
    * pipelines are built from). Undirected: messages flow both ways. */
  def neighborDegreeSum(spark: SparkSession, sfDir: String, maxNid: Long = 300): DataFrame =
    Session.released(spark, "nid") {
      val g = friendEdges(spark, sfDir, maxNid)
      val withDeg = g.outerJoinVertices(g.degrees)((_, _, d) => d.getOrElse(0))
      val sums = withDeg.aggregateMessages[Long](
        ctx => { ctx.sendToDst(ctx.srcAttr.toLong); ctx.sendToSrc(ctx.dstAttr.toLong) },
        _ + _)
      spark.createDataFrame(sums.map { case (v, s) => (v, s) })
        .toDF("nid", "nbr_degree_sum")
    }

  /** Near-duplicate document clustering: connected components over the
    * MinHash+LSH near-dup pair graph, canonical survivor = min doc_id per
    * component (GraphX CC labels components by min vertex id, so the label
    * IS the keep id). The last stage of a dedup pipeline: detect pairs →
    * cluster transitively → keep one doc per cluster. Works on any pair
    * graph — the non-clique chains LSH produces are exactly why a
    * transitive step is required (keep-min-neighbor would split them).
    * Oracle: DuckDB recursive CTE over the same pair set. */
  def dedupClusters(spark: SparkSession, sfDir: String): DataFrame =
    clustersOverPairs(spark, graft.ops.TextOps.dedupMinHashLsh(spark, sfDir), "doc_id")

  /** SURVIVORSHIP — the entity-resolution policy step after clustering:
    * which copy do you KEEP? The canonical-label rule (min doc_id, what
    * CC hands back for free) is arbitrary; real curation keeps the
    * RICHEST record — here max `n_chars` with a doc_id tiebreak, the
    * longest-representative policy C4-style pipelines use. One
    * `max(struct(...))` hash aggregate over the clustered ids — the
    * argmax is partial-combinable, so at 100 TB survivor election costs
    * the same single shuffle as the member count; no per-cluster sort,
    * no window. Only multi-member clusters appear (singletons have no
    * election to run). */
  def survivorship(spark: SparkSession, sfDir: String): DataFrame = {
    val clusters = dedupClusters(spark, sfDir).select(col("doc_id"), col("keep_id"))
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"))
    clusters.join(docs, "doc_id")
      .groupBy(col("keep_id").as("component"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("n_chars").as("nc"), (-col("doc_id")).as("neg_id"))).as("best"))
      .select(col("component"), col("n_members"),
        (-col("best.neg_id")).as("survivor_id"),
        col("best.nc").as("survivor_nchars"))
      .orderBy("component")
  }

  /** SEMANTIC dedup clustering: connected components over the
    * embedding-cosine near-dup pair graph — the vector-space twin of
    * `dedupClusters` (two docs can be near-identical in meaning with zero
    * shared 3-grams; cosine pairs catch those, the transitive CC step then
    * collapses paraphrase CHAINS a pairwise threshold would split). Same
    * min-id-survivor rule, same recursive-CTE oracle shape. */
  def semanticClusters(spark: SparkSession, sfDir: String): DataFrame =
    clustersOverPairs(spark, graft.ops.SimilarityOps.cosineNearDupPairs(spark, sfDir), "vec_id")

  /** GraphX CC over any canonical (src_id < dst_id) pair set; component
    * label = min member id = the survivor (GraphX labels components by min
    * vertex id, so the label IS the keep id). The cluster table (one row
    * per paired id) returns as a local relation. */
  private def clustersOverPairs(spark: SparkSession, pairs: DataFrame,
                                idName: String): DataFrame = Session.released(spark, idName) {
    val cc = graph(pairs.select("src_id", "dst_id"), 8).connectedComponents()
    spark.createDataFrame(cc.vertices.map { case (v, c) => (v, c) })
      .toDF(idName, "keep_id")
      .withColumn("is_kept", col(idName) === col("keep_id"))
  }

  /** Single-source BFS hop distances via Pregel over the FRIEND_OF ∪
    * SAME_FAMILY union graph (family edges bridge houses, so distances
    * genuinely reach 2-3 hops — not the 0/1 closed form of one clique).
    * This is the raw Pregel API (the other algorithms here use GraphX's
    * prepackaged lib.*): vertex state = best-known distance, messages =
    * dist+1 along both directions, convergence when no vertex improves —
    * the message-passing shape Cypher's variable-length paths compile to
    * at scale. Unreached vertices are dropped (no infinite rows).
    * Oracle: DuckDB recursive-CTE BFS over the same derived edge set. */
  def shortestHops(spark: SparkSession, sfDir: String,
                   srcNid: Long = 1, maxNid: Long = 120): DataFrame = Session.released(spark, "nid") {
    val n = Graph.nodes(spark, sfDir).filter(col("nid") < maxNid)
      .select(col("nid"), col("house"), (col("nid") % Graph.FamilyMod).as("fam"))
    val b = n.select(col("nid").as("nid2"), col("house").as("house2"),
      col("fam").as("fam2"))
    // Canonical-direction pairs on either shared key; one distinct pass.
    val pairs = n.join(b, col("house") === col("house2") && col("nid") < col("nid2"))
      .select(col("nid").as("src"), col("nid2").as("dst"))
      .union(n.join(b, col("fam") === col("fam2") && col("nid") < col("nid2"))
        .select(col("nid").as("src"), col("nid2").as("dst")))
      .distinct()
    val g = graph(undirected(pairs), 8)
      .mapVertices((id, _) => if (id == srcNid) 0 else Int.MaxValue)
    val dist = g.pregel(Int.MaxValue)(
      (_, d, msg) => math.min(d, msg),
      t => if (t.srcAttr != Int.MaxValue && t.srcAttr + 1 < t.dstAttr)
             Iterator((t.dstId, t.srcAttr + 1))
           else Iterator.empty,
      (a, b) => math.min(a, b))
    spark.createDataFrame(
        dist.vertices.filter(_._2 != Int.MaxValue)
          .map { case (v, d) => (v, d.toLong) })
      .toDF("nid", "dist")
  }

  /** k-core decomposition by iterative peeling over the bounded FRIEND_OF
    * graph: repeatedly remove vertices with degree < k until a fixpoint —
    * the standard coreness algorithm, expressed as a degree-recompute loop
    * over `subgraph` (each round is one aggregateMessages pass; the loop
    * runs at most diameter·k rounds and each round strictly shrinks the
    * vertex set or terminates). On a union of same-house cliques the
    * k-core closed form is exact — a clique of size c survives iff
    * c − 1 ≥ k — which is the oracle.
    * Output: surviving vertices with their in-core degree. */
  def kCore(spark: SparkSession, sfDir: String, k: Int = 10, maxNid: Long = 300): DataFrame =
    Session.released(spark, "nid") {
      val g = peelKCore(friendEdges(spark, sfDir, maxNid), k)
      spark.createDataFrame(g.degrees.map { case (v, d) => (v, d.toLong) })
        .toDF("nid", "core_degree")
    }

  /** The k-core peel: [[iterate]] until the vertex set stops shrinking
    * or empties. Each round strictly shrinks the vertex set or ends the
    * peel, so the vertex count bounds the rounds; a graph with deep cores
    * peels in many of them (a path graph in Θ(|V|); see ExtOpsSpec's
    * adversarial case), which the loop's lineage truncation keeps
    * bounded. Returns the persisted fixpoint graph. */
  def peelKCore(g0: XGraph[Int, Int], k: Int): XGraph[Int, Int] =
    iterate(g0, Int.MaxValue) { g =>
      // Degree becomes the vertex attribute (vertices missing from
      // `degrees` have degree 0); the peel is a distributed subgraph
      // predicate — no driver-side vertex set, works at any graph size.
      g.outerJoinVertices(g.degrees)((_, _, d) => d.getOrElse(0)).subgraph(vpred = (_, d) => d >= k)
    }(r => r.after == r.before || r.after == 0)

  /** PageRank over the bounded friend subgraph — the classic iterative
    * benchmark. The graph is made genuinely undirected (both edge
    * directions), so every vertex of a clique component is degree-regular
    * and PageRank's fixpoint is UNIFORM across all vertices — a closed
    * form the oracle can state: the output carries per-vertex membership
    * plus `rank_uniform` (rank within 1e-6 of the global mean). A
    * misconverged or direction-biased PageRank flips the boolean and fails
    * the hash compare (rq12's tolerance-judgment trick); the spec
    * additionally asserts rank mass conservation on the raw values. */
  def pageRankRaw(spark: SparkSession, sfDir: String, maxNid: Long = 300): DataFrame =
    Session.released(spark) {
      val pr = graph(undirected(friendPairs(spark, sfDir, maxNid)), 2).staticPageRank(10).vertices
      spark.createDataFrame(pr.map { case (v, r) => (v, r) })
        .toDF("nid", "rank")
    }

  /** PERSONALIZED PageRank from one source — random walks that reset to
    * the SOURCE, not uniformly, so rank mass is confined to the source's
    * reachable component: on the same-house clique graph, exactly the
    * source's house. Certificates through the hash channel: `reached`
    * per vertex must equal house membership (the closed form — proves
    * the walk never leaked probability mass across components), and the
    * two floats-only facts ride as booleans — the source outranks every
    * peer, and all non-source peers are rank-uniform (symmetry), with an
    * ulp tolerance because message summation order is partition-
    * dependent. */
  def personalizedPageRank(spark: SparkSession, sfDir: String,
                           srcKey: Int = 1, maxNid: Long = 300): DataFrame = {
    val src = srcKey.toLong
    // The 300-row rank frame is computed ONCE into a local relation, so
    // the certificate probe and the final projection never re-walk the
    // Pregel vertex RDD; the probe itself is a single conditional-aggregate
    // job (was: two jobs — a peers min/max agg plus a separate head() for
    // the source rank).
    val ranks = Session.released(spark) {
      val und = graph(undirected(friendPairs(spark, sfDir, maxNid)), 2)
      spark.createDataFrame(und.staticPersonalizedPageRank(src, 10).vertices.map { case (v, r) => (v, r) })
        .toDF("nid", "rank")
    }
    val stats = ranks.agg(
      min(when(col("nid") =!= src && col("rank") > 0, col("rank"))),
      max(when(col("nid") =!= src && col("rank") > 0, col("rank"))),
      max(when(col("nid") === src, col("rank")))).head()
    val uniformPeers = stats.getDouble(1) - stats.getDouble(0) < 1e-9
    val srcMax = stats.getDouble(2) > stats.getDouble(1)
    ranks
      .select(col("nid"), (col("rank") > 0).as("reached"),
        lit(uniformPeers).as("peers_uniform"), lit(srcMax).as("source_max"))
      .orderBy("nid")
  }

  def pageRankTop(spark: SparkSession, sfDir: String, maxNid: Long = 300, k: Int = 20): DataFrame = {
    val ranks = pageRankRaw(spark, sfDir, maxNid)
    val mean = ranks.agg(avg("rank").as("mean"))
    ranks.crossJoin(broadcast(mean))
      .select(col("nid"), (abs(col("rank") - col("mean")) <= 1e-6).as("rank_uniform"))
      .orderBy("nid")
  }

  /** Synchronous label propagation (community detection) with a
    * DETERMINISTIC tie-break — GraphX's bundled LPA picks the max-count
    * label via Map iteration order, which varies with hashing; here ties
    * break (count DESC, label ASC) through an explicit total order, so the
    * result is partitioning-independent and oracle-checkable. On the
    * same-house clique graph sync LPA provably converges to each clique's
    * MIN vertex id within 3 rounds (round 1: everyone adopts the min
    * neighbor; round 2: the min vertex re-adopts its own id back from the
    * majority), which IS the closed-form oracle. Fixed `iters` supersteps
    * of [[iterate]], like the k-core peel (lineage stays bounded at any
    * community depth). */
  def labelPropagation(spark: SparkSession, sfDir: String,
                       maxNid: Long = 300, iters: Int = 6): DataFrame = Session.released(spark, "nid") {
    val g0: XGraph[VertexId, Int] = friendEdges(spark, sfDir, maxNid).mapVertices((vid, _) => vid)
    val g = iterate(g0, iters) { g =>
      val votes = g.aggregateMessages[Map[VertexId, Int]](
        ctx => {
          ctx.sendToDst(Map(ctx.srcAttr -> 1))
          ctx.sendToSrc(Map(ctx.dstAttr -> 1))
        },
        (a, b) => (a.keySet ++ b.keySet).iterator
          .map(k => k -> (a.getOrElse(k, 0) + b.getOrElse(k, 0))).toMap)
      g.outerJoinVertices(votes) { (_, old, opt) =>
        opt.fold(old)(m => m.minBy { case (l, c) => (-c, l) }._1)
      }
    }(_.n == iters)
    spark.createDataFrame(g.vertices.map { case (v, l) => (v, l) })
      .toDF("nid", "label")
  }

  /** Strongly connected components vs weakly connected, on a graph where
    * DIRECTION is load-bearing: each family's members form a directed
    * RING (successor-by-nid, wrapping), and ONE-WAY bridges fan out from
    * family 0's minimum to every other family's minimum. Undirected
    * reachability collapses everything into one component; strong
    * connectivity must refuse to cross the one-way bridges and keep each
    * ring its own SCC — the closed form the oracle states (scc = min nid
    * of the family, wcc = global min). The star fan-out (rather than a
    * min-to-min chain) keeps every ring's forward color its own root, so
    * GraphX's SCC coloring finalizes ALL rings in one outer iteration —
    * a chain finalizes one ring per iteration, its topological depth.
    * Bounded subgraph: constant work at any sf, the gx_* rule. */
  def stronglyConnected(spark: SparkSession, sfDir: String,
                        maxNid: Long = 100): DataFrame = Session.released(spark, "nid") {
    import org.apache.spark.sql.expressions.Window
    val n = Graph.nodes(spark, sfDir).filter(col("nid") < maxNid)
      .select(col("nid").cast("long").as("nid"),
        (col("nid") % lit(Graph.FamilyMod)).cast("long").as("fam"))
    val w = Window.partitionBy("fam").orderBy("nid")
    val ring = n.withColumn("nxt", lead(col("nid"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("nid").as("src"), col("nxt").as("dst"))
    val ends = n.groupBy("fam").agg(min("nid").as("mn"), max("nid").as("mx"))
    val wrap = ends.select(col("mx").as("src"), col("mn").as("dst"))
    val hub = ends.filter(col("fam") === 0).select(col("mn").as("hub"))
    val bridges = ends.filter(col("fam") =!= 0).crossJoin(broadcast(hub))
      .select(col("hub").as("src"), col("mn").as("dst"))
    val g = graph(ring.unionByName(wrap).unionByName(bridges), 2)
    val scc = fwBwScc(g)
    val wcc = g.connectedComponents().vertices
    spark.createDataFrame(scc.join(wcc).map { case (v, (s, c)) => (v, s, c) })
      .toDF("nid", "scc", "wcc")
  }

  /** Forward-backward SCC (the FW-BW algorithm, Pregel-ized): per round,
    * (1) flood the minimum reachable-FROM id forward to a fixpoint —
    * every vertex gets the id of the smallest unfinished vertex that
    * reaches it (its COLOR); (2) flood a reached-the-root flag backward
    * along SAME-COLOR edges only — a vertex that both carries color c
    * and reaches c through c-colored vertices is in c's SCC, exactly the
    * forward∩backward reachability definition. Finalized vertices drop
    * out; remaining vertices re-round. Why not GraphX's built-in: same
    * math, but its per-iteration `subgraph()` materializations cost ~10 s
    * on even this bounded graph; two plain Pregel fixpoints per round
    * cost well under a second, and round count = SCC-condensation depth
    * measured in color collisions (1 for the star construction, pinned by
    * the spec on chains too). At 100 TB the same trade holds: supersteps
    * are diameter-bounded, state is one (color, flag, done) triple per
    * vertex. Each round is one [[iterate]] round, live = unfinished. */
  private[graft] def fwBwScc(g0: XGraph[Int, Int], maxRounds: Int = 50): RDD[(VertexId, Long)] = {
    // state: (color, inScc, done, sccId)
    val work0 = g0.mapVertices((_, _) => (Long.MaxValue, false, false, -1L))
    iterate(work0, maxRounds, live = (st: (Long, Boolean, Boolean, Long)) => !st._3) { work =>
      // (1) forward min-color flood among unfinished vertices.
      val colored = work.pregel(Long.MaxValue,
          activeDirection = org.apache.spark.graphx.EdgeDirection.Out)(
        (id, st, msg) =>
          if (st._3) st else (math.min(math.min(st._1, id), msg), st._2, st._3, st._4),
        t => if (t.srcAttr._3 || t.dstAttr._3) Iterator.empty
             else if (t.srcAttr._1 < t.dstAttr._1) Iterator((t.dstId, t.srcAttr._1))
             else Iterator.empty,
        (a, b) => math.min(a, b))
      // (2) backward reach-the-root flood along same-color edges: roots
      // seed themselves; the flag crosses an edge only if both endpoints
      // share the color.
      val marked = colored.mapVertices((id, st) =>
          if (!st._3 && st._1 == id) (st._1, true, st._3, st._4) else st)
        .pregel(false,
          activeDirection = org.apache.spark.graphx.EdgeDirection.In)(
        (_, st, msg) => if (st._3) st else (st._1, st._2 || msg, st._3, st._4),
        t => if (!t.srcAttr._3 && !t.dstAttr._3 &&
                 t.srcAttr._1 == t.dstAttr._1 && t.dstAttr._2 && !t.srcAttr._2)
               Iterator((t.srcId, true))
             else Iterator.empty,
        (a, b) => a || b)
      // Finalize: in-SCC vertices take their color as scc id; survivors
      // reset their color for the next round.
      marked.mapVertices { (_, st) =>
        if (st._3) st
        else if (st._2) (st._1, false, true, st._1)
        else (Long.MaxValue, false, false, -1L)
      }
    }(_.after == 0).vertices.mapValues(_._4)
  }
}
