package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Property-graph projection of the relational corpus (SURVEY §7.1,
  * FIXTURES.md §B): the same rule shapes the reference's graph builder uses
  * (`get_insert.py`), re-expressed as declarative Spark plans over the
  * deterministic TPC-H-ish tables so every graph operator has DuckDB-oracle
  * SQL.
  *
  *  - nodes      = `customer` (name = c_name, house = c_mktsegment,
  *                 nid = c_custkey — the stable total-order id replacing
  *                 Cypher's `id(n)`, get_insert.py:126,136)
  *  - houses     = distinct mktsegments (get_insert.py:83-84)
  *  - BELONGS_TO = person → house (get_insert.py:107-111)
  *  - FRIEND_OF  = same-house self-join, `nid < nid2` dedup tiebreak
  *                 (get_insert.py:132-138, J7)
  *  - SAME_FAMILY= self-join on a derived family key, `<` tiebreak
  *                 (get_insert.py:122-128, J6; family = c_custkey % 25)
  *  - ENEMY_OF   = cross join of two houses, BOTH directions materialized
  *                 (get_insert.py:141-145, J8)
  *  - ROMANTIC_WITH = curated pair list, equality-or-contains fuzzy match,
  *                 both directions (get_insert.py:15-43,147-163, J9)
  *
  * The derivations here are *lazy plans*: filters on downstream queries
  * push through the unions into the self-joins, so a one-person expansion
  * never builds the full clique. Every rule but ROMANTIC_WITH is a
  * predicate on the endpoints' (house, family) pair, so the two Winder
  * endpoints read no edge at all: they answer from the node table's
  * (house, family) cells and the romance list (`GraphOps.winderTopK`,
  * `GraphOps.winderDepth2`). The other person↔person edge READS —
  * single-person lookups, the house subgraph (`src ∈ prefix`,
  * `dst ∈ house set`), full-scan aggregations — go to `personEdgesU`:
  * the undirected closure written ONCE per scale factor as a
  * bucketed-by-src table (the 100 TB layout this header always
  * promised), so no repeated query pays the clique expansion, src
  * lookups prune the bucket listing, and src-keyed aggregations shuffle
  * nothing. The consumers that still derive edges
  * live: the artifact's own build; node-predicate restricted rules the
  * artifact cannot prune on (the nid-bounded FRIEND_OF / SAME_FAMILY
  * graphs of the GraphX analytics, the one-family sample); single-rule
  * reads (`romancePairs`, `upsertEdges`); the canonical-graph writers
  * (`GraphBuilder`, `Typed.personEdges`); and BELONGS_TO (linear, one
  * node scan).
  */
object Graph {
  /** The two houses whose members are mutual enemies (≅ Gryffindor ×
    * Slytherin, get_insert.py:141). */
  val EnemyHouseA = "BUILDING"
  val EnemyHouseB = "MACHINERY"

  /** Family count for the derived SAME_FAMILY key. Customers with equal
    * `c_custkey % FamilyMod` share a "last name" (J6's derived-key shape). */
  val FamilyMod = 25

  /** Curated romance pair list (≅ ROMANCES get_insert.py:15-43): custkey
    * patterns matched with equality-or-contains (J9). All keys < 150 so the
    * pairs exist at every scale factor. */
  val Romances: Seq[(Int, Int)] =
    Seq(1 -> 2, 3 -> 4, 5 -> 6, 7 -> 8, 9 -> 10, 11 -> 12,
        20 -> 21, 30 -> 31, 40 -> 41, 50 -> 51, 60 -> 61, 100 -> 101)

  /** 9-digit key pattern as it appears inside `c_name` ("Customer#%09d").
    * With fixed-width padding, contains-match ≡ exact match — deterministic
    * at every sf, while keeping the reference's fuzzy-match shape. */
  def keyPat(k: Int): String = f"#$k%09d"

  /** Full node name for a customer key — the single source for the name
    * format (queries that bake literal names derive them here, so a naming
    * change cannot silently de-sync a query from the node table). */
  def fullName(k: Int): String = s"Customer${keyPat(k)}"

  /** The reference UI's image property (app.py:222-227 returns it with
    * match cards): not present in the relational corpus, so the projection
    * defines it as a deterministic URL derived from the name. */
  def imageUrl(c: Column): Column = concat(lit("img/"), c, lit(".png"))

  /** Person nodes: name (PK), house, nid (stable order id), nation, acctbal. */
  def nodes(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir).select(
      col("c_custkey").as("nid"),
      col("c_name").as("name"),
      col("c_mktsegment").as("house"),
      col("c_nationkey").as("nation"),
      col("c_acctbal").as("acctbal"))

  /** Spread a derivation's STREAMED side across the cluster. The node table
    * arrives as few (locally: one) input splits; a broadcast-hash self-join
    * then runs the whole quadratic expansion in that many tasks. Repartition
    * the streamed side first so clique generation parallelizes — the 100 TB
    * twin of this is bucketing the node table at write time. */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** House nodes (broadcast-sized: 5 distinct segments). */
  def houses(spark: SparkSession, sfDir: String): DataFrame =
    nodes(spark, sfDir).select(col("house").as("name")).distinct()

  private def edge(src: Column, dst: Column, relType: String): Seq[Column] =
    Seq(src.as("src"), dst.as("dst"), lit(relType).as("relType"))

  /** BELONGS_TO: person → house. */
  def belongsTo(spark: SparkSession, sfDir: String): DataFrame =
    nodes(spark, sfDir).select(edge(col("name"), col("house"), "BELONGS_TO"): _*)

  /** FRIEND_OF: same-house pairs, canonical direction nid(a) < nid(b).
    * Quadratic in house size by construction (the reference's same-house
    * clique, get_insert.py:132-138) — consumers must restrict the node set
    * BEFORE expanding (use the `friendOfAmong` overload), never filter the
    * expanded pairs. */
  def friendOf(spark: SparkSession, sfDir: String): DataFrame =
    friendOfAmong(nodes(spark, sfDir))

  /** FRIEND_OF among an arbitrary (pre-filtered) node set. A filter applied
    * to `among` reaches the parquet scans on BOTH join sides; filtering the
    * pair output instead would first build the full clique. */
  def friendOfAmong(among: DataFrame): DataFrame = {
    val a = spread(among.select("nid", "name", "house"))
    val b = among.select(
      col("nid").as("nid2"), col("name").as("name2"), col("house").as("house2"))
    a.join(b, col("house") === col("house2") && col("nid") < col("nid2"))
      .select(edge(col("name"), col("name2"), "FRIEND_OF"): _*)
  }

  /** SAME_FAMILY: equal derived family key, nid(a) < nid(b) (J6). */
  def sameFamily(spark: SparkSession, sfDir: String): DataFrame =
    sameFamilyAmong(nodes(spark, sfDir))

  def sameFamilyAmong(among: DataFrame): DataFrame = {
    val n = spread(among
      .select(col("nid"), col("name"), (col("nid") % FamilyMod).as("family")))
    val m = among.select(col("nid").as("nid2"), col("name").as("name2"),
      (col("nid") % FamilyMod).as("family2"))
    n.join(m, col("family") === col("family2") && col("nid") < col("nid2"))
      .select(edge(col("name"), col("name2"), "SAME_FAMILY"): _*)
  }

  /** ENEMY_OF: genuine cross join of house A × house B, both directions
    * (get_insert.py:141-145). Broadcast-nested-loop is the right physical
    * plan for one small side; at equal large sides this is the one edge rule
    * that cannot avoid a quadratic blow-up — exactly like the reference. */
  def enemyOf(spark: SparkSession, sfDir: String): DataFrame =
    enemyOfAmong(nodes(spark, sfDir))

  def enemyOfAmong(among: DataFrame): DataFrame = {
    val a = spread(among.filter(col("house") === EnemyHouseA)).select(col("name").as("na"))
    val b = among.filter(col("house") === EnemyHouseB).select(col("name").as("nb"))
    val oneWay = a.crossJoin(b)
    oneWay.select(edge(col("na"), col("nb"), "ENEMY_OF"): _*)
      .unionByName(oneWay.select(edge(col("nb"), col("na"), "ENEMY_OF"): _*))
  }

  /** ROMANTIC_WITH: curated pairs, equality-or-contains match on both ends,
    * both directions (J9). Pairs are a literal local relation → broadcast
    * nested loop against nodes, which is exactly right at any scale. */
  def romanticWith(spark: SparkSession, sfDir: String): DataFrame =
    romanticWithAmong(spark, nodes(spark, sfDir))

  def romanticWithAmong(spark: SparkSession, among: DataFrame): DataFrame = {
    val pairs = spark.createDataFrame(Romances.map { case (x, y) => (keyPat(x), keyPat(y)) })
      .toDF("p1", "p2")
    val n = among.select("name")
    val left = n.join(broadcast(pairs),
      col("name") === col("p1") || col("name").contains(col("p1")))
      .select(col("name").as("na"), col("p2"))
    val matched = left.join(n.withColumnRenamed("name", "nb"),
      col("nb") === col("p2") || col("nb").contains(col("p2")))
    matched.select(edge(col("na"), col("nb"), "ROMANTIC_WITH"): _*)
      .unionByName(matched.select(edge(col("nb"), col("na"), "ROMANTIC_WITH"): _*))
  }

  /** All person↔person edges (BELONGS_TO excluded: it targets House nodes). */
  def personEdges(spark: SparkSession, sfDir: String): DataFrame =
    personEdgesAmong(spark, nodes(spark, sfDir))

  /** Person↔person edges derived among a restricted node set — equal to
    * filtering `personEdges` to pairs with BOTH endpoints in the set, but
    * the restriction reaches the scans (SURVEY §7.3: filter before the
    * clique, the only shape that survives 100 TB). */
  def personEdgesAmong(spark: SparkSession, among: DataFrame): DataFrame =
    friendOfAmong(among)
      .unionByName(sameFamilyAmong(among))
      .unionByName(enemyOfAmong(among))
      .unionByName(romanticWithAmong(spark, among))

  /** Every edge including BELONGS_TO — the `(p)-[r]-(m)` any-type surface
    * (app.py:257). */
  def allEdges(spark: SparkSession, sfDir: String): DataFrame =
    personEdges(spark, sfDir).unionByName(belongsTo(spark, sfDir))

  /** ETL: the UNDIRECTED person↔person closure, materialized once per
    * scale factor as a parquet table hash-bucketed AND sorted on `src`
    * (32 buckets). This is the write-once edge table of the module doc:
    *  - `src = literal` lookups (1-hop expansions, graph payloads) prune
    *    to one bucket file, then to row groups via the sort — never
    *    touching the quadratic derivation;
    *  - `groupBy(src)` aggregations (degree, ML feature pivots) run with
    *    NO shuffle exchange on the bucketed scan;
    *  - queries lose the multi-ten-second variance of re-deriving the
    *    clique expansion per run (the round-3 driver-bench spike class).
    * The build itself is the lazy derivation below — executed exactly
    * once, repartitioned to align tasks with buckets (same murmur hash →
    * 32 files). Its only live consumer is that build; node-predicate
    * restricted derivations (module doc) use the `*Among` rules directly. */
  def personEdgesU(spark: SparkSession, sfDir: String): DataFrame = {
    // Keep bucketed scans ON even for filter-only plans: the auto-disable
    // heuristic only looks for joins/aggregations, and turning the bucketed
    // layout off forfeits bucket PRUNING — the whole point of this table
    // for `src = literal` lookups (measured: Bucketed: false reads all 32
    // buckets; with pruning, 1 of 32). Session.local sets this already;
    // the set stays for sessions built elsewhere (perfbench's graph_serve
    // serves from its own), and it is the one entry-side session write.
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    val table = graft.etl.Artifacts.ensureBucketed(spark, sfDir, "edges_und", "src", 32) {
      undirected(personEdgesAmong(spark, nodes(spark, sfDir)))
        .repartition(32, col("src"))
    }
    spark.table(table)
  }

  /** ETL: the undirected person edge set DICTIONARY-ENCODED to the stable
    * int node id (`nid` — names are `Customer#%09d(nid)`, so id order ==
    * name order) and deduplicated to DISTINCT (src_id, dst_id) pairs,
    * materialized once per scale factor as a graft TxTable keyed by
    * `src_id` (32 buckets, sorted-compacted on src_id): an adjacency
    * index whose scans the DSv2 connector prunes statically and at
    * runtime (a join-derived `In` on `src_id` plans only the buckets the
    * ids hash into). No engine query reads it (the depth-2 winder
    * answers from the node table's cells); PlanSpec's runtime-pruning
    * certificate and perfbench's `graph_serve` set-up build it.
    * Returns the table directory for `spark.read.format("graft")`. */
  def personEdgeIds(spark: SparkSession, sfDir: String): String =
    graft.etl.Artifacts.ensureTx(spark, sfDir, "edges_und_ids",
      Seq("src_id"), 32, sortBy = Seq("src_id")) {
      val ids = nodes(spark, sfDir).select(col("name"), col("nid"))
      personEdgesU(spark, sfDir)
        .join(ids.select(col("name").as("src"), col("nid").as("src_id")), "src")
        .join(ids.select(col("name").as("dst"), col("nid").as("dst_id")), "dst")
        .select("src_id", "dst_id").distinct()
    }

  /** Relationship types stored in BOTH directions already (get_insert.py
    * materializes these symmetrically). */
  val SymmetricTypes: Seq[String] = Seq("ENEMY_OF", "ROMANTIC_WITH")

  /** Undirected closure: every Cypher `-[:T]-` pattern (app.py:220,257,288,
    * 378) reads edges in both directions → union with the swap (SURVEY §2.6).
    * ENEMY_OF / ROMANTIC_WITH are already stored both ways, so only the
    * canonical-direction types get reversed. */
  def undirected(edges: DataFrame): DataFrame = {
    val sym = edges.filter(col("relType").isin(SymmetricTypes: _*))
    val canon = edges.filter(!col("relType").isin(SymmetricTypes: _*))
    canon
      .unionByName(canon.select(col("dst").as("src"), col("src").as("dst"), col("relType")))
      .unionByName(sym)
  }

  /** Undirected view of one canonical-direction edge set (no relType mix).
    * NOTE: the union evaluates the underlying derivation twice (Spark
    * reuses exchanges, not arbitrary subtrees) — but a measured alternative
    * (explode of a 2-struct array, one pass) ran 2-3× SLOWER: GenerateExec's
    * per-row materialization costs more than a second tight codegen'd
    * broadcast-join pass, and the generator also blocks the selective
    * literal `src` filters that DO push through this union into the scans. */
  def undirectedOne(edges: DataFrame): DataFrame =
    edges.unionByName(edges.select(col("dst").as("src"), col("src").as("dst"), col("relType")))
}
