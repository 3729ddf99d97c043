package graft.ops

import graft.core.{FileMeta, Graph}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's query surface (`app.py`), re-expressed as declarative
  * Spark plans over the graph projection (SURVEY §2 / §3). Each function is
  * one named operator from the §2 inventory; `graft.SparkEntry` binds them
  * to fixed parameters for the driver's oracle harness.
  */
object GraphOps {

  /** J1+P1+P2+A2+T1 — the flagship "Winder" common-neighbors top-k
    * (app.py:206-245): given a friend set, score candidates by shared
    * FRIEND_OF neighbors, exclude the friends themselves, top-k.
    *
    * Physical shape at scale: the friend set is a literal → broadcast to the
    * edge scan; aggregation is partial+final hash agg keyed by candidate;
    * the top-k is `TakeOrderedAndProject` (no global sort).
    */
  def winderTopK(spark: SparkSession, sfDir: String, friendKeys: Seq[Int], k: Int = 3): DataFrame = {
    // Friend names are literals (P6 exact lookups): an `isin` literal filter
    // pushes THROUGH the undirected union into both sides of the same-house
    // self-join and down to the parquet scan, so the expansion is
    // |friends| × house-size, never the full clique. (A friends-DF join
    // could not push: Catalyst won't infer scan filters from a join side.)
    val friendNames = friendKeys.map(Graph.fullName)
    // The artifact read replaces the live FRIEND_OF derivation: an `isin`
    // on the bucket column prunes to |friends| bucket files, and relType
    // filtering rides the dictionary — same pushed shape, no expansion.
    val fu = Graph.personEdgesU(spark, sfDir)
      .filter(col("relType") === "FRIEND_OF")
      .filter(col("src").isin(friendNames: _*))        // J1 expand 1-hop typed
    val topk = fu.select(col("src").as("f_name"), col("dst").as("candidate"))
      .filter(!col("candidate").isin(friendNames: _*)) // P2 anti-filter
      .groupBy("candidate")
      .agg(count(lit(1)).as("common_friends"),         // A2 score
           array_join(array_sort(collect_list("f_name")), ",").as("shared_with")) // A4
      .withColumn("likelihood", col("common_friends") * 10) // U6 display transform (index.html:149)
      .orderBy(desc("common_friends"), asc("candidate")) // T1 top-k
      .limit(k)
    // Payload parity (app.py:222-227): the reference returns the candidate's
    // house and image with each match card. Joined AFTER the top-k so the
    // k-row result broadcasts against nodes — the expansion is unchanged.
    val n = Graph.nodes(spark, sfDir)
      .select(col("name").as("candidate"), col("house"),
        Graph.imageUrl(col("name")).as("image"))
    broadcast(topk).join(n, "candidate")
      .select("candidate", "house", "image", "common_friends", "shared_with", "likelihood")
      .orderBy(desc("common_friends"), asc("candidate"))
  }

  /** Depth-2 winder (j1_winder_depth2) — the extension SURVEY §2.9 names:
    * scoring past the reference's own depth-1 capability (app.py:206-245
    * stops at common neighbors; this scores the NEXT ring — "people your
    * connections know that you don't"). Semantics: D1 = the friend set's
    * distinct any-type neighbors (connectors; friends themselves
    * excluded); a candidate is a node at distance EXACTLY 2 — reached
    * through some connector, itself outside F ∪ D1 — scored by the
    * number of DISTINCT connectors, tie-broken by name, top-k, with the
    * flagship's payload join and ×10 display transform.
    *
    * Physical shape at scale — two probes of the DICTIONARY-ENCODED
    * adjacency index ([[Graph.personEdgeIds]]: distinct int (src_id,
    * dst_id) pairs as a graft TxTable, src_id-keyed, 32 buckets), NO
    * clique expansion and no driver-side collect:
    *  - hop 1 is a literal-pruned connector probe — the `isin` on the
    *    merge key pushes as an In filter and the scan plans |F| of 32
    *    buckets;
    *  - hop 2 joins the D1 frontier back to the index as a BROADCAST
    *    hash join, and because the frontier plan carries a selective
    *    predicate, Spark injects a dynamic-pruning subquery
    *    (SupportsRuntimeFiltering): the build side's ids are handed to
    *    the scan BEFORE partitions are planned, so the hop-2 read plans
    *    only the buckets the frontier hashes into — the index-complete
    *    distance-2 plan (PlanSpec pins the dynamicpruning expression on
    *    the hop-2 scan). At the test SFs the flagship's D1 covers ~65%
    *    of all nodes (same-house clique data), so the prune admits every
    *    bucket; on a sparse 100 TB graph the same plan reads |D1|-of-N
    *    buckets. The exactly-distance-2 exclusion is a broadcast ANTI
    *    join on the same bounded frontier.
    *  - pairs are pre-deduplicated, so the connector score is a plain
    *    codegen'd count over int ids (the r13 string-pair
    *    `countDistinct` dominated the entry's wall time: 7-9 s → ~2 s),
    *    partial+final agg, TakeOrderedAndProject top-k; names/payload
    *    join AFTER the top-k against the k-row broadcast (id order ==
    *    name order — names are Customer#%09d(nid) — so ordering and
    *    min-connector semantics survive encoding). */
  def winderDepth2(spark: SparkSession, sfDir: String, friendKeys: Seq[Int], k: Int = 3): DataFrame = {
    val dir = Graph.personEdgeIds(spark, sfDir)
    def art = spark.read.format("graft").load(dir)
    // No materialization: keeping D1 a live plan (selective isin → In) is
    // what lets PartitionPruning inject the runtime-filter subquery on the
    // hop-2 scan; the broadcast exchange evaluates it once and the DPP
    // subquery REUSES that broadcast (reuseBroadcastOnly default).
    val d1 = art.filter(col("src_id").isin(friendKeys: _*))  // hop-1 pruned probe
      .select(col("dst_id").as("b")).distinct()
      .filter(!col("b").isin(friendKeys: _*))                // connectors strictly new
    val topk = art.join(broadcast(d1), col("src_id") === col("b")) // hop-2 runtime-pruned pass
      .filter(!col("dst_id").isin(friendKeys: _*))
      .join(broadcast(d1.select(col("b").as("dst_id"))), Seq("dst_id"), "left_anti")
      .groupBy(col("dst_id"))
      .agg(count(lit(1)).as("common_connectors"),  // distinct pairs → count == countDistinct
        min("src_id").as("via_id"))
      .withColumn("likelihood", col("common_connectors") * 10)
      .orderBy(desc("common_connectors"), asc("dst_id"))
      .limit(k)
    // Payload decode: two passes of the (column-pruned) node table against
    // the k-row broadcast — the small side broadcasts at any scale.
    val n = Graph.nodes(spark, sfDir)
    val withCand = broadcast(topk)
      .join(n.select(col("nid").as("dst_id"), col("name").as("candidate"),
        col("house"), Graph.imageUrl(col("name")).as("image")), "dst_id")
    broadcast(withCand)
      .join(n.select(col("nid").as("via_id"), col("name").as("via_first")), "via_id")
      .select("candidate", "house", "image", "common_connectors", "via_first", "likelihood")
      .orderBy(desc("common_connectors"), asc("candidate"))
  }

  /** S1+P8+T2 — full node scan, project the person card, sort by name
    * (app.py:189-203). Column pruning reaches the parquet scan. */
  def scanPersons(spark: SparkSession, sfDir: String): DataFrame =
    Graph.nodes(spark, sfDir)
      .select("name", "house", "nation", "acctbal")
      .orderBy("name")

  /** P3+T3 — case-insensitive substring search + limit (app.py:436-446).
    * Deterministic via total order (Cypher's bare LIMIT is not; SURVEY §2.5). */
  def searchCi(spark: SparkSession, sfDir: String, q: String, limit: Int = 10): DataFrame =
    Graph.nodes(spark, sfDir)
      .filter(lower(col("name")).contains(lit(q.toLowerCase)))
      .select("name", "house")
      .orderBy("name")
      .limit(limit)

  /** P1 — parameterized `name IN [...]` list filter (app.py:63-64,218-219). */
  def filterNameIn(spark: SparkSession, sfDir: String, keys: Seq[Int]): DataFrame =
    Graph.nodes(spark, sfDir)
      .filter(col("name").isin(keys.map(Graph.fullName): _*))
      .select("name", "house")
      .orderBy("name")

  /** P2 — anti-predicate: members of a house NOT in an exclusion list
    * (app.py:221), as a broadcast left-anti join (the at-scale form). */
  def antiFilter(spark: SparkSession, sfDir: String, house: String, exclude: Seq[Int]): DataFrame = {
    val ex = spark.createDataFrame(exclude.map(k => Tuple1(Graph.fullName(k)))).toDF("name")
    Graph.nodes(spark, sfDir)
      .filter(col("house") === house)
      .join(broadcast(ex), Seq("name"), "left_anti")
      .select("name", "house")
      .orderBy("name")
  }

  /** P4 — `house IN [...]` (app.py:377, train_fix.py:20); partition-prunable
    * when nodes are partitioned by house at scale. */
  def filterHouseIn(spark: SparkSession, sfDir: String, houses: Seq[String]): DataFrame =
    Graph.nodes(spark, sfDir)
      .filter(col("house").isin(houses: _*))
      .select("name", "house", "nation")
      .orderBy("name")

  /** P5 — known-house guard `house <> '' AND house <> 'Unknown'`
    * (get_insert.py:134), aggregated so the output is scale-stable. */
  def filterHouseKnown(spark: SparkSession, sfDir: String): DataFrame =
    Graph.nodes(spark, sfDir)
      .filter(col("house") =!= "" && col("house") =!= "Unknown")
      .groupBy("house").agg(count(lit(1)).as("members"))
      .orderBy("house")

  /** P6 — exact-name node lookup (app.py:257,289): the unique-constraint
    * index seek becomes a pushed-down parquet predicate. */
  def exactLookup(spark: SparkSession, sfDir: String, key: Int): DataFrame =
    Graph.nodes(spark, sfDir)
      .filter(col("name") === Graph.fullName(key))
      .select("name", "house", "nation", "acctbal")

  /** ETL: per-person degree over the undirected edge closure, persisted
    * once per scale factor. The clique expansion is quadratic in house
    * size, so it runs exactly once (the ETL job); every degree consumer
    * reads |nodes| rows. At 100 TB this table is maintained incrementally
    * with the edge tables, never recomputed per query. */
  def degreeTable(spark: SparkSession, sfDir: String): DataFrame =
    graft.etl.Artifacts.ensureParquet(spark, sfDir, "degree") {
      // Built FROM the edge artifact: bucketed on src, so this groupBy
      // runs shuffle-free — and the clique expansion is never re-derived.
      Graph.personEdgesU(spark, sfDir)
        .groupBy(col("src").as("name"))
        .agg(count(lit(1)).as("total"))
    }

  /** P7 — minimum-degree filter (train_fix.py:79-80): total connections > k,
    * served from the ETL degree table — a |nodes|-row scan + top-k, with no
    * edge expansion in the query path. */
  def minDegree(spark: SparkSession, sfDir: String, minConn: Int, limit: Int = 50): DataFrame =
    degreeTable(spark, sfDir)
      .filter(col("total") > minConn)
      .orderBy(desc("total"), asc("name"))
      .limit(limit)

  /** J2+T3 — 1-hop expansion over ANY relationship type, undirected, with
    * the rel type in the output for the edge legend (app.py:253-261). */
  def expand1HopAny(spark: SparkSession, sfDir: String, key: Int, limit: Int = 500): DataFrame =
    // Person↔person edges from the bucketed artifact (src lookup = one
    // bucket file); BELONGS_TO stays a live nodes-scan derivation — it is
    // linear, and the literal pushes into the scan on both union sides.
    Graph.personEdgesU(spark, sfDir)
      .unionByName(Graph.undirected(Graph.belongsTo(spark, sfDir)))
      .filter(col("src") === Graph.fullName(key))
      .select(col("relType"), col("dst").as("neighbor"))
      .orderBy("relType", "neighbor")
      .limit(limit)

  /** J3+T3 — 2-hop expansion through the house hub:
    * `(p)-[:BELONGS_TO]->(h)<-[:BELONGS_TO]-(mate)` (app.py:288-292), as a
    * self-join of BELONGS_TO on its dst. */
  def housemates2Hop(spark: SparkSession, sfDir: String, key: Int, limit: Int = 100): DataFrame = {
    val b = Graph.belongsTo(spark, sfDir)
    val me = b.filter(col("src") === Graph.fullName(key))
      .select(col("src").as("me"), col("dst").as("h"))
    broadcast(me)
      .join(b, col("h") === col("dst") && col("src") =!= col("me")) // mate <> p
      .select(col("src").as("mate"))
      .orderBy("mate")
      .limit(limit)
  }

  /** J4+T3 — per-house subgraph: persons in the house list LEFT OUTER
    * joined to intra-house-set edges (app.py:375-382). Null edge/neighbor
    * preserved for isolated members (app.py:399 checks `if r and m`).
    *
    * LIMIT PUSHDOWN THROUGH THE JOIN. The output is ordered by person
    * name, and person p contributes at least max(|house(p)|−1, 1) rows
    * (their in-set FRIEND_OF clique, or the single null row of the left
    * join) — so the shortest name-prefix P whose summed lower bound
    * reaches `limit` fully covers the top-`limit` rows, and only P's edges
    * are read. P is computed on the DRIVER from [[houseIndex]] (every
    * house's size and sorted members, cached by `customer.parquet`'s
    * identity), so a warm call runs no Spark job before execution. P
    * then reaches the plan as LITERALS: the node scan prunes to P's row
    * groups, and the edges come from the build-once `edges_und` artifact
    * ([[Graph.personEdgesU]]) with `src ∈ P` pruning its bucket listing
    * and `dst ∈ members of the house set` keeping both endpoints in the
    * set (app.py:375-382's two house filters). Each edge rule is a
    * predicate on node pairs, so that is exactly the multiset the live
    * derivation among the house set gives — no per-request clique
    * expansion. (r7 measured the no-literal alternative, a broadcast
    * semi-join restriction: Catalyst infers no scan filter from a join
    * side, j4 0.3→4.4 s at sf0.1.) */
  def houseSubgraph(spark: SparkSession, sfDir: String, houses: Seq[String], limit: Int = 5000): DataFrame = {
    val (pNames, members) = housePrefix(spark, sfDir, houses, limit)
    val e = Graph.personEdgesU(spark, sfDir)
      .filter(col("src").isin(pNames: _*) && col("dst").isin(members: _*))
      .select(col("src"), col("relType"), col("dst").as("m_name"))
    Graph.nodes(spark, sfDir).select("name").filter(col("name").isin(pNames: _*))
      .join(e, col("name") === col("src"), "left_outer")
      .select(col("name"), col("relType"), col("m_name").as("neighbor"))
      .orderBy(asc_nulls_first("name"), asc_nulls_first("relType"), asc_nulls_first("neighbor"))
      .limit(limit)
  }

  /** [[houseSubgraph]]'s name prefix P and the house set's members, both
    * in Spark's string order: member i is in P while the sum of the
    * earlier members' max(|house|−1, 1) is below `limit`. */
  private[graft] def housePrefix(spark: SparkSession, sfDir: String, houses: Seq[String],
                                 limit: Int): (Seq[String], Seq[String]) = {
    val idx = houseIndex(spark, sfDir)
    val set = houses.toSet
    val inSet = idx.names.indices.filter(i => set(idx.houses(i)))
    val members = inSet.map(idx.names)
    val acc = inSet.scanLeft(0L)((a, i) => a + math.max(idx.sizes(idx.houses(i)) - 1, 1))
    (members.indices.takeWhile(acc(_) < limit).map(members), members)
  }

  /** Every person name in Spark's (binary) string order with its house,
    * and each house's size: the driver-side input of [[houseSubgraph]]'s
    * prefix rule. */
  private final class HouseIndex(val names: Array[String], val houses: Array[String]) {
    val sizes: Map[String, Int] = houses.groupMapReduce(identity)(_ => 1)(_ + _)
  }

  /** [[HouseIndex]] of the corpus, derived once per `customer.parquet`
    * identity ([[FileMeta.derived]]): one collect on a miss, none after. */
  private def houseIndex(spark: SparkSession, sfDir: String): HouseIndex =
    FileMeta.derived[HouseIndex]("houseIndex", Seq(s"$sfDir/customer.parquet"),
      i => 64L + i.names.iterator.map(n => 96L + 2L * n.length).sum) {
      val rows = Graph.nodes(spark, sfDir).filter(col("house").isNotNull)
        .select("name", "house").collect()
        .map(r => (r.getString(0), r.getString(1)))
        .sortBy(r => org.apache.spark.unsafe.types.UTF8String.fromString(r._1))
      new HouseIndex(rows.map(_._1), rows.map(_._2))
    }

  /** J5 — houses LEFT JOIN members, preserving empty houses
    * (app.py:411-416); a synthetic empty house exercises null preservation. */
  def housesWithMembers(spark: SparkSession, sfDir: String): DataFrame = {
    val spark2 = spark
    val extra = spark2.createDataFrame(Seq(Tuple1("EMPTYHOUSE"))).toDF("name")
    val h = Graph.houses(spark, sfDir).unionByName(extra)
    val b = Graph.belongsTo(spark, sfDir)
    h.join(b, h("name") === b("dst"), "left_outer")
      .groupBy(h("name").as("house"))
      .agg(count(col("src")).as("members")) // count(col) skips nulls → 0 for empty
      .orderBy("house")
  }

  /** J6 — SAME_FAMILY derived-key self-join sample (get_insert.py:122-128):
    * no mirrored pairs by the nid tiebreak. Both endpoints of a pair share
    * the family key, so the family predicate moves from the derived edge
    * string (post-join parse of 4.5M pairs at sf0.1) to the NODE scan —
    * the self-join then expands only the one selected class, 1/FamilyMod²
    * of the clique work, and the filter reaches parquet as a pushed scan
    * predicate instead of a string split per pair. */
  def sameFamilySample(spark: SparkSession, sfDir: String, family: Int): DataFrame =
    Graph.sameFamilyAmong(
      Graph.nodes(spark, sfDir).filter(col("nid") % Graph.FamilyMod === family))
      .select("src", "dst")
      .orderBy("src", "dst")
      .limit(200)

  /** J7 — FRIEND_OF derivation volume by house. FRIEND_OF is the same-house
    * clique with an nid tiebreak, so the pair count per house is the closed
    * form C(n,2) — one |nodes| scan and a 5-group aggregate, never the
    * quadratic pair expansion (whose only purpose here is to be counted). */
  def friendCountByHouse(spark: SparkSession, sfDir: String): DataFrame =
    Graph.nodes(spark, sfDir)
      .groupBy("house").agg(count(lit(1)).as("c"))
      // DIV: integral division — `/` is double division and would round
      // through a double at extreme house sizes.
      .selectExpr("house", "c * (c - 1) DIV 2 AS friend_pairs")
      .filter(col("friend_pairs") > 0)
      .orderBy("house")

  /** J8 — enemy cross-join cardinality per direction-source house. The edge
    * rule is house A × house B both directions, so each house's count is
    * |A|·|B| — two size lookups and a product, never the materialized
    * 2·|A|·|B| cross join (10,000× the work at 100× the data). */
  def enemyCountBySrcHouse(spark: SparkSession, sfDir: String): DataFrame = {
    val sizes = Graph.nodes(spark, sfDir)
      .filter(col("house").isin(Graph.EnemyHouseA, Graph.EnemyHouseB))
      .groupBy("house").agg(count(lit(1)).as("c"))
    val other = sizes.select(col("house").as("house2"), col("c").as("c2"))
    sizes.join(broadcast(other), col("house") =!= col("house2"))
      .select(col("house"), (col("c") * col("c2")).as("enemies"))
      .orderBy("house")
  }

  /** J9 — the curated fuzzy-matched romance pairs, both directions. */
  def romancePairs(spark: SparkSession, sfDir: String): DataFrame =
    Graph.romanticWith(spark, sfDir).select("src", "dst").orderBy("src", "dst")

  /** J10+A1 — semi-join a name list then count by house (app.py:62-66):
    * the `get_house_counts` building block of /predict. */
  def semiHouseCounts(spark: SparkSession, sfDir: String, keys: Seq[Int]): DataFrame = {
    val names = spark.createDataFrame(keys.map(k => Tuple1(Graph.fullName(k)))).toDF("name")
    Graph.nodes(spark, sfDir)
      .join(broadcast(names), Seq("name"), "left_semi")
      .groupBy("house").agg(count(lit(1)).as("cnt"))
      .orderBy("house")
  }

  /** A1 — count by house over all persons. */
  def countByHouse(spark: SparkSession, sfDir: String): DataFrame =
    Graph.nodes(spark, sfDir)
      .groupBy("house").agg(count(lit(1)).as("cnt"))
      .orderBy("house")

  /** A4+A5 — list aggregation: sorted member-name list + size per house over
    * a bounded slice (collect order canonicalized; SURVEY §2.4 A4). */
  def collectNames(spark: SparkSession, sfDir: String, maxNid: Int): DataFrame =
    Graph.nodes(spark, sfDir)
      .filter(col("nid") < maxNid)
      .groupBy("house")
      .agg(array_join(array_sort(collect_list(col("name"))), ",").as("names"),
           count(lit(1)).as("n"))
      .orderBy("house")

  /** A3 (native form) — `groupBy().pivot(values)` with pinned pivot columns:
    * person count per (nation, house). The pinned value list keeps the
    * output schema static (required for both the oracle and any production
    * consumer; an unpinned pivot adds a value-discovery job). */
  def nationHousePivot(spark: SparkSession, sfDir: String): DataFrame = {
    val houses = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    Graph.nodes(spark, sfDir)
      .groupBy("nation")
      .pivot("house", houses)
      .agg(count(lit(1)))
      .na.fill(0, houses)
      .orderBy("nation")
  }

  /** S5 — MERGE/upsert of person rows (get_insert.py:87-103, app.py:103-106):
    * new rows win over existing by name; expressed as union + anti-join,
    * which is exactly a MERGE INTO at 100 TB (Delta/Iceberg). */
  def upsertPersons(spark: SparkSession, sfDir: String): DataFrame = {
    val updates = spark.createDataFrame(Seq(
      ("Customer#000000003", "BUILDING", 0.0),     // existing node: house+bal rewrite
      ("User#000000001", "BUILDING", 10.0)         // app-created user (app.py:103-106)
    )).toDF("name", "house", "acctbal")
    val existing = Graph.nodes(spark, sfDir).select("name", "house", "acctbal")
    val merged = updates.unionByName(existing.join(broadcast(updates.select("name")), Seq("name"), "left_anti"))
    merged.filter(col("name").isin("Customer#000000003", "User#000000001"))
      .select(col("name"), col("house"), round(col("acctbal"), 2).as("acctbal"))
      .orderBy("name")
  }

  /** J11 — MERGE edges from a user to targets, idempotent via dedup
    * (app.py:110-132). The duplicate in the batch proves MERGE semantics. */
  def upsertEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val user = "User#000000001"
    val targets = Seq(2, 4, 6, 6).map(k => (user, Graph.fullName(k), "FRIEND_OF"))
    val newEdges = spark.createDataFrame(targets).toDF("src", "dst", "relType")
    Graph.friendOf(spark, sfDir)
      .unionByName(newEdges)
      .dropDuplicates("src", "dst", "relType")
      .filter(col("src") === user || col("dst") === user)
      .orderBy("src", "dst")
  }


  /** §2.6 extension — set operations (Spark built-ins). */
  def setopIntersect(spark: SparkSession, sfDir: String, minBal: Double, houses: Seq[String]): DataFrame = {
    val n = Graph.nodes(spark, sfDir)
    n.filter(col("acctbal") > minBal).select("name")
      .intersect(n.filter(col("house").isin(houses: _*)).select("name"))
      .orderBy("name")
  }

  def setopExcept(spark: SparkSession, sfDir: String, minBal: Double, houses: Seq[String]): DataFrame = {
    val n = Graph.nodes(spark, sfDir)
    n.filter(col("acctbal") > minBal).select("name")
      .except(n.filter(col("house").isin(houses: _*)).select("name"))
      .orderBy("name")
  }

  /** §2.7 — derived last-name key, the reference's `split(name,' ')[-1]`
    * shape (get_insert.py:125) on the projected names. */
  def lastNameKey(spark: SparkSession, sfDir: String, limit: Int = 20): DataFrame =
    Graph.nodes(spark, sfDir)
      .select(col("name"), element_at(split(col("name"), "#"), -1).as("key"))
      .orderBy("name")
      .limit(limit)

  /** J2 with a TYPE LIST filter — the graph UI's relationship-type filter
    * surface (templates/graph.html:51,82,166). Every advertised type is
    * accepted, including the vestigial SAME_WAND_MATERIAL (nothing in the
    * reference ever creates one, app-wide grep — so it contributes zero
    * rows but must not error; SURVEY §1.1). */
  val AcceptedRelTypes: Seq[String] =
    Seq("FRIEND_OF", "ENEMY_OF", "SAME_FAMILY", "ROMANTIC_WITH", "SAME_WAND_MATERIAL")

  def expand1HopTyped(spark: SparkSession, sfDir: String, key: Int,
                      types: Seq[String], limit: Int = 500): DataFrame = {
    val accepted = types.filter(AcceptedRelTypes.contains)
    Graph.personEdgesU(spark, sfDir)
      .filter(col("src") === Graph.fullName(key) && col("relType").isin(accepted: _*))
      .select(col("relType"), col("dst").as("neighbor"))
      .orderBy("relType", "neighbor")
      .limit(limit)
  }

  /** Partial-match fallback composition (app.py:269-277): the exact name
    * lookup, falling back to case-insensitive CONTAINS when empty; the
    * first match (reference `records[0]`, made deterministic by name order)
    * becomes the subject of the S7 graph payload. The target resolution is
    * a bounded two-row-trip probe (exactly the reference's two queries);
    * collecting ONE name keeps the expansion behind a pushed literal. */
  def graphWithFallback(spark: SparkSession, sfDir: String, q: String): DataFrame = {
    val n = Graph.nodes(spark, sfDir)
    val target = n.filter(col("name") === q)
      .select(col("name"), lit(0).as("pri"))
      .unionByName(
        n.filter(lower(col("name")).contains(lit(q.toLowerCase)))
          .select(col("name"), lit(1).as("pri")))
      .orderBy("pri", "name").limit(1)
      .collect()
    require(target.nonEmpty, s"no person matches '$q'")
    graphJsonFor(spark, sfDir, target.head.getString(0))
  }

  /** Combined houses-subgraph payload (app.py:365-434): the J4 intra-house
    * person subgraph and the J5 house hub assembled into one Cytoscape
    * payload — person nodes, person↔person edges, house nodes, BELONGS_TO
    * edges. Bounded by J4's 5000-row direct slice (the reference's LIMIT
    * 5000); BELONGS_TO edges are emitted for the persons appearing in that
    * slice so the payload stays deterministic and scale-stable. */
  def housesGraphPayload(spark: SparkSession, sfDir: String,
                         houses: Seq[String], limit: Int = 5000): DataFrame = {
    // The bounded direct slice feeds four branches (person nodes via both
    // endpoints, person edges, BELONGS_TO edges); without reuse, each
    // branch re-runs the subgraph read + top-`limit` (measured 25.7 s vs
    // 6.5 s at sf0.1 when each re-ran the clique expansion). The slice is
    // ≤ `limit` rows: collected once and returned as a local relation, all
    // four branches plan against it — and unlike a cache() or a
    // localCheckpoint() it leaves no RDD persisted after the call.
    val slice = houseSubgraph(spark, sfDir, houses, limit)
    val direct = spark.createDataFrame(slice.collectAsList(), slice.schema)
    val n = Graph.nodes(spark, sfDir).select(col("name"), col("house"))
    val personNames = direct.select(col("name"))
      .union(direct.filter(col("relType").isNotNull).select(col("neighbor").as("name")))
      .dropDuplicates("name")
    val personNodes = personNames.join(n, Seq("name"))
      .select(lit("node").as("kind"),
        concat(lit("""{"data":{"id":""""), col("name"),
               lit("""","group":"person","house":""""), col("house"), lit(""""}}""")).as("payload"))
    val houseNodes = houses.foldLeft(Option.empty[DataFrame]) { (acc, h) =>
      val row = spark.range(1).select(lit("node").as("kind"),
        lit(s"""{"data":{"id":"$h","group":"house"}}""").as("payload"))
      Some(acc.fold(row)(_ unionByName row))
    }.get
    val personEdges = direct.filter(col("relType").isNotNull)
      .select(lit("edge").as("kind"),
        concat(lit("""{"data":{"source":""""), col("name"),
               lit("""","target":""""), col("neighbor"),
               lit("""","label":""""), col("relType"), lit(""""}}""")).as("payload"))
    val belongs = personNames.join(n, Seq("name"))
      .select(lit("edge").as("kind"),
        concat(lit("""{"data":{"source":""""), col("name"),
               lit("""","target":""""), col("house"),
               lit("""","label":"BELONGS_TO"}}""")).as("payload"))
    personNodes.unionByName(houseNodes).unionByName(personEdges).unionByName(belongs)
      .dropDuplicates("kind", "payload")
      .orderBy("kind", "payload")
  }

  /** S7 — graph-JSON sink shape (app.py:263-363): Cytoscape node/edge rows
    * as JSON strings, deduped declaratively instead of the reference's
    * python-side `added_nodes` set. */
  def graphJson(spark: SparkSession, sfDir: String, key: Int): DataFrame =
    graphJsonFor(spark, sfDir, Graph.fullName(key))

  def graphJsonFor(spark: SparkSession, sfDir: String, me: String): DataFrame = {
    val hop = Graph.personEdgesU(spark, sfDir)
      .filter(col("src") === me)
    val n = Graph.nodes(spark, sfDir).select(col("name"), col("house"))
    val nodeRows = hop.select(col("dst").as("name"))
      .union(hop.select(col("src").as("name")))
      .dropDuplicates("name")                       // the added_nodes set, set-oriented
      .join(n, Seq("name"))
      .select(lit("node").as("kind"),
        concat(lit("""{"data":{"id":""""), col("name"),
               lit("""","house":""""), col("house"), lit(""""}}""")).as("payload"))
    val edgeRows = hop
      .select(lit("edge").as("kind"),
        concat(lit("""{"data":{"source":""""), col("src"),
               lit("""","target":""""), col("dst"),
               lit("""","relType":""""), col("relType"), lit(""""}}""")).as("payload"))
    nodeRows.unionByName(edgeRows).orderBy("kind", "payload")
  }
}
