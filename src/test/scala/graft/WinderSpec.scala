package graft

import graft.core.Graph
import graft.ops.GraphOps
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The two Winder endpoints against a reference computed on the driver
  * from the live rule derivation (`Graph.personEdges`: every rule
  * re-derived from the node table, then distinct undirected neighbour
  * sets), so no part of the endpoints' cell algebra checks itself. */
class WinderSpec extends AnyFunSuite {
  import TestSpark._

  type R = Seq[Any]

  /** A corpus's persons and its distinct undirected neighbour sets. */
  private final class Reference(sfd: String) {
    private val persons = Graph.nodes(spark, sfd).select("nid", "name", "house").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    private val id = persons.map { case (k, (n, _)) => n -> k }
    private val edges = Graph.personEdges(spark, sfd).select("src", "dst", "relType").collect()
      .map(r => (id(r.getString(0)), id(r.getString(1)), r.getString(2)))
    private def undirected(es: Seq[(Long, Long)]): Map[Long, Set[Long]] =
      es.flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupMap(_._1)(_._2)
        .map { case (a, bs) => a -> bs.toSet }.withDefaultValue(Set.empty)
    private val adj = undirected(edges.toSeq.map(e => e._1 -> e._2))
    private val friends = undirected(edges.toSeq.collect { case (a, b, "FRIEND_OF") => a -> b })

    val ids: Seq[Long] = persons.keys.toSeq.sorted
    def name(k: Long): String = persons(k)._1
    def house(k: Long): String = persons(k)._2
    private def row(c: Long, score: Long, extra: String): R =
      Seq(name(c), house(c), s"img/${name(c)}.png", score, extra, score * 10)

    /** Friends by name; common FRIEND_OF neighbours, top-k by (score desc, name). */
    def winder(keys: Seq[Int], k: Int): Seq[R] = {
      val f = keys.map(Graph.fullName).flatMap(id.get).toSet
      f.toSeq.flatMap(x => (friends(x) -- f).map(_ -> x)).groupMap(_._1)(_._2).toSeq
        .map { case (c, xs) => (c, xs.size.toLong, xs.map(name).sorted.mkString(",")) }
        .sortBy { case (c, s, _) => (-s, name(c)) }.take(k)
        .map { case (c, s, w) => row(c, s, w) }
    }

    def d1(keys: Seq[Int]): Set[Long] = {
      val f = keys.map(_.toLong).toSet
      f.flatMap(adj) -- f
    }

    /** Distance-2 persons scored by distinct D1 neighbours, top-k by
      * (score desc, id), shown by (score desc, name). */
    def depth2(keys: Seq[Int], k: Int): Seq[R] = {
      val f = keys.map(_.toLong).toSet
      val d = d1(keys)
      d.toSeq.flatMap(b => (adj(b) -- f -- d).map(_ -> b)).groupMap(_._1)(_._2).toSeq
        .sortBy { case (c, bs) => (-bs.size, c) }.take(k)
        .map { case (c, bs) => row(c, bs.size.toLong, name(bs.min)) }
        .sortBy(r => (-r(3).asInstanceOf[Long], r.head.asInstanceOf[String]))
    }
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[R] = df.collect().map(_.toSeq).toSeq

  private def check(ref: Reference, sfd: String, keys: Seq[Int], k: Int): Unit = {
    assert(rows(GraphOps.winderTopK(spark, sfd, keys, k)) == ref.winder(keys, k), s"winder F=$keys k=$k")
    assert(rows(GraphOps.winderDepth2(spark, sfd, keys, k)) == ref.depth2(keys, k), s"depth2 F=$keys k=$k")
  }

  test("winder and depth2 equal the live-derivation reference on the spec corpus") {
    val ref = new Reference(sf)
    def inHouse(h: String) = ref.ids.filter(ref.house(_) == h).map(_.toInt)
    val sets = Seq(
      SparkEntry.WinderFriends,
      Seq(1, 2, 100),                                             // romance keys
      Seq(inHouse(Graph.EnemyHouseA).head, inHouse(Graph.EnemyHouseB).head), // both enemy houses
      Seq(3, 28, 53),                                             // one family
      Seq(7, 1000000),                                            // a key with no person
      Seq(42),                                                    // a single friend
      inHouse("FURNITURE").take(3))                               // one house
    for (keys <- sets; k <- Seq(3, 1000)) check(ref, sf, keys, k)
  }

  test("winder and depth2 equal the reference with a null-house person and an untouched house") {
    // 60 persons: 13 has no house; 40-47 form LONELY, a house no enemy
    // rule reaches, so friends outside it reach it only through the
    // families 15-22; the romance pairs among 1-51 mostly cross houses.
    val root = java.nio.file.Files.createTempDirectory("graft_winder_cells").toString
    val sfd = s"$root/winder_cells"
    def house(k: Int): String =
      if (k == 13) null else if (k >= 40 && k < 48) "LONELY"
      else Seq("BUILDING", "MACHINERY", "FURNITURE")(k % 3)
    val schema = StructType(Seq(StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType)))
    val people = (0 until 60).map(k => Row(k.toLong, Graph.fullName(k), k % 5, k.toDouble, house(k)))
    spark.createDataFrame(java.util.Arrays.asList(people: _*), schema)
      .coalesce(1).write.parquet(s"$sfd/customer.parquet")
    try {
      val ref = new Reference(sfd)
      val sets = (0 until 60).map(Seq(_)) ++ Seq(Seq(13, 1), Seq(2, 41), Seq(1, 2, 100), Seq(0, 40, 13))
      for (keys <- sets) check(ref, sfd, keys, 1000)
      for (keys <- sets.take(5)) check(ref, sfd, keys, 3)
      // The cases the corpus is built for do occur: a candidate in a house
      // D1 does not touch, and the null-house person both in D1 and a candidate.
      val lonely = (40 until 48).map(_.toLong).toSet
      assert(sets.exists(s => ref.d1(s).intersect(lonely).isEmpty &&
        ref.depth2(s, 1000).exists(_(1) == "LONELY")))
      assert(sets.exists(s => ref.d1(s).contains(13L)))
      assert(sets.exists(s => ref.depth2(s, 1000).exists(_.head == Graph.fullName(13))))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }
}
