package perfbench

import perfbench.Gen._

/** Expected answers derived from the generated rows alone, following the
  * rules stated in the headers of `graft.core.Graph` and
  * `graft.plans.GraphAnalytics`. No engine code runs here. A row is a
  * `Seq[Any]` of String, Long, Double or null. */
object Models {
  type R = Seq[Any]

  final class GraphModel(ps: IndexedSeq[Person]) {
    val n: Int = ps.size
    private val EnemyA = "BUILDING"
    private val EnemyB = "MACHINERY"
    private val Romances = Seq(1 -> 2, 3 -> 4, 5 -> 6, 7 -> 8, 9 -> 10, 11 -> 12,
      20 -> 21, 30 -> 31, 40 -> 41, 50 -> 51, 60 -> 61, 100 -> 101)
    private val members: Map[String, IndexedSeq[Int]] =
      ps.groupBy(_.house).map { case (h, xs) => h -> xs.map(_.key).sorted }
    private val romance: Map[Int, Seq[Int]] =
      Romances.filter { case (a, b) => a < n && b < n }
        .flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupMap(_._1)(_._2)

    def house(k: Int): String = ps(k).house

    /** Undirected person↔person edges of `a` as (relType, neighbour). */
    def edges(a: Int): Seq[(String, Int)] = {
      val h = house(a)
      val friends = members(h).filter(_ != a).map("FRIEND_OF" -> _)
      val family = (a % 25 until n by 25).filter(_ != a).map("SAME_FAMILY" -> _)
      val enemies =
        if (h == EnemyA) members.getOrElse(EnemyB, Nil).map("ENEMY_OF" -> _)
        else if (h == EnemyB) members.getOrElse(EnemyA, Nil).map("ENEMY_OF" -> _)
        else Nil
      friends ++ family ++ enemies ++ romance.getOrElse(a, Nil).map("ROMANTIC_WITH" -> _)
    }

    private val adjCache = new Array[Array[Int]](n)
    /** Distinct neighbour ids over every relation type. */
    def adj(a: Int): Array[Int] = {
      if (adjCache(a) == null) adjCache(a) = edges(a).map(_._2).distinct.toArray
      adjCache(a)
    }

    private def image(k: Int) = s"img/${name(k)}.png"

    def search(q: String, limit: Int = 10): Seq[R] =
      ps.filter(_.name.toLowerCase.contains(q.toLowerCase)).sortBy(_.name).take(limit)
        .map(p => Seq(p.name, p.house))

    def lookup(k: Int): Seq[R] =
      ps.filter(_.key == k).map(p => Seq(p.name, p.house, p.nation.toLong, p.acctbal))

    def expand1(k: Int, limit: Int = 500): Seq[R] =
      (("BELONGS_TO", house(k)) +: edges(k).map { case (t, m) => (t, name(m)) })
        .sorted.take(limit).map { case (t, m) => Seq(t, m) }

    def mates2(k: Int, limit: Int = 100): Seq[R] =
      members(house(k)).filter(_ != k).map(name).sorted.take(limit).map(Seq(_))

    def winder(friends: Seq[Int], k: Int = 3): Seq[R] = {
      val fs = friends.toSet
      val shared = friends.flatMap(f => edges(f).collect { case ("FRIEND_OF", c) if !fs(c) => c -> f })
        .groupMap(_._1)(_._2)
      shared.toSeq.map { case (c, fr) => (c, fr.size.toLong, fr.map(name).sorted.mkString(",")) }
        .sortBy { case (c, s, _) => (-s, name(c)) }.take(k)
        .map { case (c, s, w) => Seq(name(c), house(c), image(c), s, w, s * 10) }
    }

    def depth2(friends: Seq[Int], k: Int = 3): Seq[R] = {
      val fs = friends.toSet
      val d1 = friends.flatMap(f => adj(f)).toSet -- fs
      val score = scala.collection.mutable.HashMap.empty[Int, (Long, Int)]
      for (b <- d1; c <- adj(b) if !fs(c) && !d1(c)) {
        val (s, via) = score.getOrElse(c, (0L, Int.MaxValue))
        score(c) = (s + 1, math.min(via, b))
      }
      score.toSeq.sortBy { case (c, (s, _)) => (-s, c) }.take(k)
        .map { case (c, (s, via)) => Seq(name(c), house(c), image(c), s, name(via), s * 10) }
    }

    def subgraph(houses: Seq[String], limit: Int = 5000): Seq[R] = {
      val in = houses.toSet
      val rows = ps.filter(p => in(p.house)).sortBy(_.name).iterator.flatMap { p =>
        val es = edges(p.key).filter { case (_, m) => in(house(m)) }
          .map { case (t, m) => (t, name(m)) }.sorted
        if (es.isEmpty) Iterator(Seq(p.name, null, null))
        else es.iterator.map { case (t, m) => Seq(p.name, t, m) }
      }
      rows.take(limit).toSeq
    }
  }

  /** Exact cosine (doubles, index-order dot product) rounded to 6 places. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
    }
    math.rint(d / (math.sqrt(nb) * math.sqrt(na)) * 1e6) / 1e6
  }

  /** Exact top-k (vec_id, cosine) of `q` over every other vector. */
  def exactTopK(vs: IndexedSeq[Vec], q: Int, k: Int = 10): Seq[(Long, Double)] =
    vs.filter(_.id != q).map(v => (v.id, cosine(v.v, vs(q).v)))
      .sortBy { case (id, c) => (-c, id) }.take(k)

  /** corpusPageRank's integer mass propagation, 16 rounds, on the driver. */
  def pagerank(n: Int, iters: Int = 16): Seq[R] = {
    val mod = 25L; val b = 8L; val maxNid = n - 1L; val hold = 1L << 39
    val dst = Array.tabulate(n) { i =>
      val k = i / mod
      if (k % b == b - 1 || i + mod > maxNid) (i - mod * (k % b)).toInt else (i + mod).toInt
    }
    var mass = Array.fill(n)(1L << 40)
    for (_ <- 1 to iters) {
      val next = Array.tabulate(n)(i => if ((i / mod) % b == 0L) hold else 0L)
      for (i <- 0 until n) next(dst(i)) += mass(i) / 2
      mass = next
    }
    mass.groupBy(identity).toSeq.sortBy(_._1).map { case (m, xs) => Seq(m, xs.length.toLong) }
  }

  /** corpusFamilyCc: one component per residue class, labelled by its
    * minimum (the residue itself, keys being contiguous from 0). */
  def familyCc(n: Int): Seq[R] =
    (0 until math.min(25, n)).map { r =>
      val ms = r until n by 25
      Seq(r.toLong, ms.size.toLong, ms.last.toLong)
    }

  /** corpusKCore: members of full 4-blocks have coreness (residue % 3) + 1. */
  def kcore(n: Int): Seq[R] =
    (0 until 25).flatMap { r =>
      val ks = (r until n by 25).map(_ / 25)
      val full = ks.groupBy(_ / 4).count(_._2.size == 4)
      if (full == 0) None else Some(Seq(r.toLong, (r % 3 + 1).toLong, 4L * full))
    }

  /** dedupClusters: every document of a planted group of two or more,
    * labelled by the group's first document. */
  def dedup(ds: Seq[Doc]): Seq[R] =
    ds.groupBy(_.group).values.filter(_.size > 1).flatten.toSeq.sortBy(_.id)
      .map(d => Seq(d.id, d.group, d.id == d.group))
}
