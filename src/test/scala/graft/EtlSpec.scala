package graft

import graft.etl.GraphBuilder
import graft.ops.GraphOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class EtlSpec extends AnyFunSuite {
  import TestSpark._

  test("S2/S4 ingest: null names dropped, dup names deduped min-id-first, defaults applied") {
    val clean = GraphBuilder.cleanCharacters(GraphBuilder.readCharacters(spark))
    val rows = clean.collect()
    assert(rows.length == 18) // 20 raw - 1 null name - 1 dup Harry
    assert(clean.count() == clean.select("name").distinct().count()) // S4 constraint
    val harry = rows.find(_.getAs[String]("name") == "Harry Potter").get
    assert(harry.getAs[String]("image") == "http://img/harry.jpg") // c1 beats c17
    val dobby = rows.find(_.getAs[String]("name") == "Dobby").get
    assert(dobby.getAs[String]("house") == "Unknown")
    val griphook = rows.find(_.getAs[String]("name") == "Griphook").get
    assert(griphook.getAs[String]("house") == "Unknown") // empty string → Unknown
    val hagrid = rows.find(_.getAs[String]("name") == "Rubeus Hagrid").get
    assert(hagrid.getAs[Boolean]("alive")) // null alive → true (get_insert.py:100)
  }

  test("S5 upsert is idempotent: merging the same batch twice equals once") {
    val once = GraphOps.upsertPersons(spark, sf).collect().toSeq
    val twice = GraphOps.upsertPersons(spark, sf).collect().toSeq
    assert(once == twice)
    assert(once.exists(r => r.getString(0) == "User#000000001" && r.getString(1) == "BUILDING"))
  }

  test("J11 edge MERGE dedups the duplicate in the batch") {
    val out = GraphOps.upsertEdges(spark, sf).collect()
    assert(out.length == 3) // 4 inserts incl. 1 dup → 3 edges
  }

  // —— S12: transactional MERGE (graft.core.TxTable) ——

  private def freshDir() = java.nio.file.Files.createTempDirectory("graft_tx_spec").toString

  test("TxTable: create + snapshot round-trips the base table (v0)") {
    val dir = freshDir()
    try {
      val base = graft.core.Graph.nodes(spark, sf).select("name", "house", "acctbal")
      val t = graft.core.TxTable.create(spark, dir, base, Seq("name"))
      assert(t.version == 0L)
      assert(t.snapshot().count() == base.count())
      assert(t.snapshot().columns.toSeq == Seq("name", "house", "acctbal")) // no _b leak
    } finally graft.core.TxTable.drop(dir)
  }

  test("TxTable MERGE: read-your-writes — update + insert visible to the next query") {
    val dir = freshDir()
    try {
      val base = graft.core.Graph.nodes(spark, sf).select("name", "house", "acctbal")
      val t = graft.core.TxTable.create(spark, dir, base, Seq("name"))
      val upd = spark.createDataFrame(Seq(
        ("Customer#000000003", "BUILDING", 0.0), ("User#000000001", "BUILDING", 10.0)
      )).toDF("name", "house", "acctbal")
      assert(t.merge(upd) == 1L)
      val snap = t.snapshot() // same session, immediately after commit
      assert(snap.count() == base.count() + 1) // 1 update in place + 1 insert
      val c3 = snap.filter(col("name") === "Customer#000000003").collect()
      assert(c3.length == 1 && c3.head.getString(1) == "BUILDING" && c3.head.getDouble(2) == 0.0)
      assert(snap.filter(col("name") === "User#000000001").count() == 1)
    } finally graft.core.TxTable.drop(dir)
  }

  test("TxTable MERGE is idempotent: same batch twice equals once (and bumps only the version)") {
    val dir = freshDir()
    try {
      val base = graft.core.Graph.nodes(spark, sf).select("name", "house", "acctbal")
      val t = graft.core.TxTable.create(spark, dir, base, Seq("name"))
      val upd = spark.createDataFrame(Seq(
        ("Customer#000000003", "BUILDING", 0.0), ("User#000000001", "BUILDING", 10.0)
      )).toDF("name", "house", "acctbal")
      t.merge(upd)
      val once = t.snapshot().orderBy("name").collect().toSeq
      assert(t.merge(upd) == 2L)
      val twice = t.snapshot().orderBy("name").collect().toSeq
      assert(once == twice)
    } finally graft.core.TxTable.drop(dir)
  }

  test("TxTable MERGE rewrites only the buckets the update keys hash into (copy-on-write pruning)") {
    val dir = freshDir()
    try {
      val base = graft.core.Graph.nodes(spark, sf).select("name", "house", "acctbal")
      val t = graft.core.TxTable.create(spark, dir, base, Seq("name"))
      val upd = spark.createDataFrame(Seq(Tuple3("Customer#000000003", "BUILDING", 0.0)))
        .toDF("name", "house", "acctbal")
      t.merge(upd)
      // v1's manifest must re-point exactly the one touched bucket; every
      // other bucket entry still references the v0 commit directory.
      val log = java.nio.file.Paths.get(dir, "_log")
      def dirsOf(v: String) = java.nio.file.Files.readAllLines(log.resolve(v)).toArray
        .map(_.toString).filterNot(_.startsWith("#"))
        .map(_.split('\t')).map(a => a(0).toLong -> a(1)).toMap
      val v0 = dirsOf("v00000000.txt"); val v1 = dirsOf("v00000001.txt")
      val repointed = v1.filter { case (b, c) => v0.get(b).exists(_ != c) }
      assert(repointed.size == 1, s"expected 1 rewritten bucket, got ${repointed.size}")
      assert((v1 -- repointed.keys).forall { case (b, c) => v0(b) == c })
    } finally graft.core.TxTable.drop(dir)
  }

  test("TxTable MERGE with a composite edge key dedups the j11 batch (src,dst,relType)") {
    val dir = freshDir()
    try {
      val edges = graft.core.Graph.friendOf(spark, sf).select("src", "dst", "relType")
      val t = graft.core.TxTable.create(spark, dir, edges, Seq("src", "dst", "relType"), 8)
      val user = "User#000000001"
      val batch = spark.createDataFrame(Seq(2, 4, 6, 6).map(k =>
        (user, graft.core.Graph.fullName(k), "FRIEND_OF"))).toDF("src", "dst", "relType")
      t.merge(batch)
      assert(t.snapshot().filter(col("src") === user).count() == 3) // dup collapsed
      assert(t.snapshot().count() == edges.count() + 3)
    } finally graft.core.TxTable.drop(dir)
  }

  test("TxTable DELETE removes matched keys only; vacuum drops superseded commit dirs") {
    val dir = freshDir()
    try {
      val base = graft.core.Graph.nodes(spark, sf).select("name", "house", "acctbal")
      val t = graft.core.TxTable.create(spark, dir, base, Seq("name"))
      t.merge(spark.createDataFrame(Seq(("User#000000001", "BUILDING", 10.0)))
        .toDF("name", "house", "acctbal"))
      val del = spark.createDataFrame(
        Seq(Tuple1("Customer#000000003"), Tuple1("User#000000001"), Tuple1("NoSuchKey")))
        .toDF("name")
      assert(t.delete(del) == 2L)
      val snap = t.snapshot()
      assert(snap.filter(col("name").isin("Customer#000000003", "User#000000001")).count() == 0)
      assert(snap.count() == base.count() - 1) // -upserted row, -existing key; NoSuchKey no-op
      // Superseded bucket copies + the delete's rewrite leave dead dirs;
      // the aggressive horizon (keepVersions = 1, latest only) removes
      // them and the snapshot is unchanged. retainMs = 0: no concurrent
      // writers here, so the in-flight-commit protection window can be
      // waived (the default 10 min would reclaim nothing).
      val before = snap.orderBy("name").collect().toSeq
      assert(t.vacuum(retainMs = 0, keepVersions = 1) > 0)
      assert(graft.core.TxTable.open(spark, dir, Seq("name"))
        .snapshot().orderBy("name").collect().toSeq == before)
    } finally graft.core.TxTable.drop(dir)
  }

  test("TxTable widening MERGE evolves the schema; old versions keep theirs; old rows read NULL") {
    import spark.implicits._
    val dir = freshDir()
    try {
      val t = graft.core.TxTable.create(spark, dir,
        Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), Seq("k"), 4)
      // Widening merge: a column the table lacks joins the schema.
      t.merge(Seq(("b", 20L, "x"), ("c", 30L, "y")).toDF("k", "v", "tag"))
      val head = t.snapshot()
      assert(head.columns.toSeq == Seq("k", "v", "tag"))
      val m = head.collect()
        .map(r => r.getString(0) -> ((r.getLong(1), Option(r.getString(2))))).toMap
      assert(m == Map("a" -> ((1L, None)), "b" -> ((20L, Some("x"))), "c" -> ((30L, Some("y")))),
        s"old row must read NULL for the evolved column: $m")
      // Time travel returns each version under ITS schema.
      assert(t.snapshotAt(0L).columns.toSeq == Seq("k", "v"))
      // A delete after evolution carries the evolved schema forward.
      t.delete(Seq(Tuple1("a")).toDF("k"))
      assert(t.snapshot().columns.toSeq == Seq("k", "v", "tag"))
      // CDC across the evolution boundary conforms the old side (NULL tag).
      val upd = t.diff(0L, 1L).filter(col("change_type") === "update").collect()
      assert(upd.map(_.getAs[String]("k")).toSeq == Seq("b"))
      assert(upd.head.getAs[String]("old_tag") == null &&
        upd.head.getAs[String]("new_tag") == "x")
      // Whole-row MERGE contract: an update missing an old column nulls it.
      t.merge(Seq(("d", "z")).toDF("k", "tag"))
      val d = t.snapshot().filter(col("k") === "d").collect().head
      assert(d.isNullAt(d.fieldIndex("v")) && d.getAs[String]("tag") == "z")
    } finally graft.core.TxTable.drop(dir)
  }

  test("TxTable: deleting every row yields an empty snapshot with the persisted schema") {
    val dir = freshDir()
    try {
      val base = spark.createDataFrame(Seq(("a", 1.0), ("b", 2.0))).toDF("name", "x")
      val t = graft.core.TxTable.create(spark, dir, base, Seq("name"), 4)
      t.delete(spark.createDataFrame(Seq(Tuple1("a"), Tuple1("b"))).toDF("name"))
      val snap = t.snapshot()
      assert(snap.count() == 0)
      assert(snap.columns.toSeq == Seq("name", "x")) // schema survives emptiness
      // and the table recovers: a merge into the empty table works
      t.merge(spark.createDataFrame(Seq(("c", 3.0))).toDF("name", "x"))
      assert(t.snapshot().count() == 1)
    } finally graft.core.TxTable.drop(dir)
  }

  test("TxTable: concurrent writers both land via optimistic rebase-retry") {
    val dir = freshDir()
    try {
      val base = graft.core.Graph.nodes(spark, sf).select("name", "house", "acctbal")
      graft.core.TxTable.create(spark, dir, base, Seq("name"))
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      def mergeOne(name: String) = Future {
        val t = graft.core.TxTable.open(spark, dir, Seq("name"))
        t.merge(spark.createDataFrame(Seq((name, "BUILDING", 1.0)))
          .toDF("name", "house", "acctbal"))
      }
      val vs = Await.result(
        Future.sequence(Seq(mergeOne("User#000000077"), mergeOne("User#000000088"))),
        5.minutes)
      assert(vs.toSet == Set(1L, 2L)) // exactly one writer per version: loser rebased
      val t = graft.core.TxTable.open(spark, dir, Seq("name"))
      assert(t.version == 2L)
      val snap = t.snapshot()
      assert(snap.filter(col("name").isin("User#000000077", "User#000000088")).count() == 2)
      assert(snap.count() == base.count() + 2)
    } finally graft.core.TxTable.drop(dir)
  }

  test("s31 certificate gate: a forced violation fails LOUDLY naming the counts") {
    import spark.implicits._
    // Clean certs pass through untouched…
    val clean = Seq(("a", 0L, 0L)).toDF("name", "torn_hits", "incons_hits")
    assert(graft.lifecycle.Demos.requireCleanCerts(clean, "t").count() == 1)
    // …and an empty frame is vacuously clean (coalesce over max-of-none).
    assert(graft.lifecycle.Demos.requireCleanCerts(clean.limit(0), "t").count() == 0)
    // A violation must surface as err TEXT naming the counts — the channel
    // the driver reports — never an opaque hash mismatch.
    val torn = Seq(("a", 2L, 0L), ("b", 0L, 3L)).toDF("name", "torn_hits", "incons_hits")
    val e = intercept[IllegalArgumentException](graft.lifecycle.Demos.requireCleanCerts(torn, "s31"))
    assert(e.getMessage.contains("s31") && e.getMessage.contains("torn=2") &&
      e.getMessage.contains("incons=3"), e.getMessage)
  }

  test("S3 writeCanonical: overwrite produces partitioned edges readable back") {
    val out = java.nio.file.Files.createTempDirectory("graft_canon").toString
    GraphBuilder.writeCanonical(spark, sf, out)
    GraphBuilder.writeCanonical(spark, sf, out) // S3: overwrite, not append
    val edges = spark.read.parquet(s"$out/edges")
    val expected = graft.core.Graph.allEdges(spark, sf).count()
    assert(edges.count() == expected)
    assert(edges.filter(col("relType") === "BELONGS_TO").count() ==
      graft.core.Graph.nodes(spark, sf).count())
  }
}
