package graft

import graft.core.Graph
import graft.ops.{GraphOps, TextOps}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Property-based invariants (SURVEY §5.2 item 3): randomized inputs over
  * the real sf0.001 corpus, pinning the algebraic laws the DuckDB oracle
  * can't express for arbitrary parameters. ScalaCheck generators are
  * sampled with a FIXED seed (deterministic CI) and asserted in plain
  * ScalaTest — the scalatest+scalacheck bridge artifact isn't available
  * offline.
  */
class PropertySpec extends AnyFunSuite {
  import TestSpark._

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(42L + i)))

  private val friendSetGen: Gen[Seq[Int]] =
    Gen.chooseNum(1, 5).flatMap(n => Gen.listOfN(n, Gen.choose(1, 140))).map(_.distinct)

  test("winder: score <= |friends|; candidates disjoint from the friend set (randomized)") {
    samples(friendSetGen, 8).filter(_.nonEmpty).foreach { keys =>
      val names = keys.map(k => f"Customer#$k%09d").toSet
      val rows = GraphOps.winderTopK(spark, sf, keys, k = 10).collect()
      rows.foreach { r =>
        assert(r.getAs[Long]("common_friends") <= keys.size, s"keys=$keys")
        assert(!names.contains(r.getAs[String]("candidate")), s"keys=$keys")
        val shared = r.getAs[String]("shared_with").split(",").toSeq
        assert(shared.forall(names.contains) && shared == shared.sorted, s"keys=$keys")
      }
    }
  }

  test("undirected closure is an involution: reversing twice is identity") {
    Seq("FRIEND_OF", "SAME_FAMILY").foreach { rel =>
      val e = Graph.personEdges(spark, sf).filter(col("relType") === rel)
        .limit(500).cache()
      val u = Graph.undirectedOne(e)
      val uu = u.select(col("dst").as("src"), col("src").as("dst"), col("relType"))
      assert(u.except(uu).count() == 0 && uu.except(u).count() == 0, rel)
      e.unpersist()
    }
  }

  test("edge upsert (J11 MERGE) is idempotent: applying twice equals once") {
    val once = GraphOps.upsertEdges(spark, sf)
    val twice = once.unionByName(once).dropDuplicates("src", "dst", "relType")
    assert(once.count() == twice.count())
  }

  test("rolling hash respects the mod-space recurrence on concatenation (randomized)") {
    // H(a ++ b) = (H(a) * B^|b| + H(b)) mod M
    val g = Gen.listOfN(6, Gen.alphaLowerChar).map(_.mkString)
    def h(s: String): Long =
      s.foldLeft(0L)((acc, c) => (acc * TextOps.HashBase + c.toLong) % TextOps.HashMod)
    samples(Gen.zip(g, g), 25).foreach { case (a, b) =>
      val powB = (1 to b.length).foldLeft(1L)((p, _) => p * TextOps.HashBase % TextOps.HashMod)
      assert((h(a) * powB + h(b)) % TextOps.HashMod == h(a + b), s"a=$a b=$b")
    }
  }

  test("TxTable is a faithful keyed map under random merge/delete sequences (model-based)") {
    import spark.implicits._
    // Model: an in-memory Map[key -> value]. Ops draw keys from a small
    // pool so merges genuinely overwrite and deletes genuinely hit; after
    // every op the snapshot must equal the model, and at the end each
    // historical version must replay exactly (time travel).
    val keyGen = Gen.choose(0, 24).map(i => f"K$i%02d")
    // Deletes randomly run copy-on-write OR merge-on-read — both must be
    // indistinguishable from the model's point of view.
    val batchGen: Gen[((Boolean, Boolean), Seq[(String, Long)])] = for {
      isDelete <- Gen.frequency(3 -> false, 1 -> true)
      mor <- Gen.oneOf(true, false)
      n <- Gen.chooseNum(1, 6)
      keys <- Gen.listOfN(n, keyGen)
      vals <- Gen.listOfN(n, Gen.chooseNum(0L, 999L))
    } yield ((isDelete, mor), keys.zip(vals))
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_prop").toString
    try {
      var model = (0 until 10).map(i => f"K$i%02d" -> i.toLong).toMap
      val t = graft.core.TxTable.create(spark, dir,
        model.toSeq.toDF("k", "v"), Seq("k"), numBuckets = 8)
      var history = List(0L -> model)
      samples(batchGen, 8).foreach { case ((isDelete, mor), batch) =>
        val v =
          if (isDelete) {
            model --= batch.map(_._1)
            val keys = batch.map(_._1).distinct.toDF("k")
            if (mor) t.deleteMergeOnRead(keys) else t.delete(keys)
          } else {
            // dropDuplicates inside merge keeps ONE row per key
            // nondeterministically; make the batch key-unique so the
            // model is well-defined.
            val uniq = batch.toMap.toSeq
            model ++= uniq
            t.merge(uniq.toDF("k", "v"))
          }
        val snap = t.snapshot().as[(String, Long)].collect().toMap
        assert(snap == model, s"after v$v: $snap != $model")
        history ::= v -> model
      }
      history.foreach { case (v, m) =>
        val replay = t.snapshotAt(v).as[(String, Long)].collect().toMap
        assert(replay == m, s"time travel to v$v diverged")
      }
    } finally graft.core.TxTable.drop(dir)
  }

  test("TxTable row tracking: ids unique, stable across rewrites, never reused (model-based)") {
    import spark.implicits._
    // Model: the engine OWNS id values, so the model records them at
    // first sight and then holds the contract: a live key's id never
    // changes while the key persists (merge updates, predicate updates,
    // compaction, rebucketed layouts), ids are always distinct, and an
    // id freed by delete is NEVER issued again — a deleted-then-
    // re-inserted key is a new logical row with a fresh id.
    val keyGen = Gen.choose(0, 19).map(i => f"K$i%02d")
    val opGen: Gen[(Int, Seq[(String, Long)])] = for {
      op <- Gen.frequency(4 -> 0 /*merge*/, 2 -> 1 /*delete*/,
        1 -> 2 /*update*/, 1 -> 3 /*compact*/)
      n <- Gen.chooseNum(1, 5)
      keys <- Gen.listOfN(n, keyGen)
      vals <- Gen.listOfN(n, Gen.chooseNum(0L, 999L))
    } yield (op, keys.zip(vals))
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_rid").toString
    try {
      var values = (0 until 8).map(i => f"K$i%02d" -> i.toLong).toMap
      val t = graft.core.TxTable.create(spark, dir,
        values.toSeq.toDF("k", "v"), Seq("k"), numBuckets = 4,
        rowTracking = true)
      val rid = col(graft.core.TxTable.RidCol)
      def observed: Map[String, (Long, Long)] = t.snapshot()
        .select(col("k"), col("v"), rid).as[(String, Long, Long)]
        .collect().map { case (k, v, r) => k -> (v, r) }.toMap
      var live: Map[String, Long] = observed.map { case (k, (_, r)) => k -> r }
      var used: Set[Long] = live.values.toSet
      assert(live.size == values.size && used.size == values.size,
        "create must assign one distinct id per row")
      samples(opGen, 10).foreach { case (op, batch) =>
        val before = live
        op match {
          case 0 =>
            val uniq = batch.toMap.toSeq
            values ++= uniq
            t.merge(uniq.toDF("k", "v"))
          case 1 =>
            values --= batch.map(_._1)
            t.delete(batch.map(_._1).distinct.toDF("k"))
          case 2 =>
            val cut = 500L
            values = values.map { case (k, v) =>
              k -> (if (v < cut) v + 1 else v) }
            t.update(s"v < $cut", Map("v" -> "v + 1"))
          case _ =>
            t.compact(0)
        }
        val now = observed
        assert(now.map { case (k, (v, _)) => k -> v } == values,
          s"visible state diverged from the model after op $op")
        val rids = now.values.map(_._2).toSeq
        assert(rids.distinct.size == rids.size, "duplicate row ids")
        now.foreach { case (k, (_, r)) =>
          before.get(k).foreach(old => assert(old == r,
            s"key $k changed id $old -> $r across op $op"))
          if (!before.contains(k)) assert(!used.contains(r),
            s"key $k reused a freed id $r")
        }
        live = now.map { case (k, (_, r)) => k -> r }
        used ++= live.values
        if (rids.nonEmpty) assert(t.ridHwmAt(t.version) > rids.max,
          "high-water mark must stay above every issued id")
      }
    } finally graft.core.TxTable.drop(dir)
  }

  test("TxTable lifecycle ops are model-faithful: random merge/delete/compact/rebucket/restore/branch") {
    import spark.implicits._
    // Extends the keyed-map model with the round-9 lifecycle surface.
    // Model semantics: compact/rebucket = identity; restore(v) = the
    // model as of v; a WAP round (branch → merge on branch → fast-
    // forward) = one merge. After every op the head snapshot must equal
    // the model, and every surviving version must replay.
    val keyGen = Gen.choose(0, 24).map(i => f"K$i%02d")
    val opGen: Gen[(Int, Seq[(String, Long)], Int)] = for {
      op <- Gen.frequency(4 -> 0 /*merge*/, 2 -> 1 /*delete*/,
        1 -> 2 /*compact*/, 1 -> 3 /*rebucket*/, 1 -> 4 /*restore*/,
        2 -> 5 /*wap merge*/, 2 -> 6 /*MoR delete*/,
        1 -> 7 /*partial compact*/)
      n <- Gen.chooseNum(1, 5)
      keys <- Gen.listOfN(n, keyGen)
      vals <- Gen.listOfN(n, Gen.chooseNum(0L, 999L))
      aux <- Gen.chooseNum(0, 100)
    } yield (op, keys.zip(vals), aux)
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_life").toString
    try {
      var model = (0 until 10).map(i => f"K$i%02d" -> i.toLong).toMap
      val t = graft.core.TxTable.create(spark, dir,
        model.toSeq.toDF("k", "v"), Seq("k"), numBuckets = 4)
      val history = scala.collection.mutable.Map(0L -> model)
      var branchN = 0
      samples(opGen, 10).foreach { case (op, batch, aux) =>
        val v = op match {
          case 0 =>
            val uniq = batch.toMap.toSeq
            model ++= uniq; t.merge(uniq.toDF("k", "v"))
          case 1 =>
            model --= batch.map(_._1)
            t.delete(batch.map(_._1).distinct.toDF("k"))
          case 2 => t.compact()
          case 3 => t.compact(newBuckets = if (aux % 2 == 0) 8 else 4)
          case 4 =>
            val target = (aux % (t.version + 1)).toLong
            model = history(target); t.restore(target)
          case 5 =>
            branchN += 1
            val b = t.branch(s"p$branchN")
            val uniq = batch.toMap.toSeq
            b.merge(uniq.toDF("k", "v"))
            model ++= uniq
            val fv = t.fastForward(s"p$branchN")
            t.dropBranch(s"p$branchN"); fv
          case 6 =>
            model --= batch.map(_._1)
            t.deleteMergeOnRead(batch.map(_._1).distinct.toDF("k"))
          case 7 => t.compactPartial()
        }
        val snap = t.snapshot().as[(String, Long)].collect().toMap
        assert(snap == model, s"after op$op at v$v: $snap != $model")
        history(v) = model
      }
      history.foreach { case (v, m) =>
        assert(t.snapshotAt(v).as[(String, Long)].collect().toMap == m,
          s"time travel to v$v diverged")
      }
      // Vacuum with no retained-version trim reclaims only garbage;
      // every version must still replay afterwards.
      t.vacuum(retainMs = 0L)
      history.foreach { case (v, m) =>
        assert(t.snapshotAt(v).as[(String, Long)].collect().toMap == m,
          s"post-vacuum time travel to v$v diverged")
      }
    } finally graft.core.TxTable.drop(dir)
  }

  test("TxTable applyChanges: one atomic version per batch, upsert-wins, model-faithful") {
    import spark.implicits._
    val batchGen: Gen[(Seq[(String, Long)], Seq[String])] = for {
      nu <- Gen.chooseNum(0, 6)
      nd <- Gen.chooseNum(0, 4)
      upKeys <- Gen.listOfN(nu, Gen.choose(0, 24).map(i => f"K$i%02d"))
      upVals <- Gen.listOfN(nu, Gen.chooseNum(0L, 999L))
      delKeys <- Gen.listOfN(nd, Gen.choose(0, 24).map(i => f"K$i%02d"))
    } yield (upKeys.zip(upVals), delKeys)
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_applyc").toString
    try {
      var model = (0 until 10).map(i => f"K$i%02d" -> i.toLong).toMap
      val t = graft.core.TxTable.create(spark, dir,
        model.toSeq.toDF("k", "v"), Seq("k"), numBuckets = 8)
      samples(batchGen, 8).foreach { case (ups0, dels) =>
        val ups = ups0.toMap.toSeq // key-unique, model well-defined
        val before = t.version
        // Model: deletes apply, then upserts — a key in BOTH inputs
        // resolves as upsert-wins (the CDC fold contract).
        model --= dels
        model ++= ups
        val v = t.applyChanges(ups.toDF("k", "v"), dels.distinct.toDF("k"))
        if (ups.isEmpty && dels.isEmpty)
          // A batch folding to zero changes is a metadata no-op — no
          // empty version minted (the round-16 applyChanges guard).
          assert(v == before, s"empty batch must not publish ($before -> $v)")
        else {
          assert(v == before + 1,
            s"applyChanges must publish exactly ONE version (got $before -> $v)")
          assert(t.opAt(v) == "apply-changes")
        }
        val snap = t.snapshot().as[(String, Long)].collect().toMap
        assert(snap == model, s"after v$v: $snap != $model")
      }
    } finally graft.core.TxTable.drop(dir)
  }

  test("TxTable widenColumn: float->double metadata-only, mixed physical eras read exactly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_widenf").toString
    try {
      // Values chosen exactly representable in FLOAT (powers of two plus
      // small integers), so the float->double promotion is value-exact
      // and the assertion below can compare doubles with ==.
      val base = (0 until 64).map(i => (s"k$i", (i * 0.25).toFloat)).toDF("k", "w")
      val t = graft.core.TxTable.create(spark, dir, base, Seq("k"), numBuckets = 4)
      val prePointers = t.dataPointers(t.version)
      t.widenColumn("w", "DOUBLE")
      assert(t.dataPointers(t.version) == prePointers, "widen must rewrite nothing")
      assert(t.snapshot().schema("w").dataType ==
        org.apache.spark.sql.types.DoubleType)
      // Post-widen merge stores real doubles a float cannot hold.
      t.merge(Seq(("k1", 0.1), ("kNEW", 1.0 / 3.0)).toDF("k", "w"))
      val m = t.snapshot().as[(String, Double)].collect().toMap
      assert(m("k1") == 0.1 && m("kNEW") == 1.0 / 3.0,
        "post-widen doubles must round-trip exactly")
      assert(m("k2") == 0.5 && m("k63") == 15.75,
        "pre-widen float values must promote exactly")
      assert(m.size == 65)
      // Guards: key columns and non-promotions refuse.
      intercept[IllegalArgumentException] { t.widenColumn("k", "BIGINT") }
      intercept[IllegalArgumentException] { t.widenColumn("w", "FLOAT") }
    } finally graft.core.TxTable.drop(dir)
  }

  test("hilbertIndex satisfies the DEFINING curve properties: bijection + unit-step adjacency") {
    import spark.implicits._
    // The two properties that make a space-filling curve a HILBERT curve
    // — checked directly, so no transcription error in the recurrence
    // can hide behind an identically-transcribed reference:
    //  (1) bijection: every cell of the 2^b × 2^b grid gets exactly one
    //      index in [0, 4^b);
    //  (2) continuity: cells at consecutive indexes are ALWAYS
    //      Manhattan-distance-1 neighbors (Morton fails this at every
    //      power-of-two boundary — it is the property Hilbert buys).
    val bits = 5 // 32×32 grid = 1024 cells, full enumeration
    val side = 1 << bits
    val grid = spark.range(side.toLong * side)
      .select((col("id") % side).as("x"), (col("id") / side).cast("long").as("y"))
    val hs = grid.select(col("x"), col("y"),
        graft.core.TxTable.hilbertIndex(col("x"), col("y"), bits).as("h"))
      .collect().map(r => (r.getLong(2), (r.getLong(0), r.getLong(1))))
    assert(hs.map(_._1).distinct.length == side * side, "index not injective")
    assert(hs.map(_._1).min == 0L && hs.map(_._1).max == side.toLong * side - 1,
      "index range must be exactly [0, 4^bits)")
    // Interpreted twin: the df path ran through doGenCode's generated
    // loop; the shared compute() must agree cell for cell.
    hs.foreach { case (h, (x, y)) =>
      assert(graft.functions.HilbertIndex.compute(x, y, bits) == h,
        s"codegen/interpreted divergence at ($x,$y)")
    }
    val byIndex = hs.sortBy(_._1).map(_._2).toSeq
    byIndex.zip(byIndex.tail).zipWithIndex.foreach {
      case (((x1, y1), (x2, y2)), i) =>
        assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
          s"curve tears between index $i ($x1,$y1) and ${i + 1} ($x2,$y2)")
    }
    // And the clustering verb built on it is layout-only, like every
    // compaction: same rows before and after.
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_hilb").toString
    try {
      val base = (0 until 2000)
        .map(i => (s"k$i", (i * 2654435761L) % 1000, (i * 40503L) % 1000))
        .toDF("k", "a", "b")
      val t = graft.core.TxTable.create(spark, dir, base, Seq("k"), numBuckets = 2)
      val before = t.snapshot().collect().map(_.mkString("|")).sorted.toSeq
      t.compactHilbert(Seq("a", "b"))
      assert(t.snapshot().collect().map(_.mkString("|")).sorted.toSeq == before,
        "hilbert compaction must be layout-only")
      assert(t.opAt(t.version) == "compact")
    } finally graft.core.TxTable.drop(dir)
  }

  test("TxTable mergeClauses: delete precedes update, conditions gate each clause") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_clauses").toString
    try {
      val base = (0 until 10).map(i => f"K$i%02d" -> i.toLong)
      val t = graft.core.TxTable.create(spark, dir, base.toDF("k", "v"), Seq("k"), numBuckets = 4)
      // Batch: every existing key gets new value old+100; two new keys.
      val batch = (base.map { case (k, v) => k -> (v + 100) } ++
        Seq("YY" -> 200L, "ZZ" -> 50L)).toDF("k", "v")
      // Old v = 5 satisfies BOTH delete and update conditions — delete
      // must win (clause order). Inserts require new v > 100.
      t.mergeClauses(batch, updateWhen = "v >= 3", deleteWhen = "v = 5",
        insertWhen = "v > 100")
      val m = t.snapshot().as[(String, Long)].collect().toMap
      val expect = base.toMap.flatMap { case (k, v) =>
        if (v == 5) None                       // matched-delete wins
        else if (v >= 3) Some(k -> (v + 100))  // matched-update
        else Some(k -> v)                      // matched, no clause fires
      } + ("YY" -> 200L)                       // insert gated by condition
      assert(m == expect, s"$m != $expect")
      assert(!m.contains("ZZ"), "insert condition ignored")
      // CHECK constraints guard the conditional-merge post-image too: an
      // update clause that would write a violating value must be refused
      // before anything publishes.
      t.addCheck("v_cap", "v < 1000")
      val head = t.version
      val ex = intercept[Exception](
        t.mergeClauses(Seq("K00" -> 5000L).toDF("k", "v"),
          updateWhen = "v >= 0", deleteWhen = "false", insertWhen = "true"))
      assert(ex.getMessage.contains("v_cap"))
      assert(t.version == head, "violating mergeClauses must not publish")
    } finally graft.core.TxTable.drop(dir)
  }

  test("TxTable mergeClauses: NULL clause condition does not fire (Delta contract)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_nullclause").toString
    try {
      val base = Seq("A" -> Some(1L), "B" -> Some(5L), "C" -> None)
      val t = graft.core.TxTable.create(spark, dir, base.toDF("k", "v"), Seq("k"), numBuckets = 4)
      // deleteWhen = "new_v = 5": NULL for the NULL-valued batch rows —
      // those rows must FALL THROUGH to the update clause, not be deleted
      // (NOT(NULL) is NULL; a bare filter would silently drop them).
      t.mergeClauses(Seq("A" -> None, "B" -> Some(5L), "C" -> Some(7L))
        .toDF("k", "v"),
        updateWhen = "true", deleteWhen = "new_v = 5", insertWhen = "true")
      val m = t.snapshot().as[(String, Option[Long])].collect().toMap
      assert(m == Map("A" -> None, "C" -> Some(7L)),
        s"NULL delete condition must fall through to update, got $m")
    } finally graft.core.TxTable.drop(dir)
  }

  test("TxTable update: predicate SET semantics, NULL no-fire, checks, no-op, key guard") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_update").toString
    try {
      val base = Seq("A" -> Some(1L), "B" -> Some(5L), "C" -> None, "D" -> Some(9L))
      val t = graft.core.TxTable.create(spark, dir, base.toDF("k", "v"), Seq("k"), numBuckets = 4)
      // NULL predicate (v > 3 is NULL for C) must not fire on C.
      val v1 = t.update("v > 3", Map("v" -> "v * 10"))
      assert(v1 == 1L)
      assert(t.snapshot().as[(String, Option[Long])].collect().toMap ==
        Map("A" -> Some(1L), "B" -> Some(50L), "C" -> None, "D" -> Some(90L)))
      // No-match predicate publishes nothing.
      assert(t.update("v > 1000000", Map("v" -> "0")) == v1)
      assert(t.version == v1)
      // CHECK constraints veto the post-image before publish.
      t.addCheck("v_cap", "v IS NULL OR v < 1000")
      val ex = intercept[Exception](t.update("k = 'B'", Map("v" -> "v * 1000")))
      assert(ex.getMessage.contains("v_cap"))
      assert(t.version == v1, "violating update must not publish")
      // Key columns cannot be SET.
      val kx = intercept[IllegalArgumentException](t.update("true", Map("k" -> "'Z'")))
      assert(kx.getMessage.contains("key column"))
      // Time travel still serves the pre-update state.
      assert(t.snapshotAt(0L).as[(String, Option[Long])].collect().toMap == base.toMap)
    } finally graft.core.TxTable.drop(dir)
  }

  test("string zone bounds: shared-prefix battery never loses rows (randomized)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_strzone").toString
    try {
      // The truncation hazard by construction: families sharing a 16-byte
      // (or longer) prefix, a multibyte family whose 16-byte cut lands
      // MID-CODEPOINT, and a 15-byte family straddling the cut — plus the
      // bare prefixes themselves as rows AND as probe values.
      val rnd = new scala.util.Random(42)
      val prefixes = Seq("Customer#0000000", "ααββγγδδ", "zzzzzzzzzzzzzzz")
      val suffixes = "" +: (0 until 30).map(_ =>
        rnd.alphanumeric.take(1 + rnd.nextInt(12)).mkString)
      val values = (for { p <- prefixes; s <- suffixes } yield p + s).distinct
      val base = values.zipWithIndex.map { case (v, i) => (f"k$i%03d", v) }
        .toDF("k", "name")
      graft.core.Session.withConf(spark, "spark.sql.files.maxRecordsPerFile" -> 8) {
        val t = graft.core.TxTable.create(spark, dir, base, Seq("k"),
          numBuckets = 4, zoneMapCols = Seq("name"))
        t.compact(0, Seq("name")) // many range-disjoint files per bucket
      }
      // The sidecar really recorded truncated string bounds.
      import scala.jdk.CollectionConverters._
      val zm = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "data"))
        .iterator().asScala.find(_.getFileName.toString == "_zonemap.txt").get
      assert(java.nio.file.Files.readString(zm).contains("string:t16"),
        "string zone lines missing from the sidecar")
      val conn = spark.read.format("graft").load(dir)
      val probes = (rnd.shuffle(values).take(7) ++ prefixes).distinct
      probes.foreach { p =>
        Seq[(String, org.apache.spark.sql.Column)](
          ("<", col("name") < p), ("<=", col("name") <= p),
          (">", col("name") > p), (">=", col("name") >= p),
          ("=", col("name") === p)).foreach { case (op, pred) =>
          val got = conn.filter(pred).select("k").as[String].collect().sorted.toSeq
          val want = base.filter(pred).select("k").as[String].collect().sorted.toSeq
          assert(got == want, s"probe name $op '$p' lost or invented rows")
        }
      }
    } finally graft.core.TxTable.drop(dir)
  }

  test("TxTable deleteWhere: predicate semantics, NULL no-fire, no-op, bucket drop, time travel") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_delwhere").toString
    try {
      val base = Seq("A" -> Some(1L), "B" -> Some(5L), "C" -> None, "D" -> Some(9L))
      val t = graft.core.TxTable.create(spark, dir, base.toDF("k", "v"), Seq("k"), numBuckets = 4)
      // NULL predicate (v > 3 is NULL for C) must not fire — C survives.
      val v1 = t.deleteWhere("v > 3")
      assert(v1 == 1L)
      assert(t.snapshot().as[(String, Option[Long])].collect().toMap ==
        Map("A" -> Some(1L), "C" -> None))
      // No-match predicate publishes nothing.
      assert(t.deleteWhere("v > 1000000") == v1)
      assert(t.version == v1)
      // CHECK constraints never block a delete (it introduces no rows) —
      // even one the SURVIVORS would now have to satisfy vacuously.
      t.addCheck("v_pos", "v IS NULL OR v >= 0")
      val v2 = t.deleteWhere("k = 'A'")
      assert(v2 == v1 + 1)
      assert(t.snapshot().count() == 1) // only C (NULL v) survives
      // Deleting every remaining row empties the manifest entirely, and
      // the snapshot still serves the schema.
      val v3 = t.deleteWhere("true")
      assert(t.dataPointers(v3).isEmpty, "all-deleted buckets must drop out")
      assert(t.snapshot().count() == 0)
      assert(t.snapshot().columns.toSeq == Seq("k", "v"))
      // Time travel still serves every pre-delete state.
      assert(t.snapshotAt(0L).as[(String, Option[Long])].collect().toMap == base.toMap)
      assert(t.snapshotAt(v1).count() == 2)
    } finally graft.core.TxTable.drop(dir)
  }

  test("TxTable addColumn DEFAULT: metadata-only, presence wins, write-default, drop/re-add supersede") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_addcol").toString
    try {
      val base = (0 until 12).map(i => f"K$i%02d" -> i.toLong)
      val t = graft.core.TxTable.create(spark, dir, base.toDF("k", "v"), Seq("k"), numBuckets = 4)
      // Metadata-only DDL: same data pointers, pre-add rows serve the default.
      val va = t.addColumn("tier", "STRING", "'standard'")
      assert(t.dataPointers(0L) == t.dataPointers(va), "ADD COLUMN rewrote data")
      val tiers0 = t.snapshot().as[(String, Long, Option[String])].collect()
        .map(r => r._1 -> r._3).toMap
      assert(tiers0.values.forall(_.contains("standard")), s"default not served: $tiers0")
      // Physical presence wins: an explicit value AND an explicit NULL both
      // override the default; a batch OMITTING the column gets the
      // write-default on its rows.
      t.merge(Seq(("K01", 101L, Some("premium")), ("K02", 102L, None))
        .toDF("k", "v", "tier"))
      t.merge(Seq("K03" -> 303L).toDF("k", "v"))
      val m1 = t.snapshot().as[(String, Long, Option[String])].collect()
        .map(r => r._1 -> r._3).toMap
      assert(m1("K01").contains("premium") && m1("K02").isEmpty &&
        m1("K03").contains("standard") && m1("K00").contains("standard"), s"state: $m1")
      // Time travel to v0 predates the column entirely.
      assert(!t.snapshotAt(0L).columns.contains("tier"))
      // Compaction materializes the default without changing the data.
      t.compact()
      assert(t.snapshot().as[(String, Long, Option[String])].collect()
        .map(r => r._1 -> r._3).toMap == m1)
      // DROP then re-ADD with a different default supersedes cleanly: the
      // old default must not leak through the re-added column.
      t.dropColumn("tier")
      assert(!t.snapshot().columns.contains("tier"))
      t.addColumn("tier", "STRING", "'basic'")
      val m2 = t.snapshot().as[(String, Long, Option[String])].collect()
        .map(r => r._1 -> r._3).toMap
      // Post-compaction files physically CARRY the old tier values, so
      // presence wins for them; what matters is no 'standard' default is
      // served for re-added-and-absent data. Merge a fresh row omitting
      // the column: it gets 'basic', never 'standard'.
      t.merge(Seq("K90" -> 900L).toDF("k", "v"))
      val m3 = t.snapshot().as[(String, Long, Option[String])].collect()
        .map(r => r._1 -> r._3).toMap
      assert(m3("K90").contains("basic"), s"re-added default not served: ${m3("K90")}")
      assert(m2.keySet == m1.keySet)
      // Duplicate add and malformed defaults fail eagerly, pre-publish.
      val vNow = t.version
      val dup = intercept[IllegalArgumentException](t.addColumn("tier", "STRING", "'x'"))
      assert(dup.getMessage.contains("already exists"))
      intercept[Exception](t.addColumn("bad", "LONG", "v + 1")) // column ref
      assert(t.version == vNow, "failed ADD COLUMN must not publish")
    } finally graft.core.TxTable.drop(dir)
  }

  test("TxTable renameColumn: metadata-only column mapping, chained renames, guards") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_rencol").toString
    try {
      val base = (0 until 12).map(i => (f"K$i%02d", i.toLong, s"h$i"))
      val t = graft.core.TxTable.create(spark, dir, base.toDF("k", "v", "house"),
        Seq("k"), numBuckets = 4)
      // Metadata-only: same pointers; old files serve values under the new name.
      val vr = t.renameColumn("house", "segment")
      assert(t.dataPointers(0L) == t.dataPointers(vr), "RENAME rewrote data")
      val s0 = t.snapshot().as[(String, Long, Option[String])].collect()
        .map(r => r._1 -> r._3).toMap
      assert(s0("K05").contains("h5"), s"alias read lost values: $s0")
      // Post-rename writers store the new name; explicit NULL stays NULL
      // (the variant coalesce must not resurrect the pre-rename value).
      t.merge(Seq(("K01", 101L, Some("newseg")), ("K02", 102L, None))
        .toDF("k", "v", "segment"))
      val s1 = t.snapshot().as[(String, Long, Option[String])].collect()
        .map(r => r._1 -> r._3).toMap
      assert(s1("K01").contains("newseg") && s1("K02").isEmpty &&
        s1("K03").contains("h3"), s"state: $s1")
      // Chained rename: segment -> zone resolves through [segment, house].
      t.renameColumn("segment", "zone")
      val s2 = t.snapshot().as[(String, Long, Option[String])].collect()
        .map(r => r._1 -> r._3).toMap
      assert(s2("K03").contains("h3") && s2("K01").contains("newseg") &&
        s2("K02").isEmpty, s"chained alias read: $s2")
      // Time travel serves each era's own name.
      assert(t.snapshotAt(0L).columns.contains("house") &&
        !t.snapshotAt(0L).columns.contains("zone"))
      assert(t.snapshotAt(vr).columns.contains("segment"))
      // Reserved physical names: neither alias may be re-added.
      val ra = intercept[IllegalArgumentException](t.addColumn("house", "STRING", "'x'"))
      assert(ra.getMessage.contains("reserved"))
      // Compaction materializes the current name; values survive.
      t.compact()
      assert(t.snapshot().as[(String, Long, Option[String])].collect()
        .map(r => r._1 -> r._3).toMap == s2)
      // Guards: key column, duplicate target, CHECK-referenced column.
      assert(intercept[IllegalArgumentException](
        t.renameColumn("k", "key2")).getMessage.contains("key column"))
      assert(intercept[IllegalArgumentException](
        t.renameColumn("zone", "v")).getMessage.contains("already exists"))
      t.addCheck("v_nonneg", "v >= 0")
      assert(intercept[IllegalArgumentException](
        t.renameColumn("v", "val2")).getMessage.contains("check"))
      // Defaults follow the renamed column, and branches carry the alias map.
      t.addColumn("tier", "STRING", "'standard'")
      t.merge(Seq(("K80", 800L)).toDF("k", "v")) // tier defaulted, zone NULL
      t.renameColumn("tier", "grade")
      val s3 = t.snapshot().select("k", "grade").as[(String, Option[String])]
        .collect().toMap
      assert(s3("K80").contains("standard"), s"default lost in rename: $s3")
      val b = t.branch("audit")
      val bs = b.snapshot().as[(String, Long, Option[String], Option[String])]
        .collect().map(r => r._1 -> r._3).toMap
      assert(bs("K03").contains("h3"), s"branch lost alias map: $bs")
    } finally graft.core.TxTable.drop(dir)
  }

  test("TxTable shallowClone: zero-copy, writes isolated both ways, clone vacuum spares source") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_clone").toString
    try {
      val base = (0 until 20).map(i => f"K$i%02d" -> i.toLong)
      val src = graft.core.TxTable.create(spark, dir + "/src",
        base.toDF("k", "v"), Seq("k"), numBuckets = 4)
      val c = src.shallowClone(dir + "/c")
      assert(c.snapshot().as[(String, Long)].collect().toMap == base.toMap)
      // Zero-copy: the clone's data dir has no children until it writes.
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "c", "data"))
      val empty = try !ls.iterator().hasNext finally ls.close()
      assert(empty, "shallow clone copied data files")
      // Independence, both directions.
      c.merge(Seq("K01" -> 101L).toDF("k", "v"))
      src.merge(Seq("K02" -> 202L).toDF("k", "v"))
      val cm = c.snapshot().as[(String, Long)].collect().toMap
      val sm = src.snapshot().as[(String, Long)].collect().toMap
      assert(cm("K01") == 101L && cm("K02") == 2L, s"clone state: $cm")
      assert(sm("K01") == 1L && sm("K02") == 202L, s"source state: $sm")
      // The clone's vacuum must never reclaim source-owned (absolute)
      // pointers — aggressive horizon, then both tables still read clean.
      c.vacuum(retainMs = 0L, keepVersions = 1)
      assert(c.snapshot().as[(String, Long)].collect().toMap == cm)
      assert(src.snapshot().as[(String, Long)].collect().toMap == sm)
      // Clone-of-clone keeps resolving (absolute pointers pass through).
      val c2 = c.shallowClone(dir + "/c2")
      assert(c2.snapshot().as[(String, Long)].collect().toMap == cm)
    } finally graft.core.TxTable.drop(dir)
  }

  test("TxTable fastForward: re-validates branch head against main's post-fork checks") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_ffcheck").toString
    try {
      val base = (0 until 10).map(i => f"K$i%02d" -> i.toLong)
      val t = graft.core.TxTable.create(spark, dir, base.toDF("k", "v"), Seq("k"), numBuckets = 4)
      val b = t.branch("wap")
      // The branch stages a row that is legal under ITS checks snapshot...
      b.merge(Seq("K03" -> 5000L).toDF("k", "v"))
      // ...then MAIN gains a constraint the branch never enforced.
      t.addCheck("v_cap", "v < 1000")
      val ex = intercept[IllegalArgumentException](t.fastForward("wap"))
      assert(ex.getMessage.contains("v_cap"), s"got: ${ex.getMessage}")
      assert(t.version == 0L, "refused publish must not advance main")
      // A compliant branch (same fork point) still publishes cleanly.
      t.dropBranch("wap")
      val ok = t.branch("wap2")
      ok.merge(Seq("K04" -> 999L).toDF("k", "v"))
      assert(t.fastForward("wap2") == 1L)
      assert(t.snapshot().as[(String, Long)].collect().toMap.apply("K04") == 999L)
    } finally graft.core.TxTable.drop(dir)
  }

  test("TxTable merge-on-read delete: tombstones only, CoW-equivalent, folds on merge/compact") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_mor").toString
    try {
      val base = (0 until 200).map(i => (f"k$i%03d", i.toLong))
      val t = graft.core.TxTable.create(spark, dir,
        base.toDF("k", "v"), Seq("k"), numBuckets = 8)
      // Delete three present keys and one absent one (tombstone no-op).
      val v1 = t.deleteMergeOnRead(Seq("k003", "k077", "k123", "zzz").toDF("k"))
      // PHYSICAL contract: no base pointer moved; >=1 bucket carries a DV.
      assert(t.dataPointers(0L) == t.dataPointers(v1), "MoR delete rewrote base data")
      assert(t.dvPointers(v1).exists(_._2.nonEmpty), "no deletion vector recorded")
      // LOGICAL contract: snapshot = base minus the present keys.
      val expect1 = base.toMap -- Seq("k003", "k077", "k123")
      assert(t.snapshot().as[(String, Long)].collect().toMap == expect1)
      // Time travel to the pre-delete version still sees every row.
      assert(t.snapshotAt(0L).as[(String, Long)].collect().toMap == base.toMap)
      // CDC across the DV version: exactly the three real deletes.
      val d = t.diff(0L, v1).collect()
      assert(d.forall(_.getString(0) == "delete"), s"non-delete in diff: ${d.toSeq}")
      assert(d.map(_.getString(1)).toSet == Set("k003", "k077", "k123"))
      // A copy-on-write MERGE of a DV'd bucket folds its tombstones: the
      // bucket k003 hashes into comes back clean, and the row reappears.
      val v2 = t.merge(Seq(("k003", 9999L)).toDF("k", "v"))
      val b3 = spark.range(1)
        .select(pmod(xxhash64(lit("k003")), lit(8)).as("b")).head().getLong(0)
      assert(t.dvPointers(v2)(b3).isEmpty, "merge did not fold the bucket's DV")
      assert(t.snapshot().as[(String, Long)].collect().toMap == (expect1 + ("k003" -> 9999L)))
      // compact() folds every remaining DV; data unchanged (empty diff).
      val v3 = t.compact()
      assert(t.dvPointers(v3).forall(_._2.isEmpty), "compaction left DVs behind")
      assert(t.diff(v2, v3).isEmpty, "compaction changed data")
      // Vacuum with full retention keeps DV dirs referenced by retained
      // manifests — the DV'd version must still replay exactly.
      t.vacuum(retainMs = 0L)
      assert(t.snapshotAt(v1).as[(String, Long)].collect().toMap == expect1,
        "vacuum reclaimed a live deletion vector")
    } finally graft.core.TxTable.drop(dir)
  }

  test("TxTable merge-on-read delete composes with widening schema evolution") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_mor_evo").toString
    try {
      val t = graft.core.TxTable.create(spark, dir,
        (0 until 40).map(i => (f"k$i%02d", i.toLong)).toDF("k", "v"), Seq("k"), numBuckets = 4)
      // Widen: merge rows carrying a new column (old buckets lack it).
      t.merge(Seq(("k01", 100L, "gold")).toDF("k", "v", "tier"))
      // MoR-delete keys living in PRE-evolution buckets; the DV read path
      // must conform those buckets to the widened schema while anti-joining.
      val v = t.deleteMergeOnRead(Seq("k02", "k03").toDF("k"))
      val snap = t.snapshot().as[(String, Long, Option[String])].collect()
        .map { case (k, vv, tier) => k -> ((vv, tier)) }.toMap
      assert(!snap.contains("k02") && !snap.contains("k03"))
      assert(snap("k01") == ((100L, Some("gold"))))
      assert(snap("k00") == ((0L, None)), "pre-evolution row lost its NULL-backed column")
      assert(snap.size == 38)
      // CDC across the delete carries the widened schema on both sides.
      val d = t.diff(v - 1, v)
      assert(d.columns.contains("old_tier") && d.collect().length == 2)
    } finally graft.core.TxTable.drop(dir)
  }

  test("TxTable CHECK constraints: violators rejected atomically, add-time validation, O(batch) cost") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_chk").toString
    try {
      val t = graft.core.TxTable.create(spark, dir,
        (0 until 20).map(i => (f"k$i%02d", i.toLong)).toDF("k", "v"), Seq("k"), numBuckets = 4)
      // Adding a check the EXISTING data violates must fail (induction base).
      intercept[IllegalArgumentException](t.addCheck("impossible", "v > 5"))
      assert(t.checks.isEmpty)
      t.addCheck("nonneg", "v >= 0")
      val v1 = t.merge(Seq(("k03", 100L)).toDF("k", "v"))
      // A violating merge throws and publishes NOTHING.
      intercept[IllegalArgumentException](t.merge(Seq(("k04", -1L)).toDF("k", "v")))
      assert(t.version == v1, "violating merge published a version")
      val snap = t.snapshot().as[(String, Long)].collect().toMap
      assert(snap("k03") == 100L && snap("k04") == 4L)
      // Deletes bypass validation (they only remove rows).
      t.delete(Seq("k05").toDF("k"))
      assert(!t.snapshot().as[(String, Long)].collect().toMap.contains("k05"))
    } finally graft.core.TxTable.drop(dir)
  }

  test("TxTable AS OF TIMESTAMP resolves the latest version published at or before the instant") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_asof").toString
    try {
      val t = graft.core.TxTable.create(spark, dir,
        Seq(("a", 1L)).toDF("k", "v"), Seq("k"), numBuckets = 2)
      t.merge(Seq(("a", 2L)).toDF("k", "v"))
      // Pin publication instants deterministically (mtime IS the clock).
      val now = System.currentTimeMillis()
      Files.setLastModifiedTime(
        Paths.get(dir, "_log", "v00000000.txt"), FileTime.fromMillis(now - 10000))
      Files.setLastModifiedTime(
        Paths.get(dir, "_log", "v00000001.txt"), FileTime.fromMillis(now - 5000))
      assert(t.versionAsOf(now) == 1L)
      assert(t.versionAsOf(now - 7000) == 0L)
      assert(t.snapshotAsOfTimestamp(now - 7000)
        .as[(String, Long)].collect().toSeq == Seq(("a", 1L)))
      assert(t.snapshotAsOfTimestamp(now)
        .as[(String, Long)].collect().toSeq == Seq(("a", 2L)))
      intercept[IllegalArgumentException](t.versionAsOf(now - 20000))
    } finally graft.core.TxTable.drop(dir)
  }

  test("TxTable fault injection: torn protocol states leave the table readable and writable") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_fault").toString
    import java.nio.file.{Files => F, Paths => P}
    try {
      val t = graft.core.TxTable.create(spark, dir,
        (0 until 20).map(i => f"K$i%02d" -> i.toLong).toDF("k", "v"),
        Seq("k"), numBuckets = 4)
      t.merge(Seq("K03" -> 30L).toDF("k", "v")) // v1
      val cleanRows = t.snapshot().collect().map(_.mkString("|")).sorted.toSeq

      // (1) ORPHAN COMMIT DIR — a writer died after writing data, before
      // publishing. Readers must not see its rows; vacuum reclaims it.
      val orphan = P.get(dir, "data", "t-deadbeef0001")
      F.createDirectories(orphan.resolve("_b=0"))
      Seq("ZZ-GHOST" -> -1L).toDF("k", "v")
        .write.mode("overwrite").parquet(orphan.resolve("_b=0").toString)
      assert(t.snapshot().collect().map(_.mkString("|")).sorted.toSeq == cleanRows,
        "orphan commit dir leaked into the snapshot")
      F.setLastModifiedTime(orphan,
        java.nio.file.attribute.FileTime.fromMillis(1L)) // age past retainMs
      assert(t.vacuum(retainMs = 0L) >= 1, "vacuum must reclaim the orphan dir")
      assert(!F.exists(orphan), "orphan dir survived vacuum")

      // (2) STALE TEMP MANIFEST — a writer died between materializing the
      // temp manifest and the atomic link. It is never a version, the next
      // writer is unhindered, and vacuum reclaims the file.
      val headBefore = t.version
      val tmp = P.get(dir, "_log", ".tmp-dead-writer")
      F.writeString(tmp, "#buckets=4\n#op=merge\n0\tt-deadbeef0002")
      assert(t.version == headBefore, "a temp manifest must never resolve as a version")
      val v2 = t.merge(Seq("K04" -> 40L).toDF("k", "v"))
      assert(v2 == headBefore + 1, "publish blocked by a stale temp manifest")
      F.setLastModifiedTime(tmp, java.nio.file.attribute.FileTime.fromMillis(1L))
      t.vacuum(retainMs = 0L)
      assert(!F.exists(tmp), "stale temp manifest survived vacuum")

      // (3) MISSING keys.txt SIDECAR — catalog resolution refuses loudly
      // with the remedy; the DSv2 keys option remains the fallback.
      val sidecar = P.get(dir, "_log", "keys.txt")
      val sidecarText = F.readString(sidecar)
      F.delete(sidecar)
      try {
        val wh = P.get(dir).getParent.toString
        val err = intercept[Exception] {
          graft.core.Session.withConf(spark,
              "spark.sql.catalog.gfault" -> classOf[graft.sources.GraftCatalog].getName,
              "spark.sql.catalog.gfault.warehouse" -> dir) {
            spark.sql(s"SELECT * FROM gfault.`$dir`").collect()
          }
        }
        assert(!err.getMessage.contains("NullPointer"),
          s"sidecar-less table must refuse with a clear message, got: ${err.getMessage}")
        val viaOption = spark.read.format("graft")
          .option("keys", "k").load(dir)
        assert(viaOption.count() == t.snapshot().count(),
          "explicit keys option must still read a sidecar-less table")
      } finally F.writeString(sidecar, sidecarText)

      // (4) VACUUM vs TIME TRAVEL at the retention boundary: retired
      // versions fail fast with the vacuumed message; the head stays
      // fully readable through and after the vacuum.
      val head = t.version
      t.vacuum(retainMs = 0L, keepVersions = 1)
      val gone = intercept[IllegalArgumentException] { t.snapshotAt(0L).collect() }
      assert(gone.getMessage.contains("vacuumed"),
        s"retired version must fail fast as vacuumed, got: ${gone.getMessage}")
      assert(t.version == head, "vacuum must never move the head")
      val survivors = t.snapshot().collect().map(_.mkString("|")).sorted
      assert(survivors.length == 20 && survivors.exists(_.startsWith("K04|40")),
        "head snapshot must replay fully after aggressive vacuum")
      // And the table stays WRITABLE: the protocol resumes cleanly.
      t.merge(Seq("K06" -> 60L).toDF("k", "v"))
      assert(t.snapshot().filter(col("k") === "K06").head().getLong(1) == 60L)
    } finally graft.core.TxTable.drop(dir)
  }

  test("TxTable vacuum at the default horizon after a trimmed vacuum keeps the snapshot") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_vac_trim").toString
    try {
      val t = graft.core.TxTable.create(spark, dir,
        Seq("K01" -> 1L, "K02" -> 2L).toDF("k", "v"), Seq("k"))
      t.merge(Seq("K02" -> 20L, "K03" -> 3L).toDF("k", "v"))
      t.merge(Seq("K04" -> 4L).toDF("k", "v"))
      def rows = t.snapshot().collect().map(_.mkString("|")).sorted.toSeq
      val before = rows
      // The trimmed call deletes the manifests below the head; the
      // default horizon must fold over the ones left, not from version 0.
      t.vacuum(retainMs = 0L, keepVersions = 1)
      t.vacuum(retainMs = 0L)
      assert(rows == before, "a vacuum changed the snapshot")
    } finally graft.core.TxTable.drop(dir)
  }

  test("TxTable vacuum reclaims loser/orphan dirs by manifest reachability; every retained version replays") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_vac").toString
    val dataDir = java.nio.file.Paths.get(dir, "data")
    def dataDirs = {
      val s = java.nio.file.Files.list(dataDir)
      try s.iterator().asScala.map(_.getFileName.toString).toSet
      finally s.close()
    }
    try {
      val t = graft.core.TxTable.create(spark, dir,
        (0 until 10).map(i => f"K$i%02d" -> i.toLong).toDF("k", "v"),
        Seq("k"), numBuckets = 4)
      t.merge(Seq("K03" -> 30L, "K99" -> 99L).toDF("k", "v"))
      t.merge(Seq("K05" -> 50L).toDF("k", "v"))
      // Forced commit race: two handles, two threads released together, each
      // merging a disjoint key. Whoever loses publish() rebases and commits
      // the next version; its first commit dir is then referenced by NO
      // manifest — exactly the on-disk state vacuum must reclaim. (If the
      // scheduler happens to serialize the threads no orphan arises — the
      // synthetic orphan below pins the reclaim path deterministically.)
      val h1 = graft.core.TxTable.open(spark, dir, Seq("k"))
      val h2 = graft.core.TxTable.open(spark, dir, Seq("k"))
      val gate = new java.util.concurrent.CountDownLatch(1)
      val th = Seq(h1 -> ("K01" -> 11L), h2 -> ("K02" -> 22L)).map { case (h, kv) =>
        val th = new Thread(() => { gate.await(); h.merge(Seq(kv).toDF("k", "v")); () })
        th.start(); th
      }
      gate.countDown(); th.foreach(_.join())
      assert(t.version == 4L, "both racing merges must commit (loser rebases)")
      // Synthetic orphan: byte-identical to a loser's leftover — a data dir
      // no manifest references.
      val aCommit = dataDirs.head
      def copyRec(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
        java.nio.file.Files.createDirectories(dst.getParent)
        if (java.nio.file.Files.isDirectory(src)) {
          java.nio.file.Files.createDirectories(dst)
          val s = java.nio.file.Files.list(src)
          try s.iterator().asScala.toList.foreach(c => copyRec(c, dst.resolve(c.getFileName)))
          finally s.close()
        } else java.nio.file.Files.copy(src, dst)
      }
      copyRec(dataDir.resolve(aCommit), dataDir.resolve("t-forcedloser0"))
      val preVacuum = (0L to t.version).map(v =>
        v -> t.snapshotAt(v).as[(String, Long)].collect().toMap).toMap
      val manifests = (0L to t.version).flatMap { v =>
        java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(dir, "_log", f"v$v%08d.txt")).asScala
          .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split('\t')(1))
      }.toSet
      val orphans = dataDirs -- manifests
      assert(orphans.contains("t-forcedloser0"))
      // Default horizon (all versions): reclaim EXACTLY the orphans.
      assert(t.vacuum(retainMs = 0) == orphans.size)
      assert(dataDirs == manifests, "post-vacuum data dirs = reachable set")
      (0L to t.version).foreach { v =>
        assert(t.snapshotAt(v).as[(String, Long)].collect().toMap == preVacuum(v),
          s"retained version $v must replay unchanged after vacuum")
      }
      // Trimmed horizon: old manifests go with their data; head still reads.
      t.vacuum(retainMs = 0, keepVersions = 2)
      assert(intercept[IllegalArgumentException](t.snapshotAt(0L))
        .getMessage.contains("vacuumed"))
      assert(t.snapshot().as[(String, Long)].collect().toMap == preVacuum(t.version))
    } finally graft.core.TxTable.drop(dir)
  }

  test("TxTable compact: layout-only — data identical, diff empty, history intact, files shrink") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_compact").toString
    try {
      val base = (0 until 40).map(i => f"K$i%02d" -> i.toLong)
      val t = graft.core.TxTable.create(spark, dir, base.toDF("k", "v"), Seq("k"), numBuckets = 8)
      // Fragment: three merges, each scattering touched buckets into a
      // fresh commit dir, written one row per file (a merge's write is
      // bucket-aligned, so only a file-size cap splits a bucket).
      graft.core.Session.withConf(spark, "spark.sql.files.maxRecordsPerFile" -> 1) {
        (1 to 3).foreach(i => t.merge(
          base.filter(_._1.endsWith(i.toString)).map { case (k, v) => (k, v + 100L * i) }.toDF("k", "v")))
      }
      val preV = t.version
      val pre = t.snapshot().as[(String, Long)].collect().toMap
      val (preCommits, preFiles) = t.layoutStats()
      assert(preCommits >= 4, s"three merges + create must scatter commits, got $preCommits")
      val postV = t.compact()
      assert(postV == preV + 1, "compaction publishes a new version")
      val (postCommits, postFiles) = t.layoutStats()
      assert(postCommits == 1, "every live bucket behind ONE commit dir")
      assert(postFiles <= 8, s"one file per bucket after compaction, got $postFiles")
      assert(postFiles < preFiles, s"file count must shrink: $preFiles -> $postFiles")
      assert(t.snapshot().as[(String, Long)].collect().toMap == pre, "data unchanged")
      assert(t.diff(preV, postV).count() == 0, "CDC across a compaction is empty")
      assert(t.snapshotAt(preV).as[(String, Long)].collect().toMap == pre,
        "pre-compaction time travel intact")
    } finally graft.core.TxTable.drop(dir)
  }

  test("TxTable writes are bucket-aligned: every data verb leaves one file per live (bucket × day) cell") {
    import spark.implicits._
    type Model = Map[String, (Long, String)] // k -> (v, day)
    def day(i: Int) = s"2024-01-0${i % 3 + 1}"
    def rows(m: Seq[(String, (Long, String))]) =
      m.map { case (k, (v, d)) => (k, v, d) }.toDF("k", "v", "ds")
        .withColumn("d", to_date(col("ds"))).drop("ds")
    def keys(ks: String*) = ks.toDF("k")
    def run(partitioned: Boolean): Unit = {
      val dir = java.nio.file.Files.createTempDirectory("graft_tx_aligned").toString
      try {
        var model: Model =
          (0 until 40).map(i => f"K$i%02d" -> (i.toLong, day(i))).toMap
        val t =
          if (!partitioned) graft.core.TxTable.create(spark, dir, rows(model.toSeq),
            Seq("k"), numBuckets = 8)
          else {
            val e = graft.core.TxTable.create(spark, dir, rows(Nil), Seq("k"), numBuckets = 8)
            e.setPartitioning("days(d)")
            e
          }
        def check(verb: String): Unit = {
          val snap = t.snapshot().select(col("k"), col("v"), col("d").cast("string"))
            .as[(String, Long, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
          assert(snap == model, s"$verb: snapshot diverged from the model")
          val cells = rows(model.toSeq)
            .select(pmod(xxhash64(col("k")), lit(8)).as("b"), col("d"))
          val liveBuckets = cells.select("b").distinct().count()
          assert(t.dataPointers(t.version).size == liveBuckets,
            s"$verb: manifest must hold exactly the live buckets")
          val expected = if (partitioned) cells.distinct().count() else liveBuckets
          assert(t.layoutStats()._2 == expected,
            s"$verb: ${t.layoutStats()._2} files, expected one per live cell ($expected)")
        }
        if (partitioned) t.merge(rows(model.toSeq))
        check("create")
        // merge: ten updates that move their rows to another day, five inserts.
        val mb = (0 until 10).map(i => f"K$i%02d" -> (i + 500L, day(i + 1))) ++
          (40 until 45).map(i => f"K$i%02d" -> (i.toLong, day(i)))
        t.merge(rows(mb)); model ++= mb
        check("merge")
        // mergeClauses: delete K13 (old v = 13), update where new_v > v,
        // insert unmatched rows with even v.
        val cb = (10 until 20).map(i =>
          f"K$i%02d" -> ((if (i % 2 == 0) 2000L + i else i - 100L), day(i))) ++
          (45 until 49).map(i => f"K$i%02d" -> (i.toLong, day(i)))
        t.mergeClauses(rows(cb), "new_v > v", "v = 13", "v % 2 = 0")
        cb.foreach { case (k, nv) =>
          model.get(k) match {
            case Some((13L, _)) => model -= k
            case Some(old) => if (nv._1 > old._1) model += k -> nv
            case None => if (nv._1 % 2 == 0) model += k -> nv
          }
        }
        check("mergeClauses")
        t.update("v > 1000", Map("v" -> "v + 1"))
        model = model.map { case (k, (v, d)) => k -> ((if (v > 1000) v + 1 else v), d) }
        check("update")
        t.deleteWhere("v % 5 = 0")
        model = model.filter(_._2._1 % 5 != 0)
        check("deleteWhere")
        val dk = (20 until 25).map(i => f"K$i%02d")
        t.delete(keys(dk: _*)); model --= dk
        check("delete")
        val ups = Seq("K25" -> (3025L, day(0)), "K26" -> (3026L, day(1)), "K60" -> (60L, day(2)))
        t.applyChanges(rows(ups), keys("K25", "K28", "K29"))
        model = model -- Seq("K28", "K29") ++ ups
        check("applyChanges")
        t.deleteMergeOnRead(keys("K31", "K32", "K33")); model --= Seq("K31", "K32", "K33")
        t.compactPartial()
        check("compactPartial")
        model = (100 until 130).map(i => s"K$i" -> (i.toLong, day(i))).toMap
        t.overwriteAll(rows(model.toSeq))
        check("overwriteAll")
      } finally graft.core.TxTable.drop(dir)
    }
    run(partitioned = false)
    run(partitioned = true)
  }

  test("TxTable restore: metadata-only rollback, schema reverts, history stays travelable") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_restore").toString
    try {
      val base = (0 until 20).map(i => f"K$i%02d" -> i.toLong)
      val t = graft.core.TxTable.create(spark, dir, base.toDF("k", "v"), Seq("k"), numBuckets = 8)
      val v0 = base.toMap
      // v1: widening bad write (new column + corrupted values).
      t.merge(base.take(5).map { case (k, _) => (k, -1L, "oops") }.toDF("k", "v", "extra"))
      val v1 = t.snapshot().as[(String, Long, String)].collect()
      val r = t.restore(0L)
      assert(r == 2L, "restore publishes a NEW head version")
      // Rollback semantics: head == v0, including the reverted schema.
      assert(t.snapshot().columns.toSeq == Seq("k", "v"), "schema reverts with the data")
      assert(t.snapshot().as[(String, Long)].collect().toMap == v0, "head equals restored version")
      // Metadata-only: every bucket re-points at v0's still-present dirs.
      assert(t.dataPointers(r) == t.dataPointers(0L), "restore must not copy data")
      // Forensics: the bad version still reconstructs exactly.
      assert(t.snapshotAt(1L).as[(String, Long, String)].collect().sorted
        .sameElements(v1.sorted), "bad version remains time-travelable")
      // Restore composes with later writes: merge on the restored head.
      t.merge(Seq("K00" -> 777L).toDF("k", "v"))
      assert(t.snapshot().as[(String, Long)].collect().toMap == v0 + ("K00" -> 777L))
    } finally graft.core.TxTable.drop(dir)
  }

  test("TxTable rebucket: layout evolves per manifest, writers follow, history replays") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_rebucket").toString
    try {
      val base = (0 until 40).map(i => f"K$i%02d" -> i.toLong)
      val t = graft.core.TxTable.create(spark, dir, base.toDF("k", "v"), Seq("k"), numBuckets = 4)
      t.merge(Seq("K05" -> 500L).toDF("k", "v"))                    // v1 under 4 buckets
      val preRebucket = t.snapshot().as[(String, Long)].collect().toMap
      val rv = t.compact(newBuckets = 16)                           // v2: layout 4 -> 16
      assert(t.bucketCountAt(rv) == 16 && t.bucketCountAt(0L) == 4,
        "each manifest records its own layout")
      assert(t.snapshot().as[(String, Long)].collect().toMap == preRebucket,
        "rebucket is layout-only")
      // A merge AFTER the rebucket must hash under the NEW count: its key
      // lands in a bucket id >= 4 only if the new layout is in effect, and
      // the lookup path (which reads the count from the manifest) finds it.
      t.merge(Seq("K05" -> 999L).toDF("k", "v"))                    // v3 under 16 buckets
      val hit = t.lookup(Seq(Tuple1("K05")).toDF("k")).as[(String, Long)].collect()
      assert(hit.toSeq == Seq("K05" -> 999L), "post-rebucket merge found by pruned lookup")
      assert(t.lookupBuckets(Seq(Tuple1("K05")).toDF("k")).size == 1,
        "single-key lookup reads one bucket")
      // Pre-rebucket versions still replay under their own recorded layout.
      assert(t.snapshotAt(1L).as[(String, Long)].collect().toMap == preRebucket,
        "time travel across a layout change")
      // Lookup misses cost nothing semantically: absent key, empty result.
      assert(t.lookup(Seq(Tuple1("ZZ")).toDF("k")).isEmpty)
    } finally graft.core.TxTable.drop(dir)
  }

  test("TxTable branches: isolation, fast-forward publish, vacuum safety, non-FF rejection") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_branch").toString
    try {
      val base = (0 until 30).map(i => f"K$i%02d" -> i.toLong)
      val t = graft.core.TxTable.create(spark, dir, base.toDF("k", "v"), Seq("k"), numBuckets = 4)
      val b = t.branch("wap")
      b.merge(Seq("K03" -> 300L, "ZZ" -> -1L).toDF("k", "v"))
      b.merge(Seq("K07" -> 700L).toDF("k", "v"))
      // Isolation: two branch commits, main head and snapshot untouched.
      assert(t.version == 0L && b.version == 2L)
      assert(t.snapshot().as[(String, Long)].collect().toMap == base.toMap)
      // Vacuum on main must NOT reclaim branch-only commit dirs.
      t.vacuum(retainMs = 0L)
      assert(b.snapshot().filter($"k" === "K03").as[(String, Long)].head() == ("K03" -> 300L),
        "branch state survives a main vacuum")
      // Publish: branch commits collapse into ONE main version.
      val v = t.fastForward("wap")
      assert(v == 1L)
      val after = t.snapshot().as[(String, Long)].collect().toMap
      assert(after("K03") == 300L && after("K07") == 700L && after("ZZ") == -1L)
      assert(t.snapshotAt(0L).as[(String, Long)].collect().toMap == base.toMap,
        "pre-publish main state stays time-travelable")
      // Non-fast-forward: a branch forked at v1, then main advances — the
      // stale branch must be rejected, not silently drop main's commit.
      val stale = t.branch("stale")
      stale.merge(Seq("K09" -> 900L).toDF("k", "v"))
      t.merge(Seq("K11" -> 1100L).toDF("k", "v")) // main moves to v2
      val ex = intercept[IllegalArgumentException](t.fastForward("stale"))
      assert(ex.getMessage.contains("non-fast-forward"))
      // Dropping the branch makes its commits unreachable -> vacuumable.
      t.dropBranch("stale")
      assert(t.vacuum(retainMs = 0L) >= 1, "dropped branch's commits reclaimed")
      assert(t.snapshot().as[(String, Long)].collect().toMap.apply("K11") == 1100L)
    } finally graft.core.TxTable.drop(dir)
  }

  test("TxTable branch, shallowClone and fastForward carry the widen record: widened eras read like main") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_widenfork").toString
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(df.columns.sorted.map(col): _*).collect().map(_.mkString("|")).sorted.toSeq
    def viaGraft(path: String): Seq[String] =
      rows(spark.read.format("graft").load(path))
    try {
      val base = (0 until 40).map(i => f"K$i%02d" -> i).toDF("k", "qty")
      // Widen, then a post-widen commit (BIGINT files beside INT ones),
      // then a defaulted add — the read takes the per-file merging path.
      val t = graft.core.TxTable.create(spark, s"$dir/main", base, Seq("k"), numBuckets = 4)
      t.widenColumn("qty", "BIGINT")
      t.merge(Seq("K01" -> 5000000000L).toDF("k", "qty"))
      t.addColumn("tier", "STRING", "'std'")
      val expected = rows(t.snapshot())
      assert(expected.size == 40 && expected.contains("K01|5000000000|std"))
      assert(viaGraft(s"$dir/main") == expected)
      val b = t.branch("audit")
      assert(rows(b.snapshot()) == expected, "branch of a widened table reads differently")
      val c = t.shallowClone(s"$dir/clone")
      assert(rows(c.snapshot()) == expected, "clone of a widened table reads differently")
      assert(viaGraft(s"$dir/clone") == expected)

      // A widen staged on a branch publishes with it.
      val t2 = graft.core.TxTable.create(spark, s"$dir/ff", base, Seq("k"), numBuckets = 4)
      val staged = t2.branch("wid")
      staged.widenColumn("qty", "BIGINT")
      staged.merge(Seq("K02" -> 6000000000L).toDF("k", "qty"))
      staged.addColumn("tier", "STRING", "'std'")
      val branchHead = rows(staged.snapshot())
      assert(branchHead.contains("K02|6000000000|std"))
      t2.fastForward("wid")
      assert(rows(t2.snapshot()) == branchHead, "fastForward dropped the branch's widen")
      assert(viaGraft(s"$dir/ff") == branchHead)
    } finally graft.core.TxTable.drop(dir)
  }

  test("TxTable branch and shallowClone of a row-tracked table never reissue a row id") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_ridfork").toString
    try {
      val t = graft.core.TxTable.create(spark, s"$dir/main",
        (0 until 10).map(i => s"k$i" -> i.toLong).toDF("k", "v"), Seq("k"),
        numBuckets = 2, rowTracking = true)
      // The fork's v0 carries the source's high-water mark, so its first
      // inserts draw ids above every id the source ever assigned.
      val b = t.branch("x")
      b.merge(Seq("new1" -> 1L, "new2" -> 2L).toDF("k", "v"))
      val c = t.shallowClone(s"$dir/clone")
      c.merge(Seq("new3" -> 3L).toDF("k", "v"))
      Seq(b, c).foreach { f =>
        val ids = f.snapshot().select(graft.core.TxTable.RidCol).as[Long].collect().toSeq
        assert(ids.distinct.size == ids.size, s"reissued row ids: ${ids.sorted}")
        assert(f.ridHwmAt(0L) == t.ridHwmAt(0L))
      }
    } finally graft.core.TxTable.drop(dir)
  }

  test("TxTable version record is readable the instant its manifest is claimed") {
    import spark.implicits._
    import graft.core.TxTable
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_record").toString
    // A reader on a fresh handle, run right after each successful claim of
    // a manifest `v*.txt` of this table: it must already see the version's
    // schema and defaults, not an older record or none.
    val seen = scala.collection.mutable.Map
      .empty[Long, scala.util.Try[(org.apache.spark.sql.types.StructType, Map[String, String])]]
    val link = TxTable.commitPrimitive
    TxTable.commitPrimitive = new TxTable.CommitPrimitive {
      def putIfAbsent(target: java.nio.file.Path, tmp: java.nio.file.Path): Boolean = {
        val won = link.putIfAbsent(target, tmp)
        val name = target.getFileName.toString
        if (won && target.getParent == java.nio.file.Paths.get(dir, "_log") &&
            name.matches("v\\d+\\.txt")) {
          val v = name.stripPrefix("v").stripSuffix(".txt").toLong
          seen(v) = scala.util.Try {
            val r = TxTable.open(spark, dir, Seq("k"))
            (r.schemaAt(v), r.defaultsAt(v))
          }
        }
        won
      }
    }
    try {
      // A default holding a tab, a newline, a comma and a backslash must
      // survive the manifest's line format.
      val awkward = "'tab\there, comma\nline \\\\ end'"
      val t = TxTable.create(spark, dir, Seq("a" -> 1, "b" -> 2).toDF("k", "n"), Seq("k"),
        numBuckets = 2)
      t.merge(Seq(("c", 3, "hi")).toDF("k", "n", "note")) // widening merge: v1
      t.addColumn("tier", "STRING", awkward) // v2
      TxTable.commitPrimitive = link
      def fields(v: Long) = seen(v).get._1.fieldNames.toSeq
      assert(fields(0L) == Seq("k", "n"), s"v0 at claim: ${seen(0L)}")
      assert(fields(1L) == Seq("k", "n", "note"), s"v1 at claim: ${seen(1L)}")
      assert(fields(2L) == Seq("k", "n", "note", "tier"), s"v2 at claim: ${seen(2L)}")
      assert(seen(2L).get._2 == Map("tier" -> awkward))
      (0L to 2L).foreach(v => assert(seen(v).get == ((t.schemaAt(v), t.defaultsAt(v)))))
      assert(t.snapshot().filter($"k" === "a").select("tier").as[String].head() ==
        "tab\there, comma\nline \\ end")
    } finally {
      TxTable.commitPrimitive = link
      TxTable.drop(dir)
    }
  }

  test("TxCatalog: cross-table atomicity, disjoint-race merge, same-table conflict") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_catalog").toString
    try {
      val a = graft.core.TxTable.create(spark, dir + "/a",
        Seq("K1" -> 1L).toDF("k", "v"), Seq("k"), numBuckets = 2)
      val b = graft.core.TxTable.create(spark, dir + "/b",
        Seq("K1" -> 10L).toDF("k", "v"), Seq("k"), numBuckets = 2)
      val cat = graft.core.TxCatalog.create(spark, dir, Map("a" -> 0L, "b" -> 0L))
      // Table logs advance; catalog still pins the old consistent pair.
      val va = a.merge(Seq("K1" -> 2L).toDF("k", "v"))
      val vb = b.merge(Seq("K1" -> 20L).toDF("k", "v"))
      val pre = cat.refsHead
      assert(a.snapshotAt(pre("a")).as[(String, Long)].head() == ("K1" -> 1L))
      assert(b.snapshotAt(pre("b")).as[(String, Long)].head() == ("K1" -> 10L))
      val cv = cat.commit(Map("a" -> va, "b" -> vb))
      assert(cat.refs(cv) == Map("a" -> va, "b" -> vb))
      // Disjoint-table committers built against the same head both land.
      assert(cat.commit(Map("a" -> 2L)) == cv + 1)
      // A committer whose READ SET is stale — it staged against a=va but
      // the ref has since moved to 2 — must be refused, not overwrite.
      val exp = intercept[IllegalArgumentException](
        cat.commit(Map("a" -> 9L), expect = Map("a" -> va)))
      assert(exp.getMessage.contains("conflict"))
      // And a current read set commits fine after re-staging.
      assert(cat.commit(Map("a" -> 3L), expect = Map("a" -> 2L)) == cv + 2)
      // Genuinely concurrent committers on DISJOINT tables: both must
      // land through the publish-race retry loop, neither clobbering.
      val head = cat.version
      val t1 = new Thread(() => cat.commit(Map("a" -> 7L)))
      val t2 = new Thread(() => cat.commit(Map("b" -> 8L)))
      t1.start(); t2.start(); t1.join(); t2.join()
      assert(cat.version == head + 2)
      assert(cat.refsHead == Map("a" -> 7L, "b" -> 8L),
        s"lost update: ${cat.refsHead}")
    } finally graft.core.TxTable.drop(dir)
  }

  test("TxTable diff is a faithful changelog: applying diff(a,b) to version a yields version b") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_diff").toString
    try {
      val t = graft.core.TxTable.create(spark, dir,
        (0 until 10).map(i => f"K$i%02d" -> i.toLong).toDF("k", "v"),
        Seq("k"), numBuckets = 8)
      t.merge(Seq("K03" -> 300L, "K20" -> 200L).toDF("k", "v"))   // v1: upd + ins
      t.delete(Seq("K05", "K20").map(Tuple1(_)).toDF("k"))        // v2: two dels
      t.merge(Seq("K05" -> 555L, "K03" -> 300L).toDF("k", "v"))   // v3: re-ins + NO-OP upd
      val vMax = t.version
      for (a <- 0L until vMax; b <- (a + 1) to vMax) {
        val changes = t.diff(a, b).collect()
        changes.foreach { r =>
          (r.getString(0): @unchecked) match {
            case "insert" => assert(r.isNullAt(2) && !r.isNullAt(3), s"$r")
            case "delete" => assert(!r.isNullAt(2) && r.isNullAt(3), s"$r")
            case "update" => assert(r.getLong(2) != r.getLong(3), s"no-op update leaked: $r")
          }
        }
        val before = t.snapshotAt(a).as[(String, Long)].collect().toMap
        val after = t.snapshotAt(b).as[(String, Long)].collect().toMap
        val replayed = changes.foldLeft(before) { (m, r) =>
          if (r.getString(0) == "delete") m - r.getString(1)
          else m + (r.getString(1) -> r.getLong(3))
        }
        assert(replayed == after, s"diff($a,$b) does not replay")
      }
      // the K03->300 re-merge at v3 touched its bucket but changed nothing:
      // the value filter must suppress it.
      assert(!t.diff(2L, 3L).collect().exists(_.getString(1) == "K03"),
        "unchanged row from a rewritten bucket leaked into the diff")
    } finally graft.core.TxTable.drop(dir)
  }

  test("semi-join house counts sum to the matched name-set size (randomized)") {
    samples(friendSetGen, 5).filter(_.nonEmpty).foreach { keys =>
      val total = GraphOps.semiHouseCounts(spark, sf, keys)
        .agg(sum("cnt")).collect()(0).getLong(0)
      val existing = Graph.nodes(spark, sf)
        .filter(col("nid").isin(keys: _*)).count()
      assert(total == existing, s"keys=$keys")
    }
  }

  test("cluster-on-write survives rename gracefully: clustering stops, data stays exact") {
    import graft.core.TxTable
    val dir = java.nio.file.Files.createTempDirectory("graft_prop_clw").toString
    try {
      val base = Graph.nodes(spark, sf)
        .filter(col("name") <= "Customer#000000099")
        .select(col("name"), col("acctbal"))
      val t = TxTable.create(spark, dir, base, Seq("name"), numBuckets = 4,
        clusterCols = Seq("acctbal"))
      // Rename orphans the cluster record (same documented semantics as
      // bloom.txt): subsequent writes must neither fail nor mis-sort —
      // the declared name is simply absent from the frame and skipped.
      t.renameColumn("acctbal", "balance")
      assert(t.clusterColumns == Seq("acctbal"), "record keeps the stale name")
      t.merge(t.snapshot().filter(col("name").endsWith("3"))
        .withColumn("balance", col("balance") + 1))
      val got = t.snapshot().filter(col("name").endsWith("3"))
        .orderBy("name").collect().map(r => r.getDouble(1)).toSeq
      val want = base.filter(col("name").endsWith("3"))
        .orderBy("name").collect().map(r => r.getDouble(1) + 1).toSeq
      assert(got == want, "merge after rename lost the update")
      // Re-declaring under the new name resumes clustering.
      t.setClusterColumns(Seq("balance"))
      t.merge(t.snapshot().limit(1))
      assert(t.clusterColumns == Seq("balance"))
      // Column-name format guards refuse CSV-corrupting names loudly.
      intercept[IllegalArgumentException] { t.setClusterColumns(Seq("a,b")) }
      intercept[IllegalArgumentException] { t.setBloomColumns(Seq("a\nb")) }
    } finally TxTable.drop(dir)
  }

  test("shard packing conserves items and bytes for arbitrary budgets (randomized)") {
    val m = graft.ops.MultimodalOps.mediaTable(spark, sf)
      .select(col("meta.format").as("format"),
        length(col("content")).cast("long").as("n_bytes"))
      .groupBy("format")
      .agg(count(lit(1)).as("n"), sum("n_bytes").as("bytes"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    samples(Gen.chooseNum(256L, 65536L), 6).foreach { target =>
      val shards = graft.ops.MultimodalOps.shardManifest(spark, sf, target).collect()
      // conservation: every item and byte lands in exactly one shard,
      // whatever the budget
      val byFmt = shards.groupBy(_.getString(0))
      assert(byFmt.keySet == m.keySet, s"target=$target")
      byFmt.foreach { case (fmt, ss) =>
        assert(ss.map(_.getAs[Long]("n_items")).sum == m(fmt)._1, s"$fmt@$target")
        assert(ss.map(_.getAs[Long]("total_bytes")).sum == m(fmt)._2, s"$fmt@$target")
        // budget law: every non-final shard closes only after crossing the
        // target, so shard count is at most ceil(bytes/target) + 1 slack
        assert(ss.length <= (m(fmt)._2 / target + 2).toInt, s"$fmt@$target")
      }
    }
  }
}
