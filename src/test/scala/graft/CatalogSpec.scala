package graft

import graft.core.{Graph, TxTable}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The GraftCatalog plugin: multi-part SQL identifiers over
  * self-describing TxTable directories, read-only DDL stance, and the
  * FunctionCatalog-backed bucket function that unlocks
  * storage-partitioned (zero-shuffle) joins between co-bucketed tables. */
class CatalogSpec extends AnyFunSuite {
  import TestSpark._

  // The session CACHES catalog instances by name at first use, so each
  // test registers its own catalog name bound to its own warehouse.
  private var seq = 0
  private def withCatalog[A](f: (String, String) => A): A = {
    val wh = java.nio.file.Files.createTempDirectory("graft_cat_wh").toString
    seq += 1
    val cat = s"gcat$seq"
    try graft.core.Session.withConf(spark,
      s"spark.sql.catalog.$cat" -> classOf[graft.sources.GraftCatalog].getName,
      s"spark.sql.catalog.$cat.warehouse" -> wh)(f(cat, wh))
    finally TxTable.drop(wh)
  }

  private def makeTable(wh: String, name: String, even: Boolean): TxTable = {
    val base = Graph.nodes(spark, sf)
      .filter(col("name") <= "Customer#000000199")
      .filter(if (even) col("nid") % 2 === 0 else lit(true))
      .select(col("name"), col("acctbal"))
    TxTable.create(spark, s"$wh/$name", base, Seq("name"), numBuckets = 8)
  }

  test("SHOW TBLPROPERTIES surfaces the layout metadata") {
    withCatalog { (cat, wh) =>
      val base = Graph.nodes(spark, sf)
        .filter(col("name") <= "Customer#000000199")
        // (not "token": Spark's SHOW TBLPROPERTIES redacts any property
        // whose value matches its secret regex — (?i)token|secret|…)
        .select(col("name"), col("acctbal"), md5(col("name")).as("digest"),
          // Real DATE source: setPartitioning validates column existence
          // and type at declare time (a typo'd spec used to no-op).
          to_date(lit("2024-01-01")).as("ingested"))
      val pt = TxTable.create(spark, s"$wh/props", base, Seq("name"), numBuckets = 8,
        bloomCols = Seq("digest"), clusterCols = Seq("acctbal"),
        zoneMapCols = Seq("acctbal"))
      pt.setPartitioning("days(ingested)") // applies to future commits
      val props = spark.sql(s"SHOW TBLPROPERTIES $cat.props")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(props.get("merge-keys").contains("name"), props.toString)
      assert(props.get("buckets").contains("8"), props.toString)
      assert(props.get("bloom-columns").contains("digest"), props.toString)
      assert(props.get("bloom-index-bits")
        .contains(TxTable.DefaultBloomIndexBits.toString), props.toString)
      assert(props.get("cluster-columns").contains("acctbal"), props.toString)
      assert(props.get("zonemap-columns").contains("acctbal"), props.toString)
      assert(props.get("partition-spec").contains("days(ingested)"), props.toString)
      assert(props.get("version").contains("0"), props.toString)
    }
  }

  test("multi-part identifiers resolve self-describing tables; DDL refuses") {
    withCatalog { (cat, wh) =>
      val t = makeTable(wh, "customers", even = false)
      val viaSql = spark.sql(s"SELECT name, acctbal FROM $cat.customers ORDER BY name")
      assert(viaSql.count() == t.snapshot().count(),
        "catalog identifier must serve the full snapshot")
      assert(spark.sql(
        s"SELECT acctbal FROM $cat.customers WHERE name = 'Customer#000000002'")
        .count() == 1, "catalog point read lost the row")
      // Read-only stance: DDL points at the transactional protocol.
      val e = intercept[Exception] {
        spark.sql(s"DROP TABLE $cat.customers")
      }
      assert(e.getMessage.contains("read-only"), s"unexpected: ${e.getMessage}")
      // listTables sees the directory.
      assert(spark.sql(s"SHOW TABLES IN $cat").collect()
        .map(_.getString(1)).contains("customers"))
    }
  }

  test("identifiers cannot escape the warehouse root") {
    withCatalog { (cat, wh) =>
      // A TxTable OUTSIDE the warehouse that a traversal would reach.
      val outside = java.nio.file.Files.createTempDirectory("graft_cat_outside")
      val victim = makeTable(outside.toString, "victim", even = false)
      try {
        val leaf = java.nio.file.Paths.get(outside.toString).getFileName
        val e = intercept[Exception] {
          spark.sql(s"SELECT * FROM $cat.`..`.`$leaf`.victim").collect()
        }
        assert(e.getMessage.contains("invalid identifier part") ||
          e.getMessage.contains("escapes the warehouse root") ||
          e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"),
          s"traversal was not rejected: ${e.getMessage}")
      } finally TxTable.drop(s"$outside/victim")
    }
  }

  test("SQL DELETE reaches deleteWhere; untranslatable predicates refuse; no-WHERE truncates") {
    withCatalog { (cat, wh) =>
      val base = Graph.nodes(spark, sf)
        .filter(col("name") <= "Customer#000000199")
        .select(col("name"), col("house"), col("acctbal"))
      val t = TxTable.create(spark, s"$wh/facts", base, Seq("name"), numBuckets = 8)
      val twin = TxTable.create(spark, s"$wh/twin", base, Seq("name"), numBuckets = 8)

      // Typed literals survive the SQL round-trip: string + numeric range.
      val predSql = "house = 'BUILDING' OR acctbal < 0"
      spark.sql(s"DELETE FROM $cat.facts WHERE house = 'BUILDING' OR acctbal < 0")
      twin.deleteWhere(predSql)
      assert(t.snapshot().exceptAll(twin.snapshot()).isEmpty &&
        twin.snapshot().exceptAll(t.snapshot()).isEmpty,
        "SQL DELETE diverged from the native verb")
      assert(t.snapshot().filter(expr(predSql)).count() == 0)
      assert(t.snapshot().count() > 0, "class delete emptied the table")

      // NULL-predicate three-valued logic matches SQL: <> keeps only
      // provably-unequal rows; rows where the comparison is UNKNOWN stay.
      val beforeNeq = t.snapshot().count()
      spark.sql(s"DELETE FROM $cat.facts WHERE name <> 'Customer#000000002'")
      val afterNeq = t.snapshot().collect()
      assert(afterNeq.map(_.getString(0)).toSeq == Seq("Customer#000000002"),
        s"<> delete kept wrong rows (before=$beforeNeq)")

      // Untranslatable predicate (no source-filter form): Spark refuses
      // with an analysis error and NOTHING publishes.
      val vBefore = t.version
      val err = intercept[Exception] {
        spark.sql(s"DELETE FROM $cat.facts WHERE length(name) > 3")
      }
      assert(t.version == vBefore,
        s"refused DELETE still published (error was: ${err.getMessage})")

      // WHERE-less DELETE = truncation (AlwaysTrue through canDeleteWhere).
      spark.sql(s"DELETE FROM $cat.twin")
      assert(twin.snapshot().count() == 0, "truncating DELETE left rows")

      // String escaping round-trips: a key with quote and backslash.
      import spark.implicits._
      val tricky = Seq(("it's a \\ path", "H1", 1.0), ("plain", "H2", 2.0))
        .toDF("name", "house", "acctbal")
      val tt = TxTable.create(spark, s"$wh/tricky", tricky, Seq("name"), numBuckets = 2)
      spark.sql(s"DELETE FROM $cat.tricky WHERE name = 'it\\'s a \\\\ path'")
      assert(tt.snapshot().collect().map(_.getString(0)).toSeq == Seq("plain"),
        "escaped-literal DELETE missed or overshot")
    }
  }

  test("SQL INSERT merges by key; OVERWRITE is one atomic commit; row ids stay engine-owned") {
    import spark.implicits._
    withCatalog { (cat, wh) =>
      val t = graft.core.TxTable.create(spark,
        s"$wh/rt", Seq(("A", 1L), ("B", 2L)).toDF("k", "v"),
        Seq("k"), numBuckets = 2, rowTracking = true)
      val rid = graft.core.TxTable.RidCol
      val before = t.snapshot().select(col("k"), col(rid))
        .as[(String, Long)].collect().toMap
      // A user-supplied id must be IGNORED (engine-owned): the matched
      // key keeps its original id, the new key draws a fresh one — never
      // the forged literal.
      spark.sql(s"INSERT INTO $cat.rt VALUES ('A', 10, 999999), ('C', 3, 999999)")
      val after = t.snapshot().select(col("k"), col("v"), col(rid))
        .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      assert(after("A") == ((10L, before("A"))), "matched key must keep id and take the new value")
      assert(after("C")._2 != 999999L && !before.values.toSet.contains(after("C")._2),
        "inserted key must draw a fresh engine id, not the forged one")
      // OVERWRITE: one version, all-new lineage, history travelable.
      val v1 = t.version
      spark.sql(s"INSERT OVERWRITE $cat.rt VALUES ('A', 99, NULL), ('Z', 1, NULL)")
      assert(t.version == v1 + 1, "overwrite must publish exactly one version")
      val ov = t.snapshot().select(col("k"), col(rid)).as[(String, Long)].collect().toMap
      assert(ov.keySet == Set("A", "Z") && ov.values.toSeq.distinct.size == 2)
      assert(ov("A") != before("A"),
        "overwrite ends every row's lineage — even a re-appearing key is a new row")
      assert(t.snapshotAt(v1).count() == 3, "pre-overwrite version must stay readable")
    }
  }

  test("row-level SQL DML replaces WHOLE buckets: no carryover loss through finer pruning tiers") {
    import spark.implicits._
    withCatalog { (cat, wh) =>
      // Sorted layout + tiny row groups + per-bucket file splits: every
      // finer-than-bucket skipping tier (zone-map file pruning, parquet
      // row-group skip) would fire on the pushed UPDATE condition — and
      // each one would silently DROP carryover rows if the row-level
      // scan used it (caught live: a 130-row bucket rewrote to 22).
      graft.core.Session.withConf(spark,
          "parquet.block.size" -> 8 * 1024, "parquet.page.size" -> 2 * 1024) {
        val base = (0 until 4000)
          .map(i => (f"K$i%04d", i.toLong)).toDF("k", "v")
        val t = TxTable.create(spark, s"$wh/g", base, Seq("k"),
          numBuckets = 4, zoneMapCols = Seq("v"))
        graft.core.Session.withConf(spark, "spark.sql.files.maxRecordsPerFile" -> 250) {
          t.compact(0, Seq("v"))
        }
        val v0 = t.version
        spark.sql(s"UPDATE $cat.g SET v = v + 1000000 WHERE v = 77")
        assert(t.snapshot().count() == 4000,
          "row-level rewrite lost carryover rows — a finer-than-bucket " +
            "pruning tier fired inside a surviving group")
        assert(t.snapshot().filter(col("k") === "K0077").head.getLong(1) == 1000077)
        val untouched = t.dataPointers(v0).toSet
          .intersect(t.dataPointers(t.version).toSet).size
        assert(untouched == 3, s"point update must re-point ONE bucket, kept $untouched")
        // Byte-exact carryover: everything except the updated key.
        val expect = base.filter(col("k") =!= "K0077")
          .collect().map(_.mkString("|")).sorted.toSeq
        val got = t.snapshot().filter(col("k") =!= "K0077")
          .collect().map(_.mkString("|")).sorted.toSeq
        assert(got == expect, "carryover rows must be byte-identical")
        // A NOT-MATCHED insert lands in a bucket the group scan never
        // planned — the commit must CARRY that bucket's existing rows,
        // not wipe them with a pointer holding only the insert (caught
        // live: MERGE dropped 10 rows of the insert key's bucket).
        Seq(("ZZZZ", -1L)).toDF("k", "v").createOrReplaceTempView("ins_src")
        spark.sql(s"MERGE INTO $cat.g t USING ins_src s ON t.k = s.k " +
          "WHEN NOT MATCHED THEN INSERT *")
        assert(t.snapshot().count() == 4001,
          "insert-only bucket lost its carried-over rows")
        assert(t.snapshot().filter(col("k") === "ZZZZ").count() == 1)
        val expect2 = base.filter(col("k") =!= "K0077")
          .collect().map(_.mkString("|")).sorted.toSeq
        assert(t.snapshot().filter(col("k") =!= "K0077" && col("k") =!= "ZZZZ")
          .collect().map(_.mkString("|")).sorted.toSeq == expect2,
          "carryover after MERGE insert must stay byte-identical")
        // MERGE INTO stays refused on row-tracked tables; UPDATE works.
        val rt = TxTable.create(spark, s"$wh/rt2",
          Seq(("A", 1L)).toDF("k", "v"), Seq("k"), numBuckets = 2,
          rowTracking = true)
        Seq(("A", 5L)).toDF("k", "v").createOrReplaceTempView("rlo_src")
        val refused = intercept[Exception] {
          spark.sql(s"MERGE INTO $cat.rt2 t USING rlo_src s ON t.k = s.k " +
            "WHEN MATCHED THEN UPDATE SET t.v = s.v")
        }
        assert(refused.getMessage.contains("row-tracked"))
        val ridBefore = rt.snapshot().select(TxTable.RidCol).head.getLong(0)
        spark.sql(s"UPDATE $cat.rt2 SET v = 9 WHERE k = 'A'")
        val row = rt.snapshot().select(col("v"), col(TxTable.RidCol)).head
        assert(row.getLong(0) == 9L && row.getLong(1) == ridBefore,
          "SQL UPDATE on a row-tracked table must preserve the row id")
      }
    }
  }

  test("storage-partitioned join: co-bucketed tables join with ZERO shuffle") {
    withCatalog { (cat, wh) =>
      val ta = makeTable(wh, "a", even = false)
      val tb = makeTable(wh, "b", even = true)
      graft.core.Session.withConf(spark,
          "spark.sql.sources.v2.bucketing.enabled" -> true,
          "spark.sql.autoBroadcastJoinThreshold" -> -1) {
        val joined = spark.sql(
          s"""SELECT a.name, a.acctbal AS ba, b.acctbal AS bb
            |FROM $cat.a a JOIN $cat.b b ON a.name = b.name""".stripMargin)
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"co-bucketed key join must be storage-partitioned (no shuffle); got:\n$plan")
        // And the zipped join is CORRECT: equals the plain DataFrame join.
        val expected = ta.snapshot().select("name").intersect(
          tb.snapshot().select("name")).count()
        assert(joined.count() == expected, "storage-partitioned join lost rows")
      }
    }
  }

  test("composite-key tables storage-partition-join with ZERO shuffle too") {
    withCatalog { (cat, wh) =>
      // Two-key merge keys hit Spark's hard one-reference SPJ transform
      // limit (KeyGroupedPartitioning.supportsExpressions), so the
      // connector serves the bucket id as the `_graft_bucket` METADATA
      // column (a free per-partition constant) and reports
      // identity(_graft_bucket) partitioning when it's referenced. The
      // zero-shuffle recipe for composite keys: add the implied
      // `a._graft_bucket = b._graft_bucket` join term (bucket is a pure
      // function of the merge keys, so it never changes the result) and
      // relax requireAllClusterKeysForCoPartition — safe here because
      // the bucket column alone fully DETERMINES the partition.
      def make(name: String, even: Boolean): TxTable = {
        val base = Graph.nodes(spark, sf)
          .filter(col("name") <= "Customer#000000199")
          .filter(if (even) col("nid") % 2 === 0 else lit(true))
          .select(col("name"), col("house"), col("acctbal"))
        TxTable.create(spark, s"$wh/$name", base, Seq("name", "house"), numBuckets = 8)
      }
      val ta = make("ca", even = false)
      val tb = make("cb", even = true)
      graft.core.Session.withConf(spark,
          "spark.sql.sources.v2.bucketing.enabled" -> true,
          "spark.sql.autoBroadcastJoinThreshold" -> -1,
          "spark.sql.requireAllClusterKeysForCoPartition" -> false) {
        // The metadata column: hidden from SELECT *, explicitly
        // selectable, bit-exact with the write path's bucket hash.
        assert(!spark.sql(s"SELECT * FROM $cat.ca").columns.contains("_graft_bucket"),
          "metadata column must not leak into SELECT *")
        val mismatches = spark.sql(s"SELECT name, house, _graft_bucket FROM $cat.ca")
          .withColumn("expect",
            pmod(xxhash64(col("name"), col("house")), lit(8)).cast("int"))
          .filter(col("_graft_bucket") =!= col("expect")).count()
        assert(mismatches == 0, "_graft_bucket disagrees with the write-path hash")

        val joined = spark.sql(
          s"""SELECT a.name, a.acctbal AS ba, b.acctbal AS bb
            |FROM $cat.ca a JOIN $cat.cb b
            |ON a.name = b.name AND a.house = b.house
            |AND a._graft_bucket = b._graft_bucket""".stripMargin)
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"composite-key co-bucketed join must be storage-partitioned; got:\n$plan")
        val expected = ta.snapshot().select("name", "house").intersect(
          tb.snapshot().select("name", "house")).count()
        assert(joined.count() == expected, "composite-key SPJ lost rows")

        // GROUP BY listing the bucket column with the merge keys (it is
        // functionally dependent on them, so groups are unchanged).
        val agg = spark.sql(
          s"""SELECT name, house, sum(acctbal) AS s FROM $cat.ca
             |GROUP BY _graft_bucket, name, house""".stripMargin)
        assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
          "composite merge-key GROUP BY must not shuffle")
        assert(agg.count() == ta.snapshot().count(), "composite agg lost groups")

        // A pushed _graft_bucket predicate prunes the listing to that
        // one bucket's partition (the column IS the partition id).
        val f = spark.sql(s"SELECT name FROM $cat.ca WHERE _graft_bucket = 3")
        val scanned = {
          f.collect()
          f.queryExecution.executedPlan.collectLeaves()
            .flatMap(_.metrics.get("numOutputRows").map(_.value)).sum
        }
        val inBucket = ta.snapshot()
          .filter(pmod(xxhash64(col("name"), col("house")), lit(8)) === 3).count()
        assert(scanned == inBucket,
          s"bucket-filter scan read $scanned rows, expected the one bucket's $inBucket")
      }
    }
  }

  test("group-by merge key over a catalog table aggregates with ZERO shuffle") {
    withCatalog { (cat, wh) =>
      val t = makeTable(wh, "t", even = false)
      graft.core.Session.withConf(spark, "spark.sql.sources.v2.bucketing.enabled" -> true) {
        // KeyGroupedPartitioning(bucket(n, name)) clusters every key into
        // one partition, so the partial and final aggregate fuse with no
        // exchange — the 100 TB GROUP BY merge-key is map-side only.
        val agg = spark.sql(
          s"SELECT name, sum(acctbal) AS s FROM $cat.t GROUP BY name")
        assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
          "group-by merge key must not shuffle a bucket-partitioned scan")
        assert(agg.count() == t.snapshot().count(),
          "shuffle-free aggregate lost groups")
      }
    }
  }

  test("the catalog bucket function agrees with the write path bit-exactly") {
    withCatalog { (cat, wh) =>
      makeTable(wh, "c", even = false)
      val bound = graft.sources.GraftBucketFunction.bind(
        org.apache.spark.sql.types.StructType.fromDDL("n INT, k STRING"))
      // Every row of every bucket must hash back to the bucket that holds
      // it — the function IS the layout.
      val t = TxTable.open(spark, s"$wh/c", Seq("name"))
      val withBucket = t.snapshot().withColumn("b",
        expr("pmod(xxhash64(name), 8)").cast("int"))
      withBucket.collect().foreach { r =>
        val viaFn = bound.asInstanceOf[
          org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer]]
          .produceResult(org.apache.spark.sql.catalyst.InternalRow(
            8, org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0))))
        assert(viaFn == r.getAs[Int]("b"),
          s"bucket function disagrees with the write path for ${r.getString(0)}")
      }
    }
  }
}
