package graft

import graft.core.{Graph, TxTable}
import graft.sources.GraftDataSource
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

/** The DSv2 connector must agree with the native TxTable read path on
  * every feature the table can carry — evolution, defaults, renames,
  * merge-on-read deletes, time travel — and its pushdown hooks must
  * actually prune (buckets at the listing level, columns at the parquet
  * projection level). */
class Dsv2Spec extends AnyFunSuite {
  import TestSpark._

  private def freshTable(prefix: String): (String, TxTable) = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    val base = Graph.nodes(spark, sf)
      .filter(col("name") <= "Customer#000000199")
      .select("name", "house", "acctbal")
    (dir, TxTable.create(spark, dir, base, Seq("name"), numBuckets = 8))
  }

  private def connRead(dir: String, extra: (String, String)*) = {
    val r = spark.read.format("graft").option("keys", "name")
    extra.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load(dir)
  }

  private def asSet(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("connector read equals the native snapshot through the full feature gauntlet") {
    val (dir, t) = freshTable("graft_dsv2_full")
    try {
      // merge (copy-on-write v1) — update two keys
      t.merge(t.snapshot().filter(col("name").endsWith("7"))
        .withColumn("house", lit("PROMOTED")))
      // widening evolution with a DEFAULT (v2)
      t.addColumn("tier", "INT", "3")
      // rename (v3): readers must serve pre-rename files under the new name
      t.renameColumn("house", "segment")
      // merge-on-read delete (v4): DV applied, not rewritten
      import spark.implicits._
      t.deleteMergeOnRead(Seq("Customer#000000013").toDF("name"))

      val native = t.snapshot()
      val conn = connRead(dir)
      assert(conn.schema.fieldNames.toSeq == native.schema.fieldNames.toSeq,
        "connector schema must match the evolved logical schema")
      assert(asSet(conn.select("name", "segment", "tier")) ==
        asSet(native.select("name", "segment", "tier")),
        "connector disagrees with the native read path")
      assert(!asSet(conn.select("name")).contains("Customer#000000013"),
        "merge-on-read delete not applied by the connector")
    } finally TxTable.drop(dir)
  }

  test("time travel via versionAsOf matches snapshotAt") {
    val (dir, t) = freshTable("graft_dsv2_tt")
    try {
      t.merge(t.snapshot().filter(col("name").endsWith("2"))
        .withColumn("acctbal", col("acctbal") + 1000))
      assert(asSet(connRead(dir, "versionAsOf" -> "0")) == asSet(t.snapshotAt(0)))
      assert(asSet(connRead(dir)) == asSet(t.snapshotAt(1)))
    } finally TxTable.drop(dir)
  }

  test("key-equality filter prunes the plan to ONE bucket; unfiltered plans all") {
    val (dir, t) = freshTable("graft_dsv2_prune")
    try {
      def partitions(filters: Array[org.apache.spark.sql.sources.Filter]): Int =
        GraftDataSource.plannedPartitions(dir, filters, Map("keys" -> "name")).length
      val full = partitions(Array.empty)
      assert(full == t.layoutAt(t.version).size, "unfiltered scan must plan every bucket")
      assert(partitions(Array(EqualTo("name", "Customer#000000002"))) == 1,
        "key equality must prune to the single hashed bucket")
      // The pruned bucket must actually CONTAIN the key (hash agreement
      // between the connector's Catalyst eval and the write path).
      val row = connRead(dir).filter(col("name") === "Customer#000000002").collect()
      assert(row.length == 1, "pruned read lost the row — hash mismatch")
      // IN-list pruning: at most |list| buckets planned, strictly fewer
      // than the full layout, and no row lost.
      val keys = Seq("Customer#000000002", "Customer#000000007", "Customer#000000013")
      val inParts = partitions(Array(org.apache.spark.sql.sources.In(
        "name", keys.toArray[Any])))
      assert(inParts <= 3 && inParts < full,
        s"IN list must prune to <= |list| buckets, planned $inParts of $full")
      val got = connRead(dir).filter(col("name").isin(keys: _*)).collect()
      assert(got.length == 3, "IN-pruned read lost rows — hash mismatch")
    } finally TxTable.drop(dir)
  }

  test("column pruning survives a DV (key fetched internally, not emitted)") {
    val (dir, t) = freshTable("graft_dsv2_prunecols")
    try {
      import spark.implicits._
      t.deleteMergeOnRead(Seq("Customer#000000002").toDF("name"))
      val houses = connRead(dir).select("house") // key column pruned away
      assert(houses.schema.fieldNames.toSeq == Seq("house"))
      assert(houses.count() == t.snapshot().count(),
        "DV must still apply when the key column is pruned from the output")
    } finally TxTable.drop(dir)
  }

  test("SQL surface: CREATE TABLE ... USING graft serves SELECTs through the catalog") {
    val (dir, t) = freshTable("graft_dsv2_sql")
    try {
      spark.sql("DROP TABLE IF EXISTS graft_sql_tx")
      spark.sql(s"CREATE TABLE graft_sql_tx USING graft " +
        s"OPTIONS (path '$dir', keys 'name')")
      try {
        val viaSql = spark.sql(
          "SELECT name, house FROM graft_sql_tx WHERE name = 'Customer#000000002'")
        assert(viaSql.collect().map(_.getString(1)).length == 1,
          "catalog-registered connector table must serve SQL point reads")
        assert(spark.sql("SELECT count(*) FROM graft_sql_tx").head().getLong(0) ==
          t.snapshot().count())
      } finally spark.sql("DROP TABLE IF EXISTS graft_sql_tx")
    } finally TxTable.drop(dir)
  }

  test("change feed: streaming the commit log and folding it reconstructs the snapshot") {
    val (dir, t) = freshTable("graft_dsv2_feed")
    try {
      t.merge(t.snapshot().filter(col("name").endsWith("7"))
        .withColumn("house", lit("PROMOTED")))
      import spark.implicits._
      t.deleteMergeOnRead(Seq("Customer#000000013").toDF("name"))

      val feed = graft.streaming.StreamingOps.runToMemory(spark,
        spark.readStream.format("graft")
          .option("keys", "name").option("changeFeed", "true").load(dir),
        "append").collect()

      assert(feed.map(_.getAs[Long]("_commit_version")).toSet == Set(0L, 1L, 2L),
        "feed must cover every committed version")
      val deletes = feed.filter(_.getAs[String]("_change_type") == "delete")
      assert(deletes.map(_.getAs[String]("name")).toSeq == Seq("Customer#000000013"),
        "delete feed must carry exactly the DV'd key")
      // Fold the feed: per key, the latest insert post-image wins unless a
      // later-or-equal delete retires it — the upsert-consumer contract.
      val replay = feed.groupBy(_.getAs[String]("name")).flatMap { case (_, evs) =>
        val last = evs.maxBy(r =>
          (r.getAs[Long]("_commit_version"),
            if (r.getAs[String]("_change_type") == "delete") 1 else 0))
        if (last.getAs[String]("_change_type") == "delete") None
        else Some((last.getAs[String]("name"), last.getAs[String]("house")))
      }.toSet
      val now = t.snapshot().collect()
        .map(r => (r.getAs[String]("name"), r.getAs[String]("house"))).toSet
      assert(replay == now, "feed fold must reconstruct the live snapshot")
    } finally TxTable.drop(dir)
  }

  test("count(*) pushes to footer metadata on clean tables, scans when DVs exist") {
    val (dir, t) = freshTable("graft_dsv2_count")
    try {
      // Clean table: the count scan must be the metadata path.
      val df = connRead(dir).groupBy().count()
      assert(df.head().getLong(0) == t.snapshot().count())
      assert(df.queryExecution.executedPlan.toString.contains("GraftCountScan"),
        "clean-table count(*) must plan the footer-metadata scan")
      // DV'd table: pushdown must REFUSE (equality deletes only retire
      // keys that exist — footer counts cannot see that) and the
      // scanning path must still be exact.
      import spark.implicits._
      t.deleteMergeOnRead(Seq("Customer#000000013").toDF("name"))
      val df2 = connRead(dir).groupBy().count()
      assert(!df2.queryExecution.executedPlan.toString.contains("GraftCountScan"),
        "DV'd count(*) must fall back to scanning")
      assert(df2.head().getLong(0) == t.snapshot().count())
    } finally TxTable.drop(dir)
  }

  test("snapshot version pins at table resolution: a commit mid-planning cannot mix versions") {
    val (dir, t) = freshTable("graft_dsv2_pin")
    try {
      val provider = new graft.sources.GraftTableProvider
      val opts = new java.util.HashMap[String, String]()
      opts.put("path", dir); opts.put("keys", "name")
      val cmap = new CaseInsensitiveStringMap(opts)
      // Resolve the schema (this pins the version)…
      val schema = provider.inferSchema(cmap)
      val before = t.snapshot().agg(sum("acctbal")).head().getDouble(0)
      // …then land a commit BETWEEN schema resolution and scan planning.
      t.merge(t.snapshot().withColumn("acctbal", col("acctbal") + 1000))
      val table = provider.getTable(schema, Array.empty, opts)
      val sb = table.asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
        .newScanBuilder(cmap)
      val scan = sb.build()
      val batch = scan.toBatch
      val factory = batch.createReaderFactory()
      val balIdx = scan.readSchema().fieldIndex("acctbal")
      var sumBal = 0.0
      batch.planInputPartitions().foreach { p =>
        val r = factory.createReader(p)
        try while (r.next()) sumBal += r.get().getDouble(balIdx)
        finally r.close()
      }
      assert(math.abs(sumBal - before) < 1e-6,
        "pinned scan must read the version resolved at inferSchema, not the mid-planning commit")
    } finally TxTable.drop(dir)
  }

  test("merge-on-read deletes apply through the connector for DATE-typed keys") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_datekey").toString
    try {
      val base = spark.sql(
        "SELECT date_add(DATE '2024-01-01', CAST(id AS INT)) AS day, id AS v FROM range(30)")
      val t = TxTable.create(spark, dir, base, Seq("day"), numBuckets = 4)
      t.deleteMergeOnRead(spark.sql("SELECT DATE '2024-01-05' AS day"))
      val conn = spark.read.format("graft").option("keys", "day").load(dir)
      assert(conn.count() == 29,
        "date-keyed DV must retire exactly the deleted day (Catalyst-to-Catalyst compare)")
      assert(conn.filter(col("day") === lit("2024-01-05").cast("date")).count() == 0,
        "the DV'd date key must be absent from the connector read")
      assert(asSet(conn) == asSet(t.snapshot()),
        "connector must agree with the native snapshot on a date-keyed table")
    } finally TxTable.drop(dir)
  }

  test("timestamp columns round-trip through the connector (legacy INT96 decoded)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_ts").toString
    try {
      val base = spark.sql(
        "SELECT CAST(id AS STRING) AS k, " +
          "timestampadd(SECOND, CAST(id AS INT), TIMESTAMP '2024-01-01 00:00:00') AS ts " +
          "FROM range(20)")
      val t = TxTable.create(spark, dir, base, Seq("k"), numBuckets = 4)
      val conn = spark.read.format("graft").option("keys", "k").load(dir)
      assert(asSet(conn.select("k", "ts")) == asSet(t.snapshot().select("k", "ts")),
        "timestamp values must round-trip exactly (INT96 / micros decode)")
    } finally TxTable.drop(dir)
  }

  test("merge-on-read deletes apply through the connector for TIMESTAMP-typed keys") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_tskey").toString
    try {
      val base = spark.sql(
        "SELECT timestampadd(HOUR, CAST(id AS INT), TIMESTAMP '2024-01-01 00:00:00') AS at, " +
          "id AS v FROM range(24)")
      val t = TxTable.create(spark, dir, base, Seq("at"), numBuckets = 4)
      t.deleteMergeOnRead(spark.sql("SELECT TIMESTAMP '2024-01-01 05:00:00' AS at"))
      val conn = spark.read.format("graft").option("keys", "at").load(dir)
      assert(conn.count() == 23,
        "timestamp-keyed DV must retire exactly the deleted instant")
      assert(asSet(conn) == asSet(t.snapshot()),
        "connector must agree with the native snapshot on a timestamp-keyed table")
    } finally TxTable.drop(dir)
  }

  test("min/max push to footer statistics; DVs and string columns refuse") {
    val (dir, t) = freshTable("graft_dsv2_minmax")
    try {
      val native = t.snapshot().agg(min("acctbal"), max("acctbal")).head()
      // Clean table, numeric column: the stats scan must answer.
      val df = connRead(dir).agg(min("acctbal").as("lo"), max("acctbal").as("hi"))
      assert(df.queryExecution.executedPlan.toString.contains("GraftStatsScan"),
        "clean-table min/max over a double must plan the footer-statistics scan")
      val got = df.head()
      assert(got.getDouble(0) == native.getDouble(0) &&
        got.getDouble(1) == native.getDouble(1),
        "footer-statistics min/max must equal the scanned values bit-exactly")
      // String column: always scans (binary footer stats may be truncated).
      val s = connRead(dir).agg(min("name"))
      assert(!s.queryExecution.executedPlan.toString.contains("GraftStatsScan"),
        "string min/max must refuse the stats pushdown")
      assert(s.head().getString(0) ==
        t.snapshot().agg(min("name")).head().getString(0))
      // Mixed with count(*): still correct whether or not the mix pushes.
      val m2 = connRead(dir).groupBy().agg(
        min("acctbal"), max("acctbal"), count(lit(1)))
      assert(m2.head().getLong(2) == t.snapshot().count())
      // DV'd table: pushdown must refuse and the scan stays exact.
      import spark.implicits._
      t.deleteMergeOnRead(Seq("Customer#000000013").toDF("name"))
      val dvd = connRead(dir).agg(min("acctbal"), max("acctbal"))
      assert(!dvd.queryExecution.executedPlan.toString.contains("GraftStatsScan"),
        "DV'd min/max must fall back to scanning")
      val nat2 = t.snapshot().agg(min("acctbal"), max("acctbal")).head()
      val got2 = dvd.head()
      assert(got2.getDouble(0) == nat2.getDouble(0) &&
        got2.getDouble(1) == nat2.getDouble(1))
    } finally TxTable.drop(dir)
  }

  test("min/max answers from zone-map sidecars with ZERO footer or data I/O when declared") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_zmstats").toString
    try {
      import spark.implicits._
      val base = (0 until 3000).map(i => (s"k$i", (i * 7 % 1000).toLong)).toDF("k", "v")
      val t = TxTable.create(spark, dir, base, Seq("k"), numBuckets = 8,
        zoneMapCols = Seq("v"))
      def conn = spark.read.format("graft").load(dir)
      val q = conn.agg(min("v").as("lo"), max("v").as("hi"), count(lit(1)).as("n"))
      assert(q.queryExecution.executedPlan.toString
        .contains("zone-map/row-count sidecars"),
        "declared-column min/max should plan the sidecar tier:\n" +
          q.queryExecution.executedPlan.toString)
      val r = q.head()
      assert(r.getLong(0) == 0L && r.getLong(1) == 999L && r.getLong(2) == 3000L)

      // The zero-I/O proof: poison EVERY data file — the sidecar-served
      // aggregate still answers exactly (nothing but the tiny text
      // sidecars is read), while a real scan fails on the garbage.
      import scala.jdk.CollectionConverters._
      val dataFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "data"))
        .iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
      val backups = dataFiles.map { p =>
        val orig = java.nio.file.Files.readAllBytes(p)
        java.nio.file.Files.write(p, "POISON".getBytes("UTF-8")); (p, orig)
      }
      try {
        val r2 = conn.agg(min("v"), max("v"), count(lit(1))).head()
        assert(r2.getLong(0) == 0L && r2.getLong(1) == 999L && r2.getLong(2) == 3000L,
          "sidecar-tier aggregate touched a data file")
        assert(scala.util.Try(conn.select("v").collect()).isFailure,
          "poison had no teeth")
      } finally backups.foreach { case (p, o) => java.nio.file.Files.write(p, o) }

      // An UNDECLARED column falls back to footer statistics, exactly.
      val t2dir = java.nio.file.Files.createTempDirectory("graft_dsv2_zmstats2").toString
      try {
        TxTable.create(spark, t2dir, base, Seq("k"), numBuckets = 8)
        val q2 = spark.read.format("graft").load(t2dir)
          .agg(min("v"), max("v"))
        assert(q2.queryExecution.executedPlan.toString
          .contains("parquet footer statistics"),
          "undeclared column must take the footer path")
        val r3 = q2.head()
        assert(r3.getLong(0) == 0L && r3.getLong(1) == 999L)
      } finally TxTable.drop(t2dir)

      // A widened declared column refuses the sidecar tier (write-time
      // type drift) and stays exact through the footer path, which
      // converts int32 stats to the logical long itself.
      val t3dir = java.nio.file.Files.createTempDirectory("graft_dsv2_zmstats3").toString
      try {
        val ib = (0 until 500).map(i => (s"k$i", i)).toDF("k", "w")
        val t3 = TxTable.create(spark, t3dir, ib, Seq("k"), numBuckets = 4,
          zoneMapCols = Seq("w"))
        t3.widenColumn("w", "BIGINT")
        val q3 = spark.read.format("graft").load(t3dir).agg(min("w"), max("w"))
        val plan3 = q3.queryExecution.executedPlan.toString
        assert(!plan3.contains("zone-map/row-count sidecars"),
          "widened column must refuse the sidecar stats tier")
        val r4 = q3.head()
        assert(r4.getLong(0) == 0L && r4.getLong(1) == 499L)
      } finally TxTable.drop(t3dir)
    } finally TxTable.drop(dir)
  }

  test("change feed with skipLayoutOnly drops compaction versions; fold still reconstructs") {
    val (dir, t) = freshTable("graft_dsv2_skiplayout")
    try {
      t.merge(t.snapshot().filter(col("name").endsWith("7"))
        .withColumn("house", lit("PROMOTED")))          // v1
      t.compact()                                        // v2: layout-only
      t.merge(t.snapshot().filter(col("name").endsWith("2"))
        .withColumn("house", lit("SECOND")))            // v3
      def run(skip: Boolean) = graft.streaming.StreamingOps.runToMemory(spark,
        spark.readStream.format("graft")
          .option("keys", "name").option("changeFeed", "true")
          .option("skipLayoutOnly", skip.toString).load(dir),
        "append").collect()
      val full = run(skip = false)
      assert(full.map(_.getAs[Long]("_commit_version")).toSet == Set(0L, 1L, 2L, 3L),
        "without the option, the compaction version re-emits")
      val skipped = run(skip = true)
      assert(skipped.map(_.getAs[Long]("_commit_version")).toSet == Set(0L, 1L, 3L),
        "skipLayoutOnly must drop exactly the compact version")
      // The folded skipped feed must still reconstruct the live snapshot:
      // compaction moved bytes, not rows.
      val replay = skipped.groupBy(_.getAs[String]("name")).flatMap { case (_, evs) =>
        val last = evs.maxBy(r =>
          (r.getAs[Long]("_commit_version"),
            if (r.getAs[String]("_change_type") == "delete") 1 else 0))
        if (last.getAs[String]("_change_type") == "delete") None
        else Some((last.getAs[String]("name"), last.getAs[String]("house")))
      }.toSet
      val now = t.snapshot().collect()
        .map(r => (r.getAs[String]("name"), r.getAs[String]("house"))).toSet
      assert(replay == now, "skipLayoutOnly fold must reconstruct the live snapshot")
    } finally TxTable.drop(dir)
  }

  test("runtime (join-derived) filters prune buckets at execution time") {
    val (dir, t) = freshTable("graft_dsv2_runtime")
    try {
      def scan(runtime: Option[Array[org.apache.spark.sql.sources.Filter]]) = {
        val s = GraftDataSource.scanOf(dir, options = Map("keys" -> "name"))
        runtime.foreach(fs =>
          s.asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
            .filter(fs))
        s.toBatch.planInputPartitions().length
      }
      val full = scan(None)
      assert(full == t.layoutAt(t.version).size)
      // The DPP shape: a broadcast join's build side arrives as IN.
      val keys = Seq("Customer#000000002", "Customer#000000007")
      val pruned = scan(Some(Array(
        org.apache.spark.sql.sources.In("name", keys.toArray[Any]))))
      assert(pruned <= 2 && pruned < full,
        s"runtime IN must prune to <= |list| buckets, planned $pruned of $full")
      // The scan advertises exactly the single key as filterable.
      val attrs = GraftDataSource.scanOf(dir, options = Map("keys" -> "name"))
        .asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
        .filterAttributes()
      assert(attrs.map(_.fieldNames().mkString).toSeq == Seq("name"))
      // End-to-end: a broadcast join on the key stays correct whether or
      // not the optimizer chose to inject the runtime filter.
      import spark.implicits._
      val dim = keys.toDF("name")
      val joined = connRead(dir).join(broadcast(dim), "name")
      assert(joined.count() == 2, "broadcast key join lost rows")
    } finally TxTable.drop(dir)
  }

  test("reported statistics: real bytes, prune-aware, and small tables auto-broadcast") {
    val (dir, t) = freshTable("graft_dsv2_stats")
    try {
      def stats(filters: Array[org.apache.spark.sql.sources.Filter]): Long =
        GraftDataSource.scanOf(dir, filters, Map("keys" -> "name"))
          .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
          .estimateStatistics().sizeInBytes().getAsLong
      val full = stats(Array.empty)
      assert(full > 0, "unpruned scan must report real bytes")
      val pruned = stats(Array(EqualTo("name", "Customer#000000002")))
      assert(pruned < full, "a point lookup must report one bucket's bytes, not the table's")
      // The optimizer must see the size and choose a broadcast join on
      // its own — no explicit broadcast() hint. The fact side is sized
      // PAST the auto-broadcast threshold, so the only broadcastable
      // side is the graft table: a BroadcastHashJoin in the plan proves
      // the reported statistics were read and believed.
      val fact = spark.range(2000000).selectExpr(
        "concat('Customer#', lpad(CAST(id AS STRING), 9, '0')) AS name", "id AS v")
      val joined = fact.join(connRead(dir), "name")
      assert(joined.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "a small graft table with reported stats must auto-broadcast")
      assert(joined.count() == t.snapshot().count(),
        "broadcast-joined read lost rows")
    } finally TxTable.drop(dir)
  }

  test("LIMIT pushes to the reader: each partition stops at its quota, post-DV") {
    val (dir, t) = freshTable("graft_dsv2_limit")
    try {
      import spark.implicits._
      t.deleteMergeOnRead(Seq("Customer#000000002").toDF("name"))
      val limited = connRead(dir).limit(5)
      assert(limited.queryExecution.executedPlan.toString.contains("PushedLimit=5"),
        "LIMIT must reach the scan description")
      assert(limited.count() == 5, "pushed limit changed the result")
      // The DV'd key must never satisfy the limit: deleted rows don't
      // count toward the quota, so a limit equal to the table size still
      // excludes it.
      val all = connRead(dir).limit(10000)
      assert(!all.collect().map(_.getString(0)).contains("Customer#000000002"),
        "pushed limit must count SURVIVING rows only")
    } finally TxTable.drop(dir)
  }

  test("change feed honors startingVersion (consumers resume from a snapshot)") {
    val (dir, t) = freshTable("graft_dsv2_startver")
    try {
      t.merge(t.snapshot().filter(col("name").endsWith("7"))
        .withColumn("house", lit("PROMOTED")))          // v1
      import spark.implicits._
      t.deleteMergeOnRead(Seq("Customer#000000013").toDF("name")) // v2
      val feed = graft.streaming.StreamingOps.runToMemory(spark,
        spark.readStream.format("graft")
          .option("keys", "name").option("changeFeed", "true")
          .option("startingVersion", "1").load(dir),
        "append").collect()
      assert(feed.map(_.getAs[Long]("_commit_version")).toSet == Set(1L, 2L),
        "startingVersion must skip the already-held history")
    } finally TxTable.drop(dir)
  }

  test("unsupported schemas refuse loudly; keys come from the sidecar when omitted") {
    val (dir, t) = freshTable("graft_dsv2_refuse")
    try {
      // Tables are SELF-DESCRIBING since the keys sidecar: a keys-less
      // read resolves the merge keys from keys.txt.
      assert(spark.read.format("graft").load(dir).count() == t.snapshot().count(),
        "sidecar tables must serve keys-less reads")
      // A pre-sidecar (legacy) table still refuses without explicit keys.
      java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "_log", "keys.txt"))
      intercept[IllegalArgumentException] {
        spark.read.format("graft").load(dir).collect()
      }
      val bad = StructType.fromDDL("a ARRAY<INT>")
      assert(!graft.sources.GraftDataSource.supported(bad.fields.head.dataType))
    } finally TxTable.drop(dir)
  }

  test("boolean columns round-trip on both the vectorized and the row path") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_bool").toString
    try {
      import spark.implicits._
      val base = (0 until 64).map(i => (s"k$i", i % 3 == 0, i.toLong))
        .toDF("k", "flag", "v")
      val t = TxTable.create(spark, dir, base, Seq("k"), numBuckets = 4)
      // No DVs → the scan vectorizes; Bool must be a supported code.
      val conn = spark.read.format("graft").load(dir)
      assert(asSet(conn) == asSet(t.snapshot()),
        "boolean table disagrees with the native snapshot (vectorized path)")
      assert(conn.filter(col("flag")).count() == 22)
      // A DV forces the row path — Bool must convert there too.
      t.deleteMergeOnRead(Seq("k0").toDF("k"))
      val rowPath = spark.read.format("graft").load(dir)
      assert(asSet(rowPath) == asSet(t.snapshot()),
        "boolean table disagrees with the native snapshot (row path)")
      assert(rowPath.filter(col("flag")).count() == 21)
    } finally TxTable.drop(dir)
  }

  test("TIMESTAMP_NTZ round-trips on a clean and a DV'd bucket; its filters and MIN/MAX scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_ntz").toString
    try {
      import spark.implicits._
      import java.time.LocalDateTime
      val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
      val model = (0 until 64).map(i =>
        (i.toLong, if (i == 5) null else t0.plusMinutes(421L * i), i * 10L))
      val base = model.toDF("k", "ts", "v")
      assert(base.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
      val t = TxTable.create(spark, dir, base, Seq("k"), numBuckets = 4)
      def rowsOf(df: org.apache.spark.sql.DataFrame) =
        df.select("k", "ts", "v").as[(Long, LocalDateTime, Long)].collect().toSet
      val cut = t0.plusMinutes(421L * 40)
      def check(live: Seq[(Long, LocalDateTime, Long)], path: String): Unit = {
        val conn = spark.read.format("graft").load(dir)
        assert(conn.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
        assert(rowsOf(conn) == live.toSet, s"NTZ table disagrees with the model ($path)")
        assert(conn.filter(col("ts") > lit(cut)).count() ==
          live.count(r => r._2 != null && r._2.isAfter(cut)), s"NTZ range filter ($path)")
        val ts = live.flatMap(r => Option(r._2))
        val mm = conn.agg(min("ts"), max("ts")).as[(LocalDateTime, LocalDateTime)].head()
        val utc = java.time.ZoneOffset.UTC
        assert(mm == ((ts.minBy(_.toEpochSecond(utc)), ts.maxBy(_.toEpochSecond(utc)))),
          s"NTZ MIN/MAX ($path)")
      }
      check(model, "clean, vectorized")
      t.deleteMergeOnRead(Seq(3L, 17L).toDF("k"))
      val dvd = t.dvPointers(t.version).count(_._2.nonEmpty)
      assert(dvd >= 1 && dvd < t.dataPointers(t.version).size,
        "the read must cover a DV'd bucket and a clean one")
      check(model.filterNot(r => r._1 == 3L || r._1 == 17L), "DV'd and clean buckets")
      // The change feed decodes through the parquet Group record reader.
      val feed = graft.streaming.StreamingOps.runToMemory(spark,
        spark.readStream.format("graft").option("changeFeed", "true").load(dir),
        "append").collect()
      val inserted = feed.filter(r => r.getAs[Long]("_commit_version") == 0L &&
          r.getAs[String]("_change_type") == "insert")
        .map(r => (r.getAs[Long]("k"), r.getAs[LocalDateTime]("ts"), r.getAs[Long]("v")))
      assert(inserted.toSet == model.toSet, "NTZ disagrees with the model (record reader)")
    } finally TxTable.drop(dir)
  }

  test("pushed non-key filters skip row groups via parquet footer statistics") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_rgskip").toString
    try {
      import spark.implicits._
      // Value column == the write path's bucket id (same xxhash64 seed),
      // so every file in bucket b carries min=max=b for v: a point
      // predicate on v refutes every other bucket's row groups from the
      // footer alone. v is NOT a key column — without row-group skipping
      // the scan emits all 256 rows and the engine filter does the work.
      val base = (0 until 256).map(i => s"key$i").toDF("k")
        .withColumn("v", pmod(xxhash64(col("k")), lit(8)))
      val t = TxTable.create(spark, dir, base, Seq("k"), numBuckets = 8)
      val expected = base.filter(col("v") === 3).count()
      assert(expected > 0 && expected < 256, "degenerate hash distribution")

      def scanRows(df: org.apache.spark.sql.DataFrame): Long = {
        df.collect() // no shuffle → non-adaptive plan, leaves are the scan
        df.queryExecution.executedPlan.collectLeaves()
          .flatMap(_.metrics.get("numOutputRows").map(_.value)).sum
      }

      // Vectorized path (no DVs): the scan itself must emit only the
      // matching bucket's rows — residuals run ABOVE the scan, so a
      // shrunken scan output proves row groups were skipped.
      val vec = spark.read.format("graft").load(dir).filter(col("v") === 3)
      assert(vec.collect().map(_.getString(0)).sorted.toSeq ==
        base.filter(col("v") === 3).collect().map(_.getString(0)).sorted.toSeq,
        "filtered result wrong — skipping dropped matching rows")
      val vecEmitted = scanRows(spark.read.format("graft").load(dir)
        .filter(col("v") === 3))
      assert(vecEmitted == expected,
        s"vectorized scan emitted $vecEmitted rows, expected $expected — " +
          "row-group skipping not applied")

      // Row path (DV present): same skipping through the filtered
      // ParquetReader; result must still agree with the native snapshot.
      val victim = base.filter(col("v") === 3).select("k").head().getString(0)
      t.deleteMergeOnRead(Seq(victim).toDF("k"))
      val row = spark.read.format("graft").load(dir).filter(col("v") === 3)
      assert(asSet(row) == asSet(t.snapshot().filter(col("v") === 3)),
        "row-path filtered result disagrees with the native snapshot")
      val rowEmitted = scanRows(spark.read.format("graft").load(dir)
        .filter(col("v") === 3))
      assert(rowEmitted == expected - 1,
        s"row-path scan emitted $rowEmitted rows, expected ${expected - 1}")
    } finally TxTable.drop(dir)
  }

  test("_graft_bucket metadata column serves the bucket id on both read paths") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_metacol").toString
    try {
      import spark.implicits._
      val base = (0 until 200).map(i => (s"k$i", s"h${i % 7}", i.toLong))
        .toDF("k", "h", "v")
      val t = TxTable.create(spark, dir, base, Seq("k", "h"), numBuckets = 8)
      def conn = spark.read.format("graft").load(dir)

      // Hidden from SELECT */plain load; explicitly selectable; equal to
      // the write path's own hash on the vectorized (DV-free) path.
      assert(!conn.columns.contains("_graft_bucket"))
      val withMeta = conn.select(col("k"), col("h"), col("_graft_bucket"))
      assert(withMeta.count() == 200)
      assert(withMeta.filter(col("_graft_bucket") =!=
        pmod(xxhash64(col("k"), col("h")), lit(8)).cast("int")).count() == 0,
        "metadata bucket id disagrees with the write-path hash (vectorized path)")

      // Same through the DV-carrying ROW path (constant still served).
      t.deleteMergeOnRead(Seq(("k5", "h5")).toDF("k", "h"))
      val afterDv = conn.select(col("k"), col("h"), col("_graft_bucket"))
      assert(afterDv.count() == 199)
      assert(afterDv.filter(col("_graft_bucket") =!=
        pmod(xxhash64(col("k"), col("h")), lit(8)).cast("int")).count() == 0,
        "metadata bucket id disagrees with the write-path hash (row path)")
    } finally TxTable.drop(dir)
  }

  test("composite EqualTo+In key predicates prune to the candidate tuples' buckets") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_tupleprune").toString
    try {
      import spark.implicits._
      val base = (0 until 256).map(i => (s"k${i % 16}", s"h${i / 16}", i.toLong))
        .toDF("k", "h", "v")
      TxTable.create(spark, dir, base, Seq("k", "h"), numBuckets = 16)
      // k pinned by equality, h by a 2-element IN: 2 candidate tuples →
      // at most 2 buckets planned (of 16), rows exactly the predicate's.
      val q = spark.read.format("graft").load(dir)
        .filter(col("k") === "k3" && col("h").isin("h1", "h2"))
      assert(q.count() == 2, "tuple-pruned read lost or invented rows")
      val parts = q.queryExecution.executedPlan.collectLeaves().collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputRDD.getNumPartitions
      }.get
      assert(parts <= 2, s"expected <=2 pruned buckets, planned $parts")

      // LONG composite probe: EqualTo on one key × a 300-value IN on the
      // other — 300 candidate tuples, past the old 256-tuple cap that
      // used to abandon pruning entirely. The cap is a driver HASHING
      // budget (one xxhash64 per tuple), so a few hundred tuples must
      // keep pruning. To make the assertion deterministic the IN values
      // are chosen so their (k3, h) tuples hash into ≤3 of the 16
      // buckets (with arbitrary values, 300 tuples would legitimately
      // cover all 16 — enumeration still ran, but nothing would show).
      import org.apache.spark.sql.functions.{pmod, xxhash64, lit}
      val concentrated = (0 until 20000).map(i => s"g$i").toDF("h")
        .withColumn("b", pmod(xxhash64(lit("k3"), col("h")), lit(16)))
        .filter(col("b") <= 2).select("h")
        .limit(300).as[String].collect()
      assert(concentrated.length == 300, "not enough concentrated values")
      val many = concentrated.map(x => x: Any)
      val q2 = spark.read.format("graft").load(dir)
        .filter(col("k") === "k3" && col("h").isin(many: _*))
      assert(q2.count() === base.where(col("k") === "k3" &&
        col("h").isin(many: _*)).count(),
        "long-IN tuple-pruned read lost or invented rows")
      val parts2 = q2.queryExecution.executedPlan.collectLeaves().collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputRDD.getNumPartitions
      }.get
      assert(parts2 <= 3,
        s"300-tuple composite probe abandoned pruning: planned $parts2 of 16")

      // PAST THE OLD 65536-TUPLE CAP: EqualTo × a 70k-value IN. The old
      // materialize-then-cap path abandoned pruning here even though the
      // bucket set was computable; the streamed walk (one xxhash64 per
      // tuple, no tuple list) keeps pruning — concentrated values again,
      // so the effect is observable against 16 buckets.
      val concentratedBig = (0 until 600000).map(i => s"G$i").toDF("h")
        .withColumn("b", pmod(xxhash64(lit("k3"), col("h")), lit(16)))
        .filter(col("b") <= 2).select("h")
        .limit(70000).as[String].collect()
      assert(concentratedBig.length == 70000, "not enough concentrated values")
      val huge = concentratedBig.map(x => x: Any)
      val q3 = spark.read.format("graft").load(dir)
        .filter(col("k") === "k3" && col("h").isin(huge: _*))
      val parts3 = q3.queryExecution.executedPlan.collectLeaves().collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputRDD.getNumPartitions
      }.get
      assert(parts3 <= 3,
        s"70k-tuple composite probe abandoned pruning: planned $parts3 of 16")
      assert(q3.count() === base.where(col("k") === "k3" &&
        col("h").isin(huge: _*)).count(),
        "over-cap tuple-pruned read lost or invented rows")
    } finally TxTable.drop(dir)
  }

  test("zone-map sidecar refutes whole buckets on a correlated column and files see zero I/O") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_zonemap").toString
    try {
      import spark.implicits._
      // v CORRELATES with the storage bucket (the tenant/time-locality
      // case): bucket b holds exactly v ∈ [b·1000, b·1000+999], so
      // per-bucket bounds are disjoint and a narrow range probe refutes
      // every bucket but one AT PLANNING. The correlation is built with
      // the same hash the write path buckets by.
      val base = (0 until 4000).map(i => s"k$i").toDF("k")
        .withColumn("b", pmod(xxhash64(col("k")), lit(8)))
        .withColumn("v", col("b") * 1000 + pmod(xxhash64(col("k"), lit(7)), lit(1000)))
        .drop("b")
      val t = TxTable.create(spark, dir, base, Seq("k"), numBuckets = 8,
        zoneMapCols = Seq("v"))

      // Pins the per-bucket sidecar-FILE path (the type-guard section
      // below pokes the _zonemap.txt files; the consolidated manifest
      // path is certified by its own spec).
      def planned(filters: Array[org.apache.spark.sql.sources.Filter]) =
        GraftDataSource.plannedPartitions(dir, filters, Map("ignoreStatsManifest" -> "true"))
      import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
      val all = planned(Array.empty)
      assert(all.length == 8, s"expected 8 buckets, planned ${all.length}")
      val band = planned(Array(
        GreaterThanOrEqual("v", 2100L), LessThanOrEqual("v", 2200L)))
      assert(band.length == 1,
        s"correlated range probe must refute 7 of 8 buckets at planning, planned ${band.length}")

      // Zero-I/O proof: poison every REFUTED file on disk — the pruned
      // query must still answer correctly (planning consulted only the
      // sidecar; refuted files' footers are never opened), while an
      // UNPRUNED read of the same table fails on the garbage.
      val surviving = band.flatMap(_.files).toSet
      val poisoned = all.flatMap(_.files).filterNot(surviving.contains)
      assert(poisoned.nonEmpty)
      val backups = poisoned.map { f =>
        val p = java.nio.file.Paths.get(f)
        val orig = java.nio.file.Files.readAllBytes(p)
        java.nio.file.Files.write(p, "POISON-not-a-parquet-file".getBytes("UTF-8"))
        (p, orig)
      }
      try {
        val expect = base.filter(col("v").between(2100, 2200)).count()
        val got = spark.read.format("graft").load(dir)
          .filter(col("v").between(2100, 2200))
        assert(got.count() == expect && got.collect().forall { r =>
          val v = r.getAs[Long]("v"); v >= 2100 && v <= 2200 },
          "zone-pruned read wrong — or it touched a refuted (poisoned) file")
        // A plain count() would answer from the _rows.txt metadata path
        // and never touch a data file — use a real column scan.
        val unpruned = scala.util.Try(
          spark.read.format("graft").load(dir).select("v").collect()).isFailure
        assert(unpruned, "poison had no teeth — unpruned read should fail")
      } finally backups.foreach { case (p, orig) => java.nio.file.Files.write(p, orig) }
      assert(spark.read.format("graft").load(dir).select("v").collect().length == 4000)

      // A DISJUNCTION of ranges prunes too (the filter-tree evaluator):
      // two disjoint narrow bands arrive as ONE Or filter — the plan
      // must cover BOTH bands' buckets (2 of 8, the union) and must NOT
      // over-refute (an Or misread as And would plan 0).
      import org.apache.spark.sql.sources.{And => FAnd, Or => FOr}
      val orParts = planned(Array(FOr(
        FAnd(GreaterThanOrEqual("v", 2100L), LessThanOrEqual("v", 2200L)),
        FAnd(GreaterThanOrEqual("v", 5100L), LessThanOrEqual("v", 5200L)))))
      assert(orParts.length == 2,
        s"OR of two bucket-disjoint bands must plan exactly their union, got ${orParts.length}")
      val orPred = (col("v").between(2100, 2200)) || (col("v").between(5100, 5200))
      assert(spark.read.format("graft").load(dir).filter(orPred).count() ==
        base.filter(orPred).count(), "OR-pruned read lost rows")

      // The optimizer-facing size statistic follows the prune: a
      // band-probed scan reports its ADMITTED bytes (broadcastable),
      // not the table's.
      def statBytes(filters: Array[org.apache.spark.sql.sources.Filter]): Long =
        GraftDataSource.scanOf(dir, filters, Map("ignoreStatsManifest" -> "true"))
          .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
          .estimateStatistics().sizeInBytes().getAsLong
      val fullBytes = statBytes(Array.empty)
      val bandBytes = statBytes(Array(
        GreaterThanOrEqual("v", 2100L), LessThanOrEqual("v", 2200L)))
      assert(bandBytes * 2 <= fullBytes,
        s"pruned scan must report admitted bytes: $bandBytes vs $fullBytes")

      // Type-guard: a sidecar recording a FOREIGN type for the column
      // must be refused (no pruning), never trusted.
      import scala.jdk.CollectionConverters._
      val sidecars = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "data"))
        .iterator().asScala.filter(_.getFileName.toString == "_zonemap.txt").toList
      assert(sidecars.nonEmpty)
      sidecars.foreach { p =>
        java.nio.file.Files.writeString(p,
          java.nio.file.Files.readString(p).replace("\tbigint\t", "\tint\t"))
      }
      val guarded = planned(Array(
        GreaterThanOrEqual("v", 2100L), LessThanOrEqual("v", 2200L)))
      assert(guarded.length == 8,
        "type-mismatched zone map must be refused, not trusted")
    } finally TxTable.drop(dir)
  }

  test("hidden date partitioning: path-derived pruning, zero I/O on refuted days, eras coexist") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_datepart").toString
    try {
      import spark.implicits._
      val day0 = java.time.Instant.parse("2024-03-01T00:00:00Z")
      // 20 days × 100 rows, keyed by id, partitioned days(ts) from birth.
      val base = (0 until 2000).map { i =>
        (s"k$i", java.sql.Timestamp.from(day0.plusSeconds((i % 20) * 86400L + i)), i.toLong)
      }.toDF("id", "ts", "v")
      val t = TxTable.create(spark, dir, base.limit(0), Seq("id"), numBuckets = 4)
      t.setPartitioning("days(ts)")
      t.merge(base)

      def planned(filters: Array[org.apache.spark.sql.sources.Filter]) =
        GraftDataSource.plannedPartitions(dir, filters)
      import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
      val allFiles = planned(Array.empty).flatMap(_.files)
      val lo = java.time.Instant.parse("2024-03-05T00:00:00Z")
      val hi = java.time.Instant.parse("2024-03-07T00:00:00Z")
      val band = planned(Array(GreaterThanOrEqual("ts", lo), LessThan("ts", hi)))
      val bandFiles = band.flatMap(_.files)
      // 2 of 20 days: planned files must shrink to ~1/10th.
      assert(bandFiles.nonEmpty && bandFiles.length * 5 <= allFiles.length,
        s"day-range probe planned ${bandFiles.length} of ${allFiles.length} files")

      // Poison the refuted files: the pruned band query answers right
      // (their paths were never opened), an unpruned scan fails.
      val surviving = bandFiles.toSet
      val poisoned = allFiles.filterNot(surviving.contains)
      val backups = poisoned.map { f =>
        val p = java.nio.file.Paths.get(f)
        val orig = java.nio.file.Files.readAllBytes(p)
        java.nio.file.Files.write(p, "POISON".getBytes("UTF-8"))
        (p, orig)
      }
      try {
        val pred = col("ts") >= lit(java.sql.Timestamp.from(lo)) &&
          col("ts") < lit(java.sql.Timestamp.from(hi))
        val expect = base.filter(pred).count()
        assert(expect > 0)
        assert(spark.read.format("graft").load(dir).filter(pred).count() == expect,
          "day-pruned read wrong — or it touched a refuted (poisoned) file")
        assert(scala.util.Try(spark.read.format("graft").load(dir)
          .select("v").collect()).isFailure, "poison had no teeth")
      } finally backups.foreach { case (p, orig) => java.nio.file.Files.write(p, orig) }

      // Native read path (leaf-dir expansion) agrees with the connector,
      // and the pre-partitioning v0 era remains time-travelable.
      assert(t.snapshot().count() == 2000)
      assert(asSet(spark.read.format("graft").load(dir)) == asSet(t.snapshot()))
      assert(t.snapshotAt(0).count() == 0)

      // EVOLUTION: clear the spec — the next merge writes flat; both
      // eras stay readable side by side and day pruning still applies
      // to the day-era commits (per-commit _pspec).
      t.setPartitioning("")
      t.merge(Seq(("kNEW", java.sql.Timestamp.from(day0), 99999L)).toDF("id", "ts", "v"))
      assert(t.snapshot().count() == 2001)
      assert(spark.read.format("graft").load(dir).filter(col("v") === 99999L)
        .count() == 1)
      val bandAfter = planned(Array(GreaterThanOrEqual("ts", lo), LessThan("ts", hi)))
        .flatMap(_.files)
      assert(bandAfter.length < planned(Array.empty).flatMap(_.files).length,
        "day-era commits must keep pruning after evolution to flat")

      // Pre-epoch timestamps land on FLOOR days (negative _p), never
      // truncated-toward-zero: 1969-12-31T18:00Z is day -1, and the
      // path-derived interval must admit it exactly.
      val oldDir = java.nio.file.Files.createTempDirectory("graft_dsv2_preepoch").toString
      try {
        val preRows = Seq(
          ("a", java.sql.Timestamp.from(java.time.Instant.parse("1969-12-31T18:00:00Z")), 1L),
          ("b", java.sql.Timestamp.from(java.time.Instant.parse("1970-01-01T06:00:00Z")), 2L))
          .toDF("id", "ts", "v")
        val ot = TxTable.create(spark, oldDir, preRows.limit(0), Seq("id"), numBuckets = 2)
        ot.setPartitioning("days(ts)")
        ot.merge(preRows)
        import scala.jdk.CollectionConverters._
        val pdirs = java.nio.file.Files.walk(java.nio.file.Paths.get(oldDir, "data"))
          .iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("_p=")).toSet
        assert(pdirs == Set("_p=-1", "_p=0"),
          s"pre-epoch day must be FLOOR (-1), got $pdirs")
        val got = spark.read.format("graft").load(oldDir)
          .filter(col("ts") < lit(java.sql.Timestamp.from(
            java.time.Instant.parse("1970-01-01T00:00:00Z")))).collect()
        assert(got.map(_.getString(0)).toSeq == Seq("a"),
          "pre-epoch day probe lost or invented rows")
      } finally TxTable.drop(oldDir)
    } finally TxTable.drop(dir)
  }

  test("directory-level listing pruning: refuted _p= subtrees are never descended, let alone read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_dirprune").toString
    try {
      import spark.implicits._
      val day0 = java.time.Instant.parse("2024-03-01T00:00:00Z")
      // 30 days × 50 rows, day-partitioned from birth.
      val base = (0 until 1500).map { i =>
        (s"k$i", java.sql.Timestamp.from(day0.plusSeconds((i % 30) * 86400L + i)), i.toLong)
      }.toDF("id", "ts", "v")
      val t = TxTable.create(spark, dir, base.limit(0), Seq("id"), numBuckets = 4)
      t.setPartitioning("days(ts)")
      t.merge(base)

      // The walk only happens on the stats-manifest FALLBACK path (the
      // manifest serves the listing with no directory I/O at all), so
      // this test pins the walk explicitly.
      def planned(filters: Array[org.apache.spark.sql.sources.Filter]) =
        GraftDataSource.plannedPartitions(dir, filters, Map("ignoreStatsManifest" -> "true"))
      import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
      val lo = java.time.Instant.parse("2024-03-10T00:00:00Z")
      val hi = java.time.Instant.parse("2024-03-13T00:00:00Z")
      // Listing-count assertion: the walk visits ONLY admitted day dirs.
      // (A poisoned file alone cannot distinguish this tier from the
      // per-file path check — an unlisted file and a listed-but-refuted
      // file are equally unread — so observe the walk itself.)
      val visited = scala.collection.mutable.Set.empty[Long]
      graft.sources.GraftDataSource.partDirProbe = { p =>
        visited.synchronized { visited +=
          p.split('/').last.stripPrefix("_p=").toLong }
      }
      try {
        planned(Array(GreaterThanOrEqual("ts", lo), LessThan("ts", hi)))
        val admittedDays = (lo.getEpochSecond / 86400L) until (hi.getEpochSecond / 86400L)
        assert(visited.nonEmpty && visited.forall(admittedDays.contains),
          s"walk descended refuted day dirs: ${visited.toSeq.sorted} vs $admittedDays")
        // And an unpruned plan descends far more (every day dir).
        visited.clear()
        planned(Array(GreaterThanOrEqual("v", 0L))) // zone-eligible, admits all
        assert(visited.size > 3 * admittedDays.size,
          s"full plan should visit ~all day dirs, saw ${visited.size}")
      } finally graft.sources.GraftDataSource.partDirProbe = _ => ()

      // Belt and braces: poison EVERY file outside the band — the pruned
      // read stays right without ever opening them.
      val bandFiles = planned(Array(GreaterThanOrEqual("ts", lo), LessThan("ts", hi)))
        .collect { case p: graft.sources.GraftInputPartition => p }.flatMap(_.files).toSet
      val allFiles = planned(Array.empty)
        .collect { case p: graft.sources.GraftInputPartition => p }.flatMap(_.files)
      val backups = allFiles.filterNot(bandFiles.contains).map { f =>
        val p = java.nio.file.Paths.get(f)
        val orig = java.nio.file.Files.readAllBytes(p)
        java.nio.file.Files.write(p, "POISON".getBytes("UTF-8"))
        (p, orig)
      }
      try {
        val pred = col("ts") >= lit(java.sql.Timestamp.from(lo)) &&
          col("ts") < lit(java.sql.Timestamp.from(hi))
        assert(spark.read.format("graft").load(dir).filter(pred).count() ==
          base.filter(pred).count(), "dir-pruned read wrong or touched poison")
      } finally backups.foreach { case (p, orig) => java.nio.file.Files.write(p, orig) }
    } finally TxTable.drop(dir)
  }

  test("partition-covered COUNT(*) answers from per-file sidecars; straddling probes fall back") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_rangedcount").toString
    try {
      import spark.implicits._
      val day0 = java.time.Instant.parse("2024-03-01T00:00:00Z")
      val base = (0 until 2000).map { i =>
        (s"k$i", java.sql.Timestamp.from(day0.plusSeconds((i % 20) * 86400L + (i % 86400))), i.toLong)
      }.toDF("id", "ts", "v")
      val t = TxTable.create(spark, dir, base.limit(0), Seq("id"), numBuckets = 4)
      t.setPartitioning("days(ts)")
      t.merge(base)

      val lo = java.sql.Timestamp.from(java.time.Instant.parse("2024-03-05T00:00:00Z"))
      val hi = java.sql.Timestamp.from(java.time.Instant.parse("2024-03-08T00:00:00Z"))
      val covered = connRead(dir, "keys" -> "id")
        .filter(col("ts") >= lit(lo) && col("ts") < lit(hi)).groupBy().count()
      assert(covered.queryExecution.executedPlan.toString
        .contains("partition-covered"),
        "day-aligned ranged COUNT should plan the sidecar tier:\n" +
          covered.queryExecution.executedPlan.toString)
      val expect = base.filter(col("ts") >= lit(lo) && col("ts") < lit(hi)).count()
      assert(covered.head().getLong(0) == expect, "ranged metadata count wrong")

      // ZERO data I/O proof: poison EVERY parquet file — the covered
      // count still answers (sidecars + paths only).
      import scala.jdk.CollectionConverters._
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "data"))
        .iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
      val backups = files.map { p =>
        val orig = java.nio.file.Files.readAllBytes(p)
        java.nio.file.Files.write(p, "POISON".getBytes("UTF-8"))
        (p, orig)
      }
      try {
        assert(connRead(dir, "keys" -> "id")
          .filter(col("ts") >= lit(lo) && col("ts") < lit(hi)).groupBy().count()
          .head().getLong(0) == expect,
          "covered count touched a data file")
      } finally backups.foreach { case (p, orig) => java.nio.file.Files.write(p, orig) }

      // BOUNDARY-STRADDLING probe (12:00 edge): provably falls back —
      // no stats scan in the plan, and the scanned count is still right.
      val mid = java.sql.Timestamp.from(java.time.Instant.parse("2024-03-05T12:00:00Z"))
      val straddle = connRead(dir, "keys" -> "id")
        .filter(col("ts") >= lit(mid) && col("ts") < lit(hi)).groupBy().count()
      assert(!straddle.queryExecution.executedPlan.toString
        .contains("partition-covered"),
        "straddling probe must not claim the sidecar tier")
      assert(straddle.head().getLong(0) ==
        base.filter(col("ts") >= lit(mid) && col("ts") < lit(hi)).count())

      // The exact filter is CONSUMED for plain row reads too: the pruned
      // scan returns exactly the matching rows with no residual filter.
      val rows = connRead(dir, "keys" -> "id")
        .filter(col("ts") >= lit(lo) && col("ts") < lit(hi))
      assert(rows.collect().map(_.getString(0)).sorted.toSeq ==
        base.filter(col("ts") >= lit(lo) && col("ts") < lit(hi))
          .collect().map(_.getString(0)).sorted.toSeq,
        "exact-filter scan lost or invented rows")

      // A DV'd bucket refuses the sidecar count (live rows changed).
      t.deleteMergeOnRead(Seq("k100").toDF("id"))
      val afterDv = connRead(dir, "keys" -> "id")
        .filter(col("ts") >= lit(lo) && col("ts") < lit(hi)).groupBy().count()
      assert(!afterDv.queryExecution.executedPlan.toString
        .contains("partition-covered"))
      assert(afterDv.head().getLong(0) ==
        base.filter(col("ts") >= lit(lo) && col("ts") < lit(hi) &&
          col("id") =!= "k100").count())
    } finally TxTable.drop(dir)
  }

  test("exact-tier shape gate: <>/IS NULL stay residual; In probes are exact, counted, and refuted") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_shapegate").toString
    try {
      import spark.implicits._
      import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
      def residualFilter(df: org.apache.spark.sql.DataFrame): Boolean =
        df.queryExecution.optimizedPlan.collect { case f: LFilter => f }.nonEmpty
      val day0 = java.time.LocalDate.of(2024, 3, 1)
      // DATE column: days(d) intervals are single points, so day-valued
      // EqualTo/In probes are exactly decidable for every file.
      val base = (0 until 2000).map { i =>
        (s"k$i", java.sql.Date.valueOf(day0.plusDays(i % 20)), i.toLong)
      }.toDF("id", "d", "v")
      val t = TxTable.create(spark, dir, base.limit(0), Seq("id"), numBuckets = 4)
      t.setPartitioning("days(d)")
      t.merge(base)

      // <> (arrives as Not(EqualTo)): coverage() could DECIDE it per
      // file, but the scan-side refutation tier cannot evaluate Not —
      // consuming it would return the excluded day. It must stay a
      // residual Filter and the answer must exclude exactly day 7.
      val x = java.sql.Date.valueOf(day0.plusDays(7))
      val neq = connRead(dir, "keys" -> "id").filter(col("d") =!= lit(x))
      assert(residualFilter(neq), "<> must keep a residual Filter node")
      assert(neq.count() == base.filter(col("d") =!= lit(x)).count(),
        "<> lost or invented rows")
      assert(neq.collect().forall(_.getDate(1) != x), "<> returned the excluded day")

      // IS NULL on a fully day-partitioned table: every file would be
      // coverage-0, but no tier can refute an IsNull leaf — residual
      // Filter stays and the answer is empty, not the whole table.
      val isn = connRead(dir, "keys" -> "id").filter(col("d").isNull)
      assert(residualFilter(isn), "IS NULL must keep a residual Filter node")
      assert(isn.count() == 0, "IS NULL returned rows on a non-null column")

      // The gate is STRUCTURAL: an Or tree with one refutable side and
      // one IsNull side must also stay residual (fileAdmits would admit
      // every file through the IsNull arm).
      val orNull = connRead(dir, "keys" -> "id")
        .filter(col("d") === lit(x) || col("d").isNull)
      assert(residualFilter(orNull), "Or(=, IS NULL) must stay residual")
      assert(orNull.count() == base.filter(col("d") === lit(x)).count())

      // In over two days IS exactly accepted (no residual), prunes to
      // the two day dirs (poison-proof), and a COUNT(*) under it answers
      // from the sidecar tier.
      val d3 = java.sql.Date.valueOf(day0.plusDays(3))
      val d11 = java.sql.Date.valueOf(day0.plusDays(11))
      val inPred = col("d").isin(d3, d11)
      val inExpect = base.filter(inPred).collect().map(_.getString(0)).sorted.toSeq
      val keepDirs = Set(day0.plusDays(3).toEpochDay, day0.plusDays(11).toEpochDay)
        .map(e => s"_p=$e")
      import scala.jdk.CollectionConverters._
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "data"))
        .iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
      val backups = files.filterNot(f =>
        keepDirs.exists(f.toString.contains)).map { p =>
        val orig = java.nio.file.Files.readAllBytes(p)
        java.nio.file.Files.write(p, "POISON".getBytes("UTF-8"))
        (p, orig)
      }
      try {
        assert(backups.nonEmpty)
        val inDf = connRead(dir, "keys" -> "id").filter(inPred)
        assert(!residualFilter(inDf),
          "day-valued In should be consumed by the exact tier")
        assert(inDf.collect().map(_.getString(0)).sorted.toSeq == inExpect,
          "exact In scan wrong — or it opened a refuted (poisoned) file")
        val cnt = connRead(dir, "keys" -> "id").filter(inPred).groupBy().count()
        assert(cnt.queryExecution.executedPlan.toString.contains("partition-covered"),
          "In-covered COUNT should plan the sidecar tier")
        assert(cnt.head().getLong(0) == inExpect.length.toLong)
      } finally backups.foreach { case (p, orig) => java.nio.file.Files.write(p, orig) }

      // NUMERIC zone tier: an In point probe on the bucket-correlated
      // column refutes 7 of 8 buckets at planning (was dead code — the
      // In arm never fired).
      val zdir = java.nio.file.Files.createTempDirectory("graft_dsv2_zonein").toString
      try {
        val zbase = (0 until 4000).map(i => s"k$i").toDF("k")
          .withColumn("b", pmod(xxhash64(col("k")), lit(8)))
          .withColumn("v", col("b") * 1000 + pmod(xxhash64(col("k"), lit(7)), lit(1000)))
          .drop("b")
        TxTable.create(spark, zdir, zbase, Seq("k"), numBuckets = 8,
          zoneMapCols = Seq("v"))
        def planned(f: Array[org.apache.spark.sql.sources.Filter], d: String) =
          GraftDataSource.plannedPartitions(d, f)
        assert(planned(Array.empty, zdir).length == 8)
        val zin = planned(Array(org.apache.spark.sql.sources.In(
          "v", Array[Any](2100L, 2150L))), zdir)
        assert(zin.length == 1,
          s"numeric In probe must refute 7 of 8 buckets, planned ${zin.length}")
        // Null members are stripped, not a refutation blocker.
        val zinNull = planned(Array(org.apache.spark.sql.sources.In(
          "v", Array[Any](2100L, null))), zdir)
        assert(zinNull.length == 1, "In with a null member must still refute")

        // STRING bounds tier: In point probes over truncated bounds
        // refute buckets whose [L, U] excludes every member.
        val sdir = java.nio.file.Files.createTempDirectory("graft_dsv2_strin").toString
        try {
          val pfx = array(lit("aaa"), lit("bbb"), lit("ccc"), lit("ddd"))
          val sbase = (0 until 2000).map(i => s"k$i").toDF("k")
            .withColumn("s", concat(
              element_at(pfx, (pmod(xxhash64(col("k")), lit(4)) + 1).cast("int")),
              lit("-"), col("k")))
          TxTable.create(spark, sdir, sbase, Seq("k"), numBuckets = 4,
            zoneMapCols = Seq("s"))
          val two = sbase.select("s").distinct().collect().map(_.getString(0))
          val probeA = two.find(_.startsWith("aaa-")).get
          val probeC = two.find(_.startsWith("ccc-")).get
          assert(planned(Array.empty, sdir).length == 4)
          val sin = planned(Array(org.apache.spark.sql.sources.In(
            "s", Array[Any](probeA, probeC))), sdir)
          assert(sin.length == 2,
            s"string In probe must refute 2 of 4 buckets, planned ${sin.length}")
        } finally TxTable.drop(sdir)
      } finally TxTable.drop(zdir)
    } finally TxTable.drop(dir)
  }

  test("months(date) partitioning prunes by month; mixed-transform eras each prune by their own spec") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_months").toString
    try {
      import spark.implicits._
      // DATE column spanning 24 months; months are intrinsic to a DATE
      // (no timezone), so the index is session-proof.
      val day0 = java.time.LocalDate.of(2023, 1, 1)
      val base = (0 until 2400).map { i =>
        (s"k$i", java.sql.Date.valueOf(day0.plusDays(i % 720)))
      }.toDF("id", "d")
      val t = TxTable.create(spark, dir, base.limit(0), Seq("id"), numBuckets = 4)
      t.setPartitioning("months(d)")
      t.merge(base)

      def planned(filters: Array[org.apache.spark.sql.sources.Filter]) =
        GraftDataSource.plannedPartitions(dir, filters)
      import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
      val all = planned(Array.empty).flatMap(_.files)
      // One month of 24: planned files must shrink accordingly.
      val mLo = java.sql.Date.valueOf("2023-03-01")
      val mHi = java.sql.Date.valueOf("2023-04-01")
      val band = planned(Array(
        GreaterThanOrEqual("d", mLo), LessThan("d", mHi))).flatMap(_.files)
      assert(band.nonEmpty && band.length * 8 <= all.length,
        s"one-month probe planned ${band.length} of ${all.length} files")
      val pred = col("d") >= lit(mLo) && col("d") < lit(mHi)
      assert(spark.read.format("graft").load(dir).filter(pred).count() ==
        base.filter(pred).count(), "month-pruned read lost rows")

      // EVOLUTION to a FINER transform: later commits under days(d) —
      // each era prunes by exactly its own recorded _pspec.
      t.setPartitioning("days(d)")
      t.merge(Seq(("kNEW1", java.sql.Date.valueOf("2023-03-05")),
        ("kNEW2", java.sql.Date.valueOf("2024-07-07"))).toDF("id", "d"))
      import scala.jdk.CollectionConverters._
      val specs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "data"))
        .iterator().asScala
        .filter(_.getFileName.toString == "_pspec.txt")
        .map(p => java.nio.file.Files.readString(p).trim).toSet
      assert(specs == Set("months(d)", "days(d)"),
        s"mixed-transform eras must each record their own spec, got $specs")
      val band2 = planned(Array(
        GreaterThanOrEqual("d", mLo), LessThan("d", mHi))).flatMap(_.files)
      assert(band2.length < planned(Array.empty).flatMap(_.files).length,
        "pruning must survive the transform evolution")
      assert(spark.read.format("graft").load(dir).filter(pred).count() ==
        base.filter(pred).count() + 1, // kNEW1 is in March 2023
        "mixed-era month probe wrong")
    } finally TxTable.drop(dir)
  }

  test("widened columns skip SAFELY: every tier refuses, no row lost, compact restores skipping") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_widen").toString
    try {
      import spark.implicits._
      val base = (0 until 2000).map(i => (s"k$i", i)).toDF("k", "v")
      val t = TxTable.create(spark, dir, base, Seq("k"), numBuckets = 8,
        bloomCols = Seq("v"), zoneMapCols = Seq("v"))
      t.widenColumn("v", "BIGINT")

      def planned(filters: Array[org.apache.spark.sql.sources.Filter]): Int =
        GraftDataSource.plannedPartitions(dir, filters).length
      import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
      // Both planning tiers must REFUSE the widened column (its sidecars
      // record the int32 write-time type; the probe value is a long) —
      // conservative no-skip, planned = all 8 buckets, and no row lost.
      assert(planned(Array(EqualTo("v", 7L))) == 8,
        "bucket bloom must refuse a widened column, not mis-refute")
      assert(planned(Array(GreaterThanOrEqual("v", 7L),
        LessThanOrEqual("v", 9L))) == 8,
        "zone map must refuse a widened column, not mis-refute")
      val got = spark.read.format("graft").load(dir)
        .filter(col("v") === 7L).collect()
      assert(got.length == 1 && got.head.getAs[Long]("v") == 7L,
        "widened-column lookup lost the row")
      assert(spark.read.format("graft").load(dir)
        .filter(col("v").between(100L, 110L)).count() == 11,
        "widened-column range scan wrong")

      // A compact() rewrites everything under the wide type: the sidecar
      // guards now MATCH and both tiers prune again.
      t.compact()
      assert(planned(Array(EqualTo("v", 7L))) < 8,
        "post-compact bloom should prune the rewritten (bigint) layout")
      assert(spark.read.format("graft").load(dir)
        .filter(col("v") === 7L).count() == 1)
    } finally TxTable.drop(dir)
  }

  test("sorted compaction makes row-group skipping effective for range predicates") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_sortcompact").toString
    // Small row groups so one bucket file holds MANY of them — the unit
    // the footer-stats skipping operates on.
    try graft.core.Session.withConf(spark,
        "parquet.block.size" -> 64 * 1024, "parquet.page.size" -> 16 * 1024) {
      import spark.implicits._
      // Values in pseudo-random order: on the unsorted layout every row
      // group's min/max spans nearly the full domain, so a narrow range
      // predicate can skip NOTHING; after compact(sortBy = v) each row
      // group covers a tight slice and the same predicate decodes only
      // the few admitting groups.
      val nRows = 200000
      val base = (0 until nRows)
        .map(i => (s"k$i", (i.toLong * 2654435761L) % nRows)).toDF("k", "v")
      val t = TxTable.create(spark, dir, base, Seq("k"), numBuckets = 1)
      def conn = spark.read.format("graft").load(dir)
      val pred = col("v") >= 1000L && col("v") < 3000L
      val expected = base.filter(pred).count()

      def scanRows(): Long = {
        val q = conn.filter(pred)
        assert(q.collect().length == expected, "range query wrong")
        q.queryExecution.executedPlan.collectLeaves()
          .flatMap(_.metrics.get("numOutputRows").map(_.value)).sum
      }
      val unsorted = scanRows()
      t.compact(0, Seq("v"))
      val sorted = scanRows()
      assert(t.snapshot().count() == nRows, "sorted compaction changed the row count")
      assert(unsorted > nRows / 2,
        s"unsorted layout unexpectedly skipped (emitted $unsorted of $nRows) — " +
          "the baseline premise broke")
      assert(sorted < unsorted / 10,
        s"sorted layout must skip most row groups: emitted $sorted vs unsorted $unsorted")
      assert(sorted >= expected, "scan emitted fewer rows than the predicate matches")
    } finally TxTable.drop(dir)
  }

  test("z-order compaction: range predicates on BOTH dimensions skip in one layout") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_zorder").toString
    try graft.core.Session.withConf(spark,
        "parquet.block.size" -> 64 * 1024, "parquet.page.size" -> 16 * 1024) {
      import spark.implicits._
      // Two independent pseudo-random dimensions: unsorted, every row
      // group spans both domains; a 1-D sort would serve only its leading
      // column — z-order must serve BOTH.
      val nRows = 200000
      val base = (0 until nRows).map { i =>
        (s"k$i", (i.toLong * 2654435761L) % nRows, (i.toLong * 40503L) % nRows)
      }.toDF("k", "x", "y")
      val t = TxTable.create(spark, dir, base, Seq("k"), numBuckets = 1)
      def conn = spark.read.format("graft").load(dir)
      val predX = col("x") >= 1000L && col("x") < 3000L
      val predY = col("y") >= 5000L && col("y") < 7000L
      def scanRows(pred: org.apache.spark.sql.Column, expect: Long): Long = {
        val q = conn.filter(pred)
        assert(q.collect().length == expect, "range query wrong")
        q.queryExecution.executedPlan.collectLeaves()
          .flatMap(_.metrics.get("numOutputRows").map(_.value)).sum
      }
      val (ex, ey) = (base.filter(predX).count(), base.filter(predY).count())
      val (ux, uy) = (scanRows(predX, ex), scanRows(predY, ey))
      t.compactZOrder(Seq("x", "y"))
      val (zx, zy) = (scanRows(predX, ex), scanRows(predY, ey))
      assert(t.snapshot().count() == nRows, "z-order compaction changed the row count")
      assert(ux > nRows / 2 && uy > nRows / 2,
        s"unsorted layout unexpectedly skipped ($ux, $uy of $nRows)")
      assert(zx * 2 <= ux, s"x dimension must skip >=2x: emitted $zx vs unsorted $ux")
      assert(zy * 2 <= uy, s"y dimension must skip >=2x: emitted $zy vs unsorted $uy")
      assert(zx >= ex && zy >= ey, "scan emitted fewer rows than the predicates match")
    } finally TxTable.drop(dir)
  }

  test("string predicates skip row groups via binary footer statistics on a sorted layout") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_strskip").toString
    try graft.core.Session.withConf(spark,
        "parquet.block.size" -> 32 * 1024, "parquet.page.size" -> 8 * 1024) {
      import spark.implicits._
      // Zero-padded tokens: lexical order == numeric order, so a sorted
      // layout gives each row group a narrow token slice. Values are
      // scattered (i*37 % n) so the UNSORTED layout has full-span stats
      // in every group — the contrast the certificate needs.
      val n = 20000
      val base = (0 until n).map(i => (s"k$i", f"tok-${(i * 37) % n}%08d"))
        .toDF("k", "s")
      val t = TxTable.create(spark, dir, base, Seq("k"), numBuckets = 1)
      def conn = spark.read.format("graft").load(dir)
      val pred = col("s") >= lit(f"tok-${3000}%08d") && col("s") <= lit(f"tok-${3500}%08d")
      def emitted(): Long = {
        val q = conn.filter(pred)
        q.collect()
        q.queryExecution.executedPlan.collectLeaves()
          .flatMap(_.metrics.get("numOutputRows").map(_.value)).sum
      }
      val expect = base.filter(pred).count()
      assert(expect == 501)
      val unsorted = emitted()
      t.compact(0, Seq("s"))
      assert(conn.filter(pred).count() == expect, "sorted rewrite changed rows")
      val sorted = emitted()
      assert(sorted * 2 <= unsorted,
        s"string range on sorted layout must skip row groups: $unsorted -> $sorted")
      // Equality probe narrows to ~one group's rows too.
      val eq = conn.filter(col("s") === f"tok-${7777}%08d")
      eq.collect()
      val eqRows = eq.queryExecution.executedPlan.collectLeaves()
        .flatMap(_.metrics.get("numOutputRows").map(_.value)).sum
      assert(eqRows * 4 <= n,
        s"string equality read $eqRows of $n rows — footer stats not consulted")
    } finally TxTable.drop(dir)
  }

  test("column indexes skip PAGES inside admitted row groups on a sorted layout") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_colindex").toString
    // FEW big row groups, MANY small pages each: row-group stats are the
    // coarse unit, the column index is the fine one.
    try graft.core.Session.withConf(spark,
        "parquet.block.size" -> 512 * 1024, "parquet.page.size" -> 4 * 1024) {
      import spark.implicits._
      val nRows = 400000
      val base = (0 until nRows)
        .map(i => (s"k$i", (i.toLong * 2654435761L) % nRows)).toDF("k", "v")
      val t = TxTable.create(spark, dir, base, Seq("k"), numBuckets = 1)
      t.compact(0, Seq("v"))

      // The writer must EMIT column indexes (parquet-mr default since
      // 1.11) — read them back from the one data file's footer.
      import scala.jdk.CollectionConverters._
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "data"))
        .iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
      val live = files.filter { f => // compact leaves the v0 commit for time travel
        f.toString.contains(t.layoutAt(t.version).values.head._1)
      }
      assert(live.size == 1, s"expected one live data file, got $live")
      val pf = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(live.head.toString),
          new org.apache.hadoop.conf.Configuration()))
      val (minGroupRows, nGroups, hasIndex) = try {
        val blocks = pf.getFooter.getBlocks.asScala
        val vChunk = blocks.head.getColumns.asScala
          .find(_.getPath.toDotString == "v").get
        (blocks.map(_.getRowCount).min, blocks.size,
          pf.readColumnIndex(vChunk) != null)
      } finally pf.close()
      assert(hasIndex, "writer did not emit a column index for v")
      assert(nGroups >= 2, s"need several row groups for the contrast, got $nGroups")

      // A narrow range on the sorted column: row-group skipping admits
      // one group; the column index must then skip PAGES inside it, so
      // the scan emits strictly fewer rows than ANY whole row group.
      val pred = col("v") >= 1000L && col("v") < 1200L
      val q = spark.read.format("graft").load(dir).filter(pred)
      val got = q.collect().length
      assert(got == base.filter(pred).count(), "range query wrong")
      val emitted = q.queryExecution.executedPlan.collectLeaves()
        .flatMap(_.metrics.get("numOutputRows").map(_.value)).sum
      assert(emitted < minGroupRows,
        s"scan emitted $emitted rows — not finer than the smallest row group " +
          s"($minGroupRows): page-level skipping is not engaging")
      assert(emitted >= got, "scan emitted fewer rows than the predicate matches")
    } finally TxTable.drop(dir)
  }

  test("bloom filters skip row groups for point lookups on an UNSORTED column") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_bloom").toString
    val dir2 = java.nio.file.Files.createTempDirectory("graft_dsv2_nobloom").toString
    try graft.core.Session.withConf(spark,
        "parquet.block.size" -> 64 * 1024, "parquet.page.size" -> 16 * 1024) {
      import spark.implicits._
      // High-cardinality values in pseudo-random order: every row group's
      // min/max spans nearly the full domain, so footer STATS admit all of
      // them for any point probe — only a bloom can refute row groups here
      // (s49's sorted clustering can't serve this column; it's the "every
      // other equality column" case).
      val nRows = 200000
      val base = (0 until nRows)
        .map(i => (s"k$i", (i.toLong * 2654435761L) % 1000000007L)).toDF("k", "v")
      val t = TxTable.create(spark, dir, base, Seq("k"), numBuckets = 1,
        bloomCols = Seq("v"))
      TxTable.create(spark, dir2, base, Seq("k"), numBuckets = 1)
      assert(t.bloomColumns == Seq("v"), "bloom sidecar not persisted")

      val probe = (777L * 2654435761L) % 1000000007L // exactly one matching row
      def scanRows(d: String): Long = {
        val q = spark.read.format("graft").load(d).filter(col("v") === probe)
        assert(q.collect().map(_.getString(0)).toSeq == Seq("k777"),
          "point lookup wrong")
        q.queryExecution.executedPlan.collectLeaves()
          .flatMap(_.metrics.get("numOutputRows").map(_.value)).sum
      }
      val without = scanRows(dir2)
      val withBloom = scanRows(dir)
      assert(without > nRows / 2,
        s"bloom-less layout unexpectedly skipped (emitted $without of $nRows) — " +
          "the baseline premise broke")
      assert(withBloom < without / 10,
        s"bloom must refute most row groups: emitted $withBloom vs $without without")
      assert(withBloom >= 1, "scan emitted fewer rows than the probe matches")
    } finally { TxTable.drop(dir); TxTable.drop(dir2) }
  }

  test("bucket blooms auto-size up from written row counts — no silent saturation") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_bloomauto").toString
    def hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    try {
      import spark.implicits._
      // Declare a bloom far too small for the data (1024 bits, 20k
      // distinct values, ONE bucket): without auto-sizing the build
      // saturates and an absent-value probe admits the bucket — the
      // tier silently stops refuting (the SkipScale finding). The
      // write path must size up from the just-written row counts.
      val base = (0 until 20000).map(i => (s"k$i", hex(s"k$i"))).toDF("k", "token")
      val t = TxTable.create(spark, dir, base.limit(0), Seq("k"), numBuckets = 1)
      t.setBloomColumns(Seq("token"), indexBits = 1024)
      t.merge(base)
      def partitions(filters: Array[org.apache.spark.sql.sources.Filter]): Int =
        GraftDataSource.plannedPartitions(dir, filters).length
      assert(partitions(Array(EqualTo("token", hex("nope")))) == 0,
        "auto-sized bloom must still refute an absent value at 20k rows " +
          "(a saturated 1024-bit build would admit the bucket)")
      assert(partitions(Array(EqualTo("token", hex("k7")))) == 1,
        "present value must keep planning its bucket")
      assert(spark.read.format("graft").load(dir)
        .filter(col("token") === hex("k7")).count() == 1)
    } finally TxTable.drop(dir)
  }

  test("bucket-tier bloom index refutes whole buckets for non-key point lookups") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_bbloom").toString
    def hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    try {
      import spark.implicits._
      // High-cardinality NON-key column: key-hash pruning can't serve a
      // predicate on it, and md5 tokens give every bucket's min/max the
      // full domain — only the _bloomidx sidecar can refute buckets at
      // the listing tier (row-group blooms would still open every footer).
      val base = (0 until 4000).map(i => (s"k$i", hex(s"k$i"))).toDF("k", "token")
      val t = TxTable.create(spark, dir, base, Seq("k"), numBuckets = 16,
        bloomCols = Seq("token"))

      // This test POKES the _bloomidx files, so it pins the per-bucket
      // sidecar-FILE path explicitly (ignoreStatsManifest) — the
      // consolidated manifest path is certified by its own spec.
      def partitions(filters: Array[org.apache.spark.sql.sources.Filter]): Int =
        GraftDataSource.plannedPartitions(dir, filters,
          Map("keys" -> "k", "ignoreStatsManifest" -> "true")).length
      def rowsFor(c: String, vs: String*): Seq[String] =
        spark.read.format("graft").option("keys", "k")
          .option("ignoreStatsManifest", "true").load(dir)
          .filter(col(c).isin(vs: _*)).collect().map(_.getString(0)).sorted.toSeq

      val full = partitions(Array.empty)
      assert(full == 16, "unfiltered scan must plan every bucket")
      val probe = hex("k777")
      val planned = partitions(Array(EqualTo("token", probe)))
      assert(planned >= 1 && planned <= 2,
        s"bloom index should refute ~15 of 16 buckets, planned $planned")
      assert(rowsFor("token", probe) == Seq("k777"),
        "bloom-pruned lookup lost the matching row")

      // In-list: a bucket survives if ANY value might be present.
      val probes = Seq(hex("k7"), hex("k123"))
      val plannedIn = partitions(Array(
        org.apache.spark.sql.sources.In("token", probes.toArray[Any])))
      assert(plannedIn >= 1 && plannedIn <= 4,
        s"In-list bloom prune admitted $plannedIn of 16 buckets")
      assert(rowsFor("token", probes: _*) == Seq("k123", "k7"),
        "In-list bloom prune lost rows")

      // Copy-on-write keeps the index consistent: a merge rewrites only
      // its touched buckets (fresh sidecars) while untouched buckets keep
      // their existing ones — pruning and results stay exact.
      t.merge(t.snapshot().filter(col("k").endsWith("77"))
        .withColumn("token", lit(hex("rewritten"))))
      assert(rowsFor("token", hex("rewritten")).nonEmpty,
        "post-merge lookup on the NEW value lost rows")
      assert(rowsFor("token", probe).isEmpty,
        "post-merge lookup still returns the overwritten value")
      assert(partitions(Array(EqualTo("token", hex("zzz-absent")))) == 0,
        "absent value should refute every bucket")

      // RENAME: the sidecar under the old physical name must keep serving
      // the logical column through the alias record.
      t.renameColumn("token", "tok")
      val plannedAlias = partitions(Array(EqualTo("tok", hex("rewritten"))))
      assert(plannedAlias < 16 && plannedAlias >= 1,
        s"alias-resolved bloom prune planned $plannedAlias")
      assert(rowsFor("tok", hex("rewritten")).nonEmpty,
        "alias-resolved lookup lost rows")

      // TYPE GUARD: a sidecar whose header records a different write-time
      // type must be refused (a widened column hashes differently), never
      // used to mis-refute.
      import scala.jdk.CollectionConverters._
      val data = java.nio.file.Paths.get(dir, "data")
      java.nio.file.Files.walk(data).iterator().asScala
        .filter(_.getFileName.toString == "_bloomidx.token.bin")
        .foreach { p =>
          val bytes = java.nio.file.Files.readAllBytes(p)
          val nl = bytes.indexOf('\n'.toByte)
          val body = bytes.drop(nl + 1)
          java.nio.file.Files.write(p,
            "graftbloom\ttoken\tbigint\n".getBytes("UTF-8") ++ body)
        }
      assert(partitions(Array(EqualTo("tok", hex("rewritten")))) == 16,
        "type-mismatched bloom index must be refused, not trusted")
      assert(rowsFor("tok", hex("rewritten")).nonEmpty,
        "type-guarded lookup lost rows")
    } finally TxTable.drop(dir)
  }

  test("column statistics: exact key NDV + true bounds; a gapped sidecar refuses, never misreports") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_colstats").toString
    try {
      val base = (0 until 4000)
        .map(i => (i.toLong, ((i * 37) % 4000).toLong * 100, s"g${i % 3}"))
        .toDF("k", "price_cents", "g")
      val t = TxTable.create(spark, dir, base, Seq("k"), numBuckets = 4,
        zoneMapCols = Seq("price_cents"))
      def stats() = spark.read.format("graft").load(dir)
        .queryExecution.optimizedPlan.collectFirst {
          case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
            r.stats
        }.get
      def colStat(name: String) = stats().attributeStats
        .find(_._1.name == name).map(_._2)
      assert(stats().rowCount.contains(BigInt(4000)))
      assert(colStat("k").exists(_.distinctCount.contains(BigInt(4000))),
        "single-key tables must report exact key NDV from the row sidecars")
      assert(colStat("price_cents").exists(s =>
        s.min.contains(0L) && s.max.contains(399900L)),
        "zone-mapped long column must report its true extrema")
      // Remove ONE bucket's zone sidecar (and the consolidated stats
      // manifest that also carries it): bounds for the column become
      // unknowable and must DISAPPEAR (a wrong stat would mis-steer the
      // optimizer); the key NDV rides _rows.txt and must survive.
      val zm = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "data"))
        .filter(_.getFileName.toString == "_zonemap.txt").findFirst().get()
      java.nio.file.Files.delete(zm)
      java.nio.file.Files.list(java.nio.file.Paths.get(dir, "_log"))
        .filter(_.getFileName.toString.startsWith("stats-v"))
        .forEach(p => java.nio.file.Files.delete(p))
      assert(colStat("price_cents").forall(s =>
        !s.min.isDefined && !s.max.isDefined),
        "a sidecar gap must withdraw the column's bounds, not misreport them")
      assert(colStat("k").exists(_.distinctCount.contains(BigInt(4000))),
        "key NDV must survive a zone-map gap (different sidecar)")
    } finally TxTable.drop(dir)
  }

  test("COUNT(*) is served from the write-time _rows.txt sidecars, not footers") {
    val (dir, t) = freshTable("graft_dsv2_rows")
    try {
      // Pin the per-bucket sidecar-FILE path (the pokes below rewrite
      // _rows.txt; the consolidated manifest has its own spec).
      def connNoStats = connRead(dir, "ignoreStatsManifest" -> "true")
      val cnt = connNoStats.groupBy().count()
      assert(cnt.queryExecution.executedPlan.toString.contains("manifest row counts"),
        "clean COUNT(*) should plan the sidecar-count path")
      val native = t.snapshot().count()
      assert(cnt.head().getLong(0) == native, "metadata count wrong")

      // Poison one sidecar: the metadata count must REFLECT the poke —
      // the only way that happens is if the sidecar (not the footer)
      // served the count. Restore afterwards and the truth returns.
      import scala.jdk.CollectionConverters._
      val sidecar = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "data"))
        .iterator().asScala.find(_.getFileName.toString == "_rows.txt").get
      val orig = java.nio.file.Files.readString(sidecar)
      // Poke the TOTAL (v2 line 1) and keep the per-file lines intact.
      val lines = orig.linesIterator.toList
      java.nio.file.Files.writeString(sidecar,
        ((lines.head.trim.toLong + 1000).toString +: lines.tail).mkString("\n"))
      assert(connNoStats.groupBy().count().head().getLong(0) == native + 1000,
        "COUNT(*) did not come from the sidecar")
      // A CORRUPT sidecar is advisory like a missing one: the count path
      // must fall back to that bucket's footer record counts, never
      // throw (the documented contract; the numRows stats path already
      // had the Try — this pins the count path's parity with it).
      java.nio.file.Files.writeString(sidecar, "not-a-number")
      assert(connNoStats.groupBy().count().head().getLong(0) == native,
        "corrupt _rows.txt must fall back to footer counts, not fail")
      java.nio.file.Files.writeString(sidecar, "")
      assert(connNoStats.groupBy().count().head().getLong(0) == native,
        "empty _rows.txt must fall back to footer counts, not fail")
      java.nio.file.Files.writeString(sidecar, orig)
      assert(connNoStats.groupBy().count().head().getLong(0) == native)

      // The optimizer-facing statistic: exact numRows from the sidecars.
      val scan = GraftDataSource.scanOf(dir, options = Map("keys" -> "name"))
      val stats = scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
        .estimateStatistics()
      assert(stats.numRows().isPresent && stats.numRows().getAsLong == native,
        s"exact numRows statistic missing or wrong: ${stats.numRows()}")

      // A merge-on-read delete invalidates the bucket's count — numRows
      // must go silent rather than overcount.
      import spark.implicits._
      t.deleteMergeOnRead(Seq("Customer#000000013").toDF("name"))
      val scan2 = GraftDataSource.scanOf(dir, options = Map("keys" -> "name"))
      val stats2 = scan2.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
        .estimateStatistics()
      assert(!stats2.numRows().isPresent,
        "numRows must be withheld when a chosen bucket carries DVs")
    } finally TxTable.drop(dir)
  }

  test("snapshot pins are per-table: interleaved resolutions don't evict each other") {
    val (dirA, tA) = freshTable("graft_dsv2_pin_a")
    val (dirB, _) = freshTable("graft_dsv2_pin_b")
    try {
      val provider = new graft.sources.GraftTableProvider
      def optsOf(dir: String) = {
        val m = new java.util.HashMap[String, String]()
        m.put("path", dir); m.put("keys", "name"); m
      }
      val v0 = tA.version
      val schemaA = provider.inferSchema(new CaseInsensitiveStringMap(optsOf(dirA)))
      // Interleaved resolution of ANOTHER table through the same provider
      // must not evict A's pin...
      provider.inferSchema(new CaseInsensitiveStringMap(optsOf(dirB)))
      // ...even when a commit lands on A before getTable.
      tA.merge(tA.snapshot().filter(col("name").endsWith("3"))
        .withColumn("house", lit("LATE-COMMIT")))
      val table = provider.getTable(schemaA, Array.empty, optsOf(dirA))
      val desc = table.asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
        .newScanBuilder(new CaseInsensitiveStringMap(optsOf(dirA)))
        .build().description()
      assert(desc.contains(s"version=$v0"),
        s"pin evicted — scan resolved a post-commit version: $desc")
    } finally { TxTable.drop(dirA); TxTable.drop(dirB) }
  }

  test("stats manifest: ONE metadata read plans the snapshot; decisions match the per-bucket path") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_statsman").toString
    def hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    try {
      import spark.implicits._
      // Every planning tier loaded: hash buckets + day partitioning +
      // zone maps + bucket blooms, across TWO commits (one carried
      // forward — the incremental-reuse path).
      val day0 = java.time.Instant.parse("2024-03-01T00:00:00Z")
      // v CORRELATES with the day (tenant/time locality), so the zone
      // tier has real per-file selectivity under the optimized write's
      // one-file-per-(bucket, day) layout.
      val base = (0 until 4000).map { i =>
        (s"k$i", hex(s"k$i"), ((i % 10) * 100 + i % 37).toLong,
          java.sql.Timestamp.from(day0.plusSeconds((i % 10) * 86400L + i)))
      }.toDF("k", "token", "v", "ts")
      val t = TxTable.create(spark, dir, base.limit(0), Seq("k"), numBuckets = 8,
        bloomCols = Seq("token"), zoneMapCols = Seq("v"))
      t.setPartitioning("days(ts)")
      t.merge(base.filter(col("v") < 500))
      t.merge(base.filter(col("v") >= 500)) // untouched buckets reuse v1 stats

      import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThan}
      val probes: Seq[Array[org.apache.spark.sql.sources.Filter]] = Seq(
        Array(GreaterThanOrEqual("v", 110L), LessThan("v", 150L)),
        Array(GreaterThanOrEqual("ts",
          java.time.Instant.parse("2024-03-03T00:00:00Z")), LessThan("ts",
          java.time.Instant.parse("2024-03-05T00:00:00Z"))),
        Array(EqualTo("token", hex("k7"))),
        Array.empty)
      def plannedFiles(ignore: Boolean,
                       fs: Array[org.apache.spark.sql.sources.Filter]): Set[String] =
        GraftDataSource.plannedPartitions(dir, fs,
          if (ignore) Map("ignoreStatsManifest" -> "true") else Map.empty)
          .flatMap(_.files).toSet
      // IDENTICAL pruning decisions from the consolidated file and the
      // per-bucket sidecars, for every tier's probe.
      probes.foreach { fs =>
        val a = plannedFiles(ignore = false, fs)
        val b = plannedFiles(ignore = true, fs)
        assert(a == b, s"stats-manifest decisions diverged for ${fs.mkString(",")}: " +
          s"${(a diff b) ++ (b diff a)}")
        assert(fs.isEmpty || a.size < plannedFiles(ignore = false, Array.empty).size,
          "probe should actually prune — certificate would be vacuous")
      }
      // ONE metadata read: a fresh plan through the manifest fires the
      // probe exactly once (the stats-v*.bin load); the per-bucket path
      // fires per sidecar file. (The probe counts sidecar-tier reads —
      // the admitted files' footer resolution is data-path work.)
      val reads = new java.util.concurrent.atomic.AtomicInteger(0)
      graft.core.TxTable.metaReadProbe = _ => { reads.incrementAndGet(); () }
      try {
        plannedFiles(ignore = false, probes.head)
        val withStats = reads.get()
        reads.set(0)
        plannedFiles(ignore = true, probes.head)
        val without = reads.get()
        assert(withStats == 1, s"stats-manifest plan cost $withStats metadata reads")
        assert(without > 8, s"per-bucket plan should cost O(buckets) reads, saw $without")
      } finally graft.core.TxTable.metaReadProbe = _ => ()
    } finally TxTable.drop(dir)
  }

  test("stats manifest v2: bloom payloads are content-addressed — a 1-bucket commit writes O(1 bucket) metadata") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_blobman").toString
    def hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    try {
      import spark.implicits._
      import scala.jdk.CollectionConverters._
      // 2000 rows/bucket pushes each bucket's bloom past BlobThreshold,
      // so blooms ride as blobs, not inline bytes.
      val base = (0 until 16000).map(i => (s"k$i", hex(s"k$i"), i.toLong))
        .toDF("k", "token", "v")
      val t = TxTable.create(spark, dir, base, Seq("k"), numBuckets = 8,
        bloomCols = Seq("token"))
      val logDir = java.nio.file.Paths.get(dir, "_log")
      def logFiles: Map[String, Long] = {
        val s = java.nio.file.Files.walk(logDir)
        try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
        finally s.close()
      }
      def blobs: Map[String, Long] = logFiles.collect {
        case (p, sz) if p.contains("/blobs/") && p.endsWith(".bin") => p -> sz }

      val after0 = logFiles
      val blobs0 = blobs
      assert(blobs0.size == 8, s"expected 8 bloom blobs, found ${blobs0.size}")
      assert(blobs0.values.forall(_ >= 1024), "blobs below the inline threshold")
      val bloomTotal = blobs0.values.sum
      // The manifest itself must NOT carry the bloom bytes.
      val stats0 = after0.collect {
        case (p, sz) if p.contains("stats-v") => sz }.sum
      assert(stats0 < bloomTotal / 2,
        s"stats-v bytes $stats0 should exclude bloom payloads ($bloomTotal)")

      // ONE-bucket merge: two keys of bucket 0, values changed + one new
      // key (new key set → that bucket's bloom content changes).
      val b0keys = spark.read.format("graft").load(dir)
        .select(col("k"), col("_graft_bucket")).filter(col("_graft_bucket") === 0)
        .limit(2).collect().map(_.getString(0))
      t.merge((b0keys.map(k => (k, hex(k), -1L)) :+
        (("kNEW", hex("kNEW"), -2L))).toSeq.toDF("k", "token", "v"))
      val growth = logFiles.filterNot { case (p, _) => after0.contains(p) }
        .values.sum
      // Old behavior re-inlined EVERY bucket's bloom (≥ bloomTotal per
      // commit); now: one new blob + ref-only manifest headers.
      assert(growth < bloomTotal / 2,
        s"1-bucket commit grew _log by $growth bytes vs $bloomTotal of blooms — O(N) rewrite is back")
      assert(blobs.size == 9, "changed bucket should add exactly one blob")

      // Decisions parity: a bloom point probe plans the same files via
      // blob-backed manifest and via per-bucket sidecars, and answers right.
      def plannedFiles(ignore: Boolean): Set[String] =
        GraftDataSource.plannedPartitions(dir, Array(EqualTo("token", hex("k7777"))),
          if (ignore) Map("ignoreStatsManifest" -> "true") else Map.empty)
          .flatMap(_.files).toSet
      val viaBlob = plannedFiles(ignore = false)
      assert(viaBlob == plannedFiles(ignore = true),
        "blob-backed bloom decisions diverged from the sidecar path")
      assert(viaBlob.size < 8, "bloom probe should refute buckets")
      assert(spark.read.format("graft").load(dir)
        .filter(col("token") === hex("k7777")).collect()
        .map(_.getString(0)).toSeq == Seq("k7777"))

      // A TORN blob reads as absent (hash mismatch) and falls back to
      // the bucket sidecar — same decisions, never a wrong filter.
      val victim = blobs.keys.head
      val orig = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(victim))
      java.nio.file.Files.write(java.nio.file.Paths.get(victim),
        orig.map(b => (b ^ 0x5a).toByte))
      try assert(plannedFiles(ignore = false) == plannedFiles(ignore = true),
        "torn blob changed planning decisions")
      finally java.nio.file.Files.write(java.nio.file.Paths.get(victim), orig)

      // Vacuum retires blobs with the manifests that referenced them:
      // after keepVersions=1, on-disk blobs == exactly the head's refs.
      t.vacuum(retainMs = 0L, keepVersions = 1)
      val headRefs = graft.core.TxTable.readStatsManifest(dir, t.version).get
        .values.flatMap(_.blooms.collect {
          case (_, graft.core.TxTable.StoredBlob(_, h, _)) => h }).toSet
      val onDisk = blobs.keys.map(p => java.nio.file.Paths.get(p)
        .getFileName.toString.stripSuffix(".bin")).toSet
      assert(headRefs.nonEmpty && onDisk == headRefs,
        s"vacuum left orphan blobs or deleted live ones: disk=$onDisk refs=$headRefs")
    } finally TxTable.drop(dir)
  }

  test("declare-time guards: reserved layout names, partition-spec validation, empty CDC batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_guards").toString
    try {
      import spark.implicits._
      // A logical column named `_p` (or `_b`) would be overwritten by the
      // layout derivation and stripped by partitionBy — silent value loss.
      // The write chokepoint must reject it at CREATE...
      assert(scala.util.Try(TxTable.create(spark, dir + "/bad",
        Seq(("a", 1L)).toDF("k", "_p"), Seq("k"), numBuckets = 2)).isFailure,
        "create accepted a reserved column name")
      val t = TxTable.create(spark, dir + "/t",
        Seq(("a", java.sql.Date.valueOf("2024-01-05"), 1L)).toDF("k", "d", "v"),
        Seq("k"), numBuckets = 2)
      // ...at widening MERGE (a batch introducing the column)...
      assert(scala.util.Try(t.merge(
        Seq(("b", java.sql.Date.valueOf("2024-01-06"), 2L, 9L))
          .toDF("k", "d", "v", "_b"))).isFailure,
        "widening merge accepted a reserved column name")
      // ...and at ADD COLUMN / RENAME.
      assert(scala.util.Try(t.addColumn("_p", "bigint", "0")).isFailure)
      assert(scala.util.Try(t.renameColumn("v", "_b")).isFailure)

      // Partition-spec declaration validates against the live schema:
      // a typo'd column or an unsupported source type would otherwise
      // no-op silently (every commit written flat, no error).
      assert(scala.util.Try(t.setPartitioning("days(nope)")).isFailure,
        "partition spec accepted an absent column")
      assert(scala.util.Try(t.setPartitioning("months(v)")).isFailure,
        "months() accepted a BIGINT source")
      assert(scala.util.Try(t.setPartitioning("days(v)")).isFailure,
        "days() accepted a BIGINT source")
      t.setPartitioning("days(d)") // DATE source: valid
      t.setPartitioning("")        // clearing: always valid

      // A CDC batch folding to zero upserts and zero deletes must not
      // mint an empty version (version churn + an empty commit dir).
      val v = t.version
      val empty = t.snapshot().limit(0)
      assert(t.applyChanges(empty, empty.select("k")) == v,
        "empty applyChanges published a version")
      assert(t.version == v)

      // DDL × partitioning: the spec FOLLOWS a rename of its source
      // (future commits stay partitioned under the new name; the old
      // era's _pspec resolves through the alias chain), and dropping
      // the declared source is refused (it would silently flip future
      // commits to flat).
      t.setPartitioning("days(d)")
      t.renameColumn("d", "event_date")
      assert(t.partitionSpec.contains(("days", "event_date")),
        s"partition spec must follow the rename, got ${t.partitionSpec}")
      t.merge(Seq(("c", java.sql.Date.valueOf("2024-02-03"), 3L))
        .toDF("k", "event_date", "v"))
      import scala.jdk.CollectionConverters._
      val pdirs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "t", "data"))
        .iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("_p=")).toSet
      assert(pdirs.nonEmpty, "post-rename commit wrote FLAT — spec orphaned")
      assert(scala.util.Try(t.dropColumn("event_date")).isFailure,
        "dropping the declared partition source must be refused")

      // CRASH WINDOW: renameColumn re-points partition.txt only AFTER
      // its publish — simulate dying in between by writing the STALE
      // spec back. The next commit must still partition (the spec
      // column resolves through the alias chain), and dropping the
      // CURRENT name must still refuse.
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, "t", "_log", "partition.txt"), "days(d)")
      assert(scala.util.Try(t.dropColumn("event_date")).isFailure,
        "stale spec lost its drop protection through the alias chain")
      t.merge(Seq(("e", java.sql.Date.valueOf("2024-03-09"), 5L))
        .toDF("k", "event_date", "v"))
      val crashDay = java.time.LocalDate.of(2024, 3, 9).toEpochDay
      val pdirs2 = java.nio.file.Files.walk(
        java.nio.file.Paths.get(dir, "t", "data"))
        .iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("_p=")).toSet
      assert(pdirs2.contains(s"_p=$crashDay"),
        s"commit under a stale (pre-rename) spec wrote FLAT: $pdirs2")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, "t", "_log", "partition.txt"),
        "days(event_date)")

      t.setPartitioning("")
      assert(t.dropColumn("event_date") > 0, "drop after clearing must work")
    } finally TxTable.drop(dir)
  }

  /** One planning pass of an unfiltered scan over `dir`, and the scan's
    * reported driver metrics (footers read, footer cache hits). */
  private def planFooterMetrics(dir: String): Map[String, Long] = {
    val scan = GraftDataSource.scanOf(dir, options = Map("keys" -> "name"))
    scan.toBatch.planInputPartitions()
    scan.reportDriverMetrics().map(m => m.name -> m.value).toMap
  }

  test("footer cache: a re-plan reads no footer; a commit caches the files it wrote") {
    val (dir, t) = freshTable("graft_dsv2_footcache")
    try {
      def live = t.layoutAt(t.version).values.toSeq
        .flatMap { case (d, _) => graft.sources.GraftDataSource.parquetFiles(d) }
      val files = live
      assert(files.nonEmpty)
      // New identities for every data file (as if another process wrote
      // them): the cache keys on (path, size, mtime), so nothing is cached.
      files.foreach { f =>
        val p = java.nio.file.Paths.get(f)
        java.nio.file.Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime
          .fromMillis(java.nio.file.Files.getLastModifiedTime(p).toMillis + 1000))
      }
      assert(planFooterMetrics(dir) ==
        Map("footersRead" -> files.size.toLong, "footerCacheHits" -> 0L),
        "the first plan reads one footer per file")
      assert(planFooterMetrics(dir) ==
        Map("footersRead" -> 0L, "footerCacheHits" -> files.size.toLong),
        "an identical second plan reads no footer")
      // A merge rewrites some buckets; its sidecar pass reads the footers
      // of exactly the files it wrote, through the cache.
      t.merge(t.snapshot().filter(col("name").endsWith("7"))
        .withColumn("house", lit("PROMOTED")))
      val after = live
      assert(after.diff(files).nonEmpty, "the merge wrote no file")
      assert(planFooterMetrics(dir) ==
        Map("footersRead" -> 0L, "footerCacheHits" -> after.size.toLong),
        "the first plan after a commit must find its files cached")
      // The same counts reach Spark's SQL plan metrics.
      val df = connRead(dir)
      assert(asSet(df) == asSet(t.snapshot()))
      val scans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
        .collect(df.queryExecution.executedPlan) {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }
      assert(scans.size == 1)
      assert(scans.head.metrics("footersRead").value == 0)
      assert(scans.head.metrics("footerCacheHits").value == after.size)
    } finally TxTable.drop(dir)
  }

  test("footer cache: a dropped and re-created table serves its new schema and rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_recreate").toString
    import spark.implicits._
    def read = spark.read.format("graft").option("keys", "k").load(dir)
    try {
      TxTable.create(spark, dir, Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), Seq("k"),
        numBuckets = 4)
      assert(asSet(read) == Set("a|1", "b|2"))
      assert(read.agg(max("v")).head().getLong(0) == 2L)
      TxTable.drop(dir)
      TxTable.create(spark, dir,
        Seq(("a", "x", 10.5), ("c", "y", 3.0), ("d", "z", -1.0)).toDF("k", "s", "d"),
        Seq("k"), numBuckets = 4)
      assert(read.schema.fieldNames.toSeq == Seq("k", "s", "d"))
      assert(asSet(read) == Set("a|x|10.5", "c|y|3.0", "d|z|-1.0"))
      // The metadata-answered aggregates see the new files too.
      assert(read.groupBy().count().head().getLong(0) == 3L)
      assert(read.agg(max("d")).head().getDouble(0) == 10.5)
    } finally TxTable.drop(dir)
  }

  test("hadoop configurations copied from the base are independent") {
    val a = graft.core.FileMeta.hadoopConf()
    val b = graft.core.FileMeta.hadoopConf()
    // Copies carry the parsed default resources.
    assert(a.get("fs.defaultFS") == "file:///")
    a.set("graft.spec.probe", "a")
    b.set("fs.defaultFS", "file:///b")
    assert(b.get("graft.spec.probe") == null, "a set on one copy leaked into another")
    assert(a.get("fs.defaultFS") == "file:///")
    val fromBase = graft.core.FileMeta.hadoopConf()
    assert(fromBase.get("graft.spec.probe") == null && fromBase.get("fs.defaultFS") == "file:///",
      "a set on a copy leaked into the base")
  }

  test("metadata cache: an overflow past the cap clears it, and it caches again") {
    import graft.core.FileMeta
    // Two entries weighed at 60% of the cap each cannot both stay.
    val weight = FileMeta.CapBytes * 3 / 5
    def get(key: String) = FileMeta.cached[AnyRef](key, _ => weight)(None)
    val (a, b) = (new Object, new Object)
    assert(FileMeta.cached[AnyRef]("spec:a", _ => weight)(Some(a)).contains(a))
    assert(get("spec:a").contains(a), "a loaded value is cached")
    assert(FileMeta.cached[AnyRef]("spec:b", _ => weight)(Some(b)).contains(b))
    assert(get("spec:a").isEmpty, "the overflow did not clear the cache")
    assert(get("spec:b").contains(b), "the entry whose put overflowed is kept")
  }
}
