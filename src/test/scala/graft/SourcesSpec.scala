package graft

import graft.sources.FileFormats
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Interchange sources/sinks: properties the DuckDB oracle can't see —
  * the physical pruning and the per-value exactness of round-trips. */
class SourcesSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSpark._

  /** The temp dirs this spec made, dropped once it is done. */
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    made.add(d)
    d
  }

  override def afterAll(): Unit =
    try made.forEach(d => graft.core.TxTable.drop(d)) finally super.afterAll()

  test("CSV round-trip preserves every nation row exactly") {
    val back = FileFormats.csvRoundTrip(spark, sf)
      .select("n_nationkey", "n_name").collect().map(_.toString).sorted
    val orig = graft.core.Tables.nation(spark, sf)
      .select("n_nationkey", "n_name").collect().map(_.toString).sorted
    assert(back.sameElements(orig))
  }

  test("JSONL round-trip preserves doubles bit-exactly") {
    // Per-row equality, not just aggregate: join the round-tripped rows
    // back to the source on event_id and compare the raw doubles.
    val p = graft.etl.Artifacts.path(sf, "events_jsonl")
    FileFormats.jsonlRoundTrip(spark, sf) // ensure written
    val back = spark.read
      .schema("event_id LONG, value DOUBLE").json(p)
      .select(col("event_id"), col("value").as("v_back"))
    val orig = graft.core.Tables.events(spark, sf)
      .filter(col("event_id") < 2000).select("event_id", "value")
    val diff = orig.join(back, "event_id")
      .filter(col("value") =!= col("v_back") ||
        col("value").isNull =!= col("v_back").isNull)
    assert(diff.count() == 0)
  }

  test("PERMISSIVE JSON read quarantines corrupt lines, drops none") {
    import java.nio.file.{Files, Paths}
    val dir = tempDir("graft_bad_records")
    Files.writeString(Paths.get(dir, "part.json"),
      """{"id": 1, "v": 1.5}
        |{"id": 2 "v": BROKEN
        |{"id": 3, "v": 3.0}
        |""".stripMargin)
    val df = FileFormats.readJsonlPermissive(spark, dir,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType))))
      .cache() // Spark disallows projecting _corrupt_record alone off a lazy scan
    try {
      assert(df.count() == 3) // nothing silently dropped
      assert(df.filter(col("_corrupt_record").isNull).count() == 2)
      val bad = df.filter(col("_corrupt_record").isNotNull)
        .select("_corrupt_record").collect()
      assert(bad.length == 1 && bad.head.getString(0).contains("BROKEN"))
    } finally df.unpersist()
  }

  test("backfill overwrite rewrites ONLY the corrected day's partition files") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    def filesUnder(p: java.nio.file.Path): Map[String, Long] = {
      val s = Files.walk(p)
      try s.iterator().asScala
        .filter(f => f.toString.endsWith(".parquet"))
        .map(f => p.relativize(f).toString -> Files.getLastModifiedTime(f).toMillis)
        .toMap
      finally s.close()
    }
    FileFormats.backfillOverwrite(spark, sf) // ensure layout + first backfill
    val root = Paths.get(FileFormats.backfillLayoutPath(sf))
    val dayDirs = Files.list(root).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("day=")).toList
    val corrected = root.resolve(s"day=${FileFormats.BackfillDay}")
    val othersBefore = dayDirs.filterNot(_ == corrected).map(d => d -> filesUnder(d)).toMap
    val correctedBefore = filesUnder(corrected)
    FileFormats.backfillOverwrite(spark, sf) // run the overwrite again
    othersBefore.foreach { case (d, before) =>
      assert(filesUnder(d) == before, s"untouched partition $d was rewritten")
    }
    assert(filesUnder(corrected) != correctedBefore,
      "the corrected day's partition was not rewritten")
  }

  test("dynamic partition pruning: a dim filter prunes the fact's partition listing at runtime") {
    import spark.implicits._
    val ev = FileFormats.partitionedEvents(spark, sf)
    // DPP needs a real (file-backed) filtered dim — a LocalRelation's
    // filter constant-folds away and leaves no selective predicate to
    // derive the pruning subquery from.
    val dimPath = tempDir("graft_dpp_dim")
    Seq(("click", 1), ("view", 0), ("error", 0), ("signup", 0), ("purchase", 0))
      .toDF("etype", "flag").write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("flag") === 1)
    val q = ev.join(dim, col("event_type") === col("etype")).agg(count(lit(1)).as("n"))
    val Array(row) = q.collect()
    val direct = graft.core.Tables.events(spark, sf)
      .filter(col("event_type") === "click").count()
    assert(row.getLong(0) == direct)
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruningexpression"),
      s"no dynamic partition pruning in plan:\n$p")
  }

  test("runtime bloom filter from a selective dim prunes the fact scan's shuffle") {
    graft.core.Session.withConf(spark,
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> true,
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> 0,
        "spark.sql.autoBroadcastJoinThreshold" -> -1) { // force the shuffle join the filter exists for
      val li = graft.core.Tables.lineitem(spark, sf)
      val part = graft.core.Tables.part(spark, sf).filter(col("p_size") === 1)
      val q = li.join(part, col("l_partkey") === col("p_partkey")).agg(count(lit(1)).as("n"))
      q.collect()
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("bloom"), s"no runtime bloom filter in plan:\n$p")
    }
  }

  test("AQE splits a skewed join partition at runtime (the automatic twin of rq27's salting)") {
    import spark.implicits._
    // One hot key carrying ~90% of the fact side, sized to cross the
    // (deliberately lowered) skew thresholds; wide payload so partition
    // byte sizes differ by orders of magnitude.
    val fact = spark.range(0, 20000)
      .select(when(col("id") % 10 =!= 0, lit(777L)).otherwise(col("id")).as("k"),
        concat_ws("", Seq.fill(8)(md5(col("id").cast("string"))): _*).as("pad"))
    val dim = spark.range(0, 1000).select(col("id").as("k"), md5(col("id").cast("string")).as("d"))
    graft.core.Session.withConf(spark,
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> 1,
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
        "spark.sql.adaptive.coalescePartitions.enabled" -> false,
        "spark.sql.autoBroadcastJoinThreshold" -> -1) { // force a shuffle join
      // Global (keyless) aggregate only: any keyed aggregate after the join
      // would REQUIRE hash-partitioning on k and legally veto the skew
      // split (splitting breaks key-clustering) — the constraint that makes
      // rq27's a-priori salting still necessary when the consumer needs the
      // join key's partitioning. sum(length(pad)) keeps the wide payload
      // alive through the shuffle — column pruning would otherwise shrink
      // the "skewed" partition below any detection threshold.
      val joined = fact.hint("merge").join(dim, "k")
        .agg(count(lit(1)).as("n"), sum(length(col("pad"))).as("bytes"))
      val Array(row) = joined.collect()
      // 18000 hot-key (777) matches + the 100 id%10==0 keys below 1000
      assert(row.getLong(0) == 18100)
      // AQE marks the split sort-merge join with skew=true
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"no skew-split in plan:\n$plan")
    }
  }

  test("partitioned scan prunes to the one event_type directory") {
    val df = FileFormats.partitionPrunedScan(spark, sf)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    assert(scans.forall(_.partitionFilters.nonEmpty),
      "partition filter did not reach the scan")
    // The pruned scan must read strictly fewer files than the full layout.
    val all = FileFormats.partitionedEvents(spark, sf)
    val allScan = all.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }.head
    val prunedScan = scans.head
    assert(prunedScan.selectedPartitions.totalNumberOfFiles <
      allScan.selectedPartitions.totalNumberOfFiles)
  }

  test("incremental dedup probes prune the batch partition at the listing") {
    val df = graft.ops.TextOps.incrementalDedup(spark, sf)
    val idxScans = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("shingle_hashes_by_src")) => f
    }
    assert(idxScans.nonEmpty, "no scan over the source-partitioned index")
    // every corpus-side probe excludes source=src3 in the partition filter,
    // i.e. the filter reached the FILE LISTING, not a post-scan Filter node
    val full = spark.read.parquet(graft.etl.Artifacts.path(sf, "shingle_hashes_by_src"))
    val fullFiles = full.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }.head.selectedPartitions.totalNumberOfFiles
    idxScans.foreach { f =>
      assert(f.partitionFilters.nonEmpty, s"unpruned index scan: $f")
      assert(f.selectedPartitions.totalNumberOfFiles < fullFiles,
        "batch partition directory was not pruned from the listing")
    }
  }

  test("schema evolution: merged footer schema serves NULL-backed column for old files") {
    val df = graft.sources.FileFormats.schemaEvolutionRead(spark, sf)
    val rows = df.collect()
    // batch 0 predates the column: every row reads back 'absent'
    assert(rows.filter(_.getLong(0) == 0L).map(_.getString(1)).toSeq == Seq("absent"))
    // batch 1 carries real statuses, never the placeholder
    val b1 = rows.filter(_.getLong(0) == 1L).map(_.getString(1))
    assert(b1.nonEmpty && !b1.contains("absent"))
    // the merged scan itself (pre-aggregation) must expose o_status
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(graft.etl.Artifacts.path(sf, "orders_evolved"))
    assert(merged.schema.fieldNames.contains("o_status"))
    assert(merged.schema.fieldNames.contains("batch"))
  }

  test("IVF-PQ probe prunes the codes listing to the probed cell directories") {
    val df = graft.ops.SimilarityOps.ivfPqTopK(spark, sf)
    val codeScans = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("ann_ivfpq_codes")) => f
    }
    assert(codeScans.nonEmpty, "no scan over the cell-partitioned codes")
    val full = spark.read.parquet(graft.etl.Artifacts.path(sf, "ann_ivfpq_codes"))
    val fullFiles = full.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }.head.selectedPartitions.totalNumberOfFiles
    codeScans.foreach { f =>
      assert(f.partitionFilters.nonEmpty, s"unpruned codes scan: $f")
      assert(f.selectedPartitions.totalNumberOfFiles < fullFiles,
        "unprobed cell directories were not pruned from the listing")
    }
  }

  // ------------------------------------------- schema from the footer cache

  /** The footer-cache read's schema equals Spark's inferred one; the
    * schema-only probe equals its data part (`partitionCols` excluded). */
  private def sameSchemaAsSpark(paths: Seq[String],
                                partitionCols: Set[String] = Set.empty): Unit = {
    val want = spark.read.parquet(paths: _*).schema
    assert(graft.core.FileMeta.parquet(spark, paths: _*).schema == want,
      s"FileMeta.parquet schema differs at ${paths.mkString(",")}")
    assert(graft.core.FileMeta.parquetSchema(spark, paths: _*) ==
      org.apache.spark.sql.types.StructType(want.filterNot(f => partitionCols(f.name))),
      s"FileMeta.parquetSchema differs at ${paths.mkString(",")}")
  }

  test("footer-cache schemas equal Spark's inferred ones: corpus, _SUCCESS dir, partitionBy, single file") {
    // Every corpus table (pyarrow-written: no Spark row-schema metadata),
    // events.ts under both nanosAsLong settings.
    for (nanos <- Seq(false, true); t <- Seq("region", "nation", "customer",
           "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"))
      graft.core.Session.withConf(spark, "spark.sql.legacy.parquet.nanosAsLong" -> nanos) {
        sameSchemaAsSpark(Seq(s"$sf/$t.parquet"))
      }
    // A Spark-written dir: _SUCCESS and .crc siblings, Spark's schema key.
    val dir = tempDir("graft_fm_spark") + "/t"
    spark.range(5).selectExpr("id", "cast(id as string) s", "array(id) a",
      "named_struct('x', id) st", "current_date() d").write.parquet(dir)
    assert(new java.io.File(s"$dir/_SUCCESS").exists())
    sameSchemaAsSpark(Seq(dir))
    // A partitionBy dir: the IVF assignments' `cell` column comes from
    // the paths, typed by Spark's partition inference.
    graft.ops.SimilarityOps.ivfIndex(spark, sf)
    val assigned = graft.etl.Artifacts.path(sf, "ann_ivf_assigned")
    sameSchemaAsSpark(Seq(assigned), Set("cell"))
    assert(graft.core.FileMeta.parquet(spark, assigned).schema("cell").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // A single part file, and several paths at once.
    val parts = new java.io.File(dir).listFiles().map(_.toString)
      .filter(_.endsWith(".parquet")).sorted
    sameSchemaAsSpark(parts.take(1).toSeq)
    sameSchemaAsSpark(parts.toSeq)
  }

  test("footer-cache reads start no Spark job, cold or warm") {
    val dir = tempDir("graft_fm_jobs") + "/t"
    spark.range(100).selectExpr("id", "id * 2 AS v").write.parquet(dir)
    // The listener sees the inference job a plain read schedules…
    assert(jobsDuring(spark.read.parquet(dir)) >= 1, "listener saw no inference job")
    // …and none for the footer-cache read: the first reads the footer on
    // the driver, the second finds it cached.
    assert(jobsDuring(graft.core.FileMeta.parquet(spark, dir)) == 0, "cold read ran a job")
    assert(jobsDuring(graft.core.FileMeta.parquet(spark, dir)) == 0, "warm read ran a job")
    assert(graft.core.FileMeta.parquet(spark, dir).count() == 100)
  }

  test("footer-cache reads follow an overwrite to its new schema") {
    val dir = tempDir("graft_fm_over") + "/t"
    spark.range(3).selectExpr("id AS a").write.parquet(dir)
    assert(graft.core.FileMeta.parquet(spark, dir).columns.toSeq == Seq("a"))
    spark.range(3).selectExpr("cast(id AS string) AS b", "id AS c")
      .write.mode("overwrite").parquet(dir)
    val back = graft.core.FileMeta.parquet(spark, dir)
    assert(back.schema == spark.read.parquet(dir).schema)
    assert(back.columns.toSeq == Seq("b", "c"))
    assert(back.orderBy("c").collect().map(_.getString(0)).toSeq == Seq("0", "1", "2"))
  }

  test("footer-cache reads of an empty dir fail as Spark's own read fails") {
    val empty = tempDir("graft_fm_empty")
    val onlyMarker = tempDir("graft_fm_marker")
    new java.io.File(s"$onlyMarker/_SUCCESS").createNewFile()
    for (d <- Seq(empty, onlyMarker)) {
      val want = intercept[org.apache.spark.sql.AnalysisException](spark.read.parquet(d))
      val got = intercept[org.apache.spark.sql.AnalysisException](
        graft.core.FileMeta.parquet(spark, d))
      assert(got.getCondition == want.getCondition)
      assert(intercept[org.apache.spark.sql.AnalysisException](
        graft.core.FileMeta.parquetSchema(spark, d)).getCondition == want.getCondition)
    }
  }

  // ------------------------------------------- input-keyed driver values

  test("derived values cache by input identity: an unchanged input hits, a touched or rewritten one misses") {
    import graft.core.FileMeta
    val dir = tempDir("graft_fm_derived") + "/t"
    spark.range(10).write.parquet(dir)
    val runs = new java.util.concurrent.atomic.AtomicInteger(0)
    def sum(): java.lang.Long = FileMeta.derived[java.lang.Long]("spec.sum", Seq(dir), _ => 16L) {
      runs.incrementAndGet()
      FileMeta.parquet(spark, dir).agg(org.apache.spark.sql.functions.sum("id")).head().getLong(0)
    }
    assert(sum() == 45L && runs.get == 1)
    assert(sum() == 45L && runs.get == 1, "unchanged inputs recomputed")
    // A touched input file (same bytes, new mtime) misses.
    val part = new java.io.File(dir).listFiles().map(_.toPath)
      .filter(_.toString.endsWith(".parquet")).head
    val t0 = java.nio.file.Files.getLastModifiedTime(part).toMillis
    java.nio.file.Files.setLastModifiedTime(part, java.nio.file.attribute.FileTime.fromMillis(t0 + 5000))
    assert(sum() == 45L && runs.get == 2, "a touched input was served from the cache")
    assert(sum() == 45L && runs.get == 2)
    // A deleted and rewritten dir misses and serves the new contents.
    spark.range(5).write.mode("overwrite").parquet(dir)
    assert(sum() == 10L && runs.get == 3, "a rewritten input was served from the cache")
    assert(sum() == 10L && runs.get == 3)
    // An overflow past the cap clears the value; it then caches again.
    FileMeta.derived[java.lang.Long]("spec.overflow", Seq(dir), _ => FileMeta.CapBytes)(0L)
    assert(sum() == 10L && runs.get == 4, "the value survived an overflow")
    assert(sum() == 10L && runs.get == 4)
  }
}
