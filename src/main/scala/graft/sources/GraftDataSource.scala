package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.example.data.Group
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Literal, XxHash64}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.read.SupportsPushDownAggregates
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 batch-read connector for [[graft.core.TxTable]] —
  * `spark.read.format("graft").option("keys", "name").load(dir)`.
  *
  * This is the Spark-native packaging of the table the reference keeps in
  * Neo4j (`app.py:100-132`'s durable MERGE target): the same manifest →
  * bucket resolution the library read path performs, exposed through the
  * connector API so ANY Spark consumer (SQL, other sessions, other tools
  * on the cluster) can read a TxTable without linking graft's classes.
  *
  * What the connector maps onto the DSv2 contract:
  *  - **snapshot pinning** (the Delta/Iceberg snapshot-at-analysis
  *    contract): the committed version is resolved ONCE, when the table is
  *    resolved (`inferSchema`/`getTable`), and that pinned version is
  *    threaded through schema, aggregate pushdown and scan planning — a
  *    commit landing mid-planning can never mix schema v+1 with data v,
  *    tear a self-join across two versions, or invalidate a pushed
  *    metadata aggregate before execution;
  *  - one `InputPartition` per manifest BUCKET — the table's physical
  *    parallelism unit, so a 100 TB table plans one task per bucket and
  *    readers never contend on a file;
  *  - `SupportsPushDownFilters`: an equality predicate covering the key
  *    column(s) prunes the plan to the ONE bucket those keys hash into
  *    (the same `pmod(xxhash64(keys), n)` the write path uses, evaluated
  *    through Catalyst's own `XxHash64` so the hash is identical by
  *    construction). Pruned filters are still returned as residuals, so
  *    Spark re-evaluates them — pruning is listing-level, correctness
  *    stays with the engine;
  *  - `SupportsPushDownRequiredColumns`: the pruned schema becomes the
  *    parquet projection each reader requests (footer-level column skip);
  *  - `SupportsRuntimeFiltering`: when the table is the probe side of a
  *    broadcast join on its (single) key, the build side's collected key
  *    values arrive as a runtime IN filter before partitions are planned
  *    — the DSv2 analogue of dynamic partition pruning, so a
  *    dim-filtered fact lookup reads only the buckets the surviving keys
  *    hash into (intersected with any planning-time prune);
  *  - `SupportsPushDownAggregates`: COUNT(*) answers from footer record
  *    counts; MIN/MAX of numeric/date/timestamp columns answer from
  *    footer column statistics — both REFUSE whenever a deletion vector
  *    exists (equality deletes retire rows footers still count/bound),
  *    whenever a file lacks usable statistics, and (MIN/MAX) for string
  *    columns (writers may truncate binary footer stats — a truncated
  *    min is silently wrong, so strings always scan);
  *  - merge-on-read deletion vectors: DV key sets load once at planning
  *    (they are bounded — deleted keys, not data), are converted to
  *    CATALYST values per key type (UTF8String / days / micros — so
  *    DATE and TIMESTAMP keys compare correctly against what the reader
  *    materializes), and ship with the bucket's partition; readers drop
  *    matching rows — the equality-delete semantics;
  *  - schema evolution: per-file footers are probed once at planning and
  *    each file ships its logical→physical column resolution (rename
  *    ALIASES, ADD-COLUMN DEFAULTS evaluated driver-side to literals,
  *    absent columns as typed NULL), applied per file inside the
  *    reader. TIMESTAMP columns honor the parquet
  *    logical-type annotation (MICROS native, MILLIS converted, legacy
  *    INT96 — the Spark writer's default — decoded from its Julian-day
  *    layout, NANOS rejected eagerly at planning with a clear message);
  *  - the change feed accepts `.option("skipLayoutOnly", "true")` to drop
  *    layout-only commits (compact / rebucket / compact-partial) from the
  *    stream — they rewrite bucket POINTERS, not logical rows (s20's own
  *    snapshot-unchanged certificate), so merge-key consumers see
  *    identical state with O(changed buckets) instead of O(table) per
  *    OPTIMIZE.
  *
  * Data plane (measured — BASELINE.md notes 64/68):
  * bulk scans read COLUMNAR through Spark's own vectorized parquet
  * reader (ColumnarBatch straight into whole-stage codegen) — 1.30× a
  * Spark parquet-source read of the same files on a data-dominated
  * 4.8M-row scan at equal parallelism (measured when TxTable still read
  * that way), vs 5.25× for the original Group-per-row reader,
  * which remains the exact-fallback row path for DV'd buckets (the
  * anti-join drops individual rows), change-feed partitions (synthesized
  * metadata columns), empty projections, and any file/type pairing the
  * vectorized reader can't serve. Planning resolves every chosen file's
  * footer in ONE parallel fan-out over the whole scan, through the
  * per-JVM footer cache ([[graft.core.FileMeta]], keyed by file identity:
  * files are immutable, so a re-plan of a pinned layout reads no footer),
  * and ships each file's projected parquet schema with its partition, so
  * executors never re-read footers; planned partitions are cached per
  * runtime-filter state (AQE re-asks several times). Each scan reports
  * `footers read` and `footer cache hits` as SQL plan metrics. The scan
  * parallelism unit is the BUCKET, by design — size bucket counts to the
  * cluster, as the write path's layout intends.
  *
  * The one reader of a committed TxTable version: `snapshot()`,
  * `lookup` and every rewrite read go through [[GraftDataSource.read]],
  * which builds the relation over a pin the caller passes in.
  *
  * Read-only by design: writes go through the library's transactional
  * protocol (optimistic publish, rebase) — a connector write path that
  * bypassed it would forfeit the table's atomicity guarantees.
  */
final class GraftTableProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  /** Snapshot pinning: `inferSchema` resolves the committed version once
    * and remembers it; `getTable` reuses (and consumes) it for identical
    * options, so schema and data come from one version even if a commit
    * lands in between. Keyed per (path, keys, versionAsOf) rather than a
    * single slot, so interleaved resolutions of two tables through one
    * provider instance cannot evict each other's pin, and a later
    * re-resolution of the same table re-pins instead of silently serving
    * a stale version (the pin is removed once consumed). */
  private val pinned =
    new java.util.concurrent.ConcurrentHashMap[String, graft.core.TxTable.Pin]()

  private def pinKey(options: CaseInsensitiveStringMap): String =
    s"${GraftDataSource.localPath(options.get("path"))}|${options.get("keys")}|" +
      s"${Option(options.get("versionAsOf")).getOrElse("")}"

  private def open(options: CaseInsensitiveStringMap): graft.core.TxTable = {
    val dir = Option(options.get("path")).map(GraftDataSource.localPath).getOrElse(
      throw new IllegalArgumentException("graft source requires a path"))
    graft.core.TxTable.open(SparkSession.active, dir, GraftDataSource.keysFor(dir, options))
  }

  private def pinOf(options: CaseInsensitiveStringMap): graft.core.TxTable.Pin = {
    val t = open(options)
    t.pin(Option(options.get("versionAsOf")).map(_.toLong).getOrElse(t.version))
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val p = pinOf(options)
    pinned.put(pinKey(options), p)
    p.schema.fields.foreach(f => GraftDataSource.requireSupported(f))
    GraftDataSource.tableSchema(p, options.getBoolean("changeFeed", false))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val cached = pinned.remove(pinKey(opts)) // consume: next resolution re-pins
    val pin = if (cached != null) cached else pinOf(opts) // catalog path without a fresh inferSchema
    val dir = GraftDataSource.localPath(opts.get("path"))
    new GraftTable(dir, GraftDataSource.keysFor(dir, opts), pin,
      opts.getBoolean("changeFeed", false),
      opts.getBoolean("skipLayoutOnly", false))
  }

  override def supportsExternalMetadata(): Boolean = false
}

private[graft] object GraftDataSource {
  /** A scan of the graft table at `dir`, built the way Spark's DSv2
    * planner builds one: resolve the table (pinning its version), push
    * `filters`, build. `options` pass through as source options (`keys`,
    * `ignoreStatsManifest`, …). The only provider src/main constructs;
    * Spark finds its own through [[DataSourceRegister]]. */
  def scanOf(dir: String, filters: Array[Filter] = Array.empty,
             options: Map[String, String] = Map.empty): Scan = {
    val provider = new GraftTableProvider
    val opts = new java.util.HashMap[String, String]((options + ("path" -> dir)).asJava)
    val cmap = new CaseInsensitiveStringMap(opts)
    val sb = provider.getTable(provider.inferSchema(cmap), Array.empty, opts)
      .asInstanceOf[SupportsRead].newScanBuilder(cmap)
    sb.asInstanceOf[SupportsPushDownFilters].pushFilters(filters)
    sb.build()
  }

  /** The rows of pin `p` of the table at `dir` as a DataFrame over the
    * connector's relation — the read [[graft.core.TxTable]] serves every
    * snapshot, lookup and rewrite through. The pin is passed in, never
    * re-read, so a narrowed or synthetic pin reads exactly its entries. */
  def read(spark: SparkSession, dir: String, keyCols: Seq[String],
           p: graft.core.TxTable.Pin): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.graftbridge.Bridge.ofRows(spark,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation.create(
        new GraftTable(dir, keyCols, p), None, None))

  /** The input partitions a [[scanOf]] scan plans. */
  def plannedPartitions(dir: String, filters: Array[Filter] = Array.empty,
                        options: Map[String, String] = Map.empty): Array[GraftInputPartition] =
    scanOf(dir, filters, options).toBatch.planInputPartitions()
      .collect { case p: GraftInputPartition => p }

  /** Merge keys for a table: the explicit `keys` option wins; tables
    * created with the keys sidecar are self-describing and need none. */
  def keysFor(dir: String, options: CaseInsensitiveStringMap): Seq[String] =
    Option(options.get("keys")).map(_.split(',').toSeq.map(_.trim))
      .orElse(graft.core.TxTable.keysOf(dir))
      .getOrElse(throw new IllegalArgumentException(
        "graft source requires .option(\"keys\", \"col1[,col2]\") — the table's " +
          "merge keys (tables created with a keys sidecar are self-describing)"))

  /** The session catalog hands LOCATION/path down as a `file:` URI; the
    * table's log lives on the local filesystem path underneath it. */
  def localPath(p: String): String =
    if (p != null && p.startsWith("file:"))
      java.nio.file.Paths.get(java.net.URI.create(p)).toString
    else p

  /** TIMESTAMP_NTZ is INT64 micros like TIMESTAMP, but stays out of
    * every statistics tier (row-group skipping, zone maps, MIN/MAX and
    * partition pushdown): their value conversions are written for
    * TIMESTAMP instants only, so NTZ predicates and aggregates scan. */
  def supported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | FloatType | StringType | BooleanType |
         DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** The one type contract for write and read: a table refuses at write
    * time (create, addColumn, a widening merge) any column the connector
    * cannot read, with the message the connector gives. */
  def requireSupported(f: StructField): Unit =
    require(supported(f.dataType),
      s"graft connector does not support column type ${f.dataType.sql} (${f.name})")

  /** Physical-type codes shipped to readers (per file × logical field). */
  val Absent = 0; val I32 = 1; val I64 = 2; val F64 = 3; val Utf8 = 4
  val Bool = 5; val F32 = 6
  /** INT64 annotated TIMESTAMP(MILLIS) — reader converts to micros. */
  val I64Ms = 7
  /** INT96 legacy timestamp (the Spark writer's default) — reader decodes
    * the 12-byte (nanos-of-day, Julian-day) layout to Catalyst micros. */
  val I96 = 8

  /** Commit ops that rewrite bucket POINTERS but no logical rows — the
    * set `skipLayoutOnly` drops from the change feed. */
  val LayoutOnlyOps: Set[String] = Set("compact", "rebucket", "compact-partial")

  /** The SOURCE-column value interval (inclusive, in Catalyst units —
    * epoch days for DATE, micros for TIMESTAMP) covered by partition
    * value `pval` under transform `tf`. None = unknown combination, or a
    * pval so far out of range the micros arithmetic would overflow (a
    * tampered path segment must read as "undecidable", never wrap into a
    * wrong interval — the exactness tier makes this correctness-bearing,
    * not merely advisory). */
  def partInterval(tf: String, dt: DataType, pval: Long): Option[(Long, Long)] =
    (tf, dt) match {
      case ("days", DateType) => Some((pval, pval))
      case ("days", TimestampType) if math.abs(pval) < 105000000L =>
        Some((pval * 86400000000L, pval * 86400000000L + 86399999999L))
      case ("months", DateType) if math.abs(pval) < 1200000L =>
        val first = java.time.LocalDate.of(
          (Math.floorDiv(pval, 12L) + 1970L).toInt,
          Math.floorMod(pval, 12L).toInt + 1, 1)
        Some((first.toEpochDay, first.plusMonths(1).toEpochDay - 1))
      case _ => None
    }

  /** The `_p=` path-segment value of file `f` under its bucket dir, or
    * None for flat-era files and the null-value default dir. */
  def partValOf(dataDir: String, f: String): Option[Long] = {
    val rel = java.nio.file.Paths.get(dataDir)
      .relativize(java.nio.file.Paths.get(f))
    (0 until rel.getNameCount).iterator.map(rel.getName(_).toString)
      .find(_.startsWith("_p="))
      .flatMap(s => scala.util.Try(s.stripPrefix("_p=").toLong).toOption)
  }

  /** The partition transform a commit's files were written under — the
    * `_pspec.txt` beside the bucket dir (inside the commit dir). */
  def pspecOf(dataDir: String): Option[(String, String)] = {
    val p = java.nio.file.Paths.get(dataDir).getParent.resolve("_pspec.txt")
    if (p == null || !java.nio.file.Files.exists(p)) None
    else {
      graft.core.TxTable.metaReadProbe(p.toString)
      scala.util.Try(java.nio.file.Files.readString(p).trim).toOption
        .collect { case graft.core.TxTable.SpecRe(tf, c) => (tf, c) }
    }
  }

  /** Spec-only observation hook: called with every `_p=` directory the
    * listing walk DESCENDS into, so Dsv2Spec can assert that a
    * partition-refuted day dir is never even listed (the poisoned-dir
    * proof — per-file refutation alone would also keep a poisoned file
    * unopened, so only a listing probe distinguishes the tiers). No-op
    * in production; nothing reads it. */
  private[graft] var partDirProbe: String => Unit = _ => ()

  /** Metadata columns the change-feed stream appends to every row. */
  val FeedMeta: StructType = StructType(Seq(
    StructField("_commit_version", LongType, nullable = false),
    StructField("_change_type", StringType, nullable = false)))

  /** The schema a scan of `pin` serves: the pin's record, plus the
    * change feed's metadata columns when it reads the feed. */
  def tableSchema(pin: graft.core.TxTable.Pin, changeFeed: Boolean): StructType =
    if (changeFeed) StructType(pin.schema.fields ++ FeedMeta.fields) else pin.schema

  /** All parquet files under a bucket dir, ANY depth — commits written
    * under a declared partition transform nest them in `_p=` dirs. */
  def parquetFiles(bucketDir: String): Seq[String] = {
    val p = java.nio.file.Paths.get(bucketDir)
    if (!java.nio.file.Files.isDirectory(p)) Nil
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).toList.sorted
      finally s.close()
    }
  }

  /** The physical-type code an INT64 column serves under, honoring the
    * parquet logical-type annotation: un-annotated and TIMESTAMP(MICROS)
    * read natively; TIMESTAMP(MILLIS) converts at the reader; NANOS has
    * no lossless micros representation and is rejected at planning. */
  private def int64Code(f: org.apache.parquet.schema.Type, col: String, file: String): Int =
    f.getLogicalTypeAnnotation match {
      case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        ts.getUnit match {
          case LogicalTypeAnnotation.TimeUnit.MICROS => I64
          case LogicalTypeAnnotation.TimeUnit.MILLIS => I64Ms
          case other => throw new IllegalArgumentException(
            s"graft connector: unsupported timestamp unit $other for $col in $file")
        }
      case _ => I64
    }

  /** Per file, per fetch field: the physical column serving it (current
    * name first, then rename aliases) and its primitive-type code, from
    * the file's footer schema `m`. */
  def resolveFile(file: String, m: MessageType, fetch: StructType,
                  aliases: Map[String, Seq[String]]): (Array[String], Array[Int], String) = {
    val phys = m.getFields.asScala.map(f => f.getName -> f).toMap
    val names = new Array[String](fetch.length)
    val codes = new Array[Int](fetch.length)
    fetch.fields.zipWithIndex.foreach { case (f, i) =>
      val variant = (f.name +: aliases.getOrElse(f.name, Nil)).find(phys.contains)
      variant match {
        case Some(n) =>
          val pt = phys(n).asPrimitiveType().getPrimitiveTypeName
          names(i) = n
          codes(i) = pt match {
            case PrimitiveType.PrimitiveTypeName.INT32 => I32
            case PrimitiveType.PrimitiveTypeName.INT64 => int64Code(phys(n), f.name, file)
            case PrimitiveType.PrimitiveTypeName.DOUBLE => F64
            case PrimitiveType.PrimitiveTypeName.FLOAT => F32
            case PrimitiveType.PrimitiveTypeName.BINARY => Utf8
            case PrimitiveType.PrimitiveTypeName.BOOLEAN => Bool
            case PrimitiveType.PrimitiveTypeName.INT96 => I96
            case other => throw new IllegalArgumentException(
              s"graft connector: unsupported physical type $other for ${f.name} in $file")
          }
        case None => names(i) = null; codes(i) = Absent
      }
    }
    // Ship the file's (projected) parquet schema with the partition, so
    // the ROW reader never re-opens the footer executor-side: projection
    // when any column is wanted, the full schema otherwise.
    val wanted = names.filter(_ != null)
    val proj =
      if (wanted.isEmpty) m
      else new MessageType(m.getName,
        m.getFields.asScala.filter(fl => wanted.contains(fl.getName)).asJava)
    (names, codes, proj.toString)
  }

  /** Parse a bucket dir's `_zonemap.txt`: bucket-relative file path →
    * column → (write-time type, min, max) with "null null" for
    * all-null. None = no usable sidecar (absent, foreign header, parse
    * failure) — never a refutation. Shared by the scan's file pruning
    * and the aggregate pushdown's sidecar tier. */
  def parseZoneSidecar(bucketDir: String)
      : Option[Map[String, Map[String, (String, String, String)]]] = {
    val p = java.nio.file.Paths.get(bucketDir, "_zonemap.txt")
    if (!java.nio.file.Files.exists(p)) None
    else {
      graft.core.TxTable.metaReadProbe(p.toString)
      parseZoneText(scala.util.Try(
        java.nio.file.Files.readString(p)).getOrElse(""))
    }
  }

  /** The `_zonemap.txt` parser proper — also fed the same text from the
    * consolidated stats manifest, so both paths share one grammar. */
  def parseZoneText(text: String)
      : Option[Map[String, Map[String, (String, String, String)]]] =
    try {
      val lines = text.linesIterator.toList
      if (lines.headOption.getOrElse("") != graft.core.TxTable.ZoneMapHeader) None
      else Some(lines.tail.filter(_.nonEmpty).map { l =>
        val a = l.split('\t')
        (a(0), a(1), (a(2), a(3), a(4)))
      }.groupBy(_._1).view
        .mapValues(_.map(x => x._2 -> x._3).toMap).toMap)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** A `_bloomidx` sidecar's raw bytes → (write-time type, sketch), or
    * None on a foreign header/parse failure — never a refutation. */
  def parseBloomBytes(colName: String, bytes: Array[Byte])
      : Option[(String, org.apache.spark.util.sketch.BloomFilter)] =
    try {
      val nl = bytes.indexOf('\n'.toByte)
      val header = new String(bytes, 0, math.max(nl, 0),
        java.nio.charset.StandardCharsets.UTF_8).split('\t')
      if (nl < 0 || header.length != 3 || header(0) != "graftbloom" ||
          header(1) != colName) None
      else Some((header(2), org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bytes, nl + 1, bytes.length - nl - 1))))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Parsed blooms live in the per-JVM metadata cache
    * ([[graft.core.FileMeta.cached]]): deserializing a bucket bloom is
    * O(filter bytes) — up to 2²⁷ bits per bucket × column — and an
    * interactive workload re-plans the same pinned layout constantly,
    * so without a cache every plan re-reads and re-parses
    * O(table-bloom-bytes) of metadata (SkipScale measured exactly this:
    * plan_bloom_point growing with data size while every other planning
    * probe stayed flat). A manifest blob caches under its content hash,
    * a sidecar file under its (path, size, mtime-nanos) identity;
    * `mightContain*` on a cached sketch is read-only; a sketch weighs
    * its bit array. */
  private[sources] def cachedBloom(key: String)(
      load: => Option[(String, org.apache.spark.util.sketch.BloomFilter)])
      : Option[(String, org.apache.spark.util.sketch.BloomFilter)] =
    graft.core.FileMeta.cached[(String, org.apache.spark.util.sketch.BloomFilter)](
      key, _._2.bitSize / 8)(load)

  /** The bucket-tier bloom sidecar file for (bucket dir, column). */
  def readBloomSidecar(bucketDir: String, colName: String)
      : Option[(String, org.apache.spark.util.sketch.BloomFilter)] = {
    val p = java.nio.file.Paths.get(bucketDir, s"_bloomidx.$colName.bin")
    // An unstatable (vanished) sidecar reads as "no index", never a refutation.
    scala.util.Try(graft.core.FileMeta.stamp(p)).toOption.flatMap { id =>
      cachedBloom(s"f:$id") {
        graft.core.TxTable.metaReadProbe(p.toString)
        scala.util.Try(java.nio.file.Files.readAllBytes(p)).toOption
          .flatMap(parseBloomBytes(colName, _))
      }
    }
  }

  /** The bucket-id METADATA COLUMN (SupportsMetadataColumns): invisible
    * to SELECT *, explicitly selectable like Spark's own `_metadata`
    * family, served as a zero-cost per-partition CONSTANT (each scan
    * partition IS one bucket). This is what carries storage-partitioned
    * joins past Spark's one-reference transform limit for COMPOSITE-key
    * tables: the scan reports `identity(_graft_bucket)` partitioning
    * when the column is in the projection, so a join that adds the
    * (implied) `a._graft_bucket = b._graft_bucket` term — or a GROUP BY
    * that lists it alongside the merge keys — plans with zero shuffle. */
  val BucketCol = "_graft_bucket"

  /** The table's DESCRIPTIVE partitioning transform. Single-key tables
    * use Spark's own `bucket(n, key)` (which also drives their SPJ
    * resolution); composite keys report the hash as a named
    * `graft_bucket_<n>(keys…)` transform — Spark's SPJ machinery
    * accepts only single-reference transforms
    * (KeyGroupedPartitioning.supportsExpressions), so the composite
    * zero-shuffle path rides [[BucketCol]] instead, and this form is
    * the catalog-facing description (the bucket count lives in the
    * NAME so the transform's only leaves are the key attributes and
    * the bound function's canonicalName still distinguishes bucket
    * counts). */
  def bucketTransform(n: Int, keys: Seq[String])
      : org.apache.spark.sql.connector.expressions.Transform = {
    import org.apache.spark.sql.connector.expressions.{Expression => VExpr, Expressions}
    if (keys.length == 1) Expressions.bucket(n, keys.head)
    else Expressions.apply(s"graft_bucket_$n",
      keys.map(k => Expressions.column(k).asInstanceOf[VExpr]): _*)
  }

  /** Per-key candidate VALUE sets implied by EqualTo/In key predicates —
    * the precondition for bucket pruning: every key column must be
    * pinned (EqualTo → one candidate, In → the list; several predicates
    * on one key intersect). None = some key unconstrained, or an
    * intersection emptied (a contradictory `k = 1 AND k = 2` probe reads
    * the full listing rather than special-casing to zero — the residual
    * filters own correctness either way). The cartesian product of these
    * sets is never materialized — [[GraftScan.keyBucketSet]] streams it
    * straight into a bucket bit set. */
  def perKeyCandidates(keyCols: Seq[String],
                       filters: Array[Filter]): Option[Seq[Seq[Any]]] = {
    if (keyCols.isEmpty || filters.isEmpty) return None
    val perKey: Seq[Seq[Any]] = keyCols.map { k =>
      val cands = filters.toSeq.collect {
        case EqualTo(a, v) if a == k => Seq(v)
        case org.apache.spark.sql.sources.In(a, vs) if a == k =>
          vs.toSeq.distinct
      }
      if (cands.isEmpty) Nil else cands.reduce(_ intersect _)
    }
    if (perKey.exists(_.isEmpty)) None else Some(perKey)
  }

  /** Per-file skip-filter preparation for parquet row-group/page skipping:
    * logical column names remapped to the file's physical names (rename
    * aliases), and any filter touching a column whose physical/logical
    * pairing is NOT stats-native dropped entirely — a MILLIS or INT96
    * timestamp, a widened INT32-as-long, a FLOAT-as-double all keep their
    * footer statistics in FILE units, so comparing logical-unit filter
    * values against them would skip row groups that actually match
    * (silent data loss). Absent columns pass through under their logical
    * name: ParquetFilters refuses them per file, which is the
    * conservative fallback (no skipping; the engine residual still
    * applies — ADD-COLUMN default semantics are never consulted for
    * skipping). */
  def skipPredicateFilters(filters: Array[Filter], fetch: StructType,
                           physNames: Array[String], physCodes: Array[Int])
      : Seq[Filter] = {
    if (filters.isEmpty) return Nil
    val rename = scala.collection.mutable.Map.empty[String, String]
    val unsafe = scala.collection.mutable.Set.empty[String]
    fetch.fields.zipWithIndex.foreach { case (f, i) =>
      if (physCodes(i) != Absent) {
        val native = (physCodes(i), f.dataType) match {
          case (I64, LongType) | (I32, IntegerType) | (I32, DateType) |
               (F64, DoubleType) | (Utf8, StringType) | (Bool, BooleanType) |
               (I64, TimestampType) => true
          case _ => false
        }
        if (native) rename(f.name) = physNames(i) else unsafe += f.name
      }
    }
    filters.toSeq
      .filter(_.references.forall(r => !unsafe.contains(r)))
      .flatMap(renameFilter(_, n => rename.getOrElse(n, n)))
  }

  /** The per-file parquet FilterPredicate for a partition's skip filters,
    * or None when nothing survives translation (no skipping — the
    * engine's residual filter owns correctness either way). */
  def filePredicate(p: GraftInputPartition, fileIdx: Int, fetch: StructType)
      : Option[org.apache.parquet.filter2.predicate.FilterPredicate] =
    if (p.skipFilters.isEmpty) None
    else {
      val remapped = skipPredicateFilters(p.skipFilters, fetch,
        p.physNames(fileIdx), p.physCodes(fileIdx))
      if (remapped.isEmpty) None
      else org.apache.spark.sql.graftbridge.Bridge.parquetFilterPredicate(
        org.apache.parquet.schema.MessageTypeParser
          .parseMessageType(p.physSchemas(fileIdx)),
        remapped)
    }

  /** Structural rename of a source filter's attribute references; an
    * unrecognized node drops the whole filter (conservative — skipping is
    * an optimization, the residual filter owns correctness). */
  def renameFilter(f: Filter, m: String => String): Option[Filter] = {
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => Some(EqualTo(m(a), v))
      case EqualNullSafe(a, v) => Some(EqualNullSafe(m(a), v))
      case GreaterThan(a, v) => Some(GreaterThan(m(a), v))
      case GreaterThanOrEqual(a, v) => Some(GreaterThanOrEqual(m(a), v))
      case LessThan(a, v) => Some(LessThan(m(a), v))
      case LessThanOrEqual(a, v) => Some(LessThanOrEqual(m(a), v))
      case In(a, vs) => Some(In(m(a), vs))
      case IsNull(a) => Some(IsNull(m(a)))
      case IsNotNull(a) => Some(IsNotNull(m(a)))
      case StringStartsWith(a, v) => Some(StringStartsWith(m(a), v))
      case StringEndsWith(a, v) => Some(StringEndsWith(m(a), v))
      case StringContains(a, v) => Some(StringContains(m(a), v))
      case And(l, r) =>
        for { a <- renameFilter(l, m); b <- renameFilter(r, m) } yield And(a, b)
      case Or(l, r) =>
        for { a <- renameFilter(l, m); b <- renameFilter(r, m) } yield Or(a, b)
      case Not(c) => renameFilter(c, m).map(Not)
      case _: AlwaysTrue | _: AlwaysFalse => Some(f)
      case _ => None
    }
  }

  /** Render a pushed source Filter as a Spark SQL boolean expression —
    * the bridge that lets `DELETE FROM` through the catalog reach
    * [[graft.core.TxTable.deleteWhere]] (which takes a predicate
    * string). Total only over shapes whose VALUES render losslessly:
    * strings (escaped), integral/decimal numbers, booleans, dates and
    * timestamps (typed literals); None refuses the whole filter —
    * `canDeleteWhere` then rejects the DELETE loudly instead of
    * deleting the wrong rows. Floats/doubles render as
    * `CAST('<toString>' AS …)`: Java guarantees
    * `parseDouble(d.toString) == d` bit-exactly (incl. NaN/±Infinity/
    * -0.0) and Spark's string→double cast IS parseDouble — a bare SQL
    * decimal literal would instead parse as DECIMAL and break exactly
    * there. Binary/structs refuse. */
  def filterToSql(f: Filter): Option[String] = {
    import org.apache.spark.sql.sources._
    def ident(c: String): String = "`" + c.replace("`", "``") + "`"
    def lit(v: Any): Option[String] = v match {
      case null => Some("NULL")
      case s: String =>
        Some("'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'")
      case s: org.apache.spark.unsafe.types.UTF8String => lit(s.toString)
      case b: java.lang.Boolean => Some(b.toString)
      case n @ (_: java.lang.Integer | _: java.lang.Long | _: java.lang.Short |
                _: java.lang.Byte) => Some(n.toString + "L")
      case d: java.lang.Double => Some(s"CAST('$d' AS DOUBLE)")
      case f: java.lang.Float => Some(s"CAST('$f' AS FLOAT)")
      case d: java.math.BigDecimal => Some(d.toPlainString + "BD")
      case d: scala.math.BigDecimal => Some(d.bigDecimal.toPlainString + "BD")
      case d: java.sql.Date => Some(s"DATE'$d'")
      case d: java.time.LocalDate => Some(s"DATE'$d'")
      case t: java.sql.Timestamp =>
        // Render via the instant with an explicit zone — `toString` is
        // JVM-tz-local while TIMESTAMP'…' parses in the SESSION tz, and
        // those can differ.
        Some(s"TIMESTAMP'${java.time.format.DateTimeFormatter.ISO_INSTANT
          .format(t.toInstant)}'")
      case t: java.time.Instant =>
        Some(s"TIMESTAMP'${java.time.format.DateTimeFormatter.ISO_INSTANT.format(t)}'")
      case _ => None // floats/doubles/binary/structs: refuse
    }
    def bin(a: String, op: String, v: Any): Option[String] =
      lit(v).map(l => s"(${ident(a)} $op $l)")
    f match {
      case EqualTo(a, v) => bin(a, "=", v)
      case EqualNullSafe(a, v) => bin(a, "<=>", v)
      case GreaterThan(a, v) => bin(a, ">", v)
      case GreaterThanOrEqual(a, v) => bin(a, ">=", v)
      case LessThan(a, v) => bin(a, "<", v)
      case LessThanOrEqual(a, v) => bin(a, "<=", v)
      case In(a, vs) if vs != null =>
        if (vs.isEmpty) Some("false")
        else {
          val ls = vs.toSeq.map(lit)
          if (ls.exists(_.isEmpty)) None
          else Some(s"(${ident(a)} IN (${ls.flatten.mkString(", ")}))")
        }
      case IsNull(a) => Some(s"(${ident(a)} IS NULL)")
      case IsNotNull(a) => Some(s"(${ident(a)} IS NOT NULL)")
      case StringStartsWith(a, v) =>
        lit(v).map(l => s"startswith(${ident(a)}, $l)")
      case StringEndsWith(a, v) =>
        lit(v).map(l => s"endswith(${ident(a)}, $l)")
      case StringContains(a, v) =>
        lit(v).map(l => s"contains(${ident(a)}, $l)")
      case And(l, r) =>
        for { a <- filterToSql(l); b <- filterToSql(r) } yield s"($a AND $b)"
      case Or(l, r) =>
        for { a <- filterToSql(l); b <- filterToSql(r) } yield s"($a OR $b)"
      case Not(c) => filterToSql(c).map(s => s"(NOT $s)")
      case _: AlwaysTrue => Some("true")
      case _: AlwaysFalse => Some("false")
      case _ => None
    }
  }
}

final class GraftTable(dir: String, keyCols: Seq[String], pin: graft.core.TxTable.Pin,
                       changeFeed: Boolean = false,
                       skipLayoutOnly: Boolean = false,
                       spjCapable: Boolean = false)
  extends Table with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  private val schema0: StructType = GraftDataSource.tableSchema(pin, changeFeed)

  /** SQL `UPDATE` / `MERGE INTO`: the group-based row-level-operation
    * contract with the storage BUCKET as the replacement group — see
    * [[GraftRowLevelOperation]]. Boundaries enforced here with clear
    * errors rather than wrong results downstream. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(!changeFeed, "the change feed is read-only")
    val t = graft.core.TxTable.open(SparkSession.active, dir, keyCols)
    require(t.partitionSpec.isEmpty,
      "row-level SQL DML is not yet supported on partition-transformed " +
        "tables (the replacement writer emits the bucket tier only)")
    require(info.command() ==
      org.apache.spark.sql.connector.write.RowLevelOperation.Command.UPDATE ||
      !schema0.fieldNames.contains(graft.core.TxTable.RidCol),
      "MERGE INTO is not supported on row-tracked tables (NOT MATCHED " +
        "inserts cannot draw engine row ids on this path) — UPDATE, or " +
        "the native merge verb, preserve ids and stay available")
    () => new GraftRowLevelOperation(dir, keyCols, pin, info.command())
  }

  override def name(): String = s"graft.`$dir`"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  /** SQL/DataFrame WRITES: `INSERT INTO` (and `DataFrameWriterV2.append`)
    * MERGE the batch through the table's keyed upsert — on a keyed table
    * an append IS an upsert: a row whose key exists replaces it, new
    * keys insert (read-your-writes, the s12 contract); `INSERT
    * OVERWRITE` / `.truncate().append()` replaces the entire content in
    * ONE atomic commit ([[graft.core.TxTable.overwriteAll]] — no
    * non-atomic delete+append window). The V1 write bridge hands the
    * batch as a DataFrame, which is exactly what the driver-orchestrated
    * commit protocol consumes — the executors still do the data write
    * inside `merge`'s own job; only the COMMIT decision is driver-side,
    * like every log-publishing lakehouse writer. */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(!changeFeed, "the change feed is read-only")
    new org.apache.spark.sql.connector.write.WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var replaceAll = false
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
        replaceAll = true; this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            (data: org.apache.spark.sql.DataFrame, overwrite: Boolean) => {
              val t = graft.core.TxTable.open(SparkSession.active, dir, keyCols)
              if (replaceAll || overwrite) t.overwriteAll(data)
              else t.merge(data)
            }
        }
    }
  }

  /** SQL DML: `DELETE FROM gcat.t WHERE …` maps to the library's
    * predicate-DML verb [[graft.core.TxTable.deleteWhere]] (same
    * copy-on-write commit, same CDC shape, same optimistic write-skew-
    * guarded retry). Only filters whose every leaf and value render
    * losslessly to SQL are accepted ([[GraftDataSource.filterToSql]]);
    * everything else — and the change-feed relation — refuses HERE, so
    * Spark raises its standard "cannot delete" analysis error instead
    * of a partial or wrong delete. Truncation (`DELETE FROM t`) arrives
    * as AlwaysTrue and maps to `deleteWhere("true")`. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    !changeFeed && filters.forall(f => GraftDataSource.filterToSql(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(!changeFeed, "DELETE is not defined on the change feed")
    val where =
      if (filters.isEmpty) "true"
      else filters.map(f => GraftDataSource.filterToSql(f).getOrElse(
        throw new UnsupportedOperationException(
          s"untranslatable DELETE filter: $f"))).mkString(" AND ")
    graft.core.TxTable.open(SparkSession.active, dir, keyCols).deleteWhere(where)
  }

  /** `_graft_bucket` — the storage bucket id as a DSv2 metadata column
    * (excluded from SELECT *, explicitly selectable; readers serve it as
    * a free per-partition constant since every scan partition is exactly
    * one bucket). Not offered on the change feed (it synthesizes its own
    * metadata) or if a real column shadows the name. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    if (changeFeed || schema0.fieldNames.contains(GraftDataSource.BucketCol))
      Array.empty
    else Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = GraftDataSource.BucketCol
      override def dataType(): org.apache.spark.sql.types.DataType = IntegerType
      override def isNullable: Boolean = false
      override def comment(): String =
        "storage bucket id: pmod(xxhash64(merge keys), bucket count)"
    })

  /** The table IS bucket-partitioned by its merge keys — advertising the
    * transform lets catalog-resolved joins use storage-partitioned
    * planning. ONLY when resolved through [[GraftCatalog]] (spjCapable):
    * the bucket function must resolve through a FunctionCatalog that
    * knows it, and other routes (the session catalog, plain format
    * reads) THROW on the lookup instead of falling back. Composite-key
    * tables report the named `graft_bucket(n, keys…)` form (see
    * [[GraftDataSource.bucketTransform]]). */
  override def partitioning(): Array[Transform] =
    if (!spjCapable || changeFeed) Array.empty
    else Array(GraftDataSource.bucketTransform(pin.buckets, keyCols))

  /** Layout metadata as table properties (`SHOW TBLPROPERTIES` through
    * [[GraftCatalog]]): how the table is keyed, bucketed, bloom-indexed
    * and clustered — the operational facts a user needs to predict which
    * predicates prune (key equality → bucket, bloom columns → bucket +
    * row-group refutation, cluster columns → row-group/page ranges). */
  override def properties(): JMap[String, String] = {
    val t = graft.core.TxTable.open(SparkSession.active, dir, keyCols)
    val m = new java.util.HashMap[String, String]()
    m.put("format", "graft")
    m.put("merge-keys", keyCols.mkString(","))
    m.put("version", pin.v.toString)
    m.put("buckets", pin.buckets.toString)
    if (t.bloomColumns.nonEmpty) {
      m.put("bloom-columns", t.bloomColumns.mkString(","))
      m.put("bloom-index-bits", t.bloomIndexBits.toString)
    }
    if (t.clusterColumns.nonEmpty)
      m.put("cluster-columns", t.clusterColumns.mkString(","))
    if (t.zoneMapColumns.nonEmpty)
      m.put("zonemap-columns", t.zoneMapColumns.mkString(","))
    t.partitionSpec.foreach { case (tf, c) =>
      m.put("partition-spec", s"$tf($c)") }
    m
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(dir, keyCols, pin, changeFeed,
      skipLayoutOnly, spjCapable,
      startingVersion = Option(options.get("startingVersion")).map(_.toLong).getOrElse(0L),
      ignoreStats = options.getBoolean("ignoreStatsManifest", false))
}

final class GraftScanBuilder(dir: String, keyCols: Seq[String],
                             pin: graft.core.TxTable.Pin,
                             changeFeed: Boolean = false,
                             skipLayoutOnly: Boolean = false,
                             spjCapable: Boolean = false,
                             startingVersion: Long = 0L,
                             ignoreStats: Boolean = false,
                             rowLevelOp: GraftRowLevelOperation = null)
  extends ScanBuilder with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
  with org.apache.spark.sql.connector.read.SupportsPushDownLimit {

  private val tableSchema = GraftDataSource.tableSchema(pin, changeFeed)
  private var required: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty
  private var dataFilters: Array[Filter] = Array.empty
  private var exactFilters: Array[Filter] = Array.empty
  private var countStarPushed = false
  private var statsSchema: StructType = null
  private var statsRow: Array[Any] = null
  private var statsVia: String = ""
  private var limit: Int = Int.MaxValue

  /** One consolidated-stats read shared by the builder's planning work
    * (partition-exact acceptance, ranged count, aggregate pushdown). */
  private lazy val builderStats: StatsView = new StatsView(dir, pin, ignoreStats)

  /** LIMIT pushes PARTIALLY: each partition's reader stops after emitting
    * `limit` surviving rows (post-DV), so a `LIMIT 10` on a 100 TB table
    * reads at most 10 rows per bucket instead of every page; Spark's own
    * global Limit stays above the scan and trims the per-bucket heads. */
  override def pushLimit(l: Int): Boolean = {
    if (changeFeed) false
    else { limit = l; true }
  }

  /** Aggregates with no grouping, no residual filters, and no deletion
    * vectors in the pinned snapshot are answered from parquet FOOTERS —
    * COUNT(*) from record counts, MIN/MAX of numeric/date/timestamp
    * columns from column statistics. On a 100 TB table that costs one
    * footer read per file, zero data pages. Refusals keep correctness off
    * the shortcut: any DV (an equality delete only retires keys that
    * exist — footers cannot know), any file missing the column (its rows
    * answer from the ADD-COLUMN default, which stats don't cover), any
    * chunk without usable statistics (writer disabled them, or doubles
    * saw a NaN), STRING columns always (binary footer stats may be
    * writer-truncated — a truncated min is silently wrong), and any
    * timestamp unit other than MICROS. All metadata resolves against the
    * PINNED version, so a DV landing after pushdown cannot invalidate
    * the answer. */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    if (changeFeed || aggregation.groupByExpressions().nonEmpty ||
      aggregation.aggregateExpressions().isEmpty) return false
    // Residual-bearing scans never reach here (Spark requires every
    // post-scan filter gone before pushing an aggregate), so any filter
    // state present is either key-pruning `pushed` markers or the
    // partition-exact set. Anything beyond the exact set refuses.
    if (pushed.exists(f => !exactFilters.contains(f)) ||
      dataFilters.exists(f => !exactFilters.contains(f))) return false
    val layout = pin.layout
    if (!layout.values.forall(_._2.isEmpty)) return false
    if (exactFilters.nonEmpty) {
      // RANGED COUNT tier: a single COUNT(*) under partition-exact
      // filters answers from the v2 per-file `_rows.txt` sidecars with
      // zero data or footer I/O — the date-range dashboard count. Other
      // aggregates (MIN/MAX) refuse: Spark computes them over the
      // exactly-pruned scan instead.
      if (aggregation.aggregateExpressions().length == 1 &&
        aggregation.aggregateExpressions()(0).isInstanceOf[CountStar]) {
        rangedCount(layout) match {
          case Some(cnt) =>
            statsSchema = StructType(Seq(
              StructField("count(*)", LongType, nullable = false)))
            statsRow = Array[Any](cnt)
            statsVia = "partition-covered per-file row-count sidecars"
            return true
          case None => return false
        }
      }
      return false
    }
    // Exactly-one guard: GraftCountScan emits a single count(*) column, so
    // a hypothetical multi-CountStar aggregation routes through
    // computeStats/GraftStatsScan (one column per pushed expression).
    if (aggregation.aggregateExpressions().length == 1 &&
      aggregation.aggregateExpressions()(0).isInstanceOf[CountStar]) {
      countStarPushed = true
      return true
    }
    computeStats(layout, aggregation) match {
      case Some((schema, row, via)) =>
        statsSchema = schema; statsRow = row; statsVia = via; true
      case None => false
    }
  }

  /** COUNT(*) under partition-exact filters: per file, the filter
    * conjunction is ALL (count its sidecar rows) or NONE (count zero) —
    * exactness was proven at pushFilters against the same pinned
    * snapshot, so a SOME here, or any file missing its per-file rows
    * line (v1 sidecar, pre-sidecar commit), refuses the pushdown and the
    * exactly-pruned scan computes the count instead. Zero footer I/O
    * either way. */
  private def rangedCount(layout: Map[Long, (String, Seq[String])]): Option[Long] = {
    val aliases = pin.aliases
    var total = 0L
    layout.values.toSeq.foreach { case (dataDir, _) =>
      val pspec = builderStats.pspec(dataDir)
      lazy val perFile = builderStats.perFileRows(dataDir)
      builderStats.listing(dataDir)
        .getOrElse(GraftDataSource.parquetFiles(dataDir)).foreach { f =>
        val cov = (for {
          (tf, c) <- pspec
          pv <- GraftDataSource.partValOf(dataDir, f)
        } yield exactFilters.map(coverage(_, tf, pv, c, aliases))
          .foldLeft(1)((a, b) =>
            if (a == 0 || b == 0) 0 else if (a == 1 && b == 1) 1 else 2))
          .getOrElse(2)
        cov match {
          case 0 => ()
          case 1 =>
            val rel = java.nio.file.Paths.get(dataDir)
              .relativize(java.nio.file.Paths.get(f)).toString
            total += perFile.flatMap(_.get(rel)).getOrElse(return None)
          case _ => return None
        }
      }
    }
    Some(total)
  }

  /** A pushed aggregate position: None = COUNT(*), Some((col, isMin)). */
  private def classify(aggregation: Aggregation): Option[Array[Option[(String, Boolean)]]] = {
    def statCol(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 &&
          tableSchema.fieldNames.contains(nr.fieldNames()(0)) &&
          (tableSchema(nr.fieldNames()(0)).dataType match {
            case LongType | IntegerType | DoubleType | DateType | TimestampType => true
            case _ => false // strings/booleans always scan
          }) => Some(nr.fieldNames()(0))
        case _ => None
      }
    val specs = aggregation.aggregateExpressions().map {
      case _: CountStar => Some(None)
      case m: Min => statCol(m.column).map(c => Some((c, true)))
      case m: Max => statCol(m.column).map(c => Some((c, false)))
      case _ => None
    }
    if (specs.exists(_.isEmpty)) None else Some(specs.map(_.get))
  }

  private def computeStats(layout: Map[Long, (String, Seq[String])],
                           aggregation: Aggregation): Option[(StructType, Array[Any], String)] = {
    val specs = classify(aggregation).getOrElse(return None)
    val cols = specs.flatten.map(_._1).distinct.toSeq
    val aliases = pin.aliases
    var count = 0L
    // Running extrema per column, as CATALYST values (Long/Int/Double).
    val lo = scala.collection.mutable.Map.empty[String, Any]
    val hi = scala.collection.mutable.Map.empty[String, Any]
    def cmp(a: Any, b: Any): Int = (a, b) match {
      case (x: Long, y: Long) => java.lang.Long.compare(x, y)
      case (x: Int, y: Int) => Integer.compare(x, y)
      case (x: Double, y: Double) => java.lang.Double.compare(x, y)
      case _ => throw new IllegalStateException("graft stats: mixed extrema types")
    }
    // SIDECAR TIER first: when every bucket carries a parsable _rows.txt
    // (COUNT) and every file of every bucket carries a _zonemap line of
    // each probed column's EXACT type, the whole aggregate answers from
    // O(buckets) tiny sidecar reads — ZERO footer I/O, the same
    // promotion the _rows.txt sidecars gave COUNT(*) in round 14 (at
    // 100 TB: a MIN/MAX that read 4096×k footers now reads 4096 small
    // text files the layout wrote at commit time). Any gap — missing
    // sidecar, pre-sidecar commit, undeclared or type-mismatched
    // (widened) column, an unparsable value — falls through to the
    // footer path below; correctness never rides on the shortcut.
    var via = "parquet footer statistics"
    val sidecar: Option[Unit] = scala.util.Try {
      layout.values.toSeq.sortBy(_._1).foreach { case (dataDir, _) =>
        count += builderStats.rowsTotal(dataDir)
          .getOrElse(throw new IllegalStateException("no rows sidecar"))
        if (cols.nonEmpty) {
          val zone = builderStats.zoneSidecar(dataDir)
            .getOrElse(throw new IllegalStateException("no zonemap"))
          builderStats.listing(dataDir)
            .getOrElse(GraftDataSource.parquetFiles(dataDir)).foreach { f =>
            val rel = java.nio.file.Paths.get(dataDir)
              .relativize(java.nio.file.Paths.get(f)).toString
            val byCol = zone.getOrElse(rel,
              throw new IllegalStateException(s"no zone lines for $rel"))
            cols.foreach { c =>
              val names = c +: aliases.getOrElse(c, Nil)
              val (typ, loS, hiS) = names.iterator.flatMap(byCol.get)
                .nextOption().getOrElse(
                  throw new IllegalStateException(s"no zone line for $c"))
              if (typ != tableSchema(c).dataType.catalogString)
                throw new IllegalStateException(s"type drift for $c")
              if (loS != "null") { // all-null files contribute no extrema
                val (mn: Any, mx: Any) = typ match {
                  case "int" | "date" => (loS.toInt, hiS.toInt)
                  case "bigint" | "timestamp" => (loS.toLong, hiS.toLong)
                  case "double" => (loS.toDouble, hiS.toDouble)
                  case other =>
                    throw new IllegalStateException(s"zone type $other")
                }
                if (!lo.contains(c) || cmp(mn, lo(c)) < 0) lo(c) = mn
                if (!hi.contains(c) || cmp(mx, hi(c)) > 0) hi(c) = mx
              }
            }
          }
        }
      }
    }.toOption
    if (sidecar.isDefined) via = "zone-map/row-count sidecars"
    else { count = 0L; lo.clear(); hi.clear() }
    val files = if (sidecar.isDefined) Nil
      else layout.values.toSeq.sortBy(_._1)
        .flatMap { case (dataDir, _) => GraftDataSource.parquetFiles(dataDir) }
    // One (cached) footer per file, probed in parallel: each yields
    // (rowCount, per-column extrema) or None = refuse the pushdown.
    def fileStats(f: String): Option[(Long, Map[String, Any], Map[String, Any])] = {
      val flo = scala.collection.mutable.Map.empty[String, Any]
      val fhi = scala.collection.mutable.Map.empty[String, Any]
      val footer = graft.core.FileMeta.footer(f)
      val fcount = graft.core.FileMeta.rowCount(footer)
      val phys = footer.getFileMetaData.getSchema.getFields.asScala
        .map(fl => fl.getName -> fl).toMap
      cols.foreach { c =>
        val physName = (c +: aliases.getOrElse(c, Nil)).find(phys.contains)
          .getOrElse(return None) // absent column: default semantics → scan
        val field = phys(physName)
        val pt = field.asPrimitiveType().getPrimitiveTypeName
        val tdt = tableSchema(c).dataType
        // Physical value → Catalyst value for this (file, column), or
        // refuse: the combination the footer stats can answer exactly.
        val conv: Any => Any = (pt, tdt) match {
          case (PrimitiveType.PrimitiveTypeName.INT64, LongType) => identity
          case (PrimitiveType.PrimitiveTypeName.INT64, TimestampType)
            if (field.getLogicalTypeAnnotation match {
              case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                ts.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
              case _ => false
            }) => identity
          case (PrimitiveType.PrimitiveTypeName.INT32, IntegerType) => identity
          case (PrimitiveType.PrimitiveTypeName.INT32, DateType) => identity
          case (PrimitiveType.PrimitiveTypeName.INT32, LongType) =>
            v => v.asInstanceOf[Integer].longValue()
          case (PrimitiveType.PrimitiveTypeName.DOUBLE, DoubleType) => identity
          case _ => return None
        }
        footer.getBlocks.asScala.foreach { block =>
          val chunk = block.getColumns.asScala
            .find(_.getPath.toDotString == physName).getOrElse(return None)
          val stats: org.apache.parquet.column.statistics.Statistics[_] =
            chunk.getStatistics
          if (stats == null || stats.isEmpty) return None // stats disabled
          if (stats.hasNonNullValue) {
            val mn = conv(stats.genericGetMin); val mx = conv(stats.genericGetMax)
            if (!flo.contains(c) || cmp(mn, flo(c)) < 0) flo(c) = mn
            if (!fhi.contains(c) || cmp(mx, fhi(c)) > 0) fhi(c) = mx
          } else if (!(stats.isNumNullsSet && stats.getNumNulls == chunk.getValueCount))
            return None // can't distinguish all-null from missing stats
        }
      }
      Some((fcount, flo.toMap, fhi.toMap))
    }
    val perFile = graft.core.TxTable.parMap(files)(fileStats)
    if (perFile.exists(_.isEmpty)) return None
    perFile.flatten.foreach { case (fcount, flo, fhi) =>
      count += fcount
      flo.foreach { case (c, v) =>
        if (!lo.contains(c) || cmp(v, lo(c)) < 0) lo(c) = v }
      fhi.foreach { case (c, v) =>
        if (!hi.contains(c) || cmp(v, hi(c)) > 0) hi(c) = v }
    }
    val fields = specs.map {
      case None => StructField("count(*)", LongType, nullable = false)
      case Some((c, isMin)) =>
        StructField(s"${if (isMin) "min" else "max"}($c)", tableSchema(c).dataType)
    }
    val row = specs.map[Any] {
      case None => count
      case Some((c, isMin)) => (if (isMin) lo else hi).getOrElse(c, null)
    }
    Some((StructType(fields.toSeq), row, via))
  }

  /** Key predicates prune the bucket listing: an equality covering EVERY
    * key column prunes to ONE bucket; IN lists generalize that to
    * candidate TUPLES (each key pinned by EqualTo or In — the product is
    * streamed into a bucket set at planning, see
    * [[GraftScan.keyBucketSet]]), so both the
    * single-key batched point lookup (s28's shape) and the composite-key
    * `k1 = x AND k2 IN (…)` probe plan ≤|tuples| buckets. The filters
    * are still handed back as residuals (listing-level pruning only —
    * Spark re-evaluates, so a hash bug could never drop rows silently,
    * it would only read too much). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // Every filter is also recorded for parquet ROW-GROUP/PAGE SKIPPING:
    // readers translate them per file (physical names, stats-native types
    // only) and hand them to the parquet reader as a FilterPredicate, so
    // a selective non-key predicate skips whole row groups via footer
    // statistics instead of decoding every page of every surviving
    // bucket. Correctness never rides on it — the same filters return as
    // residuals below and Spark re-evaluates them above the scan.
    if (!changeFeed) dataFilters = filters
    // The bucket-id fast paths apply ONLY when _graft_bucket is the
    // metadata column — a real table column of that name shadows it
    // (metadataColumns() already withholds it), and treating a DATA
    // predicate as a storage-bucket id would prune away matching rows
    // in every other bucket.
    val bucketMeta = !tableSchema.fieldNames.contains(GraftDataSource.BucketCol)
    val bucketPred = bucketMeta && filters.exists {
      case EqualTo(a, _) => a == GraftDataSource.BucketCol
      case org.apache.spark.sql.sources.In(a, _) => a == GraftDataSource.BucketCol
      case _ => false
    }
    if (GraftDataSource.perKeyCandidates(keyCols, filters).isDefined || bucketPred) {
      pushed = filters.filter {
        case EqualTo(a, _) =>
          keyCols.contains(a) || (bucketMeta && a == GraftDataSource.BucketCol)
        case org.apache.spark.sql.sources.In(a, _) =>
          keyCols.contains(a) || (bucketMeta && a == GraftDataSource.BucketCol)
        case _ => false
      }
    }
    // PARTITION-EXACT acceptance (the Iceberg residual-evaluation move):
    // a filter whose truth the hidden-partition tier decides for EVERY
    // file of the pinned snapshot — each file's path-derived interval
    // lies entirely inside the predicate region (all rows match) or
    // entirely outside it (none do), with no straddling file — is
    // consumed here instead of returned as a residual. The scan then
    // reads exactly the all-match files (the same partitionAdmits
    // refutation it always ran) and Spark plans NO Filter node above it,
    // which is what lets a ranged COUNT(*) reach pushAggregation: Spark
    // only pushes aggregates over a scan with zero post-scan filters.
    // This is the one tier where correctness rides on the metadata (no
    // residual re-evaluation), so acceptance is per-file-proven against
    // the pinned version, never heuristic; any undecidable file — flat
    // era, null-partition dir, unparsable segment, boundary-straddling
    // interval — keeps the filter a residual and the old plan shape.
    exactFilters =
      if (changeFeed) Array.empty else partitionExactFilters(filters)
    if (exactFilters.nonEmpty) pushed = (pushed ++ exactFilters).distinct
    filters.filterNot(exactFilters.contains)
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** Filters the partition tier decides exactly (ALL or NONE) for every
    * file of the pinned layout — see the pushFilters note. Only
    * attempted on tables that have ever declared a partition transform,
    * and only for filters whose every referenced column could be a
    * transform source (DATE/TIMESTAMP); everything else stays residual
    * without touching the listing. */
  private def partitionExactFilters(filters: Array[Filter]): Array[Filter] = {
    val cand = filters.filter(f => exactRefutableShape(f) &&
      f.references.nonEmpty &&
      f.references.forall(r => tableSchema.fieldNames.contains(r) &&
        (tableSchema(r).dataType match {
          case DateType | TimestampType => true
          case _ => false
        })))
    if (cand.isEmpty) return Array.empty
    if (!pin.everPartitioned) return Array.empty
    val aliases = pin.aliases
    // (transform, pval, specCol) per file — None = undecidable file.
    // Listing and pspec come from the consolidated stats manifest when
    // the version carries one (no walk, no per-commit file reads).
    val fileParts: Seq[Option[(String, Long, String)]] =
      pin.layout.values.toSeq.flatMap { case (dataDir, _) =>
        val pspec = builderStats.pspec(dataDir)
        builderStats.listing(dataDir)
          .getOrElse(GraftDataSource.parquetFiles(dataDir)).map { f =>
          for {
            (tf, c) <- pspec
            pv <- GraftDataSource.partValOf(dataDir, f)
          } yield (tf, pv, c)
        }
      }
    cand.filter { flt =>
      fileParts.forall {
        case Some((tf, pv, c)) => coverage(flt, tf, pv, c, aliases) != 2
        case None => false
      }
    }
  }

  /** Acceptance-side STRUCTURAL gate for partition-exact filters: only
    * And/Or trees over interval-comparable leaves (>, >=, <, <=, =, In
    * with ≥1 non-null value) plus IsNotNull may be consumed. The scan
    * enforces a consumed filter via [[GraftScan.fileAdmits]], whose leaf
    * evaluator ([[GraftScan.zoneLeaf]] → partitionAdmits) can refute
    * EXACTLY these shapes; IsNotNull needs no refutation because its
    * coverage is never 0 on a parsed `_p=` file (only 1 or, via an
    * unparsable dir, undecidable — which blocks acceptance upstream).
    * Anything else — Not trees, IsNull, string predicates — stays a
    * residual: `coverage` could DECIDE e.g. Not(EqualTo) or IsNull per
    * file, but the scan-side tier admits on those leaves, so consuming
    * them would return the excluded rows with no Filter node above the
    * scan (a wrong answer, not a slow one). Induction for the accepted
    * shapes: a coverage-0 And has a coverage-0 side, a coverage-0 Or has
    * two, and a coverage-0 comparison leaf is exactly a
    * partitionAdmits=false leaf — so every coverage-0 file is refuted. */
  private def exactRefutableShape(f: Filter): Boolean = {
    import org.apache.spark.sql.sources._
    f match {
      case And(l, r) => exactRefutableShape(l) && exactRefutableShape(r)
      case Or(l, r) => exactRefutableShape(l) && exactRefutableShape(r)
      case IsNotNull(_) => true
      case GreaterThan(_, v) => v != null
      case GreaterThanOrEqual(_, v) => v != null
      case LessThan(_, v) => v != null
      case LessThanOrEqual(_, v) => v != null
      case EqualTo(_, v) => v != null
      case In(_, vs) => vs != null && vs.exists(_ != null)
      case _ => false
    }
  }

  /** Tri-state partition-interval evaluation of a pushed filter tree
    * against one file's (transform, pval): 0 = provably no row matches,
    * 1 = provably every row matches, 2 = undecidable. Sound because a
    * parsed `_p=` dir holds only rows whose source column is non-null
    * and truncates to exactly that partition value — so leaf predicates
    * on the source column are two-valued over the file's interval (which
    * also makes the Not inversion safe). Leaves on any other column, and
    * anything unparsable, are 2. */
  private def coverage(f: Filter, tf: String, pval: Long, specCol: String,
                       aliases: Map[String, Seq[String]]): Int = f match {
    case org.apache.spark.sql.sources.And(l, r) =>
      val (a, b) = (coverage(l, tf, pval, specCol, aliases),
        coverage(r, tf, pval, specCol, aliases))
      if (a == 0 || b == 0) 0 else if (a == 1 && b == 1) 1 else 2
    case org.apache.spark.sql.sources.Or(l, r) =>
      val (a, b) = (coverage(l, tf, pval, specCol, aliases),
        coverage(r, tf, pval, specCol, aliases))
      if (a == 1 || b == 1) 1 else if (a == 0 && b == 0) 0 else 2
    case org.apache.spark.sql.sources.Not(x) =>
      coverage(x, tf, pval, specCol, aliases) match {
        case 0 => 1
        case 1 => 0
        case _ => 2
      }
    case leaf => leafCoverage(leaf, tf, pval, specCol, aliases)
  }

  private def leafCoverage(leaf: Filter, tf: String, pval: Long,
                           specCol: String,
                           aliases: Map[String, Seq[String]]): Int = {
    import org.apache.spark.sql.sources._
    def isSpecCol(c: String): Boolean =
      c == specCol || aliases.getOrElse(c, Nil).contains(specCol)
    // Null tests decide from the dir alone: a parsed `_p=` dir holds only
    // rows whose source column is non-null (null rows land in the default
    // dir, whose unparsable segment already made the file undecidable).
    // Spark infers IsNotNull beside every binary comparison, so without
    // this the inferred conjunct would block every exact acceptance.
    leaf match {
      case IsNotNull(a) if isSpecCol(a) => return 1
      case IsNull(a) if isSpecCol(a) => return 0
      case _ => ()
    }
    val parsed: Option[(String, String, Any)] = leaf match {
      case GreaterThan(a, v) if v != null => Some((a, ">", v))
      case GreaterThanOrEqual(a, v) if v != null => Some((a, ">=", v))
      case LessThan(a, v) if v != null => Some((a, "<", v))
      case LessThanOrEqual(a, v) if v != null => Some((a, "<=", v))
      case EqualTo(a, v) if v != null => Some((a, "=", v))
      case In(a, vs) if vs != null && vs.nonEmpty =>
        Some((a, "in", vs.toSeq.filter(_ != null)))
      case _ => None
    }
    parsed match {
      case None => 2
      case Some((c, op, v)) =>
        if (!isSpecCol(c)) return 2
        val dt = tableSchema(c).dataType
        GraftDataSource.partInterval(tf, dt, pval) match {
          case None => 2
          case Some((lo, hi)) =>
            scala.util.Try {
              val conv = CatalystTypeConverters.createToCatalystConverter(dt)
              def one(value: Any, vop: String): Int = conv(value) match {
                case num: java.lang.Number =>
                  val p = num.longValue()
                  vop match {
                    case ">" => if (lo > p) 1 else if (hi <= p) 0 else 2
                    case ">=" => if (lo >= p) 1 else if (hi < p) 0 else 2
                    case "<" => if (hi < p) 1 else if (lo >= p) 0 else 2
                    case "<=" => if (hi <= p) 1 else if (lo > p) 0 else 2
                    case "=" =>
                      if (lo == p && hi == p) 1
                      else if (p < lo || p > hi) 0 else 2
                    case _ => 2
                  }
                case _ => 2
              }
              if (op == "in") {
                // OR over the values, each evaluated with "=" semantics
                // (the null values were stripped at parse — a null IN
                // member yields UNKNOWN, never true, so dropping it is
                // exact): any all-match value covers the file; NONE only
                // when every value misses the interval.
                val states = v.asInstanceOf[Seq[Any]].map(one(_, "="))
                if (states.contains(1)) 1
                else if (states.forall(_ == 0)) 0 else 2
              } else one(v, op)
            }.getOrElse(2)
        }
    }
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    if (statsRow != null) new GraftStatsScan(dir, statsSchema, statsRow, statsVia)
    else if (countStarPushed)
      new GraftCountScan(dir, pin, ignoreStats)
    else new GraftScan(dir, keyCols, required, pushed, pin,
      changeFeed, skipLayoutOnly, spjCapable, limit, startingVersion, dataFilters,
      ignoreStats, rowLevelOp)
}

/** Planning-metadata view over one pinned snapshot: when the version
  * carries a consolidated stats manifest (`_log/stats-v*.bin`, written
  * with every publish), ONE read serves everything the planning tiers
  * need — the per-bucket parquet LISTING (no directory walk at all),
  * row counts and file sizes, partition specs, zone maps and bucket
  * blooms. Versions that predate the manifest (or `ignore` = the
  * `ignoreStatsManifest` read option, the parity-certification switch)
  * fall back per bucket to the sidecar files and walks, bucket by
  * bucket — a MIXED answer is fine because every entry describes an
  * immutable commit dir. At 100 TB this is the Delta-checkpoint move:
  * planning cost stops scaling with file count and becomes one
  * manifest-sized read. */
private[sources] final class StatsView(tableDir: String, pin: graft.core.TxTable.Pin,
                                       ignore: Boolean) {
  import graft.core.TxTable

  private val byDir: Map[String, TxTable.BucketStats] =
    if (ignore) Map.empty
    else TxTable.readStatsManifestAt(pin.logDir, pin.v) match {
      case None => Map.empty
      case Some(m) =>
        // A narrowed or synthetic pin (a rewrite's bucket subset, a diff
        // side) keeps its version number but not every entry of it, so an
        // entry is served only when it names the same commit and DVs.
        pin.layout.flatMap { case (b, (dataDir, _)) =>
          m.get(b).filter(st => st.commit == pin.entries(b).data && st.dvs == pin.entries(b).dvs)
            .map(dataDir -> _) }
    }

  /** The bucket's parquet listing from metadata — None (no manifest, or
    * a v1 rows sidecar without per-file lines) = walk the directory. */
  def listing(dataDir: String): Option[Seq[String]] =
    byDir.get(dataDir).filter(_.files.nonEmpty).map(_.files.map {
      case (rel, _, _) =>
        java.nio.file.Paths.get(dataDir).resolve(rel).toString
    }.sorted)

  def rowsTotal(dataDir: String): Option[Long] =
    byDir.get(dataDir) match {
      case Some(e) => Some(e.rowsTotal).filter(_ >= 0)
      case None => TxTable.rowsSidecarTotal(dataDir)
    }

  def perFileRows(dataDir: String): Option[Map[String, Long]] =
    byDir.get(dataDir) match {
      case Some(e) if e.files.nonEmpty =>
        Some(e.files.map { case (rel, n, _) => rel -> n }.toMap)
      case Some(_) => None
      case None => TxTable.rowsSidecarPerFile(dataDir)
    }

  /** Bucket-relative path → file size, when the manifest recorded it. */
  def bytesByFile(dataDir: String): Map[String, Long] =
    byDir.get(dataDir).map(_.files.collect {
      case (rel, _, sz) if sz >= 0 => rel -> sz
    }.toMap).getOrElse(Map.empty)

  def pspec(dataDir: String): Option[(String, String)] =
    byDir.get(dataDir) match {
      case Some(e) => e.pspec match {
        case TxTable.SpecRe(tf, c) => Some((tf, c))
        case _ => None
      }
      case None => GraftDataSource.pspecOf(dataDir)
    }

  def zoneSidecar(dataDir: String)
      : Option[Map[String, Map[String, (String, String, String)]]] =
    byDir.get(dataDir) match {
      case Some(e) =>
        if (e.zonemap.isEmpty) None
        else GraftDataSource.parseZoneText(
          new String(e.zonemap, java.nio.charset.StandardCharsets.UTF_8))
      case None => GraftDataSource.parseZoneSidecar(dataDir)
    }

  /** A blob-backed bloom loads LAZILY — only a plan that actually probes
    * `colName` pays the blob read — and parses ONCE per process: the
    * content hash keys the parsed-sketch cache, so repeated planning
    * over the same pinned layout costs zero bloom I/O. An
    * unreadable/torn blob (hash mismatch reads as empty) or a failed
    * parse falls back to the bucket's own sidecar file, never to a
    * wrong filter. */
  def bloom(dataDir: String, colName: String)
      : Option[(String, org.apache.spark.util.sketch.BloomFilter)] =
    byDir.get(dataDir) match {
      case Some(e) => e.blooms.collectFirst { case (c, blob) if c == colName =>
        blob }.flatMap { blob =>
        def loadParse = {
          val bs = blob.bytes
          if (bs.isEmpty) None else GraftDataSource.parseBloomBytes(colName, bs)
        }
        (blob match {
          case TxTable.StoredBlob(_, hash, _) =>
            GraftDataSource.cachedBloom(s"b:$hash")(loadParse)
          case _ => loadParse
        }).orElse(GraftDataSource.readBloomSidecar(dataDir, colName))
      }
      case None => GraftDataSource.readBloomSidecar(dataDir, colName)
    }
}

/** Metadata-only COUNT(*): the driver sums footer record counts at
  * planning and ships ONE literal row; Spark's final aggregate folds it
  * (partial-pushdown contract — supportCompletePushDown stays false). */
final class GraftCountScan(dir: String, pin: graft.core.TxTable.Pin,
                           ignoreStats: Boolean = false) extends Scan with Batch {
  override def readSchema(): StructType =
    StructType(Seq(StructField("count(*)", LongType, nullable = false)))
  override def toBatch: Batch = this
  override def description(): String =
    "GraftCountScan(dir=" + dir + ", PushedAggregation=[COUNT(*)] via " +
      (if (allSidecars) "manifest row counts" else "parquet footers") + ")"

  /** True when EVERY bucket of the pinned layout carries a `_rows.txt`
    * write-time sidecar — then COUNT(*) is O(buckets) one-line reads
    * with zero footer I/O (the Delta/Iceberg log-stats count). Mixed or
    * pre-sidecar layouts fall back to footer record counts per file —
    * still metadata-only, just O(files) instead of O(buckets). */
  private lazy val statsView: StatsView = new StatsView(dir, pin, ignoreStats)

  private lazy val allSidecars: Boolean =
    pin.layout.values.forall { case (dataDir, _) =>
      statsView.rowsTotal(dataDir).isDefined
    }

  override def planInputPartitions(): Array[InputPartition] = {
    val total = pin.layout.values.toSeq.map { case (dataDir, dvs) =>
      require(dvs.isEmpty, "metadata count planned over a DV'd bucket")
      // The sidecar is ADVISORY (the documented contract): a corrupt or
      // empty record falls back to the per-file footer counts exactly
      // like a missing one — same Try discipline as the numRows path.
      statsView.rowsTotal(dataDir).getOrElse(
        graft.core.TxTable.parMap(GraftDataSource.parquetFiles(dataDir)) { f =>
          graft.core.FileMeta.rowCount(graft.core.FileMeta.footer(f))
        }.sum)
    }.sum
    Array(GraftCountPartition(total))
  }

  override def createReaderFactory(): PartitionReaderFactory = new GraftReaderFactory
}

final case class GraftCountPartition(count: Long) extends InputPartition

final class GraftCountReader(count: Long) extends PartitionReader[InternalRow] {
  private var served = false
  override def next(): Boolean = if (served) false else { served = true; true }
  override def get(): InternalRow = new GenericInternalRow(Array[Any](count))
  override def close(): Unit = ()
}

/** Metadata-only MIN/MAX (+ COUNT(*)) from parquet footer column
  * statistics, fully computed at PUSHDOWN time against the pinned
  * snapshot (so a refusal is a clean `false`, never a mid-query abort)
  * and shipped as one literal row. Spark's final aggregate folds it —
  * min of one min is the min (partial-pushdown contract). */
final class GraftStatsScan(dir: String, schema: StructType, row: Array[Any],
                           via: String = "parquet footer statistics")
  extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftStatsScan(dir=$dir, PushedAggregation=[${schema.fieldNames.mkString(", ")}] " +
      s"via $via)"
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftStatsPartition(row))
  override def createReaderFactory(): PartitionReaderFactory = new GraftReaderFactory
}

final case class GraftStatsPartition(values: Array[Any]) extends InputPartition

final class GraftStatsReader(values: Array[Any]) extends PartitionReader[InternalRow] {
  private var served = false
  override def next(): Boolean = if (served) false else { served = true; true }
  override def get(): InternalRow = new GenericInternalRow(values)
  override def close(): Unit = ()
}

final class GraftScan(dir: String, keyCols: Seq[String],
                      required: StructType, pushed: Array[Filter],
                      pin: graft.core.TxTable.Pin, changeFeed: Boolean = false,
                      skipLayoutOnly: Boolean = false,
                      spjCapable: Boolean = false,
                      limit: Int = Int.MaxValue,
                      startingVersion: Long = 0L,
                      dataFilters: Array[Filter] = Array.empty,
                      ignoreStats: Boolean = false,
                      rowLevelOp: GraftRowLevelOperation = null)
  extends Scan with Batch with SupportsRuntimeFiltering
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
  with SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  private val tableSchema = GraftDataSource.tableSchema(pin, changeFeed)

  /** V2 runtime filtering — the variant Spark's row-level-operation
    * GROUP filter requires (`RowLevelOperationRuntimeGroupFiltering`
    * matches `SupportsRuntimeV2Filtering` only; join-derived DPP also
    * prefers it when both are present). Predicates that translate to V1
    * filters funnel into the same acceptance logic; untranslatable ones
    * drop — runtime filters are advisory, reading too much is sound. */
  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    filter(predicates.flatMap(p =>
      org.apache.spark.sql.graft.ShimPredicateUtils.toV1(p)))

  /** Runtime (join-derived) filters — the DSv2 analogue of dynamic
    * partition pruning: when this table is the probe side of a broadcast
    * join on its key, Spark collects the build side's key values and
    * hands them here as an IN filter BEFORE partitions are planned, so a
    * dim-filtered fact lookup reads only the buckets the surviving keys
    * hash into. Single-key tables only (one column of a composite hash
    * cannot prune alone); same listing-level contract as the static
    * pushdown — filters stay residuals, Spark re-evaluates them. */
  private var runtimeFilters: Array[Filter] = Array.empty

  /** One consolidated-stats read for this scan's whole planning pass. */
  private lazy val statsView: StatsView = new StatsView(dir, pin, ignoreStats)

  override def filterAttributes(): Array[NamedReference] = {
    // A row-level-operation scan advertises ONLY the bucket-id metadata
    // column: the runtime GROUP filter builds one IN-subquery over ALL
    // advertised attributes as a struct, so listing the key too turns
    // the filter into an untranslatable (k, _graft_bucket) struct-IN
    // and the group filter silently drops — bucket-only keeps it a
    // plain integer IN that chosenLayout prunes on directly.
    if (rowLevelOp != null)
      if (!tableSchema.fieldNames.contains(GraftDataSource.BucketCol))
        Array(org.apache.spark.sql.connector.expressions.Expressions
          .column(GraftDataSource.BucketCol))
      else Array.empty
    // Only a column the scan outputs: Spark resolves the advertised
    // attributes against the pruned relation and fails on any other.
    else if (keyCols.length == 1 && !changeFeed && required.fieldNames.contains(keyCols.head))
      Array(org.apache.spark.sql.connector.expressions.Expressions.column(keyCols.head))
    else Array.empty
  }

  override def filter(filters: Array[Filter]): Unit =
    runtimeFilters = filters.filter {
      case org.apache.spark.sql.sources.In(a, _) =>
        (keyCols.length == 1 && a == keyCols.head) ||
          (rowLevelOp != null && a == GraftDataSource.BucketCol)
      case EqualTo(a, _) =>
        (keyCols.length == 1 && a == keyCols.head) ||
          (rowLevelOp != null && a == GraftDataSource.BucketCol)
      case _ => false
    }

  override def readSchema(): StructType = required
  override def toBatch: Batch = {
    require(!changeFeed,
      "graft changeFeed is a STREAMING read — use spark.readStream (batch " +
        "state lives at snapshot()/versionAsOf)")
    this
  }

  /** The manifest buckets this scan will read: the full pinned layout,
    * pruned by the static (planning-time) and runtime (join-derived) key
    * sets — each yields a bucket set via the write path's
    * pmod(xxhash64(keys), n) (evaluated through Catalyst's own XxHash64);
    * both present means both predicates hold, so the read is their
    * INTERSECTION. */
  private def chosenLayout(): Map[Long, (String, Seq[String])] = {
    val layout = pin.layout
    val n = pin.buckets
    // Direct predicates on the bucket-id metadata column prune without
    // hashing (the column IS the partition id by construction) — but only
    // when it IS the metadata column: a real table column named
    // _graft_bucket shadows it, and its predicates are plain data filters.
    val bucketMeta = !tableSchema.fieldNames.contains(GraftDataSource.BucketCol)
    def bucketIds(filters: Array[Filter]): Set[Long] =
      if (!bucketMeta) Set.empty
      else filters.flatMap {
        case EqualTo(a, v: Number) if a == GraftDataSource.BucketCol =>
          Some(Set(v.longValue))
        case org.apache.spark.sql.sources.In(a, vs)
          if a == GraftDataSource.BucketCol =>
          Some(vs.collect { case v: Number => v.longValue }.toSet)
        case _ => None
      }.reduceOption(_ intersect _).getOrElse(Set.empty)
    val sets = (Seq(keyBucketSet(pushed, n), keyBucketSet(runtimeFilters, n))
      .flatten ++
      Seq(bucketIds(pushed), bucketIds(runtimeFilters)).filter(_.nonEmpty))
    val keyed = if (sets.isEmpty) layout
    else {
      val buckets = sets.reduce(_ intersect _)
      layout.filter { case (b, _) => buckets.contains(b) }
    }
    val bloomed = bloomPrune(keyed)
    // Zone-map bucket refutation: a bucket EVERY file of which the range
    // sidecar refutes drops from the plan (file-level pruning inside
    // surviving buckets happens at partition build). Only consulted when
    // a zone-eligible predicate was pushed — otherwise no listing work.
    if (zoneConds.isEmpty || changeFeed) bloomed
    else bloomed.filter { case (_, (dataDir, _)) => zoneFiles(dataDir).nonEmpty }
  }

  /** Bucket ids reachable from the pinned per-key candidate sets
    * ([[GraftDataSource.perKeyCandidates]]) — the write path's
    * pmod(xxhash64(k1, …, km), n), STREAMED: a depth-first walk over the
    * cartesian product carries XxHash64's running seed (the hash CHAINS
    * over the key columns, so each shared value-prefix hashes once, not
    * once per tuple) and collects bucket ids into a set, with two early
    * exits —
    *
    *  - SATURATION: once every bucket of the layout is reachable there
    *    is nothing left to prune, so stop. A product of hash-random
    *    tuples covers all n buckets after ~n·ln n draws (coupon
    *    collector), so the typical huge product costs a few hundred
    *    hashes, not |product|;
    *  - an OP BUDGET (2²⁰ hashes, ~0.3 s of driver arithmetic) for the
    *    adversarial case of a huge product that concentrates into few
    *    buckets and never saturates. Exhausting it returns None =
    *    "cannot prune", the sound fallback (the filters stay residuals,
    *    so giving up only ever reads too much).
    *
    * This replaces the old materialize-then-cap tuple list (64k tuples,
    * past which pruning was abandoned even though the answer was
    * computable): no tuple list is ever built, memory is O(n), the
    * enumerable region grows to the full budget, and a single-key IN —
    * including the runtime-DPP shape, where the join can hand over a
    * very long list — is just the depth-1 case of the same walk. */
  private def keyBucketSet(filters: Array[Filter], n: Long): Option[Set[Long]] = {
    val perKey = GraftDataSource.perKeyCandidates(keyCols, filters)
      .getOrElse(return None)
    val dts = keyCols.map(tableSchema(_).dataType)
    val budget = 1 << 20
    var ops = 0
    val found = scala.collection.mutable.Set.empty[Long]
    // Returns false to abort the walk (budget exhausted or saturated);
    // which of the two happened is disambiguated from `found` below.
    def rec(i: Int, seed: Long): Boolean = {
      if (found.size >= n) return false // saturated: every bucket reachable
      if (i == keyCols.length) { found += ((seed % n) + n) % n; true }
      else perKey(i).forall { v =>
        ops += 1
        if (ops > budget) false
        else rec(i + 1, XxHash64(
          Seq(Literal.create(v, dts(i))), seed)
          .eval(InternalRow.empty).asInstanceOf[Long])
      }
    }
    val complete = rec(0, 42L)
    if (found.size >= n) None      // saturated: no pruning possible
    else if (!complete) None       // budget exhausted: remainder unknown
    else Some(found.toSet)
  }

  /** A pushed filter leaf usable for zone/partition refutation —
    * (column, op, value) over numeric/date/timestamp columns. Null
    * literals never compile (a comparison with NULL matches nothing and
    * Spark folds it first); an In keeps its non-null values. */
  private def zoneLeaf(f: Filter): Option[(String, String, Any)] = f match {
    case org.apache.spark.sql.sources.GreaterThan(a, v)
      if zoneEligible(a, v) => Some((a, ">", v))
    case org.apache.spark.sql.sources.GreaterThanOrEqual(a, v)
      if zoneEligible(a, v) => Some((a, ">=", v))
    case org.apache.spark.sql.sources.LessThan(a, v)
      if zoneEligible(a, v) => Some((a, "<", v))
    case org.apache.spark.sql.sources.LessThanOrEqual(a, v)
      if zoneEligible(a, v) => Some((a, "<=", v))
    case EqualTo(a, v) if zoneEligible(a, v) => Some((a, "=", v))
    case org.apache.spark.sql.sources.In(a, vs)
      if vs != null && vs.exists(_ != null) &&
        zoneEligible(a, vs.find(_ != null).get) =>
      Some((a, "in", vs.toSeq.filter(_ != null)))
    case _ => None
  }

  /** Does the filter TREE contain any refutation-eligible leaf? (Gates
    * the listing/sidecar work — a scan with no such leaf skips the
    * tiers entirely.) Compound nodes recurse; the top-level pushed
    * array is already a conjunction. */
  private def hasZoneLeaf(f: Filter): Boolean = f match {
    case org.apache.spark.sql.sources.And(l, r) => hasZoneLeaf(l) || hasZoneLeaf(r)
    case org.apache.spark.sql.sources.Or(l, r) => hasZoneLeaf(l) || hasZoneLeaf(r)
    case leaf => zoneLeaf(leaf).isDefined
  }

  private lazy val zoneConds: Seq[Filter] =
    dataFilters.toSeq.filter(hasZoneLeaf)

  private def zoneEligible(a: String, v: Any): Boolean =
    v != null && tableSchema.fieldNames.contains(a) &&
      (tableSchema(a).dataType match {
        case IntegerType | LongType | DoubleType | DateType | TimestampType => true
        case StringType => true // truncated-prefix bounds (string:t16)
        case _ => false
      })

  /** Parsed `_zonemap.txt` per bucket dir: file name → column →
    * (write-time type, min, max) with "null null" for all-null. None =
    * no usable sidecar (absent, foreign header, parse failure) — never
    * a refutation. Cached for the scan's lifetime like the bloom tier. */
  private val zoneCache = scala.collection.mutable.Map
    .empty[String, Option[Map[String, Map[String, (String, String, String)]]]]

  private def zoneSidecar(bucketDir: String)
      : Option[Map[String, Map[String, (String, String, String)]]] =
    zoneCache.getOrElseUpdate(bucketDir, statsView.zoneSidecar(bucketDir))

  /** Does a file's recorded (type, min, max) ADMIT the condition? True on
    * any surprise (type mismatch from widening, parse failure, NaN probe)
    * — the advisory-tier contract: read the file, never mis-refute. */
  private def zoneAdmits(rec: (String, String, String), c: String,
                         op: String, v: Any): Boolean = {
    val (typ, loS, hiS) = rec
    val dt = tableSchema(c).dataType
    // String columns record truncated BOUNDS (`string:t16`), not exact
    // extrema — their own admission arithmetic over unsigned byte order.
    if (typ == "string:t16")
      return if (dt == StringType) stringBoundsAdmit(loS, hiS, op, v) else true
    if (typ != dt.catalogString) return true // widened column: refuse index
    scala.util.Try {
      if (loS == "null") false // all-null file: no comparison matches
      else {
        val conv = CatalystTypeConverters.createToCatalystConverter(dt)
        def one(value: Any, vop: String): Boolean = conv(value) match {
          case d: java.lang.Double =>
            val p = if (d.doubleValue() == 0.0) 0.0 else d.doubleValue()
            if (p.isNaN) true // Spark orders NaN above all — stats can't refute
            else {
              val lo = loS.toDouble; val hi = hiS.toDouble
              vop match {
                case ">" => hi > p
                case ">=" => hi >= p
                case "<" => lo < p
                case "<=" => lo <= p
                case "=" => lo <= p && p <= hi
                case _ => true
              }
            }
          case n: java.lang.Number =>
            val p = n.longValue()
            val lo = loS.toLong; val hi = hiS.toLong
            vop match {
              case ">" => hi > p
              case ">=" => hi >= p
              case "<" => lo < p
              case "<=" => lo <= p
              case "=" => lo <= p && p <= hi
              case _ => true
            }
          case _ => true
        }
        // In refutes only when EVERY member misses the bounds; each
        // member is a point probe, i.e. "=" semantics.
        if (op == "in") v.asInstanceOf[Seq[Any]].exists(x => one(x, "="))
        else one(v, op)
      }
    }.getOrElse(true)
  }

  /** The partition transform a commit's files were written under — the
    * `_pspec.txt` beside its bucket dirs; evolution is per-commit, so
    * each commit prunes by exactly its own transform. */
  private val pspecCache =
    scala.collection.mutable.Map.empty[String, Option[(String, String)]]

  private def commitPspec(dataDir: String): Option[(String, String)] =
    pspecCache.getOrElseUpdate(dataDir, statsView.pspec(dataDir))

  /** HIDDEN-partition admission: does the file's `_p=` path segment admit
    * condition (cc, op, v)? Each transform maps its partition value to
    * the SOURCE-column interval it covers — `days`: [day, day] (DATE,
    * Catalyst days) or [day·86.4e9, (day+1)·86.4e9) (TIMESTAMP, micros);
    * `months`: [first, last] epoch-day of the month (DATE only) — and
    * the same interval logic as the zone tier applies: conditions filter
    * on the SOURCE column, never on `_p`. True on any surprise. */
  private def partitionAdmits(tf: String, pval: Long, specCol: String,
                              cc: String, op: String, v: Any): Boolean = {
    if (!(cc == specCol || pin.aliases.getOrElse(cc, Nil).contains(specCol)))
      return true // condition is on a different column
    scala.util.Try {
      val dt = tableSchema(cc).dataType
      val (lo, hi) = GraftDataSource.partInterval(tf, dt, pval)
        .getOrElse(return true)
      val conv = CatalystTypeConverters.createToCatalystConverter(dt)
      def one(value: Any, vop: String): Boolean = conv(value) match {
        case n: java.lang.Number =>
          val p = n.longValue()
          vop match {
            case ">" => hi > p
            case ">=" => hi >= p
            case "<" => lo < p
            case "<=" => lo <= p
            case "=" => lo <= p && p <= hi
            case _ => true
          }
        case _ => true
      }
      // Each In member is a point ("=") probe against the interval; the
      // partition-EXACT tier's coverage-0 ⟺ refuted-here alignment for
      // In rides on this (see exactRefutableShape).
      if (op == "in") v.asInstanceOf[Seq[Any]].exists(one(_, "="))
      else one(v, op)
    }.getOrElse(true)
  }

  private def partitionDayOf(dataDir: String, f: String): Option[Long] =
    GraftDataSource.partValOf(dataDir, f)

  /** Files of `dataDir` surviving zone-map AND hidden-partition
    * refutation under this scan's pushed filters — cached so
    * chosenLayout, planInputPartitions and estimateStatistics see ONE
    * consistent answer. A file with no line for a probed column
    * (pre-sidecar commit, undeclared or refused column) and a file with
    * no `_p=` segment (flat-era commit) always survive their tier. */
  private val zoneFileCache = scala.collection.mutable.Map.empty[String, Seq[String]]

  private def zoneFiles(dataDir: String): Seq[String] =
    zoneFileCache.getOrElseUpdate(dataDir, {
      // Manifest-served LISTING first (zero directory I/O); the walk —
      // with its partition-refuted-subtree pruning — is the fallback.
      lazy val listed = statsView.listing(dataDir)
      if (changeFeed) GraftDataSource.parquetFiles(dataDir)
      else if (zoneConds.isEmpty)
        listed.getOrElse(GraftDataSource.parquetFiles(dataDir))
      else {
        val pspec = commitPspec(dataDir)
        val files = listed.getOrElse(prunedListing(dataDir, pspec))
        val byFile = zoneSidecar(dataDir)
        // The path-derived partition answer is constant per `_p=` DIR,
        // so it evaluates once per dir, not once per file — a 1000-day
        // bucket lists thousands of files and the per-file Path
        // allocation + interval walk WAS the planning cost (SkipScale's
        // plan_day_count pins this flat). Splitting the tiers (partition
        // pass per dir, zone pass per file) refutes no more than the
        // combined walk — a mixed-tier Or that each pass alone cannot
        // refute now admits; sound, and only costs reads in that corner.
        // The zone pass is skipped entirely when the bucket has no
        // sidecar (recOf would abstain on every leaf anyway).
        val prefix = dataDir + "/"
        val dirAdmitCache = scala.collection.mutable.Map.empty[String, Boolean]
        files.filter { f =>
          // Bucket-RELATIVE key: partitioned commits repeat part-file
          // base names across _p dirs.
          val name =
            if (f.startsWith(prefix)) f.substring(prefix.length)
            else java.nio.file.Paths.get(dataDir)
              .relativize(java.nio.file.Paths.get(f)).toString
          val dirKey = { val i = name.lastIndexOf('/')
            if (i < 0) "" else name.substring(0, i) }
          val partOk = pspec.isEmpty || dirAdmitCache.getOrElseUpdate(dirKey, {
            val pval = partitionDayOf(dataDir, f)
            zoneConds.forall(fileAdmits(_, _ => None,
              pspec.map(_._1), pval, pspec.map(_._2)))
          })
          partOk && (byFile.isEmpty || {
            val recOf: String => Option[(String, String, String)] = c =>
              byFile.flatMap(_.get(name)).flatMap { cols =>
                (c +: pin.aliases.getOrElse(c, Nil)).iterator
                  .flatMap(cols.get).nextOption()
              }
            zoneConds.forall(fileAdmits(_, recOf, None, None, None))
          })
        }
      }
    })

  /** The bucket dir's parquet listing with partition-REFUTED `_p=`
    * subtrees pruned BEFORE the walk descends into them — the
    * directory-level tier above the per-file checks: a 3-day probe on a
    * 3000-day table lists ~3 day dirs per bucket instead of walking
    * every file of all 3000 (at 100 TB × thousands of `_p=` dirs the
    * walk itself is the planning cost; the per-file tiers below only
    * save footer and data I/O). Same `partitionAdmits` interval logic
    * via the same `fileAdmits` tree walk (the zone tier abstains at
    * directory granularity — `recOf` yields nothing), so a dir is
    * skipped exactly when every file inside it would have been refuted
    * by its path anyway. Surprises admit: an unparsable `_p=` segment
    * (the null-value `__HIVE_DEFAULT_PARTITION__` dir), a dir with no
    * recorded `_pspec`, or any non-`_p` subdirectory all descend. */
  private def prunedListing(dataDir: String,
                            pspec: Option[(String, String)]): Seq[String] = {
    val root = java.nio.file.Paths.get(dataDir)
    if (!java.nio.file.Files.isDirectory(root)) return Nil
    val kids = {
      val s = java.nio.file.Files.list(root)
      try s.iterator().asScala.toList finally s.close()
    }
    val out = List.newBuilder[String]
    kids.foreach { k =>
      val name = k.getFileName.toString
      if (java.nio.file.Files.isDirectory(k)) {
        val admits =
          if (!name.startsWith("_p=") || pspec.isEmpty) true
          else scala.util.Try(name.stripPrefix("_p=").toLong).toOption match {
            case None => true // null-partition dir: path proves nothing
            case Some(pv) => zoneConds.forall(fileAdmits(_, _ => None,
              pspec.map(_._1), Some(pv), pspec.map(_._2)))
          }
        if (admits) {
          if (name.startsWith("_p=")) GraftDataSource.partDirProbe(k.toString)
          out ++= GraftDataSource.parquetFiles(k.toString)
        }
      } else if (name.endsWith(".parquet")) out += k.toString
    }
    out.result().sorted
  }

  /** Sound per-file admission over a pushed filter TREE — the
    * generalization past top-level conjuncts: an `OR` of ranges
    * (`price < 10 OR price > 1000`) arrives as ONE Or filter, and a
    * conjunct-only tier would skip it entirely. `And` refutes when
    * EITHER side refutes; `Or` only when BOTH sides do; any node or
    * leaf the tiers cannot reason about ADMITS — so a file is refuted
    * only when the tree provably matches none of its rows given the
    * recorded zone bounds and the path-derived partition interval
    * (both leaf evaluators keep their own type/alias/advisory guards). */
  private def fileAdmits(filter: Filter,
                         recOf: String => Option[(String, String, String)],
                         tf: Option[String], pval: Option[Long],
                         specCol: Option[String]): Boolean =
    filter match {
      case org.apache.spark.sql.sources.And(l, r) =>
        fileAdmits(l, recOf, tf, pval, specCol) &&
          fileAdmits(r, recOf, tf, pval, specCol)
      case org.apache.spark.sql.sources.Or(l, r) =>
        fileAdmits(l, recOf, tf, pval, specCol) ||
          fileAdmits(r, recOf, tf, pval, specCol)
      case leaf => zoneLeaf(leaf) match {
        case Some((c, op, v)) =>
          val zOk = recOf(c).forall(rec => zoneAdmits(rec, c, op, v))
          val pOk = (tf, pval, specCol) match {
            case (Some(t), Some(p), Some(pc)) => partitionAdmits(t, p, pc, c, op, v)
            case _ => true
          }
          zOk && pOk
        case None => true
      }
    }

  /** Admission over a file's recorded truncated string BOUNDS: lower L
    * (base64; ≤ every value in unsigned byte order — Spark's own string
    * order) and upper U (base64; ≥ every value; "*" = no finite bound).
    * Refutation uses only implications that survive the truncation —
    * `col < P` refutes when L ≥ P (then min ≥ L ≥ P), `col > P` when
    * U ≤ P (then max ≤ U ≤ P), equality when P < L or P > U — so two
    * values sharing a 16-byte prefix can never mis-refute each other
    * (their L/U straddle both; PropertySpec pins this with a randomized
    * shared-prefix battery). True on any surprise. */
  private def stringBoundsAdmit(loS: String, hiS: String,
                                op: String, v: Any): Boolean =
    scala.util.Try {
      if (loS == "null") false // all-null file: no comparison matches
      else {
        val dec = java.util.Base64.getDecoder
        val L = dec.decode(loS)
        val U = if (hiS == "*") null else dec.decode(hiS)
        def cmpU(a: Array[Byte], b: Array[Byte]): Int =
          java.util.Arrays.compareUnsigned(a, b)
        def one(value: Any, vop: String): Boolean = value match {
          case s: String =>
            val p = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            vop match {
              case ">" => U == null || cmpU(U, p) > 0
              case ">=" => U == null || cmpU(U, p) >= 0
              case "<" => cmpU(L, p) < 0
              case "<=" => cmpU(L, p) <= 0
              case "=" => cmpU(p, L) >= 0 && (U == null || cmpU(p, U) <= 0)
              case _ => true
            }
          case _ => true
        }
        // In = OR of point probes: refute only when every member falls
        // outside [L, U] (each with the truncation-safe "=" arithmetic).
        if (op == "in") v.asInstanceOf[Seq[Any]].exists(one(_, "="))
        else one(v, op)
      }
    }.getOrElse(true)

  /** One parsed BUCKET-tier bloom sidecar per (bucket dir × column) for
    * this scan's lifetime — chosenLayout runs for both outputPartitioning
    * and planInputPartitions, so the tiny `_bloomidx` reads are cached.
    * `None` = no usable index for that bucket (absent file, foreign
    * header, parse failure) — never a refutation. */
  private val bloomCache = scala.collection.mutable.Map
    .empty[String, Option[(String, org.apache.spark.util.sketch.BloomFilter)]]

  private def bucketBloom(bucketDir: String, colName: String)
      : Option[(String, org.apache.spark.util.sketch.BloomFilter)] =
    bloomCache.getOrElseUpdate(s"$bucketDir#$colName",
      statsView.bloom(bucketDir, colName))

  /** BUCKET-TIER BLOOM REFUTATION — the planning-time skipping tier
    * above every file: a pushed EqualTo/In on a bloom-indexed NON-key
    * column (TxTable `bloomCols` — the same declaration that enables the
    * s50 row-group blooms) drops buckets whose `_bloomidx` sidecar says
    * "value definitely absent" from the listing before ANY footer is
    * opened. At 100 TB this is what makes a point lookup on a non-key
    * column O(matching buckets): hash-key pruning can't help (the
    * predicate isn't on the key) and parquet blooms only refute AFTER a
    * footer read per surviving file. Soundness: membership has no false
    * negatives when probe and build hash identically, so the sidecar
    * header records the column's WRITE-TIME type and a mismatch (widening
    * evolution) disables the index for that bucket instead of mis-hashing;
    * rename aliases resolve like the data path (the sidecar under any
    * recorded physical name serves the logical column); a missing sidecar
    * (pre-index commits, undeclared columns) never prunes. In-list
    * semantics: a bucket survives if ANY non-null value might be present
    * (null literals can't match rows, so pruning on the non-null subset
    * is exact); filters stay residuals above the scan either way. */
  private def bloomPrune(layout: Map[Long, (String, Seq[String])])
      : Map[Long, (String, Seq[String])] = {
    if (changeFeed || layout.isEmpty) return layout
    val eqPreds: Seq[(String, Seq[Any])] = dataFilters.toSeq.collect {
      case EqualTo(a, v) if v != null && !keyCols.contains(a) &&
        tableSchema.fieldNames.contains(a) => a -> Seq(v)
      case org.apache.spark.sql.sources.In(a, vs) if !keyCols.contains(a) &&
        tableSchema.fieldNames.contains(a) && vs.nonEmpty &&
        vs.exists(_ != null) => a -> vs.toSeq.filter(_ != null)
    }
    if (eqPreds.isEmpty) return layout
    val aliases = pin.aliases
    layout.filter { case (_, (dataDir, _)) =>
      eqPreds.forall { case (c, vs) =>
        val names = c +: aliases.getOrElse(c, Nil)
        names.iterator.flatMap(n => bucketBloom(dataDir, n)).nextOption() match {
          case Some((dtStr, bloom))
            if dtStr == tableSchema(c).dataType.catalogString =>
            // Advisory tier: any surprise (a literal Literal.create can't
            // convert, a truncated sketch) must read the bucket, never
            // fail the query or mis-refute.
            scala.util.Try(vs.exists(v => bloom.mightContainLong(
              org.apache.spark.sql.graftbridge.Bridge.xxhash64Of(
                v, tableSchema(c).dataType)))).getOrElse(true)
          case _ => true
        }
      }
    }
  }

  /** The scan's output is one partition per manifest bucket, keyed by the
    * bucket id of `bucket(n, keys)` — reported as KeyGroupedPartitioning
    * so two graft tables with the same bucketing joined on their keys can
    * use a STORAGE-PARTITIONED join (zero shuffle: Spark zips the bucket
    * partitions pairwise, exactly the co-located join the write path's
    * layout was designed for). Effective when the table resolves through
    * [[GraftCatalog]] (the bucket function needs a FunctionCatalog) with
    * spark.sql.sources.v2.bucketing.enabled; other resolution routes
    * (session catalog, plain format reads) report unknown partitioning —
    * their function lookup would THROW rather than fall back. Measured
    * (BASELINE note 70): the SPJ plan drops both
    * join-input exchanges (1 vs 3 Exchange nodes) and runs 1.22× faster
    * even locally where the scan dominates — on a real cluster the
    * eliminated exchange is the network shuffle of both fact tables.
    * Single-key tables report Spark's own bucket(n, key). COMPOSITE-key
    * tables hit Spark's hard one-reference transform limit
    * (KeyGroupedPartitioning.supportsExpressions vetoes any multi-child
    * transform at BatchScanExec), so they report `identity(_graft_bucket)`
    * over the bucket-id metadata column instead — valid because every
    * partition IS one bucket, so the column is partition-constant — and
    * engage SPJ whenever the query references the column (a join adding
    * the implied `a._graft_bucket = b._graft_bucket` term, or a GROUP BY
    * listing it with the merge keys, plans with zero shuffle). */
  override def outputPartitioning():
      org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    val parts = chosenLayout().size
    if (!spjCapable)
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(parts)
    else if (keyCols.length == 1)
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(GraftDataSource.bucketTransform(pin.buckets, keyCols)),
        parts)
    else if (required.fieldNames.contains(GraftDataSource.BucketCol) &&
             !tableSchema.fieldNames.contains(GraftDataSource.BucketCol))
      // identity(_graft_bucket) is partition-constant ONLY for the
      // metadata column; a shadowing data column varies within a bucket.
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(org.apache.spark.sql.connector.expressions.Expressions
          .identity(GraftDataSource.BucketCol)),
        parts)
    else
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(parts)
  }

  /** Size statistics from the pinned manifest's file lengths (one
    * directory listing per chosen bucket, zero footer reads), scaled by
    * Spark's own file-compression factor — so the optimizer sees a real
    * size instead of the conf default and a SMALL graft table becomes
    * broadcast-joinable automatically, exactly like a FileScan relation.
    * Respects the static bucket prune: a point lookup reports one
    * bucket's bytes, not the table's. */
  override def estimateStatistics(): Statistics = {
    val spark = SparkSession.active
    val chosen = chosenLayout()
    var bytes = 0L
    // Column bounds for the optimizer (DSv2 column statistics): fold the
    // zone-map sidecars ALREADY resident for planning into per-column
    // min/max over exactly the files this scan admits — zero extra I/O,
    // O(admitted files) driver work inside the same loop that sums
    // bytes. A column reports only when EVERY admitted file carries a
    // long-typed record for it (a gap means the bound is unknowable —
    // no stat beats a wrong stat). String zones stay unreported: their
    // sidecar bounds are TRUNCATED (s63), sound for refutation but not
    // true extrema, and catalyst ColumnStat min/max must be exact.
    val boundsByCol = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val incompleteCols = scala.collection.mutable.Set.empty[String]
    var filesSeen = 0L
    // zoneFiles = the files the scan will actually read (zone-map and
    // hidden-partition refutation applied), so a range-pruned scan
    // reports its admitted bytes and can become broadcast-joinable —
    // with no zone-eligible predicate it degenerates to the full
    // listing, unchanged.
    chosen.values.foreach { case (dataDir, _) =>
      // Manifest-recorded sizes when present — zero filesystem stats.
      val recorded = statsView.bytesByFile(dataDir)
      val byFile = statsView.zoneSidecar(dataDir)
      val root = java.nio.file.Paths.get(dataDir)
      zoneFiles(dataDir).foreach { f =>
        val rel = root.relativize(java.nio.file.Paths.get(f)).toString
        bytes += recorded.getOrElse(rel,
          scala.util.Try(java.nio.file.Files.size(
            java.nio.file.Paths.get(f))).getOrElse(0L))
        filesSeen += 1
        val cols = byFile.flatMap(_.get(rel)).getOrElse(Map.empty)
        val longBounds = cols.collect {
          case (c, (tp, lo, hi)) if tp == "bigint" || tp == "long" => c ->
            (scala.util.Try((lo.toLong, hi.toLong)).toOption)
        }
        // Any previously-seen column this file lacks (or carries
        // unparsable/non-long bounds for) becomes unreportable.
        (boundsByCol.keySet ++ longBounds.keySet).foreach { c =>
          longBounds.get(c).flatten match {
            case Some((lo, hi)) if !incompleteCols(c) =>
              val cur = boundsByCol.get(c)
              if (cur.isEmpty && filesSeen > 1) incompleteCols += c
              else boundsByCol(c) = cur.fold((lo, hi)) { case (a, b) =>
                (math.min(a, lo), math.max(b, hi)) }
            case _ => incompleteCols += c
          }
        }
      }
    }
    incompleteCols.foreach(boundsByCol.remove)
    val factor =
      spark.conf.get("spark.sql.sources.fileCompressionFactor", "1.0").toDouble
    val sz = math.max(1L, (bytes * factor).toLong)
    // EXACT row count from the write-time `_rows.txt` sidecars — reported
    // only when every chosen bucket is DV-free and sidecar'd (an equality
    // delete changes the live count, and a pre-sidecar commit has no
    // record), so the optimizer either sees the true cardinality of the
    // pruned scan or nothing. Zero footer I/O either way.
    val rowCounts = chosen.values.toSeq.map { case (dataDir, dvs) =>
      if (dvs.isEmpty) graft.core.TxTable.rowsSidecarTotal(dataDir) else None
    }
    // Exactness also requires that zone-map pruning dropped no files
    // inside the chosen buckets — the bucket sidecar counts whole
    // buckets, and a pruned scan emits fewer. No zone-eligible predicate
    // pushed (the common case) keeps the exact path untouched.
    val exactRows = if (rowCounts.nonEmpty && rowCounts.forall(_.isDefined) &&
        zoneConds.isEmpty)
      Some(rowCounts.flatten.sum) else None
    // DSv2 COLUMN statistics (Spark folds them into the relation's
    // attributeStats via transformV2Stats — join-cardinality and CBO
    // inputs): (a) the merge key's distinct count is EXACTLY the row
    // count by the table's one-row-per-key invariant — an NDV no
    // sampling-based ANALYZE can state exactly, free from metadata;
    // (b) long zone-mapped columns report true min/max over the
    // admitted files, folded above. Composite keys report nothing
    // per-column (the invariant is on the tuple).
    val schemaFields = readSchema().fieldNames.toSet
    val colStatsMap = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    def ref(c: String) =
      org.apache.spark.sql.connector.expressions.Expressions.column(c)
    if (keyCols.size == 1 && schemaFields.contains(keyCols.head))
      exactRows.foreach { nr =>
        colStatsMap.put(ref(keyCols.head),
          new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
            override def distinctCount(): java.util.OptionalLong =
              java.util.OptionalLong.of(nr)
          })
      }
    boundsByCol.foreach { case (c, (lo, hi)) =>
      if (schemaFields.contains(c) && !colStatsMap.containsKey(ref(c)))
        colStatsMap.put(ref(c),
          new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
            override def min(): java.util.Optional[Object] =
              java.util.Optional.of(java.lang.Long.valueOf(lo))
            override def max(): java.util.Optional[Object] =
              java.util.Optional.of(java.lang.Long.valueOf(hi))
          })
    }
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(sz)
      override def numRows(): java.util.OptionalLong =
        exactRows.map(java.util.OptionalLong.of)
          .getOrElse(java.util.OptionalLong.empty())
      override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        colStatsMap
    }
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    require(changeFeed,
      "graft streaming reads require .option(\"changeFeed\", \"true\") — " +
        "the stream is the table's commit-granular change feed")
    // Strip the synthesized metadata columns: partitions read the table's
    // physical fields, the reader appends (_commit_version, _change_type).
    val metaNames = GraftDataSource.FeedMeta.fieldNames.toSet
    new GraftMicroBatchStream(dir, keyCols,
      StructType(tableSchema.fields.filterNot(f => metaNames.contains(f.name))),
      skipLayoutOnly, startingVersion)
  }
  override def description(): String =
    s"GraftScan(dir=$dir, keys=${keyCols.mkString(",")}, version=${pin.v}, " +
      s"pushed=[${pushed.mkString(", ")}], columns=[${required.fieldNames.mkString(",")}]" +
      (if (limit != Int.MaxValue) s", PushedLimit=$limit" else "") +
      (if (dataFilters.nonEmpty)
        s", RowGroupSkipFilters=[${dataFilters.mkString(", ")}]" else "") + ")"

  /** One partition per manifest bucket, pruned by the pushed key equality.
    * All metadata work (manifest resolve, footer probes, DV key load,
    * default evaluation) happens HERE, once, on the driver — partitions
    * ship plain strings/arrays and the executors never touch the log.
    * Everything resolves at the PINNED version: schema, layout, aliases
    * and defaults all describe the same committed snapshot. */
  // AQE and the columnar-support check call planInputPartitions several
  // times per query on the same Scan instance; the footer probing is
  // driver-side work worth doing once. Keyed on the runtime-filter state
  // so a join-derived prune still re-plans.
  @volatile private var plannedCache: (Seq[String], Array[InputPartition]) = null

  /** Planning's footer work, summed over this scan's plans (a runtime
    * filter re-plans), reported as SQL plan metrics. */
  private val footersRead = new java.util.concurrent.atomic.LongAdder
  private val footerCacheHits = new java.util.concurrent.atomic.LongAdder

  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new GraftFootersReadMetric, new GraftFooterCacheHitsMetric)

  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    def metric(n: String, v: Long) =
      new org.apache.spark.sql.connector.metric.CustomTaskMetric {
        override def name(): String = n
        override def value(): Long = v
      }
    Array(metric(GraftFootersReadMetric.Name, footersRead.sum),
      metric(GraftFooterCacheHitsMetric.Name, footerCacheHits.sum))
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val cacheKey = runtimeFilters.toSeq.map(_.toString)
    val hit = plannedCache
    if (hit != null && hit._1 == cacheKey) return hit._2
    val planned = doPlanInputPartitions()
    plannedCache = (cacheKey, planned)
    planned
  }

  private def doPlanInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val aliases = pin.aliases
    val defaults = pin.defaults

    val chosen = chosenLayout()
    // Row-level operations replace GROUPS = buckets: the scan's planned
    // set is the affected-group set the commit swaps — recorded with
    // whether this plan carried the runtime GROUP filter (the read-back
    // plan) or not (the group-filter subquery / unfiltered fallback).
    if (rowLevelOp != null) rowLevelOp.scanned(chosen.keySet,
      runtimeFilters.exists {
        case EqualTo(a, _) => a == GraftDataSource.BucketCol
        case org.apache.spark.sql.sources.In(a, _) =>
          a == GraftDataSource.BucketCol
        case _ => false
      })

    // Readers must see the key columns whenever a DV has to be applied,
    // even if the query pruned them away; fetch = required ++ missing keys.
    val hasDvs = chosen.values.exists(_._2.nonEmpty)
    val fetchFields = required.fields ++ (
      if (hasDvs) keyCols.filterNot(required.fieldNames.contains)
        .map(k => tableSchema(k)) else Nil)
    val fetch = StructType(fetchFields)

    // ADD-COLUMN defaults are SQL expressions; evaluate them ONCE here to
    // plain literals (they are deterministic by the table's contract).
    val defaultValues: Map[String, Any] = defaults.map { case (c, sql) =>
      val dt = tableSchema(c).dataType
      c -> spark.sql(s"SELECT CAST(($sql) AS ${dt.sql})").head().get(0)
    }

    import GraftDataSource.{parquetFiles, resolveFile}

    // DV key sets are bounded (equality deletes); load them at planning,
    // convert to CATALYST form per key type (UTF8String / days-Int /
    // micros-Long — so DATE/TIMESTAMP keys compare correctly against the
    // Catalyst values the reader materializes) and ship per bucket.
    val keyConverters = keyCols.map(k =>
      CatalystTypeConverters.createToCatalystConverter(tableSchema(k).dataType))
    def dvKeys(dvDirs: Seq[String]): Array[Array[Any]] =
      if (dvDirs.isEmpty) Array.empty
      else graft.core.FileMeta.parquet(spark, dvDirs.flatMap(parquetFiles): _*)
        .select(keyCols.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(r => Array.tabulate[Any](keyCols.length)(i =>
          keyConverters(i)(r.get(i))))

    // A row-level-operation scan feeds a GROUP REPLACEMENT: Spark pushes
    // the operation's condition expecting pruning at GROUP granularity
    // only (the Iceberg copy-on-write contract — a pushed filter may
    // drop whole groups, never rows within a surviving group, because
    // every surviving group's NON-matching rows must be read back and
    // carried over into the rewrite). Bucket-tier pruning above
    // (chosenLayout: key-hash, bloom, whole-bucket zone refutation) is
    // exactly group-granular and stays; the finer tiers — zone-map FILE
    // pruning and parquet row-group skip filters — would silently drop
    // carryover rows, so they are disabled here and only here.
    val groupGranular = rowLevelOp != null
    // Zone-map FILE pruning: refuted files never reach the footer probe
    // below — the planning-tier range-skipping tier (whole buckets were
    // already dropped in chosenLayout when every file refuted).
    val buckets = chosen.toSeq.sortBy(_._1).map { case (b, (dataDir, dvDirs)) =>
      (b, dvDirs, if (groupGranular) parquetFiles(dataDir) else zoneFiles(dataDir))
    }
    // ONE footer fan-out over every chosen file of the scan, through the
    // per-JVM footer cache: a re-plan of the same files reads no footer.
    val footers = graft.core.TxTable.parMap(buckets.flatMap(_._3))(graft.core.FileMeta.footerOf)
    footersRead.add(footers.count(!_._2)); footerCacheHits.add(footers.count(_._2))
    val byFile = buckets.flatMap(_._3).zip(footers.map(_._1)).toMap
    val parts = buckets.map { case (b, dvDirs, files) =>
      val resolved = files.map(f =>
        resolveFile(f, byFile(f).getFileMetaData.getSchema, fetch, aliases))
      GraftInputPartition(b, files.toArray,
        resolved.map(_._1).toArray, resolved.map(_._2).toArray,
        resolved.map(_._3).toArray,
        fetch.toDDL, required.length,
        if (hasDvs) keyCols.map(fetch.fieldIndex).toArray else Array.empty[Int],
        dvKeys(dvDirs),
        // The bucket-id metadata column is a per-partition CONSTANT (the
        // partition IS one bucket) — served through the same
        // absent-column default machinery as ADD-COLUMN defaults.
        fetch.fields.map(f =>
          if (f.name == GraftDataSource.BucketCol &&
            !tableSchema.fieldNames.contains(GraftDataSource.BucketCol))
            Int.box(b.toInt)
          else defaultValues.get(f.name).orNull),
        limit = if (groupGranular) Int.MaxValue else limit,
        skipFilters = if (groupGranular) Array.empty else dataFilters)
    }
    // Columnar is a SCAN-LEVEL decision (Spark refuses mixed partitions):
    // vectorize only when no partition carries a DV, the projection is
    // non-empty, and every file/field pairing is one the vectorized
    // reader serves natively.
    val columnar = !hasDvs && fetch.nonEmpty && parts.forall(p =>
      p.physCodes.forall(_.zipWithIndex.forall { case (code, i) =>
        GraftVectorReader.vectorizable(code, fetch.fields(i).dataType)
      }))
    parts.map(_.copy(columnar = columnar).asInstanceOf[InputPartition]).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new GraftReaderFactory
}

/** Parquet footers a [[GraftScan]]'s planning read from storage. */
final class GraftFootersReadMetric
  extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = GraftFootersReadMetric.Name
  override def description(): String = "footers read"
}
object GraftFootersReadMetric { val Name = "footersRead" }

/** Parquet footers a [[GraftScan]]'s planning took from the footer cache. */
final class GraftFooterCacheHitsMetric
  extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = GraftFooterCacheHitsMetric.Name
  override def description(): String = "footer cache hits"
}
object GraftFooterCacheHitsMetric { val Name = "footerCacheHits" }

/** Everything a reader needs, resolved at planning: files, the per-file
  * logical→physical mapping, the fetch schema (required + key columns when
  * DVs apply), deleted keys (CATALYST values), and evaluated default
  * literals. */
final case class GraftInputPartition(bucket: Long, files: Array[String],
                                     physNames: Array[Array[String]],
                                     physCodes: Array[Array[Int]],
                                     physSchemas: Array[String],
                                     fetchDdl: String, emitCount: Int,
                                     keyIdx: Array[Int],
                                     deletedKeys: Array[Array[Any]],
                                     defaults: Array[Any],
                                     feedVersion: Long = -1L,
                                     changeType: String = null,
                                     limit: Int = Int.MaxValue,
                                     columnar: Boolean = false,
                                     skipFilters: Array[Filter] = Array.empty)
  extends InputPartition
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  /** The bucket id — the value of the reported bucket(n, keys) transform
    * for every row in this partition (storage-partitioned join key). */
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket.toInt))
}

/** Stream offset = committed table version (the natural exactly-once unit:
  * manifests are immutable and atomically published). */
final case class GraftOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

/** Commit-granular CHANGE FEED over the TxTable log — the streaming-source
  * half of the lakehouse loop (s13's foreachBatch MERGE is the sink half).
  * Each micro-batch covers the versions committed since the last offset:
  * for every version, the buckets whose data commit CHANGED contribute
  * their freshly written files as `insert` post-images (copy-on-write
  * means a commit's files are exactly its delta — no diffing needed, no
  * driver-side row compute), and newly attached deletion-vector dirs
  * contribute `delete` key rows. Offsets are table versions, so recovery
  * replays exactly the unseen commits. Caveat, by design: a physical
  * rewrite (compact/rebucket) re-emits its buckets — consumers key on the
  * merge keys, the same contract Delta's CDF without per-row tracking
  * has — UNLESS `skipLayoutOnly` is set, which drops those versions
  * entirely: they are layout-only by construction (the manifest's `#op=`
  * header names them; s20's certificate proves the snapshot unchanged),
  * so merge-key consumers see identical state with O(changed buckets)
  * instead of O(table) per OPTIMIZE. */
final class GraftMicroBatchStream(dir: String, keyCols: Seq[String],
                                  dataSchema: StructType,
                                  skipLayoutOnly: Boolean = false,
                                  startingVersion: Long = 0L)
  extends MicroBatchStream {

  private def table = graft.core.TxTable.open(SparkSession.active, dir, keyCols)

  override def latestOffset(): Offset = GraftOffset(table.version)
  /** The feed starts at `startingVersion` (default 0 = full history):
    * consumers that already hold a snapshot start from its version + 1
    * instead of replaying every commit — the Delta CDF startingVersion
    * contract. */
  override def initialOffset(): Offset = GraftOffset(startingVersion - 1L)
  override def deserializeOffset(json: String): Offset = GraftOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftOffset].version
    val e = end.asInstanceOf[GraftOffset].version
    val t = table
    // Each version in (s, e] and its predecessor, pinned once.
    val pins = (math.max(s, 0L) to e).map(v => v -> t.pin(v)).toMap
    val aliases = if (e >= 0) pins(e).aliases else Map.empty[String, Seq[String]]
    import GraftDataSource.{parquetFiles, resolveFile}
    val noDefaults = dataSchema.fields.map(_ => null: Any)

    def partition(files: Seq[String], v: Long, change: String): Option[InputPartition] =
      if (files.isEmpty) None
      else {
        val resolved = graft.core.TxTable.parMap(files)(f =>
          resolveFile(f, graft.core.FileMeta.footer(f).getFileMetaData.getSchema,
            dataSchema, aliases))
        Some(GraftInputPartition(-1L, files.toArray,
          resolved.map(_._1).toArray, resolved.map(_._2).toArray,
          resolved.map(_._3).toArray,
          dataSchema.toDDL, dataSchema.length,
          Array.empty[Int], Array.empty, noDefaults, v, change))
      }

    (s + 1 to e)
      .filterNot(v => skipLayoutOnly && GraftDataSource.LayoutOnlyOps.contains(pins(v).op))
      .flatMap { v =>
        val cur = pins(v).layout
        val prev: Map[Long, (String, Seq[String])] =
          if (v == 0) Map.empty else pins(v - 1).layout
        val inserts = cur.toSeq.sortBy(_._1).flatMap { case (b, (dataDir, _)) =>
          if (prev.get(b).exists(_._1 == dataDir)) None
          else partition(parquetFiles(dataDir), v, "insert")
        }
        // The pins' layouts resolve DV paths on both sides, so set difference
        // on the resolved strings yields exactly the DVs this version attached.
        val deletes = cur.toSeq.sortBy(_._1).flatMap { case (b, (_, dvs)) =>
          val prevDvs = prev.get(b).map(_._2.toSet).getOrElse(Set.empty[String])
          partition(dvs.filterNot(prevDvs.contains).flatMap(parquetFiles), v, "delete")
        }
        inserts ++ deletes
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new GraftReaderFactory
}

final class GraftReaderFactory extends PartitionReaderFactory {
  /** Row-mode reads still DECODE vectorized when the files allow it:
    * DV'd buckets (and plain row-mode bulk reads) can't go
    * batch-columnar, but their pages decode through Spark's columnar
    * reader with only the emission row-at-a-time
    * ([[GraftVectorRowReader]] — DV'd bulk scan measured 1.32× native
    * vs the Group path's ~5×, BASELINE note 77). CHANGE-FEED partitions
    * stay on the Group reader deliberately: a feed micro-batch reads the
    * few SMALL files one commit just wrote, where the vectorized
    * reader's per-file batch setup (footer read, vector allocation)
    * costs more than Group assembly saves (measured: s41 2.7 s → 4.2 s
    * when fed through the batch reader). The Group reader also remains
    * for empty projections and pairings the vectorized reader can't
    * serve (FLOAT-as-double, widened INT32-as-long). */
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = p match {
    case GraftCountPartition(c) => new GraftCountReader(c)
    case GraftStatsPartition(vs) => new GraftStatsReader(vs)
    case gp: GraftInputPartition =>
      val fetch =
        if (gp.fetchDdl.isEmpty) new StructType() else StructType.fromDDL(gp.fetchDdl)
      val vectorServable = gp.changeType == null && fetch.nonEmpty &&
        gp.physCodes.forall(_.zipWithIndex.forall { case (code, i) =>
          GraftVectorReader.vectorizable(code, fetch.fields(i).dataType)
        })
      if (vectorServable) new GraftVectorRowReader(gp)
      else new GraftPartitionReader(gp)
  }

  /** Bulk scans read COLUMNAR (Spark's own vectorized parquet reader —
    * the 5.25× row-materialization penalty measured in BASELINE note 64
    * applied only to the Group-per-row path; row-mode scans now decode
    * vectorized too, see createReader). */
  override def supportColumnarReads(p: InputPartition): Boolean = p match {
    // Spark requires ALL of a scan's partitions to agree (mixing is an
    // error, not a fallback), so the decision is made ONCE at planning
    // and stamped on every partition.
    case gp: GraftInputPartition => gp.columnar
    case _ => false
  }

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = p match {
    case gp: GraftInputPartition => new GraftVectorReader(gp)
    case other => throw new IllegalStateException(s"no columnar reader for $other")
  }
}

private[graft] object GraftVectorReader {
  /** The (physical code, logical type) pairs Spark's vectorized parquet
    * reader serves natively; anything else stays on the row path. */
  def vectorizable(code: Int, dt: DataType): Boolean = (code, dt) match {
    case (GraftDataSource.Absent, _) => true // constant vector via initBatch
    case (GraftDataSource.I32, IntegerType | DateType) => true
    case (GraftDataSource.I64, LongType | TimestampType | TimestampNTZType) => true
    case (GraftDataSource.I64Ms, TimestampType) => true
    case (GraftDataSource.I96, TimestampType) => true
    case (GraftDataSource.F64, DoubleType) => true
    case (GraftDataSource.F32, FloatType) => true
    case (GraftDataSource.Utf8, StringType) => true
    case (GraftDataSource.Bool, BooleanType) => true
    case _ => false
  }
}

/** Columnar partition reader: one [[VectorizedParquetRecordReader]] per
  * file, requesting exactly the per-file PHYSICAL columns (rename aliases
  * resolved at planning) in fetch order; absent columns (ADD COLUMN after
  * the file was written) ride as CONSTANT vectors through `initBatch`'s
  * partition-column mechanism, carrying the evaluated default. Because
  * the inner batch lays columns out as (present…, absent…), a zero-copy
  * wrapper batch re-orders the column VECTORS back to fetch order once
  * per file. Pushed limits stop the batch stream at the quota (batches
  * may overshoot within one batch — Spark's global Limit trims). */
final class GraftVectorReader(p: GraftInputPartition)
  extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {

  private val fetch = StructType.fromDDL(p.fetchDdl)
  private var fileIdx = -1
  private var reader: org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader = null
  private var wrapper: org.apache.spark.sql.vectorized.ColumnarBatch = null
  private var inner: org.apache.spark.sql.vectorized.ColumnarBatch = null
  private var emitted = 0L

  private def openNext(): Boolean = {
    if (reader != null) { reader.close(); reader = null }
    fileIdx += 1
    if (fileIdx >= p.files.length) false
    else {
      val phys = p.physNames(fileIdx)
      val present = phys.zipWithIndex.filter(_._1 != null)
      val absent = phys.zipWithIndex.filter(_._1 == null).map(_._2)
      reader = new org.apache.spark.sql.execution.datasources.parquet
        .VectorizedParquetRecordReader(null, "CORRECTED", "UTC", "CORRECTED", "UTC",
          false, 4096)
      // The requested schema carries the file's PHYSICAL column names with
      // the logical fetch types; the reader resolves it from the task conf
      // (the same contract Spark's own parquet scan uses).
      val requested = StructType(present.map { case (n, i) =>
        fetch.fields(i).copy(name = n)
      })
      val conf = graft.core.FileMeta.hadoopConf()
      conf.set("org.apache.spark.sql.parquet.row.requested_schema", requested.json)
      conf.set("parquet.read.support.class",
        "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport")
      conf.setBoolean("spark.sql.parquet.binaryAsString", false)
      conf.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
      conf.setBoolean("spark.sql.caseSensitive", false)
      conf.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
      conf.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)
      conf.setBoolean("spark.sql.parquet.fieldId.read.enabled", false)
      conf.setBoolean("spark.sql.parquet.fieldId.read.ignoreMissing", false)
      conf.setBoolean("spark.sql.parquet.respectSummaryFiles", false)
      // Row-group/page skipping: the pushed filters, translated to this
      // file's physical columns, ride the conf as a parquet
      // FilterPredicate — HadoopReadOptions picks it up inside the
      // reader's initialize, so row groups whose footer statistics refute
      // the predicate are never decoded (and with column indexes, pages).
      GraftDataSource.filePredicate(p, fileIdx, fetch).foreach(pred =>
        org.apache.parquet.hadoop.ParquetInputFormat.setFilterPredicate(conf, pred))
      // The base reader expects the OLD-API split type (mapred, not
      // mapreduce.lib.input) and a real length for its row-group range.
      val split = new org.apache.hadoop.mapred.FileSplit(
        new HPath(p.files(fileIdx)), 0,
        java.nio.file.Files.size(java.nio.file.Paths.get(p.files(fileIdx))),
        Array.empty[String])
      reader.initialize(split,
        new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
          conf, new org.apache.hadoop.mapreduce.TaskAttemptID()))
      // Absent columns ship as constant "partition" vectors holding the
      // evaluated ADD-COLUMN default (or typed null).
      val absSchema = StructType(absent.map(i => fetch.fields(i)))
      val absValues = new GenericInternalRow(absent.map[Any] { i =>
        p.defaults(i) match {
          case null => null
          case d => CatalystTypeConverters.convertToCatalyst(d)
        }
      })
      reader.initBatch(absSchema, absValues)
      reader.enableReturningBatches()
      inner = reader.resultBatch()
      // Zero-copy re-order: inner = (present…, absent…) → fetch order.
      val innerIdx = new Array[Int](fetch.length)
      present.map(_._2).zipWithIndex.foreach { case (f, pos) => innerIdx(f) = pos }
      absent.zipWithIndex.foreach { case (f, pos) => innerIdx(f) = present.length + pos }
      wrapper = new org.apache.spark.sql.vectorized.ColumnarBatch(
        Array.tabulate(fetch.length)(i => inner.column(innerIdx(i))))
      true
    }
  }

  override def next(): Boolean = {
    if (emitted >= p.limit) return false
    while (true) {
      if (reader == null && !openNext()) return false
      if (reader.nextBatch()) {
        wrapper.setNumRows(inner.numRows())
        emitted += inner.numRows()
        return true
      }
      if (!openNext()) return false
    }
    false
  }

  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = wrapper

  override def close(): Unit = if (reader != null) { reader.close(); reader = null }
}

/** Row-emitting reader over the VECTORIZED decode path — the fallback for
  * scans that cannot go columnar as a whole (a DV'd bucket's anti-join,
  * change-feed metadata synthesis, or Spark asking for rows) but whose
  * file/field pairings the vectorized reader CAN serve. Parquet pages
  * decode through Spark's own columnar reader — the cheap half of the
  * 5.25× gap BASELINE note 64 measured against parquet-mr's Group
  * assembly — and only the emission is row-at-a-time: DV membership is
  * tested on the batch-row VIEW (dropped rows cost zero copies), each
  * surviving row is copied out once (strings deep-copied — the batch's
  * memory is reused on the next load), and the pushed LIMIT counts
  * post-DV rows here, never inside the batch source. */
final class GraftVectorRowReader(p: GraftInputPartition)
  extends PartitionReader[InternalRow] {

  // The batch source must not stop early on the pushed limit: its count
  // would be pre-DV. The post-DV quota is enforced in next() below.
  private val inner = new GraftVectorReader(p.copy(limit = Int.MaxValue))
  private val fetch = StructType.fromDDL(p.fetchDdl)
  private val types = fetch.fields.map(_.dataType)
  private val deleted: Set[List[Any]] = p.deletedKeys.map(_.toList).toSet
  private var rows: java.util.Iterator[InternalRow] = null
  private var current: InternalRow = null
  private var emitted = 0

  override def next(): Boolean = {
    if (emitted >= p.limit) return false
    while (true) {
      if (rows == null || !rows.hasNext) {
        if (!inner.next()) return false
        rows = inner.get().rowIterator()
      } else {
        val view = rows.next()
        val isDeleted = deleted.nonEmpty &&
          deleted.contains(p.keyIdx.map(k => view.get(k, types(k))).toList)
        if (!isDeleted) {
          val meta = if (p.changeType == null) 0 else 2
          val emit = new Array[Any](p.emitCount + meta)
          var i = 0
          while (i < p.emitCount) {
            // A columnar row's typed get does not check nulls: a NULL
            // long/int/timestamp slot would read back as 0.
            emit(i) = if (view.isNullAt(i)) null else view.get(i, types(i)) match {
              case u: UTF8String => u.copy()
              case other => other
            }
            i += 1
          }
          if (meta == 2) {
            emit(p.emitCount) = p.feedVersion
            emit(p.emitCount + 1) = UTF8String.fromString(p.changeType)
          }
          current = new GenericInternalRow(emit)
          emitted += 1
          return true
        }
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = inner.close()
}

final class GraftPartitionReader(p: GraftInputPartition)
  extends PartitionReader[InternalRow] {

  // count(*)-style scans prune every column away: the fetch DDL is empty
  // and rows carry zero fields (row COUNT is still exact).
  private val fetch =
    if (p.fetchDdl.isEmpty) new StructType() else StructType.fromDDL(p.fetchDdl)
  // Deleted keys arrive in CATALYST form (planning converts per key type),
  // so the membership test below is Catalyst-to-Catalyst — exact for
  // strings (UTF8String), DATE (days Int) and TIMESTAMP (micros Long).
  private val deleted: Set[List[Any]] = p.deletedKeys.map(_.toList).toSet
  // Defaults convert to Catalyst values ONCE; field indexes into the
  // file's read schema resolve ONCE per file — the per-row loop below
  // does no string lookups and no converter allocation.
  private val defaultCatalyst: Array[Any] = p.defaults.map {
    case null => null
    case d => org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToCatalyst(d)
  }
  private var fieldIdx: Array[Int] = Array.empty
  private var fileIdx = -1
  private var reader: ParquetReader[Group] = null
  private var current: InternalRow = null
  private var emitted = 0

  private def openNext(): Boolean = {
    if (reader != null) { reader.close(); reader = null }
    fileIdx += 1
    if (fileIdx >= p.files.length) false
    else {
      val wanted = p.physNames(fileIdx).filter(_ != null)
      val conf = graft.core.FileMeta.hadoopConf()
      // The per-file PROJECTED parquet schema was resolved (and the footer
      // read) once at planning; executors parse the shipped string — no
      // footer re-read, and only the physical columns this file actually
      // serves are materialized (the DSv2 column-prune hook carried down
      // to the page level).
      val readSchema = org.apache.parquet.schema.MessageTypeParser
        .parseMessageType(p.physSchemas(fileIdx))
      if (wanted.nonEmpty)
        conf.set(ReadSupport.PARQUET_READ_SCHEMA, readSchema.toString)
      fieldIdx = p.physNames(fileIdx).map {
        case null => -1
        case n => readSchema.getFieldIndex(n)
      }
      // Same row-group skipping as the vectorized path (plus parquet's
      // record-level filtering, which only drops rows the engine residual
      // would drop anyway — the translated predicate is the one Spark's
      // own record-level filter mode uses).
      // Built over a HadoopInputFile so the reader takes `conf`:
      // `ParquetReader.builder(support, path)` constructs (and parses) a
      // Configuration of its own per file.
      val builder = new ParquetReader.Builder[Group](
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new HPath(p.files(fileIdx)), conf)) {
        override protected def getReadSupport(): ReadSupport[Group] = new GroupReadSupport()
      }
      reader = GraftDataSource.filePredicate(p, fileIdx, fetch)
        .map(pred => builder.withFilter(
          org.apache.parquet.filter2.compat.FilterCompat.get(pred)))
        .getOrElse(builder)
        .build()
      true
    }
  }

  private def convert(g: Group, idx: Int, code: Int, target: DataType): Any = {
    if (g.getFieldRepetitionCount(idx) == 0) null
    else (code, target) match {
      case (GraftDataSource.I64, LongType) => g.getLong(idx, 0)
      case (GraftDataSource.I32, LongType) => g.getInteger(idx, 0).toLong
      case (GraftDataSource.I32, IntegerType) => g.getInteger(idx, 0)
      case (GraftDataSource.I32, DateType) => g.getInteger(idx, 0)
      case (GraftDataSource.I64, TimestampType | TimestampNTZType) => g.getLong(idx, 0)
      case (GraftDataSource.I64Ms, TimestampType) =>
        // TIMESTAMP(MILLIS)-annotated INT64: Catalyst wants micros.
        java.lang.Math.multiplyExact(g.getLong(idx, 0), 1000L)
      case (GraftDataSource.I96, TimestampType) =>
        // Legacy INT96 (the Spark writer's default): 12 little-endian
        // bytes — 8 of nanos-of-day, 4 of Julian day (2440588 = epoch).
        val buf = java.nio.ByteBuffer.wrap(g.getInt96(idx, 0).getBytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val nanosOfDay = buf.getLong
        val julianDay = buf.getInt
        (julianDay - 2440588L) * 86400000000L + nanosOfDay / 1000L
      case (GraftDataSource.F64, DoubleType) => g.getDouble(idx, 0)
      case (GraftDataSource.F32, DoubleType) => g.getFloat(idx, 0).toDouble
      case (GraftDataSource.F32, FloatType) => g.getFloat(idx, 0)
      case (GraftDataSource.I32, DoubleType) => g.getInteger(idx, 0).toDouble
      case (GraftDataSource.Utf8, StringType) =>
        UTF8String.fromBytes(g.getBinary(idx, 0).getBytes)
      case (GraftDataSource.Bool, BooleanType) => g.getBoolean(idx, 0)
      case (c, t) => throw new IllegalArgumentException(
        s"graft connector: cannot serve field $idx (physical code $c) as ${t.sql}")
    }
  }

  override def next(): Boolean = {
    // Pushed LIMIT: stop as soon as this partition has emitted its quota
    // of SURVIVING rows (deleted rows don't count — the limit is on what
    // the engine would see).
    if (emitted >= p.limit) return false
    while (true) {
      if (reader == null && !openNext()) return false
      val g = reader.read()
      if (g == null) {
        if (!openNext()) return false
      } else {
        val codes = p.physCodes(fileIdx)
        val vals = new Array[Any](fetch.length)
        var i = 0
        while (i < fetch.length) {
          vals(i) =
            if (fieldIdx(i) < 0)
              // Absent column: the ADD-COLUMN default if one is recorded,
              // else a typed NULL — the conform() contract per file.
              defaultCatalyst(i)
            else convert(g, fieldIdx(i), codes(i), fetch.fields(i).dataType)
          i += 1
        }
        val isDeleted = deleted.nonEmpty &&
          deleted.contains(p.keyIdx.map(k => vals(k)).toList)
        if (!isDeleted) {
          val meta = if (p.changeType == null) 0 else 2
          val emit = new Array[Any](p.emitCount + meta)
          System.arraycopy(vals, 0, emit, 0, p.emitCount)
          if (meta == 2) {
            emit(p.emitCount) = p.feedVersion
            emit(p.emitCount + 1) = UTF8String.fromString(p.changeType)
          }
          current = new GenericInternalRow(emit)
          emitted += 1
          return true
        }
      }
    }
    false
  }

  override def get(): InternalRow = current

  override def close(): Unit = if (reader != null) { reader.close(); reader = null }
}
