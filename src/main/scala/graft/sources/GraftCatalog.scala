package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.catalog.FunctionCatalog
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Catalog plugin for graft TxTables — register once:
  *
  * {{{
  *   spark.sql.catalog.gcat           = graft.sources.GraftCatalog
  *   spark.sql.catalog.gcat.warehouse = /data/graft
  * }}}
  *
  * and every self-describing table directory under the warehouse becomes a
  * multi-part SQL identifier: `SELECT * FROM gcat.customers`, nested
  * namespaces mapping to subdirectories (`gcat.raw.events` →
  * `<warehouse>/raw/events`). Resolution goes through the same DSv2
  * [[GraftTable]] as `spark.read.format("graft")`, with the snapshot
  * version pinned at `loadTable` (snapshot-at-analysis), and the merge
  * keys read from the table's `keys.txt` sidecar — no OPTIONS clause, no
  * session-catalog registration step.
  *
  * The catalog is also a [[FunctionCatalog]] carrying ONE function: the
  * table's own bucket hash (`pmod(xxhash64(keys…), n)` — bit-identical to
  * the write path by construction, both evaluate Catalyst's XxHash64 with
  * the engine seed). That is the missing piece for STORAGE-PARTITIONED
  * JOINS: [[GraftScan]] reports `KeyGroupedPartitioning(bucket(n, keys))`
  * and each partition carries its bucket id as the partition key, so with
  * `spark.sql.sources.v2.bucketing.enabled=true` two graft tables with
  * the same bucketing joined on their keys plan with ZERO shuffle — Spark
  * zips the bucket partitions pairwise, which is exactly the co-located
  * join the write path's layout exists for. At 100 TB that turns the
  * fact-to-fact merge-key join from the biggest shuffle in the plan into
  * a local zip.
  *
  * READ-ONLY by design, like the connector: CREATE/ALTER/DROP go through
  * the library's transactional protocol (`TxTable.create`/`merge`/…) —
  * a catalog write path would bypass optimistic publish. The DDL hooks
  * refuse loudly and say where to go instead.
  */
final class GraftCatalog extends TableCatalog with FunctionCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).map(GraftDataSource.localPath)
      .getOrElse(throw new IllegalArgumentException(
        s"graft catalog '$name' requires spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName

  /** Identifier parts map to path segments, so quoted parts must not be
    * able to escape the warehouse root (`gcat.`..`.other`): reject
    * separators and dot-only parts, then belt-and-braces verify the
    * normalized result still lives under the warehouse. */
  private def safeParts(parts: Seq[String]): Seq[String] = {
    parts.foreach { p =>
      require(p.nonEmpty && p != "." && p != ".." &&
        !p.contains('/') && !p.contains('\\'),
        s"graft catalog: invalid identifier part '$p' (path separators and " +
          "'.'/'..' segments are not allowed)")
    }
    parts
  }

  private def underWarehouse(path: String): String = {
    val root = java.nio.file.Paths.get(warehouse).toAbsolutePath.normalize
    val p = java.nio.file.Paths.get(path).toAbsolutePath.normalize
    require(p.startsWith(root),
      s"graft catalog: resolved path escapes the warehouse root ($p)")
    path
  }

  private def dirOf(ident: Identifier): String =
    underWarehouse((warehouse +: safeParts(ident.namespace().toSeq :+ ident.name()))
      .mkString("/"))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val base = java.nio.file.Paths.get(
      underWarehouse((warehouse +: safeParts(namespace.toSeq)).mkString("/")))
    if (!java.nio.file.Files.isDirectory(base)) Array.empty
    else {
      val s = java.nio.file.Files.list(base)
      try s.iterator().asScala
        .filter(p => java.nio.file.Files.isDirectory(p.resolve("_log")))
        .map(p => Identifier.of(namespace, p.getFileName.toString))
        .toArray
      finally s.close()
    }
  }

  override def loadTable(ident: Identifier): Table = {
    val dir = dirOf(ident)
    val keys = graft.core.TxTable.keysOf(dir).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        (ident.namespace() :+ ident.name()).toSeq))
    val t = graft.core.TxTable.open(SparkSession.active, dir, keys)
    val pinned = t.version // snapshot-at-analysis: pinned per table resolution
    if (pinned < 0)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        (ident.namespace() :+ ident.name()).toSeq)
    new GraftTable(dir, keys, t.pin(pinned).schema, pinned, spjCapable = true)
  }

  private def readOnly(verb: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft catalog is read-only: $verb must go through the library's " +
        "transactional protocol (graft.core.TxTable.create/merge/update/...) — " +
        "a catalog write path would bypass optimistic publish")

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table =
    readOnly("CREATE TABLE")
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    readOnly("ALTER TABLE")
  override def dropTable(ident: Identifier): Boolean = readOnly("DROP TABLE")
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    readOnly("RENAME TABLE")

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "bucket"))

  /** `graft_bucket_<n>` is the same write-path hash under the name
    * composite-key tables report their transform as (Spark resolves the
    * standard bucket transform with exactly one reference, so multi-key
    * tables use the general named-transform path, and the bucket count
    * rides in the NAME so the transform's only leaves are the key
    * attributes — a literal child would fail
    * KeyGroupedPartitioning.satisfies — while canonicalName still
    * carries n for co-partition comparisons). */
  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name() == "bucket") GraftBucketFunction
    else ident.name() match {
      case GraftCatalog.BucketN(n) if n.toIntOption.exists(_ > 0) =>
        GraftBucketNFunction(n.toInt)
      case _ =>
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
    }
}

/** The TxTable bucket hash as a V2 catalog function, so Spark can resolve
  * the `bucket(n, keys…)` transform [[GraftScan]] reports and certify two
  * scans as co-partitioned (storage-partitioned joins compare the bound
  * function's `canonicalName`). `produceResult` evaluates the EXACT
  * write-path rule — Catalyst `XxHash64(keys, 42)` then positive mod — so
  * even evaluated uses (partially-clustered SPJ) agree with the layout. */
private[graft] object GraftCatalog {
  /** Names of the composite-key bucket transform: `graft_bucket_<n>`. */
  val BucketN = "graft_bucket_([0-9]+)".r
}

/** The composite-key variant of [[GraftBucketFunction]]: the bucket count
  * is a parameter of the FUNCTION (parsed from its name), not a leading
  * argument, so the transform expression's only leaves are the key
  * attributes (KeyGroupedPartitioning.satisfies demands it) and the
  * canonicalName still distinguishes bucket counts. Hash rule identical
  * to the write path: pmod(xxhash64(keys…, seed 42), n). */
private[graft] final case class GraftBucketNFunction(n: Int) extends UnboundFunction {
  override def name(): String = s"graft_bucket_$n"
  override def description(): String =
    s"graft_bucket_$n(keys...): pmod(xxhash64(keys...), $n) — the graft TxTable bucket id"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.nonEmpty, s"graft_bucket_$n(keys...) binds at least one key")
    val types = inputType.fields.map(_.dataType)
    new ScalarFunction[Integer] {
      override def inputTypes(): Array[DataType] = types
      override def resultType(): DataType = IntegerType
      override def name(): String = s"graft_bucket_$n"
      override def canonicalName(): String = s"graft.bucket_$n"
      override def isResultNullable: Boolean = false
      override def produceResult(input: InternalRow): Integer = {
        val lits = types.indices.map(i =>
          Literal(input.get(i, types(i)), types(i))
            .asInstanceOf[org.apache.spark.sql.catalyst.expressions.Expression])
        val h = XxHash64(lits, 42L).eval(InternalRow.empty).asInstanceOf[Long]
        (((h % n) + n) % n).toInt
      }
    }
  }
}

private[graft] object GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, keys...): pmod(xxhash64(keys...), n) — the graft TxTable bucket id"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.length >= 2 && inputType.head.dataType == IntegerType,
      "graft bucket(n, keys...) binds (int, key...)")
    val types = inputType.fields.map(_.dataType)
    new ScalarFunction[Integer] {
      override def inputTypes(): Array[DataType] = types
      override def resultType(): DataType = IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String = "graft.bucket"
      override def isResultNullable: Boolean = false
      override def produceResult(input: InternalRow): Integer = {
        val n = input.getInt(0).toLong
        val lits = (1 until types.length).map(i =>
          Literal(input.get(i, types(i)), types(i))
            .asInstanceOf[org.apache.spark.sql.catalyst.expressions.Expression])
        val h = XxHash64(lits, 42L).eval(InternalRow.empty).asInstanceOf[Long]
        (((h % n) + n) % n).toInt
      }
    }
  }
}
