package graft.core

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lazy accessors for the driver's relational corpus (`TESTDATA.md`).
  *
  * Each table is a plain parquet scan — no caching, no data read — so that
  * Catalyst can push filters and prune columns all the way into the scan.
  * Opening one reads one footer on the driver, through the per-JVM cache
  * ([[FileMeta.parquet]]): no Spark job, and none at all once warm.
  * At 100 TB the same access path holds: the scan is the unit the optimizer
  * works with, and every operator in `graft.ops` composes on top of it.
  */
object Tables {
  def read(spark: SparkSession, sfDir: String, name: String): DataFrame =
    FileMeta.parquet(spark, s"$sfDir/$name.parquet")

  def region(spark: SparkSession, sfDir: String): DataFrame    = read(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame    = read(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame  = read(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame  = read(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame      = read(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame    = read(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame  = read(spark, sfDir, "lineitem")
  /** `events.ts` has shipped as both parquet TIMESTAMP(NANOS) (older
    * fixtures — Spark's reader rejects it; the nanosAsLong escape hatch
    * reads raw nanos as long, truncated to micros with integer arithmetic,
    * since a double division would lose precision above 2^53 ns) and
    * TIMESTAMP(MICROS) (current fixtures — read as TIMESTAMP_NTZ).
    * Dispatch on the observed type (the escape hatch is on in every
    * [[Session.local]] session); either way the output is a session-
    * zone (UTC) microsecond TIMESTAMP, matching the oracle's
    * `CAST(ts AS TIMESTAMP)` (DuckDB ns→µs cast floors — verified). */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val df = read(spark, sfDir, "events")
    import org.apache.spark.sql.functions.{col, expr}
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "embeddings")

  /** EXACT row count of a corpus table from its parquet footer(s) — a
    * driver-side metadata read (~ms), for sizing decisions that only need
    * the input's cardinality (e.g. the row-count-adaptive parquet group
    * size of the compaction demos). The footer record count is exact by
    * format spec — this is the same number a full `count()` job computes,
    * minus the scan. */
  def footerRowCount(sfDir: String, name: String): Long =
    footerRowCountAt(s"$sfDir/$name.parquet")

  /** Same, for an arbitrary parquet file or directory path. */
  def footerRowCountAt(path: String): Long = footers(path).map(FileMeta.rowCount).sum

  /** EXACT max of an INT64 column from parquet footer statistics, or None
    * when any row group lacks them (caller falls back to a scan). Integer
    * footer stats are exact by format spec — truncation applies only to
    * binary/string stats — so when present this is the same number a
    * max() job computes, minus the scan. */
  def footerMaxLong(sfDir: String, name: String, column: String): Option[Long] = {
    val maxes = footers(s"$sfDir/$name.parquet").flatMap(_.getBlocks.asScala.map { bl =>
      bl.getColumns.asScala
        .find(_.getPath.toDotString == column)
        .map(_.getStatistics)
        .filter(st => st != null && st.hasNonNullValue)
        .flatMap(st => st.genericGetMax match {
          case l: java.lang.Long => Some(l.longValue)
          case _ => None
        })
    })
    if (maxes.nonEmpty && maxes.forall(_.isDefined)) Some(maxes.flatten.max)
    else None
  }

  /** The footers of a parquet file, or of a directory's top-level
    * `.parquet` files, through the per-JVM footer cache. */
  private def footers(path: String): Seq[org.apache.parquet.hadoop.metadata.ParquetMetadata] = {
    val p = java.nio.file.Paths.get(path)
    val files =
      if (!java.nio.file.Files.isDirectory(p)) Seq(p)
      else {
        val s = java.nio.file.Files.list(p)
        try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
        finally s.close()
      }
    files.map(f => FileMeta.footer(f.toString))
  }
}
