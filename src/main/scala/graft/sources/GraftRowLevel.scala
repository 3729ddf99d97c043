package graft.sources

import java.util.UUID

import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Literal, Pmod, UnsafeProjection, XxHash64}
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOutputWriter, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL `UPDATE` / `MERGE INTO` for graft tables — Spark's GROUP-based
  * row-level operation contract ([[org.apache.spark.sql.connector.catalog
  * .SupportsRowLevelOperations]]), where the replacement GROUP is the
  * storage BUCKET, which is exactly the engine's copy-on-write unit:
  *
  *  - Spark plans the operation against [[GraftRowLevelOperation
  *    .newScanBuilder]]'s scan; its runtime group filter narrows that
  *    scan to the buckets holding matched rows through the SAME
  *    `_graft_bucket` runtime-filter channel join pruning uses, so an
  *    UPDATE touching one key reads (and rewrites) one bucket, not the
  *    table — the scan records its final planned bucket set as the
  *    operation's affected groups;
  *  - Spark computes the full replacement content of the affected
  *    buckets (updated matched rows + carried-over unmatched rows, per
  *    its own `ReplaceData` projections) and hands it to
  *    [[GraftReplaceWrite]] — a REAL distributed write: each task routes
  *    rows to their bucket by the write path's pmod(xxhash64(keys), n)
  *    (Catalyst's own XxHash64, bit-identical to every other writer) and
  *    streams them through Spark's parquet writer into per-bucket files
  *    under a fresh commit dir;
  *  - commit is ONE manifest publish ([[graft.core.TxTable
  *    .replaceBuckets]]): affected pointers swap to the new commit,
  *    every other bucket's pointer carries forward untouched, CHECK
  *    constraints validate the post-image first, and a table that moved
  *    under the pinned version fails with a concurrent-modification
  *    error instead of publishing a lost update (the replacement was
  *    computed against the pinned snapshot — the Delta/Iceberg
  *    serializable-conflict contract).
  *
  * Boundaries, enforced at build time with clear errors: no change-feed
  * writes, no partition-transformed tables (the replacement writer emits
  * the bucket tier only), and MERGE refuses row-tracked tables (its
  * NOT-MATCHED inserts cannot draw engine ids on this path — UPDATE
  * passes `_rid` through untouched and stays allowed). */
final class GraftRowLevelOperation(dir: String, keyCols: Seq[String],
                                   pin: graft.core.TxTable.Pin,
                                   cmd: RowLevelOperation.Command)
  extends RowLevelOperation {

  /** The affected-group record. The SAME scan instance serves both the
    * group-filter SUBQUERY (no runtime bucket filter — plans every
    * candidate bucket) and the replacement READ-BACK (runtime bucket
    * filter applied), and their planning calls interleave under AQE —
    * so "last plan wins" is wrong. Two slots instead: a plan that
    * carried a bucket runtime filter IS the read-back's group set and
    * takes precedence; without one (group filtering disabled, or the
    * filter untranslatable and dropped) the unfiltered plan's full set
    * is the correct — conservative, full-rewrite — answer. */
  @volatile private var plannedAll: Set[Long] = Set.empty
  @volatile private var plannedFiltered: Option[Set[Long]] = None
  private[sources] def plannedBuckets: Set[Long] =
    plannedFiltered.getOrElse(plannedAll)
  private[sources] def scanned(buckets: Set[Long], bucketFiltered: Boolean): Unit =
    if (bucketFiltered) plannedFiltered = Some(buckets)
    else plannedAll = buckets

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(dir, keyCols, pin, rowLevelOp = this)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new GraftReplaceWrite(dir, keyCols, info.schema(), pin,
          GraftRowLevelOperation.this)
    }

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(GraftDataSource.BucketCol))
}

/** The replacement write: distributed per-bucket parquet files under one
  * fresh commit dir, then a single manifest swap of the affected buckets. */
final class GraftReplaceWrite(dir: String, keyCols: Seq[String],
                              writeSchema: StructType, pin: graft.core.TxTable.Pin,
                              op: GraftRowLevelOperation) extends Write {
  override def toBatch: BatchWrite =
    new GraftReplaceBatchWrite(dir, keyCols, writeSchema, pin, op)
}

/** One written file: its bucket, bucket-relative name, and row count
  * (feeds the `_rows.txt` sidecar the planning tiers consume). */
final case class GraftWrittenFile(bucket: Long, name: String, rows: Long)
final case class GraftReplaceCommitMessage(files: Seq[GraftWrittenFile])
  extends WriterCommitMessage

final class GraftReplaceBatchWrite(dir: String, keyCols: Seq[String],
                                   writeSchema: StructType,
                                   pin: graft.core.TxTable.Pin,
                                   op: GraftRowLevelOperation)
  extends BatchWrite {

  private val commitName = s"t-${UUID.randomUUID().toString.take(12)}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    GraftBucketWriterFactory(
      java.nio.file.Paths.get(dir, "data", commitName).toString,
      keyCols.toArray, writeSchema.toDDL, pin.buckets)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.flatMap {
      case GraftReplaceCommitMessage(fs) => fs
      case _ => Nil
    }.toSeq
    val t = graft.core.TxTable.open(SparkSession.active, dir, keyCols)
    // Replaced groups = the operation scan's planned buckets (their full
    // content was read back and rewritten). Buckets the write produced
    // BEYOND that set hold only NOT-MATCHED inserts — replaceBuckets
    // carries their existing content into the commit before the swap.
    t.replaceBuckets(op.plannedBuckets, commitName, pin.v,
      files.map(f => (f.bucket, f.name, f.rows)))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    graft.core.TxTable.drop(
      java.nio.file.Paths.get(dir, "data", commitName).toString)
}

final case class GraftBucketWriterFactory(commitDir: String,
                                          keyCols: Array[String],
                                          schemaDdl: String, n: Int)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftBucketDataWriter(commitDir, keyCols, schemaDdl, n, partitionId, taskId)
}

/** Executor-side bucket-routing parquet writer: one lazily opened
  * [[ParquetOutputWriter]] per bucket this task holds (bounded by the
  * bucket count), rows routed by the write path's hash evaluated through
  * Catalyst's own XxHash64 — bit-identical to `writeCommit`'s
  * `pmod(xxhash64(keys), n)` column, so a replacement file always lands
  * in the bucket its keys hash to. The incoming schema may carry the
  * `_graft_bucket` metadata column (Spark projects required metadata
  * attributes into the replacement rows); it is layout-derivable and is
  * projected OUT of the written files. */
final class GraftBucketDataWriter(commitDir: String, keyCols: Array[String],
                                  schemaDdl: String, n: Int,
                                  partitionId: Int, taskId: Long)
  extends DataWriter[InternalRow] {

  private val inSchema = StructType.fromDDL(schemaDdl)
  private val outFields = inSchema.fields.zipWithIndex
    .filter(_._1.name != GraftDataSource.BucketCol)
  private val outSchema = StructType(outFields.map(_._1))
  private val attrs = inSchema.fields.toIndexedSeq.map(f =>
    AttributeReference(f.name, f.dataType, f.nullable)())
  private val bucketProj = UnsafeProjection.create(
    Seq(Pmod(new XxHash64(keyCols.toIndexedSeq.map(k =>
      attrs(inSchema.fieldIndex(k)))), Literal(n.toLong, LongType))), attrs)
  private val outProj = UnsafeProjection.create(
    outFields.toIndexedSeq.map { case (_, i) => attrs(i) }, attrs)

  private val writers =
    scala.collection.mutable.Map.empty[Long, (ParquetOutputWriter, String)]
  private val rowCounts = scala.collection.mutable.Map.empty[Long, Long]

  private def writerFor(b: Long): ParquetOutputWriter =
    writers.getOrElseUpdate(b, {
      val conf = graft.core.FileMeta.hadoopConf()
      ParquetWriteSupport.setSchema(outSchema, conf)
      conf.set("parquet.write.support.class", classOf[ParquetWriteSupport].getName)
      conf.set("parquet.compression", "snappy")
      conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
      conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
      conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key, "CORRECTED")
      conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key, "CORRECTED")
      conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "false")
      conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key, "true")
      val ctx = new TaskAttemptContextImpl(conf,
        new TaskAttemptID(new TaskID(new JobID("graft-replace", 0),
          TaskType.MAP, partitionId), taskId.toInt))
      val name = f"part-$partitionId%05d-$taskId-$b.snappy.parquet"
      val bucketDir = java.nio.file.Paths.get(commitDir, s"_b=$b")
      java.nio.file.Files.createDirectories(bucketDir)
      (new ParquetOutputWriter(bucketDir.resolve(name).toString, ctx), name)
    })._1

  override def write(row: InternalRow): Unit = {
    val b = bucketProj(row).getLong(0)
    writerFor(b).write(outProj(row))
    rowCounts(b) = rowCounts.getOrElse(b, 0L) + 1L
  }

  override def commit(): WriterCommitMessage = {
    writers.values.foreach(_._1.close())
    GraftReplaceCommitMessage(writers.toSeq.map { case (b, (_, name)) =>
      GraftWrittenFile(b, name, rowCounts.getOrElse(b, 0L))
    })
  }

  override def abort(): Unit =
    scala.util.Try(writers.values.foreach(_._1.close()))

  override def close(): Unit = ()
}
