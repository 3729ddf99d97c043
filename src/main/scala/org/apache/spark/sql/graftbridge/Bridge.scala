package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` developer API: Column ⇄ Expression
  * conversion and runtime function registration. Everything here is the
  * documented extension surface (SparkSessionExtensions uses the same
  * types); the bridge only exists because those helpers are Scala
  * package-private to org.apache.spark.sql. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def registerFunction(spark: SparkSession, id: FunctionIdentifier,
                       info: ExpressionInfo, builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(id, info, builder)

  /** DataFrame over a custom LogicalPlan (the `Dataset.ofRows` developer
    * entry point custom-operator libraries build on). */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed logical plan of a DataFrame (resolved attributes for
    * building custom plan nodes on top). */
  def analyzed(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Distributed bloom-filter BUILD over a column: Spark's own
    * `BloomFilterAggregate` (the exact sketch its runtime-filter
    * injection uses, catalyst-private hence this bridge) over
    * `XxHash64(col)` (seed 42 — Spark's default, and the same hash the
    * probe side below applies), serialized
    * `org.apache.spark.util.sketch.BloomFilter` bytes out. `numBits`
    * fixes the filter size; the items estimate is sized at ~8 bits/item
    * so the sketch picks a near-optimal probe count for its budget. */
  def bloomAggregate(c: Column, numBits: Long): Column = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val agg = new BloomFilterAggregate(new XxHash64(Seq(expression(c)), 42L),
      Literal(math.max(1L, numBits / 8L)), Literal(numBits))
    column(agg.toAggregateExpression())
  }

  /** The PROBE-side hash matching [[bloomAggregate]]'s build: XxHash64
    * (seed 42) of an external value as Catalyst internal type `dt` —
    * evaluated driver-side (no job), so a literal predicate value hashes
    * bit-identically to the column values the build pass hashed. The
    * caller must pass the SAME `dt` the build read (a widened column
    * hashes differently — refuse the index on type mismatch). */
  def xxhash64Of(value: Any, dt: org.apache.spark.sql.types.DataType): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    new XxHash64(Seq(Literal.create(value, dt)), 42L)
      .eval(org.apache.spark.sql.catalyst.InternalRow.empty).asInstanceOf[Long]
  }

  /** Spark `sources.Filter`s → one conjunctive parquet `FilterPredicate`
    * against a file's physical `MessageType`, via Spark's own
    * `ParquetFilters` translator (the exact class the built-in parquet
    * scan uses — `private[sql]`, hence this bridge). Filters whose
    * columns the given schema lacks convert to `None` and drop out of the
    * conjunction (including partial `And` pushdown), which is the
    * per-file conservative fallback: no skipping, the engine's residual
    * filter still applies. Caller must pass filters already referencing
    * the file's PHYSICAL column names (`caseSensitive = true` here). */
  def parquetFilterPredicate(
      schema: org.apache.parquet.schema.MessageType,
      filters: Seq[org.apache.spark.sql.sources.Filter])
      : Option[org.apache.parquet.filter2.predicate.FilterPredicate] = {
    val pf = new org.apache.spark.sql.execution.datasources.parquet.ParquetFilters(
      schema,
      /* pushDownDate = */ true,
      /* pushDownTimestamp = */ true,
      /* pushDownDecimal = */ true,
      /* pushDownStringPredicate = */ true,
      /* pushDownInFilterThreshold = */ 10,
      /* caseSensitive = */ true,
      org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec(
        org.apache.spark.sql.internal.LegacyBehaviorPolicy.CORRECTED, None))
    filters.flatMap(f => pf.createFilter(f))
      .reduceOption(org.apache.parquet.filter2.predicate.FilterApi.and)
  }

  /** A parquet footer's Spark schema, converted the way Spark's own
    * schema inference converts it (`readSchemaFromFooter`: the writer's
    * stored Spark row schema when present, else the parquet schema) by a
    * converter built from the session's conf NOW — binary-as-string,
    * INT96, TIMESTAMP_NTZ inference and `nanosAsLong` are read per call
    * — and made nullable throughout, as a file relation serves its data
    * schema (the session conf and `asNullable` are Spark-private, hence
    * this bridge). */
  def parquetSchema(spark: SparkSession, file: String,
                    footer: org.apache.parquet.hadoop.metadata.ParquetMetadata)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(new org.apache.hadoop.fs.Path(file), footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)).asNullable
  }
}
