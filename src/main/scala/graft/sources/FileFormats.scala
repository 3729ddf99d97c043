package graft.sources

import graft.core.Tables
import graft.etl.Artifacts
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Interchange-format sources/sinks beyond parquet (SURVEY §2.1 extension:
  * the reference ingests JSON over HTTP and serves JSON payloads; a
  * warehouse engine additionally needs CSV and JSON-lines round-trips and
  * a partition-pruned columnar layout). Each op WRITES through the sink,
  * reads back through the source, and aggregates — so the driver's oracle
  * (which sees only the original parquet) certifies the whole round-trip:
  * any encode/decode drift changes the output and fails the hash.
  *
  * Outputs land in the build-once artifact tree (graft.etl.Artifacts):
  * the write happens once per sf, later runs only exercise the read path —
  * matching how an ingest job materializes a layout once and every query
  * thereafter is read-only.
  */
object FileFormats {

  /** CSV sink → CSV source round-trip over the nation dimension, read back
    * with an EXPLICIT schema (header-driven inference is a correctness
    * hazard — a production reader pins types). Values pass through the
    * quoted-CSV escape path; the aggregate joins region to prove the
    * round-tripped keys still join. */
  def csvRoundTrip(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Artifacts.path(sfDir, "nation_csv")
    if (!Artifacts.exists(p))
      Tables.nation(spark, sfDir).coalesce(1)
        .write.mode("overwrite").option("header", "true").csv(p)
    val schema = StructType(Seq(
      StructField("n_nationkey", LongType), StructField("n_name", StringType),
      StructField("n_regionkey", LongType)))
    spark.read.schema(schema).option("header", "true").csv(p)
      .join(broadcast(Tables.region(spark, sfDir)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
      .orderBy("n_nationkey")
  }

  /** JSON-lines sink → source round-trip over an events slice. Doubles
    * survive exactly (Spark's JSON writer emits a shortest round-trip
    * rendering; the reader parses back to the identical bit pattern), and
    * the oracle's micros sum over the ORIGINAL parquet certifies it.
    * Timestamps are written as epoch micros (a LONG column) rather than a
    * formatted string — string-timestamp parsing is the classic JSON
    * interchange divergence, integer epochs are engine-neutral. */
  def jsonlRoundTrip(spark: SparkSession, sfDir: String, maxId: Long = 2000): DataFrame = {
    val p = Artifacts.path(sfDir, "events_jsonl")
    if (!Artifacts.exists(p))
      Tables.events(spark, sfDir).filter(col("event_id") < maxId)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
          unix_micros(col("ts")).as("ts_us"))
        .coalesce(1).write.mode("overwrite").json(p)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("ts_us", LongType)))
    spark.read.schema(schema).json(p)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum((col("value").cast("decimal(18,6)") * 1000000).cast("decimal(38,0)"))
          .cast("long").as("sum_value_micros"),
        min("ts_us").as("first_us"), max("ts_us").as("last_us"))
      .orderBy("event_type")
  }

  /** Partitioned parquet sink + partition-PRUNED scan: events written once
    * as `event_type=<v>/` directories; the filtered read touches only the
    * matching directory — the file listing itself is the filter, no data
    * file of another type is opened. At 100 TB this (plus date
    * partitioning) is the difference between scanning a corpus and
    * scanning a slice. The spec asserts the pruning is visible in the
    * physical plan; the oracle certifies the slice's content. */
  def partitionPrunedScan(spark: SparkSession, sfDir: String,
                          eventType: String = "click"): DataFrame =
    partitionedEvents(spark, sfDir)
      .filter(col("event_type") === eventType)
      .groupBy((col("user_id") % 10).as("user_bucket"))
      .agg(count(lit(1)).as("n"),
        sum((col("value").cast("decimal(18,6)") * 1000000).cast("decimal(38,0)"))
          .cast("long").as("sum_value_micros"))
      .orderBy("user_bucket")

  /** ORC sink → source round-trip (the second columnar format Spark
    * carries natively — the interchange answer when a downstream system
    * is Hive/ORC-native). Typed columns survive exactly: the aggregate's
    * cents arithmetic over the round-tripped doubles must hash-match the
    * oracle computed on the ORIGINAL parquet. */
  def orcRoundTrip(spark: SparkSession, sfDir: String, maxKey: Long = 5000): DataFrame = {
    val p = Artifacts.path(sfDir, "orders_orc")
    if (!Artifacts.exists(p))
      Tables.orders(spark, sfDir).filter(col("o_orderkey") < maxKey)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite").orc(p)
    spark.read.orc(p)
      .groupBy(col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n"),
        sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("decimal(38,0)"))
          .cast("long").as("total_x100"))
      .orderBy("status")
  }

  /** PERMISSIVE-mode JSON source with corrupt-record capture: malformed
    * lines land in `_corrupt_record` instead of failing the job — the
    * 100 TB ingest reality (a petabyte of scraped JSONL always contains
    * garbage; FAILFAST on file 1-of-100k wastes the cluster, silent DROP
    * hides data loss; capture quarantines). Spec-verified: counts split
    * exactly, the bad line's text survives for the quarantine sink. */
  def readJsonlPermissive(spark: SparkSession, path: String,
                          schema: StructType): DataFrame =
    spark.read
      .schema(schema.add("_corrupt_record", StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** Schema-evolution read: two order batches written at different times
    * with DIFFERENT schemas — the later one carries an `o_status` column
    * the earlier lacks — read back as ONE table via `mergeSchema`. This is
    * the 100 TB lakehouse reality: a corpus written over years drifts, and
    * rewriting history to the newest schema is a full-corpus pass nobody
    * runs. Footer-level schema merging makes the old files serve NULL for
    * the new column at scan time (no rewrite, no per-file branching in the
    * query), and the aggregate certifies exactly which rows carry the
    * column. Batches split on `o_orderkey % 2` so the oracle reconstructs
    * the merged view from the original parquet with a CASE. */
  def schemaEvolutionRead(spark: SparkSession, sfDir: String,
                          maxKey: Long = 4000): DataFrame = {
    val p = Artifacts.frozen(sfDir, "orders_evolved") { d =>
      val o = Tables.orders(spark, sfDir).filter(col("o_orderkey") < maxKey)
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.parquet(s"$d/batch=0")
      o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus").as("o_status"))
        .write.parquet(s"$d/batch=1")
    }
    spark.read.option("mergeSchema", "true").parquet(p)
      .groupBy(col("batch").cast("long").as("batch"),
        coalesce(col("o_status"), lit("absent")).as("status"))
      .agg(count(lit(1)).as("n"),
        sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("decimal(38,0)"))
          .cast("long").as("total_x100"))
      .orderBy("batch", "status")
  }

  /** Day this backfill recomputes (the fixtures' first day at every sf). */
  val BackfillDay = "2024-01-01"

  /** The day-partitioned daily-aggregate layout the backfill overwrites,
    * built once from the PARTIAL slice (event ids ending 0-7) — the
    * "yesterday's pipeline missed some rows" premise. Exposed for the
    * spec's file-listing assertions. */
  def backfillLayoutPath(sfDir: String): String =
    Artifacts.path(sfDir, "events_daily_backfill")

  private def dailyAgg(df: DataFrame): DataFrame = df
    .groupBy(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"),
      col("event_type"))
    .agg(count(lit(1)).as("n"),
      sum((col("value").cast("decimal(18,6)") * 1000000).cast("decimal(38,0)"))
        .cast("long").as("sum_micro"))

  /** Dynamic partition overwrite — the BACKFILL primitive (INSERT
    * OVERWRITE one day of a partitioned table after a correction): the
    * corrected recompute of `BackfillDay` (now including the rows the
    * base slice missed) is written with `partitionOverwriteMode=dynamic`,
    * which replaces ONLY the `day=` directories the write produced —
    * every other day's files are untouched (spec-asserted by listing).
    * The static alternative truncates the whole table; the
    * read-everything-rewrite-everything alternative is a full-corpus
    * pass. At 100 TB a backfill touches one day's directory, full stop.
    * The read-back aggregates the final table, so the oracle (partial
    * slice everywhere except the corrected day) certifies exactly which
    * partition changed. Overwrites per invocation by design (write-path
    * class, like s12) — the rewrite is idempotent. */
  def backfillOverwrite(spark: SparkSession, sfDir: String): DataFrame = {
    val p = backfillLayoutPath(sfDir)
    if (!Artifacts.exists(p))
      dailyAgg(Tables.events(spark, sfDir).filter(col("event_id") % 10 < 8))
        .write.partitionBy("day").mode("overwrite").parquet(p)
    graft.core.Session.withConf(spark, "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      dailyAgg(Tables.events(spark, sfDir)
          .filter(to_date(col("ts")) === lit(BackfillDay)))
        .write.partitionBy("day").mode("overwrite").parquet(p)
    }
    // Partition-column type inference turns 'yyyy-MM-dd' dirs into DATE;
    // cast back so the schema matches the oracle's VARCHAR day.
    graft.core.FileMeta.parquet(spark, p)
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n"), col("sum_micro"))
      .orderBy("day", "event_type")
  }

  /** The partitioned layout, built once per sf (exposed for the spec). */
  def partitionedEvents(spark: SparkSession, sfDir: String): DataFrame =
    Artifacts.ensureParquet(spark, sfDir, "events_by_type",
      partitionCols = Seq("event_type")) {
      Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
    }
}
