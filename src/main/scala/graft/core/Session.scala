package graft.core

import org.apache.spark.sql.SparkSession

/** The engine's Spark session: one definition for the bench, the
  * correctness gate, the tools and the specs, and one way for an entry
  * to change a session setting for the length of a call.
  *
  * An entry never leaves the session changed. A setting an entry needs
  * only while it runs goes through [[withConf]]; a setting its RESULT
  * needs after it returns (read when a lazy plan is planned or executed)
  * cannot be scoped, so it is set here, once, for every session.
  */
object Session {

  /** Generated-class cache entries (a static setting, Spark's default is
    * 100). A service surface of 322 distinct plans evicts the default
    * completely between two runs of the same query, so every execution
    * would re-pay Janino compilation of every codegen unit on the driver.
    * Plan-count-driven, not data- or core-count-driven. */
  private val CodegenCacheEntries = 5000L

  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // Read after the entry returns, when its plan is planned or run:
      // `events.ts` shipped as TIMESTAMP(NANOS) in older fixtures, which
      // Spark reads only as raw-nanos longs (Tables.events);
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // rq100's BEGIN … END script (SqlSurface.sqlScript);
      .config("spark.sql.scripting.enabled", "true")
      // the auto-disable heuristic turns bucketed scans off for
      // filter-only plans, which forfeits `edges_und` bucket pruning
      // (Graph.personEdgesU).
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drop what an entry cached (ML feature frames, GraphX vertex and edge
    * RDDs, local checkpoints), so its memory pressure does not bleed into
    * the next one. */
  def clearCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Run `body` with `settings` set on the session. Afterwards each key
    * gets back the value it had, or is unset if it had none; a key's
    * built-in default does not count as a value, so it is never written
    * back as an explicit setting. Spark copies session settings into every
    * write's Hadoop configuration, so writer keys such as
    * `parquet.block.size` belong here too. */
  def withConf[T](spark: SparkSession, settings: (String, Any)*)(body: => T): T = {
    val explicit = spark.conf.getAll
    try {
      settings.foreach { case (k, v) => spark.conf.set(k, v.toString) }
      body
    } finally settings.foreach { case (k, _) =>
      explicit.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }
}
