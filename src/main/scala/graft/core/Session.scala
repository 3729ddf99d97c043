package graft.core

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructType}

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
    releaseAllBut(spark.sparkContext, Set.empty)
  }

  /** Ids of the RDDs `sc` holds persisted. */
  private[graft] def persistedIds(sc: SparkContext): Set[Int] =
    sc.getPersistentRDDs.keySet.toSet

  /** Unpersists every RDD `sc` holds persisted whose id is not in `keep`. */
  private[graft] def releaseAllBut(sc: SparkContext, keep: Set[Int]): Unit =
    sc.getPersistentRDDs.values.filterNot(r => keep(r.id)).foreach(_.unpersist(blocking = false))

  /** Runs `body` and returns its bounded result (a census, a cluster
    * table) collected into a local relation, so the result outlives what
    * computed it and pins nothing; with `orderBy` columns, the relation
    * holds the rows in ascending order of them (nulls first, as Spark's
    * `orderBy`), sorted on the driver: neither the sampling job and range
    * shuffle of a global sort in the body nor a sort over the returned
    * relation on every collect is paid. Afterwards, whether or not `body`
    * threw, every RDD persisted since the call began is released:
    * graphs, GraphX's shipped-vertex views, per-round sets, inner pins.
    * What was persisted before stays. The call runs alone in its
    * session, as the registry runs one entry at a time: RDDs another
    * thread persists meanwhile would be released too. */
  def released(spark: SparkSession, orderBy: String*)(body: => DataFrame): DataFrame = {
    val sc = spark.sparkContext
    val before = persistedIds(sc)
    try {
      val df = body
      val rows = new java.util.ArrayList(df.collectAsList())
      if (orderBy.nonEmpty) rows.sort(ascending(df.schema, orderBy))
      spark.createDataFrame(rows, df.schema)
    } finally releaseAllBut(sc, before)
  }

  /** Row order by the integral columns `cols`, ascending, nulls first. */
  private def ascending(schema: StructType, cols: Seq[String]): java.util.Comparator[Row] = {
    val idx = cols.map(schema.fieldIndex)
    require(idx.forall(i => Seq(ByteType, ShortType, IntegerType, LongType).contains(schema(i).dataType)),
      s"order columns must be integral: ${cols.mkString(", ")}")
    (a, b) => idx.iterator.map { i =>
      if (a.isNullAt(i) || b.isNullAt(i)) java.lang.Boolean.compare(!a.isNullAt(i), !b.isNullAt(i))
      else java.lang.Long.compare(a.getAs[Number](i).longValue, b.getAs[Number](i).longValue)
    }.find(_ != 0).getOrElse(0)
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
