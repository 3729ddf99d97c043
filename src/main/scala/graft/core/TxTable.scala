package graft.core

import java.nio.file.{Files, Path, Paths}
import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Transactional MERGE-upsert table with read-your-writes visibility — the
  * storage half of the reference's write path (`app.py:100-132`,
  * `get_insert.py:87-111`: MERGE a node/edge, immediately readable by the
  * next query). The relational registry entries (s5/j11) express WHAT a
  * MERGE computes; this table makes the merge DURABLE and IMMEDIATELY
  * VISIBLE, which Neo4j gives the reference for free and plain parquet
  * does not.
  *
  * Shape (a deliberately small Delta/Iceberg-style log over parquet):
  *
  *   dir/_log/v00000000.txt     one manifest per committed version:
  *                              the version record in `#` headers,
  *                              then lines "bucketId<TAB>commitDirName"
  *   dir/data/<commit>/_b=K/    the data, hash-bucketed by key
  *
  * - **Copy-on-write at bucket granularity.** Rows are hash-bucketed on the
  *   key (`pmod(xxhash64(keys), numBuckets)`); a MERGE rewrites ONLY the
  *   buckets its update keys hash into and re-points those bucket ids in
  *   the next manifest — untouched buckets keep their existing files. At
  *   100 TB the merge cost is O(touched buckets), never O(table); the
  *   key→bucket map is exact (no min/max-range false positives).
  * - **Atomic commit, optimistic concurrency.** A commit materializes its
  *   manifest to a temp file and publishes it with an atomic
  *   create-exclusive hard link to `v{n+1}`. If another writer got there
  *   first the link fails, and the merge REBASES: re-reads the new latest
  *   snapshot and re-runs — the Delta/Iceberg optimistic-retry protocol.
  *   Readers always resolve the highest fully-published manifest, so a
  *   reader never observes a half-written commit.
  * - **Read-your-writes.** `snapshot()` resolves the latest manifest at
  *   call time; a merge returns only after its manifest is published, so
  *   the very next query in the same session sees the merged rows.
  *
  * Losers of a commit race leave an unreferenced data dir behind — they
  * are invisible to readers (no manifest points at them) and `vacuum()`
  * reclaims them by manifest reachability, retaining the version horizon
  * you ask it to keep time travel for.
  *
  * **Torn-state contract** (crash anywhere in the protocol leaves the
  * table readable and writable; PropertySpec's fault-injection cases pin
  * each clause):
  * - An ORPHAN commit dir (writer died after writing data, before
  *   publishing a manifest) is invisible to every reader — snapshots,
  *   time travel, and the change feed resolve buckets only through
  *   published manifests — and `vacuum()` reclaims it past `retainMs`.
  * - A STALE TEMP MANIFEST (`.tmp-*` — writer died between materializing
  *   the manifest and the atomic publish link) is never a version:
  *   resolution matches only `v*.txt`, the next writer takes the same
  *   version number unhindered, and `vacuum()` reclaims the temp file
  *   under the same age guard as data dirs.
  * - A MISSING `keys.txt` sidecar degrades loudly, never silently:
  *   catalog resolution refuses with the explicit-keys remedy; the DSv2
  *   `keys` option remains the working fallback.
  * - VACUUM vs TIME TRAVEL at the retention boundary: a retired version
  *   fails fast ("has been vacuumed") rather than scanning half a
  *   version, and the head snapshot stays fully readable through and
  *   after any vacuum.
  */
final class TxTable private (spark: SparkSession, dir: String,
                             keyCols: Seq[String], logOverride: Path = null) {
  import TxTable.{Attempt, BucketRef, Pin}

  private val logDir = if (logOverride != null) logOverride else Paths.get(dir, "_log")
  private val dataDir = Paths.get(dir, "data")
  /** True for a branch handle (`branch(name)`): same data dir, own log. */
  private val isBranch = logOverride != null

  private def bucketColFor(n: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(keyCols.map(col): _*), lit(n))

  /** Version `v`, parsed once from its manifest `v*.txt`: the bucket
    * entries and the whole version record (see [[TxTable.Pin]]). A
    * manifest is immutable once claimed, so a pin never goes stale; a
    * vacuumed version fails to read. */
  private[graft] def pin(v: Long): Pin = {
    require(v >= 0, s"no committed version at $dir")
    TxTable.readPin(logDir.resolve(f"v$v%08d.txt"), v, dataDir)
  }

  /** The bucket count IN EFFECT at version `v` — every manifest records
    * it (`#buckets=N`), so the layout can EVOLVE (an Iceberg
    * partition-spec-evolution analog: rebucket a table that outgrew its
    * write-time count via `compact(newBuckets)`). Writers hash keys with
    * the count of the version they rebase on — a writer racing a
    * rebucket loses the publish, re-pins the head, and re-hashes under
    * the NEW count, so no row can land in a stale layout. */
  def bucketCountAt(v: Long): Int = pin(v).buckets

  /** Current-layout bucket count. */
  def bucketCount: Int = bucketCountAt(version)

  /** List a directory's entry names, closing the stream (Files.list leaks
    * an FD per call otherwise — merge() in a streaming foreachBatch would
    * exhaust the process limit). */
  private def listNames(p: Path): Seq[String] = {
    val s = Files.list(p)
    try s.iterator().asScala.map(_.getFileName.toString).toList
    finally s.close()
  }

  /** The versions whose manifests are in `log`. */
  private def versionsIn(log: Path): Seq[Long] =
    listNames(log).collect { case s if s.startsWith("v") && s.endsWith(".txt") =>
      s.stripPrefix("v").stripSuffix(".txt").toLong }

  /** Highest published version, or -1 for an empty log. */
  def version: Long =
    if (!Files.isDirectory(logDir)) -1L
    else versionsIn(logDir).foldLeft(-1L)(math.max)

  private def bucketPath(commit: String, b: Long): String =
    TxTable.bucketPath(dataDir, commit, b)

  /** bucket → base data commit name as of `v` — the physical proof surface
    * for merge-on-read: a DV delete changes dv lists, never these. */
  def dataPointers(v: Long): Map[Long, String] =
    pin(v).entries.view.mapValues(_.data).toMap

  /** bucket → deletion-vector commit names as of `v`. */
  def dvPointers(v: Long): Map[Long, Seq[String]] =
    pin(v).entries.view.mapValues(_.dvs).toMap

  /** The rows of `buckets` as of pin `p` under its record (schema,
    * defaults, aliases, widen), with each bucket's deletion vectors
    * applied. Buckets WITHOUT DVs stream straight from their base files;
    * only DV'd buckets pay the anti-join — at 100 TB the merge-on-read
    * tax is proportional to deleted-against buckets, never the table. */
  private def readBuckets(p: Pin, buckets: Set[Long]): DataFrame = {
    val schema = p.schema
    val defaults = p.defaults
    val aliases = p.aliases
    val refs = p.entries.filter { case (b, _) => buckets.contains(b) }
    // Per-commit-dir WRITE-TIME schema — the Iceberg initial-default rule
    // (absent vs explicit-NULL) and the type-widening evolution both need
    // per-FILE schema knowledge, and since every file in one commit
    // shares its write-time schema, one probe per distinct commit dir
    // settles all its buckets. Commits are bounded by history length,
    // never data size.
    // Commit dirs are IMMUTABLE once published (copy-on-write: rewrites
    // mint new, randomly named dirs; vacuum deletes unreferenced ones) —
    // their write-time schema lives in the per-JVM metadata cache instead
    // of being re-probed by a driver footer read on EVERY snapshot/merge
    // of an evolved table (measured: ~50-100 ms per distinct commit dir
    // per read on the defaults/widen path).
    def commitSchema(path: String): org.apache.spark.sql.types.StructType =
      FileMeta.cached[org.apache.spark.sql.types.StructType](
        "s:" + Paths.get(path).getParent, s => 256L + 128L * s.length)(
        Some(FileMeta.parquetSchema(spark, path))).get
    // Which defaulted columns a commit dir's files physically LACK. A
    // column counts as present if ANY of its physical names (current or
    // pre-rename alias) is in the footer.
    def missingIn(path: String): Set[String] = {
      val phys = commitSchema(path).fieldNames.toSet
      defaults.keySet.filter(c =>
        !phys.contains(c) && !aliases.getOrElse(c, Nil).exists(phys.contains))
    }
    // Widened tables hold files of MIXED physical types (int32 files from
    // before a widen next to int64 files after) — Spark's mergeSchema
    // refuses to merge those, so reads group by the commit's full
    // physical-type signature and each group casts to the logical schema
    // before unionByName. Only consulted when the version's record
    // carries a widen: the common table keeps its single-read path.
    def typeSig(path: String): String =
      commitSchema(path).fields
        .map(f => s"${f.name}:${f.dataType.catalogString}").sorted.mkString(";")
    // PARTITIONED commits nest files in `_p=` dirs; reading their bucket
    // dirs as roots would drag Spark's partition DISCOVERY in (and its
    // "conflicting directory structures" refusal across mixed eras), so
    // the native path expands each bucket dir to its `_p=` LEAF dirs —
    // plain parquet dirs, no discovery, no synthetic `_p` column (the
    // value is derived from the source column, which the files store).
    def leafDirs(path: String): Seq[String] = {
      val subs = listNames(Paths.get(path)).filter(_.startsWith("_p="))
      if (subs.isEmpty) Seq(path)
      else subs.sorted.map(s => Paths.get(path).resolve(s).toString)
    }
    val expand: Seq[String] => Seq[String] =
      if (everPartitioned) _.flatMap(leafDirs) else identity
    // Widened tables hold mixed physical types — group by the commit's
    // schema signature so each mergeSchema read is type-homogeneous.
    val sigGrouped = p.widened.nonEmpty
    def read(paths0: Seq[String]): DataFrame = {
      val paths = expand(paths0)
      if (paths.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else if (defaults.isEmpty && aliases.isEmpty && !sigGrouped)
        // FAST PATH (the common table: no defaults, no renames, no type
        // widening): every file resolves by name against the version's
        // recorded logical schema — columns a pre-evolution file lacks
        // read as typed NULLs, extra (dropped) physical columns are
        // ignored, exactly what mergeSchema+conform produced. The
        // version's recorded schema is passed EXPLICITLY, so no footer is
        // read at all — not even the cached one `FileMeta.parquet` takes
        // its schema from for every other plain parquet read. The merging
        // reads below cannot take either: they need every file's schema.
        spark.read.schema(schema).parquet(paths: _*)
      else if (defaults.isEmpty && !sigGrouped)
        conform(spark.read.option("mergeSchema", "true").parquet(paths: _*),
          schema, Map.empty, aliases)
      else
        // Group by which defaults apply (files written BEFORE an add serve
        // the default; files written after serve their stored value, so an
        // explicit NULL stays NULL — physical presence wins) and, for
        // widened/partitioned tables, by physical signature.
        paths.groupBy(p => (missingIn(p), if (sigGrouped) typeSig(p) else ""))
          .map { case ((missing, _), ps) =>
            conform(spark.read.option("mergeSchema", "true").parquet(ps: _*),
              schema, defaults.view.filterKeys(missing.contains).toMap, aliases)
          }.reduce(_ unionByName _)
    }
    val (dirty, clean) = refs.partition(_._2.dvs.nonEmpty)
    val cleanDf = read(clean.toSeq.sortBy(_._1).map { case (b, r) => bucketPath(r.data, b) })
    if (dirty.isEmpty) cleanDf
    else {
      val dvPaths = dirty.toSeq.sortBy(_._1)
        .flatMap { case (b, r) => r.dvs.map(d => bucketPath(d, b)) }
      // DV files physically carry exactly the key columns (written by
      // deleteMergeOnRead from a keyCols projection) — the same explicit-
      // schema fast path applies unless a type widen makes physical key
      // types era-dependent.
      val dvSchema = org.apache.spark.sql.types.StructType(
        schema.fields.filter(f => keyCols.contains(f.name)))
      val dvKeys =
        (if (!sigGrouped) spark.read.schema(dvSchema).parquet(dvPaths: _*)
         else FileMeta.parquet(spark, dvPaths: _*))
          .select(keyCols.map(col): _*)
      val dirtyDf = read(dirty.toSeq.sortBy(_._1).map { case (b, r) => bucketPath(r.data, b) })
        .join(dvKeys, keyCols, "left_anti")
      cleanDf.unionByName(dirtyDf)
    }
  }

  /** The table as of the latest committed version. Bucket dirs are read as
    * leaf parquet directories, so the physical `_b` layout never leaks
    * into the schema. */
  def snapshot(): DataFrame = snapshotAt(version)

  /** The table schema AS OF version `v` — recorded in every manifest
    * (`#schema=`), so widening MERGE evolution and the DDL verbs publish
    * it in the same claim as the version (Delta keeps the same
    * per-version record in its log). */
  def schemaAt(v: Long): org.apache.spark.sql.types.StructType = pin(v).schema

  /** Project `df` onto `schema`: absent columns (rows written before a
    * widening evolution) surface as typed NULLs — or, when the column
    * was added with `addColumn(..., defaultSql)`, as that version's
    * DEFAULT expression — the no-rewrite schema-drift contract (s16's
    * mergeSchema read, applied to the bucket log). Physical presence
    * always wins: a default never overrides a written value. Renamed
    * columns resolve through their recorded physical ALIASES: a merged
    * scan spanning pre- and post-rename commits carries both names, each
    * file populating exactly one, so coalescing (current, aliases…)
    * serves every row's stored value under the logical name — and an
    * explicit NULL stays NULL, because the file that owns the row has
    * the column physically (under whichever name) as NULL while the
    * other variants are mergeSchema-absent for that row. */
  private def conform(df: DataFrame,
                      schema: org.apache.spark.sql.types.StructType,
                      defaults: Map[String, String] = Map.empty,
                      aliases: Map[String, Seq[String]] = Map.empty): DataFrame =
    df.select(schema.fields.toSeq.map { f =>
      val variants = (f.name +: aliases.getOrElse(f.name, Nil))
        .filter(df.columns.contains)
      if (variants.nonEmpty)
        coalesce(variants.map(col): _*).cast(f.dataType).as(f.name)
      else defaults.get(f.name)
        .map(d => expr(d).cast(f.dataType).as(f.name))
        .getOrElse(lit(null).cast(f.dataType).as(f.name))
    }: _*)

  /** Column DEFAULT expressions AS OF version `v` (`#defaults=`; empty
    * for tables that never ran `addColumn`). Only columns the version's
    * schema carries have one: DROP removes a column's default, and a
    * re-ADD records a fresh one. */
  def defaultsAt(v: Long): Map[String, String] = pin(v).defaults

  /** Column-name ALIASES as of version `v` (`#renames=`): logical name →
    * the physical names earlier commits may have stored it under, most
    * recent rename first (the Delta/Iceberg column-mapping record).
    * Read-side only — writers always store the current logical name. */
  def aliasesAt(v: Long): Map[String, Seq[String]] = pin(v).aliases

  /** Resolved physical layout of version `v` for external readers (the
    * DSv2 connector): see [[TxTable.Pin.layout]]. */
  private[graft] def layoutAt(v: Long): Map[Long, (String, Seq[String])] = pin(v).layout

  /** Time travel: the table exactly as of committed version `v`. Every
    * manifest is immutable and copy-on-write never rewrites a referenced
    * file in place, so any still-present version reconstructs exactly —
    * until `vacuum()` reclaims dirs the LATEST manifest no longer
    * references (the same retention trade Delta/Iceberg make). A version
    * whose manifest is empty (every row deleted) yields an empty table
    * with that version's recorded schema. */
  def snapshotAt(v: Long): DataFrame = {
    require(v >= 0 && v <= version, s"version $v not in [0, $version]")
    require(Files.exists(logDir.resolve(f"v$v%08d.txt")),
      s"version $v has been vacuumed")
    val p = pin(v)
    // mergeSchema inside readBuckets: buckets written before a widening
    // evolution lack the new columns; the merged footer schema carries
    // them as NULL and `conform` pins the column set to the version's
    // recorded schema. Deletion vectors are applied per DV'd bucket.
    readBuckets(p, p.entries.keySet)
  }

  /** The bucket ids of the HEAD manifest a `lookup(keys)` must read —
    * exact (hash, not min/max ranges), and the prune certificate the
    * point-lookup entry carries through its hash channel. */
  def lookupBuckets(keys: DataFrame): Set[Long] = lookupBuckets(keys, pin(version))

  /** Prune under an already-pinned snapshot: both the hash (layout count)
    * and the membership filter (manifest) come from ONE version, so a
    * concurrent commit — in particular a `compact(newBuckets)` rebucket —
    * landing mid-lookup cannot make the prune set and the read disagree. */
  private def lookupBuckets(keys: DataFrame, p: Pin): Set[Long] =
    distinctBuckets(keys, p.buckets).filter(p.entries.contains)

  /** Rows of `df` when its optimized plan collapses to a driver-local
    * relation (every `Seq(...).toDF` protocol batch, and anything
    * constant folding reduces to one — deterministic projections over
    * such a batch fold via ConvertToLocalRelation): `collect()` on a
    * LocalRelation plan returns inline WITHOUT launching a job, so
    * callers can do driver-side work that would otherwise cost a
    * scheduled action plus its planning gap. None for any distributed
    * (or streaming) plan — callers keep their cluster path. */
  private def localRows(df: DataFrame): Option[Array[org.apache.spark.sql.Row]] =
    try df.queryExecution.optimizedPlan match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if !lr.isStreaming => Some(df.collect())
      case _ => None
    } catch { case _: Throwable => None }

  /** Pin a verb's batch: dedupe on the key columns and make the result
    * cheap to read N times. A driver-local batch dedupes ON THE DRIVER
    * (first occurrence per key survives — dropDuplicates makes an
    * arbitrary, partitioning-dependent choice, so this is a refinement,
    * not a change, of the contract) and STAYS a LocalRelation: no
    * checkpoint job, a zero-job bucket probe, and the write plan reads
    * the rows inline. Any other source keeps dropDuplicates +
    * localCheckpoint — the pin that makes nondeterministic or expensive
    * inputs safe to re-read across the commit loop. */
  private def pinBatch(batch: DataFrame): DataFrame =
    localRows(batch) match {
      case Some(rows) =>
        val ki = keyCols.map(batch.schema.fieldIndex)
        val seen = scala.collection.mutable.HashSet.empty[Seq[Any]]
        val out = new java.util.ArrayList[org.apache.spark.sql.Row](rows.length)
        rows.foreach { r => if (seen.add(ki.map(r.get))) out.add(r) }
        batch.sparkSession.createDataFrame(out, batch.schema)
      case None => batch.dropDuplicates(keyCols).localCheckpoint()
    }

  /** Distinct bucket ids of `df`'s rows under layout `n`, as ONE
    * shuffle-free job: a per-partition Set fold (bounded by the bucket
    * count, never the data) merged on the driver. Replaces the
    * `distinct().collect()` the keyed verbs used to probe their touched
    * buckets — whose exchange plus AQE-stage jobs cost more wall time
    * than the scan itself on every merge/delete/update commit (measured:
    * 2–3 of a small merge's 6 jobs were this probe). Same result set by
    * construction; the partial sets are bucket-bounded, so driver memory
    * is O(partitions × buckets) worst case, data-size-free. A batch that
    * folds to a LocalRelation (xxhash64 over a pinned local batch is a
    * deterministic projection) skips even that one job and evaluates on
    * the driver. */
  private def distinctBuckets(df: DataFrame, n: Int): Set[Long] = {
    val sel = df.select(bucketColFor(n).as("_b"))
    localRows(sel) match {
      case Some(rows) => rows.iterator.map(_.getLong(0)).toSet
      case None => sel.queryExecution.toRdd
        .mapPartitions { it =>
          val s = scala.collection.mutable.HashSet.empty[Long]
          while (it.hasNext) s.add(it.next().getLong(0))
          Iterator.single(s)
        }
        .fold(scala.collection.mutable.HashSet.empty[Long])(_ ++= _)
        .toSet
    }
  }

  /** Primary-key point read — the O(k) serving path a keyed table owes
    * its users: each key tuple's hash names its bucket exactly, so a
    * k-key probe opens AT MOST k bucket dirs of the head manifest (DVs
    * applied), never scanning the table. At 100 TB this is the difference
    * between a point query and a job: the bucket map is exact (no
    * min/max-range false positives), and absent keys cost nothing beyond
    * their hashed bucket. The same pruning serves every layout the table
    * has evolved through, because the count is read from the manifest. */
  def lookup(keys: DataFrame): DataFrame = {
    val p = pin(version)
    val probe = keys.select(keyCols.map(col): _*).dropDuplicates(keyCols)
    readBuckets(p, lookupBuckets(probe, p)).join(probe, keyCols, "left_semi")
  }

  /** CHECK constraints (Delta's `ALTER TABLE ADD CONSTRAINT` shape):
    * named SQL predicates stored in the log (`checks.txt`, one
    * name<TAB>predicate line per constraint) and enforced ATOMICALLY at
    * write time — a violating MERGE throws before anything publishes, so
    * readers never observe a state that fails a constraint. Adding a
    * constraint validates the EXISTING table first (the induction base);
    * merges then validate only their update rows (keep-rows passed when
    * they were written), so enforcement costs O(batch), never O(table).
    * Deletes remove rows and need no validation. */
  def addCheck(name: String, predicate: String): Unit = {
    require(!name.contains('\t') && name.nonEmpty, s"bad check name '$name'")
    val existing = snapshot()
    val bad = existing.filter(s"NOT ($predicate)").count()
    require(bad == 0L,
      s"cannot add check '$name': $bad existing rows violate ($predicate)")
    Files.createDirectories(logDir)
    val line = s"$name\t$predicate\n"
    Files.writeString(logDir.resolve("checks.txt"), line,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }

  def checks: Seq[(String, String)] = {
    val p = logDir.resolve("checks.txt")
    if (!Files.exists(p)) Nil
    else Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toList
      .filter(_.nonEmpty).map { l =>
        val Array(n, pred) = l.split('\t'); (n, pred)
      }
  }

  /** Throws if any row of `rows` violates a registered check. A batch
    * whose violation filter folds to a LocalRelation evaluates on the
    * driver — zero jobs; same three-valued-logic semantics (the
    * optimizer's fold uses the same expression evaluator). */
  private def validate(rows: DataFrame): Unit =
    checks.foreach { case (name, pred) =>
      val badDf = rows.filter(s"NOT ($pred)")
      val bad = localRows(badDf).map(_.length.toLong).getOrElse(badDf.count())
      if (bad > 0)
        throw new IllegalArgumentException(
          s"check constraint '$name' violated by $bad rows: ($pred)")
    }

  /** Timestamp time travel (the `AS OF TIMESTAMP` half of `snapshotAt`):
    * the highest version whose manifest was PUBLISHED at or before `ms`.
    * Publication time is the manifest file's mtime — the create-exclusive
    * link pins it at commit, so no clock needs storing in the log and old
    * tables resolve unchanged. Vacuumed-away manifests simply drop out of
    * the candidate set, mirroring Delta's retention semantics. */
  def versionAsOf(ms: Long): Long = {
    val eligible = listNames(logDir)
      .collect { case s if s.startsWith("v") && s.endsWith(".txt") =>
        s.stripPrefix("v").stripSuffix(".txt").toLong -> s }
      .filter { case (_, name) =>
        Files.getLastModifiedTime(logDir.resolve(name)).toMillis <= ms }
    require(eligible.nonEmpty, s"no version published at or before $ms")
    eligible.map(_._1).max
  }

  def snapshotAsOfTimestamp(ms: Long): DataFrame = snapshotAt(versionAsOf(ms))

  /** Buckets actually written by a commit (partitionBy leaves one `_b=K`
    * directory per non-empty bucket). */
  private def bucketsIn(commit: String): Seq[Long] =
    listNames(dataDir.resolve(commit))
      .collect { case s if s.startsWith("_b=") => s.stripPrefix("_b=").toLong }

  /** Columns carrying a parquet BLOOM FILTER in every data file this
    * table writes (the `_log/bloom.txt` sidecar, set at create or via
    * [[setBloomColumns]]). Blooms are the point-lookup complement of
    * sorted clustering: min/max footer stats only skip row groups when
    * the column is clustered, but a bloom answers "value definitely
    * absent" on ANY layout — so an EqualTo/In pushed through the s46
    * skipping path refutes row groups of an unsorted high-cardinality
    * column without decoding them. Purely a write-layout property:
    * readers need no code (the parquet reader consults blooms whenever
    * the FilterPredicate is set — parquet.filter.bloom.enabled defaults
    * true), absence of a bloom just means no skipping. Applies to
    * FUTURE writes; run `compact()` after setting to rewrite existing
    * files under it. Recorded by CURRENT column name (a later RENAME
    * orphans the entry — harmless: blooms are advisory only). */
  def bloomColumns: Seq[String] = {
    val p = logDir.resolve("bloom.txt")
    if (Files.exists(p))
      // First line only — the second (optional) line is the bucket-index
      // `bits=N` sizing record (see bloomIndexBits).
      Files.readString(p).linesIterator.toSeq.headOption.getOrElse("")
        .split(',').toSeq.map(_.trim).filter(_.nonEmpty)
    else Nil
  }

  def setBloomColumns(cols: Seq[String], indexBits: Long = TxTable.DefaultBloomIndexBits): Unit = {
    require(cols.forall(c => !c.contains(",") && !c.contains("\n")),
      s"bloom column names must be comma/newline-free: $cols")
    Files.createDirectories(logDir)
    Files.writeString(logDir.resolve("bloom.txt"),
      s"${cols.mkString(",")}\nbits=$indexBits")
  }

  /** Size (in bits) of each BUCKET-tier bloom sidecar (the second
    * `bloom.txt` line; tables from before the bucket index default).
    * Sizing rule of thumb: ~10 bits per DISTINCT value per bucket for
    * ~1% false positives — the default 2^20 bits (128 KiB serialized)
    * covers ~100k distinct values per bucket; a 100 TB table sets this
    * to its per-bucket cardinality at `setBloomColumns`. */
  def bloomIndexBits: Long =  {
    val p = logDir.resolve("bloom.txt")
    if (!Files.exists(p)) TxTable.DefaultBloomIndexBits
    else Files.readString(p).linesIterator.toSeq.lift(1)
      .filter(_.startsWith("bits=")).map(_.stripPrefix("bits=").toLong)
      .getOrElse(TxTable.DefaultBloomIndexBits)
  }

  /** Writer options enabling the configured blooms (parquet-mr sizes
    * them adaptively when no NDV hint is given). */
  private def bloomOptions: Map[String, String] =
    bloomColumns.map(c => s"parquet.bloom.filter.enabled#$c" -> "true").toMap

  /** ZONE-MAP columns (`_log/zonemap.txt`) — the RANGE-predicate
    * counterpart of [[bloomColumns]]'s equality tier: every data commit
    * also records each written file's min/max (and all-null flag) for
    * the declared columns in a `_zonemap.txt` sidecar per bucket dir,
    * harvested from the parquet footers the row-count sidecar pass was
    * ALREADY opening — zero extra I/O, zero extra Spark work. The DSv2
    * scan consults it at PLANNING: a pushed range predicate
    * (`price > x`, `date BETWEEN …`) refutes whole FILES — and, when
    * every file of a bucket refutes, the bucket — before ANY footer is
    * opened. That is the missing top tier for range probes: row-group
    * min/max (s46/s49) only applies after a footer read per file, so a
    * 100 TB table at 4096 buckets × k files paid 4096·k footer opens
    * per range probe; with the sidecar the planning cost is O(buckets)
    * tiny line reads and the footer I/O is proportional to ADMITTED
    * files only. Under pure hash bucketing a bucket's min/max on an
    * uncorrelated column spans everything (each bucket is a uniform
    * sample — per-BUCKET zone maps are provably non-selective there),
    * which is exactly why the sidecar records per-FILE bounds: a
    * cluster-sorted or Z-ordered rewrite emits range-disjoint files
    * within each bucket (`maxRecordsPerFile` splitting a sorted task),
    * and bucket-correlated columns (tenant/time locality) refute whole
    * buckets too. Numeric/date/timestamp columns only — fixed-width
    * physical types whose footer stats are exact (binary stats may be
    * writer-truncated, so strings never zone-map); doubles normalize
    * -0.0 and refuse NaN bounds. Advisory like every skipping tier: a
    * missing line or sidecar, a type mismatch (widening), or a foreign
    * header means "read the file", never a wrong refusal — residual
    * filters own correctness above the scan. Recorded by CURRENT column
    * name (rename orphans the entry, harmless — see [[bloomColumns]]). */
  def zoneMapColumns: Seq[String] = {
    val p = logDir.resolve("zonemap.txt")
    if (Files.exists(p))
      Files.readString(p).trim.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
    else Nil
  }

  def setZoneMapColumns(cols: Seq[String]): Unit = {
    require(cols.forall(c => !c.contains(",") && !c.contains("\n") && !c.contains("\t")),
      s"zone-map column names must be comma/tab/newline-free: $cols")
    Files.createDirectories(logDir)
    Files.writeString(logDir.resolve("zonemap.txt"), cols.mkString(","))
  }

  /** Declared PARTITION TRANSFORM (`_log/partition.txt`) — the
    * partition-VALUE tier above hash bucketing: every real 100 TB fact
    * table is time-partitioned first, bucketed second, because a time
    * predicate must prune whole directory subtrees before any
    * per-bucket machinery runs. With a declared `days(col)` transform
    * (col DATE or TIMESTAMP; the day is the UTC epoch-day —
    * `unix_micros/86.4e9` — so the mapping is session-timezone-proof),
    * every data commit lays its rows out as `_b=K/_p=<epochday>/` and
    * records the transform it used in a `_pspec.txt` file inside the
    * commit dir. This is Iceberg HIDDEN partitioning: queries filter on
    * the SOURCE column, never on `_p` — the DSv2 scan derives each
    * file's covered value interval from its `_p=` path segment plus the
    * commit's recorded transform and refutes files (and whole buckets)
    * at planning, the same seam the zone-map tier uses. PARTITION
    * EVOLUTION is per-commit by construction: changing (or clearing)
    * the declared transform affects FUTURE commits only — each commit
    * carries its own `_pspec.txt`, so a table can hold flat,
    * days-partitioned and re-partitioned eras side by side, every era
    * readable and every era pruned by exactly the transform it was
    * written under (the s27 rebucket discipline applied to
    * partitioning). Copy-on-write composes: a MERGE rewrites its
    * touched buckets under the CURRENT transform, migrating them
    * incrementally; `compact()` migrates the whole table in one
    * rewrite. The manifest stays bucket-granular — `_p` dirs live
    * INSIDE bucket dirs — so commit/publish/conflict semantics are
    * untouched at any partition count. */
  def partitionSpec: Option[(String, String)] = {
    val p = logDir.resolve("partition.txt")
    if (!Files.exists(p)) None
    else Files.readString(p).trim match {
      case TxTable.SpecRe(tf, c) => Some((tf, c))
      case _ => None // cleared ("" after evolution to none) or unreadable
    }
  }

  /** Declare (or, with "", clear) the partition transform for FUTURE
    * commits. Supported: `days(col)`, `months(col)` (DATE source only).
    * The file persists even when cleared — its existence flips reads
    * into per-commit structure grouping, which older partitioned
    * commits still need. */
  def setPartitioning(spec: String): Unit = {
    require(spec.isEmpty || TxTable.SpecRe.matches(spec),
      s"unsupported partition spec '$spec' " +
        "(supported: days(col), months(col), '' to clear)")
    // DECLARE-TIME validation against the live schema: a typo'd column
    // or an unsupported source type would otherwise be accepted and then
    // silently no-op (partitionColumn skips what it can't derive), so
    // every commit would write FLAT while the operator believes the
    // table is day-partitioned. Tables with no schema yet (declared
    // before the create commit) validate at first write instead.
    if (spec.nonEmpty && version >= 0) {
      val TxTable.SpecRe(tf, c) = spec
      val sch = schemaAt(version)
      require(sch.fieldNames.contains(c),
        s"partition spec '$spec': column '$c' is not in the table schema " +
          sch.fieldNames.mkString("(", ", ", ")"))
      val ok = (tf, sch(c).dataType) match {
        case ("days", org.apache.spark.sql.types.DateType |
                      org.apache.spark.sql.types.TimestampType) => true
        case ("months", org.apache.spark.sql.types.DateType) => true
        case _ => false
      }
      require(ok, s"partition spec '$spec': transform '$tf' does not " +
        s"support source type ${sch(c).dataType.catalogString} " +
        "(days: DATE or TIMESTAMP; months: DATE)")
    }
    Files.createDirectories(logDir)
    Files.writeString(logDir.resolve("partition.txt"), spec)
  }

  private[graft] def everPartitioned: Boolean =
    Files.exists(logDir.resolve("partition.txt"))

  /** The `_p` derivation for the declared transform over `df`, or None
    * when no transform applies (undeclared, source column absent from
    * this commit's frame, or unsupported source type). The spec column
    * resolves THROUGH the alias chain: renameColumn re-points
    * `partition.txt` only after its publish, so a crash in between
    * leaves the spec naming the now-renamed column — resolving the
    * current name whose chain contains the spec name keeps every later
    * commit partitioned instead of silently flipping it to FLAT. */
  private def partitionColumn(df: DataFrame): Option[(org.apache.spark.sql.Column, String)] =
    partitionSpec.flatMap { case (tf, c0) =>
      val c =
        if (df.columns.contains(c0)) c0
        else aliasesAt(version).collectFirst {
          case (cur, olds) if olds.contains(c0) && df.columns.contains(cur) =>
            cur
        }.getOrElse(c0)
      if (!df.columns.contains(c)) None
      else (tf, df.schema(c).dataType) match {
        case ("days", org.apache.spark.sql.types.DateType) =>
          Some((datediff(col(c), to_date(lit("1970-01-01"))), s"$tf($c)"))
        case ("days", org.apache.spark.sql.types.TimestampType) =>
          // Exact integer FLOOR division in long arithmetic: `/` on
          // longs is double division (exact only below 2^53 µs) and
          // `div` alone truncates toward zero (wrong pre-1970); the
          // pmod subtraction makes the operand exactly divisible, so
          // div is floor for every representable timestamp. SpecRe
          // restricts the column name, so embedding is injection-safe.
          Some((expr(s"CAST((unix_micros(`$c`) - pmod(unix_micros(`$c`), " +
            s"86400000000)) DIV 86400000000 AS INT)"), s"$tf($c)"))
        case ("months", org.apache.spark.sql.types.DateType) =>
          // Months since epoch: a DATE's year/month are intrinsic (no
          // timezone), so the index is session-proof; negative for
          // pre-1970 dates by plain arithmetic.
          Some((expr(s"CAST((year(`$c`) - 1970) * 12 + month(`$c`) - 1 AS INT)"),
            s"$tf($c)"))
        case _ => None
      }
    }

  /** All parquet files under a bucket dir, any depth — partitioned
    * commits nest them under `_p=` dirs. */
  private def parquetFilesUnder(bdir: Path): Seq[Path] = {
    if (!Files.isDirectory(bdir)) return Nil
    val s = Files.walk(bdir)
    try s.iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet")).toList
    finally s.close()
  }

  /** CLUSTER-ON-WRITE columns (`_log/cluster.txt`) — the continuous
    * counterpart of `compact(sortBy)`: every data commit sorts its rows
    * WITHIN each written bucket by these columns before the parquet
    * write, so row-group footer min/max stay selective on the cluster
    * dimension at ALL times — no periodic OPTIMIZE needed for skipping
    * to work (the Delta liquid-clustering direction). Copy-on-write
    * makes this total: a MERGE rewrites every touched bucket in full,
    * so a touched bucket is always ENTIRELY sorted, not merely
    * append-sorted. Cost: one sortWithinPartitions on rows the commit
    * was writing anyway — no extra shuffle, no extra pass. Columns
    * absent from a commit's frame (DV key-only commits) skip silently;
    * Z-order stays a compact-time operation (its cells want stable
    * global min/max). Recorded by CURRENT column name — a later RENAME
    * orphans the entry (harmless: writes skip absent names; re-declare
    * under the new name to resume), the same semantics as
    * [[bloomColumns]]. */
  def clusterColumns: Seq[String] = {
    val p = logDir.resolve("cluster.txt")
    if (Files.exists(p))
      Files.readString(p).trim.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
    else Nil
  }

  def setClusterColumns(cols: Seq[String]): Unit = {
    require(cols.forall(c => !c.contains(",") && !c.contains("\n")),
      s"cluster column names must be comma/newline-free: $cols")
    Files.createDirectories(logDir)
    Files.writeString(logDir.resolve("cluster.txt"), cols.mkString(","))
  }

  /** BUCKET-TIER bloom index — the skipping tier ABOVE the parquet
    * footer: one bloom per (rewritten bucket × bloom column), stored as
    * `_bloomidx.<col>.bin` INSIDE the bucket's data dir (underscore
    * files are invisible to the parquet reader, travel with the
    * copy-on-write commit — untouched buckets keep their old index,
    * vacuum reclaims it with the dir, shallow clones resolve it through
    * the same absolute pointers). The DSv2 scan consults it at PLANNING:
    * a pushed EqualTo/In on an indexed non-key column refutes whole
    * buckets before ANY file I/O — at 100 TB with 4096 buckets a point
    * lookup on a non-key column plans ~1 bucket instead of opening 4096
    * footers (parquet row-group blooms, s50, only help after the footer
    * is read). Build cost: ONE extra aggregate pass over the just-written
    * commit (touched buckets only, never the table), collected at
    * O(buckets × numBits/8) bytes — data-size-independent. The file
    * header records the column's WRITE-TIME type: a later widening
    * changes xxhash64 values, so readers refuse a mismatched index
    * rather than mis-refute (sound by construction — bloom membership
    * has no false negatives under an identical hash). Runs before
    * publish: a crash leaves an unreferenced commit dir, never a
    * manifest pointing at a half-indexed bucket (and a missing sidecar
    * just means no pruning — the index is advisory). */
  /** Per-bucket ROW-COUNT sidecar (`_rows.txt` inside each bucket dir,
    * invisible to the parquet reader like `_bloomidx`): the sum of the
    * just-written files' footer record counts, recorded ONCE at write
    * time (O(touched buckets) driver-side footer reads of files this
    * commit just created — never the table). Readers that only need
    * cardinality (the s42 COUNT(*) pushdown, the optimizer's numRows
    * statistic) sum these tiny sidecars instead of re-opening every
    * footer on every query — at 100 TB with ~4096 buckets a clean
    * COUNT(*) is O(buckets) one-line reads, the Delta/Iceberg
    * log-statistics story. Advisory like the bloom index: a missing
    * sidecar (pre-sidecar commits) falls back to footer counts, and
    * DV'd buckets never trust it (an equality delete changes the live
    * count; the scan path refuses metadata counts there anyway). */
  private def writeBucketRowCounts(commit: String): Unit = {
    val cdir = dataDir.resolve(commit)
    val zcols = zoneMapColumns.filter(_.nonEmpty)
    // One footer open per freshly-written file — one per touched
    // (bucket × partition value) cell, since writeCommit's write is
    // bucket-aligned — fanned out like the connector's planning pass (a
    // day-partitioned commit touches many cells). The reads go through
    // the footer cache, so the first scan after this commit finds them.
    val files = bucketsIn(commit).flatMap { b =>
      val bdir = cdir.resolve(s"_b=$b")
      parquetFilesUnder(bdir).map(f => (b, bdir, f))
    }
    val stats = TxTable.parMap(files) { case (b, bdir, f) =>
      val footer = FileMeta.footer(f.toString)
      // Keyed by bucket-RELATIVE path: partitioned commits repeat the
      // same part-file base name in every _p dir.
      val rel = bdir.relativize(f).toString
      val lines = if (zcols.isEmpty) Nil
        else TxTable.zoneMapLines(rel, footer, zcols)
      (b, bdir, rel, FileMeta.rowCount(footer), lines)
    }
    stats.groupBy(_._1).foreach { case (_, perBucket) =>
      val bdir = perBucket.head._2
      // v2 sidecar: line 1 is the bucket TOTAL (what every v1 consumer
      // reads), the rest are `rel-path<TAB>rows` per file — the
      // partition-covered COUNT tier and the manifest-served listing
      // both need per-FILE granularity. A v1 reader parsing only the
      // first line keeps working; a v1 FILE (one line) reads as a v2
      // with no per-file records.
      Files.writeString(bdir.resolve("_rows.txt"),
        (perBucket.map(_._4).sum.toString +:
          perBucket.map(s => s"${s._3}\t${s._4}")).mkString("\n"))
      val zl = perBucket.flatMap(_._5)
      if (zl.nonEmpty)
        Files.writeString(bdir.resolve("_zonemap.txt"),
          (TxTable.ZoneMapHeader +: zl).mkString("\n"))
    }
  }

  /** All write-time sidecars for a freshly-written data commit: row
    * counts always, the bucket-tier bloom index when declared. Runs
    * BEFORE publish (commit dirs are invisible until a manifest points
    * at them), so readers never race a half-written sidecar. */
  private def writeBucketSidecars(commit: String): Unit = {
    writeBucketRowCounts(commit)
    writeBucketBloomIndex(commit)
  }

  private def writeBucketBloomIndex(commit: String): Unit = {
    val cols = bloomColumns
    if (cols.isEmpty || bucketsIn(commit).isEmpty) return
    val cdir = dataDir.resolve(commit)
    val df = FileMeta.parquet(spark, cdir.toString)
    // Sidecar file names embed the column name — index only names that
    // are filename-safe (a column named "a/b" must not escape the bucket
    // dir; skipping it just means no bucket-tier pruning for it).
    val present = cols.filter(df.columns.contains)
      .filter(_.matches("[A-Za-z0-9_.:+-]+"))
    if (present.isEmpty) return
    // AUTO-SIZING against silent saturation: a bloom sized below its
    // bucket's cardinality admits everything and the tier quietly stops
    // refuting (tools.SkipScale measured exactly that at a 10× scale
    // step under the fixed default). The row-count sidecars for this
    // commit were JUST written, so size each build at
    // max(declared, ~10 bits per row of the largest written bucket) —
    // rows bound distinct values from above, the declared value stays a
    // manual floor, and the cap keeps a pathological bucket from
    // minting a multi-GB sidecar (2^27 bits = 16 MiB ≈ 13M values at
    // 1% fpp — rebucket before that; buckets differ in size, so the
    // single aggregate pass uses one size and the largest governs).
    val maxRows = bucketsIn(commit).map { b =>
      TxTable.rowsSidecarTotal(cdir.resolve(s"_b=$b").toString).getOrElse(0L)
    }.foldLeft(0L)(math.max)
    val auto =
      if (maxRows <= 0) bloomIndexBits
      else java.lang.Long.highestOneBit(math.max(1L, maxRows * 10L - 1)) << 1
    val bits = math.min(TxTable.MaxBloomIndexBits, math.max(bloomIndexBits, auto))
    import org.apache.spark.sql.graftbridge.Bridge
    val aggs = present.map(c => Bridge.bloomAggregate(col(c), bits).as(c))
    val rows = df.groupBy(col("_b")).agg(aggs.head, aggs.tail: _*).collect()
    rows.foreach { r =>
      val b = r.get(0).asInstanceOf[Number].longValue
      present.foreach { c =>
        val bytes = r.getAs[Array[Byte]](c)
        if (bytes != null) {
          val header = s"graftbloom\t$c\t${df.schema(c).dataType.catalogString}\n"
            .getBytes(StandardCharsets.UTF_8)
          Files.write(cdir.resolve(s"_b=$b").resolve(s"_bloomidx.$c.bin"),
            header ++ bytes)
        }
      }
    }
  }

  /** THE data-write path: every verb that writes rows (create, merge,
    * mergeClauses, update, deleteWhere, delete, applyChanges,
    * overwriteAll, every compaction) lays `df` out under a fresh commit
    * dir, writes the bucket sidecars and returns the commit name — the
    * caller publishes it. `sortKeys` are a compaction's clustering keys
    * (sort, Z-order or Hilbert); every other commit sorts by the
    * declared cluster-on-write columns. */
  private def writeCommit(df: DataFrame, buckets: Int,
                          sortKeys: Seq[org.apache.spark.sql.Column] = Nil): String = {
    // `_b` and `_p` are RESERVED physical-layout names (bucket and
    // hidden-partition dir columns). A logical column with either name
    // would be silently overwritten by withColumn below and then
    // STRIPPED from the data files by partitionBy — losing its values on
    // read. Rejecting here covers every data-commit verb (create, merge,
    // mergeClauses, update, applyChanges) including widening evolution,
    // where a batch can introduce new columns.
    TxTable.ReservedCols.foreach(r => require(!df.columns.contains(r),
      s"column name '$r' is reserved for the physical layout " +
        "(bucket/partition dir columns) — rename it before writing"))
    val commit = s"t-${UUID.randomUUID().toString.take(12)}"
    val laid0 = df.withColumn("_b", bucketColFor(buckets))
    // Partition-value tier: the declared transform adds a derived `_p`
    // dir level inside each bucket (hidden partitioning — `_p` is never
    // part of the logical schema; readers recover values from paths).
    // OPTIMIZE migrates the whole table to the CURRENT transform in one
    // rewrite; the other verbs migrate the buckets they touch.
    val pcol = partitionColumn(df)
    val laid = pcol.map { case (c, _) => laid0.withColumn("_p", c) }.getOrElse(laid0)
    val partCols = if (pcol.isDefined) Seq("_b", "_p") else Seq("_b")
    // BUCKET-ALIGNED WRITE (Delta's optimized write, on every commit):
    // one shuffle keyed by the layout dirs puts each (bucket × partition
    // value) cell in exactly one task, so a commit writes exactly one
    // file per touched cell. Without it every write task writes one file
    // into every cell it holds — O(tasks × cells) files per commit
    // (measured: a 500-row merge into 16 buckets wrote ~101 files, a
    // full-table day-partitioned merge at sf0.1 ~15k), and every later
    // sidecar footer read, scan-planning probe, lookup and `_b=` mkdir
    // pays per file. The parallel unit becomes the cell, which IS the
    // layout's read-side parallel unit.
    val aligned = laid.repartition(partCols.map(col): _*)
    // A hash partition can hold several cells, so the sort leads with
    // the dir columns (cell-local ordering — the dynamic partition writer
    // then streams one open file at a time); flat unclustered commits
    // skip it. Sort keys are MATERIALIZED as temp columns before the sort
    // and dropped before the write: SortExec's radix prefix covers only
    // the FIRST key (_b — constant within a cell), so every comparison
    // falls through to the full comparator, which re-evaluates ordering
    // EXPRESSIONS per comparison — for the ~30-op Morton code that made
    // the Z-order rewrite O(n log n · exprCost) (measured 10 s for a
    // 600k-row bucket vs 1.5 s sorting a plain column). A materialized
    // key is an attribute read in the comparator: evaluated once per ROW.
    val keys =
      if (sortKeys.nonEmpty) sortKeys
      else clusterColumns.filter(df.columns.contains).map(col)
    val shaped =
      if (keys.isEmpty && pcol.isEmpty) aligned
      else {
        val keyNames = keys.indices.map(i => s"__graft_cluster_$i")
        keyNames.zip(keys)
          .foldLeft(aligned) { case (d, (nm, e)) => d.withColumn(nm, e) }
          .sortWithinPartitions((partCols.map(col) ++ keyNames.map(col)): _*)
          .drop(keyNames: _*)
      }
    shaped.write.options(bloomOptions)
      .partitionBy(partCols: _*).parquet(dataDir.resolve(commit).toString)
    pcol.foreach { case (_, spec) =>
      Files.writeString(dataDir.resolve(commit).resolve("_pspec.txt"), spec) }
    writeBucketSidecars(commit)
    commit
  }

  /** THE optimistic commit loop — every writer verb but the single-claim
    * ones (`create`, `branch`, `shallowClone`, `replaceBuckets`) runs
    * here. Each round pins the head, runs the verb's `attempt` on it
    * (None = nothing to publish: the head version is the answer) and
    * publishes the attempt's entries and version record in ONE
    * create-exclusive claim of the next version. A lost claim counts in
    * [[publishRetries]], then tries the disjoint re-point against the new
    * head (see [[repoint]]); a real conflict drops the attempt's data dir
    * and re-pins — the Delta/Iceberg optimistic-retry protocol. The row-
    * tracking high-water mark only ever rises: a version that allocated
    * nothing (restore, fastForward, DDL) inherits the head's. `op` names
    * the version unless the attempt set its own. */
  @annotation.tailrec
  private def commitLoop(op: String)(attempt: Pin => Option[Attempt]): Long = {
    val base = pin(version)
    attempt(base) match {
      case None => base.v
      case Some(a0) =>
        val a = a0.copy(next = a0.next.copy(v = base.v + 1,
          op = if (a0.next.op.nonEmpty) a0.next.op else op,
          ridHwm = math.max(a0.next.ridHwm, base.ridHwm)))
        prePublishHook()
        @annotation.tailrec
        def claim(p: Pin): Option[Long] =
          if (publish(p)) Some(p.v)
          else {
            publishRetries.incrementAndGet()
            repoint(base, a, pin(version)) match {
              case Some(q) => claim(q)
              case None => None
            }
          }
        claim(a.next) match {
          case Some(v) => v
          case None =>
            a.dir.foreach(d => TxTable.drop(dataDir.resolve(d).toString))
            commitLoop(op)(attempt)
        }
    }
  }

  /** LOGICAL CONFLICT RESOLUTION for a lost claim (the Delta/Iceberg
    * commit-retry optimization): the loser's already-written commit dir
    * stays EXACTLY RIGHT as long as every commit that beat it (a) kept
    * the same bucket count, (b) kept the same version record (schema,
    * defaults, renames, widen), and (c) touched only buckets DISJOINT
    * from the loser's — its keep-rows came from buckets no winner
    * changed, so the expensive data pass need not rerun. The re-point
    * is the head's entries with the loser's `touched` buckets swapped
    * in, under the loser's record: a metadata-only retry instead of a
    * full re-merge. None on a REAL conflict, or for a verb whose attempt
    * offers no `touched` set. At 100 TB this is the difference between
    * N writers to disjoint key ranges scaling near-linearly and every
    * loser re-reading gigabytes: the serial section shrinks to manifest
    * I/O. ConcurrencySpec pins that resolved histories stay
    * linearizable and lose no updates. The BASE pin is the loop's
    * already-loaded one — never re-read from the log, where a concurrent
    * zero-retention vacuum could have reclaimed the base version.
    *
    * READ-SET discipline: the disjoint-buckets test covers only writers
    * whose read-set EQUALS their touched buckets — the keyed paths
    * (merge / mergeClauses / delete), where every row the commit depends
    * on hashes into a touched bucket. A predicate UPDATE's read-set is
    * the whole table (it scanned every bucket for `where` matches), so a
    * winner that committed predicate-matching rows into an UNTOUCHED
    * bucket is a real conflict even though the bucket sets are disjoint:
    * re-pointing would publish a version that silently misses those rows
    * (write-skew — the same reason Delta's conflict checker flags
    * concurrently-added files matching the read predicate). `readWhere`
    * carries that predicate; it is re-evaluated over the winners'
    * changed buckets AT THE HEAD VERSION, and any match is a conflict,
    * so the loop recomputes the update from fresh state. Rows the
    * winners REMOVED from changed buckets need no check: serialized
    * after the winners, the update owes them nothing. */
  private def repoint(base: Pin, a: Attempt, head: Pin): Option[Pin] =
    a.touched.flatMap { touched =>
      val changed = (base.entries.keySet ++ head.entries.keySet)
        .filter(b => base.entries.get(b) != head.entries.get(b))
      // The loser's commit dir has been unreferenced since its claim
      // failed; a concurrent vacuum whose retainMs is shorter than this
      // retry may have reclaimed it. Re-verify right before the claim so
      // a re-pointed manifest can never reference a deleted dir — the
      // remaining check-to-link window is the same bounded
      // writeCommit→publish gap every writer has (and vacuum's retainMs
      // contract covers it). Vanished ⇒ rebase.
      val ok = head.buckets == base.buckets && head.record == base.record &&
        !changed.exists(touched.contains) &&
        !(a.readWhere.isDefined && changed.nonEmpty &&
          predicateMatchesIn(a.readWhere.get, head, changed)) &&
        a.dir.forall(d => Files.isDirectory(dataDir.resolve(d)))
      if (!ok) None
      else Some(a.next.copy(v = head.v + 1,
        entries = (head.entries -- touched) ++ a.next.entries.filter(e => touched(e._1)),
        ridHwm = math.max(a.next.ridHwm, head.ridHwm)))
    }

  /** True when any row of `buckets` under pin `p` satisfies `where` — the
    * update-retry read-set conflict probe. NULL predicate evaluations
    * don't fire (the update's own contract), and the LIMIT 1 under the
    * count keeps the probe O(first match). */
  private def predicateMatchesIn(where: String, p: Pin, buckets: Set[Long]): Boolean = {
    val present = buckets.filter(p.entries.contains)
    present.nonEmpty &&
      readBuckets(p, present).filter(coalesce(expr(where), lit(false))).limit(1).count() > 0
  }

  /** `p` with the buckets in `replaced` re-pointed at `commit`'s freshly
    * written buckets — the copy-on-write step every rewrite shares. A
    * replaced bucket the commit left empty drops out of the manifest. */
  private def rewritten(p: Pin, replaced: Set[Long], commit: String): Pin =
    p.next((p.entries -- replaced) ++ bucketsIn(commit).map(_ -> BucketRef(commit, Nil)))

  /** Row-tracking high-water mark AS OF version `v`: every `_rid` ever
    * assigned at or before `v` is strictly below it. Rides the manifest
    * (`#ridhwm=`) so it is atomic with the commit claim — a lost publish
    * race can never leave a stale mark, and the commit loop carries it
    * forward through verbs that allocate nothing (delete, compact, DDL). */
  def ridHwmAt(v: Long): Long = pin(v).ridHwm

  /** True when the table carries the hidden-by-convention `_rid` row-
    * tracking column as of `v` (opt-in at create; presence in the
    * logical schema IS the feature flag, like Delta's table property). */
  def rowTrackedAt(v: Long): Boolean =
    v >= 0 && schemaAt(v).fieldNames.contains(TxTable.RidCol)

  /** Claim version `p.v` with `p`'s entries and record — atomic
    * create-exclusive through [[TxTable.commitPrimitive]], so exactly
    * one writer can own a version number, and a reader that sees the
    * version sees all of it. */
  private def publish(p: Pin): Boolean = {
    Files.createDirectories(logDir)
    val tmp = logDir.resolve(s".tmp-${UUID.randomUUID()}")
    Files.write(tmp, TxTable.render(p).getBytes(StandardCharsets.UTF_8))
    val won = TxTable.commitPrimitive.putIfAbsent(
      logDir.resolve(f"v${p.v}%08d.txt"), tmp)
    // The winner also publishes the version's CONSOLIDATED stats
    // manifest (after the claim — the manifest is the atomicity point;
    // readers that arrive before the stats file fall back per bucket).
    if (won) writeStatsManifest(p.v, p.entries)
    won
  }

  /** Fold this version's planning metadata into ONE `stats-v*.bin` file
    * (see [[TxTable.BucketStats]]). INCREMENTAL like a Delta checkpoint:
    * buckets whose manifest entry is unchanged vs the previous version
    * reuse their prior serialized stats (sidecars are immutable per
    * commit dir), so the harvest I/O is O(changed buckets) per commit
    * and only the file write is O(buckets). Bloom payloads at or above
    * [[TxTable.BlobThreshold]] are CONTENT-ADDRESSED: the bytes live
    * once in `_log/blobs/<sha>.bin` and every manifest carries a (hash,
    * length) reference — an unchanged bucket's bloom costs ZERO new
    * bytes per commit (the ref re-serializes, the blob already exists)
    * where inlining re-wrote up to 2²⁷-bit filters × buckets × columns
    * every publish, and planning loads a blob only when that column is
    * actually probed. The manifest streams to its temp file (never a
    * driver byte-array of all-table metadata). Advisory end to end: any
    * failure leaves readers on the per-bucket fallback, never a broken
    * commit — which is why the Try swallows. */
  private def writeStatsManifest(v: Long, refs: Map[Long, BucketRef]): Unit =
    scala.util.Try {
      val next = refs.toSeq.sortBy(_._1)
      val prev: Map[Long, TxTable.BucketStats] =
        if (v == 0) Map.empty
        else TxTable.readStatsManifestAt(logDir, v - 1).getOrElse(Map.empty)
      val entries = next.map { case (b, ref) =>
        b -> (prev.get(b) match {
          case Some(e) if e.commit == ref.data && e.dvs == ref.dvs => e
          case Some(e) if e.commit == ref.data => e.copy(dvs = ref.dvs)
          case _ => harvestStats(b, ref)
        })
      }
      val tmp = logDir.resolve(s".stats-tmp-${UUID.randomUUID()}")
      val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
        Files.newOutputStream(tmp)))
      try {
        out.writeUTF(TxTable.StatsMagic2)
        out.writeInt(entries.size)
        entries.foreach { case (b, e) =>
          out.writeLong(b); out.writeUTF(e.commit)
          out.writeUTF(e.dvs.mkString(","))
          out.writeLong(e.rowsTotal)
          out.writeInt(e.files.size)
          e.files.foreach { case (rel, n, sz) =>
            out.writeUTF(rel); out.writeLong(n); out.writeLong(sz) }
          out.writeUTF(e.pspec)
          out.writeInt(e.zonemap.length); out.write(e.zonemap)
          out.writeInt(e.blooms.size)
          e.blooms.foreach { case (c, blob) =>
            out.writeUTF(c)
            blob match {
              case TxTable.StoredBlob(_, hash, len) =>
                // Carried forward from the previous manifest: the blob
                // file already exists — write the ref, read nothing.
                out.writeByte(1); out.writeUTF(hash); out.writeInt(len)
              case TxTable.InlineBlob(bytes)
                if bytes.length >= TxTable.BlobThreshold =>
                val hash = TxTable.putBlob(logDir, bytes)
                out.writeByte(1); out.writeUTF(hash); out.writeInt(bytes.length)
              case TxTable.InlineBlob(bytes) =>
                out.writeByte(0); out.writeInt(bytes.length); out.write(bytes)
            }
          }
        }
        out.flush()
      } finally out.close()
      TxTable.commitPrimitive.putIfAbsent(
        logDir.resolve(f"stats-v$v%08d.bin"), tmp)
    }.getOrElse(())

  /** One bucket's stats, harvested from its (immutable) sidecar files. */
  private def harvestStats(b: Long, ref: BucketRef): TxTable.BucketStats = {
    val dataDir = bucketPath(ref.data, b)
    val rowsTotal = TxTable.rowsSidecarTotal(dataDir).getOrElse(-1L)
    val files = TxTable.rowsSidecarPerFile(dataDir).getOrElse(Map.empty)
      .toSeq.sorted.map { case (rel, n) =>
        val sz = scala.util.Try(
          Files.size(Paths.get(dataDir).resolve(rel))).getOrElse(-1L)
        (rel, n, sz)
      }
    val pspecFile = Paths.get(dataDir).getParent.resolve("_pspec.txt")
    val pspec =
      if (Files.exists(pspecFile)) Files.readString(pspecFile).trim else ""
    val zmFile = Paths.get(dataDir, "_zonemap.txt")
    val zonemap =
      if (Files.exists(zmFile)) Files.readAllBytes(zmFile) else Array.empty[Byte]
    val blooms = {
      val d = Paths.get(dataDir)
      if (!Files.isDirectory(d)) Nil
      else listNames(d)
        .filter(n => n.startsWith("_bloomidx.") && n.endsWith(".bin")).sorted
        .map(n => (n.stripPrefix("_bloomidx.").stripSuffix(".bin"),
          TxTable.InlineBlob(Files.readAllBytes(d.resolve(n))): TxTable.Blob))
    }
    TxTable.BucketStats(ref.data, ref.dvs, rowsTotal, files, pspec, zonemap, blooms)
  }

  /** MERGE `updates` into the table: matched keys are replaced (update
    * wins), unmatched keys are inserted. Returns the committed version.
    * Duplicate keys within one batch are collapsed first — a MERGE
    * source must bind each key once (the same rule Delta enforces). */
  def merge(updates: DataFrame): Long = {
    val upd = pinBatch(updates)
    validate(upd) // CHECK constraints: reject BEFORE any write or publish.
    rewriteTouched(upd, "merge") { (keep, p) =>
      // Widening schema evolution: columns the updates carry that the
      // table lacks join the schema (existing rows read them as NULL);
      // a replaced row's absent columns become NULL — the whole-row
      // MERGE contract. Order: current schema first, new columns appended.
      val cur = p.schema
      val newFields = upd.schema.fields.filterNot(f => cur.fieldNames.contains(f.name))
      val widened = org.apache.spark.sql.types.StructType(cur.fields ++ newFields)
      // A batch that omits a defaulted column gets the base version's
      // default on its inserted/replaced rows (Delta's write-default
      // contract).
      conform(upd, widened, p.defaults).unionByName(conform(keep, widened, p.defaults))
    }
  }

  /** Full MERGE grammar (Delta's conditional clauses): WHEN MATCHED AND
    * `deleteWhen` THEN DELETE, WHEN MATCHED AND `updateWhen` THEN UPDATE
    * (else the old row survives unchanged), WHEN NOT MATCHED AND
    * `insertWhen` THEN INSERT. Matched conditions evaluate over the OLD
    * row's columns (the new row's values are visible as `new_<col>`),
    * the insert condition over the new row; delete is checked first
    * (clause order, like Delta's). Same bucket-exact copy-on-write and
    * optimistic rebase as `merge`; `updates` must carry the table's
    * current schema (conditional clauses don't compose with widening
    * evolution — use plain `merge` for that). */
  def mergeClauses(updates: DataFrame, updateWhen: String,
                   deleteWhen: String, insertWhen: String): Long = {
    val upd = pinBatch(updates)
    commitLoop("merge-clauses") { p =>
      val cur = p.schema
      require(!cur.fieldNames.contains(TxTable.RidCol),
        "mergeClauses does not compose with row tracking (its batch must " +
          "carry the full table schema, and ids are engine-assigned) — " +
          "use merge/applyChanges on a row-tracked table")
      require(upd.columns.sorted.sameElements(cur.fieldNames.sorted),
        s"mergeClauses batch schema must match table schema ${cur.toDDL}")
      val touched = distinctBuckets(upd, p.buckets)
      val present = touched.filter(p.entries.contains)
      val existing =
        if (present.isEmpty) conform(upd.limit(0), cur)
        else readBuckets(p, present)
      val keep = existing.join(upd.select(keyCols.map(col): _*), keyCols, "left_anti")
      val valCols = cur.fieldNames.toSeq.filterNot(keyCols.contains)
      val matched = existing.join(
        upd.select(keyCols.map(col) ++
          valCols.map(c => col(c).as(s"new_$c")): _*), keyCols)
      // A NULL clause condition means the clause does NOT fire (the Delta
      // MERGE contract): only rows where the delete condition is
      // definitively TRUE are removed — NOT(NULL) would silently drop
      // NULL-condition rows from the survivors instead of falling them
      // through to the update/no-op path.
      val survivors = matched.filter(not(coalesce(expr(deleteWhen), lit(false))))
        .select(keyCols.map(col) ++ valCols.map(c =>
          when(expr(updateWhen), col(s"new_$c")).otherwise(col(c)).as(c)): _*)
      val inserts = upd
        .join(existing.select(keyCols.map(col): _*), keyCols, "left_anti")
        .filter(insertWhen)
      // CHECK constraints guard the POST-IMAGE of every row this commit
      // introduces — conditionally-updated survivors AND inserts (a
      // delete-targeted batch row never materializes, so it is exempt).
      // Rejects before anything publishes, O(touched rows).
      val introduced = conform(survivors, cur).unionByName(conform(inserts, cur))
      validate(introduced)
      val out = conform(keep, cur).unionByName(introduced)
      val commit = writeCommit(out, p.buckets)
      Some(Attempt(rewritten(p, touched, commit), Some(commit), Some(touched)))
    }
  }

  /** UPDATE ... SET ... WHERE — the predicate-DML verb (Delta's UPDATE):
    * every row satisfying `where` gets the SET expressions applied, all
    * other rows (and all other columns) are byte-identical. Unlike the
    * keyed paths (merge/delete), a predicate cannot be hash-pruned, so
    * ONE manifest-wide pass finds the buckets that actually hold matching
    * rows — a predicate update IS a scan at any scale, that is the honest
    * cost — and the copy-on-write rewrite then touches ONLY those
    * buckets: untouched bucket pointers carry forward unchanged, and a
    * no-match update publishes nothing at all (version unchanged). A
    * NULL-evaluating predicate does not fire (the mergeClauses
    * three-valued-logic contract). CHECK constraints validate the full
    * rewritten post-image before anything publishes. Key columns cannot
    * be SET (that is a delete+insert, i.e. a merge). */
  def update(where: String, set: Map[String, String]): Long = {
    require(set.nonEmpty, "UPDATE needs at least one SET column")
    require(set.keys.forall(c => !keyCols.contains(c)),
      s"cannot SET key column(s) ${set.keys.filter(keyCols.contains).mkString(",")}")
    commitLoop("update") { p =>
      val cur = p.schema
      require(set.keys.forall(cur.fieldNames.contains),
        s"SET column absent from schema ${cur.toDDL}")
      val touched = distinctBuckets(readBuckets(p, p.entries.keySet).filter(where), p.buckets)
        .filter(p.entries.contains)
      if (touched.isEmpty) None // no matching rows: metadata no-op
      else {
        val hit = coalesce(expr(where), lit(false))
        val out = conform(readBuckets(p, touched)
          .select(cur.fieldNames.toSeq.map { c =>
            set.get(c) match {
              case Some(e) => when(hit, expr(e)).otherwise(col(c)).as(c)
              case None => col(c)
            }
          }: _*), cur)
        validate(out)
        val commit = writeCommit(out, p.buckets)
        // The re-point carries the read-set predicate: UPDATE read every
        // bucket, so a winner's matching rows in an untouched bucket are
        // a real conflict (write-skew otherwise; see repoint).
        Some(Attempt(rewritten(p, touched, commit), Some(commit), Some(touched), Some(where)))
      }
    }
  }

  /** Row-level-operation commit (SQL UPDATE / MERGE INTO): the
    * replacement files for `affected` buckets are ALREADY on disk under
    * `data/<commit>` (written by the distributed [[graft.sources
    * .GraftReplaceWrite]]); this swaps the affected pointers to the new
    * commit in ONE publish, carrying every other bucket forward
    * untouched. An affected bucket absent from the commit (every row
    * deleted by a MERGE clause) drops out of the manifest. CHECK
    * constraints validate the written post-image BEFORE the publish; a
    * table that moved past `expectedVersion` fails with a
    * concurrent-modification error — the replacement was computed
    * against that snapshot, so publishing over a newer head would be a
    * lost update (the serializable-conflict contract; the caller
    * re-runs the statement). `fileRows` feeds the per-bucket `_rows.txt`
    * sidecars (v2: total line + per-file lines) so the planning tiers
    * serve this commit like any other. */
  private[graft] def replaceBuckets(replaced: Set[Long], commit: String,
                                    expectedVersion: Long,
                                    fileRows: Seq[(Long, String, Long)]): Long = {
    val p = pin(version)
    require(p.v == expectedVersion,
      s"concurrent commit: table moved v$expectedVersion -> v${p.v} while the " +
        "row-level operation ran — re-run the statement against the new snapshot")
    val m = p.entries
    // Post-image CHECK constraints over exactly the new rows (carryover
    // below re-serves rows that already passed their write's checks).
    validate(conform(
      FileMeta.parquet(spark, dataDir.resolve(commit).toString).drop("_b"),
      p.schema, p.defaults))
    // A bucket the write produced WITHOUT the scan having planned it
    // holds only NOT-MATCHED insert rows (a matched bucket is always
    // scanned) — groups are buckets, so its new pointer would WIPE the
    // existing rows. Carry the old content into the commit dir BEFORE
    // the publish: a DV-free bucket's files copy byte-identical (no
    // rewrite); a DV'd bucket materializes its visible rows (folding
    // the tombstones, like any copy-on-write rewrite of that bucket).
    val written = fileRows.map(_._1).toSet
    var carryRows = List.empty[(Long, String, Long)]
    (written -- replaced).foreach { b =>
      m.get(b).foreach { ref =>
        val bd = dataDir.resolve(commit).resolve(s"_b=$b")
        if (ref.dvs.isEmpty) {
          val src = Paths.get(bucketPath(ref.data, b))
          val perFile = TxTable.rowsSidecarPerFile(src.toString)
          listNames(src).filter(_.endsWith(".parquet")).foreach { f =>
            Files.copy(src.resolve(f), bd.resolve(s"carry-$f"))
            carryRows ::= ((b, s"carry-$f",
              perFile.flatMap(_.get(f)).getOrElse(-1L)))
          }
        } else {
          val rows = readBuckets(p, Set(b))
          val tmp = Files.createTempDirectory(dataDir, ".carry")
          rows.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val fs = listNames(tmp).filter(_.endsWith(".parquet"))
          fs.zipWithIndex.foreach { case (f, i) =>
            Files.move(tmp.resolve(f), bd.resolve(s"carry-$i.parquet")) }
          TxTable.drop(tmp.toString)
          carryRows :::= fs.indices.toList.map(i =>
            (b, s"carry-$i.parquet", if (fs.size == 1) rows.count() else -1L))
        }
      }
    }
    (fileRows ++ carryRows).groupBy(_._1).foreach { case (b, fs) =>
      val bd = dataDir.resolve(commit).resolve(s"_b=$b")
      if (fs.forall(_._3 >= 0))
        Files.writeString(bd.resolve("_rows.txt"),
          (fs.map(_._3).sum.toString +:
            fs.map(f => s"${f._2}\t${f._3}")).mkString("\n"))
    }
    require(publish(rewritten(p, replaced ++ written, commit).copy(op = "replace")),
      s"concurrent commit while publishing the row-level operation at v${p.v + 1} " +
        "— re-run the statement against the new snapshot")
    p.v + 1
  }

  /** INSERT OVERWRITE — replace the table's entire visible content with
    * `data` in ONE atomic commit (the SQL `INSERT OVERWRITE` / V2
    * truncate-then-append contract, without the non-atomic two-version
    * window a delete+merge pair would leave). The new manifest points
    * ONLY at the fresh commit's buckets; every prior pointer ages out
    * through the normal vacuum horizon, and time travel to pre-overwrite
    * versions still works. Duplicate keys in `data` collapse (the merge
    * batch rule); CHECK constraints validate the full replacement before
    * anything publishes; on a row-tracked table every row is NEW by
    * definition (the old rows' lineage ends here) and draws fresh ids. */
  def overwriteAll(data: DataFrame): Long = {
    val batch = pinBatch(data)
    validate(batch)
    // A full replacement conflicts with EVERY concurrent commit — no
    // disjoint re-point exists; a lost claim rebases and replaces the
    // new head.
    commitLoop("overwrite") { p =>
      val conformed = conform(batch, p.schema, p.defaults)
      val (out, hwm) =
        if (!p.schema.fieldNames.contains(TxTable.RidCol)) (conformed, p.ridHwm)
        else {
          val noExisting = batch.select(keyCols.map(col): _*).limit(0)
            .withColumn(TxTable.RidCol, lit(0L))
          assignRids(conformed, noExisting, p.buckets, p.ridHwm)
        }
      val commit = writeCommit(out, p.buckets)
      Some(Attempt(rewritten(p, p.entries.keySet, commit).copy(ridHwm = hwm), Some(commit)))
    }
  }

  /** DELETE ... WHERE — the predicate-DML delete verb (Delta's DELETE):
    * every row satisfying `where` is removed, every other row is
    * byte-identical. Same honest shape as [[update]]: a predicate cannot
    * be hash-pruned, so ONE manifest-wide pass finds the buckets that
    * actually hold matching rows, and the copy-on-write rewrite then
    * touches ONLY those — untouched pointers carry forward, a no-match
    * delete publishes nothing (version unchanged), a bucket whose rows
    * all matched drops out of the manifest entirely, and a
    * NULL-evaluating predicate does not fire (three-valued logic — the
    * row survives). CHECK constraints are deliberately NOT re-validated:
    * a delete introduces no rows, and every survivor already satisfied
    * the constraints when it was written. Lost publish races take the
    * same write-skew-guarded disjoint retry as update — the read-set is
    * the whole table, so a winner's predicate-matching rows in an
    * untouched bucket force a full rebase (re-pointing would publish a
    * version that silently missed deleting them). */
  def deleteWhere(where: String): Long =
    commitLoop("delete-where") { p =>
      val touched = distinctBuckets(readBuckets(p, p.entries.keySet).filter(where), p.buckets)
        .filter(p.entries.contains)
      if (touched.isEmpty) None // no matching rows: metadata no-op
      else {
        val hit = coalesce(expr(where), lit(false))
        val commit = writeCommit(conform(readBuckets(p, touched).filter(not(hit)), p.schema),
          p.buckets)
        // Re-pointed only WITH the read-set predicate, like update.
        Some(Attempt(rewritten(p, touched, commit), Some(commit), Some(touched), Some(where)))
      }
    }

  /** CDC APPLY — one ATOMIC commit applying `upserts` (replace-or-insert)
    * and `deleteKeys` (remove) together: the per-batch verb a
    * change-data-capture consumer needs (Delta's APPLY CHANGES INTO). A
    * fold of one upstream micro-batch yields exactly this pair, and
    * applying it as merge-then-delete would publish TWO versions, read
    * the touched buckets TWICE, and expose a mid-batch state where the
    * upserts are visible but the deletes are not — this applies both in
    * ONE copy-on-write pass over the union of touched buckets with one
    * manifest publish, so downstream readers see each upstream batch as
    * one indivisible hop. A key in both inputs resolves as upsert-wins
    * (rewriteTouched re-adds the upsert row after the anti-join).
    * Deletes here are copy-on-write (folded immediately), not
    * merge-on-read — the bucket is being rewritten for the upserts
    * anyway, so the DV would buy nothing. Same widening/defaults/
    * constraint semantics as `merge`; same optimistic rebase. */
  def applyChanges(upserts: DataFrame, deleteKeys: DataFrame): Long = {
    val up = pinBatch(upserts)
    validate(up) // CHECK constraints: reject BEFORE any write or publish.
    val upKeys = up.select(keyCols.map(col): _*)
    val delKeys = deleteKeys.select(keyCols.map(col): _*)
    // Both legs local → the union dedupes on the driver too (the
    // optimizer does not fold Union over LocalRelations).
    val touchKeys = (localRows(upKeys), localRows(delKeys)) match {
      case (Some(a), Some(b)) =>
        val seen = scala.collection.mutable.HashSet.empty[Seq[Any]]
        val out = new java.util.ArrayList[org.apache.spark.sql.Row](a.length + b.length)
        (a.iterator ++ b.iterator).foreach { r =>
          if (seen.add(r.toSeq)) out.add(r) }
        spark.createDataFrame(out, upKeys.schema)
      case _ => upKeys.unionByName(delKeys)
        .dropDuplicates(keyCols).localCheckpoint()
    }
    // A batch whose changes fold to zero upserts AND zero deletes is a
    // metadata no-op: publishing would mint an empty version (and an
    // empty commit dir) per such micro-batch — pointless version churn
    // for a CDC consumer replaying quiet periods.
    if (touchKeys.isEmpty) return version
    rewriteTouched(touchKeys, "apply-changes") { (keep, p) =>
      val newFields = up.schema.fields.filterNot(f => p.schema.fieldNames.contains(f.name))
      val widened = org.apache.spark.sql.types.StructType(p.schema.fields ++ newFields)
      conform(up, widened, p.defaults).unionByName(conform(keep, widened, p.defaults))
    }
  }

  /** DELETE by key (the MERGE matched-delete clause): rows whose key
    * appears in `keys` are removed via the same copy-on-write bucket
    * rewrite; absent keys are a no-op. A bucket whose rows are all
    * deleted drops out of the manifest entirely. */
  def delete(keys: DataFrame): Long = {
    val del = pinBatch(keys.select(keyCols.map(col): _*))
    rewriteTouched(del, "delete")((keep, _) => keep)
  }

  /** DELETE by key, merge-on-read — Iceberg-style EQUALITY DELETES: instead
    * of rewriting every touched bucket (copy-on-write pays a full bucket
    * rewrite to drop one row — at 100 TB that is gigabytes of IO for a
    * GDPR-delete of a handful of keys), the delete writes only the KEY
    * rows as a deletion-vector commit and appends that DV to the touched
    * buckets' manifest entries. Readers anti-join a bucket's DV keys at
    * scan time (`readBuckets`), so read amplification is confined to
    * DV'd buckets; any later copy-on-write MERGE of a bucket — and
    * `compact()` — folds its tombstones back into a clean base. Write
    * cost: O(deleted keys). The base data pointers are untouched, which
    * `dataPointers` exposes as the physical proof. */
  def deleteMergeOnRead(keys: DataFrame): Long = {
    val del = pinBatch(keys.select(keyCols.map(col): _*))
    commitLoop("delete-mor") { p =>
      // Keys hashing into buckets the table has no data for are no-ops.
      val affected = distinctBuckets(del, p.buckets).filter(p.entries.contains)
      if (affected.isEmpty) None
      else {
        val dvName = s"dv-${UUID.randomUUID().toString.take(12)}"
        del.withColumn("_b", bucketColFor(p.buckets))
          .filter(col("_b").isin(affected.toSeq: _*))
          .write.partitionBy("_b").parquet(dataDir.resolve(dvName).toString)
        // A lost claim drops the DV dir and rebases.
        Some(Attempt(p.next(p.entries.map { case (b, r) =>
          if (affected.contains(b)) b -> BucketRef(r.data, r.dvs :+ dvName) else b -> r
        }), Some(dvName)))
      }
    }
  }

  /** Row-tracking id assignment for a rewrite's output: a row whose key
    * exists in `existing` INHERITS that key's id (stability across
    * updates — the row is the same logical row); every other row is new
    * and takes a fresh id above `hwm`. Fresh ids are contiguous per
    * bucket: the rank is a bucket-local sort over the keys (the write
    * path shuffles by bucket anyway) and the per-bucket offsets are one
    * bounded driver-side pass over bucket counts — no global sort or
    * coordination at any scale, the same O(buckets) discipline as the
    * touched-set collect. Returns the assigned frame and the new
    * high-water mark (== hwm when nothing was inserted). */
  private def assignRids(out: DataFrame, existing: DataFrame, n: Int,
                         hwm: Long): (DataFrame, Long) = {
    import org.apache.spark.sql.expressions.Window
    val rids = existing.select(
      keyCols.map(col) :+ col(TxTable.RidCol).as("_rid_old"): _*)
    val joined = out.drop(TxTable.RidCol)
      .join(rids, keyCols, "left")
      .withColumn("_rb", bucketColFor(n))
    val counts = joined.filter(col("_rid_old").isNull)
      .groupBy("_rb").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    var acc = hwm
    val offsets: Map[Long, Long] =
      counts.map { case (b, c) => val o = acc; acc += c; b -> o }.toMap
    val offExpr =
      if (offsets.isEmpty) lit(0L)
      else element_at(typedlit(offsets), col("_rb"))
    // Rank only among the bucket's FRESH rows (the isNull leg), ordered
    // by key — deterministic under retry, so a rebased re-run of the
    // same batch assigns the same ids it would have the first time.
    val w = Window.partitionBy(col("_rb"), col("_rid_old").isNull)
      .orderBy(keyCols.map(col): _*)
    val assigned = joined
      .withColumn(TxTable.RidCol,
        coalesce(col("_rid_old"), offExpr + row_number().over(w) - 1))
      .drop("_rid_old", "_rb")
    (assigned, acc)
  }

  /** Copy-on-write attempt shared by merge/delete/applyChanges: prune
    * to the buckets `keySource` hashes into, anti-join the matched keys
    * out of those buckets' rows, let `build` shape the replacement rows
    * under the base pin, and hand the result to the commit loop. */
  private def rewriteTouched(keySource: DataFrame, op: String)
      (build: (DataFrame, Pin) => DataFrame): Long =
    commitLoop(op) { p =>
      // Exact bucket pruning: only buckets a source key hashes into are
      // candidates. Bounded by the bucket count — driver-side by design.
      val touched = distinctBuckets(keySource, p.buckets)
      val present = touched.filter(p.entries.contains)
      // Conform to the LOGICAL schema of the base (touched buckets may
      // predate a widening evolution and physically lack new columns);
      // readBuckets also applies any pending deletion vectors, so a
      // copy-on-write rewrite of a DV'd bucket FOLDS its tombstones.
      val existing =
        if (present.isEmpty) conform(keySource.limit(0), p.schema)
        else readBuckets(p, present)
      val keep = existing
        .join(keySource.select(keyCols.map(col): _*), keyCols, "left_anti")
      val out0 = build(keep, p)
      // Row tracking: every rewrite verb funnels through here, so id
      // stability is enforced ONCE — rows keyed in `existing` keep their
      // ids (merge updates, kept neighbors, applyChanges upserts), new
      // keys draw fresh ids above the version's high-water mark.
      val (out, hwm) =
        if (!p.schema.fieldNames.contains(TxTable.RidCol)) (out0, p.ridHwm)
        else assignRids(out0, existing, p.buckets, p.ridHwm)
      val commit = writeCommit(out, p.buckets)
      // Rewritten buckets come back CLEAN (their DVs were folded above),
      // and the version records the output's logical schema (evolution is
      // widening-only; a delete carries the base schema forward). A
      // commit that ALLOCATED row ids never re-points: the winner drew
      // from the same high-water mark, so a metadata-only re-point could
      // publish overlapping ids; the rebase re-reads the winner's mark
      // and re-assigns. Allocation-free rewrites (keyed deletes, pure
      // updates) keep the cheap retry.
      Some(Attempt(
        rewritten(p, touched, commit).copy(schemaDdl = out.schema.toDDL, ridHwm = hwm),
        Some(commit), if (hwm > p.ridHwm) None else Some(touched)))
    }

  /** Spec-only fault injection: runs between every commit-loop attempt's
    * data write and its first publish attempt, so a test can interleave
    * a winning commit DETERMINISTICALLY (the write-skew regression cases
    * — a race this narrow cannot be provoked reliably from outside). No-op
    * in production use; nothing else consults it. */
  private[graft] var prePublishHook: () => Unit = () => ()

  /** Commit-race losses this INSTANCE has rebased through (optimistic
    * concurrency observability: the write-contention probe and spec sum
    * it across writers — a lost publish is never an error, but the rate
    * tells an operator when one table has too many contending writers). */
  private[graft] val publishRetries = new java.util.concurrent.atomic.AtomicLong(0L)

  /** CDC read: the row-level changes between two committed versions —
    * `insert` / `update` / `delete`, with the old and new value of every
    * non-key column. The scan is pruned at the MANIFEST level: copy-on-
    * write means a bucket whose file pointer is identical in both
    * manifests cannot contain a change, so only re-pointed buckets are
    * read and joined — at 100 TB the diff costs O(changed buckets), never
    * O(table), the same bound as the merge that produced it. Unchanged
    * rows that merely rode along in a rewritten bucket are filtered by a
    * null-safe value comparison. */
  def diff(vOld: Long, vNew: Long): DataFrame = {
    require(vOld >= 0 && vNew <= version && vOld < vNew,
      s"need 0 <= vOld < vNew <= $version")
    require(Files.exists(logDir.resolve(f"v$vOld%08d.txt")),
      s"version $vOld has been vacuumed")
    val po = pin(vOld)
    val pn = pin(vNew)
    val (mo, mn) = (po.entries, pn.entries)
    // A bucket is a change candidate when its base pointer OR its DV list
    // differs — a merge-on-read delete re-points no data but still changes
    // the bucket's visible rows.
    val changed = (mo.keySet ++ mn.keySet).filter(b => mo.get(b) != mn.get(b))
    // Evolution is widening-only, so the newer version's record is the
    // superset; the older side conforms, reading absent columns as NULL.
    // Both sides group by physical type if either version was widened.
    val valCols = pn.schema.fieldNames.toSeq.filterNot(keyCols.contains)
    def side(m: Map[Long, BucketRef], tag: String): DataFrame =
      readBuckets(pn.copy(entries = m, widened = po.widened ++ pn.widened), changed)
        .select(keyCols.map(col) ++ valCols.map(c => col(c).as(s"${tag}_$c")) :+
          lit(true).as(s"_in_$tag"): _*)
    val joined = side(mo, "old").join(side(mn, "new"), keyCols, "full_outer")
    val oldVals = struct(valCols.map(c => col(s"old_$c")): _*)
    val newVals = struct(valCols.map(c => col(s"new_$c")): _*)
    joined
      .withColumn("change_type",
        when(col("_in_old").isNull, "insert")
          .when(col("_in_new").isNull, "delete")
          .when(!(oldVals <=> newVals), "update"))
      .filter(col("change_type").isNotNull)
      .select(col("change_type") +: keyCols.map(col) ++:
        valCols.flatMap(c => Seq(col(s"old_$c"), col(s"new_$c"))): _*)
  }

  /** Drop data directories unreachable from any RETAINED manifest —
    * commit-race losers (referenced by no manifest at all) and, when
    * `keepVersions` trims the horizon, buckets only aged-out versions
    * referenced. The default horizon keeps every version, so plain
    * `vacuum()` reclaims exactly the loser dirs and time travel is
    * untouched; `keepVersions = 1` is the aggressive Delta/Iceberg
    * retention (latest only). Manifests below the horizon are deleted
    * with their data so a time-travel read fails fast ("vacuumed")
    * instead of scanning half a version. An in-flight writer's freshly
    * written commit dir is ALSO unreferenced until its manifest publishes
    * — deleting it would corrupt the commit — so only dirs older than
    * `retainMs` are reclaimed: any concurrent write finishes publish long
    * before the window expires. A loser spinning in the disjoint-publish
    * retry can stay unreferenced LONGER than one write; it re-verifies
    * its dir still exists immediately before each publish attempt and
    * falls back to a rebase if a too-aggressive vacuum reclaimed it — so
    * `retainMs` only needs to cover the bounded check-to-link gap, not
    * the whole retry. Returns the number of dirs removed. */
  def vacuum(retainMs: Long = 10 * 60 * 1000L,
             keepVersions: Int = Int.MaxValue): Int = {
    require(!isBranch, "vacuum applies to the main table (shared data dir)")
    val head = version
    val floor = math.max(0L, head - math.max(1, keepVersions).toLong + 1)
    // The retained versions are the manifests still in the log at or
    // above the floor: an earlier trimmed vacuum deleted those below its
    // own floor, which may lie above this one.
    val retained = versionsIn(logDir).filter(_ >= floor)
    // Deletion-vector dirs referenced by a retained manifest are live too,
    // as is anything a live branch's manifests still reach.
    val live = retained.flatMap(v => pin(v).entries.values)
      .flatMap(r => r.data +: r.dvs).toSet ++ branchLive
    val cutoff = System.currentTimeMillis() - retainMs
    val dead = listNames(dataDir).filter { name =>
      !live.contains(name) &&
        Files.getLastModifiedTime(dataDir.resolve(name)).toMillis < cutoff
    }
    dead.foreach(name => TxTable.drop(dataDir.resolve(name).toString))
    if (floor > 0)
      listNames(logDir).foreach { n =>
        if (n.startsWith("v") && n.endsWith(".txt") &&
            n.stripPrefix("v").stripSuffix(".txt").toLong < floor)
          Files.deleteIfExists(logDir.resolve(n))
        // Each version's stats manifest retires with its manifest.
        if (n.startsWith("stats-v") && n.endsWith(".bin") &&
            scala.util.Try(n.stripPrefix("stats-v").stripSuffix(".bin").toLong)
              .toOption.exists(_ < floor))
          Files.deleteIfExists(logDir.resolve(n))
      }
    // A writer that died between materializing its temp manifest and the
    // publish link leaves a `.tmp-*` file behind — invisible to readers
    // (version resolution matches only v*.txt) but a leak. Reclaim them
    // under the same age guard as data dirs: an IN-FLIGHT publish's temp
    // file is seconds old and protected by retainMs.
    listNames(logDir).foreach { n =>
      if ((n.startsWith(".tmp-") || n.startsWith(".stats-tmp-")) &&
          Files.getLastModifiedTime(logDir.resolve(n)).toMillis < cutoff)
        Files.deleteIfExists(logDir.resolve(n))
    }
    // Content-addressed bloom blobs retire with the manifests that
    // reference them: live = the union of refs across RETAINED stats
    // files (ref-only reads — StoredBlob payloads stay on disk). The
    // age guard protects a blob an in-flight publish has written but
    // not yet referenced.
    val blobDir = logDir.resolve("blobs")
    if (Files.isDirectory(blobDir)) {
      val liveBlobs = retained.flatMap(v =>
        TxTable.readStatsManifestAt(logDir, v).toSeq.flatMap(_.values.flatMap(
          _.blooms.collect { case (_, TxTable.StoredBlob(_, h, _)) => h })))
        .toSet
      listNames(blobDir).foreach { n =>
        val keep = n.endsWith(".bin") && liveBlobs.contains(n.stripSuffix(".bin"))
        if (!keep &&
            Files.getLastModifiedTime(blobDir.resolve(n)).toMillis < cutoff)
          Files.deleteIfExists(blobDir.resolve(n))
      }
    }
    dead.size
  }

  /** OPTIMIZE (compaction): rewrite the CURRENT snapshot so every bucket
    * holds exactly ONE file inside ONE commit directory, and publish the
    * result as a new version — a metadata-only change for readers (same
    * rows, so `diff(v, compact())` is empty by construction, which the
    * property spec asserts). Why it exists: every commit writes its
    * touched buckets into a fresh commit dir, so a long-lived table
    * scatters its manifest across many commit dirs (one per bucket at
    * worst), and deletion vectors, SQL row-level writes and
    * `maxRecordsPerFile` caps leave extra files and tombstones to fold.
    * Compaction gathers every bucket behind one commit dir, one file
    * per bucket (per partition value under a declared transform),
    * through the same bucket-aligned [[writeCommit]]. Runs through the same
    * optimistic publish loop as merge: losing a race to a concurrent
    * writer rebases on the new snapshot (compacting stale data would
    * silently drop the winner's rows otherwise). Old versions stay
    * readable for time travel until `vacuum` retires them. */
  def compact(newBuckets: Int = 0): Long = compact(newBuckets, Nil)

  /** OPTIMIZE with data CLUSTERING (the Delta `OPTIMIZE … ZORDER BY` /
    * Iceberg sort-order analog for one dimension): `sortBy` columns sort
    * rows WITHIN each rewritten bucket, so every parquet row group's
    * footer min/max covers a narrow slice of the sort key instead of the
    * bucket's full range — which is what makes the connector's
    * row-group/page skipping (BASELINE note 72) EFFECTIVE for range
    * predicates: a selective `WHERE x BETWEEN …` on a sorted-compacted
    * table decodes only the few row groups whose ranges admit it, while
    * on an unsorted layout every row group's stats span everything and
    * nothing can skip. Clustering changes bytes-on-disk layout only —
    * same rows, same manifest shape, `diff(v, compact(...)) == empty`
    * like any compaction, and readers need no new code: the stats were
    * always consulted, they just become selective. At 100 TB the sort
    * rides the same per-bucket rewrite the compaction already pays
    * (sortWithinPartitions — no extra shuffle beyond the bucket
    * repartition). */
  def compact(newBuckets: Int, sortBy: Seq[String]): Long =
    compactClustered(newBuckets, sortBy, rows => sortBy.map(rows(_)))

  /** OPTIMIZE with MULTI-dimensional clustering — `ZORDER BY (a, b, …)`,
    * 2 to 8 columns: rows sort within each rewritten bucket by the
    * bit-INTERLEAVED Z-value of the columns, so every parquet row
    * group's footer min/max covers a tight cell in the n-dimensional
    * space and range/point predicates on ANY clustered dimension skip
    * row groups — where a 1-D sort (the two-arg `compact`) serves only
    * its leading column and leaves every other dimension's stats
    * spanning everything. Mapping: each column is scaled to a
    * `min(16, 63/n)`-bit cell over its [min, max] span (one stats pass
    * over the rewrite input — no extra shuffle; NULLs, an all-null
    * column and a constant column map to cell 0), and the cells
    * interleave round-robin — bit j of column i lands at position
    * j·n + i — so the combined code always fits a positive Long. The
    * interleave is a flat OR of n·cellBits codegen'd mask-and-shift
    * terms; per-column resolution shrinks as n grows (16 bits at n≤3,
    * 7 at n=8), which is the inherent Z-order trade — more clustered
    * dimensions, coarser cells each (Delta caps ZORDER BY columns for
    * the same reason). The Z-value is LAYOUT ONLY — never written,
    * never read back; every dimension keeps its ordinary footer stats,
    * which is all the skipping path consults. Numeric/date/timestamp
    * columns only (a cell needs a total order with distance). */
  def compactZOrder(zorderBy: Seq[String], newBuckets: Int = 0): Long = {
    val n = zorderBy.length
    require(n >= 2 && n <= 8,
      s"z-order clustering interleaves 2 to 8 columns, got $zorderBy")
    require(zorderBy.distinct.length == n, s"duplicate z-order column in $zorderBy")
    val cellBits = math.min(16, 63 / n)
    val cellMax = (1L << cellBits) - 1
    compactClustered(newBuckets, zorderBy, { rows =>
      import org.apache.spark.sql.functions.{shiftleft, lit, min => fmin, max => fmax, floor, coalesce}
      // One stats pass: (min, max) pairs in column order — min of column
      // i at position 2i, max at 2i+1.
      val aggs = zorderBy.flatMap(c =>
        Seq(fmin(rows(c)).cast("double"), fmax(rows(c)).cast("double")))
      val stats = rows.agg(aggs.head, aggs.tail: _*).collect()(0)
      val mins = Array.tabulate(n)(i => statAt(stats, 2 * i))
      val maxs = Array.tabulate(n)(i => statAt(stats, 2 * i + 1))
      def cell(c: org.apache.spark.sql.Column, lo: Double, hi: Double) = {
        val span = hi - lo
        val scaled =
          if (span > 0)
            floor((c.cast("double") - lit(lo)) / lit(span) * lit(cellMax.toDouble))
          else lit(0L)
        coalesce(scaled.cast("long"), lit(0L))
      }
      // Round-robin interleave: bit j of cell i → position j·n + i. Each
      // term isolates one source bit and shifts it to its slot — plain
      // codegen'd bitwise ops, evaluated ONCE per row because the caller
      // materializes the key before the sort (writeCommit's note).
      val z = zorderBy.zipWithIndex.map { case (cn, i) =>
        val ci = cell(rows(cn), mins(i), maxs(i))
        (0 until cellBits).map { j =>
          shiftleft(ci.bitwiseAND(lit(1L << j)), j * (n - 1) + i)
        }.reduce(_ bitwiseOR _)
      }.reduce(_ bitwiseOR _)
      Seq(z)
    })
  }

  /** A min/max stat as Double, 0 for an all-null column (its cell is
    * constant 0 — NULL rows sort first, a layout choice, not semantics). */
  private def statAt(r: org.apache.spark.sql.Row, i: Int): Double =
    if (r.isNullAt(i)) 0.0 else r.getDouble(i)

  /** OPTIMIZE with HILBERT clustering — the locality-better alternative
    * to [[compactZOrder]]'s Morton interleave for TWO dimensions:
    * consecutive Hilbert indexes are always Manhattan-distance-1
    * neighbors in the (a, b) plane (Morton takes long diagonal jumps at
    * power-of-two boundaries), so row groups cut from the sorted run
    * cover marginally tighter rectangles and range predicates skip a
    * little more. Same cell mapping as Z-order (16-bit min-max cells,
    * one stats pass), same materialized-key per-bucket sort, same
    * layout-only contract. The index is computed by the NATIVE
    * Catalyst expression [[graft.functions.HilbertIndex]]: `doGenCode`
    * emits the classic flip-and-rotate recurrence as one tight Java
    * loop inlined by whole-stage codegen (the first cut used the
    * `aggregate` higher-order function, which is CodegenFallback and
    * ran ~5× slower interpreted); no UDF.
    * PropertySpec certifies the two DEFINING curve properties
    * independently of any reference implementation: bijection over the
    * full grid and unit-step adjacency between every pair of
    * consecutive indexes. */
  def compactHilbert(hilbertBy: Seq[String], newBuckets: Int = 0): Long = {
    require(hilbertBy.length == 2,
      s"hilbert clustering is two-dimensional, got $hilbertBy")
    compactClustered(newBuckets, hilbertBy, { rows =>
      import org.apache.spark.sql.functions.{min => fmin, max => fmax}
      val aggs = hilbertBy.flatMap(c =>
        Seq(fmin(rows(c)).cast("double"), fmax(rows(c)).cast("double")))
      val stats = rows.agg(aggs.head, aggs.tail: _*).collect()(0)
      def cell(c: org.apache.spark.sql.Column, lo: Double, hi: Double) = {
        val span = hi - lo
        val scaled =
          if (span > 0) floor((c.cast("double") - lit(lo)) / lit(span) * lit(65535.0))
          else lit(0L)
        coalesce(scaled.cast("long"), lit(0L))
      }
      Seq(TxTable.hilbertIndex(
        cell(rows(hilbertBy.head), statAt(stats, 0), statAt(stats, 1)),
        cell(rows(hilbertBy(1)), statAt(stats, 2), statAt(stats, 3)), 16))
    })
  }

  private def compactClustered(newBuckets: Int, clusterCols: Seq[String],
                               clusterOf: DataFrame => Seq[org.apache.spark.sql.Column]): Long = {
    commitLoop("compact") { p =>
      clusterCols.foreach(c => require(p.schema.fieldNames.contains(c),
        s"cluster column '$c' not in schema at v${p.v}"))
      // Layout evolution rides the full rewrite: `newBuckets > 0` re-hashes
      // every row under the new count and the published header flips the
      // table's write-time layout — subsequent merges hash with it (and a
      // merge racing this rebucket loses the publish, rebases, re-hashes).
      val n = if (newBuckets > 0) newBuckets else p.buckets
      // DV-applied read: compaction FOLDS deletion vectors — the output
      // manifest is all-clean.
      val rows = readBuckets(p, p.entries.keySet)
      val commit = writeCommit(rows, n, clusterOf(rows))
      val next = rewritten(p, p.entries.keySet, commit).copy(buckets = n)
      Some(Attempt(if (n != p.buckets) next.copy(op = "rebucket") else next, Some(commit)))
    }
  }

  /** DROP COLUMN — metadata-only schema NARROWING, the DDL counterpart
    * of the widening MERGE evolution: the new version re-publishes the
    * same manifest (zero data rewritten, `dataPointers` unchanged) with
    * a schema that omits the column; `conform` projects it away at read
    * time, and time travel still serves it at pre-drop versions from
    * the untouched files. Caveat (documented, the Delta column-mapping
    * problem): re-ADDING a same-named column later would resurrect the
    * physical values for never-rewritten rows, because columns resolve
    * by name — a production version would map columns by id. */
  def dropColumn(colName: String): Long = {
    require(!keyCols.contains(colName), s"cannot drop key column '$colName'")
    commitLoop(s"drop-$colName") { p =>
      // Dropping the declared partition source would silently flip every
      // future commit to a FLAT layout (partitionColumn skips absent
      // columns) — the same silent no-op class setPartitioning's
      // declare-time validation exists to prevent. Clear the spec first.
      partitionSpec.foreach { case (tf, c) =>
        // Through the alias chain, like partitionColumn: a spec left
        // naming a renamed column still protects its current name.
        val lineage = colName +: p.aliases.getOrElse(colName, Nil)
        require(!lineage.contains(c),
          s"cannot drop '$colName': it is the declared partition source " +
            s"($tf($c)) — setPartitioning(\"\") first") }
      require(p.schema.fieldNames.contains(colName), s"no column '$colName' at v${p.v}")
      Some(Attempt(p.next(p.entries).copy(
        schemaDdl = org.apache.spark.sql.types.StructType(
          p.schema.fields.filterNot(_.name == colName)).toDDL,
        defaults = p.defaults - colName)))
    }
  }

  /** ADD COLUMN ... DEFAULT — metadata-only schema WIDENING, the DDL
    * counterpart of `dropColumn`: the new version re-publishes the same
    * manifest (zero data rewritten, `dataPointers` unchanged) with a
    * schema that appends the column and its default in the record.
    * Rows written before the add physically lack the column and serve
    * the DEFAULT at read time (`conform`); rows written after carry
    * whatever value the writer supplied — physical presence always wins,
    * so a later explicit NULL stays NULL. This is the Iceberg
    * `initial-default` / Delta `ALTER TABLE ADD COLUMN ... DEFAULT`
    * contract: on a 100 TB table the DDL costs one manifest, never a
    * rewrite; subsequent copy-on-write commits
    * materialize the default only for the buckets they touch anyway.
    * The default must be a deterministic SQL expression over no columns
    * (a literal or literal expression) — validated eagerly so a bad
    * type or unparseable default fails BEFORE anything publishes. */
  def addColumn(colName: String, ddlType: String, defaultSql: String): Long = {
    require(!TxTable.ReservedCols.contains(colName),
      s"column name '$colName' is reserved for the physical layout")
    val field = org.apache.spark.sql.types.StructType
      .fromDDL(s"`$colName` $ddlType").fields.head
    // Eager validation: the default must evaluate and cast to the column
    // type on a 1-row probe (also rejects column references).
    spark.range(1).select(expr(defaultSql).cast(field.dataType)).collect()
    commitLoop(s"add-$colName") { p =>
      require(!p.schema.fieldNames.contains(colName),
        s"column '$colName' already exists at v${p.v}")
      // Physical names of renamed-away columns are RESERVED: old files
      // still store values under them, and name-resolved reads would
      // resurrect those values into a new same-named column (the Delta
      // column-mapping rule the dropColumn caveat documents).
      require(!p.aliases.values.flatten.toSet.contains(colName),
        s"'$colName' is a reserved physical alias of a renamed column")
      Some(Attempt(p.next(p.entries).copy(
        schemaDdl = org.apache.spark.sql.types.StructType(p.schema.fields :+ field).toDDL,
        defaults = p.defaults + (colName -> defaultSql))))
    }
  }

  /** Widening record as of `v` (`#widen=`): column → the catalog types
    * its files may PHYSICALLY carry from before each widen, cumulative
    * like defaults/renames. A non-empty record flips the read path into
    * per-commit type grouping; the grouping keys on actual footer
    * schemas, so the record never has to be exhaustive to be safe. */
  def widenedAt(v: Long): Map[String, Seq[String]] = pin(v).widened

  /** WIDEN COLUMN TYPE — the remaining Delta/Iceberg schema-evolution
    * verb after add/drop/rename/default: `int → bigint` and
    * `float → double` (the value-preserving promotions whose every
    * source value round-trips exactly), METADATA-ONLY like the rest of
    * the DDL triad — the new version re-publishes the same manifest
    * (zero data rewritten, `dataPointers` unchanged; on a 100 TB table
    * the widen costs one manifest) with the field's type widened in the
    * recorded schema and a `#widen=` record entry that flips the
    * read path into per-commit physical-type grouping: pre-widen files
    * keep serving their int32/float pages, cast to the logical type at
    * read (`conform`), while post-widen commits store the wide type
    * physically. Every skipping tier REFUSES the widened column by its
    * write-time-type guard (bucket blooms hash differently, zone maps
    * and row-group stats are in file units — GraftDataSource's
    * `skipPredicateFilters` / bloom header / zone-map type checks), so
    * evolution degrades skipping to conservative no-skip, never to a
    * wrong refusal; a later `compact()` rewrites everything under the
    * wide type and full skipping resumes. Key columns refuse: the
    * bucket hash of an int differs from the same value hashed as long,
    * so widening a key would strand every row's bucket assignment. */
  def widenColumn(colName: String, newDdlType: String): Long = {
    require(!keyCols.contains(colName),
      s"cannot widen key column '$colName' (bucket hashing is type-sensitive)")
    val to = org.apache.spark.sql.types.StructType
      .fromDDL(s"`x` $newDdlType").fields.head.dataType
    val allowed = Map(
      "int" -> Set("bigint", "double"),
      "float" -> Set("double"))
    commitLoop(s"widen-$colName") { p =>
      val cur = p.schema
      require(cur.fieldNames.contains(colName), s"no column '$colName' at v${p.v}")
      val from = cur(colName).dataType.catalogString
      require(allowed.getOrElse(from, Set.empty).contains(to.catalogString),
        s"cannot widen $from to ${to.catalogString} — value-preserving " +
          s"promotions only: ${allowed.map { case (k, vs) => s"$k->{${vs.mkString(",")}}" }.mkString(", ")}")
      Some(Attempt(p.next(p.entries).copy(
        schemaDdl = org.apache.spark.sql.types.StructType(cur.fields.map(f =>
          if (f.name == colName) f.copy(dataType = to) else f)).toDDL,
        widened = p.widened +
          (colName -> (from +: p.widened.getOrElse(colName, Nil)).distinct))))
    }
  }

  /** RENAME COLUMN — metadata-only, completing the DDL triad with
    * `dropColumn` / `addColumn`: the new version re-publishes the same
    * manifest (zero data rewritten, `dataPointers` unchanged — on a
    * 100 TB table the rename costs one manifest) with the field renamed
    * in the schema and the old name recorded as a physical ALIAS
    * (`#renames=`, the Delta/Iceberg column-mapping record). Reads
    * resolve the logical name through its alias chain per file, so
    * pre-rename files serve their stored values under the new name with
    * no rewrite, while post-rename writers store the new name physically;
    * a DEFAULT attached to the column follows it to the new name in the
    * same commit. The old name stays reserved (`addColumn` rejects it)
    * so stale physical values can never resurrect. Key columns cannot be
    * renamed (bucket hashing and lookups are keyed by name), and columns
    * referenced by CHECK constraints are refused rather than silently
    * breaking the predicate text. */
  def renameColumn(oldName: String, newName: String): Long = {
    require(oldName != newName, "rename must change the name")
    require(!TxTable.ReservedCols.contains(newName),
      s"column name '$newName' is reserved for the physical layout")
    require(!keyCols.contains(oldName), s"cannot rename key column '$oldName'")
    checks.foreach { case (ck, pred) =>
      require(!s"\\b${java.util.regex.Pattern.quote(oldName)}\\b".r
          .findFirstIn(pred).isDefined,
        s"cannot rename '$oldName': referenced by check '$ck' ($pred)")
    }
    val committed = commitLoop(s"rename-$oldName-$newName") { p =>
      val cur = p.schema
      require(cur.fieldNames.contains(oldName), s"no column '$oldName' at v${p.v}")
      require(!cur.fieldNames.contains(newName),
        s"column '$newName' already exists at v${p.v}")
      require(!p.aliases.values.flatten.toSet.contains(newName),
        s"'$newName' is a reserved physical alias of a renamed column")
      // The alias chain follows the logical column: rename a→b then b→c
      // leaves c resolving through [b, a], in recency order; a DEFAULT
      // follows the column to its new name.
      Some(Attempt(p.next(p.entries).copy(
        schemaDdl = org.apache.spark.sql.types.StructType(cur.fields.map(f =>
          if (f.name == oldName) f.copy(name = newName) else f)).toDDL,
        aliases = (p.aliases - oldName) +
          (newName -> (oldName +: p.aliases.getOrElse(oldName, Nil))),
        defaults = p.defaults.get(oldName)
          .fold(p.defaults)(d => (p.defaults - oldName) + (newName -> d)))))
    }
    // The partition spec FOLLOWS the rename (Iceberg tracks partition
    // fields through renames): without this, future commits would
    // silently write FLAT — partitionColumn can't find the old name —
    // while the operator believes the table is still day-partitioned.
    // Already-written eras are untouched: their per-commit `_pspec`
    // records the old name, which the read path resolves through the
    // alias chain recorded above.
    partitionSpec.foreach { case (tf, c) =>
      if (c == oldName) setPartitioning(s"$tf($newName)") }
    committed
  }

  /** INCREMENTAL compaction — `compact()` for tables too big to ever
    * rewrite whole: only buckets that are actually degraded are
    * rewritten; every healthy bucket's manifest pointer carries forward
    * untouched. Every data commit already writes one file per
    * (bucket × partition value) cell, so what degrades a bucket is
    * deletion vectors (merge-on-read deletes), or a cell fragmented into
    * ≥ `minFiles` part files — by a SQL UPDATE/MERGE INTO (the row-level
    * writer writes per task), a `spark.sql.files.maxRecordsPerFile`
    * cap, or a commit older than bucket-aligned writes. Cost is
    * O(degraded buckets), and repeated invocations converge to a no-op
    * (returns the current version unchanged when nothing qualifies).
    * Rewritten buckets come back clean (DVs folded) and one file per
    * cell. Same optimistic publish loop as every writer. */
  def compactPartial(minFiles: Int = 2): Long =
    commitLoop("compact-partial") { p =>
      // Files are counted per cell (leaf dir): a partitioned bucket holds
      // one file per partition value, which is not fragmentation.
      val degraded = p.entries.filter { case (b, r) =>
        r.dvs.nonEmpty ||
          parquetFilesUnder(Paths.get(bucketPath(r.data, b)))
            .groupBy(_.getParent).values.exists(_.size >= minFiles)
      }.keySet
      if (degraded.isEmpty) None
      else {
        // Same bucket count -> the rewrite reproduces exactly the degraded
        // bucket ids, one file per (bucket × partition value) cell.
        // Degraded buckets are REPLACED (a bucket whose DVs deleted every
        // row drops out of the manifest, like a full-delete merge).
        val commit = writeCommit(readBuckets(p, degraded), p.buckets)
        Some(Attempt(rewritten(p, degraded, commit), Some(commit)))
      }
    }

  /** RESTORE (Delta's `RESTORE TABLE ... VERSION AS OF`): re-publish
    * version `v`'s manifest — and its recorded schema — as a NEW head
    * commit. Copy-on-write makes this METADATA-ONLY: no data file is
    * copied or rewritten, the new manifest simply re-points every bucket
    * at `v`'s still-present dirs, so rolling back a bad write on a 100 TB
    * table costs one small file no matter how much the bad version
    * touched. History is preserved — the bad versions remain
    * time-travelable (and CDC-diffable) for forensics until `vacuum`
    * retires them, and the restore itself is an auditable commit.
    * Optimistic like every writer: losing a publish race re-reads the
    * head and retries — restore is ABSOLUTE (the target stays `v`), so
    * the retry needs no rebase. Fails fast if `v` was vacuumed. */
  def restore(v: Long): Long = {
    require(v >= 0 && v <= version, s"version $v not in [0, $version]")
    require(Files.exists(logDir.resolve(f"v$v%08d.txt")),
      s"version $v has been vacuumed")
    // The restored version's layout and record travel with its entries.
    val target = pin(v).copy(op = "")
    commitLoop(s"restore-v$v")(_ => Some(Attempt(target)))
  }

  /** BRANCH (Iceberg refs / Nessie): an isolated manifest chain under
    * `_log/branches/<name>` that SHARES the table's data directory — so a
    * branch write is the same O(touched buckets) copy-on-write commit,
    * and creating a branch is metadata-only (its v0 re-points at the main
    * head's dirs; zero data copied, at 100 TB as at 100 rows). The handle
    * returned is a full TxTable: merge / delete / snapshot / diff / time
    * travel all work on the branch, invisible to main readers until
    * `fastForward` publishes it. This is the write-audit-publish (WAP)
    * pattern: stage a batch on a branch, audit the branch snapshot, and
    * only then make it the table — a failing audit costs `dropBranch`
    * plus an eventual vacuum, and production readers never saw a row. */
  def branch(name: String): TxTable = {
    require(!isBranch, "cannot branch a branch")
    require(name.matches("[A-Za-z0-9_-]+"), s"bad branch name '$name'")
    val bLog = logDir.resolve("branches").resolve(name)
    val b = new TxTable(spark, dir, keyCols, bLog)
    if (b.version >= 0) return b // reattach to an existing branch
    val v = version
    require(v >= 0, "cannot branch an empty table")
    Files.createDirectories(bLog)
    // The fork point's whole record (schema, defaults, renames, widen)
    // travels in the branch's v0, so a branch read of pre-evolution,
    // pre-rename or pre-widen files resolves them as main does.
    require(b.publish(pin(v).copy(v = 0L, op = "branch")),
      s"concurrent create of branch '$name'")
    // base.txt is written only AFTER winning the create-exclusive v0
    // publish: a losing concurrent creator throws above and never reaches
    // this line, so it cannot overwrite the winner's base with a newer
    // main version (which would let a later fastForward compare against
    // the wrong base and publish over interleaved main commits).
    Files.writeString(bLog.resolve("base.txt"), v.toString)
    // Branch writers enforce the same CHECK constraints as main.
    val ck = logDir.resolve("checks.txt")
    if (Files.exists(ck)) Files.copy(ck, bLog.resolve("checks.txt"))
    b
  }

  /** The main version a branch was forked from. */
  def branchBase(name: String): Long =
    Files.readString(logDir.resolve("branches").resolve(name)
      .resolve("base.txt")).trim.toLong

  /** Publish branch `name`'s head as main's next version — the WAP
    * "publish" step. Metadata-only and atomic: the new main manifest IS
    * the branch head manifest (shared data dirs make re-pointing free),
    * published through the same create-exclusive link every writer uses.
    * Strictly FAST-FORWARD: if main advanced past the branch's base, the
    * branch staged against a stale table and publishing would silently
    * drop the interleaved main commits — it throws instead (re-branch and
    * re-stage, the Iceberg fast-forward contract). Collapses any number
    * of branch commits into ONE auditable main version. */
  def fastForward(name: String): Long = {
    require(!isBranch, "fastForward applies to the main table")
    val bLog = logDir.resolve("branches").resolve(name)
    require(Files.isDirectory(bLog), s"no branch '$name'")
    val b = new TxTable(spark, dir, keyCols, bLog)
    val base = branchBase(name)
    val bv = b.version
    // DDL staged on the branch (add/rename/widen) publishes with it: the
    // branch head's whole record becomes main's.
    val staged = b.pin(bv).copy(op = "")
    // Branches snapshot checks.txt at creation, so a CHECK constraint
    // added to MAIN after the fork was never enforced by the branch's
    // writers — re-validate the branch head against exactly those STALE
    // constraints before publishing (O(branch head) only when main gained
    // constraints post-fork; the common publish stays metadata-only).
    val staleChecks = checks.diff(b.checks)
    if (staleChecks.nonEmpty) {
      val head = b.snapshotAt(bv)
      staleChecks.foreach { case (ck, pred) =>
        val bad = head.filter(s"NOT ($pred)").count()
        require(bad == 0L,
          s"cannot publish branch '$name': $bad rows violate main's " +
            s"post-fork check '$ck' ($pred)")
      }
    }
    commitLoop(s"publish-$name") { p =>
      require(p.v == base,
        s"non-fast-forward: main advanced $base -> ${p.v} since branch '$name' forked")
      Some(Attempt(staged))
    }
  }

  /** SHALLOW CLONE (Delta's `CREATE TABLE ... SHALLOW CLONE`): a new,
    * independent table whose v0 manifest points at THIS table's data
    * files via absolute pointers — zero bytes copied, O(manifest) to
    * create, at 100 TB as at 100 rows. Unlike `branch` (same table, own
    * ref), a clone has its own identity: its writes are copy-on-write
    * commits into its OWN data dir (source never sees them), its history
    * starts at v0, and the source keeps evolving independently — the
    * dev/test-against-production-data primitive. Caveats shared with
    * Delta: a `vacuum` on the SOURCE does not know about clones, so it
    * can reclaim files a clone still references (document the retention
    * window before cloning); the clone's own vacuum never touches the
    * absolute (source-owned) pointers. CHECK constraints snapshot at
    * clone time, like `branch`. */
  def shallowClone(dstDir: String): TxTable = {
    require(!isBranch, "clone from the main table, not a branch")
    val v = version
    require(v >= 0, "cannot clone an empty table")
    val p = pin(v)
    val t = new TxTable(spark, dstDir, keyCols)
    require(t.version < 0, s"table already exists at $dstDir")
    Files.createDirectories(t.dataDir) // stays empty until the first clone-local write
    // Cloning a clone keeps its absolute pointers.
    val abs = (commit: String) =>
      if (commit.startsWith("/")) commit
      else dataDir.resolve(commit).toAbsolutePath.toString
    // The source version's whole record snapshots into the clone's v0,
    // like checks: the clone reads the source's pre-evolution,
    // pre-rename and pre-widen files as the source would.
    require(t.publish(p.copy(v = 0L, op = s"clone@v$v", entries = p.entries.map {
        case (b, r) => b -> BucketRef(abs(r.data), r.dvs.map(abs)) })),
      s"concurrent create at $dstDir")
    // Self-description travels with the clone (create writes the same
    // sidecars): the merge keys let catalog consumers and the DSv2
    // connector open the clone from its directory alone, and the declared
    // layout columns (cluster/zonemap/bloom) keep governing the clone's
    // OWN copy-on-write commits exactly as they governed the source's.
    Files.writeString(t.logDir.resolve("keys.txt"), keyCols.mkString(","))
    Seq("checks.txt", "cluster.txt", "zonemap.txt", "bloom.txt")
      .foreach { s =>
        val f = logDir.resolve(s)
        if (Files.exists(f)) Files.copy(f, t.logDir.resolve(s))
      }
    t
  }

  /** Delete a branch's log (its unpublished commits become vacuum-able). */
  def dropBranch(name: String): Unit = {
    require(!isBranch, "dropBranch applies to the main table")
    TxTable.drop(logDir.resolve("branches").resolve(name).toString)
  }

  /** Commit dirs referenced by any live BRANCH manifest — reachable state
    * `vacuum` must not reclaim even though no main manifest points at it. */
  private def branchLive: Set[String] = {
    val bs = logDir.resolve("branches")
    if (!Files.isDirectory(bs)) Set.empty
    else listNames(bs).flatMap { bn =>
      val b = new TxTable(spark, dir, keyCols, bs.resolve(bn))
      versionsIn(bs.resolve(bn)).flatMap(v =>
        b.pin(v).entries.values.flatMap(r => r.data +: r.dvs))
    }.toSet
  }

  /** The operation that produced version `v` (`#op=` manifest header). */
  def opAt(v: Long): String = pin(v).op

  /** DESCRIBE HISTORY (Delta's audit surface): one row per still-retained
    * version — the operation that produced it, the layout in effect, how
    * many manifest entries it changed, and the column count of its
    * recorded schema. Pure log metadata: the whole history of a 100 TB
    * table reads a handful of small manifest files, no data. Vacuumed
    * versions drop out (their manifests are gone), matching time travel's
    * availability exactly. */
  def history(): DataFrame = {
    val pins = versionsIn(logDir).sorted.map(pin)
    val entriesAt = pins.map(p => p.v -> p.entries).toMap
    val rows = pins.map { p =>
      val m = p.entries
      val prev = entriesAt.getOrElse(p.v - 1, Map.empty[Long, BucketRef])
      val changed = (m.keySet ++ prev.keySet).count(b => m.get(b) != prev.get(b))
      (p.v, p.op, p.buckets, changed.toLong, p.schema.fields.length)
    }
    spark.createDataFrame(rows)
      .toDF("version", "op", "n_buckets", "buckets_changed", "n_cols")
  }

  /** Physical layout census for specs/monitoring: (commit dirs referenced,
    * data files) behind the CURRENT manifest. */
  def layoutStats(): (Int, Int) = {
    val m = pin(version).entries
    val commits = m.values.map(_.data).toSet
    val files = m.toSeq.map { case (b, r) =>
      parquetFilesUnder(Paths.get(bucketPath(r.data, b))).size
    }.sum
    (commits.size, files)
  }
}

object TxTable {

  /** A bucket's physical state in a manifest: its base data commit dir
    * plus zero or more merge-on-read deletion-vector dirs (equality
    * deletes — key rows anti-joined at read). `data` and `dvs` hold
    * commit-dir NAMES; resolve with [[bucketPath]]. */
  private[graft] final case class BucketRef(data: String, dvs: Seq[String])

  /** Commit names are normally dir-relative; a SHALLOW CLONE's manifest
    * carries absolute pointers back into its source's data directory
    * (`shallowClone`), so path resolution branches on the leading '/'. */
  private[graft] def bucketPath(dataDir: Path, commit: String, b: Long): String =
    (if (commit.startsWith("/")) Paths.get(commit)
     else dataDir.resolve(commit)).resolve(s"_b=$b").toString

  /** Everything version `v` means — one manifest `_log/v*.txt`, parsed
    * once. Its header lines hold the version RECORD:
    *
    *   #buckets=N      the layout's bucket count
    *   #op=…           the operation that produced the version
    *   #ridhwm=H       the row-tracking high-water mark
    *   #schema=…       the logical schema (DDL)
    *   #defaults=…     column → ADD COLUMN default expression
    *   #renames=…      column → its earlier physical names, newest first
    *   #widen=…        column → the types its files held before each widen
    *
    * and every other line is an entry `b<TAB>commit[<TAB>dv1,dv2]`. The
    * four column headers are cumulative, carried forward by every
    * publish, so one create-exclusive claim publishes all of a version:
    * a reader that sees version v sees its record, with no window and no
    * side file. Header values are escaped (see [[render]]), so a tab or
    * newline in a DDL or a default cannot break the line format. */
  private[graft] final case class Pin(
      v: Long, op: String, buckets: Int, ridHwm: Long,
      entries: Map[Long, BucketRef], schemaDdl: String,
      defaults: Map[String, String], aliases: Map[String, Seq[String]],
      widened: Map[String, Seq[String]], dataDir: Path) {

    lazy val schema: org.apache.spark.sql.types.StructType =
      org.apache.spark.sql.types.StructType.fromDDL(schemaDdl)

    /** The version's column record: two versions with equal records
      * read the same files the same way. */
    def record = (schemaDdl, defaults, aliases, widened)

    /** Resolved physical layout for external readers (the DSv2
      * connector): bucketId → (data bucket dir, DV bucket dirs). Paths
      * come through [[bucketPath]], so shallow-clone absolute pointers
      * resolve exactly as the native read path resolves them. */
    lazy val layout: Map[Long, (String, Seq[String])] = entries.map { case (b, r) =>
      b -> (bucketPath(dataDir, r.data, b), r.dvs.map(d => bucketPath(dataDir, d, b)))
    }

    /** The next version on this one: `entries`, this record carried
      * forward, the op left for the commit loop to name. */
    def next(entries: Map[Long, BucketRef]): Pin =
      copy(v = v + 1, op = "", entries = entries)
  }

  /** One commit-loop attempt on a pinned base: the version to claim,
    * the fresh data dir it points at (dropped when the attempt loses),
    * and — for a verb whose read-set is its `touched` buckets, or those
    * plus the rows matching `readWhere` — what the disjoint re-point
    * needs; no `touched` set means a lost claim always rebases. */
  private[graft] final case class Attempt(next: Pin, dir: Option[String] = None,
                                          touched: Option[Set[Long]] = None,
                                          readWhere: Option[String] = None)

  /** Parse manifest `file` as version `v` of a table whose relative
    * commit names resolve under `dataDir`. */
  private[graft] def readPin(file: Path, v: Long, dataDir: Path): Pin = {
    val (hdr, body) = Files.readAllLines(file, StandardCharsets.UTF_8).asScala
      .filter(_.nonEmpty).partition(_.startsWith("#"))
    val h = hdr.map { l => val i = l.indexOf('='); l.substring(1, i) -> l.substring(i + 1) }.toMap
    def recs(k: String): Seq[Seq[String]] = h.get(k).map(unescRecords).getOrElse(Nil)
    def one(k: String): Option[String] = recs(k).headOption.flatMap(_.headOption)
    if (!h.contains("schema")) throw new IllegalStateException(
      s"$file carries no version record: the table was written by an older log format")
    val entries = body.map { line =>
      val parts = line.split('\t')
      val dvs = if (parts.length > 2 && parts(2).nonEmpty) parts(2).split(',').toSeq else Nil
      parts(0).toLong -> BucketRef(parts(1), dvs)
    }.toMap
    def lists(k: String) = recs(k).map(r => r.head -> r.tail).toMap
    Pin(v, one("op").getOrElse(""), h("buckets").toInt, h.get("ridhwm").fold(0L)(_.toLong),
      entries, one("schema").getOrElse(""), recs("defaults").map(r => r(0) -> r(1)).toMap,
      lists("renames"), lists("widen"), dataDir)
  }

  /** `p` as manifest text (see [[Pin]]). */
  private[graft] def render(p: Pin): String = {
    def lists(m: Map[String, Seq[String]]) = m.toSeq.sortBy(_._1).map { case (k, vs) => k +: vs }
    val headers = Seq(
      s"#buckets=${p.buckets}",
      s"#op=${escRecords(Seq(Seq(p.op)))}",
      s"#ridhwm=${p.ridHwm}",
      s"#schema=${escRecords(Seq(Seq(p.schemaDdl)))}",
      s"#defaults=${escRecords(p.defaults.toSeq.sorted.map { case (k, e) => Seq(k, e) })}",
      s"#renames=${escRecords(lists(p.aliases))}",
      s"#widen=${escRecords(lists(p.widened))}")
    val lines = p.entries.toSeq.sortBy(_._1).map { case (b, r) =>
      if (r.dvs.isEmpty) s"$b\t${r.data}" else s"$b\t${r.data}\t${r.dvs.mkString(",")}"
    }
    (headers ++ lines).mkString("\n")
  }

  /** A header value: records joined by TAB, each record's fields joined
    * by ',', every field escaping backslash, tab, newline, CR and comma —
    * so no raw separator or line break survives inside a field. */
  private def escRecords(records: Seq[Seq[String]]): String =
    records.map(_.map(_.flatMap {
      case '\\' => "\\\\"
      case '\t' => "\\t"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case ',' => "\\,"
      case c => c.toString
    }).mkString(",")).mkString("\t")

  private def unescRecords(value: String): Seq[Seq[String]] =
    if (value.isEmpty) Nil
    else value.split('\t').toSeq.map { r =>
      val fields = Seq.newBuilder[String]
      val cur = new StringBuilder
      var i = 0
      while (i < r.length) {
        r(i) match {
          case '\\' if i + 1 < r.length =>
            i += 1
            cur += (r(i) match {
              case 't' => '\t'
              case 'n' => '\n'
              case 'r' => '\r'
              case c => c
            })
          case ',' => fields += cur.toString; cur.clear()
          case c => cur += c
        }
        i += 1
      }
      (fields += cur.toString).result()
    }

  /** Default bucket-tier bloom sidecar size: 2^20 bits = 128 KiB per
    * (bucket × column) — ~1% FPP at 100k distinct values per bucket.
    * A FLOOR, not a cap: each commit auto-sizes its builds up from the
    * freshly-written per-bucket row counts so a growing bucket can
    * never silently saturate its index (see writeBucketBloomIndex). */
  val DefaultBloomIndexBits: Long = 1L << 20

  /** Auto-sizing ceiling: 2^27 bits = 16 MiB per (bucket × column). */
  val MaxBloomIndexBits: Long = 1L << 27

  /** Zone-map sidecar header (format version travels with the file, so
    * an old reader refuses a future format instead of misparsing it). */
  val ZoneMapHeader = "graftzonemap\t1"

  /** One bucket's planning metadata inside a per-version STATS MANIFEST
    * (`_log/stats-v*.bin`) — the Delta-checkpoint / Iceberg-manifest-list
    * analogue: everything the scan's planning tiers used to collect from
    * per-bucket sidecar files (`_rows.txt`, `_zonemap.txt`,
    * `_bloomidx.*`, `_pspec.txt`) plus the per-file LISTING itself
    * (bucket-relative path, rows, bytes), folded into ONE file published
    * beside each manifest. Planning a snapshot is then one metadata read
    * instead of O(buckets) sidecar opens and O(files) directory walking.
    * Advisory like every sidecar: absent (pre-manifest versions, a crash
    * between manifest link and stats write) or unparsable falls back to
    * the per-bucket files. `pspec`/`zonemap` hold the RAW sidecar text
    * (same parsers both paths); `rowsTotal` -1 = bucket had no sidecar;
    * empty `files` = v1 rows sidecar (total only — listing falls back to
    * the walk). */
  private[graft] final case class BucketStats(
      commit: String, dvs: Seq[String], rowsTotal: Long,
      files: Seq[(String, Long, Long)], pspec: String,
      zonemap: Array[Byte], blooms: Seq[(String, Blob)])

  /** A manifest payload: inline bytes, or a lazy content-addressed
    * reference into `_log/blobs/`. Bloom filters (up to 2²⁷ bits per
    * bucket × column) ride as blobs so a commit's manifest re-serializes
    * O(bytes-of-refs), not O(bytes-of-blooms), and planning loads a
    * bloom only when its column is actually probed. */
  private[graft] sealed trait Blob { def length: Int; def bytes: Array[Byte] }
  private[graft] final case class InlineBlob(bytes: Array[Byte]) extends Blob {
    def length: Int = bytes.length
  }
  /** `bytes` verifies the content hash on load — the bloom tier prunes
    * at the LISTING level, where residual filters cannot recover a
    * mis-refuted bucket, so a torn/substituted blob must read as absent
    * (empty → consumers fall back to the per-bucket sidecar). */
  private[graft] final case class StoredBlob(logDir: Path, hash: String,
                                             length: Int) extends Blob {
    lazy val bytes: Array[Byte] = scala.util.Try {
      val p = logDir.resolve("blobs").resolve(hash + ".bin")
      metaReadProbe(p.toString)
      val b = Files.readAllBytes(p)
      if (blobHash(b) == hash) b else Array.empty[Byte]
    }.getOrElse(Array.empty[Byte])
  }

  /** Payloads at/above this many bytes are content-addressed instead of
    * inlined (small blooms stay in the manifest — one read, no seek). */
  private[graft] val BlobThreshold = 1024

  /** THE atomicity primitive the whole log rides on: claim `target`
    * with `tmp`'s bytes iff nothing exists there, exactly-one-winner
    * under concurrency. Everything else in the protocol — optimistic
    * version publish, stats manifests, content-addressed blobs — is
    * built so this single conditional-put is the only operation that
    * must be atomic: local filesystems implement it with a hard link
    * (create-exclusive), object stores with a conditional PUT
    * (`If-None-Match: *` on S3/GCS/Azure), and the optimistic loop is
    * agnostic to which (ConcurrencySpec proves convergence against a
    * primitive that offers NOTHING but put-if-absent — no links, no
    * rename). Contract: `tmp` is fully written before the call; the
    * primitive consumes it (deletes it win or lose); a false return
    * means some complete rival object owns `target`. */
  trait CommitPrimitive {
    def putIfAbsent(target: Path, tmp: Path): Boolean
  }

  /** Local-fs default: hard link = POSIX create-exclusive. */
  object LinkCommitPrimitive extends CommitPrimitive {
    def putIfAbsent(target: Path, tmp: Path): Boolean =
      try { Files.createLink(target, tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
      finally { Files.deleteIfExists(tmp); () }
  }

  /** Swappable for tests (a conditional-PUT mock) or an object-store
    * deployment; every claim site routes through it. */
  @volatile private[graft] var commitPrimitive: CommitPrimitive =
    LinkCommitPrimitive

  private[graft] def blobHash(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(bytes).take(16).map("%02x".format(_)).mkString

  /** Idempotent put-if-absent into `logDir/blobs` (same create-exclusive
    * link primitive as publish): concurrent writers of the same content
    * converge on one file; returns the content hash. */
  private[graft] def putBlob(logDir: Path, bytes: Array[Byte]): String = {
    val hash = blobHash(bytes)
    val dir = logDir.resolve("blobs")
    Files.createDirectories(dir)
    val target = dir.resolve(hash + ".bin")
    if (!Files.exists(target)) {
      val tmp = dir.resolve(s".tmp-${UUID.randomUUID()}")
      Files.write(tmp, bytes)
      commitPrimitive.putIfAbsent(target, tmp)
    }
    hash
  }

  /** Spec-only observation hook: fired with the path of every metadata
    * FILE the planning tiers physically read (stats manifest, rows/zone/
    * bloom/pspec sidecars), so a spec can assert the consolidated path
    * costs ONE read where the per-bucket path costs O(buckets). No-op in
    * production. */
  private[graft] var metaReadProbe: String => Unit = _ => ()

  private val StatsMagic = "graftstats\t1"  // legacy: all payloads inline
  private val StatsMagic2 = "graftstats\t2" // bloom payloads may be blob refs

  /** The per-version stats manifest of `tableDir` at version `v`, or
    * None when absent/unparsable (readers fall back per bucket). */
  private[graft] def readStatsManifest(tableDir: String, v: Long)
      : Option[Map[Long, BucketStats]] =
    readStatsManifestAt(Paths.get(tableDir, "_log"), v)

  /** Same, against an explicit log dir (branch logs live elsewhere). */
  private[graft] def readStatsManifestAt(logDir: Path, v: Long)
      : Option[Map[Long, BucketStats]] = {
    val p = logDir.resolve(f"stats-v$v%08d.bin")
    if (!Files.exists(p)) return None
    scala.util.Try {
      metaReadProbe(p.toString)
      val in = new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(Files.readAllBytes(p)))
      val magic = in.readUTF()
      require(magic == StatsMagic || magic == StatsMagic2,
        "foreign stats header")
      val v2 = magic == StatsMagic2
      (0 until in.readInt()).map { _ =>
        val b = in.readLong()
        val commit = in.readUTF()
        val dvs = in.readUTF().split(',').toSeq.filter(_.nonEmpty)
        val rowsTotal = in.readLong()
        val files = (0 until in.readInt())
          .map(_ => (in.readUTF(), in.readLong(), in.readLong()))
        val pspec = in.readUTF()
        val zm = new Array[Byte](in.readInt()); in.readFully(zm)
        val blooms = (0 until in.readInt()).map { _ =>
          val c = in.readUTF()
          val blob: Blob =
            if (v2 && in.readByte() == 1.toByte)
              StoredBlob(logDir, in.readUTF(), in.readInt())
            else {
              val bytes = new Array[Byte](in.readInt()); in.readFully(bytes)
              InlineBlob(bytes)
            }
          (c, blob)
        }
        b -> BucketStats(commit, dvs, rowsTotal, files, pspec, zm, blooms)
      }.toMap
    }.toOption
  }

  /** `_rows.txt` sidecar total — line 1 of the file (a v1 sidecar is
    * exactly that line; v2 appends `rel-path<TAB>rows` per file). None =
    * absent or unparsable — the advisory contract: every consumer falls
    * back to footer counts. */
  def rowsSidecarTotal(bucketDir: String): Option[Long] = {
    val p = Paths.get(bucketDir, "_rows.txt")
    if (!Files.exists(p)) None
    else {
      metaReadProbe(p.toString)
      scala.util.Try(
        Files.readString(p).linesIterator.next().trim.toLong).toOption
    }
  }

  /** Per-FILE rows from a v2 `_rows.txt` sidecar: bucket-relative path →
    * row count. None = absent, unparsable, or a v1 sidecar (total only)
    * — consumers needing file granularity must fall back. */
  def rowsSidecarPerFile(bucketDir: String): Option[Map[String, Long]] = {
    val p = Paths.get(bucketDir, "_rows.txt")
    if (!Files.exists(p)) return None
    metaReadProbe(p.toString)
    scala.util.Try {
      val lines = Files.readString(p).linesIterator.toList
      lines.head.trim.toLong // the total must parse or the sidecar is corrupt
      val perFile = lines.tail.filter(_.nonEmpty).map { l =>
        val i = l.lastIndexOf('\t')
        l.substring(0, i) -> l.substring(i + 1).toLong
      }.toMap
      if (perFile.isEmpty) None else Some(perFile)
    }.toOption.flatten
  }

  /** Physical-layout directory column names — reserved: a logical column
    * with either name would be overwritten by the write path's layout
    * derivation and stripped from the data files by `partitionBy`. */
  private[graft] val ReservedCols = Set("_b", "_p")

  /** Row-tracking id column (Delta row-tracking analogue): a stable
    * 64-bit identity assigned once per logical row at insert and carried
    * BY THE DATA through every copy-on-write rewrite (merge, update,
    * compaction, clustering, rebucket) — an incremental consumer can
    * follow a row across rewrites without diffing business keys. Freed
    * ids are never reused (`#ridhwm=` manifest header); a key deleted
    * and re-inserted is a NEW row and gets a NEW id. */
  val RidCol = "_rid"

  /** Partition-spec grammar: `days(col)` (DATE or TIMESTAMP source) or
    * `months(col)` (DATE source only — a timestamp's month needs a
    * timezone, and hidden partitioning must be session-timezone-proof;
    * a DATE's year/month are intrinsic). */
  private[graft] val SpecRe = "(days|months)\\(([A-Za-z0-9_]+)\\)".r

  /** The 2-D HILBERT index of cells (x, y) ∈ [0, 2^bits)² — a NATIVE
    * Catalyst expression (graft.functions.HilbertIndex): `doGenCode`
    * emits the classic flip-and-rotate recurrence as a tight Java loop
    * that whole-stage codegen inlines. (A first cut used the
    * `aggregate` higher-order function; HOFs are CodegenFallback and
    * the interpreted 16-round struct fold cost 23.7 s for one 600k-row
    * rewrite — the exact UDF-class trap the functions-not-UDFs rule
    * exists for, one tier further down.) Spec-pinned by its defining
    * properties (bijection + unit-step adjacency), not by a
    * transcribed reference. */
  private[graft] def hilbertIndex(x0: org.apache.spark.sql.Column,
                                  y0: org.apache.spark.sql.Column,
                                  bits: Int): org.apache.spark.sql.Column =
    graft.functions.HilbertIndex(x0.cast("long"), y0.cast("long"), bits)

  /** Driver-side metadata fan-out: independent footer opens run in
    * parallel on the global pool (one task per item, at most one per
    * core). Callers hand it ALL of a pass's files at once — the scan's
    * planning, the commit's sidecar pass, the COUNT/MIN/MAX pushdown —
    * so a many-file pass costs one footer's latency × files / cores,
    * not one fan-out per bucket. */
  private[graft] def parMap[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    Await.result(Future.traverse(items)(a => Future(f(a))), Duration.Inf)
  }

  /** Per-(file × declared column) zone-map lines from an ALREADY-open
    * footer: `file<TAB>col<TAB>type<TAB>min<TAB>max`, with `null null`
    * for an all-null column. A column is OMITTED (no line) when the file
    * lacks it, the physical/logical pairing's footer stats aren't exact
    * in Catalyst units (strings may be writer-truncated, MILLIS/INT96
    * timestamps are in file units, unsigned ints lie), any chunk's
    * statistics are missing, or a double bound is NaN — omission means
    * "cannot refute", never "empty". Doubles normalize -0.0 to 0.0 so
    * the recorded bound can never be strictly inside the SQL-comparable
    * value range. */
  private[graft] def zoneMapLines(relPath: String,
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      cols: Seq[String]): Seq[String] = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
    val schema = footer.getFileMetaData.getSchema
    val base = relPath
    def render(v: Any): String = v match {
      case d: java.lang.Double =>
        val x = if (d.doubleValue() == 0.0) 0.0 else d.doubleValue()
        java.lang.Double.toString(x) // round-trips exactly
      case other => other.toString
    }
    def cmp(a: Any, b: Any): Int = (a, b) match {
      case (x: java.lang.Integer, y: java.lang.Integer) => Integer.compare(x, y)
      case (x: java.lang.Long, y: java.lang.Long) => java.lang.Long.compare(x, y)
      case (x: java.lang.Double, y: java.lang.Double) => java.lang.Double.compare(x, y)
      case _ => throw new IllegalStateException("zonemap: mixed stat types")
    }
    def usable(v: Any): Boolean = v match {
      case d: java.lang.Double => !d.isNaN
      case _: java.lang.Integer | _: java.lang.Long => true
      case _ => false
    }
    cols.flatMap { c =>
      val fieldIdx = if (schema.containsField(c)) schema.getFieldIndex(c) else -1
      if (fieldIdx < 0 || !schema.getType(fieldIdx).isPrimitive) None
      else if (schema.getType(fieldIdx).asPrimitiveType().getPrimitiveTypeName ==
          PrimitiveType.PrimitiveTypeName.BINARY &&
        schema.getType(fieldIdx).asPrimitiveType().getLogicalTypeAnnotation
          .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation])
        stringZoneLine(base, c, footer)
      else {
        val pt = schema.getType(fieldIdx).asPrimitiveType()
        val typ: Option[String] = pt.getPrimitiveTypeName match {
          case PrimitiveType.PrimitiveTypeName.INT32 =>
            pt.getLogicalTypeAnnotation match {
              case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => Some("date")
              case null => Some("int")
              case _ => None
            }
          case PrimitiveType.PrimitiveTypeName.INT64 =>
            pt.getLogicalTypeAnnotation match {
              case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
                if ts.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS =>
                Some("timestamp")
              case null => Some("bigint")
              case _ => None
            }
          case PrimitiveType.PrimitiveTypeName.DOUBLE => Some("double")
          case _ => None
        }
        typ.flatMap { t =>
          var lo: Any = null; var hi: Any = null
          var ok = true; var sawValue = false
          footer.getBlocks.asScala.foreach { blk =>
            if (ok) blk.getColumns.asScala.find(_.getPath.toDotString == c) match {
              case None => ok = false
              case Some(chunk) =>
                val st: org.apache.parquet.column.statistics.Statistics[_] =
                  chunk.getStatistics
                if (st == null || st.isEmpty) ok = false
                else if (st.hasNonNullValue) {
                  val mn = st.genericGetMin; val mx = st.genericGetMax
                  if (!usable(mn) || !usable(mx)) ok = false
                  else {
                    sawValue = true
                    if (lo == null || cmp(mn, lo) < 0) lo = mn
                    if (hi == null || cmp(mx, hi) > 0) hi = mx
                  }
                } else if (!(st.isNumNullsSet && st.getNumNulls == chunk.getValueCount))
                  ok = false // can't distinguish all-null from missing stats
            }
          }
          if (!ok) None
          else if (!sawValue) Some(s"$base\t$c\t$t\tnull\tnull")
          else Some(s"$base\t$c\t$t\t${render(lo)}\t${render(hi)}")
        }
      }
    }
  }

  /** TRUNCATED string bounds for the zone-map sidecar (`string:t16`,
    * Iceberg `truncate(col, 16)` semantics): recorded are an explicit
    * LOWER bound — the 16-byte prefix of the file's min (a prefix sorts
    * ≤ its full string in the unsigned byte order Spark strings compare
    * under) — and an explicit UPPER bound — the 16-byte prefix of the
    * max with its last byte incremented, which sorts ≥ anything sharing
    * the prefix ("*" when all 16 bytes are 0xFF and no finite 16-byte
    * bound exists). These are BOUNDS, not exact extrema, which is why
    * they are sound for range REFUTATION no matter what statistics
    * truncation the parquet writer itself applied (a writer-truncated
    * min is already a valid lower bound; a truncated max is rounded UP
    * per the format spec) — and exactly why the MIN/MAX aggregate
    * pushdown still refuses strings: a bound is not the extremum.
    * Base64-rendered (TSV-safe; byte order preserved at compare time by
    * decoding first). */
  private def stringZoneLine(base: String, c: String,
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata): Option[String] = {
    var lo: Array[Byte] = null; var hi: Array[Byte] = null
    var ok = true; var sawValue = false
    footer.getBlocks.asScala.foreach { blk =>
      if (ok) blk.getColumns.asScala.find(_.getPath.toDotString == c) match {
        case None => ok = false
        case Some(chunk) =>
          val st: org.apache.parquet.column.statistics.Statistics[_] =
            chunk.getStatistics
          if (st == null || st.isEmpty) ok = false
          else if (st.hasNonNullValue) (st.genericGetMin, st.genericGetMax) match {
            case (mn: org.apache.parquet.io.api.Binary,
                  mx: org.apache.parquet.io.api.Binary) =>
              sawValue = true
              val mnB = mn.getBytes; val mxB = mx.getBytes
              if (lo == null || java.util.Arrays.compareUnsigned(mnB, lo) < 0) lo = mnB
              if (hi == null || java.util.Arrays.compareUnsigned(mxB, hi) > 0) hi = mxB
            case _ => ok = false
          }
          else if (!(st.isNumNullsSet && st.getNumNulls == chunk.getValueCount))
            ok = false // can't distinguish all-null from missing stats
      }
    }
    if (!ok) None
    else if (!sawValue) Some(s"$base\t$c\tstring:t16\tnull\tnull")
    else {
      val enc = java.util.Base64.getEncoder
      val lower = enc.encodeToString(lo.take(16))
      val upper =
        if (hi.length <= 16) enc.encodeToString(hi) // whole max: exact bound
        else {
          val hiP = hi.take(16)
          val idx = hiP.lastIndexWhere(b => (b & 0xFF) != 0xFF)
          if (idx < 0) "*" // all 0xFF: no finite 16-byte upper bound
          else {
            val out = hiP.take(idx + 1)
            out(idx) = (out(idx) + 1).toByte
            enc.encodeToString(out)
          }
        }
      Some(s"$base\t$c\tstring:t16\t$lower\t$upper")
    }
  }

  /** Create a new table at `dir` from `base` (version 0). `bloomCols`
    * columns get a parquet bloom filter in every data file from the
    * first commit on (see [[TxTable.bloomColumns]]). */
  def create(spark: SparkSession, dir: String, base: DataFrame,
             keyCols: Seq[String], numBuckets: Int = 16,
             bloomCols: Seq[String] = Nil,
             clusterCols: Seq[String] = Nil,
             zoneMapCols: Seq[String] = Nil,
             rowTracking: Boolean = false): TxTable = {
    val t = new TxTable(spark, dir, keyCols)
    require(t.version < 0, s"table already exists at $dir")
    if (bloomCols.nonEmpty) t.setBloomColumns(bloomCols)
    if (clusterCols.nonEmpty) t.setClusterColumns(clusterCols)
    if (zoneMapCols.nonEmpty) t.setZoneMapColumns(zoneMapCols)
    // Row tracking (opt-in, fixed at create like the merge keys): assign
    // every base row its id here; from then on presence of the column in
    // the logical schema routes every rewrite through id preservation.
    val (base2, hwm) =
      if (!rowTracking) (base, 0L)
      else {
        require(!base.columns.contains(RidCol),
          s"$RidCol is assigned by the engine — drop it from the base frame")
        val emptyRids = base.select(keyCols.map(col): _*).limit(0)
          .withColumn(RidCol, lit(0L))
        t.assignRids(base, emptyRids, numBuckets, 0L)
      }
    val commit = t.writeCommit(base2, numBuckets)
    // v0's record starts the chain every later version carries forward;
    // its schema lets an all-rows-deleted version still serve an empty
    // snapshot with correct columns.
    require(t.publish(Pin(0L, "create", numBuckets, hwm,
        t.bucketsIn(commit).map(_ -> BucketRef(commit, Nil)).toMap,
        base2.schema.toDDL, Map.empty, Map.empty, Map.empty, t.dataDir)),
      s"concurrent create at $dir")
    // Persist the merge keys: the table is SELF-DESCRIBING, so catalog
    // consumers (GraftCatalog, the DSv2 connector without a keys option)
    // can open it from the directory alone. Keys are fixed at create time
    // — the bucketing hash is derived from them, so they can never change
    // without a rebucket-equivalent rewrite.
    Files.writeString(Paths.get(dir, "_log", "keys.txt"), keyCols.mkString(","))
    t
  }

  /** The merge keys a table at `dir` was created with (the `keys.txt`
    * sidecar) — None for pre-sidecar tables, which need explicit keys. */
  def keysOf(dir: String): Option[Seq[String]] = {
    val p = Paths.get(dir, "_log", "keys.txt")
    if (Files.exists(p)) Some(Files.readString(p).trim.split(',').toSeq.map(_.trim))
    else None
  }

  /** Attach to an existing table (manifest log already present; its
    * bucket count is read from each version's manifest). */
  def open(spark: SparkSession, dir: String, keyCols: Seq[String]): TxTable =
    new TxTable(spark, dir, keyCols)

  /** Recursively delete a table directory (test/teardown helper). */
  def drop(dir: String): Unit = {
    def rec(p: Path): Unit = {
      if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
        val s = Files.list(p)
        val children = try s.iterator().asScala.toList finally s.close()
        children.foreach(rec)
      }
      Files.deleteIfExists(p)
    }
    rec(Paths.get(dir))
  }
}
