package graft.etl

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-once ETL artifacts (ML models, ANN indexes, degree tables) keyed
  * by scale-factor directory — the pattern that separates index/model
  * CONSTRUCTION (a scheduled ETL job; full corpus pass) from the query
  * path (probe/load only). Local filesystem here; at 100 TB the same
  * layout lands on object storage behind a catalog entry, and `exists`
  * becomes a catalog lookup.
  *
  * One publish rule: an artifact built in more than one step goes
  * through [[frozen]], so a dir at its path is complete and is never
  * written again. The exception is an artifact written by ONE Spark job
  * ([[ensureParquet]], the `FileFormats` round-trip writers, the ANN
  * indexes, and [[ensureBucketed]], whose files sit under a catalog
  * table's `LOCATION`): its job commit writes Spark's own `_SUCCESS`
  * after every file, and [[exists]] checks that.
  */
object Artifacts {

  def root: String =
    sys.env.getOrElse("SPARK_GRAFT_ARTIFACT_DIR", "/tmp/graft_artifacts")

  /** Bump when any artifact's derivation changes: artifacts outlive the
    * process, so a code change without a version bump would silently serve
    * stale tables built by the previous definition. */
  val Version = "v5" // v5: a TxTable manifest carries its version record
                     // (schema, defaults, renames, widen) in its headers and
                     // the per-version side files are gone; TxTable reads no
                     // older log, so no artifact table built before is opened.
                     // v4: driver fixtures regenerated 2026-08-13 (events.ts
                     // now TIMESTAMP(MICROS)).

  def path(sfDir: String, name: String): String =
    s"$root/$Version/${new java.io.File(sfDir).getName}/$name"

  def exists(p: String): Boolean = new java.io.File(s"$p/_SUCCESS").exists()

  /** Read the artifact at `name`, building + persisting it first if absent.
    * `partitionCols` become physical directories — an `isin` probe on them
    * prunes partitions at the file listing, never scanning the corpus. */
  def ensureParquet(spark: SparkSession, sfDir: String, name: String,
                    partitionCols: Seq[String] = Nil)(build: => DataFrame): DataFrame = {
    val p = path(sfDir, name)
    if (!exists(p)) {
      val w = build.write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(p)
    }
    graft.core.FileMeta.parquet(spark, p)
  }

  /** Graft-TxTable artifact: data written once as a transactional graft
    * table keyed on `keys` (so the DSv2 connector serves it with bucket
    * pruning, RUNTIME join-derived pruning, row-group skipping, and
    * reported statistics — the index-complete read stack), optionally
    * sorted-compacted for effective row-group skipping on `sortBy`.
    * Returns the table directory for `spark.read.format("graft").load(dir)`. */
  def ensureTx(spark: SparkSession, sfDir: String, name: String,
               keys: Seq[String], buckets: Int, sortBy: Seq[String] = Nil)
              (build: => DataFrame): String =
    frozen(sfDir, s"tx_$name") { d =>
      val t = graft.core.TxTable.create(spark, d, build, keys, buckets)
      if (sortBy.nonEmpty) t.compact(0, sortBy)
    }

  /** The ready mark of a [[frozen]] artifact; it holds the build's value. */
  private val Mark = "_GRAFT_FROZEN"

  /** Whether a complete [[frozen]] artifact is published at `p`. */
  def isFrozen(p: String): Boolean = Files.exists(Paths.get(p, Mark))

  /** Build once, publish atomically: `build` writes the artifact into a
    * private temp dir beside `path(sfDir, name)`, the ready mark is
    * written there, and one rename publishes the dir. A build that throws
    * leaves nothing at the path; of two racing builders the loser drops
    * its copy; a dir without the mark (a crashed in-place build) is
    * replaced. Returns the published dir. */
  def frozen(sfDir: String, name: String)(build: String => Unit): String =
    publish(sfDir, name) { d => build(d); "" }.toString

  /** [[frozen]] for a build that also derives a small value the entry
    * needs later (a probe bound, a certificate): the value is frozen in
    * the mark with the artifact. Returns the dir and the value. */
  def frozenValue(sfDir: String, name: String)(build: String => String): (String, String) = {
    val dir = publish(sfDir, name)(build)
    (dir.toString, Files.readString(dir.resolve(Mark)))
  }

  private def publish(sfDir: String, name: String)(build: String => String): Path = {
    val dst = Paths.get(path(sfDir, name))
    if (!isFrozen(dst.toString)) {
      Files.createDirectories(dst.getParent)
      // No leading '.' or '_': Spark's file listing skips such names.
      val tmp = Files.createTempDirectory(dst.getParent, s"$name.tmp-")
      try {
        Files.writeString(tmp.resolve(Mark), build(tmp.toString))
        if (Files.exists(dst) && !isFrozen(dst.toString)) graft.core.TxTable.drop(dst.toString)
        try Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.io.IOException if isFrozen(dst.toString) => () } // a rival won
      } finally graft.core.TxTable.drop(tmp.toString)
    }
    dst
  }

  /** Copy the tree under `from` to `to` (a private working copy of a
    * published artifact), except the files `keep` rejects; returns where
    * those would have gone under `to`. */
  def copyTree(from: String, to: String, keep: Path => Boolean = _ => true): Seq[Path] = {
    import scala.jdk.CollectionConverters._
    val src = Paths.get(from)
    val s = Files.walk(src)
    try s.iterator().asScala.toList.flatMap { p =>
      val q = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) { Files.createDirectories(q); None }
      else if (keep(p)) { Files.copy(p, q, StandardCopyOption.REPLACE_EXISTING); None }
      else Some(q)
    } finally s.close()
  }

  /** Bucketed-table artifact: data written once hash-bucketed (+ sorted)
    * on the join key; later sessions re-attach the bucket spec with an
    * external CREATE TABLE over the same files. Joins between tables
    * bucketed on the same key run with NO shuffle exchange — the 100 TB
    * co-located-join layout (fact tables bucketed at ingest, every
    * key-join afterwards exchange-free). Returns the catalog table name. */
  def ensureBucketed(spark: SparkSession, sfDir: String, name: String,
                     bucketCol: String, buckets: Int)(build: => DataFrame): String = {
    val table = s"graft_${name}_${new java.io.File(sfDir).getName.replace('.', '_')}"
    val p = path(sfDir, s"bucketed_$name")
    if (!exists(p)) {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      build.write.mode("overwrite")
        .bucketBy(buckets, bucketCol).sortBy(bucketCol)
        .option("path", p).format("parquet").saveAsTable(table)
    } else if (!spark.catalog.tableExists(table)) {
      // Fresh session, files already on disk: re-attach the bucket spec
      // (bucket ids live in the file names; the catalog entry makes the
      // reader trust them).
      val ddl = graft.core.FileMeta.parquetSchema(spark, p).toDDL
      spark.sql(
        s"""CREATE TABLE $table ($ddl) USING PARQUET
           |CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol) INTO $buckets BUCKETS
           |LOCATION '$p'""".stripMargin)
    }
    table
  }
}
