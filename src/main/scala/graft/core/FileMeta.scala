package graft.core

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Immutable file metadata, read once per JVM.
  *
  *  - ONE Hadoop configuration: `new Configuration()` re-parses
  *    `core-default.xml` and the other default resources on first use —
  *    a parse every footer probe and every file a reader opened used to
  *    pay (most of the planning fan-out's CPU). The base loads lazily,
  *    once; every site takes an independent copy ([[hadoopConf]]), which
  *    clones the parsed properties instead of re-parsing them.
  *  - ONE metadata cache ([[cached]]) holding parsed parquet footers,
  *    parsed bloom sketches, commit dirs' write-time schemas and small
  *    driver values derived from input files ([[derived]]). Every
  *    driver-side footer read goes through [[footer]]: scan planning,
  *    COUNT/MIN/MAX pushdown, the commit's sidecar pass (so the first
  *    scan after a commit hits) and [[Tables]]' sizing probes.
  *  - ONE plain parquet read ([[parquet]]): every `spark.read.parquet`
  *    in the engine takes its schema from a cached footer, so opening a
  *    corpus table or an artifact schedules no inference job.
  */
private[graft] object FileMeta {
  private lazy val base: Configuration = {
    val c = new Configuration()
    // Copies inherit the loader; pin it to the engine's, not whichever
    // thread (driver or task) happened to load the base first.
    c.setClassLoader(getClass.getClassLoader)
    c.size() // parse the default resources now, once
    c
  }

  /** An independent Hadoop configuration: a `set` on one copy is seen
    * neither by another copy nor by the base. */
  def hadoopConf(): Configuration = new Configuration(base)

  /** Keys are staleness-proof by construction: a file's entry is keyed
    * by (path, size, mtime-nanos), and graft files live in immutable,
    * randomly named commit dirs (which key their schemas); a manifest
    * blob's entry by its CONTENT HASH. Graft never rewrites a file in
    * place, and a dropped and re-created table writes new paths; a file
    * replaced from outside gets a new mtime. Only successful loads cache
    * (failures re-try their fallbacks). Bounded by estimated payload
    * bytes — overflow clears the whole map, blooms and schemas included
    * (advisory: the next plan reloads). Nothing evicts a vacuumed or
    * dropped file's entry; it stays until an overflow clears it, so the
    * cap is the bound on a long-running writer's metadata memory. */
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, (Long, AnyRef)]()
  private val cacheBytes = new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] val CapBytes = 256L * 1024 * 1024

  private def lookup[V <: AnyRef](key: String): Option[V] =
    Option(cache.get(key)).map(_._2.asInstanceOf[V])

  private def put(key: String, value: AnyRef, bytes: Long): Unit = {
    if (cacheBytes.addAndGet(bytes) > CapBytes) {
      cache.clear(); cacheBytes.set(bytes)
    }
    cache.put(key, (bytes, value))
  }

  /** The cached value under `key`, or `load`'s, cached when defined.
    * `weigh` estimates a loaded value's heap bytes. */
  def cached[V <: AnyRef](key: String, weigh: V => Long)(load: => Option[V]): Option[V] =
    lookup[V](key).orElse {
      val v = load
      v.foreach(x => put(key, x, weigh(x)))
      v
    }

  /** A small driver value derived from the files under `inputs` (files
    * or dirs, walked), cached by input identity: the key is `key` plus
    * the [[stamp]] of every regular file under `inputs`, so rebuilding,
    * rewriting or touching an input misses and recomputes. Only values
    * that are functions of the input files belong here (an artifact's
    * centroids, a corpus table's sorted keys) — never a request's
    * result. Shares [[cached]]'s cap: an overflow clears it too. */
  def derived[V <: AnyRef](key: String, inputs: Seq[String], weigh: V => Long)(compute: => V): V = {
    import java.nio.file.{Files, Paths}
    val stamps = inputs.flatMap { in =>
      val p = Paths.get(in)
      if (!Files.exists(p)) Seq(s"$p:absent")
      else {
        val s = Files.walk(p)
        try s.iterator().asScala.filter(Files.isRegularFile(_)).map(stamp).toList.sorted
        finally s.close()
      }
    }
    val k = ("d:" +: key +: stamps).mkString("\u0000")
    lookup[V](k).getOrElse {
      val v = compute
      put(k, v, weigh(v) + 2L * k.length)
      v
    }
  }

  /** The identity part of a file's cache key: (path, size, mtime-nanos). */
  def stamp(file: java.nio.file.Path): String = {
    val a = java.nio.file.Files.readAttributes(file,
      classOf[java.nio.file.attribute.BasicFileAttributes])
    s"$file:${a.size}:${a.lastModifiedTime.to(java.util.concurrent.TimeUnit.NANOSECONDS)}"
  }

  /** A parquet file's parsed footer, and whether the cache served it. */
  def footerOf(file: String): (ParquetMetadata, Boolean) = {
    val key = "p:" + stamp(java.nio.file.Paths.get(file))
    lookup[ParquetMetadata](key) match {
      case Some(m) => (m, true)
      case None =>
        // Read options built from the copy: the option-less `open` would
        // construct (and parse) a Configuration of its own per file.
        val conf = hadoopConf()
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(file), conf),
          org.apache.parquet.HadoopReadOptions.builder(conf).build())
        val m = try r.getFooter finally r.close()
        put(key, m, footerBytes(m))
        (m, false)
    }
  }

  def footer(file: String): ParquetMetadata = footerOf(file)._1

  /** `spark.read.parquet(paths*)` with the data schema taken from a
    * cached footer ([[parquetSchema]]) instead of inferred: Spark's
    * inference runs one job per read to fetch a footer (~80 ms warm,
    * against ~8 ms for the same read with its schema supplied).
    * Partition columns are still inferred from `k=v` paths. Paths with
    * no readable data file (missing, empty, globbed or non-local) take
    * Spark's own path, which infers or raises as it always did. Reads
    * that MERGE per-file schemas (`mergeSchema`) are not this. */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    schemaFile(paths) match {
      case Some(f) => spark.read.schema(schemaOf(spark, f)).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** The data schema `spark.read.parquet(paths*)` would infer (without
    * `k=v` partition columns), from the same file Spark's non-merging
    * inference reads, through the footer cache: no Spark job. The
    * conversion follows the session's parquet conf at call time. */
  def parquetSchema(spark: SparkSession, paths: String*): StructType =
    schemaFile(paths) match {
      case Some(f) => schemaOf(spark, f)
      case None => spark.read.parquet(paths: _*).schema
    }

  private def schemaOf(spark: SparkSession, file: String): StructType =
    org.apache.spark.sql.graftbridge.Bridge.parquetSchema(spark, file, footer(file))

  /** The file Spark's non-merging inference picks over the leaf files
    * of `paths`, in path order: the first `_common_metadata`, else the
    * first `_metadata`, else the first data file. Leaves are listed as
    * Spark's file index lists them — `_`/`.`-prefixed names (files and
    * dirs) are hidden unless they hold a `=`, and dirs are walked. None
    * when a path does not exist locally or no leaf exists. */
  private def schemaFile(paths: Seq[String]): Option[String] = {
    import java.nio.file.{Files, Path, Paths}
    def hidden(n: String) =
      !n.startsWith("_common_metadata") && !n.startsWith("_metadata") &&
        ((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
          n.endsWith("._COPYING_"))
    def leaves(p: Path): Iterator[Path] =
      if (!Files.isDirectory(p)) Iterator(p)
      else {
        val s = Files.list(p)
        val kids = try s.iterator().asScala.toList finally s.close()
        kids.iterator.filterNot(k => hidden(k.getFileName.toString)).flatMap(leaves)
      }
    val roots = paths.map(p => Paths.get(p).toAbsolutePath.normalize)
    if (roots.isEmpty || !roots.forall(Files.exists(_))) return None
    val files = roots
      .filter(r => Files.isDirectory(r) || !hidden(r.getFileName.toString))
      .flatMap(leaves).map(_.toString).sorted
    def named(n: String) = files.find(_.endsWith("/" + n))
    named("_common_metadata").orElse(named("_metadata"))
      .orElse(files.find(f => !f.endsWith("/_common_metadata") && !f.endsWith("/_metadata")))
  }

  def rowCount(m: ParquetMetadata): Long = m.getBlocks.asScala.iterator.map(_.getRowCount).sum

  /** Estimated heap bytes of a parsed footer: fixed costs per file,
    * field and column chunk, plus the statistics' min/max bytes and the
    * key-value metadata (Spark's schema JSON). Checked against the heap
    * growth of 400 held copies of a one-row-group graft file's footer
    * (JDK 17, compressed oops): 5 columns, 4,099 bytes measured vs 3,863
    * estimated; 2 columns, 2,153 vs 2,256. */
  private def footerBytes(m: ParquetMetadata): Long = {
    val fm = m.getFileMetaData
    val kv = fm.getKeyValueMetaData.asScala.iterator
      .map { case (k, v) => 2L * (k.length + v.length) }.sum
    val chunks = m.getBlocks.asScala.iterator.flatMap(_.getColumns.asScala).map { c =>
      val st = c.getStatistics
      256L + (if (st == null || !st.hasNonNullValue) 0L
              else st.getMinBytes.length + st.getMaxBytes.length)
    }.sum
    1024L + 128L * fm.getSchema.getFieldCount + kv + chunks
  }
}
