package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source rules over `src/main/scala`, and where a rule says so over the
  * specs, that no compiler enforces. The one-off probes under
  * `graft/tools` are exempt unless a rule says otherwise. Comment lines
  * are skipped, so prose may name the patterns. */
class LintSpec extends AnyFunSuite {

  /** (path relative to src/main/scala, source with comment lines blanked),
    * `graft/tools` included. */
  private lazy val allSources: Seq[(String, String)] = under("src/main/scala")

  /** The specs but this one (its patterns name what they look for), keyed
    * `test/` + path relative to src/test/scala. */
  private lazy val specSources: Seq[(String, String)] =
    under("src/test/scala").map { case (f, src) => s"test/$f" -> src }
      .filterNot(_._1 == "test/graft/LintSpec.scala")

  private def under(dir: String): Seq[(String, String)] = {
    val root = Paths.get(dir)
    val s = Files.walk(root)
    val files = try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
                finally s.close()
    files.map(f => root.relativize(f).toString -> code(f)).sortBy(_._1)
  }

  private def isTool(f: String): Boolean = f.startsWith("graft/tools/")

  private lazy val sources: Seq[(String, String)] = allSources.filterNot(s => isTool(s._1))

  private def code(f: Path): String =
    Files.readAllLines(f).asScala.map { l =>
      val t = l.trim
      if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) "" else l
    }.mkString("\n")

  /** `read` then option/format/schema calls then `.parquet(`, across
    * lines; group 1 is the chain between them. */
  private val parquetRead =
    """\bread((?:\s*\.\s*(?:option|options|format|schema)\s*\((?:[^()]|\([^()]*\))*\))*)\s*\.\s*parquet\s*\(""".r

  test("plain parquet reads go through FileMeta.parquet") {
    // A read without an explicit schema makes Spark run a job to infer
    // one from a footer; FileMeta.parquet takes it from the footer cache.
    // A mergeSchema read needs every file's footer, so it stays Spark's.
    val reads = sources.flatMap { case (f, src) =>
      parquetRead.findAllMatchIn(src).map(m => (f, m.group(1))).toSeq
    }
    val plain = reads.filterNot { case (_, chain) => chain.contains(".schema") }
    val offending = plain.filterNot { case (f, chain) =>
      f == "graft/core/FileMeta.scala" || chain.contains("\"mergeSchema\"")
    }
    assert(offending.isEmpty,
      s"plain spark.read.parquet outside FileMeta: ${offending.map(_._1).distinct.mkString(", ")}")
    // The pattern must still see the reads it allows, or it checks nothing.
    assert(plain.exists(_._1 == "graft/core/FileMeta.scala"))
    assert(plain.exists { case (f, c) => f == "graft/core/TxTable.scala" && c.contains("mergeSchema") })
    assert(reads.exists(_._2.contains(".schema")))
  }

  test("only FileMeta builds a Hadoop Configuration from the defaults") {
    // `new Configuration()` re-parses core-default.xml and friends; every
    // other site copies FileMeta's parsed base with FileMeta.hadoopConf().
    val fresh = """new\s+(?:org\.apache\.hadoop\.conf\.)?Configuration\s*\(\s*\)""".r
    val sites = sources.filter { case (_, src) => fresh.findFirstIn(src).isDefined }.map(_._1)
    assert(sites == Seq("graft/core/FileMeta.scala"),
      s"new Configuration() outside FileMeta: ${sites.mkString(", ")}")
  }

  test("only Session builds a Spark session") {
    // One definition, so the bench, the gate, the tools and the specs
    // run the same settings.
    val builder = """SparkSession\s*\.\s*builder\b""".r
    val sites = allSources.filter { case (_, src) => builder.findFirstIn(src).isDefined }.map(_._1)
    assert(sites == Seq("graft/core/Session.scala"),
      s"SparkSession.builder outside Session: ${sites.mkString(", ")}")
  }

  test("outside the tools, only Session changes session or Hadoop settings") {
    // An entry or spec that sets a key and does not restore it changes
    // every later plan in the session; Session.withConf scopes a change to
    // one call. Any use of the shared Hadoop configuration counts, since a
    // local alias of it can be set under any name. Graph.personEdgesU
    // keeps one set for sessions built outside Session (its comment says
    // why); SessionSpec reads the shared configuration to check that
    // nothing wrote it.
    val write = """\.conf\s*\.\s*(?:set|unset)\w*\s*\(|\bhadoopConfiguration\b""".r
    val def_ = """\bdef\s+(\w+)""".r
    val sites = (allSources ++ specSources).flatMap { case (f, src) =>
      write.findAllMatchIn(src).map { m =>
        (f, def_.findAllMatchIn(src.substring(0, m.start)).toSeq.lastOption.map(_.group(1)))
      }
    }
    def allowed(site: (String, Option[String])): Boolean = site match {
      case ("graft/core/Session.scala", _) => true
      case ("graft/core/Graph.scala", Some("personEdgesU")) => true
      case ("test/graft/SessionSpec.scala", Some("settings")) => true
      case (f, _) => isTool(f)
    }
    val offending = sites.filterNot(allowed)
    assert(offending.isEmpty,
      s"session or Hadoop settings changed outside Session: ${offending.distinct.mkString(", ")}")
    // The pattern must still see the sites it allows, or it checks nothing.
    assert(sites.contains(("graft/core/Session.scala", Some("withConf"))))
    assert(sites.contains(("graft/core/Graph.scala", Some("personEdgesU"))))
    assert(sites.contains(("test/graft/SessionSpec.scala", Some("settings"))))
    assert(write.findFirstIn("val hconf = spark.sparkContext.hadoopConfiguration").isDefined)
    assert(write.findFirstIn("spark.conf.set(key, v)").isDefined)
  }

  test("only Artifacts names a build-once ready mark") {
    // Artifacts.frozen writes the one ready mark and publishes an artifact
    // by renaming its dir, so no entry or spec writes, deletes or reads a
    // marker file (and none can leave a half-built or rewritten artifact
    // behind one). The old mark and side-file names count too.
    val mark = """_GRAFT_FROZEN|_GRAFT_READY|_ARTIFACT_READY|_GRAFT_BOUNDS""".r
    val sites = (allSources ++ specSources)
      .filter { case (_, src) => mark.findFirstIn(src).isDefined }.map(_._1)
    // The pattern must still see the site it allows, or it checks nothing.
    assert(sites == Seq("graft/etl/Artifacts.scala"),
      s"ready-mark names outside Artifacts: ${sites.filterNot(_ == "graft/etl/Artifacts.scala").mkString(", ")}")
  }

  test("GraphOps holds the reference surface: no table lifecycle, no pinned result") {
    // The storage-lifecycle demos live in graft.lifecycle, where
    // Lifecycle.demo owns the temp dirs and the result.
    val lifecycle = """TxTable\s*\.\s*(?:create|drop)\b|createTempDirectory|\.localCheckpoint\s*\(""".r
    val sites = allSources.flatMap { case (f, src) => lifecycle.findAllIn(src).map(f -> _) }
    val inGraphOps = sites.filter(_._1 == "graft/ops/GraphOps.scala")
    assert(inGraphOps.isEmpty, s"GraphOps calls: ${inGraphOps.map(_._2).distinct.mkString(", ")}")
    // The pattern must still see each call where it is allowed.
    Seq("TxTable.create", "TxTable.drop", "createTempDirectory", ".localCheckpoint(")
      .foreach(c => assert(sites.exists(_._2.replaceAll("\\s", "").startsWith(c)), c))
  }

  test("in graft.lifecycle and StreamingOps only Lifecycle makes an entry's dirs and result") {
    // Lifecycle.demo makes the temp dirs and collects the result into a
    // local relation; a demo may still pin an intermediate, on one
    // `val x = … .localCheckpoint()` line, which the demo releases.
    val scoped = allSources.filter { case (f, _) =>
      f.startsWith("graft/lifecycle/") || f == "graft/streaming/StreamingOps.scala"
    }
    val owner = "graft/lifecycle/Lifecycle.scala"
    val makes = """createTempDirectory|Session\s*\.\s*released\b""".r
    val makers = scoped.filter { case (_, src) => makes.findFirstIn(src).isDefined }.map(_._1)
    assert(makers == Seq(owner), s"temp dirs or results made outside Lifecycle: ${makers.mkString(", ")}")
    val pin = """(?m)^\s*val \w+ = [^\n]*\.localCheckpoint\(\)\s*$""".r
    val checkpoints = scoped.flatMap { case (f, src) =>
      src.split("\n").toSeq.filter(_.contains(".localCheckpoint(")).map(f -> _)
    }
    val unpinned = checkpoints.filterNot { case (_, l) => pin.findFirstIn(l).isDefined }
    assert(unpinned.isEmpty, s"localCheckpoint outside a one-line pin: ${unpinned.mkString("; ")}")
    // The patterns must still see what they allow.
    assert(checkpoints.exists { case (f, l) =>
      f == "graft/streaming/StreamingOps.scala" && l.contains("val batch = batch0.localCheckpoint()") })
    assert(checkpoints.exists(_._1 == "graft/lifecycle/Demos.scala"))
    assert(pin.findFirstIn("        .localCheckpoint()").isEmpty)
  }

  test("GraphAnalytics persists, forces and releases only in its runtime") {
    // The graph builder `graph` and the round loop `iterate` own every
    // persist and build; an entry ends through Session.released, which
    // releases what they kept. A member sits at two spaces, so nested
    // helpers count as their member.
    val ga = allSources.collect { case ("graft/plans/GraphAnalytics.scala", src) => src }.head
    val member = """(?m)^  (?:private(?:\[\w+\])?\s+)*def\s+(\w+)""".r
    val held = """\.cache\(\)|\.persist\(|unpersist|XGraph\s*\.\s*fromEdges""".r
    val sites = held.findAllMatchIn(ga).map { m =>
      member.findAllMatchIn(ga.substring(0, m.start)).toSeq.last.group(1) -> m.matched
    }.toSeq
    val runtime = Set("graph", "iterate")
    assert(sites.forall(s => runtime(s._1)),
      s"persisted or built outside the runtime in: ${sites.filterNot(s => runtime(s._1)).distinct.mkString(", ")}")
    // The pattern must still see what it allows.
    assert(sites.contains("graph" -> "XGraph.fromEdges") && sites.contains("graph" -> ".cache()"))
    assert(sites.contains("iterate" -> ".cache()"))
    Seq("g.unpersist(blocking = false)", "x.persist(StorageLevel.MEMORY_AND_DISK)")
      .foreach(l => assert(held.findFirstIn(l).isDefined, l))
  }

  test("no localReleasing, and no localCheckpoint in GraphAnalytics") {
    // Session.released is the one collect-and-release scope.
    val gone = """localReleasing""".r
    val pin = """\.localCheckpoint\s*\(""".r
    val named = allSources.filter { case (_, src) => gone.findFirstIn(src).isDefined }.map(_._1)
    assert(named.isEmpty, s"localReleasing in: ${named.mkString(", ")}")
    val pinned = allSources.filter { case (_, src) => pin.findFirstIn(src).isDefined }.map(_._1)
    assert(!pinned.contains("graft/plans/GraphAnalytics.scala"), "GraphAnalytics pins with localCheckpoint")
    // The patterns must still see what they look for.
    assert(pinned.contains("graft/core/TxTable.scala"))
    assert(gone.findFirstIn("GraphAnalytics.localReleasing(spark, before, df)").isDefined)
  }

  test("only Session reads the persisted-RDD registry") {
    // Session.released and Session.releaseAllBut are the one way to see
    // and release what a call persisted.
    val registry = """\bgetPersistentRDDs\b""".r
    val sites = allSources.filter { case (_, src) => registry.findFirstIn(src).isDefined }.map(_._1)
    // The pattern must still see the site it allows.
    assert(sites == Seq("graft/core/Session.scala"),
      s"getPersistentRDDs read outside Session: ${sites.filterNot(_ == "graft/core/Session.scala").mkString(", ")}")
  }

  test("src/main constructs GraftTableProvider in one place") {
    // GraftDataSource.scanOf plans a scan the way Spark's DSv2 planner
    // does; every other caller goes through it.
    val provider = """new\s+(?:graft\.sources\.)?GraftTableProvider\b""".r
    val sites = allSources.flatMap { case (f, src) => provider.findAllIn(src).map(_ => f) }
    assert(sites == Seq("graft/sources/GraftDataSource.scala"),
      s"GraftTableProvider constructed at: ${sites.mkString(", ")}")
  }

  test("TxTable publishes a version only from the commit loop and the single-claim verbs") {
    // commitLoop is the one optimistic loop; create, branch, shallowClone
    // and replaceBuckets make one claim each. A class or object member
    // sits at two spaces, so nested helpers count as their member.
    val tx = allSources.collect { case ("graft/core/TxTable.scala", src) => src }.head
    val member = """(?m)^  (?:private(?:\[\w+\])?\s+|override\s+|@\S+\s+)*def\s+(\w+)""".r
    val call = """(?<!def )\bpublish\s*\(""".r
    val callers = call.findAllMatchIn(tx).map { m =>
      member.findAllMatchIn(tx.substring(0, m.start)).toSeq.last.group(1)
    }.toSeq
    val allowed = Set("commitLoop", "create", "branch", "shallowClone", "replaceBuckets")
    assert(callers.forall(allowed), s"publish( called from: ${callers.filterNot(allowed).mkString(", ")}")
    // The pattern must still see every caller it allows.
    assert(callers.toSet == allowed, s"callers seen: ${callers.distinct.mkString(", ")}")
    // ...and no verb hand-rolls its own retry loop.
    val loop = """\bvar\s+committed\b""".r
    assert(loop.findFirstIn(tx).isEmpty, "TxTable holds a hand-rolled commit loop")
    assert(loop.findFirstIn("    var committed = -1L").isDefined)
  }

  test("a version's record lives only in its manifest: no per-version side files") {
    val side = """"[^"\n]*(?:schema-v|schema\.ddl|defaults-v|renames-v|widen-v)""".r
    val sites = allSources.filter { case (_, src) => side.findFirstIn(src).isDefined }.map(_._1)
    assert(sites.isEmpty, s"per-version side-file names in: ${sites.mkString(", ")}")
    // The pattern must still see each name in a literal.
    Seq("""f"schema-v$v%08d.ddl"""", """"schema.ddl"""", """f"defaults-v${v + 1}%08d.txt"""",
        """f"renames-v$v%08d.txt"""", """f"widen-v${v + 1}%08d.txt"""")
      .foreach(l => assert(side.findFirstIn(l).isDefined, l))
    assert(side.findFirstIn("\"stats-v\"").isEmpty)
  }
}
