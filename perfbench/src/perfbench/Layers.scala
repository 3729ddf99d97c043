package perfbench

/** Per-layer figures of a traced run. Every name is reported on every
  * workload; a layer the workload does not call reports 0. */
object Layers {
  val ServeOps = Seq("search", "winder", "lookup", "expand1", "mates2", "ann", "subgraph", "depth2")
  val TxVerbs = Seq("merge", "lookup", "scan", "delete_where", "compact", "vacuum")
  val GxAlgos = Seq("pagerank", "cc", "kcore", "dedup_cc")
  val SpanLayers = Seq("request", "ops", "spark_plan", "spark_exec", "txtable", "graft_source",
    "graphx", "etl")

  private val SparkPerOp = Seq("jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "job_busy_ms" -> "ms", "driver_gap_ms" -> "ms", "executor_run_ms" -> "ms",
    "executor_cpu_ms" -> "ms", "task_gc_ms" -> "ms", "shuffle_bytes" -> "bytes",
    "input_bytes" -> "bytes", "input_records" -> "count", "codegen_compiles" -> "count",
    "codegen_compile_ms" -> "ms", "files_discovered" -> "count")

  /** (name, unit) of every per-layer metric, in report order. */
  val Names: Seq[(String, String)] =
    SparkPerOp.map { case (k, u) => s"spark.${k}_per_op" -> u } ++
    Seq("spark.file_cache_hit_ratio" -> "ratio", "jvm.gc_ms_per_op" -> "ms",
      "jvm.jit_ms_per_op" -> "ms",
      "etl.edges_und_s" -> "s", "etl.edges_und_ids_s" -> "s", "etl.ivf_index_s" -> "s",
      "etl.artifact_bytes" -> "bytes") ++
    ServeOps.flatMap(o => Seq(s"serve.$o.build_ms" -> "ms", s"serve.$o.plan_ms" -> "ms",
      s"serve.$o.exec_ms" -> "ms", s"serve.$o.jobs" -> "count", s"serve.$o.tasks" -> "count")) ++
    Seq("ann.recall_at_10" -> "ratio") ++
    TxVerbs.flatMap(v => Seq(s"tx.$v.p50_ms" -> "ms", s"tx.$v.jobs" -> "count",
      s"tx.$v.tasks" -> "count")) ++
    Seq("merge", "delete_where", "compact").flatMap(v =>
      Seq(s"tx.$v.bytes_written" -> "bytes", s"tx.$v.files_written" -> "count")) ++
    Seq("tx.vacuum.bytes_reclaimed" -> "bytes", "tx.lookup.rows_read_per_hit" -> "ratio",
      "tx.scan.rows_read_per_row_matched" -> "ratio", "tx.files_live" -> "count",
      "tx.versions" -> "count", "tx.write_amp" -> "ratio", "tx.space_amp" -> "ratio") ++
    GxAlgos.flatMap(g => Seq(s"gx.$g.s" -> "s", s"gx.$g.jobs" -> "count",
      s"gx.$g.tasks" -> "count", s"gx.$g.task_gc_ms" -> "ms",
      s"gx.$g.shuffle_bytes" -> "bytes", s"gx.$g.persisted_left" -> "count")) ++
    Seq("batch.pass_s" -> "s") ++
    SpanLayers.map(l => if (l == "etl") "self.etl_ms_per_setup" -> "ms" else s"self.${l}_ms_per_op" -> "ms") ++
    Seq("trace.overhead_pct" -> "%", "trace.ops_per_s" -> "1/s")

  def metrics(wl: Workload, tr: Tracer, traced: Seq[Main.Done]): Seq[(String, Double, String)] = {
    val m = scala.collection.mutable.Map[String, Double]()
    val n = math.max(1, traced.size).toDouble
    val opSpans = tr.spans.filter(_.op >= 0).groupBy(_.op)
    def totalOf(ids: Seq[Long]) = tr.total(ids.flatMap(opSpans.getOrElse(_, Nil)))
    val c = totalOf(traced.map(_.id))
    Seq("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks, "job_busy_ms" -> c.jobBusyMs,
      "executor_run_ms" -> c.execRunMs, "executor_cpu_ms" -> c.execCpuMs,
      "task_gc_ms" -> c.taskGcMs, "shuffle_bytes" -> c.shuffleBytes, "input_bytes" -> c.inputBytes,
      "input_records" -> c.inputRecords, "codegen_compiles" -> c.compiles,
      "codegen_compile_ms" -> c.compileMs, "files_discovered" -> c.filesDiscovered)
      .foreach { case (k, v) => m(s"spark.${k}_per_op") = v / n }
    m("spark.driver_gap_ms_per_op") = traced.map { d =>
      math.max(0.0, d.ns / 1e6 - totalOf(Seq(d.id)).jobBusyMs)
    }.sum / n
    val looked = c.fileCacheHits + c.filesDiscovered
    m("spark.file_cache_hit_ratio") = if (looked == 0) 0.0 else c.fileCacheHits.toDouble / looked
    m("jvm.gc_ms_per_op") = c.gcMs / n
    m("jvm.jit_ms_per_op") = c.jitMs / n

    /** Median duration of the spans called `name`: set-up spans for ETL,
      * timed requests' spans otherwise. */
    def spanMedianMs(name: String, setup: Boolean = false) =
      Main.median(tr.spans.filter(s => s.name == name && (s.op < 0) == setup)
        .map(s => (s.end - s.start) / 1e6).toSeq)
    def byKind(kind: String) = traced.filter(_.kind == kind)
    def perOp(kind: String)(f: Counters => Long): Double = {
      val ds = byKind(kind)
      if (ds.isEmpty) 0.0 else f(totalOf(ds.map(_.id))).toDouble / ds.size
    }
    def p50Ms(kind: String) = Main.median(byKind(kind).map(_.ns / 1e6))

    for (e <- Seq("edges_und", "edges_und_ids", "ivf_index"))
      m(s"etl.${e}_s") = spanMedianMs(s"etl.$e", setup = true) / 1e3
    wl match {
      case _: GraphServe =>
        for (o <- ServeOps) {
          for (p <- Seq("build", "plan", "exec")) m(s"serve.$o.${p}_ms") = spanMedianMs(s"serve.$o.$p")
          m(s"serve.$o.jobs") = perOp(o)(_.jobs)
          m(s"serve.$o.tasks") = perOp(o)(_.tasks)
        }
      case t: TxMixed =>
        for (v <- TxVerbs) {
          m(s"tx.$v.p50_ms") = p50Ms(v)
          m(s"tx.$v.jobs") = perOp(v)(_.jobs)
          m(s"tx.$v.tasks") = perOp(v)(_.tasks)
        }
        def ratio(kind: String) = {
          val out = t.rowsOut(kind)
          if (out == 0) 0.0 else totalOf(byKind(kind).map(_.id)).inputRecords.toDouble / out
        }
        m("tx.lookup.rows_read_per_hit") = ratio("lookup")
        m("tx.scan.rows_read_per_row_matched") = ratio("scan")
      case _: BatchAnalytics =>
        for (g <- GxAlgos) {
          m(s"gx.$g.s") = p50Ms(g) / 1e3
          m(s"gx.$g.jobs") = perOp(g)(_.jobs)
          m(s"gx.$g.tasks") = perOp(g)(_.tasks)
          m(s"gx.$g.task_gc_ms") = perOp(g)(_.taskGcMs)
          m(s"gx.$g.shuffle_bytes") = perOp(g)(_.shuffleBytes)
        }
        m("batch.pass_s") = GxAlgos.map(g => p50Ms(g)).sum / 1e3
      case _ =>
    }
    val setupSelf = tr.selfMsByLayer(_.op < 0)
    val opSelf = tr.selfMsByLayer(_.op >= 0)
    for (l <- SpanLayers) m(s"self.${l}_ms_per_op") = opSelf.getOrElse(l, 0.0) / n
    m("self.etl_ms_per_setup") = setupSelf.getOrElse("etl", 0.0) / wl.setupReps
    m("trace.overhead_pct") = 100.0 * tr.overheadNs / math.max(1L, traced.map(_.ns).sum)
    m("trace.ops_per_s") = Main.opsPerS(traced)
    m ++= wl.layerMetrics
    Names.map { case (k, u) => (k, m.getOrElse(k, 0.0), u) }
  }
}
