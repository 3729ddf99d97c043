package graft.tools

/** Empirical scaling-curve harness — the measurement that converts the
  * library's "designed for 100×" claims into a regression-guarded number.
  *
  * Runs the asymptotic-sensitive registry subset (dedup, ANN, corpus-scale
  * GraphX, windowed analytics, text-pipeline entries — the entries whose
  * INPUT genuinely grows with sf) at increasing scale factors in ONE warmed
  * session, and fits the growth exponent `e` per entry from the largest
  * data step: `t ∝ sf^e`, so a 10× data step with a 10× time step reads
  * e = 1.0 (linear — one scan's worth of growth), a protocol-floor entry
  * reads e ≈ 0, and an accidentally quadratic plan (the class of the r11
  * PageRank lineage bug, 66.8 s before the fix) reads e ≈ 2 and FAILS the
  * run. The bound is deliberately loose (1.35): per-query constant
  * overhead (~0.3 s scheduler/codegen floor at local[32]) deflates small
  * exponents but never inflates them past linear, so anything above the
  * bound is a real asymptotic defect, not timer noise.
  *
  * Output: a markdown table on stdout (worst exponent first), the full
  * measurement as JSON at `scaling_out.json` (ScalingSpec asserts the
  * committed record stays under the bound), and exit code 1 on any
  * superlinear entry — so the harness doubles as a CI gate.
  */
object ScalingCurve {

  /** Growth exponent from one data step: t ∝ sf^e ⇒ e = log(tHi/tLo)/log(r). */
  def exponent(tLo: Double, tHi: Double, sfRatio: Double): Double = {
    require(tLo > 0 && tHi > 0 && sfRatio > 1, "exponent needs positive times and ratio > 1")
    math.log(tHi / tLo) / math.log(sfRatio)
  }

  /** The worst tolerated exponent: linear plus overhead slack. */
  val Bound = 1.35

  def classify(e: Double): String =
    if (e <= 0.25) "constant" // protocol / per-job floor dominates
    else if (e <= 0.75) "sublinear" // pruned probes, log supersteps
    else if (e <= Bound) "linear" // one scan's worth of growth
    else "SUPERLINEAR" // would not survive 100× — regression

  /** The asymptotic-sensitive subset: every dedup entry, the corpus-scale
    * GraphX family, the ANN/similarity scale paths, the heavier text
    * pipeline entries, and the window-analytics entries the rq32 rule
    * governs. Protocol-floor TxTable lifecycles and bounded-clique GraphX
    * entries are EXCLUDED by design — their cost is size-independent, so
    * a curve over them measures the scheduler, not the plan. */
  val DefaultEntries: Seq[String] = Seq(
    "dd_cdc_chunk", "dd_cluster_canonical", "dd_containment",
    "dd_contamination", "dd_edit_distance", "dd_exact", "dd_incremental",
    "dd_minhash_lsh", "dd_ngram_jaccard", "dd_semantic_cluster",
    "dd_simhash", "dd_similarity_curve", "dd_source_overlap",
    "dd_survivorship", "dd_url_dedup",
    "j1_winder_depth2",
    "gx_corpus_bfs", "gx_corpus_cc", "gx_corpus_kcore", "gx_corpus_nbrsum",
    "gx_corpus_pagerank", "gx_corpus_scc", "gx_corpus_sssp",
    "gx_corpus_triangles",
    "sim_ann_ivf_topk", "sim_ann_ivfpq_topk", "sim_ann_lsh_topk",
    "sim_ann_pq_topk", "sim_batch_topk", "sim_cosine_topk",
    "sim_hard_negatives", "sim_hybrid_rrf", "sim_neardup_pairs",
    "tx_bm25", "tx_dsir", "tx_pipeline", "tx_span_dedup", "tx_tfidf",
    "tx_tokens",
    "rq54_rolling_dau", "rq55_lift_gains", "rq72_exact_kth",
    "rq75_group_median",
    // Storage paths whose input grows with sf (the lineitem/part/
    // events-backed lifecycle entries). Two classes since r17: entries
    // that WRITE per invocation (s49/s50/s51/s53/s54/s62 — honest-linear
    // is the expectation, the gate catches an accidental second pass or
    // a driver-side O(files²)) and the build-once demos (s55/s57/s58/
    // s59/s60/s63 — their deterministic layout builds land in warmup
    // like Bench's, so the curve measures the per-invocation PROBE
    // phase, which must stay flat: a probe that grew would mean a
    // pruning tier stopped refuting). The bounded protocol demos
    // (s52/s56/s61 — ≤199-row bases) stay excluded by the
    // size-independence rule above.
    "s49_sorted_compact", "s50_bloom_point", "s51_zorder_compact",
    "s53_bucket_bloom", "s54_clustered_write", "s55_zonemap_range",
    "s57_zorder_nway", "s58_date_partition", "s59_hilbert_compact",
    "s60_stats_manifest", "s62_ranged_count", "s63_string_zonemap")

  def main(args: Array[String]): Unit = {
    val sfDirs =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    require(sfDirs.size >= 2, "scaling needs at least two scale factors")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.Session.local(cpus)
    val only: Set[String] = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(',').toSet).getOrElse(Set.empty)
    val entries = DefaultEntries.filter(n => only.isEmpty || only.contains(n))
    val qs = graft.SparkEntry.queries
    val missing = entries.filterNot(qs.contains)
    require(missing.isEmpty, s"scaling entries not in the registry: $missing")

    var failed = List.empty[(String, String)]
    // sf-major: warm each scale factor fully first (artifact builds +
    // codegen land in warmup, exactly like Bench), then min-of-2 measure.
    val measured: Seq[Map[String, Double]] = sfDirs.map { dir =>
      entries.foreach { n =>
        try qs(n)(spark, dir).count() catch { case _: Throwable => () }
        graft.core.Session.clearCaches(spark)
      }
      entries.flatMap { n =>
        val ts = (1 to 2).flatMap { _ =>
          val t0 = System.nanoTime()
          val ok = try { qs(n)(spark, dir).count(); true } catch {
            case e: Throwable => failed ::= (n, s"$dir: ${e.getMessage}"); false
          }
          val dt = (System.nanoTime() - t0) / 1e9
          graft.core.Session.clearCaches(spark)
          if (ok) Some(dt) else None
        }
        if (ts.isEmpty) None else Some(n -> ts.min)
      }.toMap
    }
    spark.stop()

    val ratio = 10.0 // the testdata SFs step by 10× per leg
    val rows = entries.flatMap { n =>
      val ts = measured.map(_.get(n))
      if (ts.exists(_.isEmpty)) None
      else {
        val t = ts.map(_.get)
        val e = exponent(t(t.size - 2), t.last, ratio)
        Some((n, t, e, classify(e)))
      }
    }.sortBy(-_._3)

    def r3(v: Double): String = f"$v%.3f"
    println(s"\n| entry | ${sfDirs.map(_.split('/').last).mkString(" s | ")} s | exponent | class |")
    println("|---|" + sfDirs.map(_ => "---|").mkString + "---|---|")
    rows.foreach { case (n, t, e, c) =>
      println(s"| $n | ${t.map(r3).mkString(" | ")} | ${r3(e)} | $c |")
    }
    val worst = rows.head
    println(s"\nworst exponent: ${worst._1} = ${r3(worst._3)} (bound $Bound)")

    val json = {
      val ents = rows.map { case (n, t, e, c) =>
        s""""$n":{"times":[${t.map(r3).mkString(",")}],"exponent":${r3(e)},"class":"$c"}"""
      }.mkString(",")
      s"""{"sf_dirs":[${sfDirs.map("\"" + _ + "\"").mkString(",")}],"ratio":$ratio,""" +
        s""""bound":$Bound,"worst":{"entry":"${worst._1}","exponent":${r3(worst._3)}},""" +
        s""""failed":[${failed.map(f => "\"" + f._1 + "\"").distinct.mkString(",")}],""" +
        s""""entries":{$ents}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "/root/repo/scaling_out.json")),
      (json + "\n").getBytes("UTF-8"))

    if (failed.nonEmpty) {
      failed.foreach { case (n, m) => System.err.println(s"[scaling] FAILED $n: $m") }
      sys.exit(1)
    }
    if (worst._3 > Bound) {
      System.err.println(s"[scaling] SUPERLINEAR: ${worst._1} e=${r3(worst._3)} > $Bound")
      sys.exit(1)
    }
  }
}
