package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** No registry entry leaves the session changed, and the order entries
  * run in changes neither an answer nor a plan. */
class SessionSpec extends AnyFunSuite {
  import TestSpark._

  /** Entries that change a session or Hadoop setting while they run. */
  private val changing = Seq(
    "s24_backfill", "s44_catalog_spj", "s47_composite_spj", "s49_sorted_compact",
    "s51_zorder_compact", "s54_clustered_write", "s55_zonemap_range", "s57_zorder_nway",
    "s59_hilbert_compact", "s60_stats_manifest", "s63_string_zonemap", "s64_sql_delete",
    "s67_sql_insert", "s68_sql_update_merge", "s14_stream_file_sink", "st_user_stats_tws",
    "st_window_counts", "rq100_sql_script", "rq9_event_window")

  /** The entries that end through `Session.released`: every
    * `graft.lifecycle.Demos` entry and the three streaming entries that
    * run through `Lifecycle.demo`, then the GraphX entries
    * (`graft.plans.GraphAnalytics`). */
  private val released = Seq(
    "s12_merge_visible", "s13_stream_merge", "s14_stream_file_sink", "s15_time_travel",
    "s17_cdc_diff", "s18_cdc_incremental", "s19_tx_schema_evolution", "s20_tx_compaction",
    "s21_mor_delete", "s25_tx_constraints", "s26_restore", "s27_rebucket",
    "s28_point_lookup", "s29_wap", "s30_history", "s31_catalog_txn", "s32_partial_compact",
    "s33_sql_time_travel", "s34_drop_column", "s35_merge_clauses", "s36_clone",
    "s37_update_where", "s38_add_column", "s39_rename_column", "s40_dsv2_read",
    "s41_change_feed", "s42_count_pushdown", "s43_minmax_pushdown", "s44_catalog_spj",
    "s45_stats_runtime", "s46_rowgroup_skip", "s47_composite_spj", "s48_concurrent_stability",
    "s49_sorted_compact", "s50_bloom_point", "s51_zorder_compact", "s52_medallion_stream",
    "s53_bucket_bloom", "s54_clustered_write", "s55_zonemap_range", "s56_widen_column",
    "s57_zorder_nway", "s58_date_partition", "s59_hilbert_compact", "s60_stats_manifest",
    "s61_delete_where", "s62_ranged_count", "s63_string_zonemap", "s64_sql_delete",
    "s65_row_lineage", "s66_column_stats", "s67_sql_insert", "s68_sql_update_merge",
    "st_user_stats_tws",
    "gx_degree_hist", "gx_family_cc", "gx_corpus_cc", "gx_corpus_scc", "gx_corpus_pagerank",
    "gx_corpus_bfs", "gx_corpus_sssp", "gx_corpus_triangles", "gx_corpus_nbrsum",
    "gx_corpus_kcore", "gx_triangles", "gx_nbr_degree_sum", "gx_pagerank", "gx_shortest_paths",
    "gx_kcore", "gx_lpa", "gx_scc", "gx_ppr",
    "dd_cluster_canonical", "dd_survivorship", "dd_semantic_cluster")

  /** Build-once entries that change a setting only while they build their
    * artifact, with the artifact's name: deleting it makes the entry build
    * again. */
  private val buildMarks = Map(
    "s55_zonemap_range" -> "tx_demo_s55", "s57_zorder_nway" -> "tx_demo_s57",
    "s59_hilbert_compact" -> "tx_demo_s59", "s60_stats_manifest" -> "tx_demo_s60",
    "s63_string_zonemap" -> "tx_demo_s63")

  /** Every explicit session setting, and the shared Hadoop configuration's
    * parquet writer sizes. */
  private def settings(): Map[String, String] = {
    val h = spark.sparkContext.hadoopConfiguration
    spark.conf.getAll ++
      Seq("parquet.block.size", "parquet.page.size")
        .flatMap(k => Option(h.get(k)).map(v => s"hadoop:$k" -> v))
  }

  /** Ids of the RDDs the session holds persisted. */
  private def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The catalogs the session has loaded. */
  private def catalogs(): Seq[String] =
    spark.sql("SHOW CATALOGS").collect().map(_.getString(0)).sorted.toSeq

  for (name <- changing) test(s"$name leaves the session settings as it found them") {
    buildMarks.get(name).foreach(a => graft.core.TxTable.drop(graft.etl.Artifacts.path(sf, a)))
    val before = settings()
    assert(SparkEntry.queries(name)(spark, sf).collect().nonEmpty, s"$name returned no rows")
    val after = settings()
    val changed = (before.keySet ++ after.keySet).toSeq.sorted
      .filter(k => before.get(k) != after.get(k))
      .map(k => s"$k: ${before.getOrElse(k, "<unset>")} -> ${after.getOrElse(k, "<unset>")}")
    assert(changed.isEmpty, s"$name changed: ${changed.mkString("; ")}")
  }

  for (name <- released) test(s"$name leaves settings, persisted RDDs and catalogs as it found them") {
    def run(): Unit =
      assert(SparkEntry.queries(name)(spark, sf).collect().nonEmpty, s"$name returned no rows")
    val (conf, rdds) = (settings(), persisted())
    run()
    assert(settings() == conf, s"$name changed a setting")
    val left = persisted() -- rdds
    assert(left.isEmpty, s"$name left ${left.size} RDDs persisted")
    // The first call may load a catalog under its fixed name; a second
    // call must not add one.
    val cats = catalogs()
    run()
    assert(catalogs() == cats, s"$name added catalogs: ${catalogs().diff(cats).mkString(", ")}")
    assert(persisted() == rdds, s"$name changed the persisted RDDs on its second call")
  }

  test("rq100 and an events entry give the same answers and plans in either order") {
    def run(name: String): (Seq[Row], String) = {
      val df = SparkEntry.queries(name)(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
        .replaceAll("#\\d+L?", "#_").replaceAll("plan_id=\\d+", "plan_id=_")
      (df.collect().toSeq, plan)
    }
    val pair = Seq("rq100_sql_script", "rq9_event_window")
    val forward = pair.map(run)
    val backward = pair.reverse.map(run).reverse
    assert(forward.map(_._1) == backward.map(_._1), "answers depend on the order")
    assert(forward.map(_._2) == backward.map(_._2), "plans depend on the order")
  }
}
