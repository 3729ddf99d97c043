package graft

import graft.etl.GraphBuilder
import graft.lifecycle.Demos
import graft.ops.{GraphOps, MultimodalOps, RelOps, SimilarityOps, TextOps}
import graft.plans.GraphAnalytics
import graft.functions.MlOps
import graft.streaming.StreamingOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col => col_}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 is one entry in `queries`
  * (runnable at any sfDir) and, when SQL-expressible, one entry in
  * `oracleSql` (ANSI SQL the driver runs in DuckDB over the same parquet).
  * Column names are aliased identically on both sides; all outputs carry a
  * total order so row sets (and order) are deterministic.
  */
object SparkEntry {
  import Oracle._

  /** Flagship: the reference's Winder common-neighbors top-k (app.py:206-245)
    * over the graph projection. Driver smoke-checks rows > 0 at sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    GraphOps.winderTopK(spark, "/root/testdata/sf0.001", WinderFriends)

  /** Fixed parameters baked into the registry (exist at every sf). */
  val WinderFriends: Seq[Int] = Seq(1, 5, 9)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // —— scans / sources (SURVEY §2.1) ——
    "s1_scan_persons" -> ((s, d) => GraphOps.scanPersons(s, d)),
    "s2_ingest_clean" -> ((s, _) =>
      GraphBuilder.cleanCharacters(GraphBuilder.readCharacters(s))
        .select("name", "house", "species", "alive", "image").orderBy("name")),
    "s5_upsert_person" -> ((s, d) => GraphOps.upsertPersons(s, d)),
    // Transactional MERGE (copy-on-write TxTable): create → merge → read
    // back in-session; proves read-your-writes, not just merge dataflow.
    "s12_merge_visible" -> ((s, d) => Demos.mergeVisible(s, d)),
    // The streaming twin: stream → foreachBatch MERGE into the TxTable →
    // read back in-session (the reference's user write path as a stream).
    "s13_stream_merge" -> ((s, d) => StreamingOps.streamedTxMerge(s, d)),
    "s15_time_travel" -> ((s, d) => Demos.timeTravel(s, d)),
    // OPTIMIZE: small-file compaction over the TxTable — layout-only
    // rewrite published as a new version; oracle certifies data identity.
    "s20_tx_compaction" -> ((s, d) => Demos.txCompaction(s, d)),
    // Merge-on-read equality-delete: DV commit only, base pointers pinned.
    "s21_mor_delete" -> ((s, d) => Demos.morDelete(s, d)),
    // Bloom sidecar data skipping: point probe reads only candidate dirs.
    "s22_bloom_skip" -> ((s, d) => graft.sources.BloomSkipIndex.pointLookup(s, d)),
    // CDC-maintained postings index == from-scratch rebuild (certified).
    "s23_index_maintenance" -> ((s, d) => TextOps.indexMaintenance(s, d)),
    // Dynamic partition overwrite: backfill one corrected day in place.
    "s24_backfill" -> ((s, d) => graft.sources.FileFormats.backfillOverwrite(s, d)),
    // CHECK constraints: conforming merge lands, violator rejected atomically.
    "s25_tx_constraints" -> ((s, d) => Demos.txConstraints(s, d)),
    // RESTORE: metadata-only rollback to v0; bad version stays travelable.
    "s26_restore" -> ((s, d) => Demos.txRestore(s, d)),
    // Layout evolution: rebucket 4→16 via compact, then merge on the new layout.
    "s27_rebucket" -> ((s, d) => Demos.txRebucket(s, d)),
    // Keyed point read: k keys open at most k buckets, never the table.
    "s28_point_lookup" -> ((s, d) => Demos.txPointLookup(s, d)),
    // Write-audit-publish: stage on a branch, audit, fast-forward to main.
    "s29_wap" -> ((s, d) => Demos.txWap(s, d)),
    // DESCRIBE HISTORY: per-version op labels + row counts over 5 commits.
    "s30_history" -> ((s, d) => Demos.txHistory(s, d)),
    // Catalog-level multi-table atomic commit: no torn cross-table reads.
    "s31_catalog_txn" -> ((s, d) => Demos.catalogTxn(s, d)),
    // Incremental OPTIMIZE: only degraded buckets rewritten, converges.
    "s32_partial_compact" -> ((s, d) => Demos.txPartialCompact(s, d)),
    // Time-travel snapshots diffed in plain SQL over temp views.
    "s33_sql_time_travel" -> ((s, d) => Demos.sqlTimeTravel(s, d)),
    // Metadata-only DROP COLUMN: narrowing evolution, old versions keep it.
    "s34_drop_column" -> ((s, d) => Demos.txDropColumn(s, d)),
    // Full MERGE grammar: conditional update/delete/insert in one commit.
    "s35_merge_clauses" -> ((s, d) => Demos.txMergeClauses(s, d)),
    // Zero-copy shallow clone: independent table over shared data files.
    "s36_clone" -> ((s, d) => Demos.txClone(s, d)),
    // Predicate UPDATE ... SET ... WHERE: partial rewrite, no-op no-publish.
    "s37_update_where" -> ((s, d) => Demos.txUpdateWhere(s, d)),
    // ADD COLUMN ... DEFAULT: metadata-only widening, default served at read.
    "s38_add_column" -> ((s, d) => Demos.txAddColumn(s, d)),
    // RENAME COLUMN: metadata-only column-mapping rename on TxTable.
    "s39_rename_column" -> ((s, d) => Demos.txRenameColumn(s, d)),
    // DSv2 connector read: format("graft") with bucket + column pushdown.
    "s40_dsv2_read" -> ((s, d) => Demos.txDsv2Read(s, d)),
    // Streaming change feed: readStream over the commit log, fold == snapshot.
    "s41_change_feed" -> ((s, d) => Demos.txChangeFeed(s, d)),
    // COUNT(*) from parquet footers on clean snapshots; DVs fall back.
    "s42_count_pushdown" -> ((s, d) => Demos.txCountPushdown(s, d)),
    // MIN/MAX from parquet footer statistics; DVs and strings fall back.
    "s43_minmax_pushdown" -> ((s, d) => Demos.txMinMaxPushdown(s, d)),
    // Catalog plugin + storage-partitioned join: zero-shuffle co-bucketed
    // merge-key join through KeyGroupedPartitioning + FunctionCatalog.
    "s44_catalog_spj" -> ((s, d) => Demos.txCatalogSpj(s, d)),
    // Reported statistics pick a hint-free broadcast; runtime IN filters
    // prune buckets at execution (the DSv2 DPP shape).
    "s45_stats_runtime" -> ((s, d) => Demos.txStatsRuntime(s, d)),
    // Parquet row-group skipping: pushed non-key predicates prune row
    // groups via footer statistics in both connector read paths.
    "s46_rowgroup_skip" -> ((s, d) => Demos.txRowGroupSkip(s, d)),
    // Composite-key storage-partitioned join via the _graft_bucket
    // metadata column: zero-shuffle 2-key merge joins + bucket pruning.
    "s47_composite_spj" -> ((s, d) => Demos.txCompositeSpj(s, d)),
    // Parquet bloom filters on declared point-lookup columns: EqualTo/In
    // refutes row groups on a RANDOM layout where min/max stats cannot.
    "s50_bloom_point" -> ((s, d) => Demos.txBloomPoint(s, d)),
    // Bucket-tier bloom index: per-bucket sidecars refute whole buckets
    // at planning for non-key point lookups, before any footer I/O.
    "s53_bucket_bloom" -> ((s, d) => Demos.txBucketBloomIndex(s, d)),
    // End-to-end medallion hop: change-feed stream -> foreachBatch fold ->
    // MERGE into a downstream TxTable, kill-and-resume exactly-once.
    "s52_medallion_stream" -> ((s, d) => Demos.txMedallionStream(s, d)),
    // CDC read over the TxTable: row-level insert/update/delete between
    // two versions, scan pruned to manifest-repointed buckets only.
    "s17_cdc_diff" -> ((s, d) => Demos.cdcDiff(s, d)),
    // CDC folded into a downstream aggregate + certified against the
    // direct head-snapshot recompute — incremental view maintenance.
    "s18_cdc_incremental" -> ((s, d) => Demos.cdcIncrementalAgg(s, d)),
    // Widening MERGE on the transactional table: schema evolves in place,
    // pre-evolution rows serve typed NULL for the new column.
    "s19_tx_schema_evolution" -> ((s, d) => Demos.txSchemaEvolution(s, d)),
    "s14_stream_file_sink" -> ((s, d) => StreamingOps.streamedFileSink(s, d)),
    "s7_graph_json" -> ((s, d) => GraphOps.graphJson(s, d, 3)),
    "s8_csv_roundtrip" -> ((s, d) => graft.sources.FileFormats.csvRoundTrip(s, d)),
    "s9_jsonl_roundtrip" -> ((s, d) => graft.sources.FileFormats.jsonlRoundTrip(s, d)),
    "s10_partition_prune" -> ((s, d) => graft.sources.FileFormats.partitionPrunedScan(s, d)),
    "s11_orc_roundtrip" -> ((s, d) => graft.sources.FileFormats.orcRoundTrip(s, d)),
    "s16_schema_evolution" -> ((s, d) => graft.sources.FileFormats.schemaEvolutionRead(s, d)),
    // —— projections / filters (§2.2) ——
    "p1_filter_name_in" -> ((s, d) => GraphOps.filterNameIn(s, d, Seq(3, 7, 11, 42))),
    "p2_anti_filter" -> ((s, d) => GraphOps.antiFilter(s, d, "FURNITURE", Seq(1, 5))),
    "p3_search_ci" -> ((s, d) => GraphOps.searchCi(s, d, "#00000014")),
    "p4_filter_house_in" -> ((s, d) => GraphOps.filterHouseIn(s, d, Seq("AUTOMOBILE", "HOUSEHOLD"))),
    "p5_house_known" -> ((s, d) => GraphOps.filterHouseKnown(s, d)),
    "p6_exact_lookup" -> ((s, d) => GraphOps.exactLookup(s, d, 42)),
    "p7_min_degree" -> ((s, d) => GraphOps.minDegree(s, d, 2)),
    // —— joins (§2.3) ——
    "j1_winder_topk" -> ((s, d) => GraphOps.winderTopK(s, d, WinderFriends)),
    // Depth-2 winder: friends-of-friends ring scored by distinct
    // connectors — past the reference's own depth-1 capability.
    "j1_winder_depth2" -> ((s, d) => GraphOps.winderDepth2(s, d, WinderFriends)),
    // Concurrency certificate: the interactive class re-run on 9
    // concurrent threads, every response bit-identical to serial.
    "s48_concurrent_stability" -> ((s, d) => Demos.txConcurrentStability(s, d)),
    // OPTIMIZE with clustering: sortBy compaction makes row-group
    // skipping effective for range predicates (layout-only rewrite).
    "s49_sorted_compact" -> ((s, d) => Demos.txSortedCompact(s, d)),
    // Cluster-on-write: declared cluster columns keep every copy-on-write
    // rewrite sorted - row-group skipping stays effective with NO OPTIMIZE.
    "s54_clustered_write" -> ((s, d) => Demos.txClusteredWrite(s, d)),
    // OPTIMIZE with Z-ORDER: bit-interleaved 2-D clustering in the same
    // per-bucket rewrite; range predicates on EITHER dimension skip.
    "s51_zorder_compact" -> ((s, d) => Demos.txZorderCompact(s, d)),
    // N-way Z-ORDER: round-robin bit interleave of 3+ columns — one
    // layout serves range predicates on every clustered dimension.
    "s57_zorder_nway" -> ((s, d) => Demos.txZorderNway(s, d)),
    // ZONE-MAP sidecars: per-file min/max recorded at write time — range
    // predicates refute files (and whole buckets) before any footer I/O.
    "s55_zonemap_range" -> ((s, d) => Demos.txZonemapRange(s, d)),
    // TYPE WIDENING: int->bigint metadata-only evolution; mixed-physical
    // commits read grouped + cast, skipping tiers refuse conservatively.
    "s56_widen_column" -> ((s, d) => Demos.txWidenColumn(s, d)),
    // DATE PARTITIONING: hidden days(ts) transform — day dirs inside
    // buckets, path-derived planning prune, per-commit evolution.
    "s58_date_partition" -> ((s, d) => Demos.txDatePartition(s, d)),
    // HILBERT clustering: the locality-better 2-D alternative to Morton,
    // via the native codegen'd HilbertIndex expression; curve spec-pinned.
    "s59_hilbert_compact" -> ((s, d) => Demos.txHilbertCompact(s, d)),
    // Consolidated per-version stats manifest: planning = ONE metadata
    // read (listing+rows+zones+blooms+pspec), identical decisions.
    "s60_stats_manifest" -> ((s, d) => Demos.txStatsManifest(s, d)),
    // Predicate DELETE ... WHERE: partial rewrite, CDC-exact, no-op no-publish.
    "s61_delete_where" -> ((s, d) => Demos.txDeleteWhere(s, d)),
    "s64_sql_delete" -> ((s, d) => Demos.txSqlDelete(s, d)),
    // Row tracking: stable per-row ids assigned at insert, preserved by
    // every copy-on-write rewrite; freed ids never reused.
    "s65_row_lineage" -> ((s, d) => Demos.txRowLineage(s, d)),
    // DSv2 column statistics: exact key NDV + true zone-map min/max
    // reported to the optimizer from resident planning metadata.
    "s66_column_stats" -> ((s, d) => Demos.txColumnStats(s, d)),
    // SQL INSERT INTO / INSERT OVERWRITE through the catalog: keyed
    // upsert appends, atomic one-commit full replacement.
    "s67_sql_insert" -> ((s, d) => Demos.txSqlInsert(s, d)),
    // SQL UPDATE / MERGE INTO via group-based row-level operations:
    // bucket = replacement group, runtime group filter, distributed
    // per-bucket replacement write, one-publish pointer swap.
    "s68_sql_update_merge" -> ((s, d) => Demos.txSqlUpdateMerge(s, d)),
    // Partition-covered COUNT(*): day-aligned range counts served from
    // per-file row-count sidecars with zero data I/O; straddles fall back.
    "s62_ranged_count" -> ((s, d) => Demos.txRangedCount(s, d)),
    // String zone maps: truncated 16-byte bounds give string range probes
    // file-tier skipping; bounds-not-extrema keeps them sound.
    "s63_string_zonemap" -> ((s, d) => Demos.txStringZonemap(s, d)),
    "j2_expand_1hop" -> ((s, d) => GraphOps.expand1HopAny(s, d, 7)),
    "j3_housemates_2hop" -> ((s, d) => GraphOps.housemates2Hop(s, d, 7)),
    "j4_house_subgraph" -> ((s, d) => GraphOps.houseSubgraph(s, d, Seq("BUILDING", "AUTOMOBILE"))),
    "j5_houses_members" -> ((s, d) => GraphOps.housesWithMembers(s, d)),
    "j6_same_family" -> ((s, d) => GraphOps.sameFamilySample(s, d, 3)),
    "j7_friend_count_by_house" -> ((s, d) => GraphOps.friendCountByHouse(s, d)),
    "j8_enemy_count" -> ((s, d) => GraphOps.enemyCountBySrcHouse(s, d)),
    "j9_romance_pairs" -> ((s, d) => GraphOps.romancePairs(s, d)),
    "j10_semi_house_counts" -> ((s, d) => GraphOps.semiHouseCounts(s, d, 1 to 8)),
    "j11_upsert_edges" -> ((s, d) => GraphOps.upsertEdges(s, d)),
    "j12_predict_flow" -> ((s, d) => MlOps.predictFlow(s, d)),
    "j13_houses_payload" -> ((s, d) =>
      GraphOps.housesGraphPayload(s, d, Seq("BUILDING", "AUTOMOBILE"))),
    "j14_typed_filter" -> ((s, d) =>
      GraphOps.expand1HopTyped(s, d, 7,
        Seq("SAME_FAMILY", "ROMANTIC_WITH", "SAME_WAND_MATERIAL"))),
    "p8_graph_fallback" -> ((s, d) => GraphOps.graphWithFallback(s, d, "#00000014")),
    // —— aggregations (§2.4) ——
    "a1_count_by_house" -> ((s, d) => GraphOps.countByHouse(s, d)),
    "a4_collect_names" -> ((s, d) => GraphOps.collectNames(s, d, 25)),
    "a3_native_pivot" -> ((s, d) => GraphOps.nationHousePivot(s, d)),
    // —— set ops (§2.6) ——
    "setop_intersect" -> ((s, d) => GraphOps.setopIntersect(s, d, 5000.0, Seq("BUILDING", "FURNITURE"))),
    "setop_except" -> ((s, d) => GraphOps.setopExcept(s, d, 5000.0, Seq("BUILDING", "FURNITURE"))),
    "setop_multiset" -> ((s, d) => RelOps.multisetSetops(s, d)),
    // —— scalar functions (§2.7) ——
    "fn_lastname_key" -> ((s, d) => GraphOps.lastNameKey(s, d)),
    "fn_string_suite" -> ((s, d) => graft.ops.ScalarSuites.stringSuite(s, d)),
    "fn_datetime_suite" -> ((s, d) => graft.ops.ScalarSuites.datetimeSuite(s, d)),
    "fn_array_suite" -> ((s, d) => graft.ops.ScalarSuites.arraySuite(s, d)),
    "fn_bitwise_suite" -> ((s, d) => graft.ops.ScalarSuites.bitwiseSuite(s, d)),
    "fn_map_suite" -> ((s, d) => graft.ops.ScalarSuites.mapSuite(s, d)),
    "fn_agg_suite" -> ((s, d) => graft.ops.ScalarSuites.aggSuite(s, d)),
    "fn_stat_suite" -> ((s, d) => graft.ops.ScalarSuites.statSuite(s, d)),
    "fn_null_suite" -> ((s, d) => graft.ops.ScalarSuites.nullSuite(s, d)),
    "fn_cast_suite" -> ((s, d) => graft.ops.ScalarSuites.castSuite(s, d)),
    // parse_url sweep: scheme/host/path/query/param extraction.
    "fn_url_suite" -> ((s, d) => graft.ops.ScalarSuites.urlSuite(s, d)),
    // JSON sweep: nested paths, array ops, from_json/to_json round-trip.
    "fn_json_suite" -> ((s, d) => graft.ops.ScalarSuites.jsonSuite(s, d)),
    // Higher-order lambdas: ordered fold, quantifiers, zip_with.
    "fn_hof_suite" -> ((s, d) => graft.ops.ScalarSuites.hofSuite(s, d)),
    // Sign/modulo/floor-direction arithmetic corners, engine-pinned.
    "fn_math_suite" -> ((s, d) => graft.ops.ScalarSuites.mathSuite(s, d)),
    // —— text analysis (extension: BASELINE.json north star) ——
    "tx_tokens" -> ((s, d) => TextOps.tokenCounts(s, d)),
    // SFT chat templating: role sentinels, token budget, loss-mask offsets.
    "tx_chat_template" -> ((s, d) => TextOps.chatTemplate(s, d)),
    // DPO prep: per-prompt chosen/rejected election, one struct-extrema agg.
    "tx_preference_pairs" -> ((s, d) => TextOps.preferencePairs(s, d)),
    // GRPO prep: exact scale-free group-relative advantages, zero-sum cert.
    "tx_grpo_advantage" -> ((s, d) => TextOps.grpoAdvantage(s, d)),
    // Per-source dataset card: volumes, language spread, dup rate.
    "tx_dataset_card" -> ((s, d) => TextOps.datasetCard(s, d)),
    "tx_quality" -> ((s, d) => TextOps.qualityScore(s, d)),
    "tx_langid" -> ((s, d) => TextOps.langId(s, d)),
    // Classifier eval: per-class precision/recall ppm from one confusion agg.
    "tx_eval_metrics" -> ((s, d) => TextOps.langIdMetrics(s, d)),
    "tx_fingerprint" -> ((s, d) => TextOps.fingerprints(s, d)),
    "tx_vocab_topk" -> ((s, d) => TextOps.vocabTopK(s, d)),
    // Vocabulary coverage curve: top-N token mass in exact integer ppm.
    "tx_vocab_coverage" -> ((s, d) => TextOps.vocabCoverage(s, d)),
    // Per-language top-p nucleus cutoff (adaptive-mass vocab truncation).
    "tx_nucleus" -> ((s, d) => TextOps.nucleusCutoff(s, d)),
    "tx_len_quantiles" -> ((s, d) => TextOps.lengthQuantiles(s, d)),
    "tx_repetition" -> ((s, d) => TextOps.repetitionStats(s, d)),
    "tx_tfidf" -> ((s, d) => TextOps.tfidfTopTerms(s, d)),
    "tx_ngram_lm" -> ((s, d) => TextOps.ngramLmScore(s, d)),
    "tx_chunk" -> ((s, d) => TextOps.chunkDocuments(s, d)),
    "tx_zipf_fit" -> ((s, d) => TextOps.zipfFit(s, d)),
    "tx_pmi" -> ((s, d) => TextOps.pmiCollocations(s, d)),
    "tx_sample_hash" -> ((s, d) => TextOps.sampleByHash(s, d)),
    "tx_curate" -> ((s, d) => TextOps.curateVerdicts(s, d)),
    "tx_pii_scrub" -> ((s, d) => TextOps.piiScrub(s, d)),
    "tx_kanon" -> ((s, d) => TextOps.kAnonymize(s, d)),
    "tx_span_dedup" -> ((s, d) => TextOps.spanDedup(s, d)),
    "tx_pack" -> ((s, d) => TextOps.packSequences(s, d)),
    "tx_mix" -> ((s, d) => TextOps.mixCorpus(s, d)),
    "tx_pipeline" -> ((s, d) => TextOps.pipelineE2E(s, d)),
    // —— deduplication (extension) ——
    "dd_exact" -> ((s, d) => TextOps.dedupExact(s, d)),
    "dd_ngram_jaccard" -> ((s, d) => TextOps.dedupNgramJaccard(s, d)),
    // Similarity-decile curve over the pair artifact: threshold audit.
    "dd_similarity_curve" -> ((s, d) => TextOps.similarityCurve(s, d)),
    // Source-pair overlap matrix: dataset-granularity leakage audit.
    "dd_source_overlap" -> ((s, d) => TextOps.sourceOverlap(s, d)),
    "dd_containment" -> ((s, d) => TextOps.dedupContainment(s, d)),
    "dd_minhash_lsh" -> ((s, d) => TextOps.dedupMinHashLsh(s, d)),
    "dd_simhash" -> ((s, d) => TextOps.dedupSimHash(s, d)),
    "dd_contamination" -> ((s, d) => TextOps.contamination(s, d)),
    "dd_incremental" -> ((s, d) => TextOps.incrementalDedup(s, d)),
    "dd_cluster_canonical" -> ((s, d) => GraphAnalytics.dedupClusters(s, d)),
    // Survivor election per near-dup cluster: keep the richest record
    // (max n_chars, id tiebreak) via one partial-combinable argmax agg.
    "dd_survivorship" -> ((s, d) => GraphAnalytics.survivorship(s, d)),
    // Crawl-side dedup: canonicalize URL surface forms, dd_exact's shape.
    "dd_url_dedup" -> ((s, d) => TextOps.urlDedup(s, d)),
    "dd_semantic_cluster" -> ((s, d) => GraphAnalytics.semanticClusters(s, d)),
    // —— similarity search (extension) ——
    "sim_cosine_topk" -> ((s, d) => SimilarityOps.cosineTopK(s, d)),
    // Matryoshka truncation audit: truncated-dim top-k + measured overlap
    // with the full-dim exact top-k riding the hash channel.
    "sim_mrl_topk" -> ((s, d) => SimilarityOps.mrlTopK(s, d)),
    // Hybrid retrieval: BM25 arm + vector arm fused by reciprocal rank.
    "sim_hybrid_rrf" -> ((s, d) => SimilarityOps.hybridRrf(s, d)),
    "sim_neardup_pairs" -> ((s, d) => SimilarityOps.cosineNearDupPairs(s, d)),
    // Checked = exact top-k + a recall certificate over the ANN probe (the
    // rq12 tolerance-boolean pattern) — the approximate rows themselves are
    // spec-verified, the certificate makes the probe driver-checkable.
    "sim_ann_lsh_topk" -> ((s, d) => SimilarityOps.annTopKChecked(s, d)),
    // Filtered vector search: metadata predicate pushed INTO the LSH
    // index probe (pre-filter, not post-filter), recall-certified.
    "sim_filtered_topk" -> ((s, d) => SimilarityOps.filteredTopKChecked(s, d)),
    "sim_ann_ivf_topk" -> ((s, d) => SimilarityOps.ivfTopKChecked(s, d)),
    "sim_ann_pq_topk" -> ((s, d) => SimilarityOps.pqTopKChecked(s, d)),
    "sim_ann_ivfpq_topk" -> ((s, d) => SimilarityOps.ivfPqTopKChecked(s, d)),
    "sim_label_centroids" -> ((s, d) => SimilarityOps.labelCentroidSimilarity(s, d)),
    "sim_quantize_int8" -> ((s, d) => SimilarityOps.quantizedTopK(s, d)),
    "sim_radius_search" -> ((s, d) => SimilarityOps.radiusSearch(s, d)),
    "sim_batch_topk" -> ((s, d) => SimilarityOps.batchTopK(s, d)),
    // Triplet prep: hardest positive + top-k hard negatives per anchor.
    "sim_hard_negatives" -> ((s, d) => SimilarityOps.hardNegatives(s, d)),
    "sim_cosine_hist" -> ((s, d) => SimilarityOps.cosineHistogram(s, d)),
    "sim_vq_assign" -> ((s, d) => SimilarityOps.vqAssign(s, d)),
    // —— relational / temporal (SURVEY §2.3 missing-join-kinds + §2.4 note) ——
    "rq1_pricing" -> ((s, d) => RelOps.pricingSummary(s, d)),
    "rq2_distinct_agg" -> ((s, d) => RelOps.distinctAgg(s, d)),
    "rq3_rollup" -> ((s, d) => RelOps.rollupQty(s, d)),
    "rq4_cube" -> ((s, d) => RelOps.cubeOrders(s, d)),
    "rq5_windows" -> ((s, d) => RelOps.orderWindows(s, d)),
    "rq6_revenue_by_nation" -> ((s, d) => RelOps.revenueByNation(s, d)),
    "rq7_range_join" -> ((s, d) => RelOps.rangeJoinFollowups(s, d)),
    "rq8_asof_join" -> ((s, d) => RelOps.asofJoin(s, d)),
    "rq9_event_window" -> ((s, d) => RelOps.eventTumblingWindow(s, d)),
    "rq10_sessionize" -> ((s, d) => RelOps.sessionize(s, d)),
    "rq11_json_props" -> ((s, d) => RelOps.jsonProps(s, d)),
    "rq12_approx_distinct" -> ((s, d) => RelOps.approxDistinct(s, d)),
    "rq13_window_nav" -> ((s, d) => RelOps.windowNav(s, d)),
    "rq14_top_per_group" -> ((s, d) => RelOps.topOrderPerFlag(s, d)),
    "rq15_supplier_by_region" -> ((s, d) => RelOps.supplierByRegion(s, d)),
    "rq16_revenue_by_brand" -> ((s, d) => RelOps.revenueByBrand(s, d)),
    "rq18_bucketed_join" -> ((s, d) => RelOps.bucketedRevenueByPriority(s, d)),
    "rq24_unpivot" -> ((s, d) => RelOps.unpivotPricing(s, d)),
    "rq25_exists" -> ((s, d) => RelOps.ordersWithReturns(s, d)),
    "rq26_below_avg" -> ((s, d) => RelOps.belowPartAvg(s, d)),
    "rq27_salted_join" -> ((s, d) => RelOps.saltedRevenueBySegment(s, d)),
    "rq28_quartiles" -> ((s, d) => RelOps.quantityQuartiles(s, d)),
    "rq29_full_outer" -> ((s, d) => RelOps.fullOuterOrderCounts(s, d)),
    "rq30_heavy_hitters" -> ((s, d) => RelOps.heavyHitters(s, d)),
    "rq31_window_dist" -> ((s, d) => RelOps.windowDistributions(s, d)),
    "rq32_concurrency" -> ((s, d) => RelOps.maxConcurrency(s, d)),
    "rq33_decay" -> ((s, d) => RelOps.halfLifeDecay(s, d)),
    "rq34_streaks" -> ((s, d) => RelOps.streaks(s, d)),
    "rq35_forward_fill" -> ((s, d) => RelOps.forwardFill(s, d)),
    "rq36_mad_outliers" -> ((s, d) => RelOps.madOutliers(s, d)),
    "rq37_histogram" -> ((s, d) => RelOps.valueHistogram(s, d)),
    "rq38_markov" -> ((s, d) => RelOps.markovTransitions(s, d)),
    "rq39_retention" -> ((s, d) => RelOps.retentionCohorts(s, d)),
    "rq40_asof_tolerance" -> ((s, d) => RelOps.asofJoinTolerance(s, d)),
    "rq41_incremental_agg" -> ((s, d) => RelOps.incrementalAgg(s, d)),
    "rq42_profile" -> ((s, d) => RelOps.columnProfile(s, d)),
    "rq43_winsorize" -> ((s, d) => RelOps.winsorize(s, d)),
    "rq44_fk_violations" -> ((s, d) => RelOps.fkViolations(s, d)),
    "rq45_scd2" -> ((s, d) => RelOps.scd2(s, d)),
    "rq49_interpolate" -> ((s, d) => RelOps.interpolate(s, d)),
    "rq50_skew_profile" -> ((s, d) => RelOps.skewProfile(s, d)),
    "rq51_bitmap_intersect" -> ((s, d) => RelOps.bitmapIntersect(s, d)),
    "rq52_quality_checks" -> ((s, d) => RelOps.qualityChecks(s, d)),
    "tx_rejection_sample" -> ((s, d) => TextOps.rejectionSample(s, d)),
    "dd_edit_distance" -> ((s, d) => TextOps.editDistancePairs(s, d)),
    // Content-defined chunking: offset-invariant shared-region census.
    "dd_cdc_chunk" -> ((s, d) => TextOps.cdcChunkDedup(s, d)),
    "tx_split" -> ((s, d) => TextOps.splitAssign(s, d)),
    "rq46_stratified_sample" -> ((s, d) => RelOps.stratifiedSample(s, d)),
    // 2D Pareto frontier via the per-size sweep; oracle = the O(n²)
    // NOT EXISTS dominance definition, so the hash certifies equivalence.
    "rq53_skyline" -> ((s, d) => RelOps.skyline(s, d)),
    // Rolling 7-day distinct users — the rolling DISTINCT no window
    // frame can express; bounded fanout against the broadcast day spine.
    "rq54_rolling_dau" -> ((s, d) => RelOps.rollingActiveUsers(s, d)),
    // Decile cumulative-gains table (aggregate-then-ntile-then-window).
    "rq55_lift_gains" -> ((s, d) => RelOps.liftGains(s, d)),
    // DSIR importance scoring with a cross-engine md5 hash bucketing.
    "tx_dsir" -> ((s, d) => TextOps.dsirScore(s, d)),
    // Z-order clustering locality: per-bucket bounding rectangles under
    // arrival order vs the Morton curve (shared zExpr with the oracle).
    "rq56_zorder_layout" -> ((s, d) => RelOps.zorderLayout(s, d)),
    // Mergeable HLL sketch partials: per-day artifact, weekly union at
    // query time; exact distinct is the hash, the tolerance boolean
    // carries the sketch contract.
    "rq59_hll_partials" -> ((s, d) => RelOps.hllPartials(s, d)),
    // Native bounded-heap top-k-per-group: custom LogicalPlan + Strategy
    // + SparkPlan; partial pass caps the exchange at keys x k rows.
    "rq60_native_topk" -> ((s, d) => RelOps.nativeTopK(s, d)),
    // Hash-randomized two-proportion A/B z-test over (user, day) sessions.
    "rq61_ab_test" -> ((s, d) => RelOps.abTest(s, d)),
    // First/last-touch attribution from one window pass (no range self-join).
    "rq62_attribution" -> ((s, d) => RelOps.attribution(s, d)),
    // MATCH_RECOGNIZE-lite: regex motifs over per-user event-type strings.
    "rq63_seq_match" -> ((s, d) => RelOps.sequenceMatch(s, d)),
    // Day-of-week seasonal baseline + integer-MAD anomaly flags.
    "rq64_seasonal" -> ((s, d) => RelOps.seasonalAnomalies(s, d)),
    // Join-view IVM: base artifact ∪ (delta ⋈ dim) == full join (hashed).
    "rq65_ivm_join" -> ((s, d) => RelOps.ivmJoin(s, d)),
    // CUSUM changepoint: integer deviations peak at the level shift.
    "rq66_changepoint" -> ((s, d) => RelOps.cusumChangepoint(s, d)),
    // Keyset pagination: two bounded top-k passes, oracle = OFFSET form.
    "rq67_keyset_page" -> ((s, d) => RelOps.keysetPage(s, d)),
    // Ridge regression from one pass of mergeable sufficient statistics.
    "ml_ridge" -> ((s, d) => MlOps.ridgeClosedForm(s, d)),
    // Point-in-time SCD2 join: as-of window shape, oracle = interval join.
    "rq68_pit_join" -> ((s, d) => RelOps.pitJoin(s, d)),
    // Sweep-line interval union: merged per-user activity islands.
    "rq69_interval_union" -> ((s, d) => RelOps.intervalUnion(s, d)),
    // Cumulative distinct users via first-seen day (no quadratic window).
    "rq70_cum_distinct" -> ((s, d) => RelOps.cumulativeDistinct(s, d)),
    // Spatial radius self-join: grid cells + 3x3 probe, never all-pairs.
    "rq71_geo_join" -> ((s, d) => RelOps.geoGridJoin(s, d)),
    // Exact p50/p90/p99 via bounded histogram + in-bucket residual select.
    "rq72_exact_kth" -> ((s, d) => RelOps.exactKth(s, d)),
    // Exact percentile_cont: two shared-histogram ranks + integer blend.
    "rq80_percentile_cont" -> ((s, d) => RelOps.percentileCont(s, d)),
    // Rolling 7-day median: bounded spine fanout, exact per-window median.
    "rq81_rolling_median" -> ((s, d) => RelOps.rollingMedian(s, d)),
    // Chi-square independence test in exact decimal(38) integer micros.
    "rq82_chi_square" -> ((s, d) => RelOps.chiSquare(s, d)),
    // Gaps-and-islands over the id domain: the sequence completeness audit.
    "rq83_sequence_gaps" -> ((s, d) => RelOps.sequenceGaps(s, d)),
    // Pre-flight join-size prediction from per-key multiplicities.
    "rq84_join_audit" -> ((s, d) => RelOps.joinAudit(s, d)),
    // 2-D histogram: (day-of-week x hour) heatmap with exact ppm shares.
    "rq85_heatmap_2d" -> ((s, d) => RelOps.heatmap2d(s, d)),
    // Max drawdown: chained running-peak + gap windows, exact micros.
    "rq86_max_drawdown" -> ((s, d) => RelOps.maxDrawdown(s, d)),
    // Semi-additive balances: sum across users of per-user END-OF-WEEK
    // balance (carry-forward via cumsum over the bounded user-week grid).
    "rq87_semi_additive" -> ((s, d) => RelOps.semiAdditiveBalance(s, d)),
    // Cohort LTV: cumulative revenue per signup cohort over week offsets,
    // per-user average in truncating integer micros.
    "rq88_cohort_ltv" -> ((s, d) => RelOps.cohortLtv(s, d)),
    // ROLLUP + explicit GROUPING flags: subtotal rows named exactly.
    "rq90_grouping_flags" -> ((s, d) => RelOps.rollupGroupingFlags(s, d)),
    // Deterministic dense surrogate ids: two-level bucket-offset scheme.
    "rq93_surrogate_keys" -> ((s, d) => RelOps.surrogateKeys(s, d)),
    // LATERAL correlated subquery: top-2 orders per customer, decorrelated.
    "rq91_lateral_join" -> ((s, d) => graft.ops.SqlSurface.lateralTopOrders(s, d)),
    // Named-parameter SQL binding: markers bind as literals post-parse.
    "rq92_param_sql" -> ((s, d) => graft.ops.SqlSurface.parameterizedQuery(s, d)),
    // IDENTIFIER(:param): templated table/column names, analysis-time bound.
    "rq102_identifier" -> ((s, d) => graft.ops.SqlSurface.identifierClause(s, d)),
    // EXECUTE IMMEDIATE: dynamic SQL text in a variable, ? bound via USING.
    "rq103_execute_immediate" -> ((s, d) => graft.ops.SqlSurface.executeImmediate(s, d)),
    // NOT IN vs NOT EXISTS under NULLs: the three-valued-logic trap, pinned.
    "rq105_not_in_nulls" -> ((s, d) => graft.ops.SqlSurface.notInNulls(s, d)),
    // ntile/rank/dense_rank over bounded per-order partitions, honest ties.
    "rq104_ntile" -> ((s, d) => graft.ops.SqlSurface.ntileRanks(s, d)),
    // Spark 4 VARIANT type: parse_json once, typed variant_get paths.
    "rq94_variant" -> ((s, d) => graft.ops.SqlSurface.variantPayloads(s, d)),
    // Spark 4 collations: case-insensitive grouping/equality as a type.
    "rq95_collation" -> ((s, d) => graft.ops.SqlSurface.collatedGrouping(s, d)),
    // SQL session variables: DECLARE/SET VAR, data-derived threshold.
    "rq96_sql_variables" -> ((s, d) => graft.ops.SqlSurface.sessionVariables(s, d)),
    // SQL scalar UDFs: CREATE FUNCTION ... RETURN expr, inlined/composed.
    "rq97_sql_udf" -> ((s, d) => graft.ops.SqlSurface.sqlScalarUdfs(s, d)),
    // Spark 4 pipe syntax: |> stage chain lowering to the classic plan.
    "rq98_pipe_syntax" -> ((s, d) => graft.ops.SqlSurface.pipeSyntax(s, d)),
    // GROUP BY ALL / ORDER BY ALL shorthand, lowered at analysis time.
    "rq99_group_by_all" -> ((s, d) => graft.ops.SqlSurface.groupByAll(s, d)),
    // Spark 4.1 SQL scripting: BEGIN/DECLARE/WHILE fixpoint over a
    // one-scan bounded histogram.
    "rq100_sql_script" -> ((s, d) => graft.ops.SqlSurface.sqlScript(s, d)),
    // FILTER (WHERE ...) per-aggregate predicates in one hash aggregate.
    "rq101_filter_clause" -> ((s, d) => graft.ops.SqlSurface.filterClause(s, d)),
    // KMV sketch intersection: day-pair overlap from k-min hash summaries.
    "rq73_kmv_jaccard" -> ((s, d) => RelOps.kmvJaccard(s, d)),
    // Plan-fingerprint result cache: repeat query served from artifact.
    "rq74_result_cache" -> ((s, d) => RelOps.resultCache(s, d)),
    // Exact per-group medians: two passes, no per-group sort.
    "rq75_group_median" -> ((s, d) => RelOps.groupMedian(s, d)),
    // Column-level lineage from the analyzed plan (governance surface).
    "rq76_lineage" -> ((s, d) => RelOps.lineageDemo(s, d)),
    // Count-min sketch: mergeable d x w counters, one-sided error.
    "rq77_count_min" -> ((s, d) => RelOps.countMin(s, d)),
    // Time-weighted average: hold-until-next intervals, exact micros.
    "rq78_twap" -> ((s, d) => RelOps.twap(s, d)),
    // Naive Bayes training as counting: smoothed token probs in exact ppm.
    "ml_naive_bayes" -> ((s, d) => MlOps.naiveBayes(s, d)),
    // One-pass covariance matrix from exact integer sufficient statistics.
    "ml_covariance" -> ((s, d) => MlOps.covarianceMatrix(s, d)),
    // Depth-1 CART split search: one agg pass + bounded-domain window.
    "ml_stump" -> ((s, d) => MlOps.decisionStump(s, d)),
    // Lloyd's k-means, 3 exact-integer rounds, one agg scan per round.
    "ml_kmeans" -> ((s, d) => MlOps.kmeans(s, d)),
    // First BPE iteration: corpus-weighted adjacent character-pair counts.
    "tx_bpe_pairs" -> ((s, d) => TextOps.bpePairs(s, d)),
    // Okapi BM25 retrieval probing the bucket-partitioned postings artifact.
    "tx_bm25" -> ((s, d) => TextOps.bm25TopK(s, d)),
    // Ingest fluency gate: batch scored against the FROZEN bigram LM.
    "tx_lm_score" -> ((s, d) => TextOps.lmScoreBatch(s, d)),
    // Efraimidis–Spirakis weighted sample: one scan, bounded heaps, no RNG.
    "tx_weighted_sample" -> ((s, d) => TextOps.weightedSample(s, d)),
    "rq47_table_diff" -> ((s, d) => RelOps.tableDiff(s, d)),
    "rq48_period_growth" -> ((s, d) => RelOps.periodGrowth(s, d)),
    // —— GraphX iterative analytics (BASELINE.json: "GraphX for analytics") ——
    "gx_degree_hist" -> ((s, d) => GraphAnalytics.degreeHistogram(s, d)),
    "gx_family_cc" -> ((s, d) => GraphAnalytics.familyComponents(s, d)),
    // Corpus-scale CC: input grows with sf, log-depth sparsifier edges.
    "gx_corpus_cc" -> ((s, d) => GraphAnalytics.corpusFamilyCc(s, d)),
    // Corpus-scale FW-BW SCC: 8-blocks are rings, bridges one-way; the
    // star condensation finalizes everything in ONE outer round.
    "gx_corpus_scc" -> ((s, d) => GraphAnalytics.corpusScc(s, d)),
    // Corpus-scale integer-exact PageRank power iteration: dyadic damping
    // 1/2 in 2^40 fixed point, telescoped (p, ring-size) closed form.
    "gx_corpus_pagerank" -> ((s, d) => GraphAnalytics.corpusPageRank(s, d)),
    // Corpus-scale multi-source Pregel BFS: popcount closed form.
    "gx_corpus_bfs" -> ((s, d) => GraphAnalytics.corpusAnchorBfs(s, d)),
    // Corpus-scale weighted SSSP: min-plus Pregel, binary-decomposition
    // closed form (popcount + weighted bit positions).
    "gx_corpus_sssp" -> ((s, d) => GraphAnalytics.corpusWeightedSssp(s, d)),
    // Corpus-scale triangle census: the sparsifier's only triangles are
    // {k, k-2^a, k-2^(a+1)}; closed form in exact floor-log2.
    "gx_corpus_triangles" -> ((s, d) => GraphAnalytics.corpusTriangles(s, d)),
    // Corpus-scale aggregateMessages: per-vertex neighbor-k sums, exact
    // down/up closed forms per vertex.
    "gx_corpus_nbrsum" -> ((s, d) => GraphAnalytics.corpusNeighborKSum(s, d)),
    // Corpus-scale coreness decomposition: banded block topologies
    // (chain/ring/circulant) make the full peel's spectrum {1,2,4} exact.
    "gx_corpus_kcore" -> ((s, d) => GraphAnalytics.corpusKCore(s, d)),
    "gx_triangles" -> ((s, d) => GraphAnalytics.triangleCounts(s, d)),
    "gx_nbr_degree_sum" -> ((s, d) => GraphAnalytics.neighborDegreeSum(s, d)),
    "gx_pagerank" -> ((s, d) => GraphAnalytics.pageRankTop(s, d)),
    "gx_shortest_paths" -> ((s, d) => GraphAnalytics.shortestHops(s, d)),
    "gx_kcore" -> ((s, d) => GraphAnalytics.kCore(s, d)),
    "gx_lpa" -> ((s, d) => GraphAnalytics.labelPropagation(s, d)),
    // SCC vs WCC on a directed ring-and-bridge graph: direction matters.
    "gx_scc" -> ((s, d) => GraphAnalytics.stronglyConnected(s, d)),
    // Personalized PageRank: reset-to-source walk, mass stays in-component.
    "gx_ppr" -> ((s, d) => GraphAnalytics.personalizedPageRank(s, d)),
    // —— Structured Streaming (§2.8): real streaming execution, batch oracle ——
    "st_window_counts" -> ((s, d) => StreamingOps.streamedWindowCounts(s, d)),
    "st_distinct_users" -> ((s, d) => StreamingOps.streamedDistinctUsers(s, d)),
    "st_sessions" -> ((s, d) => StreamingOps.streamedSessions(s, d)),
    "st_user_stats" -> ((s, d) => StreamingOps.streamedUserStats(s, d)),
    "st_click_attrib" -> ((s, d) => StreamingOps.streamedClickAttribution(s, d)),
    "st_segment_counts" -> ((s, d) => StreamingOps.streamedSegmentCounts(s, d)),
    "st_closed_windows" -> ((s, d) => StreamingOps.streamedClosedWindows(s, d)),
    "st_incremental_dedup" -> ((s, d) => StreamingOps.streamedIncrementalDedup(s, d)),
    "st_user_stats_tws" -> ((s, d) => StreamingOps.streamedUserStatsTws(s, d)),
    "st_topk_per_window" -> ((s, d) => StreamingOps.streamedTopkPerWindow(s, d)),
    // —— textual-SQL entry point (spark.sql over registered views) ——
    "rq19_quantile_sketch" -> ((s, d) => RelOps.quantileSketch(s, d)),
    "rq20_welford_var" -> ((s, d) => RelOps.welfordVariance(s, d)),
    "rq21_grouping_sets" -> ((s, d) => RelOps.groupingSetsQty(s, d)),
    "rq23_range_frame" -> ((s, d) => RelOps.rangeFrameHourly(s, d)),
    "rq22_funnel" -> ((s, d) => RelOps.funnelStages(s, d)),
    "rq17_sql_pricing" -> ((s, d) => graft.ops.SqlSurface.pricing(s, d)),
    "fn_sql_fingerprint" -> ((s, d) => graft.ops.SqlSurface.fingerprints(s, d)),
    // SQL-standard WITH RECURSIVE surface (Spark 4 iterative union-loop):
    // decimal-forest hierarchy closure, bounded depth, per-round key join.
    "rq57_recursive_cte" -> ((s, d) => graft.ops.SqlSurface.recursiveHierarchy(s, d)),
    // Materialized-view rewrite via an injected optimizer Rule: the RAW
    // daily aggregate is served from the MV artifact; oracle recomputes
    // from raw events so the hash certifies the rewrite.
    "rq58_mv_rewrite" -> ((s, d) => graft.plans.MvRewrite.mvRewriteDaily(s, d)),
    // —— ML parity (SURVEY §2.9 / M3) ——
    "ml_feature_pivot" -> ((s, d) => MlOps.featurePivotSample(s, d)),
    "ml_sorting_hat" -> ((s, d) => MlOps.sortingHatPredictions(s, d)),
    "ml_survival" -> ((s, d) => MlOps.survivalPredictions(s, d)),
    // —— multimodal columns (extension): binary payload + typed metadata ——
    "mm_meta" -> ((s, d) => MultimodalOps.mediaMeta(s, d)),
    "mm_resize" -> ((s, d) =>
      MultimodalOps.resizeMeta(s, d).filter(col_("media_id") < 100).orderBy("media_id")),
    "mm_frame_counts" -> ((s, d) => MultimodalOps.frameCounts(s, d)),
    // Real-file ingestion through the binaryFile source (media on-ramp).
    "mm_binary_ingest" -> ((s, d) => MultimodalOps.binaryIngest(s, d)),
    "mm_shard_pack" -> ((s, d) => MultimodalOps.shardManifest(s, d)),
    "mm_phash_neardup" -> ((s, d) => MultimodalOps.phashNearDup(s, d)),
    // CLIP-score gating of two-tower image/caption pairs, integer micros.
    "mm_clip_filter" -> ((s, d) => MultimodalOps.clipFilter(s, d)),
    // VAD-style activity segmentation: HOF folds, no explode, no window.
    "mm_vad_segments" -> ((s, d) => MultimodalOps.vadSegments(s, d)),
    // feat_sum / feat0 are exact integers (decodeStub accumulates raw byte
    // values — float32-exact below 2²⁴), so the stub decode is fully
    // DuckDB-checkable: the oracle recomputes the byte sums from the text.
    "mm_features" -> ((s, d) =>
      MultimodalOps.extractFeatures(s, d, maxId = 100)
        .selectExpr("media_id", "format",
          "CAST(aggregate(features, CAST(0.0 AS DOUBLE), (a, x) -> a + x) AS BIGINT) AS feat_sum",
          "CAST(element_at(features, 1) AS BIGINT) AS feat0")
        .orderBy("media_id")),
  )

  def oracleSql: Map[String, String] = Map(
    "s1_scan_persons" ->
      s"""WITH $nodesCte
         |SELECT name, house, nation, acctbal FROM n ORDER BY name""".stripMargin,
    "s2_ingest_clean" ->
      s"""WITH raw AS (
         |  SELECT * FROM read_json_auto('${GraphBuilder.FixturePath}')
         |  WHERE name IS NOT NULL AND name <> ''
         |  QUALIFY row_number() OVER (PARTITION BY name ORDER BY id) = 1)
         |SELECT name, coalesce(nullif(house, ''), 'Unknown') AS house, species,
         |       coalesce(alive, true) AS alive, coalesce(image, '') AS image
         |FROM raw ORDER BY name""".stripMargin,
    "s5_upsert_person" ->
      s"""WITH $nodesCte,
         |upd(name, house, acctbal) AS (VALUES
         |  ('Customer#000000003', 'BUILDING', 0.0), ('User#000000001', 'BUILDING', 10.0)),
         |merged AS (
         |  SELECT name, house, acctbal FROM upd
         |  UNION ALL
         |  SELECT name, house, acctbal FROM n WHERE name NOT IN (SELECT name FROM upd))
         |SELECT name, house, round(acctbal, 2) AS acctbal FROM merged
         |WHERE name IN ('Customer#000000003', 'User#000000001') ORDER BY name""".stripMargin,
    // s13: the engine streams the event slice, MERGEs each micro-batch
    // into the transactional TxTable via foreachBatch, and reads its own
    // committed snapshot; the oracle states the post-MERGE table over the
    // same derived upsert set.
    "s13_stream_merge" ->
      s"""WITH $nodesCte,
         |upd AS (
         |  SELECT DISTINCT CASE WHEN user_id % 3 = 0
         |    THEN 'Customer#' || lpad(CAST(user_id AS VARCHAR), 9, '0')
         |    ELSE 'User#' || CAST(user_id AS VARCHAR) END AS name
         |  FROM events WHERE event_id < 500),
         |u2 AS (SELECT name, 'STREAMED' AS house, CAST(0.0 AS DOUBLE) AS acctbal FROM upd),
         |merged AS (
         |  SELECT name, house, acctbal FROM u2
         |  UNION ALL
         |  SELECT name, house, acctbal FROM n
         |  WHERE name <= 'Customer#000000199'
         |    AND name NOT IN (SELECT name FROM upd)),
         |probe AS (
         |  SELECT DISTINCT CASE WHEN user_id % 3 = 0
         |    THEN 'Customer#' || lpad(CAST(user_id AS VARCHAR), 9, '0')
         |    ELSE 'User#' || CAST(user_id AS VARCHAR) END AS name
         |  FROM events WHERE event_id < 500 AND user_id <= 30
         |  UNION SELECT 'Customer#000000002' UNION SELECT 'Customer#000000004')
         |SELECT m.name, m.house, round(m.acctbal, 2) AS acctbal
         |FROM merged m JOIN probe USING (name) ORDER BY m.name""".stripMargin,
    // s14: append-mode streaming parquet FILE sink → batch read-back. Only
    // watermark-closed windows land in the files (same exclusion rule as
    // st_closed_windows); the consumer aggregation runs over the read-back.
    "s14_stream_file_sink" ->
      """WITH ev AS (SELECT event_type, value, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |mx AS (SELECT max(ts) AS mts FROM ev),
        |w AS (
        |  SELECT date_trunc('hour', ts) AS wstart, event_type, count(*) AS n,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS sum_value
        |  FROM ev, mx
        |  WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= mts - INTERVAL 1 HOUR
        |  GROUP BY 1, 2)
        |SELECT event_type, count(*) AS n_windows, CAST(sum(n) AS BIGINT) AS n_events,
        |  CAST(sum(sum_value) AS BIGINT) AS sum_value_micros
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,
    // s12: the engine runs the merge through the transactional TxTable
    // (copy-on-write buckets + manifest log) and reads its own committed
    // snapshot; the oracle states the post-MERGE table contents. v = the
    // committed version (create=0, the single merge=1).
    "s12_merge_visible" ->
      s"""WITH $nodesCte,
         |upd(name, house, acctbal) AS (VALUES
         |  ('Customer#000000003', 'BUILDING', 0.0), ('User#000000001', 'BUILDING', 10.0)),
         |merged AS (
         |  SELECT name, house, acctbal FROM upd
         |  UNION ALL
         |  SELECT name, house, acctbal FROM n WHERE name NOT IN (SELECT name FROM upd))
         |SELECT name, house, round(acctbal, 2) AS acctbal, CAST(1 AS BIGINT) AS v FROM merged
         |WHERE name IN ('Customer#000000002', 'Customer#000000003',
         |               'Customer#000000004', 'User#000000001') ORDER BY name""".stripMargin,
    // s19: the oracle reconstructs the post-evolution head — merged rows
    // carry their tier, untouched neighbors read the 'none' fallback the
    // engine must produce from NULL-backed pre-evolution buckets.
    "s19_tx_schema_evolution" ->
      s"""WITH $nodesCte,
         |upd(name, house, acctbal, tier) AS (VALUES
         |  ('Customer#000000003', 'BUILDING', 0.0, 'gold'),
         |  ('User#000000001', 'BUILDING', 10.0, 'silver')),
         |merged AS (
         |  SELECT name, house, acctbal, tier FROM upd
         |  UNION ALL
         |  SELECT name, house, acctbal, NULL FROM n
         |  WHERE name NOT IN (SELECT name FROM upd))
         |SELECT name, house, round(acctbal, 2) AS acctbal,
         |  coalesce(tier, 'none') AS tier
         |FROM merged
         |WHERE name IN ('Customer#000000002', 'Customer#000000003',
         |               'Customer#000000004', 'User#000000001')
         |ORDER BY name""".stripMargin,
    // s18: the oracle reconstructs the HEAD state from the scripted
    // merge+delete and aggregates it directly; the engine must arrive at
    // the same numbers by folding the CDC diff into the v0 aggregate, and
    // its self-certificate must read true.
    "s18_cdc_incremental" ->
      s"""WITH $nodesCte,
         |upd(name, house, acctbal) AS (VALUES
         |  ('Customer#000000003', 'BUILDING', 0.0), ('User#000000001', 'BUILDING', 10.0)),
         |v1 AS (
         |  SELECT name, house, acctbal FROM upd
         |  UNION ALL
         |  SELECT name, house, acctbal FROM n WHERE name NOT IN (SELECT name FROM upd)),
         |v2 AS (SELECT * FROM v1 WHERE name <> 'Customer#000000005')
         |SELECT house, count(*) AS n,
         |  CAST(sum(CAST(round(acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_x100,
         |  true AS fold_matches_direct
         |FROM v2 GROUP BY 1 ORDER BY 1""".stripMargin,
    // s15_time_travel: every committed version reconstructed — v0 base,
    // v1 first merge, v2 second merge overwriting the first.
    "s15_time_travel" ->
      s"""WITH $nodesCte,
         |u1(name, house, acctbal) AS (VALUES
         |  ('Customer#000000003', 'BUILDING', 0.0), ('User#000000001', 'BUILDING', 10.0)),
         |u2(name, house, acctbal) AS (VALUES
         |  ('Customer#000000003', 'MACHINERY', 99.5), ('User#000000002', 'AUTOMOBILE', 20.0)),
         |v0 AS (SELECT name, house, acctbal FROM n),
         |v1 AS (SELECT * FROM u1 UNION ALL SELECT * FROM v0 WHERE name NOT IN (SELECT name FROM u1)),
         |v2 AS (SELECT * FROM u2 UNION ALL SELECT * FROM v1 WHERE name NOT IN (SELECT name FROM u2)),
         |allv AS (
         |  SELECT CAST(0 AS BIGINT) AS v, * FROM v0
         |  UNION ALL SELECT CAST(1 AS BIGINT), * FROM v1
         |  UNION ALL SELECT CAST(2 AS BIGINT), * FROM v2)
         |SELECT v, name, house, round(acctbal, 2) AS acctbal FROM allv
         |WHERE name IN ('Customer#000000003', 'User#000000001', 'User#000000002')
         |ORDER BY v, name""".stripMargin,
    // s17_cdc_diff: the oracle reconstructs the three change rows from the
    // scripted create→merge→delete — update (C3 acctbal), insert (User#1),
    // delete (C5); unchanged rows in rewritten buckets must NOT appear.
    "s17_cdc_diff" ->
      s"""WITH $nodesCte
         |SELECT * FROM (
         |  SELECT 'update' AS change_type, name, house AS old_house,
         |    'BUILDING' AS new_house, round(acctbal, 2) AS old_acctbal,
         |    0.0 AS new_acctbal
         |  FROM n WHERE name = 'Customer#000000003'
         |  UNION ALL
         |  SELECT 'insert', 'User#000000001', CAST(NULL AS VARCHAR), 'BUILDING',
         |    CAST(NULL AS DOUBLE), 10.0
         |  UNION ALL
         |  SELECT 'delete', name, house, CAST(NULL AS VARCHAR),
         |    round(acctbal, 2), CAST(NULL AS DOUBLE)
         |  FROM n WHERE name = 'Customer#000000005')
         |ORDER BY name""".stripMargin,
    "s7_graph_json" ->
      s"""WITH $nodesCte, $personEdgesUndirCte,
         |hop AS (SELECT src, dst, relType FROM pu WHERE src = 'Customer#000000003'),
         |nn AS (SELECT DISTINCT name FROM (SELECT dst AS name FROM hop UNION ALL SELECT src AS name FROM hop)),
         |nodes AS (
         |  SELECT 'node' AS kind,
         |         '{"data":{"id":"' || n.name || '","house":"' || n.house || '"}}' AS payload
         |  FROM nn JOIN n ON nn.name = n.name),
         |edges AS (
         |  SELECT 'edge' AS kind,
         |         '{"data":{"source":"' || src || '","target":"' || dst || '","relType":"' || relType || '"}}' AS payload
         |  FROM hop)
         |SELECT kind, payload FROM nodes UNION ALL SELECT kind, payload FROM edges
         |ORDER BY kind, payload""".stripMargin,
    "p1_filter_name_in" ->
      s"""WITH $nodesCte
         |SELECT name, house FROM n
         |WHERE name IN ('Customer#000000003', 'Customer#000000007', 'Customer#000000011', 'Customer#000000042')
         |ORDER BY name""".stripMargin,
    "p2_anti_filter" ->
      s"""WITH $nodesCte
         |SELECT name, house FROM n
         |WHERE house = 'FURNITURE' AND name NOT IN ('Customer#000000001', 'Customer#000000005')
         |ORDER BY name""".stripMargin,
    "p3_search_ci" ->
      s"""WITH $nodesCte
         |SELECT name, house FROM n
         |WHERE contains(lower(name), '#00000014') ORDER BY name LIMIT 10""".stripMargin,
    // s48: p3's own rows replayed; the concurrent-vs-serial equality
    // certificate rides as literal true.
    "s48_concurrent_stability" ->
      s"""WITH $nodesCte
         |SELECT name, house, true AS all_stable FROM n
         |WHERE contains(lower(name), '#00000014') ORDER BY name LIMIT 10""".stripMargin,
    // s49: the range aggregate replayed from lineitem; layout
    // certificates ride as literal true (row-group boundaries never
    // reach the result — residual filters own correctness).
    "s49_sorted_compact" ->
      """WITH li AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
        |                  l_returnflag AS flag FROM lineitem)
        |SELECT flag, count(*) AS n, CAST(sum(price_cents) AS BIGINT) AS sum_cents,
        |       true AS snapshot_unchanged, true AS skip_effective
        |FROM li WHERE price_cents BETWEEN 2000000 AND 2100000
        |GROUP BY flag ORDER BY flag""".stripMargin,
    // s54: final state = base with flag flipped to 'U' where k % 7 = 0
    // (k = l_orderkey*8 + l_linenumber); layout certificates ride as
    // literal true.
    "s54_clustered_write" ->
      """WITH li0 AS (SELECT l_orderkey * 8 + l_linenumber AS k,
        |                   CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
        |                   l_returnflag AS fl FROM lineitem),
        |li AS (SELECT k, max(pc) AS price_cents, max(fl) AS flag
        |       FROM li0 GROUP BY k)
        |SELECT CASE WHEN k % 7 = 0 THEN 'U' ELSE flag END AS flag,
        |       count(*) AS n, CAST(sum(price_cents) AS BIGINT) AS sum_cents,
        |       true AS content_match, true AS clustered_no_optimize
        |FROM li WHERE price_cents BETWEEN 2000000 AND 2100000
        |GROUP BY 1 ORDER BY flag""".stripMargin,
    // s52: the downstream table after both passes == the upstream
    // lifecycle's final state, reconstructed relationally; pipeline
    // certificates ride as literal true.
    "s52_medallion_stream" ->
      s"""WITH $nodesCte
         |SELECT name,
         |  CASE WHEN name LIKE '%7' THEN 'PROMOTED'
         |       WHEN name LIKE '%4' THEN 'RESETTLED' ELSE house END AS house,
         |  CAST(round((acctbal + CASE WHEN name LIKE '%7' THEN 1000
         |       WHEN name LIKE '%4' THEN 500 ELSE 0 END) * 100) AS BIGINT)
         |    AS acctbal_x100,
         |  true AS replay_equivalent, true AS resume_no_reprocess
         |FROM n
         |WHERE name <= 'Customer#000000059' AND name <> 'Customer#000000013'
         |ORDER BY name""".stripMargin,
    // s51: same replay shape as s49; the Z-order layout certificates ride
    // as literal true (2-D clustering is layout only).
    "s51_zorder_compact" ->
      """WITH li AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
        |                  l_returnflag AS flag FROM lineitem)
        |SELECT flag, count(*) AS n, CAST(sum(price_cents) AS BIGINT) AS sum_cents,
        |       true AS snapshot_unchanged, true AS skip_both_effective
        |FROM li WHERE price_cents BETWEEN 2000000 AND 2100000
        |GROUP BY flag ORDER BY flag""".stripMargin,
    // s59: same replay shape as s51 — Hilbert clustering is layout only.
    "s59_hilbert_compact" ->
      """WITH li AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
        |                  l_returnflag AS flag FROM lineitem)
        |SELECT flag, count(*) AS n, CAST(sum(price_cents) AS BIGINT) AS sum_cents,
        |       true AS snapshot_unchanged, true AS hskip_both_effective
        |FROM li WHERE price_cents BETWEEN 2000000 AND 2100000
        |GROUP BY flag ORDER BY flag""".stripMargin,
    // s58: hidden partitioning changes WHAT IS READ, never the answer —
    // the oracle replays both eras and the band; prune certs ride as true.
    "s58_date_partition" ->
      """WITH ev AS (
        |  SELECT event_id, ts, event_type,
        |    value + CASE WHEN event_id IN (1, 4, 7) THEN 1000 ELSE 0 END AS value
        |  FROM events WHERE event_id % 3 = 0 OR event_id IN (1, 4, 7))
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS DECIMAL(38,0)))
        |    AS BIGINT) AS sum_micro,
        |  true AS dp_hash_match, true AS dp_prune_effective, true AS dp_evolution_ok
        |FROM ev
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-13 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // s56: widening is metadata-only — the oracle replays both merges and
    // the int->bigint promotion declaratively; certs ride as true.
    "s56_widen_column" ->
      s"""WITH $nodesCte,
         |sel AS (SELECT name,
         |  CASE WHEN name LIKE '%7' THEN 'PROMOTED' ELSE house END AS house,
         |  CAST(round(acctbal * 100) AS BIGINT)
         |    + CASE WHEN name LIKE '%3' THEN 3000000000 ELSE 0 END AS qty
         | FROM n WHERE name <= 'Customer#000000199')
         |SELECT name, house, qty, true AS widen_metadata_only,
         |  true AS widen_conn_match, true AS widen_range_real
         |FROM sel WHERE name <= 'Customer#000000059' ORDER BY name""".stripMargin,
    // s55: the zone-map sidecar changes WHAT IS READ, never the answer —
    // the oracle is the plain band replay; the prune certs ride as true.
    "s55_zonemap_range" ->
      """WITH li AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
        |                  l_returnflag AS flag FROM lineitem)
        |SELECT flag, count(*) AS n, CAST(sum(price_cents) AS BIGINT) AS sum_cents,
        |       true AS zm_hash_match, true AS zm_file_prune, true AS zm_bucket_prune
        |FROM li WHERE price_cents BETWEEN 2000000 AND 2100000
        |GROUP BY flag ORDER BY flag""".stripMargin,
    // s68: replay the scripted UPDATE (+100 on C19) and three-clause
    // MERGE (delete C5, replace C3, insert U42) relationally; the four
    // row-level-operation certificates ride as literals.
    "s68_sql_update_merge" ->
      s"""WITH $nodesCte,
         |b AS (SELECT name, house, acctbal FROM n
         |      WHERE name <= 'Customer#000000199'),
         |u AS (SELECT name, house,
         |        CASE WHEN name = 'Customer#000000019' THEN acctbal + 100
         |             ELSE acctbal END AS acctbal FROM b),
         |f AS (SELECT name, house, acctbal FROM u
         |        WHERE name NOT IN ('Customer#000000005', 'Customer#000000003')
         |      UNION ALL SELECT 'Customer#000000003', 'MERGED', CAST(50.0 AS DOUBLE)
         |      UNION ALL SELECT 'User#000000042', 'MERGED', CAST(60.0 AS DOUBLE))
         |SELECT name, house, round(acctbal, 2) AS acctbal,
         |  true AS upd_parity, true AS upd_untouched_ptrs,
         |  true AS merge_parity, true AS tt_intact
         |FROM f
         |WHERE name <= 'Customer#000000030' OR name LIKE 'User#%'
         |ORDER BY name""".stripMargin,
    // s67: the final snapshot is exactly the overwrite's three literal
    // rows; the four SQL-write certificates ride as literals.
    "s67_sql_insert" ->
      """SELECT * FROM (VALUES
        |  ('Customer#000000003', 'KEPT', CAST(2.0 AS DOUBLE)),
        |  ('User#000000009', 'FRESH', CAST(4.0 AS DOUBLE)),
        |  ('User#000000010', 'FRESH', CAST(6.0 AS DOUBLE))) AS t(name, house, acctbal),
        |  (SELECT true AS ins_upsert_parity, true AS ins_one_version_no_dup,
        |          true AS ov_atomic_replace, true AS ov_time_travel_intact)
        |ORDER BY name""".stripMargin,
    // s66: the full-table rollup over the s55 layout; the four
    // optimizer-stats certificates ride the hash channel as literals.
    "s66_column_stats" ->
      """WITH li AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
        |                  l_returnflag AS flag FROM lineitem)
        |SELECT flag, count(*) AS n, CAST(sum(price_cents) AS BIGINT) AS sum_cents,
        |       true AS cs_rowcount_exact, true AS cs_key_ndv_exact,
        |       true AS cs_minmax_true, true AS cs_pruned_tighter
        |FROM li
        |GROUP BY flag ORDER BY flag""".stripMargin,
    // s57: same replay shape as s51 with a tighter price band; the 3-D
    // layout certificates ride as literal true (clustering is layout only).
    "s57_zorder_nway" ->
      """WITH li AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
        |                  l_returnflag AS flag FROM lineitem)
        |SELECT flag, count(*) AS n, CAST(sum(price_cents) AS BIGINT) AS sum_cents,
        |       true AS snapshot_unchanged, true AS skip_all3_effective
        |FROM li WHERE price_cents BETWEEN 2000000 AND 2060000
        |GROUP BY flag ORDER BY flag""".stripMargin,
    "p4_filter_house_in" ->
      s"""WITH $nodesCte
         |SELECT name, house, nation FROM n
         |WHERE house IN ('AUTOMOBILE', 'HOUSEHOLD') ORDER BY name""".stripMargin,
    "p5_house_known" ->
      s"""WITH $nodesCte
         |SELECT house, count(*) AS members FROM n
         |WHERE house <> '' AND house <> 'Unknown' GROUP BY house ORDER BY house""".stripMargin,
    "p6_exact_lookup" ->
      s"""WITH $nodesCte
         |SELECT name, house, nation, acctbal FROM n WHERE name = 'Customer#000000042'""".stripMargin,
    "p7_min_degree" ->
      s"""WITH $nodesCte, $personEdgesUndirCte
         |SELECT src AS name, count(*) AS total FROM pu GROUP BY src
         |HAVING count(*) > 2 ORDER BY total DESC, name LIMIT 50""".stripMargin,
    "j1_winder_topk" ->
      s"""WITH $nodesCte, $friendsCte, $friendsUndirCte,
         |fr AS (SELECT name AS f_name FROM n WHERE nid IN (${WinderFriends.mkString(", ")})),
         |cand AS (
         |  SELECT fr.f_name, fu.dst AS candidate FROM fr JOIN fu ON fr.f_name = fu.src
         |  WHERE fu.dst NOT IN (SELECT f_name FROM fr)),
         |tk AS (
         |  SELECT candidate, count(*) AS common_friends,
         |         array_to_string(list_sort(list(f_name)), ',') AS shared_with,
         |         count(*) * 10 AS likelihood
         |  FROM cand GROUP BY candidate
         |  ORDER BY common_friends DESC, candidate LIMIT 3)
         |SELECT candidate, n.house, 'img/' || candidate || '.png' AS image,
         |       common_friends, shared_with, likelihood
         |FROM tk JOIN n ON tk.candidate = n.name
         |ORDER BY common_friends DESC, candidate""".stripMargin,
    // j1 depth 2: D1 = the friend set's distinct any-type neighbors
    // (friends excluded); candidates sit at distance EXACTLY 2 (reached
    // through a connector, outside F ∪ D1), scored by distinct
    // connectors with the flagship's tie order and payload join.
    "j1_winder_depth2" ->
      s"""WITH $nodesCte, $personEdgesUndirCte,
         |fr AS (SELECT name AS f_name FROM n WHERE nid IN (${WinderFriends.mkString(", ")})),
         |d1 AS (SELECT DISTINCT pu.dst AS b FROM pu JOIN fr ON pu.src = fr.f_name
         |       WHERE pu.dst NOT IN (SELECT f_name FROM fr)),
         |hop2 AS (
         |  SELECT pu.dst AS candidate, pu.src AS via
         |  FROM pu JOIN d1 ON pu.src = d1.b
         |  WHERE pu.dst NOT IN (SELECT f_name FROM fr)
         |    AND pu.dst NOT IN (SELECT b FROM d1)),
         |tk AS (
         |  SELECT candidate, count(DISTINCT via) AS common_connectors,
         |         min(via) AS via_first,
         |         count(DISTINCT via) * 10 AS likelihood
         |  FROM hop2 GROUP BY candidate
         |  ORDER BY common_connectors DESC, candidate LIMIT 3)
         |SELECT candidate, n.house, 'img/' || candidate || '.png' AS image,
         |       common_connectors, via_first, likelihood
         |FROM tk JOIN n ON tk.candidate = n.name
         |ORDER BY common_connectors DESC, candidate""".stripMargin,
    "j2_expand_1hop" ->
      s"""WITH $nodesCte, $personEdgesCte,
         |ae AS (SELECT src, dst, relType FROM pe
         |       UNION ALL SELECT name AS src, house AS dst, 'BELONGS_TO' AS relType FROM n),
         |au AS (SELECT src, dst, relType FROM ae
         |       UNION ALL SELECT dst AS src, src AS dst, relType FROM ae
         |       WHERE relType IN ('FRIEND_OF', 'SAME_FAMILY', 'BELONGS_TO'))
         |SELECT relType, dst AS neighbor FROM au WHERE src = 'Customer#000000007'
         |ORDER BY relType, neighbor LIMIT 500""".stripMargin,
    "j3_housemates_2hop" ->
      s"""WITH $nodesCte,
         |b AS (SELECT name AS src, house AS dst FROM n)
         |SELECT b.src AS mate FROM b
         |JOIN (SELECT src AS me, dst AS h FROM b WHERE src = 'Customer#000000007') x
         |  ON b.dst = x.h AND b.src <> x.me
         |ORDER BY mate LIMIT 100""".stripMargin,
    "j4_house_subgraph" ->
      s"""WITH $nodesCte, $personEdgesUndirCte,
         |p AS (SELECT name, house FROM n WHERE house IN ('BUILDING', 'AUTOMOBILE')),
         |e AS (SELECT pu.src, pu.relType, pu.dst FROM pu JOIN p m ON pu.dst = m.name)
         |SELECT p.name, e.relType, e.dst AS neighbor
         |FROM p LEFT JOIN e ON p.name = e.src
         |ORDER BY p.name NULLS FIRST, e.relType NULLS FIRST, neighbor NULLS FIRST
         |LIMIT 5000""".stripMargin,
    "j5_houses_members" ->
      s"""WITH $nodesCte,
         |h AS (SELECT DISTINCT house AS name FROM n UNION ALL SELECT 'EMPTYHOUSE' AS name),
         |b AS (SELECT name AS src, house AS dst FROM n)
         |SELECT h.name AS house, count(b.src) AS members
         |FROM h LEFT JOIN b ON h.name = b.dst GROUP BY h.name ORDER BY house""".stripMargin,
    "j6_same_family" ->
      s"""WITH $nodesCte, $familyCte
         |SELECT src, dst FROM fam0
         |WHERE CAST(string_split(src, '#')[-1] AS BIGINT) % ${graft.core.Graph.FamilyMod} = 3
         |ORDER BY src, dst LIMIT 200""".stripMargin,
    "j7_friend_count_by_house" ->
      s"""WITH $nodesCte, $friendsCte
         |SELECT n.house, count(*) AS friend_pairs FROM f0 JOIN n ON f0.src = n.name
         |GROUP BY n.house ORDER BY n.house""".stripMargin,
    "j8_enemy_count" ->
      s"""WITH $nodesCte, $enemiesCte
         |SELECT n.house, count(*) AS enemies FROM en JOIN n ON en.src = n.name
         |GROUP BY n.house ORDER BY n.house""".stripMargin,
    "j9_romance_pairs" ->
      s"""WITH $nodesCte, $romanceCte
         |SELECT src, dst FROM ro ORDER BY src, dst""".stripMargin,
    "j10_semi_house_counts" ->
      s"""WITH $nodesCte
         |SELECT house, count(*) AS cnt FROM n
         |WHERE name IN (${(1 to 8).map(k => f"'Customer#$k%09d'").mkString(", ")})
         |GROUP BY house ORDER BY house""".stripMargin,
    "j11_upsert_edges" ->
      s"""WITH $nodesCte, $friendsCte,
         |ne(src, dst, relType) AS (VALUES
         |  ('User#000000001', 'Customer#000000002', 'FRIEND_OF'),
         |  ('User#000000001', 'Customer#000000004', 'FRIEND_OF'),
         |  ('User#000000001', 'Customer#000000006', 'FRIEND_OF'),
         |  ('User#000000001', 'Customer#000000006', 'FRIEND_OF')),
         |merged AS (
         |  SELECT DISTINCT src, dst, relType FROM (
         |    SELECT src, dst, 'FRIEND_OF' AS relType FROM f0
         |    UNION ALL SELECT src, dst, relType FROM ne))
         |SELECT src, dst, relType FROM merged
         |WHERE src = 'User#000000001' OR dst = 'User#000000001'
         |ORDER BY src, dst""".stripMargin,
    // j12: the lists mirror a BUILDING member's own neighborhood (all of
    // BUILDING as friends, all of MACHINERY as enemies — the training
    // rows' separable features at their training-scale magnitudes), so the
    // forest's closed-form prediction is BUILDING at any sf — verified at
    // sf0.001/0.01/0.1.
    "j12_predict_flow" ->
      s"""WITH $nodesCte,
         |f AS (SELECT name, 'FRIEND_OF' AS t FROM n WHERE house = 'BUILDING'),
         |e AS (SELECT name, 'ENEMY_OF' AS t FROM n WHERE house = 'MACHINERY'),
         |fam AS (SELECT name, 'SAME_FAMILY' AS t FROM (SELECT name FROM n WHERE house = 'FURNITURE' ORDER BY nid LIMIT 2)),
         |pr AS (SELECT name, 'ROMANTIC_WITH' AS t FROM (SELECT name FROM n WHERE house = 'HOUSEHOLD' ORDER BY nid LIMIT 1)),
         |m AS (SELECT * FROM f UNION ALL SELECT * FROM e UNION ALL SELECT * FROM fam UNION ALL SELECT * FROM pr)
         |SELECT * FROM (
         |  SELECT 'node' AS kind, 'User#000000099' AS a, 'BUILDING' AS b, 'PERSON' AS t
         |  UNION ALL
         |  SELECT 'edge' AS kind, 'User#000000099' AS a, name AS b, t FROM m)
         |ORDER BY kind, t, b""".stripMargin,
    "j13_houses_payload" ->
      s"""WITH $nodesCte, $personEdgesUndirCte,
         |p AS (SELECT name, house FROM n WHERE house IN ('BUILDING', 'AUTOMOBILE')),
         |e AS (SELECT pu.src, pu.relType, pu.dst FROM pu JOIN p m ON pu.dst = m.name),
         |d AS (SELECT p.name, e.relType, e.dst AS neighbor
         |      FROM p LEFT JOIN e ON p.name = e.src
         |      ORDER BY p.name NULLS FIRST, e.relType NULLS FIRST, neighbor NULLS FIRST
         |      LIMIT 5000),
         |pn AS (SELECT DISTINCT name FROM (
         |  SELECT name FROM d UNION ALL SELECT neighbor AS name FROM d WHERE relType IS NOT NULL)),
         |rows AS (
         |  SELECT 'node' AS kind,
         |         '{"data":{"id":"' || pn.name || '","group":"person","house":"' || n.house || '"}}' AS payload
         |  FROM pn JOIN n ON pn.name = n.name
         |  UNION ALL
         |  SELECT 'node', '{"data":{"id":"' || h || '","group":"house"}}'
         |  FROM (SELECT unnest(['BUILDING', 'AUTOMOBILE']) AS h)
         |  UNION ALL
         |  SELECT 'edge', '{"data":{"source":"' || name || '","target":"' || neighbor || '","label":"' || relType || '"}}'
         |  FROM d WHERE relType IS NOT NULL
         |  UNION ALL
         |  SELECT 'edge', '{"data":{"source":"' || pn.name || '","target":"' || n.house || '","label":"BELONGS_TO"}}'
         |  FROM pn JOIN n ON pn.name = n.name)
         |SELECT DISTINCT kind, payload FROM rows ORDER BY kind, payload""".stripMargin,
    "j14_typed_filter" ->
      s"""WITH $nodesCte, $personEdgesUndirCte
         |SELECT relType, dst AS neighbor FROM pu
         |WHERE src = 'Customer#000000007'
         |  AND relType IN ('SAME_FAMILY', 'ROMANTIC_WITH')
         |ORDER BY relType, neighbor LIMIT 500""".stripMargin,
    "p8_graph_fallback" ->
      s"""WITH $nodesCte, $personEdgesUndirCte,
         |t AS (SELECT name FROM (
         |    SELECT name, 0 AS pri FROM n WHERE name = '#00000014'
         |    UNION ALL
         |    SELECT name, 1 AS pri FROM n WHERE contains(lower(name), '#00000014'))
         |  ORDER BY pri, name LIMIT 1),
         |hop AS (SELECT src, dst, relType FROM pu JOIN t ON pu.src = t.name),
         |nn AS (SELECT DISTINCT name FROM (SELECT dst AS name FROM hop UNION ALL SELECT src AS name FROM hop)),
         |nodes AS (
         |  SELECT 'node' AS kind,
         |         '{"data":{"id":"' || n.name || '","house":"' || n.house || '"}}' AS payload
         |  FROM nn JOIN n ON nn.name = n.name),
         |edges AS (
         |  SELECT 'edge' AS kind,
         |         '{"data":{"source":"' || src || '","target":"' || dst || '","relType":"' || relType || '"}}' AS payload
         |  FROM hop)
         |SELECT kind, payload FROM nodes UNION ALL SELECT kind, payload FROM edges
         |ORDER BY kind, payload""".stripMargin,
    "a1_count_by_house" ->
      s"""WITH $nodesCte
         |SELECT house, count(*) AS cnt FROM n GROUP BY house ORDER BY house""".stripMargin,
    "a4_collect_names" ->
      s"""WITH $nodesCte
         |SELECT house, array_to_string(list_sort(list(name)), ',') AS names, count(*) AS n
         |FROM n WHERE nid < 25 GROUP BY house ORDER BY house""".stripMargin,
    "a3_native_pivot" ->
      s"""WITH $nodesCte
         |SELECT nation,
         |  CAST(sum(CASE WHEN house = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS BIGINT) AS "AUTOMOBILE",
         |  CAST(sum(CASE WHEN house = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS "BUILDING",
         |  CAST(sum(CASE WHEN house = 'FURNITURE' THEN 1 ELSE 0 END) AS BIGINT) AS "FURNITURE",
         |  CAST(sum(CASE WHEN house = 'HOUSEHOLD' THEN 1 ELSE 0 END) AS BIGINT) AS "HOUSEHOLD",
         |  CAST(sum(CASE WHEN house = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT) AS "MACHINERY"
         |FROM n GROUP BY nation ORDER BY nation""".stripMargin,
    "setop_intersect" ->
      s"""WITH $nodesCte
         |SELECT name FROM n WHERE acctbal > 5000.0
         |INTERSECT
         |SELECT name FROM n WHERE house IN ('BUILDING', 'FURNITURE')
         |ORDER BY name""".stripMargin,
    "setop_except" ->
      s"""WITH $nodesCte
         |SELECT name FROM n WHERE acctbal > 5000.0
         |EXCEPT
         |SELECT name FROM n WHERE house IN ('BUILDING', 'FURNITURE')
         |ORDER BY name""".stripMargin,
    "fn_lastname_key" ->
      s"""WITH $nodesCte
         |SELECT name, string_split(name, '#')[-1] AS key FROM n
         |ORDER BY name LIMIT 20""".stripMargin,
    // —— text analysis ——
    "tx_tokens" ->
      """SELECT doc_id,
        |  len(string_split_regex(lower(text), '\s+')) AS n_ws,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe,
        |  len(text) AS len
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,
    // fn_json_suite: paths replayed with DuckDB's ->> extraction; the
    // to_json rendering rebuilt by concat so Spark's exact field order
    // and compact formatting are certified.
    "fn_json_suite" ->
      """WITH j AS (
        |  SELECT c_custkey,
        |    '{"user": {"id": ' || CAST(c_custkey AS VARCHAR) ||
        |    ', "name": "' || c_name || '"}, "tags": ["x", "' ||
        |    c_mktsegment || '", "z"], "n": ' || CAST(c_nationkey AS VARCHAR)
        |    || '}' AS jdoc,
        |    c_mktsegment FROM customer WHERE c_custkey < 50)
        |SELECT c_custkey, jdoc,
        |  CAST(jdoc ->> '$.user.id' AS BIGINT) AS uid,
        |  jdoc ->> '$.user.name' AS uname,
        |  jdoc ->> '$.tags[1]' AS tag1,
        |  CAST(json_array_length(jdoc, '$.tags') AS INTEGER) AS ntags,
        |  true AS from_json_consistent,
        |  '{"id":' || CAST(c_custkey AS VARCHAR) || ',"seg":"' ||
        |    c_mktsegment || '"}' AS rendered
        |FROM j ORDER BY c_custkey""".stripMargin,
    // fn_url_suite: each parse_url part replayed with an anchored regex;
    // absent parameter is NULL on both engines.
    "fn_url_suite" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://' || source || '.example.org/docs/' || CAST(doc_id AS VARCHAR)
        |      || '?lang=' || lang || '&v=' || CAST(doc_id % 7 AS VARCHAR) AS url
        |  FROM documents WHERE doc_id < 50)
        |SELECT doc_id, url,
        |  regexp_extract(url, '^([a-z]+)://', 1) AS proto,
        |  regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
        |  regexp_extract(url, '^[a-z]+://[^/?#]+(/[^?#]*)', 1) AS path,
        |  regexp_extract(url, '\?([^#]*)', 1) AS query,
        |  regexp_extract(url, '[?&]lang=([^&#]*)', 1) AS lang_param,
        |  regexp_extract(url, '[?&]v=([^&#]*)', 1) AS v_param,
        |  CAST(NULL AS VARCHAR) AS missing_param
        |FROM u ORDER BY doc_id""".stripMargin,
    // fn_hof_suite: the ordered fold replayed with list_reduce over a
    // zero-prepended list (DuckDB's reduce seeds from the head element);
    // quantifiers as filtered-length tests; zip_with via index transform.
    "fn_hof_suite" ->
      """WITH g AS (
        |  SELECT l_orderkey,
        |    list_sort(list(CAST(floor(l_quantity) AS BIGINT))) AS qs
        |  FROM lineitem WHERE l_orderkey < 60 GROUP BY l_orderkey)
        |SELECT l_orderkey,
        |  CAST(len(qs) AS BIGINT) AS n_items,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), qs),
        |    (acc, x) -> acc + x) AS BIGINT) AS fold_sum,
        |  CAST(list_reduce(list_prepend(CAST(7 AS BIGINT), qs),
        |    (acc, x) -> (acc * 31 + x) % 1000003) AS BIGINT) AS fold_hash,
        |  len(list_filter(qs, x -> x > 45)) > 0 AS has_bulk,
        |  len(list_filter(qs, x -> x <= 0)) = 0 AS all_positive,
        |  array_to_string(list_transform(generate_series(1, len(qs)),
        |    i -> qs[i] + qs[len(qs) + 1 - i]), ',') AS palindrome_sums
        |FROM g ORDER BY l_orderkey""".stripMargin,
    // fn_math_suite: pmod replayed as ((k%m)+m)%m (DuckDB has no pmod);
    // double→BIGINT casts only where the double is an exact integer
    // (floor/ceil/pow2/factorial), so truncate-vs-round can't diverge.
    "fn_math_suite" ->
      """SELECT c_custkey,
        |  c_acctbal - 500.0 AS v,
        |  abs(c_acctbal - 500.0) AS abs_v,
        |  CAST(sign(c_acctbal - 500.0) AS BIGINT) AS sign_v,
        |  CAST(c_custkey % 7 AS BIGINT) - 3 AS k,
        |  CAST((CAST(c_custkey % 7 AS BIGINT) - 3) % 5 AS BIGINT) AS mod_k,
        |  CAST((((CAST(c_custkey % 7 AS BIGINT) - 3) % 5) + 5) % 5 AS BIGINT) AS pmod_k,
        |  greatest(c_custkey % 10, c_custkey % 7, 3) AS g3,
        |  least(c_custkey % 10, c_custkey % 7, 3) AS l3,
        |  CAST(floor(c_acctbal - 500.0) AS BIGINT) AS fl,
        |  CAST(ceil(c_acctbal - 500.0) AS BIGINT) AS ce,
        |  sqrt(abs(c_acctbal - 500.0)) AS sq,
        |  CAST(pow(2.0, c_custkey % 11) AS BIGINT) AS pow2,
        |  CAST(factorial(CAST(c_custkey % 6 AS INT)) AS BIGINT) AS fact
        |FROM customer WHERE c_custkey < 60 ORDER BY c_custkey""".stripMargin,
    // tx_dataset_card: volumes + dominant language (count desc, lang asc
    // tie-break) + within-source exact-dup rate, all integer ppm.
    "tx_dataset_card" ->
      """WITH d AS (
        |  SELECT source, lang, n_chars,
        |    CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT) AS nt,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |t AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |        CAST(sum(nt) AS BIGINT) AS total_tokens,
        |        CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |        CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        |      FROM d GROUP BY 1),
        |dl AS (SELECT source, lang AS dominant_lang FROM (
        |        SELECT source, lang, row_number() OVER (PARTITION BY source
        |          ORDER BY count(*) DESC, lang ASC) AS rk
        |        FROM d GROUP BY source, lang) WHERE rk = 1),
        |du AS (SELECT source,
        |        CAST(sum(CASE WHEN n >= 2 THEN n ELSE 0 END) AS BIGINT) AS dup_docs
        |       FROM (SELECT source, fp, count(*) AS n FROM d GROUP BY 1, 2)
        |       GROUP BY 1)
        |SELECT t.source, n_docs, total_tokens, total_chars, n_langs, dominant_lang,
        |  CAST(dup_docs * 1000000 // n_docs AS BIGINT) AS dup_ppm,
        |  CAST(total_tokens // n_docs AS BIGINT) AS mean_doc_tokens
        |FROM t JOIN dl ON t.source = dl.source JOIN du ON t.source = du.source
        |ORDER BY t.source""".stripMargin,
    // tx_chat_template: byte-exact template replay (md5 prefix compare as
    // hex STRING); per-part token counts with the empty-string guard.
    "tx_chat_template" ->
      """WITH p AS (
        |  SELECT doc_id, substring(text, 1, 80) AS prompt,
        |    substring(text, 81) AS completion
        |  FROM documents WHERE doc_id < 60),
        |t AS (
        |  SELECT doc_id,
        |    substring(md5('<|system|>You are a helpful assistant.' ||
        |      '<|user|>' || prompt || '<|assistant|>' || completion ||
        |      '<|end|>'), 1, 12) AS render_md5,
        |    CASE WHEN len(trim(prompt)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(prompt), '\s+')) END
        |      AS prompt_tokens,
        |    CASE WHEN len(trim(completion)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(completion), '\s+')) END
        |      AS completion_tokens
        |  FROM p)
        |SELECT doc_id, render_md5,
        |  CAST(prompt_tokens AS INTEGER) AS prompt_tokens,
        |  CAST(completion_tokens AS INTEGER) AS completion_tokens,
        |  CAST(prompt_tokens + completion_tokens AS INTEGER) AS total_tokens,
        |  CAST(prompt_tokens AS INTEGER) AS mask_end_tok,
        |  prompt_tokens + completion_tokens <= 32 AS fits_budget,
        |  CAST(greatest(prompt_tokens + completion_tokens - 32, 0) AS INTEGER)
        |    AS truncate_tokens
        |FROM t ORDER BY doc_id""".stripMargin,
    // tx_preference_pairs: the argmax/argmin elections replayed as
    // explicit row_number windows with the same tie order (reward
    // desc/asc, doc_id asc) — the dd_survivorship oracle pattern.
    "tx_preference_pairs" ->
      """WITH c AS (
        |  SELECT doc_id, doc_id // 5 AS prompt_id,
        |    n_chars * 1000 + (doc_id * 2654435761 % 1009) % 1000 AS reward
        |  FROM documents),
        |r AS (
        |  SELECT prompt_id, doc_id, reward,
        |    row_number() OVER (PARTITION BY prompt_id
        |      ORDER BY reward DESC, doc_id ASC) AS rk_top,
        |    row_number() OVER (PARTITION BY prompt_id
        |      ORDER BY reward ASC, doc_id ASC) AS rk_bot,
        |    count(*) OVER (PARTITION BY prompt_id) AS n_cands
        |  FROM c),
        |ch AS (SELECT prompt_id, n_cands, doc_id AS chosen_id, reward AS cr
        |       FROM r WHERE rk_top = 1),
        |rj AS (SELECT prompt_id, doc_id AS rejected_id, reward AS rr
        |       FROM r WHERE rk_bot = 1)
        |SELECT ch.prompt_id, CAST(n_cands AS BIGINT) AS n_cands,
        |  chosen_id, rejected_id, CAST(cr - rr AS BIGINT) AS margin,
        |  substring(md5(concat_ws('|', ch.prompt_id, chosen_id, rejected_id)),
        |    1, 12) AS pair_md5
        |FROM ch JOIN rj USING (prompt_id)
        |WHERE n_cands >= 2 AND cr - rr >= 50
        |ORDER BY ch.prompt_id""".stripMargin,
    // tx_grpo_advantage: the scale-free advantage reward·n − Σreward
    // replayed exactly; DuckDB's BIGINT sums widen to HUGEINT, so every
    // aggregate is cast back to BIGINT to match Spark's long channel.
    "tx_grpo_advantage" ->
      """WITH r AS (
        |  SELECT doc_id, doc_id // 8 AS prompt_id,
        |    n_chars * 1000 + (doc_id * 2654435761 % 1009) % 1000 AS reward
        |  FROM documents),
        |s AS (SELECT prompt_id, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(reward) AS BIGINT) AS rsum
        |      FROM r GROUP BY 1),
        |a AS (SELECT r.prompt_id, r.reward * s.n - s.rsum AS adv, s.n
        |      FROM r JOIN s USING (prompt_id))
        |SELECT prompt_id, CAST(max(n) AS BIGINT) AS n_samples,
        |  CAST(sum(CASE WHEN adv > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  CAST(max(adv) AS BIGINT) AS max_adv_scaled,
        |  CAST(sum(adv) AS BIGINT) AS zero_sum
        |FROM a GROUP BY prompt_id ORDER BY prompt_id""".stripMargin,
    "tx_quality" ->
      s"""WITH t AS (
         |  SELECT doc_id, text, string_split_regex(lower(text), '\\s+') AS toks,
         |         len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS np
         |  FROM documents WHERE doc_id < 100),
         |q AS (
         |  SELECT doc_id, len(text) AS len,
         |    round(np * 1.0 / len(text), 4) AS punct_ratio,
         |    round(len(list_filter(toks, x -> x IN (${TextOps.Stopwords.map(w => s"'$w'").mkString(", ")}))) * 1.0 / len(toks), 4) AS stop_ratio,
         |    round((len(text) - len(toks) + 1) * 1.0 / len(toks), 4) AS avg_tok_len
         |  FROM t)
         |SELECT *, (len BETWEEN 50 AND 2000 AND punct_ratio < 0.2 AND avg_tok_len < 12.0) AS is_quality
         |FROM q ORDER BY doc_id""".stripMargin,
    // tx_eval_metrics: the oracle re-scores the FULL corpus with the
    // same marker heuristic, then folds the confusion table into the
    // identical guarded-ppm precision/recall.
    "tx_eval_metrics" -> {
      val scores = TextOps.LangMarkers.map { case (l, m) =>
        s"CAST((len(lo) - len(replace(lo, '$m', ''))) / ${m.length} AS BIGINT) AS s_$l"
      }.mkString(",\n    ")
      val best = "greatest(" + TextOps.LangMarkers.map { case (l, _) => s"s_$l" }.mkString(", ") + ")"
      val cases = TextOps.LangMarkers.map { case (l, _) => s"WHEN s_$l = $best THEN '$l'" }.mkString(" ")
      s"""WITH t AS (SELECT doc_id, lang, lower(text) AS lo FROM documents),
         |s AS (SELECT doc_id, lang,
         |    $scores
         |  FROM t),
         |p AS (SELECT lang, CASE $cases ELSE 'und' END AS pred FROM s),
         |conf AS (SELECT lang, pred, count(*) AS n FROM p GROUP BY 1, 2),
         |cls AS (SELECT DISTINCT lang AS cls FROM conf),
         |tpt AS (SELECT lang AS cls, n AS tp FROM conf WHERE lang = pred),
         |fpt AS (SELECT pred AS cls, sum(n) AS fp FROM conf
         |        WHERE lang <> pred GROUP BY 1),
         |fnt AS (SELECT lang AS cls, sum(n) AS fn FROM conf
         |        WHERE lang <> pred GROUP BY 1)
         |SELECT cls AS lang, CAST(coalesce(tp, 0) AS BIGINT) AS tp,
         |  CAST(coalesce(fp, 0) AS BIGINT) AS fp,
         |  CAST(coalesce(fn, 0) AS BIGINT) AS fn,
         |  CAST(CASE WHEN coalesce(tp, 0) + coalesce(fp, 0) = 0 THEN 0
         |    ELSE coalesce(tp, 0) * 1000000 // (coalesce(tp, 0) + coalesce(fp, 0))
         |    END AS BIGINT) AS precision_ppm,
         |  CAST(CASE WHEN coalesce(tp, 0) + coalesce(fn, 0) = 0 THEN 0
         |    ELSE coalesce(tp, 0) * 1000000 // (coalesce(tp, 0) + coalesce(fn, 0))
         |    END AS BIGINT) AS recall_ppm
         |FROM cls LEFT JOIN tpt USING (cls) LEFT JOIN fpt USING (cls)
         |  LEFT JOIN fnt USING (cls)
         |ORDER BY lang""".stripMargin
    },
    "tx_langid" -> {
      val scores = TextOps.LangMarkers.map { case (l, m) =>
        s"CAST((len(lo) - len(replace(lo, '$m', ''))) / ${m.length} AS BIGINT) AS s_$l"
      }.mkString(",\n    ")
      val best = "greatest(" + TextOps.LangMarkers.map { case (l, _) => s"s_$l" }.mkString(", ") + ")"
      val cases = TextOps.LangMarkers.map { case (l, _) => s"WHEN s_$l = $best THEN '$l'" }.mkString(" ")
      s"""WITH t AS (SELECT doc_id, lower(text) AS lo FROM documents WHERE doc_id < 100),
         |s AS (SELECT doc_id,
         |    $scores
         |  FROM t)
         |SELECT doc_id, s_en, s_de, s_fr, s_es,
         |  CASE $cases ELSE 'und' END AS pred
         |FROM s ORDER BY doc_id""".stripMargin
    },
    "tx_fingerprint" ->
      s"""WITH t AS (
         |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
         |  FROM documents WHERE doc_id < 100)
         |SELECT doc_id, md5(nt) AS fp_md5,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split(nt, ''), c -> CAST(ord(c) AS BIGINT))),
         |    (a, b) -> (a * ${TextOps.HashBase} + b) % ${TextOps.HashMod}) AS fp_roll
         |FROM t ORDER BY doc_id""".stripMargin,
    // tx_nucleus: same strictly-before-mass rule, same tie-break.
    "tx_nucleus" ->
      """WITH t AS (
        |  SELECT lang, unnest(string_split_regex(lower(text), '\s+')) AS w
        |  FROM documents),
        |v AS (SELECT lang, w, count(*) AS c FROM t WHERE w <> '' GROUP BY 1, 2),
        |r AS (SELECT lang, c,
        |    sum(c) OVER (PARTITION BY lang ORDER BY c DESC, w
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY lang) AS tot,
        |    count(*) OVER (PARTITION BY lang) AS vocab
        |  FROM v)
        |SELECT lang, count(*) AS k_nucleus,
        |  CAST(max(cum) * 1000000 // max(tot) AS BIGINT) AS mass_ppm,
        |  CAST(max(vocab) AS BIGINT) AS vocab_size
        |FROM r WHERE (cum - c) * 1000000 < 900000 * tot
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // tx_vocab_coverage: rn <= N over the same (freq desc, token asc)
    // total order is exactly the engine's bounded top-N prefix.
    "tx_vocab_coverage" ->
      """WITH t AS (
        |  SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
        |  FROM documents),
        |v AS (SELECT w, count(*) AS c FROM t WHERE w <> '' GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS total_tokens,
        |               count(*) AS distinct_tokens FROM v),
        |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rn FROM v)
        |SELECT n.n_vocab,
        |  CAST(sum(CASE WHEN r.rn <= n.n_vocab THEN r.c ELSE 0 END) AS BIGINT)
        |    AS covered,
        |  tot.total_tokens, tot.distinct_tokens,
        |  CAST(sum(CASE WHEN r.rn <= n.n_vocab THEN r.c ELSE 0 END)
        |    * 1000000 // tot.total_tokens AS BIGINT) AS coverage_ppm
        |FROM (VALUES (CAST(100 AS BIGINT)), (CAST(1000 AS BIGINT)),
        |             (CAST(5000 AS BIGINT))) AS n(n_vocab)
        |CROSS JOIN r CROSS JOIN tot
        |GROUP BY n.n_vocab, tot.total_tokens, tot.distinct_tokens
        |ORDER BY n.n_vocab""".stripMargin,
    "tx_vocab_topk" ->
      """WITH t AS (
        |  SELECT unnest(string_split_regex(lower(text), '\s+')) AS token FROM documents)
        |SELECT token, count(*) AS freq FROM t WHERE token <> ''
        |GROUP BY token ORDER BY freq DESC, token LIMIT 20""".stripMargin,
    "tx_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
        |  FROM documents WHERE doc_id < 100),
        |g AS (
        |  SELECT doc_id, t,
        |    list_transform(generate_series(1, greatest(len(t) - 2, 0)),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS g
        |  FROM t),
        |c AS (
        |  SELECT doc_id, len(t) AS n_tok, len(list_distinct(t)) AS n_tok_uniq,
        |         len(g) AS n_gram, len(list_distinct(g)) AS n_gram_uniq
        |  FROM g)
        |SELECT doc_id, n_tok, n_tok_uniq, n_gram, n_gram_uniq,
        |  round(1.0 - n_tok_uniq * 1.0 / n_tok, 4) AS dup_tok_frac,
        |  CASE WHEN n_gram = 0 THEN 0.0
        |       ELSE round(1.0 - n_gram_uniq * 1.0 / n_gram, 4) END AS dup_gram_frac,
        |  (CASE WHEN n_gram = 0 THEN 0.0
        |        ELSE round(1.0 - n_gram_uniq * 1.0 / n_gram, 4) END) > 0.5 AS is_repetitive
        |FROM c ORDER BY doc_id""".stripMargin,
    "tx_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tk
        |  FROM documents),
        |tok2 AS (SELECT doc_id, tk FROM tok WHERE tk <> ''),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |tfall AS (SELECT doc_id, tk, count(*) AS cnt FROM tok2 GROUP BY 1, 2),
        |dft AS (SELECT tk, count(*) AS dfv FROM tfall GROUP BY 1),
        |tf AS (SELECT * FROM tfall WHERE doc_id < 20),
        |dl AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tok FROM tf GROUP BY 1),
        |s AS (
        |  SELECT tf.doc_id, tf.tk, tf.cnt,
        |    round((tf.cnt * 1.0 / dl.n_tok) * ln(n.n_docs * 1.0 / dft.dfv), 6) AS tfidf,
        |    row_number() OVER (PARTITION BY tf.doc_id ORDER BY tf.cnt DESC, tf.tk) AS rnk
        |  FROM tf JOIN dl USING (doc_id) JOIN dft USING (tk) CROSS JOIN n)
        |SELECT doc_id, rnk, tk AS term, cnt, tfidf
        |FROM s WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    // tx_ngram_lm: add-one-smoothed bigram LM trained on the corpus itself;
    // the 20 least-fluent docs. Ordered by the ROUNDED mean log-prob so the
    // cutoff is deterministic despite summation-order drift in avg().
    "tx_ngram_lm" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
        |       i -> {'w1': t[i], 'w2': t[i+1]})) AS b FROM toks),
        |bge AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
        |big AS (SELECT w1, w2, count(*) AS c12 FROM bge GROUP BY 1, 2),
        |uni AS (SELECT w1, count(*) AS c1 FROM bge GROUP BY 1),
        |v AS (SELECT count(DISTINCT w2) AS vsz FROM bge),
        |sc AS (SELECT d.doc_id, count(*) AS n_bigrams,
        |         avg(ln((big.c12 + 1.0) / (uni.c1 + v.vsz))) AS lp
        |       FROM bge d JOIN big USING (w1, w2) JOIN uni USING (w1) CROSS JOIN v
        |       GROUP BY 1)
        |SELECT doc_id, n_bigrams, round(lp, 4) AS avg_logprob
        |FROM sc ORDER BY avg_logprob, doc_id LIMIT 20""".stripMargin,
    // tx_chunk: sliding 50-token windows at stride 40 — same
    // generate_series start positions, list_slice == Spark slice, md5 of
    // the space-rejoined chunk text hashed on both engines.
    "tx_chunk" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t, len(string_split(text, ' ')) AS n
        |  FROM documents WHERE doc_id < 500),
        |st AS (
        |  SELECT doc_id, t, n, unnest(generate_series(0, greatest(n - 1, 0), 40)) AS s
        |  FROM toks)
        |SELECT doc_id, CAST(s // 40 AS INT) AS chunk_idx,
        |  CAST(least(s + 50, n) - s AS BIGINT) AS n_toks,
        |  md5(array_to_string(list_slice(t, s + 1, least(s + 50, n)), ' ')) AS chunk_md5
        |FROM st ORDER BY doc_id, chunk_idx""".stripMargin,
    // tx_zipf_fit: log-log least-squares over the rank/frequency curve —
    // slope = regr_slope = cov/var, r2 = corr². The synthetic corpus is
    // deliberately non-Zipfian (slope ~ -0.2) — the health check firing.
    "tx_zipf_fit" ->
      """WITH tok AS (SELECT unnest(string_split_regex(lower(text), '\s+')) AS tk FROM documents),
        |tf AS (SELECT tk, count(*) AS c FROM tok WHERE tk <> '' GROUP BY 1),
        |rk AS (SELECT tk, c, row_number() OVER (ORDER BY c DESC, tk) AS r FROM tf),
        |pts AS (SELECT ln(r * 1.0) AS x, ln(c * 1.0) AS y FROM rk)
        |SELECT CAST(count(*) AS BIGINT) AS n_terms,
        |  round(regr_slope(y, x), 4) AS zipf_slope,
        |  round(regr_r2(y, x), 4) AS r2
        |FROM pts""".stripMargin,
    // tx_pmi: PMI collocations — bigram probability vs independent unigram
    // margins, min-count floor, top-k on the ROUNDED score.
    "tx_pmi" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents),
        |tok AS (SELECT doc_id, unnest(t) AS token FROM tk),
        |uni AS (SELECT token, count(*) AS c FROM tok GROUP BY 1),
        |n AS (SELECT sum(c) AS total FROM uni),
        |bg AS (
        |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        |  FROM tk, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)
        |  WHERE len(t) >= 2),
        |big AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
        |nb AS (SELECT sum(c12) AS total FROM big)
        |SELECT w1, w2, CAST(c12 AS BIGINT) AS pair_count,
        |  round(ln((c12 * 1.0 / nb.total) / ((u1.c * 1.0 / n.total) * (u2.c * 1.0 / n.total))), 4) AS pmi
        |FROM big, n, nb
        |JOIN uni u1 ON big.w1 = u1.token JOIN uni u2 ON big.w2 = u2.token
        |WHERE c12 >= 5
        |ORDER BY pmi DESC, w1, w2 LIMIT 30""".stripMargin,
    "tx_sample_hash" ->
      """SELECT doc_id,
        |  substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 2) AS bucket
        |FROM documents
        |WHERE substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 2) < '29'
        |ORDER BY doc_id""".stripMargin,
    "tx_curate" -> {
      val scores = TextOps.LangMarkers.map { case (l, m) =>
        s"CAST((len(lo) - len(replace(lo, '$m', ''))) / ${m.length} AS BIGINT) AS s_$l"
      }.mkString(",\n    ")
      val best = "greatest(" + TextOps.LangMarkers.map { case (l, _) => s"s_$l" }.mkString(", ") + ")"
      val cases = TextOps.LangMarkers.map { case (l, _) => s"WHEN s_$l = $best THEN '$l'" }.mkString(" ")
      s"""WITH d AS (
         |  SELECT doc_id, text, lang, lower(text) AS lo,
         |         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
         |         string_split_regex(lower(text), '\\s+') AS toks,
         |         len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS np
         |  FROM documents),
         |k AS (SELECT fp, min(doc_id) AS keep_id FROM d GROUP BY 1),
         |s AS (SELECT d.*, k.keep_id,
         |    $scores
         |  FROM d JOIN k USING (fp)),
         |v AS (
         |  SELECT doc_id, keep_id, lang,
         |    CASE $cases ELSE 'und' END AS pred,
         |    (len(text) BETWEEN 50 AND 2000
         |     AND round(np * 1.0 / len(text), 4) < 0.2
         |     AND round((len(text) - len(toks) + 1) * 1.0 / len(toks), 4) < 12.0) AS is_q
         |  FROM s)
         |SELECT doc_id,
         |  CASE WHEN doc_id <> keep_id THEN 'duplicate'
         |       WHEN pred <> lang THEN 'lang_mismatch'
         |       WHEN NOT is_q THEN 'low_quality'
         |       ELSE 'ok' END AS reason,
         |  (CASE WHEN doc_id <> keep_id THEN 'duplicate'
         |        WHEN pred <> lang THEN 'lang_mismatch'
         |        WHEN NOT is_q THEN 'low_quality'
         |        ELSE 'ok' END) = 'ok' AS keep
         |FROM v ORDER BY doc_id""".stripMargin
    },
    // tx_pipeline: curate → mix → pack composed over one flow — the CTE
    // chain mirrors the three stage oracles verbatim (curation verdict,
    // fp-prefix mixing rate, per-shard packing window) so a drift in any
    // stage's rule shows up as a hash mismatch here even while the stage
    // entries stay green on their own grain.
    "tx_pipeline" -> {
      val scores = TextOps.LangMarkers.map { case (l, m) =>
        s"CAST((len(lo) - len(replace(lo, '$m', ''))) / ${m.length} AS BIGINT) AS s_$l"
      }.mkString(",\n    ")
      val best = "greatest(" + TextOps.LangMarkers.map { case (l, _) => s"s_$l" }.mkString(", ") + ")"
      val cases = TextOps.LangMarkers.map { case (l, _) => s"WHEN s_$l = $best THEN '$l'" }.mkString(" ")
      s"""WITH d AS (
         |  SELECT doc_id, text, lang, source, lower(text) AS lo,
         |         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
         |         string_split_regex(lower(text), '\\s+') AS toks,
         |         len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS np
         |  FROM documents),
         |k AS (SELECT fp, min(doc_id) AS keep_id FROM d GROUP BY 1),
         |s AS (SELECT d.*, k.keep_id,
         |    $scores
         |  FROM d JOIN k USING (fp)),
         |v AS (
         |  SELECT doc_id, source, fp, toks, keep_id, lang,
         |    CASE $cases ELSE 'und' END AS pred,
         |    (len(text) BETWEEN 50 AND 2000
         |     AND round(np * 1.0 / len(text), 4) < 0.2
         |     AND round((len(text) - len(toks) + 1) * 1.0 / len(toks), 4) < 12.0) AS is_q
         |  FROM s),
         |surv AS (
         |  SELECT source, doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
         |  FROM v
         |  WHERE doc_id = keep_id AND pred = lang AND is_q
         |    AND substr(fp, 1, 2) <
         |        (['40', '80', 'c0', 'zz'])[(TRY_CAST(substr(source, 4) AS INT) % 4) + 1]),
         |c AS (SELECT source, doc_id, n_tokens,
         |  sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cum_before
         |  FROM surv)
         |SELECT source, CAST(floor(cum_before / 256.0) AS BIGINT) AS pack_id,
         |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS tokens
         |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    "tx_len_quantiles" ->
      """SELECT count(*) AS n_docs,
        |  round(quantile_cont(len(text), 0.5), 4) AS p50,
        |  round(quantile_cont(len(text), 0.9), 4) AS p90,
        |  round(quantile_cont(len(text), 0.99), 4) AS p99,
        |  min(len(text)) AS min_len, max(len(text)) AS max_len
        |FROM documents""".stripMargin,
    // —— dedup ——
    "dd_exact" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
        |g AS (
        |  SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |         min(doc_id) AS keep_id, count(*) AS copies
        |  FROM d GROUP BY 1)
        |SELECT count(*) AS n_unique, CAST(sum(copies) AS BIGINT) AS n_total,
        |       CAST(sum(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
        |       max(keep_id) AS max_keep_id
        |FROM g""".stripMargin,
    // dd_source_overlap: identical shingle + canonical-pair replay.
    "dd_source_overlap" ->
      """WITH toks AS (
        |  SELECT source, string_split_regex(lower(text), '\s+') AS t
        |  FROM documents),
        |sh AS (SELECT source,
        |    list_distinct(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
        |  FROM toks),
        |fs AS (SELECT DISTINCT unnest(shingles) AS fp, source FROM sh),
        |t AS (SELECT source, count(*) AS n FROM fs GROUP BY 1),
        |p AS (SELECT a.source AS source_a, b.source AS source_b,
        |    count(*) AS shared
        |  FROM fs a JOIN fs b ON a.fp = b.fp AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT p.source_a, p.source_b, p.shared,
        |  ta.n AS n_a, tb.n AS n_b
        |FROM p JOIN t ta ON ta.source = p.source_a
        |  JOIN t tb ON tb.source = p.source_b
        |ORDER BY source_a, source_b""".stripMargin,
    // dd_similarity_curve: integer-decile banding over the same pair CTEs.
    "dd_similarity_curve" ->
      s"""WITH $ngramPairStatsCtes
         |SELECT CAST(common * 10 // (na + nb - common) AS BIGINT) AS decile,
         |  count(*) AS n_pairs
         |FROM pairs GROUP BY 1 ORDER BY 1""".stripMargin,
    "dd_ngram_jaccard" -> ngramJaccardSql(0.8),
    "dd_containment" ->
      s"""WITH $ngramPairStatsCtes
         |SELECT src_id, dst_id,
         |       round(common * 1.0 / least(na, nb), 4) AS containment
         |FROM pairs WHERE round(common * 1.0 / least(na, nb), 4) >= 0.9
         |ORDER BY src_id, dst_id""".stripMargin,
    // dd_contamination: eval-side directional containment between the
    // eval source and every other source; worst offender per eval doc.
    "dd_contamination" ->
      s"""WITH $ngramPairStatsCtes,
         |src AS (SELECT doc_id, source FROM documents),
         |ori AS (
         |  SELECT CASE WHEN sa.source = 'src0' THEN src_id ELSE dst_id END AS eval_id,
         |         CASE WHEN sa.source = 'src0' THEN dst_id ELSE src_id END AS train_id,
         |         CASE WHEN sa.source = 'src0' THEN sb.source ELSE sa.source END AS train_source,
         |         round(common * 1.0 / CASE WHEN sa.source = 'src0' THEN na ELSE nb END, 4) AS contamination
         |  FROM pairs JOIN src sa ON sa.doc_id = src_id JOIN src sb ON sb.doc_id = dst_id
         |  WHERE (sa.source = 'src0') <> (sb.source = 'src0')),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY eval_id ORDER BY contamination DESC, train_id) AS rn
         |       FROM ori WHERE contamination >= 0.4)
         |SELECT eval_id, train_id, train_source, contamination FROM rk WHERE rn = 1
         |ORDER BY eval_id""".stripMargin,
    // dd_incremental: batch-vs-corpus asymmetric near-dup — each src3 doc's
    // best Jaccard >= 0.8 match among NON-src3 docs (the engine probes the
    // source-partitioned index; the oracle recomputes from scratch).
    "dd_incremental" -> incrementalDedupSql,
    // st_incremental_dedup: the SAME probe executed per micro-batch inside
    // foreachBatch (continuous-ingest dedup) — one AvailableNow batch here,
    // so the emitted matches equal the batch op's, which is the oracle.
    "st_incremental_dedup" -> incrementalDedupSql,
    "dd_minhash_lsh" -> ngramJaccardSql(0.85),
    "dd_cluster_canonical" -> dedupClusterSql(0.85),
    // dd_survivorship: same recursive CC fixpoint, then the longest-
    // representative election replayed as a per-component window argmax.
    "dd_survivorship" ->
      s"""WITH RECURSIVE $ngramPairStatsCtes,
         |pr AS (SELECT src_id, dst_id FROM pairs
         |       WHERE round(common * 1.0 / (na + nb - common), 4) >= 0.85),
         |e AS (SELECT src_id AS a, dst_id AS b FROM pr
         |      UNION ALL SELECT dst_id, src_id FROM pr),
         |walk(a, m) AS (
         |  SELECT a, a AS m FROM (SELECT DISTINCT a FROM e) t
         |  UNION
         |  SELECT e.a, w.m FROM e JOIN walk w ON e.b = w.a),
         |comp AS (SELECT a AS doc_id, min(m) AS component FROM walk GROUP BY a),
         |r AS (SELECT c.component, c.doc_id, d.n_chars,
         |        row_number() OVER (PARTITION BY c.component
         |          ORDER BY d.n_chars DESC, c.doc_id ASC) AS rk,
         |        count(*) OVER (PARTITION BY c.component) AS n_members
         |      FROM comp c JOIN documents d ON c.doc_id = d.doc_id)
         |SELECT component, CAST(n_members AS BIGINT) AS n_members,
         |  doc_id AS survivor_id, n_chars AS survivor_nchars
         |FROM r WHERE rk = 1 ORDER BY component""".stripMargin,
    // dd_url_dedup: the three surface variants rebuilt verbatim, then the
    // canonicalization replayed with regexp parsing (the fn_url_suite
    // idiom — DuckDB has no parse_url): lowercase host, strip trailing
    // slash, drop fragment, drop utm_* params, sort survivors.
    "dd_url_dedup" ->
      """WITH v AS (
        |  SELECT doc_id, doc_id // 3 AS page_id, doc_id % 3 AS variant
        |  FROM documents),
        |u AS (
        |  SELECT doc_id,
        |    CASE variant
        |      WHEN 0 THEN 'https://cdn' || (page_id % 4) || '.example.org/p/'
        |        || page_id || '?id=' || page_id || '&lang=l' || (page_id % 5)
        |      WHEN 1 THEN 'HTTPS://CDN' || (page_id % 4) || '.Example.ORG/p/'
        |        || page_id || '/?lang=l' || (page_id % 5) || '&id=' || page_id
        |        || '&utm_source=feed'
        |      ELSE 'https://cdn' || (page_id % 4) || '.example.org/p/'
        |        || page_id || '?lang=l' || (page_id % 5) || '&id=' || page_id
        |        || '#section-2'
        |    END AS url
        |  FROM v),
        |c AS (
        |  SELECT doc_id, url,
        |    'https://'
        |    || lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1))
        |    || regexp_replace(
        |         regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1), '/$', '')
        |    || '?'
        |    || array_to_string(list_sort(list_filter(
        |         string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
        |         p -> p[1:4] != 'utm_')), '&') AS canon
        |  FROM u)
        |SELECT canon, CAST(count(*) AS BIGINT) AS n_variants,
        |  CAST(count(DISTINCT url) AS BIGINT) AS n_raw_forms,
        |  min(doc_id) AS keep_id
        |FROM c GROUP BY canon ORDER BY canon""".stripMargin,
    // dd_semantic_cluster: recursive min-label propagation over the
    // embedding-cosine >= 0.4 pair graph (same fixpoint as GraphX CC).
    "dd_semantic_cluster" ->
      s"""WITH RECURSIVE $embCte,
         |p AS (
         |  SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
         |    round(list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) AS cosine
         |  FROM ne a JOIN ne b ON a.vec_id < b.vec_id
         |  WHERE a.vec_id < 300 AND b.vec_id < 300),
         |pr AS (SELECT src_id, dst_id FROM p WHERE cosine >= 0.4),
         |ed AS (SELECT src_id AS a, dst_id AS b FROM pr
         |       UNION ALL SELECT dst_id, src_id FROM pr),
         |walk(a, m) AS (
         |  SELECT a, a AS m FROM (SELECT DISTINCT a FROM ed) t
         |  UNION
         |  SELECT ed.a, w.m FROM ed JOIN walk w ON ed.b = w.a)
         |SELECT a AS vec_id, min(m) AS keep_id, min(m) = a AS is_kept
         |FROM walk GROUP BY a ORDER BY vec_id""".stripMargin,
    // dd_simhash: full replay of the 60-bit SimHash (two polynomial rolling
    // hash families → per-bit ±1 votes → signature → 4×15-bit chunk banding
    // → bit_count(xor) verify) — expressible in DuckDB because the token
    // hash is graft's rolling hash, not xxhash64.
    "dd_simhash" -> {
      val votes = (0 until TextOps.SimHashBits).map { j =>
        val (h, bit) = if (j < 30) ("h1", j) else ("h2", j - 30)
        s"sum(CASE WHEN (($h >> $bit) & 1) = 1 THEN 1 ELSE -1 END) AS v$j"
      }.mkString(",\n    ")
      val sig = (0 until TextOps.SimHashBits).map { j =>
        s"(CASE WHEN v$j > 0 THEN CAST(1 AS BIGINT) << $j ELSE CAST(0 AS BIGINT) END)"
      }.mkString(" | ")
      s"""WITH t AS (
         |  SELECT doc_id, list_distinct(string_split_regex(lower(text), '\\s+')) AS toks
         |  FROM documents WHERE doc_id < 200),
         |tok AS (SELECT doc_id, unnest(toks) AS tk FROM t),
         |h AS (SELECT doc_id,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split(tk, ''), c -> CAST(ord(c) AS BIGINT))),
         |      (a, b) -> (a * ${TextOps.HashBase} + b) % ${TextOps.HashMod}) AS h1,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split(tk, ''), c -> CAST(ord(c) AS BIGINT))),
         |      (a, b) -> (a * ${TextOps.HashBase2} + b) % ${TextOps.HashMod2}) AS h2
         |  FROM tok),
         |v AS (SELECT doc_id,
         |    $votes
         |  FROM h GROUP BY doc_id),
         |s AS (SELECT doc_id, $sig AS sig FROM v),
         |b AS (SELECT doc_id, sig, ci, (sig >> (ci * 15)) & 32767 AS ck
         |      FROM s CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS ci) chunks),
         |p AS (SELECT DISTINCT a.doc_id AS src_id, b2.doc_id AS dst_id,
         |        CAST(bit_count(xor(a.sig, b2.sig)) AS BIGINT) AS hamming
         |      FROM b a JOIN b b2 ON a.ci = b2.ci AND a.ck = b2.ck AND a.doc_id < b2.doc_id)
         |SELECT src_id, dst_id, hamming FROM p WHERE hamming <= ${TextOps.HammingMax}
         |ORDER BY src_id, dst_id""".stripMargin
    },
    // —— similarity ——
    // sim_hybrid_rrf: both arms replayed (the tx_bm25 chain and the
    // cosine top-k), ranks row_numbered on each bounded result, RRF in
    // truncating integer micros.
    "sim_hybrid_rrf" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term
         |  FROM documents),
         |tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
         |posts AS (SELECT doc_id, term, count(*) AS tf FROM tok2 GROUP BY 1, 2),
         |lens AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok2 GROUP BY 1),
         |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |                 CAST(sum(dl) AS BIGINT) AS sum_dl FROM lens),
         |qq AS (SELECT doc_id, term, tf FROM posts
         |      WHERE term IN ('dup', 'vector', 'merge')),
         |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM qq GROUP BY 1),
         |sc AS (
         |  SELECT qq.doc_id,
         |    ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * (1.2 + 1.0)) /
         |      (tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl * n_docs * 1.0 / sum_dl))) AS score
         |  FROM qq JOIN dft USING (term) JOIN lens USING (doc_id) CROSS JOIN stats),
         |bm AS (SELECT doc_id,
         |    CAST(sum(CAST(round(score * 1000000) AS BIGINT)) AS BIGINT) AS score_micro
         |  FROM sc GROUP BY doc_id ORDER BY score_micro DESC, doc_id LIMIT 20),
         |bmr AS (SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id) AS INTEGER)
         |      AS lex_rank FROM bm),
         |$embCte,
         |qv AS (SELECT v AS qv, nrm AS qn FROM ne WHERE vec_id = 0),
         |vc AS (SELECT vec_id,
         |    round(list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * qv[i])) / (nrm * qn), 6) AS cosine
         |  FROM ne, qv WHERE vec_id <> 0
         |  ORDER BY cosine DESC, vec_id LIMIT 10),
         |vcr AS (SELECT vec_id AS doc_id,
         |    CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS INTEGER)
         |      AS vec_rank FROM vc)
         |SELECT coalesce(b.doc_id, v.doc_id) AS doc_id,
         |  CAST(coalesce(lex_rank, 0) AS INTEGER) AS lex_rank,
         |  CAST(coalesce(vec_rank, 0) AS INTEGER) AS vec_rank,
         |  CAST(coalesce(1000000 // (60 + lex_rank), 0)
         |     + coalesce(1000000 // (60 + vec_rank), 0) AS BIGINT) AS rrf_micro
         |FROM bmr b FULL JOIN vcr v ON b.doc_id = v.doc_id
         |ORDER BY rrf_micro DESC, doc_id LIMIT 10""".stripMargin,
    "sim_cosine_topk" ->
      s"""WITH $embCte
         |, q AS (SELECT v AS qv, nrm AS qn FROM ne WHERE vec_id = 0)
         |SELECT vec_id, label,
         |  round(list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * qv[i])) / (nrm * qn), 6) AS cosine
         |FROM ne, q WHERE vec_id <> 0
         |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
    // sim_mrl_topk: both arms replayed exactly — the truncated ranking
    // via list slice + the same fold-order dot product, and the overlap
    // count against the full-dim top-10 (the measured MRL recall).
    "sim_mrl_topk" ->
      s"""WITH $embCte
         |, t AS (SELECT vec_id, label, v[1:16] AS tv,
         |    sqrt(list_sum(list_transform(generate_series(1, 16), i -> v[i] * v[i]))) AS tn
         |  FROM ne),
         |q AS (SELECT v AS qv, nrm AS qn FROM ne WHERE vec_id = 0),
         |tq AS (SELECT tv AS tqv, tn AS tqn FROM t WHERE vec_id = 0),
         |full_top AS (
         |  SELECT vec_id,
         |    round(list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * qv[i])) / (nrm * qn), 6) AS c
         |  FROM ne, q WHERE vec_id <> 0
         |  ORDER BY c DESC, vec_id LIMIT 10),
         |trunc_top AS (
         |  SELECT vec_id, label,
         |    round(list_sum(list_transform(generate_series(1, 16), i -> tv[i] * tqv[i])) / (tn * tqn), 6) AS cosine_trunc
         |  FROM t, tq WHERE vec_id <> 0
         |  ORDER BY cosine_trunc DESC, vec_id LIMIT 10),
         |ov AS (SELECT count(*) AS o FROM trunc_top JOIN full_top USING (vec_id))
         |SELECT vec_id, label, cosine_trunc, CAST(o AS BIGINT) AS overlap_at_10
         |FROM trunc_top, ov ORDER BY cosine_trunc DESC, vec_id""".stripMargin,
    // ANN certificates: the hashed output is the EXACT top-k (reproducible
    // in SQL) plus `recall_ge_floor`, which the oracle asserts `true` — the
    // engine computes it from the real LSH/IVF probe, so a broken index or
    // probe set flips the boolean and fails the driver compare.
    "sim_ann_lsh_topk" ->
      s"""WITH $embCte
         |, q AS (SELECT v AS qv, nrm AS qn FROM ne WHERE vec_id = 0)
         |SELECT vec_id, label,
         |  round(list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * qv[i])) / (nrm * qn), 6) AS cosine,
         |  true AS recall_ge_floor
         |FROM ne, q WHERE vec_id <> 0
         |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
    "sim_filtered_topk" ->
      s"""WITH $embCte
         |, q AS (SELECT v AS qv, nrm AS qn FROM ne WHERE vec_id = 0)
         |SELECT vec_id, label,
         |  round(list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * qv[i])) / (nrm * qn), 6) AS cosine,
         |  true AS recall_ge_floor
         |FROM ne, q WHERE vec_id <> 0 AND label % 3 = 0
         |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
    "sim_ann_ivf_topk" ->
      s"""WITH $embCte
         |, q AS (SELECT v AS qv, nrm AS qn FROM ne WHERE vec_id = 0)
         |SELECT vec_id, label,
         |  round(list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * qv[i])) / (nrm * qn), 6) AS cosine,
         |  true AS recall_ge_floor
         |FROM ne, q WHERE vec_id <> 0
         |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
    "sim_ann_ivfpq_topk" ->
      s"""WITH $embCte
         |, q AS (SELECT v AS qv, nrm AS qn FROM ne WHERE vec_id = 0)
         |SELECT vec_id, label,
         |  round(list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * qv[i])) / (nrm * qn), 6) AS cosine,
         |  true AS recall_ge_floor
         |FROM ne, q WHERE vec_id <> 0
         |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
    "sim_ann_pq_topk" ->
      s"""WITH $embCte
         |, q AS (SELECT v AS qv, nrm AS qn FROM ne WHERE vec_id = 0)
         |SELECT vec_id, label,
         |  round(list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * qv[i])) / (nrm * qn), 6) AS cosine,
         |  true AS recall_ge_floor
         |FROM ne, q WHERE vec_id <> 0
         |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
    "sim_neardup_pairs" ->
      s"""WITH $embCte
         |, p AS (
         |  SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
         |    round(list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) AS cosine
         |  FROM ne a JOIN ne b ON a.vec_id < b.vec_id
         |  WHERE a.vec_id < 300 AND b.vec_id < 300)
         |SELECT src_id, dst_id, cosine FROM p WHERE cosine >= 0.4
         |ORDER BY src_id, dst_id""".stripMargin,
    "sim_label_centroids" ->
      """WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
        |x AS (SELECT label, i, v[i] AS val
        |      FROM e CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) s),
        |cl AS (SELECT label, i, avg(val) AS cx FROM x GROUP BY 1, 2),
        |g AS (SELECT i, avg(val) AS gx FROM x GROUP BY 1),
        |j AS (SELECT label, sum(cx * gx) AS dp, sqrt(sum(cx * cx)) AS ncl,
        |             (SELECT sqrt(sum(gx * gx)) FROM g) AS ng
        |      FROM cl JOIN g USING (i) GROUP BY label)
        |SELECT label, round(dp / (ncl * ng), 6) AS cosine_to_global
        |FROM j ORDER BY label""".stripMargin,
    // sim_vq_assign: nearest-centroid assignment on ×1e4 fixed-point
    // integers — squared distances are integer-exact (no float summation
    // order channel), argmin tie-broken by label.
    "sim_vq_assign" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |x AS (SELECT label, i, v[i] AS val
        |      FROM e CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) s),
        |c AS (SELECT label AS clabel, i, CAST(round(avg(val) * 10000) AS BIGINT) AS qc
        |      FROM x GROUP BY 1, 2),
        |q AS (SELECT vec_id, label, i, CAST(round(v[i] * 10000) AS BIGINT) AS qx
        |      FROM e CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) s
        |      WHERE vec_id < 500),
        |d AS (SELECT q.vec_id, q.label, c.clabel,
        |        sum((qx - qc) * (qx - qc)) AS dist
        |      FROM q JOIN c USING (i) GROUP BY 1, 2, 3),
        |a AS (SELECT vec_id, label, clabel,
        |        row_number() OVER (PARTITION BY vec_id ORDER BY dist, clabel) AS rn
        |      FROM d)
        |SELECT CAST(label AS BIGINT) AS true_label,
        |  CAST(clabel AS BIGINT) AS assigned_label, count(*) AS n
        |FROM a WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // sim_quantize_int8: absmax int8 quantization; quantized dot and norms
    // are integer-exact (no float drift), exact cosine rides along as the
    // error report. round() ties go away-from-zero on both engines.
    "sim_quantize_int8" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |qz AS (SELECT vec_id, label, v,
        |       127.0 / greatest(list_max(list_transform(v, x -> abs(x))), 1e-12) AS sc FROM e),
        |qq AS (SELECT vec_id, label, v,
        |       list_transform(v, x -> CAST(round(x * sc) AS BIGINT)) AS qv FROM qz),
        |n AS (SELECT vec_id, label, v, qv,
        |      sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)) AS nq,
        |      sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM qq),
        |q AS (SELECT qv AS query_qv, v AS query_v, nq AS qnq, nrm AS qnrm FROM n WHERE vec_id = 0)
        |SELECT vec_id, label,
        |  round(CAST(list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i] * query_qv[i])) AS DOUBLE) / (nq * qnq), 6) AS q_cosine,
        |  round(list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * query_v[i])) / (nrm * qnrm), 6) AS cosine
        |FROM n, q WHERE vec_id <> 0
        |ORDER BY q_cosine DESC, vec_id LIMIT 10""".stripMargin,
    // sim_radius_search: membership filtered on the ROUNDED cosine (the
    // sim_neardup_pairs rule) — boundary inclusion cannot diverge.
    "sim_radius_search" ->
      s"""WITH $embCte
         |, q AS (SELECT v AS qv, nrm AS qn FROM ne WHERE vec_id = 0)
         |SELECT vec_id, label,
         |  round(list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * qv[i])) / (nrm * qn), 6) AS cosine
         |FROM ne, q WHERE vec_id <> 0
         |  AND round(list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * qv[i])) / (nrm * qn), 6) >= 0.25
         |ORDER BY cosine DESC, vec_id""".stripMargin,
    // sim_batch_topk: one scan, many queries — rank within query.
    "sim_batch_topk" ->
      s"""WITH $embCte
         |, q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM ne WHERE vec_id < 5),
         |sc AS (
         |  SELECT q.qid, ne.vec_id, ne.label,
         |    round(list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * qv[i])) / (nrm * qn), 6) AS cosine
         |  FROM ne, q WHERE ne.vec_id <> q.qid),
         |rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rnk FROM sc)
         |SELECT qid, CAST(rnk AS INT) AS rnk, vec_id, label, cosine
         |FROM rk WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin,
    // sim_hard_negatives: triplet mining replayed — same fold order, same
    // floor-to-micros, same tie order (cos desc, vec_id asc).
    "sim_hard_negatives" ->
      s"""WITH $embCte
         |, q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv, nrm AS qn
         |        FROM ne WHERE vec_id < 8),
         |sc AS (
         |  SELECT q.qid, q.qlabel, ne.vec_id, ne.label,
         |    CAST(floor(list_sum(list_transform(generate_series(1, len(v)),
         |        i -> v[i] * qv[i])) / (nrm * qn) * 1000000) AS BIGINT) AS cos_micro
         |  FROM ne, q WHERE ne.vec_id <> q.qid),
         |hp AS (SELECT qid, max(cos_micro) AS pos_micro FROM sc
         |       WHERE label = qlabel GROUP BY qid),
         |neg AS (
         |  SELECT qid, vec_id, label, cos_micro,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY cos_micro DESC, vec_id) AS rnk
         |  FROM sc WHERE label <> qlabel)
         |SELECT n.qid, CAST(rnk AS INT) AS rnk, n.vec_id AS neg_id,
         |  n.label AS neg_label, n.cos_micro AS neg_micro, hp.pos_micro,
         |  n.cos_micro > hp.pos_micro - 100000 AS margin_violation
         |FROM neg n JOIN hp USING (qid)
         |WHERE rnk <= 3 ORDER BY n.qid, rnk""".stripMargin,
    // sim_cosine_hist: pairwise-cosine histogram over the bounded sample;
    // bucket membership on the ROUNDED score.
    "sim_cosine_hist" ->
      s"""WITH e AS (SELECT vec_id, embedding AS v,
         |           sqrt(list_sum(list_transform(embedding, x -> x * x))) AS nrm
         |           FROM embeddings WHERE vec_id < 300),
         |p AS (
         |  SELECT round(list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) AS cos
         |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
         |SELECT CAST(least(greatest(floor((cos + 1.0) * 5), 0), 9) AS BIGINT) AS bucket,
         |  count(*) AS n, round(min(cos), 6) AS lo, round(max(cos), 6) AS hi
         |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    // —— relational / temporal ——
    // Money sums on BOTH sides are BIGINT minor units (cents / micros for
    // the scale-6 products) — summed-DECIMAL columns fail the driver's
    // hash channel even when values are bit-identical (r3 forensics).
    // DuckDB's sum(BIGINT) returns HUGEINT, hence the outer CAST.
    "rq1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_base_price,
        |  CAST(sum(CAST(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "rq2_distinct_agg" ->
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
        |  count(DISTINCT l_partkey) AS n_part, count(*) AS n_rows
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "rq3_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        |  CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    // rq93: the two-level assignment must equal the naive global rank.
    "rq93_surrogate_keys" ->
      """WITH ex AS (SELECT count(*) AS n FROM customer WHERE c_custkey % 10 < 8),
        |nw AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 10 >= 8),
        |r AS (SELECT c_custkey, c_name,
        |        CAST(ex.n + row_number() OVER (ORDER BY c_custkey) AS BIGINT)
        |          AS surrogate
        |      FROM nw CROSS JOIN ex)
        |SELECT c_custkey, c_name, surrogate FROM r
        |WHERE c_custkey < 300 ORDER BY c_custkey""".stripMargin,
    // rq91: DuckDB runs the same LATERAL text (dialect-identical here).
    "rq91_lateral_join" ->
      """SELECT c.c_custkey, t.o_orderkey, t.price_x100
        |FROM customer c,
        |LATERAL (
        |  SELECT o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_x100
        |  FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY price_x100 DESC, o_orderkey LIMIT 2) t
        |WHERE c.c_custkey < 30
        |ORDER BY c.c_custkey, t.price_x100 DESC, t.o_orderkey""".stripMargin,
    // rq92: binding must be invisible — literals inlined on the oracle.
    "rq92_param_sql" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0)))
        |    AS BIGINT) AS bal_x100
        |FROM customer
        |WHERE c_mktsegment <> 'MACHINERY' AND c_custkey < 400
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // rq102: IDENTIFIER(:p) binds names at analysis time — the oracle is
    // the literal query those bindings resolve to.
    "rq102_identifier" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0)))
        |    AS BIGINT) AS qty_x100,
        |  CAST(max(l_quantity) AS DOUBLE) AS max_qty
        |FROM lineitem
        |WHERE l_orderkey < 5000
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // rq105: identical ANSI text both engines — the NOT IN + NULL
    // collapse (0) and the NOT EXISTS complement, side by side.
    "rq105_not_in_nulls" ->
      """WITH probe AS (
        |  SELECT o_custkey FROM orders WHERE o_orderkey < 100),
        |probe_null AS (
        |  SELECT CASE WHEN o_orderkey = 7 THEN NULL ELSE o_custkey END AS o_custkey
        |  FROM orders WHERE o_orderkey < 100)
        |SELECT
        |  (SELECT count(*) FROM customer
        |   WHERE c_custkey NOT IN (SELECT o_custkey FROM probe)) AS not_in_clean,
        |  (SELECT count(*) FROM customer
        |   WHERE c_custkey NOT IN (SELECT o_custkey FROM probe_null)) AS not_in_nulled,
        |  (SELECT count(*) FROM customer c WHERE NOT EXISTS (
        |    SELECT 1 FROM probe_null p WHERE p.o_custkey = c.c_custkey))
        |    AS not_exists_nulled,
        |  (SELECT count(*) FROM customer
        |   WHERE c_custkey IN (SELECT o_custkey FROM probe_null)) AS in_nulled""".stripMargin,
    // rq103: EXECUTE IMMEDIATE compiles to the literal statement.
    "rq103_execute_immediate" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |    AS DECIMAL(38,0))) AS BIGINT) AS price_x100
        |FROM orders WHERE o_custkey < 300
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // rq104: identical window SQL — ntile on the total order (position-
    // deterministic), rank/dense_rank on the tied order (tie-defined).
    "rq104_ntile" ->
      """WITH l AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(floor(l_quantity / 10) AS BIGINT) AS qbucket
        |  FROM lineitem WHERE l_orderkey < 200)
        |SELECT l_orderkey, l_linenumber, qbucket,
        |  CAST(ntile(4) OVER (PARTITION BY l_orderkey
        |    ORDER BY qbucket DESC, l_linenumber) AS INT) AS quartile,
        |  CAST(rank() OVER (PARTITION BY l_orderkey
        |    ORDER BY qbucket DESC) AS INT) AS rnk,
        |  CAST(dense_rank() OVER (PARTITION BY l_orderkey
        |    ORDER BY qbucket DESC) AS INT) AS drnk
        |FROM l ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // rq94: same payloads through DuckDB's JSON extraction — only the
    // extracted values compare, so the certification is representation-
    // independent (Spark walks binary VARIANT, DuckDB walks JSON text).
    "rq94_variant" ->
      """WITH j AS (
        |  SELECT concat('{"k":', o_orderkey,
        |    ',"cust":{"id":', o_custkey, ',"pri":"', o_orderpriority, '"}',
        |    ',"cents":', CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT),
        |    ',"tags":["', o_orderstatus, '","audit"]}') AS payload
        |  FROM orders)
        |SELECT json_extract_string(payload, '$.cust.pri') AS pri,
        |  json_extract_string(payload, '$.tags[0]') AS status,
        |  count(*) AS n,
        |  CAST(sum(CAST(json_extract(payload, '$.cents') AS BIGINT)) AS BIGINT) AS cents,
        |  CAST(min(CAST(json_extract(payload, '$.cust.id') AS BIGINT)) AS BIGINT) AS min_cust
        |FROM j GROUP BY pri, status ORDER BY pri, status""".stripMargin,
    // rq95: DuckDB has no session collations — lower() normalization
    // replays the collated semantics; values compare, not representation.
    "rq95_collation" ->
      """WITH s AS (
        |  SELECT CASE WHEN c_custkey % 2 = 1 THEN lower(c_mktsegment)
        |              ELSE c_mktsegment END AS seg,
        |         c_acctbal
        |  FROM customer)
        |SELECT lower(seg) AS segment,
        |  count(*) AS n,
        |  CAST(sum(CASE WHEN lower(seg) = 'machinery' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_ci,
        |  CAST(sum(CASE WHEN seg = 'machinery' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_cs,
        |  CAST(sum(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0)))
        |    AS BIGINT) AS bal_x100
        |FROM s GROUP BY lower(seg) ORDER BY segment""".stripMargin,
    // rq96: the variable's defining subquery inlined (integer division
    // DIV/// so truncation matches on both engines).
    "rq96_sql_variables" ->
      """WITH cap AS (SELECT CAST(max(c_custkey) // 5 AS BIGINT) AS key_cap
        |             FROM customer)
        |SELECT c_mktsegment, count(*) AS n,
        |  min(c_custkey) AS min_key, max(c_custkey) AS max_key,
        |  cap.key_cap AS key_cap
        |FROM customer, cap
        |WHERE c_custkey < cap.key_cap
        |GROUP BY c_mktsegment, cap.key_cap
        |ORDER BY c_mktsegment""".stripMargin,
    // rq97: the UDF bodies textually inlined — certifies Spark's SQL-UDF
    // inlining produces exactly the handwritten-expression values.
    "rq97_sql_udf" ->
      """WITH s AS (
        |  SELECT CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |         c_custkey
        |  FROM customer)
        |SELECT CASE WHEN cents < 0 THEN 'debt'
        |            WHEN cents < 500000 THEN 'mid' ELSE 'high' END AS tier,
        |  count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents,
        |  min(c_custkey) AS min_key
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    // rq98: the pipe chain's classic-SQL equivalent (WHERE→scan filter,
    // post-AGGREGATE WHERE→HAVING).
    "rq98_pipe_syntax" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS DECIMAL(38,0))) AS BIGINT) AS cents_sum
        |FROM lineitem
        |WHERE l_quantity > 10.0
        |GROUP BY 1, 2 HAVING count(*) > 5
        |ORDER BY 1, 2""".stripMargin,
    // rq99: DuckDB pioneered GROUP BY ALL / ORDER BY ALL — the oracle
    // uses the same shorthand, certifying identical resolution rules.
    "rq99_group_by_all" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(l_quantity >= 25.0 AS VARCHAR) AS bulk,
        |  count(*) AS n,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS cents_sum
        |FROM lineitem
        |WHERE l_quantity > 5.0
        |GROUP BY ALL
        |ORDER BY ALL""".stripMargin,
    // rq100: the script's while-loop fixpoint stated declaratively —
    // min k with 2·coverage ≥ total over the same log₂ histogram.
    "rq100_sql_script" ->
      """WITH h AS (
        |  SELECT CAST(length(bin(CAST(floor(o_totalprice) AS BIGINT))) AS INT) AS k2,
        |         count(*) AS n
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM h),
        |c AS (SELECT g.k, (SELECT coalesce(sum(n), 0) FROM h WHERE k2 <= g.k) AS covered
        |      FROM generate_series(1, 64) AS g(k)),
        |s AS (SELECT k, covered FROM c, t WHERE covered * 2 >= t.total
        |      ORDER BY k LIMIT 1)
        |SELECT CAST(s.k AS INTEGER) AS k_star,
        |  (CAST(1 AS BIGINT) << s.k) AS cutoff,
        |  CAST(s.covered AS BIGINT) AS n_covered,
        |  (SELECT total FROM t) AS n_total
        |FROM s""".stripMargin,
    // rq101: identical FILTER syntax in DuckDB; HUGEINT sums cast back.
    "rq101_filter_clause" ->
      """SELECT l_returnflag,
        |  count(*) AS n,
        |  count(*) FILTER (WHERE l_quantity > 25.0) AS n_bulk,
        |  CAST(coalesce(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    FILTER (WHERE l_discount > 0.05), 0) AS BIGINT) AS disc_cents,
        |  CAST(count(DISTINCT l_suppkey) FILTER (WHERE l_tax > 0.04) AS BIGINT)
        |    AS n_taxed_supp
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // rq90: per-column GROUPING flags composed the engine-neutral way.
    "rq90_grouping_flags" ->
      """SELECT coalesce(l_returnflag, '-') AS rf,
        |  coalesce(l_linestatus, '-') AS ls,
        |  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INTEGER)
        |    AS level_id,
        |  count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY level_id, rf, ls""".stripMargin,
    "rq4_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status, coalesce(o_orderpriority, 'ALL') AS priority,
        |  count(*) AS n, CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    "rq5_windows" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(row_number() OVER w AS BIGINT) AS rn,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_total
        |FROM orders WHERE o_custkey < 100
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, rn""".stripMargin,
    "rq6_revenue_by_nation" ->
      """SELECT n_name AS nation,
        |  CAST(sum(CAST(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS revenue,
        |  count(*) AS n_items
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "rq7_range_join" ->
      """WITH ev AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE user_id < 30),
        |p AS (SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts FROM ev WHERE event_type = 'purchase')
        |SELECT p_id, p_user, count(DISTINCT e.event_id) AS n_follow
        |FROM p JOIN ev e ON e.user_id = p_user
        |  AND e.ts >= p_ts AND e.ts < p_ts + INTERVAL 5 MINUTE AND e.event_id <> p_id
        |GROUP BY 1, 2 ORDER BY p_id""".stripMargin,
    "rq8_asof_join" ->
      """WITH ev AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE user_id < 30),
        |u AS (
        |  SELECT user_id, ts, event_id, 1 AS is_p, event_id AS p_id FROM ev WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, ts, event_id, 0, NULL FROM ev WHERE event_type = 'click'),
        |w AS (
        |  SELECT *, last_value(p_id IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY ts ASC, is_p DESC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_p
        |  FROM u)
        |SELECT event_id AS click_id, user_id, last_p AS purchase_id
        |FROM w WHERE is_p = 0 ORDER BY click_id""".stripMargin,
    "rq9_event_window" ->
      """WITH ev AS (SELECT event_type, value, CAST(ts AS TIMESTAMP) AS ts FROM events)
        |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS wstart,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS sum_value
        |FROM ev GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "rq10_sessionize" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE user_id < 20),
        |l AS (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts FROM ev),
        |f AS (SELECT user_id, ts,
        |  CASE WHEN pts IS NULL OR ts - pts >= INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS brk FROM l),
        |s AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM f)
        |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS sstart, count(*) AS n_events
        |FROM s GROUP BY user_id, sid ORDER BY user_id, sstart""".stripMargin,
    "rq12_approx_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
        |  true AS approx_within_5pct
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "rq19_quantile_sketch" ->
      """SELECT count(*) AS n_rows,
        |  true AS ok_p50, true AS ok_p90, true AS ok_p99
        |FROM lineitem""".stripMargin,
    "rq20_welford_var" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  true AS custom_matches_builtin
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "rq21_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |  coalesce(l_linestatus, 'ALL') AS ls,
        |  CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))) AS BIGINT) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY rf, ls""".stripMargin,
    "rq23_range_frame" ->
      """WITH ev AS (
        |  SELECT event_id, user_id,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ts_s,
        |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vmic
        |  FROM events WHERE user_id < 20)
        |SELECT event_id, user_id, ts_s,
        |  count(*) OVER w AS n_1h,
        |  CAST(sum(vmic) OVER w AS BIGINT) AS sum_value_micros_1h
        |FROM ev
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_s
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts_s, event_id""".stripMargin,
    "rq22_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type,
        |         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ts_s
        |  FROM events),
        |s AS (SELECT user_id, min(ts_s) AS signup_s FROM ev
        |      WHERE event_type = 'signup' GROUP BY 1),
        |c AS (SELECT ev.user_id, min(ev.ts_s) AS click_s
        |      FROM ev JOIN s USING (user_id)
        |      WHERE ev.event_type = 'click' AND ev.ts_s >= s.signup_s GROUP BY 1),
        |p AS (SELECT ev.user_id, min(ev.ts_s) AS purchase_s
        |      FROM ev JOIN c USING (user_id)
        |      WHERE ev.event_type = 'purchase' AND ev.ts_s >= c.click_s GROUP BY 1),
        |u AS (SELECT DISTINCT user_id FROM ev)
        |SELECT u.user_id, s.signup_s, c.click_s, p.purchase_s,
        |  CAST(CASE WHEN p.purchase_s IS NOT NULL THEN 3
        |            WHEN c.click_s IS NOT NULL THEN 2
        |            WHEN s.signup_s IS NOT NULL THEN 1
        |            ELSE 0 END AS BIGINT) AS stage
        |FROM u LEFT JOIN s USING (user_id) LEFT JOIN c USING (user_id)
        |       LEFT JOIN p USING (user_id)
        |ORDER BY user_id""".stripMargin,
    "rq24_unpivot" ->
      """WITH a AS (SELECT l_returnflag,
        |  CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS qty_x100,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS price_x100,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, measure, val FROM (
        |  SELECT l_returnflag, 'qty_x100' AS measure, qty_x100 AS val FROM a
        |  UNION ALL SELECT l_returnflag, 'price_x100', price_x100 FROM a
        |  UNION ALL SELECT l_returnflag, 'n', n FROM a)
        |ORDER BY l_returnflag, measure""".stripMargin,
    "rq25_exists" ->
      """WITH w AS (SELECT o_orderpriority, count(*) AS n_with_returns FROM orders
        |  WHERE EXISTS (SELECT 1 FROM lineitem
        |                WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |  GROUP BY 1),
        |t AS (SELECT o_orderpriority, count(*) AS n_orders FROM orders GROUP BY 1)
        |SELECT t.o_orderpriority AS priority, n_orders,
        |  COALESCE(n_with_returns, 0) AS n_with_returns,
        |  n_orders - COALESCE(n_with_returns, 0) AS n_without
        |FROM t LEFT JOIN w USING (o_orderpriority) ORDER BY 1""".stripMargin,
    "rq26_below_avg" ->
      """WITH la AS (SELECT l_partkey,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents FROM lineitem),
        |lw AS (SELECT l_partkey, cents,
        |  count(*) OVER (PARTITION BY l_partkey) AS n_part,
        |  sum(cents) OVER (PARTITION BY l_partkey) AS sum_cents FROM la)
        |SELECT p_brand AS brand,
        |  CAST(count(*) FILTER (WHERE 10 * cents * n_part < 9 * sum_cents) AS BIGINT) AS n_below,
        |  count(*) AS n_items
        |FROM lw JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "rq27_salted_join" ->
      """SELECT c_mktsegment AS segment, count(*) AS n_orders,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_x100
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "rq28_quartiles" ->
      """SELECT l_returnflag,
        |  CAST(round(quantile_cont(l_quantity, 0.25) * 100) AS BIGINT) AS p25_x100,
        |  CAST(round(quantile_cont(l_quantity, 0.50) * 100) AS BIGINT) AS p50_x100,
        |  CAST(round(quantile_cont(l_quantity, 0.75) * 100) AS BIGINT) AS p75_x100,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "rq29_full_outer" ->
      """WITH c AS (SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey < 80),
        |oc AS (SELECT o_custkey, count(*) AS n_orders FROM orders
        |       WHERE o_custkey >= 40 AND o_custkey < 120 GROUP BY 1)
        |SELECT COALESCE(c_custkey, o_custkey) AS custkey,
        |  COALESCE(c_mktsegment, 'NO_CUSTOMER') AS segment,
        |  COALESCE(n_orders, 0) AS n_orders,
        |  c_custkey IS NOT NULL AS has_customer
        |FROM c FULL OUTER JOIN oc ON c_custkey = o_custkey
        |ORDER BY custkey""".stripMargin,
    "rq13_window_nav" ->
      """SELECT o_custkey, o_orderkey,
        |  lag(o_orderkey, 1) OVER w AS prev_order,
        |  lead(o_orderkey, 1) OVER w AS next_order,
        |  rank() OVER wp AS price_rank,
        |  dense_rank() OVER wp AS price_dense_rank,
        |  ntile(4) OVER wp AS price_quartile
        |FROM orders WHERE o_custkey < 50
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |  wp AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "rq14_top_per_group" ->
      """WITH r AS (
        |  SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(18,2)) AS p, l_orderkey,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY CAST(l_extendedprice AS DECIMAL(18,2)) DESC, l_orderkey DESC) AS rn
        |  FROM lineitem),
        |c AS (SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1)
        |SELECT r.l_returnflag, p AS max_price, l_orderkey AS max_price_orderkey, n
        |FROM r JOIN c USING (l_returnflag) WHERE rn = 1 ORDER BY 1""".stripMargin,
    "rq15_supplier_by_region" ->
      """SELECT r_name AS region, count(*) AS n_suppliers,
        |  CAST(sum(CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_acctbal,
        |  max(CAST(s_acctbal AS DECIMAL(18,2))) AS max_acctbal
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "rq16_revenue_by_brand" ->
      """SELECT p_brand AS brand,
        |  CAST(sum(CAST(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "rq18_bucketed_join" ->
      """SELECT o_orderpriority AS priority,
        |  CAST(sum(CAST(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS revenue,
        |  count(*) AS n_items
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "rq11_json_props" ->
      """SELECT event_type,
        |  CAST(sum(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        |  count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // —— GraphX analytics: closed forms from the projection rules ——
    // (cliques per house / per family class ⇒ degree, CC label, triangle,
    //  and neighbor-degree-sum all have exact relational oracles)
    "gx_degree_hist" ->
      s"""WITH $nodesCte,
         |s AS (SELECT house, count(*) AS c FROM n WHERE nid < 500 GROUP BY house HAVING count(*) > 1)
         |SELECT c - 1 AS degree, CAST(sum(c) AS BIGINT) AS n_nodes
         |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    "gx_family_cc" ->
      s"""WITH $nodesCte,
         |m AS (SELECT nid % ${graft.core.Graph.FamilyMod} AS fam, min(nid) AS component FROM n GROUP BY 1)
         |SELECT nid, component FROM n JOIN m ON nid % ${graft.core.Graph.FamilyMod} = fam
         |WHERE nid < 200 ORDER BY nid""".stripMargin,
    // gx_corpus_bfs: descent distance to the class anchor = minimal count
    // of powers of two summing to nid div 25 = bit_count (two 2^a fold
    // into one 2^(a+1)); per-distance census over ALL nodes.
    "gx_corpus_bfs" ->
      s"""WITH $nodesCte
         |SELECT CAST(bit_count(nid // ${graft.core.Graph.FamilyMod}) AS BIGINT) AS dist,
         |  CAST(count(*) AS BIGINT) AS n_nodes
         |FROM n GROUP BY 1 ORDER BY 1""".stripMargin,
    // gx_corpus_sssp: min-cost descent to the class anchor under cost
    // (1 + j) per 2^j step — minimized by the binary representation of
    // k = nid div FamilyMod (folding two 2^a into one 2^(a+1) never
    // raises cost), so min cost = bit_count(k) + Σ(set-bit positions).
    "gx_corpus_sssp" ->
      s"""WITH $nodesCte,
         |k AS (SELECT nid // ${graft.core.Graph.FamilyMod} AS k FROM n)
         |SELECT CAST(bit_count(k)
         |    + list_sum(list_transform(generate_series(0, 48),
         |        b -> ((k >> b) & 1) * b)) AS BIGINT) AS cost,
         |  CAST(count(*) AS BIGINT) AS n_nodes
         |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,
    // gx_corpus_triangles: the sparsifier's only triangles are
    // {k, k-2^a, k-2^(a+1)} (2^y - 2^x is a power of two only for
    // y = x+1), so per-vertex counts are exact floor-log2 sums —
    // expressed as binary-string lengths, no libm on either engine.
    "gx_corpus_triangles" ->
      s"""WITH $nodesCte,
         |kk AS (SELECT nid % ${graft.core.Graph.FamilyMod} AS c,
         |         nid // ${graft.core.Graph.FamilyMod} AS k FROM n),
         |m AS (SELECT c, max(k) AS kmax FROM kk GROUP BY c),
         |t AS (SELECT
         |    (CASE WHEN kk.k >= 2 THEN length(bin(kk.k)) - 1 ELSE 0 END)
         |  + (CASE WHEN least(kk.k, m.kmax - kk.k) >= 1
         |       THEN length(bin(least(kk.k, m.kmax - kk.k))) ELSE 0 END)
         |  + (CASE WHEN m.kmax - kk.k >= 2
         |       THEN length(bin(m.kmax - kk.k)) - 1 ELSE 0 END) AS tri
         |  FROM kk JOIN m ON kk.c = m.c)
         |SELECT CAST(tri AS BIGINT) AS triangles,
         |  CAST(count(*) AS BIGINT) AS n_nodes
         |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    // gx_corpus_nbrsum: per-vertex neighbor-class-index sums over the
    // sparsifier — down-sum (d+1)·k − (2^(d+1)−1) with d = floor(log2 k),
    // up-sum u·k + (2^u−1) with u = floor(log2(K−k))+1; floor-log2 as
    // binary-string length, every vertex certified individually.
    "gx_corpus_nbrsum" ->
      s"""WITH $nodesCte,
         |kk AS (SELECT nid, nid % ${graft.core.Graph.FamilyMod} AS c,
         |         nid // ${graft.core.Graph.FamilyMod} AS k FROM n),
         |m AS (SELECT c, max(k) AS kmax FROM kk GROUP BY c),
         |t AS (SELECT nid, k, kmax - k AS r FROM kk JOIN m ON kk.c = m.c)
         |SELECT nid, CAST(
         |    (CASE WHEN k >= 1
         |       THEN length(bin(k)) * k - (CAST(1 AS BIGINT) << length(bin(k))) + 1 ELSE 0 END)
         |  + (CASE WHEN r >= 1
         |       THEN length(bin(r)) * k + (CAST(1 AS BIGINT) << length(bin(r))) - 1 ELSE 0 END)
         |  AS BIGINT) AS nbr_k_sum
         |FROM t ORDER BY nid""".stripMargin,
    // gx_corpus_kcore: the banded block topologies fix the full peel's
    // coreness spectrum exactly — band (residue mod 3) 0 = chain → 1,
    // 1 = ring → 2, 2 = chord-completed K4 → 3; only full 4-member blocks
    // enter (both engines derive fullness from the data), so the
    // per-(residue, coreness) census certifies every graph vertex.
    "gx_corpus_kcore" ->
      s"""WITH $nodesCte,
         |b AS (SELECT nid, nid % ${graft.core.Graph.FamilyMod} AS residue,
         |        (nid // ${graft.core.Graph.FamilyMod}) // 4 AS blk FROM n),
         |f AS (SELECT residue, blk FROM b GROUP BY residue, blk
         |      HAVING count(*) = 4)
         |SELECT CAST(b.residue AS BIGINT) AS residue,
         |  CAST(CASE b.residue % 3 WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 3 END
         |    AS INT) AS coreness,
         |  count(*) AS n_nodes
         |FROM b JOIN f ON b.residue = f.residue AND b.blk = f.blk
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // gx_corpus_scc: SCCs are exactly the 8-blocks (bridges are one-way),
    // so scc(nid) = block anchor = nid − FamilyMod·(k mod 8); per-residue
    // census over member labels certifies every node.
    "gx_corpus_scc" ->
      s"""WITH $nodesCte,
         |s AS (SELECT nid % ${graft.core.Graph.FamilyMod} AS residue,
         |        nid - ${graft.core.Graph.FamilyMod}
         |          * ((nid // ${graft.core.Graph.FamilyMod}) % 8) AS scc
         |      FROM n)
         |SELECT CAST(residue AS BIGINT) AS residue,
         |  count(*) AS n_nodes,
         |  CAST(count(DISTINCT scc) AS BIGINT) AS n_sccs,
         |  CAST(sum(scc) AS BIGINT) AS sum_scc,
         |  CAST(max(scc) AS BIGINT) AS max_scc
         |FROM s GROUP BY residue ORDER BY residue""".stripMargin,
    // gx_corpus_pagerank: the 16-round dyadic power iteration telescopes
    // to mass = 2^24 + Σ_{j: p+j·c ≤ 15} 2^(39−p−j·c) with p = ring
    // position and c = ring circumference (8, or the residue's tail
    // size) — pure integer shifts, replayed per vertex and censused.
    "gx_corpus_pagerank" ->
      s"""WITH $nodesCte,
         |kk AS (SELECT nid, nid % ${graft.core.Graph.FamilyMod} AS c,
         |         nid // ${graft.core.Graph.FamilyMod} AS k FROM n),
         |m AS (SELECT c, max(k) AS kmax FROM kk GROUP BY c),
         |b AS (SELECT kk.nid, kk.k % 8 AS p,
         |        least(8, m.kmax + 1 - 8 * (kk.k // 8)) AS cs
         |      FROM kk JOIN m ON kk.c = m.c),
         |ms AS (SELECT CAST((CAST(1 AS BIGINT) << 24)
         |        + list_sum(list_transform(generate_series(0, (15 - p) // cs),
         |            j -> (CAST(1 AS BIGINT) << (39 - p - j * cs)))) AS BIGINT) AS mass
         |       FROM b)
         |SELECT mass, count(*) AS n_nodes
         |FROM ms GROUP BY mass ORDER BY mass""".stripMargin,
    // gx_corpus_cc: CC over ALL nodes at the query's sf — the closed form
    // is per-family-class min/count/max, so the member counts (which grow
    // with sf) certify the full corpus was traversed.
    "gx_corpus_cc" ->
      s"""WITH $nodesCte
         |SELECT CAST(min(nid) AS BIGINT) AS component,
         |  CAST(count(*) AS BIGINT) AS n_members,
         |  CAST(max(nid) AS BIGINT) AS max_nid
         |FROM n GROUP BY nid % ${graft.core.Graph.FamilyMod}
         |ORDER BY component""".stripMargin,
    "gx_triangles" ->
      s"""WITH $nodesCte,
         |s AS (SELECT nid, count(*) OVER (PARTITION BY house) AS c FROM n WHERE nid < 300)
         |SELECT nid, CAST((c - 1) * (c - 2) / 2 AS BIGINT) AS triangles
         |FROM s WHERE (c - 1) * (c - 2) / 2 > 0 ORDER BY nid""".stripMargin,
    "gx_nbr_degree_sum" ->
      s"""WITH $nodesCte,
         |s AS (SELECT nid, count(*) OVER (PARTITION BY house) AS c FROM n WHERE nid < 300)
         |SELECT nid, CAST((c - 1) * (c - 1) AS BIGINT) AS nbr_degree_sum
         |FROM s WHERE c > 1 ORDER BY nid""".stripMargin,
    // gx_pagerank: the undirected friend subgraph is a union of cliques —
    // degree-regular components — so PageRank's fixpoint is uniform; the
    // closed form is "every vertex with >= 1 friend, rank == global mean".
    "gx_pagerank" ->
      s"""WITH $nodesCte,
         |s AS (SELECT nid, count(*) OVER (PARTITION BY house) AS c FROM n WHERE nid < 300)
         |SELECT nid, true AS rank_uniform FROM s WHERE c > 1 ORDER BY nid""".stripMargin,
    // gx_kcore: on a union of same-house cliques the k-core closed form is
    // exact — a clique of size c survives iff c-1 >= k, in-core degree c-1.
    "gx_kcore" ->
      s"""WITH $nodesCte,
         |s AS (SELECT nid, count(*) OVER (PARTITION BY house) AS c FROM n WHERE nid < 300)
         |SELECT nid, CAST(c - 1 AS BIGINT) AS core_degree
         |FROM s WHERE c - 1 >= 10 ORDER BY nid""".stripMargin,
    // gx_lpa: sync LPA with (count DESC, label ASC) tie-break provably
    // converges to each house-clique's MIN nid — the closed form.
    // gx_ppr: reached == source-house membership is the closed form; the
    // float facts (source outranks peers; peers uniform) ride as booleans.
    "gx_ppr" ->
      s"""WITH $nodesCte,
         |b AS (SELECT nid, house, count(*) OVER (PARTITION BY house) AS c
         |      FROM n WHERE nid < 300),
         |src AS (SELECT house AS sh FROM b WHERE nid = 1)
         |SELECT CAST(nid AS BIGINT) AS nid, (house = src.sh) AS reached,
         |  true AS peers_uniform, true AS source_max
         |FROM b CROSS JOIN src WHERE c > 1 ORDER BY nid""".stripMargin,
    // gx_scc: closed form — per-family directed rings are the SCCs (min
    // nid of the family), one-way bridges make the WHOLE graph one weak
    // component (global min). The hash certifies SCC refused the bridges.
    "gx_scc" ->
      s"""WITH $nodesCte,
         |b AS (SELECT nid, nid % ${graft.core.Graph.FamilyMod} AS fam
         |      FROM n WHERE nid < 100),
         |m AS (SELECT fam, CAST(min(nid) AS BIGINT) AS scc FROM b GROUP BY 1),
         |g AS (SELECT CAST(min(nid) AS BIGINT) AS wcc FROM b)
         |SELECT CAST(nid AS BIGINT) AS nid, m.scc, g.wcc
         |FROM b JOIN m USING (fam) CROSS JOIN g ORDER BY nid""".stripMargin,
    "gx_lpa" ->
      s"""WITH $nodesCte,
         |s AS (SELECT house, min(nid) AS lbl FROM n WHERE nid < 300
         |      GROUP BY house HAVING count(*) > 1)
         |SELECT n.nid, CAST(s.lbl AS BIGINT) AS label
         |FROM n JOIN s ON n.house = s.house
         |WHERE n.nid < 300 ORDER BY n.nid""".stripMargin,
    // gx_shortest_paths: recursive-CTE BFS over the same derived
    // FRIEND_OF ∪ SAME_FAMILY edge set (UNION-distinct recursion keeps the
    // frontier a set of (nid, dist) pairs — bounded, not walk-counting).
    "gx_shortest_paths" ->
      s"""WITH RECURSIVE nn AS (
         |  SELECT c_custkey AS nid, c_mktsegment AS house FROM customer WHERE c_custkey < 120),
         |e0 AS (
         |  SELECT a.nid AS src, b.nid AS dst FROM nn a JOIN nn b
         |    ON a.house = b.house AND a.nid < b.nid
         |  UNION
         |  SELECT a.nid, b.nid FROM nn a JOIN nn b
         |    ON a.nid % ${graft.core.Graph.FamilyMod} = b.nid % ${graft.core.Graph.FamilyMod}
         |   AND a.nid < b.nid),
         |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
         |bfs(nid, dist) AS (
         |  SELECT CAST(1 AS BIGINT) AS nid, 0 AS dist
         |  UNION
         |  SELECT e.dst, bfs.dist + 1 FROM bfs JOIN e ON e.src = bfs.nid
         |  WHERE bfs.dist < 120)
         |SELECT nid, CAST(min(dist) AS BIGINT) AS dist
         |FROM bfs GROUP BY 1 ORDER BY 1""".stripMargin,
    // —— streaming (executed as streaming queries; oracle = batch twin) ——
    "st_window_counts" ->
      """WITH ev AS (SELECT event_type, value, CAST(ts AS TIMESTAMP) AS ts FROM events)
        |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS wstart,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS sum_value
        |FROM ev GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "st_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // st_user_stats: custom flatMapGroupsWithState accumulator; one
    // AvailableNow batch ⇒ the emitted per-user summary equals the batch
    // aggregation, which is the oracle.
    "st_user_stats" ->
      """SELECT user_id, count(*) AS n_events,
        |  CAST(floor(epoch(min(CAST(ts AS TIMESTAMP)))) AS BIGINT) AS first_s,
        |  CAST(floor(epoch(max(CAST(ts AS TIMESTAMP)))) AS BIGINT) AS last_s
        |FROM events WHERE user_id < 50 GROUP BY 1 ORDER BY 1""".stripMargin,
    // st_user_stats_tws: identical semantics on the transformWithState API
    // (RocksDB state store, named ValueState, timer-based TTL) — same oracle.
    "st_user_stats_tws" ->
      """SELECT user_id, count(*) AS n_events,
        |  CAST(floor(epoch(min(CAST(ts AS TIMESTAMP)))) AS BIGINT) AS first_s,
        |  CAST(floor(epoch(max(CAST(ts AS TIMESTAMP)))) AS BIGINT) AS last_s
        |FROM events WHERE user_id < 50 GROUP BY 1 ORDER BY 1""".stripMargin,
    // st_topk_per_window: streamed hourly per-user sums (complete mode ⇒
    // equals batch agg), ranked downstream of the sink — same split as the
    // engine (rank state is not streaming state).
    "st_topk_per_window" ->
      """WITH agg AS (
        |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, user_id,
        |    CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS sum_micro,
        |    count(*) AS n_events
        |  FROM events WHERE user_id < 50 GROUP BY 1, 2),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY h ORDER BY sum_micro DESC, user_id) AS rnk FROM agg)
        |SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS wstart, CAST(rnk AS INT) AS rnk,
        |  user_id, sum_micro, n_events
        |FROM rk WHERE rnk <= 3 ORDER BY wstart, rnk""".stripMargin,
    // st_click_attrib: stream-stream interval join; inner join + one
    // AvailableNow batch ⇒ output equals the batch interval join.
    "st_click_attrib" ->
      """SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id
        |FROM events p JOIN events c
        |  ON p.user_id = c.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND CAST(c.ts AS TIMESTAMP) BETWEEN CAST(p.ts AS TIMESTAMP) - INTERVAL 10 MINUTE
        |                                 AND CAST(p.ts AS TIMESTAMP)
        |ORDER BY p_id, c_id""".stripMargin,
    "setop_multiset" ->
      """WITH a AS (SELECT CAST(l_quantity AS BIGINT) AS qty FROM lineitem WHERE l_returnflag = 'R'),
        |b AS (SELECT CAST(l_quantity AS BIGINT) AS qty FROM lineitem WHERE l_returnflag = 'A'),
        |i AS (SELECT qty, count(*) AS n_intersect_all
        |      FROM (SELECT qty FROM a INTERSECT ALL SELECT qty FROM b) GROUP BY 1),
        |e AS (SELECT qty, count(*) AS n_except_all
        |      FROM (SELECT qty FROM a EXCEPT ALL SELECT qty FROM b) GROUP BY 1)
        |SELECT COALESCE(i.qty, e.qty) AS qty,
        |  COALESCE(n_intersect_all, 0) AS n_intersect_all,
        |  COALESCE(n_except_all, 0) AS n_except_all
        |FROM i FULL OUTER JOIN e ON i.qty = e.qty ORDER BY qty""".stripMargin,
    // st_closed_windows: append mode emits only watermark-closed windows —
    // those whose end is at or below max(ts) − 1 h (the no-data micro-batch
    // advances the watermark after the file batch and flushes them).
    "st_closed_windows" ->
      """WITH ev AS (SELECT event_type, value, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |mx AS (SELECT max(ts) AS mts FROM ev)
        |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS wstart,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS sum_value
        |FROM ev, mx
        |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= mts - INTERVAL 1 HOUR
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // st_segment_counts: stream-static broadcast join; complete mode +
    // AvailableNow ⇒ totals equal the batch join, which is the oracle.
    "st_segment_counts" ->
      """SELECT c_mktsegment AS segment, count(*) AS n_events,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS sum_value_micros
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // tx_span_dedup: fixed 8-token passages, corpus-wide exact counts,
    // per-doc duplicated fraction as integer ppm.
    "tx_span_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents),
        |p AS (
        |  SELECT doc_id, array_to_string(list_slice(t, j * 8 + 1, j * 8 + 8), ' ') AS passage
        |  FROM toks, unnest(generate_series(0, CAST(len(t) // 8 AS INT) - 1)) AS u(j)
        |  WHERE len(t) >= 8),
        |g AS (SELECT passage, count(*) AS df FROM p GROUP BY 1),
        |d AS (
        |  SELECT p.doc_id, count(*) AS n_passages,
        |    count(*) FILTER (WHERE g.df >= 2) AS n_dup
        |  FROM p JOIN g USING (passage) GROUP BY 1)
        |SELECT doc_id, CAST(n_passages AS BIGINT) AS n_passages,
        |  CAST(n_dup AS BIGINT) AS n_dup,
        |  CAST(n_dup * 1000000 // n_passages AS BIGINT) AS dup_ppm
        |FROM d WHERE doc_id < 200 ORDER BY doc_id""".stripMargin,
    // tx_kanon: k-anonymity suppression — exact group sizes over the
    // quasi-identifier triple, sub-k groups folded into the '*' bucket.
    "tx_kanon" ->
      """WITH g AS (
        |  SELECT lang, source, n_chars // 100 AS chars_band, count(*) AS n
        |  FROM documents GROUP BY 1, 2, 3),
        |m AS (
        |  SELECT CASE WHEN n >= 5 THEN lang ELSE '*' END AS lang,
        |         CASE WHEN n >= 5 THEN source ELSE '*' END AS source,
        |         CAST(CASE WHEN n >= 5 THEN chars_band ELSE -1 END AS BIGINT) AS chars_band,
        |         n
        |  FROM g)
        |SELECT lang, source, chars_band, CAST(sum(n) AS BIGINT) AS n_docs
        |FROM m GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "tx_pii_scrub" ->
      """SELECT event_id,
        |  CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_nums,
        |  regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS scrubbed
        |FROM events WHERE event_id < 300 ORDER BY event_id""".stripMargin,
    "tx_pack" ->
      """WITH t AS (SELECT source, doc_id,
        |  CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT source, doc_id, n_tokens,
        |  sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cum_before
        |  FROM t)
        |SELECT source, CAST(floor(cum_before / 256.0) AS BIGINT) AS pack_id,
        |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS tokens
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "tx_mix" ->
      """WITH d AS (SELECT source,
        |  substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 2) AS bucket,
        |  TRY_CAST(substr(source, 4) AS INT) % 4 AS idx FROM documents),
        |k AS (SELECT source, bucket, (['40', '80', 'c0', 'zz'])[idx + 1] AS thr FROM d)
        |SELECT source, count(*) AS n_total,
        |  CAST(count(*) FILTER (WHERE bucket < thr) AS BIGINT) AS n_kept
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,
    // s8-s10: the oracle sees only the ORIGINAL parquet; a hash match
    // certifies the engine's sink→source round-trip end-to-end.
    "s8_csv_roundtrip" ->
      """SELECT n_nationkey, n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin,
    "s9_jsonl_roundtrip" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS sum_value_micros,
        |  min(epoch_us(CAST(ts AS TIMESTAMP))) AS first_us,
        |  max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us
        |FROM events WHERE event_id < 2000 GROUP BY 1 ORDER BY 1""".stripMargin,
    "s10_partition_prune" ->
      """SELECT user_id % 10 AS user_bucket, count(*) AS n,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS sum_value_micros
        |FROM events WHERE event_type = 'click' GROUP BY 1 ORDER BY 1""".stripMargin,
    "s11_orc_roundtrip" ->
      """SELECT o_orderstatus AS status, count(*) AS n,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_x100
        |FROM orders WHERE o_orderkey < 5000 GROUP BY 1 ORDER BY 1""".stripMargin,
    // s16: the oracle reconstructs the schema-evolved merged view from the
    // ORIGINAL parquet — batch = key parity, the evolved column exists
    // only in batch 1 (old files serve NULL → 'absent').
    "s16_schema_evolution" ->
      """SELECT CAST(o_orderkey % 2 AS BIGINT) AS batch,
        |  CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus ELSE 'absent' END AS status,
        |  count(*) AS n,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_x100
        |FROM orders WHERE o_orderkey < 4000 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // rq30: the sketch guarantees freq>support values appear; event types
    // run ~2× the support, so in_sketch is deterministically true.
    "rq30_heavy_hitters" ->
      """SELECT event_type, n, true AS in_sketch FROM (
        |  SELECT event_type, count(*) AS n FROM events GROUP BY 1
        |  ORDER BY n DESC, event_type LIMIT 3)
        |ORDER BY event_type""".stripMargin,
    "rq31_window_dist" ->
      """SELECT o_custkey, o_orderkey,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume,
        |  first_value(o_orderkey) OVER wf AS top_order,
        |  last_value(o_orderkey) OVER wf AS bottom_order,
        |  nth_value(o_orderkey, 2) OVER wf AS second_order
        |FROM orders WHERE o_custkey < 50
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC),
        |  wf AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    // rq32_concurrency: sweep-line peak concurrent sessions per day. The
    // oracle replays the session rule (same >= 10 min break as rq10), then
    // one global running sum — the engine does the two-level prefix sum.
    "rq32_concurrency" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |l AS (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts FROM ev),
        |f AS (SELECT user_id, ts,
        |  CASE WHEN pts IS NULL OR ts - pts >= INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS brk FROM l),
        |s AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM f),
        |sess AS (SELECT user_id, sid, min(ts) AS st, max(ts) + INTERVAL 10 MINUTE AS en
        |         FROM s GROUP BY 1, 2),
        |d AS (SELECT t, CAST(sum(dd) AS BIGINT) AS d FROM (
        |      SELECT st AS t, 1 AS dd FROM sess UNION ALL SELECT en, -1 FROM sess) GROUP BY 1),
        |r AS (SELECT t, sum(d) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS run FROM d)
        |SELECT strftime(CAST(t AS DATE), '%Y-%m-%d') AS day,
        |       CAST(max(run) AS BIGINT) AS peak_concurrency
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    // rq33_decay: half-life-decayed engagement — integer-exponent
    // pow(0.5, d) is exact, per-term micro-unit BIGINT fixing makes the
    // sum order-independent; epoch(ts) == Spark cast(ts as double).
    "rq33_decay" ->
      """WITH mx AS (SELECT max(ts) AS tmax FROM events)
        |SELECT user_id,
        |  CAST(sum(CAST(round(value * pow(0.5, floor((epoch(tmax) - epoch(ts)) / 86400.0)) * 1e6) AS BIGINT)) AS BIGINT) AS decayed_micro,
        |  count(*) AS n_events
        |FROM events, mx WHERE user_id < 100
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // rq34_streaks: gaps-and-islands — day minus per-user rank is constant
    // within a consecutive run.
    "rq34_streaks" ->
      """WITH d AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events WHERE user_id < 200),
        |g AS (
        |  SELECT user_id, day,
        |    day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INT) AS grp
        |  FROM d),
        |runs AS (
        |  SELECT user_id, grp, count(*) AS run_len, min(day) AS run_start
        |  FROM g GROUP BY 1, 2)
        |SELECT user_id,
        |  CAST(max(run_len) AS BIGINT) AS longest_streak,
        |  CAST(count(*) AS BIGINT) AS n_runs,
        |  strftime(min(run_start), '%Y-%m-%d') AS first_day
        |FROM runs GROUP BY 1 ORDER BY 1""".stripMargin,
    // rq35_forward_fill: hourly-grid resample; per-hour sums fixed to
    // BIGINT micro-units before aggregation (money-sum rule), fill =
    // last_value IGNORE NULLS over an unbounded-preceding row frame.
    "rq35_forward_fill" ->
      """WITH hourly AS (
        |  SELECT user_id, date_trunc('hour', ts) AS hr,
        |    CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS obs_micro
        |  FROM events WHERE user_id < 3 GROUP BY 1, 2),
        |bounds AS (
        |  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1 FROM events),
        |grid AS (
        |  SELECT u.user_id, g.hr
        |  FROM (SELECT DISTINCT user_id FROM hourly) u,
        |       (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr FROM bounds) g),
        |joined AS (
        |  SELECT grid.user_id, grid.hr, hourly.obs_micro
        |  FROM grid LEFT JOIN hourly ON grid.user_id = hourly.user_id AND grid.hr = hourly.hr)
        |SELECT user_id, strftime(hr, '%Y-%m-%d %H:%M:%S') AS hr,
        |  obs_micro IS NOT NULL AS observed,
        |  coalesce(last_value(obs_micro IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY hr ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    CAST(-1 AS BIGINT)) AS filled_micro
        |FROM joined ORDER BY user_id, hr""".stripMargin,
    // rq36_mad_outliers: median/MAD robust outliers; the threshold product
    // is written in the engine's exact multiplication order so the
    // boundary compare is bit-identical.
    "rq36_mad_outliers" ->
      """WITH med AS (
        |  SELECT event_type, median(value) AS med, count(*) AS n
        |  FROM events GROUP BY 1),
        |mad AS (
        |  SELECT e.event_type, median(abs(e.value - med.med)) AS mad
        |  FROM events e JOIN med ON e.event_type = med.event_type GROUP BY 1),
        |j AS (
        |  SELECT e.event_type, e.value, med.med, mad.mad, med.n
        |  FROM events e JOIN med ON e.event_type = med.event_type
        |                JOIN mad ON e.event_type = mad.event_type)
        |SELECT event_type,
        |  round(any_value(med), 4) AS med,
        |  round(any_value(mad), 4) AS mad,
        |  CAST(any_value(n) AS BIGINT) AS n,
        |  CAST(count(*) FILTER (WHERE abs(value - med) > 3.0 * 1.4826 * mad) AS BIGINT) AS n_outliers,
        |  round(max(abs(value - med) / (1.4826 * mad)), 4) AS max_robust_z
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    // rq37_histogram: clamped floor-bucket width-10 histogram — identical
    // formula both engines (DuckDB has no width_bucket).
    "rq37_histogram" ->
      """SELECT event_type,
        |  CAST(least(greatest(floor(value / 10.0), 0), 9) AS BIGINT) AS bucket,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS sum_micro
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // rq38_markov: next-event transitions per user sequence (ties broken
    // by event_id → total order both sides); probability as integer ppm
    // via BIGINT floor division — no float channel.
    "rq38_markov" ->
      """WITH s AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |t AS (
        |  SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
        |  FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  CAST(n * 1000000 // sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS prob_ppm
        |FROM t ORDER BY from_type, to_type""".stripMargin,
    // rq39_retention: cohort = per-user min activity day over the distinct
    // (user, day) domain; retention_ppm against the week-0 cohort size
    // (every user is active in their own week 0).
    "rq39_retention" ->
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |c AS (SELECT user_id, day, min(day) OVER (PARTITION BY user_id) AS cohort_day FROM d),
        |m AS (SELECT cohort_day,
        |        CAST(date_diff('day', cohort_day, day) // 7 AS BIGINT) AS week_offset,
        |        count(DISTINCT user_id) AS n_users
        |      FROM c GROUP BY 1, 2)
        |SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day, week_offset, n_users,
        |  CAST(n_users * 1000000 // max(CASE WHEN week_offset = 0 THEN n_users END)
        |    OVER (PARTITION BY cohort_day) AS BIGINT) AS retention_ppm
        |FROM m ORDER BY 1, 2""".stripMargin,
    // rq41: the oracle recomputes the daily aggregate over ALL events in
    // one pass — a hash match certifies that the engine's base-artifact ⊕
    // delta merge is exactly the full recompute (algebraic partials).
    "rq41_incremental_agg" ->
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS sum_micro
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // rq42: one-scan column profiler over a canonical string rendering —
    // exact distinct per column, min/max lexicographic on the rendering.
    "rq42_profile" ->
      """WITH s AS (
        |  SELECT 'o_orderkey' AS column_name, CAST(o_orderkey AS VARCHAR) AS val FROM orders
        |  UNION ALL SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
        |  UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
        |  UNION ALL SELECT 'o_totalprice', CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) FROM orders
        |  UNION ALL SELECT 'o_orderdate', CAST(CAST(o_orderdate AS DATE) AS VARCHAR) FROM orders)
        |SELECT column_name, count(*) AS n_rows,
        |  count(*) - count(val) AS n_nulls,
        |  count(DISTINCT val) AS n_distinct,
        |  min(val) AS min_val, max(val) AS max_val
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    // rq43: winsorization — percentile bands quantized to BIGINT micros
    // BEFORE any comparison (rq28 rule), clip is pure integer min/max.
    "rq43_winsorize" ->
      """WITH p AS (
        |  SELECT event_type,
        |    CAST(round(quantile_cont(value, 0.05) * 1e6) AS BIGINT) AS lo,
        |    CAST(round(quantile_cont(value, 0.95) * 1e6) AS BIGINT) AS hi
        |  FROM events GROUP BY 1),
        |m AS (SELECT event_type, CAST(round(value * 1e6) AS BIGINT) AS micro FROM events)
        |SELECT m.event_type, count(*) AS n,
        |  CAST(count(*) FILTER (WHERE micro < lo) AS BIGINT) AS n_clip_lo,
        |  CAST(count(*) FILTER (WHERE micro > hi) AS BIGINT) AS n_clip_hi,
        |  CAST(sum(least(greatest(micro, lo), hi)) AS BIGINT) AS sum_wins_micro,
        |  any_value(lo) AS lo_micro, any_value(hi) AS hi_micro
        |FROM m JOIN p USING (event_type) GROUP BY 1 ORDER BY 1""".stripMargin,
    // rq44: referential-integrity audit — one anti-join count per check.
    "rq44_fk_violations" ->
      """SELECT * FROM (
        |  SELECT 'events_user_fk' AS check_name,
        |    (SELECT count(*) FROM events WHERE user_id NOT IN (SELECT c_custkey FROM customer)) AS n_violations,
        |    (SELECT count(*) FROM events) AS n_total
        |  UNION ALL
        |  SELECT 'lineitem_orders_fk',
        |    (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
        |    (SELECT count(*) FROM lineitem)
        |  UNION ALL
        |  SELECT 'orders_customer_fk',
        |    (SELECT count(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)),
        |    (SELECT count(*) FROM orders))
        |ORDER BY check_name""".stripMargin,
    // rq49: rq35's grid + both-direction IGNORE NULLS windows; the
    // interpolation itself is BIGINT `div` (≡ DuckDB `//`, truncation
    // toward zero on both engines — negative slopes agree).
    "rq49_interpolate" ->
      """WITH hourly AS (
        |  SELECT user_id, date_trunc('hour', ts) AS hr,
        |    CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS obs_micro
        |  FROM events WHERE user_id < 3 GROUP BY 1, 2),
        |bounds AS (
        |  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1 FROM events),
        |grid AS (
        |  SELECT u.user_id, g.hr
        |  FROM (SELECT DISTINCT user_id FROM hourly) u,
        |       (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr FROM bounds) g),
        |j AS (
        |  SELECT grid.user_id, grid.hr, hourly.obs_micro,
        |    epoch_us(grid.hr) // 1000000 AS t
        |  FROM grid LEFT JOIN hourly ON grid.user_id = hourly.user_id AND grid.hr = hourly.hr),
        |w AS (
        |  SELECT *,
        |    last_value(obs_micro IGNORE NULLS) OVER wp AS prev_v,
        |    last_value(CASE WHEN obs_micro IS NOT NULL THEN t END IGNORE NULLS) OVER wp AS prev_t,
        |    first_value(obs_micro IGNORE NULLS) OVER wn AS next_v,
        |    first_value(CASE WHEN obs_micro IS NOT NULL THEN t END IGNORE NULLS) OVER wn AS next_t
        |  FROM j
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY hr
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wn AS (PARTITION BY user_id ORDER BY hr
        |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, strftime(hr, '%Y-%m-%d %H:%M:%S') AS hr,
        |  obs_micro IS NOT NULL AS observed,
        |  CAST(CASE WHEN obs_micro IS NOT NULL THEN obs_micro
        |       WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
        |         THEN prev_v + ((next_v - prev_v) * (t - prev_t)) // (next_t - prev_t)
        |       ELSE -1 END AS BIGINT) AS interp_micro
        |FROM w ORDER BY user_id, hr""".stripMargin,
    // rq50: exact Gini via the rank×count prefix-sum identity — ppm
    // fixed-point, both engines truncate; row_number ties broken (c, k).
    "rq50_skew_profile" -> {
      def prof(label: String, table: String, key: String) =
        s"""SELECT '$label' AS key_col, n_rows, n_keys, max_cnt,
           |  CAST(max_cnt * 1000000 // n_rows AS BIGINT) AS max_share_ppm,
           |  CAST((2 * s - (n_keys + 1) * n_rows) * 1000000
           |    // (n_keys * n_rows) AS BIGINT) AS gini_ppm
           |FROM (
           |  SELECT CAST(sum(c) AS BIGINT) AS n_rows, count(*) AS n_keys,
           |    CAST(max(c) AS BIGINT) AS max_cnt,
           |    CAST(sum(rn * c) AS BIGINT) AS s
           |  FROM (
           |    SELECT c, CAST(row_number() OVER (ORDER BY c ASC, k ASC) AS BIGINT) AS rn
           |    FROM (SELECT CAST($key AS BIGINT) AS k, count(*) AS c
           |          FROM $table GROUP BY 1)))""".stripMargin
      Seq(prof("events.user_id", "events", "user_id"),
        prof("lineitem.l_partkey", "lineitem", "l_partkey"),
        prof("orders.o_custkey", "orders", "o_custkey"))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY key_col")
    },
    // rq51: bucketed-bitmap distinct intersection; the oracle replays the
    // same bit algebra AND the exact intersect, emitting true.
    "rq51_bitmap_intersect" ->
      """WITH a AS (
        |  SELECT user_id // 32 AS bucket,
        |    bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT)) AS w
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |b AS (
        |  SELECT user_id // 32 AS bucket,
        |    bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT)) AS w
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |bm AS (
        |  SELECT CAST(sum(bit_count(a.w & b.w)) AS BIGINT) AS n_both
        |  FROM a JOIN b USING (bucket)),
        |ex AS (
        |  SELECT count(*) AS n_exact FROM (
        |    SELECT user_id FROM events WHERE event_type = 'click'
        |    INTERSECT
        |    SELECT user_id FROM events WHERE event_type = 'purchase'))
        |SELECT 'click' AS type_a, 'purchase' AS type_b, n_both,
        |  n_both = n_exact AS bitmap_matches_exact
        |FROM bm CROSS JOIN ex""".stripMargin,
    // rq52: one-scan Deequ-style constraint suite; ppm metrics via
    // truncating integer division, floors inclusive on both engines.
    "rq52_quality_checks" ->
      """WITH a AS (
        |  SELECT count(*) AS n,
        |    sum(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS n_cust,
        |    count(DISTINCT o_orderkey) AS n_key,
        |    sum(CASE WHEN o_orderstatus IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS n_dom,
        |    sum(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS n_pos,
        |    sum(CASE WHEN CAST(o_orderdate AS DATE)
        |               BETWEEN DATE '1992-01-01' AND DATE '1998-12-31'
        |             THEN 1 ELSE 0 END) AS n_range
        |  FROM orders),
        |c(check_name, metric, floor) AS (
        |  SELECT 'completeness_custkey', n_cust, 1000000 FROM a
        |  UNION ALL SELECT 'uniqueness_orderkey', n_key, 1000000 FROM a
        |  UNION ALL SELECT 'domain_orderstatus', n_dom, 1000000 FROM a
        |  UNION ALL SELECT 'positive_totalprice', n_pos, 1000000 FROM a
        |  UNION ALL SELECT 'range_orderdate', n_range, 990000 FROM a)
        |SELECT check_name,
        |  CAST(metric * 1000000 // (SELECT n FROM a) AS BIGINT) AS metric_ppm,
        |  metric * 1000000 // (SELECT n FROM a) >= floor AS passed
        |FROM c ORDER BY check_name""".stripMargin,
    // rq53: the oracle is the O(n²) NOT EXISTS dominance DEFINITION —
    // deliberately a different algorithm than the engine's per-size
    // sweep, so the hash certifies sweep ≡ definition.
    "rq53_skyline" ->
      """WITH p AS (
        |  SELECT p_partkey, p_size,
        |    CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_x100
        |  FROM part)
        |SELECT p_partkey, p_size, price_x100 FROM p a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p b
        |  WHERE b.p_size >= a.p_size AND b.price_x100 <= a.price_x100
        |    AND (b.p_size > a.p_size OR b.price_x100 < a.price_x100))
        |ORDER BY p_size DESC, p_partkey""".stripMargin,
    // rq54: rolling distinct via the bounded day-spine range join — the
    // oracle spells out the identical fanout.
    "rq54_rolling_dau" ->
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |s AS (SELECT DISTINCT day AS s_day FROM d)
        |SELECT strftime(s_day, '%Y-%m-%d') AS day,
        |  count(DISTINCT CASE WHEN s_day = d.day THEN user_id END) AS dau,
        |  count(DISTINCT user_id) AS wau
        |FROM d JOIN s ON s_day >= d.day AND s_day <= d.day + 6
        |GROUP BY s_day ORDER BY 1""".stripMargin,
    "rq55_lift_gains" ->
      """WITH sp AS (
        |  SELECT o_custkey,
        |    sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))) AS sp
        |  FROM orders GROUP BY o_custkey),
        |dec AS (
        |  SELECT ntile(10) OVER (ORDER BY sp DESC, o_custkey) AS decile, sp FROM sp),
        |d10 AS (
        |  SELECT decile, count(*) AS n_customers, CAST(sum(sp) AS BIGINT) AS rev_x100
        |  FROM dec GROUP BY decile)
        |SELECT decile, n_customers, rev_x100,
        |  CAST(sum(rev_x100) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_rev_x100,
        |  CAST(sum(rev_x100) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000
        |    // sum(rev_x100) OVER () AS BIGINT) AS cum_share_ppm
        |FROM d10 ORDER BY decile""".stripMargin,
    // tx_dsir: hashed-unigram importance ratios — md5-prefix bucketing is
    // replayed verbatim; all arithmetic integer (HUGEINT // on the oracle,
    // DECIMAL(38,0) div on the engine).
    "tx_dsir" ->
      """WITH t AS (
        |  SELECT doc_id, lang, unnest(string_split_regex(lower(text), '\s+')) AS w
        |  FROM documents),
        |tf AS (SELECT doc_id, lang, substr(md5(w), 1, 4) AS b FROM t WHERE w <> ''),
        |counts AS (
        |  SELECT b, count(*) AS c_a,
        |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_t
        |  FROM tf GROUP BY b),
        |tot AS (SELECT sum(c_a) AS n_a, sum(c_t) AS n_t FROM counts),
        |ratio AS (
        |  SELECT b,
        |    CAST(c_t * CAST(n_a AS HUGEINT) * 1000000 // (n_t * c_a) AS BIGINT) AS ratio_ppm
        |  FROM counts, tot)
        |SELECT doc_id, lang, count(*) AS n_toks,
        |  CAST(sum(ratio_ppm) // count(*) AS BIGINT) AS dsir_ppm
        |FROM tf JOIN ratio USING (b)
        |WHERE doc_id < 100
        |GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin,
    // rq56: the Morton interleave string is RelOps.zExpr verbatim — the
    // engine and the oracle compute the identical curve by construction.
    "rq56_zorder_layout" ->
      s"""WITH base AS (
         |  SELECT event_id, CAST(user_id % 32 AS BIGINT) AS x,
         |         CAST(date_part('day', CAST(ts AS DATE)) AS BIGINT) AS y
         |  FROM events),
         |z AS (SELECT *, ${RelOps.zExpr("x", "y", bits = 5)} AS z FROM base),
         |t AS (SELECT x, y,
         |        ntile(16) OVER (ORDER BY event_id) AS tb,
         |        ntile(16) OVER (ORDER BY x, event_id) AS xb,
         |        ntile(16) OVER (ORDER BY z, event_id) AS zb
         |      FROM z),
         |u AS (SELECT 'time' AS layout, tb AS bucket, x, y FROM t
         |      UNION ALL SELECT 'xsort', xb, x, y FROM t
         |      UNION ALL SELECT 'zorder', zb, x, y FROM t),
         |g AS (SELECT layout, bucket, count(*) AS n,
         |        min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y,
         |        sum(CASE WHEN x BETWEEN 8 AND 15 AND y BETWEEN 8 AND 15
         |              THEN 1 ELSE 0 END) AS m
         |      FROM u GROUP BY layout, bucket)
         |SELECT layout, count(*) AS n_buckets,
         |  CAST(sum(CASE WHEN min_x <= 15 AND max_x >= 8 AND min_y <= 15 AND max_y >= 8
         |        THEN 1 ELSE 0 END) AS BIGINT) AS buckets_read,
         |  CAST(sum(CASE WHEN min_x <= 15 AND max_x >= 8 AND min_y <= 15 AND max_y >= 8
         |        THEN n ELSE 0 END) AS BIGINT) AS rows_read,
         |  CAST(sum(m) AS BIGINT) AS rows_matched
         |FROM g GROUP BY layout ORDER BY layout""".stripMargin,
    "tx_bpe_pairs" ->
      """WITH t AS (
        |  SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
        |  FROM documents WHERE lang = 'en'),
        |wf AS (SELECT w, count(*) AS freq FROM t WHERE w <> '' GROUP BY w),
        |p AS (
        |  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
        |           i -> {'a': w[i], 'b': w[i + 1]})) AS pr, freq
        |  FROM wf WHERE len(w) >= 2)
        |SELECT pr.a AS a, pr.b AS b, CAST(sum(freq) AS BIGINT) AS n
        |FROM p GROUP BY pr.a, pr.b ORDER BY n DESC, a, b LIMIT 20""".stripMargin,
    // dd_cdc_chunk: the chunking replayed position by position — same
    // normalization, same 8-char window, same boundary rule. The engine
    // runs the O(1)-per-byte rolling (subtract-out) Gear form inside
    // codegen; this oracle re-derives each window hash from scratch as
    // the nested stepwise-mod fold (list_reduce) — plain BIGINT
    // arithmetic, congruent and range-reduced, so the two forms are
    // EQUAL (the spec certifies the equivalence chunk-for-chunk).
    "dd_cdc_chunk" ->
      s"""WITH n AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
        |  FROM documents),
        |pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM n),
        |e AS (SELECT doc_id, t, i FROM pos
        |      WHERE i = len(t)
        |         OR (i >= 8 AND
        |             list_reduce(list_transform(generate_series(i - 7, i),
        |                 k -> CAST(ascii(substring(t, k, 1)) AS BIGINT)),
        |               (h, c) -> (h * ${graft.ops.TextOps.HashBase} + c)
        |                 % ${graft.ops.TextOps.HashMod})
        |               % ${graft.functions.CdcChunks.Mask} = 0)),
        |c AS (SELECT doc_id,
        |        substring(t,
        |          coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i), 0) + 1,
        |          i - coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i), 0))
        |          AS chunk
        |      FROM e),
        |g AS (SELECT md5(chunk) AS h, CAST(len(chunk) AS BIGINT) AS chunk_len,
        |        CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |        CAST(count(*) AS BIGINT) AS n_occ
        |      FROM c GROUP BY 1, 2)
        |SELECT substring(h, 1, 12) AS chunk_md5, n_docs, n_occ, chunk_len
        |FROM g WHERE n_docs >= 2
        |ORDER BY n_docs DESC, n_occ DESC, chunk_md5 LIMIT 50""".stripMargin,
    // dd_edit_distance: 8-char-prefix blocking join + bounded-prefix
    // Levenshtein — exact integers on both engines.
    "dd_edit_distance" ->
      """WITH d AS (
        |  SELECT doc_id, substr(lower(text), 1, 8) AS blk,
        |    substr(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 40) AS p
        |  FROM documents)
        |SELECT a.doc_id AS src_id, b.doc_id AS dst_id,
        |  CAST(levenshtein(a.p, b.p) AS BIGINT) AS edit_dist
        |FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.p, b.p) <= 12
        |ORDER BY src_id, dst_id""".stripMargin,
    // tx_split: content-hash split assignment — pure string-range compare
    // on the md5 prefix, identical on both engines.
    "tx_split" ->
      """SELECT source,
        |  CASE WHEN substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 2) < 'f0' THEN 'train'
        |       WHEN substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 2) < 'f8' THEN 'val'
        |       ELSE 'test' END AS split,
        |  count(*) AS n
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // tx_rejection_sample: integer acceptance predicate h·n_b < m·16^8 —
    // the first 8 md5 hex digits parse identically ('0x' cast / conv).
    // tx_lm_score: oracle re-derives the frozen LM counts relationally
    // (train = every source but the batch's); per-bigram log-probs are
    // micros summed as BIGINT, the mean an integer div — order-free.
    "tx_lm_score" ->
      """WITH tk AS (
        |  SELECT doc_id, source, string_split_regex(lower(text), '\s+') AS t
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, source, b.w1 AS w1, b.w2 AS w2 FROM (
        |    SELECT doc_id, source,
        |      unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
        |        i -> {'w1': t[i], 'w2': t[i+1]})) AS b
        |    FROM tk)
        |  WHERE b.w1 <> '' AND b.w2 <> ''),
        |train AS (SELECT w1, w2 FROM bg WHERE source <> 'src3'),
        |big AS (SELECT w1, w2, count(*) AS c12 FROM train GROUP BY 1, 2),
        |uni AS (SELECT w1, count(*) AS c1 FROM train GROUP BY 1),
        |v AS (SELECT count(DISTINCT w2) AS vsz FROM train),
        |sc AS (
        |  SELECT bg.doc_id,
        |    CAST(round(ln((coalesce(c12, 0) + 1.0) / (coalesce(c1, 0) + vsz))
        |      * 1000000) AS BIGINT) AS lp_micro
        |  FROM bg LEFT JOIN big USING (w1, w2) LEFT JOIN uni USING (w1) CROSS JOIN v
        |  WHERE bg.source = 'src3')
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(lp_micro) // count(*) AS BIGINT) AS mean_lp_micro
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // tx_bm25: the oracle recomputes postings/df/lengths relationally; the
    // engine probes the build-once bucket-partitioned index — same math,
    // per-term micros summed as BIGINT so order cannot drift the hash.
    "tx_bm25" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
        |  FROM documents),
        |tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
        |posts AS (SELECT doc_id, term, count(*) AS tf FROM tok2 GROUP BY 1, 2),
        |lens AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok2 GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |                 CAST(sum(dl) AS BIGINT) AS sum_dl FROM lens),
        |q AS (SELECT doc_id, term, tf FROM posts
        |      WHERE term IN ('dup', 'vector', 'merge')),
        |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM q GROUP BY 1),
        |sc AS (
        |  SELECT q.doc_id,
        |    ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * (1.2 + 1.0)) /
        |      (tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl * n_docs * 1.0 / sum_dl))) AS score
        |  FROM q JOIN dft USING (term) JOIN lens USING (doc_id) CROSS JOIN stats)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
        |  CAST(sum(CAST(round(score * 1000000) AS BIGINT)) AS BIGINT) AS score_micro
        |FROM sc GROUP BY doc_id
        |ORDER BY score_micro DESC, doc_id LIMIT 20""".stripMargin,
    "tx_weighted_sample" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars,
        |    CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) + 1 AS h
        |  FROM documents)
        |SELECT doc_id, n_chars,
        |  CAST(round(ln(h / 4294967297.0) / n_chars * 1000000000.0) AS BIGINT) AS key_nano
        |FROM d
        |ORDER BY ln(h / 4294967297.0) / n_chars DESC, doc_id LIMIT 25""".stripMargin,
    "tx_rejection_sample" ->
      """WITH d AS (
        |  SELECT doc_id, least(CAST(floor(len(text) / 100) AS BIGINT), 9) AS bucket,
        |    CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) AS h
        |  FROM documents),
        |c AS (SELECT bucket, count(*) AS n_b FROM d GROUP BY 1),
        |q AS (SELECT min(n_b) AS m FROM c)
        |SELECT bucket, count(*) AS n_total,
        |  CAST(sum(CASE WHEN h * n_b < m * 4294967296 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  any_value(m) AS quota,
        |  CAST(sum(CASE WHEN h * n_b < m * 4294967296 THEN 1 ELSE 0 END) * 1000000
        |    // count(*) AS BIGINT) AS kept_ppm
        |FROM d JOIN c USING (bucket) CROSS JOIN q
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // rq45: SCD2 — runs are constant-status by construction, so any order-
    // insensitive pick (min) equals Spark's first(); the running sum frame
    // is pinned to ROWS so both engines number versions identically.
    "rq45_scd2" ->
      """WITH base AS (
        |  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS od, o_orderstatus
        |  FROM orders WHERE o_custkey < 500),
        |m AS (
        |  SELECT *, CASE WHEN lag(o_orderstatus) OVER w IS NULL
        |                   OR lag(o_orderstatus) OVER w <> o_orderstatus
        |            THEN 1 ELSE 0 END AS chg
        |  FROM base WINDOW w AS (PARTITION BY o_custkey ORDER BY od, o_orderkey)),
        |v AS (
        |  SELECT *, CAST(sum(chg) OVER (PARTITION BY o_custkey ORDER BY od, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ver
        |  FROM m),
        |g AS (
        |  SELECT o_custkey, ver, min(o_orderstatus) AS status,
        |    min(od) AS vf, count(*) AS n_orders
        |  FROM v GROUP BY 1, 2)
        |SELECT o_custkey, ver, status,
        |  strftime(vf, '%Y-%m-%d') AS valid_from,
        |  coalesce(strftime(lead(vf) OVER wv, '%Y-%m-%d'), '9999-12-31') AS valid_to,
        |  lead(vf) OVER wv IS NULL AS is_current, n_orders
        |FROM g WINDOW wv AS (PARTITION BY o_custkey ORDER BY ver)
        |ORDER BY o_custkey, ver""".stripMargin,
    // rq46: per-stratum md5-threshold sampling; kept_ppm via integer `//`
    // (both engines truncate, operands non-negative).
    "rq46_stratified_sample" ->
      """WITH k AS (
        |  SELECT o_orderpriority,
        |    substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) <
        |      CASE o_orderpriority WHEN '1-URGENT' THEN '33'
        |                           WHEN '2-HIGH' THEN '1a'
        |                           ELSE '0d' END AS keep
        |  FROM orders)
        |SELECT o_orderpriority, count(*) AS n_total,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) * 1000000
        |    // count(*) AS BIGINT) AS kept_ppm
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,
    // rq47: full-outer reconciliation; NULL-side <> comparisons fall to the
    // ELSE 0 arm on both engines (Spark's =!= is null → otherwise(0)).
    "rq47_table_diff" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority FROM orders),
        |mig AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 997 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
        |    o_orderpriority
        |  FROM src WHERE o_orderkey % 991 <> 0
        |  UNION ALL
        |  SELECT -o_orderkey, o_custkey, o_orderstatus, o_orderpriority
        |  FROM src WHERE o_orderkey % 977 = 0),
        |j AS (
        |  SELECT l.o_orderkey AS lk, r.o_orderkey AS rk,
        |    l.o_orderstatus AS ls, r.o_orderstatus AS rs,
        |    l.o_orderpriority AS lp, r.o_orderpriority AS rp,
        |    l.o_custkey AS lc, r.o_custkey AS rc
        |  FROM src l FULL OUTER JOIN mig r ON l.o_orderkey = r.o_orderkey)
        |SELECT CASE WHEN rk IS NULL THEN 'only_left'
        |            WHEN lk IS NULL THEN 'only_right'
        |            WHEN ls <> rs OR lp <> rp OR lc <> rc THEN 'changed'
        |            ELSE 'same' END AS diff_status,
        |  count(*) AS n,
        |  CAST(sum(CASE WHEN ls <> rs THEN 1 ELSE 0 END) AS BIGINT) AS n_status_diff,
        |  CAST(sum(CASE WHEN lp <> rp THEN 1 ELSE 0 END) AS BIGINT) AS n_priority_diff
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    // rq48: aggregate-then-window growth; growth_ppm via truncating integer
    // division on exact BIGINT cents (Spark `div` ≡ DuckDB `//`, negatives
    // included — NOT floor, which the engines disagree on).
    "rq48_period_growth" ->
      """WITH m AS (
        |  SELECT o_orderpriority, strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev_x100
        |  FROM orders GROUP BY 1, 2)
        |SELECT o_orderpriority, month, rev_x100,
        |  lag(rev_x100) OVER w AS prev_x100,
        |  CAST(CASE WHEN lag(rev_x100) OVER w IS NOT NULL
        |    THEN (rev_x100 - lag(rev_x100) OVER w) * 1000000 // lag(rev_x100) OVER w
        |  END AS BIGINT) AS growth_ppm
        |FROM m WINDOW w AS (PARTITION BY o_orderpriority ORDER BY month)
        |ORDER BY o_orderpriority, month""".stripMargin,
    // rq40: rq8's as-of with a 2-hour tolerance horizon — the matched
    // purchase timestamp rides the same window; the lag is computed on
    // per-side floored epoch seconds (Spark's cast(ts AS LONG) semantics).
    "rq40_asof_tolerance" ->
      """WITH ev AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE user_id < 30),
        |u AS (
        |  SELECT user_id, ts, event_id, 1 AS is_p, event_id AS p_id, ts AS p_ts FROM ev WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, ts, event_id, 0, NULL, NULL FROM ev WHERE event_type = 'click'),
        |w AS (
        |  SELECT *,
        |    last_value(p_id IGNORE NULLS) OVER ww AS last_p,
        |    last_value(p_ts IGNORE NULLS) OVER ww AS last_p_ts
        |  FROM u
        |  WINDOW ww AS (
        |    PARTITION BY user_id ORDER BY ts ASC, is_p DESC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |f AS (
        |  SELECT event_id, user_id, last_p,
        |    (epoch_us(ts) // 1000000) - (epoch_us(last_p_ts) // 1000000) AS lag_s
        |  FROM w WHERE is_p = 0)
        |SELECT event_id AS click_id, user_id,
        |  CASE WHEN lag_s <= 7200 THEN last_p END AS purchase_id,
        |  CAST(CASE WHEN lag_s <= 7200 THEN lag_s END AS BIGINT) AS lag_sec
        |FROM f ORDER BY click_id""".stripMargin,
    "fn_string_suite" ->
      """SELECT c_custkey, upper(c_name) AS up, reverse(c_name) AS rev,
        |  left(c_name, 8) AS l8, right(c_name, 4) AS r4,
        |  lpad(CAST(c_custkey AS VARCHAR), 6, '0') AS pad6,
        |  split_part(c_name, '#', 2) AS num_part,
        |  translate(c_name, '0C', 'xY') AS tr,
        |  replace(c_name, 'Customer', 'Cust') AS repl,
        |  CAST(strpos(c_name, '#') AS BIGINT) AS hash_pos,
        |  CAST(length(c_name) AS BIGINT) AS len,
        |  concat_ws('|', c_name, upper(c_name)) AS joined,
        |  md5(c_name) AS digest
        |FROM customer WHERE c_custkey < 50 ORDER BY c_custkey""".stripMargin,
    "fn_datetime_suite" ->
      """WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
        |           FROM orders WHERE o_orderkey < 200)
        |SELECT o_orderkey,
        |  CAST(year(d) AS BIGINT) AS y, CAST(quarter(d) AS BIGINT) AS q,
        |  CAST(month(d) AS BIGINT) AS m, CAST(day(d) AS BIGINT) AS d,
        |  CAST(dayofyear(d) AS BIGINT) AS doy,
        |  dayname(d) AS dow_name,
        |  strftime(d, '%Y-%m-%d') AS iso,
        |  strftime(d + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
        |  strftime(last_day(d), '%Y-%m-%d') AS eom,
        |  strftime(date_trunc('month', d), '%Y-%m-%d') AS som,
        |  date_diff('day', DATE '1995-01-01', d) AS days_since
        |FROM o ORDER BY o_orderkey""".stripMargin,
    "fn_array_suite" ->
      s"""WITH $nodesCte,
         |g AS (SELECT house, list_sort(list(name)) AS ns, count(*) AS n
         |      FROM n WHERE nid < 25 GROUP BY house)
         |SELECT house,
         |  array_to_string(list_slice(ns, 1, 3), ',') AS top3, n,
         |  list_contains(ns, '${graft.core.Graph.fullName(1)}') AS has_c1,
         |  ns[1] AS first_name, ns[len(ns)] AS last_name,
         |  array_to_string(list_transform(list_slice(ns, 1, 2), x -> upper(x)), ',') AS up2,
         |  CAST(len(list_filter(ns, x -> x LIKE '%0')) AS BIGINT) AS n_ending_0
         |FROM g ORDER BY house""".stripMargin,
    // fn_bitwise_suite: two's-complement integral bit ops — identical
    // semantics both engines; DuckDB's bit_count returns TINYINT, cast.
    "fn_bitwise_suite" ->
      """SELECT c_custkey,
        |  c_custkey & 255 AS and_ff,
        |  c_custkey | 256 AS or_256,
        |  xor(c_custkey, 85) AS xor_55,
        |  CAST(c_custkey << 3 AS BIGINT) AS shl3,
        |  CAST(c_custkey >> 2 AS BIGINT) AS shr2,
        |  CAST(bit_count(c_custkey) AS BIGINT) AS popcount,
        |  c_custkey & 31 AS bucket32
        |FROM customer WHERE c_custkey < 100 ORDER BY c_custkey""".stripMargin,
    // fn_map_suite: map construction/extraction/lookup/membership/entries —
    // map-typed columns never reach the output (no canonical cross-engine
    // map rendering); everything flattens to sorted strings or scalars.
    "fn_map_suite" ->
      """WITH m AS (
        |  SELECT c_custkey,
        |    map(['seg', 'nat', 'name'],
        |        [c_mktsegment, CAST(c_nationkey AS VARCHAR), c_name]) AS mp
        |  FROM customer WHERE c_custkey < 40)
        |SELECT c_custkey,
        |  CAST(cardinality(mp) AS INT) AS n_keys,
        |  array_to_string(list_sort(map_keys(mp)), ',') AS keys_sorted,
        |  array_to_string(list_sort(map_values(mp)), ',') AS vals_sorted,
        |  mp['seg'][1] AS seg,
        |  coalesce(mp['missing'][1], 'none') AS missing_dflt,
        |  list_contains(map_keys(mp), 'nat') AS has_nat,
        |  array_to_string(list_sort(list_transform(map_entries(mp),
        |    e -> e.key || '=' || e.value)), ';') AS entries_sorted
        |FROM m ORDER BY c_custkey""".stripMargin,
    // fn_agg_suite: conditional/boolean/exact-median/distinct aggregates —
    // all partial-combinable hash aggs except median (exact percentile;
    // the rq19 sketch is the 100 TB twin).
    "fn_agg_suite" ->
      """SELECT l_returnflag,
        |  CAST(count_if(l_quantity > 25) AS BIGINT) AS n_bulk,
        |  bool_and(l_quantity > 0) AS all_positive,
        |  bool_or(l_discount > 0.09) AS any_deep_discount,
        |  round(median(l_quantity), 2) AS med_qty,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // fn_stat_suite: Spark's skewness/kurtosis are POPULATION formulas;
    // DuckDB's built-ins are sample-corrected, so the oracle derives them
    // from two-pass raw moments. `+ 0` collapses IEEE −0.0 to +0.0 on
    // both sides (a hair-below-zero value rounds to −0.0 otherwise).
    "fn_stat_suite" ->
      """WITH mu AS (
        |  SELECT l_returnflag AS flag, avg(l_quantity) AS m FROM lineitem GROUP BY 1),
        |mom AS (
        |  SELECT l.l_returnflag AS flag,
        |    avg(pow(l.l_quantity - mu.m, 2)) AS m2,
        |    avg(pow(l.l_quantity - mu.m, 3)) AS m3,
        |    avg(pow(l.l_quantity - mu.m, 4)) AS m4
        |  FROM lineitem l JOIN mu ON l.l_returnflag = mu.flag GROUP BY 1),
        |st AS (
        |  SELECT l_returnflag AS flag,
        |    corr(l_extendedprice, l_quantity) AS corr_pq,
        |    covar_pop(l_extendedprice, l_quantity) AS covp,
        |    covar_samp(l_extendedprice, l_quantity) AS covs,
        |    stddev_samp(l_quantity) AS sd,
        |    regr_slope(l_extendedprice, l_quantity) AS slope,
        |    regr_intercept(l_extendedprice, l_quantity) AS icept,
        |    regr_r2(l_extendedprice, l_quantity) AS r2
        |  FROM lineitem GROUP BY 1)
        |SELECT st.flag AS l_returnflag,
        |  round(corr_pq, 4) + 0 AS corr_pq,
        |  round(covp, 2) + 0 AS covar_pop_pq,
        |  round(covs, 2) + 0 AS covar_samp_pq,
        |  round(sd, 4) + 0 AS stddev_qty,
        |  round(m3 / pow(m2, 1.5), 4) + 0 AS skew_qty,
        |  round(m4 / (m2 * m2) - 3, 4) + 0 AS kurt_qty,
        |  round(slope, 4) + 0 AS slope,
        |  round(icept, 4) + 0 AS intercept,
        |  round(r2, 4) + 0 AS r2
        |FROM st JOIN mom ON st.flag = mom.flag ORDER BY 1""".stripMargin,
    // fn_null_suite: three-valued-logic sweep — NVL2 and <=> have no
    // DuckDB twin, so the oracle spells them as CASE / IS NOT DISTINCT
    // FROM (same semantics, different surface).
    "fn_null_suite" ->
      """SELECT c_custkey,
        |  nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
        |  coalesce(nullif(c_mktsegment, 'BUILDING'), 'was_building') AS seg_coalesced,
        |  ifnull(nullif(c_mktsegment, 'BUILDING'), 'nvl_default') AS seg_nvl,
        |  CASE WHEN nullif(c_mktsegment, 'BUILDING') IS NOT NULL
        |       THEN 'other' ELSE 'building' END AS seg_nvl2,
        |  c_mktsegment IS NOT DISTINCT FROM 'BUILDING' AS is_building_nullsafe,
        |  CAST(NULL AS VARCHAR) IS NOT DISTINCT FROM CAST(NULL AS VARCHAR) AS null_eq_null,
        |  nullif(c_mktsegment, 'BUILDING') IS NULL AS seg_is_null,
        |  CAST(round(c_acctbal * 100) AS BIGINT) // nullif(c_custkey % 3, 0) AS guarded_div_cents
        |FROM customer WHERE c_custkey < 50 ORDER BY c_custkey""".stripMargin,
    // fn_cast_suite: TRY_CAST failure→NULL, calendar validation, round
    // trips, boolean rendering. (No bare double→int cast: truncate-vs-
    // round semantics differ between engines by design.)
    "fn_cast_suite" ->
      """SELECT c_custkey,
        |  try_cast(split_part(c_name, '#', 2) AS BIGINT) AS name_num,
        |  try_cast(c_mktsegment AS BIGINT) AS seg_as_num,
        |  CAST(c_custkey AS VARCHAR) AS key_str,
        |  try_cast('2024-02-30' AS DATE) IS NULL AS bad_date_is_null,
        |  CAST(try_cast('2024-03-05' AS DATE) AS VARCHAR) AS good_date,
        |  strftime(CAST(try_cast('2024-03-05' AS DATE) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS date_ts,
        |  CAST(c_custkey % 2 = 0 AS VARCHAR) AS even_str,
        |  try_cast('1' || CAST(c_custkey AS VARCHAR) AS BIGINT) AS prefixed_num
        |FROM customer WHERE c_custkey < 50 ORDER BY c_custkey""".stripMargin,
    "rq57_recursive_cte" ->
      """WITH RECURSIVE anc AS (
        |  SELECT c_custkey AS node, c_custkey AS root, 0 AS depth
        |  FROM customer WHERE c_custkey < 10
        |  UNION ALL
        |  SELECT c.c_custkey, a.root, a.depth + 1
        |  FROM customer c JOIN anc a ON a.node = c.c_custkey // 10
        |  WHERE c.c_custkey >= 10)
        |SELECT root, CAST(depth AS BIGINT) AS depth, count(*) AS n_nodes,
        |  min(node) AS min_node, max(node) AS max_node
        |FROM anc GROUP BY root, depth ORDER BY root, depth""".stripMargin,
    "rq58_mv_rewrite" ->
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS DECIMAL(38,0))) AS BIGINT) AS sum_micro
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "s20_tx_compaction" ->
      s"""WITH $nodesCte
         |SELECT name,
         |  CASE WHEN right(name, 1) IN ('1', '2', '3')
         |       THEN 'MERGED' || right(name, 1) ELSE house END AS house,
         |  round(acctbal, 2) AS acctbal,
         |  CAST(4 AS BIGINT) AS v, true AS compacted_single_commit
         |FROM n ORDER BY name""".stripMargin,
    // s25: visible state = base with ONLY the conforming merge applied;
    // the booleans certify the violator raised and published nothing.
    "s25_tx_constraints" ->
      s"""WITH $nodesCte
         |SELECT name,
         |  CASE WHEN name = 'Customer#000000003' THEN 'BUILDING' ELSE house END AS house,
         |  CASE WHEN name = 'Customer#000000003' THEN 123.45
         |       ELSE round(acctbal, 2) END AS acctbal,
         |  CAST(1 AS BIGINT) AS v, true AS bad_merge_rejected,
         |  true AS no_partial_commit
         |FROM n
         |WHERE name IN ('Customer#000000002', 'Customer#000000003',
         |               'Customer#000000004')
         |ORDER BY name""".stripMargin,
    // s26: the restored head IS the base table (rollback semantics), so
    // the oracle reads `customer` directly; v = 2 (create, bad merge,
    // restore), and both physical certificates must come back true.
    "s26_restore" ->
      s"""WITH $nodesCte
         |SELECT name, house, round(acctbal, 2) AS acctbal,
         |  CAST(2 AS BIGINT) AS v, true AS restore_metadata_only,
         |  true AS bad_version_travelable
         |FROM n
         |WHERE name <= 'Customer#000000030'
         |ORDER BY name""".stripMargin,
    // s27: final state is a pure function of the base (last-digit merges);
    // v = 3 (create, merge, rebucket-compact, merge); the layout
    // certificate must come back true.
    "s27_rebucket" ->
      s"""WITH $nodesCte
         |SELECT name,
         |  CASE WHEN name LIKE '%1' THEN 'MERGED1'
         |       WHEN name LIKE '%2' THEN 'MERGED2'
         |       ELSE house END AS house,
         |  round(acctbal, 2) AS acctbal,
         |  CAST(3 AS BIGINT) AS v, true AS rebucketed_16
         |FROM n
         |WHERE name <= 'Customer#000000030'
         |ORDER BY name""".stripMargin,
    // s28: the pruned lookup returns exactly the directly-selected rows.
    "s28_point_lookup" ->
      s"""WITH $nodesCte
         |SELECT name, house, round(acctbal, 2) AS acctbal, true AS pruned_read
         |FROM n
         |WHERE name IN ('Customer#000000002', 'Customer#000000007',
         |               'Customer#000000013')
         |ORDER BY name""".stripMargin,
    // s29: after publish, main = base with last-digit-3 names STAGED;
    // v = 1 (the branch's commits collapse into one main version) and
    // both WAP certificates must come back true.
    // s37: BUILDING balances +100 (pre-update house decides), customer 7
    // flagged; exactly 1 of 8 bucket pointers moved for the point update.
    // s60: the manifest changes WHERE metadata is read, never the answer
    // — the oracle is the plain band replay; all four certs ride as true.
    "s60_stats_manifest" ->
      """WITH li AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
        |                  l_returnflag AS flag FROM lineitem)
        |SELECT flag, count(*) AS n, CAST(sum(price_cents) AS BIGINT) AS sum_cents,
        |  true AS sm_one_read, true AS sm_fallback_obuckets,
        |  true AS sm_same_decisions, true AS sm_hash_match
        |FROM li WHERE price_cents BETWEEN 2000000 AND 2100000
        |GROUP BY flag ORDER BY flag""".stripMargin,
    // s63: the string band replays declaratively from part; the prune
    // certificates ride the hash channel as literals.
    "s63_string_zonemap" ->
      """WITH p AS (SELECT p_name AS name,
        |  CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents FROM part)
        |SELECT name, count(*) AS n, CAST(sum(price_cents) AS BIGINT) AS sum_cents,
        |  true AS sz_hash_match, true AS sz_file_prune, true AS sz_bucket_prune
        |FROM p WHERE name >= 'c' AND name < 'h'
        |GROUP BY name ORDER BY name""".stripMargin,
    // s62: both counts recompute declaratively from events; the sidecar/
    // zero-IO/fallback certificates ride the hash channel as literals.
    "s62_ranged_count" ->
      """SELECT
        |  (SELECT count(*) FROM events
        |   WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |     AND ts < TIMESTAMP '2024-01-13 00:00:00') AS covered_n,
        |  (SELECT count(*) FROM events
        |   WHERE ts >= TIMESTAMP '2024-01-10 12:00:00'
        |     AND ts < TIMESTAMP '2024-01-13 00:00:00') AS straddle_n,
        |  true AS rc_sidecar_served, true AS rc_zero_data_io,
        |  true AS rc_straddle_fallback""".stripMargin,
    // s61: the point-deleted key and every BUILDING row are gone; all
    // four protocol certificates ride the hash channel as literals.
    "s61_delete_where" ->
      s"""WITH $nodesCte
         |SELECT name, house, round(acctbal, 2) AS acctbal,
         |  CAST(7 AS BIGINT) AS untouched_ptrs, true AS cdc_delete_exact,
         |  true AS noop_unpublished, true AS check_active
         |FROM n
         |WHERE name <= 'Customer#000000030'
         |  AND name <> 'Customer#000000019' AND house <> 'BUILDING'
         |ORDER BY name""".stripMargin,
    // s64: same visible state as s61's class+point delete, reached via
    // SQL DML through the catalog; four protocol certificates as literals.
    "s64_sql_delete" ->
      s"""WITH $nodesCte
         |SELECT name, house, round(acctbal, 2) AS acctbal,
         |  true AS native_parity, true AS cdc_delete_exact,
         |  true AS untranslatable_refused, true AS truncate_empty
         |FROM n
         |WHERE name <= 'Customer#000000030'
         |  AND name <> 'Customer#000000019' AND house <> 'BUILDING'
         |ORDER BY name""".stripMargin,
    // s65: the visible state replays the scripted create→merge→compact→
    // update→delete→re-insert relationally; the five row-tracking
    // certificates (id uniqueness, update/rewrite stability, insert
    // freshness, re-insert novelty) ride the hash channel as literals.
    "s65_row_lineage" ->
      s"""WITH $nodesCte,
         |b AS (SELECT name, house, acctbal FROM n
         |      WHERE name <= 'Customer#000000199'),
         |u1(name, house, acctbal) AS (VALUES
         |  ('Customer#000000003', 'BUILDING', 1.0),
         |  ('Customer#000000007', 'BUILDING', 2.0),
         |  ('User#000000001', 'BUILDING', 10.0),
         |  ('User#000000002', 'MACHINERY', 20.0)),
         |m1 AS (SELECT * FROM u1 UNION ALL
         |       SELECT * FROM b WHERE name NOT IN (SELECT name FROM u1)),
         |u AS (SELECT name, house,
         |        CASE WHEN house = 'BUILDING' THEN acctbal + 1.0
         |             ELSE acctbal END AS acctbal FROM m1),
         |f AS (SELECT name, house, acctbal FROM u
         |        WHERE name <> 'Customer#000000003'
         |      UNION ALL SELECT 'Customer#000000003', 'FURNITURE', 5.0)
         |SELECT name, house, round(acctbal, 2) AS acctbal,
         |  true AS rid_unique, true AS rid_keep_on_update,
         |  true AS rid_stable_rewrites, true AS rid_fresh_monotone,
         |  true AS rid_reinsert_new
         |FROM f
         |WHERE name <= 'Customer#000000020' OR name LIKE 'User#%'
         |ORDER BY name""".stripMargin,
    "s37_update_where" ->
      s"""WITH $nodesCte
         |SELECT name,
         |  CASE WHEN name = 'Customer#000000007' THEN 'FLAGGED'
         |       ELSE house END AS house,
         |  CASE WHEN house = 'BUILDING' THEN round(acctbal, 2) + 100
         |       ELSE round(acctbal, 2) END AS acctbal,
         |  CAST(7 AS BIGINT) AS untouched_ptrs, true AS noop_unpublished
         |FROM n
         |WHERE name <= 'Customer#000000030'
         |ORDER BY name""".stripMargin,
    // s36: clone state = base with digit-5 houses flipped; both physical
    // certificates true, drift count zero.
    "s36_clone" ->
      s"""WITH $nodesCte
         |SELECT name,
         |  CASE WHEN name LIKE '%5' THEN 'CLONED' ELSE house END AS house,
         |  round(acctbal, 2) AS acctbal,
         |  true AS source_intact, true AS zero_copied,
         |  CAST(0 AS BIGINT) AS src_drift
         |FROM n
         |WHERE name <= 'Customer#000000030'
         |ORDER BY name""".stripMargin,
    "s29_wap" ->
      s"""WITH $nodesCte
         |SELECT name,
         |  CASE WHEN name LIKE '%3' THEN 'STAGED' ELSE house END AS house,
         |  round(acctbal, 2) AS acctbal,
         |  CAST(1 AS BIGINT) AS v, true AS staged_invisible, true AS audited
         |FROM n
         |WHERE name <= 'Customer#000000030'
         |ORDER BY name""".stripMargin,
    // s30: every op label and per-version row count is derivable from the
    // base table — the hash certifies the full create/merge/MoR-delete/
    // compact/restore lifecycle in one row-set.
    "s30_history" ->
      s"""WITH $nodesCte,
         |c AS (SELECT CAST(count(*) AS BIGINT) AS all_n FROM n
         |      WHERE name <= 'Customer#000000199'),
         |d AS (SELECT CAST(count(*) AS BIGINT) AS del_n FROM n
         |      WHERE name LIKE '%2' AND name <= 'Customer#000000199')
         |SELECT v.version, v.op,
         |  CAST(8 AS INTEGER) AS n_buckets, CAST(3 AS INTEGER) AS n_cols,
         |  CASE WHEN v.version IN (2, 3) THEN c.all_n - d.del_n
         |       ELSE c.all_n END AS n_rows
         |FROM (VALUES (CAST(0 AS BIGINT), 'create'), (CAST(1 AS BIGINT), 'merge'),
         |             (CAST(2 AS BIGINT), 'delete-mor'),
         |             (CAST(3 AS BIGINT), 'compact'),
         |             (CAST(4 AS BIGINT), 'restore-v1')) AS v(version, op),
         |     c, d
         |ORDER BY v.version""".stripMargin,
    // s35: matched %8 rows with negative balance deleted, the rest
    // re-housed M8; only the positive-balance User insert survives.
    "s35_merge_clauses" ->
      s"""WITH $nodesCte,
         |u AS (
         |  SELECT name,
         |    CASE WHEN name LIKE '%8' THEN 'M8' ELSE house END AS house,
         |    acctbal
         |  FROM n
         |  WHERE NOT (name LIKE '%8' AND acctbal < 0)
         |  UNION ALL
         |  SELECT 'User#000000001', 'NEW', CAST(50.0 AS DECIMAL(12,2)))
         |SELECT name, house, round(acctbal, 2) AS acctbal
         |FROM u
         |WHERE name <= 'Customer#000000030' OR name LIKE 'User#%'
         |ORDER BY name""".stripMargin,
    // s34: head has no acctbal (schema is hash-enforced), %7 names
    // merged post-drop, and both metadata-only certificates true.
    "s34_drop_column" ->
      s"""WITH $nodesCte
         |SELECT name,
         |  CASE WHEN name LIKE '%7' THEN 'MERGED7' ELSE house END AS house,
         |  true AS pointers_unchanged, true AS v0_has_acctbal
         |FROM n
         |WHERE name <= 'Customer#000000030'
         |ORDER BY name""".stripMargin,
    // s38: pre-add rows serve the 'standard' default, %9 merged with an
    // explicit 'premium', %4 merged OMITTING the column (write-default
    // fills), both metadata-only certificates true.
    "s38_add_column" ->
      s"""WITH $nodesCte
         |SELECT name,
         |  CASE WHEN name LIKE '%4' THEN 'MERGED4' ELSE house END AS house,
         |  CASE WHEN name LIKE '%9' THEN 'premium' ELSE 'standard' END AS tier,
         |  round(acctbal, 2) AS acctbal,
         |  true AS pointers_unchanged, true AS v0_no_tier
         |FROM n
         |WHERE name <= 'Customer#000000030'
         |ORDER BY name""".stripMargin,
    // s39: pre-rename values must surface under the NEW name (alias
    // read), the %7 batch overwrites, the explicit post-rename NULL
    // stays NULL, and all three certificates ride the hash channel.
    "s39_rename_column" ->
      s"""WITH $nodesCte
         |SELECT name,
         |  CASE WHEN name = 'Customer#000000013' THEN NULL
         |       WHEN name LIKE '%7' THEN 'RENAMED7'
         |       ELSE house END AS segment,
         |  round(acctbal, 2) AS acctbal,
         |  true AS pointers_unchanged, true AS null_stays_null,
         |  true AS v0_has_house
         |FROM n
         |WHERE name <= 'Customer#000000030'
         |ORDER BY name""".stripMargin,
    // s33: states derived from the base + the frozen demo batches; the
    // SQL-authored classification must reproduce them exactly.
    "s33_sql_time_travel" ->
      s"""WITH $nodesCte,
         |cust AS (SELECT name, house AS house_v0,
         |    CASE WHEN name = 'Customer#000000003' THEN 'MACHINERY'
         |         ELSE house END AS house_head,
         |    CASE WHEN name = 'Customer#000000003' THEN 'update'
         |         ELSE 'unchanged' END AS change
         |  FROM n WHERE name <= 'Customer#000000030')
         |SELECT * FROM cust
         |UNION ALL SELECT 'User#000000001', CAST(NULL AS VARCHAR),
         |  'BUILDING', 'insert'
         |UNION ALL SELECT 'User#000000002', CAST(NULL AS VARCHAR),
         |  'AUTOMOBILE', 'insert'
         |ORDER BY name""".stripMargin,
    // s32: final state = base with %5 names deleted and %6 names merged;
    // all three incremental-OPTIMIZE certificates must come back true.
    "s32_partial_compact" ->
      s"""WITH $nodesCte
         |SELECT name,
         |  CASE WHEN name LIKE '%6' THEN 'MERGED6' ELSE house END AS house,
         |  round(acctbal, 2) AS acctbal,
         |  true AS healthy_untouched, true AS dvs_folded, true AS converged
         |FROM n
         |WHERE name <= 'Customer#000000030' AND name NOT LIKE '%5'
         |ORDER BY name""".stripMargin,
    // s31: final cross-table state is pure function of the base (last-
    // digit-4 names credited 1000 and audited); cat_v = 1 and both
    // atomicity certificates must come back true. Money as BIGINT cents
    // (round-4 lesson: derived-DECIMAL hashing is driver-hostile).
    // s40: the connector must agree with the protocol replay — merge the
    // %7 promotion, drop the DV'd key, money as BIGINT cents; the three
    // connector certificates (full-read equality, one-bucket prune, DV
    // applied) are asserted engine-side and ride as literal true.
    "s40_dsv2_read" ->
      s"""WITH $nodesCte
         |SELECT name,
         |  CASE WHEN name LIKE '%7' THEN 'PROMOTED' ELSE house END AS house,
         |  CAST(round((CASE WHEN name LIKE '%7' THEN acctbal + 1000
         |              ELSE acctbal END) * 100) AS BIGINT) AS acctbal_x100,
         |  true AS conn_full_match, true AS pruned_plan, true AS dv_applied
         |FROM n
         |WHERE name IN ('Customer#000000002', 'Customer#000000007')
         |ORDER BY name""".stripMargin,
    // s41: the folded change feed must equal the protocol replay (same
    // lifecycle as s40); the streaming certificates ride as literal true.
    "s41_change_feed" ->
      s"""WITH $nodesCte
         |SELECT name,
         |  CASE WHEN name LIKE '%7' THEN 'PROMOTED' ELSE house END AS house,
         |  CAST(round((CASE WHEN name LIKE '%7' THEN acctbal + 1000
         |              ELSE acctbal END) * 100) AS BIGINT) AS acctbal_x100,
         |  true AS replay_matches, true AS versions_ok, true AS delete_exact
         |FROM n
         |WHERE name IN ('Customer#000000002', 'Customer#000000007')
         |ORDER BY name""".stripMargin,
    // s42: both counts replayed from the base relation (199-name slice;
    // the DV'd phase minus the one deleted key); plan certificates ride
    // as literal true.
    "s42_count_pushdown" ->
      s"""WITH $nodesCte,
         |b AS (SELECT count(*) AS n FROM n WHERE name <= 'Customer#000000199')
         |SELECT 'after_mor_delete' AS phase, CAST(n - 1 AS BIGINT) AS n_rows,
         |  true AS plan_and_count_ok, true AS manifest_counted FROM b
         |UNION ALL
         |SELECT 'clean', CAST(n AS BIGINT), true, true FROM b
         |ORDER BY phase""".stripMargin,
    // s43: both extrema phases replayed from the base relation (199-name
    // slice; the DV'd phase minus the one deleted key), money as BIGINT
    // cents; plan certificates ride as literal true.
    "s43_minmax_pushdown" ->
      s"""WITH $nodesCte,
         |b AS (SELECT name, acctbal FROM n WHERE name <= 'Customer#000000199')
         |SELECT 'after_mor_delete' AS phase,
         |  CAST(round(min(acctbal) * 100) AS BIGINT) AS lo_x100,
         |  CAST(round(max(acctbal) * 100) AS BIGINT) AS hi_x100,
         |  true AS plan_and_value_ok, true AS string_refused
         |FROM b WHERE name <> 'Customer#000000013'
         |UNION ALL
         |SELECT 'clean',
         |  CAST(round(min(acctbal) * 100) AS BIGINT),
         |  CAST(round(max(acctbal) * 100) AS BIGINT), true, true
         |FROM b
         |ORDER BY phase""".stripMargin,
    // s44: the zero-shuffle catalog join replayed from the base relation
    // (199-slice joined to its %7 projection), money as BIGINT cents;
    // the plan and read-only certificates ride as literal true.
    "s44_catalog_spj" ->
      s"""WITH $nodesCte,
         |f AS (SELECT name, house, acctbal FROM n
         |      WHERE name <= 'Customer#000000199'),
         |s AS (SELECT name, acctbal * 2 AS score FROM f WHERE name LIKE '%7')
         |SELECT f.name, f.house,
         |  CAST(round(f.acctbal * 100) AS BIGINT) AS acctbal_x100,
         |  CAST(round(s.score * 100) AS BIGINT) AS score_x100,
         |  true AS spj_plan, true AS read_only
         |FROM f JOIN s ON f.name = s.name
         |WHERE f.name <= 'Customer#000000079'
         |ORDER BY f.name""".stripMargin,
    // s47: the composite-key SPJ join replayed from the base relation —
    // the _graft_bucket join term is a pure function of the merge keys,
    // so the oracle join on (name, house) is equivalent; plan/pruning
    // certificates ride as literal true (Spark-only xxhash never reaches
    // the hashed output).
    "s47_composite_spj" ->
      s"""WITH $nodesCte,
         |f AS (SELECT name, house, acctbal FROM n
         |      WHERE name <= 'Customer#000000199'),
         |s AS (SELECT name, house, acctbal * 2 AS score FROM f
         |      WHERE name LIKE '%7')
         |SELECT f.name, f.house,
         |  CAST(round(f.acctbal * 100) AS BIGINT) AS acctbal_x100,
         |  CAST(round(s.score * 100) AS BIGINT) AS score_x100,
         |  true AS spj_plan, true AS bucket_col_ok, true AS bucket_pruned
         |FROM f JOIN s ON f.name = s.name AND f.house = s.house
         |WHERE f.name <= 'Customer#000000149'
         |ORDER BY f.name""".stripMargin,
    // s45: the broadcast join replayed from the base relation (199-slice
    // against its zero-padded id projection), money as BIGINT cents; grp
    // replays id % 7 from the numeric suffix; plan certificates ride as
    // literal true.
    "s45_stats_runtime" ->
      s"""WITH $nodesCte,
         |f AS (SELECT name, house, acctbal,
         |        CAST(substr(name, 10) AS BIGINT) % 7 AS grp
         |      FROM n WHERE name <= 'Customer#000000199')
         |SELECT name, house,
         |  CAST(round(acctbal * 100) AS BIGINT) AS acctbal_x100, grp,
         |  true AS stats_broadcast, true AS runtime_pruned
         |FROM f WHERE name <= 'Customer#000000079'
         |ORDER BY name""".stripMargin,
    // s46: the skipping read replayed from the base relation (199-slice,
    // acctbal predicate, bounded name slice), money as BIGINT cents; the
    // with/without-skipping equality and the measured row-group prune
    // ride as literal true. The xxhash-derived bucket column never
    // reaches the hashed output (Spark-only hash).
    "s46_rowgroup_skip" ->
      s"""WITH $nodesCte
         |SELECT name, house,
         |  CAST(round(acctbal * 100) AS BIGINT) AS acctbal_x100,
         |  true AS skip_hash_match, true AS rowgroups_skipped
         |FROM n
         |WHERE name <= 'Customer#000000059' AND acctbal > 1000
         |ORDER BY name""".stripMargin,
    "s50_bloom_point" ->
      s"""WITH $nodesCte
         |SELECT name, house,
         |  CAST(round(acctbal * 100) AS BIGINT) AS acctbal_x100,
         |  true AS bloom_hash_match, true AS bloom_skip_effective
         |FROM n
         |WHERE name <= 'Customer#000000199'
         |  AND md5(name) IN (md5('Customer#000000007'),
         |    md5('Customer#000000034'), md5('Customer#000000121'))
         |ORDER BY name""".stripMargin,
    "s53_bucket_bloom" ->
      s"""WITH $nodesCte
         |SELECT name, house,
         |  CAST(round(acctbal * 100) AS BIGINT) AS acctbal_x100,
         |  true AS idx_hash_match, true AS idx_prune_effective
         |FROM n
         |WHERE name <= 'Customer#000000199'
         |  AND md5(name) IN (md5('Customer#000000007'),
         |    md5('Customer#000000034'), md5('Customer#000000121'))
         |ORDER BY name""".stripMargin,
    "s31_catalog_txn" ->
      s"""WITH $nodesCte
         |SELECT name,
         |  CAST(round((CASE WHEN name LIKE '%4' THEN acctbal + 1000
         |              ELSE acctbal END) * 100) AS BIGINT) AS acctbal_x100,
         |  CASE WHEN name LIKE '%4' THEN 'TRANSFERRED' ELSE house END AS house,
         |  CAST(1 AS BIGINT) AS cat_v,
         |  true AS no_torn_read, true AS consistent_new,
         |  CAST(0 AS BIGINT) AS torn_hits, CAST(0 AS BIGINT) AS incons_hits
         |FROM n
         |WHERE name <= 'Customer#000000030'
         |ORDER BY name""".stripMargin,
    // s24: final table = partial slice everywhere EXCEPT the corrected
    // day, which carries the full recompute — certifies the overwrite
    // replaced exactly one partition.
    "s24_backfill" ->
      """WITH sel AS (
        |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type, value
        |  FROM events
        |  WHERE CAST(ts AS DATE) = DATE '2024-01-01' OR event_id % 10 < 8)
        |SELECT day, event_type, count(*) AS n,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS DECIMAL(38,0)))
        |    AS BIGINT) AS sum_micro
        |FROM sel GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // s23: the oracle recomputes the FINAL table state's postings
    // relationally (base minus updated/deleted keys, plus the literal
    // mutations); the engine must reach the identical per-term aggregate
    // via diff-driven maintenance, and certify it equalled a full rebuild.
    "s23_index_maintenance" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id < 200 AND doc_id NOT IN (5, 7)),
        |upd(doc_id, text) AS (VALUES (5, 'alpha beta beta'), (9999, 'alpha gamma')),
        |fin AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
        |tok AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
        |        FROM fin),
        |tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
        |posts AS (SELECT doc_id, term, count(*) AS tf FROM tok2 GROUP BY 1, 2)
        |SELECT term, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(tf) AS BIGINT) AS sum_tf, true AS incremental_matches_full
        |FROM posts GROUP BY term ORDER BY term""".stripMargin,
    // s22: the bloom sidecar changes WHAT IS READ, never the answer — the
    // oracle is the plain point lookup; bloom_pruned certifies skipping.
    "s22_bloom_skip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_x100,
        |  strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_date,
        |  o_orderpriority, true AS bloom_pruned
        |FROM orders WHERE o_orderkey = 7 ORDER BY o_orderkey""".stripMargin,
    // s21: visible rows after a merge-on-read delete = base minus the
    // deleted key set; mor_no_rewrite certifies the physical contract
    // (data pointers unchanged) through the hash channel.
    "s21_mor_delete" ->
      s"""WITH $nodesCte
         |SELECT name, house, round(acctbal, 2) AS acctbal,
         |  CAST(1 AS BIGINT) AS v, true AS mor_no_rewrite
         |FROM n
         |WHERE name NOT LIKE '%7' AND name <= 'Customer#000000030'
         |ORDER BY name""".stripMargin,
    "rq59_hll_partials" ->
      """SELECT strftime(date_trunc('week', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS week,
        |  count(DISTINCT user_id) AS exact_users, true AS hll_within_tol
        |FROM events GROUP BY 1 ORDER BY week""".stripMargin,
    "rq60_native_topk" ->
      """WITH r AS (
        |  SELECT o_orderpriority, o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_x100,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) DESC,
        |               o_orderkey) AS rn
        |  FROM orders)
        |SELECT o_orderpriority, o_orderkey, price_x100 FROM r WHERE rn <= 3
        |ORDER BY o_orderpriority, price_x100 DESC, o_orderkey""".stripMargin,
    "rq61_ab_test" ->
      """WITH s AS (
        |  SELECT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY 1, 2),
        |arms AS (
        |  SELECT conv,
        |    CASE WHEN substring(md5(CAST(user_id AS VARCHAR) || '|' || day), 1, 1) < '8'
        |         THEN 'A' ELSE 'B' END AS arm
        |  FROM s),
        |agg AS (
        |  SELECT
        |    CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN arm = 'A' THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
        |    CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN arm = 'B' THEN conv ELSE 0 END) AS BIGINT) AS conv_b
        |  FROM arms)
        |SELECT n_a, conv_a, n_b, conv_b,
        |  round(conv_a * 1.0 / n_a, 6) AS rate_a,
        |  round(conv_b * 1.0 / n_b, 6) AS rate_b,
        |  round(CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b
        |        THEN NULL
        |        ELSE (conv_a * 1.0 / n_a - conv_b * 1.0 / n_b) /
        |          sqrt(((conv_a + conv_b) * 1.0 / (n_a + n_b)) *
        |               (1.0 - (conv_a + conv_b) * 1.0 / (n_a + n_b)) *
        |               (1.0 / n_a + 1.0 / n_b)) END, 6) AS z
        |FROM agg""".stripMargin,
    "rq62_attribution" ->
      """WITH w AS (
        |  SELECT event_type,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt,
        |    first_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ft
        |  FROM events),
        |p AS (SELECT coalesce(lt, 'direct') AS lt, coalesce(ft, 'direct') AS ft
        |      FROM w WHERE event_type = 'purchase'),
        |u AS (SELECT 'first_touch' AS model, ft AS channel FROM p
        |      UNION ALL
        |      SELECT 'last_touch' AS model, lt AS channel FROM p)
        |SELECT model, channel, CAST(count(*) AS BIGINT) AS conversions
        |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "rq63_seq_match" ->
      """WITH s AS (
        |  SELECT user_id,
        |    string_agg(substring(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
        |  FROM events GROUP BY 1)
        |SELECT user_id, CAST(length(seq) AS BIGINT) AS n_events,
        |  CAST(len(regexp_extract_all(seq, 'v[^p]*p')) AS BIGINT) AS view_to_purchase,
        |  CAST(len(regexp_extract_all(seq, 's[^e]*e')) AS BIGINT) AS signup_to_error,
        |  CAST(len(regexp_extract_all(seq, 'e+')) AS BIGINT) AS error_bursts
        |FROM s ORDER BY user_id""".stripMargin,
    "rq64_seasonal" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS c FROM events GROUP BY 1),
        |d2 AS (
        |  SELECT day, CAST(date_part('dow', day) AS BIGINT) AS dow, c,
        |    CAST(sum(c) OVER (PARTITION BY date_part('dow', day)) * CAST(1000000 AS HUGEINT)
        |      // count(c) OVER (PARTITION BY date_part('dow', day)) AS BIGINT) AS base_ppm
        |  FROM daily),
        |d3 AS (SELECT *, c * 1000000 - base_ppm AS resid_ppm FROM d2)
        |SELECT strftime(day, '%Y-%m-%d') AS day, dow, c, base_ppm, resid_ppm,
        |  abs(resid_ppm) * count(*) OVER () > sum(abs(resid_ppm)) OVER () * 3 AS anomaly
        |FROM d3 ORDER BY day""".stripMargin,
    "rq65_ivm_join" ->
      """SELECT o_orderkey, o_custkey, c_mktsegment, c_nationkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_x100
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_custkey < 200 ORDER BY o_orderkey""".stripMargin,
    "rq66_changepoint" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS c FROM events GROUP BY 1),
        |m AS (
        |  SELECT day, c,
        |    CAST(sum(c) OVER () * CAST(1000000 AS HUGEINT) // count(c) OVER () AS BIGINT)
        |      AS mean_ppm
        |  FROM daily),
        |cs AS (
        |  SELECT day, c,
        |    sum(c * 1000000 - mean_ppm) OVER
        |      (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum_ppm
        |  FROM m)
        |SELECT strftime(day, '%Y-%m-%d') AS day, c, CAST(cusum_ppm AS BIGINT) AS cusum_ppm,
        |  row_number() OVER (ORDER BY abs(cusum_ppm) DESC, day) = 1 AS is_changepoint
        |FROM cs ORDER BY day""".stripMargin,
    "rq67_keyset_page" ->
      """SELECT o_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_x100
        |FROM orders
        |ORDER BY price_x100 DESC, o_orderkey LIMIT 20 OFFSET 40""".stripMargin,
    // ml_ridge: both engines reduce to the SAME exact decimal sufficient
    // statistics, cast once to double, and solve the identical closed
    // form — deterministic on any partitioning.
    "ml_ridge" ->
      """WITH s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sx,
        |    CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS syy
        |  FROM lineitem)
        |SELECT n,
        |  round((sxy - sx * sy / n) / ((sxx - sx * sx / n) + 1000.0), 6) AS slope,
        |  round(sy / n - ((sxy - sx * sy / n) / ((sxx - sx * sx / n) + 1000.0)) * (sx / n), 2) AS intercept,
        |  round(((sxy - sx * sy / n) / ((sxx - sx * sx / n) + 1000.0)) * (sxy - sx * sy / n) / (syy - sy * sy / n), 6) AS r2
        |FROM s""".stripMargin,
    // rq68: the oracle states PIT semantics as the textbook interval join
    // (vf <= d < vt, open current version); Spark executes the equivalent
    // as-of window. LEFT JOIN + coalesce('none') mirrors Spark's coalesce
    // for facts that precede every version.
    "rq68_pit_join" ->
      """WITH base AS (
        |  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS od, o_orderstatus
        |  FROM orders WHERE o_custkey < 500),
        |m AS (
        |  SELECT *, CASE WHEN lag(o_orderstatus) OVER w IS NULL
        |                   OR lag(o_orderstatus) OVER w <> o_orderstatus
        |            THEN 1 ELSE 0 END AS chg
        |  FROM base WINDOW w AS (PARTITION BY o_custkey ORDER BY od, o_orderkey)),
        |v AS (
        |  SELECT *, CAST(sum(chg) OVER (PARTITION BY o_custkey ORDER BY od, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ver
        |  FROM m),
        |g AS (
        |  SELECT o_custkey, ver, min(o_orderstatus) AS status, min(od) AS vf
        |  FROM v GROUP BY 1, 2),
        |dim AS (
        |  SELECT o_custkey, ver, status, vf,
        |    lead(vf) OVER (PARTITION BY o_custkey ORDER BY ver) AS vt
        |  FROM g),
        |facts AS (
        |  SELECT o.o_custkey AS custkey, CAST(l.l_shipdate AS DATE) AS d,
        |    CAST(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))
        |      * 1000000 AS BIGINT) AS rev_micro
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_custkey < 500)
        |SELECT coalesce(dim.status, 'none') AS status_at_ship,
        |  count(*) AS n_items, CAST(sum(f.rev_micro) AS BIGINT) AS rev_micro
        |FROM facts f LEFT JOIN dim ON f.custkey = dim.o_custkey
        |  AND f.d >= dim.vf AND (dim.vt IS NULL OR f.d < dim.vt)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // rq69: gaps-and-islands sweep; epoch-second BIGINTs end to end
    // (floor(epoch()) == Spark's cast-to-long, the rq9 rule).
    "rq69_interval_union" ->
      """WITH e AS (
        |  SELECT user_id, event_id,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS s,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) + 300 AS e
        |  FROM events),
        |m AS (
        |  SELECT *, max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM e),
        |f AS (
        |  SELECT *, CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS ni FROM m),
        |i AS (
        |  SELECT *, sum(ni) OVER (PARTITION BY user_id ORDER BY s, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM f),
        |g AS (
        |  SELECT user_id, island, min(s) AS start_s, max(e) AS end_s, count(*) AS n_ev
        |  FROM i GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_islands,
        |  CAST(sum(end_s - start_s) AS BIGINT) AS covered_sec,
        |  CAST(sum(n_ev) AS BIGINT) AS n_events,
        |  CAST(max(end_s - start_s) AS BIGINT) AS longest_sec
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    // rq70: cumulative distinct = running sum of first-seen days.
    "rq70_cum_distinct" ->
      """WITH fs AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events GROUP BY 1),
        |d AS (SELECT first_day AS day, count(*) AS new_users FROM fs GROUP BY 1)
        |SELECT strftime(day, '%Y-%m-%d') AS day, new_users,
        |  CAST(sum(new_users) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
        |FROM d ORDER BY day""".stripMargin,
    // rq71: the oracle is the brute-force O(n²) radius join over the same
    // integer-microdegree scatter — hash equality certifies the grid
    // join's 3x3-neighborhood pruning loses no pair and invents none.
    "rq71_geo_join" ->
      """WITH pts AS (
        |  SELECT c_name AS name,
        |    (c_custkey * 2654435761) % 180000000 AS lat,
        |    (c_custkey * 2246822519) % 360000000 AS lon
        |  FROM customer)
        |SELECT a.name AS name_a, b.name AS name_b,
        |  CAST((a.lat-b.lat)*(a.lat-b.lat) + (a.lon-b.lon)*(a.lon-b.lon)
        |    AS BIGINT) AS dist2
        |FROM pts a JOIN pts b ON a.name < b.name
        |WHERE (a.lat-b.lat)*(a.lat-b.lat) + (a.lon-b.lon)*(a.lon-b.lon)
        |      <= 100000000000000
        |ORDER BY name_a, name_b""".stripMargin,
    // rq86: identical running-peak pairing, floor-to-micros per row.
    "rq86_max_drawdown" ->
      """WITH v AS (SELECT user_id, ts, event_id,
        |    CAST(floor(value * 1000000) AS BIGINT) AS vm
        |  FROM events),
        |p AS (SELECT user_id, vm,
        |    max(vm) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |  FROM v)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(max(peak - vm) AS BIGINT) AS max_drawdown_micro
        |FROM p WHERE user_id < 200 GROUP BY 1 ORDER BY 1""".stripMargin,
    // rq88: same per-(user, week) collapse; offsets are exact multiples
    // of 7 days (both sides week-truncate first), LTV in truncating
    // integer division over non-negative revenue.
    "rq88_cohort_ltv" ->
      """WITH uw AS (
        |  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week,
        |    CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS rev_micro
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT user_id, week, rev_micro,
        |        min(week) OVER (PARTITION BY user_id) AS cohort FROM uw),
        |m AS (SELECT cohort, CAST((week - cohort) // 7 AS INTEGER) AS week_offset,
        |        CAST(sum(rev_micro) AS BIGINT) AS rev_micro
        |      FROM c GROUP BY 1, 2),
        |s AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size
        |      FROM (SELECT user_id, min(week) AS cohort FROM uw GROUP BY 1)
        |      GROUP BY 1),
        |x AS (SELECT m.cohort, m.week_offset, s.cohort_size,
        |        CAST(sum(m.rev_micro) OVER (PARTITION BY m.cohort
        |          ORDER BY m.week_offset) AS BIGINT) AS cum_rev_micro
        |      FROM m JOIN s ON m.cohort = s.cohort)
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort, week_offset, cohort_size,
        |  cum_rev_micro,
        |  CAST(cum_rev_micro // cohort_size AS BIGINT) AS ltv_per_user_micro
        |FROM x ORDER BY cohort, week_offset""".stripMargin,
    // rq87: same delta collapse + user-week grid + cumulative window;
    // both engines truncate weeks to the ISO Monday.
    "rq87_semi_additive" ->
      """WITH d AS (
        |  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week,
        |    CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS delta_micro,
        |    count(*) AS n_ev
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT u.user_id, w.week
        |      FROM (SELECT DISTINCT user_id FROM d) u
        |      CROSS JOIN (SELECT DISTINCT week FROM d) w),
        |b AS (SELECT g.user_id, g.week,
        |        sum(coalesce(d.delta_micro, 0)) OVER (
        |          PARTITION BY g.user_id ORDER BY g.week) AS eow_micro,
        |        d.n_ev
        |      FROM g LEFT JOIN d ON g.user_id = d.user_id AND g.week = d.week)
        |SELECT strftime(week, '%Y-%m-%d') AS week,
        |  CAST(sum(eow_micro) AS BIGINT) AS eow_total_micro,
        |  CAST(max(eow_micro) AS BIGINT) AS eow_max_micro,
        |  CAST(sum(CASE WHEN n_ev IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS active_users
        |FROM b GROUP BY week ORDER BY week""".stripMargin,
    // rq85: same integer bins; DuckDB dayofweek is 0-based Sunday so +1.
    "rq85_heatmap_2d" ->
      """WITH b AS (SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
        |    CAST(hour(ts) AS BIGINT) AS hod, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM b)
        |SELECT dow, hod, n, CAST(n * 1000000 // t.t AS BIGINT) AS share_ppm
        |FROM b, t ORDER BY dow, hod""".stripMargin,
    // rq84: exact per-key fan-out products; threshold flag replayed.
    "rq84_join_audit" ->
      """WITH l AS (SELECT CAST(c_nationkey AS BIGINT) AS nation,
        |    count(*) AS n_cust FROM customer GROUP BY 1),
        |r AS (SELECT CAST(s_nationkey AS BIGINT) AS nation,
        |    count(*) AS n_supp FROM supplier GROUP BY 1)
        |SELECT nation, n_cust, n_supp,
        |  CAST(n_cust * n_supp AS BIGINT) AS predicted_rows,
        |  n_cust * n_supp >= 100000 AS would_explode
        |FROM l JOIN r USING (nation)
        |ORDER BY predicted_rows DESC, nation""".stripMargin,
    // rq83: identical lead() pairing over the same filtered sequence.
    "rq83_sequence_gaps" ->
      """WITH i AS (SELECT event_id AS id FROM events
        |  WHERE event_type <> 'purchase'),
        |p AS (SELECT id, lead(id) OVER (ORDER BY id) AS nxt FROM i)
        |SELECT id + 1 AS gap_from, nxt - 1 AS gap_to,
        |  nxt - id - 1 AS missing
        |FROM p WHERE nxt > id + 1
        |ORDER BY gap_from LIMIT 50""".stripMargin,
    // rq82: HUGEINT replay of the same full-grid exact-integer statistic.
    "rq82_chi_square" ->
      """WITH o AS (SELECT c_mktsegment AS house,
        |    CAST(c_nationkey AS BIGINT) AS nation, count(*) AS cnt
        |  FROM customer GROUP BY 1, 2),
        |g AS (SELECT h.house, na.nation, coalesce(o.cnt, 0) AS cnt
        |  FROM (SELECT DISTINCT house FROM o) h
        |  CROSS JOIN (SELECT DISTINCT nation FROM o) na
        |  LEFT JOIN o USING (house, nation)),
        |t AS (SELECT cnt,
        |    sum(cnt) OVER (PARTITION BY house) AS rt,
        |    sum(cnt) OVER (PARTITION BY nation) AS ct,
        |    sum(cnt) OVER () AS n, house, nation
        |  FROM g)
        |SELECT CAST(sum(CAST(cnt*n - rt*ct AS HUGEINT) * (cnt*n - rt*ct)
        |    * 1000000 // (CAST(rt AS HUGEINT) * ct * n)) AS BIGINT)
        |    AS chi2_micro,
        |  CAST((count(DISTINCT house) - 1) * (count(DISTINCT nation) - 1)
        |    AS BIGINT) AS dof,
        |  CAST(max(n) AS BIGINT) AS n
        |FROM t""".stripMargin,
    // rq81: same fanout, same continuous-median definition
    // (quantile_cont == Spark percentile, the tx_len_quantiles pairing).
    "rq81_rolling_median" ->
      """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS rev
        |  FROM orders GROUP BY 1),
        |s AS (SELECT DISTINCT day AS s_day FROM d)
        |SELECT strftime(s_day, '%Y-%m-%d') AS day, count(*) AS n_days,
        |  round(quantile_cont(rev, 0.5), 4) AS med_rev_x100
        |FROM d JOIN s ON s_day >= day AND s_day <= day + 6
        |GROUP BY s_day
        |HAVING strftime(s_day, '%Y-%m-%d') < '1995-04-01'
        |ORDER BY day""".stripMargin,
    // rq80: the oracle replays the continuous-percentile definition from
    // row_number ranks with the identical integer-micros blend.
    "rq80_percentile_cont" ->
      """WITH v AS (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM lineitem),
        |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v),
        |n AS (SELECT count(*) AS c FROM v),
        |q AS (SELECT * FROM (VALUES ('p50', 1, 2), ('p90', 9, 10),
        |        ('p99', 99, 100)) AS q(stat, qn, qd)),
        |t AS (SELECT stat, qn, qd,
        |    qn * (c - 1) // qd + 1 AS k, qn * (c - 1) % qd AS rem
        |  FROM q CROSS JOIN n)
        |SELECT t.stat, CAST(t.k AS BIGINT) AS k,
        |  CAST(a.v * 1000000 + (b.v - a.v) * t.rem * 1000000 // t.qd
        |    AS BIGINT) AS pcont_micro
        |FROM t JOIN r a ON a.rn = t.k
        |  JOIN r b ON b.rn = CASE WHEN t.rem = 0 THEN t.k ELSE t.k + 1 END
        |ORDER BY t.stat""".stripMargin,
    // rq72: the oracle is the rank definition itself — row_number over the
    // sorted column, picked at k = ceil(q·n) — so the hash certifies the
    // histogram-selection path returns the EXACT order statistic.
    "rq72_exact_kth" ->
      """WITH v AS (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM lineitem),
        |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v),
        |n AS (SELECT count(*) AS c FROM v),
        |ks AS (
        |  SELECT 'p50' AS stat, (c + 1) // 2 AS k FROM n
        |  UNION ALL SELECT 'p90', (9 * c + 9) // 10 FROM n
        |  UNION ALL SELECT 'p99', (99 * c + 99) // 100 FROM n)
        |SELECT ks.stat, CAST(ks.k AS BIGINT) AS k, r.v AS value
        |FROM ks JOIN r ON r.rn = ks.k
        |ORDER BY ks.stat""".stripMargin,
    // ml_kmeans: all three Lloyd rounds replayed in chained CTEs with
    // the identical init, tie-break, and floor-division means.
    "ml_kmeans" ->
      """WITH p AS (SELECT
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) + 100000 AS x,
        |    CAST(c_nationkey AS BIGINT) * 40000 AS y,
        |    CAST(c_custkey AS BIGINT) AS id
        |  FROM customer),
        |c0 AS (SELECT
        |    max(CASE WHEN id = 1 THEN x END) AS cx1, max(CASE WHEN id = 1 THEN y END) AS cy1,
        |    max(CASE WHEN id = 2 THEN x END) AS cx2, max(CASE WHEN id = 2 THEN y END) AS cy2,
        |    max(CASE WHEN id = 3 THEN x END) AS cx3, max(CASE WHEN id = 3 THEN y END) AS cy3
        |  FROM p WHERE id <= 3),
        |r1 AS (SELECT x, y,
        |    CASE WHEN d1 <= d2 AND d1 <= d3 THEN 1
        |         WHEN d2 <= d3 THEN 2 ELSE 3 END AS idx
        |  FROM (SELECT p.x, p.y,
        |      (p.x - c0.cx1)*(p.x - c0.cx1) + (p.y - c0.cy1)*(p.y - c0.cy1) AS d1,
        |      (p.x - c0.cx2)*(p.x - c0.cx2) + (p.y - c0.cy2)*(p.y - c0.cy2) AS d2,
        |      (p.x - c0.cx3)*(p.x - c0.cx3) + (p.y - c0.cy3)*(p.y - c0.cy3) AS d3
        |    FROM p, c0)),
        |a1 AS (SELECT idx, count(*) AS n,
        |    sum(x) // count(*) AS cx, sum(y) // count(*) AS cy
        |  FROM r1 GROUP BY 1),
        |c1 AS (SELECT
        |    coalesce(max(CASE WHEN idx = 1 THEN cx END), (SELECT cx1 FROM c0)) AS cx1,
        |    coalesce(max(CASE WHEN idx = 1 THEN cy END), (SELECT cy1 FROM c0)) AS cy1,
        |    coalesce(max(CASE WHEN idx = 2 THEN cx END), (SELECT cx2 FROM c0)) AS cx2,
        |    coalesce(max(CASE WHEN idx = 2 THEN cy END), (SELECT cy2 FROM c0)) AS cy2,
        |    coalesce(max(CASE WHEN idx = 3 THEN cx END), (SELECT cx3 FROM c0)) AS cx3,
        |    coalesce(max(CASE WHEN idx = 3 THEN cy END), (SELECT cy3 FROM c0)) AS cy3
        |  FROM a1),
        |r2 AS (SELECT x, y,
        |    CASE WHEN d1 <= d2 AND d1 <= d3 THEN 1
        |         WHEN d2 <= d3 THEN 2 ELSE 3 END AS idx
        |  FROM (SELECT p.x, p.y,
        |      (p.x - c1.cx1)*(p.x - c1.cx1) + (p.y - c1.cy1)*(p.y - c1.cy1) AS d1,
        |      (p.x - c1.cx2)*(p.x - c1.cx2) + (p.y - c1.cy2)*(p.y - c1.cy2) AS d2,
        |      (p.x - c1.cx3)*(p.x - c1.cx3) + (p.y - c1.cy3)*(p.y - c1.cy3) AS d3
        |    FROM p, c1)),
        |a2 AS (SELECT idx, count(*) AS n,
        |    sum(x) // count(*) AS cx, sum(y) // count(*) AS cy
        |  FROM r2 GROUP BY 1),
        |c2 AS (SELECT
        |    coalesce(max(CASE WHEN idx = 1 THEN cx END), (SELECT cx1 FROM c1)) AS cx1,
        |    coalesce(max(CASE WHEN idx = 1 THEN cy END), (SELECT cy1 FROM c1)) AS cy1,
        |    coalesce(max(CASE WHEN idx = 2 THEN cx END), (SELECT cx2 FROM c1)) AS cx2,
        |    coalesce(max(CASE WHEN idx = 2 THEN cy END), (SELECT cy2 FROM c1)) AS cy2,
        |    coalesce(max(CASE WHEN idx = 3 THEN cx END), (SELECT cx3 FROM c1)) AS cx3,
        |    coalesce(max(CASE WHEN idx = 3 THEN cy END), (SELECT cy3 FROM c1)) AS cy3
        |  FROM a2),
        |r3 AS (SELECT x, y,
        |    CASE WHEN d1 <= d2 AND d1 <= d3 THEN 1
        |         WHEN d2 <= d3 THEN 2 ELSE 3 END AS idx
        |  FROM (SELECT p.x, p.y,
        |      (p.x - c2.cx1)*(p.x - c2.cx1) + (p.y - c2.cy1)*(p.y - c2.cy1) AS d1,
        |      (p.x - c2.cx2)*(p.x - c2.cx2) + (p.y - c2.cy2)*(p.y - c2.cy2) AS d2,
        |      (p.x - c2.cx3)*(p.x - c2.cx3) + (p.y - c2.cy3)*(p.y - c2.cy3) AS d3
        |    FROM p, c2)),
        |a3 AS (SELECT idx, count(*) AS n,
        |    sum(x) // count(*) AS cx, sum(y) // count(*) AS cy
        |  FROM r3 GROUP BY 1),
        |c3 AS (SELECT
        |    coalesce(max(CASE WHEN idx = 1 THEN cx END), (SELECT cx1 FROM c2)) AS cx1,
        |    coalesce(max(CASE WHEN idx = 1 THEN cy END), (SELECT cy1 FROM c2)) AS cy1,
        |    coalesce(max(CASE WHEN idx = 2 THEN cx END), (SELECT cx2 FROM c2)) AS cx2,
        |    coalesce(max(CASE WHEN idx = 2 THEN cy END), (SELECT cy2 FROM c2)) AS cy2,
        |    coalesce(max(CASE WHEN idx = 3 THEN cx END), (SELECT cx3 FROM c2)) AS cx3,
        |    coalesce(max(CASE WHEN idx = 3 THEN cy END), (SELECT cy3 FROM c2)) AS cy3
        |  FROM a3)
        |SELECT CAST(idx AS BIGINT) AS cluster, CAST(n AS BIGINT) AS n,
        |  CAST(cx AS BIGINT) AS cx, CAST(cy AS BIGINT) AS cy
        |FROM a3 ORDER BY cluster""".stripMargin,
    // ml_stump: the oracle replays the cumulative Gini split search in
    // exact integer ppm, identical tie-break (score, then threshold).
    "ml_stump" ->
      """WITH d AS (
        |  SELECT CAST(length(text) AS BIGINT) AS len,
        |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM documents),
        |g AS (SELECT len, count(*) AS n, sum(pos) AS p FROM d GROUP BY 1),
        |c AS (SELECT len,
        |    sum(n) OVER (ORDER BY len ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS nl,
        |    sum(p) OVER (ORDER BY len ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS pl,
        |    sum(n) OVER () AS nt, sum(p) OVER () AS pt
        |  FROM g),
        |s AS (SELECT len, nl, pl, nt, pt, nt - nl AS nr, pt - pl AS pr
        |  FROM c WHERE nt - nl > 0),
        |sc AS (SELECT *,
        |    2 * pl * (nl - pl) * 1000000 // nl +
        |    2 * pr * (nr - pr) * 1000000 // nr AS score_ppm
        |  FROM s)
        |SELECT len AS threshold, CAST(score_ppm AS BIGINT) AS score_ppm,
        |  CASE WHEN pl * 2 > nl THEN 'en' ELSE 'other' END AS pred_left,
        |  CAST(CASE WHEN pl * 2 > nl THEN pl ELSE nl - pl END AS BIGINT)
        |    AS left_correct,
        |  CAST(CASE WHEN pr * 2 > nr THEN pr ELSE nr - pr END AS BIGINT)
        |    AS right_correct,
        |  CAST(nt AS BIGINT) AS n
        |FROM sc ORDER BY score_ppm, len LIMIT 1""".stripMargin,
    // rq78: identical interval pairing and integer-micro arithmetic;
    // floor() before the cast on both engines (DuckDB CAST rounds,
    // Spark CAST truncates — floor removes the divergence).
    "rq78_twap" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts,
        |    CAST(floor(value * 1000000) AS BIGINT) AS vm,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |p AS (SELECT user_id, vm,
        |    CAST(date_diff('second', ts, nxt) AS BIGINT) AS dur
        |  FROM e WHERE nxt IS NOT NULL)
        |SELECT user_id, count(*) AS n_intervals,
        |  CAST(sum(dur) AS BIGINT) AS span_sec,
        |  CAST(sum(vm * dur) // sum(dur) AS BIGINT) AS twap_micro
        |FROM p WHERE user_id < 200 GROUP BY 1
        |HAVING sum(dur) > 0
        |ORDER BY user_id""".stripMargin,
    // rq77: the oracle rebuilds the same 4x1024 integer-hash sketch and
    // probes the same exact top-10, so the hash certifies estimates,
    // exact counts, and the one-sided error bound together.
    "rq77_count_min" ->
      """WITH ev AS (SELECT user_id FROM events),
        |seeds AS (SELECT * FROM (VALUES (0, 131071, 8191), (1, 524287, 127),
        |  (2, 2147483628, 31), (3, 8388607, 524287)) AS s(r, a, b)),
        |cells AS (SELECT s.r,
        |    (e.user_id * s.a + s.b) % 2147483647 % 1024 AS bucket,
        |    count(*) AS c
        |  FROM ev e CROSS JOIN seeds s GROUP BY 1, 2),
        |top AS (SELECT user_id, count(*) AS exact FROM ev GROUP BY 1
        |  ORDER BY exact DESC, user_id LIMIT 10),
        |pr AS (SELECT t.user_id, t.exact, s.r,
        |    (t.user_id * s.a + s.b) % 2147483647 % 1024 AS bucket
        |  FROM top t CROSS JOIN seeds s)
        |SELECT user_id, exact, est, est >= exact AS never_under FROM (
        |  SELECT pr.user_id, CAST(pr.exact AS BIGINT) AS exact,
        |    CAST(min(c.c) AS BIGINT) AS est
        |  FROM pr JOIN cells c ON c.r = pr.r AND c.bucket = pr.bucket
        |  GROUP BY 1, 2)
        |ORDER BY exact DESC, user_id""".stripMargin,
    // rq76: static contract — lineage is a plan property, not a data
    // property, so the expected rows are literals.
    "rq76_lineage" ->
      """SELECT * FROM (VALUES
        |  ('n', '<none>', '<none>'),
        |  ('priority', 'orders', 'o_orderpriority'),
        |  ('revenue', 'lineitem', 'l_discount'),
        |  ('revenue', 'lineitem', 'l_extendedprice'))
        |  AS t(out_col, src_table, src_col)
        |ORDER BY out_col, src_table, src_col""".stripMargin,
    // rq75: per-group row_number rank definition at k = ceil(n/2).
    "rq75_group_median" ->
      """WITH v AS (
        |  SELECT l_returnflag AS flag,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM lineitem),
        |r AS (SELECT flag, v,
        |    row_number() OVER (PARTITION BY flag ORDER BY v) AS rn FROM v),
        |n AS (SELECT flag, (count(*) + 1) // 2 AS k FROM v GROUP BY 1)
        |SELECT r.flag, CAST(n.k AS BIGINT) AS k, r.v AS median_x100
        |FROM r JOIN n ON r.flag = n.flag AND r.rn = n.k
        |ORDER BY r.flag""".stripMargin,
    // rq74: the oracle recomputes the aggregate from source — a hash
    // match proves the cached artifact still equals the live answer, and
    // served_from_cache must come back true.
    "rq74_result_cache" ->
      """SELECT o_orderpriority AS priority,
        |  CAST(date_part('year', CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS revenue_x100,
        |  true AS served_from_cache
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // rq73: the oracle replays the KMV algorithm verbatim (k-min md5
    // order statistics, union re-sketch, integer Jaccard scaling), so the
    // hash certifies the estimate AND the exact intersection it tracks.
    "rq73_kmv_jaccard" ->
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |h AS (SELECT day, md5(CAST(user_id AS VARCHAR)) AS h FROM du),
        |sk AS (SELECT day, h FROM (
        |  SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rn
        |  FROM h) WHERE rn <= 64),
        |days AS (SELECT DISTINCT day FROM du),
        |pair AS (SELECT d1.day AS day, d2.day AS day2
        |  FROM days d1 JOIN days d2 ON d1.day + 1 = d2.day),
        |sides AS (SELECT day, day AS sday FROM pair
        |  UNION ALL SELECT day, day2 FROM pair),
        |comb AS (SELECT s.day, k.h,
        |    max(CASE WHEN k.day = s.day THEN 1 ELSE 0 END) AS in_a,
        |    max(CASE WHEN k.day <> s.day THEN 1 ELSE 0 END) AS in_b
        |  FROM sides s JOIN sk k ON k.day = s.sday GROUP BY 1, 2),
        |kmin AS (SELECT * FROM (
        |  SELECT day, in_a, in_b, row_number() OVER (PARTITION BY day ORDER BY h) AS rn
        |  FROM comb) WHERE rn <= 64),
        |c AS (SELECT day, CAST(sum(in_a * in_b) AS BIGINT) AS c FROM kmin GROUP BY 1),
        |u AS (SELECT s.day, count(DISTINCT d.user_id) AS u
        |  FROM sides s JOIN du d ON d.day = s.sday GROUP BY 1),
        |x AS (SELECT a.day, CAST(count(*) AS BIGINT) AS exact_inter
        |  FROM du a JOIN du b ON b.day = a.day + 1 AND b.user_id = a.user_id
        |  GROUP BY 1)
        |SELECT strftime(c.day, '%Y-%m-%d') AS day,
        |  CAST(c.c * u.u // 64 AS BIGINT) AS est_inter, x.exact_inter,
        |  CAST(abs(c.c * u.u // 64 - x.exact_inter) * 1000000 // x.exact_inter
        |    AS BIGINT) AS err_ppm
        |FROM c JOIN u USING (day) JOIN x USING (day)
        |ORDER BY day""".stripMargin,
    // ml_naive_bayes: Laplace-smoothed probabilities in exact integer ppm
    // ((n+1)·10⁶ // (total+V)) — no float channel; tokenization shared
    // with tx_vocab_topk.
    "ml_naive_bayes" ->
      """WITH t AS (
        |  SELECT lang, unnest(string_split_regex(lower(text), '\s+')) AS token
        |  FROM documents),
        |ct AS (SELECT lang, token, count(*) AS n_tok FROM t
        |  WHERE token <> '' GROUP BY 1, 2),
        |tot AS (SELECT lang, CAST(sum(n_tok) AS BIGINT) AS n_lang FROM ct GROUP BY 1),
        |v AS (SELECT count(DISTINCT token) AS vocab FROM ct),
        |pr AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
        |pp AS (SELECT lang, CAST(n_docs * 1000000 // sum(n_docs) OVER () AS BIGINT)
        |  AS prior_ppm FROM pr),
        |rk AS (SELECT lang, token, n_tok,
        |  row_number() OVER (PARTITION BY lang ORDER BY n_tok DESC, token) AS rk
        |  FROM ct)
        |SELECT rk.lang, CAST(rk.rk AS BIGINT) AS rk, rk.token, rk.n_tok, tot.n_lang,
        |  CAST((rk.n_tok + 1) * 1000000 // (tot.n_lang + v.vocab) AS BIGINT) AS prob_ppm,
        |  pp.prior_ppm
        |FROM rk JOIN tot USING (lang) CROSS JOIN v JOIN pp USING (lang)
        |WHERE rk.rk <= 3
        |ORDER BY lang, rk""".stripMargin,
    // ml_covariance: identical integer-micro quantization, HUGEINT-exact
    // sufficient statistics, and the same truncating integer division;
    // the 36-pair unpivot is generated, mirroring the Spark stack().
    "ml_covariance" -> {
      val d = 8
      val pairs = for { i <- 0 until d; j <- i until d } yield (i, j)
      val qCols = (0 until d).map(i =>
        s"CAST(round(CAST(embedding[${i + 1}] AS DOUBLE) * 1000000) AS BIGINT) AS q$i")
        .mkString(",\n    ")
      val sums = (0 until d).map(i => s"CAST(sum(q$i) AS HUGEINT) AS s$i") ++
        pairs.map { case (i, j) =>
          s"CAST(sum(CAST(q$i AS HUGEINT) * q$j) AS HUGEINT) AS p${i}_$j" }
      val arms = pairs.map { case (i, j) =>
        s"""SELECT CAST($i AS BIGINT) AS dim_i, CAST($j AS BIGINT) AS dim_j,
           |  CAST(n AS BIGINT) AS n,
           |  CAST((n * p${i}_$j - s$i * s$j) // (n * n) AS BIGINT) AS cov_micro2
           |FROM s""".stripMargin }
      s"""WITH q AS (
         |  SELECT $qCols
         |  FROM embeddings),
         |s AS (
         |  SELECT CAST(count(*) AS HUGEINT) AS n,
         |    ${sums.mkString(",\n    ")}
         |  FROM q)
         |${arms.mkString("\nUNION ALL\n")}
         |ORDER BY dim_i, dim_j""".stripMargin
    },
    "rq17_sql_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_base_price,
        |  CAST(sum(CAST(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "fn_sql_fingerprint" ->
      s"""WITH t AS (
         |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
         |  FROM documents WHERE doc_id < 100)
         |SELECT doc_id, md5(nt) AS fp_md5,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split(nt, ''), c -> CAST(ord(c) AS BIGINT))),
         |    (a, b) -> (a * ${TextOps.HashBase} + b) % ${TextOps.HashMod}) AS fp_roll
         |FROM t ORDER BY doc_id""".stripMargin,
    "st_sessions" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE user_id < 20),
        |l AS (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts FROM ev),
        |f AS (SELECT user_id, ts,
        |  CASE WHEN pts IS NULL OR ts - pts >= INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS brk FROM l),
        |s AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM f)
        |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS sstart, count(*) AS n_events
        |FROM s GROUP BY user_id, sid ORDER BY user_id, sstart""".stripMargin,
    // —— ML: the A3 feature pivot (train_fix.py:25-52) ——
    "ml_feature_pivot" -> {
      val sums = (for { r <- MlOps.RelTypes; h <- MlOps.Houses } yield
        s"CAST(sum(CASE WHEN relType = '$r' AND nbr_house = '$h' THEN 1 ELSE 0 END) AS BIGINT) AS ${MlOps.featureCol(r, h)}"
        ).mkString(",\n    ")
      val outs = MlOps.FeatureCols.map(c => s"coalesce($c, 0) AS $c").mkString(", ")
      s"""WITH $nodesCte, $personEdgesUndirCte,
         |nb AS (SELECT pu.src, pu.relType, n2.house AS nbr_house
         |       FROM pu JOIN n n2 ON pu.dst = n2.name),
         |c AS (SELECT src,
         |    $sums
         |  FROM nb GROUP BY src)
         |SELECT n.name, n.house, $outs
         |FROM n LEFT JOIN c ON n.name = c.src
         |WHERE n.nid < 100 ORDER BY n.name""".stripMargin
    },
    // —— ML: Sorting Hat predictions. The graph features are perfectly
    // separable (f_friend_H > 0 iff house = H — FRIEND_OF is intra-house by
    // construction and every member of a ≥2-person house has a friend), so
    // the seeded 50-tree forest predicts the house exactly; verified at
    // sf0.001/0.01/0.1. The oracle is that closed form. ——
    "ml_sorting_hat" ->
      s"""WITH $nodesCte
         |SELECT name, house, house AS predicted_house FROM n
         |WHERE nid < 50 ORDER BY name""".stripMargin,
    // —— ML: survival feature frame (exact) + accuracy-beats-majority flag
    // (the rq12 tolerance-judgment trick — a degenerate model flips it). ——
    "ml_survival" ->
      s"""WITH $nodesCte, $personEdgesUndirCte,
         |d AS (SELECT src,
         |  CAST(sum(CASE WHEN relType = 'FRIEND_OF' THEN 1 ELSE 0 END) AS BIGINT) AS friends_count,
         |  CAST(sum(CASE WHEN relType = 'ENEMY_OF' THEN 1 ELSE 0 END) AS BIGINT) AS enemy_count,
         |  CAST(sum(CASE WHEN relType = 'SAME_FAMILY' THEN 1 ELSE 0 END) AS BIGINT) AS fam_count
         |  FROM pu GROUP BY src)
         |SELECT n.name, CAST(n.acctbal > 0 AS DOUBLE) AS label,
         |  coalesce(friends_count, 0) AS friends_count,
         |  coalesce(enemy_count, 0) AS enemy_count,
         |  coalesce(fam_count, 0) AS fam_count,
         |  true AS acc_beats_majority
         |FROM n LEFT JOIN d ON n.name = d.src
         |WHERE n.nid < 50 ORDER BY n.name""".stripMargin,
    // —— multimodal metadata arithmetic (payload = UTF-8 bytes of text) ——
    "mm_meta" ->
      """SELECT doc_id AS media_id,
        |  (['image', 'audio', 'video'])[CAST(doc_id % 3 + 1 AS INT)] AS format,
        |  CAST(64 + n_chars % 512 AS INT) AS width,
        |  CAST(64 + (n_chars * 7) % 512 AS INT) AS height,
        |  CAST(n_chars // 32 + 1 AS INT) AS n_frames,
        |  octet_length(encode(text)) AS n_bytes
        |FROM documents WHERE doc_id < 100 ORDER BY media_id""".stripMargin,
    "mm_resize" ->
      """SELECT doc_id AS media_id,
        |  (['image', 'audio', 'video'])[CAST(doc_id % 3 + 1 AS INT)] AS format,
        |  CAST(least(64 + n_chars % 512, 256) AS INT) AS width,
        |  CAST(least(64 + (n_chars * 7) % 512, 256) AS INT) AS height
        |FROM documents WHERE doc_id < 100 ORDER BY media_id""".stripMargin,
    // mm_binary_ingest: byte length + md5 of the file contents must
    // equal the source rows — certifies write→list→read→key end to end.
    "mm_binary_ingest" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS length,
        |  md5(text) AS content_md5
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin,
    "mm_frame_counts" ->
      """SELECT doc_id AS media_id,
        |  (['image', 'audio', 'video'])[CAST(doc_id % 3 + 1 AS INT)] AS format,
        |  octet_length(encode(text)) AS n_bytes,
        |  CAST(ceil(ceil(octet_length(encode(text)) / 32.0) / 4.0) AS BIGINT) AS n_sampled
        |FROM documents WHERE doc_id < 50 ORDER BY media_id""".stripMargin,
    // mm_shard_pack: greedy per-format shard packing (4 KiB budget) — the
    // WebDataset-style manifest; same cumulative-sum-before rule as tx_pack.
    "mm_shard_pack" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |  (['image', 'audio', 'video'])[CAST(doc_id % 3 + 1 AS INT)] AS format,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes FROM documents),
        |c AS (SELECT *, sum(n_bytes) OVER (PARTITION BY format ORDER BY media_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_bytes AS cum_before FROM m),
        |s AS (SELECT format, CAST(cum_before // 4096 AS BIGINT) AS shard_id, media_id, n_bytes FROM c)
        |SELECT format, shard_id, count(*) AS n_items, CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
        |  min(media_id) AS first_id, max(media_id) AS last_id
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // mm_phash_neardup: the oracle replays the average-hash construction
    // from the bytes (bin j = sum of bytes at positions ≡ j mod 8, bit j
    // set iff 8·bin > total — integer arithmetic only) and brute-forces
    // the bounded id range; the engine generates candidates via 4-bit
    // half-key banding, never all-pairs.
    "mm_phash_neardup" ->
      """WITH bins AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(0, 7), j ->
        |      coalesce(list_sum(list_transform(generate_series(1, length(text)),
        |        i -> CASE WHEN (i - 1) % 8 = j THEN unicode(text[i]) ELSE 0 END)), 0)) AS b
        |  FROM documents WHERE doc_id < 300),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(generate_series(0, 7), j ->
        |      CASE WHEN 8 * b[j + 1] > list_sum(b) THEN 1 << j ELSE 0 END)) AS BIGINT) AS sig
        |  FROM bins)
        |SELECT a.doc_id AS id_a, b2.doc_id AS id_b, a.sig AS sig_a, b2.sig AS sig_b,
        |  CAST(bit_count(xor(a.sig, b2.sig)) AS BIGINT) AS hamming
        |FROM sig a JOIN sig b2 ON a.doc_id < b2.doc_id
        |WHERE bit_count(xor(a.sig, b2.sig)) <= 1
        |ORDER BY id_a, id_b""".stripMargin,
    // The stub decoder bins raw byte values by position % 8 (exact in
    // float32 below 2²⁴): feat_sum is the total byte sum, feat0 the sum of
    // bytes at positions ≡ 0 (mod 8). The corpus text is pure ASCII
    // (verified: octet_length(encode(text)) = length(text) on every row at
    // every sf), so byte i is unicode(text[i+1]).
    "mm_features" ->
      """SELECT doc_id AS media_id,
        |  (['image', 'audio', 'video'])[CAST(doc_id % 3 + 1 AS INT)] AS format,
        |  CAST(coalesce(list_sum(list_transform(generate_series(1, length(text)),
        |    i -> unicode(text[i]))), 0) AS BIGINT) AS feat_sum,
        |  CAST(coalesce(list_sum(list_transform(generate_series(1, length(text)),
        |    i -> CASE WHEN (i - 1) % 8 = 0 THEN unicode(text[i]) ELSE 0 END)), 0) AS BIGINT) AS feat0
        |FROM documents WHERE doc_id < 100 ORDER BY media_id""".stripMargin,
    // mm_clip_filter: the two-tower pairing + cosine replayed with the
    // same fold order, dropped to integer micros via floor on both sides
    // (floor-then-cast: Spark CAST truncates, DuckDB rounds).
    "mm_clip_filter" ->
      s"""WITH $embCte,
         |p AS (
         |  SELECT i.vec_id // 2 AS pair_id, i.label,
         |    CAST(floor(list_sum(list_transform(generate_series(1, len(i.v)),
         |        k -> i.v[k] * c.v[k])) / (i.nrm * c.nrm) * 1000000)
         |      AS BIGINT) AS clip_micro
         |  FROM ne i JOIN ne c ON c.vec_id = i.vec_id + 1
         |  WHERE i.vec_id % 2 = 0),
         |g AS (
         |  SELECT label, CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(sum(CASE WHEN clip_micro >= 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_kept,
         |    CAST(coalesce(sum(CASE WHEN clip_micro >= 0 THEN clip_micro END), 0)
         |      AS BIGINT) AS kept_clip_micro_sum,
         |    CAST(max(clip_micro) AS BIGINT) AS max_clip_micro
         |  FROM p GROUP BY label)
         |SELECT label, n_pairs, n_kept, kept_clip_micro_sum, max_clip_micro,
         |  n_kept * 1000000 // n_pairs AS kept_ppm
         |FROM g ORDER BY label""".stripMargin,
    // mm_vad_segments: framing, energy gate, and both run-length scans
    // replayed with the identical integer recurrences (the max-run fold
    // encodes (current, best) as cur·10⁵ + best in one BIGINT).
    "mm_vad_segments" ->
      """WITH d AS (
        |  SELECT doc_id AS media_id,
        |    (['image', 'audio', 'video'])[CAST(doc_id % 3 + 1 AS INT)] AS format,
        |    text, CAST(ceil(length(text) / 32.0) AS INT) AS nf
        |  FROM documents WHERE doc_id < 100 AND length(text) > 0),
        |a AS (
        |  SELECT media_id, format, nf,
        |    list_transform(generate_series(1, nf), j ->
        |      CASE WHEN list_sum(list_transform(
        |          generate_series((j - 1) * 32 + 1, least(j * 32, length(text))),
        |          i -> unicode(text[i]))) >= 2560
        |      THEN 1 ELSE 0 END) AS acts
        |  FROM d)
        |SELECT media_id, format, CAST(nf AS BIGINT) AS n_frames,
        |  CAST(coalesce(list_sum(acts), 0) AS BIGINT) AS n_active,
        |  CAST(coalesce(list_sum(list_transform(generate_series(1, nf), i ->
        |    acts[i] * (1 - CASE WHEN i = 1 THEN 0 ELSE acts[i - 1] END))), 0)
        |    AS BIGINT) AS n_segments,
        |  CAST(list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(acts, x -> CAST(x AS BIGINT))),
        |    (acc, x) -> CASE WHEN x = 1
        |      THEN ((acc // 100000) + 1) * 100000
        |         + greatest(acc % 100000, (acc // 100000) + 1)
        |      ELSE acc % 100000 END) % 100000 AS BIGINT) AS max_run
        |FROM a ORDER BY media_id""".stripMargin,
  )

  /** Shared embeddings-with-norm CTE (doubles BEFORE any arithmetic). */
  private val embCte: String =
    """e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |ne AS (SELECT vec_id, label, v,
      |  sqrt(list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * v[i]))) AS nrm
      |FROM e)""".stripMargin

  /** Shared CTE chain ending in `pairs` (word-3-gram Jaccard pair stats). */
  private val ngramPairStatsCtes: String =
    """toks AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
      |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles FROM toks),
      |ex AS (SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh),
      |pairs AS (
      |  SELECT a.doc_id AS src_id, b.doc_id AS dst_id, count(*) AS common,
      |         any_value(a.n) AS na, any_value(b.n) AS nb
      |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** Word-3-gram Jaccard pair SQL at a threshold — the oracle for both the
    * exact inverted-index dedup and the MinHash+LSH path (whose band
    * recall at J ≥ 0.85 is 1 - (1-0.85²)^8 ≈ 0.9999 and, with fixed
    * deterministic hashes, exact on this corpus — verified at sf0.01). */
  /** Batch-vs-corpus asymmetric near-dup oracle: each src3 doc's best
    * Jaccard >= 0.8 match among non-src3 docs — shared by the batch probe
    * (dd_incremental) and its streaming foreachBatch twin. */
  private val incrementalDedupSql: String =
    """WITH toks AS (
      |  SELECT doc_id, source, string_split_regex(lower(text), '\s+') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id, source, list_distinct(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
      |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles FROM toks),
      |ex AS (SELECT doc_id, source, unnest(shingles) AS s, len(shingles) AS n FROM sh),
      |pairs AS (
      |  SELECT a.doc_id AS doc_id, b.doc_id AS dup_of, count(*) AS common,
      |         any_value(a.n) AS na, any_value(b.n) AS nb
      |  FROM ex a JOIN ex b ON a.s = b.s AND a.source = 'src3' AND b.source <> 'src3'
      |  GROUP BY 1, 2),
      |j AS (SELECT doc_id, dup_of, round(common * 1.0 / (na + nb - common), 4) AS jaccard
      |      FROM pairs WHERE round(common * 1.0 / (na + nb - common), 4) >= 0.8),
      |r AS (SELECT doc_id, dup_of, jaccard,
      |      row_number() OVER (PARTITION BY doc_id ORDER BY jaccard DESC, dup_of) AS rn FROM j)
      |SELECT doc_id, dup_of, jaccard FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin

  private def ngramJaccardSql(threshold: Double): String =
    s"""WITH $ngramPairStatsCtes
       |SELECT src_id, dst_id,
       |       round(common * 1.0 / (na + nb - common), 4) AS jaccard
       |FROM pairs WHERE round(common * 1.0 / (na + nb - common), 4) >= $threshold
       |ORDER BY src_id, dst_id""".stripMargin

  /** Transitive near-dup clustering oracle: recursive min-label propagation
    * over the Jaccard ≥ t pair graph — the exact fixpoint GraphX CC
    * converges to (components labeled by min vertex id). */
  private def dedupClusterSql(threshold: Double): String =
    s"""WITH RECURSIVE $ngramPairStatsCtes,
       |pr AS (SELECT src_id, dst_id FROM pairs
       |       WHERE round(common * 1.0 / (na + nb - common), 4) >= $threshold),
       |e AS (SELECT src_id AS a, dst_id AS b FROM pr
       |      UNION ALL SELECT dst_id, src_id FROM pr),
       |walk(a, m) AS (
       |  SELECT a, a AS m FROM (SELECT DISTINCT a FROM e) t
       |  UNION
       |  SELECT e.a, w.m FROM e JOIN walk w ON e.b = w.a)
       |SELECT a AS doc_id, min(m) AS keep_id, min(m) = a AS is_kept
       |FROM walk GROUP BY a ORDER BY doc_id""".stripMargin
}
