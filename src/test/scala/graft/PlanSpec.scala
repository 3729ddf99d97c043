package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression: the physical plans the 100 TB design depends on,
  * pinned so a refactor that silently loses a pushdown, a broadcast, or an
  * exchange-free join fails CI — results alone would still be correct,
  * which is exactly why the plan needs its own assertions. */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  // Materialize first: under AQE the final plan (and its codegen stage
  // markers, the `*(n)` prefixes) exists only after execution.
  private def plan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("p6 exact lookup pushes the key predicate into the parquet scan") {
    val p = plan(graft.ops.GraphOps.exactLookup(spark, sf, 42))
    assert(p.contains("PushedFilters: [IsNotNull(c_name), EqualTo(c_name,"),
      s"key filter not pushed:\n$p")
  }

  test("rq6 joins dimension tables by broadcast, never shuffling nation") {
    val p = plan(graft.ops.RelOps.revenueByNation(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
  }

  test("rq18 bucketed join runs with no shuffle exchange on either side") {
    val p = plan(graft.ops.RelOps.bucketedRevenueByPriority(spark, sf))
    assert(p.contains("SortMergeJoin"), s"bucketed join not sort-merge:\n$p")
    // The aggregation after the join may exchange on `priority`; the join
    // KEYS must never be re-shuffled — that is what the bucket layout buys.
    assert(!p.contains("Exchange hashpartitioning(o_orderkey") &&
           !p.contains("Exchange hashpartitioning(l_orderkey"),
      s"bucketed sides re-shuffled:\n$p")
  }

  /** `body`'s result and the Spark jobs it started. Listener events are
    * async: the bus is drained before `body` (late events of earlier work
    * are dropped) and after it, each time polling until the job count is
    * stable for 500 ms (bounded at 5 s), instead of hoping one fixed sleep
    * drains the bus on a loaded machine. */
  private def withJobs[T](body: => T): (T, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.add(j.stageInfos.map(_.name).mkString(";"))
        ()
      }
    }
    def settle(): Unit = {
      var last = -1
      var stableMs = 0
      var waited = 0
      while (waited < 5000 && stableMs < 500) {
        Thread.sleep(250); waited += 250
        if (jobs.size == last) stableMs += 250 else { stableMs = 0; last = jobs.size }
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      settle(); jobs.clear()
      val r = body
      settle()
      (r, jobs.toArray.toSeq.map(_.toString))
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("j4 house subgraph: warm build runs no job; prefix prunes node scan and edge buckets") {
    val houses = Seq("BUILDING", "AUTOMOBILE")
    graft.ops.GraphOps.houseSubgraph(spark, sf, houses) // warm: artifact + driver index
    val (df, jobs) = withJobs(graft.ops.GraphOps.houseSubgraph(spark, sf, houses))
    // The prefix comes from the cached driver index and the edges from
    // the build-once artifact: nothing runs before execution.
    assert(jobs.isEmpty,
      s"houseSubgraph ran ${jobs.size} jobs during a warm construction: $jobs")
    // The prefix-name literals are pushed into the node scan…
    val p = plan(df)
    assert(p.contains("PushedFilters: [In(c_name") || p.contains("In(c_name,"),
      s"prefix literals not pushed into the scan:\n$p")
    // …and into the bucketed edges_und scan, whose listing they prune.
    val edgeScans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.tableIdentifier.exists(_.table.contains("edges_und")) => f
    }
    assert(edgeScans.size == 1, s"expected one edges_und scan:\n$p")
    val scan = edgeScans.head
    assert(scan.metadata("PushedFilters").contains("In(src,"), s"src not pushed: ${scan.metadata}")
    val selected = scan.optionalBucketSet.map(_.cardinality()).getOrElse(32)
    assert(selected < 32, s"edges_und scan selected $selected of 32 buckets")
  }

  /** The Winder endpoints' plan: a warm construction runs no job; the
    * only scan is the node table's (no edge artifact); no shuffle join or
    * cross join; the top-k is a TakeOrderedAndProject; execution runs at
    * most `maxJobs` jobs. */
  private def nodeTablePlan(maxJobs: Int)(build: => DataFrame): Unit = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    build.collect() // warm: the driver index
    val (df, built) = withJobs(build)
    assert(built.isEmpty, s"a warm construction ran ${built.size} jobs: $built")
    val (_, ran) = withJobs(df.collect())
    val p = df.queryExecution.executedPlan.toString
    assert(ran.size <= maxJobs, s"execution ran ${ran.size} jobs (at most $maxJobs): $ran\n$p")
    val scans = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.getName).mkString(",")
      case s: SparkPlan if s.nodeName.contains("Scan") && !s.nodeName.contains("LocalTableScan") =>
        s.nodeName
    }
    assert(scans == Seq("customer.parquet"), s"expected the customer scan alone, got $scans:\n$p")
    assert(!p.contains("edges_und"), s"an edge artifact is read:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"shuffle join or cross join:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not TakeOrdered:\n$p")
  }

  test("j1 winder: one node scan, no edge artifact, one job") {
    nodeTablePlan(maxJobs = 1)(graft.ops.GraphOps.winderTopK(spark, sf, SparkEntry.WinderFriends))
  }

  test("j1 depth-2 winder: one node scan, no edge artifact, two jobs at most") {
    nodeTablePlan(maxJobs = 2)(graft.ops.GraphOps.winderDepth2(spark, sf, SparkEntry.WinderFriends))
  }

  test("j1 depth-2 winder: a sparse frontier ACTUALLY prunes hop-2 buckets at runtime") {
    // The flagship friend set's D1 covers ~65% of all nodes (same-house
    // clique data) so its prune admits every bucket; this pins the
    // mechanism with a frontier that hashes into few buckets: handing a
    // 2-id IN to the scan plans ≤2 of the manifest's 32 partitions.
    val dir = graft.core.Graph.personEdgeIds(spark, sf)
    val scan = graft.sources.GraftDataSource.scanOf(dir)
    val all = scan.toBatch.planInputPartitions().length
    scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
      .filter(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.In("src_id", Array[Any](1L, 5L))))
    val pruned = scan.toBatch.planInputPartitions().length
    assert(all == 32, s"id index should hold 32 buckets, had $all")
    assert(pruned <= 2, s"2-id runtime filter planned $pruned of $all buckets")
  }

  test("rq1 aggregates inside whole-stage codegen (no UDF breaks the span)") {
    val p = plan(graft.ops.RelOps.pricingSummary(spark, sf))
    assert(p.contains("*(1)"), s"no codegen span:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"interpreted UDF in the hot path:\n$p")
  }

  test("tx_tokens text pipeline stays codegen'd end-to-end") {
    val p = plan(graft.ops.TextOps.tokenCounts(spark, sf))
    assert(p.contains("*(1)") && !p.contains("ScalaUDF"),
      s"text ops fell out of codegen:\n$p")
  }

  test("rq32 sweep-line: the only single-partition window runs over per-day rows") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = graft.ops.RelOps.maxConcurrency(spark, sf)
    // sparkPlan, not executedPlan: AQE's adaptive wrapper hides children
    // from collect(), and window partitioning is decided before AQE anyway
    val windows = df.queryExecution.sparkPlan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    val unpartitioned = windows.filter(_.partitionSpec.isEmpty)
    // exactly ONE unpartitioned window — the carry scan over the tiny
    // one-row-per-day table; every other window is partitioned (parallel)
    assert(unpartitioned.length == 1,
      s"expected exactly one day-level carry window, got ${unpartitioned.length}")
    assert(windows.exists(_.partitionSpec.nonEmpty),
      "the within-day running total must be a partitioned window")
  }

  test("mm_shard_pack packs with a per-format partitioned window only") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = graft.ops.MultimodalOps.shardManifest(spark, sf)
    val windows = df.queryExecution.sparkPlan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "shard packing must never run a global (single-partition) window")
  }

  test("tx_chunk is shuffle-free up to the presentation sort") {
    val p = plan(graft.ops.TextOps.chunkDocuments(spark, sf))
    // Chunking itself is narrow (split/sequence/explode/slice in one
    // codegen span); the only exchange allowed is the final orderBy's
    // range partitioning — a hash exchange would mean a grouping crept in.
    assert(!p.contains("Exchange hashpartitioning"), s"unexpected shuffle:\n$p")
    // the whole scan→split→explode→slice→md5 pipeline is ONE codegen span
    assert(p.contains("*(1) Project") && p.contains("*(1) Generate"),
      s"chunk pipeline not codegen'd:\n$p")
  }

  test("rq33 decay aggregates with map-side partial sums and a broadcast max") {
    val p = plan(graft.ops.RelOps.halfLifeDecay(spark, sf))
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"no partial aggregation:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"global max not broadcast:\n$p")
  }

  test("s1 scan reads only the projected columns (pruned ReadSchema)") {
    // The person card drops the nid column: c_custkey must be pruned out
    // of the parquet ReadSchema even though Graph.nodes selects it.
    val p = plan(graft.ops.GraphOps.scanPersons(spark, sf))
    val rs = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(rs.nonEmpty && !rs.contains("c_custkey"),
      s"scan reads unprojected columns:\n$rs")
  }

  test("rq34/rq35 windows are all user-partitioned (no global sort state)") {
    import org.apache.spark.sql.execution.window.WindowExec
    for (df <- Seq(graft.ops.RelOps.streaks(spark, sf),
                   graft.ops.RelOps.forwardFill(spark, sf))) {
      val ws = df.queryExecution.sparkPlan.collect { case w: WindowExec => w }
      assert(ws.nonEmpty)
      assert(ws.forall(_.partitionSpec.nonEmpty),
        "gaps-and-islands / forward-fill must never run an unpartitioned window")
    }
  }

  test("rq36 MAD broadcasts both 5-row median tables, never shuffling events") {
    val p = plan(graft.ops.RelOps.madOutliers(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"median tables not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"events shuffled for a 5-row join:\n$p")
  }

  test("rq41 incremental agg scans raw events once (delta only), base from the artifact") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = graft.ops.RelOps.incrementalAgg(spark, sf)
    df.collect() // ensure the artifact exists before inspecting the plan
    val scans = graft.ops.RelOps.incrementalAgg(spark, sf)
      .queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec => f.relation.location.rootPaths.mkString
      }
    val rawScans = scans.filter(_.contains("events.parquet"))
    assert(rawScans.size == 1, s"history must come from the artifact, not a rescan: $scans")
    assert(scans.exists(_.contains("events_daily_agg")), s"base artifact not read: $scans")
  }

  test("fn_stat_suite is one scan with partial-combinable moment aggregates") {
    val p = graft.ops.ScalarSuites.statSuite(spark, sf).queryExecution.sparkPlan.toString
    assert(p.contains("partial_corr"), s"moments not partially aggregated:\n$p")
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1,
      s"stat suite should read lineitem exactly once:\n$p")
  }

  test("sim_quantize_int8 ranks from the codes artifact; floats only in the k-row re-rank") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, TakeOrderedAndProjectExec}
    graft.ops.SimilarityOps.quantizedTopK(spark, sf).collect() // artifact exists
    val p = graft.ops.SimilarityOps.quantizedTopK(spark, sf).queryExecution.sparkPlan
    val topk = p.collect { case t: TakeOrderedAndProjectExec => t }
    assert(topk.size == 1, s"expected exactly the shortlist TakeOrderedAndProject:\n$p")
    val rankScans = topk.head.collect {
      case f: FileSourceScanExec => f.relation.location.rootPaths.mkString
    }
    assert(rankScans.nonEmpty && rankScans.forall(_.contains("int8_codes")),
      s"ranking sweep must scan only the int8 artifact, not the float corpus: $rankScans")
  }

  test("rq45 scd2: one hash exchange on o_custkey serves all three window/agg steps") {
    // executedPlan, not sparkPlan: exchanges are inserted by
    // EnsureRequirements at execution time.
    val p = plan(graft.ops.RelOps.scd2(spark, sf))
    // The AQE string repeats the tree under "== Initial Plan ==" — count
    // only the final plan section.
    val finalSection = p.split("== Initial Plan ==")(0)
    val hashEx = finalSection.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1,
      s"change-mark window, run collapse, and validity window must share one exchange:\n$p")
  }

  test("rq62 attribution: both touch models ride ONE user_id exchange + one events scan") {
    // The naive design is a time-range self-join (touches × conversions);
    // this plan must stay a single window pass — one shuffle on user_id
    // for the window, one tiny exchange for the model×channel rollup, and
    // exactly one scan of the events table.
    val p = plan(graft.ops.RelOps.attribution(spark, sf))
    val finalSection = p.split("== Initial Plan ==")(0)
    val userEx = finalSection.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(user_id"))
    assert(userEx == 1, s"expected one user_id exchange:\n$p")
    val scans = finalSection.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("events.parquet"))
    assert(scans == 1, s"expected one events scan, got $scans:\n$p")
  }

  test("rq63 sequence match: per-user motif counts from one exchange, regex codegen'd") {
    val p = plan(graft.ops.RelOps.sequenceMatch(spark, sf))
    val finalSection = p.split("== Initial Plan ==")(0)
    val hashEx = finalSection.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"collect + sort + regex must be key-local after one exchange:\n$p")
    // The motif scan must never become a per-pattern self-join over events.
    assert(!finalSection.contains("Join"), s"sequence scan degenerated to a join:\n$p")
  }

  test("rq67 keyset pagination: bounded top-k heaps, never a global sort or range exchange") {
    val p = plan(graft.ops.RelOps.keysetPage(spark, sf))
    val finalSection = p.split("== Initial Plan ==")(0)
    assert(finalSection.contains("TakeOrderedAndProject"),
      s"page fetch must be a bounded top-k:\n$p")
    assert(!finalSection.contains("Exchange rangepartitioning") &&
           !finalSection.contains("Sort ["),
      s"keyset page degenerated to a global sort:\n$p")
  }

  test("rq87 semi-additive: query plan never re-scans events, windows partitioned by user") {
    val p = plan(graft.ops.RelOps.semiAdditiveBalance(spark, sf))
    val finalSection = p.split("== Initial Plan ==")(0)
    // The corpus collapse materializes once (localCheckpoint); the query
    // plan itself must read ONLY the collapsed (user, week) domain — an
    // events FileScan here means the collapse is being re-derived.
    assert(!finalSection.contains("events.parquet"),
      s"query plan re-scans raw events:\n$p")
    assert(finalSection.contains("windowspecdefinition(user_id"),
      s"carry-forward window lost its user partitioning:\n$p")
  }

  test("tx_chat_template: one documents scan, no exchange before the presentation sort") {
    val p = plan(graft.ops.TextOps.chatTemplate(spark, sf))
    val finalSection = p.split("== Initial Plan ==")(0)
    assert(finalSection.linesIterator.count(_.contains("FileScan parquet")) == 1,
      s"template rendering must be one scan:\n$p")
    assert(!finalSection.contains("Exchange hashpartitioning"),
      s"map-only projection grew a shuffle:\n$p")
  }

  test("dd_cdc_chunk: census is agg-only — no join anywhere in the plan") {
    val p = plan(graft.ops.TextOps.cdcChunkDedup(spark, sf))
    val finalSection = p.split("== Initial Plan ==")(0)
    assert(!finalSection.toLowerCase.contains("join"),
      s"shared-chunk census must not pair-join:\n$p")
  }

  test("rq65 join IVM: the fact table is scanned once (delta only), base view read from artifact") {
    val p = plan(graft.ops.RelOps.ivmJoin(spark, sf))
    val finalSection = p.split("== Initial Plan ==")(0)
    val orderScans = finalSection.linesIterator.filter(l =>
      l.contains("FileScan parquet") && l.contains("orders.parquet")).toSeq
    assert(orderScans.size == 1,
      s"expected one orders scan (the delta), got ${orderScans.size}:\n$p")
    // The delta predicate must reach that scan — refresh cost is O(delta).
    assert(orderScans.head.contains("PushedFilters") &&
           orderScans.head.contains("o_custkey"),
      s"delta filter not pushed into the fact scan:\n$p")
    assert(finalSection.contains("orders_cust_join_base"),
      s"base view not served from the artifact:\n$p")
  }

  test("s22 bloom skip: candidates ≪ partitions, probe scan partition-pruned on pb") {
    // The sidecar must shortlist the single true partition plus at most a
    // few false positives (fp ≈ 0.02² at the largest local fill ratio).
    val cands = graft.sources.BloomSkipIndex.candidates(spark, sf, 7L)
    assert(cands.nonEmpty && cands.size <= 4,
      s"bloom shortlist degenerated: ${cands.size} of ${graft.sources.BloomSkipIndex.Partitions}")
    val p = plan(graft.sources.BloomSkipIndex.pointLookup(spark, sf))
    val finalSection = p.split("== Initial Plan ==")(0)
    val prunedScan = finalSection.linesIterator.exists(l =>
      l.contains("orders_bloom_layout") && l.contains("PartitionFilters") &&
        l.contains("pb#"))
    assert(prunedScan, s"layout scan not partition-pruned on pb:\n$p")
    // The original orders table is never consulted on the probe path.
    assert(!finalSection.contains("orders.parquet"),
      s"probe fell back to the unindexed table:\n$p")

    // Driver-side probe hashing equals the executor-side build hash
    // bit-for-bit (the bloom soundness precondition — same guard the LSH
    // key derivation carries): positionsOf evaluates Catalyst's XxHash64
    // on the driver; the sidecar build evaluates functions.xxhash64 in
    // executors. Any drift would silently mis-prune.
    val sample = Seq(1L, 7L, 999L, 123456789L, -5L)
    val viaSpark = sample.map { k =>
      val r = spark.range(1).select(
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.xxhash64(
            org.apache.spark.sql.functions.lit(k)),
          org.apache.spark.sql.functions.lit(graft.sources.BloomSkipIndex.Bits)),
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.xxhash64(
            org.apache.spark.sql.functions.lit(1),
            org.apache.spark.sql.functions.lit(k)),
          org.apache.spark.sql.functions.lit(graft.sources.BloomSkipIndex.Bits)))
        .head()
      Seq(r.getLong(0), r.getLong(1))
    }
    assert(sample.map(graft.sources.BloomSkipIndex.positionsOf) == viaSpark,
      "driver-side probe positions diverged from the executor-side build hash")

    // WARM probe budget: zero Spark jobs before the pruned scan — the
    // candidate selection is driver arithmetic over the cached sidecar
    // (the first probe above already paid the one-time load).
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobCount = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobCount.incrementAndGet()
    }
    Thread.sleep(500) // drain in-flight listener events from prior work
    spark.sparkContext.addSparkListener(l)
    try {
      val warm = graft.sources.BloomSkipIndex.candidates(spark, sf, 34L)
      assert(warm.size <= 4, s"warm probe degenerated: ${warm.size}")
      // Listener events post asynchronously; a job started during the
      // probe surfaces well within this window.
      Thread.sleep(1000)
      assert(jobCount.get() == 0,
        s"warm bloom probe ran ${jobCount.get()} Spark jobs — candidate " +
          "selection must be pure driver metadata work")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("tx_bm25 probes the postings index with listing-level bucket pruning, no corpus scan") {
    val p = plan(graft.ops.TextOps.bm25TopK(spark, sf))
    val finalSection = p.split("== Initial Plan ==")(0)
    // The query path must touch only index artifacts — scoring never
    // re-reads or re-tokenizes the documents table.
    assert(!finalSection.contains("documents.parquet"),
      s"BM25 query path scanned the corpus:\n$p")
    // The postings scan carries the term-bucket partition predicate, so
    // the file listing is pruned to the query terms' tb= directories.
    val prunedScan = finalSection.linesIterator.exists(l =>
      l.contains("bm25_postings") && l.contains("PartitionFilters") &&
        l.contains("tb#"))
    assert(prunedScan, s"postings scan not partition-pruned on tb:\n$p")
  }

  test("tx_lm_score scores the batch against frozen LM artifacts — corpus never re-read") {
    val p = plan(graft.ops.TextOps.lmScoreBatch(spark, sf))
    val finalSection = p.split("== Initial Plan ==")(0)
    val docScans = finalSection.linesIterator.filter(l =>
      l.contains("FileScan parquet") && l.contains("documents.parquet")).toSeq
    assert(docScans.size == 1, s"expected one documents scan (the batch):\n$p")
    assert(docScans.head.contains("EqualTo(source,src3)"),
      s"batch filter not pushed — the scan would read the training corpus:\n$p")
    assert(finalSection.contains("lm_bigrams_ex_src3"),
      s"LM not served from the artifact:\n$p")
  }

  test("tx_weighted_sample is one scan into bounded heaps — no shuffle, no global sort") {
    val p = plan(graft.ops.TextOps.weightedSample(spark, sf))
    val finalSection = p.split("== Initial Plan ==")(0)
    assert(finalSection.contains("TakeOrderedAndProject"),
      s"A-ES top-k must run as TakeOrderedAndProject:\n$p")
    assert(!finalSection.contains("Exchange hashpartitioning"),
      s"weighted sampling must not shuffle:\n$p")
  }

  test("tx_pipeline chains curate→mix→pack over two corpus scans, no per-stage rescan") {
    // One scan for the document side + one for the exact-dup keeper agg
    // (inherent to dedup); a third would mean a later stage re-read the
    // table instead of transforming the previous stage's frame.
    val p = graft.ops.TextOps.pipelineE2E(spark, sf).queryExecution.sparkPlan.toString
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("documents.parquet"))
    assert(scans == 2, s"expected exactly 2 documents scans, got $scans:\n$p")
  }

  test("rq52 quality checks run as ONE scan + one aggregate (no per-check rescan)") {
    val p = graft.ops.RelOps.qualityChecks(spark, sf).queryExecution.sparkPlan.toString
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1,
      s"five checks must share one orders scan:\n$p")
  }

  test("rq51 bitmap words aggregate with a map-side partial bit_or") {
    val p = graft.ops.RelOps.bitmapIntersect(spark, sf).queryExecution.sparkPlan.toString
    assert(p.contains("partial_bit_or"), s"bitmap bit_or not partially aggregated:\n$p")
  }

  test("rq53 skyline joins the tiny frontier back via broadcast, never shuffling parts") {
    val p = graft.ops.RelOps.skyline(spark, sf).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"frontier must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no shuffled join on the parts side:\n$p")
  }

  test("rq54 rolling DAU fans out against a BROADCAST day spine (bounded NLJ)") {
    val p = graft.ops.RelOps.rollingActiveUsers(spark, sf).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"), s"day spine must broadcast:\n$p")
  }

  test("tx_dsir scans documents exactly twice (count pass + scored slice)") {
    val p = graft.ops.TextOps.dsirScore(spark, sf).queryExecution.sparkPlan.toString
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 2,
      s"bucket counts must not re-derive per consumer:\n$p")
  }

  test("rq60 native top-k: partial+final heap execs, one exchange, no WindowExec sort") {
    val p = graft.ops.RelOps.nativeTopK(spark, sf).queryExecution.executedPlan.toString
    assert("TopKPerGroup \\[".r.findAllIn(p).size == 2,
      s"partial AND final heap passes must plan:\n$p")
    assert(p.contains("Exchange hashpartitioning"),
      s"final pass demands key clustering:\n$p")
    assert(!p.contains("Window"), s"no per-group full sort:\n$p")
  }

  test("rq59 HLL partials: sketches come from the artifact, events scanned once (exact side)") {
    val plan = graft.ops.RelOps.hllPartials(spark, sf).queryExecution.sparkPlan.toString
    val scans = plan.linesIterator.filter(_.contains("FileScan parquet")).toSeq
    assert(scans.exists(_.contains("events_daily_hll")), s"sketch side must probe the artifact:\n$plan")
    assert(scans.count(_.contains("events.parquet")) == 1,
      s"raw events only for the exact certification side:\n$plan")
  }

  test("rq58 MV rewrite: daily grain served from the MV artifact, raw events untouched") {
    val p = graft.plans.MvRewrite.mvRewriteDaily(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains(graft.plans.MvRewrite.MvName), s"must scan the MV:\n$p")
    assert(!p.contains("events.parquet"), s"raw events must not be scanned:\n$p")
  }

  test("rq58 MV rewrite: derived roll-ups rewrite too and match the raw plan") {
    import org.apache.spark.sql.functions._
    graft.plans.MvRewrite.install(spark, sf)
    def rollup() = graft.core.Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum((col("value").cast("decimal(18,6)") * 1000000).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("sum_micro"))
      .orderBy("event_type")
    val rewritten = rollup()
    assert(rewritten.queryExecution.executedPlan.toString
      .contains(graft.plans.MvRewrite.MvName), "event_type rollup must merge from the MV")
    val got = rewritten.collect().map(_.toString)
    val raw = graft.plans.MvRewrite.suppressed { rollup().collect().map(_.toString) }
    assert(got.sameElements(raw), "rollup-from-MV must equal the raw recompute")
  }

  test("rq58 MV rewrite: a filtered query must NOT rewrite") {
    import org.apache.spark.sql.functions._
    graft.plans.MvRewrite.install(spark, sf)
    val p = graft.core.Tables.events(spark, sf)
      .filter(col("user_id") >= 0)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .queryExecution.executedPlan.toString
    assert(p.contains("events.parquet"), s"filter changes semantics — no rewrite:\n$p")
    assert(!p.contains(graft.plans.MvRewrite.MvName))
  }

  test("sim_batch_topk broadcasts the query block and ranks per query") {
    import org.apache.spark.sql.execution.window.WindowExec
    val p = graft.ops.SimilarityOps.batchTopK(spark, sf).queryExecution.sparkPlan
    assert(p.toString.contains("BroadcastNestedLoopJoin"),
      s"query block not broadcast:\n$p")
    val ws = p.collect { case w: WindowExec => w }
    assert(ws.nonEmpty && ws.forall(_.partitionSpec.nonEmpty),
      "per-query rank must partition on qid")
  }

  // Occurrence COUNTS must see the final plan only: under AQE the tree
  // string repeats every operator in its "== Initial Plan ==" tail.
  private def finalPlan(df: DataFrame): String = {
    val p = plan(df)
    val cut = p.indexOf("== Initial Plan ==")
    if (cut >= 0) p.substring(0, cut) else p
  }

  test("rq69 sweep line: ONE user_id exchange serves both windows and both aggregates") {
    val p = finalPlan(graft.ops.RelOps.intervalUnion(spark, sf))
    val nHash = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(nHash == 1, s"expected exactly 1 hash exchange, got $nHash:\n$p")
    assert(p.contains("hashpartitioning(user_id"), s"not keyed on user_id:\n$p")
  }

  test("rq68 PIT join: facts side broadcasts the order keys, lineitem never key-shuffled") {
    val p = plan(graft.ops.RelOps.pitJoin(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"fact enrichment not broadcast:\n$p")
    assert(!p.contains("hashpartitioning(l_orderkey"),
      s"lineitem re-shuffled on its join key — version fan-out shape crept back:\n$p")
  }

  test("rq70 cumulative distinct: the only unpartitioned window runs over DAYS, not events") {
    val p = finalPlan(graft.ops.RelOps.cumulativeDistinct(spark, sf))
    val nWin = "Window".r.findAllIn(p).size
    assert(nWin == 1, s"expected one window, got $nWin:\n$p")
    // The running-sum window must consume the per-day aggregate (bounded
    // by calendar size), never the raw event stream: an aggregation sits
    // between the window and the scan.
    val seg = p.substring(p.indexOf("Window"))
    assert(seg.contains("HashAggregate"),
      s"window consumes raw events, not the day aggregate:\n$p")
  }

  test("rq71 geo join: cell-key equi-join, no cartesian product, no broadcast NLJ") {
    val p = finalPlan(graft.ops.RelOps.geoGridJoin(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"grid join degenerated to all-pairs:\n$p")
    // The join must key on the cell ids (jx/jy against cx/cy), so cells —
    // not point pairs — are the shuffle unit.
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi-join on cell keys:\n$p")
  }

  test("rq72/rq80 fused rank probes: pushed OR-range filter, broadcast tag join, one window") {
    val p = finalPlan(graft.ops.RelOps.kthProbesDf(spark, sf, Seq(
      (10L, 100000L, 200000L, 7), (20L, 400000L, 500000L, 3))))
    // The range disjunction reaches the parquet scan (min/max prunable on
    // the raw decimal column), every residual row tags its probe via a
    // BROADCAST join against the ≤6-row probe table, and ONE partitioned
    // window ranks all probes together — no per-rank serial jobs.
    assert(p.contains("Or(And(GreaterThanOrEqual(l_extendedprice") ||
      (p.contains("GreaterThanOrEqual(l_extendedprice") && p.contains("Or(")),
      s"range disjunction did not reach the parquet scan:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probe tagging not a broadcast join:\n$p")
    assert("Window".r.findAllIn(p).length >= 1, s"no rank window:\n$p")
  }

  test("rq80 percentile_cont runs a bounded number of queries (fused probes, not serial)") {
    // One driver round trip = one SQL execution id, however many jobs AQE
    // stages it into. bounds + histogram + the ONE fused probe + this
    // test's own final collect = 4; the r13 shape ran up to 6 serial probe
    // executions on top — this pins the fusion.
    val execs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val id = js.properties.getProperty("spark.sql.execution.id")
        if (id != null) execs.add(id)
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      graft.ops.RelOps.percentileCont(spark, sf).collect()
      // listener events are async — give the bus a beat to drain
      Thread.sleep(500)
      assert(execs.size <= 4,
        s"percentileCont ran ${execs.size} queries — probe fusion regressed")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("rq73 KMV: both sketch builds run on the native bounded-heap operator, no WindowExec") {
    val p = finalPlan(graft.ops.RelOps.kmvJaccard(spark, sf))
    val nHeap = "TopKPerGroup".r.findAllIn(p).size
    // Two logical top-k sites (per-day sketch, per-pair union re-sketch),
    // each planned as partial+final heap execs = 4 operator nodes.
    assert(nHeap >= 4, s"expected both sketches on the native heap, got $nHeap:\n$p")
    assert(!p.contains("WindowExec"),
      s"a rank window crept into the sketch path:\n$p")
  }

  test("rq75 group median: ranking window consumes only the broadcast-pruned bucket slice") {
    val p = finalPlan(graft.ops.RelOps.groupMedian(spark, sf))
    // The per-group rank must run AFTER the bucket-range filter join —
    // i.e. a BroadcastHashJoin feeds the Window, so only ~n/64k rows are
    // ever sorted per group, never the whole group.
    val wi = p.indexOf("Window")
    assert(wi >= 0 && p.indexOf("BroadcastHashJoin", wi) >= 0,
      s"rank window not fed by the broadcast bucket spec:\n$p")
  }

  test("ml_stump: split search is one scan + one bounded-domain window") {
    val p = finalPlan(graft.functions.MlOps.decisionStump(spark, sf))
    val nScan = "Scan parquet".r.findAllIn(p).size
    assert(nScan == 1, s"expected 1 documents scan, got $nScan:\n$p")
    // The window input is the per-length aggregate (bounded by the value
    // domain), never raw documents.
    val seg = p.substring(p.indexOf("Window"))
    assert(seg.contains("HashAggregate"),
      s"window consumes raw rows, not the value-domain aggregate:\n$p")
  }

  test("ml_covariance: one corpus scan into a single-partition sufficient-stats aggregate") {
    val p = finalPlan(graft.functions.MlOps.covarianceMatrix(spark, sf))
    val nScan = "Scan parquet".r.findAllIn(p).size
    assert(nScan == 1, s"expected 1 scan, got $nScan:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"covariance must not key-shuffle the corpus:\n$p")
  }

  test("ml_naive_bayes: per-class top-k uses WindowGroupLimit, totals join by broadcast") {
    val p = plan(graft.functions.MlOps.naiveBayes(spark, sf))
    assert(p.contains("WindowGroupLimit"),
      s"rank filter not pushed into the window sort:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"tiny totals not broadcast:\n$p")
  }

  test("rq97: SQL UDFs are inlined expression templates — no UDF node survives the plan") {
    // The whole point of CREATE FUNCTION ... RETURN <expr> over a JVM/
    // Python UDF: Catalyst resolves the body into the plan, so codegen,
    // pushdown and partial aggregation all apply. A UDF invocation node
    // in the physical plan means the inlining contract broke.
    val p = plan(graft.ops.SqlSurface.sqlScalarUdfs(spark, sf))
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      s"SQL UDF not inlined:\n$p")
    assert(p.contains("*(1)"), s"UDF body left codegen:\n$p")
  }

  test("rq98: pipe syntax lowers to the classic plan — filter pushed, HAVING after aggregate") {
    val p = plan(graft.ops.SqlSurface.pipeSyntax(spark, sf))
    // The pre-AGGREGATE WHERE must reach the parquet scan.
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(l_quantity"),
      s"pipe WHERE not pushed to scan:\n$p")
    // One shuffle on the grouping key (partial + final hash aggregate),
    // exactly the classic GROUP BY shape.
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"pipe AGGREGATE lost map-side partials:\n$p")
  }

  test("rq99: GROUP BY ALL lowers to the classic aggregate — pushed filter, partial aggs, no window") {
    val p = plan(graft.ops.SqlSurface.groupByAll(spark, sf))
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(l_quantity"),
      s"WHERE not pushed to scan:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"GROUP BY ALL lost map-side partials:\n$p")
    assert(!p.contains("Window"), s"shorthand must not introduce a window:\n$p")
  }

  test("tx_preference_pairs: one struct-extrema aggregate — no window, partial combine intact") {
    // The election must stay a partial-combinable aggregate; a Window (the
    // oracle's formulation) would materialize per-pool sorts corpus-wide.
    // Spark plans struct-typed extrema via SortAggregate (structs are not
    // hash-aggregation buffer types) — still two-phase partial + final,
    // which is what the 100 TB shape needs.
    val p = plan(graft.ops.TextOps.preferencePairs(spark, sf))
    assert(!p.contains("Window"), s"election regressed to a window:\n$p")
    assert("(Sort|Hash)Aggregate".r.findAllIn(p).size >= 2,
      s"election lost map-side partials:\n$p")
  }

  test("dd_url_dedup: one scan into a hash aggregate — no joins anywhere") {
    // Canonicalization is pure per-row string work; the dedup must keep
    // dd_exact's join-free shape or it stops being a 100 TB pass.
    val p = plan(graft.ops.TextOps.urlDedup(spark, sf))
    assert(!p.contains("Join"), s"URL dedup must not join:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"canonical-key dedup lost map-side partials:\n$p")
  }

  test("tx_grpo_advantage: equi-join on the group key, no window, no nested loop") {
    val p = plan(graft.ops.TextOps.grpoAdvantage(spark, sf))
    assert(!p.contains("Window"), s"advantage must not use a data-sized window:\n$p")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("Cartesian"),
      s"group-stats join must stay an equi-join:\n$p")
  }

  test("rq102_identifier: parameter-bound names resolve to the literal plan — filter pushed") {
    // IDENTIFIER(:p) binds at analysis time; the proof is that the
    // bound key column's predicate reaches the parquet scan exactly as
    // the literal query's would.
    val p = plan(graft.ops.SqlSurface.identifierClause(spark, sf))
    assert(p.contains("PushedFilters") && p.contains("LessThan(l_orderkey"),
      s"bound predicate not pushed to scan:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"bound aggregate lost map-side partials:\n$p")
  }

  test("mm_vad_segments: one map-only projection — no explode, no window, no join") {
    // The run-length scan must stay inside the row (HOF folds): a
    // Generate (per-frame explode) or Window would materialize
    // data-proportional intermediate rows — the dd_cdc_chunk lesson.
    val p = plan(graft.ops.MultimodalOps.vadSegments(spark, sf))
    assert(!p.contains("Generate"), s"frame explode crept in:\n$p")
    assert(!p.contains("Window"), s"run-length scan regressed to a window:\n$p")
    assert(!p.contains("Join"), s"segmentation must not join:\n$p")
  }

  test("rq103_execute_immediate: dynamic text compiles to the literal pushed plan") {
    val p = plan(graft.ops.SqlSurface.executeImmediate(spark, sf))
    assert(p.contains("PushedFilters") && p.contains("LessThan(o_custkey"),
      s"USING-bound predicate not pushed to scan:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"dynamic statement lost map-side partials:\n$p")
  }

  test("mm_clip_filter: two-tower pairing is an equi-join, never all-pairs") {
    val p = plan(graft.ops.MultimodalOps.clipFilter(spark, sf))
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("Cartesian"),
      s"CLIP pairing must be an equi-join on pair_id:\n$p")
    assert(!p.contains("Window"), s"retention stats are one aggregate, no window:\n$p")
  }
}
