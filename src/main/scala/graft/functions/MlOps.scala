package graft.functions

import graft.core.Graph
import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.RandomForestClassifier
import org.apache.spark.ml.feature.{IndexToString, StringIndexer, VectorAssembler}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ML parity surface (SURVEY §2.9, M3): the reference's graph-feature
  * pipeline re-expressed on MLlib.
  *
  *  - A3 `conditional_sum_pivot` (train_fix.py:25-52): the 4-stage
  *    OPTIONAL MATCH pivot collapses into ONE undirected expand +
  *    sum(when(...)) aggregation + left join back onto the person spine —
  *    one shuffle instead of four sequential round trips (SURVEY §3.2).
  *  - U1 feature assembly in a FIXED column order (train_fix.py:71-76) via
  *    VectorAssembler.
  *  - U2 "Sorting Hat": RandomForestClassifier(numTrees=50, maxDepth=5,
  *    seed=42) — the reference's hyperparameters (train_fix.py:88).
  *  - U3 survival pipeline re-authored from the recovered schema
  *    (app.py:162-176): [friends, enemies, family, house_code] with
  *    StringIndexer(handleInvalid="keep") ≅ the Gryffindor fallback.
  */
object MlOps {

  /** Rel types in the reference's pivot order (train_fix.py:23-52). */
  val RelTypes: Seq[String] = Seq("FRIEND_OF", "ENEMY_OF", "SAME_FAMILY", "ROMANTIC_WITH")

  /** House vocabulary in fixed sorted order (≅ train_fix.py:71-76's
    * hand-pinned 16 columns; 4 rel types × 5 segments = 20 features). */
  val Houses: Seq[String] = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  def featureCol(rel: String, house: String): String =
    s"f_${rel.toLowerCase.takeWhile(_ != '_')}_$house"

  val FeatureCols: Seq[String] =
    for { r <- RelTypes; h <- Houses } yield featureCol(r, h)

  /** A3: neighbor-house counts per rel type for every person — the
    * feature-extraction query. Persons with no edges keep all-zero rows
    * (the OPTIONAL MATCH semantics → left join + na.fill(0)). */
  def featurePivot(spark: SparkSession, sfDir: String): DataFrame = {
    val n = Graph.nodes(spark, sfDir)
    val nbrHouse = Graph.personEdgesU(spark, sfDir)
      .join(n.select(col("name").as("dst"), col("house").as("nbr_house")), "dst")
    val aggs = for { r <- RelTypes; h <- Houses } yield
      sum(when(col("relType") === r && col("nbr_house") === h, 1).otherwise(0))
        .as(featureCol(r, h))
    val counts = nbrHouse.groupBy(col("src").as("name")).agg(aggs.head, aggs.tail: _*)
    n.select("nid", "name", "house")
      .join(counts, Seq("name"), "left_outer")
      .na.fill(0, FeatureCols)
  }

  /** Driver entry for the pivot: bounded, ordered, oracle-checkable. */
  def featurePivotSample(spark: SparkSession, sfDir: String, maxNid: Int = 100): DataFrame =
    featurePivot(spark, sfDir)
      .filter(col("nid") < maxNid)
      .drop("nid")
      .orderBy("name")

  /** U1+U2: train the Sorting Hat (house classifier) on the graph features.
    * Returns (fitted pipeline model, feature frame). */
  def trainSortingHat(spark: SparkSession, sfDir: String): (org.apache.spark.ml.PipelineModel, DataFrame) = {
    // The feature frame is |persons| rows but its plan expands every edge
    // clique; RF fit + transform would re-run that expansion once per pass.
    // Materialize the small aggregate once (at 100 TB: a feature table
    // written by the ETL job), in few partitions: tree training runs one
    // job per depth level, and 32 near-empty partitions make each a
    // scheduling round-trip.
    val features = featurePivot(spark, sfDir).coalesce(8).cache()
    val indexer = new StringIndexer().setInputCol("house").setOutputCol("label")
      .setStringOrderType("alphabetAsc") // deterministic label mapping
    val assembler = new VectorAssembler()
      .setInputCols(FeatureCols.toArray).setOutputCol("features")
    val rf = new RandomForestClassifier()
      .setNumTrees(50).setMaxDepth(5).setSeed(42) // train_fix.py:88
      .setLabelCol("label").setFeaturesCol("features")
    val labels = Houses.toArray // alphabetAsc == sorted Houses
    val back = new IndexToString().setInputCol("prediction")
      .setOutputCol("predicted_house").setLabels(labels)
    val model = new Pipeline().setStages(Array(indexer, assembler, rf, back)).fit(features)
    (model, features)
  }

  // ——— ETL artifact layer ———————————————————————————————————————————
  // Training is ETL, prediction is the query. Models and their feature
  // tables are persisted once per scale factor (at 100 TB: a scheduled
  // training job writing to the model registry); the registry query path
  // only loads + transforms. An in-JVM cache avoids re-deserializing the
  // forest on every call within one process.

  private val modelCache =
    scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.ml.PipelineModel]

  /** Load a persisted model, training+persisting it first if absent.
    * `train` must return (model, featureFrame); the feature frame is
    * persisted alongside (features first, then model — model-exists
    * implies features-exist) so the query path never re-expands the graph. */
  private def ensureModel(spark: SparkSession, sfDir: String, name: String,
                          train: => (org.apache.spark.ml.PipelineModel, DataFrame))
      : (org.apache.spark.ml.PipelineModel, DataFrame) = {
    val base = graft.etl.Artifacts.path(sfDir, name)
    val modelPath = s"$base/model"
    val featPath = s"$base/features"
    val model = modelCache.getOrElseUpdate(modelPath, {
      if (!new java.io.File(s"$modelPath/metadata").exists()) {
        val (m, features) = train
        features.write.mode("overwrite").parquet(featPath)
        m.write.overwrite().save(modelPath)
        m
      } else org.apache.spark.ml.PipelineModel.load(modelPath)
    })
    (model, graft.core.FileMeta.parquet(spark, featPath))
  }

  /** ETL entry: train + persist both models (idempotent; driver/bench
    * warmup or a one-off call makes the query path pure load+transform). */
  def buildModels(spark: SparkSession, sfDir: String): Unit = {
    ensureModel(spark, sfDir, "sorting_hat", trainSortingHat(spark, sfDir))
    ensureModel(spark, sfDir, "survival", trainSurvivalModel(spark, sfDir))
    ()
  }

  /** Driver entry: Sorting Hat predictions for a bounded person slice.
    * FRIEND_OF is intra-house by construction, so a depth-5 forest learns
    * house ≈ argmax friend-house count; the spec pins the sanity vector
    * (train_fix.py:95-98 analogue). Model + feature table come from the
    * ETL artifact layer — the query is load + transform only. */
  def sortingHatPredictions(spark: SparkSession, sfDir: String, maxNid: Int = 50): DataFrame = {
    val (model, features) =
      ensureModel(spark, sfDir, "sorting_hat", trainSortingHat(spark, sfDir))
    model.transform(features)
      .filter(col("nid") < maxNid)
      .select(col("name"), col("house"), col("predicted_house"))
      .orderBy("name")
  }

  /** U3: survival classifier from the recovered schema (app.py:162-176):
    * label ≅ "alive" (solvency: acctbal > 0), features = per-type degree
    * counts + indexed house. Returns (fitted model, feature frame). */
  def trainSurvivalModel(spark: SparkSession, sfDir: String)
      : (org.apache.spark.ml.PipelineModel, DataFrame) = {
    val n = Graph.nodes(spark, sfDir)
    // Bucketed artifact: the groupBy(src) below shuffles nothing.
    val deg = Graph.personEdgesU(spark, sfDir)
      .groupBy(col("src").as("name"))
      .agg(
        sum(when(col("relType") === "FRIEND_OF", 1).otherwise(0)).as("friends_count"),
        sum(when(col("relType") === "ENEMY_OF", 1).otherwise(0)).as("enemy_count"),
        sum(when(col("relType") === "SAME_FAMILY", 1).otherwise(0)).as("fam_count"))
    val data = n.select(col("nid"), col("name"), col("house"),
        (col("acctbal") > 0).cast("double").as("label"))
      .join(deg, Seq("name"), "left_outer")
      .na.fill(0, Seq("friends_count", "enemy_count", "fam_count"))
      .coalesce(8) // see trainSortingHat: few partitions for per-level jobs
      .cache() // small aggregate; avoids re-expanding cliques per RF pass
    val indexer = new StringIndexer().setInputCol("house").setOutputCol("house_code")
      .setStringOrderType("alphabetAsc").setHandleInvalid("keep") // ≅ app.py:169-171 fallback
    val assembler = new VectorAssembler()
      .setInputCols(Array("friends_count", "enemy_count", "fam_count", "house_code"))
      .setOutputCol("features")
    val rf = new RandomForestClassifier()
      .setNumTrees(50).setMaxDepth(5).setSeed(42)
      .setLabelCol("label").setFeaturesCol("features")
    val model = new Pipeline().setStages(Array(indexer, assembler, rf)).fit(data)
    (model, data)
  }

  /** The reference's /predict endpoint as ONE dataflow (app.py:41-132):
    * four relationship name-lists → per-list house counts
    * (`get_house_counts`, app.py:58-73) → feature vector in training
    * column order (app.py:85-99) → RF predict → MERGE the user node with
    * the predicted house plus one edge per listed person (app.py:100-132).
    * Output = the user's post-merge subgraph (node row + edge rows).
    *
    * The name lists are deterministic selections that MIRROR a BUILDING
    * member's own neighborhood — all of BUILDING as friends, all of
    * MACHINERY as enemies (exactly the training rows' separable features,
    * whose decision thresholds scale with house size) — so every tree
    * routes the vector to its BUILDING leaf and the closed-form prediction
    * is BUILDING at any scale factor; verified at sf0.001/0.01/0.1. A
    * small fixed-count list would sit below the forest's scale-dependent
    * split thresholds and the prediction would not be closed-form. */
  def predictFlow(spark: SparkSession, sfDir: String): DataFrame = {
    val (model, _) = ensureModel(spark, sfDir, "sorting_hat", trainSortingHat(spark, sfDir))
    val n = Graph.nodes(spark, sfDir)
    val groups = Seq(("FRIEND_OF", "BUILDING", None), ("ENEMY_OF", "MACHINERY", None),
                     ("SAME_FAMILY", "FURNITURE", Some(2)), ("ROMANTIC_WITH", "HOUSEHOLD", Some(1)))
    val members = groups.map { case (rel, house, kOpt) =>
      val base = n.filter(col("house") === house)
      kOpt.fold(base)(k => base.orderBy("nid").limit(k))
        .select(col("name"), lit(rel).as("relType"))
    }.reduce(_ unionByName _)
    // get_house_counts ×4 collapsed into one aggregation over the lists.
    val counts = members.join(n.select("name", "house"), "name")
      .groupBy("relType", "house").agg(count(lit(1)).as("cnt"))
    val aggs = for { r <- RelTypes; h <- Houses } yield
      sum(when(col("relType") === r && col("house") === h, col("cnt")).otherwise(0))
        .as(featureCol(r, h))
    val featureRow = counts.groupBy().agg(aggs.head, aggs.tail: _*)
      .withColumn("house", lit(Houses.head)) // indexer input; ignored by predict
    val user = "User#000000099"
    val nodeRow = model.transform(featureRow)
      .select(lit("node").as("kind"), lit(user).as("a"),
        col("predicted_house").as("b"), lit("PERSON").as("t"))
    val edgeRows = members
      .select(lit("edge").as("kind"), lit(user).as("a"),
        col("name").as("b"), col("relType").as("t"))
    nodeRow.unionByName(edgeRows).orderBy("kind", "t", "b")
  }

  /** Raw per-row survival predictions — spec surface (RF output is not
    * SQL-expressible, so the per-row predictions are ScalaTest-checked). */
  def survivalPredictionRows(spark: SparkSession, sfDir: String, maxNid: Int = 50): DataFrame = {
    val (model, features) =
      ensureModel(spark, sfDir, "survival", trainSurvivalModel(spark, sfDir))
    model.transform(features)
      .filter(col("nid") < maxNid)
      .select(col("name"), col("label"), col("prediction"))
      .orderBy("name")
  }

  /** Driver entry: the survival FEATURE FRAME (exact SQL oracle: label +
    * per-type degree counts) plus `acc_beats_majority` — whether the
    * model's full-training-set accuracy is at least the majority-class
    * share (a degenerate or broken model flips the boolean and fails the
    * hash compare; rq12's tolerance-judgment trick). Model + features come
    * from the ETL artifact layer — load + transform only. */
  def survivalPredictions(spark: SparkSession, sfDir: String, maxNid: Int = 50): DataFrame = {
    val (model, features) =
      ensureModel(spark, sfDir, "survival", trainSurvivalModel(spark, sfDir))
    val scored = model.transform(features)
    val flag = scored.agg(
        avg((col("prediction") === col("label")).cast("double")).as("acc"),
        greatest(avg(col("label")), lit(1.0) - avg(col("label"))).as("maj"))
      .select((col("acc") >= col("maj")).as("acc_beats_majority"))
    scored.filter(col("nid") < maxNid)
      .crossJoin(broadcast(flag))
      .select(col("name"), col("label"), col("friends_count"), col("enemy_count"),
        col("fam_count"), col("acc_beats_majority"))
      .orderBy("name")
  }

  /** Ridge regression trained from SUFFICIENT STATISTICS — the pattern
    * that makes linear-model training a single aggregation at 100 TB: one
    * map-side-combining pass accumulates (n, Σx, Σy, Σxx, Σxy, Σyy) as
    * EXACT decimals (summation-order-free, so the fit is deterministic on
    * any partitioning), and the closed form b = Sxy/(Sxx+λ), a = ȳ−b·x̄
    * solves on the 1-row result. No iterations, no driver-side data, no
    * gradient state — and the same statistics are mergeable across shards
    * or days (rq59's partial-union pattern, applied to model training).
    * Fit: extendedprice ~ quantity over lineitem, λ = 1000. */
  def ridgeClosedForm(spark: SparkSession, sfDir: String): DataFrame =
    graft.core.Tables.lineitem(spark, sfDir)
      .select(col("l_quantity").cast("decimal(18,2)").as("x"),
        col("l_extendedprice").cast("decimal(18,2)").as("y"))
      .agg(
        count(lit(1)).cast("long").as("n"),
        sum(col("x")).cast("decimal(38,2)").cast("double").as("sx"),
        sum(col("y")).cast("decimal(38,2)").cast("double").as("sy"),
        sum((col("x") * col("x")).cast("decimal(38,4)")).cast("double").as("sxx"),
        sum((col("x") * col("y")).cast("decimal(38,4)")).cast("double").as("sxy"),
        sum((col("y") * col("y")).cast("decimal(38,4)")).cast("double").as("syy"))
      .select(col("n"),
        round(expr("(sxy - sx * sy / n) / ((sxx - sx * sx / n) + 1000.0)"), 6)
          .as("slope"),
        round(expr("sy / n - ((sxy - sx * sy / n) / ((sxx - sx * sx / n) + 1000.0)) * (sx / n)"), 2)
          .as("intercept"),
        round(expr(
          "((sxy - sx * sy / n) / ((sxx - sx * sx / n) + 1000.0)) * (sxy - sx * sy / n) / (syy - sy * sy / n)"),
          6).as("r2"))

  /** Multinomial Naive Bayes TRAINING as pure aggregation — the text
    * classifier whose whole fit is counting: P(class) from document
    * counts, P(token|class) from (class, token) counts with Laplace
    * smoothing over the global vocabulary. On Spark that is one
    * explode + two hash aggregations (both map-side combining) plus a
    * broadcast of the per-class totals — no iterations, no driver-side
    * model state, mergeable across shards like any sufficient statistic
    * (the rq59/ml_ridge rule, applied to classification). Emitted per
    * class: the top-3 most likely tokens with their smoothed
    * probability in EXACT integer ppm ((n+1)·10⁶ div (total+V) — no
    * float channel), the class prior in ppm, and the count spine.
    * Fit: language given token, over `documents`. */
  def naiveBayes(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = graft.core.Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"),
        explode(split(lower(col("text")), "\\s+")).as("token"))
      .filter(col("token") =!= "")
    val classTok = toks.groupBy("lang", "token").agg(count(lit(1)).as("n_tok"))
    // Per-class token mass and global vocabulary size: tiny aggregates of
    // the (class, token) frame — broadcast back onto it.
    val classTotals = classTok.groupBy("lang").agg(sum(col("n_tok")).cast("long").as("n_lang"))
    val vocab = classTok.select(countDistinct(col("token")).as("vocab"))
    val priors = graft.core.Tables.documents(spark, sfDir)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("prior_ppm",
        expr("n_docs * 1000000 div sum(n_docs) over ()").cast("long"))
    val w = Window.partitionBy("lang").orderBy(desc("n_tok"), asc("token"))
    classTok
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .join(broadcast(classTotals), Seq("lang"))
      .crossJoin(broadcast(vocab))
      .join(broadcast(priors.select(col("lang"), col("prior_ppm"))), Seq("lang"))
      .select(col("lang"), col("rk").cast("long").as("rk"), col("token"),
        col("n_tok"), col("n_lang"),
        expr("(n_tok + 1) * 1000000 div (n_lang + vocab)").as("prob_ppm"),
        col("prior_ppm"))
      .orderBy("lang", "rk")
  }

  /** Covariance matrix in ONE pass — the PCA front end: every pairwise
    * covariance of the first `d` embedding dimensions from a single
    * map-side-combining aggregate of sufficient statistics (n, Σqᵢ,
    * Σqᵢqⱼ), then the closed form (n·Σqᵢqⱼ − Σqᵢ·Σqⱼ)/n² unpivoted to
    * long form. Dimensions are quantized to integer micros FIRST, so
    * every sum is exact (decimal(38,0) accumulation — order-free on any
    * partitioning, overflow-safe to ~10³⁸ micro² mass ≈ 10²⁶ rows) and
    * the output is deterministic BIGINT micro² — no float summation
    * channel anywhere. O(d²) aggregation state per partition, one
    * 1-row exchange, O(d²) output — the corpus is scanned exactly once
    * regardless of scale. */
  def covarianceMatrix(spark: SparkSession, sfDir: String, d: Int = 8): DataFrame = {
    val q = graft.core.Tables.embeddings(spark, sfDir)
      .select((0 until d).map(i =>
        round(element_at(col("embedding"), i + 1).cast("double") * 1000000)
          .cast("long").as(s"q$i")): _*)
    val pairs = for { i <- 0 until d; j <- i until d } yield (i, j)
    val aggs =
      (0 until d).map(i => sum(col(s"q$i").cast("decimal(38,0)")).as(s"s$i")) ++
      pairs.map { case (i, j) =>
        sum((col(s"q$i") * col(s"q$j")).cast("decimal(38,0)")).as(s"p${i}_$j") }
    val wide = q.agg(count(lit(1)).cast("decimal(38,0)").as("n"), aggs: _*)
    val stackArgs = pairs.map { case (i, j) =>
      s"$i, $j, cast((n * p${i}_$j - s$i * s$j) div (n * n) as bigint)" }
      .mkString(", ")
    wide.select(col("n").cast("long").as("nr"),
        expr(s"stack(${pairs.size}, $stackArgs) as (i, j, cov_micro2)"))
      .select(col("i").cast("long").as("dim_i"), col("j").cast("long").as("dim_j"),
        col("nr").as("n"), col("cov_micro2"))
      .orderBy("dim_i", "dim_j")
  }

  /** K-MEANS training, distributed and EXACTLY reproducible — the
    * Lloyd's-iterations shape every IVF/VQ index build runs, surfaced as
    * a registered trainer: k=3 centroids, deterministic init (the first
    * three customers), three rounds of assign (argmin of exact integer
    * squared distances, ties to the lower cluster id) + update
    * (coordinate-wise floor-division means; an emptied cluster keeps its
    * centroid). Each round is ONE map-side-combinable aggregation over
    * the points — at 100 TB, 3 scans total, centroid state is k rows on
    * the driver. Feature domains are shifted non-negative so floor
    * division and truncating DIV agree across engines; the oracle
    * replays all three rounds in chained CTEs. */
  def kmeans(spark: SparkSession, sfDir: String): DataFrame = {
    val pts = graft.core.Tables.customer(spark, sfDir).select(
      ((col("c_acctbal").cast("decimal(18,2)") * 100).cast("long") +
        100000L).as("x"),
      (col("c_nationkey").cast("long") * 40000L).as("y"),
      col("c_custkey").cast("long").as("id"))
    var cents: Seq[(Int, Long, Long)] = pts
      .filter(col("id") >= 1 && col("id") <= 3)
      .orderBy("id").collect().zipWithIndex
      .map { case (r, i) => (i + 1, r.getLong(0), r.getLong(1)) }
    require(cents.size == 3, s"init expects custkeys 1..3, got ${cents.size}")
    var last: Array[org.apache.spark.sql.Row] = Array.empty
    for (_ <- 1 to 3) {
      val d = cents.map { case (i, cx, cy) =>
        ((col("x") - cx) * (col("x") - cx) +
          (col("y") - cy) * (col("y") - cy)).as(s"d$i") }
      val withD = pts.select(Seq(col("x"), col("y")) ++ d: _*)
      val idx = when(col("d1") <= col("d2") && col("d1") <= col("d3"), 1)
        .when(col("d2") <= col("d3"), 2).otherwise(3)
      last = withD.select(idx.as("idx"), col("x"), col("y"))
        .groupBy("idx")
        .agg(count(lit(1)).as("n"),
          expr("sum(x) DIV count(1)").as("cx"),
          expr("sum(y) DIV count(1)").as("cy"))
        .collect()
      val upd = last.map(r => r.getInt(0) -> (r.getLong(2), r.getLong(3))).toMap
      cents = cents.map { case (i, px, py) =>
        upd.get(i).map { case (cx, cy) => (i, cx, cy) }.getOrElse((i, px, py)) }
    }
    spark.createDataFrame(last.toSeq.map(r =>
        (r.getInt(0).toLong, r.getLong(1), r.getLong(2), r.getLong(3))))
      .toDF("cluster", "n", "cx", "cy")
      .orderBy("cluster")
  }

  /** Decision-stump training (depth-1 CART) as ONE aggregation pass plus
    * a bounded window — the exact split search every tree ensemble
    * repeats millions of times, in its distributed form: per distinct
    * feature value, class counts (one hash agg, map-side combinable);
    * cumulative sums over the SORTED value domain turn every candidate
    * threshold's left/right Gini into pure arithmetic on four integers.
    * The window is unpartitioned but runs over the value DOMAIN (≤ text
    * length range), never the corpus — rq32's bounded-domain rule. Gini
    * impurity is kept in exact integer ppm (2·pos·neg·10⁶ ÷ n per side),
    * deterministic tie-break on the smaller threshold; the stump's
    * confusion counts ride along. Feature: text length; label: lang=en. */
  def decisionStump(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perLen = graft.core.Tables.documents(spark, sfDir)
      .select(length(col("text")).cast("long").as("len"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .groupBy("len")
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("p"))
    val w = Window.orderBy("len")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = perLen
      .withColumn("nl", sum(col("n")).over(w))
      .withColumn("pl", sum(col("p")).over(w))
      .withColumn("nt", sum(col("n")).over(Window.partitionBy()))
      .withColumn("pt", sum(col("p")).over(Window.partitionBy()))
      .withColumn("nr", col("nt") - col("nl"))
      .withColumn("pr", col("pt") - col("pl"))
      .filter(col("nr") > 0)
      .withColumn("score_ppm",
        expr("2 * pl * (nl - pl) * 1000000 DIV nl + " +
          "2 * pr * (nr - pr) * 1000000 DIV nr"))
    cum.orderBy(col("score_ppm"), col("len")).limit(1)
      .select(col("len").as("threshold"), col("score_ppm"),
        when(col("pl") * 2 > col("nl"), lit("en")).otherwise(lit("other"))
          .as("pred_left"),
        when(col("pl") * 2 > col("nl"), col("pl")).otherwise(col("nl") - col("pl"))
          .as("left_correct"),
        when(col("pr") * 2 > col("nr"), col("pr")).otherwise(col("nr") - col("pr"))
          .as("right_correct"),
        col("nt").as("n"))
  }
}
