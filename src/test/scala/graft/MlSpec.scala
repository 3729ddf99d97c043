package graft

import java.nio.file.Files

import graft.functions.MlOps
import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ML parity (SURVEY §2.9): sanity vector, train accuracy, persist/load
  * (S8 `pickle_model_sink/source` → MLlib save/load). */
class MlSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val (model, features) = MlOps.trainSortingHat(spark, sf)

  test("sorting hat: sanity vector dominated by BUILDING friends predicts BUILDING") {
    // train_fix.py:95-98 analogue: [10 friends in house X, rest 0] ⇒ X.
    import spark.implicits._
    val idx = MlOps.FeatureCols.indexOf(MlOps.featureCol("FRIEND_OF", "BUILDING"))
    val vec = Vectors.sparse(MlOps.FeatureCols.size, Array(idx), Array(50.0))
    val rf = model.stages.collect { case m: org.apache.spark.ml.classification.RandomForestClassificationModel => m }.head
    val pred = rf.predict(vec).toInt
    assert(MlOps.Houses(pred) == "BUILDING")
  }

  test("sorting hat: training accuracy is high (house ≈ argmax friend-house count)") {
    val scored = model.transform(features)
    val acc = scored.filter(col("house") === col("predicted_house")).count().toDouble /
      scored.count()
    assert(acc > 0.8, s"train accuracy $acc")
  }

  test("model save/load round-trips predictions (S8)") {
    val root = Files.createTempDirectory("graft_model").toString
    try {
      val dir = root + "/rf"
      model.write.overwrite().save(dir)
      val loaded = PipelineModel.load(dir)
      val a = model.transform(features).select("name", "predicted_house")
        .collect().map(_.toString).sorted
      val b = loaded.transform(features).select("name", "predicted_house")
        .collect().map(_.toString).sorted
      assert(a.sameElements(b))
    } finally graft.core.TxTable.drop(root)
  }

  test("survival: output schema and value domain") {
    val out = MlOps.survivalPredictionRows(spark, sf)
    assert(out.columns.toSeq == Seq("name", "label", "prediction"))
    assert(out.filter(!col("prediction").isin(0.0, 1.0)).count() == 0)
  }

  test("survival: registry entry reports accuracy beating the majority class") {
    val out = MlOps.survivalPredictions(spark, sf)
    assert(out.filter(!col("acc_beats_majority")).count() == 0)
  }
}
