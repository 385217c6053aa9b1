package graft

import graft.ml.FraudModel
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.sql.functions._

/** The ML distillation of the rule-based risk engine must actually
  * learn the rules' signal: AUC well above chance on held-out rows. */
class FraudModelSpec extends SparkSpec {

  test("logistic model distills the rule engine (AUC >> 0.5)") {
    val f = FraudModel.features(spark, sf("sf0.01"))
    assert(f.filter(col("label") === 1.0).count() > 10, "needs positive examples")

    val Array(train, test) = f.randomSplit(Array(0.7, 0.3), seed = 42)
    val model = FraudModel.pipeline().fit(train)
    val scored = model.transform(test)
    val auc = new BinaryClassificationEvaluator()
      .setRawPredictionCol("rawPrediction").setLabelCol("label")
      .evaluate(scored)
    assert(auc > 0.85, s"AUC $auc too low — features carry the signal")
  }

  test("model artifact round-trip: save -> load -> identical predictions") {
    // the ML analog of the market_stats.json artifact: the trained
    // PipelineModel persists through the Hadoop FS API and reloads to
    // the exact same scoring function (cluster-deployable artifact)
    val f = FraudModel.features(spark, sf("sf0.001"))
    val model = FraudModel.pipeline().fit(f)
    val path = s"${scratch("graft-model")}/fraud-lr"
    model.write.overwrite().save(path)
    val loaded = org.apache.spark.ml.PipelineModel.load(path)
    val want = model.transform(f).select("p_partkey", "prediction", "probability")
      .collect().map(_.toString).sorted
    val got = loaded.transform(f).select("p_partkey", "prediction", "probability")
      .collect().map(_.toString).sorted
    assert(got.sameElements(want))
  }

  test("pinned serving model (ml01b) is honest: its margin still " +
      "distills the rule labels, and it IS a fit of this pipeline") {
    // the shipped literals must rank rule-positives above negatives
    // (the distillation gate applied to the PINNED model, not a fresh
    // fit — a stale or hand-edited artifact fails here)
    val f = FraudModel.features(spark, sf("sf0.01"))
    val scored = FraudModel.scoreCore(f,
      FraudModel.Ml01Intercept, FraudModel.Ml01Coefs)
      .select(col("label").cast("double").as("label"),
        col("margin").as("raw"))
    val auc = new BinaryClassificationEvaluator()
      .setRawPredictionCol("raw").setLabelCol("label")
      .evaluate(scored)
    assert(auc > 0.95, s"pinned-model AUC $auc — artifact gone stale?")
    // provenance: re-fitting the pipeline on the same sf0.01 frame
    // reproduces the pinned numbers exactly (the fit is in-JVM
    // deterministic), so the literals are a real artifact of THIS
    // code, not copied folklore
    val lr = FraudModel.pipeline().fit(f).stages(1)
      .asInstanceOf[org.apache.spark.ml.classification.LogisticRegressionModel]
    assert(lr.intercept == FraudModel.Ml01Intercept)
    assert(lr.coefficients.toArray.toSeq ==
      FraudModel.Ml01Coefs.map(_._2))
  }

  test("model artifact lifecycle: write -> read -> scoreCore equals " +
      "the literal serving path row-for-row (order preserved)") {
    val path = s"${scratch("graft-ml01b")}/model"
    FraudModel.writeModel(spark, path,
      FraudModel.Ml01Intercept, FraudModel.Ml01Coefs)
    val (icept, coefs) = FraudModel.readModel(spark, path)
    assert(icept == FraudModel.Ml01Intercept)
    assert(coefs == FraudModel.Ml01Coefs) // exact values AND order
    val f = FraudModel.features(spark, sf("sf0.001"))
    def rows(m: (Double, Seq[(String, Double)])) =
      FraudModel.scoreCore(f, m._1, m._2)
        .select("p_partkey", "label", "prediction", "margin")
        .as[(Long, Int, Int, Double)](
          org.apache.spark.sql.Encoders.product[(Long, Int, Int, Double)])
        .collect().toSet
    assert(rows((icept, coefs)) ==
      rows((FraudModel.Ml01Intercept, FraudModel.Ml01Coefs)))
    assert(rows((icept, coefs)).nonEmpty)
  }

  test("trainAndScore is deterministic across runs") {
    val a = FraudModel.trainAndScore(spark, sf("sf0.001"))
      .select("p_partkey", "prediction")
      .as[(Long, Double)](org.apache.spark.sql.Encoders.product[(Long, Double)])
      .collect().toMap
    val b = FraudModel.trainAndScore(spark, sf("sf0.001"))
      .select("p_partkey", "prediction")
      .as[(Long, Double)](org.apache.spark.sql.Encoders.product[(Long, Double)])
      .collect().toMap
    assert(a == b)
  }
}
