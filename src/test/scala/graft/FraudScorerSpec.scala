package graft

import org.apache.spark.ml.classification.LogisticRegressionModel
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.ml.FraudScorer
import graft.ops.PipelineOps

object FraudScorerSpec {
  /** Train on the md5 train fold ([[PipelineOps.md5Bucket]], the corpus
    * split's rule, a pure function of event_id), report AUC on the rest. */
  def trainAndEvaluate(events: DataFrame): (LogisticRegressionModel, Double) = {
    val bucket = PipelineOps.md5Bucket(col("event_id"))
    val model = FraudScorer.train(events.filter(bucket < PipelineOps.TrainCut))
    val held = new VectorAssembler()
      .setInputCols(FraudScorer.FeatureCols.toArray).setOutputCol("features")
      .transform(FraudScorer.featurize(events.filter(bucket >= PipelineOps.TrainCut)))
    val auc = new BinaryClassificationEvaluator()
      .setLabelCol("label").setRawPredictionCol("rawPrediction")
      .setMetricName("areaUnderROC")
      .evaluate(model.transform(held))
    (model, auc)
  }
}

class FraudScorerSpec extends SparkSpec {
  import spark.implicits._

  private def events = (0 until 400).map { i =>
    val v = if (i % 4 == 0) 150.0 + i else 10.0 + (i % 50)
    (i.toLong, new java.sql.Timestamp(1700000000000L + i * 60000L), (i % 20).toLong,
      if (i % 3 == 0) "purchase" else "error", v, "{}")
  }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  test("LR scorer separates fraud from non-fraud on held-out-ish data") {
    val model = FraudScorer.train(events)
    val scored = FraudScorer.score(model, events)
    val byLabel = scored.groupBy("label").avg("p_fraud").collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(byLabel(1.0) > 0.8, s"fraud mean p=${byLabel(1.0)}")
    assert(byLabel(0.0) < 0.2, s"non-fraud mean p=${byLabel(0.0)}")
  }

  test("held-out AUC via the deterministic md5 split is reproducible and high") {
    val (_, auc1) = FraudScorerSpec.trainAndEvaluate(events)
    val (_, auc2) = FraudScorerSpec.trainAndEvaluate(events)
    assert(auc1 === auc2)    // split + training are deterministic
    assert(auc1 > 0.95, s"AUC $auc1") // value is a feature; near-separable
  }

  test("scoring works inside a streaming foreachBatch (per-micro-batch transform)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val model = FraudScorer.train(events)
    val mem = MemoryStream[(Long, Long, String, Double)]
    val stream = mem.toDF().toDF("event_id", "user_id", "event_type", "value")
      .selectExpr("event_id", "CAST(from_unixtime(1700000000 + event_id) AS TIMESTAMP) AS ts",
        "user_id", "event_type", "value", "'{}' AS props")
    var scoredCount = 0L
    val q = stream.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        scoredCount += FraudScorer.score(model, batch).count()
      }.start()
    try {
      mem.addData((1L, 2L, "purchase", 500.0), (2L, 3L, "error", 5.0))
      q.processAllAvailable()
      assert(scoredCount === 2L)
    } finally q.stop()
  }
}
