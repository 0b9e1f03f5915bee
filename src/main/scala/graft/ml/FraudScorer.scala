package graft.ml

import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ML-inference surface (BASELINE.json north star: "Structured Streaming +
  * MLlib for fraud detection"): a logistic-regression fraud scorer over the
  * event stream's features, trained in batch, applied as a pure
  * `DataFrame => DataFrame` transform that works identically on batch
  * DataFrames and per-micro-batch in `foreachBatch`.
  *
  * The reference has no ML at all (its "detector" is one predicate,
  * `TransactionProcessor.java:39`); this models the natural next step a
  * fraud pipeline takes — score = P(fraud | features) instead of a hard
  * threshold — while keeping the thresholded label as the teaching signal.
  *
  * Scale notes: featurization is row-local (codegen'd); LR training is
  * MLlib's distributed L-BFGS (a handful of full-data passes — fine at
  * 100 TB with executor-parallel gradient aggregation); inference is one
  * row-local vector dot — broadcastable model, no shuffle.
  */
object FraudScorer {
  val FeatureCols: Seq[String] = Seq("value", "hour", "is_purchase", "is_error")

  /** Row-local featurization of the events table. */
  def featurize(events: DataFrame): DataFrame =
    events.select(
      col("event_id"), col("user_id"), col("value"),
      hour(col("ts")).cast("double").as("hour"),
      (col("event_type") === "purchase").cast("double").as("is_purchase"),
      (col("event_type") === "error").cast("double").as("is_error"),
      (col("value") > graft.ops.EventOps.FraudThreshold).cast("double").as("label"))

  /** Train on a featurized batch (deterministic: LR with fixed params; no
    * RNG in the L-BFGS path for a fixed input). */
  def train(events: DataFrame): LogisticRegressionModel = {
    val assembled = new VectorAssembler()
      .setInputCols(FeatureCols.toArray).setOutputCol("features")
      .transform(featurize(events))
    new LogisticRegression()
      .setMaxIter(25).setRegParam(0.01).setStandardization(true)
      .fit(assembled)
  }

  /** Inference as a pure transform — usable on a batch DF or inside
    * `foreachBatch` on a stream. */
  def score(model: LogisticRegressionModel, events: DataFrame): DataFrame = {
    val assembled = new VectorAssembler()
      .setInputCols(FeatureCols.toArray).setOutputCol("features")
      .transform(featurize(events))
    model.transform(assembled)
      .select(col("event_id"), col("user_id"), col("value"), col("label"),
        col("prediction"),
        element_at(org.apache.spark.ml.functions.vector_to_array(col("probability")), 2)
          .as("p_fraud"))
  }
}
