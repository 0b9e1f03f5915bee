package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit, sum}

import graft.ops.ProfileOps

/** Streaming MAINTENANCE of the q206 drift posture — the model monitor
  * a serving stack actually runs: the REFERENCE distribution is a fixed
  * batch artifact (the training drop's bins — bounded, like the q123
  * budget dial), live traffic's (feature, value) deltas land per
  * micro-batch under `batch_id` partitions ([[BatchSink.write]], the
  * SUM-state replay discipline), and the read SUMs the live bins and
  * runs the SAME shared ledger stage (`driftRender`) against the
  * reference — so when the live store holds exactly batch q206's
  * period B, the streamed posture bit-equals the batch census by
  * construction (spec-pinned across arrival splits), and a burst of
  * off-distribution traffic moves the TVD the moment it lands
  * (spec: an all-error batch pages the event_type monitor live).
  *
  * Store bounded by the feature-value domain × batches; the ledger
  * only ever reads the compacted bin table.
  *
  * A [[LeafStore]] over a streaming frame of events: the delta is the
  * batch's live bin partials. */
object StreamDrift extends LeafStore(batch =>
  ProfileOps.driftPairs(batch, None)
    .groupBy("feature", "value_key")
    .agg(org.apache.spark.sql.functions.count(lit(1)).as("nb"))) {

  /** Reference bins (feature, value_key, na) from a static reference
    * drop — computed once, the monitor's fixed yardstick. */
  def referenceBins(reference: DataFrame): DataFrame =
    ProfileOps.driftPairs(reference, None)
      .groupBy("feature", "value_key")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("na"))

  /** The always-current drift ledger: live bins SUMmed from the store,
    * full-outer against the broadcast reference (a value seen on only
    * one side carries its full one-sided mass — q206's absent-mass
    * rule, inherited from the shared render). */
  def posture(spark: SparkSession, path: String, ref: DataFrame): DataFrame = {
    val live = spark.read.parquet(path)
      .groupBy("feature", "value_key").agg(sum("nb").as("nb"))
    ProfileOps.driftRender(
      broadcast(ref).join(live, Seq("feature", "value_key"), "full_outer")
        .select(col("feature"), col("value_key"),
          coalesce(col("na"), lit(0L)).as("na"),
          coalesce(col("nb"), lit(0L)).as("nb")))
  }
}
