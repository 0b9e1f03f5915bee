package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{max, sum}

import graft.ops.PipelineOps

/** Streaming MAINTENANCE of the q180 k-anonymity posture — live privacy
  * monitoring as records land: each micro-batch's quasi-identifier
  * class deltas (the q180 fine table, one map-combinable collapse of
  * the batch) land under their own `batch_id=N` partition, and the
  * read SUMs the partials per class before running the SAME shared
  * generalization ladder as batch q180 — so the streamed posture is
  * bit-equal to the batch audit by construction, and the dashboard
  * sees k dropping the moment a new rare QI combination arrives
  * (spec-pinned: one arriving singleton collapses k to 1 live).
  *
  * SUM-shaped state, so the [[BatchSink.write]] batch_id discipline
  * carries the replay guarantee; the store is bounded by the QI
  * domain, not the row count, and the ladder only ever reads the
  * compacted class table.
  *
  * A [[LeafStore]] over a streaming frame with the customer QI columns
  * (c_nationkey, c_mktsegment, c_acctbal): the delta is the batch's
  * fine-class partials. */
object StreamKAnonymity extends LeafStore(PipelineOps.kAnonymityFine) {

  /** The always-current q180 ladder off the maintained class store. */
  def posture(spark: SparkSession, path: String): DataFrame =
    PipelineOps.kAnonymityLadder(
      spark.read.parquet(path)
        .groupBy("nat", "seg", "b1")
        .agg(sum("n").as("n"), max("b2").as("b2")))
}
