package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.sum

import graft.ops.RelationalOps

/** Streaming MAINTENANCE of the q187 robust-outlier posture — the
  * reference's fraud dashboard upgraded from its fixed threshold
  * (TransactionProcessor.java:15) to live per-day median/MAD flags:
  * each micro-batch's (day, cents) value-count deltas (exactly q187's
  * corpus collapse, one map-combinable pass over the batch) land under
  * their own `batch_id=N` partition, and the read SUMs the partials per
  * (day, cents) before running the SAME shared median/MAD/flag stages
  * as batch q187 — so the streamed posture is bit-equal to the batch
  * census by construction.
  *
  * The read stage is an ORDER STATISTIC (two exact median selections),
  * which no per-batch algebra can maintain incrementally — medians
  * don't compose — but the value-count store is plain SUM state, so the
  * selection is always over the compacted (day, cents) table (bounded
  * by days × distinct cents, never row count) and the
  * [[BatchSink.write]] batch_id discipline carries the replay
  * guarantee: a re-delivered batch overwrites its own partition and
  * cannot double a count. A landing whale moves the live flag census
  * the moment it arrives; the medians it anchors to move by at most one
  * rank (spec-pinned) — the robustness argument, observed live.
  *
  * A [[LeafStore]] over a streaming frame with `ts` and `value`: the
  * delta is the batch's (day, cents, n) partials. */
object StreamRobustOutliers extends LeafStore(RelationalOps.robustValueCounts) {

  /** The always-current q187 census off the maintained count store. */
  def posture(spark: SparkSession, path: String): DataFrame =
    RelationalOps.robustFromCounts(
      spark.read.parquet(path)
        .groupBy("day", "cents").agg(sum("n").as("n")))
}
