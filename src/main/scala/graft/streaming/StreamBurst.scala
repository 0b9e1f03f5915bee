package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.sum

import graft.ops.RelationalOps

/** Streaming MAINTENANCE of the q162 burst detector's hourly store:
  * every arriving micro-batch's partial hourly counts land under a
  * `batch_id=N` partition, and the verdict table is recomputed on read
  * from the per-hour SUM of those partials through the SAME
  * [[RelationalOps.burstFromHours]] stage the batch query runs — the
  * batch-computes / stream-maintains pairing (StreamHllCube's pattern)
  * applied to a SUM-shaped store.
  *
  * Idempotency here is BOOKKEEPING, not algebra: counts merge by SUM, so
  * a re-delivered batch would double-count — [[BatchSink.write]] (the
  * batch's own `batch_id=N` leaf, replaced whole) makes a
  * failure-replayed micro-batch rewrite its own partial instead of
  * appending a second copy. That covers engine-side replay (the
  * at-least-once case checkpointed foreachBatch actually produces);
  * upstream duplicates (the same EVENT sent twice with different batch
  * ids) are out of scope by design, exactly as for any counting store —
  * the MAX-mergeable q154 registers are the remedy when the source
  * cannot be trusted, and the two maintainers exist side by side for
  * that reason.
  *
  * 100 TB shape: the per-batch delta is one map-combinable hourly
  * collapse of the batch (bounded by the batch's calendar hours); the
  * store grows by ≤ hours-per-batch rows per batch and reads collapse
  * it to the calendar-bounded hourly table before the bounded verdict
  * join. Nothing corpus-scale ever shuffles.
  *
  * A [[LeafStore]] over a streaming frame carrying `ts`: the delta is
  * the batch's partial hourly counts. */
object StreamBurst extends LeafStore(RelationalOps.hourlyCounts) {

  /** The always-current q162 verdict table off the maintained store:
    * partials SUM to the hourly series, then the shared verdict stage
    * runs unchanged — bit-identical to the batch query over the same
    * events by construction. */
  def verdicts(spark: SparkSession, path: String): DataFrame =
    RelationalOps.burstFromHours(
      spark.read.parquet(path)
        .groupBy("h").agg(sum("n").as("n")))
}
