package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{max, sum}

import graft.ops.RelationalOps

/** Streaming MAINTENANCE of the q173 MERGE INTO / CDC state — the
  * JOIN-SHAPED maintainer the store taxonomy lacked beside the
  * MAX-mergeable registers ([[StreamHllCube]]), the SUM stores
  * ([[StreamBurst]]), and the mixed MIN/MAX/SUM stats ([[StreamZoneMap]]):
  * here the maintained object is per-key LWW winner state that a read
  * completes with a full-outer join against a base snapshot.
  *
  * Each micro-batch's changes collapse map-combinably to per-key
  * partials — `n_changes` (a count) and the winner struct `w` over the
  * (us, event_id) total order — and land under their own `batch_id=N`
  * partition by [[BatchSink.write]], so a failure-replayed batch
  * REWRITES its own partial instead of double-applying (the batch_id
  * idempotency discipline; the count column is
  * why bookkeeping is needed at all — the struct MAX alone is
  * algebraically idempotent). Reads merge the partials per key — SUM
  * for counts, MAX for winners; the lexicographic struct MAX is
  * associative, so ANY segmentation of a key's history across batches
  * collapses to the same winner — and then run the SAME shared
  * [[RelationalOps.cdcApply]] merge matrix as batch q173, making the
  * streamed snapshot bit-equal to the batch query by construction
  * (spec-pinned across splits that divide a key's history).
  *
  * At 100 TB this is the standing CDC table maintainer: the per-batch
  * delta is one map-combinable collapse of the batch, the store carries
  * one row per (touched key, batch) and compacts on read, and the base
  * is only ever joined co-keyed at snapshot time. Raw history is never
  * re-read.
  *
  * A [[LeafStore]] over a streaming frame with the events schema (ts,
  * event_id, user_id, event_type, value): the delta is the batch's
  * per-key partials. */
object StreamCdcMerge extends LeafStore(batch =>
  RelationalOps.cdcCollapse(RelationalOps.cdcChanges(batch))) {

  /** The always-current q173 snapshot off the maintained store: partials
    * merge per key (SUM counts, MAX winners), then the shared merge
    * matrix runs unchanged against the base. */
  def snapshot(spark: SparkSession, path: String, customer: DataFrame): DataFrame =
    RelationalOps.cdcApply(customer,
      spark.read.parquet(path)
        .groupBy("key")
        .agg(sum("n_changes").as("n_changes"), max("w").as("w")))
}
