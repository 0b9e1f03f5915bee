package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.{RelationalOps, ScaleOps}

/** Streaming MAINTENANCE of the q179 compaction planner's input — the
  * file-size manifest — so the OPTIMIZE plan is always current as data
  * lands, without re-scanning history: the operational loop a lakehouse
  * table service actually runs (sizes accrue per commit; the planner
  * reads the manifest, never the data).
  *
  * Each micro-batch's per-day byte deltas (the exact q179 proxy) land
  * under their own `batch_id=N` partition — SUM-shaped state, so the
  * [[BatchSink.write]] batch_id discipline makes a failure-replayed
  * batch rewrite its own partial instead of double-counting. Reads SUM
  * the partials per day and run the SAME shared roll arithmetic as
  * batch q179 ([[ScaleOps.compactionPlanFromFiles]]), so the streamed
  * plan is bit-equal to the batch query by construction (spec-pinned
  * across splits that divide a day's traffic and same-id replay).
  *
  * 100 TB shape: the per-batch delta is one map-combinable collapse of
  * the batch; the store carries one row per (day, batch) and compacts
  * on read; the planner's work stays bounded metadata forever.
  *
  * A [[LeafStore]] over a streaming frame with the events schema: the
  * delta is the batch's per-day byte partials. */
object StreamCompaction extends LeafStore(ScaleOps.compactionFiles) {

  /** The always-current q179 plan off the maintained manifest: partials
    * SUM per day, then the shared roll runs unchanged. */
  def plan(spark: SparkSession, path: String): DataFrame =
    ScaleOps.compactionPlanFromFiles(
      spark.read.parquet(path)
        .groupBy("day")
        .agg(org.apache.spark.sql.functions.sum("bytes").as("bytes")))
}
