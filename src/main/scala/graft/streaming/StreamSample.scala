package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.SketchOps

/** Live FIXED-SIZE SAMPLING — the streaming maintainer for the whole
  * sampling family (uniform q164, weighted A-Res q176, stratified q184,
  * the q202 quantile sample): arriving keyed rows are collapsed per
  * micro-batch to their per-group top-K partial through the SHARED
  * selection stage ([[SketchOps.selectTopKRows]] — the same bounded-state
  * aggregate every batch sampler runs), the ≤ K·groups partial lands
  * under its own `batch_id=N` partition, and the read pushes the stored
  * partials through the SAME stage again. Correctness is the
  * truncate-merge law the shared stage is spec'd with — a selection over
  * a union of id-disjoint shards IS the truncated merge of the shards'
  * selections — applied live instead of just proven: the maintained
  * sample is bit-equal to the batch sampler's on the rows seen so far,
  * for ANY arrival split.
  *
  * Contract: ids arrive exactly once across batches (each doc lives in
  * one micro-batch, as in any partitioned corpus walk); a RE-DELIVERED
  * batch overwrites its own partition (the [[BatchSink.write]] batch_id
  * discipline), so replays cannot duplicate a candidate. State is
  * bounded: each batch contributes ≤ K rows per group regardless of
  * batch size, and the read merges ≤ K·groups·batches rows — never the
  * corpus. Callers bring their own key (negated md5 for bottom-K /
  * uniform, A-Res replica keys for weighted, per-stratum groups for
  * stratified) — the dials of the shared stage. */
object StreamSample {

  /** Collapse one (static) batch of (g, id, key) rows to its per-group
    * top-K partial under its batch_id partition — the spec's replay
    * unit. */
  private[graft] def mergeBatch(batch: DataFrame, batchId: Long,
                                path: String, k: Int): Unit =
    BatchSink.write(SketchOps.selectTopKRows(batch, k), batchId, path)

  /** Start the maintainer on a streaming (g, id, key) frame. */
  def start(rows: DataFrame, path: String, checkpointDir: String, k: Int): StreamingQuery =
    BatchSink.start(rows, checkpointDir)(mergeBatch(_, _, path, k))

  /** The always-current sample: the stored per-batch partials re-enter
    * the shared selection stage (truncate-merge). Returns (g, id, key)
    * rows, ≤ k per group. */
  def sample(spark: SparkSession, path: String, k: Int): DataFrame =
    SketchOps.selectTopKRows(
      spark.read.parquet(path).select("g", "id", "key"), k)
}
