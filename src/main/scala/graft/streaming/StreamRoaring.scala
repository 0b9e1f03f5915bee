package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

import graft.ops.SketchOps

/** Streaming MAINTENANCE of the q178 Roaring word store — the exact-bits
  * sibling of [[StreamHllCube]]: arriving micro-batches' (day, blk, wi)
  * word deltas bit_or-merge into the day-partitioned store, and the
  * container-choice artifact reads always-current without re-scanning
  * history.
  *
  * Idempotency is ALGEBRAIC (the strongest class in the maintainer
  * taxonomy): bits merge by OR, so a re-delivered batch — or the same
  * value a thousand times, under ANY batch segmentation — cannot move
  * the store once absorbed; no batch_id bookkeeping exists because none
  * is needed (spec-pinned under at-least-once redelivery, not just
  * same-id replay). The read path derives each block's exact distinct
  * count FROM the store itself (popcount of OR'd distinct-value bits IS
  * the distinct count) and runs the SAME shared
  * [[SketchOps.roaringRender]] stage as batch q178, so the streamed
  * artifact is bit-equal to the batch query by construction.
  *
  * 100 TB shape: the per-batch delta is one map-combinable collapse of
  * the batch; each [[BatchSink.mergeByDay]] rewrites only the day
  * partitions the batch touched and reads ≤ touched-days × blocks × 16
  * existing words — bounded work per batch forever.
  *
  * A [[DayStore]] over a streaming frame carrying `ts` and `value`: the
  * delta is the batch's (day, blk, wi) words, bit_or-merged. */
object StreamRoaring extends DayStore(
  batch => SketchOps.roaringWords(SketchOps.roaringTriples(batch)),
  Seq("day", "blk", "wi"), expr("bit_or(word)").as("word")) {

  /** The always-current q178 artifact off the maintained store: exact
    * counts ARE the popcounts, then the shared render runs unchanged. */
  def containers(spark: SparkSession, path: String): DataFrame =
    SketchOps.roaringRender(
      SketchOps.roaringPops(
        spark.read.parquet(path)
          .selectExpr("CAST(day AS BIGINT) AS day", "blk", "wi", "word"))
        .selectExpr("day", "blk", "pop AS n_exact", "pop"))
}
