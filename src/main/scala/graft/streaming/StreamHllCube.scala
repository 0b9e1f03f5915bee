package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.max
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.SketchOps

/** Streaming MAINTENANCE of the q154 distinct-user cube: every arriving
  * micro-batch's (day, register) deltas are MAX-merged into the stored
  * day-partitioned register table, so the q155 range estimator (and any
  * dashboard) reads an always-current sketch without ever re-scanning
  * history — the batch-computes / stream-maintains pairing
  * (StreamQualityScore/StreamShardWriter's pattern) applied to sketch
  * state.
  *
  * Idempotency is ALGEBRAIC here, stronger than [[BatchSink.write]]'s
  * batch_id bookkeeping: registers merge by per-(day, j) MAX, so a
  * re-delivered batch — or the same event a thousand times — cannot move
  * the table once absorbed. [[BatchSink.mergeByDay]] rewrites ONLY the
  * day partitions the batch touched, and each rewrite reads
  * ≤ touched-days × 256 existing rows — bounded work per batch no matter
  * how large history grows, the property that makes this viable as a
  * forever-running maintainer.
  *
  * 100 TB shape: the per-batch delta is the q154 register build (raw
  * rows collapse map-combinably; nothing corpus-scale shuffles), the
  * merge touches a bounded table, and the store is partitioned on day so
  * range readers prune. */
object StreamHllCube {

  /** MAX-merge one (static) batch of events into the register store at
    * `path` — also the unit the spec exercises directly. */
  private[streaming] def mergeBatch(batch: DataFrame, path: String): Unit =
    BatchSink.mergeByDay(SketchOps.userDayRegisters(batch),
      path, Seq("day", "j"), max("reg").as("reg"))

  /** Start the maintainer on a streaming frame carrying `ts` and
    * `user_id`. */
  def start(events: DataFrame, path: String, checkpointDir: String): StreamingQuery =
    BatchSink.start(events, checkpointDir)((batch, _) => mergeBatch(batch, path))
}
