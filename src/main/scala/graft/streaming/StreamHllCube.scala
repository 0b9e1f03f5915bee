package graft.streaming

import org.apache.spark.sql.functions.max

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
  * range readers prune.
  *
  * A [[DayStore]] over a streaming frame carrying `ts` and `user_id`: the
  * delta is the batch's (day, j) registers, MAX-merged. */
object StreamHllCube extends DayStore(SketchOps.userDayRegisters,
  Seq("day", "j"), max("reg").as("reg"))
