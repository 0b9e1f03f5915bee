package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming deduplication — the unbounded-stream member of the dedup
  * family (batch exact dedup lives in [[graft.ops.TextOps.exactDedup]];
  * near-dup in [[graft.ops.DedupOps]]).
  *
  * The retention contract is THE scale question for stream dedup at
  * 100 TB/day. Plain `dropDuplicates` keeps state for every distinct key
  * ever seen — only correct when the key space is bounded (e.g. a small
  * device registry). [[dedupWithinWatermark]]
  * (`dropDuplicatesWithinWatermark`) suppresses a duplicate only if it
  * arrives within the watermark horizon of the first occurrence; state for
  * keys older than the horizon is dropped with the watermark, so total
  * state is bounded by the horizon's key arrival rate — the only contract
  * that survives an unbounded stream.
  */
object StreamDedup {

  /** Exact dedup on `keyCols` with watermark-bounded state: duplicates
    * within `delay` of the first occurrence are suppressed; the key's
    * state is released once the event-time watermark passes it. */
  def dedupWithinWatermark(df: DataFrame, keyCols: Seq[String], tsCol: String,
                           delay: String = "10 minutes"): DataFrame =
    df.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark(keyCols)

  /** Canonical-fingerprint stream dedup: the streaming twin of
    * `TextOps.exactDedup` — same canonical fingerprint (md5 of the sorted
    * distinct token bag), watermark-bounded state. */
  def dedupDocsByFingerprint(docs: DataFrame, tsCol: String,
                             delay: String = "10 minutes"): DataFrame =
    dedupWithinWatermark(
      docs.withColumn("fp", expr(graft.ops.TextOps.BowFpExpr)),
      Seq("fp"), tsCol, delay)
}
