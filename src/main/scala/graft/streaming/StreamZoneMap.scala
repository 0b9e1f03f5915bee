package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{max, min, sum}

import graft.ops.ScaleOps

/** Streaming MAINTENANCE of the q160 zone-map store: every arriving
  * micro-batch's per-day stats land under their own `batch_id=N`
  * partition, and the audit is recomputed on read by merging the
  * partials per day (MIN for mins, MAX for maxes, SUM for counts) and
  * running the SAME shared [[ScaleOps.zoneAuditFromStats]] stage as the
  * batch query — the third maintainer in the store taxonomy:
  * MAX-mergeable registers ([[StreamHllCube]], algebraic idempotency),
  * SUM-shaped counts ([[StreamBurst]], bookkeeping idempotency), and
  * here the MIXED store whose min/max columns are algebraic but whose
  * counts still need the [[BatchSink.write]] batch_id discipline — so
  * the whole store uses it uniformly, and a failure-replayed batch
  * rewrites its own partial.
  *
  * This is how file-level statistics actually come to exist at 100 TB:
  * the WRITER maintains them as data lands (every parquet footer /
  * Iceberg manifest is exactly this store), and readers prune without
  * touching data. The per-batch delta is one map-combinable collapse of
  * the batch; reads collapse the bounded store before the bounded audit
  * join. Nothing corpus-scale ever shuffles.
  *
  * A [[LeafStore]] over a streaming frame carrying `ts` and `value`: the
  * delta is the batch's per-day zone stats. */
object StreamZoneMap extends LeafStore(ScaleOps.zoneStats) {

  /** The always-current q160 audit off the maintained store: partials
    * merge per day (MIN/MAX/SUM — each column by its own algebra), then
    * the shared audit stage runs unchanged — bit-identical to the batch
    * query over the same events by construction. */
  def audit(spark: SparkSession, path: String): DataFrame =
    ScaleOps.zoneAuditFromStats(
      spark.read.parquet(path)
        .groupBy("day")
        .agg(sum("n_rows").as("n_rows"),
          min("ts_us_min").as("ts_us_min"), max("ts_us_max").as("ts_us_max"),
          min("cents_min").as("cents_min"), max("cents_max").as("cents_max"),
          sum("n_match_cents").as("n_match_cents")))
}
