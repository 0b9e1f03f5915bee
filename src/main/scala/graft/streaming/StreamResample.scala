package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max, struct, sum}

import graft.ops.RelationalOps

/** Streaming MAINTENANCE of the q190 panel series — the reference's
  * actual product, live: transactions land (Kafka), the store updates,
  * and the dashboard layer (Grafana over InfluxDB, reference
  * README.md:2,14-15) re-renders `GROUP BY time(1h) fill(previous)`
  * from it. Each micro-batch collapses to per-(user, hour) cell
  * partials — exactly q190's corpus collapse for the batch's rows —
  * landing under their own `batch_id=N` partition; the read merges the
  * partials per cell (SUM the counts, struct-MAX the winners) and runs
  * the SAME shared grid + forward-fill stages as batch q190, so the
  * streamed panel is bit-equal to the batch query by construction.
  *
  * Mixed-state store (the StreamCdcMerge class): `n_obs` is SUM state
  * and leans on the [[BatchSink.write]] batch_id replay discipline,
  * while the fill winner is a lexicographic struct MAX — associative,
  * commutative, idempotent — so LATE data is handled by algebra alone:
  * an earlier-timestamped observation arriving in a later batch merges
  * into its cell but cannot displace a later winner, and the fill it
  * feeds stays exactly what a batch run over the full history would
  * compute (spec-pinned).
  *
  * A [[LeafStore]] over a streaming frame with `ts`, `user_id`,
  * `event_id`, `value`: the delta is the batch's per-(user, hour) cell
  * partials, the winner struct flattened for the store. */
object StreamResample extends LeafStore(batch =>
  RelationalOps.resampleCells(batch)
    .selectExpr("user_id", "hour", "n_obs",
      "w.us AS us", "w.event_id AS event_id", "w.cents AS cents")) {

  /** The always-current q190 panel off the maintained cell store. */
  def panel(spark: SparkSession, path: String): DataFrame =
    RelationalOps.resampleFromCells(
      spark.read.parquet(path)
        .groupBy("user_id", "hour")
        .agg(sum("n_obs").as("n_obs"),
          max(struct(col("us"), col("event_id"), col("cents"))).as("w")))
}
