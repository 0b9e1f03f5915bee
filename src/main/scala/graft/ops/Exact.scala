package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Exact decimal aggregation over money-like doubles.
  *
  * The testdata's `value`/price columns are 2-decimal quantities stored as
  * doubles. Summing them as doubles is non-associative — Spark's combine
  * order varies run to run, and a sum that lands near a rounding boundary
  * (e.g. 60.395) rounds differently than the DuckDB oracle's sum. Instead we
  * recover the exact integer cents per row (`round(x*100)` — the double is
  * within 1e-9 of the true integer, so any rounding rule agrees), sum as
  * LONG (exact, associative, order-independent), and divide once at the end
  * (one correctly-rounded IEEE op, bit-identical in Spark and DuckDB).
  *
  * At 100 TB this is also the *faster* plan: long sums beat double sums and
  * need no post-hoc rounding pass.
  *
  * Overflow headroom: int64 cents hold ~9·10^16 dollars. Under Spark 4's
  * default ANSI mode an overflowing long sum FAILS LOUDLY (it cannot wrap
  * silently); a deployment summing beyond that headroom should swap the
  * accumulator to `sum(units(c, s).cast("decimal(38,0)"))` — DuckDB's
  * SUM(BIGINT) already widens to int128, so only the Spark side needs it.
  */
object Exact {
  /** Exact integer (10^scale)-ths of a 2..4-decimal double column. */
  def units(c: Column, scale: Int): Column =
    round(c * math.pow(10, scale)).cast("long")

  /** Order-independent SUM of a `scale`-decimal column, as double. */
  def sumD(c: Column, scale: Int): Column =
    sum(units(c, scale)) / lit(math.pow(10, scale))

  /** Order-independent AVG of a `scale`-decimal column, as double — true
    * SQL AVG semantics: null values are excluded from numerator AND
    * denominator (`count(c)`, not `count(*)` — with `count(*)` a null row
    * would dilute the mean). */
  def avgD(c: Column, scale: Int): Column =
    sum(units(c, scale)) / (lit(math.pow(10, scale)) * count(c))
}
