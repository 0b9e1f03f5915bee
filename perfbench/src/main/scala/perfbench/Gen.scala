package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The seeded transaction generator. Every field of row `i` is a pure
  * function of (seed, i), so a stream and its batch twin over the same
  * indices produce identical wire records.
  *
  * Reference distribution (`TransactionProducer.java:47-49`): 200 users,
  * amounts uniform in [1000, 11000) with cents (about 10 % above the 10000
  * fraud threshold), plus 0.1 % malformed records that `FraudPipeline.parse`
  * must drop.
  */
object Gen {
  /** Epoch second of row 0 (the reference fixture's first timestamp). */
  val BaseSec = 1737028306L

  private def h(seed: Long, salt: Long): Column = xxhash64(col("i"), lit(seed), lit(salt))
  private def unit(seed: Long, salt: Long): Column = pmod(h(seed, salt), lit(1000000L)) / 1e6

  def malformed(seed: Long): Column = pmod(h(seed, 2), lit(1000L)) === 0

  /** Rows whose event time is 600 s behind their schedule: far beyond the
    * 30 s watermark, so the state operator drops them once a watermark
    * exists (malformed rows never reach it). */
  def late(seed: Long): Column = pmod(h(seed, 7), lit(1000L)) < 5 && !malformed(seed)

  /** Rows that can become alerts: those the generator gave an amount above
    * the fraud threshold, and the malformed ones (which must be dropped). */
  def alertCandidate(seed: Long): Column =
    amount(seed) > graft.model.Transaction.FraudThreshold || malformed(seed)

  private def amount(seed: Long): Column =
    (lit(100000L) + pmod(h(seed, 3), lit(1000000L))) / 100.0

  private def wire(user: Column, ts: Column, seed: Long): Column = {
    val head = concat(lit("{\"userId\":\""), user)
    val ok = concat(head, lit("\",\"amount\":"), amount(seed).cast("string"),
      lit(",\"timestamp\":"), ts.cast("string"), lit("}"))
    val bad = when(pmod(h(seed, 5), lit(2L)) === 0,
      concat(head, lit("\",\"amount\":\"oops\"}"))) // wrong type
      .otherwise(concat(head, lit("\",\"amo")))       // truncated
    when(malformed(seed), bad).otherwise(ok)
  }

  /** Index frame (column `i`) → the raw wire frame (column `value`) of the
    * alert workloads: `rowsPerSec` consecutive indices share one epoch
    * second. */
  def alerts(idx: DataFrame, seed: Long, rowsPerSec: Long): DataFrame =
    idx.select(wire(format_string("user_%03d", pmod(h(seed, 1), lit(200L))),
      lit(BaseSec) + floor(col("i") / rowsPerSec), seed).as("value"))

  /** Index frame → the wire frame of the keyed-state workload. The first
    * `keys` rows visit every user once; after them, even rows keep cycling
    * through all users and odd rows draw a heavily skewed user (u^4: over
    * 5 000 keys, a fifth of them hit the ten hottest). Event time runs
    * `speed` times faster than the schedule (a replay); 20 % of rows are up
    * to 19 s out of order, within the 30 s watermark, and [[late]] rows
    * are 600 s behind. */
  def velocity(idx: DataFrame, seed: Long, rowsPerSec: Long, keys: Long,
               speed: Long): DataFrame = {
    def cycle(i: Column) = pmod(i * 7919L + seed, lit(keys))
    val hot = floor(pow(unit(seed, 6), 4) * keys)
    val user = when(col("i") < keys, cycle(col("i")))
      .when(pmod(col("i"), lit(2L)) === 0, cycle(floor(col("i") / 2)))
      .otherwise(hot)
    val base = lit(BaseSec) + floor(col("i") * speed / rowsPerSec)
    val j = pmod(h(seed, 7), lit(1000L))
    val ts = when(j < 5, base - 600L)
      .when(j < 205, base - pmod(h(seed, 8), lit(20L)))
      .otherwise(base)
    idx.select(wire(format_string("user_%06d", user), ts, seed).as("value"))
  }
}
