package graft.streaming

import org.apache.spark.sql.Dataset

/** Per-user transaction-velocity fraud detection — custom keyed state via
  * [[KeyedFold]] (the stateful-streaming capability the
  * reference lacks entirely: its topology is stateless,
  * `TransactionProcessor.java:25-54`, SURVEY.md §2.D).
  *
  * Semantics: alert when a user makes more than `maxTxns` transactions
  * inside a sliding `windowSec` (velocity), or when an amount exceeds 3× the
  * user's running mean (deviation) after a warm-up of 3 observations. State
  * per key is O(window) recent timestamps + two running moments; idle-user
  * state expires on the data's clock, so total state is bounded by active
  * keys — the property that keeps this runnable against an unbounded
  * 100 TB stream. [[detectEventTime]] runs it on [[KeyedFold.eventTime]]
  * (watermark + event-time TTL): expiry follows the DATA's clock, so a
  * backfill at 1000× speed still expires state and a paused stream does
  * not expire it spuriously.
  */
object VelocityDetector {
  case class Txn(userId: String, amount: Double, timestamp: Long)
  case class UserState(recentTs: List[Long], n: Long, sumAmount: Double)
  case class Alert(userId: String, kind: String, amount: Double, timestamp: Long, detail: String)

  /** The per-user state machine: fold a batch of transactions (sorted by
    * event time) through the state, emitting velocity/deviation alerts. A
    * transaction more than `ttlSec` after the key's previous one (the head
    * of `recentTs`) starts from empty state: the key has expired on the
    * data's clock. Package-visible so the batch twin of
    * [[detectEventTime]] can fold it over a static input. */
  private[graft] def advance(userId: String, txns: Seq[Txn], st0: UserState,
                             maxTxns: Int, windowSec: Long,
                             ttlSec: Long): (Seq[Alert], UserState) = {
    var st = st0
    val alerts = txns.flatMap { t =>
      if (st.recentTs.headOption.exists(t.timestamp - _ > ttlSec)) st = UserState(Nil, 0L, 0.0)
      val recent = (t.timestamp :: st.recentTs).filter(_ > t.timestamp - windowSec)
      val mean = if (st.n > 0) st.sumAmount / st.n else 0.0
      val velocity =
        if (recent.size > maxTxns)
          Some(Alert(userId, "velocity", t.amount, t.timestamp,
            s"${recent.size} txns in ${windowSec}s"))
        else None
      val deviation =
        if (st.n >= 3 && t.amount > 3 * mean)
          Some(Alert(userId, "deviation", t.amount, t.timestamp,
            f"amount ${t.amount}%.2f > 3x mean $mean%.2f"))
        else None
      st = UserState(recent, st.n + 1, st.sumAmount + t.amount)
      velocity ++ deviation
    }
    (alerts, st)
  }

  /** Buffered per-key event-time state: the not-yet-sealed events and the
    * detector's recent timestamps packed into bytes ([[pack]]), its two
    * running moments, and the max event time ever seen. A `BinaryType`
    * column decodes without `MapObjects`, so the state's decoder compiles
    * once per JVM; a `List` field would recompile it every micro-batch
    * (see [[KeyedFold]]). */
  case class EvState(packed: Array[Byte], n: Long, sumAmount: Double, lastSeen: Long)

  /** `pending.size`, then its `(timestamp, amount)` pairs, then `recentTs`. */
  private def pack(pending: Seq[Txn], recentTs: List[Long]): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(4 + 16 * pending.size + 8 * recentTs.size)
    b.putInt(pending.size)
    pending.foreach(t => b.putLong(t.timestamp).putDouble(t.amount))
    recentTs.foreach(b.putLong)
    b.array()
  }

  /** [[pack]]'s inverse: the pending events of `userId` and `recentTs`. */
  private def unpack(userId: String, packed: Array[Byte]): (List[Txn], List[Long]) = {
    val b = java.nio.ByteBuffer.wrap(packed)
    val pending = List.fill(b.getInt()) {
      val ts = b.getLong()
      Txn(userId, b.getDouble(), ts)
    }
    (pending, List.fill(b.remaining / 8)(b.getLong()))
  }

  /** Event-time variant, replay-invariant ACROSS micro-batches: incoming
    * events are BUFFERED in state and folded through the detector only
    * once the watermark seals them (ts ≤ watermark), in event-time order —
    * so how events are split into batches, their arrival order, and the
    * wall-clock replay speed cannot change the alerts. The price is the
    * watermark's detection latency (an alert fires once the watermark
    * passes its event), which is the standard event-time trade; events
    * later than the watermark are dropped by the stateful operator's late
    * filter (explicit policy, like the windowed aggs).
    *
    * State expiry also follows the data clock, inside [[advance]]: a
    * sealed event more than `stateTtlSec` after the key's previous sealed
    * event starts from empty state, so expiry, too, is the same in every
    * batch split. The timer at last-seen + TTL only frees storage: it
    * fires once the watermark passes that time, and Spark drops every
    * later row at or below the watermark, so a row reaching a key the
    * timer freed is more than `stateTtlSec` after the key's last event
    * and [[advance]] would have started it from empty state anyway. A key
    * with sealed-but-unprocessed events is woken by a timer instead of
    * waiting for new data, and the timer never regresses below last-seen
    * + TTL because `lastSeen` is monotone in state. */
  def detectEventTime(txns: Dataset[Txn], maxTxns: Int = 3, windowSec: Long = 60,
                      stateTtlSec: Long = 3600,
                      watermarkDelaySec: Long = 30): Dataset[Alert] = {
    val spark = txns.sparkSession
    import spark.implicits._
    KeyedFold.eventTime[Txn, String, EvState, Alert](txns, _.userId, "timestamp",
      watermarkDelaySec) { (userId, st0, rows, wmMs, timedOut) =>
      val st = st0.getOrElse(EvState(pack(Nil, Nil), 0L, 0.0, Long.MinValue))
      val (buffer, recentTs) = unpack(userId, st.packed)
      val buf = buffer ++ rows
      if (timedOut && buf.isEmpty) (None, Iterator.empty) // idle past TTL
      else {
        // the watermark SEALS a prefix of event time: fold exactly that
        // prefix, in event order — batch boundaries can't be observed
        val (ready, pending) = buf.partition(_.timestamp * 1000L <= wmMs)
        val (alerts, core1) = advance(userId,
          ready.sortBy(t => (t.timestamp, t.amount)), UserState(recentTs, st.n, st.sumAmount),
          maxTxns, windowSec, stateTtlSec)
        val lastSeen = (st.lastSeen +: buf.map(_.timestamp)).max
        // wake when the earliest pending event can be sealed — the event
        // at ts is sealable once the watermark REACHES ts (the watermark
        // already embeds the delay; adding it again would fire every
        // no-further-traffic alert one full delay late). With an empty
        // buffer, expire TTL after the newest event ever seen.
        val wakeMs =
          if (pending.nonEmpty) pending.map(_.timestamp).min * 1000L + 1
          else (lastSeen + stateTtlSec) * 1000L
        (Some((EvState(pack(pending, core1.recentTs), core1.n, core1.sumAmount, lastSeen), wakeMs)),
          alerts.iterator)
      }
    }
  }
}
