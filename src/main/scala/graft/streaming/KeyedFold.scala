package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.functions.{col, timestamp_seconds}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The keyed-state lifecycle of every stateful maintainer, on the two
  * timeout clocks of Spark's keyed state: group by key, run the
  * maintainer's pure step over each key's micro-batch rows, and keep or
  * free the key's state. The only `flatMapGroupsWithState` call.
  *
  * Processing time, [[apply]] ([[StreamCusum]], [[StreamAlert]],
  * [[StreamSprt]], [[StreamFunnel]], [[StreamEncoding]]): the fold sees `None` for a key with no state and
  * returns the next state: `Some` stores it and re-arms the TTL, `None`
  * frees the key (the [[StreamAlert]] latch closing its run). It runs
  * once per key per micro-batch, not per row, so a maintainer may emit
  * after the whole batch ([[StreamEncoding]]'s ledger). A key idle for
  * [[Ttl]] is removed with no output, so total state stays bounded by
  * keys active inside it. The armed TTL makes the engine run an empty
  * micro-batch on every trigger, so such a query starts on the ticking
  * [[BatchSink.start]] ([[BatchSink.startBackToBack]] refuses it), and
  * `processAllAvailable` never returns on it; specs turn
  * `spark.sql.streaming.noDataMicroBatches` off around them, and [[step]]
  * is specced directly for the expiry. [[eventTime]] runs a no-data
  * batch only when the watermark moves, so it may run back to back.
  *
  * Ordering contract: rows fold in `order` within a micro-batch, and
  * arrival must respect event time across batches (a tail-following keyed
  * stream, which the reference's keyed produce guarantees per user). For
  * out-of-order replay, use the event-time clock, [[eventTime]]
  * ([[VelocityDetector.detectEventTime]], [[StreamHeavyHitters]]).
  *
  * State type: a state `S` with a `Seq`/`List`/`Array`/`Map` field
  * decodes through `MapObjects`, whose lambda variables Spark renames each
  * time it re-resolves the state deserializer, once per micro-batch. The
  * decoder's generated source then differs in every batch and is compiled
  * again there, on one task while the others wait on `CodeGenerator`'s
  * compile lock. Flat fields and `Array[Byte]` (`BinaryType`) compile
  * once per JVM, so [[VelocityDetector.EvState]] packs its buffer into
  * bytes. */
object KeyedFold {
  val Ttl = "1 hour"

  def apply[In, K: Encoder, S: Encoder, Out: Encoder](
      ds: Dataset[In], key: In => K, order: Ordering[In])(
      fold: (K, Option[S], Seq[In]) => (Option[S], Seq[Out])): Dataset[Out] =
    ds.groupByKey(key).flatMapGroupsWithState[S, Out](
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()) {
      (k: K, rows: Iterator[In], state: GroupState[S]) => step(k, rows, state, order)(fold)
    }

  /** One key's micro-batch: expire on timeout, else fold and store. */
  def step[In, K, S, Out](k: K, rows: Iterator[In], state: GroupState[S],
                          order: Ordering[In])(
      fold: (K, Option[S], Seq[In]) => (Option[S], Seq[Out])): Iterator[Out] =
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val (next, out) = fold(k, state.getOption, rows.toSeq.sorted(order))
      next match {
        case Some(s) =>
          state.update(s)
          state.setTimeoutDuration(Ttl)
        case None => if (state.exists) state.remove()
      }
      out.iterator
    }

  /** An event-time step: (key, state, new rows — none on a timer call,
    * watermark ms, timed out) ⇒ (the state to keep with its wake time in
    * event-time ms, or `None` to free the key; the rows to emit). */
  type EventStep[In, K, S, Out] =
    (K, Option[S], Iterator[In], Long, Boolean) => (Option[(S, Long)], Iterator[Out])

  /** The data's clock: `tsCol` (epoch seconds) becomes `eventTime`,
    * watermarked `delaySec` behind the newest event. `.as[In]` keeps
    * `eventTime` in the plan, so the operator drops rows behind the
    * watermark (`numRowsDroppedByWatermark`) before the step sees them. */
  def eventTime[In: Encoder, K: Encoder, S: Encoder, Out: Encoder](
      ds: Dataset[In], key: In => K, tsCol: String, delaySec: Long)(
      step: EventStep[In, K, S, Out]): Dataset[Out] =
    ds.withColumn("eventTime", timestamp_seconds(col(tsCol)))
      .withWatermark("eventTime", s"$delaySec seconds")
      .as[In].groupByKey(key)
      .flatMapGroupsWithState[S, Out](OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (k: K, rows: Iterator[In], state: GroupState[S]) => eventStep(k, rows, state)(step)
      }

  /** One key's event-time call. A timer never lands at or below the
    * watermark: Spark rejects one below it, so a wake the watermark has
    * already reached becomes watermark + 1 and fires once it next moves. */
  def eventStep[In, K, S, Out](k: K, rows: Iterator[In], state: GroupState[S])(
      step: EventStep[In, K, S, Out]): Iterator[Out] = {
    val wmMs = state.getCurrentWatermarkMs()
    val (next, out) = step(k, state.getOption, rows, wmMs, state.hasTimedOut)
    next match {
      case Some((s, wakeMs)) =>
        state.update(s)
        state.setTimeoutTimestamp(math.max(wakeMs, wmMs + 1))
      case None => if (state.exists) state.remove()
    }
    out
  }
}
