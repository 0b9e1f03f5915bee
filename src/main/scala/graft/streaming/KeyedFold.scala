package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The keyed-state lifecycle shared by the processing-time maintainers
  * ([[VelocityDetector.detect]], [[StreamCusum]], [[StreamAlert]],
  * [[StreamSprt]], [[StreamFunnel]], [[StreamEncoding]]): group by key,
  * sort each key's micro-batch rows into fold order, fold them through the
  * maintainer's pure step, and keep or free the key's state.
  *
  * The fold sees `None` for a key with no state and returns the next
  * state: `Some` stores it and re-arms the TTL, `None` frees the key (the
  * [[StreamAlert]] latch closing its run). It runs once per key per
  * micro-batch, not per row, so a maintainer may emit after the whole
  * batch ([[StreamEncoding]]'s ledger).
  *
  * Expiry is a processing-time TTL: `stateTimeout` is a duration string
  * (the maintainers default to "1 hour"), and a key idle that long is
  * removed with no output — total state stays bounded by keys active
  * inside the TTL. `None` keeps state forever, which only specs want: the
  * timeout wakes the stream in empty micro-batches, which makes
  * `processAllAvailable` spin, so specs that drive a query pass
  * `stateTimeout = None` and [[step]] is specced directly for the TTL.
  *
  * Ordering contract: rows fold in `order` within a micro-batch, and
  * arrival must respect event time across batches (a tail-following keyed
  * stream, which the reference's keyed produce guarantees per user). For
  * out-of-order replay, buffer until the watermark seals, as
  * [[VelocityDetector.detectEventTime]] does. */
object KeyedFold {
  def apply[In, K: Encoder, S: Encoder, Out: Encoder](
      ds: Dataset[In], key: In => K, order: Ordering[In],
      stateTimeout: Option[String])(
      fold: (K, Option[S], Seq[In]) => (Option[S], Seq[Out])): Dataset[Out] = {
    val timeoutConf =
      if (stateTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    ds.groupByKey(key).flatMapGroupsWithState[S, Out](OutputMode.Append(), timeoutConf) {
      (k: K, rows: Iterator[In], state: GroupState[S]) =>
        step(k, rows, state, order, stateTimeout)(fold)
    }
  }

  /** One key's micro-batch: expire on timeout, else fold and store. */
  def step[In, K, S, Out](k: K, rows: Iterator[In], state: GroupState[S],
                          order: Ordering[In], stateTimeout: Option[String])(
      fold: (K, Option[S], Seq[In]) => (Option[S], Seq[Out])): Iterator[Out] =
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val (next, out) = fold(k, state.getOption, rows.toSeq.sorted(order))
      next match {
        case Some(s) =>
          state.update(s)
          stateTimeout.foreach(state.setTimeoutDuration)
        case None => if (state.exists) state.remove()
      }
      out.iterator
    }
}
