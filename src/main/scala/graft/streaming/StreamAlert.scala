package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming twin of q192's alert rule — the reference's ACTUAL product
  * (the `fraud-alerts` topic, `TransactionProcessor.java:54`) with
  * production `for:` semantics evaluated in-flight: an over-threshold
  * run holds PENDING as keyed state, and the moment an observation
  * arrives with the condition continuously held ≥ `forUs`, ONE firing
  * record is emitted — the pending→firing transition event an alert
  * topic actually carries (the batch q192 census is the audit view of
  * the same rule). A dip closes the run; a new run re-arms and may fire
  * again — alerts re-fire after recovery, once per island.
  *
  * State per key is one (islandStartUs, fired) latch (O(1) — nothing
  * buffers); no open island is no state, so a dip frees the key. State
  * lifecycle, processing-time TTL and the ordering contract (events fold
  * in (us, eventId) order): [[KeyedFold]].
  *
  * The spec proves the streamed firings equal batch q192's fired
  * islands' (user, start, fire) triples exactly — including islands
  * that SPAN micro-batches, the case the latch exists for. */
object StreamAlert {
  case class Obs(userId: Long, us: Long, eventId: Long, over: Boolean)
  /** The open over-threshold run, if any. */
  case class AState(startUs: Long, fired: Boolean)
  /** One per island crossing the holding time — the alert record. */
  case class Firing(userId: Long, startUs: Long, fireUs: Long)

  def track(events: Dataset[Obs],
            forUs: Long = graft.ops.RelationalOps.AlertForUs): Dataset[Firing] = {
    val spark = events.sparkSession
    import spark.implicits._
    KeyedFold[Obs, Long, AState, Firing](events, _.userId,
      Ordering.by(o => (o.us, o.eventId))) { (userId, st0, rows) =>
      var st = st0
      val out = Seq.newBuilder[Firing]
      rows.foreach { o =>
        if (!o.over) st = None
        else st match {
          case None => st = Some(AState(o.us, fired = false))
          case Some(s) if !s.fired && o.us >= s.startUs + forUs =>
            out += Firing(userId, s.startUs, o.us)
            st = Some(s.copy(fired = true))
          case _ => () // pending and not yet held long enough, or already fired
        }
      }
      (st, out.result())
    }
  }
}
