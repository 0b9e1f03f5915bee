package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming twin of q136's ordered funnel: per-user stage progress
  * (view → click → purchase, strictly ordered in event time) tracked as
  * keyed state via the shared [[KeyedFold]], emitting an advance record
  * the moment a user reaches a stage — the in-flight conversion feed a
  * product dashboard tails, vs q136's batch census over the same rule.
  *
  * State per key is three epoch-µs slots (O(1) — nothing buffers).
  * Stage rules are shared with the batch side
  * ([[graft.ops.RelationalOps.FunnelStages]]), and the spec proves the
  * streamed advances aggregate to exactly the batch q136 census. State
  * lifecycle, processing-time TTL and the ordering contract (events fold
  * in (us, eventId) order): [[KeyedFold]]. */
object StreamFunnel {
  case class Ev(userId: Long, eventType: String, us: Long, eventId: Long)
  /** -1 = stage not reached. */
  case class FState(t1: Long, t2: Long, t3: Long)
  /** `advanceUs` is the time from the previous stage (0 at stage 1). */
  case class Advance(userId: Long, stage: Int, us: Long, advanceUs: Long)

  def track(events: Dataset[Ev]): Dataset[Advance] = {
    val spark = events.sparkSession
    import spark.implicits._
    val stages = graft.ops.RelationalOps.FunnelStages
    KeyedFold[Ev, Long, FState, Advance](events, _.userId,
      Ordering.by(e => (e.us, e.eventId))) { (userId, st0, rows) =>
      var st = st0.getOrElse(FState(-1L, -1L, -1L))
      val out = Seq.newBuilder[Advance]
      // fold in event order — the batch census's min-based stage
      // rule is exactly this greedy fold over an ordered series
      rows.foreach { e =>
        if (st.t1 < 0 && e.eventType == stages(0)) {
          st = st.copy(t1 = e.us)
          out += Advance(userId, 1, e.us, 0L)
        } else if (st.t1 >= 0 && st.t2 < 0 && e.eventType == stages(1)
                   && e.us > st.t1) { // strictly after — q136's rule
          st = st.copy(t2 = e.us)
          out += Advance(userId, 2, e.us, e.us - st.t1)
        } else if (st.t2 >= 0 && st.t3 < 0 && e.eventType == stages(2)
                   && e.us > st.t2) {
          st = st.copy(t3 = e.us)
          out += Advance(userId, 3, e.us, e.us - st.t2)
        }
      }
      (Some(st), out.result())
    }
  }
}
