package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming twin of q196's SPRT — the test run the way Wald DESIGNED
  * it: sequentially, stopping the experiment THE MOMENT the evidence
  * crosses a boundary (the batch census is the retrospective audit; the
  * whole point of a sequential test is to not wait for the horizon).
  * Per (rule, arm) the state is the three sufficient numbers of the
  * walk — (llr, n, decided) — an order-dependent fold like
  * [[StreamCusum]] composed with a [[StreamAlert]]-style decision
  * latch: each arriving user outcome moves the log-likelihood by its
  * exact integer step; the FIRST boundary crossing emits exactly one
  * decision record (the "stop the experiment" message an
  * experimentation platform actually sends) and latches; later
  * outcomes for a decided pair are absorbed silently (in production
  * they trail in while the stop propagates).
  *
  * State lifecycle, processing-time TTL (bounding state by live
  * experiments) and the ordering contract (outcomes fold in (us, eventId)
  * order): [[KeyedFold]]. The spec proves
  * the streamed decisions equal batch q196's decided rows exactly —
  * (rule, arm, decision, n_at_decision, llr_at_decision) — across
  * chunk splits that cut walks mid-drift. */
object StreamSprt {
  /** One user outcome, already expanded per rule and dealt to its arm
    * (the md5 deal and the rule book are batch q196's; the reference's
    * keyed produce delivers per-key in order). */
  case class Obs(rule: String, arm: Long, us: Long, eventId: Long,
                 conv: Boolean, up: Long, down: Long)
  case class SState(llr: Long, n: Long, decided: Boolean)
  case class Decision(rule: String, arm: Long, decision: String,
                      nAtDecision: Long, llrAtDecision: Long)

  def track(obs: Dataset[Obs],
            bound: Long = graft.ops.RelationalOps.SprtBoundMicro): Dataset[Decision] = {
    val spark = obs.sparkSession
    import spark.implicits._
    KeyedFold[Obs, (String, Long), SState, Decision](obs, o => (o.rule, o.arm),
      Ordering.by(o => (o.us, o.eventId))) { (key, st0, rows) =>
      var st = st0.getOrElse(SState(0L, 0L, decided = false))
      val out = Seq.newBuilder[Decision]
      rows.foreach { o =>
        if (!st.decided) {
          val llr = st.llr + (if (o.conv) o.up else o.down)
          val n = st.n + 1
          if (llr >= bound || llr <= -bound) {
            out += Decision(key._1, key._2,
              if (llr >= bound) "accept_h1" else "accept_h0", n, llr)
            st = SState(llr, n, decided = true)
          } else st = SState(llr, n, decided = false)
        } // decided: the stop is propagating — trailing outcomes absorb
      }
      (Some(st), out.result())
    }
  }
}
