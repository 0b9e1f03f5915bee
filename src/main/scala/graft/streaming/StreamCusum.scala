package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming twin of q193's CUSUM drift chart — Page's statistic
  * maintained in-flight, the sequential detector it was DESIGNED as
  * (the batch query is the audit view; the chart's whole point is to
  * alarm while the drift is happening). The maintainer-taxonomy class
  * this adds is the ORDER-DEPENDENT LEFT FOLD: unlike the SUM/MAX/OR
  * stores (order-free algebra) and the [[StreamAlert]] latch (a
  * two-valued flag), the CUSUM clamp `S ← max(0, S + y)` is a genuine
  * non-commutative fold — yet its state is still O(1) per key, because
  * the closed form `S_i = P_i − min(0, min_{j≤i} P_j)` (see
  * [[graft.ops.RelationalOps.cusumDrift]]) exposes exactly two
  * sufficient numbers: the running prefix sum and its running minimum.
  * Folding those two forward per observation reproduces every batch row
  * bit-for-bit, proven by the spec across chunk splits that cut
  * in-control and drifting stretches alike.
  *
  * Emits one row PER OBSERVATION (the rendered chart q193 ships), not
  * just transitions — the dashboard sibling of [[StreamAlert]]'s
  * alert-topic shape. State lifecycle, processing-time TTL and the
  * ordering contract (rows fold in (us, eventId) order): [[KeyedFold]]. */
object StreamCusum {
  case class Obs(userId: Long, us: Long, eventId: Long, cents: Long)
  /** The two sufficient statistics of the clamp fold. */
  case class CState(prefix: Long, minPrefix: Long)
  case class Point(userId: Long, us: Long, eventId: Long, cents: Long,
                   cusum: Long, alarm: Boolean)

  def track(events: Dataset[Obs],
            slack: Long = graft.ops.RelationalOps.CusumSlackCents,
            alarmAt: Long = graft.ops.RelationalOps.CusumAlarmCents): Dataset[Point] = {
    val spark = events.sparkSession
    import spark.implicits._
    KeyedFold[Obs, Long, CState, Point](events, _.userId,
      Ordering.by(o => (o.us, o.eventId))) { (userId, st0, rows) =>
      var st = st0.getOrElse(CState(0L, 0L))
      val out = rows.map { o =>
        val p = st.prefix + o.cents - slack
        st = CState(p, math.min(st.minPrefix, p))
        // minPrefix starts at 0, so min(0, ·) is already folded in
        val s = p - st.minPrefix
        Point(userId, o.us, o.eventId, o.cents, s, s >= alarmAt)
      }
      (Some(st), out)
    }
  }
}
