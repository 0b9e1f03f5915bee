package graft.streaming

import org.apache.spark.sql.Dataset

import graft.ops.SketchOps.MisraGries

/** Windowed frequent items over an unbounded stream — the streaming analog
  * of the batch heavy-hitters pass (q64), sharing the SAME mergeable
  * Misra-Gries kernel ([[graft.ops.SketchOps.MisraGries]] reduce), so the
  * batch and streaming answers carry identical guarantees.
  *
  * The dashboard capability this generalizes is the reference's "top
  * users" panel (README.md:342-356) — but computed per tumbling event-time
  * window over an unbounded stream with BOUNDED state: each open window
  * holds one k-entry MG summary + an exact row count, O(capacity) per
  * window regardless of key cardinality. That is the property that
  * survives a 100 TB replay; a per-key count-and-sort would hold the full
  * key universe in state.
  *
  * Event-time semantics follow [[VelocityDetector.detectEventTime]], on
  * the same [[KeyedFold.eventTime]] clock: a window seals when the
  * watermark passes its end (the timer fires at watermark-reach, never
  * later), sealed output is emitted once, and events arriving after their
  * window sealed are dropped by explicit policy (the standard watermark
  * trade).
  *
  * Sketch honesty in the output: MG counts are undercounts with error
  * ≤ n/(capacity+1), so each emitted row carries the bound
  * [minCount, maxCount] and `certain` (= the LOWER bound already clears
  * the threshold). Every true heavy hitter is emitted (the MG recall
  * guarantee needs `capacity + 1 > thresholdInv` — enforced); a row with
  * `certain = false` is a candidate whose true count may fall either side.
  *
  * Throughput ceiling, stated honestly: the group key is the window, so
  * one window's traffic folds through one task — state is O(capacity)
  * but CPU is single-core per open window. For streams beyond a few
  * M events/s the MG kernel's MERGEABILITY (property-proven for
  * arbitrary segmentations in `PropertySpec`) is the scale-out: key
  * stage 1 by (window, hash(key) % shards) — each key's counts stay
  * complete within its one shard, so per-shard summaries lose no
  * heavy hitter — and merge the ≤ shards summaries per window with
  * `MisraGries.merge` in a tiny downstream stage. Same kernel, same
  * bounds; this operator is that composition at shards = 1.
  */
object StreamHeavyHitters {
  case class Ev(key: String, timestamp: Long)
  case class WinState(counts: Map[String, Long], n: Long)
  case class Hitter(windowStart: Long, key: String,
                    minCount: Long, maxCount: Long, n: Long, certain: Boolean)

  def detect(events: Dataset[Ev], windowSec: Long = 60, capacity: Int = 64,
             thresholdInv: Int = 50,
             watermarkDelaySec: Long = 30): Dataset[Hitter] = {
    require(capacity + 1 > thresholdInv,
      s"capacity $capacity cannot guarantee recall at threshold n/$thresholdInv")
    require(windowSec > 0, "window must be positive")
    val spark = events.sparkSession
    import spark.implicits._
    val mg = new MisraGries(capacity)
    KeyedFold.eventTime[Ev, Long, WinState, Hitter](events,
      e => e.timestamp - java.lang.Math.floorMod(e.timestamp, windowSec), "timestamp",
      watermarkDelaySec) { (winStart, st0, rows, wmMs, timedOut) =>
      val st = st0.getOrElse(WinState(Map.empty, 0L))
      val winEndMs = (winStart + windowSec) * 1000L
      // watermark passed the window end: seal, emit once, drop state
      if (timedOut) (None, emit(winStart, st, capacity, thresholdInv))
      else {
        // rows for an already-sealed window are late past the delay —
        // dropped by policy (state now empty means the emit happened)
        val live = if (wmMs >= winEndMs) Iterator.empty else rows
        val st1 = live.foldLeft(st)((s, e) => WinState(mg.reduce(s.counts, e.key), s.n + 1))
        // nothing but late data ever reached this window: no state; else
        // seal exactly at watermark-reach of the window end
        (if (st1.n == 0L) None else Some((st1, winEndMs)), Iterator.empty)
      }
    }
  }

  private def emit(winStart: Long, st: WinState, capacity: Int,
                   thresholdInv: Int): Iterator[Hitter] = {
    if (st.n == 0L) Iterator.empty
    else {
      val err = st.n / (capacity + 1L) // MG undercount bound
      val thr = st.n.toDouble / thresholdInv
      st.counts.iterator
        .map { case (k, c) =>
          Hitter(winStart, k, c, c + err, st.n, certain = c > thr) }
        .filter(_.maxCount > thr) // cannot-be-heavy candidates pruned
        .toSeq.sortBy(_.key).iterator
    }
  }
}
