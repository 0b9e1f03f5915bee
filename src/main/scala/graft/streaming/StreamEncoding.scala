package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming twin of q201's encoding chooser — the writer-side analysis
  * maintained AS DATA LANDS, which is when a real columnar writer makes
  * the choice (Parquet picks dictionary-vs-plain while the row group is
  * open, not after a batch re-scan). The taxonomy lesson is the RUN
  * BOUNDARY: value counts, lengths, and NDV are order-free SUM/set
  * state, but run counts are not — a run spanning two micro-batches
  * must NOT count twice, so the per-day state carries each column's
  * LAST value and a new batch's first value extends the open run
  * instead of opening one (the associative segment-merge law
  * `runs(A ⧺ B) = runs(A) + runs(B) − [last(A) = first(B)]`, folded
  * incrementally). State lifecycle, processing-time TTL and the
  * ordering contract: [[KeyedFold]] — rows fold in (us, eventId) order
  * within a batch and arrival respects ingest order per day, exactly a
  * writer's append stream.
  *
  * Emits the day's full current ledger (3 rows, versioned) after every
  * batch that touches it; the highest version per day is the live
  * manifest and bit-equals batch q201's rows for that day, spec-proven
  * across arrival splits that cut runs mid-value. State per day is
  * bounded by the day's distinct values per column — the same bound the
  * batch ledger itself needs, and a file's worth in production. */
object StreamEncoding {
  case class Obs(day: Long, us: Long, eventId: Long,
                 eventType: String, cents: Long, hour: Long)
  case class EState(n: Long, etLen: Long,
                    etCounts: Map[String, Long], cCounts: Map[Long, Long],
                    hCounts: Map[Long, Long],
                    etLast: Option[String], etRuns: Long, etHeadLen: Long,
                    cLast: Option[Long], cRuns: Long,
                    hLast: Option[Long], hRuns: Long,
                    version: Long)
  case class Ledger(day: Long, col: String, n: Long, ndv: Long, runs: Long,
                    plainBytes: Long, dictBytes: Long, rleBytes: Long,
                    chosen: String, chosenBytes: Long, savingsMicro: Long,
                    version: Long)

  private def bits(d: Long): Long = {
    var b = 1L
    while ((1L << b) < d) b += 1
    b
  }

  /** The q201 ledger formulas over the folded state — one definition of
    * the byte arithmetic on the streamed side, matched to the batch SQL
    * by the parity spec. */
  private def ledgers(day: Long, s: EState): Seq[Ledger] = {
    def pick(n: Long, ndv: Long, runs: Long, plain: Long, dict: Long,
             rle: Long, col: String): Ledger = {
      val (chosen, cb) =
        if (dict <= plain && dict <= rle) ("dict", dict)
        else if (plain <= rle) ("plain", plain) else ("rle", rle)
      Ledger(day, col, n, ndv, runs, plain, dict, rle, chosen, cb,
        1000000L * (plain - cb) / plain, s.version)
    }
    val etD = s.etCounts.size.toLong
    val etDictLen = s.etCounts.keysIterator.map(_.length.toLong).sum
    Seq(
      pick(s.n, s.cCounts.size.toLong, s.cRuns, 8 * s.n,
        8 * s.cCounts.size + (s.n * bits(s.cCounts.size.toLong) + 7) / 8,
        12 * s.cRuns, "cents"),
      pick(s.n, etD, s.etRuns, s.etLen + 4 * s.n,
        etDictLen + 4 * etD + (s.n * bits(etD) + 7) / 8,
        s.etHeadLen + 8 * s.etRuns, "event_type"),
      pick(s.n, s.hCounts.size.toLong, s.hRuns, 8 * s.n,
        8 * s.hCounts.size + (s.n * bits(s.hCounts.size.toLong) + 7) / 8,
        12 * s.hRuns, "hour"))
  }

  def track(obs: Dataset[Obs]): Dataset[Ledger] = {
    val spark = obs.sparkSession
    import spark.implicits._
    KeyedFold[Obs, Long, EState, Ledger](obs, _.day,
      Ordering.by(o => (o.us, o.eventId))) { (day, st0, rows) =>
      var st = st0.getOrElse(EState(0L, 0L,
        Map.empty, Map.empty, Map.empty,
        None, 0L, 0L, None, 0L, None, 0L, 0L))
      rows.foreach { o =>
        // the boundary law in action: only a CHANGED value (or the
        // day's very first) opens a run — a batch seam never does
        val etHead = !st.etLast.contains(o.eventType)
        val cHead = !st.cLast.contains(o.cents)
        val hHead = !st.hLast.contains(o.hour)
        st = st.copy(
          n = st.n + 1,
          etLen = st.etLen + o.eventType.length,
          etCounts = st.etCounts.updated(o.eventType,
            st.etCounts.getOrElse(o.eventType, 0L) + 1),
          cCounts = st.cCounts.updated(o.cents,
            st.cCounts.getOrElse(o.cents, 0L) + 1),
          hCounts = st.hCounts.updated(o.hour,
            st.hCounts.getOrElse(o.hour, 0L) + 1),
          etLast = Some(o.eventType),
          etRuns = st.etRuns + (if (etHead) 1 else 0),
          etHeadLen = st.etHeadLen +
            (if (etHead) o.eventType.length.toLong else 0L),
          cLast = Some(o.cents),
          cRuns = st.cRuns + (if (cHead) 1 else 0),
          hLast = Some(o.hour),
          hRuns = st.hRuns + (if (hHead) 1 else 0))
      }
      st = st.copy(version = st.version + 1)
      (Some(st), ledgers(day, st))
    }
  }
}
