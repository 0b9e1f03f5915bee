package graft

import org.apache.spark.api.java.Optional
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.KeyedFold

/** The per-key state lifecycle [[KeyedFold]] gives every maintainer, on
  * both clocks, specced on Spark's `TestGroupState`. Query specs start
  * processing-time queries with empty micro-batches off, so the TTL is
  * armed but never fires there; this is where its expiry and re-arm run. */
class KeyedFoldSpec extends AnyFunSuite {
  private val BatchMs = 1000000L
  private val TtlMs = 3600000L // KeyedFold.Ttl, "1 hour"
  private val WmMs = 500000L

  private def groupState(s: Option[Long], timedOut: Boolean = false): TestGroupState[Long] =
    TestGroupState.create[Long](s.fold(Optional.empty[Long]())(Optional.of(_)),
      GroupStateTimeout.ProcessingTimeTimeout(), BatchMs, Optional.empty[Long](), timedOut)

  private def eventState(s: Option[Long], timedOut: Boolean = false): TestGroupState[Long] =
    TestGroupState.create[Long](s.fold(Optional.empty[Long]())(Optional.of(_)),
      GroupStateTimeout.EventTimeTimeout(), BatchMs, Optional.of(WmMs), timedOut)

  /** Adds the rows to the state and echoes them in the order it saw. */
  private def sum(k: String, s: Option[Long], rows: Seq[Long]): (Option[Long], Seq[Long]) =
    (Some(s.getOrElse(0L) + rows.sum), rows)

  test("a timed-out key is removed and emits nothing, without calling the fold") {
    val st = groupState(Some(5L), timedOut = true)
    var called = false
    val out = KeyedFold.step("k", Iterator.empty[Long], st, Ordering.Long) {
      (k: String, s: Option[Long], rows: Seq[Long]) => called = true; sum(k, s, rows)
    }
    assert(out.isEmpty && st.isRemoved && !st.exists && !called)
  }

  test("a fold returning Some updates the state and re-arms the TTL from batch time") {
    val st = groupState(Some(5L))
    val out = KeyedFold.step("k", Iterator(3L, 1L, 2L), st, Ordering.Long)(sum)
    assert(out.toSeq === Seq(1L, 2L, 3L), "rows reach the fold in fold order")
    assert(st.isUpdated && !st.isRemoved && st.get === 11L)
    assert(st.getTimeoutTimestampMs.get === BatchMs + TtlMs)
  }

  test("a fold returning None frees existing state and leaves absent state alone") {
    val held = groupState(Some(5L))
    KeyedFold.step("k", Iterator(1L), held, Ordering.Long) {
      (_: String, _: Option[Long], _: Seq[Long]) => (None, Seq.empty[Long])
    }
    assert(held.isRemoved && !held.exists && !held.isUpdated)
    val absent = groupState(None)
    KeyedFold.step("k", Iterator(1L), absent, Ordering.Long) {
      (_: String, _: Option[Long], _: Seq[Long]) => (None, Seq.empty[Long])
    }
    assert(!absent.isRemoved && !absent.exists && !absent.isUpdated)
  }

  test("an event-time wake at or below the watermark is set to watermark + 1; one above it is kept") {
    for ((wakeMs, want) <- Seq(WmMs - 1000 -> (WmMs + 1), WmMs -> (WmMs + 1),
                              (WmMs + 1) -> (WmMs + 1), (WmMs + 1000) -> (WmMs + 1000))) {
      val st = eventState(Some(5L))
      var seen: Option[(String, Option[Long], Seq[Long], Long, Boolean)] = None
      val out = KeyedFold.eventStep("k", Iterator(2L, 3L), st) { (k, s, rows, wm, timedOut) =>
        val rs = rows.toSeq
        seen = Some((k, s, rs, wm, timedOut))
        (Some((s.getOrElse(0L) + rs.sum, wakeMs)), Iterator(rs.sum))
      }
      assert(seen === Some(("k", Some(5L), Seq(2L, 3L), WmMs, false)),
        "the step sees the key, its state, its rows and the watermark")
      assert(out.toSeq === Seq(5L))
      assert(st.isUpdated && st.get === 10L)
      assert(st.getTimeoutTimestampMs.get === want, s"a wake at $wakeMs")
    }
  }

  test("an event-time step returning None frees held state and leaves absent state alone") {
    val free: KeyedFold.EventStep[Long, String, Long, Long] =
      (_, _, _, _, _) => (None, Iterator.empty)
    val held = eventState(Some(5L))
    assert(KeyedFold.eventStep("k", Iterator(1L), held)(free).isEmpty)
    assert(held.isRemoved && !held.exists && !held.isUpdated)
    val absent = eventState(None)
    KeyedFold.eventStep("k", Iterator(1L), absent)(free)
    assert(!absent.isRemoved && !absent.exists && !absent.isUpdated)
  }

  test("an event-time timer call gets timedOut = true and no rows") {
    val st = eventState(Some(5L), timedOut = true)
    var seen: Option[(Option[Long], Seq[Long], Boolean)] = None
    val out = KeyedFold.eventStep("k", Iterator.empty[Long], st) { (_, s, rows, _, timedOut) =>
      seen = Some((s, rows.toSeq, timedOut))
      (None, Iterator(7L))
    }
    assert(seen === Some((Some(5L), Nil, true)))
    assert(out.toSeq === Seq(7L), "a timer call may emit (a sealed window)")
    assert(st.isRemoved && !st.exists)
  }
}
