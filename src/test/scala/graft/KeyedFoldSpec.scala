package graft

import org.apache.spark.api.java.Optional
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.KeyedFold

/** The processing-time state lifecycle [[KeyedFold]] gives its six
  * maintainers, specced per key on Spark's `TestGroupState`. Query specs
  * pass `stateTimeout = None` (a live TTL keeps waking the stream), so
  * this is where the production default's expiry and re-arm run. */
class KeyedFoldSpec extends AnyFunSuite {
  private val BatchMs = 1000000L
  private val TtlMs = 3600000L // "1 hour", the maintainers' default
  private val ttl = Some("1 hour")
  private val ttlConf = GroupStateTimeout.ProcessingTimeTimeout()

  private def groupState(s: Option[Long], conf: GroupStateTimeout,
                         timedOut: Boolean = false): TestGroupState[Long] =
    TestGroupState.create[Long](s.fold(Optional.empty[Long]())(Optional.of(_)),
      conf, BatchMs, Optional.empty[Long](), timedOut)

  /** Adds the rows to the state and echoes them in the order it saw. */
  private def sum(k: String, s: Option[Long], rows: Seq[Long]): (Option[Long], Seq[Long]) =
    (Some(s.getOrElse(0L) + rows.sum), rows)

  test("a timed-out key is removed and emits nothing, without calling the fold") {
    val st = groupState(Some(5L), ttlConf, timedOut = true)
    var called = false
    val out = KeyedFold.step("k", Iterator.empty[Long], st, Ordering.Long, ttl) {
      (k: String, s: Option[Long], rows: Seq[Long]) => called = true; sum(k, s, rows)
    }
    assert(out.isEmpty && st.isRemoved && !st.exists && !called)
  }

  test("a fold returning Some updates the state and re-arms the TTL from batch time") {
    val st = groupState(Some(5L), ttlConf)
    val out = KeyedFold.step("k", Iterator(3L, 1L, 2L), st, Ordering.Long, ttl)(sum)
    assert(out.toSeq === Seq(1L, 2L, 3L), "rows reach the fold in fold order")
    assert(st.isUpdated && !st.isRemoved && st.get === 11L)
    assert(st.getTimeoutTimestampMs.get === BatchMs + TtlMs)
  }

  test("a fold returning None frees existing state and leaves absent state alone") {
    val held = groupState(Some(5L), ttlConf)
    KeyedFold.step("k", Iterator(1L), held, Ordering.Long, ttl) {
      (_: String, _: Option[Long], _: Seq[Long]) => (None, Seq.empty[Long])
    }
    assert(held.isRemoved && !held.exists && !held.isUpdated)
    val absent = groupState(None, ttlConf)
    KeyedFold.step("k", Iterator(1L), absent, Ordering.Long, ttl) {
      (_: String, _: Option[Long], _: Seq[Long]) => (None, Seq.empty[Long])
    }
    assert(!absent.isRemoved && !absent.exists && !absent.isUpdated)
  }

  test("stateTimeout = None stores the state and sets no timeout") {
    // NoTimeout makes setTimeoutDuration throw, so passing also proves
    // the helper never calls it without a TTL
    val st = groupState(None, GroupStateTimeout.NoTimeout())
    var seen: Option[Long] = Some(-1L)
    KeyedFold.step("k", Iterator(4L), st, Ordering.Long, None) {
      (k: String, s: Option[Long], rows: Seq[Long]) => seen = s; sum(k, s, rows)
    }
    assert(seen === None, "a key without state folds from None")
    assert(st.isUpdated && st.get === 4L && !st.getTimeoutTimestampMs.isPresent)
  }
}
