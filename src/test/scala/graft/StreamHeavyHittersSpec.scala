package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.StreamHeavyHitters
import graft.streaming.StreamHeavyHitters.{Ev, Hitter}

class StreamHeavyHittersSpec extends SparkSpec {
  import spark.implicits._

  private def run(batches: Seq[Seq[Ev]], name: String, windowSec: Long = 60,
                  capacity: Int = 64, thresholdInv: Int = 3,
                  watermarkDelaySec: Long = 0): Seq[Hitter] = {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamHeavyHitters.detect(mem.toDS(), windowSec = windowSec,
      capacity = capacity, thresholdInv = thresholdInv,
      watermarkDelaySec = watermarkDelaySec)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      // sentinels push the watermark far past every window so seals fire
      mem.addData(Ev("sentinel", 1000000)); q.processAllAvailable()
      mem.addData(Ev("sentinel", 1000001)); q.processAllAvailable()
      spark.table(name).as[Hitter].collect().toSeq
        .filterNot(_.key == "sentinel")
        .sortBy(h => (h.windowStart, h.key))
    } finally q.stop()
  }

  test("window seals at watermark-reach and emits exact counts when unsaturated") {
    // window [0, 60): a×5, b×2 → n=7, threshold n/3 ≈ 2.33: only a clears it
    val evs = Seq.fill(5)(Ev("a", 10)) ++ Seq(Ev("b", 20), Ev("b", 30))
    val got = run(Seq(evs), "hh_exact")
    assert(got === Seq(Hitter(0L, "a", 5L, 5L, 7L, certain = true)))
  }

  test("output is invariant to how events split into micro-batches") {
    // scrambled arrival is only invariant within the allowed lateness, so
    // the delay must cover the largest scramble (63s here) — the same
    // honest bound VelocityDetector's replay test states
    val w0 = Seq(Ev("a", 1), Ev("a", 2), Ev("b", 3), Ev("a", 4))
    val w1 = Seq(Ev("c", 61), Ev("c", 62), Ev("d", 63))
    val one = run(Seq(w0 ++ w1), "hh_one", watermarkDelaySec = 120)
    val split = run(Seq(Seq(w0(0), w1(2)), Seq(w0(2), w0(1)), Seq(w1(0), w0(3), w1(1))),
      "hh_split", watermarkDelaySec = 120)
    assert(one === split)
    assert(one.map(h => (h.windowStart, h.key)) === Seq((0L, "a"), (60L, "c")))
  }

  test("a saturated summary still surfaces every true heavy hitter (recall)") {
    // capacity 2, threshold n/2: h has 10 of n=15 — MG may undercount h by
    // up to n/3 = 5, but h must still be emitted as a candidate
    val evs = Seq.fill(10)(Ev("h", 5)) ++ (1 to 5).map(i => Ev(s"t$i", 6L))
    val got = run(Seq(evs), "hh_saturated", capacity = 2, thresholdInv = 2)
    assert(got.exists(_.key == "h"), s"true heavy hitter lost: $got")
    val h = got.find(_.key == "h").get
    assert(h.minCount <= 10L && h.maxCount >= 10L,
      s"true count 10 outside reported bounds: $h")
  }

  test("a row behind the watermark never reaches the step — counted as dropped, no hitter changes") {
    implicit val sc = spark.sqlContext
    /** The hitters and the operator's late-row count; `extra` rides in
      * the batch after the watermark has passed 47 s for two batches,
      * while window [40, 50) is still open. */
    def run(extra: Seq[Ev], name: String): (Seq[Hitter], Long) = {
      val mem = MemoryStream[Ev]
      val q = StreamHeavyHitters.detect(mem.toDS(), windowSec = 10, capacity = 4,
        thresholdInv = 3, watermarkDelaySec = 5)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        Seq(Seq(Ev("a", 41), Ev("a", 42), Ev("b", 43)), Seq(Ev("c", 52)), Seq(Ev("c", 53)),
          Ev("c", 54) +: extra, Seq(Ev("sentinel", 100000)), Seq(Ev("sentinel", 100001)))
          .foreach { b => mem.addData(b: _*); q.processAllAvailable() }
        (spark.table(name).as[Hitter].collect().toSeq.filterNot(_.key == "sentinel")
          .sortBy(h => (h.windowStart, h.key)),
          q.recentProgress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum)
      } finally q.stop()
    }
    val (onTime, onTimeDropped) = run(Nil, "hh_late_none")
    // counted, b@44 would lift b over n/3 in window [40, 50)
    val (late, lateDropped) = run(Seq(Ev("b", 44)), "hh_late_one")
    assert(onTime.map(h => (h.windowStart, h.key)) === Seq((40L, "a"), (50L, "c")))
    assert(late === onTime, "a late row must not change the hitters")
    assert(lateDropped - onTimeDropped === 1L, "the operator drops the late row")
  }

  test("events later than a sealed window are dropped by policy, not recounted") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamHeavyHitters.detect(mem.toDS(), windowSec = 60,
      thresholdInv = 3, watermarkDelaySec = 0)
      .writeStream.format("memory").queryName("hh_late").outputMode("append").start()
    try {
      mem.addData(Ev("a", 10), Ev("a", 20), Ev("a", 30))
      q.processAllAvailable()
      // watermark jumps past window [0,60) → it seals and emits
      mem.addData(Ev("x", 200)); q.processAllAvailable()
      mem.addData(Ev("x", 201)); q.processAllAvailable()
      val sealedRows = spark.table("hh_late").as[Hitter].collect()
        .filter(_.windowStart == 0L)
      assert(sealedRows.map(_.key).toSeq === Seq("a"))
      // a straggler for the sealed window must not resurrect it
      mem.addData(Ev("a", 40)); q.processAllAvailable()
      mem.addData(Ev("x", 300)); q.processAllAvailable()
      mem.addData(Ev("x", 301)); q.processAllAvailable()
      val after = spark.table("hh_late").as[Hitter].collect()
        .filter(_.windowStart == 0L)
      assert(after.toSeq === sealedRows.toSeq, "sealed window re-emitted")
    } finally q.stop()
  }
}
