package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.ops.{EventOps, RelationalOps}
import graft.streaming.StreamAlert

class StreamAlertSpec extends SparkSpec {
  import spark.implicits._

  private val thr = (EventOps.FraudThreshold * 100).toLong

  test("streamed firings equal batch q192's fired islands exactly, with islands spanning micro-batches") {
    implicit val sc = spark.sqlContext
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val want = RelationalOps.alertFiring(events).collect()
      .filter(_.getBoolean(6))
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(7))).toSet
    assert(want.nonEmpty, "the corpus must fire at least one alert")
    // global (us, event_id) order delivers per-user in order; 7 chunks cut
    // many islands mid-run, exercising the cross-batch latch
    val rows = events.filter("value IS NOT NULL")
      .selectExpr("user_id AS userId", "unix_micros(ts) AS us",
        "event_id AS eventId",
        s"CAST(round(value * 100) AS BIGINT) > $thr AS over")
      .as[StreamAlert.Obs].collect().sortBy(o => (o.us, o.eventId)).toSeq
    val mem = MemoryStream[StreamAlert.Obs]
    val out = Files.createTempDirectory("alerts").toString
    val ck = Files.createTempDirectory("alerts_ck").toString
    // empty micro-batches off: the armed TTL would otherwise make the
    // engine free-run them, and processAllAvailable would never return
    val q = withoutEmptyBatches(spark)(StreamAlert.track(mem.toDS()).writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", ck).start())
    try {
      rows.grouped((rows.length + 6) / 7).foreach { c =>
        mem.addData(c.toIndexedSeq); q.processAllAvailable()
      }
      val got = spark.read.parquet(out)
        .as[StreamAlert.Firing].collect()
        .map(f => (f.userId, f.startUs, f.fireUs))
      assert(got.length === got.toSet.size, "one firing per island, exactly once")
      assert(got.toSet === want,
        "streamed firings must equal the batch census's fired islands")
    } finally q.stop()
  }

  test("the latch fires once at the transition, a dip re-arms, a lone spike never fires") {
    val forUs = RelationalOps.AlertForUs
    def run(obs: Seq[(Long, Long)]): Seq[(Long, Long)] = { // (us, cents)
      implicit val sc = spark.sqlContext
      val mem = MemoryStream[StreamAlert.Obs]
      val recs = obs.zipWithIndex.map { case ((us, c), i) =>
        StreamAlert.Obs(1L, us, i.toLong, c > thr)
      }
      val out = Files.createTempDirectory("alerts2").toString
      val ck = Files.createTempDirectory("alerts2_ck").toString
      val q = withoutEmptyBatches(spark)(StreamAlert.track(mem.toDS()).writeStream
        .format("parquet").option("path", out)
        .option("checkpointLocation", ck).start())
      try {
        // one observation per micro-batch: every latch carry is cross-batch
        recs.foreach { r => mem.addData(r); q.processAllAvailable() }
        spark.read.parquet(out).as[StreamAlert.Firing].collect()
          .map(f => (f.startUs, f.fireUs)).sorted.toSeq
      } finally q.stop()
    }
    val h = 3600000000L
    // over @0, over @13h (fires HERE), over @14h (already fired — silent),
    // dip @15h, over @16h..@29h (re-arms, fires at 29h: held 13h >= 12h)
    val fires = run(Seq((0L, 20000L), (13 * h, 30000L), (14 * h, 25000L),
      (15 * h, 10L), (16 * h, 20000L), (29 * h, 21000L)))
    assert(fires === Seq((0L, 13 * h), (16 * h, 29 * h)),
      "fire at the transition once, re-fire only after a dip re-arms")
    // pending forever: a lone spike, then a dip, then another lone spike
    assert(run(Seq((0L, 20000L), (1 * h, 10L), (2 * h, 20000L))).isEmpty,
      "runs that never reach the holding time stay pending")
  }
}
