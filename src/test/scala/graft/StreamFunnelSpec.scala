package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.StreamFunnel
import graft.streaming.StreamFunnel.{Advance, Ev}

class StreamFunnelSpec extends SparkSpec {
  import spark.implicits._

  test("streamed advances aggregate to exactly the batch q136 census on the real corpus") {
    implicit val sc = spark.sqlContext
    val events = Tables.events(spark, "/root/testdata/sf0.001")
      .selectExpr("user_id AS userId", "event_type AS eventType",
        "unix_micros(ts) AS us", "event_id AS eventId")
      .as[Ev].collect().sortBy(e => (e.us, e.eventId))
    val mem = MemoryStream[Ev]
    val q = withoutEmptyBatches(spark)(StreamFunnel.track(mem.toDS())
      .writeStream.format("memory").queryName("funnel_test")
      .outputMode("append").start())
    try {
      // ts-ordered arrival split across three micro-batches — the
      // tail-following contract; state must carry stages across batches
      val chunks = events.grouped((events.length + 2) / 3).toSeq
      chunks.foreach { c => mem.addData(c.toIndexedSeq); q.processAllAvailable() }
      val streamed = spark.sql(
        """SELECT stage, COUNT(*) AS n_users, SUM(advanceUs) AS sum_adv
           FROM funnel_test GROUP BY stage ORDER BY stage""")
        .as[(Int, Long, Long)].collect().toSeq
      val batch = graft.ops.RelationalOps.funnelCensus(
          Tables.events(spark, "/root/testdata/sf0.001"))
        .selectExpr("stage", "n_users",
          "coalesce(sum_advance_us, CAST(0 AS BIGINT)) AS s")
        .as[(Int, Long, Long)].collect().toSeq
      assert(streamed.map(r => (r._1, r._2)) === batch.map(r => (r._1, r._2)),
        "per-stage user counts must match the batch census")
      // stage 1 advance is 0 by construction; stages 2-3 carry exact µs
      assert(streamed.filter(_._1 > 1).map(r => (r._1, r._3))
        === batch.filter(_._1 > 1).map(r => (r._1, r._3)),
        "per-stage total time-to-advance must match the batch census")
      // at most one advance per (user, stage) — the state machine is a latch
      val dups = spark.sql(
        "SELECT userId, stage, COUNT(*) c FROM funnel_test GROUP BY 1,2 HAVING COUNT(*) > 1")
      assert(dups.isEmpty)
    } finally q.stop()
  }

  test("ordered-strictness holds in-flight: simultaneous and pre-view clicks never advance") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = withoutEmptyBatches(spark)(StreamFunnel.track(mem.toDS())
      .writeStream.format("memory").queryName("funnel_edge")
      .outputMode("append").start())
    try {
      mem.addData(
        Ev(2L, "click", 5L, 1L), Ev(2L, "view", 10L, 2L),    // click before view
        Ev(3L, "view", 7L, 3L), Ev(3L, "click", 7L, 4L))     // simultaneous
      q.processAllAvailable()
      // a LATER click for u2 converts (its first view is now set)
      mem.addData(Ev(2L, "click", 20L, 5L)); q.processAllAvailable()
      val got = spark.sql(
        "SELECT userId, stage, advanceUs FROM funnel_edge ORDER BY userId, stage")
        .as[(Long, Int, Long)].collect().toSeq
      assert(got === Seq((2L, 1, 0L), (2L, 2, 10L), (3L, 1, 0L)),
        s"got $got")
    } finally q.stop()
  }
}
