package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.ops.RelationalOps
import graft.streaming.StreamCusum

class StreamCusumSpec extends SparkSpec {
  import spark.implicits._

  test("streamed CUSUM points equal batch q193 exactly across chunk splits") {
    implicit val sc = spark.sqlContext
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val want = RelationalOps.cusumDrift(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toSet
    assert(want.exists(_._6) && want.exists(!_._6),
      "the corpus must populate both alarm branches")
    val rows = events.filter("value IS NOT NULL")
      .selectExpr("user_id AS userId", "unix_micros(ts) AS us",
        "event_id AS eventId",
        "CAST(round(value * 100) AS BIGINT) AS cents")
      .as[StreamCusum.Obs].collect().sortBy(o => (o.us, o.eventId)).toSeq
    val mem = MemoryStream[StreamCusum.Obs]
    val out = Files.createTempDirectory("cusum").toString
    val ck = Files.createTempDirectory("cusum_ck").toString
    val q = withoutEmptyBatches(spark)(StreamCusum.track(mem.toDS()).writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", ck).start())
    try {
      // 7 chunks cut users' series mid-drift: the (prefix, minPrefix)
      // fold state must carry the statistic across micro-batches
      rows.grouped((rows.length + 6) / 7).foreach { c =>
        mem.addData(c.toIndexedSeq); q.processAllAvailable()
      }
      val got = spark.read.parquet(out).as[StreamCusum.Point].collect()
        .map(p => (p.userId, p.us, p.eventId, p.cents, p.cusum, p.alarm))
      assert(got.length === want.size, "one point per observation")
      assert(got.toSet === want,
        "streamed chart must equal the batch census bit-for-bit")
    } finally q.stop()
  }

  test("the fold state carries the clamp across one-observation batches: bank, clamp, alarm, decay") {
    implicit val sc = spark.sqlContext
    // the q193 hand fixture streamed one observation per micro-batch —
    // EVERY transition is a cross-batch state carry
    val obs = Seq(10000L, 2000L, 30000L, 12000L, 1000L).zipWithIndex
      .map { case (c, i) => StreamCusum.Obs(1L, (i + 1).toLong, i.toLong, c) }
    val mem = MemoryStream[StreamCusum.Obs]
    val out = Files.createTempDirectory("cusum2").toString
    val ck = Files.createTempDirectory("cusum2_ck").toString
    val q = withoutEmptyBatches(spark)(StreamCusum.track(mem.toDS()).writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", ck).start())
    try {
      obs.foreach { o => mem.addData(o); q.processAllAvailable() }
      val got = spark.read.parquet(out).as[StreamCusum.Point].collect()
        .sortBy(_.us).map(p => (p.cusum, p.alarm)).toSeq
      assert(got === Seq((2500L, false), (0L, false), (22500L, false),
        (27000L, true), (20500L, false)),
        "clamp at zero, accumulate across batches, alarm at h, decay")
    } finally q.stop()
  }
}
