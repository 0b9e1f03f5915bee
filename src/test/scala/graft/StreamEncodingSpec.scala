package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.StreamEncoding

class StreamEncodingSpec extends SparkSpec {
  import spark.implicits._

  private def feed(dir: String): Seq[StreamEncoding.Obs] =
    Tables.events(spark, dir).selectExpr(
        "unix_micros(ts) DIV 86400000000 AS day",
        "unix_micros(ts) AS us", "event_id", "event_type",
        "CASE WHEN value IS NULL THEN -1L ELSE CAST(round(value * 100) AS BIGINT) END AS cents",
        "unix_micros(ts) DIV 3600000000 AS hour")
      .collect().map(r => StreamEncoding.Obs(r.getLong(0), r.getLong(1),
        r.getLong(2), r.getString(3), r.getLong(4), r.getLong(5)))
      .sortBy(o => (o.us, o.eventId)).toSeq

  private def run(rows: Seq[StreamEncoding.Obs], chunks: Int): Seq[StreamEncoding.Ledger] = {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[StreamEncoding.Obs]
    val out = Files.createTempDirectory("enc").toString
    val ck = Files.createTempDirectory("enc_ck").toString
    val q = withoutEmptyBatches(spark)(StreamEncoding.track(mem.toDS()).writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", ck).start())
    try {
      rows.grouped((rows.length + chunks - 1) / chunks).foreach { c =>
        mem.addData(c.toIndexedSeq); q.processAllAvailable()
      }
      spark.read.parquet(out).as[StreamEncoding.Ledger].collect().toSeq
    } finally q.stop()
  }

  test("the live manifest (highest version per day) bit-equals batch q201 across arrival splits that cut runs") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val want = graft.ops.ScaleOps.encodingAudit(events).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
          r.getLong(7), r.getString(8), r.getLong(9), r.getLong(10))).toMap
    val emitted = run(feed("/root/testdata/sf0.001"), chunks = 7)
    val live = emitted.groupBy(l => (l.day, l.col))
      .map { case (k, ls) => k -> ls.maxBy(_.version) }
    assert(live.keySet === want.keySet)
    live.foreach { case (k, l) =>
      assert((l.n, l.ndv, l.runs, l.plainBytes, l.dictBytes, l.rleBytes,
        l.chosen, l.chosenBytes, l.savingsMicro) === want(k), s"$k")
    }
  }

  test("the boundary law: a run spanning a batch seam never double-counts; a changed value across the seam opens one") {
    val obs = Seq(
      StreamEncoding.Obs(0L, 1L, 0L, "a", 100L, 0L),
      StreamEncoding.Obs(0L, 2L, 1L, "a", 100L, 0L), // same value crosses seam
      StreamEncoding.Obs(0L, 3L, 2L, "b", 100L, 0L), // changed value crosses seam
      StreamEncoding.Obs(0L, 4L, 3L, "b", 200L, 0L))
    // one observation per micro-batch: EVERY adjacency is a batch seam
    val live = run(obs, chunks = 4).groupBy(_.col)
      .map { case (c, ls) => c -> ls.maxBy(_.version) }
    assert(live("event_type").runs === 2L, "a|a b|b = 2 runs, not 4")
    assert(live("cents").runs === 2L, "100|100 100|200 = 2 runs")
    assert(live("hour").runs === 1L, "a constant column is one run")
    // and the ledger read off the folded state matches a one-batch run
    val oneShot = run(obs, chunks = 1).groupBy(_.col)
      .map { case (c, ls) => c -> ls.maxBy(_.version) }
    live.foreach { case (c, l) =>
      val o = oneShot(c)
      assert((l.n, l.ndv, l.runs, l.plainBytes, l.dictBytes, l.rleBytes,
        l.chosen, l.chosenBytes) ===
        ((o.n, o.ndv, o.runs, o.plainBytes, o.dictBytes, o.rleBytes,
          o.chosen, o.chosenBytes)), s"segmentation invariance for $c")
    }
  }
}
