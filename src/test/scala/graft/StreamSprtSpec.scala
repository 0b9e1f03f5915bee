package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.ops.RelationalOps
import graft.streaming.StreamSprt

class StreamSprtSpec extends SparkSpec {
  import spark.implicits._

  /** Batch q196's user outcomes expanded per rule, in first-seen order —
    * the stream the platform's outcome topic carries. */
  private def outcomes(dir: String): Seq[StreamSprt.Obs] = {
    import org.apache.spark.sql.functions.{col, concat, lit, min, max}
    val events = Tables.events(spark, dir)
    val base = events.selectExpr("CAST(user_id AS STRING) AS uk",
        "unix_micros(ts) AS us", "event_id",
        "CASE WHEN event_type = 'purchase' AND value IS NOT NULL AND " +
          s"CAST(round(value * 100) AS BIGINT) >= ${RelationalOps.AbConvCents} " +
          "THEN 1L ELSE 0L END AS conv")
      .groupBy("uk").agg(min("us").as("us"), min("event_id").as("eid"),
        max("conv").as("conv"))
      .withColumn("arm", graft.ops.PipelineOps.md5Prefix48(
        concat(lit(RelationalOps.AbExperimentId + ":"), col("uk"))) % 2)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3) == 1L, r.getLong(4)))
      .sortBy(t => (t._1, t._2))
    base.toSeq.flatMap { case (us, eid, conv, arm) =>
      RelationalOps.SprtRules.map { case (rule, up, down) =>
        StreamSprt.Obs(rule, arm, us, eid, conv, up, down)
      }
    }
  }

  test("streamed stop decisions equal batch q196's decided rows exactly across chunk splits (sf0.1: both kinds fire)") {
    implicit val sc = spark.sqlContext
    val want = RelationalOps.sprtCensus(Tables.events(spark, "/root/testdata/sf0.1"))
      .collect().filter(_.getString(5) != "continue")
      .map(r => (r.getString(0), r.getLong(1), r.getString(5),
        r.getLong(6), r.getLong(7))).toSet
    assert(want.exists(_._3 == "accept_h1") && want.exists(_._3 == "accept_h0"),
      "sf0.1 must terminate both ways across the rule book")
    val rows = outcomes("/root/testdata/sf0.1")
    val mem = MemoryStream[StreamSprt.Obs]
    val out = Files.createTempDirectory("sprt").toString
    val ck = Files.createTempDirectory("sprt_ck").toString
    val q = withoutEmptyBatches(spark)(StreamSprt.track(mem.toDS()).writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", ck).start())
    try {
      // 7 chunks cut every walk mid-drift: the (llr, n, decided) fold
      // state must carry the evidence across micro-batches
      rows.grouped((rows.length + 6) / 7).foreach { c =>
        mem.addData(c.toIndexedSeq); q.processAllAvailable()
      }
      val got = spark.read.parquet(out).as[StreamSprt.Decision].collect()
        .map(d => (d.rule, d.arm, d.decision, d.nAtDecision, d.llrAtDecision))
      assert(got.length === got.toSet.size, "one decision per (rule, arm), exactly once")
      assert(got.toSet === want,
        "streamed stops must equal the batch census's decided rows")
    } finally q.stop()
  }

  test("the latch stops once at the first crossing and absorbs trailing outcomes; undecided walks stay silent") {
    implicit val sc = spark.sqlContext
    val bound = RelationalOps.SprtBoundMicro
    val up = RelationalOps.SprtRules.head._2 // 3 convs cross +A
    def run(convs: Seq[Boolean]): Seq[(String, Long, Long)] = {
      val mem = MemoryStream[StreamSprt.Obs]
      val obs = convs.zipWithIndex.map { case (c, i) =>
        StreamSprt.Obs("uplift", 0L, (i + 1).toLong, i.toLong, c, up, -2 * bound)
      } // down = -2·bound: one miss decides h0 from anywhere in (−A, A)
      val out = Files.createTempDirectory("sprt2").toString
      val ck = Files.createTempDirectory("sprt2_ck").toString
      val q = withoutEmptyBatches(spark)(StreamSprt.track(mem.toDS()).writeStream
        .format("parquet").option("path", out)
        .option("checkpointLocation", ck).start())
      try {
        // one outcome per micro-batch: every carry is cross-batch
        obs.foreach { o => mem.addData(o); q.processAllAvailable() }
        spark.read.parquet(out).as[StreamSprt.Decision].collect()
          .map(d => (d.decision, d.nAtDecision, d.llrAtDecision)).toSeq
      } finally q.stop()
    }
    assert(run(Seq(true, true, true, true, false)) ===
      Seq(("accept_h1", 3L, 3 * up)),
      "stop at the third conversion; later outcomes absorb silently")
    assert(run(Seq(true, false, true)) ===
      Seq(("accept_h0", 2L, up - 2 * bound)),
      "one heavy miss crosses -A at n=2; the trailing conversion absorbs")
    assert(run(Seq(true, true)).isEmpty, "an undecided walk emits nothing")
  }
}
