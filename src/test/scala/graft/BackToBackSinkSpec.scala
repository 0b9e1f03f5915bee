package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.{FraudPipeline, StreamAlert, VelocityDetector}

/** The alert sink's back-to-back cadence ([[graft.streaming.BatchSink.startBackToBack]]
  * under [[FraudPipeline.startAlertSink]]): it refuses a processing-time
  * TTL, an idle input runs no micro-batch beyond one per watermark move,
  * and a stop, which now always lands on a running batch, restarts to the
  * sink of an uninterrupted run. */
class BackToBackSinkSpec extends SparkSpec {
  import VelocityDetector.Txn

  private def dirs(prefix: String): (String, String) = {
    val root = Files.createTempDirectory(prefix)
    (root.resolve("sink").toString, root.resolve("ck").toString)
  }

  /** The batch ids the checkpoint's `log` (offsets or commits) holds. */
  private def logged(ck: String, log: String): Seq[Long] =
    Option(new File(ck, log).list()).toSeq.flatten.filter(_.forall(_.isDigit)).map(_.toLong).sorted

  private def wireStream() = MemoryStream[String](Encoders.STRING, spark.sqlContext)
  private def txnStream() = MemoryStream[Txn](Encoders.product[Txn], spark.sqlContext)

  test("startAlertSink refuses processing-time keyed state and starts the paper's two queries") {
    val (sink, ck) = dirs("b2b_guard")
    val active = spark.streams.active.length
    val obs = MemoryStream[StreamAlert.Obs](Encoders.product[StreamAlert.Obs], spark.sqlContext)
    val e = intercept[IllegalArgumentException](FraudPipeline.startAlertSink(
      StreamAlert.track(obs.toDS()).toDF(), sink, ck))
    assert(e.getMessage.contains("BatchSink.start"))
    assert(spark.streams.active.length === active, "a refused stream must not start")
    assert(!new File(ck).exists(), "a refused stream must leave no checkpoint")

    for (alerts <- Seq(FraudPipeline.fraudAlerts(wireStream().toDF()),
                       VelocityDetector.detectEventTime(txnStream().toDS()).toDF())) {
      val (sink, ck) = dirs("b2b_start")
      val q = FraudPipeline.startAlertSink(alerts, sink, ck)
      try assert(q.isActive) finally q.stop()
    }
  }

  private val wire = Seq(
    Seq("""{"userId":"u1","amount":20000.0,"timestamp":100}""", "not json"),
    Seq("""{"userId":"u2","amount":15000.5,"timestamp":200}"""),
    Seq("""{"userId":"u1","amount":30000.0,"timestamp":300}"""))

  // four rows for u1 inside 60 s, each batch 100 s past the last, so the
  // 30 s watermark moves after every batch and seals what came before
  private val txns = Seq(
    Seq(Txn("u1", 10, 100), Txn("u1", 11, 110), Txn("u1", 12, 120), Txn("u1", 13, 130)),
    Seq(Txn("u2", 1, 230)),
    Seq(Txn("u2", 1, 330)))

  private def watermark(p: StreamingQueryProgress): Option[String] =
    Option(p.eventTime.get("watermark"))

  /** Feeds `batches` one `addData` each, then idles over 2 s; returns the
    * progress of every micro-batch the query ran (an idle trigger's
    * progress event has no `addBatch`). */
  private def idleRun[T](mem: MemoryStream[T], batches: Seq[Seq[T]],
                         alerts: DataFrame): Seq[StreamingQueryProgress] = {
    val (sink, ck) = dirs("b2b_idle")
    val q = FraudPipeline.startAlertSink(alerts, sink, ck)
    try {
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val (last, commits) = (q.lastProgress.batchId, logged(ck, "commits"))
      Thread.sleep(2200)
      assert(q.lastProgress.batchId === last, "an idle input ran a micro-batch")
      assert(logged(ck, "commits") === commits, "an idle input committed a micro-batch")
      val ran = q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))
      assert(ran.map(_.batchId) === commits)
      ran
    } finally q.stop()
  }

  test("an idle input never spins: one batch per addData, a no-data batch only per watermark move") {
    val alertRun = wireStream()
    val alerts = idleRun(alertRun, wire, FraudPipeline.fraudAlerts(alertRun.toDF()))
    assert(alerts.map(_.numInputRows) === wire.map(_.length.toLong),
      "a stateless sink runs exactly the batches with input")

    val velocityRun = txnStream()
    val velocity = idleRun(velocityRun, txns,
      VelocityDetector.detectEventTime(velocityRun.toDS()).toDF())
    assert(velocity.count(_.numInputRows > 0) === txns.length)
    val noData = velocity.zip(velocity.drop(1)).collect {
      case (prev, p) if p.numInputRows == 0 => (prev, p)
    }
    assert(noData.nonEmpty, "the fixture's last watermark move must wake the timers")
    noData.foreach { case (prev, p) =>
      assert(watermark(p) !== watermark(prev),
        s"no-data batch ${p.batchId} ran without a watermark move")
    }
    assert(noData.map { case (_, p) => watermark(p) }.distinct.length === noData.length,
      "two no-data batches ran on one watermark")
  }

  /** perfbench's `velocity_state` composition on `rate-micro-batch`: JSON
    * wire records from the row index through [[FraudPipeline.parse]], the
    * `timestamp` cast to long, into [[VelocityDetector.detectEventTime]].
    * 400 rows span 40 s of event time over 40 users, with rows up to 19 s
    * out of order, so every batch moves the watermark and seals state. */
  private def rateVelocity(): DataFrame = {
    import spark.implicits._
    val wire = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", 400).option("numPartitions", 2).load()
      .selectExpr("to_json(named_struct(" +
        "'userId', format_string('u%02d', CAST(value % 40 AS INT)), " +
        "'amount', 100.0 + (value * 37) % 20000, " +
        "'timestamp', 1700000000 + value DIV 10 - (value * 7) % 20)) AS value")
    VelocityDetector.detectEventTime(FraudPipeline.parse(wire)
      .withColumn("timestamp", col("timestamp").cast("long")).as[Txn]).toDF()
  }

  private def awaitBatch(q: StreamingQuery, id: Long): Unit = {
    val deadline = System.currentTimeMillis() + 120000
    while (q.isActive && Option(q.lastProgress).forall(_.batchId < id)) {
      assert(System.currentTimeMillis() < deadline, s"batch $id never committed")
      Thread.sleep(5)
    }
    q.exception.foreach(e => throw e)
  }

  /** The sink's rows per batch id, up to `last`. */
  private def sunk(sink: String, last: Long): Map[Long, Map[String, Int]] =
    spark.read.parquet(sink).where(col("batch_id") <= last).collect().toSeq
      .groupBy(_.getAs[Number]("batch_id").longValue)
      .map { case (b, rows) => b -> rows.groupMapReduce(_.toString)(_ => 1)(_ + _) }

  test("restart law at the back-to-back cadence: a stop inside a running batch") {
    val (sink, ck) = dirs("b2b_cut")
    val first = FraudPipeline.startAlertSink(rateVelocity(), sink, ck)
    try {
      awaitBatch(first, 2)
      // a logged batch without its commit is running
      while (first.isActive && logged(ck, "offsets").last == logged(ck, "commits").last)
        Thread.sleep(1)
    } finally first.stop()
    assert(first.exception.isEmpty, s"the stop failed the query: ${first.exception}")
    assert(logged(ck, "offsets").last > logged(ck, "commits").last,
      "the stop must cut a batch between its offset-log entry and its commit")

    val restarted = FraudPipeline.startAlertSink(rateVelocity(), sink, ck)
    try awaitBatch(restarted, logged(ck, "offsets").last + 2) finally restarted.stop()
    val last = logged(ck, "commits").last

    val (wholeSink, wholeCk) = dirs("b2b_whole")
    val whole = FraudPipeline.startAlertSink(rateVelocity(), wholeSink, wholeCk)
    try awaitBatch(whole, last) finally whole.stop()

    val (got, want) = (sunk(sink, last), sunk(wholeSink, last))
    assert(want.values.map(_.values.sum).sum > 0, "the fixture must raise alerts")
    assert(got.keySet === want.keySet)
    got.keySet.foreach(b => assert(got(b) === want(b), s"batch_id=$b differs after the restart"))
  }
}
