package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.{FraudPipeline, VelocityDetector}

/** The three stream workloads. Each run starts the program's own query
  * `setups` times, each time from a fresh checkpoint, and waits for it to
  * be warm; the last start is kept for the measured window. The query is
  * always stopped at a micro-batch boundary, and only committed batches are
  * measured and checked.
  *
  *  - alerts_paced: `rate` source at `rate` rows/s → fraudAlerts → sink.
  *  - alerts_flood: `rate-micro-batch`, `batch-rows` rows per batch → same.
  *  - velocity_state: `rate-micro-batch` → parse → detectEventTime → sink.
  * A workload given `batch-rows` runs closed loop on `rate-micro-batch`
  * (one batch per trigger, or back to back once a batch outlasts it); one
  * given `rate` runs open loop on the `rate` source.
  */
object StreamRun {
  private final case class Running(q: StreamingQuery, sink: String, scheduleMs: Long)

  def run(spark: SparkSession, o: Opts, tl: Option[WindowListener]): Map[String, Any] = {
    val closedLoop = o.kv.contains("batch-rows")
    val units = mutable.ArrayBuffer[Double]()
    val failures = mutable.ArrayBuffer[String]()
    var stopInterrupts = 0
    var attempted = 0L
    var out = Map.empty[String, Any]
    for (r <- 1 to o.setups) {
      val dir = new File(o.work, s"stream$r")
      val t0 = System.currentTimeMillis()
      val run = start(spark, o, dir)
      val warmId = awaitWarm(run.q, o)
      val t1 = System.currentTimeMillis()
      units += (t1 - t0) / 1000.0
      val last = r == o.setups
      var trace = Map.empty[String, Any]
      var gc0 = 0L
      var traceStartMs = Long.MaxValue
      if (last && warmId.isDefined) {
        tl.foreach(_.start(spark))
        traceStartMs = System.currentTimeMillis()
        gc0 = Main.gcMs()
        val deadline = t1 + (o.seconds * 1000).toLong
        while (run.q.isActive && (System.currentTimeMillis() < deadline ||
            batchId(run.q) < warmId.get + 2))
          Thread.sleep(10)
      }
      val (interrupts, failure) = stopAtBoundary(run.q, closedLoop, last)
      stopInterrupts += interrupts
      failure.foreach(f => failures += s"setup $r: $f")
      if (warmId.isEmpty && failure.isEmpty) failures += s"setup $r: never warm"
      val progress = run.q.recentProgress.toSeq
      attempted += progress.size
      if (last) {
        // before the checks below, so their memory is not counted
        val hwmKb = Main.vmHwmKb()
        trace = tl.map(_.stop(spark)).getOrElse(Map.empty)
        val stopMs = System.currentTimeMillis()
        val check = if (o.workload == "velocity_state") droppedCheck(spark, o, run.sink, progress)
                    else twinCheck(spark, o, run.sink, progress)
        val checkS = (System.currentTimeMillis() - stopMs) / 1000.0
        attempted += check("attempted").asInstanceOf[Long]
        out = Map(
          "schedule_ms" -> run.scheduleMs,
          "warm_batch_id" -> warmId.getOrElse(-1L),
          "window_start_ms" -> t1,
          "trace_start_ms" -> traceStartMs,
          "stop_ms" -> stopMs,
          "gc_ms_window" -> (Main.gcMs() - gc0),
          "vm_hwm_kb" -> hwmKb,
          "trace" -> trace,
          "check" -> check,
          "check_s" -> checkS,
          "sink_files" -> sinkFiles(run.sink),
          "progress" -> progress.map(p => RawJson(p.json)))
      }
    }
    out ++ Map(
      "setup_units_s" -> units.toSeq,
      "stop_interrupts" -> stopInterrupts,
      "attempted" -> attempted,
      "failures" -> failures.toSeq)
  }

  /** Starts the program's query from a fresh checkpoint. For the `rate`
    * source, the checkpoint is seeded with the generator's start time, so
    * the second boundaries of the schedule line up with the 1 s trigger
    * and latency does not depend on when the run happened to start. The
    * seed file is the rate source's own offset-log entry (`v1`, then the
    * start time in ms), a format Spark does not promise to keep. */
  private def start(spark: SparkSession, o: Opts, dir: File): Running = {
    deleteRecursively(dir)
    val (ck, sink) = (new File(dir, "ck"), new File(dir, "sink").getAbsolutePath)
    val rate = o.kv.getOrElse("batch-rows", o("rate")).toLong
    // one second of backlog, so the first trigger already has input
    val scheduleMs = (System.currentTimeMillis() / 1000 - 1) * 1000
    val idx =
      if (o.kv.contains("batch-rows"))
        spark.readStream.format("rate-micro-batch")
          .option("rowsPerBatch", rate).option("numPartitions", o.cores).load()
      else {
        val meta = new File(ck, "sources/0")
        meta.mkdirs()
        Files.writeString(Paths.get(meta.getPath, "0"), s"v1\n$scheduleMs")
        spark.readStream.format("rate")
          .option("rowsPerSecond", rate).option("numPartitions", o.cores).load()
      }
    val wire = idx.select(col("value").as("i"))
    val alerts: DataFrame = o.workload match {
      case "velocity_state" =>
        import spark.implicits._
        val txns = FraudPipeline.parse(
          Gen.velocity(wire, o.seed, rate, o.long("keys"), o.long("speed")))
          .withColumn("timestamp", col("timestamp").cast("long"))
          .as[VelocityDetector.Txn]
        VelocityDetector.detectEventTime(txns).toDF()
      case _ => FraudPipeline.fraudAlerts(Gen.alerts(wire, o.seed, rate))
    }
    Running(FraudPipeline.startAlertSink(alerts, sink, ck.getAbsolutePath), sink, scheduleMs)
  }

  private def batchId(q: StreamingQuery): Long =
    Option(q.lastProgress).map(_.batchId).getOrElse(-1L)

  /** Waits until the query is warm and returns the id of the last warm-up
    * batch (None if the query died or never warmed within 120 s).
    *  - alerts_*: `warm-batches` batches with input have committed;
    *  - velocity_state: `warm-batches` batches with input have run under a
    *    watermark, and the state row count changed by under 1 % over the
    *    last of them (it has plateaued). */
  private def awaitWarm(q: StreamingQuery, o: Opts): Option[Long] = {
    val deadline = System.currentTimeMillis() + 120000
    while (q.isActive && System.currentTimeMillis() < deadline) {
      val ps = q.recentProgress.filter(_.numInputRows > 0)
      val warm = o.workload match {
        case "velocity_state" =>
          val sealed_ = ps.filter(p => watermarkMs(p) > 0)
          sealed_.length >= o.int("warm-batches") && {
            val rows = sealed_.takeRight(2).map(_.stateOperators.head.numRowsTotal)
            rows(1) <= rows(0) * 1.01
          }
        case _ => ps.length >= o.int("warm-batches")
      }
      if (warm) return Some(ps.last.batchId)
      Thread.sleep(10)
    }
    None
  }

  private def watermarkMs(p: StreamingQueryProgress): Long =
    Option(p.eventTime.get("watermark")).map(Instant.parse(_).toEpochMilli).getOrElse(0L)

  /** Stops the measured query between micro-batches. An open-loop query
    * idles between its batch and the next 1 s trigger: stop there, well
    * clear of the trigger. A closed-loop query never idles: stop as soon as
    * a batch has committed, so only the just-started batch is cut. A
    * warm-up start is not checked, so it is stopped at once. Exceptions
    * raised by the stop itself (task kills, interrupted state-store
    * commits) are counted as stop-time interrupts, not failures; a query
    * that died before the stop is a failure.
    * @return (stop-time interrupts, failure if any) */
  private def stopAtBoundary(q: StreamingQuery, closedLoop: Boolean,
                             measured: Boolean): (Int, Option[String]) = {
    if (!q.isActive)
      return (0, Some("query died: " + q.exception.map(_.getMessage).getOrElse("stopped")))
    val deadline = System.currentTimeMillis() + 60000
    if (measured && closedLoop) {
      val b = batchId(q)
      while (q.isActive && batchId(q) == b && System.currentTimeMillis() < deadline)
        Thread.sleep(1)
    } else if (measured) {
      def idle = !q.status.isTriggerActive && 1000 - System.currentTimeMillis() % 1000 > 250
      while (q.isActive && !idle && System.currentTimeMillis() < deadline) Thread.sleep(2)
    }
    if (!q.isActive)
      return (0, Some("query died: " + q.exception.map(_.getMessage).getOrElse("stopped")))
    var interrupts = 0
    try q.stop() catch { case e: Throwable if stopTime(e) => interrupts += 1 }
    q.exception match {
      case Some(e) if stopTime(e) => (interrupts + 1, None)
      case Some(e) => (interrupts, Some("query failed: " + e.getMessage))
      case None => (interrupts, None)
    }
  }

  private def stopTime(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists { c =>
      c.isInstanceOf[InterruptedException] ||
      c.isInstanceOf[java.io.InterruptedIOException] ||
      c.isInstanceOf[java.nio.channels.ClosedByInterruptException] ||
      c.isInstanceOf[org.apache.spark.TaskKilledException] ||
      Option(c.getMessage).exists(m => m.contains("CANNOT_COMMIT") ||
        m.contains("cancelled") || m.contains("interrupted"))
    }

  /** Committed input index ranges per batch: [lo, hi) in commit order. */
  private def ranges(progress: Seq[StreamingQueryProgress]): Seq[(StreamingQueryProgress, Long, Long)] =
    progress.scanLeft((null: StreamingQueryProgress, 0L, 0L)) { case ((_, _, hi), p) =>
      (p, hi, hi + p.numInputRows)
    }.drop(1)

  /** alerts_*: the sink's committed batches must equal a batch run of
    * `fraudAlerts` over the same generated rows, by count and by a hash
    * over the index-derived key/value fields. Rows the generator gave an
    * amount at or below the threshold cannot be alerts, so the twin skips
    * them; an alert for one of them in the sink counts as extra. */
  private def twinCheck(spark: SparkSession, o: Opts, sink: String,
                        progress: Seq[StreamingQueryProgress]): Map[String, Any] = {
    val rate = o.kv.getOrElse("batch-rows", o("rate")).toLong
    val hi = progress.map(_.numInputRows).sum
    val got = committed(spark, sink, progress)
    // materialized first, so the optimizer cannot merge the candidate
    // filter into the parse filter and run the JSON parse on every row
    val rows = Gen.alerts(
      spark.range(0, hi).select(col("id").as("i")).where(Gen.alertCandidate(o.seed)),
      o.seed, rate).localCheckpoint()
    val twin = FraudPipeline.fraudAlerts(rows)
    val hash = pmod(xxhash64(col("key"), col("value")), lit(1000000007L))
    val perBatch = got.groupBy("batch_id").agg(count(lit(1)), sum(hash)).collect()
      .map(r => (r.get(0).toString, r.getLong(1), r.getLong(2)))
    val (gc, gh) = (perBatch.map(_._2).sum, perBatch.map(_._3).sum)
    val t = twin.agg(count(lit(1)), coalesce(sum(hash), lit(0L))).head()
    val (tc, th) = (t.getLong(0), t.getLong(1))
    val kv = got.select("key", "value")
    val (missing, extra) =
      if (gc == tc && gh == th) (0L, 0L)
      else (twin.exceptAll(kv).count(), kv.exceptAll(twin).count())
    Map("kind" -> "twin", "rows" -> hi, "alerts" -> gc, "twin_alerts" -> tc,
      "missing" -> missing, "extra" -> extra,
      "alerts_per_batch" -> perBatch.map(b => b._1 -> b._2).toMap,
      "attempted" -> tc,
      "failures" -> (if (missing + extra > 0 || gh != th)
        Seq(s"twin mismatch: $missing missing, $extra extra alerts") else Seq.empty[String]),
      "failed" -> math.max(missing + extra, if (gh != th) 1L else 0L))
  }

  /** velocity_state: the rows the state operator dropped as late must be
    * exactly the generator's beyond-watermark rows among those that
    * arrived once a watermark existed. */
  private def droppedCheck(spark: SparkSession, o: Opts, sink: String,
                           progress: Seq[StreamingQueryProgress]): Map[String, Any] = {
    val rs = ranges(progress)
    val dropped = progress.flatMap(_.stateOperators.headOption)
      .map(_.numRowsDroppedByWatermark).sum
    // a batch filters late rows against the previous batch's watermark
    val from = rs.sliding(2).collectFirst {
      case Seq((prev, _, _), (_, lo, hi)) if hi > lo && watermarkMs(prev) > 0 => lo
    }
    val hi = rs.lastOption.map(_._3).getOrElse(0L)
    val expected = from.map { lo =>
      spark.range(lo, hi).select(col("id").as("i")).where(Gen.late(o.seed)).count()
    }.getOrElse(0L)
    Map("kind" -> "dropped", "rows" -> hi, "dropped" -> dropped,
      "expected_dropped" -> expected,
      "alerts_per_batch" -> alertsPerBatch(spark, sink, progress),
      "attempted" -> math.max(expected, 1L),
      "failures" -> (if (dropped != expected)
        Seq(s"dropped $dropped rows as late, generator made $expected") else Seq.empty[String]),
      "failed" -> math.abs(dropped - expected))
  }

  /** The sink table restricted to committed batches (empty before any). */
  private def committed(spark: SparkSession, sink: String,
                        progress: Seq[StreamingQueryProgress]): DataFrame = {
    val lastId = progress.lastOption.map(_.batchId).getOrElse(-1L)
    if (sinkFiles(sink).isEmpty) spark.range(0).selectExpr("'' AS key", "'' AS value", "id AS batch_id")
    else spark.read.parquet(sink).where(col("batch_id") <= lastId)
  }

  private def alertsPerBatch(spark: SparkSession, sink: String,
                             progress: Seq[StreamingQueryProgress]): Map[String, Long] =
    committed(spark, sink, progress).groupBy("batch_id").count().collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap

  /** Parquet files written per committed batch partition. */
  private def sinkFiles(sink: String): Map[String, Int] =
    Option(new File(sink).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("batch_id="))
      .map(d => d.getName.stripPrefix("batch_id=") ->
        Option(d.listFiles()).getOrElse(Array.empty[File]).count(_.getName.endsWith(".parquet")))
      .toMap

  def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteRecursively)
    f.delete()
  }
}
