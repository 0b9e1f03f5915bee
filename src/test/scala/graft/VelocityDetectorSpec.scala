package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.streaming.{KeyedFold, VelocityDetector}
import graft.streaming.VelocityDetector.{Alert, EvState, Txn, UserState}

object VelocityDetectorSpec {
  /** `detectEventTime`'s state before it was packed into bytes. */
  case class ListEvState(buffer: List[Txn], core: UserState, lastSeen: Long)
}

class VelocityDetectorSpec extends SparkSpec {
  import spark.implicits._

  test("velocity alert fires on >3 txns in 60s for one user, state persists across batches") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Txn]
    // no watermark delay: each batch's no-data batch seals its rows, so
    // the first three fold into the key's state a batch before the fourth
    val alerts = VelocityDetector.detectEventTime(mem.toDS(), watermarkDelaySec = 0)
    val q = alerts.writeStream.format("memory")
      .queryName("velocity_test").outputMode("append").start()
    try {
      // batch 1: 3 txns in-window — no alert yet
      mem.addData(Txn("u1", 10, 100), Txn("u1", 11, 110), Txn("u1", 12, 120))
      q.processAllAvailable()
      assert(spark.table("velocity_test").count() === 0)
      // batch 2: 4th txn within 60s of the first three → alert (state carried over)
      mem.addData(Txn("u1", 13, 130), Txn("u2", 5, 130))
      q.processAllAvailable()
      mem.addData(Txn("sentinel", 1, 1000)) // moves the watermark past 130
      q.processAllAvailable()
      val got = spark.table("velocity_test").as[Alert].collect()
      assert(got.length === 1)
      assert(got.head.userId === "u1" && got.head.kind === "velocity")
    } finally q.stop()
  }

  test("event-time variant: replay in any batch split/order yields identical alerts") {
    implicit val sc = spark.sqlContext
    def run(batches: Seq[Seq[Txn]], name: String): Seq[Alert] = {
      val mem = MemoryStream[Txn]
      val q = VelocityDetector.detectEventTime(mem.toDS(), watermarkDelaySec = 60)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
        // sentinel batches push the watermark far past every event so the
        // buffered prefix seals and the wake-up timeouts fire
        mem.addData(Txn("sentinel", 1, 1000000)); q.processAllAvailable()
        mem.addData(Txn("sentinel", 1, 1000001)); q.processAllAvailable()
        spark.table(name).as[Alert].collect().toSeq
          .filterNot(_.userId == "sentinel")
          .sortBy(a => (a.userId, a.timestamp, a.kind))
      } finally q.stop()
    }
    val evs = Seq(Txn("u1", 10, 100), Txn("u1", 11, 110),
      Txn("u1", 12, 120), Txn("u1", 13, 130))
    val oneBatchInOrder = run(Seq(evs), "ev_one_batch")
    // the round-2 failure mode: later events ARRIVE in earlier batches
    val scrambledBatches = run(
      Seq(Seq(evs(2)), Seq(evs(0), evs(3)), Seq(evs(1))), "ev_scrambled")
    assert(oneBatchInOrder === scrambledBatches)
    assert(oneBatchInOrder.exists(_.kind === "velocity"))
  }

  test("event-time state expiry follows the data clock, not wall clock") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Txn]
    val alerts = VelocityDetector.detectEventTime(mem.toDS(),
      stateTtlSec = 60, watermarkDelaySec = 0)
    val q = alerts.writeStream.format("memory").queryName("ev_expiry")
      .outputMode("append").start()
    try {
      // u1 warms up (3 txns, mean 100) at data time ≈ 100
      mem.addData(Txn("u1", 100, 100), Txn("u1", 110, 101), Txn("u1", 90, 102))
      q.processAllAvailable()
      // the DATA clock jumps far past u1's TTL → watermark passes 102+60
      mem.addData(Txn("u2", 1, 10000))
      q.processAllAvailable()
      mem.addData(Txn("u2", 1, 10001)) // next batch: u1's idle TTL fires
      q.processAllAvailable()
      // u1 returns with a 50× amount: state was expired by the data clock,
      // so the warm-up is gone and NO deviation alert may fire
      mem.addData(Txn("u1", 5000, 10050))
      q.processAllAvailable()
      mem.addData(Txn("u2", 1, 10200)) // seal u1's return event
      q.processAllAvailable()
      mem.addData(Txn("u2", 1, 10201))
      q.processAllAvailable()
      val got = spark.table("ev_expiry").as[Alert].collect()
      assert(!got.exists(_.kind === "deviation"))
    } finally q.stop()
  }

  test("event-time expiry is the same in every batch split: a key back after its TTL starts empty") {
    implicit val sc = spark.sqlContext
    def run(batches: Seq[Seq[Txn]], name: String): Seq[Alert] = {
      val mem = MemoryStream[Txn]
      val q = VelocityDetector.detectEventTime(mem.toDS(), stateTtlSec = 60, watermarkDelaySec = 0)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        (batches ++ Seq(Seq(Txn("sentinel", 1, 20000)), Seq(Txn("sentinel", 1, 20001))))
          .foreach { b => mem.addData(b: _*); q.processAllAvailable() }
        spark.table(name).as[Alert].collect().toSeq.filterNot(_.userId == "sentinel")
          .sortBy(a => (a.userId, a.timestamp, a.kind))
      } finally q.stop()
    }
    // u1 warms up (mean 100) at 100–102 s; u2@10000 moves the watermark
    // past u1's TTL; u1 returns at 10050 s with 50× its mean
    val warm = Seq(Txn("u1", 100, 100), Txn("u1", 110, 101), Txn("u1", 90, 102))
    val (away, back) = (Txn("u2", 1, 10000), Txn("u1", 5000, 10050))
    val together = run(Seq(warm, Seq(away, back)), "ev_ttl_together")
    val apart = run(Seq(warm, Seq(away), Seq(back)), "ev_ttl_apart")
    assert(together === apart, "the batch split must not change the alerts")
    assert(!together.exists(_.kind === "deviation"), s"u1 expired, got $together")
  }

  test("event-time alert for a key with NO further traffic fires at watermark-reach") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Txn]
    val alerts = VelocityDetector.detectEventTime(mem.toDS(), watermarkDelaySec = 60)
    val q = alerts.writeStream.format("memory").queryName("ev_wakeup")
      .outputMode("append").start()
    try {
      // u1 trips the velocity rule (4 txns in 60s) and then goes silent
      mem.addData(Txn("u1", 10, 100), Txn("u1", 11, 110),
        Txn("u1", 12, 120), Txn("u1", 13, 130))
      q.processAllAvailable()
      // another key pushes the watermark to 195 - 60 = 135 — JUST past u1's
      // last event (130). u1's buffered prefix is now sealable.
      mem.addData(Txn("u2", 1, 195))
      q.processAllAvailable()
      // one more batch lets u1's wake-up timeout fire against wm = 135 s.
      // The regression this guards: a wake-up of pending.min + delay
      // (160 s here) would NOT have fired — the alert would wait a further
      // full watermark delay for a key that never sends traffic again.
      mem.addData(Txn("u2", 1, 196))
      q.processAllAvailable()
      val got = spark.table("ev_wakeup").as[Alert].collect()
      assert(got.exists(a => a.userId == "u1" && a.kind == "velocity"),
        s"alert must fire once the watermark reaches the event, got ${got.toSeq}")
    } finally q.stop()
  }

  test("event-time: a row behind the watermark never reaches the step — counted as dropped, no alert changes") {
    implicit val sc = spark.sqlContext
    /** The alerts and the operator's late-row count; `extra` rides in
      * the batch after the watermark has passed 170 s for two batches. */
    def run(extra: Seq[Txn], name: String): (Seq[Alert], Long) = {
      val mem = MemoryStream[Txn]
      val q = VelocityDetector.detectEventTime(mem.toDS(), watermarkDelaySec = 30)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        Seq(Seq(Txn("u1", 10, 100), Txn("u1", 11, 110), Txn("u1", 12, 120), Txn("u1", 13, 130)),
          Seq(Txn("u2", 1, 200)), Seq(Txn("u2", 1, 201)), Txn("u3", 1, 202) +: extra,
          Seq(Txn("sentinel", 1, 100000)), Seq(Txn("sentinel", 1, 100001)))
          .foreach { b => mem.addData(b: _*); q.processAllAvailable() }
        (spark.table(name).as[Alert].collect().toSeq.filterNot(_.userId == "sentinel")
          .sortBy(a => (a.userId, a.timestamp, a.kind)),
          q.recentProgress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum)
      } finally q.stop()
    }
    val (onTime, onTimeDropped) = run(Nil, "ev_late_none")
    // folded, u1@105 for 5000 would add a velocity and a deviation alert
    val (late, lateDropped) = run(Seq(Txn("u1", 5000, 105)), "ev_late_one")
    assert(onTime.exists(_.kind == "velocity"), "the fixture must alert")
    assert(late === onTime, "a late row must not change the alerts")
    assert(lateDropped - onTimeDropped === 1L, "the operator drops the late row")
  }

  test("deviation alert fires on 3x the running mean after warm-up") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Txn]
    val alerts = VelocityDetector.detectEventTime(mem.toDS(), maxTxns = 99)
    val q = alerts.writeStream.format("memory")
      .queryName("deviation_test").outputMode("append").start()
    try {
      // from 1000 s: a row at 0 s sits on the initial watermark, dropped late
      mem.addData(Txn("u1", 100, 1000), Txn("u1", 110, 2000), Txn("u1", 90, 3000))
      q.processAllAvailable()
      mem.addData(Txn("u1", 500, 4000)) // 500 > 3 * 100
      q.processAllAvailable()
      mem.addData(Txn("sentinel", 1, 100000)) // moves the watermark past 4000
      q.processAllAvailable()
      val got = spark.table("deviation_test").as[Alert].collect()
      assert(got.length === 1 && got.head.kind === "deviation")
    } finally q.stop()
  }

  test("event-time state holds no array or map column, so its decoder has no MapObjects") {
    def nested(t: DataType): Seq[DataType] = t match {
      case s: StructType => s.fields.toSeq.flatMap(f => f.dataType +: nested(f.dataType))
      case other => Seq(other)
    }
    val types = nested(implicitly[Encoder[EvState]].schema)
    assert(!types.exists(t => t.isInstanceOf[ArrayType] || t.isInstanceOf[MapType]), types)
  }

  test("event-time keyed state compiles at most one class per steady micro-batch") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Txn]
    val q = VelocityDetector.detectEventTime(mem.toDS(), watermarkDelaySec = 30)
      .writeStream.format("memory").queryName("ev_compiles").outputMode("append").start()
    // every batch moves the watermark 60 s, so each also seals and wakes keys
    def batch(i: Int): Unit = {
      mem.addData((0 until 40).map(r => Txn(s"u${r % 8}", 10 + r % 5, 1000 + 60 * i + r)): _*)
      q.processAllAvailable()
    }
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val (warmBatch, warmCompiles) = try {
      (0 until 3).foreach(batch) // the first batches compile the query's own classes
      val warm = (q.lastProgress.batchId, compiles.getCount)
      (3 until 9).foreach(batch)
      warm
    } finally q.stop()
    val steady = q.recentProgress.count(p => p.batchId > warmBatch && p.numInputRows > 0)
    val added = compiles.getCount - warmCompiles
    assert(steady === 6)
    // the one is Spark's late-row predicate, whose watermark literal
    // changes with every batch; a List-based state's decoder recompiled in
    // each batch, the no-data ones too (18 over these 6)
    assert(added <= steady, s"$added compiles over $steady steady batches with input")
  }

  test("a checkpoint of the List-based event-time state fails the restart loudly, sink untouched") {
    import VelocityDetectorSpec.ListEvState
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Txn]
    val out = Files.createTempDirectory("ev_list_out").toString
    val ck = Files.createTempDirectory("ev_list_ck").toString
    def start(run: Dataset[Txn] => Dataset[Alert]) = run(mem.toDS()).writeStream
      .format("parquet").option("path", out).option("checkpointLocation", ck).start()
    def sink(): Seq[Alert] = spark.read.schema(implicitly[Encoder[Alert]].schema).parquet(out)
      .as[Alert].collect().toSeq.sortBy(a => (a.userId, a.timestamp))
    // the state type `detectEventTime` stored before: buffer every row
    val old = start(ds => KeyedFold.eventTime[Txn, String, ListEvState, Alert](ds, _.userId,
      "timestamp", 30) { (userId, st0, rows, _, _) =>
      val st = st0.getOrElse(ListEvState(Nil, UserState(Nil, 0L, 0.0), Long.MinValue))
      val seen = rows.toList
      (Some((st.copy(buffer = st.buffer ++ seen), Long.MaxValue / 2)),
        seen.iterator.map(t => Alert(userId, "seen", t.amount, t.timestamp, "")))
    })
    try {
      mem.addData(Txn("u1", 10, 100), Txn("u2", 20, 110)); old.processAllAvailable()
      mem.addData(Txn("u1", 11, 200)); old.processAllAvailable()
    } finally old.stop()
    val before = sink()
    val commits = Files.list(Paths.get(ck, "commits")).count()
    assert(before.size === 3)
    mem.addData(Txn("u1", 12, 300))
    val restarted = start(VelocityDetector.detectEventTime(_))
    val e = intercept[StreamingQueryException] {
      try restarted.processAllAvailable() finally restarted.stop()
    }
    assert(e.getMessage.contains("STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE"), e.getMessage)
    assert(sink() === before, "a refused restart must leave the sink as it was")
    assert(Files.list(Paths.get(ck, "commits")).count() === commits)
  }
}
