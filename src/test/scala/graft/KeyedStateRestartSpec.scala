package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Encoder, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.streaming._

/** The restart law for every stateful entry point: feed batches 1..k,
  * stop the query, restart it from the same checkpoint over the same
  * MemoryStream, feed the rest — the sink must hold exactly the rows of an
  * uninterrupted run. Each law runs under both state-store providers.
  *
  * Every fixture cuts live state: the tail batches alone, from empty
  * state, must give other rows than the restarted tail, so the law cannot
  * pass on a cut that carries nothing. The event-time fixtures hold
  * out-of-order rows, one duplicate row, and a row that only the restored
  * watermark drops as late; sentinel batches seal what is buffered. The
  * processing-time laws also hold the batch twin: the restarted sink
  * equals the maintainer over every fixture row as one static Dataset.
  * So do the two `detectEventTime` laws, on [[velocityTwin]]; their
  * fixture seals one key's rows in a call where amount order is not time
  * order, and one row exactly at the final watermark. */
class KeyedStateRestartSpec extends SparkSpec {
  import spark.implicits._

  private val ProviderConf = "spark.sql.streaming.stateStore.providerClass"
  private val providers = Seq(
    "HDFS" -> "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    "RocksDB" -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  private def bag[T](rows: Seq[T]): Map[T, Int] = rows.groupMapReduce(identity)(_ => 1)(_ + _)

  /** Runs each part in its own query over ONE source and ONE checkpoint;
    * returns the sink's rows after each part. */
  private def drive[In: Encoder, Out: Encoder](session: SparkSession,
      run: Dataset[In] => Dataset[Out], parts: Seq[Seq[Seq[In]]]): Seq[Seq[Out]] = {
    implicit val sc: SQLContext = session.sqlContext
    val mem = MemoryStream[In]
    val out = Files.createTempDirectory("restart_out").toString
    val ck = Files.createTempDirectory("restart_ck").toString
    parts.map { part =>
      val q = run(mem.toDS()).writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck).start()
      try part.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      assert(Files.readString(Paths.get(ck, "offsets", "0"))
        .contains(session.conf.get(ProviderConf)), "the checkpoint pins the provider")
      session.read.schema(implicitly[Encoder[Out]].schema).parquet(out)
        .as[Out].collect().toSeq
    }
  }

  private def withProvider(provider: String): SparkSession = {
    val session = spark.newSession()
    session.conf.set(ProviderConf, provider)
    session
  }

  /** Checks the law on `session`; returns the restarted run's sink rows. */
  private def checkLaw[In: Encoder, Out: Encoder](session: SparkSession,
      run: Dataset[In] => Dataset[Out], batches: Seq[Seq[In]], k: Int): Seq[Out] = {
    val Seq(whole) = drive(session, run, Seq(batches))
    val Seq(head, restarted) = drive(session, run, Seq(batches.take(k), batches.drop(k)))
    assert(whole.nonEmpty, "the fixture must produce rows")
    assert(bag(restarted) === bag(whole),
      "a stop/restart from the checkpoint must not change the sink rows")
    val Seq(fresh) = drive(session, run, Seq(batches.drop(k)))
    assert(bag(fresh) !== bag(restarted.diff(head)),
      s"the cut after batch $k carries no state, so the law proves nothing")
    restarted
  }

  /** The law on the event-time clock, plus, when given, the batch twin:
    * the restarted sink equals `twin` over the fixture. */
  def restartLaw[In: Encoder, Out: Encoder](run: Dataset[In] => Dataset[Out],
      batches: Seq[Seq[In]], k: Int, twin: Option[SparkSession => Seq[Out]] = None)(
      provider: String): Unit = {
    val session = withProvider(provider)
    val restarted = checkLaw(session, run, batches, k)
    twin.foreach(t => assert(bag(t(session)) === bag(restarted),
      "the restarted sink must equal the batch twin"))
  }

  /** `detectEventTime`'s batch twin: the rows the operator accepts (those
    * later than their batch's watermark, the newest event time of the
    * batches before it minus the delay), per key in `(timestamp, amount)`
    * order, sealed at the final watermark and folded through the
    * detector's step from empty state, which also expires the key on the
    * data's clock (the 3,600 s default TTL). */
  private def velocityTwin(batches: Seq[Seq[VelocityDetector.Txn]]): Seq[VelocityDetector.Alert] = {
    val wms = batches.scanLeft(0L)((wm, b) => (wm +: b.map(_.timestamp - 30)).max)
    batches.zip(wms).flatMap { case (b, wm) => b.filter(_.timestamp > wm) }
      .groupBy(_.userId).toSeq.flatMap { case (user, txns) =>
        VelocityDetector.advance(user,
          txns.filter(_.timestamp <= wms.last).sortBy(t => (t.timestamp, t.amount)),
          VelocityDetector.UserState(Nil, 0L, 0.0), maxTxns = 3, windowSec = 60,
          ttlSec = 3600)._1
      }
  }

  /** The law on the processing-time clock, with empty micro-batches off
    * (`withoutEmptyBatches`), plus the batch twin: the restarted sink
    * equals `run` over every fixture row as one static Dataset. A
    * maintainer whose output depends on the batch split by design passes
    * `batchTwin = false`. */
  def processingTimeLaw[In: Encoder, Out: Encoder](run: Dataset[In] => Dataset[Out],
      batches: Seq[Seq[In]], k: Int, batchTwin: Boolean = true)(provider: String): Unit = {
    val session = withProvider(provider)
    val restarted = withoutEmptyBatches(session)(checkLaw(session, run, batches, k))
    if (batchTwin) assert(bag(run(session.createDataset(batches.flatten)).collect().toSeq)
      === bag(restarted), "the restarted sink must equal the batch twin over every row")
  }

  private val velocityEventTime = {
    import VelocityDetector.Txn
    Seq(
      // u5's rows seal in one call, where amount order is not time order;
      // u3 warms up (mean 100) and returns after its TTL, below
      Seq(Txn("u1", 10, 100), Txn("u1", 11, 130), Txn("u1", 12, 110),
        Txn("u2", 50, 100), Txn("u5", 100, 10), Txn("u5", 1, 20), Txn("u5", 2, 30),
        Txn("u5", 3, 40), Txn("u3", 100, 100), Txn("u3", 110, 101), Txn("u3", 90, 102)),
      // u1@110 again: the one duplicate row
      Seq(Txn("u1", 13, 140), Txn("u2", 60, 120), Txn("u2", 55, 110),
        Txn("u1", 12, 110)),
      // u1@105 is behind the restored watermark (140 − 30): dropped late
      Seq(Txn("u1", 14, 150), Txn("u2", 400, 160), Txn("u1", 9, 105)),
      Seq(Txn("sentinel", 1, 100000), Txn("u4", 10, 99950), Txn("u4", 11, 99955),
        Txn("u4", 12, 99960)),
      // u4@99971 sits exactly on the final watermark (100001 − 30); the
      // next batch's u4 row seals it. u3 returns after the timer freed it
      // (watermark 99970, past 102 + 3600): 5000 is no deviation from
      // empty state
      Seq(Txn("sentinel", 1, 100001), Txn("u4", 1000, 99971), Txn("u3", 5000, 99971)),
      Seq(Txn("u4", 1, 99990)))
  }

  /** JSON wire values through [[FraudPipeline.parse]], as perfbench's
    * `velocity_state` parses them. */
  private def wireTxns(wire: Dataset[String]): Dataset[VelocityDetector.Txn] = {
    import wire.sparkSession.implicits._
    FraudPipeline.parse(wire.toDF("value"))
      .withColumn("timestamp", col("timestamp").cast("long"))
      .as[VelocityDetector.Txn]
  }

  /** The benchmarked stateful path, composed as perfbench's
    * `velocity_state` composes it: [[wireTxns]] into
    * [[VelocityDetector.detectEventTime]]. */
  private def wireVelocity(wire: Dataset[String]): Dataset[VelocityDetector.Alert] =
    VelocityDetector.detectEventTime(wireTxns(wire))

  /** `velocityEventTime` on the wire, with the records a wire carries
    * besides: malformed JSON and a wrong-typed `amount` (both dropped by
    * the parser), and a record with no fields (kept, with the POJO
    * defaults). */
  private val wireVelocityEventTime = {
    def txn(user: String, amount: Double, ts: Long) =
      s"""{"userId":"$user","amount":$amount,"timestamp":$ts}"""
    val b0 +: b1 +: rest = velocityEventTime.map(_.map(t => txn(t.userId, t.amount, t.timestamp)))
    Seq(b0 :+ """{"userId":"u1","amount":""" :+ "{}",
      b1 :+ """{"userId":"u2","amount":"lots","timestamp":125}""") ++ rest
  }

  private val heavyHitters = {
    import StreamHeavyHitters.Ev
    Seq(
      Seq(Ev("a", 1), Ev("b", 3), Ev("a", 2)),
      // b@3 again: the one duplicate row
      Seq(Ev("a", 12), Ev("a", 5), Ev("c", 11), Ev("b", 3)),
      // c@6 is behind the restored watermark (12 − 5): dropped late
      Seq(Ev("a", 8), Ev("c", 6), Ev("a", 14)),
      Seq(Ev("sentinel", 100000)),
      Seq(Ev("sentinel", 100001)))
  }

  private val cusum = {
    import StreamCusum.Obs
    Seq(
      Seq(Obs(1, 1, 0, 10000), Obs(2, 1, 1, 9000), Obs(1, 2, 2, 2000)),
      Seq(Obs(1, 3, 3, 30000), Obs(2, 2, 4, 20000)),
      Seq(Obs(1, 4, 5, 12000), Obs(2, 3, 6, 20000)), // alarms on carried sums
      Seq(Obs(1, 5, 7, 1000)))
  }

  private val alertRuns = {
    import StreamAlert.Obs
    Seq(
      Seq(Obs(1, 0, 0, over = true), Obs(1, 5, 1, over = true), Obs(2, 0, 2, over = true)),
      Seq(Obs(1, 8, 3, over = true), Obs(2, 3, 4, over = false)),
      Seq(Obs(1, 12, 5, over = true), Obs(2, 4, 6, over = true)), // fires an island opened before the cut
      Seq(Obs(1, 13, 7, over = false), Obs(1, 20, 8, over = true), Obs(2, 20, 9, over = true)),
      Seq(Obs(1, 31, 10, over = true)))
  }

  private val sprt = {
    import StreamSprt.Obs
    def o(arm: Long, us: Long, conv: Boolean) = Obs("r", arm, us, us * 2 + arm, conv, 4, -3)
    Seq(
      Seq(o(0, 1, conv = true), o(0, 2, conv = true), o(1, 1, conv = false)),
      Seq(o(0, 3, conv = false), o(0, 4, conv = true), o(1, 2, conv = false)),
      Seq(o(0, 5, conv = true), o(1, 3, conv = false)), // arm 0 crosses +10
      Seq(o(0, 6, conv = false), o(1, 4, conv = false))) // arm 1 crosses −10
  }

  private val funnel = {
    import StreamFunnel.Ev
    Seq(
      Seq(Ev(1, "view", 10, 0), Ev(2, "click", 5, 1), Ev(2, "view", 8, 2)),
      Seq(Ev(1, "click", 20, 3), Ev(2, "click", 9, 4)),
      Seq(Ev(1, "purchase", 30, 5), Ev(2, "purchase", 12, 6), Ev(3, "view", 1, 7)),
      Seq(Ev(1, "view", 40, 8), Ev(3, "click", 2, 9)))
  }

  private val encoding = {
    import StreamEncoding.Obs
    Seq(
      Seq(Obs(0, 1, 0, "view", 100, 1), Obs(0, 2, 1, "view", 100, 1)),
      Seq(Obs(0, 3, 2, "click", 100, 2), Obs(1, 1, 3, "view", 5, 0)),
      Seq(Obs(0, 4, 4, "click", 200, 2), Obs(1, 2, 5, "view", 5, 0)), // runs extend across the cut
      Seq(Obs(0, 5, 6, "view", 200, 3)))
  }

  private val laws: Seq[(String, String => Unit)] = Seq(
    "VelocityDetector.detectEventTime" -> restartLaw((ds: Dataset[VelocityDetector.Txn]) =>
      VelocityDetector.detectEventTime(ds), velocityEventTime, 2,
      Some((_: SparkSession) => velocityTwin(velocityEventTime))),
    "FraudPipeline.parse → VelocityDetector.detectEventTime, wire records" ->
      restartLaw(wireVelocity, wireVelocityEventTime, 2, Some((session: SparkSession) =>
        velocityTwin(wireVelocityEventTime.map(b => wireTxns(session.createDataset(b)).collect().toSeq)))),
    "StreamHeavyHitters.detect" -> restartLaw((ds: Dataset[StreamHeavyHitters.Ev]) =>
      StreamHeavyHitters.detect(ds, windowSec = 10, capacity = 4, thresholdInv = 3,
        watermarkDelaySec = 5), heavyHitters, 2),
    "StreamCusum.track" -> processingTimeLaw((ds: Dataset[StreamCusum.Obs]) =>
      StreamCusum.track(ds), cusum, 2),
    "StreamAlert.track" -> processingTimeLaw((ds: Dataset[StreamAlert.Obs]) =>
      StreamAlert.track(ds, forUs = 10), alertRuns, 2),
    "StreamSprt.track" -> processingTimeLaw((ds: Dataset[StreamSprt.Obs]) =>
      StreamSprt.track(ds, bound = 10), sprt, 2),
    "StreamFunnel.track" -> processingTimeLaw((ds: Dataset[StreamFunnel.Ev]) =>
      StreamFunnel.track(ds), funnel, 2),
    // no batch twin: the ledger is emitted once per micro-batch that
    // touches a day, versioned, so its rows follow the batch split
    "StreamEncoding.track" -> processingTimeLaw((ds: Dataset[StreamEncoding.Obs]) =>
      StreamEncoding.track(ds), encoding, 2, batchTwin = false))

  for ((name, law) <- laws; (providerName, provider) <- providers)
    test(s"restart law: $name under the $providerName state store") { law(provider) }

  test("provider change on an existing checkpoint: the restart keeps the provider the offset log pinned") {
    import VelocityDetector.Txn
    val Seq(hdfs, rocksDb) = providers.map(_._2)
    val run = (ds: Dataset[Txn]) => VelocityDetector.detectEventTime(ds)
    val session = spark.newSession()
    session.conf.set(ProviderConf, hdfs)
    val Seq(whole) = drive(session, run, Seq(velocityEventTime))
    implicit val sc: SQLContext = session.sqlContext
    val mem = MemoryStream[Txn]
    val out = Files.createTempDirectory("switch_out").toString
    val ck = Files.createTempDirectory("switch_ck").toString
    def part(batches: Seq[Seq[Txn]]): Unit = {
      val q = run(mem.toDS()).writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck).start()
      try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
    }
    part(velocityEventTime.take(2))
    session.conf.set(ProviderConf, rocksDb)
    part(velocityEventTime.drop(2))
    val offsets = Files.list(Paths.get(ck, "offsets")).iterator.asScala.toSeq
      .filterNot(_.getFileName.toString.startsWith("."))
    assert(offsets.size >= velocityEventTime.size)
    offsets.foreach { o =>
      val entry = Files.readString(o)
      assert(entry.contains(hdfs) && !entry.contains(rocksDb),
        s"offsets/${o.getFileName} must keep the provider batch 0 pinned")
    }
    val stateFiles = Files.walk(Paths.get(ck, "state")).iterator.asScala
      .map(_.getFileName.toString).toSeq
    assert(stateFiles.exists(_.endsWith(".delta")) && !stateFiles.exists(_.endsWith(".zip")),
      "the state must stay in the HDFS-backed store's files")
    // the cut after batch 2 carries state (the detectEventTime law), so an
    // equal sink means the restart resumed it rather than starting empty
    val restarted = session.read.schema(implicitly[Encoder[VelocityDetector.Alert]].schema)
      .parquet(out).as[VelocityDetector.Alert].collect().toSeq
    assert(bag(restarted) === bag(whole),
      "a provider change on restart must not change the sink rows")
  }
}
