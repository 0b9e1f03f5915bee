package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.FraudPipeline

/** Semantics from FIXTURES.md §1: strict `> 10000.0`, malformed JSON
  * dropped without failing, branch legs disjoint and complete. */
class FraudPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val wire = Seq(
    """{"userId":"user_183","amount":10384.25,"timestamp":1737028306}""", // fraud
    """{"userId":"user_001","amount":10000.0,"timestamp":1737028401}""",  // == threshold: NOT fraud
    """{"userId":"user_002","amount":10000.0000001,"timestamp":1737028402}""", // fraud
    """{"userId":"user_003","amount":-5.0,"timestamp":1737028403}""",     // not fraud
    """not json at all""",                                                 // dropped
    """{"userId":"user_004","amount":"oops","timestamp":1737028404}""",    // type mismatch: dropped
  )

  test("parse drops malformed records and keeps the stream alive") {
    val parsed = FraudPipeline.parse(wire.toDF("value"))
    assert(parsed.count() === 4)
    assert(parsed.columns.toSeq === Seq("userId", "amount", "timestamp"))
  }

  test("fraud branch is strict > threshold; legs are disjoint and complete") {
    val parsed = FraudPipeline.parse(wire.toDF("value"))
    val (fraud, other) = FraudPipeline.branchFraud(parsed)
    val fraudUsers = fraud.select("userId").as[String].collect().sorted
    assert(fraudUsers === Array("user_002", "user_183"))
    assert(fraud.count() + other.count() === parsed.count())
    assert(fraud.intersect(other).count() === 0)
  }

  test("missing timestamp defaults to 0 and is serialized, like Jackson's primitive int") {
    val parsed = FraudPipeline.parse(
      Seq("""{"userId":"u1","amount":10500.0}""").toDF("value"))
    assert(parsed.select("timestamp").as[Int].collect().head === 0)
    val json = FraudPipeline.serialize(parsed).select("value").as[String].collect().head
    assert(json.contains(""""timestamp":0"""))
  }

  test("incomplete records keep POJO defaults; throwing records drop — Jackson's exact split") {
    val parsed = FraudPipeline.parse(Seq(
      """{"userId":"u1","timestamp":1737028300}""",     // no amount → kept, 0.0
      """{"userId":"u2","amount":"oops"}""",            // type mismatch → Jackson throws → drop
      """{"amount":10500.0,"timestamp":1737028300}"""   // no userId → kept, null key
    ).toDF("value"))
    val rows = parsed.collect()
    assert(rows.length === 2)
    val u1 = rows.find(r => r.getString(0) == "u1").get
    assert(u1.getDouble(1) === 0.0) // primitive-double default, non-fraud leg
    assert(rows.exists(_.isNullAt(0))) // null userId survives (null Kafka key)
    // the amount-less record rides the non-fraud leg, not dropped
    val (fraud, other) = FraudPipeline.branchFraud(parsed)
    assert(fraud.count() === 1 && other.count() === 1)
  }

  test("serialize round-trips through parse") {
    val parsed = FraudPipeline.parse(wire.toDF("value"))
    val roundTrip = FraudPipeline.parse(FraudPipeline.serialize(parsed))
    assert(roundTrip.orderBy("userId").collect().toSeq ===
      parsed.orderBy("userId").collect().toSeq)
  }

  test("streaming fraudAlerts emits only fraud records via MemoryStream") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[String]
    val alerts = FraudPipeline.fraudAlerts(mem.toDF()) // MemoryStream[String] column is already "value"
    val query = alerts.writeStream.format("memory").queryName("alerts_test")
      .outputMode("append").start()
    try {
      mem.addData(wire: _*)
      query.processAllAvailable()
      val got = spark.table("alerts_test").select("key").as[String].collect().sorted
      assert(got === Array("user_002", "user_183"))
    } finally query.stop()
  }

  /** A wire value built by an expression, like perfbench's generator: one
    * row in a thousand malformed, a tenth above the threshold. */
  private def generatedWire(n: Long): DataFrame = spark.range(n).select(
    when(col("id") % 1000 === 999, lit("not json"))
      .otherwise(format_string("""{"userId":"user_%03d","amount":%s,"timestamp":%d}""",
        pmod(col("id"), lit(200)),
        when(col("id") % 10 === 0, lit(10500.0)).otherwise(col("id") % 5000),
        (col("id") + 1737028300).cast("int")))
      .as("value"))

  test("parse evaluates from_json once per row, behind a barrier the null-guard cannot cross") {
    val wire = generatedWire(2000)
    Seq("parse" -> FraudPipeline.parse(wire), "fraudAlerts" -> FraudPipeline.fraudAlerts(wire))
      .foreach { case (name, df) =>
        val plan = df.queryExecution.executedPlan
        val parses = plan.flatMap(_.expressions.flatMap(_.collect { case j: JsonToStructs => j }))
        assert(parses.size === 1, s"$name's plan holds ${parses.size} from_json parses:\n$plan")
        // the projection building `value` stays compiled, not interpreted
        // by the parse's CodegenFallback
        val codegen = plan.collect { case w: WholeStageCodegenExec => w }
          .flatMap(_.collect { case p: ProjectExec => p })
        assert(codegen.exists(_.output.map(_.name) == Seq("value")),
          s"$name: no whole-stage-codegen projection produces value:\n$plan")
      }
    val (fraud, other) = FraudPipeline.branchFraud(FraudPipeline.parse(wire))
    assert((fraud.count(), other.count()) === (200L, 1798L))
  }

  test("parse keeps the reference's drop/keep split on every record kind; the peek counts the alerts") {
    val kinds = Seq(
      null,                                                       // null value: dropped
      """{"userId":"u1","amount":10500.0,"timestamp":1737028300""", // malformed: dropped
      """{"userId":"u2","amount":"oops","timestamp":1737028301}""", // wrong-typed: dropped
      """{}""",                                                   // field-less: kept, defaults
      """{"userId":"u3","timestamp":1737028303}""",               // amount-less: kept, 0.0
      """{"userId":"u4","amount":10000.0,"timestamp":1737028304}""", // == threshold: kept, not fraud
      """{"userId":"u5","amount":10000.5,"timestamp":1737028305}""") // fraud
    val parsed = FraudPipeline.parse(kinds.toDF("value"))
      .as[(Option[String], Double, Int)].collect().sortBy(_._1)
    assert(parsed.toSeq === Seq((None, 0.0, 0), (Some("u3"), 0.0, 1737028303),
      (Some("u4"), 10000.0, 1737028304), (Some("u5"), 10000.5, 1737028305)))

    implicit val sc = spark.sqlContext
    val mem = MemoryStream[String]
    val query = FraudPipeline.fraudAlerts(mem.toDF()).writeStream.format("memory")
      .queryName("alerts_kinds").outputMode("append").start()
    try {
      mem.addData(kinds: _*)
      query.processAllAvailable()
      val alerts = spark.table("alerts_kinds").select("key").as[String].collect()
      assert(alerts.toSeq === Seq("u5"))
      val observed = query.lastProgress.observedMetrics.get("fraud_metrics")
      assert(observed.getAs[Long]("n_alerts") === alerts.length)
    } finally query.stop()
  }

  test("generator emits the kafka wire schema as a streaming source") {
    val gen = FraudPipeline.generator(spark, rowsPerSecond = 10)
    assert(gen.isStreaming)
    assert(gen.columns.toSeq === Seq("key", "value"))
    // the generator's wire format is parseable by the detector's parser
    assert(FraudPipeline.parse(gen).columns.toSeq === Seq("userId", "amount", "timestamp"))
  }

  test("windowed fraud stats groups by tumbling event-time window") {
    val txns = Seq(
      ("user_a", 10500.0, 1737028300), ("user_a", 10600.0, 1737028305), // same 10s window
      ("user_a", 10700.0, 1737028312)                                   // next window
    ).toDF("userId", "amount", "timestamp")
    val stats = FraudPipeline.windowedFraudStats(txns)
      .orderBy("w_start").collect()
    assert(stats.length === 2)
    assert(stats(0).getAs[Long]("n") === 2)
    assert(stats(1).getAs[Long]("n") === 1)
  }
}
