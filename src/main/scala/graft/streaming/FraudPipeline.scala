package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.Row

import graft.model.Transaction

/** The reference's streaming topology (`TransactionProcessor.java:25-54`),
  * re-expressed as Structured Streaming transforms.
  *
  * Every stage is a pure `DataFrame => DataFrame` so the same code runs on a
  * `readStream` source (production) and on a `MemoryStream`/batch DataFrame
  * (tests) — Catalyst plans both identically per micro-batch.
  *
  * Topology mapping (SURVEY.md §2.A):
  *  - A1 source scan    → `spark.readStream` (kafka/rate/memory)
  *  - A2 parse (json)   → [[parse]] (PERMISSIVE `from_json` → null on bad)
  *  - A3 null-guard     → [[parse]] (filter isNotNull)
  *  - A4 branch         → [[branchFraud]] (two complementary filters)
  *  - A5 serialize      → [[serialize]] (`to_json`)
  *  - A7 peek           → `observe()` metrics in [[fraudAlerts]]
  *  - A8 sink           → [[startAlertSink]] ([[BatchSink]] → parquet table,
  *                        the InfluxDB-analog sink of B5)
  * Beyond the reference (§2.D gaps closed): event-time tumbling windows
  * with a watermark for late data ([[windowedFraudStats]]).
  */
object FraudPipeline {

  /** A2+A3 — JSON wire value → typed columns, with the reference's EXACT
    * drop/keep split (`TransactionProcessor.java:30-37` + the POJO's
    * primitive fields): a record Jackson would throw on — malformed JSON,
    * wrong field type — is dropped (`_corrupt` set by the PERMISSIVE
    * parser); a VALID record that merely omits fields is KEPT with the
    * POJO primitive defaults (`amount` → 0.0, `timestamp` → 0,
    * `Transaction.java:23,28`) — so an amount-less record rides the
    * non-fraud leg instead of vanishing from both. `userId` stays null
    * like Jackson's object default (the reference happily produces a
    * null Kafka key).
    *
    * The parse sits under a one-element `explode`, a `Generate` node, so
    * each row is parsed once. With a plain projection, Catalyst pushes the
    * `_corrupt` null-guard below it and inlines the `from_json` into the
    * filter, so every row is parsed twice; `from_json` is a
    * `CodegenFallback`, so each parse also pulls the expression that builds
    * `value` out of whole-stage codegen. A filter on a generator's output
    * stays above the `Generate`. `FraudPipelineSpec`'s "parse evaluates
    * from_json once per row" pins the plan. */
  def parse(raw: DataFrame): DataFrame =
    raw.select(explode(array(Transaction.parseJsonCorrupt(col("value")))).as("txn"))
      .filter(col("txn").isNotNull
        && col("txn")(Transaction.CorruptCol).isNull)
      .select(
        col("txn.userId").as("userId"),
        coalesce(col("txn.amount"), lit(0.0)).as("amount"),
        coalesce(col("txn.timestamp"), lit(0)).as("timestamp"))

  /** A4 — the branch: (fraud leg, everything else). Strict `>` — an amount
    * equal to the threshold is NOT fraud (`TransactionProcessor.java:15,39`). */
  def branchFraud(txns: DataFrame,
                  threshold: Double = Transaction.FraudThreshold): (DataFrame, DataFrame) =
    (txns.filter(col("amount") > threshold), txns.filter(!(col("amount") > threshold)))

  /** A5+A6 — fraud leg back to the JSON wire format. */
  def serialize(txns: DataFrame): DataFrame =
    txns.select(col("userId").as("key"),
      Transaction.toJsonCol(col("userId"), col("amount"), col("timestamp")).as("value"))

  /** A2–A8 composed: raw wire stream → serialized fraud alerts, with an
    * `observe` metric as the A7 peek analog (no side-effect in the plan). */
  def fraudAlerts(raw: DataFrame, threshold: Double = Transaction.FraudThreshold): DataFrame = {
    val (fraud, _) = branchFraud(parse(raw), threshold)
    serialize(fraud.observe("fraud_metrics", count(lit(1)).as("n_alerts")))
  }

  /** Event-time tumbling-window stats over the fraud leg with a watermark —
    * the streaming form of the dashboard's C5 `aggregateWindow`. Late data
    * beyond the watermark is dropped (an explicit policy the reference
    * lacks, SURVEY.md §2.D). */
  def windowedFraudStats(txns: DataFrame, windowLen: String = "10 seconds",
                         watermark: String = "30 seconds"): DataFrame =
    txns
      // timestamp-less records carry the epoch-0 default (see [[parse]]):
      // no usable event time, so exclude them EXPLICITLY here — the
      // watermark would otherwise discard them silently as late data
      .filter(col("timestamp") > 0)
      .withColumn("ts", to_timestamp(col("timestamp")))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("userId"))
      .agg(count(lit(1)).as("n"), sum("amount").as("total"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("userId"), col("n"), col("total"))

  /** B1 — synthetic transaction generator on the rate source
    * (1 row/sec default like `TransactionProducer.java:40`, but scalable). */
  def generator(spark: SparkSession, rowsPerSecond: Int = 1): DataFrame =
    spark.readStream.format("rate").option("rowsPerSecond", rowsPerSecond.toString).load()
      .selectExpr(
        "format_string('user_%03d', CAST(pmod(hash(value), 200) AS INT)) AS userId",
        // fractional cents from a second hash, NOT rand(): a replayed or
        // speculatively re-executed micro-batch must regenerate identical
        // rows or the idempotent sink's overwrite rewrites history
        "1000.0 + pmod(abs(hash(value, 7)), 10000) + pmod(abs(hash(value, 13)), 100) / 100.0 AS amount",
        "CAST(unix_timestamp(timestamp) AS INT) AS timestamp")
      .select(col("userId").as("key"),
        Transaction.toJsonCol(col("userId"), col("amount"), col("timestamp")).as("value"))

  /** A1 (production form) — the reference's ACTUAL source is a Kafka topic
    * (`TransactionProcessor.java:27`, topic `transactions` at `:13`). The
    * builders below construct the real `format("kafka")` streams; the
    * sandbox has no broker or connector jar, so tests assert the option
    * plumbing and drive the identical wire-decode on memory streams
    * (`KafkaConnectSpec`), and the query surface is broker-independent
    * (every transform is a pure DataFrame => DataFrame).
    *
    * Option choices for an unbounded production stream:
    *  - `startingOffsets=earliest` for a reprocessing job, `latest` for a
    *    tail-following dashboard (the reference consumer's
    *    `AUTO_OFFSET_RESET_CONFIG=earliest`, `FraudAlertConsumer.java:38`);
    *  - `failOnDataLoss=false`: a compacted/expired offset should not kill
    *    a long-running topology;
    *  - `maxOffsetsPerTrigger` bounds micro-batch size so one backlogged
    *    partition cannot produce an unbounded batch after downtime. */
  def kafkaSourceOptions(bootstrap: String, topic: String,
                         startingOffsets: String = "earliest",
                         maxOffsetsPerTrigger: Long = 1000000L): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrap,
    "subscribe" -> topic,
    "startingOffsets" -> startingOffsets,
    "failOnDataLoss" -> "false",
    "maxOffsetsPerTrigger" -> maxOffsetsPerTrigger.toString)

  /** Kafka wire record → the (key, value) STRING frame every pipeline stage
    * consumes (key/value arrive as BINARY — SURVEY §1.2 casts). Pure
    * transform: also applied to memory/file streams in tests. */
  def decodeWire(raw: DataFrame): DataFrame =
    raw.selectExpr("CAST(key AS STRING) AS key", "CAST(value AS STRING) AS value")

  /** `readStream.format("kafka")` + options + wire decode, composed. */
  def kafkaSource(spark: SparkSession, bootstrap: String, topic: String,
                  startingOffsets: String = "earliest"): DataFrame = {
    val reader = spark.readStream.format("kafka")
    kafkaSourceOptions(bootstrap, topic, startingOffsets)
      .foreach { case (k, v) => reader.option(k, v) }
    decodeWire(reader.load())
  }

  /** A8 (production form) — serialized alerts back to the alerts topic
    * (`TransactionProcessor.java:54`, topic `fraud-alerts` at `:14`).
    * Returns the configured writer; callers `.start()` it. */
  def kafkaSinkOptions(bootstrap: String, topic: String,
                       checkpoint: String): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrap,
    "topic" -> topic,
    "checkpointLocation" -> checkpoint)

  def kafkaSink(alerts: DataFrame, bootstrap: String, topic: String,
                checkpoint: String): DataStreamWriter[Row] = {
    val writer = alerts
      .selectExpr("CAST(key AS STRING) AS key", "CAST(value AS STRING) AS value")
      .writeStream.format("kafka")
    kafkaSinkOptions(bootstrap, topic, checkpoint)
      .foreach { case (k, v) => writer.option(k, v) }
    writer
  }

  /** B5 — the sink: fraud alerts into a parquet "fraud table" (the InfluxDB
    * analog) by the [[BatchSink]] protocol: each micro-batch replaces its
    * own `batch_id=N` leaf, so a batch re-delivered after a failure
    * replaces itself instead of duplicating — upgrading the reference's
    * at-least-once auto-commit consumer (`FraudAlertConsumer.java:42`) to
    * effective exactly-once. Micro-batches run back to back
    * ([[BatchSink.startBackToBack]]), as the reference's topology handles
    * each record once polled: `alerts` may hold [[fraudAlerts]] or
    * event-time keyed state ([[VelocityDetector.detectEventTime]]), not a
    * processing-time TTL ([[KeyedFold.apply]]), which is refused. */
  def startAlertSink(alerts: DataFrame, path: String, checkpoint: String): StreamingQuery =
    BatchSink.startBackToBack(alerts, checkpoint)(BatchSink.write(_, _, path))
}
