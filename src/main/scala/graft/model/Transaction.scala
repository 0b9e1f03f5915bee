package graft.model

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's single record type (`Transaction.java:5-9`): a flat
  * financial transaction carried as JSON on the wire
  * (`@JsonProperty` keys at `Transaction.java:18-31`).
  *
  * `timestamp` is Unix epoch SECONDS truncated to a 32-bit int
  * (`TransactionProducer.java:49`) — kept as Int at the wire boundary and
  * converted once to TimestampType for event-time operations.
  */
case class Transaction(userId: String, amount: Double, timestamp: Int)

object Transaction {
  /** Wire schema for `from_json` (matches Jackson's view of the POJO). */
  val schema: StructType = StructType(Seq(
    StructField("userId", StringType),
    StructField("amount", DoubleType),
    StructField("timestamp", IntegerType)))

  /** Fraud threshold (`TransactionProcessor.java:15`), strict `>`
    * (`TransactionProcessor.java:39`) — `amount == 10000.0` is NOT fraud. */
  val FraudThreshold: Double = 10000.0

  /** Corrupt-record column name for [[parseJsonCorrupt]]. */
  val CorruptCol = "_corrupt"

  /** JSON string → typed struct column, with corrupt-record capture: a
    * record Jackson would THROW on (malformed JSON, wrong field type) gets
    * `_corrupt` set; a merely INCOMPLETE record (missing keys) parses
    * cleanly with null fields — exactly the reference's two cases
    * (`TransactionProcessor.java:30-37` drops the thrower, keeps the
    * incomplete record with POJO primitive defaults). The corrupt column is
    * needed because Spark's PERMISSIVE mode does NOT yield a null struct on
    * malformed input — it yields a non-null struct whose FIELDS are null
    * (only SQL NULL input gives a null struct; verified on this Spark
    * build), so a plain `from_json` cannot tell a thrower from an
    * incomplete record. `FraudPipeline.parse` drops on `_corrupt`.
    *
    * `from_json` is a `CodegenFallback`: it runs interpreted, and so does
    * the expression that feeds it. Evaluate it once per row, behind a plan
    * node the optimizer cannot inline it through (`FraudPipeline.parse`
    * uses a `Generate`); a filter on its fields otherwise parses each row
    * again. */
  def parseJsonCorrupt(value: Column): Column =
    from_json(value,
      StructType(schema.fields :+ StructField(CorruptCol, StringType)),
      Map("columnNameOfCorruptRecord" -> CorruptCol))

  /** Typed columns → JSON string (`TransactionProcessor.java:44-51`).
    * `ignoreNullFields=false` + a 0 default for timestamp: Jackson
    * serializes every `@JsonProperty` key, and a missing wire timestamp
    * parses to the primitive-int default 0 (`Transaction.java:28`) — so
    * the re-serialized record carries `"timestamp":0`, never omits the
    * key the way Spark's default to_json would. */
  def toJsonCol(userId: Column, amount: Column, timestamp: Column): Column =
    to_json(
      struct(userId.as("userId"), amount.as("amount"),
        coalesce(timestamp, lit(0)).as("timestamp")),
      Map("ignoreNullFields" -> "false"))
}
