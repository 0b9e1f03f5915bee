package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.{RelationalOps, ScaleOps, SimilarityOps}
import graft.streaming._

/** The micro-batch sink protocol of [[graft.streaming.BatchSink]]: the
  * sink restart law on all twelve store maintainers — the eight
  * [[LeafStore]]s, the two [[DayStore]]s, `StreamSample` and
  * `StreamFilteredAnn` — and the two writes' edge cases, on
  * `StreamCompaction` (batch_id leaf write, SUM state) and `StreamRoaring`
  * (day merge, OR state). */
class BatchSinkSpec extends SparkSpec {
  import spark.implicits._

  /** (day, user_id, event_type, value): every column either maintainer reads. */
  private type Ev = (Long, Long, String, Double)

  private def events(rows: DataFrame): DataFrame =
    rows.selectExpr(s"timestamp_micros(_1 * ${RelationalOps.DayUs}) AS ts",
      "_2 AS user_id", "_3 AS event_type", "_4 AS value")

  private def tmp(name: String): String = Files.createTempDirectory(name).toString

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  // days 0-2, each split across batches
  private val batches: Seq[Seq[Ev]] = Seq(
    Seq((0L, 1L, "click", 1.00), (1L, 2L, "view", 2.50)),
    Seq((0L, 3L, "buy", 3.00), (2L, 4L, "click", 1.00)),
    Seq((1L, 5L, "view", 7.25), (2L, 1L, "click", 2.50), (2L, 7L, "buy", 4.00),
      (0L, 6L, "buy", 3.00)))

  /** `batches` in the events schema, with an event id unique per row. */
  private lazy val eventInput: Seq[DataFrame] = batches.map(b => events(b.toDF())
    .withColumn("event_id", expr(s"user_id * 10 + unix_micros(ts) DIV ${RelationalOps.DayUs}")))

  /** Stop the query after batch k, restart it from the same checkpoint
    * over the same source, then replay batch k through `replay` with its
    * id: the store must read as an uninterrupted run's, and the restarted
    * query must go on with the batch ids the cut left off at. The source
    * is a parquet directory fed one file per batch, so one law serves
    * every input schema. */
  private def restartLaw(start: (DataFrame, String, String) => StreamingQuery,
                         replay: (DataFrame, Long, String) => Unit, k: Int,
                         input: Seq[DataFrame] = eventInput): Unit = {
    def run(parts: Seq[Seq[DataFrame]]): (String, Seq[Long]) = {
      val src = tmp("sink_src")
      val store = tmp("sink") + "/store"
      val ck = tmp("sink_ck")
      val ids = parts.flatMap { part =>
        val q = start(spark.readStream.schema(input.head.schema).parquet(src), store, ck)
        try part.foreach { b =>
          b.coalesce(1).write.mode("append").parquet(src)
          q.processAllAvailable()
        } finally q.stop()
        q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq
      }
      (store, ids)
    }
    def read(store: String) = rows(spark.read.parquet(store))
    val (whole, wholeIds) = run(Seq(input))
    val (store, ids) = run(Seq(input.take(k), input.drop(k)))
    replay(input(k - 1), k - 1L, store)
    assert(read(whole).nonEmpty, "the fixture must produce rows")
    assert(ids === wholeIds, "the restarted query must resume the checkpoint's batch ids")
    assert(read(store) === read(whole),
      "a stop/restart plus a same-id replay must not change the store")
  }

  test("restart law: StreamCompaction (batch_id leaf write, SUM state)") {
    restartLaw(StreamCompaction.start(_, _, _), StreamCompaction.mergeBatch, k = 2)
  }

  test("restart law: StreamRoaring (day merge, OR state)") {
    restartLaw(StreamRoaring.start(_, _, _),
      (b, _, path) => StreamRoaring.mergeBatch(b, path), k = 2)
  }

  test("an empty first batch leaves a readable store: zero rows, the delta's columns plus batch_id") {
    val store = tmp("sink_empty") + "/manifest"
    val empty = events(Seq.empty[Ev].toDF())
    StreamCompaction.mergeBatch(empty, 0L, store)
    assert(rows(StreamCompaction.plan(spark, store)) === rows(ScaleOps.compactionPlan(empty)))
    val stored = spark.read.parquet(store)
    assert(stored.count() === 0L)
    assert(stored.columns.toSeq === ScaleOps.compactionFiles(empty).columns.toSeq :+ "batch_id")
  }

  test("a store that cannot be read fails the day merge and leaves the day's words as they were") {
    val store = tmp("sink_stray") + "/words"
    StreamRoaring.mergeBatch(events(batches.head.toDF()), store)
    def day1 = rows(spark.read.parquet(s"$store/day=1"))
    val before = day1
    Seq(1).toDF("x").write.parquet(s"$store/stray")
    val e = intercept[Exception] {
      StreamRoaring.mergeBatch(events(Seq((1L, 9L, "view", 9.00)).toDF()), store)
    }
    assert(e.getMessage.contains("CONFLICTING_DIRECTORY_STRUCTURES"), s"unexpected failure: $e")
    assert(day1 === before, "a failed read must not overwrite the stored day")
  }

  test("a first day merge into a missing store logs no warning") {
    val warnings = warningsOf(
      StreamRoaring.mergeBatch(events(batches.head.toDF()), tmp("sink_first") + "/words"))
    assert(warnings.isEmpty, s"the first merge logged: $warnings")
  }

  private lazy val customers: Seq[DataFrame] = Seq(
    Seq((1, "S", 10.00), (2, "B", 20.00)),
    Seq((1, "S", 12.50), (3, "M", 30.00)),
    Seq((2, "B", 25.00), (1, "S", 10.00)))
    .map(_.toDF("c_nationkey", "c_mktsegment", "c_acctbal"))

  private lazy val sampleRows: Seq[DataFrame] = Seq(
    Seq((0L, 1L, 90L), (0L, 2L, 70L), (1L, 3L, 50L)),
    Seq((0L, 4L, 80L), (1L, 5L, 60L)),
    Seq((0L, 6L, 95L), (1L, 7L, 10L)))
    .map(_.toDF("g", "id", "key"))

  private def corpus = Tables.embeddings(spark, "/root/testdata/sf0.001")

  private lazy val annQueries: Seq[DataFrame] = Seq(0 until 2, 2 until 4, 4 until 5)
    .map(r => corpus.filter(col("vec_id").between(r.start, r.end - 1))
      .select("vec_id", "embedding"))

  private def leaf(m: LeafStore, input: => Seq[DataFrame] = eventInput): () => Unit =
    () => restartLaw(m.start, m.mergeBatch, k = 2, input)

  private def day(m: DayStore): () => Unit =
    () => restartLaw(m.start, (b, _, path) => m.mergeBatch(b, path), k = 2)

  /** Every store maintainer, with its sink-law input. */
  private val sinkLaws: Seq[(String, () => Unit)] = Seq(
    "StreamBurst" -> leaf(StreamBurst),
    "StreamDrift" -> leaf(StreamDrift),
    "StreamKAnonymity" -> leaf(StreamKAnonymity, customers),
    "StreamCdcMerge" -> leaf(StreamCdcMerge),
    "StreamCompaction" -> leaf(StreamCompaction),
    "StreamResample" -> leaf(StreamResample),
    "StreamZoneMap" -> leaf(StreamZoneMap),
    "StreamRobustOutliers" -> leaf(StreamRobustOutliers),
    "StreamHllCube" -> day(StreamHllCube),
    "StreamRoaring" -> day(StreamRoaring),
    "StreamSample" -> (() => restartLaw(StreamSample.start(_, _, _, 2),
      StreamSample.mergeBatch(_, _, _, 2), k = 2, sampleRows)),
    "StreamFilteredAnn" -> (() => restartLaw(StreamFilteredAnn.start(_, corpus, _, _),
      StreamFilteredAnn.mergeBatch(_, _, _, SimilarityOps.servingIndex(corpus),
        SimilarityOps.NProbe), k = 2, annQueries)))

  for ((name, law) <- sinkLaws)
    test(s"sink restart law: $name") { law() }
}
