package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.{RelationalOps, ScaleOps}
import graft.streaming.{StreamCompaction, StreamRoaring}

/** The micro-batch sink protocol of [[graft.streaming.BatchSink]], on one
  * maintainer per write: `StreamCompaction` (batch_id leaf write, SUM
  * state) and `StreamRoaring` (day merge, OR state). */
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

  /** Stop the query after batch k, restart it from the same checkpoint
    * over the same source, then replay batch k through `replay` with its
    * id: the store must read as an uninterrupted run's. */
  private def restartLaw(start: (DataFrame, String, String) => StreamingQuery,
                         replay: (DataFrame, Long, String) => Unit, k: Int): Unit = {
    implicit val sc = spark.sqlContext
    def run(parts: Seq[Seq[Seq[Ev]]]): String = {
      val mem = MemoryStream[Ev]
      val store = tmp("sink") + "/store"
      val ck = tmp("sink_ck")
      parts.foreach { part =>
        val q = start(events(mem.toDF()), store, ck)
        try part.foreach { b => mem.addData(b); q.processAllAvailable() }
        finally q.stop()
      }
      store
    }
    def read(store: String) = rows(spark.read.parquet(store))
    val whole = read(run(Seq(batches)))
    val store = run(Seq(batches.take(k), batches.drop(k)))
    replay(events(batches(k - 1).toDF()), k - 1L, store)
    assert(whole.nonEmpty, "the fixture must produce rows")
    assert(read(store) === whole,
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
}
