package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.FlatMapGroupsWithState
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.streaming.{GroupStateTimeout, StreamingQuery, Trigger}

import graft.io.LocalFs

/** The micro-batch sink protocol, in one place: every store maintainer
  * and the alert sink start here, and land each micro-batch by one of two
  * idempotent writes.
  *
  *  - [[write]] — SUM- or join-shaped state: the batch's rows replace the
  *    `path/batch_id=N` leaf, so a batch re-delivered after a failure
  *    rewrites its own partial instead of duplicating it. Readers see one
  *    table (`spark.read.parquet(path)`) with `batch_id` a partition
  *    column they can ignore; even an empty batch leaves a part file that
  *    carries the schema, so the store is readable from the first batch.
  *  - [[mergeByDay]] — algebraic state (MAX registers, OR words): the
  *    touched days are re-merged with the batch and rewritten, so a
  *    re-delivered batch cannot move the store once absorbed.
  *
  * Exactly-once is the replayable source plus these idempotent writes
  * (Structured Streaming's sink contract); the checkpoint logs, state
  * stores and sink commit run on [[LocalFs]], which both entry points
  * install. A store maintainer is a delta over one static batch on one of
  * the two bases below, [[LeafStore]] or [[DayStore]]; they alone know how
  * a maintainer lands and starts a micro-batch.
  *
  * Two entry points differ only in the trigger:
  *  - [[start]] ticks every second. The store maintainers start here, and
  *    so must any query holding a processing-time TTL
  *    ([[KeyedFold.apply]]): an armed TTL makes the engine run an empty
  *    micro-batch on every trigger, so the tick bounds that idle work.
  *  - [[startBackToBack]] starts the next micro-batch as soon as the last
  *    one ends (Spark's default trigger), as Kafka Streams pushes each
  *    polled record straight through. The paper's alert sink starts here,
  *    so its throughput is set by the batch, not by a clock. With no new
  *    input it polls the source and runs nothing, except one no-data
  *    batch per watermark move for event-time state. */
object BatchSink {

  /** Start `each` on every micro-batch of `stream` (with its batch id),
    * on a 1 s processing-time trigger, checkpointed at `checkpoint`. */
  def start(stream: DataFrame, checkpoint: String)(
      each: (DataFrame, Long) => Unit): StreamingQuery =
    run(stream, checkpoint, Trigger.ProcessingTime("1 second"))(each)

  /** [[start]] with each micro-batch starting as soon as the last one
    * ends. Refuses a stream holding processing-time keyed state, which
    * would run an empty micro-batch (an offset-log entry, a commit and a
    * state version) back to back while its input is idle. */
  def startBackToBack(stream: DataFrame, checkpoint: String)(
      each: (DataFrame, Long) => Unit): StreamingQuery = {
    val ticking = stream.queryExecution.analyzed.exists {
      case f: FlatMapGroupsWithState => f.timeout == GroupStateTimeout.ProcessingTimeTimeout()
      case _ => false
    }
    require(!ticking, "a processing-time timeout runs an empty micro-batch on every " +
      "trigger; start this stream with BatchSink.start, whose 1 s trigger bounds them")
    run(stream, checkpoint, Trigger.ProcessingTime(0L))(each)
  }

  private def run(stream: DataFrame, checkpoint: String, trigger: Trigger)(
      each: (DataFrame, Long) => Unit): StreamingQuery = {
    LocalFs.install(stream.sparkSession)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch(each)
      .start()
  }

  /** Replace the `path/batch_id=N` leaf with `rows`. */
  def write(rows: DataFrame, batchId: Long, path: String): Unit =
    rows.write.mode("overwrite").parquet(s"$path/batch_id=$batchId")

  /** Merge `delta` into the `day`-partitioned store at `path`: the stored
    * rows of the days the delta touches are unioned with it, regrouped on
    * `keys` by the `merge` aggregate, and only those day partitions are
    * rewritten. Each merge reads ≤ touched-days of the store, bounded work
    * per batch however large history grows. The merged frame is
    * localCheckpoint'ed so the overwrite never races its own read. */
  def mergeByDay(delta: DataFrame, path: String, keys: Seq[String],
                 merge: Column): Unit = {
    val existing = stored(delta.sparkSession, path).map(
      // partition-column inference reads `day=N` back as INT — restore
      // the delta's key type before merging
      _.withColumn("day", col("day").cast(delta.schema("day").dataType))
        .select(delta.columns.map(col).toIndexedSeq: _*)
        .join(broadcast(delta.select("day").distinct()), "day"))
    existing.fold(delta)(_.unionByName(delta))
      .groupBy(keys.map(col): _*).agg(merge)
      .localCheckpoint()
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day")
      .parquet(path)
  }

  /** The store at `path`; None only while it is missing (checked, since
    * reading a missing path logs a stack trace) or holds no data files.
    * Any other read failure — a stray directory, an unreadable file —
    * fails the micro-batch instead of merging against nothing. */
  private def stored(spark: SparkSession, path: String): Option[DataFrame] = {
    val store = new Path(path)
    if (!store.getFileSystem(spark.sessionState.newHadoopConf()).exists(store)) None
    else try Some(spark.read.parquet(path))
    catch { case e: AnalysisException if e.getCondition == "UNABLE_TO_INFER_SCHEMA" => None }
  }
}

/** A store maintainer whose micro-batches land by [[BatchSink.write]]:
  * `delta` collapses one static batch to the partial the store keeps
  * (SUM- or join-shaped state, so replay safety is the batch_id leaf). */
abstract class LeafStore(delta: DataFrame => DataFrame) {

  /** Land one (static) batch's partial under its own batch_id leaf — also
    * the unit the specs replay directly. */
  private[graft] def mergeBatch(batch: DataFrame, batchId: Long, path: String): Unit =
    BatchSink.write(delta(batch), batchId, path)

  /** Start the maintainer on a streaming frame of the delta's input. */
  def start(events: DataFrame, path: String, checkpointDir: String): StreamingQuery =
    BatchSink.start(events, checkpointDir)(mergeBatch(_, _, path))
}

/** A store maintainer whose micro-batches land by [[BatchSink.mergeByDay]]:
  * `delta` collapses one static batch to day-keyed rows, regrouped with
  * the stored days on `keys` by the algebraic `merge` aggregate, so
  * redelivery cannot move the store and no batch id is needed. */
abstract class DayStore(delta: DataFrame => DataFrame, keys: Seq[String], merge: Column) {

  /** Merge one (static) batch into the store at `path` — also the unit
    * the specs replay and duplicate directly. */
  private[graft] def mergeBatch(batch: DataFrame, path: String): Unit =
    BatchSink.mergeByDay(delta(batch), path, keys, merge)

  /** Start the maintainer on a streaming frame of the delta's input. */
  def start(events: DataFrame, path: String, checkpointDir: String): StreamingQuery =
    BatchSink.start(events, checkpointDir)((batch, _) => mergeBatch(batch, path))
}
