package perfbench

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Sums task, job and query-phase metrics between [[start]] and [[stop]],
  * for the per-layer report of a traced run.
  *
  * Register it with `SparkContext.addSparkListener` and with the session's
  * `listenerManager` before the stream starts (a streaming query's session
  * is a clone, which copies the registered query listeners). Both kinds of
  * event reach it through the context's shared listener queue, in order.
  */
final class WindowListener extends SparkListener with QueryExecutionListener {
  import WindowListener.MarkerKey

  @volatile private var recording = false
  private val sums = mutable.Map[String, Long]().withDefaultValue(0L)
  private val shuffleRecords = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val jobStarts = mutable.Map[Int, Long]()
  private val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  private val markerStages = mutable.Set[Int]()
  private val markerJobs = mutable.Set[Int]()
  private var marker: Option[(String, Boolean, CountDownLatch)] = None

  /** Clears the totals and starts recording once every event of the work
    * that already ran has been delivered. */
  def start(spark: SparkSession): Unit = barrier(spark.sparkContext, record = true)

  /** Stops recording once every event of the work that already ran has
    * been delivered, and returns the totals since [[start]]. */
  def stop(spark: SparkSession): Map[String, Any] = {
    barrier(spark.sparkContext, record = false)
    synchronized {
      val skews = shuffleRecords.values.filter(_.nonEmpty).map { rs =>
        val s = rs.sorted
        val median = s(s.size / 2)
        if (median > 0) s.last.toDouble / median else s.last.toDouble
      }.toSeq.sorted
      sums.toMap ++ Map(
        "shuffle_skew" -> (if (skews.isEmpty) 0.0 else skews(skews.size / 2)),
        "job_intervals" -> jobIntervals.map { case (a, b) => Seq(a, b) }.toSeq)
    }
  }

  /** Runs a one-task marker job and waits until this listener sees it
    * start. A listener queue delivers events in the order they were
    * posted, so by then every earlier event has been delivered; recording
    * switches on or off at that point. The marker's own events are not
    * counted. */
  private def barrier(sc: SparkContext, record: Boolean): Unit = {
    val token = UUID.randomUUID().toString
    val seen = new CountDownLatch(1)
    synchronized { marker = Some((token, record, seen)) }
    val previous = sc.getLocalProperty(MarkerKey)
    sc.setLocalProperty(MarkerKey, token)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerKey, previous)
    if (!seen.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("listener events not delivered within 60 s")
  }

  private def add(k: String, v: Long): Unit = sums(k) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(MarkerKey))) match {
      case Some(token) =>
        markerJobs += e.jobId
        markerStages ++= e.stageIds
        marker.filter(_._1 == token).foreach { case (_, record, seen) =>
          if (record) {
            sums.clear(); shuffleRecords.clear(); jobStarts.clear(); jobIntervals.clear()
          }
          recording = record
          marker = None
          seen.countDown()
        }
      case None =>
        if (recording) jobStarts(e.jobId) = e.time
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (recording && !markerJobs(e.jobId)) {
      jobStarts.remove(e.jobId).foreach(t => jobIntervals += ((t, e.time)))
      add("jobs", 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (recording && m != null && !markerStages(e.stageId)) {
      val info = e.taskInfo
      add("tasks", 1)
      add("cpu_ns", m.executorCpuTime)
      add("scheduler_delay_ms", math.max(0L, info.duration - m.executorRunTime
        - m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime))
      add("shuffle_bytes_written", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("output_bytes", m.outputMetrics.bytesWritten)
      add("output_records", m.outputMetrics.recordsWritten)
      if (m.shuffleReadMetrics.totalBlocksFetched > 0)
        shuffleRecords.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) +=
          m.shuffleReadMetrics.recordsRead
    }
  }

  /** `QueryExecution.tracker` phase times (analysis, optimization,
    * planning) of every query that completes, such as the sink's write. */
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      if (recording) {
        add("queries", 1)
        qe.tracker.phases.foreach { case (k, v) => add(s"phase_${k}_ms", v.durationMs) }
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object WindowListener {
  private val MarkerKey = "perfbench.marker"
}
