package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared single SparkSession for all specs (session startup dominates test
  * wall-clock otherwise). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.sql.autoBroadcastJoinThreshold", "-1") // let bucketed-join tests see SMJ
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // every spec runs on the local-file path the stream benchmark times
    graft.io.LocalFs.install(s)
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Runs `body`, which starts processing-time keyed queries, with empty
    * micro-batches off on `session`. Such a query holds an armed TTL
    * ([[graft.streaming.KeyedFold.Ttl]]), and the engine runs an empty
    * micro-batch on every trigger to check it, so `processAllAvailable`
    * would never return. A query reads the setting when it starts.
    * Event-time queries keep Spark's default: their timers fire in those
    * batches. */
  def withoutEmptyBatches[T](session: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val before = session.conf.getOption(key)
    session.conf.set(key, "false")
    try body finally before.fold(session.conf.unset(key))(session.conf.set(key, _))
  }

  /** The WARN-or-worse lines (`logger: message`) logged while `body` runs. */
  def warningsOf(body: => Unit): Seq[String] = {
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("spec-warnings", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = if (e.getLevel.isMoreSpecificThan(Level.WARN))
        warnings.add(s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    assert(root.isWarnEnabled, "a logger above WARN would hide the warning")
    capture.start()
    root.addAppender(capture)
    try body finally root.removeAppender(capture)
    warnings.toArray(Array.empty[String]).toSeq
  }
}
