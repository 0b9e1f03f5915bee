package graft

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
}
