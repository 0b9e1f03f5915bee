package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark process: builds a session, runs one workload, and writes
  * the raw observations (progress records, timings, check results) as one
  * JSON object to `--out`. `run.py` turns them into metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *        --cores N --work DIR --out FILE [workload parameters, see Opts]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts(args)
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(o.work, "local").getAbsolutePath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()
    val gc0 = gcMs()
    // only a traced run listens, so an untraced run pays nothing for it
    val listener = if (o.trace) Some(new WindowListener) else None
    listener.foreach { l =>
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
    }
    val body = StreamRun.run(spark, o, listener)
    val out = body ++ Map(
      "workload" -> o.workload,
      "seed" -> o.seed,
      "cores" -> o.cores,
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ready_ms" -> sessionReadyMs,
      "gc_ms_total" -> (gcMs() - gc0),
      "state_store_provider" ->
        spark.conf.get("spark.sql.streaming.stateStore.providerClass"))
    Files.writeString(Paths.get(o.out), Json(out))
    spark.stop()
  }

  /** Summed collection time of every garbage collector so far. */
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  }

  /** The process's peak resident set size (`VmHWM`), in kB. */
  def vmHwmKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(0L)
    finally src.close()
  }
}

/** Command-line options; every workload parameter is chosen by `run.py`. */
final case class Opts(kv: Map[String, String]) {
  def apply(k: String): String =
    kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  def long(k: String): Long = apply(k).toLong
  def int(k: String): Int = apply(k).toInt
  def workload: String = apply("workload")
  def seed: Long = long("seed")
  def seconds: Double = apply("seconds").toDouble
  def trace: Boolean = apply("trace") == "1"
  def cores: Int = int("cores")
  def work: String = apply("work")
  def out: String = apply("out")
  def setups: Int = int("setups")
}

object Opts {
  def apply(args: Array[String]): Opts = {
    require(args.length % 2 == 0 && args.grouped(2).forall(_(0).startsWith("--")),
      s"expected --key value pairs, got ${args.mkString(" ")}")
    Opts(args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap)
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case RawJson(s) => s
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** A value that is already JSON text (Spark's own progress JSON). */
final case class RawJson(text: String)
