package graft

import org.apache.spark.sql.SparkSession
import graft.Bench.{fmt, jsonSafe}

/** Quiet-window per-query regression baseline (the r14 verdict's method):
  * every `SparkEntry.queries` entry timed MIN-OF-[[Passes]] inside a small
  * per-chunk window, each chunk bracketed by CPU probes and judged against
  * the run's FOLDED idle-floor calibration ([[Bench.foldQuiet]]) — so the
  * committed artifact says, per chunk, whether its minima were measured
  * quiet. Chunks of [[ChunkSize]] queries keep each window short (~10–60 s)
  * so a steal burst dirties one chunk, not the whole run; a noise-bound
  * chunk is re-measured up to [[ChunkRetries]] times and keeps its best
  * passes. [[QuietDiff]] times its queries with the same [[measure]].
  *
  * Output: ONE JSON line, `metric=quiet_bench`, with per-query min seconds,
  * per-chunk noise verdicts + probe floors, and the calibration pair
  * (`cal0` raw, `probe_quiet_cal` folded). Committed per round as
  * `BENCH_quiet_r{N}.json` — the standing per-query regression oracle on
  * the current host class (official `BENCH_r{N}.json` totals stay the
  * driver's cross-round metric).
  *
  * Usage: `sbt "runMain graft.QuietBench [prefix,...]"` (default: every
  * query), scale factor from SPARK_GRAFT_SF_DIR.
  */
object QuietBench {
  val Passes = 5
  val ChunkSize = 15
  val ChunkRetries = 2

  def main(args: Array[String]): Unit = {
    val sfDir = Bench.sfDirFromEnv()
    val spark = Bench.session()
    println(renderBench(measure(spark, sfDir, n => Bench.prefixes(args).exists(n.startsWith)), sfDir))
    spark.stop()
  }

  /** One chunk's probe points (from its last attempt) and its verdict
    * against the fold as it stood when the chunk was measured — the
    * verdict that decided the retry. */
  final case class Chunk(quietInterim: Boolean, probes: Seq[Double])

  /** Per-query minima and errors in run order, the chunks, and the
    * calibration pair: `cal0` raw, `quietCal` folded over every probe the
    * run took. */
  final case class Measurement(mins: Seq[(String, Double)], errors: Seq[(String, String)],
                               chunks: Seq[Chunk], cal0: Double, quietCal: Double) {
    /** Each chunk re-judged against the FINAL fold (r15 advice): the
      * interim verdict compares against a fold that may still carry a
      * steal-inflated calibration, so a later, lower probe must
      * retroactively re-flag an earlier chunk, exactly as
      * [[Bench.renderLines]] re-judges all passes against the final fold. */
    def chunkQuiet: Seq[Boolean] = chunks.map(c => !Bench.noiseBound(c.probes, quietCal))
  }

  /** Warm up, calibrate, then time the `keep`-selected queries (sorted by
    * name) chunk by chunk under the probe protocol above. Does NOT stop
    * the session. */
  def measure(spark: SparkSession, sfDir: String, keep: String => Boolean,
              probeRows: Long = 64L * 1000 * 1000): Measurement = {
    val queries = Bench.selected(Seq("")).filter { case (n, _) => keep(n) }
    Bench.warmUp(spark, sfDir, queries)
    val ledger = new Bench.ProbeLedger(spark, probeRows)

    val mins = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val chunks = queries.grouped(ChunkSize).zipWithIndex.map { case (chunk, ci) =>
      var best = Map.empty[String, Double]
      // one attempt: a probe, then Passes passes each followed by a probe;
      // best keeps the per-query minimum across every attempt
      def attempt(): Chunk = {
        val probes = ledger.point() +: (1 to Passes).map { _ =>
          chunk.foreach { case (name, query) =>
            Bench.timed(spark, sfDir, query) match {
              case Right(s) => if (!best.get(name).exists(_ <= s)) best += name -> s
              case Left(e) => errors(name) = e
            }
          }
          ledger.point()
        }
        Chunk(!Bench.noiseBound(probes, ledger.quiet), probes)
      }
      val c = (1 to ChunkRetries).foldLeft(attempt()) { (c, _) =>
        if (c.quietInterim) c else { Thread.sleep(5000); attempt() }
      }
      chunk.foreach { case (name, _) =>
        best.get(name).foreach(mins(name) = _)
      }
      System.err.println(f"[quiet-bench] chunk $ci%3d quiet=${c.quietInterim} " +
        f"probes=${c.probes.map(fmt).mkString(",")}")
      c
    }.toList
    Measurement(mins.toSeq, errors.toSeq, chunks, ledger.cal0, ledger.quiet)
  }

  private[graft] def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  /** The `errors` object: query name → message. */
  private[graft] def errorsJson(m: Measurement): String =
    obj(m.errors.map { case (k, v) => k -> ("\"" + v + "\"") })

  /** The `chunks` object: per chunk index, the final-fold verdict, the
    * interim one (forensics only) and the probe points. */
  private[graft] def chunksJson(m: Measurement): String =
    obj(m.chunks.zip(m.chunkQuiet).zipWithIndex.map { case ((c, q), ci) =>
      ci.toString ->
        s"""{"quiet":$q,"quiet_interim":${c.quietInterim},"probes":[${c.probes.map(fmt).mkString(",")}]}"""
    })

  /** The `metric=quiet_bench` line. */
  def renderBench(m: Measurement, sfDir: String): String =
    s"""{"metric":"quiet_bench","value":${fmt(m.mins.map(_._2).sum)},"unit":"sec",""" +
      s""""nqueries":${m.mins.size},"passes":$Passes,"all_chunks_quiet":${m.chunkQuiet.forall(identity)},""" +
      s""""cal0":${fmt(m.cal0)},"probe_quiet_cal":${fmt(m.quietCal)},""" +
      s""""queries":${obj(m.mins.map { case (k, v) => k -> fmt(v) })},""" +
      s""""errors":${errorsJson(m)},"chunks":${chunksJson(m)},""" +
      s""""sf":"${jsonSafe(sfDir)}"}"""
}
