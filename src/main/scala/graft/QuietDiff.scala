package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.Bench.{fmt, jsonSafe}

/** Per-query regression diff against the standing quiet baseline (the r15
  * verdict's item 5: `BENCH_quiet_r{N}.json` existed but nothing diffed
  * against it). Re-times the named queries with [[QuietBench.measure]] —
  * the same chunked, retried, final-fold-judged protocol that produced the
  * baseline — loads the baseline's per-query minima, and emits ONE JSON
  * line with per-query base/now/ratio plus a `flagged` list of queries
  * above [[RatioFlag]]× their baseline — the round-close checklist runs
  * this for the heaviest queries and any new ones, and a regression is a
  * named line in a committed artifact instead of a cross-round eyeball.
  *
  * Usage: `sbt "runMain graft.QuietDiff q177,q225"` (comma-separated
  * name prefixes; default = the baseline's six slowest queries + queries
  * absent from the baseline, i.e. new this round). Baseline path via
  * SPARK_GRAFT_QUIET_BASE (default BENCH_quiet_r16.json); a missing,
  * unreadable, malformed or query-less baseline is an error naming the
  * path. A diff taken in a noise-bound window says so (`quiet:false`) —
  * flags from a dirty window are telemetry, not verdicts. */
object QuietDiff {
  val RatioFlag = 1.3

  /** The quiet-bench artifact's `"queries"` object (name → seconds);
    * malformed JSON throws. */
  private[graft] def parseBaseline(json: String): Map[String, Double] =
    new ObjectMapper().readTree(json).path("queries").properties().asScala
      .map(e => e.getKey -> e.getValue.asDouble).toMap

  /** The baseline's per-query minima. Throws, naming `path`, when the file
    * is missing, unreadable, malformed or holds no queries: an empty or
    * partial baseline would report queries `base:null` and flag nothing. */
  def loadBaseline(path: String): Map[String, Double] = {
    val baseline =
      try parseBaseline(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
      catch { case e: java.io.IOException =>
        throw new IllegalArgumentException(s"cannot read quiet baseline $path: $e", e)
      }
    require(baseline.nonEmpty, s"quiet baseline $path holds no queries")
    baseline
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Bench.sfDirFromEnv()
    val basePath = sys.env.getOrElse("SPARK_GRAFT_QUIET_BASE", "BENCH_quiet_r16.json")
    val baseline = loadBaseline(basePath)
    val keep: String => Boolean =
      if (args.nonEmpty) n => Bench.prefixes(args).exists(n.startsWith)
      else {
        // the baseline's slowest queries, the ones a plan regression hurts
        // most, plus everything new since the baseline
        val heavy = baseline.toSeq.sortBy { case (n, s) => (-s, n) }.take(6).map(_._1).toSet
        n => heavy(n) || !baseline.contains(n)
      }
    val spark = Bench.session()
    println(renderDiff(QuietBench.measure(spark, sfDir, keep), baseline, basePath, sfDir))
    spark.stop()
  }

  /** The `metric=quiet_diff` line: `quiet` is the conjunction of the
    * final-fold chunk verdicts. */
  def renderDiff(m: QuietBench.Measurement, baseline: Map[String, Double],
                 basePath: String, sfDir: String): String = {
    def entry(name: String, now: Double): (String, String) = baseline.get(name) match {
      case Some(b) =>
        name -> s"""{"base":${fmt(b)},"now":${fmt(now)},"ratio":${fmt(now / b)}}"""
      case None =>
        name -> s"""{"base":null,"now":${fmt(now)},"ratio":null}"""
    }
    val flagged = m.mins.collect {
      case (n, now) if baseline.get(n).exists(b => now > RatioFlag * b) => n
    }
    s"""{"metric":"quiet_diff","base":"${jsonSafe(basePath)}","passes":${QuietBench.Passes},""" +
      s""""quiet":${m.chunkQuiet.forall(identity)},"cal0":${fmt(m.cal0)},""" +
      s""""probe_quiet_cal":${fmt(m.quietCal)},"chunks":${QuietBench.chunksJson(m)},""" +
      s""""ratio_flag":$RatioFlag,"flagged":[${flagged.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""queries":${QuietBench.obj(m.mins.map { case (k, v) => entry(k, v) })},""" +
      s""""errors":${QuietBench.errorsJson(m)},"sf":"${jsonSafe(sfDir)}"}"""
  }
}
