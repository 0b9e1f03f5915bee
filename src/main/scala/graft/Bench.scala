package graft

import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main — runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints machine-readable JSON lines (see [[renderLines]] for the contract).
  *
  * Methodology:
  *  - queries execute in sorted-name order (stable run-to-run);
  *  - one full warmup pass first (JIT + codegen + parquet footer caches —
  *    first-query-in-JVM overhead otherwise dominates and measures the JVM,
  *    not the plan);
  *  - results go to the `noop` sink: the whole plan executes (unlike
  *    `count()`, which lets Catalyst prune projections) with zero sink cost;
  *  - TWO measured passes, per-query MIN reported: the host shows noisy-
  *    neighbor CPU steal (observed 3 s → 19 s on an identical warm plan),
  *    and min-of-2 is the standard estimator for "the plan's cost" under
  *    external interference; while EVERY pass so far is individually
  *    noise-bound, further passes run up to [[MaxPasses]] and the minima
  *    are min-of-N. The artifact-level `noise_bound` is the per-pass
  *    conjunction ([[passNoise]]): one quiet pass upper-bounds every
  *    reported minimum, so its existence clears the flag; a run all-noisy
  *    after MaxPasses stays flagged rather than laundered. Official runs
  *    additionally hold the first pass for a bounded quiet-probe window
  *    (`gate_wait` in the compact line records the wait);
  *  - a fixed-cost CPU probe runs before and after each measured pass AND
  *    every [[ProbeEvery]] queries inside it. Its plan never changes, so
  *    probe variance IS host interference — a reader can attribute an
  *    interference burst to a ~20-query span without a re-run;
  *  - `main` also APPENDS the full `bench_detail` line to
  *    `BENCH_detail_local.json` (override: SPARK_GRAFT_DETAIL_OUT), so
  *    pass-level anomalies stay attributable from the repo even when only
  *    the stdout tail is captured.
  */
object Bench {
  /** Per-query outcome of the measured passes (normally two; a third is
    * appended when the first two are noise-bound — see [[run]]). */
  final case class QueryResult(name: String, passes: Seq[Either[String, Double]])
  object QueryResult {
    /** Two-pass convenience constructor (the common shape). */
    def apply(name: String, p1: Either[String, Double],
              p2: Either[String, Double]): QueryResult =
      QueryResult(name, Seq(p1, p2))
  }

  /** Probe seconds per measured pass, in order: before the pass, one every
    * [[ProbeEvery]] queries, after the pass. Each pass's head is the
    * previous pass's last (shared boundary probe): pass n+1 starts where
    * pass n ended. */
  final case class Probes(passes: Seq[Seq[Double]]) {
    /** All distinct probes in run order (each boundary probe once). */
    def all: Seq[Double] = passes match {
      case Seq() => Seq.empty
      case head +: tail => head ++ tail.flatMap(_.drop(1))
    }
  }
  object Probes {
    /** Two-pass convenience constructor (the common shape). */
    def apply(pass1: Seq[Double], pass2: Seq[Double]): Probes =
      Probes(Seq(pass1, pass2))
  }

  /** Queries between two mid-pass probes. */
  val ProbeEvery = 20

  /** Committed quiet-host probe cost (sec) — the HISTORICAL reference from
    * rounds 8–13 on the original host class. The 64M-row probe is
    * scheduling-overhead-bound, not compute-bound: measured 0.136–0.157 s
    * at local[32] and 0.150–0.203 s at local[8] in a quiet window, with
    * r8/r9 official-run minima at 0.119–0.132. Anything well above this
    * is external CPU steal, not the probe. Official runs RECALIBRATE this
    * per round start ([[calibrateQuiet]], the r13 forensics' lesson: the
    * round-14 host floors at ~10× this constant, so a stale reference
    * would flag every pass forever and the remediation loop would burn
    * MaxPasses on an unreachable bar); this constant remains the floor so
    * calibration can only ever RAISE the bar, never launder genuine noise
    * below the known physical cost. */
  val ProbeQuietSec = 0.13

  /** The current host's probe-floor FIRST ESTIMATE: the MIN of `n` spaced
    * probes taken after the warmup pass, floored at [[ProbeQuietSec]].
    * MIN, not median: a start-of-run steal burst inflates most probes but
    * the minimum tracks the achievable floor, so a burst cannot bake
    * itself into the reference and un-flag later noise.
    *
    * This is only the INITIAL estimate, not the final reference: the ~3.5 s
    * sampling window is shorter than the multi-second steal episodes the
    * gate exists to catch (r11 saw one span a whole closing window), so a
    * burst covering the entire window would inflate every sample and the
    * floored MIN with it — and a bar judged against an inflated reference
    * publishes noise_bound:false on a stolen run (the r12 laundering
    * failure mode, via calibration instead of the pass). [[run]] therefore
    * FOLDS the minimum of every probe observed later (gate, boundary,
    * mid-pass) back into the reference — the smallest probe ever seen in
    * the whole run is the best idle-floor estimate, and it can only LOWER
    * the bar toward honesty, never raise it. The folded value is published
    * as `probe_quiet_cal`; this raw first estimate as `cal0`;
    * and `cal_high` flags a first estimate above [[CalHighFactor]]× the
    * historical floor so a possibly steal-inflated (or genuinely slow-host)
    * calibration is visible in the artifact rather than silently trusted. */
  def calibrateQuiet(spark: SparkSession, probeRows: Long, n: Int = 5): Double = {
    val samples = (1 to n).map { _ =>
      Thread.sleep(500)
      probeSamples(spark, probeRows).min // min-of-pair points (see probeSamples)
    }
    math.max(ProbeQuietSec, samples.min)
  }

  /** A calibration above this multiple of the historical [[ProbeQuietSec]]
    * floor is flagged `cal_high` in the compact line: either the host class
    * is genuinely slower (the r14 hosts floor ~10× the r8 constant — then
    * every run on that host says so, which is accurate telemetry) or the
    * calibration window itself was stolen — either way the reader must not
    * trust the bar blindly. */
  val CalHighFactor = 3.0

  /** The run-wide quiet reference: the initial calibration lowered by the
    * smallest probe observed anywhere in the run, floored at the physical
    * [[ProbeQuietSec]]. Monotone non-increasing as probes accumulate. */
  def foldQuiet(cal0: Double, probesSeen: Seq[Double]): Double =
    math.max(ProbeQuietSec,
      (cal0 +: probesSeen).min)

  /** Noise gate over one probe sequence: flagged noise-bound when the
    * MEDIAN probe exceeds 1.5× the ABSOLUTE quiet baseline. The r12
    * artifact exposed why the gate must not be self-relative WITHIN a
    * pass: a pass that is UNIFORMLY slow (every probe ~2.5× quiet —
    * sustained steal, not a burst) has a best probe close to its median,
    * so the old `max(ProbeQuietSec, sorted.head)` clause judged it quiet
    * and published inflated minima under `noise_bound: false`. The probe
    * plan is constant, so the honest reference is a constant measured
    * OUTSIDE the pass: the committed historical floor, raised to the
    * current host's idle-window floor by [[calibrateQuiet]] on official
    * runs — a host uniformly above ITS OWN idle floor is interference by
    * definition; a host whose floor is simply higher than the r8 one is a
    * slower host, not noise. */
  def noiseBound(probes: Seq[Double], quietSec: Double = ProbeQuietSec): Boolean =
    probes.nonEmpty && {
      val sorted = probes.sorted
      sorted(sorted.size / 2) > 1.5 * quietSec
    }

  /** Per-PASS noise verdicts — the artifact-level flag is their
    * conjunction: the reported metric is the per-query MIN across passes,
    * and external steal only ever INFLATES a timing, so one genuinely
    * quiet pass upper-bounds every reported minimum and makes the totals
    * trustworthy regardless of how noisy the other passes were. (The old
    * median-over-all-probes rule kept a run flagged forever once one
    * steal-bound pass had polluted the pool — remediation passes could
    * never clear it.) A run where EVERY pass saw steal stays flagged:
    * that is documented exhaustion, not laundering. */
  def passNoise(probes: Probes, quietSec: Double = ProbeQuietSec): Seq[Boolean] =
    probes.passes.map(noiseBound(_, quietSec))

  /** Measured-pass budget: the standard two, plus remediation passes while
    * every pass so far is individually noise-bound. */
  val MaxPasses = 5

  /** 3-decimal rendering, locale-independent (f"" uses the default locale). */
  def fmt(v: Double): String = String.format(Locale.ROOT, "%.3f", Double.box(v))

  /** One-line JSON-safe string content: strip backslash, quote, and ALL
    * control chars (same rule as Verify's escaper — any raw control byte
    * would make a line-oriented json.loads fail). Applied to EVERYTHING
    * interpolated into a JSON string literal, error messages and the sf
    * dir alike — a quote in SPARK_GRAFT_SF_DIR must not corrupt the line.
    */
  def jsonSafe(s: String): String =
    String.valueOf(s).map(c => if (c == '"' || c == '\\' || c < ' ') ' ' else c)

  def errMsg(e: Throwable): String =
    jsonSafe(e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(200)

  /** Fixed-cost CPU probe: a pure-compute range aggregation with no IO and a
    * constant plan. Quiet-host cost is a small constant; anything above it is
    * external CPU steal.
    */
  def probeOnce(spark: SparkSession, rows: Long): Double = {
    val t0 = System.nanoTime()
    // xxhash64 is per-row CPU work; bit_xor cannot overflow under ANSI mode.
    noop(spark.range(0L, rows, 1L, spark.sparkContext.defaultParallelism)
      .selectExpr("bit_xor(xxhash64(id)) AS s"))
    (System.nanoTime() - t0) / 1e9
  }

  /** One probe POINT's `n` back-to-back [[probeOnce]] runs; the point is
    * their MIN, and callers that publish forensics keep the whole pair.
    *
    * Why a pair and not a single (r15 diagnostic, `ProbeSettleProbe`,
    * whose source remains at commit `596d2d2`, run in a verified-quiet
    * window): the FIRST probe after a measured
    * pass — or after any pause following one — reproducibly reads
    * 0.25–0.55 s while an immediately-repeated probe reads the true
    * 0.10–0.17 s floor, and the inflation RECURS after a 1–3 s settle
    * (the engine's own post-pass work, concurrent GC being the prime
    * suspect, competes with exactly one probe). A single-probe gate
    * therefore flags the engine's own settling as "external steal" and
    * can never read quiet after a heavy pass — every r14 official pass
    * and the first r15 quiet-bench run were flagged partly by this
    * artifact. The min of a back-to-back pair measures what the gate
    * actually cares about — could the OS scheduler give us the full
    * machine at this instant — and multi-second external steal (the kind
    * that can inflate a min-of-5 timing) still inflates BOTH probes, so
    * detection power for the laundering-relevant case is preserved.
    *
    * ACKNOWLEDGED TRADEOFF (r15 advice): the min deliberately hides steal
    * bursts shorter than ~one probe duration — only steal outlasting a
    * probe inflates both members of the pair. So that short-burst noise
    * stays visible in the artifact rather than vanishing into the min,
    * official runs record the RAW pair for every probe point and publish
    * them as `probe_raw` in the bench_detail line ([[renderLines]]);
    * the gate still judges on the min. */
  def probeSamples(spark: SparkSession, rows: Long, n: Int = 2): Seq[Double] =
    (1 to n).map(_ => probeOnce(spark, rows))

  /** A run's probe record, begun after its warm-up: it warms the probe
    * plan's JIT and calibrates (`cal0`, [[calibrateQuiet]]); each [[point]]
    * records its raw pair (`raw`, published as `probe_raw`) and folds the
    * pair's min into [[quiet]] at once. */
  final class ProbeLedger(spark: SparkSession, probeRows: Long) {
    probeOnce(spark, probeRows)
    val cal0: Double = calibrateQuiet(spark, probeRows)
    private var pairs = Vector.empty[Seq[Double]]
    def raw: Seq[Seq[Double]] = pairs
    def points: Seq[Double] = pairs.map(_.min)
    def quiet: Double = foldQuiet(cal0, points)

    /** One probe point, the min of a back-to-back pair ([[probeSamples]]). */
    def point(): Double = {
      pairs :+= probeSamples(spark, probeRows)
      pairs.last.min
    }
  }

  /** A registered query: session and scale-factor directory to its result. */
  type Query = (SparkSession, String) => DataFrame

  /** The registered queries named by any of `prefixes`, in name order. */
  def selected(prefixes: Seq[String]): Seq[(String, Query)] =
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => prefixes.exists(name.startsWith) }

  /** The comma-separated name prefixes in `args(at)`; all when absent. */
  def prefixes(args: Array[String], at: Int = 0): Seq[String] =
    if (args.length > at) args(at).split(",").toSeq else Seq("")

  def sfDirFromEnv(): String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One query built and run to the noop sink: its seconds, or its error. */
  def timed(spark: SparkSession, sfDir: String, query: Query): Either[String, Double] = {
    val t0 = System.nanoTime()
    try { noop(query(spark, sfDir)); Right((System.nanoTime() - t0) / 1e9) }
    catch { case e: Throwable => Left(errMsg(e)) }
  }

  /** The untimed warm-up pass; failures surface in the timed runs. */
  def warmUp(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)]): Unit =
    queries.foreach { case (_, query) => timed(spark, sfDir, query) }

  /** Render the stdout contract. Returns the lines IN PRINT ORDER:
    *
    *  1. `{"metric":"bench_detail",...}` — per-pass per-query seconds plus the
    *     probe timings bracketing each ~20-query span; the full interference
    *     record. Printed first so a bounded stdout-tail capture sheds it
    *     before the lines below.
    *  2. `{"metric":"total_detail","value":T,"unit":"sec","queries":{...}}` —
    *     the per-query detail line (min of the two passes, 3 decimals). Its
    *     metric name is DISTINCT from the compact line's so a tail-scanning
    *     consumer grepping `metric":"total"` can never grab this (possibly
    *     truncated) line by mistake.
    *  3. `{"metric":"total","value":T,"unit":"sec",...}` — the compact
    *     total-only line, ALWAYS LAST and well under 300 bytes, so any tail
    *     window that sees the end of stdout sees one complete parseable JSON
    *     line — and it is the ONLY line carrying `metric=total`.
    *
    * A failing query is recorded under `errors`, never as a timing — a
    * regression must be visible in the bench JSON, not scored as ~0 s. A
    * query that fails one pass keeps its surviving timing but is flagged
    * flaky, never silently scored as healthy.
    */
  def renderLines(results: Seq[QueryResult], probes: Probes, sfDir: String,
                  gateWaitSec: Double = 0.0,
                  quietSec: Double = ProbeQuietSec,
                  calSec: Double = ProbeQuietSec,
                  probeRaw: Seq[Seq[Double]] = Seq.empty): Seq[String] = {
    val merged = results.map { case QueryResult(name, ps) =>
      val oks = ps.collect { case Right(v) => v }
      val firstErr = ps.zipWithIndex.collectFirst { case (Left(e), i) => (e, i + 1) }
      (oks, firstErr) match {
        case (vs, None) if vs.nonEmpty      => (name, Some(vs.min), None)
        case (vs, Some((e, i))) if vs.nonEmpty =>
          (name, Some(vs.min), Some(s"flaky (pass $i): $e"))
        case (_, Some((e, _)))              => (name, None, Some(e))
        case _                              => (name, None, Some("no passes"))
      }
    }
    val ok = merged.collect { case (k, Some(v), _) => k -> v }
    val errors = merged.collect { case (k, _, Some(e)) => k -> e }
    def secObj(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, e) => "\"" + k + "\":\"" + e + "\"" }.mkString("{", ",", "}")
    val sf = jsonSafe(sfDir)

    val total = ok.map(_._2).sum
    val nPasses = results.map(_.passes.size).maxOption.getOrElse(0)
    val passTotals = (0 until nPasses).map { i =>
      fmt(results.flatMap(_.passes.lift(i)).collect { case Right(v) => v }.sum)
    }.mkString("[", ",", "]")
    def probeArr(ps: Seq[Double]): String = ps.map(fmt).mkString("[", ",", "]")

    val detail = {
      val passObjs = (0 until nPasses).map { i =>
        val kv = results.collect {
          case QueryResult(k, ps) if ps.lift(i).exists(_.isRight) =>
            k -> ps(i).toOption.get
        }
        s""""pass${i + 1}":${secObj(kv)}"""
      }.mkString(",")
      val probeObjs = probes.passes.zipWithIndex
        .map { case (ps, i) => s""""pass${i + 1}":${probeArr(ps)}""" }.mkString(",")
      // raw (pre-min) samples per probe point, in run order — short steal
      // bursts that the min-of-pair hides stay visible here (see
      // [[probeSamples]]' tradeoff note)
      val rawJson = probeRaw.map(probeArr).mkString("[", ",", "]")
      s"""{"metric":"bench_detail",$passObjs,""" +
        s""""probe":{$probeObjs},"probe_raw":$rawJson,""" +
        s""""probe_every":$ProbeEvery,"errors":$errJson,"sf":"$sf"}"""
    }
    val perQuery =
      s"""{"metric":"total_detail","value":${fmt(total)},"unit":"sec","queries":${secObj(ok)},""" +
        s""""errors":$errJson,"pass_totals":$passTotals,"sf":"$sf"}"""
    val perPass = passNoise(probes, quietSec)
    val noisy = perPass.nonEmpty && perPass.forall(identity)
    val passNoiseJson = perPass.mkString("[", ",", "]")
    val calHigh = calSec > CalHighFactor * ProbeQuietSec
    val compact =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":{},""" +
        s""""nqueries":${ok.size},"nerrors":${errors.size},"noise_bound":$noisy,""" +
        s""""pass_noise":$passNoiseJson,"probe_quiet_cal":${fmt(quietSec)},""" +
        s""""cal0":${fmt(calSec)},"cal_high":$calHigh,""" +
        s""""gate_wait":${fmt(gateWaitSec)},""" +
        s""""pass_totals":$passTotals,"probe":${probeArr(probes.all)},"sf":"$sf"}"""
    Seq(detail, perQuery, compact)
  }

  /** Output lines in print order plus the names of queries that errored. */
  final case class RunResult(lines: Seq[String], failed: Seq[String])

  /** Warm up, measure two passes (with probes), and render the output lines.
    * Does NOT stop the session — callable from tests on a shared session.
    */
  def run(spark: SparkSession, sfDir: String, prefixes: Seq[String],
          probeRows: Long = 64L * 1000 * 1000,
          gateMaxWaitSec: Double = 0.0): RunResult = {
    val queries = selected(prefixes)
    warmUp(spark, sfDir, queries)
    // Per-run recalibration (the r13 forensics' lesson), every later probe
    // folded in ([[calibrateQuiet]] says why; published as probe_quiet_cal,
    // cal0 and cal_high)
    val ledger = new ProbeLedger(spark, probeRows)
    // QUIET GATE (official runs only — gateMaxWaitSec=0 disables): hold
    // the first measured pass until the median of the last 3 probes is
    // quiet, bounded by gateMaxWaitSec of waiting. Steal bursts outlast
    // any affordable wait (r11 saw one span the whole closing window), so
    // this is best-effort; the wait is recorded as `gate_wait` either way
    // — telemetry, never laundering.
    val gateT0 = System.nanoTime()
    ledger.point()
    while (noiseBound(ledger.points.takeRight(3), ledger.quiet) &&
           (System.nanoTime() - gateT0) / 1e9 < gateMaxWaitSec) {
      Thread.sleep(2000)
      ledger.point()
    }
    val gateWait = (System.nanoTime() - gateT0) / 1e9
    var passes = Seq.empty[Seq[Either[String, Double]]]
    var probes = Probes(Seq.empty)
    // one measured pass, bracketed by boundary probes (the previous pass's
    // last opens it), with a probe between every ProbeEvery-query span
    def measuredPass(): Unit = {
      val ps = Seq.newBuilder[Double] += probes.passes.lastOption.fold(ledger.point())(_.last)
      passes :+= queries.zipWithIndex.map { case ((_, query), i) =>
        if (i > 0 && i % ProbeEvery == 0) ps += ledger.point()
        timed(spark, sfDir, query)
      }
      probes = Probes(probes.passes :+ (ps += ledger.point()).result())
    }
    // Two passes, then NOISE REMEDIATION: while EVERY pass so far is
    // individually noise-bound (the probes saw external CPU steal in
    // each), pay another pass up to [[MaxPasses]] — bounded cost, since
    // per-query minima are already the metric, and one quiet pass
    // upper-bounds every minimum (see [[passNoise]]). A run still
    // all-noisy after MaxPasses stays flagged rather than laundered —
    // documented exhaustion. Each verdict re-reads the FOLDED reference,
    // so a probe that dips below the (possibly steal-inflated)
    // calibration immediately tightens the bar for every later decision.
    while (passes.size < 2 ||
           passes.size < MaxPasses && passNoise(probes, ledger.quiet).forall(identity))
      measuredPass()
    val results = queries.zipWithIndex.map { case ((name, _), i) =>
      QueryResult(name, passes.map(_(i)))
    }
    val failed = results.collect {
      case QueryResult(name, ps) if ps.exists(_.isLeft) => name
    }
    RunResult(renderLines(results, probes, sfDir, gateWait, ledger.quiet, ledger.cal0,
      ledger.raw), failed)
  }

  def main(args: Array[String]): Unit = {
    val spark = session()
    // official (no-arg) runs gate on a quiet probe window before measuring;
    // prefix-filtered local iteration skips the wait
    // 120s: r11/r12 both saw steal bursts outlast the old 60s window; the
    // wait only triggers when the host is already noisy, so quiet runs
    // pay ~one probe
    val gateSec = sys.env.get("SPARK_GRAFT_GATE_SEC").map(_.toDouble)
      .getOrElse(if (args.isEmpty) 120.0 else 0.0)
    // optional arg: comma-separated name prefixes (local iteration only;
    // official runs pass none → full suite)
    val result = run(spark, sfDirFromEnv(), prefixes(args), gateMaxWaitSec = gateSec)
    result.lines.foreach(println)
    // persist the forensic record: stdout-tail capture sheds the detail line,
    // so append it to a committed JSONL artifact (best-effort — the bench
    // contract is stdout; a read-only cwd must not fail the run)
    val detailOut = sys.env.getOrElse("SPARK_GRAFT_DETAIL_OUT", "BENCH_detail_local.json")
    try {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(detailOut),
        result.lines.head + "\n",
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not append detail to $detailOut: ${e.getMessage}")
    }
    if (result.failed.nonEmpty)
      System.err.println(s"BENCH FAILURES: ${result.failed.mkString(", ")}")
    spark.stop()
  }

  /** The one session every main builds: `local[N]` with N shuffle
    * partitions, UTC session time zone, UI off, ERROR log level, local
    * files on [[graft.io.LocalFs]]. N is SPARK_GRAFT_CPUS, else the host's
    * available processors. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.io.LocalFs.install(spark)
    spark
  }
}
