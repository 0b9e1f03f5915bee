package graft.ops

import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Frequency-sketch operators: heavy hitters (frequent items) without
  * shuffling the full key universe.
  *
  * The reference's dashboards top-k by user (README.md:342-356 panel
  * queries) via a full group-by — fine when the key universe fits a
  * shuffle. At 100 TB the token/user universe can be billions of keys,
  * and the classic answer is a two-pass scheme:
  *
  *  1. a MERGEABLE Misra-Gries summary (Agarwal et al., "Mergeable
  *     Summaries", PODS 2012) reduces every partition to a fixed k-entry
  *     map, tree-merged by Spark's partial aggregation — the corpus is
  *     never shuffled, only k-entry summaries move;
  *  2. the ≤ k surviving candidates are exactly re-counted in one
  *     filtered scan (a ≤ k-key shuffle), so the OUTPUT is exact and
  *     deterministic even though the sketch's internal state is
  *     arrival-order-dependent.
  *
  * MG guarantee: with capacity k, any item with true count > n/(k+1)
  * survives pass 1 — so a threshold of n/t needs only k+1 > t, and false
  * positives are eliminated by the exact re-count. That makes q64
  * oracle-gradable with a PLAIN exact oracle (`HAVING count > n/t`), not
  * just a tolerance boolean: sketch recall is proven by the hash match.
  */
object SketchOps {

  /** Mergeable Misra-Gries summary with capacity `k`.
    *
    * reduce: hit → +1; miss with room → insert 1; miss when full →
    * decrement ALL by 1, drop zeros (the classic counter trade).
    * merge: sum the union, then if over capacity subtract the (k+1)-th
    * largest count from every entry and drop ≤ 0 — the mergeable-summaries
    * offset trick that preserves the n/(k+1) undercount bound. */
  final class MisraGries(k: Int)
      extends Aggregator[String, Map[String, Long], Array[String]] {
    require(k > 0, "capacity must be positive")

    override def zero: Map[String, Long] = Map.empty

    override def reduce(b: Map[String, Long], token: String): Map[String, Long] =
      b.get(token) match {
        case Some(c) => b.updated(token, c + 1L)
        case None if b.size < k => b.updated(token, 1L)
        case None =>
          b.iterator.map { case (t, c) => (t, c - 1L) }
            .filter(_._2 > 0L).toMap
      }

    override def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] = {
      val sum = b.foldLeft(a) { case (m, (t, c)) =>
        m.updated(t, m.getOrElse(t, 0L) + c)
      }
      if (sum.size <= k) sum
      else {
        val offset = sum.valuesIterator.toArray.sortBy(-_).apply(k)
        sum.iterator.map { case (t, c) => (t, c - offset) }
          .filter(_._2 > 0L).toMap
      }
    }

    // candidate set only — counts are sketch lower bounds, the exact
    // re-count pass supplies the real ones
    override def finish(b: Map[String, Long]): Array[String] = b.keys.toArray.sorted

    override def bufferEncoder: Encoder[Map[String, Long]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Array[String]] = ExpressionEncoder()
  }

  /** q64 — tokens carrying more than 1/`thresholdInv` of the corpus's
    * token mass, sketch-then-verify. Tokenization matches q52 (single-space
    * split). Requires `capacity + 1 > thresholdInv` or the MG recall
    * guarantee would not cover the threshold. */
  def heavyHitters(docs: DataFrame, capacity: Int = 64,
      thresholdInv: Int = 50): DataFrame = {
    require(capacity + 1 > thresholdInv,
      s"capacity $capacity cannot guarantee recall at threshold n/$thresholdInv")
    val spark = docs.sparkSession
    import spark.implicits._
    val tokens = docs.select(explode(split(col("text"), " ")).as("token"))
    // pass 1: fixed-size summaries, tree-merged — no token shuffle
    // (typed select: a TypedColumn cannot ride the untyped API)
    val candidates = tokens.as[String]
      .select(new MisraGries(capacity).toColumn)
      .toDF("cands")
      .select(explode(col("cands")).as("token"))
    // pass 2: exact re-count of ≤ capacity candidates (tiny shuffle),
    // threshold against the exact total token count (1-row side joined on
    // a constant key — a broadcast hash join, not a cartesian)
    val total = tokens.agg(count(lit(1)).as("n_total")).withColumn("j", lit(1))
    tokens.join(broadcast(candidates), "token")
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .withColumn("j", lit(1))
      .join(broadcast(total), "j")
      .filter(col("cnt").cast("double") > col("n_total").cast("double") / lit(thresholdInv.toDouble))
      .select("token", "cnt")
      .orderBy(desc("cnt"), col("token"))
  }

  /** K-minimum-values (KMV / bottom-k) distinct-set sketch over 60-bit
    * hashes: keep the k smallest hash values of a set. Unlike HLL, two KMV
    * sketches support SET ALGEBRA — union (merge + trim) and intersection
    * (common values among the union's bottom-k) — which is what a
    * train/test contamination estimate needs. Unsaturated (< k values)
    * the sketch IS the exact distinct set of hashes.
    *
    * Buffer is a sorted distinct Vector; insertion is O(k) (immutable
    * copy). At 100 TB scale the same algorithm rides a mutable bounded
    * heap inside a `TypedImperativeAggregate`; the k-mins semantics and
    * estimator are unchanged — k is the accuracy dial (σ/|est| ≈ 1/√k). */
  final class KmvSketch(k: Int)
      extends Aggregator[Long, Vector[Long], Array[Long]] {
    require(k > 0, "k must be positive")

    override def zero: Vector[Long] = Vector.empty

    override def reduce(b: Vector[Long], h: Long): Vector[Long] =
      if (b.length >= k && h >= b.last) b
      else {
        val i = searchInsert(b, h)
        if (i < b.length && b(i) == h) b // already present
        else (b.take(i) :+ h) ++ b.drop(i) match {
          case grown if grown.length > k => grown.take(k)
          case grown => grown
        }
      }

    override def merge(a: Vector[Long], b: Vector[Long]): Vector[Long] =
      (a ++ b).distinct.sorted.take(k)

    override def finish(b: Vector[Long]): Array[Long] = b.toArray

    private def searchInsert(v: Vector[Long], h: Long): Int = {
      var lo = 0
      var hi = v.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (v(mid) < h) lo = mid + 1 else hi = mid
      }
      lo
    }

    override def bufferEncoder: Encoder[Vector[Long]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder()
  }

  /** 60-bit hash (15 md5 hex chars) of a string column — positive in a
    * signed long, so ascending sort = ascending hash fraction of 2^60. */
  private def hash60(c: String): String =
    s"CAST(conv(substring(md5($c), 1, 15), 16, 10) AS BIGINT)"

  /** q65 — train/test CONTAMINATION: documents whose canonical fingerprint
    * ([[TextOps.BowFpExpr]] — exact-dup identity, q34) appears in TWO
    * different corpus splits ([[PipelineOps.splitAssign]]'s md5 buckets).
    * A near-dup of a test document inside the training split is the
    * classic eval-leak; this measures the exact-dup layer of it.
    *
    * Output per split pair: exact distinct-fingerprint counts and exact
    * overlap (both DuckDB-recomputable, hash-graded) plus `kmv_ok` — the
    * KMV intersection estimate lands within `sigmas` standard deviations
    * of the exact value (σ ≈ √(inter·union/k), the bottom-k intersection
    * estimator's sampling error: ~k·J of the union's bottom-k hashes are
    * common, a binomial whose √ propagates through the J×union product;
    * floor of ±2 absolute for near-zero overlaps). The sketch path is the
    * 100 TB story: per-split k-long sketches merge in one pass; the exact
    * overlap join is the grading harness, exactly as in q21/q53.
    *
    * Estimator (standard bottom-k): Uk = bottom-k of the union of both
    * sketches; |A∪B| est = (k-1)/θ with θ = max(Uk)/2^60 when saturated
    * (else exact |Uk|); Jaccard est = |Uk ∩ A ∩ B| / |Uk|; intersection
    * est = Jaccard × union — all computed with builtin array functions
    * (codegen'd, no UDF) on the tiny per-pair rows. */
  def contamination(docs: DataFrame, k: Int = 1024,
      sigmas: Double = 3.0): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val u = docs
      .select(expr(graft.ops.TextOps.BowFpExpr).as("fp"),
        PipelineOps.md5Bucket(col("doc_id")).as("bucket"))
      .selectExpr("fp", s"${PipelineOps.splitOf("bucket")} AS split")
      .distinct()
    val hashed = u.selectExpr("split", s"${hash60("fp")} AS h")
    val sketches = hashed.as[(String, Long)]
      .groupByKey(_._1).mapValues(_._2)
      .agg(new KmvSketch(k).toColumn.name("ks"))
      .toDF("split", "ks")
    val counts = u.groupBy("split").agg(count(lit(1)).as("n"))
    val overlap = u.as("x").join(u.as("y"),
        col("x.fp") === col("y.fp") && col("x.split") < col("y.split"))
      .groupBy(col("x.split").as("split_a"), col("y.split").as("split_b"))
      .agg(count(lit(1)).as("overlap"))
    val pairs = Seq(("test", "train"), ("test", "val"), ("train", "val"))
      .toDF("split_a", "split_b")
    pairs
      .join(broadcast(counts.withColumnRenamed("split", "split_a")
        .withColumnRenamed("n", "n_a")), Seq("split_a"))
      .join(broadcast(counts.withColumnRenamed("split", "split_b")
        .withColumnRenamed("n", "n_b")), Seq("split_b"))
      .join(broadcast(overlap), Seq("split_a", "split_b"), "left")
      .withColumn("exact_overlap", coalesce(col("overlap"), lit(0L)))
      .join(broadcast(sketches.withColumnRenamed("split", "split_a")
        .withColumnRenamed("ks", "ks_a")), Seq("split_a"))
      .join(broadcast(sketches.withColumnRenamed("split", "split_b")
        .withColumnRenamed("ks", "ks_b")), Seq("split_b"))
      .withColumn("uk", expr(s"slice(array_sort(array_union(ks_a, ks_b)), 1, $k)"))
      .withColumn("union_est", expr(
        s"""CASE WHEN size(uk) < $k THEN CAST(size(uk) AS DOUBLE)
                 ELSE ($k - 1) / (CAST(element_at(uk, $k) AS DOUBLE) / CAST(${1L << 60}d AS DOUBLE))
            END"""))
      .withColumn("inter_est", expr(
        "CASE WHEN size(uk) = 0 THEN 0.0 ELSE " +
          "size(array_intersect(array_intersect(uk, ks_a), ks_b)) " +
          "/ CAST(size(uk) AS DOUBLE) * union_est END"))
      .withColumn("kmv_ok", expr(
        s"""abs(inter_est - exact_overlap) <= greatest(2.0,
            $sigmas * sqrt(greatest(inter_est, CAST(exact_overlap AS DOUBLE), 1.0)
                           * union_est / $k))"""))
      .select("split_a", "split_b", "n_a", "n_b", "exact_overlap", "kmv_ok")
      .orderBy("split_a", "split_b")
  }

  /** HLL register count — b = 8 index bits off the 60-bit md5 hash, the
    * standard m = 256 / σ ≈ 1.04/√m ≈ 6.5% operating point. One
    * definition: [[hllRegisters]], [[hllCensus]], the q134 oracle, and
    * the spec's merge law all read it. */
  val HllRegisters = 256
  private val HllRestBits = 52      // 60 - log2(HllRegisters)
  private val HllRest = 1L << HllRestBits // 2^52
  private val HllRhoMax = HllRestBits + 1 // all-zero rest field
  /** α_256 · m² · 2^53 as ONE shared expression string: every literal is
    * CAST to DOUBLE explicitly, because Spark parses bare decimal
    * literals as DECIMAL and would round the α chain through decimal
    * arithmetic — a 1e-8 drift from DuckDB's all-double evaluation. With
    * the casts, both engines run the identical left-associated IEEE
    * chain and the estimate is bit-exact. */
  private val HllEstNum =
    "CAST(0.7213 AS DOUBLE) / (CAST(1 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(256 AS DOUBLE))" +
      " * CAST(65536 AS DOUBLE) * CAST(9007199254740992 AS DOUBLE)"

  /** The per-(lang, register) MAX-ρ table of the canonical HyperLogLog
    * sketch (Flajolet et al. 2007) over distinct tokens — exposed so the
    * spec can assert the MERGE LAW (registers of a union = element-wise
    * max of the parts' registers), the property that makes HLL the
    * distinct sketch every warehouse actually ships. Register index is
    * the hash's top 8 bits; ρ is the number of leading zeros of the
    * remaining 52-bit field plus one, computed EXACTLY from the bit
    * length (`length(bin(r))` — identical builtin in both engines), never
    * from a float log. MAX absorbs duplicate insertions, so the corpus is
    * NEVER distinct-shuffled on this path: partial aggregation collapses
    * every partition to ≤ langs × 256 rows before the only (tiny) shuffle. */
  def hllRegisters(docs: DataFrame): DataFrame =
    docs.selectExpr(
        s"coalesce(lang, '${graft.ops.GraphOps.NullSourceSentinel}') AS lang",
        "explode(split(text, ' ')) AS token")
      .selectExpr("lang", s"${hash60("token")} AS h")
      .selectExpr("lang", s"h DIV $HllRest AS j",
        s"""CASE WHEN h % $HllRest = 0 THEN $HllRhoMax
                 ELSE $HllRhoMax - length(bin(h % $HllRest)) END AS rho""")
      .groupBy("lang", "j").agg(max("rho").as("reg"))

  /** q134 — HYPERLOGLOG DISTINCT CENSUS, hash-exact: per language, the
    * register-table summary of the HLL distinct-token sketch (registers
    * hit, zero registers, the EXACT integer harmonic denominator scaled
    * by 2^53) and the raw HLL estimate, graded against the exact distinct
    * count. Complements q21/q53's KMV exactly as q133 complements q74:
    * KMV buys set algebra (q65's intersection), HLL buys the 256-byte
    * fixed-size mergeable state every production warehouse ships.
    *
    * Unlike engine-builtin `approx_count_distinct` (whose HLL is
    * implementation-specific and thus only tolerance-gradable), every
    * register here is a deterministic function of md5, so the ESTIMATE
    * ITSELF is bit-identical cross-engine and the whole row hash-grades.
    * The harmonic denominator Σ 2^(-ρ_j) is kept exact by scaling to
    * 2^(53-ρ) BIGINT terms (ρ ≤ 53 ⇒ terms ≥ 1; 256·2^52 = 2^60 cannot
    * overflow); the estimate is then literal-identical IEEE arithmetic on
    * both engines. The log-based small-range (linear counting) correction
    * is deliberately NOT applied — ln is not correctly rounded, so it
    * would desync the engines by one ulp; the census emits the
    * correction's ingredient (`n_zero_registers`) instead, and `rel_err`
    * against the exact count is the accuracy evidence.
    *
    * Scale shape: the register path never shuffles the corpus (MAX is
    * duplicate-proof — see [[hllRegisters]]); the exact-distinct branch is
    * the GRADING HARNESS (the q64 exact-re-count framing) — at 100 TB you
    * ship only the register path and this census is how you qualify it. */
  def hllCensus(docs: DataFrame): DataFrame = {
    val m = HllRegisters
    val two53 = 1L << (HllRestBits + 1)
    val tok = docs.selectExpr(
      s"coalesce(lang, '${graft.ops.GraphOps.NullSourceSentinel}') AS lang",
      "explode(split(text, ' ')) AS token")
    val perLang = hllRegisters(docs).groupBy("lang").agg(
        count(lit(1)).as("n_registers_hit"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${HllRhoMax} - reg)")).as("s_hit"))
      .selectExpr("lang", "n_registers_hit",
        s"CAST($m - n_registers_hit AS BIGINT) AS n_zero_registers",
        s"s_hit + ($m - n_registers_hit) * $two53 AS harmonic_denom_scaled")
    val exact = tok.distinct().groupBy("lang").agg(count(lit(1)).as("exact_distinct"))
    perLang.join(exact, Seq("lang"))
      .selectExpr("lang", "exact_distinct", "n_registers_hit",
        "n_zero_registers", "harmonic_denom_scaled",
        // α_256 · m² · 2^53 / Σ — literal-identical expression text in the
        // oracle; every op is correctly-rounded IEEE, so bits match
        s"$HllEstNum / CAST(harmonic_denom_scaled AS DOUBLE) AS raw_est")
      .withColumn("rel_err", expr(
        "(raw_est - CAST(exact_distinct AS DOUBLE)) / CAST(exact_distinct AS DOUBLE)"))
      // the estimate the sketch would SHIP applies the paper's small-range
      // linear-counting correction (m·ln(m/V) when raw ≤ 2.5m and V > 0).
      // ln is not correctly rounded, so the corrected value itself is not
      // hash-gradable — it lives only inside this TOLERANCE boolean (the
      // q65 kmv_ok pattern), where an engine ulp cannot flip the verdict
      .withColumn("est_ok", expr(
        s"""abs(CASE WHEN n_zero_registers > 0 AND raw_est <= 2.5 * $m.0
                     THEN $m.0 * ln($m.0 / CAST(n_zero_registers AS DOUBLE))
                     ELSE raw_est END
                - CAST(exact_distinct AS DOUBLE))
            <= greatest(0.25 * CAST(exact_distinct AS DOUBLE), 10.0)"""))
      .orderBy("lang")
  }

  /** q154's merged-total row key (outside the epoch-day range). */
  val HllCubeTotalDay = -1L

  /** q154 — MERGEABLE DISTINCT-USER CUBE: the q134 sketch machinery
    * applied the way a warehouse actually deploys it — one 256-register
    * HLL of DISTINCT USERS per DAY, pre-aggregated so any date range's
    * distinct count comes from merging daily sketches instead of
    * re-scanning the corpus (the only way COUNT(DISTINCT) over arbitrary
    * windows survives 100 TB). The cube's total row (day =
    * [[HllCubeTotalDay]]) is computed BY MERGING the daily register
    * tables (per-register MAX over the bounded days×256 table) — the
    * merge law is part of the graded artifact, not just a spec claim —
    * and graded against the corpus-wide exact distinct like every daily
    * row.
    *
    * Determinism and scale shape are q134's: registers are md5-derived
    * (bit-identical cross-engine, duplicate-proof MAX so the corpus
    * never shuffles raw rows — only (day, j, rho) triples), harmonic
    * denominators exact scaled BIGINTs, the estimate literal-identical
    * IEEE, the ln-based correction confined to the `est_ok` tolerance
    * boolean, and the exact-distinct branch is the grading harness. */
  /** The (day, uk) projection shared by the cube, the range estimator,
    * and [[graft.streaming.StreamHllCube]]'s batch twin. */
  private[graft] def userDayKeyed(events: DataFrame): DataFrame =
    events.selectExpr(
      s"unix_micros(ts) DIV ${graft.ops.RelationalOps.DayUs} AS day",
      "CAST(user_id AS STRING) AS uk")

  /** The per-day distinct-user register table (day, j, reg) — q154/q155's
    * sketch state and the EXACT artifact the streaming maintainer keeps
    * (MAX per register is duplicate-proof AND re-delivery-proof). */
  private[graft] def registersFromKeyed(keyed: DataFrame): DataFrame =
    keyed
      .selectExpr("day", s"${hash60("uk")} AS h")
      .selectExpr("day", s"h DIV $HllRest AS j",
        s"""CASE WHEN h % $HllRest = 0 THEN $HllRhoMax
                 ELSE $HllRhoMax - length(bin(h % $HllRest)) END AS rho""")
      .groupBy("day", "j").agg(max("rho").as("reg"))
  private[graft] def userDayRegisters(events: DataFrame): DataFrame =
    registersFromKeyed(userDayKeyed(events))

  def hllDailyCube(events: DataFrame): DataFrame = {
    val m = HllRegisters
    val two53 = 1L << (HllRestBits + 1)
    val keyed = userDayKeyed(events)
    val dayRegs = userDayRegisters(events)
      .localCheckpoint() // bounded days×256; consumed by the merge + census
    val merged = dayRegs.groupBy("j").agg(max("reg").as("reg"))
      .selectExpr(s"CAST($HllCubeTotalDay AS BIGINT) AS day", "j", "reg")
    val census = dayRegs.unionByName(merged).groupBy("day").agg(
        count(lit(1)).as("n_registers_hit"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${HllRhoMax} - reg)")).as("s_hit"))
      .selectExpr("day", "n_registers_hit",
        s"CAST($m - n_registers_hit AS BIGINT) AS n_zero_registers",
        s"s_hit + ($m - n_registers_hit) * $two53 AS harmonic_denom_scaled")
    val daily = keyed.distinct().groupBy("day").agg(count(lit(1)).as("exact_distinct"))
    val exact = daily.unionByName(
      keyed.select("uk").distinct()
        .agg(count(lit(1)).as("exact_distinct"))
        .selectExpr(s"CAST($HllCubeTotalDay AS BIGINT) AS day", "exact_distinct"))
    census.join(exact, Seq("day"))
      .selectExpr("day", "exact_distinct", "n_registers_hit",
        "n_zero_registers", "harmonic_denom_scaled",
        s"$HllEstNum / CAST(harmonic_denom_scaled AS DOUBLE) AS raw_est")
      .withColumn("rel_err", expr(
        "(raw_est - CAST(exact_distinct AS DOUBLE)) / CAST(exact_distinct AS DOUBLE)"))
      .withColumn("est_ok", expr(
        s"""abs(CASE WHEN n_zero_registers > 0 AND raw_est <= 2.5 * $m.0
                     THEN $m.0 * ln($m.0 / CAST(n_zero_registers AS DOUBLE))
                     ELSE raw_est END
                - CAST(exact_distinct AS DOUBLE))
            <= greatest(0.25 * CAST(exact_distinct AS DOUBLE), 10.0)"""))
      .orderBy("day")
  }

  /** q155's range, in days relative to the corpus's first active day —
    * shared constants so both engines (and the spec) ask the same
    * question of the cube. */
  val HllRangeStartOff = 7L
  val HllRangeLen = 14L

  /** q155 — RANGE DISTINCT from the cube: the question q154 exists to
    * answer — "how many distinct users were active in days
    * [d0+[[HllRangeStartOff]], +[[HllRangeLen]])?" — answered by MERGING
    * the stored daily register tables for the range (per-register MAX
    * over ≤ range×256 rows) instead of re-scanning the corpus, graded
    * against the exact range distinct. At 100 TB the exact branch is the
    * qualification harness; the merge path is what ships, and this query
    * is the evidence the range estimate inherits the sketch's accuracy.
    *
    * Scale shape: the register table is the q154 build (corpus never
    * shuffles raw rows); the range anchor d0 is a one-row broadcast MIN;
    * the merge, census, and estimate all live on bounded tables. The
    * exact grading branch is one distinct + filter pass. */
  def hllRangeEstimate(events: DataFrame): DataFrame = {
    val m = HllRegisters
    val two53 = 1L << (HllRestBits + 1)
    val keyed = userDayKeyed(events).localCheckpoint()
    val dayRegs = registersFromKeyed(keyed)
      .localCheckpoint()
    val anchor = dayRegs.agg(min("day").as("d0"))
    val sel = dayRegs.crossJoin(broadcast(anchor))
      .filter(col("day") >= col("d0") + lit(HllRangeStartOff) &&
        col("day") < col("d0") + lit(HllRangeStartOff + HllRangeLen))
    val census = sel.groupBy("j").agg(max("reg").as("reg"))
      .agg(count(lit(1)).as("n_registers_hit"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${HllRhoMax} - reg)")).as("s_hit"))
      .selectExpr("n_registers_hit",
        s"CAST($m - n_registers_hit AS BIGINT) AS n_zero_registers",
        // coalesce: an empty range has no hit registers, all-zero sketch
        s"coalesce(s_hit, CAST(0 AS BIGINT)) + ($m - n_registers_hit) * $two53 AS harmonic_denom_scaled")
    val days = sel.select("day").distinct().agg(count(lit(1)).as("n_days_covered"))
    val exact = keyed.crossJoin(broadcast(anchor.withColumnRenamed("d0", "e0")))
      .filter(col("day") >= col("e0") + lit(HllRangeStartOff) &&
        col("day") < col("e0") + lit(HllRangeStartOff + HllRangeLen))
      .select("uk").distinct().agg(count(lit(1)).as("exact_distinct"))
    census.crossJoin(broadcast(days)).crossJoin(broadcast(exact))
      .crossJoin(broadcast(anchor))
      .selectExpr(
        s"d0 + $HllRangeStartOff AS day_from",
        s"d0 + ${HllRangeStartOff + HllRangeLen} AS day_to_excl",
        "n_days_covered", "exact_distinct", "n_registers_hit",
        "n_zero_registers", "harmonic_denom_scaled",
        s"$HllEstNum / CAST(harmonic_denom_scaled AS DOUBLE) AS raw_est")
      .selectExpr("day_from", "day_to_excl", "n_days_covered",
        "exact_distinct", "n_registers_hit", "n_zero_registers",
        "harmonic_denom_scaled", "raw_est",
        """CASE WHEN exact_distinct = 0 THEN CAST(NULL AS DOUBLE)
                ELSE (raw_est - CAST(exact_distinct AS DOUBLE))
                     / CAST(exact_distinct AS DOUBLE) END AS rel_err""")
      // a 14-day slice of testdata sits squarely in the small-range regime
      // where the SHIPPED estimate is the linear-counting correction; as in
      // q134/q154 the ln lives only inside this tolerance boolean
      .withColumn("est_ok", expr(
        s"""abs(CASE WHEN n_zero_registers > 0 AND raw_est <= 2.5 * $m.0
                     THEN $m.0 * ln($m.0 / CAST(n_zero_registers AS DOUBLE))
                     ELSE raw_est END
                - CAST(exact_distinct AS DOUBLE))
            <= greatest(0.25 * CAST(exact_distinct AS DOUBLE), 10.0)"""))
  }

  /** q156's histogram geometry: integer-cents values bucketed into
    * [[HistBinCents]]-wide bins. Even width, so the bin midpoint — the
    * shipped estimate — is an exact integer on both engines. */
  val HistBinCents = 2000L

  /** Floor-division of integer cents by the bin width, written as
    * remainder-subtraction so Spark's truncating `DIV` and DuckDB's
    * flooring `//` compute the identical bin even for negative cents:
    * the numerator is first rounded down to an exact multiple of the
    * width, where truncation and floor agree. Both engines' `%` is
    * C-style (sign of dividend), so the text is shared verbatim. */
  private def floorBin(c: String): String =
    s"($c - ((($c % $HistBinCents) + $HistBinCents) % $HistBinCents)) DIV $HistBinCents"

  /** The per-day value-histogram cube (day, bin, n) — q156's stored sketch
    * state, the quantile analog of [[userDayRegisters]]. SUM-mergeable:
    * any day range's value distribution is the per-bin SUM of its days'
    * histograms, exactly — unlike the HLL registers there is no estimate
    * error in the merge itself, only in reading a quantile off bins. One
    * map-combinable aggregate; raw rows never shuffle. */
  private[graft] def valueDayHist(events: DataFrame): DataFrame =
    events.filter(col("value").isNotNull)
      .selectExpr(
        s"unix_micros(ts) DIV ${graft.ops.RelationalOps.DayUs} AS day",
        s"${floorBin("CAST(round(value * 100) AS BIGINT)")} AS bin")
      .groupBy("day", "bin").agg(count(lit(1)).as("n"))

  /** q156 — RANGE QUANTILES from the histogram cube: the q154/q155
    * pattern applied to the OTHER aggregate nobody can compute over
    * arbitrary windows at 100 TB, percentiles. p50/p95/p99 of `value`
    * over the same 14-day window q155 counts users in, answered by
    * SUMMING the stored per-day histograms (never re-scanning raw
    * history) and reading the target rank off the merged bins; graded
    * against the EXACT range quantile, recovered by the classic two-pass
    * distributed selection: the merged histogram locates each target
    * rank's bin and the rank mass below it, then ONE filtered re-scan
    * collapses only the target bins' rows to per-cents counts (≤ bin
    * width rows per quantile BY CONSTRUCTION) and picks the exact value.
    * `contained` — the exact value lying inside the picked bin — is the
    * histogram-quantile guarantee itself; a broken merge or a misplaced
    * rank flips it and fails the hash.
    *
    * Scale shape: the cube build is one map-combinable aggregate (raw
    * rows never shuffle); the merged histogram, cumulative, and rank
    * pick live on tables bounded by value-range/width REGARDless of
    * corpus size (cumulative via the q108 bounded self-join, never a
    * corpus window); the exact branch's second scan filters to ≤ 3 bins
    * and its in-bin cumulative window is over ≤ 3×width rows by
    * construction — the q112 bounded-window discipline. Every output
    * column is exact integer math: no doubles anywhere. */
  def histRangeQuantiles(events: DataFrame): DataFrame = {
    val w = HistBinCents
    val spark = events.sparkSession
    import spark.implicits._
    val hist = valueDayHist(events).localCheckpoint() // bounded days × bins
    val anchor = hist.agg(min("day").as("d0"))
    val sel = hist.crossJoin(broadcast(anchor))
      .filter(col("day") >= col("d0") + lit(HllRangeStartOff) &&
        col("day") < col("d0") + lit(HllRangeStartOff + HllRangeLen))
    // r16: the whole rank-selection tail (range total, ⌈p·n⌉ targets,
    // cumulative bin masses, first-bin-reaching-target pick) is a FOLD
    // over the merged sketch — which is ≤ value-range/width rows BY
    // CONSTRUCTION, i.e. a bounded artifact regardless of corpus size.
    // It used to run as four chained table ops (a broadcast total, a
    // bounded self-join cumulative, a ≥-join pick, each its own
    // exchange/broadcast job); it is now ONE row-local `aggregate` over
    // the bin array, collected inside a single aggregation job. Same
    // exact integer math: left fold in bin order, cum_below = the
    // accumulated mass when the pick fires.
    val ps = Seq(("p50", 1L, 2L), ("p95", 19L, 20L), ("p99", 99L, 100L))
      .toDF("p_label", "p_num", "p_den")
    val binsRow = sel.groupBy("bin").agg(sum("n").as("n"))
      .agg(array_sort(collect_list(struct(col("bin"), col("n")))).as("bs"))
    val picked = ps.crossJoin(broadcast(binsRow))
      .selectExpr("p_label", "p_num", "p_den", "bs",
        "aggregate(bs, 0L, (a, x) -> a + x.n) AS n_range")
      // integer ceil: ⌈p·n⌉ as (num·n + den − 1) DIV den — no IEEE anywhere
      .selectExpr("p_label", "bs", "n_range",
        "(p_num * n_range + p_den - 1) DIV p_den AS target_rank")
      .selectExpr("p_label", "n_range", "target_rank",
        """aggregate(bs,
             named_struct('cum', 0L, 'bin', CAST(NULL AS BIGINT),
                          'cum_below', CAST(NULL AS BIGINT)),
             (acc, x) -> IF(acc.bin IS NOT NULL, acc,
               IF(acc.cum + x.n >= target_rank,
                  named_struct('cum', acc.cum + x.n, 'bin', x.bin,
                               'cum_below', acc.cum),
                  named_struct('cum', acc.cum + x.n, 'bin', acc.bin,
                               'cum_below', acc.cum_below)))) AS pk""")
      .selectExpr("p_label", "n_range", "target_rank", "pk.bin AS bin",
        "pk.cum_below AS cum_below")
      .filter(col("bin").isNotNull) // empty range ⇒ no pick, as before
      .localCheckpoint() // 3 rows; the exact pass probes the corpus with it
    val rangeCents = events.filter(col("value").isNotNull)
      .selectExpr(
        s"unix_micros(ts) DIV ${graft.ops.RelationalOps.DayUs} AS day",
        "CAST(round(value * 100) AS BIGINT) AS c")
      .crossJoin(broadcast(anchor))
      .filter(col("day") >= col("d0") + lit(HllRangeStartOff) &&
        col("day") < col("d0") + lit(HllRangeStartOff + HllRangeLen))
    val inBin = rangeCents
      .join(broadcast(picked.select("p_label", "bin")),
        expr(floorBin("c")) === col("bin"))
      .groupBy("p_label", "c").agg(count(lit(1)).as("cn"))
    // in-bin cumulative: ≤ 3×HistBinCents rows by construction (distinct
    // cents inside one bin), so this window is bounded no matter the
    // corpus — then the exact quantile is the min cents whose below-bin
    // mass plus in-bin cumulative reaches the target
    val wSpec = org.apache.spark.sql.expressions.Window
      .partitionBy("p_label").orderBy("c")
    val exact = inBin.withColumn("cum_in", sum("cn").over(wSpec))
      .join(broadcast(picked.select("p_label", "cum_below", "target_rank")),
        "p_label")
      .filter(col("cum_below") + col("cum_in") >= col("target_rank"))
      .groupBy("p_label").agg(min("c").as("exact_cents"))
    picked.join(exact, "p_label").crossJoin(broadcast(anchor))
      .selectExpr("p_label",
        s"d0 + $HllRangeStartOff AS day_from",
        s"d0 + ${HllRangeStartOff + HllRangeLen} AS day_to_excl",
        "n_range", "target_rank", "bin",
        s"bin * $w AS bin_lo_cents",
        s"bin * $w + $w AS bin_hi_cents_excl",
        s"bin * $w + ${w / 2} AS est_mid_cents",
        "exact_cents",
        s"bin * $w + ${w / 2} - exact_cents AS err_cents",
        s"exact_cents >= bin * $w AND exact_cents < bin * $w + $w AS contained")
      .orderBy("p_label")
  }

  /** q157's cube capacity: the K most active users stored per day, and
    * the size of the final range top-k answer. Shared by both engines,
    * the spec, and the streaming maintainer. */
  val TopkK = 8

  /** Bounded-state EXACT top-K selection over per-key counts: the state
    * is the ≤ K best (cnt DESC, key ASC) entries seen so far. Because
    * each key reaches the aggregate exactly once per group (the input is
    * the already-collapsed per-(day, key) count table), the top-K of a
    * union of disjoint partials is contained in the union of the
    * partials' top-Ks — so merge-then-truncate is exact, and the result
    * is a pure SELECTION (order-free, partitioning-invariant), unlike a
    * Misra-Gries pass whose internal state is arrival-order-dependent.
    * This is the map-combinable replacement for a per-day rank window:
    * at 100 TB a day can hold billions of distinct keys and a
    * rank-within-day window would sort them all; here only ≤ K-entry
    * states ever move. Input rows are (day, key, cnt); day is carried by
    * the grouping, not the state. */
  final class TopKByCount(k: Int)
      extends Aggregator[(Long, String, Long), List[(Long, String)], Array[(String, Long)]] {
    require(k > 0, "capacity must be positive")
    // strict total order: cnt DESC then key ASC (keys are unique per
    // group, so this never compares equal distinct entries)
    private def better(a: (Long, String), b: (Long, String)): Boolean =
      a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
    private def truncate(l: List[(Long, String)]): List[(Long, String)] =
      l.sortWith(better).take(k)
    /** Buffer length capped lazily: walk at most `n`+1 cells instead of a
      * full O(|l|) `length` — the reduce path calls this per input row. */
    private def exceeds(l: List[(Long, String)], n: Int): Boolean = {
      var cur = l; var i = 0
      while (i <= n && cur.nonEmpty) { cur = cur.tail; i += 1 }
      i > n
    }
    override def zero: List[(Long, String)] = Nil
    /** r16 (optimization round): the old reduce re-sorted the whole ≤ k
      * buffer on EVERY input row — O(k log k) comparisons + a fresh array
      * per row, and with a single group the entire corpus funnels through
      * one such buffer (measured: q202's selection stage dominated its
      * runtime at k = 256). Now rows PREPEND in O(1) and the buffer
      * compacts back to k only when it doubles — amortized O(log k) per
      * row. State stays bounded (≤ 2k entries ever held or shipped in a
      * partial), and the selected set is unchanged: compaction uses the
      * same strict (cnt DESC, key ASC) total order, and merge/finish
      * truncate exactly as before. */
    override def reduce(b: List[(Long, String)], row: (Long, String, Long)): List[(Long, String)] = {
      val w = (row._3, row._2) :: b
      if (exceeds(w, 2 * k)) truncate(w) else w
    }
    override def merge(a: List[(Long, String)], b: List[(Long, String)]): List[(Long, String)] =
      truncate(a ::: b)
    override def finish(b: List[(Long, String)]): Array[(String, Long)] =
      // truncate here too: under a Complete-mode plan (no merge call) the
      // amortized reduce can hand finish an un-compacted ≤ 2k buffer
      truncate(b).map { case (c, u) => (u, c) }.toArray
    override def bufferEncoder: Encoder[List[(Long, String)]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Array[(String, Long)]] = ExpressionEncoder()
  }

  /** THE SHARED SELECTION STAGE behind every fixed-size sample in the
    * engine — q164 (uniform bottom-K), q176 (weighted A-Res top-K),
    * q184 (weighted stratified, per-language groups), and q202 (the
    * mergeable-quantile bottom-K): per group `g`, the `k` ids with the
    * LARGEST `key` (ties broken by smallest id string). Bottom-K
    * callers negate their key — the md5 draw space is 48-bit positive,
    * so negation is a strict order reversal with no overflow.
    *
    * Two dials: the capacity `k` and the caller's (group, key)
    * expressions; everything else — bounded ≤ k-entry state, tree-merge,
    * the TRUNCATE-MERGE law (selection over a union of id-disjoint
    * shards == truncate(merge of per-shard selections)) — is one
    * implementation, spec'd ONCE in `SketchOpsSpec`'s shared-stage law
    * test and inherited by every caller. Input columns: (g BIGINT,
    * id STRING-castable, key BIGINT), one row per id per group; output:
    * the selected ids as BIGINT, column name `id`. The corpus is never
    * sorted — only ≤ k-entry states move. */
  def selectTopKIds(rows: DataFrame, k: Int): DataFrame =
    selectTopKRows(rows, k).select("id")

  /** [[selectTopKIds]] with the (g, key) columns kept — the shape a
    * MERGEABLE partial needs: per-shard/per-batch selections stored as
    * (g, id, key) rows re-enter this same stage to produce the global
    * selection (the truncate-merge law, applied rather than just spec'd —
    * [[graft.streaming.StreamSample]] is the live consumer). */
  def selectTopKRows(rows: DataFrame, k: Int): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.selectExpr("CAST(g AS BIGINT) AS g", "CAST(id AS STRING) AS k",
        "CAST(key AS BIGINT) AS c")
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .agg(new TopKByCount(k).toColumn.name("top"))
      .toDF("g", "top")
      .select(col("g"), explode(col("top")).as("e"))
      .selectExpr("g", "CAST(e._1 AS BIGINT) AS id", "e._2 AS key")
  }

  /** The collapsed per-(day, user) activity table — q157's input and its
    * exact-branch probe target. One map-combinable aggregate; the only
    * corpus-scale shuffle in the whole query. */
  private[graft] def userDayCounts(events: DataFrame): DataFrame =
    userDayKeyed(events).groupBy("day", "uk").agg(count(lit(1)).as("cnt"))

  /** The stored per-day top-K summary (day, uk, cnt) + per-day threshold
    * table (day, thr) — q157's sketch state, the frequent-items analog
    * of [[userDayRegisters]] (distinct) and [[valueDayHist]] (quantiles).
    * `thr` is the day's K-th largest count when the day had MORE than K
    * keys (the mass ceiling for any key the summary dropped) and 0 when
    * everything fit — the per-day error bound the range reader charges
    * for absent days. */
  private[graft] def topkStored(counts: DataFrame): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    counts.select(col("day"), col("uk"), col("cnt"))
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .agg(new TopKByCount(TopkK).toColumn.name("top"))
      .toDF("day", "top")
      .select(col("day"), explode(col("top")).as("e"))
      .select(col("day"), col("e._1").as("uk"), col("e._2").as("cnt"))
  }

  private[graft] def topkDailySummaries(counts: DataFrame): (DataFrame, DataFrame) = {
    val stored = topkStored(counts)
      .localCheckpoint() // bounded days × K
    val nKeys = counts.groupBy("day").agg(count(lit(1)).as("n_keys"))
    val thr = stored.groupBy("day").agg(min("cnt").as("kth"))
      .join(nKeys, Seq("day"))
      .selectExpr("day",
        s"CASE WHEN n_keys > $TopkK THEN kth ELSE CAST(0 AS BIGINT) END AS thr")
    (stored, thr)
  }

  /** q157 — RANGE TOP-K from a mergeable per-day top-k cube: the third
    * leg of the cube trilogy (q154/q155 distinct, q156 quantiles, here
    * frequent items). "Who were the most active users over days
    * [d0+7, d0+21)?" answered by MERGING the stored per-day top-K
    * summaries — per candidate, the SUM of its stored daily counts is a
    * LOWER bound on its true range count, and charging each absent day's
    * stored threshold yields an UPPER bound (SpaceSaving-style error
    * accounting, Metwally 2005; mergeable-summaries framing per Agarwal
    * 2012) — then graded against the exact range counts. Both bounds are
    * part of the graded artifact: `lb_ok`/`ub_ok` flipping fails the
    * hash, so the bound algebra is proven, not just claimed.
    *
    * Scale shape: ONE corpus-collapsing aggregate builds the per-(day,
    * user) counts; the summaries come from the bounded-state
    * [[TopKByCount]] aggregate (never a rank-within-day window); the
    * merge, slack, and final rank all live on ≤ range×K-row tables (the
    * final rank is the q130 bounded self-join, not a window); the exact
    * grading branch probes the collapsed table with the ≤ range×K
    * candidate set broadcast. Raw events never shuffle — only collapsed
    * (day, uk, cnt) rows do, once. */
  def topkRangeCensus(events: DataFrame): DataFrame = {
    val counts = userDayCounts(events)
      .localCheckpoint() // consumed by the store build + the exact branch
    val (stored, thr) = topkDailySummaries(counts)
    val anchor = counts.agg(min("day").as("d0"))
    def inRange(df: DataFrame): DataFrame =
      df.crossJoin(broadcast(anchor))
        .filter(col("day") >= col("d0") + lit(HllRangeStartOff) &&
          col("day") < col("d0") + lit(HllRangeStartOff + HllRangeLen))
        .drop("d0")
    val ss = inRange(stored).localCheckpoint() // ≤ range×K rows
    val st = inRange(thr)                      // ≤ range rows
    val cands = ss.select("uk").distinct()
    val est = ss.groupBy("uk")
      .agg(sum("cnt").as("est_count"), count(lit(1)).as("days_present"))
    // absent-day slack: candidates × range thresholds, minus present
    // pairs — all bounded frames, the anti-join is ≤ (range×K)×range;
    // st is hinted so the plan shape never depends on AQE size estimates
    val slack = cands.crossJoin(broadcast(st))
      .join(ss.select("day", "uk"), Seq("day", "uk"), "left_anti")
      .groupBy("uk").agg(sum("thr").as("slack"))
    val exact = counts
      .crossJoin(broadcast(anchor))
      .filter(col("day") >= col("d0") + lit(HllRangeStartOff) &&
        col("day") < col("d0") + lit(HllRangeStartOff + HllRangeLen))
      .join(broadcast(cands), Seq("uk"))
      .groupBy("uk").agg(sum("cnt").as("exact_count"))
    val f = est.join(slack, Seq("uk"), "left").join(exact, Seq("uk"))
      .selectExpr("uk", "days_present", "est_count",
        "est_count + coalesce(slack, CAST(0 AS BIGINT)) AS ub_count",
        "exact_count")
      .localCheckpoint() // ≤ range×K rows; the rank self-join reads it twice
    // final rank by (est DESC, uk ASC): the q130 bounded self-join —
    // count of rows at-or-before self in the total order
    val rk = f.select(col("uk"), col("est_count"))
      .join(broadcast(f.select(col("uk").as("u2"), col("est_count").as("e2"))),
        col("e2") > col("est_count") ||
          (col("e2") === col("est_count") && col("u2") <= col("uk")))
      .groupBy("uk").agg(count(lit(1)).as("rk_est"))
    f.join(rk, "uk")
      .selectExpr("uk", "days_present", "est_count", "ub_count", "exact_count",
        "est_count <= exact_count AS lb_ok",
        "exact_count <= ub_count AS ub_ok",
        "rk_est",
        s"rk_est <= $TopkK AS is_topk")
      .orderBy("rk_est", "uk")
  }

  /** q158's Count-Min geometry: d independent hash rows × w counters.
    * w = 256 keeps the whole sketch at d×w = 1024 BIGINTs — broadcastable
    * anywhere — while the per-row error bound N/w stays meaningful at
    * test scales. Shared by both engines and the spec. */
  val CmsRows = 4
  val CmsWidth = 256L
  /** Probe selection modulus: users whose 60-bit md5 ≡ 0 (mod this) are
    * graded — a deterministic, engine-agreed sample of the key universe. */
  val CmsProbeMod = 8L
  /** Error-bound factor for the `within_bound` report column:
    * est − exact ≤ [[CmsBoundFactor]]·N/w. The CMS guarantee is
    * probabilistic (per-row expectation N/w, Markov + min over d rows);
    * with md5 hashing the outcome is DETERMINISTIC per corpus, so this
    * boolean is a stable graded fact, not a flaky tolerance. */
  val CmsBoundFactor = 8L

  /** The d hash-row column indices of a key, as one row-local array —
    * row r's hash is the shared 60-bit md5 slice of "cm{r}:key", reduced
    * mod w. Salting by row prefix makes the d rows independent without
    * needing a second hash family. */
  private def cmsCols(key: String): String =
    (0 until CmsRows).map { r =>
      s"${hash60(s"concat('cm$r:', $key)")} % $CmsWidth"
    }.mkString("array(", ", ", ")")

  /** q158 — COUNT-MIN SKETCH census, hash-exact: the SUM-mergeable
    * frequency sketch (Cormode–Muthukrishnan 2005) that complements the
    * cube trilogy's MAX-mergeable HLL (q154) and its top-k store (q157):
    * per-user activity counts folded into a d×w counter grid, point
    * estimates read back as the MIN over the d addressed counters, graded
    * against exact counts for a deterministic md5-selected probe panel
    * PLUS ghost keys the corpus never contained. The structural guarantee
    * — CMS never underestimates (`over_ok`), and ghost keys expose pure
    * collision mass — is part of the graded artifact: a broken hash,
    * a lost counter, or a wrong merge flips a boolean or a count and
    * fails the hash compare.
    *
    * Scale shape: the corpus collapses ONCE to per-key exact counts (the
    * only corpus-scale shuffle); the d cell addresses explode off that
    * collapsed table row-locally into a map-combinable SUM onto d×w
    * bounded registers. Unlike the HLL registers the counters are
    * duplicate-SENSITIVE (SUM, not MAX) — the price of supporting point
    * frequencies — so a streaming maintainer needs the StreamShardWriter
    * batch-id idempotency discipline rather than blind re-delivery.
    * Probes join the ≤ d×w register table broadcast. */
  /** The d×w counter grid over per-key counts — q158's sketch state and
    * the object of the SUM-merge law the spec proves. */
  private[graft] def cmsRegisters(counts: DataFrame): DataFrame =
    counts
      .select(posexplode(expr(cmsCols("uk"))).as(Seq("r", "j")), col("cnt"))
      .groupBy("r", "j").agg(sum("cnt").as("reg"))

  private[graft] def userCounts(events: DataFrame): DataFrame =
    events.selectExpr("CAST(user_id AS STRING) AS uk")
      .groupBy("uk").agg(count(lit(1)).as("cnt"))

  def countMinCensus(events: DataFrame): DataFrame = {
    val counts = userCounts(events)
      .localCheckpoint() // consumed by registers, total, and probes
    val registers = cmsRegisters(counts)
      .localCheckpoint() // bounded d×w
    val tot = counts.agg(sum("cnt").as("n_total"))
    val ghosts = counts.sparkSession.range(1, 4)
      .selectExpr("concat('ghost:', id) AS uk", "CAST(0 AS BIGINT) AS exact_count")
    val probes = counts
      .filter(expr(s"${hash60("uk")} % $CmsProbeMod = 0"))
      .select(col("uk"), col("cnt").as("exact_count"))
      .unionByName(ghosts)
    val est = probes
      .select(col("uk"), col("exact_count"),
        posexplode(expr(cmsCols("uk"))).as(Seq("r", "j")))
      .join(broadcast(registers), Seq("r", "j"), "left")
      // an untouched cell is an implicit zero counter
      .groupBy("uk", "exact_count")
      .agg(min(coalesce(col("reg"), lit(0L))).as("est_count"))
    est.crossJoin(broadcast(tot))
      .selectExpr("uk", "exact_count", "est_count",
        "est_count - exact_count AS err",
        "est_count >= exact_count AS over_ok",
        s"est_count - exact_count <= ($CmsBoundFactor * n_total) DIV $CmsWidth AS within_bound")
      .orderBy("uk")
  }

  /** q169's bucket count — the ANALYZE artifact's equi-depth resolution. */
  val EquiDepthBuckets = 8L

  /** q169 — ANALYZE-STATISTICS BUILD (equi-depth histogram + column
    * census): the optimizer-statistics artifact every engine's ANALYZE
    * writes — for the value column: exact NDV, null count, min/max, and
    * the [[EquiDepthBuckets]] equi-depth boundaries a cost model uses
    * for selectivity. Boundary b = the smallest cents value whose
    * cumulative row count reaches ⌈b·N/B⌉, found WITHOUT a corpus sort
    * by the q156 two-pass distributed selection: the bounded global
    * histogram (2000-cent bins) locates each target rank's bin, then ONE
    * filtered re-scan collapses only the located bins' rows and reads
    * the exact boundary off a by-construction-bounded in-bin cumulative.
    * Per-bucket exact row counts (equal up to duplicate-value ties —
    * emitted, not assumed) and the conservation law cover_ok
    * (Σ bucket counts = N − nulls) are part of the graded artifact.
    *
    * Scale shape: two corpus passes (histogram build; target-bin
    * re-scan), both map-combinable collapses; everything else lives on
    * bounded tables via the q108 self-join cumulative. NDV here is the
    * exact distinct of the collapsed cents table (bounded by the value
    * domain); for unbounded-domain columns the q134 HLL registers are
    * the NDV path — both exist in this engine. */
  def equiDepthStats(events: DataFrame): DataFrame = {
    val b = EquiDepthBuckets
    val cents = events.selectExpr(
        "CASE WHEN value IS NULL THEN CAST(NULL AS BIGINT) " +
          "ELSE CAST(round(value * 100) AS BIGINT) END AS c")
      .localCheckpoint() // two passes: histogram + target-bin re-scan
    // r16: NDV joins the census aggregate itself (COUNT(DISTINCT c)
    // skips nulls exactly like the old filter→distinct→count subtree,
    // which paid its own exchanges), and the rank-selection tail
    // (cumulative masses + first-bin-reaching-target pick) becomes the
    // q156 row-local integer fold over the collected bin array — the
    // global histogram is ≤ value-range/width rows BY CONSTRUCTION.
    val summary = cents.agg(
        count(lit(1)).as("n_rows"),
        count(when(col("c").isNull, 1)).as("n_null"),
        min("c").as("min_cents"), max("c").as("max_cents"),
        countDistinct("c").as("ndv"))
      .localCheckpoint() // one row
    val binsRow = cents.filter(col("c").isNotNull)
      .selectExpr(s"${floorBin("c")} AS bin")
      .groupBy("bin").agg(count(lit(1)).as("n"))
      .agg(array_sort(collect_list(struct(col("bin"), col("n")))).as("bs"))
    val picked = cents.sparkSession.range(1, b + 1)
      .selectExpr("CAST(id AS BIGINT) AS bucket")
      .crossJoin(broadcast(summary.selectExpr("n_rows - n_null AS n_vals")))
      .selectExpr("bucket", "n_vals",
        s"(bucket * n_vals + $b - 1) DIV $b AS target_rank")
      .crossJoin(broadcast(binsRow))
      .selectExpr("bucket", "n_vals", "target_rank",
        """aggregate(bs,
             named_struct('cum', 0L, 'bin', CAST(NULL AS BIGINT),
                          'cum_below', CAST(NULL AS BIGINT)),
             (acc, x) -> IF(acc.bin IS NOT NULL, acc,
               IF(acc.cum + x.n >= target_rank,
                  named_struct('cum', acc.cum + x.n, 'bin', x.bin,
                               'cum_below', acc.cum),
                  named_struct('cum', acc.cum + x.n, 'bin', acc.bin,
                               'cum_below', acc.cum_below)))) AS pk""")
      .selectExpr("bucket", "n_vals", "target_rank", "pk.bin AS bin",
        "pk.cum_below AS cum_below")
      .filter(col("bin").isNotNull) // all-null column ⇒ no picks, as before
      .localCheckpoint() // ≤ B rows; probes the corpus
    val inBin = cents.filter(col("c").isNotNull)
      .join(broadcast(picked.select("bucket", "bin")),
        expr(floorBin("c")) === col("bin"))
      .groupBy("bucket", "c").agg(count(lit(1)).as("cn"))
    val wSpec = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy("c")
    // boundary value AND its exact global rank in one bounded pass: the
    // in-bin cumulative already carries the rank (cum_below + cum_in),
    // so no third corpus scan is needed for the per-bucket masses
    val ranks = inBin.withColumn("cum_in", sum("cn").over(wSpec))
      .join(broadcast(picked.select("bucket", "cum_below", "target_rank")), "bucket")
      .filter(col("cum_below") + col("cum_in") >= col("target_rank"))
      .groupBy("bucket").agg(min(struct(col("c"), col("cum_in"))).as("bd"))
      .join(broadcast(picked.select("bucket", "cum_below")), Seq("bucket"))
      .selectExpr("bucket", "bd.c AS boundary_cents",
        "cum_below + bd.cum_in AS rank_at_boundary")
    val prev = ranks.selectExpr("bucket + 1 AS bucket",
      "rank_at_boundary AS prev_rank")
    ranks.join(broadcast(prev), Seq("bucket"), "left")
      .selectExpr("bucket", "boundary_cents", "rank_at_boundary",
        "rank_at_boundary - coalesce(prev_rank, CAST(0 AS BIGINT)) AS n_in_bucket")
      .crossJoin(broadcast(summary))
      .join(broadcast(picked.select("bucket", "target_rank")), Seq("bucket"))
      .selectExpr("bucket", "target_rank", "boundary_cents", "n_in_bucket",
        "n_rows", "n_null", "ndv", "min_cents", "max_cents",
        s"""CASE WHEN bucket = $b THEN boundary_cents = max_cents
                 ELSE true END AS top_is_max""")
      .orderBy("bucket")
  }

  /** q174's probe predicates (label, lo_cents, hi_cents — inclusive):
    * a mid band, a narrow band, the whole domain, and an empty range.
    * Shared by both engines and the spec. */
  val SelectivityProbes: Seq[(String, Long, Long)] = Seq(
    ("band_mid", 10000L, 15000L),
    ("narrow", 5000L, 5100L),
    ("all", 0L, 10000000L),
    ("empty", 40000000L, 50000000L))

  /** q186 — JOIN-ORDER CHOICE: the decision the whole statistics loop
    * (q153 skew → q169 ANALYZE → q172 sketch cardinality → q174
    * selectivity q-error) exists to feed. For the three-table join
    * customer ⋈ orders ⋈ lineitem there are two left-deep orders, and
    * their costs differ by the INTERMEDIATE they materialize: |C⋈O| vs
    * |O⋈L|. Per candidate order the artifact carries the System-R
    * textbook estimate — |R|·|S| / max(ndv_R(k), ndv_S(k)), the
    * uniformity assumption every classical optimizer ships — the EXACT
    * intermediate, the q-error, both rankings, and `agree`: whether the
    * estimator picks the truly cheaper order (the only bit the planner
    * consumes).
    *
    * The exact branch never materializes a join: |R⋈S| = Σ_k c_R(k)·
    * c_S(k) over the collapsed per-key count tables (map-combinable
    * collapses, one co-keyed join of key-sized tables, Σ in
    * DECIMAL(38,0) shipped as BIGINT — the q153/q172 discipline). At
    * 100 TB this is exactly how you'd VALIDATE an optimizer's cost
    * model offline: count-collapse, never execute the plans. */
  def joinOrderAudit(customer: DataFrame, orders: DataFrame,
                     lineitem: DataFrame): DataFrame = {
    def counts(df: DataFrame, key: String) =
      df.filter(col(key).isNotNull)
        .groupBy(col(key).as("k")).agg(count(lit(1)).as("c"))
    def side(df: DataFrame, key: String) = {
      val c = counts(df, key)
      (c, c.agg(sum("c").as("n"), count(lit(1)).as("ndv")))
    }
    def audit(ord: String, l: (DataFrame, DataFrame), r: (DataFrame, DataFrame)) = {
      val exact = l._1.as("a").join(r._1.as("b"), col("a.k") === col("b.k"))
        .agg(sum(expr("CAST(a.c AS DECIMAL(38,0)) * b.c")).as("x"))
        .selectExpr("CAST(x AS BIGINT) AS exact_inter")
      val est = l._2.crossJoin(broadcast(
          r._2.selectExpr("n AS n2", "ndv AS ndv2")))
        .selectExpr("n AS n_left", "n2 AS n_right", "ndv AS ndv_left",
          "ndv2 AS ndv_right",
          "CAST(CAST(n AS DECIMAL(38,0)) * n2 DIV greatest(ndv, ndv2) AS BIGINT) AS est_inter")
      est.crossJoin(broadcast(exact))
        .selectExpr(s"'$ord' AS ord", "n_left", "n_right", "ndv_left", "ndv_right",
          "exact_inter", "est_inter",
          """greatest((CAST(est_inter AS DOUBLE) + 1e0) / (CAST(exact_inter AS DOUBLE) + 1e0),
                      (CAST(exact_inter AS DOUBLE) + 1e0) / (CAST(est_inter AS DOUBLE) + 1e0))
             AS q_error""")
    }
    val co = audit("CO_first", side(customer, "c_custkey"), side(orders, "o_custkey"))
    val ol = audit("OL_first", side(orders, "o_orderkey"), side(lineitem, "l_orderkey"))
    val both = co.unionByName(ol).localCheckpoint() // 2 rows
    val mins = both.agg(min("est_inter").as("est_min"), min("exact_inter").as("exact_min"))
    both.crossJoin(broadcast(mins))
      .selectExpr("ord", "n_left", "n_right", "ndv_left", "ndv_right",
        "exact_inter", "est_inter", "q_error",
        "est_inter = est_min AS chosen",
        "exact_inter = exact_min AS optimal",
        // the one bit the planner consumes: the estimate ranks the
        // orders the same way the exact intermediates do
        "(est_inter = est_min) = (exact_inter = exact_min) AS agree")
      .orderBy("ord")
  }

  /** q174 — CARDINALITY-ESTIMATION Q-ERROR AUDIT: the q169 statistics
    * doing the optimizer's actual job — for each probe predicate, the
    * row-count ESTIMATE read off the equi-depth histogram under the
    * uniform-within-bucket assumption (full buckets contribute their
    * mass; boundary buckets contribute mass × overlap/width, floored in
    * exact micro integers per bucket so the sum is order-free), graded
    * beside the EXACT count and the classic q-error
    * max(est/act, act/est) (+1-smoothed so the empty range stays
    * finite). This closes the optimizer loop the way a database team
    * actually evaluates statistics: build (q169) → estimate → measure
    * the estimate's distortion; a q_error of 1 is a perfect oracle, and
    * the planner's join/scan choices degrade with log(q_error).
    *
    * Scale shape: the stats side is the q169 build (two corpus passes);
    * the estimator itself touches ONLY the 8-row interval table × 4
    * probes — the whole point of keeping statistics; actuals ride one
    * conditional-count aggregate over the corpus (the grading branch). */
  def selectivityAudit(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    val stats = equiDepthStats(events)
      .selectExpr("bucket", "boundary_cents", "n_in_bucket", "min_cents")
      .localCheckpoint() // 8 rows
    val iv = stats.as("a")
      .join(broadcast(stats.selectExpr("bucket + 1 AS bucket",
        "boundary_cents AS prev_b").as("p")), Seq("bucket"), "left")
      .selectExpr("bucket", "coalesce(prev_b, min_cents - 1) AS lo_excl",
        "boundary_cents AS hi_incl", "n_in_bucket")
    val probes = spark.range(1).selectExpr(s"inline(array(${
      SelectivityProbes.map { case (l, lo, hi) =>
        s"named_struct('pred', '$l', 'lo', CAST($lo AS BIGINT), 'hi', CAST($hi AS BIGINT))"
      }.mkString(", ")}))")
    val est = probes.crossJoin(broadcast(iv))
      .selectExpr("pred", "lo", "hi",
        "greatest(CAST(0 AS BIGINT), least(hi, hi_incl) - greatest(lo - 1, lo_excl)) AS ow",
        "hi_incl - lo_excl AS bw", "n_in_bucket")
      .selectExpr("pred", "lo", "hi",
        // bw = 0 whenever two consecutive equi-depth boundaries tie (a
        // value holding >= 1/depth of the mass); the degenerate interval
        // (x, x] is empty so its term is exactly zero — guard it rather
        // than let ANSI division throw.
        """CASE WHEN bw = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(CAST(n_in_bucket AS DECIMAL(38,0)) * ow * 1000000 DIV bw AS BIGINT)
           END AS e""")
      .groupBy("pred", "lo", "hi").agg(sum("e").as("est_rows_micro"))
    val cents = events.filter(col("value").isNotNull)
      .selectExpr("CAST(round(value * 100) AS BIGINT) AS c")
    val acts = cents.agg(
        SelectivityProbes.map { case (l, lo, hi) =>
          count(when(col("c") >= lit(lo) && col("c") <= lit(hi), 1)).as(s"a_$l")
        }.head, SelectivityProbes.tail.map { case (l, lo, hi) =>
          count(when(col("c") >= lit(lo) && col("c") <= lit(hi), 1)).as(s"a_$l")
        }: _*)
      .selectExpr(s"stack(${SelectivityProbes.size}, ${
        SelectivityProbes.map { case (l, _, _) => s"'$l', a_$l" }.mkString(", ")
      }) AS (pred, actual_rows)")
    est.join(broadcast(acts), Seq("pred"))
      .selectExpr("pred", "lo AS lo_cents", "hi AS hi_cents",
        "est_rows_micro", "actual_rows",
        """greatest((CAST(est_rows_micro AS DOUBLE) / 1e6 + 1e0)
                      / (CAST(actual_rows AS DOUBLE) + 1e0),
                    (CAST(actual_rows AS DOUBLE) + 1e0)
                      / (CAST(est_rows_micro AS DOUBLE) / 1e6 + 1e0)) AS q_error""")
      .orderBy("pred")
  }

  /** q163's rolled-dimension sentinels: day reuses [[HllCubeTotalDay]];
    * the rolled event_type is a printable marker no real type contains. */
  val HllRollupAllTypes = "~all~"

  /** q163 — HLL GROUPING-SETS ROLLUP from ONE register store: the
    * warehouse law the q154 cube only states for days, proven for a full
    * two-dimensional cube — registers are built ONCE at the finest grain
    * (day × event_type) and every coarser grouping level ((type), (day),
    * ()) is derived by MAX-merging that store, never by re-scanning the
    * corpus. All four levels are graded against the exact distinct at
    * their own grain, so the hash match proves the sketch's level
    * algebra, not just one census. At 100 TB this is the difference
    * between one sketch build serving every dashboard rollup and a
    * COUNT(DISTINCT) per grouping set.
    *
    * Scale shape: raw rows never shuffle — the register path moves
    * (day, type, j, rho) triples into a MAX aggregate and every rollup
    * level lives on the bounded days×types×256 store. The exact branch
    * (the grading harness, as everywhere in the HLL family) collapses
    * the corpus ONCE to the distinct (day, type, uk) triple table and
    * derives each level's exact count from that collapsed table — the
    * finest exact cube, not four corpus scans. */
  def hllRollupCube(events: DataFrame): DataFrame = {
    val m = HllRegisters
    val two53 = 1L << (HllRestBits + 1)
    val keyed = events.selectExpr(
        s"unix_micros(ts) DIV ${graft.ops.RelationalOps.DayUs} AS day",
        s"coalesce(event_type, '${graft.ops.GraphOps.NullSourceSentinel}') AS et",
        "CAST(user_id AS STRING) AS uk")
      .localCheckpoint() // consumed by the register build + the exact cube
    val fine = keyed
      .selectExpr("day", "et", s"${hash60("uk")} AS h")
      .selectExpr("day", "et", s"h DIV $HllRest AS j",
        s"""CASE WHEN h % $HllRest = 0 THEN $HllRhoMax
                 ELSE $HllRhoMax - length(bin(h % $HllRest)) END AS rho""")
      .groupBy("day", "et", "j").agg(max("rho").as("reg"))
    // r16: all four MAX-merge levels in ONE grouping-sets pass over the
    // store (Expand ×4 on the bounded days × types × 256 table) instead
    // of a 4-branch union — union branches are separate subtrees, each
    // with its own exchange. gid bits (day, et, j): day=4, et=2, j=1;
    // j is grouped in every set, day/et NULL out per level and are
    // re-labeled with the rollup sentinels (day is never NULL from
    // unix_micros DIV; et is pre-coalesced).
    val regsAll = fine.groupingSets(
        Seq(Seq(col("day"), col("et"), col("j")),
          Seq(col("et"), col("j")), Seq(col("day"), col("j")),
          Seq(col("j"))),
        col("day"), col("et"), col("j"))
      .agg(max("reg").as("reg"), grouping_id().as("gid"))
      .selectExpr(
        """CASE gid WHEN 0 THEN 'day_type' WHEN 4 THEN 'type'
                    WHEN 2 THEN 'day' ELSE 'total' END AS level""",
        s"CASE WHEN gid IN (4, 6) THEN CAST($HllCubeTotalDay AS BIGINT) ELSE day END AS day",
        s"CASE WHEN gid IN (2, 6) THEN '$HllRollupAllTypes' ELSE et END AS et",
        "j", "reg")
    val census = regsAll.groupBy("level", "day", "et").agg(
        count(lit(1)).as("n_registers_hit"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), $HllRhoMax - reg)")).as("s_hit"))
      .selectExpr("level", "day", "et", "n_registers_hit",
        s"CAST($m - n_registers_hit AS BIGINT) AS n_zero_registers",
        s"s_hit + ($m - n_registers_hit) * $two53 AS harmonic_denom_scaled")
    // r16: the four exact-distinct levels likewise collapse into ONE
    // grouping-sets COUNT(DISTINCT uk) pass over the finest cube —
    // count(*) on the distinct (day, et, uk) triple grouped by a level
    // IS countDistinct(uk) at that level — and the pre-distinct is
    // subsumed by the distinct aggregate itself. gid bits (day, et):
    // day=2, et=1.
    val exact = keyed
      .groupingSets(
        Seq(Seq(col("day"), col("et")), Seq(col("et")),
          Seq(col("day")), Seq()),
        col("day"), col("et"))
      .agg(countDistinct("uk").as("exact_distinct"),
        grouping_id().as("gid"))
      .selectExpr(
        """CASE gid WHEN 0 THEN 'day_type' WHEN 2 THEN 'type'
                    WHEN 1 THEN 'day' ELSE 'total' END AS level""",
        s"CASE WHEN gid IN (2, 3) THEN CAST($HllCubeTotalDay AS BIGINT) ELSE day END AS day",
        s"CASE WHEN gid IN (1, 3) THEN '$HllRollupAllTypes' ELSE et END AS et",
        "exact_distinct")
    census.join(exact, Seq("level", "day", "et"))
      .selectExpr("level", "day", "et", "exact_distinct", "n_registers_hit",
        "n_zero_registers", "harmonic_denom_scaled",
        s"$HllEstNum / CAST(harmonic_denom_scaled AS DOUBLE) AS raw_est")
      .withColumn("rel_err", expr(
        "(raw_est - CAST(exact_distinct AS DOUBLE)) / CAST(exact_distinct AS DOUBLE)"))
      .withColumn("est_ok", expr(
        s"""abs(CASE WHEN n_zero_registers > 0 AND raw_est <= 2.5 * $m.0
                     THEN $m.0 * ln($m.0 / CAST(n_zero_registers AS DOUBLE))
                     ELSE raw_est END
                - CAST(exact_distinct AS DOUBLE))
            <= greatest(0.25 * CAST(exact_distinct AS DOUBLE), 10.0)"""))
      .orderBy("level", "day", "et")
  }

  /** q166 — EXACT BITMAP DISTINCT CUBE: when the key domain is DENSE
    * integers (user ids here), the sketch trade is unnecessary — a
    * per-day bitmap of active users (user_id's bit in word user DIV 64)
    * is OR-mergeable like the HLL registers but EXACT: any range's
    * distinct count is the popcount of the OR of its days' bitmaps, no
    * estimate, no tolerance boolean. This is the bitmap-index side of
    * the q154 coin, and the cube's graded law is `exact_match` — the
    * popcount-vs-direct-distinct equality that a single lost or doubled
    * bit flips. The total row is built by OR-MERGING the daily word
    * tables, exactly as q154's is by MAX.
    *
    * The honest trade vs HLL: state is ⌈key-domain⌉/64 words per day,
    * not a fixed 256 registers — exact and mergeable, but only viable
    * while ids stay dense (RoaringBitmap's run/array containers are the
    * production refinement of exactly this structure; a 10⁹-user day is
    * ~16 MB of plain words). Raw rows never shuffle: only (day, w, bit)
    * triples move into the OR aggregate, duplicate- and
    * re-delivery-proof like every OR/MAX store here. */
  def bitmapDailyCube(events: DataFrame): DataFrame = {
    val keyed = events.selectExpr(
        s"unix_micros(ts) DIV ${graft.ops.RelationalOps.DayUs} AS day",
        "user_id AS uid")
      .localCheckpoint() // consumed by the word build + the exact branch
    val words = keyed
      .selectExpr("day", "CAST(uid DIV 64 AS BIGINT) AS w",
        "CAST(uid % 64 AS INT) AS b")
      .groupBy("day", "w")
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), b))").as("word"))
      .localCheckpoint() // bounded days × domain/64
    val merged = words.groupBy("w").agg(expr("bit_or(word)").as("word"))
      .selectExpr(s"CAST($HllCubeTotalDay AS BIGINT) AS day", "w", "word")
    val census = words.unionByName(merged).groupBy("day")
      .agg(count(lit(1)).as("n_words"),
        sum(expr("CAST(bit_count(word) AS BIGINT)")).as("bitmap_distinct"))
    val daily = keyed.distinct().groupBy("day").agg(count(lit(1)).as("exact_distinct"))
    val exact = daily.unionByName(
      keyed.select("uid").distinct().agg(count(lit(1)).as("exact_distinct"))
        .selectExpr(s"CAST($HllCubeTotalDay AS BIGINT) AS day", "exact_distinct"))
    census.join(exact, Seq("day"))
      .selectExpr("day", "n_words", "bitmap_distinct", "exact_distinct",
        "bitmap_distinct = exact_distinct AS exact_match")
      .orderBy("day")
  }

  /** q178's Roaring geometry, scaled: blocks of [[RoaringBlockWidth]]
    * consecutive values, array containers up to [[RoaringArrayMax]]
    * entries. The threshold is not a tuning knob — it is the EXACT
    * storage crossover of the two representations (2 bytes per entry in
    * an array container vs width/8 bytes for the full bit block:
    * 2n ≤ width/8 ⟺ n ≤ width/16), the same law that sets Roaring's
    * 4096 threshold for its 65536-wide blocks. */
  val RoaringBlockWidth = 1024L
  val RoaringArrayMax = RoaringBlockWidth / 16

  /** q178 — ROARING CONTAINER CHOICE: the production refinement q166's
    * Scaladoc promises — the id domain cut into fixed-width blocks, and
    * PER (day, block) the store picks the cheaper exact representation:
    * a sorted array of offsets while the block is sparse, a plain bit
    * block once it densifies past the crossover. Run on the per-day
    * DISTINCT price points (cents), whose skew toward low blocks gives
    * both container kinds at graded scales — dense cheap-price blocks
    * go bitmap, the sparse expensive tail stays array.
    *
    * Graded per (day, block): the exact cardinality, the chosen kind,
    * the popcount-exactness law (`popcount_ok` — the bit block's
    * popcount equals the distinct count, same law as q166), and the
    * state-size ledger (array bytes 2n, bitmap bytes width/8, chosen =
    * min). Per-day sentinel rows (blk = -1) aggregate the ledger into
    * the policy comparison the trade exists for: total state under
    * choice vs all-array vs all-bitmap — blocks partition the domain,
    * so the day row's popcount law is the block laws' conjunction.
    *
    * Scale shape: ONE distinct over (day, blk, off) triples is the only
    * corpus-scale shuffle; words, popcounts, counts, and ledgers are
    * map-combinable aggregates over it; the block/off split uses the
    * negative-safe remainder-subtraction floor so both engines bin
    * identically for all inputs (the q175 lesson). */
  def roaringCube(events: DataFrame): DataFrame = {
    val triples = roaringTriples(events)
      .localCheckpoint() // consumed by the word build + the exact branch
    val joined = triples.groupBy("day", "blk").agg(count(lit(1)).as("n_exact"))
      .join(roaringPops(roaringWords(triples)), Seq("day", "blk"))
    roaringRender(joined)
  }

  /** q178's distinct (day, blk, off) triples — the one corpus-scale
    * collapse, shared with [[graft.streaming.StreamRoaring]]. */
  private[graft] def roaringTriples(events: DataFrame): DataFrame = {
    val w = RoaringBlockWidth
    events.filter(col("value").isNotNull)
      .selectExpr(
        s"unix_micros(ts) DIV ${graft.ops.RelationalOps.DayUs} AS day",
        "CAST(round(value * 100) AS BIGINT) AS cents")
      .selectExpr("day",
        s"(cents - (((cents % $w) + $w) % $w)) DIV $w AS blk",
        s"CAST(((cents % $w) + $w) % $w AS INT) AS off")
      .distinct()
  }

  /** The OR-mergeable word store (day, blk, wi, word) — q178's sketch
    * state; bit_or makes it duplicate- AND re-delivery-proof with no
    * bookkeeping (the q154 register algebra on exact bits). */
  private[graft] def roaringWords(triples: DataFrame): DataFrame =
    triples
      .selectExpr("day", "blk", "CAST(off DIV 64 AS INT) AS wi",
        "CAST(off % 64 AS INT) AS b")
      .groupBy("day", "blk", "wi")
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), b))").as("word"))

  /** Per-(day, block) popcounts off a word table. Exact: the popcount of
    * OR'd distinct-value bits IS the distinct count, so a maintained
    * word store needs no separate count column. */
  private[graft] def roaringPops(words: DataFrame): DataFrame =
    words.groupBy("day", "blk")
      .agg(sum(expr("CAST(bit_count(word) AS BIGINT)")).as("pop"))

  /** The container-choice render over (day, blk, n_exact, pop) stats —
    * shared verbatim by batch q178 and the streamed read so the two are
    * bit-equal by construction. */
  private[graft] def roaringRender(stats: DataFrame): DataFrame = {
    val w = RoaringBlockWidth
    val bb = w / 8 // bitmap container bytes
    val joined = stats.localCheckpoint() // bounded: days × touched blocks
    val perBlock = joined.selectExpr("day", "blk", "n_exact",
      s"IF(n_exact <= $RoaringArrayMax, 'array', 'bitmap') AS kind",
      "pop = n_exact AS popcount_ok",
      "2 * n_exact AS array_bytes",
      s"CAST($bb AS BIGINT) AS bitmap_bytes",
      s"least(2 * n_exact, CAST($bb AS BIGINT)) AS chosen_bytes")
    val perDay = joined.groupBy("day")
      .agg(sum("n_exact").as("n_exact"), sum("pop").as("pop"),
        count(lit(1)).as("n_blocks"),
        sum(expr(s"least(2 * n_exact, CAST($bb AS BIGINT))")).as("chosen_bytes"))
      .selectExpr("day", "CAST(-1 AS BIGINT) AS blk", "n_exact",
        "'day' AS kind", "pop = n_exact AS popcount_ok",
        "2 * n_exact AS array_bytes",
        s"n_blocks * $bb AS bitmap_bytes",
        "chosen_bytes")
    // kind joins the sort key: a genuinely negative cents block is also
    // blk = -1, and the day sentinel must not tie with it ambiguously
    perBlock.unionByName(perDay).orderBy("day", "blk", "kind")
  }

  /** q181 — ROARING RUN CONTAINERS: the third container kind completing
    * q178's trade, graded on the workload where each kind actually wins.
    * Auto-increment keys are contiguous per ingest partition (event_id
    * here: every day is ONE exact id run — density 1.0, the classic
    * case), so a run container (2 + 4·n_runs bytes: Roaring's 16-bit
    * count header + two 16-bit words per run) beats both the array and
    * the full bit block by orders of magnitude; value-shaped data
    * (cents) has no run structure and stays with q178's array/bitmap
    * split. Both domains run through the SAME container algebra in one
    * query, so the artifact itself is the lesson: per (src, day, block)
    * the run count, the three byte ledgers, the chosen kind at the
    * exact three-way minimum (ties prefer array, then run), and
    * `run_wins` vs q178's two-way choice; per-src sentinel rows total
    * the ledgers — event_id's run-aware total collapses, cents' doesn't.
    *
    * The run count needs no window and no sort: a run HEAD is an offset
    * whose predecessor is absent, so `n_runs` is one co-keyed LEFT ANTI
    * self-join of the distinct triple table (head count = run count,
    * exactly). Scale shape: one distinct per source domain, one
    * anti-join on the collapsed triples, then bounded-table renders. */
  def roaringRunsCube(events: DataFrame): DataFrame = {
    val w = RoaringBlockWidth
    val bb = w / 8
    val dayUs = graft.ops.RelationalOps.DayUs
    def trip(valueExpr: String, filter: String, tag: String) = events
      .filter(filter)
      .selectExpr(s"unix_micros(ts) DIV $dayUs AS day", s"$valueExpr AS v")
      .selectExpr(s"'$tag' AS src", "day",
        s"(v - (((v % $w) + $w) % $w)) DIV $w AS blk",
        s"CAST(((v % $w) + $w) % $w AS INT) AS off")
      .distinct()
    val triples = trip("CAST(round(value * 100) AS BIGINT)",
        "value IS NOT NULL", "cents")
      .unionByName(trip("CAST(event_id AS BIGINT)",
        "event_id IS NOT NULL", "event_id"))
      .localCheckpoint() // consumed by the head anti-join + the counts
    val heads = triples.as("t").join(triples.as("p"),
        col("t.src") === col("p.src") && col("t.day") === col("p.day") &&
          col("t.blk") === col("p.blk") && col("p.off") === col("t.off") - 1,
        "left_anti")
      .groupBy("src", "day", "blk").agg(count(lit(1)).as("n_runs"))
    val stats = triples.groupBy("src", "day", "blk")
      .agg(count(lit(1)).as("n_exact"))
      .join(heads, Seq("src", "day", "blk"))
      .localCheckpoint() // bounded: sources × days × touched blocks
    val perBlock = stats.selectExpr("src", "day", "blk", "n_exact", "n_runs",
      s"""CASE WHEN 2 * n_exact <= 2 + 4 * n_runs AND 2 * n_exact <= $bb THEN 'array'
               WHEN 2 + 4 * n_runs <= $bb THEN 'run' ELSE 'bitmap' END AS kind""",
      "2 * n_exact AS array_bytes",
      s"CAST($bb AS BIGINT) AS bitmap_bytes",
      "2 + 4 * n_runs AS run_bytes",
      s"least(2 * n_exact, CAST($bb AS BIGINT), 2 + 4 * n_runs) AS chosen_bytes",
      s"least(2 * n_exact, CAST($bb AS BIGINT)) AS two_way_bytes",
      s"""least(2 * n_exact, CAST($bb AS BIGINT), 2 + 4 * n_runs)
          < least(2 * n_exact, CAST($bb AS BIGINT)) AS run_wins""")
    val summary = perBlock.groupBy("src")
      .agg(sum("n_exact").as("n_exact"), sum("n_runs").as("n_runs"),
        sum("array_bytes").as("array_bytes"), sum("bitmap_bytes").as("bitmap_bytes"),
        sum("run_bytes").as("run_bytes"), sum("chosen_bytes").as("chosen_bytes"),
        sum("two_way_bytes").as("two_way_bytes"))
      .selectExpr("src", "CAST(-1 AS BIGINT) AS day", "CAST(-1 AS BIGINT) AS blk",
        "n_exact", "n_runs", "'total' AS kind", "array_bytes", "bitmap_bytes",
        "run_bytes", "chosen_bytes", "two_way_bytes",
        "chosen_bytes < two_way_bytes AS run_wins")
    perBlock.unionByName(summary).orderBy("src", "day", "blk")
  }

  /** q161's Bloom geometry: m bits in m/64 BIGINT words, k md5-salted
    * hash probes, and the heavy-spender build-side dial (exact integer
    * cents). Shared by both engines and the spec. */
  val BloomBits = 4096L
  val BloomWords = 64
  val BloomHashes = 4
  val BloomSpendCents = 350000L

  /** Bit position of hash row r for a key — the shared 60-bit md5 slice
    * of "bf{r}:key" reduced mod m (the q158 salting scheme). */
  private def bloomPos(key: String, r: Int): String =
    s"(${hash60(s"concat('bf$r:', $key)")} % $BloomBits)"

  /** The m/64-word bit table of the build-side key set — OR-mergeable
    * (like the HLL registers, duplicate- and re-delivery-proof). */
  private[graft] def bloomWords(keys: DataFrame): DataFrame =
    keys.select(explode(expr(
        (0 until BloomHashes).map(r => bloomPos("uk", r))
          .mkString("array(", ", ", ")"))).as("pos"))
      .selectExpr("CAST(pos DIV 64 AS INT) AS w", "CAST(pos % 64 AS INT) AS b")
      .groupBy("w")
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), b))").as("word"))

  /** q161 — BLOOM-FILTER SEMI-JOIN PRUNING census: the constant-size
    * filter a 100 TB engine broadcasts INSTEAD of a build-side key set
    * that is too large to ship — every probe row tests k bits row-locally
    * and only survivors enter the expensive join/shuffle. Build side:
    * heavy-spending users (exact integer cents total over the shared
    * dial). The filter is the full m-bit array as ONE broadcast row of
    * m/64 BIGINT words (densified from the OR-merged word table, absent
    * words = 0); the probe pass is pure row-local bit arithmetic. Graded
    * per day-shard: rows, bloom survivors, true members, false
    * positives, the fp rate among true negatives, and the Bloom
    * guarantee itself — `no_false_neg` (a member NEVER fails the filter)
    * — which flipping fails the hash. The exact-membership branch (one
    * co-keyed join) is the grading harness, exactly as the exact
    * distinct is for the HLL family: what ships at scale is the
    * broadcast word row and the row-local test.
    *
    * Scale shape: the build side collapses once (map-combinable cents
    * SUM); the word table is ≤ m/64 rows OR-merged map-combinably; the
    * probe never shuffles for the filter decision — only the grading
    * join moves rows, and it moves them co-keyed on the user key. */
  def bloomPruneCensus(events: DataFrame): DataFrame = {
    val keys = events.filter(col("value").isNotNull)
      .selectExpr("CAST(user_id AS STRING) AS uk",
        "CAST(round(value * 100) AS BIGINT) AS cents")
      .groupBy("uk").agg(sum("cents").as("t"))
      .filter(col("t") > lit(BloomSpendCents))
      .select("uk")
      .localCheckpoint() // consumed by the word build + the truth join
    // the word range is the preserved side, the built words the broadcast
    val dense = keys.sparkSession.range(BloomWords).selectExpr("CAST(id AS INT) AS w")
      .join(broadcast(bloomWords(keys)), Seq("w"), "left")
      .selectExpr("w", "coalesce(word, CAST(0 AS BIGINT)) AS word")
      .agg(sort_array(collect_list(struct(col("w"), col("word")))).as("sw"))
      .selectExpr("transform(sw, s -> s.word) AS words")
    val passExpr = (0 until BloomHashes).map { r =>
      val pos = bloomPos("uk", r)
      s"(element_at(words, CAST($pos DIV 64 AS INT) + 1) " +
        s"& shiftleft(CAST(1 AS BIGINT), CAST($pos % 64 AS INT))) <> 0"
    }.mkString("(", ") AND (", ")")
    val probed = events
      .selectExpr(
        s"unix_micros(ts) DIV ${graft.ops.RelationalOps.DayUs} AS day",
        "CAST(user_id AS STRING) AS uk")
      .crossJoin(broadcast(dense))
      .selectExpr("day", "uk", s"$passExpr AS bloom_pass")
    val truth = probed.join(
        keys.withColumn("is_member", lit(true)), Seq("uk"), "left")
      .selectExpr("day", "bloom_pass", "coalesce(is_member, false) AS is_member")
    truth.groupBy("day")
      .agg(count(lit(1)).as("n_rows"),
        count(when(col("bloom_pass"), 1)).as("n_pass"),
        count(when(col("is_member"), 1)).as("n_member"),
        count(when(col("bloom_pass") && !col("is_member"), 1)).as("n_false_pos"),
        expr("bool_and(NOT is_member OR bloom_pass)").as("no_false_neg"))
      .selectExpr("day", "n_rows", "n_pass", "n_member", "n_false_pos",
        "no_false_neg",
        """CASE WHEN n_rows = n_member THEN CAST(NULL AS DOUBLE)
                ELSE CAST(n_false_pos AS DOUBLE) / CAST(n_rows - n_member AS DOUBLE)
           END AS fp_rate""",
        "CAST(n_rows - n_pass AS DOUBLE) / CAST(n_rows AS DOUBLE) AS pruned_frac")
      .orderBy("day")
  }

  /** q172 — JOIN-CARDINALITY ESTIMATION via the Count-Min inner product
    * (Cormode–Muthukrishnan's second theorem — the one optimizers use):
    * the size of the user-keyed self-join |events ⋈ events| is exactly
    * Σ_u c_u², and the CMS estimates it as min_r Σ_j reg[r][j]² — a
    * guaranteed OVERESTIMATE (collisions only add non-negative cross
    * terms), computable from two 1 KB sketches withOUT touching either
    * table again. This is the q158 grid doing the optimizer's job: at
    * 100 TB the planner reads this number to pick broadcast vs shuffle
    * vs salt BEFORE paying the join, and the q153 skew audit's Σc² is
    * the exact branch it is graded against. `over_ok` (est ≥ exact) is
    * the theorem itself — a flipped register breaks it and fails the
    * hash.
    *
    * Scale shape: the corpus collapses once to per-key counts (shared
    * with q158's build); the register squares live on the bounded d×w
    * grid; the exact branch is one DECIMAL(38,0) aggregate over the
    * collapsed table (a hot key's c² overflows int64 — same headroom
    * note as q153). */
  def cmsJoinCardinality(events: DataFrame): DataFrame = {
    val counts = userCounts(events)
      .localCheckpoint() // consumed by the grid build + the exact branch
    val est = cmsRegisters(counts)
      .groupBy("r")
      .agg(sum(expr("CAST(reg AS DECIMAL(38,0)) * reg")).as("est_r"))
      .agg(min("est_r").as("est_pairs"))
    val exact = counts.agg(
      count(lit(1)).as("n_keys"), sum("cnt").as("n_rows"),
      sum(expr("CAST(cnt AS DECIMAL(38,0)) * cnt")).as("exact_pairs"))
    exact.crossJoin(broadcast(est))
      // Ship int64: both Σc² terms fit BIGINT with large headroom at
      // graded scales (ANSI overflows loudly otherwise); the wide
      // DECIMAL(38,0) arithmetic stays internal to the SUMs above.
      .selectExpr("n_rows", "n_keys",
        "CAST(exact_pairs AS BIGINT) AS exact_pairs",
        "CAST(est_pairs AS BIGINT) AS est_pairs",
        "est_pairs >= exact_pairs AS over_ok",
        "CAST(est_pairs AS DOUBLE) / CAST(exact_pairs AS DOUBLE) AS blowup")
  }

  /** q194's sketch capacity. Estimator RSE ≈ 1/√(K−2) ≈ 13% per set;
    * intersections of small overlaps are worse (retained counts shrink
    * with the overlap), hence the generous [[ThetaEstOkMicro]] bound —
    * md5 draws make every estimate a stable graded fact per corpus, so
    * the bound is a deterministic verdict, not a flaky tolerance. */
  val ThetaK = 64
  /** |err| ≤ 50% qualifies an estimate (floor'd micro fraction). */
  val ThetaEstOkMicro = 500000L

  /** q194 — THETA-SKETCH SET OPERATIONS (the Apache DataSketches /
    * KMV audience-overlap framework): union, intersection, and both
    * differences of two order audiences estimated from two ≤ [[ThetaK]]-
    * entry sketches — the production answer to "how many orders are in
    * BOTH segments?" at 100 TB, where the exact intersection is a
    * full-shuffle join the planner cannot afford and no linear sketch
    * (HLL included) supports subtraction. Audiences: A = orders placed
    * in [1996, 1998), B = orders totalling > $150k — independent
    * attributes, so the overlap is genuinely partial at every scale.
    *
    * The sketch of a set is its [[ThetaK]] smallest distinct 48-bit md5
    * draws; θ = the K-th smallest (2⁴⁸ when the set fits — exact mode).
    * Set algebra happens at the COMMON θ = min(θ_A, θ_B): below it,
    * membership in EITHER set is decidable from the sketches alone
    * (x < θ ≤ θ_B ⟹ x ∈ B ⟺ x ∈ sketch_B), which is exactly why this
    * framework supports intersection and difference. Each operation
    * ships its retained count, the exact-integer estimate
    * `retained · 2⁴⁸ DIV θ`, the exact corpus count it is graded
    * against, and the floor'd micro error; two laws are theorems over
    * the retained counts and graded as such — inclusion–exclusion
    * (|A|+|B| = |A∪B|+|A∩B| below θ, exactly) and the disjoint
    * decomposition (A = (A∩B) ⊎ (A∖B)).
    *
    * Scale shape: ONE corpus pass computes hashes + membership flags
    * row-locally and the exact census map-combinably; each sketch is a
    * distinct over the (bounded-by-set-size) hash set followed by the
    * bounded-state [[TopKByCount]] selection (≤ K-entry states
    * tree-merge; the corpus is never sorted); every downstream join
    * touches ≤ 2K rows. Mergeable like q164: per-shard sketches
    * truncate-merge, so audiences build shard-local at 100 TB. */
  def thetaSets(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    import spark.implicits._
    val m = PipelineOps.TwoPow48
    val base = orders.selectExpr(
        "o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND " +
          "o_orderdate < TIMESTAMP '1998-01-01 00:00:00' AS in_a",
        "o_totalprice > 150000.0D AS in_b",
        "CAST(o_orderkey AS STRING) AS ok")
      .withColumn("h", PipelineOps.md5Prefix48(col("ok")))
      .localCheckpoint() // consumed by the census and both sketch builds
    val census = base.agg(
      count(when(col("in_a"), 1)).as("ex_a"),
      count(when(col("in_b"), 1)).as("ex_b"),
      count(when(col("in_a") && col("in_b"), 1)).as("ex_inter"),
      count(when(col("in_a") || col("in_b"), 1)).as("ex_union"),
      count(when(col("in_a") && !col("in_b"), 1)).as("ex_anb"),
      count(when(col("in_b") && !col("in_a"), 1)).as("ex_bna"))
    // the sketch is over the distinct HASH set (theta semantics: a
    // 48-bit collision folds two keys into one sketch entry on both
    // engines identically)
    def sketch(flag: String): DataFrame = base.filter(col(flag))
      .select("h").distinct()
      .selectExpr("CAST(0 AS BIGINT) AS g", "CAST(h AS STRING) AS k", "-h AS c")
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .agg(new TopKByCount(ThetaK).toColumn.name("top"))
      .toDF("g", "top")
      .select(explode(col("top")).as("e"))
      .selectExpr("CAST(e._1 AS BIGINT) AS h")
    val ska = sketch("in_a").localCheckpoint() // ≤ K rows each; read twice
    val skb = sketch("in_b").localCheckpoint()
    def thetaOf(sk: DataFrame): DataFrame = sk.agg(
      when(count(lit(1)) < ThetaK, lit(m)).otherwise(max("h")).as("th"))
    val theta = thetaOf(ska)
      .crossJoin(broadcast(thetaOf(skb).withColumnRenamed("th", "thb")))
      .selectExpr("least(th, thb) AS theta")
    val fo = ska.withColumn("ia", lit(true))
      .join(skb.withColumn("ib", lit(true)), Seq("h"), "full_outer")
      .crossJoin(broadcast(theta)).filter(col("h") < col("theta"))
      .agg(count("ia").as("r_a"), count("ib").as("r_b"),
        count(when(col("ia") && col("ib"), 1)).as("r_inter"),
        count(lit(1)).as("r_union"),
        count(when(col("ia") && col("ib").isNull, 1)).as("r_anb"),
        count(when(col("ib") && col("ia").isNull, 1)).as("r_bna"))
    census.crossJoin(broadcast(fo)).crossJoin(broadcast(theta))
      .selectExpr("theta",
        "r_a + r_b = r_union + r_inter AS incl_excl_ok",
        "r_a = r_inter + r_anb AND r_b = r_inter + r_bna AS decomp_ok",
        """stack(6,
             'a',       ex_a,     r_a,
             'b',       ex_b,     r_b,
             'union',   ex_union, r_union,
             'inter',   ex_inter, r_inter,
             'a_not_b', ex_anb,   r_anb,
             'b_not_a', ex_bna,   r_bna) AS (op, exact_n, retained)""")
      .selectExpr("op", "exact_n", "retained", "theta",
        s"retained * CAST($m AS BIGINT) DIV theta AS est",
        "incl_excl_ok", "decomp_ok")
      .selectExpr("op", "exact_n", "retained", "theta", "est",
        "CASE WHEN exact_n = 0 THEN CAST(NULL AS BIGINT) " +
          "ELSE 1000000 * abs(est - exact_n) DIV exact_n END AS abs_err_micro",
        s"coalesce(1000000 * abs(est - exact_n) DIV exact_n " +
          s"<= $ThetaEstOkMicro, est = 0) AS est_ok",
        "incl_excl_ok", "decomp_ok")
      .orderBy("op")
  }

  /** q202's dials: sample capacity (per-quantile rank-error sd is
    * ≈ √(q(1−q)/K)·N ≈ 3% of N at K = 256) and the graded bound — a
    * 10%-of-N ceiling, ~3σ: generous enough to be a stable fact per
    * corpus, tight enough that a broken selection fails it. */
  val QSampleK = 256
  val QSampleQuantiles: Seq[Int] = Seq(10, 25, 50, 75, 90)

  /** q202 — MERGEABLE QUANTILE ESTIMATION: quantiles from a bottom-K
    * uniform sample — the shard-mergeable path to percentiles that q156/
    * q169 (exact, two-pass, corpus-touching) cannot give. The sample is
    * the K smallest md5 draws WITH the value as payload (q164's KMV
    * machinery through the bounded-state [[TopKByCount]]), so per-shard
    * samples TRUNCATE-MERGE to the corpus sample — quantile summaries
    * combine without re-reading a single shard, the property that makes
    * fleet-wide ANALYZE cheap at 100 TB. Each quantile estimate is the
    * ⌈q·k⌉-th smallest sampled value; the graded artifact carries the
    * estimate, the exact corpus rank interval it lands in (the sketch
    * proposes, the exact branch audits — the q21/q53 discipline), the
    * rank error, and the `bound_ok` law `err ≤ N/10`.
    *
    * Scale shape: one linear pass hashes values (selection state ≤ K
    * per partition, tree-merged); the payload join broadcasts ≤ K ids;
    * the rank audit is ONE map-combinable pass over the corpus against
    * a broadcast 5-row estimate panel (the q158/q174 probe-panel
    * shape). The corpus is never sorted — the oracle can afford that
    * sort, the engine never pays it. */
  def quantileSample(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val v = events.filter(col("value").isNotNull)
      .selectExpr("event_id", "CAST(round(value * 100) AS BIGINT) AS cents")
      .withColumn("h", PipelineOps.md5Prefix48(col("event_id")))
      .localCheckpoint() // consumed by selection, payload join, census, audit
    val sel = selectTopKIds(
        v.selectExpr("0 AS g", "event_id AS id", "-h AS key"), QSampleK)
      .withColumnRenamed("id", "event_id")
    val sample = v.join(broadcast(sel), Seq("event_id"))
      .localCheckpoint() // ≤ K rows
    val census = v.agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(sample.agg(count(lit(1)).as("k"))))
    val ranked = sample
      .withColumn("r", row_number().over(org.apache.spark.sql.expressions
        .Window.orderBy("cents", "event_id")).cast("long"))
    val qs = QSampleQuantiles.map(_.toLong).toDF("q_pct")
    val ests = broadcast(qs).crossJoin(broadcast(census))
      .selectExpr("q_pct", "n", "k", "(q_pct * k + 99) DIV 100 AS sel_r")
      .join(ranked.selectExpr("r AS sel_r", "cents AS est_cents"), Seq("sel_r"))
      .selectExpr("q_pct", "n", "k", "est_cents",
        "(q_pct * n + 99) DIV 100 AS target_rank")
    val audit = v.crossJoin(broadcast(ests))
      .groupBy("q_pct", "n", "k", "est_cents", "target_rank")
      .agg(sum(when(col("cents") < col("est_cents"), 1L).otherwise(0L))
          .as("below"),
        sum(when(col("cents") <= col("est_cents"), 1L).otherwise(0L))
          .as("at_or_below"))
    audit.selectExpr("q_pct", "k", "n", "est_cents", "target_rank",
        "below + 1 AS lo_rank", "at_or_below AS hi_rank",
        """CASE WHEN below + 1 <= target_rank AND target_rank <= at_or_below
                THEN CAST(0 AS BIGINT)
                ELSE least(abs(target_rank - below - 1),
                           abs(target_rank - at_or_below)) END AS rank_err""")
      .selectExpr("q_pct", "k", "n", "est_cents", "target_rank", "lo_rank",
        "hi_rank", "rank_err", "rank_err * 10 <= n AS bound_ok")
      .orderBy("q_pct")
  }

  /** q64's oracle is exact (the two-pass output is exact; the sketch only
    * proposes candidates, and its recall guarantee is what the hash match
    * proves). q65's exact columns are recomputed by DuckDB from the same
    * md5 fingerprint + bucket recipes as q34/q57; `kmv_ok` is the q21/q53
    * computed-vs-oracle boolean. q134 is fully exact: DuckDB rebuilds the
    * registers from the same md5 recipe (`//`/`DIV` and `bin` agree on
    * nonnegative operands) and the estimate expression is literal-identical
    * IEEE arithmetic. */
  // q169's oracle text, shared verbatim with the q174 composition
  private lazy val q169Sql: String =
      s"""WITH c0 AS (SELECT CASE WHEN value IS NULL THEN CAST(NULL AS BIGINT)
                                  ELSE CAST(ROUND(value * 100) AS BIGINT) END AS c
                      FROM events),
              s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                           CAST(COUNT(CASE WHEN c IS NULL THEN 1 END) AS BIGINT) AS n_null,
                           MIN(c) AS min_cents, MAX(c) AS max_cents,
                           CAST(COUNT(DISTINCT c) AS BIGINT) AS ndv
                    FROM c0),
              v AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS cn
                    FROM c0 WHERE c IS NOT NULL GROUP BY c),
              cc AS (SELECT c, CAST(SUM(cn) OVER (ORDER BY c) AS BIGINT) AS cum FROM v),
              t AS (SELECT CAST(r.range AS BIGINT) AS bucket,
                           (r.range * (n_rows - n_null) + $EquiDepthBuckets - 1)
                             // $EquiDepthBuckets AS target_rank
                    FROM range(1, ${EquiDepthBuckets + 1}) r CROSS JOIN s),
              bd AS (SELECT bucket, target_rank, MIN(c) AS boundary_cents
                     FROM t JOIN cc ON cum >= target_rank GROUP BY 1, 2),
              rk AS (SELECT bd.bucket AS bucket, bd.target_rank AS target_rank,
                            bd.boundary_cents AS boundary_cents,
                            cc.cum AS rank_at_boundary
                     FROM bd JOIN cc ON cc.c = bd.boundary_cents),
              fin AS (SELECT rk.*,
                             rk.rank_at_boundary - COALESCE(p.rank_at_boundary,
                               CAST(0 AS BIGINT)) AS n_in_bucket
                      FROM rk LEFT JOIN rk p ON p.bucket = rk.bucket - 1)
         SELECT bucket, target_rank, boundary_cents, n_in_bucket,
                n_rows, n_null, ndv, min_cents, max_cents,
                CASE WHEN bucket = $EquiDepthBuckets
                     THEN boundary_cents = max_cents ELSE true END AS top_is_max
         FROM fin CROSS JOIN s ORDER BY bucket"""

  def oracles: Map[String, String] = Map(
    // q202: identical md5 bottom-K sample with payload, the same
    // ceil-rank selection over the sorted sample, and the exact rank
    // interval from one corpus pass — the oracle affords the sort
    "q202_quantile_sample" -> {
      val qvals = QSampleQuantiles.map(q => s"($q)").mkString(", ")
      s"""WITH v AS (SELECT event_id, CAST(ROUND(value * 100) AS BIGINT) AS cents,
                            ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12))::BIGINT AS h
                     FROM events WHERE value IS NOT NULL),
          samp AS (SELECT event_id, cents FROM (
                     SELECT event_id, cents,
                            row_number() OVER (ORDER BY h, CAST(event_id AS VARCHAR)) AS rn
                     FROM v) WHERE rn <= $QSampleK),
          cen AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n,
                         (SELECT CAST(COUNT(*) AS BIGINT) FROM samp) AS k),
          rk AS (SELECT cents, CAST(row_number() OVER (ORDER BY cents, event_id)
                                    AS BIGINT) AS r FROM samp),
          est AS (SELECT CAST(q AS BIGINT) AS q_pct, n, k,
                         (SELECT cents FROM rk
                          WHERE r = (q * k + 99) // 100) AS est_cents,
                         (q * n + 99) // 100 AS target_rank
                  FROM (VALUES $qvals) t(q) CROSS JOIN cen),
          aud AS (SELECT q_pct, n, k, est_cents, target_rank,
                         (SELECT CAST(COUNT(*) AS BIGINT) FROM v
                          WHERE cents < est_cents) AS below,
                         (SELECT CAST(COUNT(*) AS BIGINT) FROM v
                          WHERE cents <= est_cents) AS at_or_below
                  FROM est)
         SELECT q_pct, k, n, est_cents,
                CAST(target_rank AS BIGINT) AS target_rank,
                below + 1 AS lo_rank, at_or_below AS hi_rank,
                CAST(CASE WHEN below + 1 <= target_rank
                           AND target_rank <= at_or_below THEN 0
                          ELSE least(abs(target_rank - below - 1),
                                     abs(target_rank - at_or_below)) END
                     AS BIGINT) AS rank_err,
                CASE WHEN below + 1 <= target_rank
                      AND target_rank <= at_or_below THEN 0
                     ELSE least(abs(target_rank - below - 1),
                                abs(target_rank - at_or_below)) END * 10 <= n
                  AS bound_ok
         FROM aud ORDER BY q_pct"""
    },
    // q194: identical md5-48 draws, identical K-th-smallest θ and
    // common-θ retained sets (DuckDB can afford the window rank the
    // engine's bounded-state selection avoids); same exact-integer
    // estimate and floor'd error — all operands nonnegative, so // and
    // DIV agree
    "q194_theta_sets" -> {
      val m = PipelineOps.TwoPow48
      s"""WITH base AS (
            SELECT ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 12))::BIGINT AS h,
                   (o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01') AS in_a,
                   (o_totalprice > 150000) AS in_b
            FROM orders),
          cen AS (SELECT CAST(COUNT(CASE WHEN in_a THEN 1 END) AS BIGINT) AS ex_a,
                         CAST(COUNT(CASE WHEN in_b THEN 1 END) AS BIGINT) AS ex_b,
                         CAST(COUNT(CASE WHEN in_a AND in_b THEN 1 END) AS BIGINT) AS ex_inter,
                         CAST(COUNT(CASE WHEN in_a OR in_b THEN 1 END) AS BIGINT) AS ex_union,
                         CAST(COUNT(CASE WHEN in_a AND NOT in_b THEN 1 END) AS BIGINT) AS ex_anb,
                         CAST(COUNT(CASE WHEN in_b AND NOT in_a THEN 1 END) AS BIGINT) AS ex_bna
                  FROM base),
          ska AS (SELECT h FROM (
                    SELECT h, row_number() OVER (ORDER BY h) AS rn
                    FROM (SELECT DISTINCT h FROM base WHERE in_a)) WHERE rn <= $ThetaK),
          skb AS (SELECT h FROM (
                    SELECT h, row_number() OVER (ORDER BY h) AS rn
                    FROM (SELECT DISTINCT h FROM base WHERE in_b)) WHERE rn <= $ThetaK),
          th AS (SELECT least(
                   (SELECT CASE WHEN COUNT(*) < $ThetaK THEN $m ELSE MAX(h) END FROM ska),
                   (SELECT CASE WHEN COUNT(*) < $ThetaK THEN $m ELSE MAX(h) END FROM skb))
                   AS theta),
          fo AS (SELECT CAST(COUNT(a.h) AS BIGINT) AS r_a,
                        CAST(COUNT(b.h) AS BIGINT) AS r_b,
                        CAST(COUNT(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL THEN 1 END) AS BIGINT) AS r_inter,
                        CAST(COUNT(*) AS BIGINT) AS r_union,
                        CAST(COUNT(CASE WHEN b.h IS NULL THEN 1 END) AS BIGINT) AS r_anb,
                        CAST(COUNT(CASE WHEN a.h IS NULL THEN 1 END) AS BIGINT) AS r_bna
                 FROM (SELECT h FROM ska WHERE h < (SELECT theta FROM th)) a
                 FULL OUTER JOIN (SELECT h FROM skb WHERE h < (SELECT theta FROM th)) b
                 ON a.h = b.h),
          rows6 AS (
            SELECT 'a' AS op, ex_a AS exact_n, r_a AS retained FROM cen, fo
            UNION ALL SELECT 'b', ex_b, r_b FROM cen, fo
            UNION ALL SELECT 'union', ex_union, r_union FROM cen, fo
            UNION ALL SELECT 'inter', ex_inter, r_inter FROM cen, fo
            UNION ALL SELECT 'a_not_b', ex_anb, r_anb FROM cen, fo
            UNION ALL SELECT 'b_not_a', ex_bna, r_bna FROM cen, fo)
         SELECT op, exact_n, retained,
                CAST((SELECT theta FROM th) AS BIGINT) AS theta,
                CAST(retained * CAST($m AS BIGINT) // (SELECT theta FROM th) AS BIGINT) AS est,
                CASE WHEN exact_n = 0 THEN CAST(NULL AS BIGINT)
                     ELSE CAST(1000000 * abs(retained * CAST($m AS BIGINT)
                            // (SELECT theta FROM th) - exact_n)
                            // exact_n AS BIGINT) END AS abs_err_micro,
                COALESCE(1000000 * abs(retained * CAST($m AS BIGINT)
                           // (SELECT theta FROM th) - exact_n)
                           // exact_n <= $ThetaEstOkMicro,
                         retained * CAST($m AS BIGINT)
                           // (SELECT theta FROM th) = 0) AS est_ok,
                (SELECT r_a + r_b = r_union + r_inter FROM fo) AS incl_excl_ok,
                (SELECT r_a = r_inter + r_anb AND r_b = r_inter + r_bna FROM fo)
                  AS decomp_ok
         FROM rows6 ORDER BY op"""
    },
    // q169: the boundaries straight from the definition — a full
    // cumulative over distinct cents (the oracle can afford the sort the
    // engine's two-pass refinement avoids), ranks read off the same
    // cumulative, census identical
    "q169_equidepth_stats" -> q169Sql,
    // q174: composes the q169 oracle verbatim; identical interval
    // algebra on half-open (lo, hi] ranges, per-bucket floored micro
    // estimate, +1-smoothed q-error — one literal IEEE shape
    "q174_selectivity_qerror" -> {
      val probeVals = SelectivityProbes.map { case (l, lo, hi) =>
        s"('$l', CAST($lo AS BIGINT), CAST($hi AS BIGINT))" }.mkString(", ")
      s"""WITH eq AS ($q169Sql),
              cv AS (SELECT CAST(ROUND(value * 100) AS BIGINT) AS c
                     FROM events WHERE value IS NOT NULL),
              iv AS (SELECT a.bucket AS bucket,
                            COALESCE(p.boundary_cents, a.min_cents - 1) AS lo_excl,
                            a.boundary_cents AS hi_incl, a.n_in_bucket AS n_in_bucket
                     FROM eq a LEFT JOIN eq p ON p.bucket = a.bucket - 1),
              pr(pred, lo, hi) AS (VALUES $probeVals),
              est AS (SELECT pred, lo, hi,
                             CAST(SUM(CASE WHEN hi_incl - lo_excl = 0
                               THEN CAST(0 AS BIGINT)
                               ELSE CAST(CAST(n_in_bucket AS HUGEINT)
                                 * greatest(CAST(0 AS BIGINT),
                                            least(hi, hi_incl) - greatest(lo - 1, lo_excl))
                                 * 1000000 // (hi_incl - lo_excl) AS BIGINT)
                               END) AS BIGINT) AS est_rows_micro
                      FROM pr CROSS JOIN iv GROUP BY pred, lo, hi),
              act AS (SELECT pred, CAST(COUNT(c) AS BIGINT) AS actual_rows
                      FROM pr LEFT JOIN cv ON c >= lo AND c <= hi
                      GROUP BY pred)
         SELECT pred, lo AS lo_cents, hi AS hi_cents,
                est_rows_micro, actual_rows,
                greatest((CAST(est_rows_micro AS DOUBLE) / 1e6 + 1e0)
                           / (CAST(actual_rows AS DOUBLE) + 1e0),
                         (CAST(actual_rows AS DOUBLE) + 1e0)
                           / (CAST(est_rows_micro AS DOUBLE) / 1e6 + 1e0)) AS q_error
         FROM est JOIN act USING (pred)
         ORDER BY pred"""
    },
    // q166: same word layout and OR merge; DuckDB's checked << needs the
    // MIN_LONG literal for bit 63 (the q161 note), bit_count is two's-
    // complement popcount on both engines
    "q166_bitmap_cube" ->
      s"""WITH k AS (SELECT epoch_us(ts) // ${graft.ops.RelationalOps.DayUs} AS day,
                            user_id AS uid FROM events),
              wt AS (SELECT day, CAST(uid // 64 AS BIGINT) AS w,
                            CAST(uid % 64 AS INT) AS b FROM k),
              words AS (SELECT day, w,
                               bit_or(CASE WHEN b = 63
                                           THEN CAST(-9223372036854775808 AS BIGINT)
                                           ELSE CAST(1 AS BIGINT) << b END) AS word
                        FROM wt GROUP BY day, w),
              mrg AS (SELECT CAST($HllCubeTotalDay AS BIGINT) AS day, w,
                             bit_or(word) AS word
                      FROM words GROUP BY w),
              allw AS (SELECT * FROM words UNION ALL SELECT * FROM mrg),
              c AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_words,
                           CAST(SUM(CAST(bit_count(word) AS BIGINT)) AS BIGINT)
                             AS bitmap_distinct
                    FROM allw GROUP BY day),
              e AS (SELECT day, CAST(COUNT(DISTINCT uid) AS BIGINT) AS exact_distinct
                    FROM k GROUP BY day
                    UNION ALL
                    SELECT CAST($HllCubeTotalDay AS BIGINT),
                           CAST(COUNT(DISTINCT uid) AS BIGINT) FROM k)
         SELECT day, n_words, bitmap_distinct, exact_distinct,
                bitmap_distinct = exact_distinct AS exact_match
         FROM c JOIN e USING (day) ORDER BY day""",
    // q178: same block/off split (negative-safe floor spelling), same
    // word layout and bit-63 literal as q166, same ledger arithmetic;
    // every SUM cast back to BIGINT before shipping
    "q178_roaring_cube" -> {
      val w = RoaringBlockWidth
      val bb = w / 8
      s"""WITH c AS (SELECT epoch_us(ts) // ${graft.ops.RelationalOps.DayUs} AS day,
                            CAST(ROUND(value * 100) AS BIGINT) AS cents
                     FROM events WHERE value IS NOT NULL),
              t AS (SELECT DISTINCT day,
                           (cents - (((cents % $w) + $w) % $w)) // $w AS blk,
                           CAST(((cents % $w) + $w) % $w AS INT) AS off
                    FROM c),
              words AS (SELECT day, blk, off // 64 AS wi,
                               bit_or(CASE WHEN off % 64 = 63
                                           THEN CAST(-9223372036854775808 AS BIGINT)
                                           ELSE CAST(1 AS BIGINT) << (off % 64) END) AS word
                        FROM t GROUP BY 1, 2, 3),
              pops AS (SELECT day, blk,
                              CAST(SUM(CAST(bit_count(word) AS BIGINT)) AS BIGINT) AS pop
                       FROM words GROUP BY 1, 2),
              j AS (SELECT day, blk, CAST(COUNT(*) AS BIGINT) AS n_exact
                    FROM t GROUP BY 1, 2),
              jp AS (SELECT * FROM j JOIN pops USING (day, blk)),
              pb AS (SELECT day, blk, n_exact,
                            CASE WHEN n_exact <= $RoaringArrayMax
                                 THEN 'array' ELSE 'bitmap' END AS kind,
                            pop = n_exact AS popcount_ok,
                            2 * n_exact AS array_bytes,
                            CAST($bb AS BIGINT) AS bitmap_bytes,
                            least(2 * n_exact, CAST($bb AS BIGINT)) AS chosen_bytes
                     FROM jp),
              pd AS (SELECT day, CAST(-1 AS BIGINT) AS blk,
                            CAST(SUM(n_exact) AS BIGINT) AS n_exact,
                            'day' AS kind,
                            SUM(pop) = SUM(n_exact) AS popcount_ok,
                            CAST(2 * SUM(n_exact) AS BIGINT) AS array_bytes,
                            CAST(COUNT(*) * $bb AS BIGINT) AS bitmap_bytes,
                            CAST(SUM(least(2 * n_exact, CAST($bb AS BIGINT))) AS BIGINT)
                              AS chosen_bytes
                     FROM jp GROUP BY day)
         SELECT * FROM pb UNION ALL SELECT * FROM pd ORDER BY day, blk, kind"""
    },
    // q181: same floor split, the run head as NOT EXISTS (predecessor
    // absent), identical three-way ledger arithmetic and tie order
    "q181_roaring_runs" -> {
      val w = RoaringBlockWidth
      val bb = w / 8
      s"""WITH raw AS (SELECT 'cents' AS src, epoch_us(ts) // ${graft.ops.RelationalOps.DayUs} AS day,
                              CAST(ROUND(value * 100) AS BIGINT) AS v
                       FROM events WHERE value IS NOT NULL
                       UNION ALL
                       SELECT 'event_id', epoch_us(ts) // ${graft.ops.RelationalOps.DayUs},
                              CAST(event_id AS BIGINT)
                       FROM events WHERE event_id IS NOT NULL),
              t AS (SELECT DISTINCT src, day,
                           (v - (((v % $w) + $w) % $w)) // $w AS blk,
                           CAST(((v % $w) + $w) % $w AS INT) AS off
                    FROM raw),
              hd AS (SELECT src, day, blk, CAST(COUNT(*) AS BIGINT) AS n_runs
                     FROM t a
                     WHERE NOT EXISTS (SELECT 1 FROM t p
                                       WHERE p.src = a.src AND p.day = a.day
                                         AND p.blk = a.blk AND p.off = a.off - 1)
                     GROUP BY 1, 2, 3),
              st AS (SELECT src, day, blk, CAST(COUNT(*) AS BIGINT) AS n_exact
                     FROM t GROUP BY 1, 2, 3),
              j AS (SELECT * FROM st JOIN hd USING (src, day, blk)),
              pb AS (SELECT src, day, blk, n_exact, n_runs,
                            CASE WHEN 2 * n_exact <= 2 + 4 * n_runs
                                      AND 2 * n_exact <= $bb THEN 'array'
                                 WHEN 2 + 4 * n_runs <= $bb THEN 'run'
                                 ELSE 'bitmap' END AS kind,
                            2 * n_exact AS array_bytes,
                            CAST($bb AS BIGINT) AS bitmap_bytes,
                            2 + 4 * n_runs AS run_bytes,
                            least(2 * n_exact, CAST($bb AS BIGINT), 2 + 4 * n_runs)
                              AS chosen_bytes,
                            least(2 * n_exact, CAST($bb AS BIGINT)) AS two_way_bytes,
                            least(2 * n_exact, CAST($bb AS BIGINT), 2 + 4 * n_runs)
                              < least(2 * n_exact, CAST($bb AS BIGINT)) AS run_wins
                     FROM j),
              sm AS (SELECT src, CAST(-1 AS BIGINT) AS day, CAST(-1 AS BIGINT) AS blk,
                            CAST(SUM(n_exact) AS BIGINT) AS n_exact,
                            CAST(SUM(n_runs) AS BIGINT) AS n_runs,
                            'total' AS kind,
                            CAST(SUM(array_bytes) AS BIGINT) AS array_bytes,
                            CAST(SUM(bitmap_bytes) AS BIGINT) AS bitmap_bytes,
                            CAST(SUM(run_bytes) AS BIGINT) AS run_bytes,
                            CAST(SUM(chosen_bytes) AS BIGINT) AS chosen_bytes,
                            CAST(SUM(two_way_bytes) AS BIGINT) AS two_way_bytes,
                            CAST(SUM(chosen_bytes) AS BIGINT)
                              < CAST(SUM(two_way_bytes) AS BIGINT) AS run_wins
                     FROM pb GROUP BY src)
         SELECT * FROM pb UNION ALL SELECT * FROM sm ORDER BY src, day, blk"""
    },
    // q186: identical count-collapse exact branch (Σ c_R·c_S in
    // HUGEINT), the same System-R formula, rankings, and +1-smoothed
    // q-error IEEE shape
    "q186_join_order" ->
      """WITH cc AS (SELECT c_custkey AS k, CAST(COUNT(*) AS BIGINT) AS c
                     FROM customer WHERE c_custkey IS NOT NULL GROUP BY 1),
              oc AS (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS c
                     FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
              ok AS (SELECT o_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS c
                     FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1),
              lk AS (SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS c
                     FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1),
              rows_(ord) AS (VALUES ('CO_first'), ('OL_first')),
              e AS (SELECT 'CO_first' AS ord,
                           CAST(SUM(CAST(a.c AS HUGEINT) * b.c) AS BIGINT) AS exact_inter
                    FROM cc a JOIN oc b ON a.k = b.k
                    UNION ALL
                    SELECT 'OL_first',
                           CAST(SUM(CAST(a.c AS HUGEINT) * b.c) AS BIGINT)
                    FROM ok a JOIN lk b ON a.k = b.k),
              s AS (SELECT 'CO_first' AS ord,
                           (SELECT CAST(SUM(c) AS BIGINT) FROM cc) AS n_left,
                           (SELECT CAST(SUM(c) AS BIGINT) FROM oc) AS n_right,
                           (SELECT CAST(COUNT(*) AS BIGINT) FROM cc) AS ndv_left,
                           (SELECT CAST(COUNT(*) AS BIGINT) FROM oc) AS ndv_right
                    UNION ALL
                    SELECT 'OL_first',
                           (SELECT CAST(SUM(c) AS BIGINT) FROM ok),
                           (SELECT CAST(SUM(c) AS BIGINT) FROM lk),
                           (SELECT CAST(COUNT(*) AS BIGINT) FROM ok),
                           (SELECT CAST(COUNT(*) AS BIGINT) FROM lk)),
              j AS (SELECT ord, n_left, n_right, ndv_left, ndv_right, exact_inter,
                           CAST(CAST(n_left AS HUGEINT) * n_right
                                // greatest(ndv_left, ndv_right) AS BIGINT) AS est_inter
                    FROM s JOIN e USING (ord)),
              m AS (SELECT MIN(est_inter) AS est_min,
                           MIN(exact_inter) AS exact_min FROM j)
         SELECT ord, n_left, n_right, ndv_left, ndv_right,
                exact_inter, est_inter,
                greatest((CAST(est_inter AS DOUBLE) + 1e0)
                           / (CAST(exact_inter AS DOUBLE) + 1e0),
                         (CAST(exact_inter AS DOUBLE) + 1e0)
                           / (CAST(est_inter AS DOUBLE) + 1e0)) AS q_error,
                est_inter = est_min AS chosen,
                exact_inter = exact_min AS optimal,
                (est_inter = est_min) = (exact_inter = exact_min) AS agree
         FROM j CROSS JOIN m ORDER BY ord""",
    // q163: the q154 recipe at (day, type) grain with every rollup level
    // MAX-merged from the same fine store, exact counts off the distinct
    // triple table — identical estimate arithmetic at all four levels
    "q163_hll_rollup" ->
      s"""WITH k AS (SELECT epoch_us(ts) // ${graft.ops.RelationalOps.DayUs} AS day,
                            COALESCE(event_type, '${graft.ops.GraphOps.NullSourceSentinel}') AS et,
                            CAST(user_id AS VARCHAR) AS uk FROM events),
              h AS (SELECT day, et, ('0x' || substr(md5(uk), 1, 15))::BIGINT AS h FROM k),
              r AS (SELECT day, et, h // $HllRest AS j,
                           CASE WHEN h % $HllRest = 0 THEN $HllRhoMax
                                ELSE $HllRhoMax - length(bin(h % $HllRest)) END AS rho
                    FROM h),
              fine AS (SELECT day, et, j, MAX(rho) AS reg FROM r GROUP BY 1, 2, 3),
              regs AS (SELECT 'day_type' AS level, day, et, j, reg FROM fine
                       UNION ALL
                       SELECT 'type', CAST($HllCubeTotalDay AS BIGINT), et, j, MAX(reg)
                       FROM fine GROUP BY et, j
                       UNION ALL
                       SELECT 'day', day, '$HllRollupAllTypes', j, MAX(reg)
                       FROM fine GROUP BY day, j
                       UNION ALL
                       SELECT 'total', CAST($HllCubeTotalDay AS BIGINT),
                              '$HllRollupAllTypes', j, MAX(reg)
                       FROM fine GROUP BY j),
              p AS (SELECT level, day, et, COUNT(*) AS n_registers_hit,
                           CAST(SUM(CAST(1 AS BIGINT) << ($HllRhoMax - reg)) AS BIGINT) AS s_hit
                    FROM regs GROUP BY 1, 2, 3),
              t AS (SELECT DISTINCT day, et, uk FROM k),
              e AS (SELECT 'day_type' AS level, day, et,
                           CAST(COUNT(*) AS BIGINT) AS exact_distinct
                    FROM t GROUP BY day, et
                    UNION ALL
                    SELECT 'type', CAST($HllCubeTotalDay AS BIGINT), et,
                           CAST(COUNT(DISTINCT uk) AS BIGINT)
                    FROM t GROUP BY et
                    UNION ALL
                    SELECT 'day', day, '$HllRollupAllTypes',
                           CAST(COUNT(DISTINCT uk) AS BIGINT)
                    FROM t GROUP BY day
                    UNION ALL
                    SELECT 'total', CAST($HllCubeTotalDay AS BIGINT),
                           '$HllRollupAllTypes', CAST(COUNT(DISTINCT uk) AS BIGINT)
                    FROM t),
              c AS (SELECT p.level AS level, p.day AS day, p.et AS et,
                           e.exact_distinct AS exact_distinct,
                           p.n_registers_hit AS n_registers_hit,
                           CAST($HllRegisters - p.n_registers_hit AS BIGINT) AS n_zero_registers,
                           s_hit + ($HllRegisters - n_registers_hit) * ${1L << 53} AS harmonic_denom_scaled
                    FROM p JOIN e ON p.level = e.level AND p.day = e.day AND p.et = e.et)
         SELECT level, day, et, exact_distinct, n_registers_hit, n_zero_registers,
                harmonic_denom_scaled, raw_est,
                (raw_est - CAST(exact_distinct AS DOUBLE)) / CAST(exact_distinct AS DOUBLE) AS rel_err,
                abs(CASE WHEN n_zero_registers > 0 AND raw_est <= 2.5 * $HllRegisters.0
                         THEN $HllRegisters.0 * ln($HllRegisters.0 / CAST(n_zero_registers AS DOUBLE))
                         ELSE raw_est END
                    - CAST(exact_distinct AS DOUBLE))
                  <= greatest(0.25 * CAST(exact_distinct AS DOUBLE), 10.0) AS est_ok
         FROM (SELECT c.*,
                      $HllEstNum / CAST(harmonic_denom_scaled AS DOUBLE) AS raw_est
               FROM c) ORDER BY level, day, et""",
    // q161: the filter rebuilt from the definition — same salts, same
    // word layout, dense 64-list via range ⟕ words, same bit test.
    // DuckDB's << is overflow-CHECKED, so bit 63 (the sign bit Spark's
    // shiftleft wraps into silently) needs the explicit MIN_LONG literal
    "q161_bloom_prune" ->
      s"""WITH k0 AS (SELECT CAST(user_id AS VARCHAR) AS uk,
                             CAST(ROUND(value * 100) AS BIGINT) AS cents
                      FROM events WHERE value IS NOT NULL),
              keys AS (SELECT uk FROM k0 GROUP BY uk
                       HAVING SUM(cents) > $BloomSpendCents),
              hs AS (SELECT unnest([${(0 until BloomHashes).mkString(", ")}]) AS r),
              pos AS (SELECT ('0x' || substr(md5('bf' || r || ':' || uk), 1, 15))::BIGINT
                               % $BloomBits AS pos
                      FROM keys CROSS JOIN hs),
              wt AS (SELECT CAST(pos // 64 AS INT) AS w, CAST(pos % 64 AS INT) AS b
                     FROM pos),
              words AS (SELECT w, bit_or(CASE WHEN b = 63
                                              THEN CAST(-9223372036854775808 AS BIGINT)
                                              ELSE CAST(1 AS BIGINT) << b END) AS word
                        FROM wt GROUP BY w),
              dense AS (SELECT list(COALESCE(word, 0) ORDER BY t.w) AS words
                        FROM range($BloomWords) t(w) LEFT JOIN words ON words.w = t.w),
              probe AS (SELECT epoch_us(ts) // ${graft.ops.RelationalOps.DayUs} AS day,
                               CAST(user_id AS VARCHAR) AS uk
                        FROM events),
              pp AS (SELECT day, uk,
                            ${(0 until BloomHashes).map { r =>
                              val p = s"(('0x' || substr(md5('bf$r:' || uk), 1, 15))::BIGINT % $BloomBits)"
                              val mask = s"CASE WHEN $p % 64 = 63 THEN CAST(-9223372036854775808 AS BIGINT) " +
                                s"ELSE CAST(1 AS BIGINT) << CAST($p % 64 AS INT) END"
                              s"(words[CAST($p // 64 AS INT) + 1] & ($mask)) <> 0"
                            }.mkString("(", ") AND (", ")")} AS bloom_pass
                     FROM probe CROSS JOIN dense),
              truth AS (SELECT day, bloom_pass,
                               keys.uk IS NOT NULL AS is_member
                        FROM pp LEFT JOIN keys USING (uk)),
              c AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_rows,
                           CAST(COUNT(CASE WHEN bloom_pass THEN 1 END) AS BIGINT) AS n_pass,
                           CAST(COUNT(CASE WHEN is_member THEN 1 END) AS BIGINT) AS n_member,
                           CAST(COUNT(CASE WHEN bloom_pass AND NOT is_member THEN 1 END) AS BIGINT) AS n_false_pos,
                           bool_and(NOT is_member OR bloom_pass) AS no_false_neg
                    FROM truth GROUP BY day)
         SELECT day, n_rows, n_pass, n_member, n_false_pos, no_false_neg,
                CASE WHEN n_rows = n_member THEN CAST(NULL AS DOUBLE)
                     ELSE CAST(n_false_pos AS DOUBLE) / CAST(n_rows - n_member AS DOUBLE)
                END AS fp_rate,
                CAST(n_rows - n_pass AS DOUBLE) / CAST(n_rows AS DOUBLE) AS pruned_frac
         FROM c ORDER BY day""",
    // q172: same grid, same squares; exact branch = Σc² in HUGEINT,
    // estimate = min over rows of the register self-inner-product
    "q172_join_cardinality" ->
      s"""WITH counts AS (SELECT CAST(user_id AS VARCHAR) AS uk,
                                 CAST(COUNT(*) AS BIGINT) AS cnt
                          FROM events GROUP BY 1),
              rows_ AS (SELECT unnest([${(0 until CmsRows).mkString(", ")}]) AS r),
              cells AS (SELECT r,
                               ('0x' || substr(md5('cm' || r || ':' || uk), 1, 15))::BIGINT
                                 % $CmsWidth AS j,
                               cnt
                        FROM counts CROSS JOIN rows_),
              reg AS (SELECT r, j, CAST(SUM(cnt) AS BIGINT) AS reg
                      FROM cells GROUP BY r, j),
              est AS (SELECT MIN(est_r) AS est_pairs
                      FROM (SELECT r, SUM(CAST(reg AS HUGEINT) * reg) AS est_r
                            FROM reg GROUP BY r)),
              ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
                            CAST(SUM(cnt) AS BIGINT) AS n_rows,
                            SUM(CAST(cnt AS HUGEINT) * cnt) AS exact_pairs
                     FROM counts)
         SELECT n_rows, n_keys,
                CAST(exact_pairs AS BIGINT) AS exact_pairs,
                CAST(est_pairs AS BIGINT) AS est_pairs,
                est_pairs >= exact_pairs AS over_ok,
                CAST(est_pairs AS DOUBLE) / CAST(exact_pairs AS DOUBLE) AS blowup
         FROM ex CROSS JOIN est""",
    // q158: the grid rebuilt from the definition with the same md5 row
    // salts; DuckDB's || renders integers identically to Spark's concat
    // literals, so the hashed strings agree byte-for-byte
    "q158_countmin_census" ->
      s"""WITH counts AS (SELECT CAST(user_id AS VARCHAR) AS uk,
                                 CAST(COUNT(*) AS BIGINT) AS cnt
                          FROM events GROUP BY 1),
              rows_ AS (SELECT unnest([${(0 until CmsRows).mkString(", ")}]) AS r),
              cells AS (SELECT r,
                               ('0x' || substr(md5('cm' || r || ':' || uk), 1, 15))::BIGINT
                                 % $CmsWidth AS j,
                               cnt
                        FROM counts CROSS JOIN rows_),
              reg AS (SELECT r, j, CAST(SUM(cnt) AS BIGINT) AS reg
                      FROM cells GROUP BY r, j),
              tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM counts),
              probes AS (SELECT uk, cnt AS exact_count FROM counts
                         WHERE ('0x' || substr(md5(uk), 1, 15))::BIGINT % $CmsProbeMod = 0
                         UNION ALL
                         SELECT 'ghost:' || g, CAST(0 AS BIGINT)
                         FROM (SELECT unnest([1, 2, 3]) AS g)),
              pc AS (SELECT uk, exact_count, r,
                            ('0x' || substr(md5('cm' || r || ':' || uk), 1, 15))::BIGINT
                              % $CmsWidth AS j
                     FROM probes CROSS JOIN rows_),
              est AS (SELECT uk, exact_count,
                             CAST(MIN(COALESCE(reg, 0)) AS BIGINT) AS est_count
                      FROM pc LEFT JOIN reg USING (r, j)
                      GROUP BY uk, exact_count)
         SELECT uk, exact_count, est_count,
                est_count - exact_count AS err,
                est_count >= exact_count AS over_ok,
                est_count - exact_count <= ($CmsBoundFactor * n_total) // $CmsWidth AS within_bound
         FROM est CROSS JOIN tot
         ORDER BY uk""",
    // q157: the cube rebuilt from the definition — per-day top-K via a
    // row_number window (the oracle CAN afford the rank the engine
    // avoids), thresholds from the K-th stored count, the same range
    // merge/slack/exact walk, final rank via the same self-join order
    "q157_topk_range" ->
      s"""WITH k AS (SELECT epoch_us(ts) // ${graft.ops.RelationalOps.DayUs} AS day,
                            CAST(user_id AS VARCHAR) AS uk,
                            CAST(COUNT(*) AS BIGINT) AS cnt
                     FROM events GROUP BY 1, 2),
              rn AS (SELECT k.*, row_number() OVER (PARTITION BY day
                                                    ORDER BY cnt DESC, uk) AS rn
                     FROM k),
              stored AS (SELECT day, uk, cnt FROM rn WHERE rn <= $TopkK),
              nk AS (SELECT day, COUNT(*) AS n_keys FROM k GROUP BY day),
              kth AS (SELECT day, MIN(cnt) AS kth FROM stored GROUP BY day),
              thr AS (SELECT nk.day AS day,
                             CASE WHEN n_keys > $TopkK THEN kth
                                  ELSE CAST(0 AS BIGINT) END AS thr
                      FROM nk JOIN kth USING (day)),
              a AS (SELECT MIN(day) AS d0 FROM k),
              ss AS (SELECT stored.* FROM stored CROSS JOIN a
                     WHERE day >= d0 + $HllRangeStartOff
                       AND day < d0 + ${HllRangeStartOff + HllRangeLen}),
              st AS (SELECT thr.* FROM thr CROSS JOIN a
                     WHERE day >= d0 + $HllRangeStartOff
                       AND day < d0 + ${HllRangeStartOff + HllRangeLen}),
              cand AS (SELECT DISTINCT uk FROM ss),
              est AS (SELECT uk, CAST(SUM(cnt) AS BIGINT) AS est_count,
                             CAST(COUNT(*) AS BIGINT) AS days_present
                      FROM ss GROUP BY uk),
              sl AS (SELECT c.uk AS uk,
                            CAST(COALESCE(SUM(CASE WHEN p.uk IS NULL
                                                   THEN st.thr END), 0) AS BIGINT) AS slack
                     FROM cand c CROSS JOIN st
                     LEFT JOIN ss p ON p.day = st.day AND p.uk = c.uk
                     GROUP BY c.uk),
              ex AS (SELECT k.uk AS uk, CAST(SUM(cnt) AS BIGINT) AS exact_count
                     FROM k CROSS JOIN a JOIN cand USING (uk)
                     WHERE day >= d0 + $HllRangeStartOff
                       AND day < d0 + ${HllRangeStartOff + HllRangeLen}
                     GROUP BY k.uk),
              f AS (SELECT est.uk AS uk, days_present, est_count,
                           est_count + slack AS ub_count, exact_count
                    FROM est JOIN sl USING (uk) JOIN ex USING (uk)),
              rk AS (SELECT f.uk AS uk, CAST(COUNT(*) AS BIGINT) AS rk_est
                     FROM f JOIN f g ON g.est_count > f.est_count
                                     OR (g.est_count = f.est_count AND g.uk <= f.uk)
                     GROUP BY f.uk)
         SELECT f.uk, days_present, est_count, ub_count, exact_count,
                est_count <= exact_count AS lb_ok,
                exact_count <= ub_count AS ub_ok,
                rk_est, rk_est <= $TopkK AS is_topk
         FROM f JOIN rk USING (uk)
         ORDER BY rk_est, f.uk""",
    // q156: the histogram-cube walk mirrored bin-for-bin (shared floor-div
    // text, exact integer targets), but exact_cents comes STRAIGHT from the
    // definition — min cents with range-wide cumulative ≥ target — so the
    // oracle independently grades Spark's two-pass bin refinement
    "q156_hist_range_quantiles" ->
      s"""WITH c AS (SELECT epoch_us(ts) // ${graft.ops.RelationalOps.DayUs} AS day,
                            CAST(ROUND(value * 100) AS BIGINT) AS c
                     FROM events WHERE value IS NOT NULL),
              hist AS (SELECT day,
                              (c - (((c % $HistBinCents) + $HistBinCents) % $HistBinCents)) // $HistBinCents AS bin,
                              CAST(COUNT(*) AS BIGINT) AS n
                       FROM c GROUP BY 1, 2),
              a AS (SELECT MIN(day) AS d0 FROM hist),
              sel AS (SELECT hist.* FROM hist CROSS JOIN a
                      WHERE day >= d0 + $HllRangeStartOff
                        AND day < d0 + ${HllRangeStartOff + HllRangeLen}),
              rh AS (SELECT bin, CAST(SUM(n) AS BIGINT) AS n FROM sel GROUP BY bin),
              tot AS (SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_range FROM rh),
              ps AS (SELECT * FROM (VALUES ('p50', CAST(1 AS BIGINT), CAST(2 AS BIGINT)),
                                           ('p95', CAST(19 AS BIGINT), CAST(20 AS BIGINT)),
                                           ('p99', CAST(99 AS BIGINT), CAST(100 AS BIGINT)))
                                   AS t(p_label, p_num, p_den)),
              tg AS (SELECT p_label, n_range,
                            (p_num * n_range + p_den - 1) // p_den AS target_rank
                     FROM ps CROSS JOIN tot),
              cum AS (SELECT bin, CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cum_n FROM rh),
              pick AS (SELECT p_label, n_range, target_rank, MIN(bin) AS bin
                       FROM tg JOIN cum ON cum_n >= target_rank
                       GROUP BY 1, 2, 3),
              rc AS (SELECT c.c, CAST(COUNT(*) AS BIGINT) AS cn
                     FROM c CROSS JOIN a
                     WHERE day >= d0 + $HllRangeStartOff
                       AND day < d0 + ${HllRangeStartOff + HllRangeLen}
                     GROUP BY c.c),
              rcc AS (SELECT c, CAST(SUM(cn) OVER (ORDER BY c) AS BIGINT) AS cum FROM rc),
              ex AS (SELECT p_label, MIN(c) AS exact_cents
                     FROM tg JOIN rcc ON cum >= target_rank GROUP BY 1)
         SELECT pick.p_label,
                d0 + $HllRangeStartOff AS day_from,
                d0 + ${HllRangeStartOff + HllRangeLen} AS day_to_excl,
                n_range, target_rank, bin,
                bin * $HistBinCents AS bin_lo_cents,
                bin * $HistBinCents + $HistBinCents AS bin_hi_cents_excl,
                bin * $HistBinCents + ${HistBinCents / 2} AS est_mid_cents,
                exact_cents,
                bin * $HistBinCents + ${HistBinCents / 2} - exact_cents AS err_cents,
                exact_cents >= bin * $HistBinCents
                  AND exact_cents < bin * $HistBinCents + $HistBinCents AS contained
         FROM pick JOIN ex ON pick.p_label = ex.p_label CROSS JOIN a
         ORDER BY 1""",
    // q155: the q154 register recipe, range-filtered against the MIN-day
    // anchor and merged (MAX per j) — identical estimate arithmetic
    "q155_hll_range" ->
      s"""WITH k AS (SELECT epoch_us(ts) // ${graft.ops.RelationalOps.DayUs} AS day,
                            CAST(user_id AS VARCHAR) AS uk FROM events),
              h AS (SELECT day, ('0x' || substr(md5(uk), 1, 15))::BIGINT AS h FROM k),
              r AS (SELECT day, h // $HllRest AS j,
                           CASE WHEN h % $HllRest = 0 THEN $HllRhoMax
                                ELSE $HllRhoMax - length(bin(h % $HllRest)) END AS rho
                    FROM h),
              reg AS (SELECT day, j, MAX(rho) AS reg FROM r GROUP BY day, j),
              a AS (SELECT MIN(day) AS d0 FROM reg),
              sel AS (SELECT reg.* FROM reg CROSS JOIN a
                      WHERE day >= d0 + $HllRangeStartOff
                        AND day < d0 + ${HllRangeStartOff + HllRangeLen}),
              mrg AS (SELECT j, MAX(reg) AS reg FROM sel GROUP BY j),
              cen AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_registers_hit,
                             CAST(COALESCE(SUM(CAST(1 AS BIGINT) << ($HllRhoMax - reg)), 0)
                                  AS BIGINT) AS s_hit
                      FROM mrg),
              dys AS (SELECT CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days_covered FROM sel),
              ex AS (SELECT CAST(COUNT(DISTINCT uk) AS BIGINT) AS exact_distinct
                     FROM k CROSS JOIN a
                     WHERE day >= d0 + $HllRangeStartOff
                       AND day < d0 + ${HllRangeStartOff + HllRangeLen}),
              c AS (SELECT d0 + $HllRangeStartOff AS day_from,
                           d0 + ${HllRangeStartOff + HllRangeLen} AS day_to_excl,
                           n_days_covered, exact_distinct, n_registers_hit,
                           CAST($HllRegisters - n_registers_hit AS BIGINT) AS n_zero_registers,
                           s_hit + ($HllRegisters - n_registers_hit) * ${1L << 53} AS harmonic_denom_scaled
                    FROM cen CROSS JOIN dys CROSS JOIN ex CROSS JOIN a)
         SELECT day_from, day_to_excl, n_days_covered, exact_distinct,
                n_registers_hit, n_zero_registers, harmonic_denom_scaled, raw_est,
                CASE WHEN exact_distinct = 0 THEN CAST(NULL AS DOUBLE)
                     ELSE (raw_est - CAST(exact_distinct AS DOUBLE))
                          / CAST(exact_distinct AS DOUBLE) END AS rel_err,
                abs(CASE WHEN n_zero_registers > 0 AND raw_est <= 2.5 * $HllRegisters.0
                         THEN $HllRegisters.0 * ln($HllRegisters.0 / CAST(n_zero_registers AS DOUBLE))
                         ELSE raw_est END
                    - CAST(exact_distinct AS DOUBLE))
                <= greatest(0.25 * CAST(exact_distinct AS DOUBLE), 10.0) AS est_ok
         FROM (SELECT c.*,
                      $HllEstNum / CAST(harmonic_denom_scaled AS DOUBLE) AS raw_est
               FROM c)""",
    // q154: the q134 recipe keyed by day; the total row's registers come
    // from MERGING the daily tables (MAX per j), exactly as Spark's do
    "q154_hll_daily_cube" ->
      s"""WITH k AS (SELECT epoch_us(ts) // ${graft.ops.RelationalOps.DayUs} AS day,
                            CAST(user_id AS VARCHAR) AS uk FROM events),
              h AS (SELECT day, ('0x' || substr(md5(uk), 1, 15))::BIGINT AS h FROM k),
              r AS (SELECT day, h // $HllRest AS j,
                           CASE WHEN h % $HllRest = 0 THEN $HllRhoMax
                                ELSE $HllRhoMax - length(bin(h % $HllRest)) END AS rho
                    FROM h),
              reg AS (SELECT day, j, MAX(rho) AS reg FROM r GROUP BY day, j),
              mrg AS (SELECT CAST($HllCubeTotalDay AS BIGINT) AS day, j, MAX(reg) AS reg
                      FROM reg GROUP BY j),
              allr AS (SELECT * FROM reg UNION ALL SELECT * FROM mrg),
              p AS (SELECT day, COUNT(*) AS n_registers_hit,
                           CAST(SUM(CAST(1 AS BIGINT) << ($HllRhoMax - reg)) AS BIGINT) AS s_hit
                    FROM allr GROUP BY day),
              ed AS (SELECT day, COUNT(DISTINCT uk) AS exact_distinct FROM k GROUP BY day
                     UNION ALL
                     SELECT CAST($HllCubeTotalDay AS BIGINT), COUNT(DISTINCT uk) FROM k),
              c AS (SELECT p.day AS day, ed.exact_distinct AS exact_distinct,
                           p.n_registers_hit AS n_registers_hit,
                           CAST($HllRegisters - p.n_registers_hit AS BIGINT) AS n_zero_registers,
                           s_hit + ($HllRegisters - n_registers_hit) * ${1L << 53} AS harmonic_denom_scaled
                    FROM p JOIN ed USING (day))
         SELECT day, exact_distinct, n_registers_hit, n_zero_registers,
                harmonic_denom_scaled, raw_est,
                (raw_est - CAST(exact_distinct AS DOUBLE)) / CAST(exact_distinct AS DOUBLE) AS rel_err,
                abs(CASE WHEN n_zero_registers > 0 AND raw_est <= 2.5 * $HllRegisters.0
                         THEN $HllRegisters.0 * ln($HllRegisters.0 / CAST(n_zero_registers AS DOUBLE))
                         ELSE raw_est END
                    - CAST(exact_distinct AS DOUBLE))
                  <= greatest(0.25 * CAST(exact_distinct AS DOUBLE), 10.0) AS est_ok
         FROM (SELECT c.*,
                      $HllEstNum / CAST(harmonic_denom_scaled AS DOUBLE) AS raw_est
               FROM c) ORDER BY day""",
    "q134_hll_census" ->
      s"""WITH t AS (SELECT coalesce(lang, '${graft.ops.GraphOps.NullSourceSentinel}') AS lang,
                            unnest(str_split(text, ' ')) AS token
                     FROM documents),
              h AS (SELECT lang, ('0x' || substr(md5(token), 1, 15))::BIGINT AS h FROM t),
              r AS (SELECT lang, h // $HllRest AS j,
                           CASE WHEN h % $HllRest = 0 THEN $HllRhoMax
                                ELSE $HllRhoMax - length(bin(h % $HllRest)) END AS rho
                    FROM h),
              reg AS (SELECT lang, j, MAX(rho) AS reg FROM r GROUP BY lang, j),
              p AS (SELECT lang, COUNT(*) AS n_registers_hit,
                           CAST(SUM(CAST(1 AS BIGINT) << ($HllRhoMax - reg)) AS BIGINT) AS s_hit
                    FROM reg GROUP BY lang),
              e AS (SELECT lang, COUNT(DISTINCT token) AS exact_distinct FROM t GROUP BY lang),
              c AS (SELECT p.lang AS lang, e.exact_distinct AS exact_distinct,
                           p.n_registers_hit AS n_registers_hit,
                           CAST($HllRegisters - p.n_registers_hit AS BIGINT) AS n_zero_registers,
                           s_hit + ($HllRegisters - n_registers_hit) * ${1L << 53} AS harmonic_denom_scaled
                    FROM p JOIN e USING (lang))
         SELECT lang, exact_distinct, n_registers_hit, n_zero_registers,
                harmonic_denom_scaled, raw_est,
                (raw_est - CAST(exact_distinct AS DOUBLE)) / CAST(exact_distinct AS DOUBLE) AS rel_err,
                abs(CASE WHEN n_zero_registers > 0 AND raw_est <= 2.5 * $HllRegisters.0
                         THEN $HllRegisters.0 * ln($HllRegisters.0 / CAST(n_zero_registers AS DOUBLE))
                         ELSE raw_est END
                    - CAST(exact_distinct AS DOUBLE))
                  <= greatest(0.25 * CAST(exact_distinct AS DOUBLE), 10.0) AS est_ok
         FROM (SELECT c.*,
                      $HllEstNum / CAST(harmonic_denom_scaled AS DOUBLE) AS raw_est
               FROM c) ORDER BY lang""",
    "q64_heavy_hitters" ->
      """WITH t AS (SELECT unnest(str_split(text, ' ')) AS token FROM documents),
              n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_total FROM t)
         SELECT token, COUNT(*) AS cnt
         FROM t, n
         GROUP BY token, n.n_total
         HAVING CAST(COUNT(*) AS DOUBLE) > n_total / 50.0
         ORDER BY cnt DESC, token""",
    "q65_contamination" -> {
      val fp = graft.ops.TextOps.BowFpSql
      s"""WITH d AS (SELECT $fp AS fp,
                            ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT AS bucket
                     FROM documents),
              u AS (SELECT DISTINCT fp,
                           CASE WHEN bucket < ${PipelineOps.TrainCut} THEN 'train'
                                WHEN bucket < ${PipelineOps.ValCut} THEN 'val'
                                ELSE 'test' END AS split
                    FROM d),
              p(split_a, split_b) AS (VALUES ('test', 'train'), ('test', 'val'), ('train', 'val'))
         SELECT split_a, split_b,
                (SELECT COUNT(*) FROM u WHERE split = split_a) AS n_a,
                (SELECT COUNT(*) FROM u WHERE split = split_b) AS n_b,
                (SELECT COUNT(*) FROM u x JOIN u y ON x.fp = y.fp
                 WHERE x.split = split_a AND y.split = split_b) AS exact_overlap,
                TRUE AS kmv_ok
         FROM p ORDER BY split_a, split_b"""
    })
}
