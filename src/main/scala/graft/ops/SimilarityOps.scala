package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Brute-force cosine top-k is the correctness baseline; random-hyperplane
  * LSH bucketing is the scale path (at 100 TB the all-pairs join is
  * infeasible — LSH turns it into a shuffle on a small bucket key, exactly
  * like MinHash-LSH does for text in [[DedupOps]]).
  *
  * Determinism: a dot product is generated as an explicit left-associated
  * 64-term chain `(0.0 + v[0]*w[0] + v[1]*w[1] + ...)` in BOTH engines —
  * each step is one IEEE-exact double op, so Spark and DuckDB produce
  * bit-identical cosines, and ranking on them cannot diverge. Hyperplanes
  * come from a shared integer formula, not RNG.
  */
object SimilarityOps {
  val Dim = 64            // embedding dimensionality (TESTDATA/FIXTURES.md)
  val NumQueries = 5      // vec_id < 5 are the query vectors
  val TopK = 3

  /** Banded hyperplane-LSH geometry. Bucket count per band is
    * 2^PlanesPerBand and must GROW with corpus size (more planes →
    * exponentially narrower buckets); recall lost to narrower buckets is
    * recovered by ORing `VBands` independent bands, exactly like MinHash
    * banding in [[DedupOps]]. Both are runtime parameters of the ops —
    * size PlanesPerBand ≈ log2(N / targetBucketRows) at 10⁹+ vectors. */
  val PlanesPerBand = 8   // bits per band key → 256 buckets per band
  val VBands = 4          // independent ORed bands
  val NProbe = 2          // IVF cells probed per query

  /** Graded quality floors for the [[withRecallAudit]] tripwire: the ANN
    * top-1 cosine must reach this fraction of the exact top-1. Set below
    * the minimum measured across sf0.001/0.01/0.1 on the test corpus
    * (q43 ≥ 0.33, q55 ≥ 0.76 — the corpus is near-isotropic, max pairwise
    * cos ≈ 0.37, so EXACT top-k recall is the wrong bar: no sublinear
    * method can hit it without structure, while a broken banding/probe
    * geometry still craters this ratio and fails the hash). */
  val LshQualityFloor = 0.25
  val IvfQualityFloor = 0.5

  /** Deterministic integer hyperplanes: w(p)(d) in [-9, 9]. */
  def plane(p: Int, d: Int): Int = ((1009 * p + 31 * d + 7) % 19) - 9

  /** Left-assoc dot-product chain (oracle side). */
  private def dotChain(terms: Seq[String]): String =
    terms.mkString("(0.0 + ", " + ", ")")

  /** Spark side uses the native codegen'd [[graft.expressions.DotProduct]]
    * (tight Java loop in WSCG). Same left-to-right fold from 0.0 as the
    * oracle's explicit chain, so results are bit-identical. (A generated
    * 64-term expression is not an option: Catalyst's project-collapse
    * inlines the array cast into every term and the optimizer goes
    * quadratic on the ~10k-node tree — observed minutes of planning.) */
  private def sparkDot(a: String, b: String): String =
    s"graft_dot($a, $b)"

  /** The 1e-6 quantization shared by [[bandRows]] and its spec twin. */
  private[graft] val QuantizeExpr = "transform(v, x -> CAST(ROUND(x * 1000000) AS BIGINT))"

  /** (vec_id, band) rows — one narrow row per vector per band, the only
    * thing the candidate join shuffles. All keys come from ONE native
    * [[graft.expressions.HyperplaneBands]] pass (hash-cross-checked
    * against `DotProductSpec`'s composed form and the SQL-arithmetic
    * oracle). */
  private def bandRows(emb: DataFrame, bands: Int, planesPerBand: Int): DataFrame =
    vecs(emb)
      .selectExpr("vec_id", s"$QuantizeExpr AS vq")
      .selectExpr("vec_id", s"explode(graft_bands(vq, $bands, $planesPerBand)) AS band")

  /** vec_id, v (double array), n2 (squared norm) — shared prep. Registers
    * the native function idempotently so the ops work on any session. */
  private[graft] def vecs(emb: DataFrame): DataFrame = {
    graft.expressions.GraftFunctions.register(emb.sparkSession)
    emb.selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v")
      .selectExpr("vec_id", "v", s"${sparkDot("v", "v")} AS n2")
  }

  /** GRADED recall/quality audit rider for the ANN queries (the q21/q53
    * computed-vs-oracle pattern): appends to each ranked row
    *  - `recall_at_k` — |ann top-k ∩ exact top-k| / k, computed by BOTH
    *    engines (the hash verifies the measurement itself), and
    *  - `quality_ok` — ann top-1 cosine ≥ `qualityFloor` × exact top-1,
    *    Spark-computed against an oracle-literal TRUE, so a geometry
    *    retune that craters result quality fails CORRECTNESS, not just a
    *    local spec.
    * Cost shape: the exact side is [[knnBruteForce]]'s bounded audit —
    * the query set broadcasts, the corpus is scanned, never shuffled; its
    * two projections broadcast (k·|queries| and |queries| rows) into one
    * window pass over the ranked rows. At production scale the audit runs
    * on a sampled query set; here the graded query set IS 5 queries. */
  private def withRecallAudit(ranked: DataFrame, emb: DataFrame,
                              qualityFloor: Double): DataFrame = {
    val exact = knnBruteForce(emb)
    val exactIds = exact.select(col("q_id"), col("n_id"), lit(1).as("hit"))
    val exactBest = exact.filter(col("rank") === 1)
      .select(col("q_id"), col("cos").as("best_exact"))
    val perQ = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
    ranked
      .join(broadcast(exactIds), Seq("q_id", "n_id"), "left_outer")
      .join(broadcast(exactBest), "q_id")
      .withColumn("recall_at_k",
        sum(coalesce(col("hit"), lit(0))).over(perQ).cast("double") / TopK)
      .withColumn("quality_ok",
        max(when(col("rank") === 1, col("cos"))).over(perQ)
          >= col("best_exact") * qualityFloor)
      .drop("hit", "best_exact")
      .orderBy("q_id", "rank")
  }

  /** The recall/quality oracle twin of [[withRecallAudit]], appended to an
    * ANN oracle whose ranked rows live in CTE `annres` and whose vec/norm
    * table is `n`: recomputes exact top-k in DuckDB (same brute ranking as
    * q42) and the same hit-count window; quality_ok is the LITERAL
    * contract. */
  private def duckRecallAudit(prefix: String): String =
    s"""$prefix,
        exact AS (SELECT q_id, n_id FROM (
                    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
                           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                             ORDER BY ${duckDot("q.v", "c.v")} / (sqrt(q.n2) * sqrt(c.n2)) DESC,
                                      c.vec_id) AS rank
                    FROM n q JOIN n c
                    ON q.vec_id < $NumQueries AND q.vec_id != c.vec_id)
                  WHERE rank <= $TopK)
        SELECT q_id, n_id, cos, rank,
               CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END)
                      OVER (PARTITION BY q_id) AS DOUBLE) / $TopK AS recall_at_k,
               TRUE AS quality_ok
        FROM (SELECT a.q_id, a.n_id, a.cos, a.rank, e.n_id IS NOT NULL AS hit
              FROM annres a LEFT JOIN exact e
              ON a.q_id = e.q_id AND a.n_id = e.n_id)
        ORDER BY q_id, rank"""

  /** q42 — brute-force cosine top-k: broadcast the query set against the
    * full corpus (the fact side is never shuffled), rank per query. The
    * `row_number ≤ k` filter is planned as a map-side Partial
    * `WindowGroupLimit` (Spark's InferWindowGroupLimit): every task keeps
    * only its local top-k per query BEFORE the exchange, so a per-query
    * partition is ~k·tasks rows at the final sort, never corpus-sized —
    * plan-guarded in `PlanShapeSpec` (q104's test, same shape). */
  def knnBruteForce(emb: DataFrame): DataFrame = {
    val all = vecs(emb)
    val q = all.filter(col("vec_id") < NumQueries)
      .selectExpr("vec_id AS q_id", "v AS qv", "n2 AS qn2")
    broadcast(q).join(all, col("q_id") =!= col("vec_id"))
      .selectExpr("q_id", "vec_id AS n_id",
        s"${sparkDot("qv", "v")} / (sqrt(qn2) * sqrt(n2)) AS cos")
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(desc("cos"), col("n_id"))).cast("long"))
      .filter(col("rank") <= TopK)
      .orderBy("q_id", "rank")
  }

  /** q104 — HARD-NEGATIVE MINING: for each anchor (the graded query set),
    * the top-k highest-cosine vectors carrying a DIFFERENT label — the
    * closest impostors. This is the mining step a contrastive/embedding
    * training pipeline runs over its corpus: in-batch random negatives are
    * too easy, and training on the nearest other-label neighbors is what
    * sharpens the margin (the standard recipe behind dense-retriever and
    * sentence-embedding training). Same plan shape as [[knnBruteForce]]
    * (query set broadcast, corpus scanned never shuffled, per-anchor
    * top-k through the map-side Partial WindowGroupLimit — plan-guarded)
    * with the label disagreement pushed into the join condition; at
    * production scale the anchor set is a sample, exactly like the
    * q42/q43 audit set. */
  def hardNegatives(emb: DataFrame): DataFrame = {
    graft.expressions.GraftFunctions.register(emb.sparkSession)
    val all = emb.selectExpr("vec_id", "label", "CAST(embedding AS ARRAY<DOUBLE>) AS v")
      .selectExpr("vec_id", "label", "v", s"${sparkDot("v", "v")} AS n2")
    val q = all.filter(col("vec_id") < NumQueries)
      .selectExpr("vec_id AS q_id", "label AS q_label", "v AS qv", "n2 AS qn2")
    broadcast(q).join(all, col("label") =!= col("q_label"))
      .selectExpr("q_id", "vec_id AS n_id", "CAST(label AS BIGINT) AS n_label",
        s"${sparkDot("qv", "v")} / (sqrt(qn2) * sqrt(n2)) AS cos")
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(desc("cos"), col("n_id"))).cast("long"))
      .filter(col("rank") <= TopK)
      .orderBy("q_id", "rank")
  }

  /** q109's cosine threshold — sized like [[SemDedupMinCos]] to the test
    * corpus's cosine distribution so both verdicts are exercised; a
    * runtime dial (real decontamination runs ~0.9+ on trained spaces). */
  val SemContamMinCos = 0.25

  /** q109 — SEMANTIC DECONTAMINATION: the embedding-space analog of q70's
    * n-gram eval decontamination (the step modern curation runs IN
    * ADDITION to exact-overlap checks — paraphrased or translated eval
    * items share no 5-gram with their train-set leak, but their
    * embeddings sit close). Every TRAIN-split vector is scored by its
    * maximum cosine against the TEST split (the q57 md5 split rule —
    * standing in for the bounded eval set a real run broadcasts), with
    * the nearest eval id attached and `contaminated = max_cos ≥ τ` — the
    * rows a release drops before training.
    *
    * Scale shape: the eval side broadcasts (eval sets are bounded by
    * construction); the train corpus is scanned ONCE, never shuffled
    * (the q42/q104 broadcast-probe shape), and the per-doc argmax is a
    * single map-combinable MAX over a (cos, -eval_id) struct — ordered
    * lexicographically by BOTH engines, so max cosine with min-id
    * tie-break needs no window and no second pass. */
  def semanticContamination(emb: DataFrame,
                            minCos: Double = SemContamMinCos): DataFrame = {
    // fail-loudly on malformed vectors BEFORE the cosine (the
    // StreamSemanticGuard arrival contract, mirrored batch-side): a null/
    // ragged embedding makes the dot NULL and a zero-norm one makes it
    // 0/0 = NaN — either way the row would flow through the struct-max
    // as "clean"/poisoned instead of raising. Guarded on BOTH sides
    // (train and eval inherit this projection).
    val all = vecs(emb)
      .selectExpr("vec_id", "v",
        s"""CASE WHEN v IS NULL OR size(v) != $Dim
                 THEN CAST(raise_error('q109: malformed embedding (null or wrong dimension) — a null cosine would silently read as clean') AS DOUBLE)
                 WHEN n2 = 0e0
                 THEN CAST(raise_error('q109: zero-norm embedding — cosine is undefined (0/0) and NaN poisons the contamination argmax') AS DOUBLE)
                 ELSE n2 END AS n2""")
      .withColumn("bucket", PipelineOps.md5Bucket(col("vec_id")))
      .selectExpr("vec_id", "v", "n2", s"${PipelineOps.splitOf("bucket")} AS split")
    val te = all.filter(col("split") === "test")
      .selectExpr("vec_id AS t_id", "v AS tv", "n2 AS tn2")
    // empty-eval guard (the q69 clash-guard / StreamSemanticGuard
    // contract): an empty test split makes the crossJoin emit ZERO rows —
    // a release would read "no contamination" with zero coverage. The
    // guard relation produces a raising row iff the eval side is empty,
    // unioned into the plan so the job fails loudly instead.
    val guard = te.agg(count(lit(1)).as("n_eval")).filter(col("n_eval") === 0)
      .selectExpr(
        "CAST(raise_error('q109: empty test split — the decontamination report would silently cover nothing') AS BIGINT) AS doc_id",
        "CAST(NULL AS DOUBLE) AS max_cos",
        "CAST(NULL AS BIGINT) AS nearest_eval_id",
        "CAST(NULL AS BOOLEAN) AS contaminated")
    all.filter(col("split") === "train")
      .crossJoin(broadcast(te))
      .selectExpr("vec_id AS doc_id",
        s"named_struct('c', ${sparkDot("v", "tv")} / (sqrt(n2) * sqrt(tn2))," +
          s" 'nt', -t_id) AS p")
      .groupBy("doc_id")
      .agg(max(col("p")).as("b"))
      .selectExpr("doc_id", "b.c AS max_cos", "-b.nt AS nearest_eval_id",
        s"b.c >= $minCos AS contaminated")
      .unionByName(guard)
      .orderBy("doc_id")
  }

  /** The BOUNDED eval-vector artifact [[semanticContamination]]'s
    * streaming twin (`StreamSemanticGuard`) applies in-flight: the
    * test-split vectors (q57 rule — standing in for the curated eval set
    * a real deployment loads) collapsed into ONE ROW of (t_id, tv, tn2)
    * structs, refreshed by a scheduled batch job like the k-means
    * centroid state. Sorted by t_id so the artifact is deterministic;
    * the fold's result is order-free regardless (max is associative,
    * ties break on -t_id). */
  def evalVectorState(emb: DataFrame): DataFrame =
    vecs(emb)
      .withColumn("bucket", PipelineOps.md5Bucket(col("vec_id")))
      .filter(expr(s"${PipelineOps.splitOf("bucket")} = 'test'"))
      // a malformed/zero-norm EVAL vector would poison EVERY arrival's
      // max-cos (NaN compares poison the fold) — refresh must fail, not
      // publish a poisoned artifact (the q109 guard, artifact-side)
      .selectExpr("vec_id", "v",
        s"""CASE WHEN v IS NULL OR size(v) != $Dim
                 THEN CAST(raise_error('evalVectorState: malformed eval embedding (null or wrong dimension)') AS DOUBLE)
                 WHEN n2 = 0e0
                 THEN CAST(raise_error('evalVectorState: zero-norm eval embedding — cosine undefined, would NaN-poison every arrival') AS DOUBLE)
                 ELSE n2 END AS n2""")
      .agg(sort_array(collect_list(struct(
        col("vec_id").as("t_id"), col("v").as("tv"), col("n2").as("tn2")))).as("evals"))

  /** q43 — banded-LSH ANN: candidates are vectors sharing ANY of the
    * query's band keys (distinct on the narrow (q_id, vec_id) pair), then a
    * vector gather + exact cosine ranking on candidates only. At scale:
    * the band join shuffles 16-byte rows on the band key, the gather is a
    * co-keyed join on vec_id (the IVF probe-then-gather shape) — the
    * corpus' vector payloads are never in the candidate shuffle. */
  def annLsh(emb: DataFrame, bands: Int = VBands,
             planesPerBand: Int = PlanesPerBand): DataFrame = {
    val all = vecs(emb)
    val b = bandRows(emb, bands, planesPerBand)
    val qBands = b.filter(col("vec_id") < NumQueries).selectExpr("vec_id AS q_id", "band")
    val cand = broadcast(qBands).join(b, "band")
      .filter(col("q_id") =!= col("vec_id"))
      .select("q_id", "vec_id").distinct()
    val qVecs = all.filter(col("vec_id") < NumQueries)
      .selectExpr("vec_id AS q_id", "v AS qv", "n2 AS qn2")
    val ranked = cand.join(broadcast(qVecs), "q_id")
      .join(all, "vec_id")
      .selectExpr("q_id", "vec_id AS n_id",
        s"${sparkDot("qv", "v")} / (sqrt(qn2) * sqrt(n2)) AS cos")
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(desc("cos"), col("n_id"))).cast("long"))
      .filter(col("rank") <= TopK)
    withRecallAudit(ranked, emb, LshQualityFloor)
  }

  /** q45 — embedding-cosine near-duplicate pairs: candidate pairs from the
    * banded self-join (any shared band), exact cosine ≥ threshold on
    * candidates only — the vector-space member of the dedup family
    * (exact/minhash/simhash/ngram live in [[DedupOps]]). The pair space is
    * bounded by per-band bucket collisions, and bucket width shrinks
    * exponentially with `planesPerBand` — raise it as the corpus grows and
    * recall is held up by the ORed bands, never by widening buckets. */
  /** q45's cosine near-dup threshold, shared with the oracle. */
  val EmbDupMinCos = 0.4

  def embeddingDups(emb: DataFrame, minCos: Double = EmbDupMinCos, bands: Int = VBands,
                    planesPerBand: Int = PlanesPerBand): DataFrame = {
    val all = vecs(emb)
    val b = bandRows(emb, bands, planesPerBand)
    val cand = b.as("x").join(b.as("y"),
        col("x.band") === col("y.band") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
      .distinct()
    cand
      .join(all.selectExpr("vec_id AS a_id", "v AS va", "n2 AS na"), "a_id")
      .join(all.selectExpr("vec_id AS b_id", "v AS vb", "n2 AS nb"), "b_id")
      .selectExpr("a_id", "b_id",
        s"${sparkDot("va", "vb")} / (sqrt(na) * sqrt(nb)) AS cos")
      .filter(col("cos") >= minCos)
      .orderBy("a_id", "b_id")
  }

  /** q55 — IVF (inverted-file) ANN: the coarse-quantizer alternative to
    * hyperplane LSH. Cells are the per-label centroids (the label stands in
    * for a k-means coarse quantizer — the assignment/probe machinery is
    * identical); every vector is assigned to its NEAREST cell, queries
    * probe the `nprobe` nearest cells and run exact cosine only on members.
    *
    * Cross-engine determinism is structural: cell distances are computed in
    * EXACT integer space — v quantized to 1e-3 ints, centroid kept as its
    * exact rational (sum_q, n), ‖n·q3 − sum_q‖² accumulated as int64
    * (exact for cells up to ~10⁵ members at this quantization; shrink the
    * quantization scale for larger cells), then normalized by n² with ONE
    * IEEE division per (vector, cell) — both inputs exact integers, so the
    * quotient is identical in any engine and the cross-cell argmin is
    * fair regardless of cell imbalance.
    *
    * Scale shape: centroids are a bounded dim table (K cells × D dims) —
    * broadcast, never a collect; assignment is one scan with map-side
    * partial aggregation (N·K narrow rows shuffled, payloads never);
    * probing is a broadcast of the query cells; the gather is the same
    * co-keyed join as [[annLsh]]. At 10⁹ vectors, raise K so N/K fits a
    * probe budget — the plan is unchanged. */
  /** (vec_id, cell, dist): exact-integer distance of every vector to every
    * per-label centroid cell — the shared assignment subtree of [[ivfAnn]]
    * and [[semanticDedup]]. v is quantized to 1e-3 ints and the centroid
    * kept as its exact (sum, n) pair, so dist = Σ(q·n − sq)²/n² is
    * integer arithmetic until one final division: associative,
    * order-independent, bit-identical in any engine. */
  private def cellDist(emb: DataFrame): DataFrame = {
    val q3 = emb.select(
        col("vec_id").cast("long").as("vec_id"),
        col("label").cast("long").as("label"),
        posexplode(col("embedding")))
      .select(col("vec_id"), col("label"), col("pos").cast("long").as("d"),
        expr("CAST(ROUND(CAST(col AS DOUBLE) * 1000) AS BIGINT)").as("q3"))
    val cells = q3.groupBy(col("label").as("cell"), col("d"))
      .agg(sum("q3").as("sq"), count(lit(1)).as("n"))
    distToCells(q3.select("vec_id", "d", "q3"), cells)
  }

  /** The per-(cell, d) integer centroid stats of the standing IVF index —
    * the bounded (k × D rows) broadcastable artifact an ingest-time probe
    * ranks against ([[graft.streaming.StreamFilteredAnn]]). Exactly the
    * `cells` table inside [[cellDist]]. */
  private[graft] def ivfCellStats(emb: DataFrame): DataFrame =
    emb.select(
        col("label").cast("long").as("label"),
        posexplode(col("embedding")))
      .select(col("label"), col("pos").cast("long").as("d"),
        expr("CAST(ROUND(CAST(col AS DOUBLE) * 1000) AS BIGINT)").as("q3"))
      .groupBy(col("label").as("cell"), col("d"))
      .agg(sum("q3").as("sq"), count(lit(1)).as("n"))

  /** Quantize (vec_id, embedding) rows to the (vec_id, d, q3) dim table —
    * the SAME 1e-3 integer grid [[cellDist]] uses, shared so an arriving
    * stream vector ranks cells bit-identically to the batch index build. */
  private[graft] def q3Of(rows: DataFrame): DataFrame =
    rows.select(col("vec_id").cast("long").as("vec_id"),
        posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").cast("long").as("d"),
        expr("CAST(ROUND(CAST(col AS DOUBLE) * 1000) AS BIGINT)").as("q3"))

  /** Exact-integer vector→cell distances: Σ_d (q3·n − sq)² / n², integer
    * until the one final division — associative, order-free, bit-identical
    * for any row subset, which is what makes the streamed probe ranking
    * provably equal the batch one. */
  private[graft] def distToCells(q3: DataFrame, cells: DataFrame): DataFrame =
    q3.join(broadcast(cells), "d")
      .groupBy("vec_id", "cell")
      .agg((sum((col("q3") * col("n") - col("sq"))
          * (col("q3") * col("n") - col("sq"))).cast("double")
        / (max("n") * max("n")).cast("double")).as("dist"))

  def ivfAnn(emb: DataFrame, nprobe: Int = NProbe): DataFrame = {
    val dist = cellDist(emb)
    val byDist = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("dist"), col("cell"))
    // ONE ranking feeds both consumers: ranking is per-vec_id, so filtering
    // the query ids after the window is identical to filtering before — and
    // sharing the window input lets ReuseExchange materialize the expensive
    // dist subtree (explode + broadcast join + agg) once instead of twice
    val ranked = dist.withColumn("rn", row_number().over(byDist))
    val assigned = ranked.filter(col("rn") === 1).select(col("vec_id"), col("cell"))
    val probes = ranked
      .filter(col("vec_id") < NumQueries && col("rn") <= nprobe)
      .select(col("vec_id").as("q_id"), col("cell"))
    val all = vecs(emb)
    val cand = broadcast(probes).join(assigned, "cell")
      .filter(col("q_id") =!= col("vec_id"))
      .select("q_id", "vec_id").distinct()
    val qVecs = all.filter(col("vec_id") < NumQueries)
      .selectExpr("vec_id AS q_id", "v AS qv", "n2 AS qn2")
    val topk = cand.join(broadcast(qVecs), "q_id")
      .join(all, "vec_id")
      .selectExpr("q_id", "vec_id AS n_id",
        s"${sparkDot("qv", "v")} / (sqrt(qn2) * sqrt(n2)) AS cos")
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(desc("cos"), col("n_id"))).cast("long"))
      .filter(col("rank") <= TopK)
    withRecallAudit(topk, emb, IvfQualityFloor)
  }

  /** q200's tenant dial: `vec_id % 3 = 0` is the searched tenant — a
    * metadata predicate deliberately UNCORRELATED with the cell geometry
    * (labels), the realistic multi-tenant case where the filter
    * decimates every probed cell uniformly. */
  val TenantMod = 3L

  /** q200 — FILTERED VECTOR SEARCH: ANN under a metadata predicate
    * ("nearest neighbors WHERE tenant = t"), the production vector-store
    * question plain kNN dodges — a shared index serves many tenants, and
    * the two classic strategies trade differently:
    *   - `pre_exact`: brute top-k over the FILTERED corpus — always
    *     right, pays a full tenant scan per query (the fallback stores
    *     use when the filter is tiny);
    *   - `ivf_post`: probe [[NProbe]] cells of the SHARED index, apply
    *     the filter to the probed candidates — pays only the probe, but
    *     the filter decimates each cell, so the true filtered neighbors
    *     may sit in unprobed cells. The per-query `recall_at_k` of the
    *     post-filtered branch against the exact branch IS the graded
    *     artifact (0 to 1 on the real corpus — the "filtered ANN needs
    *     more probes" lesson, measured), alongside `cand_seen`, the
    *     candidate count each strategy paid for.
    *
    * Scale shape: both branches broadcast the bounded query set against
    * one corpus scan ([[knnBruteForce]]'s shape — the tenant filter is
    * pushed into the scan on the exact branch); the IVF branch reuses
    * the [[ivfAnn]] probe machinery (bounded cell table broadcast, one
    * candidate join) with the filter applied at the candidate join; all
    * rankings pass the map-side WindowGroupLimit. */
  def filteredAnn(emb: DataFrame, nprobe: Int = NProbe): DataFrame = {
    val all = vecs(emb)
    val qVecs = all.filter(col("vec_id") < NumQueries)
      .selectExpr("vec_id AS q_id", "v AS qv", "n2 AS qn2")
    val dist = cellDist(emb)
    val byDist = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("dist"), col("cell"))
    val ranked = dist.withColumn("rn", row_number().over(byDist))
    val assigned = ranked.filter(col("rn") === 1).select(col("vec_id"), col("cell"))
    val probes = ranked
      .filter(col("vec_id") < NumQueries && col("rn") <= nprobe)
      .select(col("vec_id").as("q_id"), col("cell"))
    filteredAnnRows(qVecs, probes, assigned, all)
      .orderBy("strategy", "q_id", "rank")
  }

  /** q200's per-query-set core — everything downstream of the probe
    * ranking, shared verbatim by the batch query and the streaming
    * maintainer ([[graft.streaming.StreamFilteredAnn]]). Every stage is
    * per-q_id independent (windows partition by q_id, censuses group by
    * q_id, joins key the standing corpus), so restricting `qVecs`/`probes`
    * to any arrival subset commutes with the whole computation — the
    * bit-equality argument the stream spec grades. */
  private[graft] def filteredAnnRows(qVecs: DataFrame, probes: DataFrame,
                                     assigned: DataFrame, all: DataFrame): DataFrame = {
    val perQ = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(desc("cos"), col("n_id"))
    val tenant = all.filter(col("vec_id") % TenantMod === 0)
    val exactScored = broadcast(qVecs)
      .join(tenant, col("q_id") =!= col("vec_id"))
      .selectExpr("q_id", "vec_id AS n_id",
        s"${sparkDot("qv", "v")} / (sqrt(qn2) * sqrt(n2)) AS cos")
      .localCheckpoint() // feeds its top-k, its census, and the recall probe
    val exactTop = exactScored
      .withColumn("rank", row_number().over(perQ).cast("long"))
      .filter(col("rank") <= TopK)
      .localCheckpoint() // ≤ K·|queries| rows; shipped and recall-probed
    val ivfScored = broadcast(probes).join(assigned, "cell")
      .filter(col("q_id") =!= col("vec_id") &&
        col("vec_id") % TenantMod === 0) // the post-filter
      .select("q_id", "vec_id").distinct()
      .join(all, "vec_id").join(broadcast(qVecs), "q_id")
      .selectExpr("q_id", "vec_id AS n_id",
        s"${sparkDot("qv", "v")} / (sqrt(qn2) * sqrt(n2)) AS cos")
      .localCheckpoint() // feeds its top-k and its census
    val ivfTop = ivfScored
      .withColumn("rank", row_number().over(perQ).cast("long"))
      .filter(col("rank") <= TopK)
    val exactSeen = exactScored.groupBy("q_id")
      .agg(count(lit(1)).as("cand_seen"))
    val ivfSeen = ivfScored.groupBy("q_id")
      .agg(count(lit(1)).as("cand_seen"))
    val hits = ivfTop.join(
        exactTop.select(col("q_id"), col("n_id"), lit(1).as("hit")),
        Seq("q_id", "n_id"), "left_outer")
    val perQAll = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
    val ivfRows = hits
      .withColumn("recall_at_k",
        sum(coalesce(col("hit"), lit(0))).over(perQAll).cast("double") / TopK)
      .join(broadcast(ivfSeen), "q_id")
      .selectExpr("'ivf_post' AS strategy", "q_id", "rank", "n_id", "cos",
        "cand_seen", "recall_at_k")
    val exactRows = exactTop.join(broadcast(exactSeen), "q_id")
      .selectExpr("'pre_exact' AS strategy", "q_id", "rank", "n_id", "cos",
        "cand_seen", "1e0 AS recall_at_k")
    exactRows.unionByName(ivfRows)
  }

  /** The standing serving-side IVF index [[graft.streaming.StreamFilteredAnn]]
    * probes per micro-batch: the corpus vec table, the vec→cell assignment,
    * and the bounded per-(cell, d) stats — in production three batch-refreshed
    * tables (the first two corpus-sized parquet, the stats a broadcast);
    * here checkpointed so per-batch probes don't rebuild them. */
  private[graft] def servingIndex(emb: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val all = vecs(emb).localCheckpoint()
    val cells = ivfCellStats(emb).localCheckpoint()
    val byDist = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("dist"), col("cell"))
    val assigned = distToCells(q3Of(emb), cells)
      .withColumn("rn", row_number().over(byDist))
      .filter(col("rn") === 1).select(col("vec_id"), col("cell"))
      .localCheckpoint()
    (all, assigned, cells)
  }

  /** [[kmeans]] dials: k seeds, fixed Lloyd rounds (a runtime dial; real
    * pipelines run to a movement epsilon, which is just a dynamic round
    * count). */
  val KmeansK = 8
  val KmeansRounds = 3

  /** q87 — DISTRIBUTED K-MEANS (Lloyd): learn `k` centroids over the
    * embedding corpus and emit the final assignment with its squared
    * distance. This is the training half the cell-based ops consume:
    * [[ivfAnn]]/[[semanticDedup]] take cells as given (per-label), a real
    * pipeline LEARNS them from the data.
    *
    * Scale shape per round — the MLlib shape, not the naive one:
    *  - centroids live as ONE broadcast row (k × D sums + counts: a
    *    bounded artifact, like the BPE merge list);
    *  - assignment is a ROW-LOCAL fold over the broadcast centroid array
    *    (nested higher-order functions, codegen'd) — the N×k distance
    *    table never materializes and never shuffles, where an
    *    explode-join-window argmin would shuffle N×k rows per round;
    *  - the update aggregates (cell, dim) partial sums map-side, so each
    *    round's shuffle is k × D × partitions partial rows, independent
    *    of corpus size.
    *
    * Determinism: vectors quantize to 1e-3 ints; a centroid is its exact
    * integer (sum, n) pair; the per-dim fold (q·n − s)² accumulates in
    * int64 in FIXED array order, so the only floating step is one final
    * division — bit-identical in any engine (the [[cellDist]] argument).
    * Ties break to the lowest cell id on both sides. Seeds are the k
    * lowest vec_ids (deterministic; k-means++ would seed better but is
    * inherently sequential-per-seed — the standard distributed trade). A
    * cell that loses all members drops out of later rounds on both
    * engines. Int64 headroom: |q·n − s| ≤ 2·10³·n, so the 64-dim fold
    * stays exact past n = 10⁸ members/cell; beyond that the update
    * aggregate would move to DECIMAL sums — same plan shape. */
  /** The 1e-3 integer quantization every centroid consumer shares. */
  private[graft] val KmeansQuantize =
    "transform(CAST(embedding AS ARRAY<DOUBLE>), x -> CAST(ROUND(x * 1000) AS BIGINT))"

  private[graft] def kmVq(emb: DataFrame): DataFrame =
    emb.select(col("vec_id").cast("long").as("vec_id"),
      expr(KmeansQuantize).as("qv"))

  /** (cell, n, sv) exact integer centroid state, collapsed to one row. */
  private[graft] def kmCents(assigned: DataFrame): DataFrame = assigned
    .select(col("cell"), posexplode(col("qv")))
    .select(col("cell"), col("pos").cast("long").as("d"), col("col").as("q"))
    .groupBy("cell", "d").agg(sum("q").as("sq"), count(lit(1)).as("n"))
    .groupBy("cell").agg(max("n").as("n"),
      expr("transform(array_sort(collect_list(struct(d, sq))), x -> x.sq)").as("sv"))
    .agg(expr("array_sort(collect_list(struct(cell, n, sv)))").as("cents"))

  /** The row-local argmin fold over the broadcast centroid array — shared
    * by the batch rounds and the streaming ingest assigner, so the two
    * paths cannot drift. Input needs (qv, cents) columns; emits
    * (best.cell, best.dist). */
  private[graft] val KmeansBestExpr: String = {
    val distExpr =
      """CAST(aggregate(zip_with(qv, c.sv, (q, s) -> (q * c.n - s) * (q * c.n - s)),
           CAST(0 AS BIGINT), (a, x) -> a + x) AS DOUBLE) / CAST(c.n * c.n AS DOUBLE)"""
    // argmin as array_min over (dist, cell) structs — struct comparison is
    // lexicographic, so equal distances break to the LOWEST cell id,
    // exactly the old fold's keep-first-strict-min over the cell-sorted
    // centroid array. r16: the fold form evaluated $distExpr TWICE per
    // centroid (once in the CASE compare, once in the kept struct — no CSE
    // across codegen'd CASE branches); this shape computes each 64-dim
    // distance once, halving the per-row assign cost. Empty centroid state
    // now surfaces as best IS NULL (array_min of an empty array) — gated
    // by [[KmeansCellGuard]] exactly as the old sentinel cell = -1 was. */
    s"""array_min(transform(cents,
          c -> named_struct('dist', $distExpr, 'cell', c.cell))) AS best"""
  }

  /** Fail-loudly gate on the shared argmin fold: `best IS NULL` means the
    * argmin saw an EMPTY centroid array (no seeds — empty corpus, or a stale/
    * truncated centroid artifact handed to the streaming assigner). Silently
    * emitting a NULL cell poisons every downstream consumer;
    * both the batch rounds and [[graft.streaming.StreamCentroidAssign]]
    * raise in-plan instead (the q84 `raise_error` idiom). */
  private[graft] val KmeansCellGuard: String =
    """CASE WHEN best IS NULL
            THEN CAST(raise_error('kmeans: empty centroid state — no seeds (empty corpus or empty centroid artifact?)') AS BIGINT)
            ELSE best.cell END AS cell"""

  private def kmAssign(vq: DataFrame, cs: DataFrame): DataFrame =
    vq.crossJoin(broadcast(cs))
      .selectExpr("vec_id", "qv", KmeansBestExpr)
      .selectExpr("vec_id", "qv", KmeansCellGuard, "best.dist AS dist")

  /** Seeds = the k LOWEST OBSERVED vec_ids (top-k take, not a `< k` range
    * filter: ids need not start at 0 — filtered shards, sampled corpora).
    * Deterministic; k-means++ would seed better but is inherently
    * sequential-per-seed — the standard distributed trade. */
  private def kmSeed(vq: DataFrame, k: Int): DataFrame =
    vq.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id"), col("vec_id").as("cell"), col("qv"))

  /** The Lloyd iteration, checkpoint-per-round: each completed round's
    * assignment is `localCheckpoint()`ed (the
    * [[graft.ops.GraphOps.connectedComponents]] idiom) so round r's plan
    * reads round r−1's MATERIALIZED rows instead of lazily re-deriving
    * rounds 1..r−1 — O(R) corpus passes and round-invariant plan depth,
    * where the un-checkpointed fold was O(R²) scans with a plan that grew
    * per round. The FINAL round stays lazy: callers get a plan whose
    * shape (broadcast centroid row → row-local fold) is inspectable and
    * composes with their own transforms. */
  private[graft] def kmRounds(vq0: DataFrame, k: Int, rounds: Int): DataFrame = {
    // materialize the quantized corpus ONCE: every round's assign (and the
    // seed scan) reads the checkpointed (vec_id, qv) rows instead of
    // re-deriving scan + cast + per-element round from parquet per round —
    // the round checkpoints only ever materialized the ASSIGNMENT, so the
    // quantize stage used to run `rounds`+1 times (guide §1.2: don't
    // recompute what you already paid for)
    val vq = vq0.localCheckpoint()
    var a = kmSeed(vq, k)
    var r = 1
    while (r < rounds) { a = kmAssign(vq, kmCents(a)).localCheckpoint(); r += 1 }
    if (rounds < 1) a else kmAssign(vq, kmCents(a))
  }

  def kmeans(emb: DataFrame, k: Int = KmeansK, rounds: Int = KmeansRounds): DataFrame =
    kmRounds(kmVq(emb), k, rounds)
      .select(col("vec_id"), col("cell"), col("dist")).orderBy("vec_id")

  /** The per-round assignment trace (round_no, vec_id, cell, dist) — the
    * artifact a clustering job PERSISTS so its monitors ([[kmeansInertiaOf]])
    * aggregate stored rows instead of re-running Lloyd. All-numeric columns
    * (long, long, long, double) round-trip parquet bit-exactly. */
  def kmeansRounds(emb: DataFrame, k: Int = KmeansK,
                   rounds: Int = KmeansRounds): DataFrame = {
    val vq = kmVq(emb).localCheckpoint() // one quantize pass (the kmRounds note)
    var a = kmSeed(vq, k)
    (1 to rounds).map { r =>
      a = kmAssign(vq, kmCents(a)).localCheckpoint()
      a.selectExpr(s"CAST($r AS BIGINT) AS round_no", "vec_id", "cell", "dist")
    }.reduce(_ unionByName _)
  }

  /** q94 — the trace aggregate over [[kmeansRounds]] rows (live or
    * snapshot): the per-round convergence trace a real k-means job
    * watches, round number, member count, and total/mean within-cell
    * squared distance. Lloyd guarantees the total is non-increasing
    * round-over-round; a flat tail says "stop paying for rounds", an
    * INCREASE says the implementation is broken. `dist` is scaled to 1e-6
    * micro-units and summed EXACTLY as int64, so the trace is
    * bit-identical in any engine; the one final division for `mean_dist`
    * is IEEE-exact on integer inputs.
    *
    * NO rounding-boundary guard here, deliberately — unlike the q67/q92/
    * q95/q101 micro recipes, whose ln() inputs can diverge by an ulp
    * between engines, `dist` is an EXACT integer quotient ([[kmeans]]):
    * both engines hold the identical double, `*1e6` is the identical IEEE
    * product, and both round half away from zero (spec-asserted in
    * `SimilarityOpsSpec`), so a boundary flip is structurally impossible.
    * A probabilistic guard would also be a scale landmine: at ~2e-6
    * fire-chance per row-round it is near-certain to kill a 100 TB trace
    * that is in fact perfectly deterministic. */
  def kmeansInertiaOf(roundRows: DataFrame): DataFrame = {
    val micro = "CAST(round(dist * 1e6) AS BIGINT) AS micro"
    roundRows.selectExpr("round_no", micro)
      .groupBy("round_no")
      .agg(count(lit(1)).as("n_vectors"), sum("micro").as("inertia_micro"))
      .selectExpr("round_no", "n_vectors", "inertia_micro",
        "CAST(inertia_micro AS DOUBLE) / (CAST(n_vectors AS DOUBLE) * 1e6) AS mean_dist")
      .orderBy("round_no")
  }

  /** One round's exact inertia, via the SAME q94 aggregate ([[kmeansInertiaOf]]
    * — the recipes cannot drift) collapsed to one driver long: the bounded
    * one-job-per-round convergence check, the
    * [[graft.ops.GraphOps]] connected-components idiom. */
  private def inertiaMicro(assigned: DataFrame): Long =
    kmeansInertiaOf(assigned
        .selectExpr("CAST(1 AS BIGINT) AS round_no", "vec_id", "cell", "dist"))
      .select("inertia_micro").collect()
      // an empty corpus has no per-round group: inertia 0, so the run
      // converges immediately (empty-in-empty-out, like [[kmeans]])
      .headOption.map(_.getLong(0)).getOrElse(0L)

  /** The shared convergence-terminated Lloyd loop: each element is
    * (round_no, checkpointed assignment, exact inertia_micro); the Boolean
    * is TRUE iff the run STOPPED on `stopRule(prev, cur)` (vs exhausting
    * the cap). The graded [[kmeansConvergedTrace]] (relative per-mille
    * eps) and `SimilarityOpsSpec`'s absolute-eps twin consume this one
    * loop, so the stopping mechanics cannot drift. */
  private[graft] def convergedRounds(vq0: DataFrame, k: Int, maxRounds: Int,
                              stopRule: (Long, Long) => Boolean): (Seq[(Int, DataFrame, Long)], Boolean) = {
    val vq = vq0.localCheckpoint() // one quantize pass (the kmRounds note)
    var a = kmAssign(vq, kmCents(kmSeed(vq, k))).localCheckpoint()
    val frames = scala.collection.mutable.ArrayBuffer((1, a, inertiaMicro(a)))
    var rounds = 1
    var stop = false
    while (rounds < maxRounds && !stop) {
      a = kmAssign(vq, kmCents(a)).localCheckpoint()
      val cur = inertiaMicro(a)
      stop = stopRule(frames.last._3, cur)
      rounds += 1
      frames += ((rounds, a, cur))
    }
    (frames.toSeq, stop)
  }

  /** q121's relative stopping tolerance, in per-mille of the previous
    * round's inertia: stop when (prev − cur)·1000 ≤ prev·this. A RELATIVE
    * tolerance is the production convention (an absolute eps 0 pays
    * unbounded rounds for noise-level improvements; an absolute nonzero
    * eps doesn't transfer across corpus scales — inertia grows with N).
    * Integer arithmetic on exact micro inertias (BigInt here, HUGEINT in
    * the oracle), so the stop decision is engine-exact at any magnitude. */
  val KmeansConvEpsPerMille = 1L

  /** q121's round cap — the budget the DuckDB oracle unrolls, so the two
    * sides share one constant (the q87/q94 convention). The unrolled
    * oracle is idempotent PAST the fixpoint (a converged round recomputes
    * the identical assignment), which is what makes a data-dependent stop
    * round gradable by a fixed-depth SQL expansion. */
  val KmeansConvMaxRounds = 8

  /** q121 — CONVERGENCE-TERMINATED K-MEANS, graded: a [[convergedRounds]]
    * run emitted as rows — every round actually PAID, each row carrying the
    * round's exact inertia (the stopping signal q94 publishes) and
    * `stopped` marking the final round of a run that hit the relative
    * [[KmeansConvEpsPerMille]] tolerance (false everywhere when the cap
    * exhausted first). Rounds after the
    * stop are never computed, never emitted — the trace proves both the
    * assignment fixpoint and the round budget a production job would have
    * paid, which is precisely what a fixed-round q87 cannot show.
    *
    * Scale shape: identical to [[kmeans]] per round (one-row broadcast
    * centroid state, row-local argmin fold, checkpointed rounds,
    * round-invariant plan depth — plan-guarded) plus q94's bounded
    * one-row inertia aggregate per round as the stop check; the union of
    * per-round checkpointed frames adds no corpus re-derivation.
    * Determinism: the stop decision compares exact int64 micro inertias
    * (structurally boundary-safe rounding of exact quotients — see
    * [[kmeansInertiaOf]]), so the round count is engine- and
    * partitioning-independent; the oracle unrolls [[KmeansConvMaxRounds]]
    * rounds and re-derives the same stop round from the same trace. */
  def kmeansConvergedTrace(emb: DataFrame, k: Int = KmeansK,
                           maxRounds: Int = KmeansConvMaxRounds,
                           epsPerMille: Long = KmeansConvEpsPerMille): DataFrame = {
    require(maxRounds >= 1,
      s"kmeansConvergedTrace: maxRounds must be >= 1, got $maxRounds")
    val (frames, converged) = convergedRounds(kmVq(emb), k, maxRounds,
      (prev, cur) => (BigInt(prev) - BigInt(cur)) * 1000
        <= BigInt(prev) * epsPerMille)
    val last = frames.size
    frames.map { case (r, fr, im) =>
      fr.selectExpr(s"CAST($r AS BIGINT) AS round_no", "vec_id", "cell", "dist",
        s"CAST(${im}L AS BIGINT) AS inertia_micro",
        s"${converged && r == last} AS stopped")
    }.reduce(_ unionByName _).orderBy("round_no", "vec_id")
  }

  /** q107's sampling fraction — the share of the corpus the balanced
    * sample targets, shared with the oracle. */
  val CellSampleFrac = 0.5

  /** q107 — CLUSTER-BALANCED SAMPLING (topic balancing): an EQUAL
    * per-cell allocation sample over the k-means cells — the
    * DataComp/SemDeDup-style rebalance that stops one crawl-dominant
    * topic from swamping the training mix. Per cell the target is the
    * same t = ⌈frac·N/k⌉ (capped at the cell's own size); membership is
    * the q58/q76 REPLAY-SAFE HASH-THRESHOLD rule — keep iff the 48-bit
    * md5 prefix of vec_id falls under floor(keep_n·2⁴⁸/n) — a row-local
    * filter against a broadcast k-row dial, exact integer cuts on both
    * engines (DECIMAL(38,0) / HUGEINT). Consumes the MATERIALIZED q87
    * round trace's final assignment (the q94 reads-vs-measures division).
    *
    * Scale shape: one map-combinable count per cell (k rows) + one
    * one-row total, crossed and broadcast; the keep rule never shuffles
    * the corpus and has no per-stratum sort — exactly the de-skewed shape
    * q58 was rebuilt into, applied to learned strata. */
  def cellBalancedSample(assign: DataFrame, frac: Double = CellSampleFrac,
                         k: Int = KmeansK): DataFrame =
    assign.select(col("vec_id"), col("cell"))
      .withColumn("u", PipelineOps.md5Prefix48(col("vec_id")))
      .join(broadcast(cellSampleDial(assign, frac, k)), "cell")
      .filter(col("u") < col("cut"))
      .select("cell", "vec_id", "u", "n", "keep_n")
      .orderBy("cell", "vec_id")

  /** The bounded per-cell dial (cell, n, keep_n, cut) behind
    * [[cellBalancedSample]] — ≤ k rows by construction: the artifact a
    * batch job persists so ingest-time consumers
    * ([[graft.streaming.StreamCellSample]]) can apply the SAME keep rule
    * to arriving vectors (the kmeans-centroids / BPE-merges / q101-weights
    * pattern). Sharing this one definition is what makes the stream
    * verdict bit-equal to the batch sample. */
  def cellSampleDial(assign: DataFrame, frac: Double = CellSampleFrac,
                     k: Int = KmeansK): DataFrame = {
    val cells = assign.groupBy("cell").agg(count(lit(1)).as("n"))
    val total = cells.agg(coalesce(sum("n"), lit(0L)).as("total"))
    cells.crossJoin(broadcast(total))
      .withColumn("t",
        ceil(col("total").cast("double") * lit(frac) / lit(k.toDouble)).cast("long"))
      .withColumn("keep_n", least(col("t"), col("n")))
      .selectExpr("cell", "n", "keep_n",
        s"CAST(CAST(keep_n AS DECIMAL(38,0)) * ${PipelineOps.TwoPow48} DIV n AS BIGINT) AS cut")
  }

  /** q110 — CLUSTER QUALITY REPORT (simplified silhouette per cell): the
    * post-hoc evaluation a clustering job publishes next to its centroids —
    * per cell, cohesion (mean squared distance to the OWN centroid) vs
    * separation (mean squared distance to the NEAREST OTHER centroid) and
    * the simplified-silhouette score (mean_other − mean_intra) /
    * max(mean_intra, mean_other) ∈ [−1, 1] — the number a team reads to
    * decide whether k was right before q107's balanced sampler or q85's
    * SemDeDup trusts the cells as topics. Evaluates the FINAL partition
    * under the centroids that partition itself induces (the standard
    * post-hoc convention), consuming the MATERIALIZED q87 round trace
    * (the q94/q107 reads-vs-measures division).
    *
    * Scale shape: one co-keyed join of the assignment snapshot with the
    * quantized corpus (the only corpus shuffle), one k×D map-combined
    * centroid aggregate collapsed to a ONE-ROW broadcast artifact, then a
    * row-local fold over the k centroids (own-cell distance + min-other
    * distance in one pass — O(k·D) per row, [[kmeans]]'s own assign cost)
    * and one bounded ≤ k-group aggregate. No window, no pair join.
    *
    * Determinism: distances are the exact-integer [[KmeansBestExpr]]
    * quotient (one final IEEE division); both are rounded to 1e-6
    * micro-units (structurally boundary-safe — [[kmeansInertiaOf]]'s
    * argument) and summed as int64 —
    * associative, partition-order-free — so per-cell means and the
    * silhouette are single IEEE ops over identical bits in both engines.
    * Fail-loudly: a vector whose own cell is missing from the induced
    * centroid state, or a run with fewer than two populated cells
    * (min-other distance undefined), raises in-plan rather than emitting
    * a poisoned report. */
  def clusterQuality(assign: DataFrame, emb: DataFrame): DataFrame = {
    val assigned = kmVq(emb).join(assign.select("vec_id", "cell"), "vec_id")
    val distE =
      """CAST(aggregate(zip_with(qv, c.sv, (q, s) -> (q * c.n - s) * (q * c.n - s)),
           CAST(0 AS BIGINT), (acc2, x) -> acc2 + x) AS DOUBLE) / CAST(c.n * c.n AS DOUBLE)"""
    val foldE =
      s"""aggregate(cents,
            named_struct('a', CAST(-1 AS DOUBLE), 'b', CAST('Infinity' AS DOUBLE)),
            (acc, c) -> named_struct(
              'a', CASE WHEN c.cell = cell THEN $distE ELSE acc.a END,
              'b', CASE WHEN c.cell = cell THEN acc.b ELSE least(acc.b, $distE) END)) AS ab"""
    // no rounding-boundary branch: the distances are exact integer
    // quotients, bit-identical cross-engine, and both engines round half
    // away from zero — see [[kmeansInertiaOf]]'s scaladoc for why a
    // probabilistic boundary guard here would be a 100 TB landmine
    def micro(src: String, guard: String, name: String): String = {
      val raw = s"ab.$src * 1e6"
      s"""CASE WHEN $guard
               THEN CAST(raise_error('q110: ${name}_guard — missing own cell or <2 populated cells') AS BIGINT)
               ELSE CAST(round($raw) AS BIGINT) END AS $name"""
    }
    assigned.crossJoin(broadcast(kmCents(assigned)))
      .selectExpr("cell", foldE)
      .selectExpr("cell",
        micro("a", "ab.a < 0e0", "am"),
        micro("b", "ab.b = CAST('Infinity' AS DOUBLE)", "bm"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"), sum("am").as("intra_micro"), sum("bm").as("other_micro"))
      .selectExpr("cell", "n", "intra_micro", "other_micro",
        "CAST(intra_micro AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6) AS mean_intra",
        "CAST(other_micro AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6) AS mean_other")
      .selectExpr("cell", "n", "intra_micro", "other_micro", "mean_intra", "mean_other",
        """CASE WHEN greatest(mean_intra, mean_other) = 0e0 THEN 0e0
                ELSE (mean_other - mean_intra) / greatest(mean_intra, mean_other)
           END AS silhouette""")
      .orderBy("cell")
  }

  /** q115 — IVF INDEX HEALTH (posting-list balance report): per cell, the
    * posting-list size, its share of the corpus, and its balance factor
    * n·k/N (1 = perfectly even, >1 = hot), plus the hottest list's factor
    * on every row — the report an ANN service reads before trusting q55's
    * probe cost model. IVF probe latency is the size of the lists a query
    * touches: a hot cell IS the tail latency at 100 TB (every query
    * probing it scans balance× the ideal volume), and a degenerate
    * near-empty cell wastes a centroid. The load-balance twin of q110's
    * geometric quality report, consuming the same MATERIALIZED q87 trace.
    *
    * Scale shape: ONE map-combinable ≤ k-row count aggregate, collapsed
    * to a one-row total broadcast back over the ≤ k rows. The corpus is
    * touched exactly once. Determinism: counts are exact int64; share and
    * the balance factors are single IEEE divisions of exact integer
    * products — identical bits on both engines.
    *
    * `k` is the index's TRUE centroid count, passed explicitly (the
    * [[cellSampleDial]] convention): deriving it from the populated-cell
    * count would make empty posting lists invisible AND normalize every
    * balance factor against the wrong k (4 populated cells of a k=8
    * index would all read balance 1.0 while really carrying 2× the even
    * load). An empty cell emits no per-cell row; `n_empty_cells` on
    * every row is the wasted-centroid count. */
  def ivfHealth(assign: DataFrame, k: Int = KmeansK): DataFrame = {
    val cells = assign.groupBy("cell").agg(count(lit(1)).as("n_vecs"))
    val tot = cells.agg(sum("n_vecs").as("n_total"),
      (lit(k.toLong) - count(lit(1))).as("n_empty_cells"),
      max("n_vecs").as("max_vecs"))
    // empty-assignment guard (the q109 union-a-raising-row pattern): with
    // ZERO assignment rows the per-cell projection below never evaluates,
    // so the wrong-dial raise can't fire and the report would be silently
    // empty — exactly what a truncated/stale materialized q87 snapshot
    // looks like. `tot` always has one row; n_total is NULL iff no cells.
    val guard = tot.filter(col("n_total").isNull)
      .selectExpr(
        "CAST(raise_error('q115: empty assignment — stale/truncated centroid snapshot? The health report would silently cover nothing') AS BIGINT) AS cell",
        "CAST(NULL AS BIGINT) AS n_vecs", "CAST(NULL AS BIGINT) AS n_total",
        "CAST(NULL AS BIGINT) AS n_cells", "CAST(NULL AS BIGINT) AS n_empty_cells",
        "CAST(NULL AS DOUBLE) AS share", "CAST(NULL AS DOUBLE) AS balance",
        "CAST(NULL AS DOUBLE) AS worst_balance")
    cells.crossJoin(broadcast(tot))
      .selectExpr("cell", "n_vecs", "n_total", s"CAST($k AS BIGINT) AS n_cells",
        // a k smaller than the populated-cell count means the caller
        // passed the WRONG dial — every balance factor would silently
        // understate; fail loudly (the StreamCellSample artifact contract)
        s"""CASE WHEN n_empty_cells < 0
                 THEN CAST(raise_error(concat('q115: assignment has more populated cells than k=$k — wrong dial (', CAST($k - n_empty_cells AS STRING), ' cells observed)')) AS BIGINT)
                 ELSE n_empty_cells END AS n_empty_cells""",
        "CAST(n_vecs AS DOUBLE) / CAST(n_total AS DOUBLE) AS share",
        s"CAST(n_vecs * $k AS DOUBLE) / CAST(n_total AS DOUBLE) AS balance",
        s"CAST(max_vecs * $k AS DOUBLE) / CAST(n_total AS DOUBLE) AS worst_balance")
      .unionByName(guard)
      .orderBy("cell")
  }

  /** q118 — EMBEDDING INTEGRITY AUDIT: the one-row data-quality report an
    * indexing job runs BEFORE building anything on the embedding column —
    * null vectors, wrong-dimension vectors, zero-norm vectors (cosine is
    * undefined on them: they poison every ANN/dedup/contamination stage),
    * and the exact quantized-norm² range/mean of the healthy rest. The
    * ingest-side counterpart is `StreamSemanticGuard`'s malformed-arrival
    * raise; this is the batch census a release publishes.
    *
    * Scale shape: ONE map-combinable row-local pass (flags + a per-row
    * integer fold), collapsed to a single row — no shuffle beyond the
    * final combine. Determinism: norm² is the exact int64 sum of squared
    * 1e-3-quantized coords (the q85 `q3` recipe); min/max/sum are exact,
    * the mean is one IEEE division. */
  def embeddingAudit(emb: DataFrame): DataFrame =
    emb.selectExpr(
        "CAST(embedding IS NULL AS BIGINT) AS is_null",
        s"CAST(embedding IS NOT NULL AND size(embedding) != $Dim AS BIGINT) AS bad_dim",
        s"""CASE WHEN embedding IS NULL OR size(embedding) != $Dim THEN CAST(NULL AS BIGINT)
                 ELSE aggregate(transform(embedding,
                        x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)),
                      CAST(0 AS BIGINT), (a, q) -> a + q * q)
            END AS n2q""")
      .agg(
        count(lit(1)).as("n_vectors"),
        coalesce(sum("is_null"), lit(0L)).as("n_null"),
        coalesce(sum("bad_dim"), lit(0L)).as("n_bad_dim"),
        // coalesce: a fixture whose rows are ALL malformed leaves n2q
        // NULL everywhere — the zero-norm COUNT is then 0, not NULL
        coalesce(sum(expr("CAST(n2q = 0 AS BIGINT)")), lit(0L)).as("n_zero_norm"),
        // the range/mean describe the HEALTHY rest only — a zero-norm
        // vector is flagged, not averaged in (it would drag the very
        // norm-scale sanity number the flag exists to protect)
        min(expr("nullif(n2q, 0)")).as("min_n2q"),
        max(expr("nullif(n2q, 0)")).as("max_n2q"),
        sum(expr("nullif(n2q, 0)")).as("sum_n2q"))
      .selectExpr("n_vectors", "n_null", "n_bad_dim", "n_zero_norm",
        "min_n2q", "max_n2q", "sum_n2q",
        // 0.0 sentinel when NO healthy vector exists (a NULL here would
        // throw in typed readers; the zero flags tell the real story)
        """CASE WHEN n_vectors - n_null - n_bad_dim - n_zero_norm = 0 THEN 0e0
                ELSE CAST(sum_n2q AS DOUBLE)
                     / (CAST(n_vectors - n_null - n_bad_dim - n_zero_norm AS DOUBLE) * 1e6)
           END AS mean_n2""")

  /** q124 — EMBEDDING MOMENTS: the exact per-dimension-pair second-moment
    * table (mean vector + upper-triangle covariance) — the artifact PCA /
    * whitening / OPQ rotation training starts from, and the drift census
    * two embedding-model versions are compared by. Emits one row per
    * (i ≤ j) pair: n, both means, and the covariance, all derived from
    * exact milli-unit integer sums (the q118 quantization recipe) so the
    * table is hash-identical cross-engine — covariance numerators are
    * DECIMAL(38,0) (no overflow at any corpus size), each emitted figure
    * one correctly-rounded cast + IEEE division.
    *
    * Scale shape: ONE corpus pass builds the flattened upper-triangle
    * product array per row and explodes it STRAIGHT INTO a partial
    * (map-combinable) aggregate — the D(D+1)/2-per-row stream never
    * materializes, no self-join, and only the ≤ 2 080 agg states shuffle;
    * the per-dimension sums ride a second bounded aggregate joined back
    * broadcast. CPU is the O(N·D²) inherent to covariance; memory and
    * shuffle are bounded by D². A malformed vector fails LOUDLY (the q109
    * arrival-guard contract): a null/ragged row would silently skew every
    * moment, and q118 is the census that counts them upstream. */
  def embeddingMoments(emb: DataFrame, dim: Int = Dim): DataFrame =
    // the native graft_trisum aggregate folds each row's upper triangle
    // into one long[] buffer per partition (tight JVM loop, one ≤ 17 KB
    // state shuffled per partition, integer adds — partitioning-independent)
    momentsFrom(emb, dim) { (q, _) =>
      q.agg(expr(s"graft_trisum(qv, $dim)").as("tri"), count(lit(1)).as("n"))
        .selectExpr("n", "posexplode(tri) AS (pos, xy)")
        .selectExpr("pos", "n", "CAST(xy AS DECIMAL(38,0)) AS sxy")
    }

  /** The moments around a product-sum step: `prods(q, triangle)` turns the
    * quantized rows (`qv`) into (pos, n, sxy) sums over the upper triangle
    * `triangle` enumerates (a format string over `i`, `j`), so
    * `SimilarityOpsSpec`'s built-ins-only twin shares everything else. */
  private[graft] def momentsFrom(emb: DataFrame, dim: Int)(
      prods: (DataFrame, String) => DataFrame): DataFrame = {
    graft.expressions.GraftFunctions.register(emb.sparkSession)
    val q = emb.selectExpr(
      s"""CASE WHEN embedding IS NULL OR size(embedding) != $dim
               THEN CAST(raise_error('q124: malformed embedding (null or wrong dimension) — moments would silently skew; run the q118 audit') AS ARRAY<BIGINT>)
               ELSE transform(embedding,
                      x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT))
          END AS qv""")
    val sums = q.selectExpr("posexplode(qv) AS (i, qc)")
      .groupBy("i")
      .agg(sum(col("qc").cast("decimal(38,0)")).as("s"))
    // position → (i, j) decode: a bounded D(D+1)/2-row table built once
    // from the SAME triangle enumeration order the accumulators use and
    // joined back broadcast (positions cannot drift from the products)
    val triangle = s"""flatten(transform(sequence(0, ${dim - 1}), i ->
                         transform(sequence(i, ${dim - 1}), j -> %s)))"""
    val posMap = emb.sparkSession.range(1).selectExpr(
        s"posexplode(${triangle.format("struct(i AS i, j AS j)")}) AS (pos, ij)")
      .selectExpr("pos", "ij.i AS i", "ij.j AS j")
    prods(q, triangle)
      .join(broadcast(posMap), "pos")
      .join(broadcast(sums.select(col("i"), col("s").as("si"))), "i")
      .join(broadcast(sums.select(col("i").as("j"), col("s").as("sj"))), "j")
      .selectExpr("CAST(i AS INT) AS i", "CAST(j AS INT) AS j", "n",
        "CAST(si AS DOUBLE) / (CAST(n AS DOUBLE) * 1e3) AS mean_i",
        "CAST(sj AS DOUBLE) / (CAST(n AS DOUBLE) * 1e3) AS mean_j",
        """CAST(CAST(n AS DECIMAL(38,0)) * sxy - si * sj AS DOUBLE)
           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1e6) AS cov""")
      .orderBy("i", "j")
  }

  /** q127 — EMBEDDING DRIFT CENSUS: per label, the cosine between the
    * label's centroid in each HALF of the corpus (halves dealt by the
    * stateless md5 rule — the stand-in for two crawl snapshots or two
    * embedding-model versions sharing a corpus). cos ≈ 1 means the
    * label's region is stable; a drifting label is the first thing an
    * index rebuild or a model-version bump must re-examine. The count
    * factors cancel in the cosine, so it is computed directly on the
    * per-dimension SUM vectors — exact milli-unit integers end-to-end
    * (DECIMAL(38,0)/HUGEINT products — no overflow at any corpus size),
    * then one correctly-rounded cast and one IEEE sqrt/divide per label.
    *
    * Scale shape: ONE co-keyed aggregate — posexplode to (label, dim)
    * with the half folded CONDITIONALLY into both sum columns (no second
    * shuffle, no self-join), then a bounded |labels|·D → |labels|
    * aggregate. A label missing from one half (or with a zero-norm sum
    * vector) reports NULL drift rather than a NaN. Malformed embeddings
    * raise (the q124 contract). */
  def embeddingDrift(emb: DataFrame): DataFrame = {
    val comp = emb.selectExpr(
        "CAST(label AS BIGINT) AS label",
        s"pmod(conv(substring(md5(CAST(vec_id AS STRING)), 1, 2), 16, 10), 2) AS half",
        s"""CASE WHEN embedding IS NULL OR size(embedding) != $Dim
                 THEN CAST(raise_error('q127: malformed embedding (null or wrong dimension) — drift would silently skew; run the q118 audit') AS ARRAY<BIGINT>)
                 ELSE transform(embedding,
                        x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT))
            END AS qv""")
      .select(col("label"), col("half"), posexplode(col("qv")).as(Seq("dim", "q")))
    val g = comp.groupBy("label", "dim")
      .agg(
        coalesce(sum(when(col("half") === 0, col("q")).cast("decimal(38,0)")),
          lit(0L).cast("decimal(38,0)")).as("sa"),
        coalesce(sum(when(col("half") === 1, col("q")).cast("decimal(38,0)")),
          lit(0L).cast("decimal(38,0)")).as("sb"),
        sum(when(col("half") === 0, 1L).otherwise(0L)).as("na_d"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("nb_d"))
    g.groupBy("label")
      .agg(
        sum(expr("sa * sb")).as("sab"),
        sum(expr("sa * sa")).as("saa"),
        sum(expr("sb * sb")).as("sbb"),
        max("na_d").as("n_a"),
        max("nb_d").as("n_b"))
      .selectExpr("label", "n_a", "n_b",
        """CASE WHEN n_a = 0 OR n_b = 0 OR saa = 0 OR sbb = 0
                THEN CAST(NULL AS DOUBLE)
                ELSE CAST(sab AS DOUBLE)
                     / (sqrt(CAST(saa AS DOUBLE)) * sqrt(CAST(sbb AS DOUBLE)))
           END AS drift_cos""")
      .orderBy("label")
  }

  /** Cosine threshold for [[semanticDedup]] — sized to the test corpus's
    * intra-cell cosine distribution (p97 ≈ 0.24, max 0.47) so both verdicts
    * are exercised; a runtime dial like the LSH band constants (the paper
    * uses ~0.95+ on real embedding spaces). */
  val SemDedupMinCos = 0.25

  /** [[semanticDedup]]'s within-cell pair budget: the in-plan guard
    * `raise_error`s when any cell exceeds this many members, because the
    * within-cell self-join is O(cell²) BY DESIGN — the paper's cost model
    * holds only while the cluster count grows with the corpus (~√n cells
    * keeps E[cell] ≈ √n). A cell past the budget means the corpus outgrew
    * the clustering; the fix is more cells (a re-learned k), never a
    * silent quadratic. 10⁴ members ≈ 5·10⁷ pairs
    * per cell — the most a single reducer should ever be handed. */
  val SemDedupMaxCell = 10000L

  /** q85 — SEMANTIC DEDUP (Abbas/Tirumala et al., "SemDeDup: Data-Efficient
    * Learning at Web-Scale through Semantic Deduplication", 2023): cluster
    * the embedding space, call two documents semantic duplicates when their
    * cosine inside a shared cluster exceeds a threshold, and keep one
    * representative per duplicate set. This is the dedup layer ABOVE
    * q37/q40/q84: paraphrases and re-renderings share no tokens, so no
    * lexical pass can see them — only the embedding geometry can.
    *
    * Verdict per vector: DROP iff some LOWER-id member of its cell is
    * ≥ `minCos` similar (the paper keeps a per-group representative chosen
    * by a tie-broken rule; lowest-id is the deterministic choice), i.e.
    * keep = no qualifying lower neighbor. `n_dups` counts those neighbors.
    *
    * Scale shape, exactly the paper's trade: candidate pairs exist ONLY
    * within a cell (the cluster count must grow with the corpus, bounding
    * E[cell²]; the all-pairs-within-cluster cost is the algorithm, not an
    * accident — and the `maxCell` guard fails loudly the moment a cell
    * outgrows that contract instead of silently going quadratic).
    * The candidate self-join carries only (vec_id, cell); vectors are
    * gathered co-keyed AFTERWARDS, keeping the 512-byte payloads out of
    * the candidate shuffle ([[embeddingDups]]'s idiom). The final verdict
    * is one left anti-ish aggregate join back to the assignment table.
    *
    * Cells: the graded default assigns to the per-label centroids via
    * [[cellDist]]'s exact-integer argmin (deterministic in any engine). */
  def semanticDedup(emb: DataFrame, minCos: Double = SemDedupMinCos,
                    maxCell: Long = SemDedupMaxCell): DataFrame = {
    val byDist = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("dist"), col("cell"))
    val assigned = cellDist(emb)
      .withColumn("rn", row_number().over(byDist))
      .filter(col("rn") === 1).select("vec_id", "cell")
    semanticDedupOn(emb, assigned, minCos, maxCell)
  }

  /** Shared within-cell dedup pass over an (vec_id, cell) assignment.
    * The cell-size guard rides IN-PLAN on the assignment subtree (the q84
    * `raise_error` idiom): a CELL-partitioned window count — the same
    * hash partitioning the candidate self-join shuffles to anyway, so the
    * guard adds no extra exchange and fires before any oversized
    * self-join can run. */
  private def semanticDedupOn(emb: DataFrame, rawAssigned: DataFrame,
                              minCos: Double, maxCell: Long): DataFrame = {
    val byCell = org.apache.spark.sql.expressions.Window.partitionBy("cell")
    val assigned = rawAssigned
      .withColumn("csz", count(lit(1)).over(byCell))
      .selectExpr("vec_id",
        s"""CASE WHEN csz > ${maxCell}L
                 THEN CAST(raise_error(concat('q85: cell ', CAST(cell AS STRING),
                        ' has ', CAST(csz AS STRING), ' members — past the ',
                        CAST(${maxCell}L AS STRING), '-member within-cell pair budget; ',
                        'the cell count must grow with the corpus (use more cells)')) AS BIGINT)
                 ELSE cell END AS cell""")
    val cand = assigned.as("x").join(assigned.as("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
      .selectExpr("x.vec_id AS a_id", "y.vec_id AS b_id")
    val all = vecs(emb)
    val dropped = cand
      .join(all.selectExpr("vec_id AS a_id", "v AS va", "n2 AS na"), "a_id")
      .join(all.selectExpr("vec_id AS b_id", "v AS vb", "n2 AS nb"), "b_id")
      .selectExpr("a_id", "b_id",
        s"${sparkDot("va", "vb")} / (sqrt(na) * sqrt(nb)) AS cos")
      .filter(col("cos") >= minCos)
      .groupBy(col("b_id").as("vec_id")).agg(count(lit(1)).as("n_dups"))
    assigned.join(dropped, Seq("vec_id"), "left")
      .selectExpr("vec_id", "cell",
        "CAST(coalesce(n_dups, 0) AS BIGINT) AS n_dups",
        "n_dups IS NULL AS keep")
      .orderBy("vec_id")
  }

  /** Attach the exact embedding cosine to an (a_id, b_id) pair table — the
    * cross-modal join primitive: candidate pairs from ANY modality (text
    * LSH, simhash, metadata) gathered against the vector table on the
    * shared id. Two co-keyed joins; the pair table is the small side at
    * candidate scale. Used by q59 (text near-dups × embedding similarity). */
  /** q99 — COSINE THRESHOLD CALIBRATION: the curve an operator reads to
    * set SemDeDup's cosine cutoff ([[SemDedupMinCos]]) — LSH near-dup
    * pairs bucketed by embedding cosine (0.05-wide bins), with the
    * fraction of each bin the TEXT pass already calls a duplicate
    * (jac ≥ 0.5). Where textdup_frac collapses toward 0 while pairs
    * remain is exactly the paraphrase band semantic dedup exists for.
    *
    * Consumes the materialized q37 pair table enriched by [[pairCosine]]
    * (the q59 shape, so the inputs are hash-verified); one bounded
    * aggregate (≤ 40 bins). Determinism: cos is bit-identical
    * cross-engine (q59 grades it), floor is exact on identical doubles —
    * no rounding path, so no boundary guard is needed; counts are exact
    * integers and the two ratios single IEEE divisions. */
  /** q99's "the text pass already calls it a duplicate" Jaccard bar,
    * shared with the oracle (one dial definition). */
  val CalibTextDupJac = 0.5

  def cosineCalibration(pairCos: DataFrame): DataFrame =
    pairCos.selectExpr(
        "CAST(floor(cos * 20) AS BIGINT) AS bin",
        s"CASE WHEN jac >= $CalibTextDupJac THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS td")
      .groupBy("bin")
      .agg(count(lit(1)).as("n_pairs"), sum("td").as("n_textdup"))
      .selectExpr("bin",
        "CAST(bin AS DOUBLE) / 20 AS cos_lo",
        "n_pairs", "n_textdup",
        "CAST(n_textdup AS DOUBLE) / CAST(n_pairs AS DOUBLE) AS textdup_frac")
      .orderBy("bin")

  def pairCosine(pairs: DataFrame, emb: DataFrame): DataFrame = {
    val all = vecs(emb)
    pairs
      .join(all.selectExpr("vec_id AS a_id", "v AS va", "n2 AS na"), "a_id")
      .join(all.selectExpr("vec_id AS b_id", "v AS vb", "n2 AS nb"), "b_id")
      .withColumn("cos", expr(s"${sparkDot("va", "vb")} / (sqrt(na) * sqrt(nb))"))
      .drop("va", "vb", "na", "nb")
  }

  /** q44 — per-label centroids in long format (label, dim, centroid, n).
    * Element values are quantized to exact 1e-6 integers before the sum, so
    * the aggregate is order-independent (same trick as [[Exact]]). */
  def labelCentroids(emb: DataFrame): DataFrame =
    emb.select(col("label").cast("long").as("label"), posexplode(col("embedding")))
      .select(col("label"), col("pos").cast("long").as("dim"),
        expr("CAST(ROUND(CAST(col AS DOUBLE) * 1000000) AS BIGINT)").as("q"))
      .groupBy("label", "dim")
      .agg((sum("q") / (lit(1000000.0) * count(lit(1)))).as("centroid"),
        count(lit(1)).as("n"))
      .orderBy("label", "dim")

  // ---- DuckDB oracles (1-based array indexing) ----
  private def duckDot(a: String, b: String): String =
    dotChain((1 to Dim).map(d => s"$a[$d] * $b[$d]"))

  /** Shared CTE prelude of the k-means oracles (q87/q94): quantization,
    * the a0 seed — the k LOWEST vec_ids, matching [[kmSeed]]'s top-k take
    * — and one (cells, dist, a) CTE triple per round, generated from the
    * same (K, rounds) constants as the Spark loop so the sides cannot
    * drift on round count or seeding. */
  private def kmOracleCtes(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""cells$r AS (SELECT cell, d, SUM(q3) AS sq, COUNT(*) AS n
                      FROM a${r - 1} JOIN q3 USING (vec_id) GROUP BY 1, 2),
          dist$r AS (SELECT q3.vec_id, c.cell,
                            CAST(SUM((q3.q3 * c.n - c.sq) * (q3.q3 * c.n - c.sq)) AS DOUBLE)
                              / CAST(MAX(c.n) * MAX(c.n) AS DOUBLE) AS dist
                     FROM q3 JOIN cells$r c ON q3.d = c.d GROUP BY 1, 2),
          a$r AS (SELECT vec_id, cell, dist FROM (
                    SELECT vec_id, cell, dist,
                           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
                    FROM dist$r) WHERE rn = 1)"""
    }.mkString(",\n")
    s"""q3 AS (SELECT vec_id, i - 1 AS d,
                      CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS q3
               FROM embeddings, range(1, ${Dim + 1}) t(i)),
        a0 AS (SELECT vec_id, CAST(vec_id AS BIGINT) AS cell FROM embeddings
               ORDER BY vec_id LIMIT $KmeansK),
        $roundCtes"""
  }

  /** Same banded key as [[graft.expressions.HyperplaneBands]]: exact
    * integer plane dots over the
    * 1e-6-quantized vector; the plane weight is the same integer formula
    * inlined as SQL arithmetic (list_sum over BIGINTs is exact, so fold
    * order is irrelevant — structural cross-engine determinism). */
  private def duckBandKey(v: String, band: Int, planesPerBand: Int): String = {
    val bits = (0 until planesPerBand).map { p =>
      val g = band * planesPerBand + p
      s"""(CASE WHEN list_sum(list_transform(range(1, ${Dim + 1}),
            d -> CAST(ROUND($v[d] * 1000000) AS BIGINT)
                 * (((${1009 * g} + 31 * (d - 1) + 7) % 19) - 9))) > 0
          THEN ${1L << p}::BIGINT ELSE 0::BIGINT END)"""
    }
    bits.mkString(s"(${band.toLong << planesPerBand}::BIGINT + ", " + ", ")")
  }

  private def duckBandList(v: String): String =
    (0 until VBands).map(b => duckBandKey(v, b, PlanesPerBand)).mkString("[", ", ", "]")

  /** q74 — int8 STORAGE QUANTIZATION: per-vector symmetric scale quantize
    * (scale = max|v| / 127, q_i = round(v_i / scale) ∈ [-127, 127]) — the
    * standard 4× embedding compression for serving/storage, with per-vector
    * reconstruction error reported. Entirely row-local (fused into the
    * scan at any scale). All outputs are either exact integers or doubles
    * produced by the identical IEEE op sequence in both engines (float →
    * double cast, one division, round — both engines round half away from
    * zero — multiply, subtract, abs, max), so the oracle hash-compares the
    * raw doubles with no rounding machinery. */
  /** The (vec_id, arr, scale, q) code stage shared by q74 and q75. */
  private def int8Codes(emb: DataFrame): DataFrame =
    emb.selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS arr")
      .selectExpr("vec_id", "arr",
        "array_max(transform(arr, x -> abs(x))) / 127e0 AS scale")
      .selectExpr("vec_id", "arr", "scale",
        """transform(arr, x -> CASE WHEN scale = 0e0 THEN CAST(0 AS BIGINT)
             ELSE CAST(round(x / scale) AS BIGINT) END) AS q""")

  def quantizeInt8(emb: DataFrame): DataFrame =
    int8Codes(emb)
      .selectExpr("vec_id", "scale",
        "aggregate(q, CAST(0 AS BIGINT), (a, x) -> a + x) AS sum_q",
        "aggregate(q, CAST(0 AS BIGINT), (a, x) -> a + x * x) AS sum_q2",
        "array_max(zip_with(arr, q, (x, qi) -> abs(x - CAST(qi AS DOUBLE) * scale))) AS max_err")
      .orderBy("vec_id")

  /** q75 — ADC (asymmetric distance computation) search over the int8
    * codes: the full-precision query scores against each vector's CODES
    * (score = scale · Σ qv_i·code_i), i.e. search runs on the compressed
    * corpus — the serving pattern the quantization exists for. Ranking is
    * deterministic cross-engine because the dot is the same left-assoc
    * chain as q42's and the code values are exact integers; at scale the
    * plan is q42's (broadcast bounded query side, corpus never shuffled),
    * with the corpus side 4× smaller on disk. Accuracy vs the exact-cosine
    * ranking is asserted in `SimilarityOpsSpec`. */
  def adcAnn(emb: DataFrame): DataFrame = {
    graft.expressions.GraftFunctions.register(emb.sparkSession)
    val codes = int8Codes(emb)
      .selectExpr("vec_id AS n_id", "scale", "CAST(q AS ARRAY<DOUBLE>) AS qd")
    val queries = emb.filter(col("vec_id") < NumQueries)
      .selectExpr("vec_id AS q_id", "CAST(embedding AS ARRAY<DOUBLE>) AS qv")
    broadcast(queries).join(codes, col("q_id") =!= col("n_id"))
      .selectExpr("q_id", "n_id", s"scale * ${sparkDot("qv", "qd")} AS adc")
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(desc("adc"), col("n_id"))).cast("long"))
      .filter(col("rank") <= TopK)
      .orderBy("q_id", "rank")
  }

  /** q133 — PER-DIMENSION AFFINE SQ8 DIAL + ERROR CENSUS: train the
    * FAISS-style `ScalarQuantizer(QT_8bit)` artifact — per dimension, the
    * corpus [lo, hi] range mapped affinely onto the 256 int8 codes — and
    * report, per dimension, how much the corpus loses to it (codes used,
    * max |err|, SSE, MSE). This is the CORPUS-TRAINED counterpart of q74's
    * row-local per-vector symmetric scheme: q74 needs no training pass but
    * wastes codes on narrow dimensions; the affine dial is the one serving
    * stacks actually ship, and this census is the accept/reject evidence.
    *
    * Exactness: values quantize to milli-unit integers first (the
    * q118/q124 recipe), so the trained dial is exact; code and dequantized
    * value are round-half-up integer rationals computed with nonneg
    * numerator/denominator — `DIV` (Spark) and `//` (DuckDB) agree on
    * nonnegative operands, so every figure is hash-identical cross-engine.
    *
    * Scale shape: ONE bounded aggregate over the posexploded corpus trains
    * the D-row dial, which joins back BROADCAST (the q87 centroid-state
    * pattern); code/err are then row-local and the census is a second
    * map-combinable D-row aggregate. No window, no self-join; the explode
    * is recomputed rather than cached (row-local, cheaper than a 100 TB
    * materialization). A malformed vector fails LOUDLY (q124 contract). */
  def scalarQuantCensus(emb: DataFrame, dim: Int = Dim): DataFrame = {
    val e = emb.selectExpr(
      s"""CASE WHEN embedding IS NULL OR size(embedding) != $dim
               THEN CAST(raise_error('q133: malformed embedding (null or wrong dimension) — the trained dial would silently skew; run the q118 audit') AS ARRAY<BIGINT>)
               ELSE transform(embedding,
                      x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT))
          END AS qv""")
      .selectExpr("posexplode(qv) AS (i, m)")
    val dial = e.groupBy("i")
      .agg(min("m").as("lo"), max("m").as("hi"))
    e.join(broadcast(dial), "i")
      .selectExpr("i", "m", "lo", "hi",
        """CASE WHEN hi = lo THEN CAST(0 AS BIGINT)
                ELSE ((m - lo) * 510 + (hi - lo)) DIV (2 * (hi - lo)) END AS code""")
      .selectExpr("i", "m", "lo", "hi", "code",
        "lo + (code * (hi - lo) * 2 + 255) DIV 510 AS deq")
      .groupBy("i", "lo", "hi")
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("code")).as("n_codes_used"),
        max(expr("abs(m - deq)")).as("max_abs_err_milli"),
        sum(expr("(m - deq) * (m - deq)")).as("sse_milli2"))
      .selectExpr("CAST(i AS INT) AS dim", "n",
        "lo AS lo_milli", "hi AS hi_milli", "n_codes_used",
        "max_abs_err_milli", "sse_milli2",
        "CAST(sse_milli2 AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6) AS mse")
      .orderBy("dim")
  }

  /** q145's projected dimensionality… */
  val ProjDims = 16
  /** …and plane-index base: offset into the shared integer plane family
    * so the JL planes are independent draws from the LSH band planes. */
  val JlPlaneBase = 1000
  /** E[w²] of the [[plane]] family — values −9…9 uniform: 570/19 = 30
    * EXACTLY, so the distortion denominator is an exact integer. */
  val PlaneMeanSq = 30L

  /** q145 — JOHNSON–LINDENSTRAUSS RANDOM PROJECTION + distortion census:
    * every embedding projected to [[ProjDims]] dimensions against fixed
    * deterministic integer planes, with the per-vector norm-distortion
    * ratio ‖Pv‖² / (E[w²]·K·‖v‖²) — the dimension-reduction artifact
    * (and its acceptance evidence) an ANN/clustering pipeline computes
    * before trading 64 floats for 16. E[ratio] = 1 by the JL argument;
    * its concentration IS the census.
    *
    * Determinism: the vector quantizes to exact 1e-6 integers (the
    * [[QuantizeExpr]] recipe) and the planes are integers, so every
    * projected coordinate is exact int64 arithmetic (graded via the md5
    * fingerprint of the K coordinates); norms are exact integer sums and
    * the ratio one IEEE division. Integer headroom is structural: the
    * fail-loud |x| ≤ 1 guard bounds micro values by 10⁶, so
    * |p_j| ≤ 9·64·10⁶ < 6·10⁸ and Σp² ≤ 16·3.4·10¹⁷ < 2⁶³.
    *
    * Scale shape: ONE row-local projection pass — K native integer dots
    * per row against literal plane arrays, no shuffle, no join; the
    * output sort is the only exchange. */
  def jlProjection(emb: DataFrame, k: Int = ProjDims): DataFrame = {
    graft.expressions.GraftFunctions.register(emb.sparkSession)
    val quant = emb.selectExpr("vec_id",
      s"""CASE WHEN embedding IS NULL OR size(embedding) != $Dim
               THEN CAST(raise_error('q145: malformed embedding (null or wrong dimension) — run the q118 audit') AS ARRAY<BIGINT>)
               WHEN exists(embedding, x -> x IS NULL OR abs(CAST(x AS DOUBLE)) > 1.0D)
               THEN CAST(raise_error('q145: embedding element null or |x| > 1 — the int64 projection bound assumes unit-scale inputs') AS ARRAY<BIGINT>)
               ELSE transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
          END AS vq""")
    val projCols = (0 until k).map { j =>
      val wq = (0 until Dim).map(d => s"${plane(JlPlaneBase + j, d)}L")
        .mkString("array(", ", ", ")")
      s"graft_dotl(vq, $wq) AS p$j"
    }
    val fp = (0 until k).map(j => s"CAST(p$j AS STRING)")
      .mkString("md5(concat_ws(',', ", ", ", ")) AS proj_fp")
    val sumsq = (0 until k).map(j => s"p$j * p$j")
      .mkString("(", " + ", ") AS proj_norm2")
    quant
      .selectExpr(("vec_id" +: projCols) :+ "graft_dotl(vq, vq) AS vec_norm2": _*)
      .selectExpr("vec_id", fp, sumsq, "vec_norm2")
      .selectExpr("vec_id", "proj_fp", "proj_norm2", "vec_norm2",
        s"""CASE WHEN vec_norm2 = 0 THEN CAST(NULL AS DOUBLE)
                 ELSE CAST(proj_norm2 AS DOUBLE) /
                      CAST($PlaneMeanSq * $k * vec_norm2 AS DOUBLE) END AS distortion""")
      .orderBy("vec_id")
  }

  /** The q145 oracle: identical integer plane chains (explicit 64-term
    * sums — the q43 oracle idiom), identical fingerprint text. */
  private lazy val q145Sql: String = {
    val projDefs = (0 until ProjDims).map { j =>
      (0 until Dim).map(d => s"${plane(JlPlaneBase + j, d)} * vq[${d + 1}]")
        .mkString("(", " + ", s") AS p$j")
    }.mkString(",\n               ")
    val normChain = (0 until Dim).map(d => s"vq[${d + 1}] * vq[${d + 1}]")
      .mkString("(", " + ", ")")
    val fp = (0 until ProjDims).map(j => s"CAST(p$j AS VARCHAR)")
      .mkString("md5(concat_ws(',', ", ", ", "))")
    val sumsq = (0 until ProjDims).map(j => s"p$j * p$j")
      .mkString("(", " + ", ")")
    s"""WITH q AS (SELECT vec_id, list_transform(embedding,
                     x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS vq
                   FROM embeddings),
        p AS (SELECT vec_id,
               $projDefs,
               $normChain AS vec_norm2
              FROM q)
        SELECT vec_id, $fp AS proj_fp, $sumsq AS proj_norm2, vec_norm2,
               CASE WHEN vec_norm2 = 0 THEN CAST(NULL AS DOUBLE)
                    ELSE CAST($sumsq AS DOUBLE) /
                         CAST($PlaneMeanSq * $ProjDims * vec_norm2 AS DOUBLE) END AS distortion
        FROM p ORDER BY vec_id"""
  }

  private lazy val q59Sql: String =
    s"""WITH t AS (${graft.ops.DedupOps.oracles("q37_lsh_pairs")}),
        vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        n AS (SELECT vec_id, v, ${duckDot("v", "v")} AS n2 FROM vecs)
        SELECT t.a_id AS a_id, t.b_id AS b_id, t.jac AS jac,
               ${duckDot("x.v", "y.v")} / (sqrt(x.n2) * sqrt(y.n2)) AS cos
        FROM t JOIN n x ON t.a_id = x.vec_id
               JOIN n y ON t.b_id = y.vec_id
        ORDER BY a_id, b_id"""

  /** q199's dials: per-ranker candidate depth, shipped fused depth, the
    * classic RRF damping k = 60 (Cormack et al.'s constant), the nano
    * scale of the exact integer contribution, and the query-by-example
    * vector. */
  val RrfDepth = 50
  val RrfTop = 20
  val RrfK = 60L
  val RrfScale = 1000000000L
  val RrfQueryVec = 0L

  /** q199 — RECIPROCAL-RANK FUSION: hybrid search, the production
    * retrieval stack's ensemble step — a lexical ranker (q67's BM25 over
    * the fixed term query) and a vector ranker (cosine against the
    * query-by-example embedding, q42's scoring) each nominate their top
    * [[RrfDepth]], and RRF merges them on RANKS alone:
    * `score = Σ_r ⌊10⁹ / (60 + rank_r)⌋` — exact integers, so the fused
    * ordering cannot drift cross-engine even though one ranker's score
    * is a logarithm and the other's a square root. Rank-based fusion is
    * the standard answer to fusing incommensurable scores (BM25 is
    * unbounded, cosine lives in [−1, 1]); items nominated by one ranker
    * only lose the other's contribution, and `in_both` marks consensus.
    *
    * Scale shape: the lexical side is q67's vocabulary-selective scan;
    * the vector side broadcasts ONE query against the corpus scan with
    * `orderBy(cos).limit(depth)` planned as TakeOrderedAndProject
    * (map-side partial top-N — no full sort, no corpus window); ranks,
    * the full-outer fusion, and the final sort all run on ≤ 2·depth
    * rows. Item universes may differ per ranker (text corpus vs
    * embedded subset) — the full outer join is the semantics, not a
    * hack. */
  /** The two ranked top-[[RrfDepth]] lists both q199 (fusion) and q215
    * (agreement) consume — ONE construction, so the fused ordering and
    * the agreement census can never measure different rankers. */
  private[graft] def rrfLists(docs: DataFrame, emb: DataFrame): (DataFrame, DataFrame) = {
    val tinyByText = org.apache.spark.sql.expressions.Window
      .orderBy(desc("score_micro"), col("doc_id"))
    val text = TextOps.bm25(docs, topN = RrfDepth)
      .withColumn("rank_text", row_number().over(tinyByText).cast("long"))
      .select(col("doc_id"), col("rank_text"))
    val all = vecs(emb)
    val q = all.filter(col("vec_id") === RrfQueryVec)
      .selectExpr("v AS qv", "n2 AS qn2")
    val tinyByCos = org.apache.spark.sql.expressions.Window
      .orderBy(desc("cos"), col("doc_id"))
    val vec = all.filter(col("vec_id") =!= RrfQueryVec)
      .crossJoin(broadcast(q))
      .selectExpr("vec_id AS doc_id",
        s"${sparkDot("qv", "v")} / (sqrt(qn2) * sqrt(n2)) AS cos")
      .orderBy(desc("cos"), col("doc_id")).limit(RrfDepth)
      .withColumn("rank_vec", row_number().over(tinyByCos).cast("long"))
      .select(col("doc_id"), col("rank_vec"))
    (text, vec)
  }

  def rankFusion(docs: DataFrame, emb: DataFrame): DataFrame = {
    val (text, vec) = rrfLists(docs, emb)
    val tinyByRrf = org.apache.spark.sql.expressions.Window
      .orderBy(desc("rrf_nano"), col("doc_id"))
    text.join(vec, Seq("doc_id"), "full_outer")
      .selectExpr("doc_id", "rank_text", "rank_vec",
        s"coalesce($RrfScale DIV ($RrfK + rank_text), 0L) + " +
          s"coalesce($RrfScale DIV ($RrfK + rank_vec), 0L) AS rrf_nano")
      .orderBy(desc("rrf_nano"), col("doc_id")).limit(RrfTop)
      .withColumn("fused_rank", row_number().over(tinyByRrf).cast("long"))
      .selectExpr("fused_rank", "doc_id", "rank_text", "rank_vec", "rrf_nano",
        "rank_text IS NOT NULL AND rank_vec IS NOT NULL AS in_both")
      .orderBy("fused_rank")
  }

  /** q215 — RANKING AGREEMENT: the measurement twin of q199's fusion —
    * before ensembling two rankers, quantify how much they actually
    * agree: overlap of the two top-[[RrfDepth]] lists, exact Kendall
    * concordant/discordant pair counts over the COMMON items (ranks are
    * permutations, so no tie terms), the sign-safe integer tau, and the
    * Spearman footrule (Σ |rank_text − rank_vec|). High overlap + high
    * tau means the rankers are redundant (fusion buys little); low
    * overlap with high tau on the intersection is the complementary
    * regime RRF exists for — the decision this census feeds.
    *
    * Exactness discipline: tau's numerator can be negative and floor
    * (DuckDB `//`) disagrees with truncation on negatives, so the
    * division runs on the |difference| and the sign is applied OUTSIDE —
    * identical in both engines. Scale shape: both lists are bounded
    * dials ([[RrfDepth]] rows); the pair census is a ≤ depth² self-join
    * of a broadcast list — the corpus is touched only by the two
    * rankers themselves. */
  def rankAgreement(docs: DataFrame, emb: DataFrame): DataFrame = {
    // r16: checkpoint BOTH ≤ depth-row lists before fanning out — the
    // census reads each list three ways (common join, own count, pair
    // census), and un-checkpointed they are separate subtrees, so the
    // BM25 corpus pass and the vector scan each executed TWICE.
    val (textL, vecL) = rrfLists(docs, emb)
    val text = textL.localCheckpoint()
    val vec = vecL.localCheckpoint()
    val common = text.join(vec, Seq("doc_id"))
      .localCheckpoint() // ≤ depth rows; pairs + census + footrule
    val pairs = common.as("a").join(broadcast(common.as("b")),
        col("a.doc_id") < col("b.doc_id"))
      .selectExpr(
        """CASE WHEN (a.rank_text - b.rank_text) * (a.rank_vec - b.rank_vec) > 0
                THEN 1L ELSE 0L END AS conc""",
        """CASE WHEN (a.rank_text - b.rank_text) * (a.rank_vec - b.rank_vec) < 0
                THEN 1L ELSE 0L END AS disc""")
      .agg(coalesce(sum("conc"), lit(0L)).as("n_conc"),
        coalesce(sum("disc"), lit(0L)).as("n_disc"))
    text.agg(count(lit(1)).as("n_text"))
      .crossJoin(broadcast(vec.agg(count(lit(1)).as("n_vec"))))
      .crossJoin(broadcast(common.agg(count(lit(1)).as("n_common"),
        coalesce(sum(expr("abs(rank_text - rank_vec)")), lit(0L))
          .as("footrule"))))
      .crossJoin(broadcast(pairs))
      .selectExpr("n_text", "n_vec", "n_common",
        "CAST(1000000 AS BIGINT) * n_common DIV least(n_text, n_vec) AS overlap_micro",
        "n_conc", "n_disc",
        """CASE WHEN n_conc + n_disc = 0 THEN CAST(NULL AS BIGINT)
                WHEN n_conc >= n_disc
                THEN 1000000L * (n_conc - n_disc) DIV (n_conc + n_disc)
                ELSE -(1000000L * (n_disc - n_conc) DIV (n_conc + n_disc))
           END AS tau_micro""",
        "footrule")
  }

  /** The q199/q215 shared oracle prefix: both rankers' top-depth CTEs
    * (`tx`, `vx`) — one text, like the Spark-side [[rrfLists]]. */
  private lazy val rrfListsSql: String = {
    val terms = TextOps.Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""t AS (SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents),
          l AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM t GROUP BY doc_id),
          s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS total FROM l),
          f AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM t
                WHERE token IN ($terms) GROUP BY 1, 2),
          d AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM f GROUP BY token),
          c AS (SELECT f.doc_id AS doc_id,
                       CAST(round((${TextOps.Bm25ContribExpr}) * 1e6) AS BIGINT) AS micro
                FROM f JOIN d ON f.token = d.token
                       JOIN l ON f.doc_id = l.doc_id, s),
          tx AS (SELECT doc_id,
                        CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id)
                          AS BIGINT) AS rank_text
                 FROM (SELECT doc_id, CAST(SUM(micro) AS BIGINT) AS score_micro
                       FROM c GROUP BY doc_id
                       ORDER BY score_micro DESC, doc_id LIMIT $RrfDepth)),
          vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          nn AS (SELECT vec_id, v, ${duckDot("v", "v")} AS n2 FROM vecs),
          vx AS (SELECT doc_id,
                        CAST(row_number() OVER (ORDER BY cos DESC, doc_id)
                          AS BIGINT) AS rank_vec
                 FROM (SELECT c.vec_id AS doc_id,
                              ${duckDot("q.v", "c.v")} / (sqrt(q.n2) * sqrt(c.n2)) AS cos
                       FROM nn q JOIN nn c
                         ON q.vec_id = $RrfQueryVec AND c.vec_id != $RrfQueryVec
                       ORDER BY cos DESC, doc_id LIMIT $RrfDepth))"""
  }

  /** q221 — CLASS SEPARABILITY (Fisher ratio): for every label pair, how
    * far apart the two embedding clouds sit relative to their spread —
    * the classifier-facing diagnostic the per-label drift census (q126)
    * does not answer ("COULD a router tell these classes apart?").
    * Exact-integer derivation on the shared 1e-3 quantization grid:
    * with S = per-dim coordinate sums, Q = Σ|x|², n = class size,
    *   ‖μ_a − μ_b‖² = Σ_d (S_ad·n_b − S_bd·n_a)² / (n_a·n_b)²   and
    *   σ²_a + σ²_b  = (n_a·Q_a − ‖S_a‖²)/n_a² + (n_b·Q_b − ‖S_b‖²)/n_b²,
    * so fisher = N2 / (n_b²·(n_a·Q_a − ‖S_a‖²) + n_a²·(n_b·Q_b − ‖S_b‖²))
    * with N2 = Σ_d (S_ad·n_b − S_bd·n_a)² — one exact rational, carried
    * in DECIMAL(38,0)/HUGEINT and shipped as the floor'd micro integer.
    *
    * Scale shape: ONE corpus pass collapses to the (label, d) sum table
    * (classes × dims rows — bounded by the schema, not the corpus);
    * per-class scalars, the pair join on d, and the ranking all run on
    * that bounded table. */
  def fisherSeparability(emb: DataFrame): DataFrame = {
    val counts = emb.select(col("label").cast("long").as("label"))
      .groupBy("label").agg(count(lit(1)).as("n"))
    val dims = emb.select(col("label").cast("long").as("label"),
        posexplode(expr(KmeansQuantize)))
      .select(col("label"), col("pos").cast("long").as("d"), col("col").as("q"))
      .groupBy("label", "d")
      .agg(sum("q").as("s"), sum(expr("q * q")).as("qq"))
      .join(broadcast(counts), "label")
      .localCheckpoint() // classes × dims rows; scalars + pair join
    val per = dims.groupBy("label")
      .agg(max("n").as("n"), sum("qq").as("qk"), sum(expr("s * s")).as("s2"))
    val n2 = dims.as("a").join(dims.as("b"),
        col("a.d") === col("b.d") && col("a.label") < col("b.label"))
      .selectExpr("a.label AS label_a", "b.label AS label_b",
        "a.s * b.n - b.s * a.n AS v")
      .groupBy("label_a", "label_b")
      .agg(sum(expr(
        "CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0))")).as("n2"))
    val byFisher = org.apache.spark.sql.expressions.Window
      .orderBy(desc("fisher_micro"), col("label_a"), col("label_b"))
    n2.join(broadcast(per.selectExpr("label AS label_a", "n AS n_a",
        "qk AS qk_a", "s2 AS s2_a")), "label_a")
      .join(broadcast(per.selectExpr("label AS label_b", "n AS n_b",
        "qk AS qk_b", "s2 AS s2_b")), "label_b")
      .selectExpr("label_a", "label_b", "n_a", "n_b", "n2",
        """CAST(n_b AS DECIMAL(38,0)) * n_b * (n_a * qk_a - s2_a)
           + CAST(n_a AS DECIMAL(38,0)) * n_a * (n_b * qk_b - s2_b)
           AS within""")
      .selectExpr("label_a", "label_b", "n_a", "n_b",
        """CASE WHEN within = 0 THEN CAST(NULL AS BIGINT)
                ELSE CAST(CAST(1000000 AS DECIMAL(38,0)) * n2 DIV within
                          AS BIGINT) END AS fisher_micro""")
      .withColumn("rank", row_number().over(byFisher).cast("long"))
      .selectExpr("rank", "label_a", "label_b", "n_a", "n_b", "fisher_micro")
      .orderBy("rank")
  }

  def oracles: Map[String, String] = Map(
    // q221: the same (label, d) integer collapse, the same exact
    // rational in HUGEINT, the same rank/tie rule
    "q221_fisher_separability" ->
      s"""WITH q AS (SELECT CAST(label AS BIGINT) AS label, d.i - 1 AS d,
                            CAST(ROUND(CAST(embedding[d.i] AS DOUBLE) * 1000)
                                 AS BIGINT) AS q
                     FROM embeddings, LATERAL (SELECT unnest(range(1, ${Dim + 1})) AS i) d),
              cn AS (SELECT CAST(label AS BIGINT) AS label,
                            CAST(COUNT(*) AS BIGINT) AS n
                     FROM embeddings GROUP BY 1),
              dims AS (SELECT q.label AS label, d, CAST(SUM(q.q) AS BIGINT) AS s,
                              CAST(SUM(q.q * q.q) AS BIGINT) AS qq,
                              MAX(n) AS n
                       FROM q JOIN cn ON q.label = cn.label GROUP BY 1, 2),
              per AS (SELECT label, MAX(n) AS n, CAST(SUM(qq) AS BIGINT) AS qk,
                             CAST(SUM(s * s) AS BIGINT) AS s2
                      FROM dims GROUP BY label),
              n2 AS (SELECT a.label AS label_a, b.label AS label_b,
                            SUM(CAST(a.s * b.n - b.s * a.n AS HUGEINT)
                                * (a.s * b.n - b.s * a.n)) AS n2
                     FROM dims a JOIN dims b
                       ON a.d = b.d AND a.label < b.label
                     GROUP BY 1, 2),
              f AS (SELECT label_a, label_b, pa.n AS n_a, pb.n AS n_b,
                           CASE WHEN CAST(pb.n AS HUGEINT) * pb.n
                                       * (pa.n * pa.qk - pa.s2)
                                     + CAST(pa.n AS HUGEINT) * pa.n
                                       * (pb.n * pb.qk - pb.s2) = 0
                                THEN CAST(NULL AS BIGINT)
                                ELSE CAST(CAST(1000000 AS HUGEINT) * n2
                                          // (CAST(pb.n AS HUGEINT) * pb.n
                                              * (pa.n * pa.qk - pa.s2)
                                             + CAST(pa.n AS HUGEINT) * pa.n
                                               * (pb.n * pb.qk - pb.s2))
                                          AS BIGINT) END AS fisher_micro
                    FROM n2 JOIN per pa ON n2.label_a = pa.label
                            JOIN per pb ON n2.label_b = pb.label)
         SELECT CAST(row_number() OVER (ORDER BY fisher_micro DESC,
                       label_a, label_b) AS BIGINT) AS rank,
                label_a, label_b, n_a, n_b, fisher_micro
         FROM f ORDER BY rank""",
    // q215: the identical two ranked lists, the same bounded pair
    // census, and the same sign-outside floor'd tau
    "q215_rank_agreement" ->
      s"""WITH $rrfListsSql,
          cm AS (SELECT tx.doc_id AS doc_id, rank_text, rank_vec
                 FROM tx JOIN vx ON tx.doc_id = vx.doc_id),
          pr AS (SELECT
                   CAST(COALESCE(SUM(CASE WHEN (a.rank_text - b.rank_text)
                                             * (a.rank_vec - b.rank_vec) > 0
                                          THEN 1 END), 0) AS BIGINT) AS n_conc,
                   CAST(COALESCE(SUM(CASE WHEN (a.rank_text - b.rank_text)
                                             * (a.rank_vec - b.rank_vec) < 0
                                          THEN 1 END), 0) AS BIGINT) AS n_disc
                 FROM cm a JOIN cm b ON a.doc_id < b.doc_id),
          sz AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM tx) AS n_text,
                        (SELECT CAST(COUNT(*) AS BIGINT) FROM vx) AS n_vec,
                        (SELECT CAST(COUNT(*) AS BIGINT) FROM cm) AS n_common,
                        (SELECT CAST(COALESCE(SUM(abs(rank_text - rank_vec)), 0)
                                     AS BIGINT) FROM cm) AS footrule)
          SELECT n_text, n_vec, n_common,
                 CAST(1000000 AS BIGINT) * n_common // least(n_text, n_vec)
                   AS overlap_micro,
                 n_conc, n_disc,
                 CASE WHEN n_conc + n_disc = 0 THEN CAST(NULL AS BIGINT)
                      WHEN n_conc >= n_disc
                      THEN CAST(1000000 * (n_conc - n_disc)
                                // (n_conc + n_disc) AS BIGINT)
                      ELSE -CAST(1000000 * (n_disc - n_conc)
                                 // (n_conc + n_disc) AS BIGINT)
                 END AS tau_micro,
                 footrule
          FROM sz CROSS JOIN pr""",
    // q199: the same two rankers — q67's BM25 CTE at fusion depth and
    // the q42 cosine shape against the example vector — fused on ranks
    // with the identical exact-integer RRF arithmetic
    "q199_rank_fusion" -> {
      s"""WITH $rrfListsSql,
          fo AS (SELECT COALESCE(tx.doc_id, vx.doc_id) AS doc_id,
                        tx.rank_text AS rank_text, vx.rank_vec AS rank_vec,
                        COALESCE($RrfScale // ($RrfK + tx.rank_text), 0)
                          + COALESCE($RrfScale // ($RrfK + vx.rank_vec), 0) AS rrf_nano
                 FROM tx FULL OUTER JOIN vx ON tx.doc_id = vx.doc_id),
          top AS (SELECT * FROM fo ORDER BY rrf_nano DESC, doc_id LIMIT $RrfTop)
          SELECT CAST(row_number() OVER (ORDER BY rrf_nano DESC, doc_id) AS BIGINT)
                   AS fused_rank,
                 doc_id, rank_text, rank_vec, CAST(rrf_nano AS BIGINT) AS rrf_nano,
                 rank_text IS NOT NULL AND rank_vec IS NOT NULL AS in_both
          FROM top ORDER BY fused_rank"""
    },
    // q200: the q55 cell prelude with the tenant filter applied at the
    // candidate join (post) vs in the scan (pre); identical recall
    // window; fixed-denominator recall like the other ANN audits
    "q200_filtered_ann" ->
      s"""WITH q3 AS (SELECT vec_id, i - 1 AS d,
                             CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS q3,
                             CAST(label AS BIGINT) AS label
                      FROM embeddings, range(1, ${Dim + 1}) t(i)),
          cells AS (SELECT label AS cell, d, SUM(q3) AS sq, COUNT(*) AS n
                    FROM q3 GROUP BY 1, 2),
          dist AS (SELECT q3.vec_id, cells.cell,
                          CAST(SUM((q3.q3 * cells.n - cells.sq) * (q3.q3 * cells.n - cells.sq)) AS DOUBLE)
                            / CAST(MAX(cells.n) * MAX(cells.n) AS DOUBLE) AS dist
                   FROM q3 JOIN cells ON q3.d = cells.d GROUP BY 1, 2),
          assigned AS (SELECT vec_id, cell FROM (
                         SELECT vec_id, cell,
                                ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
                         FROM dist) WHERE rn = 1),
          probes AS (SELECT vec_id AS q_id, cell FROM (
                       SELECT vec_id, cell,
                              ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
                       FROM dist WHERE vec_id < $NumQueries) WHERE rn <= $NProbe),
          vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          nn AS (SELECT vec_id, v, ${duckDot("v", "v")} AS n2 FROM vecs),
          exsc AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
                          ${duckDot("q.v", "c.v")} / (sqrt(q.n2) * sqrt(c.n2)) AS cos
                   FROM nn q JOIN nn c ON q.vec_id < $NumQueries
                        AND c.vec_id % $TenantMod = 0 AND q.vec_id != c.vec_id),
          extop AS (SELECT q_id, n_id, cos,
                           CAST(rank AS BIGINT) AS rank FROM (
                      SELECT q_id, n_id, cos,
                             ROW_NUMBER() OVER (PARTITION BY q_id
                               ORDER BY cos DESC, n_id) AS rank
                      FROM exsc) WHERE rank <= $TopK),
          ivcand AS (SELECT DISTINCT p.q_id AS q_id, a.vec_id AS n_id
                     FROM probes p JOIN assigned a ON p.cell = a.cell
                     WHERE p.q_id != a.vec_id AND a.vec_id % $TenantMod = 0),
          ivsc AS (SELECT cd.q_id, cd.n_id,
                          ${duckDot("q.v", "c.v")} / (sqrt(q.n2) * sqrt(c.n2)) AS cos
                   FROM ivcand cd JOIN nn q ON cd.q_id = q.vec_id
                        JOIN nn c ON cd.n_id = c.vec_id),
          ivtop AS (SELECT q_id, n_id, cos,
                           CAST(rank AS BIGINT) AS rank FROM (
                      SELECT q_id, n_id, cos,
                             ROW_NUMBER() OVER (PARTITION BY q_id
                               ORDER BY cos DESC, n_id) AS rank
                      FROM ivsc) WHERE rank <= $TopK),
          exseen AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS cand_seen
                     FROM exsc GROUP BY q_id),
          ivseen AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS cand_seen
                     FROM ivsc GROUP BY q_id)
          SELECT * FROM (
            SELECT 'pre_exact' AS strategy, t.q_id AS q_id, t.rank AS rank,
                   t.n_id AS n_id, t.cos AS cos, s.cand_seen AS cand_seen,
                   1e0 AS recall_at_k
            FROM extop t JOIN exseen s ON t.q_id = s.q_id
            UNION ALL
            SELECT 'ivf_post', t.q_id, t.rank, t.n_id, t.cos, s.cand_seen,
                   CAST(SUM(CASE WHEN e.n_id IS NOT NULL THEN 1 ELSE 0 END)
                          OVER (PARTITION BY t.q_id) AS DOUBLE) / $TopK
            FROM ivtop t JOIN ivseen s ON t.q_id = s.q_id
                 LEFT JOIN extop e ON e.q_id = t.q_id AND e.n_id = t.n_id)
          ORDER BY strategy, q_id, rank""",
    "q145_jl_projection" -> q145Sql,
    "q74_embedding_quantize" ->
      """WITH a AS (SELECT vec_id,
                           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS arr
                    FROM embeddings),
          s AS (SELECT vec_id, arr,
                       list_max(list_transform(arr, x -> abs(x))) / 127e0 AS scale
                FROM a),
          z AS (SELECT vec_id, arr, scale,
                       list_transform(arr, x -> CASE WHEN scale = 0e0 THEN CAST(0 AS BIGINT)
                         ELSE CAST(round(x / scale) AS BIGINT) END) AS q
                FROM s)
         SELECT vec_id, scale,
                CAST(list_sum(q) AS BIGINT) AS sum_q,
                CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS sum_q2,
                list_max(list_transform(range(1, len(arr) + 1),
                  i -> abs(arr[i] - CAST(q[i] AS DOUBLE) * scale))) AS max_err
         FROM z ORDER BY vec_id""",
    "q75_adc_ann" -> {
      val adcDot = dotChain((1 to Dim).map(d => s"q.qv[$d] * CAST(c.q[$d] AS DOUBLE)"))
      s"""WITH a AS (SELECT vec_id,
                            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS arr
                     FROM embeddings),
          s AS (SELECT vec_id, arr,
                       list_max(list_transform(arr, x -> abs(x))) / 127e0 AS scale
                FROM a),
          z AS (SELECT vec_id, scale,
                       list_transform(arr, x -> CASE WHEN scale = 0e0 THEN CAST(0 AS BIGINT)
                         ELSE CAST(round(x / scale) AS BIGINT) END) AS q
                FROM s),
          qs AS (SELECT vec_id AS q_id, arr AS qv FROM a WHERE vec_id < $NumQueries),
          pairs AS (SELECT q.q_id, c.vec_id AS n_id, c.scale * $adcDot AS adc
                    FROM qs q JOIN z c ON q.q_id != c.vec_id)
          SELECT q_id, n_id, adc, rank FROM (
            SELECT q_id, n_id, adc,
                   ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc DESC, n_id) AS rank
            FROM pairs)
          WHERE rank <= $TopK ORDER BY q_id, rank"""
    },
    // q104: the q42 brute ranking with the label-disagreement predicate —
    // the same cos expression q42 hash-verifies, anchors' labels joined in
    "q104_hard_negatives" ->
      s"""WITH vecs AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                               embedding::DOUBLE[] AS v FROM embeddings),
          n AS (SELECT vec_id, label, v, ${duckDot("v", "v")} AS n2 FROM vecs),
          pairs AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id, c.label AS n_label,
                           ${duckDot("q.v", "c.v")} / (sqrt(q.n2) * sqrt(c.n2)) AS cos
                    FROM n q JOIN n c
                    ON q.vec_id < $NumQueries AND q.label != c.label)
          SELECT q_id, n_id, n_label, cos, rank FROM (
            SELECT q_id, n_id, n_label, cos,
                   ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
            FROM pairs)
          WHERE rank <= $TopK ORDER BY q_id, rank""",
    "q42_knn_brute" ->
      s"""WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          n AS (SELECT vec_id, v, ${duckDot("v", "v")} AS n2 FROM vecs),
          pairs AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
                           ${duckDot("q.v", "c.v")} / (sqrt(q.n2) * sqrt(c.n2)) AS cos
                    FROM n q JOIN n c ON q.vec_id < $NumQueries AND q.vec_id != c.vec_id)
          SELECT q_id, n_id, cos, rank FROM (
            SELECT q_id, n_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
            FROM pairs)
          WHERE rank <= $TopK ORDER BY q_id, rank""",
    "q43_ann_lsh" -> duckRecallAudit(
      s"""WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          n AS (SELECT vec_id, v, ${duckDot("v", "v")} AS n2 FROM vecs),
          b AS (SELECT vec_id, unnest(${duckBandList("v")}) AS band FROM vecs),
          cand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
                   FROM b q JOIN b c
                   ON q.band = c.band AND q.vec_id < $NumQueries
                      AND q.vec_id != c.vec_id),
          pairs AS (SELECT q_id, n_id,
                           ${duckDot("q.v", "c.v")} / (sqrt(q.n2) * sqrt(c.n2)) AS cos
                    FROM cand JOIN n q ON q_id = q.vec_id
                              JOIN n c ON n_id = c.vec_id),
          annres AS (SELECT q_id, n_id, cos, rank FROM (
                       SELECT q_id, n_id, cos,
                              ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
                       FROM pairs)
                     WHERE rank <= $TopK)"""),
    "q45_embedding_dups" ->
      s"""WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          n AS (SELECT vec_id, v, ${duckDot("v", "v")} AS n2 FROM vecs),
          b AS (SELECT vec_id, unnest(${duckBandList("v")}) AS band FROM vecs),
          cand AS (SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
                   FROM b x JOIN b y ON x.band = y.band AND x.vec_id < y.vec_id)
          SELECT a_id, b_id, cos FROM (
            SELECT a_id, b_id,
                   ${duckDot("x.v", "y.v")} / (sqrt(x.n2) * sqrt(y.n2)) AS cos
            FROM cand JOIN n x ON a_id = x.vec_id
                      JOIN n y ON b_id = y.vec_id)
          WHERE cos >= $EmbDupMinCos
          ORDER BY a_id, b_id""",
    "q59_crossmodal_dups" -> q59Sql,
    // q99 composes the q59 oracle verbatim: the calibration curve's
    // (jac, cos) inputs cannot drift from the hash-verified pair table
    "q99_cosine_calibration" ->
      s"""WITH pc AS ($q59Sql),
          b AS (SELECT CAST(floor(cos * 20) AS BIGINT) AS bin,
                       CASE WHEN jac >= $CalibTextDupJac THEN 1 ELSE 0 END AS td
                FROM pc)
          SELECT bin,
                 CAST(bin AS DOUBLE) / 20 AS cos_lo,
                 CAST(COUNT(*) AS BIGINT) AS n_pairs,
                 CAST(SUM(td) AS BIGINT) AS n_textdup,
                 CAST(CAST(SUM(td) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                   AS textdup_frac
          FROM b GROUP BY bin ORDER BY bin""",
    "q55_ivf_ann" -> duckRecallAudit(
      s"""WITH q3 AS (SELECT vec_id, i - 1 AS d,
                             CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS q3,
                             CAST(label AS BIGINT) AS label
                      FROM embeddings, range(1, ${Dim + 1}) t(i)),
          cells AS (SELECT label AS cell, d, SUM(q3) AS sq, COUNT(*) AS n
                    FROM q3 GROUP BY 1, 2),
          dist AS (SELECT q3.vec_id, cells.cell,
                          CAST(SUM((q3.q3 * cells.n - cells.sq) * (q3.q3 * cells.n - cells.sq)) AS DOUBLE)
                            / CAST(MAX(cells.n) * MAX(cells.n) AS DOUBLE) AS dist
                   FROM q3 JOIN cells ON q3.d = cells.d GROUP BY 1, 2),
          assigned AS (SELECT vec_id, cell FROM (
                         SELECT vec_id, cell,
                                ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
                         FROM dist) WHERE rn = 1),
          probes AS (SELECT vec_id AS q_id, cell FROM (
                       SELECT vec_id, cell,
                              ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
                       FROM dist WHERE vec_id < $NumQueries) WHERE rn <= $NProbe),
          cand AS (SELECT DISTINCT q_id, a.vec_id AS n_id
                   FROM probes p JOIN assigned a ON p.cell = a.cell AND p.q_id != a.vec_id),
          vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          n AS (SELECT vec_id, v, ${duckDot("v", "v")} AS n2 FROM vecs),
          pairs AS (SELECT q_id, n_id,
                           ${duckDot("q.v", "c.v")} / (sqrt(q.n2) * sqrt(c.n2)) AS cos
                    FROM cand JOIN n q ON q_id = q.vec_id
                              JOIN n c ON n_id = c.vec_id),
          annres AS (SELECT q_id, n_id, cos, rank FROM (
                       SELECT q_id, n_id, cos,
                              ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
                       FROM pairs)
                     WHERE rank <= $TopK)"""),
    "q87_kmeans" -> {
      s"""WITH ${kmOracleCtes(KmeansRounds)}
          SELECT vec_id, cell, dist FROM a$KmeansRounds ORDER BY vec_id"""
    },
    // q121 unrolls KmeansConvMaxRounds rounds of the SAME CTE prelude the
    // q87/q94 oracles use, rebuilds the per-round exact micro-inertia
    // trace, derives the stop round from the identical relative rule
    // (first round improving by <= KmeansConvEpsPerMille per-mille of the
    // previous inertia; cap if none — HUGEINT, exact at any magnitude),
    // and emits exactly the rounds a live run would have paid. Unrolling
    // past the fixpoint is safe: a converged round recomputes the same
    // assignment, so the filtered prefix is independent of the unroll
    // depth. Plain round() on both sides: the dist quotients are
    // bit-identical cross-engine and both engines round half away from
    // zero ([[kmeansInertiaOf]]'s structural argument).
    "q121_kmeans_converged" -> {
      val R = KmeansConvMaxRounds
      val per = (1 to R)
        .map(r => s"SELECT CAST($r AS BIGINT) AS round_no, vec_id, cell, dist FROM a$r")
        .mkString("\n                 UNION ALL ")
      s"""WITH ${kmOracleCtes(R)},
          per AS ($per),
          tr AS (SELECT round_no,
                        CAST(SUM(CAST(round(dist * 1e6) AS BIGINT)) AS BIGINT)
                          AS inertia_micro
                 FROM per GROUP BY round_no),
          dl AS (SELECT round_no, inertia_micro,
                        LAG(inertia_micro) OVER (ORDER BY round_no) AS prev
                 FROM tr),
          st AS (SELECT COALESCE(MIN(CASE WHEN round_no >= 2
                                           AND (CAST(prev AS HUGEINT) - CAST(inertia_micro AS HUGEINT)) * 1000
                                               <= CAST(prev AS HUGEINT) * $KmeansConvEpsPerMille
                                          THEN round_no END), $R) AS stop_round,
                        MIN(CASE WHEN round_no >= 2
                                  AND (CAST(prev AS HUGEINT) - CAST(inertia_micro AS HUGEINT)) * 1000
                                      <= CAST(prev AS HUGEINT) * $KmeansConvEpsPerMille
                                 THEN round_no END) IS NOT NULL AS conv
                 FROM dl)
          SELECT p.round_no AS round_no, p.vec_id AS vec_id, p.cell AS cell,
                 p.dist AS dist, tr.inertia_micro AS inertia_micro,
                 (st.conv AND p.round_no = st.stop_round) AS stopped
          FROM per p JOIN tr ON p.round_no = tr.round_no CROSS JOIN st
          WHERE p.round_no <= st.stop_round
          ORDER BY round_no, vec_id"""
    },
    "q94_kmeans_inertia" -> {
      val per = (1 to KmeansRounds)
        .map(r => s"SELECT CAST($r AS BIGINT) AS round_no, dist FROM a$r")
        .mkString("\n                 UNION ALL ")
      // plain round() on both sides: dist is an exact integer quotient —
      // bit-identical cross-engine — and both engines round half away
      // from zero ([[kmeansInertiaOf]]'s structural argument)
      s"""WITH ${kmOracleCtes(KmeansRounds)},
          per AS ($per),
          mi AS (SELECT round_no,
                        CAST(round(dist * 1e6) AS BIGINT) AS micro FROM per)
          SELECT round_no, CAST(COUNT(*) AS BIGINT) AS n_vectors,
                 CAST(SUM(micro) AS BIGINT) AS inertia_micro,
                 CAST(SUM(micro) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1e6) AS mean_dist
          FROM mi GROUP BY round_no ORDER BY round_no"""
    },
    // q109 mirrors the q42 vector CTEs with the q57 split rule; the
    // argmax is the SAME lexicographic struct MAX on both engines (max
    // cosine, min-eval-id ties) — no window, no second pass
    "q109_semantic_contamination" ->
      s"""WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          n AS (SELECT vec_id, v, ${duckDot("v", "v")} AS n2 FROM vecs),
          sp AS (SELECT vec_id,
                        ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 2))::BIGINT AS bucket
                 FROM embeddings),
          te AS (SELECT n.vec_id AS t_id, n.v AS tv, n.n2 AS tn2
                 FROM n JOIN sp ON n.vec_id = sp.vec_id
                 WHERE sp.bucket >= ${PipelineOps.ValCut}),
          tr AS (SELECT n.vec_id, n.v, n.n2
                 FROM n JOIN sp ON n.vec_id = sp.vec_id
                 WHERE sp.bucket < ${PipelineOps.TrainCut}),
          g AS (SELECT tr.vec_id AS doc_id,
                       max({'c': ${duckDot("tr.v", "te.tv")} / (sqrt(tr.n2) * sqrt(te.tn2)),
                            'nt': -te.t_id}) AS b
                FROM tr CROSS JOIN te GROUP BY tr.vec_id)
          SELECT doc_id, b.c AS max_cos, -b.nt AS nearest_eval_id,
                 b.c >= $SemContamMinCos AS contaminated
          FROM g ORDER BY doc_id""",
    // q107 composes the q87 oracle's final assignment verbatim (the
    // sample's strata cannot drift from the hash-verified clustering) and
    // mirrors the q58/q76 exact-integer cut: HUGEINT there, DECIMAL(38,0)
    // on the Spark side — the row-local keep rule is bit-identical
    // q118 mirrors the Spark side ROW-LOCALLY (one flags+fold projection,
    // one aggregate — no unnest/regroup, so duplicate vec_ids can't fan
    // out) and is null/dim-ROBUST like the computation it grades: n_null
    // and n_bad_dim are COUNTED, not asserted zero, and a malformed row's
    // n2q is NULL exactly as Spark's CASE makes it — a future fixture
    // gaining a bad row changes the census on BOTH engines identically
    // instead of diverging at the hash.
    // q127: same milli-unit quantization and range-join unnest as q124;
    // the count factors cancel so cosine runs on the HUGEINT sum vectors,
    // one correctly-rounded cast + IEEE sqrt/divide per label
    "q127_embedding_drift" ->
      s"""WITH q AS (SELECT CAST(label AS BIGINT) AS label,
                            ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 2))::BIGINT % 2
                              AS half,
                            list_transform(embedding,
                              x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
                     FROM embeddings),
          x AS (SELECT label, half, t.i AS dim, qv[t.i + 1] AS qc
                FROM q, range($Dim) t(i)),
          g AS (SELECT label, dim,
                       COALESCE(SUM(CASE WHEN half = 0 THEN qc END), 0) AS sa,
                       COALESCE(SUM(CASE WHEN half = 1 THEN qc END), 0) AS sb,
                       SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS na_d,
                       SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS nb_d
                FROM x GROUP BY 1, 2)
          SELECT label, CAST(MAX(na_d) AS BIGINT) AS n_a,
                 CAST(MAX(nb_d) AS BIGINT) AS n_b,
                 CASE WHEN MAX(na_d) = 0 OR MAX(nb_d) = 0
                        OR SUM(sa * sa) = 0 OR SUM(sb * sb) = 0
                      THEN CAST(NULL AS DOUBLE)
                      ELSE CAST(SUM(sa * sb) AS DOUBLE)
                           / (sqrt(CAST(SUM(sa * sa) AS DOUBLE))
                              * sqrt(CAST(SUM(sb * sb) AS DOUBLE)))
                 END AS drift_cos
          FROM g GROUP BY label ORDER BY label""",
    // q124: the same milli-unit quantization as q118; per-dimension sums
    // and pair product sums are HUGEINT (DuckDB) / DECIMAL(38,0) (Spark),
    // every emitted figure one correctly-rounded cast + IEEE division —
    // the oracle assumes the clean corpus the Spark side RAISES on
    // otherwise, so a future malformed fixture fails loudly, not silently
    // same milli-unit quantization as q124; code/deq are round-half-up
    // integer rationals with nonneg operands, so `//` here and `DIV` on
    // the Spark side floor identically
    "q133_scalar_quant_census" ->
      s"""WITH q AS (SELECT vec_id, list_transform(embedding,
                       x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
                     FROM embeddings),
          e AS (SELECT vec_id, t.i AS i, qv[t.i + 1] AS m
                FROM q, range($Dim) t(i)),
          dial AS (SELECT i, MIN(m) AS lo, MAX(m) AS hi FROM e GROUP BY i),
          c AS (SELECT e.i AS i, m, lo, hi,
                       CASE WHEN hi = lo THEN CAST(0 AS BIGINT)
                            ELSE ((m - lo) * 510 + (hi - lo)) // (2 * (hi - lo))
                       END AS code
                FROM e JOIN dial ON e.i = dial.i),
          d AS (SELECT i, m, lo, hi, code,
                       lo + (code * (hi - lo) * 2 + 255) // 510 AS deq
                FROM c)
          SELECT CAST(i AS INT) AS dim, COUNT(*) AS n,
                 lo AS lo_milli, hi AS hi_milli,
                 CAST(COUNT(DISTINCT code) AS BIGINT) AS n_codes_used,
                 CAST(MAX(ABS(m - deq)) AS BIGINT) AS max_abs_err_milli,
                 CAST(SUM((m - deq) * (m - deq)) AS BIGINT) AS sse_milli2,
                 CAST(SUM((m - deq) * (m - deq)) AS DOUBLE)
                   / (CAST(COUNT(*) AS DOUBLE) * 1e6) AS mse
          FROM d GROUP BY i, lo, hi ORDER BY dim""",
    "q124_embedding_moments" ->
      s"""WITH q AS (SELECT vec_id, list_transform(embedding,
                       x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
                     FROM embeddings),
          x AS (SELECT vec_id, t.i AS i, qv[t.i + 1] AS qc
                FROM q, range($Dim) t(i)),
          s AS (SELECT i, SUM(qc) AS s FROM x GROUP BY i),
          p AS (SELECT a.i AS i, b.i AS j,
                       CAST(COUNT(*) AS BIGINT) AS n, SUM(a.qc * b.qc) AS sxy
                FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
                GROUP BY a.i, b.i)
          SELECT CAST(p.i AS INT) AS i, CAST(p.j AS INT) AS j, p.n AS n,
                 CAST(si.s AS DOUBLE) / (CAST(p.n AS DOUBLE) * 1e3) AS mean_i,
                 CAST(sj.s AS DOUBLE) / (CAST(p.n AS DOUBLE) * 1e3) AS mean_j,
                 CAST(p.n * p.sxy - si.s * sj.s AS DOUBLE)
                   / (CAST(p.n AS DOUBLE) * CAST(p.n AS DOUBLE) * 1e6) AS cov
          FROM p JOIN s si ON p.i = si.i JOIN s sj ON p.j = sj.i
          ORDER BY i, j""",
    "q118_embedding_audit" ->
      s"""WITH f AS (SELECT
                       CAST(embedding IS NULL AS BIGINT) AS isn,
                       CAST(embedding IS NOT NULL AND len(embedding) != $Dim AS BIGINT) AS bad,
                       CASE WHEN embedding IS NULL OR len(embedding) != $Dim
                            THEN CAST(NULL AS BIGINT)
                            ELSE CAST(list_sum(list_transform(embedding,
                                   x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)
                                        * CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)))
                                 AS BIGINT)
                       END AS n2q
                     FROM embeddings)
          SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
                 CAST(COALESCE(SUM(isn), 0) AS BIGINT) AS n_null,
                 CAST(COALESCE(SUM(bad), 0) AS BIGINT) AS n_bad_dim,
                 CAST(COALESCE(SUM(CASE WHEN n2q = 0 THEN 1 END), 0) AS BIGINT) AS n_zero_norm,
                 CAST(MIN(NULLIF(n2q, 0)) AS BIGINT) AS min_n2q,
                 CAST(MAX(NULLIF(n2q, 0)) AS BIGINT) AS max_n2q,
                 CAST(SUM(NULLIF(n2q, 0)) AS BIGINT) AS sum_n2q,
                 CASE WHEN COUNT(*) - COALESCE(SUM(isn), 0) - COALESCE(SUM(bad), 0)
                           - COALESCE(SUM(CASE WHEN n2q = 0 THEN 1 END), 0) = 0 THEN 0e0
                      ELSE CAST(SUM(NULLIF(n2q, 0)) AS DOUBLE)
                           / (CAST(COUNT(*) - COALESCE(SUM(isn), 0) - COALESCE(SUM(bad), 0)
                                   - COALESCE(SUM(CASE WHEN n2q = 0 THEN 1 END), 0) AS DOUBLE) * 1e6)
                 END AS mean_n2
          FROM f""",
    // q115 composes the q87 oracle's final assignment verbatim: the same
    // bounded count aggregate, one-row totals, and single-IEEE-division
    // balance chain
    "q115_ivf_health" -> {
      s"""WITH ${kmOracleCtes(KmeansRounds)},
          asg AS (SELECT vec_id, cell FROM a$KmeansRounds),
          nc AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM asg GROUP BY cell),
          tot AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS n_total,
                         CAST($KmeansK - COUNT(*) AS BIGINT) AS n_empty_cells,
                         CAST(MAX(n_vecs) AS BIGINT) AS max_vecs FROM nc)
          SELECT cell, n_vecs, n_total, CAST($KmeansK AS BIGINT) AS n_cells,
                 n_empty_cells,
                 CAST(n_vecs AS DOUBLE) / CAST(n_total AS DOUBLE) AS share,
                 CAST(n_vecs * $KmeansK AS DOUBLE) / CAST(n_total AS DOUBLE) AS balance,
                 CAST(max_vecs * $KmeansK AS DOUBLE) / CAST(n_total AS DOUBLE) AS worst_balance
          FROM nc CROSS JOIN tot ORDER BY cell"""
    },
    "q107_cell_balanced_sample" -> {
      s"""WITH ${kmOracleCtes(KmeansRounds)},
          asg AS (SELECT vec_id, cell FROM a$KmeansRounds),
          nc AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n FROM asg GROUP BY cell),
          tot AS (SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS total FROM nc),
          dial AS (SELECT cell, n,
                          LEAST(CAST(CEIL(CAST(total AS DOUBLE) * $CellSampleFrac
                                          / CAST($KmeansK AS DOUBLE)) AS BIGINT),
                                n) AS keep_n
                   FROM nc CROSS JOIN tot),
          cts AS (SELECT cell, n, keep_n,
                         CAST((CAST(keep_n AS HUGEINT) * ${PipelineOps.TwoPow48}) // n AS BIGINT) AS cut
                  FROM dial),
          u AS (SELECT vec_id, cell,
                       ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 12))::BIGINT AS u
                FROM asg)
          SELECT u.cell AS cell, u.vec_id AS vec_id, u.u AS u,
                 cts.n AS n, cts.keep_n AS keep_n
          FROM u JOIN cts ON u.cell = cts.cell
          WHERE u.u < cts.cut
          ORDER BY cell, vec_id"""
    },
    // q110 composes the q87 oracle's final assignment verbatim, recomputes
    // the centroid state that partition induces, and mirrors the Spark
    // fold: exact-integer distance quotients, q94's micro rounding (the
    // Spark side raise_errors at boundaries — q67/q92 division of labor),
    // exact int64 sums, then the identical single-IEEE-division chain
    "q110_cluster_quality" -> {
      s"""WITH ${kmOracleCtes(KmeansRounds)},
          asg AS (SELECT vec_id, cell FROM a$KmeansRounds),
          cf AS (SELECT cell, d, SUM(q3) AS sq, COUNT(*) AS n
                 FROM asg JOIN q3 USING (vec_id) GROUP BY 1, 2),
          dd AS (SELECT q3.vec_id, cf.cell,
                        CAST(SUM((q3.q3 * cf.n - cf.sq) * (q3.q3 * cf.n - cf.sq)) AS DOUBLE)
                          / CAST(MAX(cf.n) * MAX(cf.n) AS DOUBLE) AS dist
                 FROM q3 JOIN cf ON q3.d = cf.d GROUP BY 1, 2),
          ab AS (SELECT asg.vec_id, asg.cell,
                        MAX(CASE WHEN dd.cell = asg.cell THEN dd.dist END) AS a,
                        MIN(CASE WHEN dd.cell != asg.cell THEN dd.dist END) AS b
                 FROM asg JOIN dd ON asg.vec_id = dd.vec_id GROUP BY 1, 2),
          mi AS (SELECT cell, CAST(round(a * 1e6) AS BIGINT) AS am,
                             CAST(round(b * 1e6) AS BIGINT) AS bm FROM ab),
          g AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(am) AS BIGINT) AS intra_micro,
                       CAST(SUM(bm) AS BIGINT) AS other_micro
                FROM mi GROUP BY cell),
          m AS (SELECT cell, n, intra_micro, other_micro,
                       CAST(intra_micro AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6) AS mean_intra,
                       CAST(other_micro AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6) AS mean_other
                FROM g)
          SELECT cell, n, intra_micro, other_micro, mean_intra, mean_other,
                 CASE WHEN GREATEST(mean_intra, mean_other) = 0e0 THEN 0e0
                      ELSE (mean_other - mean_intra) / GREATEST(mean_intra, mean_other)
                 END AS silhouette
          FROM m ORDER BY cell"""
    },
    "q85_semantic_dedup" ->
      s"""WITH q3 AS (SELECT vec_id, i - 1 AS d,
                             CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS q3,
                             CAST(label AS BIGINT) AS label
                      FROM embeddings, range(1, ${Dim + 1}) t(i)),
          cells AS (SELECT label AS cell, d, SUM(q3) AS sq, COUNT(*) AS n
                    FROM q3 GROUP BY 1, 2),
          dist AS (SELECT q3.vec_id, cells.cell,
                          CAST(SUM((q3.q3 * cells.n - cells.sq) * (q3.q3 * cells.n - cells.sq)) AS DOUBLE)
                            / CAST(MAX(cells.n) * MAX(cells.n) AS DOUBLE) AS dist
                   FROM q3 JOIN cells ON q3.d = cells.d GROUP BY 1, 2),
          assigned AS (SELECT vec_id, cell FROM (
                         SELECT vec_id, cell,
                                ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
                         FROM dist) WHERE rn = 1),
          vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          n AS (SELECT vec_id, v, ${duckDot("v", "v")} AS n2 FROM vecs),
          cand AS (SELECT x.vec_id AS a_id, y.vec_id AS b_id
                   FROM assigned x JOIN assigned y
                   ON x.cell = y.cell AND x.vec_id < y.vec_id),
          dp AS (SELECT b_id AS vec_id, CAST(COUNT(*) AS BIGINT) AS n_dups
                 FROM (SELECT a_id, b_id,
                              ${duckDot("a.v", "b.v")} / (sqrt(a.n2) * sqrt(b.n2)) AS cos
                       FROM cand JOIN n a ON a_id = a.vec_id
                                 JOIN n b ON b_id = b.vec_id)
                 WHERE cos >= $SemDedupMinCos GROUP BY b_id)
          SELECT a.vec_id, a.cell, COALESCE(dp.n_dups, 0) AS n_dups,
                 dp.vec_id IS NULL AS keep
          FROM assigned a LEFT JOIN dp ON a.vec_id = dp.vec_id
          ORDER BY a.vec_id""",
    "q44_label_centroids" ->
      s"""SELECT CAST(label AS BIGINT) AS label, i - 1 AS dim,
                SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT))
                  / (1000000.0 * COUNT(*)) AS centroid,
                COUNT(*) AS n
         FROM embeddings, range(1, ${Dim + 1}) t(i)
         GROUP BY 1, 2 ORDER BY label, dim""",
  )
}
