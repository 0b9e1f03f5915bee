package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection over `documents`: MinHash signatures, LSH
  * banding, exact n-gram Jaccard, and SimHash — the scale path for corpus
  * dedup at 100 TB, demonstrated and oracle-checked at test scale.
  *
  * Cross-engine determinism trick: every hash in these ops is md5 (identical
  * lowercase-hex output in Spark and DuckDB), so MinHash mins (string mins
  * over hex), LSH band keys, and SimHash bit votes are bit-identical to the
  * oracle. Seeded families come from salting the md5 input (`"k:" + x`).
  *
  * Scale notes:
  *  - signatures/simhash: one scan + one shuffle by doc_id (or none when
  *    computed as row-local array expressions) — linear in corpus size.
  *  - LSH candidate join: shuffle on band key; band count × row count keys,
  *    each bucket tiny by construction. This replaces the O(n²) all-pairs
  *    join — the only strategy that survives 100 TB.
  *  - exact-Jaccard verify runs only on LSH candidates (or within bounded
  *    buckets for the oracle-checked exact variant).
  */
object DedupOps {
  val NumHashes = 8           // MinHash family size
  val Bands = 4               // LSH bands (rows-per-band = 2)
  val JaccardThreshold = 0.5
  val SimhashBits = 60        // 15 hex chars of md5 → fits a signed long
  val HammingThreshold = 16
  val DfCap = 20              // max shingle document frequency for exact Jaccard

  /** Distinct 3-gram shingles as ROWS (doc_id, shingle), via the native
    * [[graft.expressions.ShingleArray]] expression: split evaluates once
    * per doc (it is the expression's child), shingles build in one linear
    * pass, explode streams them out — no shuffle, no window, and none of
    * the O(tokens²) project-collapse blowup a `transform(sequence, ...)`
    * formulation hits. Row form is also what scales: shingles stream
    * through shuffles instead of living as one giant array value per doc.
    * Per-doc dedup is ROW-LOCAL (`array_distinct` before the explode, the
    * analog of the oracle's `list_distinct`) — cross-doc rows are already
    * distinct by doc_id, so no global distinct shuffle is ever needed. */
  /** The distinct-shingle generator — ONE definition of the tokenization +
    * shingle recipe, consumed by q36–q38 (a drift here would silently make
    * the dedup family disagree with itself). */
  private[graft] val ShingleN = 3 // n-gram width — single source for gen + filters
                                  // (streaming IngestGuard reuses it too)
  private val ShingleArrayGen = s"array_distinct(graft_shingles(split(text, ' '), $ShingleN))"
  private val ShingleGen = s"explode($ShingleArrayGen) AS shingle"

  def shingleRows(docs: DataFrame): DataFrame = {
    graft.expressions.GraftFunctions.register(docs.sparkSession)
    docs.selectExpr("doc_id", ShingleGen)
  }

  /** q36 — MinHash signature: element k is the min over distinct shingles
    * of the salted md5 hex `md5("k:" + shingle)` — computed ROW-LOCALLY by
    * the native [[graft.expressions.MinHashSignature]] expression (one
    * fold per document: no shingle explode, NO SHUFFLE; the aggregate form
    * materialized the corpus as shingle rows and shuffled k-wide MIN
    * partials per doc). The md5 count is identical; the oracle keeps the
    * list_min formulation, cross-checking the fold hash-exactly.
    *
    * Shape guards: the token-count filter sits BELOW the projection (it is
    * cheap and equals the oracle's `len >= 3` — predicate pushdown must
    * never be able to inline the expensive signature into a filter), and
    * the sig[i] column split stays a SEPARATE projection (CollapseProject
    * does not duplicate non-cheap expressions; `PlanShapeSpec` asserts one
    * evaluation). `numHashes` is a runtime dial: more hashes tighten the
    * Jaccard estimate (σ ≈ 1/√k) at linear per-row cost. */
  /** The signature-row BUILDER (pre-checkpoint): exposed so
    * `PlanShapeSpec` can assert one-evaluation/no-shuffle on the plan the
    * presentation barrier below hides. */
  private[graft] def minhashSignatureRows(docs: DataFrame, numHashes: Int = NumHashes): DataFrame = {
    graft.expressions.GraftFunctions.register(docs.sparkSession)
    docs
      .filter(expr(s"size(split(text, ' ')) >= $ShingleN")) // shingles exist ⇔ ≥ n tokens
      .selectExpr("doc_id", s"${signatureExpr(numHashes)} AS sig")
      .selectExpr(("doc_id" +: (0 until numHashes).map(i => s"sig[$i] AS mh$i")): _*)
  }

  def minhashSignature(docs: DataFrame, numHashes: Int = NumHashes): DataFrame = {
    minhashSignatureRows(docs, numHashes)
      // r16: the presentation sort's range sampler re-executes the
      // un-shuffled child — here the k-md5s-per-shingle signature fold;
      // materialize the narrow rows once instead (the q79 fix)
      .localCheckpoint()
      .orderBy("doc_id")
  }

  /** Exact Jaccard over candidate pairs, computed relationally: shared
    * shingles via an equi-join on the shingle string (shuffle on shingle),
    * set sizes via one count per doc. No per-pair array materialization. */
  private def verifyJaccard(cand: DataFrame, sh0: DataFrame): DataFrame = {
    // r16: materialized once — the shingle explode fed three subtrees
    // (set sizes + both gather sides of the intersection join)
    val sh = sh0.localCheckpoint()
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(sh.as("sa"), col("a_id") === col("sa.doc_id"))
      .join(sh.as("sb"),
        col("b_id") === col("sb.doc_id") && col("sa.shingle") === col("sb.shingle"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("inter"))
    inter
      .join(counts.as("ca"), col("a_id") === col("ca.doc_id"))
      .join(counts.as("cb"), col("b_id") === col("cb.doc_id"))
      .selectExpr("a_id", "b_id",
        "inter / CAST(ca.n + cb.n - inter AS DOUBLE) AS jac")
      .filter(col("jac") >= JaccardThreshold)
      .orderBy("a_id", "b_id")
  }

  /** q37 — MinHash-LSH near-dup pairs: band the signature (md5 of the
    * band's concatenated minhashes), join on band key for candidates,
    * verify with exact shingle-Jaccard ≥ threshold. `bands`/`numHashes`
    * are runtime dials: rows-per-band = numHashes/bands sets the
    * similarity threshold the bands are sensitive to (s-curve at
    * (1/bands)^(bands/numHashes)); raise numHashes and rows-per-band as
    * the corpus grows so candidate volume stays bounded, and recall is
    * held by the ORed bands — same recipe as the hyperplane banding in
    * [[SimilarityOps]]. */
  def lshPairs(docs: DataFrame, bands: Int = Bands,
               numHashes: Int = NumHashes): DataFrame = {
    // r16: materialized once — the k-md5s-per-shingle signature fold ran
    // in BOTH self-join sides' subtrees
    val bands0 = bandKeyRows(docs, bands, numHashes).localCheckpoint()
    val cand = bands0.as("x").join(bands0.as("y"), col("x.band") === col("y.band")
        && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    verifyJaccard(cand, shingleRows(docs))
  }

  /** The row-local signature expression (used by [[minhashSignature]] and
    * the streaming ingest guard — same text, same hashes). */
  private[graft] def signatureExpr(numHashes: Int = NumHashes): String =
    s"graft_minhash($ShingleArrayGen, $numHashes)"

  /** Per-band key expressions over a signature ARRAY column: md5 of the
    * band's concatenated minhash hex — ONE construction shared by the
    * self-join (q37), incremental (q69), and streaming-guard variants so
    * they can never disagree on what a band is. */
  private[graft] def bandKeyExprs(sigCol: String, bands: Int, numHashes: Int): Seq[String] = {
    require(numHashes % bands == 0, "bands must evenly divide numHashes")
    val rows = numHashes / bands
    (0 until bands).map { b =>
      val cols = (0 until rows).map(r => s"$sigCol[${b * rows + r}]").mkString(", ")
      s"md5(concat($cols))"
    }
  }

  /** LSH band keys as rows (doc_id, band). */
  private def bandKeyRows(docs: DataFrame, bands: Int, numHashes: Int): DataFrame = {
    graft.expressions.GraftFunctions.register(docs.sparkSession)
    docs
      .filter(expr(s"size(split(text, ' ')) >= $ShingleN"))
      .selectExpr("doc_id", s"${signatureExpr(numHashes)} AS sig")
      .selectExpr("doc_id",
        s"explode(array(${bandKeyExprs("sig", bands, numHashes).mkString(", ")})) AS band")
  }

  /** The source partition q69 treats as the arriving batch (a runtime
    * choice in library use; fixed here so the graded query is stable). */
  val IncrementSource = "src5"

  /** The (corpus, arriving batch) split every incremental consumer keys
    * on — ONE rule, so q69's live probe, q116's materialized snapshot,
    * and the Catalog view can never diverge on what "the increment" is. */
  def incrementSplit(docs: DataFrame): (DataFrame, DataFrame) =
    (docs.filter(col("source") =!= lit(IncrementSource)),
     docs.filter(col("source") === lit(IncrementSource)))

  /** q69 — INCREMENTAL near-dup detection: dedup an arriving batch against
    * the existing corpus — the production shape of corpus maintenance,
    * where recomputing the corpus-wide pair table per ingest (q37 daily at
    * 100 TB) would dwarf the ingest itself.
    *
    * Plan shape at scale: the increment's band keys are BOUNDED (a daily
    * batch) and explicitly broadcast, so the corpus side — whose band keys
    * are a row-local projection of its (in production, persisted)
    * signatures — is probed IN PLACE, never shuffled. The Jaccard verify
    * then touches shingles only for candidate docs (the candidate table is
    * increment-bounded, so its doc_id joins broadcast too). Caller
    * guarantees the two doc_id sets are disjoint; the guard below makes a
    * violation fail LOUDLY — a shared id would not just self-pair, it
    * doubles that doc's shingle rows in the unioned verify input,
    * silently corrupting the Jaccard of every candidate pair touching it.
    * Output pairs are (a_id corpus doc, b_id new doc). */
  def incrementalLshPairs(corpus: DataFrame, increment: DataFrame,
                          bands: Int = Bands, numHashes: Int = NumHashes): DataFrame = {
    val cand = bandKeyRows(corpus, bands, numHashes).as("x")
      .join(broadcast(bandKeyRows(increment, bands, numHashes)).as("y"),
        col("x.band") === col("y.band"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    // disjointness guard: one broadcast semi-join over corpus ids (the
    // increment side is batch-bounded — row-local probe, no corpus
    // shuffle), unioned into the output plan so a violated precondition
    // fails THE JOB with a named doc_id instead of returning wrong jac
    val clash = corpus.select("doc_id")
      .join(broadcast(increment.select("doc_id")), Seq("doc_id"), "left_semi")
      .selectExpr(
        """CAST(raise_error(concat('incrementalLshPairs: doc_id ',
           CAST(doc_id AS STRING), ' present in both corpus and increment')) AS BIGINT) AS a_id""",
        "CAST(NULL AS BIGINT) AS b_id", "CAST(NULL AS DOUBLE) AS jac")
    verifyJaccard(cand, shingleRows(corpus.unionByName(increment)))
      .unionByName(clash)
      .orderBy("a_id", "b_id")
  }

  /** q116 — INCREMENT ADMISSION REPORT: the per-document verdict a corpus
    * maintenance job publishes for an arriving batch — for every
    * increment doc, `status` ('dup' / 'novel'), the best-matching corpus
    * doc (`dup_of`: max Jaccard, ties to the minimum corpus id) and that
    * `jac` — the row an ingest operator reads to decide admit-vs-drop and
    * the changelog a release ships next to q100's manifest. Consumes the
    * MATERIALIZED q69 pair snapshot (the q91 reads-vs-measures division:
    * q69 stays the live measured probe).
    *
    * Scale shape: the pair table is increment-bounded by construction
    * (q69's output), so the per-doc argmax is a map-combinable MAX over a
    * (jac, -a_id) struct on a small table, and the left join back to the
    * increment ids broadcasts the aggregated side. No corpus access at
    * all. Determinism: the argmax struct is lexicographic on both
    * engines; jac is the exact-integer-ratio double q38 grades. */
  def incrementReport(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val inc = docs.filter(col("source") === lit(IncrementSource)).select("doc_id")
    val best = pairs
      .selectExpr("b_id", "named_struct('j', jac, 'na', -a_id) AS p")
      .groupBy("b_id").agg(max("p").as("b"))
      .selectExpr("b_id AS doc_id", "b.j AS jac", "-b.na AS dup_of")
    inc.join(broadcast(best), Seq("doc_id"), "left_outer")
      .selectExpr("doc_id", "dup_of", "jac",
        "CASE WHEN dup_of IS NULL THEN 'novel' ELSE 'dup' END AS status")
      .orderBy("doc_id")
  }

  /** q38 — exact n-gram Jaccard over DISCRIMINATIVE shingles: shingles with
    * document frequency above `dfCap` are dropped on BOTH sides of the
    * Jaccard (intersection and set sizes) before the pair join — standard
    * near-dup practice (boilerplate shingles carry no dedup signal).
    *
    * This is what makes the exact variant scale-safe: pairs materialize
    * only through a shared kept shingle, and a kept shingle emits ≤ dfCap²
    * join rows — the pair space is Σ_shingle df² ≤ dfCap × |shingle rows|,
    * LINEAR in the corpus instead of quadratic in the hottest (lang,
    * source) bucket, and no hot-shingle join-key skew can exist by
    * construction. The df filter is one map-side-combined count plus an
    * ANTI-join against the hot set — at most |shingle rows| / dfCap
    * entries, in practice a tiny boilerplate vocabulary that AQE
    * broadcasts, so the majority side is filtered in place.
    *
    * Formulation note: the group-by-shingle alternative (collect each
    * kept shingle's ≤ dfCap doc list once, emit pairs row-locally from
    * the sorted list) was measured 17% SLOWER at sf0.1/local[32]
    * (1.47 s vs 1.26 s min-of-3) — list materialization plus the HOF
    * pair explode costs more than the second sort-merge probe side here;
    * both formulations share the same bounded pair space, so the
    * self-join stands on measurement, not assumption. */
  /** The df-capped shingle table BUILDER (pre-checkpoint): q38 carves
    * this out so `PlanShapeSpec` can assert the anti-join / no-global-
    * distinct shape that [[jaccardPairs]]' materialization barrier hides
    * (the q159 `editLinkagePairsCandidates` discipline). */
  private[graft] def keptShingles(docs: DataFrame, dfCap: Int = DfCap): DataFrame = {
    graft.expressions.GraftFunctions.register(docs.sparkSession)
    // bucket columns ride along through the explode — no join back to docs
    val sh0 = docs.selectExpr("doc_id", "lang", "source", ShingleGen)
    val hot = sh0.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select("shingle")
    sh0.join(hot, Seq("shingle"), "left_anti")
  }

  def jaccardPairs(docs: DataFrame, dfCap: Int = DfCap): DataFrame = {
    // r16: materialized once — un-checkpointed, the shingle explode AND
    // the df-cap anti-join re-ran in each of the three consumer subtrees
    // (set sizes + both self-join sides)
    val sh = keptShingles(docs, dfCap).localCheckpoint()
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    sh.as("sa").join(sh.as("sb"),
        col("sa.lang") === col("sb.lang") && col("sa.source") === col("sb.source")
          && col("sa.shingle") === col("sb.shingle")
          && col("sa.doc_id") < col("sb.doc_id"))
      .groupBy(col("sa.doc_id").as("a_id"), col("sb.doc_id").as("b_id"))
      .agg(count(lit(1)).as("inter"))
      .join(counts.as("ca"), col("a_id") === col("ca.doc_id"))
      .join(counts.as("cb"), col("b_id") === col("cb.doc_id"))
      .selectExpr("a_id", "b_id",
        "inter / CAST(ca.n + cb.n - inter AS DOUBLE) AS jac")
      .filter(col("jac") >= JaccardThreshold)
      .orderBy("a_id", "b_id")
  }

  /** q39 — SimHash: per distinct token a 60-bit md5 slice votes +1/-1 per
    * bit, majority → bit set — computed ROW-LOCALLY by the native
    * [[graft.expressions.SimHash64]] expression (one md5 per distinct
    * token, no explode, NO SHUFFLE: the signature never leaves its scan
    * partition, where the aggregate form shuffled 8·bits bytes of vote
    * partials per document). The oracle keeps the explode+SUM formulation,
    * so the expression's bit math is cross-checked hash-exactly. */
  /** The signature table without q39's presentation sort — the pair
    * queries' composition input (r16: they checkpoint it themselves, so
    * the per-token md5 fold runs once, not once per join-side subtree). */
  private[graft] def simhashRaw(docs: DataFrame): DataFrame = {
    graft.expressions.GraftFunctions.register(docs.sparkSession)
    docs
      // the explode+aggregate form (and the oracle) DROP a null-text doc
      // (zero token rows); null-propagation through the expression would
      // instead emit a (doc_id, NULL) row — filter to match exactly
      .filter(expr("text IS NOT NULL"))
      .selectExpr("doc_id",
        s"graft_simhash(array_distinct(split(text, ' ')), $SimhashBits) AS simhash")
  }

  def simhash(docs: DataFrame): DataFrame =
    simhashRaw(docs).orderBy("doc_id")

  /** q62 — SimHash-LSH pairs, the GLOBAL scale path: slice the 60-bit
    * simhash into `bands` contiguous bit-bands; candidates share at least
    * one band verbatim; verify exact hamming on candidates only.
    *
    * Pigeonhole recall GUARANTEE (not probabilistic like MinHash bands):
    * `threshold < bands` means any pair within the hamming threshold has
    * fewer differing bits than bands, so some band is untouched and the
    * pair MUST collide — recall is exactly 1 while the candidate space is
    * bounded by per-band collisions (each band key is 15 bits → 32k
    * buckets, and band count/width are runtime dials). This is the
    * classic web-dedup formulation for tight thresholds; [[simhashPairs]]
    * covers the loose-threshold regime with radius-probed multi-index
    * hashing, where untouched-band banding cannot guarantee recall. */
  def simhashLshPairs(docs: DataFrame, threshold: Int = 3, bands: Int = 4): DataFrame = {
    require(threshold < bands,
      "pigeonhole guarantee needs threshold < bands (else recall < 1)")
    require(SimhashBits % bands == 0, "bands must evenly divide SimhashBits")
    val bits = SimhashBits / bands
    val mask = (1L << bits) - 1
    // r16: left EXACTLY as it was — both attempted variants measured
    // slower at sf0.1 (checkpointed signature 0.97→1.09 s, unsorted
    // signature 0.97→1.24 s; this two-subtree fan-out is cheaper
    // re-folded than barriered, and the doc_id sort evidently feeds the
    // band join better-clustered data). q40's four-subtree fan-out is
    // the one that pays for a checkpoint.
    val sh = simhash(docs)
    val keys = (0 until bands).map(b =>
      s"(${b.toLong << bits}L + (shiftright(simhash, ${b * bits}) & ${mask}L))")
    // the simhash rides along in the band rows (8 bytes next to the band
    // key) so the hamming verify happens INSIDE the band join — no gather
    // joins back to the signature table, and the dedup of pairs colliding
    // in several bands shuffles only verified survivors. This is the
    // payload-in-shuffle exception: for a fixed 8-byte payload the ride-
    // along beats a re-gather; the vector ops ([[SimilarityOps]]) keep
    // their 512-byte payloads OUT of the candidate shuffle instead.
    val bandRows = sh.selectExpr("doc_id", "simhash",
      s"explode(array(${keys.mkString(", ")})) AS band")
    bandRows.as("x").join(bandRows.as("y"),
        col("x.band") === col("y.band") && col("x.doc_id") < col("y.doc_id"))
      .selectExpr("x.doc_id AS a_id", "y.doc_id AS b_id",
        "CAST(bit_count(x.simhash ^ y.simhash) AS BIGINT) AS hamming")
      .filter(col("hamming") <= threshold)
      .distinct() // multi-band collisions carry identical hamming
      .orderBy("a_id", "b_id")
  }

  /** Multi-index-hashing band count for [[simhashPairs]] (Norouzi/Punjani/
    * Fleet, "Fast Search in Hamming Space with Multi-Index Hashing", CVPR
    * 2012): 6 bands of 10 bits over the 60-bit simhash, probe radius
    * floor(threshold/bands) = 2 per band. */
  val MihBands = 6

  /** q40 — SimHash near-dup pairs: hamming distance (popcount of xor) under
    * [[HammingThreshold]] within (lang, source) buckets.
    *
    * Candidates come from MULTI-INDEX HASHING, never an all-pairs join: the
    * loose threshold (16 of 60 bits) defeats plain banding (pigeonhole
    * recall 1 would need 17+ untouched bands of ≤3 bits — a 8-value
    * keyspace, i.e. quadratic buckets). By the generalized pigeonhole, two
    * codes within hamming 16 differ by ≤ floor(16/6) = 2 bits in SOME
    * 10-bit band (all six differing by ≥3 would sum to ≥18). The probe
    * radius 2 is covered by TWO disjoint band joins, split by band
    * distance d:
    *  - NEAR (d ≤ 1): true band keys (6 rows/doc, the SHJ build side)
    *    against keys expanded by all masks of ≤1 bit (11 masks × 6 bands
    *    = 66 rows/doc) — band-diff ∅ collides at mask 0, diff {i} at
    *    mask {i}, each exactly once per orientation;
    *  - FAR (d = 2): 1-bit-expanded keys on BOTH sides (60 rows/doc each)
    *    with `x.m < y.m` — diff {i,j} factors uniquely as ({min},{max}),
    *    and d ≤ 1 cannot appear (two DISTINCT 1-bit masks xor to 2 bits).
    * Recall is exactly 1: any qualifying pair has some band at d ≤ 2,
    * caught by exactly one of the joins. The split exists to kill
    * duplicate HASH MATCHING, not just duplicate output: a symmetric
    * single join with masks on both sides matches every identical-band
    * pair once per identical mask pair (11×) before any canonicalizing
    * residual can drop it, and identical bands are the dominant collision
    * class precisely when the corpus has duplicate clusters (measured
    * ~8% faster at sf0.1; the gap widens with duplicate density).
    * Candidate volume is bounded by per-(band-key, lang, source)
    * collisions — 2¹⁰ buckets per band, narrowing with corpus growth by
    * raising bits-per-band — instead of O(bucket²) in the hottest
    * stratum. The hamming verify runs inside the band joins (the 8-byte
    * signature rides along, same trade as [[simhashLshPairs]]);
    * multi-band hits dedup AFTER the threshold filter, so only verified
    * survivors shuffle. Radius ≥ 3 (a threshold ≥ 3 bits per band — far
    * beyond near-dup regimes) falls back to the symmetric mask split with
    * a canonicalizing residual. */
  def simhashPairs(docs: DataFrame, threshold: Int = HammingThreshold,
                   bands: Int = MihBands): DataFrame = {
    require(SimhashBits % bands == 0, "bands must evenly divide SimhashBits")
    val bits = SimhashBits / bands
    val radius = threshold / bands // generalized pigeonhole probe radius
    val lowMask = (1L << bits) - 1
    // r16: signature + bucket tags in ONE scan (the lang/source gather
    // used to be a join back to the corpus), materialized once — the
    // plan previously re-ran the per-token md5 fold in EVERY band-join
    // side's subtree (4× at radius 2).
    graft.expressions.GraftFunctions.register(docs.sparkSession)
    val sh = docs.filter(expr("text IS NOT NULL"))
      .selectExpr("doc_id",
        s"graft_simhash(array_distinct(split(text, ' ')), $SimhashBits) AS simhash",
        "lang", "source")
      .localCheckpoint()
    val keyExprs = (0 until bands).map(b =>
      s"(${b.toLong << bits}L + (shiftright(simhash, ${b * bits}) & ${lowMask}L))")
    val trueKeys = sh.selectExpr("doc_id", "simhash", "lang", "source",
      s"explode(array(${keyExprs.mkString(", ")})) AS pband")
    // XOR masks touch only the band's low `bits` (masks < 2^bits never
    // reach the band-index prefix), so cross-band keys can never collide
    val oneBit = (0 until bits).map(1L << _)
    def verified(pairs: DataFrame): DataFrame = pairs
      .selectExpr("x.doc_id AS a_id", "y.doc_id AS b_id",
        "CAST(bit_count(x.simhash ^ y.simhash) AS BIGINT) AS hamming")
      .filter(col("hamming") <= threshold)
    val candidates = if (radius <= 2) {
      val nearMasks = if (radius >= 1) "0L, " + oneBit.mkString("L, ") + "L" else "0L"
      val nearKeys = trueKeys.selectExpr("doc_id", "simhash", "lang", "source",
        s"explode(transform(array($nearMasks), m -> pband ^ m)) AS pband")
      // shuffled-hash with the 11×-smaller true-key side as build; when a
      // side fits, AQE still upgrades to broadcast
      val near = verified(trueKeys.hint("shuffle_hash").as("x").join(nearKeys.as("y"),
        col("x.pband") === col("y.pband")
          && col("x.lang") === col("y.lang") && col("x.source") === col("y.source")
          && col("x.doc_id") < col("y.doc_id")))
      if (radius < 2) near
      else {
        val obKeys = trueKeys.selectExpr("doc_id", "simhash", "lang", "source",
          s"""explode(transform(array(${oneBit.mkString("L, ")}L),
                m -> struct(pband ^ m AS pband, m AS m))) AS pk""")
          .selectExpr("doc_id", "simhash", "lang", "source", "pk.pband AS pband", "pk.m AS m")
        val far = verified(obKeys.as("x").join(obKeys.hint("shuffle_hash").as("y"),
          col("x.pband") === col("y.pband")
            && col("x.lang") === col("y.lang") && col("x.source") === col("y.source")
            && col("x.doc_id") < col("y.doc_id") && col("x.m") < col("y.m")))
        near.union(far)
      }
    } else {
      // general symmetric split: ⌈radius/2⌉-bit masks per side cover band
      // distance ≤ radius; the residual keeps one (ma, mb) factorization
      val sideRadius = (radius + 1) / 2
      val masks = (0 until (1 << bits)).filter(m => Integer.bitCount(m) <= sideRadius)
      val probeKeys = trueKeys.selectExpr("doc_id", "simhash", "lang", "source",
        s"""explode(transform(array(${masks.mkString(", ")}),
              m -> struct(pband ^ CAST(m AS BIGINT) AS pband, CAST(m AS BIGINT) AS m))) AS pk""")
        .selectExpr("doc_id", "simhash", "lang", "source", "pk.pband AS pband", "pk.m AS m")
      val canonicalSplit = (col("x.m") < col("y.m")) ||
        (col("x.m") === 0 && col("y.m") === 0)
      verified(probeKeys.as("x").join(probeKeys.hint("shuffle_hash").as("y"),
        col("x.pband") === col("y.pband")
          && col("x.lang") === col("y.lang") && col("x.source") === col("y.source")
          && col("x.doc_id") < col("y.doc_id") && canonicalSplit))
    }
    candidates
      .distinct() // multi-band hits carry identical hamming
      .orderBy("a_id", "b_id")
  }

  /** k-gram width for [[duplicateSpans]] — long enough that a shared gram
    * means copied text, short enough that real near-dup spans aren't
    * missed (Lee et al. use 50 BPE tokens at web scale; the test corpus's
    * docs are ~100 words). A runtime dial like the LSH band constants. */
  val SpanGramN = 8

  /** q80 — EXACT SUBSTRING-SPAN dedup (Lee/Ippolito et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022): flag the
    * maximal token spans of each document that also occur verbatim in some
    * OTHER document. Doc-level passes (q34 fingerprints, q37 MinHash, q40
    * SimHash) cannot express this — two long documents sharing one copied
    * paragraph have low global similarity, yet a trainer wants exactly
    * that paragraph flagged/cut.
    *
    * Fingerprint formulation of the suffix-array pass: any repeated span
    * of ≥ k tokens contains a repeated k-gram, so (1) every k-gram
    * position becomes a row with an md5 fingerprint (row-local
    * `graft_shingles` + posexplode — positions ARE the shingle indexes);
    * (2) a fingerprint is cross-doc duplicated iff min(doc_id) ≠
    * max(doc_id) (one map-side-combinable aggregate — no count-distinct
    * state, no pair join ANYWHERE: the corpus never meets itself, pair
    * space does not exist); (3) each doc's duplicated gram positions merge
    * into maximal spans [pos, pos+k-1] via the q54 gap-merge (windows
    * PARTITIONED by doc_id — per-doc bounded, skew-free). Two gram-keyed
    * shuffles of the corpus total; everything else is row-local or
    * doc-local. */
  def duplicateSpans(docs: DataFrame, k: Int = SpanGramN): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.expressions.GraftFunctions.register(docs.sparkSession)
    // r16: the gram build (scan + shingle explode + md5) feeds two
    // subtrees (duplicated-fp aggregate, position lookup); materialize
    // it once instead of recomputing per subtree. A co-keyed
    // single-exchange rewrite was measured SLOWER (the raw-gram
    // exchange outweighs the saved recompute once the aggregate loses
    // its map-side partial) — see OPTIMIZATION_r16.md.
    val grams = docs
      .filter(expr(s"size(split(text, ' ')) >= $k"))
      .selectExpr("doc_id",
        s"posexplode(transform(graft_shingles(split(text, ' '), $k), g -> md5(g))) AS (pos, fp)")
      .localCheckpoint()
    val dupFps = grams.groupBy("fp")
      .agg(min("doc_id").as("mn"), max("doc_id").as("mx"))
      .filter(col("mn") =!= col("mx")).select("fp")
    val dupPos = grams.join(dupFps, Seq("fp"), "left_semi")
      .select(col("doc_id"), col("pos").cast("long").as("pos"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    dupPos
      .withColumn("new_s",
        when(col("pos") - lag("pos", 1).over(w) <= k, 0L).otherwise(1L))
      .withColumn("span_idx", sum("new_s").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "span_idx")
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(k.toLong - 1)).as("span_end"))
      .selectExpr("doc_id", "span_idx", "span_start", "span_end",
        "span_end - span_start + 1 AS span_tokens")
      .orderBy("doc_id", "span_start")
  }

  /** Keeper-encoding base for [[spanScrub]]: (doc_id, pos) packs into one
    * BIGINT so the per-fingerprint "first occurrence" is a plain MIN — a
    * map-side-combinable aggregate instead of an engine-specific
    * struct-min. Positions are shingle indexes, bounded by document token
    * count; 2^20 tokens/doc leaves 43 bits of doc_id space. */
  val PosEnc = 1L << 20

  /** q84 — SPAN SCRUB: the transformation half of [[duplicateSpans]] (Lee/
    * Ippolito et al. 2022 §4 "ExactSubstr"): REMOVE every duplicated k-gram
    * span occurrence except the globally first one, and emit the cleaned
    * corpus. q80 tells a trainer where the copied spans are; this produces
    * the training text with them cut, which is the artifact the pipeline
    * actually feeds downstream.
    *
    * Keep-first policy, made exact: a gram occurrence is REMOVABLE iff its
    * fingerprint occurs more than once in the corpus (within-doc repeats
    * count, unlike q80's cross-doc flagging — the suffix-array pass dedups
    * self-repeats too) and the occurrence is not the fingerprint's keeper
    * (minimal (doc_id, pos), encoded via [[PosEnc]]). A token is cut iff
    * some removable gram covers it. The keeper doc keeps its (first) copy;
    * every other copy loses exactly the duplicated run, not the whole doc.
    *
    * Scale shape, same as q80: gram rows shuffle twice on the fingerprint
    * key (keeper aggregate, then the removable semi-lookup); coverage
    * collapses to ONE bounded array per doc (≤ tokens/doc positions); the
    * token cut is a row-local higher-order filter over (token, index)
    * against that array. No pair join, no window, no corpus self-join —
    * pair space never exists. */
  /** The shared scrub core: (doc_id, toks, kept). */
  private def scrubbed(docs: DataFrame, k: Int): DataFrame = {
    graft.expressions.GraftFunctions.register(docs.sparkSession)
    val grams = docs
      .filter(expr(s"size(split(text, ' ')) >= $k"))
      .selectExpr("doc_id",
        s"posexplode(transform(graft_shingles(split(text, ' '), $k), g -> md5(g))) AS (pos, fp)")
      // a doc past the PosEnc position budget would silently overflow into
      // the doc_id bits and mis-pick keepers — fail LOUDLY instead (the
      // q67/q69 in-plan guard idiom); raise the budget if it ever fires
      .selectExpr("doc_id",
        s"""CASE WHEN pos >= ${PosEnc}L
                 THEN CAST(raise_error(concat('q84: doc ', CAST(doc_id AS STRING),
                        ' exceeds the ', CAST(${PosEnc}L AS STRING),
                        '-token keeper-encoding budget')) AS BIGINT)
                 ELSE CAST(pos AS BIGINT) END AS pos""",
        "fp")
      // r16: materialized once for the two consumers (see duplicateSpans)
      .localCheckpoint()
    val keepers = grams.groupBy("fp")
      .agg(count(lit(1)).as("n"), min(expr(s"doc_id * ${PosEnc}L + pos")).as("keeper"))
      .filter(col("n") > 1).select("fp", "keeper")
    val removable = grams.join(keepers, "fp")
      .filter(expr(s"doc_id * ${PosEnc}L + pos") =!= col("keeper"))
      .groupBy("doc_id").agg(sort_array(collect_set(col("pos"))).as("rs"))
    docs.join(removable, Seq("doc_id"), "left")
      .selectExpr("doc_id", "split(text, ' ') AS toks",
        "coalesce(rs, CAST(array() AS ARRAY<BIGINT>)) AS rs")
      .selectExpr("doc_id", "toks",
        s"filter(toks, (t, i) -> NOT exists(rs, q -> q <= i AND i <= q + ${k - 1})) AS kept")
  }

  def spanScrub(docs: DataFrame, k: Int = SpanGramN): DataFrame =
    scrubbed(docs, k)
      .selectExpr("doc_id",
        "CAST(size(toks) AS BIGINT) AS n_tokens",
        "CAST(size(toks) - size(kept) AS BIGINT) AS n_removed",
        "md5(array_join(kept, ' ')) AS clean_fp")
      // r16: the presentation sort's range sampler re-executes everything
      // above the last shuffle — here the covered-token filter and the
      // clean-text md5 render; materialize the narrow rows once instead
      .localCheckpoint()
      .orderBy("doc_id")

  /** The scrubbed TEXT itself — for pipeline stages that keep transforming
    * ([[graft.ops]] q89 renders PII redaction over it). Unordered: a
    * composition input, not a graded output. */
  def spanScrubText(docs: DataFrame, k: Int = SpanGramN): DataFrame =
    scrubbed(docs, k).selectExpr("doc_id", "array_join(kept, ' ') AS clean_text")

  /** q91 — DEDUP CROSS-AUDIT: candidate recall of the production LSH pass
    * (q37) against the df-capped exact pass (q38) on the same corpus — the
    * consistency gate a real corpus build runs between its approximate and
    * exact dedup pipelines. One row: pair counts from each pass, their
    * intersection, and recall = |common| / |exact|. Both inputs are
    * individually hash-verified; a bands/hashes retune that craters LSH
    * candidate recall flips this row and fails CORRECTNESS — the q43/q55
    * recall_at_k tripwire pattern applied to dedup. The 1-row aggregates
    * combine via broadcast-one-row cross joins (the stats-table idiom). */
  /** Audit over the corpus directly — derives both pair tables inline.
    * Query-path callers should use the two-table overload against
    * MATERIALIZED pair snapshots instead: the audit is a pipeline STAGE
    * (it consumes the dedup passes' persisted outputs, the q59 pattern),
    * not a reason to re-run LSH and the exact pass from raw text. */
  def dedupAudit(docs: DataFrame): DataFrame =
    dedupAudit(jaccardPairs(docs), lshPairs(docs))

  def dedupAudit(exactPairs: DataFrame, lshPairTable: DataFrame): DataFrame = {
    val exact = exactPairs.select("a_id", "b_id")
    val lsh = lshPairTable.select("a_id", "b_id")
    val common = exact.join(lsh, Seq("a_id", "b_id"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(broadcast(lsh.agg(count(lit(1)).as("n_lsh"))))
      .crossJoin(broadcast(common.agg(count(lit(1)).as("n_common"))))
      .selectExpr("n_exact", "n_lsh", "n_common",
        """CASE WHEN n_exact = 0 THEN 1.0
                ELSE CAST(n_common AS DOUBLE) / CAST(n_exact AS DOUBLE) END AS recall""")
  }

  /** The q84 scrub-chain CTEs over an arbitrary (doc_id, text) relation —
    * shared with the q89 composition oracle so the two cannot drift. Ends
    * with CTE `p`: one row per (doc, token position) with its `cov`
    * (covered-by-removable-span) flag. */
  private[graft] def duckSpanScrubCtes(src: String): String =
    s"""toks AS (SELECT doc_id, str_split(text, ' ') AS ts FROM $src),
        g AS (SELECT doc_id, i - 1 AS pos,
                     md5(array_to_string(ts[i:i+$SpanGramN-1], ' ')) AS fp
              FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - $SpanGramN + 2)) AS i
                    FROM toks WHERE len(ts) >= $SpanGramN)),
        d AS (SELECT fp, MIN(doc_id * $PosEnc + pos) AS keeper
              FROM g GROUP BY fp HAVING COUNT(*) > 1),
        r AS (SELECT g.doc_id, list_sort(list(DISTINCT g.pos)) AS rs
              FROM g JOIN d ON g.fp = d.fp
              WHERE g.doc_id * $PosEnc + g.pos <> d.keeper
              GROUP BY g.doc_id),
        p AS (SELECT doc_id, i, ts[i] AS tok,
                     len(list_filter(rs, q -> q <= i - 1
                                              AND i - 1 <= q + ${SpanGramN - 1})) > 0 AS cov
              FROM (SELECT t.doc_id, t.ts, COALESCE(r.rs, []) AS rs,
                           unnest(range(1, len(t.ts) + 1)) AS i
                    FROM toks t LEFT JOIN r ON t.doc_id = r.doc_id))"""

  val WinnowK = 5       // character k-gram width
  val WinnowW = 4       // winnowing window ⇒ guarantee threshold t = K+W-1 = 8
  val WinnowDfCap = 8   // stop-fingerprint cut (MOSS drops ubiquitous prints)
  val WinnowMinShared = 2

  /** q135 — WINNOWING fingerprint pairs (Schleimer, Wilkerson, Aiken,
    * SIGMOD 2003 — the MOSS algorithm): hash every K-char k-gram, slide a
    * W-hash window, select each window's minimum (rightmost on ties), and
    * report document pairs sharing ≥ [[WinnowMinShared]] selected
    * fingerprints with their resemblance. The selection rule carries the
    * GUARANTEE the other dedup family members lack: any shared substring
    * of length ≥ K+W−1 produces at least one shared fingerprint (and no
    * match shorter than K is ever found) — position-robust plagiarism /
    * license-text detection, vs MinHash/SimHash's whole-document
    * similarity and q80's exact n-gram spans.
    *
    * Rightmost tie-break rides `MIN(struct(h, -p))`: struct ordering is
    * lexicographic in BOTH engines, so min-hash-then-max-position is one
    * windowed MIN — no argmin self-join. Selections collapse to the
    * distinct per-doc fingerprint SET (winnowing density 2/(W+1) ⇒ ~1/3
    * of grams survive before the set-collapse).
    *
    * Scale shape: the window is PARTITIONED by doc_id (per-doc sort, the
    * q112-documented scale-safe shape); fingerprints with document
    * frequency > [[WinnowDfCap]] are dropped BEFORE the pair join (the
    * q38 DfCap pattern — MOSS's own "ignore fingerprints in many
    * documents" rule), bounding every join bucket at C(cap,2) pairs; the
    * per-doc size join collapses to (doc_id, count) first (the q120
    * collapse). No cartesian, no unpartitioned window, no all-pairs. */
  /** The distinct winnowed fingerprint SET per document, as rows — via the
    * native [[graft.expressions.WinnowHashes]] expression: one linear pass
    * per doc selects the fingerprints ROW-LOCALLY, so neither the
    * character-position explode nor the selections ever shuffle (the
    * windowed form paid a corpus-sized window sort + a global distinct;
    * the windowed twin + checkpoint measured 5.1 s, this form 3.0 s at
    * sf0.1). One definition feeds [[winnowPairs]] and the tests;
    * `DedupOpsSpec`'s windowed `MIN(struct(h, -p))` form is the composed
    * twin it proves bit-equal (and the shape the DuckDB oracle runs). */
  def winnowFingerprints(docs: DataFrame): DataFrame = {
    graft.expressions.GraftFunctions.register(docs.sparkSession)
    docs.selectExpr("doc_id",
      s"explode(graft_winnow(text, $WinnowK, $WinnowW)) AS h")
  }

  def winnowPairs(docs: DataFrame): DataFrame = {
    // materialize the fingerprint set ONCE (the q101/q108 idiom): it is
    // read four times below (df cut, both pair-join sides, per-doc sizes)
    // and each read would otherwise re-run the explode + window + distinct
    // chain — without it the md5 pass reruns per consumer: 6.1 s vs 3.0 s at sf0.1. At 100 TB this is the
    // fingerprint table a real pipeline writes to storage and reuses.
    val sel = winnowFingerprints(docs).localCheckpoint()
    val kept = sel.groupBy("h").agg(count(lit(1)).as("df"))
      .where(col("df") <= WinnowDfCap)
      .select("h")
    val fps = sel.join(kept, Seq("h")) // co-keyed on h — no extra shuffle shape
    val fpn = fps.groupBy("doc_id").agg(count(lit(1)).as("nf"))
    fps.as("a").join(fps.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= WinnowMinShared)
      .join(fpn.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("nf", "n_fp_a"), Seq("doc_a"))
      .join(fpn.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("nf", "n_fp_b"), Seq("doc_b"))
      .selectExpr("doc_a", "doc_b", "n_shared", "n_fp_a", "n_fp_b",
        "CAST(n_shared AS DOUBLE) / CAST(n_fp_a + n_fp_b - n_shared AS DOUBLE) AS resemblance")
      .orderBy("doc_a", "doc_b")
  }

  /** DuckDB equivalents. Same md5-salting construction, generated from the
    * same constants so the two sides cannot drift. */
  /** q159 — EDIT-DISTANCE RECORD LINKAGE via the SymSpell
    * deletion-neighborhood join (Garbe's symmetric-delete scheme; the
    * spelling-correction candidate rule turned into an entity-resolution
    * join): every pair of customer names at Levenshtein distance exactly 1,
    * found WITHOUT an all-pairs comparison. Two complete candidate
    * branches cover the d = 1 edit taxonomy:
    *
    *  - substitution (equal length): a and b differ at one position i
    *    ⇔ deleting position i from both yields the SAME string — so the
    *    positional deletion-variant tables equi-join on (pos, variant);
    *  - insert/delete (length ± 1): the longer name with one char deleted
    *    IS the shorter name — so the variant table equi-joins the name
    *    table directly.
    *
    * Both joins are plain hash equi-joins whose key groups are bounded by
    * the alphabet (a (pos, variant) key admits ≤ |Σ| names; a variant key
    * admits ≤ (len+1)·|Σ| insertions), so the plan stays near-linear even
    * when every name shares a long constant prefix — the structure that
    * makes any contiguous-block (pigeonhole) candidate rule collapse into
    * all-pairs on ID-shaped keys. The `dist = 1` filter is provably
    * always-true (the branch taxonomy above IS the proof) but executes as
    * the contract; the oracle recomputes the pair set from the bare
    * definition (length-banded brute force), so the hash match proves the
    * neighborhood scheme's completeness, not just its precision. */
  /** The LCP dial shared by q159/q177: length of the corpus-global
    * common prefix, via the classic lcp(min, max) identity — one tiny
    * aggregate collected as a one-row dial. Deletion positions strictly
    * inside the common prefix generate no match any other position
    * can't (any shared-variant witness run-shifts to a deletion at
    * position ≥ the LCP length), so both linkage queries prune their
    * variant tables to positions ≥ max(1, lcp). */
  private def prefixStart(names: DataFrame): Int = {
    val mm = names.agg(min("name").as("lo"), max("name").as("hi")).collect()(0)
    val c0 = if (mm.isNullAt(0)) 0 else {
      val (lo, hi) = (mm.getString(0), mm.getString(1))
      var k = 0
      while (k < math.min(lo.length, hi.length) && lo(k) == hi(k)) k += 1
      k
    }
    math.max(1, c0)
  }

  def editLinkagePairs(customer: DataFrame): DataFrame =
    editLinkagePairsCandidates(customer)
      // materialize before the global sort — range partitioning samples
      // its child, which would otherwise re-run both branch joins
      .localCheckpoint()
      .orderBy("name_a", "name_b")

  /** q159's pair stage pre-checkpoint — exposed (the topkStored pattern)
    * so the plan guard can pin the join shape that the final sort's
    * checkpoint would otherwise hide. */
  private[graft] def editLinkagePairsCandidates(customer: DataFrame): DataFrame = {
    val names = customer.selectExpr("c_name AS name")
      .where("name IS NOT NULL").distinct()
      .localCheckpoint() // the linkage key table; consumed by three scans
    val cs = prefixStart(names) // first deletion position worth generating
    // all one-char-deletion variants at positions ≥ the LCP dial,
    // position-tagged; generation is row-local and the variant column is
    // materialized by the explode (bounded fan-out, no shuffle)
    val tagged = names.select(col("name"), posexplode(expr(
      s"""transform(sequence($cs, length(name)),
                    i -> concat(substring(name, 1, i - 1), substring(name, i + 1)))"""))
      .as(Seq("pos", "variant")))
    val sub = tagged.as("a").join(tagged.as("b"),
        col("a.pos") === col("b.pos") && col("a.variant") === col("b.variant") &&
          col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
    // untagged distinct variants for the indel branch (dedup row-locally:
    // deleting either of two equal adjacent chars yields one variant)
    val variants = names.select(col("name"), explode(expr(
      s"""array_distinct(transform(sequence($cs, length(name)),
                         i -> concat(substring(name, 1, i - 1), substring(name, i + 1))))"""))
      .as("variant"))
    val indel = variants.as("a").join(names.as("b"),
        col("a.variant") === col("b.name"))
      .selectExpr("least(a.name, b.name) AS name_a",
        "greatest(a.name, b.name) AS name_b")
      .distinct() // deleting either of two equal adjacent chars can emit
                  // the same pair twice — dedup the (small) indel branch
    // NO global distinct: a substitution pair matches at exactly ONE
    // (pos, variant) key so the sub branch is dup-free by construction,
    // and the branches are length-disjoint — deduping the union would
    // re-shuffle every candidate for nothing
    sub.unionByName(indel)
      // r16 (optimization round): every candidate is lev = 1 BY
      // CONSTRUCTION — sub pairs are equal-length names sharing a
      // same-position deletion variant, so they differ at exactly that
      // position (hamming 1 ⇒ lev 1); indel pairs are a name and a
      // one-char deletion of it (length Δ1, lev 1, never 0 since the
      // strings differ). The banded DP this used to run per candidate
      // returned the constant 1 for every row and the `dist = 1` filter
      // never dropped one — the q177 structural-certification discipline
      // applied to the one branch family that still paid the DP. The
      // brute-definition oracle grades the claim: a single false
      // candidate would fail the hash compare.
      .withColumn("dist", lit(1L))
  }

  /** q177 — EDIT-DISTANCE LINKAGE AT RADIUS 2: q159's SymSpell scheme
    * generalized to Levenshtein distance ≤ 2 (the production fuzzy-match
    * radius), still WITHOUT an all-pairs comparison. The candidate rule
    * is Garbe's deletion-neighborhood theorem at d = 2: if lev(a,b) = d,
    * an optimal alignment deletes ≤ d chars from EACH side to a common
    * string (each sub deletes one from both; each indel deletes one from
    * the longer side) — so five equi-join branches over deletion-variant
    * tables cover the full d ≤ 2 op taxonomy, split by length delta:
    *
    *  - Δ0, share a single deletion (V1 ⋈ V1 on variant): one
    *    substitution (delete the differing position from both) AND the
    *    equal-length insert+delete pairs, transpositions included
    *    ("ab"/"ba": delete pos 1 of one, pos 2 of the other);
    *  - Δ0, two substitutions (positional V2 ⋈ V2 on (i, j, variant)):
    *    a double-sub pair differing at original positions i < j matches
    *    at EXACTLY the (i, j) double-deletion key — tagging makes the
    *    branch dup-free for its target class and alphabet²-bounds the
    *    key groups (≤ |Σ|² names per (i, j, variant));
    *  - Δ1, one indel (V1 ⋈ names): q159's branch;
    *  - Δ1, sub + indel (V2 ⋈ V1 on variant): the longer side deletes
    *    one char for the indel and one for the sub, the shorter deletes
    *    one for the sub — length algebra (Lₐ-2 = L_b-1) selects the
    *    delta implicitly;
    *  - Δ2, two indels (V2 ⋈ names): the longer minus two chars IS the
    *    shorter.
    *
    * Each branch certifies its distance STRUCTURALLY, so the general
    * edit-distance DP never runs on the bulk (measured ~200 µs/pair —
    * it was 80% of the first cut's wall-clock on 4M candidates):
    * hamming-1 and one-indel pairs are distance 1 by construction;
    * (i, j, variant)-join matches that differ at BOTH i and j are
    * exactly the hamming-2 pairs (lev = 2 always — lev 1 on equal
    * length means hamming 1) and each such pair matches at exactly one
    * (i, j), so the branch is dup-free; shared-single-deletion pairs
    * with hamming ≥ 3 are the ins+del class (lev ≤ 2 through the
    * common variant, ≥ 2 because hamming ≥ 3 excludes lev 1); the
    * two-deletion Δ2 branch is pinned at lev = 2 by the length delta.
    * Only the Δ1 sub+indel branch — whose candidates can sit at lev 3 —
    * runs the banded threshold DP, and it is orders of magnitude
    * smaller than the corpus. The branches are pairwise disjoint
    * (hamming classes and length deltas partition the taxonomy), so no
    * global distinct re-shuffles the result. The oracle is the bare
    * length-banded brute definition, so the hash match proves both
    * candidate COMPLETENESS and the structural distance assignments.
    * All joins remain hash equi-joins with alphabet-bounded key groups
    * — near-linear even under long shared prefixes, the adversarial
    * case for contiguous-block candidate rules.
    *
    * The LCP dial: deletion positions inside the corpus-global common
    * prefix (length c = lcp of the lexicographic MIN and MAX name — the
    * classic identity, one tiny aggregate collected as a one-row dial)
    * can be pruned from every variant table. Proof sketch: any shared-
    * variant witness deleting at p < c normalizes to deleting at the
    * end e of the run containing p (same variant string); if e < c the
    * variant's prefix disagrees with every name's at c-1 chars unless
    * P[e..c] is one run, which pushes e to ≥ c. So generating deletions
    * only at positions ≥ max(1, c) preserves every true match — and on
    * a shared-prefix corpus (exactly the adversarial case) it shrinks
    * the double-deletion table by (L/(L-c))² ≈ 10×. */
  def editLinkageD2Pairs(customer: DataFrame): DataFrame = {
    // materialize before the global sort (range partitioning SAMPLES its
    // child, which would otherwise re-execute every branch join a second
    // time — measured as ~60% of the query's wall-clock), and checkpoint
    // the six branches CONCURRENTLY (separate jobs from separate threads)
    // rather than as one union job: the heavy branches (b11x/b12 distinct
    // + DP) end in long low-parallelism tail stages, and concurrent jobs
    // let the scheduler fill those tails with the other branches' work —
    // measured A/B on the round-14 host before landing.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val checked = Await.result(
      Future.sequence(editLinkageD2Branches(customer)
        .map(b => Future(b.localCheckpoint()))), Duration.Inf)
    checked.reduce(_.unionByName(_)).orderBy("name_a", "name_b")
  }

  /** The six structurally-disjoint candidate branches, each tagged with
    * its certified distance — built once, checkpointed concurrently by
    * [[editLinkageD2Pairs]], unioned lazily by `PlanShapeSpec`'s plan
    * guard. */
  private[graft] def editLinkageD2Branches(customer: DataFrame): Seq[DataFrame] = {
    graft.expressions.GraftFunctions.register(customer.sparkSession)
    val names = customer.selectExpr("c_name AS name")
      .where("name IS NOT NULL").distinct()
      .localCheckpoint() // consumed by the branch scans + the LCP dial
    val cs = prefixStart(names) // first deletion position worth generating
    // V1 tagged (pos, variant) — the q159 sub-branch key; pos is the
    // 0-based index within the pruned range, an injective renaming of
    // the true position cs+pos shared by both join sides
    val v1tRaw = names.select(col("name"), posexplode(expr(
      s"""transform(sequence($cs, length(name)),
                    i -> concat(substring(name, 1, i - 1), substring(name, i + 1)))"""))
      .as(Seq("pos", "variant")))
    // V1 untagged, row-locally distinct (adjacent equal chars collapse)
    val v1Raw = names.select(col("name"), explode(expr(
      s"""array_distinct(transform(sequence($cs, length(name)),
                         i -> concat(substring(name, 1, i - 1), substring(name, i + 1))))"""))
      .as("variant"))
    // V2 positional: delete original positions i < j, (i, j) kept as the
    // join tag for the hamming-2 branch (the length guard keeps every
    // sequence() ascending — Spark DESCENDS when start > stop)
    val v2pRaw = names.where(s"length(name) > $cs")
      .select(col("name"), explode(expr(
        s"""flatten(transform(sequence($cs, length(name) - 1),
          |  i -> transform(sequence(i + 1, length(name)),
          |    j -> named_struct('i', i, 'j', j,
          |      'v', concat(substring(name, 1, i - 1),
          |                  substring(name, i + 1, j - i - 1),
          |                  substring(name, j + 1))))))""".stripMargin)).as("e"))
      .selectExpr("name", "e.i AS i", "e.j AS j", "e.v AS variant")
    // V2 untagged distinct (row-local dedup) for the Δ1/Δ2 branches
    val v2Raw = names.where(s"length(name) > $cs")
      .select(col("name"), explode(expr(
        s"""array_distinct(flatten(transform(sequence($cs, length(name) - 1),
          |  i -> transform(sequence(i + 1, length(name)),
          |    j -> concat(substring(name, 1, i - 1),
          |                substring(name, i + 1, j - i - 1),
          |                substring(name, j + 1))))))""".stripMargin)).as("variant"))
    // The four variant tables are consumed 2–4× each by the branch joins
    // below (the sub/b22 self-joins scan their table twice; v1 feeds
    // b01, b11x twice, and b12) — checkpoint each ONCE, concurrently,
    // so no explode re-executes per consumer. Measured A/B (r15, sf0.1
    // local[32], quiet min): the b22 branch alone 5.4 → 4.6 s with its
    // v2p checkpointed; full-query numbers in SURVEY §8.
    val checkpointed = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      Await.result(
        Future.sequence(Seq(v1tRaw, v1Raw, v2pRaw, v2Raw)
          .map(t => Future(t.localCheckpoint()))), Duration.Inf)
    }
    val Seq(v1t, v1, v2p, v2) = checkpointed
    // equal-length hamming, restricted to the positions that can differ
    // (≤ c agree corpus-wide) — the codegen'd native expression; the
    // interpreted HOF spelling it replaces ran at ~136 µs/row
    val hamming = s"graft_hamming(name_a, name_b, $cs)"
    // dist 1, Δ0: one substitution — matches at exactly (pos, pos)
    val sub = v1t.as("a").join(v1t.as("b"),
        col("a.pos") === col("b.pos") && col("a.variant") === col("b.variant") &&
          col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
    // dist 1, Δ1: one indel (v1 is array_distinct'd → one row per pair)
    val b01 = v1.as("a").join(names.as("b"), col("a.variant") === col("b.name"))
      .selectExpr("least(a.name, b.name) AS name_a",
        "greatest(a.name, b.name) AS name_b")
    // dist 2, Δ0, hamming-2: variant equality = "equal outside {i, j}",
    // the differ-at-i/differ-at-j residual pins hamming exactly 2 and
    // kills the hamming-1 re-matches that would otherwise fan out ×len
    val b22 = v2p.as("a").join(v2p.as("b"),
        col("a.i") === col("b.i") && col("a.j") === col("b.j") &&
          col("a.variant") === col("b.variant") && col("a.name") < col("b.name") &&
          expr("substring(a.name, a.i, 1) <> substring(b.name, b.i, 1)") &&
          expr("substring(a.name, a.j, 1) <> substring(b.name, b.j, 1)"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
    // dist 2, Δ0, ins+del beyond hamming reach (shift pairs like
    // "abc"/"bca"): share a 1-deletion variant but differ at ≥ 3
    // positions; can share several variants → small distinct
    val b11x = v1.as("a").join(v1.as("b"),
        col("a.variant") === col("b.variant") && col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
      .distinct() // dedup BEFORE the interpreted hamming lambda runs
      .where(expr(s"$hamming >= 3"))
    // dist 2, Δ1, sub+indel: the one branch whose candidates can sit at
    // lev 1 (pure indel, re-matched through an extra common deletion) or
    // lev 3 — the banded threshold DP settles it, on this branch only
    val b12 = v2.as("a").join(v1.as("b"), col("a.variant") === col("b.variant"))
      .selectExpr("least(a.name, b.name) AS name_a",
        "greatest(a.name, b.name) AS name_b")
      .distinct()
      .where(expr("levenshtein(name_a, name_b, 2) = 2"))
    // dist 2, Δ2: longer minus two chars IS the shorter — lev ≥ Δlen = 2
    // and ≤ 2 by the two deletions; dup-free via array_distinct
    val b02 = v2.as("a").join(names.as("b"), col("a.variant") === col("b.name"))
      .selectExpr("least(a.name, b.name) AS name_a",
        "greatest(a.name, b.name) AS name_b")
    Seq(sub.withColumn("dist", lit(1L)),
      b01.withColumn("dist", lit(1L)),
      b22.withColumn("dist", lit(2L)),
      b11x.withColumn("dist", lit(2L)),
      b12.withColumn("dist", lit(2L)),
      b02.withColumn("dist", lit(2L)))
  }

  def oracles: Map[String, String] = {
    val shSql =
      """list_distinct(list_transform(range(1, len(str_split(text, ' ')) - 1),
           i -> str_split(text, ' ')[i] || ' ' || str_split(text, ' ')[i+1]
                || ' ' || str_split(text, ' ')[i+2]))"""
    val baseCte =
      s"""base AS (SELECT doc_id, $shSql AS shs FROM documents
                   WHERE len(str_split(text, ' ')) >= 3)"""
    val mhSql = (0 until NumHashes)
      .map(k => s"list_min(list_transform(shs, s -> md5('$k:' || s))) AS mh$k")
      .mkString(", ")
    // derived from NumHashes/Bands like the Spark side — never hardcode
    // rows-per-band, or retuning the constants silently desyncs the sides
    val rowsPerBand = NumHashes / Bands
    val bandList = (0 until Bands).map { b =>
      val cols = (0 until rowsPerBand).map(r => s"mh${b * rowsPerBand + r}").mkString(" || ")
      s"md5($cols)"
    }.mkString(", ")
    val jacSql =
      """len(list_filter(sa.shs, s -> list_contains(sb.shs, s)))
           / CAST(len(sa.shs) + len(sb.shs)
                  - len(list_filter(sa.shs, s -> list_contains(sb.shs, s))) AS DOUBLE)"""
    val voteSql = (0 until SimhashBits)
      .map(j => s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS v$j")
      .mkString(", ")
    val shBits = (0 until SimhashBits)
      .map(j => s"(CASE WHEN v$j > 0 THEN (1::BIGINT << $j) ELSE 0::BIGINT END)")
      .mkString(" + ")
    val simhashCte =
      s"""tok AS (SELECT doc_id, unnest(list_distinct(str_split(text, ' '))) AS t
                  FROM documents),
          h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok),
          v AS (SELECT doc_id, $voteSql FROM h GROUP BY doc_id),
          sh AS (SELECT doc_id, $shBits AS simhash FROM v)"""
    val m = Map(
      "q36_minhash_signature" ->
        s"""WITH $baseCte
            SELECT doc_id, $mhSql FROM base ORDER BY doc_id""",
      // q159: the oracle is the BARE definition — a length-banded brute
      // join with the levenshtein predicate — so the hash match proves
      // the engine's deletion-neighborhood candidates are COMPLETE, not
      // merely precise. (Quadratic is fine for the oracle at graded
      // scales; the engine's plan is the one that must survive 100 TB.)
      "q159_edit_linkage" ->
        """WITH n AS (SELECT DISTINCT c_name AS name FROM customer
                      WHERE c_name IS NOT NULL)
           SELECT a.name AS name_a, b.name AS name_b,
                  CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
           FROM n a JOIN n b
             ON a.name < b.name
            AND abs(length(a.name) - length(b.name)) <= 1
            AND levenshtein(a.name, b.name) = 1
           ORDER BY name_a, name_b""",
      // q177: the same bare-definition brute at radius 2 — the hash match
      // proves the five-branch deletion-neighborhood taxonomy is COMPLETE
      "q177_edit_linkage_d2" ->
        """WITH n AS (SELECT DISTINCT c_name AS name FROM customer
                      WHERE c_name IS NOT NULL)
           SELECT a.name AS name_a, b.name AS name_b,
                  CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
           FROM n a JOIN n b
             ON a.name < b.name
            AND abs(length(a.name) - length(b.name)) <= 2
            AND levenshtein(a.name, b.name) <= 2
           ORDER BY name_a, name_b""",
      // q135: identical winnowing recipe — struct MIN over the same frame
      // gives the same rightmost tie-break; `//`-vs-DIV never appears
      // (no integer division), so the only cross-engine surface is md5 +
      // lexicographic struct ordering, both bit-identical
      "q135_winnow_pairs" ->
        s"""WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= $WinnowK),
            pos AS (SELECT doc_id, text,
                           CAST(unnest(range(1, length(text) - ${WinnowK - 2})) AS INT) AS p
                    FROM d),
            g AS (SELECT doc_id, p, substr(text, p, $WinnowK) AS gram FROM pos),
            h AS (SELECT doc_id, p, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS h FROM g),
            w AS (SELECT doc_id, p,
                         MIN({'h': h, 'np': -p}) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS BETWEEN ${WinnowW - 1} PRECEDING AND CURRENT ROW) AS s
                  FROM h),
            sel AS (SELECT DISTINCT doc_id, s.h AS h FROM w WHERE p >= $WinnowW),
            kept AS (SELECT h FROM sel GROUP BY h HAVING COUNT(*) <= $WinnowDfCap),
            fps AS (SELECT sel.doc_id, sel.h FROM sel JOIN kept USING (h)),
            fpn AS (SELECT doc_id, COUNT(*) AS nf FROM fps GROUP BY doc_id),
            pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
                   FROM fps a JOIN fps b ON a.h = b.h AND a.doc_id < b.doc_id
                   GROUP BY 1, 2 HAVING COUNT(*) >= $WinnowMinShared)
            SELECT doc_a, doc_b, n_shared, na.nf AS n_fp_a, nb.nf AS n_fp_b,
                   CAST(n_shared AS DOUBLE) / CAST(na.nf + nb.nf - n_shared AS DOUBLE) AS resemblance
            FROM pr JOIN fpn na ON pr.doc_a = na.doc_id
                    JOIN fpn nb ON pr.doc_b = nb.doc_id
            ORDER BY doc_a, doc_b""",
      "q37_lsh_pairs" ->
        s"""WITH $baseCte,
            sig AS (SELECT doc_id, shs, $mhSql FROM base),
            bands AS (SELECT doc_id, unnest([$bandList]) AS band FROM sig),
            cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
                     FROM bands x JOIN bands y
                     ON x.band = y.band AND x.doc_id < y.doc_id)
            SELECT a_id, b_id, $jacSql AS jac
            FROM cand JOIN base sa ON sa.doc_id = a_id
                      JOIN base sb ON sb.doc_id = b_id
            WHERE $jacSql >= $JaccardThreshold
            ORDER BY a_id, b_id""",
      // q69: same signature/band/Jaccard machinery as q37, asymmetric cut —
      // the increment side's bands join the corpus side's
      "q69_incremental_dedup" ->
        s"""WITH $baseCte,
            sig AS (SELECT doc_id, shs, $mhSql FROM base),
            bands AS (SELECT doc_id, unnest([$bandList]) AS band FROM sig),
            bc AS (SELECT b.doc_id, b.band FROM bands b
                   JOIN documents d ON b.doc_id = d.doc_id
                   WHERE d.source <> '$IncrementSource'),
            bi AS (SELECT b.doc_id, b.band FROM bands b
                   JOIN documents d ON b.doc_id = d.doc_id
                   WHERE d.source = '$IncrementSource'),
            cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
                     FROM bc x JOIN bi y ON x.band = y.band)
            SELECT a_id, b_id, $jacSql AS jac
            FROM cand JOIN base sa ON sa.doc_id = a_id
                      JOIN base sb ON sb.doc_id = b_id
            WHERE $jacSql >= $JaccardThreshold
            ORDER BY a_id, b_id""",
      "q38_jaccard_pairs" ->
        s"""WITH d AS (SELECT doc_id, lang, source, $shSql AS shs FROM documents
                       WHERE len(str_split(text, ' ')) >= 3),
            sh AS (SELECT doc_id, lang, source, unnest(shs) AS shingle FROM d),
            keep AS (SELECT shingle FROM (SELECT shingle, COUNT(*) AS df
                                          FROM sh GROUP BY shingle) WHERE df <= $DfCap),
            rare AS (SELECT sh.doc_id, sh.lang, sh.source, sh.shingle
                     FROM sh JOIN keep ON sh.shingle = keep.shingle),
            cnt AS (SELECT doc_id, COUNT(*) AS n FROM rare GROUP BY doc_id),
            inter AS (SELECT sa.doc_id AS a_id, sb.doc_id AS b_id, COUNT(*) AS i
                      FROM rare sa JOIN rare sb
                      ON sa.lang = sb.lang AND sa.source = sb.source
                         AND sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
                      GROUP BY 1, 2)
            SELECT a_id, b_id, jac FROM (
              SELECT a_id, b_id, i / CAST(ca.n + cb.n - i AS DOUBLE) AS jac
              FROM inter JOIN cnt ca ON a_id = ca.doc_id
                         JOIN cnt cb ON b_id = cb.doc_id)
            WHERE jac >= $JaccardThreshold
            ORDER BY a_id, b_id""",
      "q39_simhash" ->
        s"""WITH $simhashCte
            SELECT doc_id, simhash FROM sh ORDER BY doc_id""",
      "q62_simhash_lsh" -> {
        val bits = SimhashBits / 4
        val mask = (1L << bits) - 1
        val bandList = (0 until 4).map(b =>
          s"(${b.toLong << bits} + ((simhash >> ${b * bits}) & $mask))").mkString(", ")
        s"""WITH $simhashCte,
            b AS (SELECT doc_id, unnest([$bandList]) AS band FROM sh),
            cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
                     FROM b x JOIN b y ON x.band = y.band AND x.doc_id < y.doc_id)
            SELECT a_id, b_id,
                   CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
            FROM cand JOIN sh x ON a_id = x.doc_id
                      JOIN sh y ON b_id = y.doc_id
            WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
            ORDER BY a_id, b_id"""
      },
      // q80: identical k-gram fingerprinting + gap-merge, spelled
      // relationally (1-based list slices → the same 0-based positions)
      "q80_dup_spans" ->
        s"""WITH toks AS (SELECT doc_id, str_split(text, ' ') AS ts FROM documents),
            g AS (SELECT doc_id, i - 1 AS pos,
                         md5(array_to_string(ts[i:i+$SpanGramN-1], ' ')) AS fp
                  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - $SpanGramN + 2)) AS i
                        FROM toks WHERE len(ts) >= $SpanGramN)),
            d AS (SELECT fp FROM (SELECT fp, MIN(doc_id) mn, MAX(doc_id) mx
                                  FROM g GROUP BY fp) WHERE mn <> mx),
            p AS (SELECT g.doc_id, g.pos FROM g JOIN d ON g.fp = d.fp),
            s AS (SELECT doc_id, pos,
                         CASE WHEN lag(pos) OVER w IS NULL
                                OR pos - lag(pos) OVER w > $SpanGramN THEN 1 ELSE 0 END AS new_s
                  FROM p WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
            c AS (SELECT doc_id, pos,
                         CAST(SUM(new_s) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS span_idx
                  FROM s)
            SELECT doc_id, span_idx, MIN(pos) AS span_start,
                   MAX(pos) + $SpanGramN - 1 AS span_end,
                   MAX(pos) + $SpanGramN - 1 - MIN(pos) + 1 AS span_tokens
            FROM c GROUP BY doc_id, span_idx ORDER BY doc_id, span_start""",
      "q84_span_scrub" ->
        s"""WITH ${duckSpanScrubCtes("documents")}
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   CAST(COUNT(*) FILTER (cov) AS BIGINT) AS n_removed,
                   md5(COALESCE(string_agg(tok, ' ' ORDER BY i) FILTER (NOT cov), ''))
                     AS clean_fp
            FROM p GROUP BY doc_id ORDER BY doc_id""",
      "q40_simhash_pairs" ->
        s"""WITH $simhashCte,
            m AS (SELECT s.doc_id, simhash, lang, source
                  FROM sh s JOIN documents d ON s.doc_id = d.doc_id)
            SELECT x.doc_id AS a_id, y.doc_id AS b_id,
                   CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
            FROM m x JOIN m y
            ON x.lang = y.lang AND x.source = y.source AND x.doc_id < y.doc_id
            WHERE bit_count(xor(x.simhash, y.simhash)) <= $HammingThreshold
            ORDER BY a_id, b_id""",
    )
    // q91 composes the verified q37/q38 oracles verbatim — the audit's
    // inputs cannot drift from the individually-hash-verified queries
    m + ("q91_dedup_audit" ->
      s"""WITH e AS (SELECT a_id, b_id FROM (${m("q38_jaccard_pairs")})),
          l AS (SELECT a_id, b_id FROM (${m("q37_lsh_pairs")})),
          c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_common
                FROM e JOIN l USING (a_id, b_id))
          SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_exact,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM l) AS n_lsh,
                 c.n_common AS n_common,
                 CASE WHEN (SELECT COUNT(*) FROM e) = 0 THEN 1.0
                      ELSE CAST(c.n_common AS DOUBLE)
                           / CAST((SELECT COUNT(*) FROM e) AS DOUBLE) END AS recall
          FROM c""")
  }
}
