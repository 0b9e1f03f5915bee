package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline utilities over `documents`: text normalization /
  * redaction, deterministic dataset splits, and stratified sampling — the
  * reproducibility-critical stages of a corpus build.
  *
  * Everything here is ROW-LOCAL or one-shuffle, and every random-seeming
  * choice is a pure function of the data (md5 of a stable key) — never
  * `rand()`: a retried task must make the same choice, a re-run of the
  * pipeline must produce the same corpus, and the DuckDB oracle must agree
  * bit-for-bit. This is the same discipline `ScaleOps` applies to salting.
  */
object PipelineOps {

  /** First md5 byte of a stable key, as 0–255 — THE deterministic bucket
    * primitive, shared by [[splitAssign]] and the ML train/test fold
    * (`FraudScorerSpec`'s held-out split) so the split recipe has exactly
    * one definition. */
  def md5Bucket(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 2), 16, 10).cast("long")

  /** The 48-bit md5-prefix draw `u` ∈ [0, 2⁴⁸) — THE replay-safe sampling
    * primitive (q58/q76/q102 keep rules compare it against exact-integer
    * cuts scaled by [[TwoPow48]]), one definition like [[md5Bucket]]. */
  def md5Prefix48(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 12), 16, 10).cast("long")

  /** 2⁴⁸ — the draw space of [[md5Prefix48]], shared by every cut. */
  val TwoPow48 = 281474976710656L

  /** ~80/10/10 bucket cuts shared with the q57 oracle. */
  val TrainCut = 204
  val ValCut = 230

  /** q56 — normalization + redaction: lowercase, strip non-alphanumerics,
    * collapse whitespace; digits masked to a sentinel in a parallel
    * column. All row-local codegen'd regex/string expressions — at 100 TB
    * this is a pure map stage fused into the scan. */
  def normalizeDocs(docs: DataFrame): DataFrame =
    docs.selectExpr(
      "doc_id",
      "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' '), ' +', ' ')) AS norm_text",
      "regexp_replace(text, '[0-9]+', '<NUM>') AS redacted_text")
      .orderBy("doc_id")

  /** q57 — deterministic train/val/test split (~80/10/10): the bucket is
    * the first md5 byte of the doc id — stable across runs, engines, and
    * partitionings, and independent of row order (the property `rand()`
    * based splits lack: under speculative re-execution they re-deal the
    * corpus). Row-local; no shuffle at all. */
  /** The bucket → split-name rule, shared by [[splitAssign]] and the
    * contamination check (`SketchOps.contamination`) — one definition. */
  def splitOf(bucket: String): String =
    s"""CASE WHEN $bucket < $TrainCut THEN 'train'
             WHEN $bucket < $ValCut THEN 'val'
             ELSE 'test' END"""

  def splitAssign(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5Bucket(col("doc_id")).as("bucket"))
      .selectExpr("doc_id", "bucket", s"${splitOf("bucket")} AS split")
      .orderBy("doc_id")

  /** q100 — SHARD MANIFEST: the release-publishing half of the corpus
    * build — every doc assigned to one of `nShards` output shards by the
    * stateless md5-bucket rule (same primitive as q57's split, so a doc's
    * shard is stable across runs, engines, and partitionings), plus the
    * per-shard manifest row a release ships next to its files: doc count,
    * token/char volume, and the doc_id range. Balanced by construction
    * (md5 is uniform); a skewed shard here means the bucket rule broke.
    *
    * Scale shape: shard assignment is row-local; the manifest is ONE
    * map-combinable aggregate with `nShards` output rows. The actual
    * write is a parquet write partitioned by this column — this query is
    * its bookkeeping twin. */
  /** The per-doc shard assignment BOTH consumers key on — the
    * [[shardManifest]] aggregate and the partitioned shard write (one
    * rule, so the files on disk and the manifest rows cannot disagree;
    * `SourceSinksSpec` round-trips the written shards against the
    * manifest file-by-file). */
  def shardAssign(docs: DataFrame, nShards: Int = 16): DataFrame =
    docs.select(col("doc_id"), col("n_chars"),
      expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_tokens"),
      (md5Bucket(col("doc_id")) % nShards).as("shard"))

  def shardManifest(docs: DataFrame, nShards: Int = 16): DataFrame =
    shardAssign(docs, nShards)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        sum("n_chars").as("total_chars"),
        min("doc_id").as("min_doc_id"),
        max("doc_id").as("max_doc_id"))
      .orderBy("shard")

  /** q112 — EPOCH TRAINING ORDER: the reproducible per-epoch shuffle a
    * dataloader replays, as the standard TWO-LEVEL scheme distributed
    * loaders actually run (a true global permutation can't stream from
    * fixed files): per epoch, (1) the shard VISIT order is dealt by an
    * md5 draw on (epoch, shard) — `shard_seq` — and (2) each doc gets a
    * deterministic order draw keyed on (epoch, doc_id) and a `pos` within
    * its q100 shard. The loader reads shards by shard_seq, each shard in
    * pos order; BOTH levels reshuffle every epoch while shard MEMBERSHIP
    * (hence the files on disk) stays fixed (the [[shardAssign]] rule —
    * one shard definition, so the order ledger and the written shard
    * files can never disagree). `rand()`-seeded shuffles lose exactly
    * this replay property under speculative re-execution; the md5 draws
    * are pure functions of their keys.
    *
    * Scale shape: the doc draw and shard are ROW-LOCAL; shard_seq is a
    * rank over the BOUNDED nShards-row dial via the q108 bounded
    * broadcast self-join (never a global window), joined back broadcast;
    * the only corpus-sized non-map step is the per-shard rank — a window
    * PARTITIONED BY shard, balanced by construction (md5 is uniform, so
    * every window task holds ~N/nShards rows and nShards scales with the
    * corpus). The global-permutation alternative (rank over the whole
    * draw space) would funnel 100 TB through ONE sort task. Ties in the
    * 48-bit draws break on shard/doc_id, so both orders are total on
    * both engines. */
  def epochOrder(docs: DataFrame, epoch: Long = 1L, nShards: Int = 16): DataFrame = {
    val draws = docs.sparkSession.range(nShards).select(col("id").as("shard"),
      md5Prefix48(concat(lit(s"$epoch:S"), col("id").cast("string"))).as("sdraw"))
    val shardSeq = draws
      .join(broadcast(draws.toDF("shard2", "sdraw2")),
        col("sdraw2") < col("sdraw") ||
          (col("sdraw2") === col("sdraw") && col("shard2") <= col("shard")))
      .groupBy("shard").agg(count(lit(1)).as("shard_seq"))
    docs.select(col("doc_id"),
        (md5Bucket(col("doc_id")) % nShards).as("shard"),
        md5Prefix48(concat(lit(s"$epoch:"), col("doc_id").cast("string"))).as("ord"))
      .join(broadcast(shardSeq), "shard")
      .select(lit(epoch).as("epoch"), col("shard"), col("shard_seq"),
        col("doc_id"), col("ord"))
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy("ord", "doc_id")).cast("long"))
      .orderBy("shard_seq", "pos")
  }

  /** q113 — LEAKAGE-FREE SPLIT: the q57 train/val/test deal upgraded to
    * be NEAR-DUP-ATOMIC — every q66 cluster lands on ONE side, keyed by
    * the md5 bucket of its cluster_id (same [[md5Bucket]]/[[splitOf]]
    * rule as q57, so singleton docs split exactly as q57 would). The
    * plain per-doc deal tears near-dup clusters across the boundary and
    * the val/test halves silently grade on paraphrases of training docs —
    * the leak q109/q70 detect AFTER the fact, prevented at deal time.
    * Each row also carries the naive per-doc verdict and a per-cluster
    * `leak_prevented` flag (the naive rule disagreed within the cluster)
    * — the audit count a release publishes for how much leakage the
    * cluster-atomic rule removed.
    *
    * Scale shape: both deals are ROW-LOCAL md5 folds; the flag is one
    * map-combinable MIN/MAX-disagreement aggregate on cluster_id joined
    * back on the same key (co-keyed — one shuffle shape, the q97 soft-
    * dedup pattern). Reads the MATERIALIZED q66 cluster snapshot; no
    * window, no pair join. */
  def leakFreeSplit(clusters: DataFrame): DataFrame = {
    val base = clusters.select(col("doc_id"), col("cluster_id"))
      .withColumn("nb", md5Bucket(col("doc_id")))
      .withColumn("cb", md5Bucket(col("cluster_id")))
      .selectExpr("doc_id", "cluster_id",
        s"${splitOf("cb")} AS split", s"${splitOf("nb")} AS naive_split")
    val torn = base.groupBy("cluster_id")
      .agg((min("naive_split") =!= max("naive_split")).as("leak_prevented"))
    base.join(torn, "cluster_id")
      .select("doc_id", "cluster_id", "split", "naive_split", "leak_prevented")
      .orderBy("doc_id")
  }

  /** q122 — CURATION MANIFEST: the end-to-end batch curation DAG composed
    * into ONE graded artifact — the per-(split, shard) manifest a finished
    * corpus release ships. Stage order (each stage individually graded,
    * composed here verbatim): the corpus is RENDERED (dirty text →
    * q84 span scrub → q86 PII redact — the q89 chain, supplying the final
    * token counts and fingerprints the manifest publishes); a doc SURVIVES
    * iff it is the q106 quality-aware canon of its near-dup cluster AND it
    * clears the q123 budget cut (the threshold is picked CORPUS-WIDE by
    * the q108 curve, then applied to canon survivors — the cut is a
    * corpus-level operating point, not recomputed per stage); survivors
    * get their q113 cluster-atomic leak-free split; the q100 md5 shard
    * rule deals files. The output row per (split, shard) carries doc/token
    * volume, the doc_id range, and an ORDER-INDEPENDENT content
    * fingerprint (`bit_xor` of each member's 48-bit final-text md5 prefix)
    * — a shard's checksum no partitioning or arrival order can change.
    *
    * Scale shape: every join is an equi-join on doc_id (one co-keyed
    * shuffle family); the survivor predicates and the shard/fingerprint
    * math are ROW-LOCAL; the manifest is one map-combinable aggregate with
    * ≤ 3·nShards output rows. No window, no cartesian, no driver loop —
    * the composed DAG inherits each stage's audited plan. */
  def curationManifest(rendered: DataFrame, canon: DataFrame,
                       kept: DataFrame, splits: DataFrame,
                       nShards: Int = 16): DataFrame =
    rendered.select("doc_id", "n_tokens", "final_fp")
      .join(canon.filter(col("canon")).select("doc_id"), "doc_id")
      .join(kept.select("doc_id"), "doc_id")
      .join(splits.select("doc_id", "split"), "doc_id")
      .withColumn("shard", md5Bucket(col("doc_id")) % nShards)
      .groupBy("split", "shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        min("doc_id").as("min_doc_id"),
        max("doc_id").as("max_doc_id"),
        expr("bit_xor(CAST(conv(substring(final_fp, 1, 12), 16, 10) AS BIGINT))")
          .as("content_fp48"))
      .orderBy("split", "shard")

  /** q125's length-bucket width (tokens) — the granularity a
    * length-sorted batcher groups by, shared with the oracle. */
  val PadBucketTokens = 32L

  /** q125 — PADDING-WASTE REPORT: the cost model that justifies q73's
    * concat-and-chunk packing — under LENGTH-BUCKETED batching (sort by
    * length, batch within [[PadBucketTokens]]-wide buckets, pad each doc
    * to its bucket's max), how many pad tokens does the corpus burn? One
    * row per bucket: doc/token volume, the pad target (bucket max), the
    * exact integer pad_waste = n·max − Σlen, and the fill rate — read
    * next to q78's packing stats (fill ≈ 1 by construction there), the
    * delta is the compute a trainer saves by packing. Also the batching
    * policy dial: a bucket with low fill wants a narrower width.
    *
    * Scale shape: the bucket id is row-local integer math; the report is
    * ONE map-combinable aggregate with ≤ max_len/width output rows. Waste
    * is exact int64 (n·max ≤ corpus tokens · width); fill is one IEEE
    * division. */
  def paddingWaste(docs: DataFrame, bucketTokens: Long = PadBucketTokens): DataFrame =
    docs.selectExpr("CAST(size(split(text, ' ')) AS BIGINT) AS n_tok")
      .selectExpr(s"CAST(n_tok DIV $bucketTokens AS BIGINT) AS bucket", "n_tok")
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("sum_tokens"),
        max("n_tok").as("max_tokens"))
      .selectExpr("bucket", "n_docs", "sum_tokens", "max_tokens",
        "n_docs * max_tokens - sum_tokens AS pad_waste",
        """CAST(sum_tokens AS DOUBLE)
           / (CAST(n_docs AS DOUBLE) * CAST(max_tokens AS DOUBLE)) AS fill_rate""")
      .orderBy("bucket")

  /** q120 — CROSS-TABLE REFERENTIAL AUDIT: the one-row census that closes
    * the audit family (q117 metadata, q118 embeddings, q119 documents) by
    * checking the tables AGAINST EACH OTHER — documents with no embedding
    * row (they silently vanish from every cross-modal stage: q59's dup
    * correlation, q109's decontamination, q85's semantic dedup) and
    * orphan embeddings with no document (they poison ANN results with
    * ids no downstream join can resolve). `aligned` is the single bit a
    * pipeline gates on before trusting doc_id ↔ vec_id joins.
    *
    * Scale shape: ONE pass over each table — each side pre-aggregates to
    * (id, count) (the same shuffle an anti-join would pay, but carrying
    * the multiplicity so duplicate ids can't inflate the other side's
    * counts through join fan-out), ONE co-keyed full-outer join on the
    * unique ids, and a single one-row aggregate reads all four figures
    * from it. A NULL id never matches the other side (standard join
    * semantics), so null-key rows surface as orphans — exactly what they
    * are to any keyed consumer. */
  def referentialAudit(docs: DataFrame, emb: DataFrame): DataFrame =
    docs.select(col("doc_id").as("id")).groupBy("id")
      .agg(count(lit(1)).as("dc"))
      .join(emb.select(col("vec_id").as("id")).groupBy("id")
        .agg(count(lit(1)).as("ec")), Seq("id"), "full_outer")
      .agg(
        coalesce(sum("dc"), lit(0L)).as("n_docs"),
        coalesce(sum("ec"), lit(0L)).as("n_embeddings"),
        coalesce(sum(when(col("ec").isNull, col("dc"))), lit(0L))
          .as("n_docs_without_embedding"),
        coalesce(sum(when(col("dc").isNull, col("ec"))), lit(0L))
          .as("n_orphan_embeddings"))
      .selectExpr("n_docs", "n_embeddings",
        "n_docs_without_embedding", "n_orphan_embeddings",
        "n_docs_without_embedding = 0 AND n_orphan_embeddings = 0 AS aligned")

  /** q58 — stratified sample: ~the same `frac` of every language stratum,
    * by HASH-THRESHOLD selection (the q76 [[mixtureSample]] rule): a doc
    * is kept iff its 48-bit md5 prefix `u` falls below the stratum's cut
    * = floor(keep_n·2⁴⁸ / n), keep_n = ceil(frac·n) — a ROW-LOCAL filter
    * against a broadcast per-stratum dial. No per-stratum sort, no
    * window, no rank: real corpora are stratum-skewed (one (en) stratum
    * can be most of 100 TB) and a rank window puts each stratum through
    * ONE sort task; the threshold plan is a scan + broadcast join at any
    * skew (`PlanShapeSpec` guards it). The cut is EXACT integer math on
    * both engines (DECIMAL(38,0) / HUGEINT — no overflow at any corpus
    * size) and `u` is a pure function of doc_id, so the kept set is
    * replay/engine-independent. Kept counts are binomial around keep_n;
    * `PipelineOpsSpec` bounds the deviation against an exact-count rank
    * twin. */
  /** q58's graded per-stratum sampling fraction, shared with the oracle
    * (one dial definition, the StreamQualityGate lesson). */
  val StratifiedFrac = 0.2

  def stratifiedSample(docs: DataFrame, frac: Double = StratifiedFrac): DataFrame = {
    val dial = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .withColumn("keep_n", ceil(col("n").cast("double") * lit(frac)).cast("long"))
      .selectExpr("lang", "keep_n",
        s"CAST(CAST(keep_n AS DECIMAL(38,0)) * $TwoPow48 DIV n AS BIGINT) AS cut")
    docs.select(col("doc_id"), col("lang"))
      .withColumn("u", md5Prefix48(col("doc_id")))
      .join(broadcast(dial), "lang")
      .filter(col("u") < col("cut"))
      .select("lang", "doc_id", "u", "keep_n")
      .orderBy("lang", "doc_id")
  }

  /** DuckDB equivalents — same md5 constructions, same regexes (RE2 and
    * Java agree on these character-class patterns), 'g' flag because
    * DuckDB's regexp_replace is first-match by default. */
  /** q70 — n-gram eval DECONTAMINATION: flag every train-split document
    * sharing ANY n-gram with the test split — the GPT-3-style 13-gram
    * check (n = 5 here, scaled to the test corpus's short docs), at n-gram
    * granularity where q65's doc-level fingerprint overlap cannot see a
    * partial copy. Output covers every train doc: (doc_id, n_shared
    * distinct grams, contaminated).
    *
    * Scale shape: the eval side is the SMALL side by construction (test
    * split ≈ 10 %, and eval sets in practice are tiny) — its distinct
    * grams broadcast; the train side is a row-local shingle explode
    * (native `graft_shingles`) feeding a broadcast join + one doc_id
    * aggregate. The corpus-wide gram table is never shuffled. */
  def ngramContamination(docs: DataFrame, n: Int = 5): DataFrame = {
    graft.expressions.GraftFunctions.register(docs.sparkSession)
    val grams = docs
      .select(col("doc_id"), md5Bucket(col("doc_id")).as("bucket"), col("text"))
      .selectExpr("doc_id", s"${splitOf("bucket")} AS split", "text")
      .filter(expr(s"size(split(text, ' ')) >= $n"))
      .selectExpr("doc_id", "split",
        s"explode(array_distinct(graft_shingles(split(text, ' '), $n))) AS gram")
    val evalGrams = grams.filter(col("split") === "test").select("gram").distinct()
    val hits = grams.filter(col("split") === "train")
      .join(broadcast(evalGrams), "gram")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    splitAssign(docs).filter(col("split") === "train").select("doc_id")
      .join(hits, Seq("doc_id"), "left_outer")
      .selectExpr("doc_id",
        "CAST(COALESCE(n_shared, 0) AS BIGINT) AS n_shared",
        "COALESCE(n_shared, 0) > 0 AS contaminated")
      .orderBy("doc_id")
  }

  /** q72 — temperature-based MIXTURE WEIGHTS (α = 0.5): per-(lang, source)
    * sampling probabilities ∝ n^α — the standard reweighting that keeps
    * low-resource strata represented when sampling a multilingual/
    * multi-source training mix. α = 0.5 is deliberately sqrt: IEEE 754
    * requires sqrt correctly rounded, so BOTH engines produce identical
    * bits (a general pow(n, α) routes through exp/ln, which is not
    * bit-portable — the q67 lesson); the weight then lives in integer
    * micro-units and the normalizer is an exact integer sum, so p is one
    * identical IEEE division on both sides. The stratum table is bounded
    * (|lang| × |source|), so the normalizing window over it is trivially
    * single-partition at any corpus size. */
  def mixtureWeights(docs: DataFrame): DataFrame =
    docs.groupBy("lang", "source").agg(count(lit(1)).as("n"))
      .selectExpr("lang", "source", "n",
        "CAST(round(sqrt(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS w_micro")
      .selectExpr("lang", "source", "n", "w_micro",
        "w_micro / CAST(SUM(w_micro) OVER () AS DOUBLE) AS p")
      .orderBy("lang", "source")

  /** The per-stratum keep budget shared by [[mixtureSample]],
    * [[mixtureRealization]] and `PipelineOpsSpec`'s exact-count rank
    * twin: stratum s keeps ceil(min(1, p_s·target/n_s)
    * · n_s) docs. `keep_n` never exceeds n_s (rate capped at 1): an
    * under-represented stratum cannot be upsampled here — the cap is
    * reported so a caller can route those strata to a repetition pass. */
  private[graft] def keepBudget(docs: DataFrame, target: Long): DataFrame =
    mixtureWeights(docs).selectExpr("lang", "source", "n",
      s"CAST(CEIL(least(1e0, p * CAST($target AS DOUBLE) / CAST(n AS DOUBLE)) * CAST(n AS DOUBLE)) AS BIGINT) AS keep_n")

  /** q76 — APPLY the q72 mixture: downsample each (lang, source) stratum
    * toward the temperature mixture at ~`target` docs by HASH-THRESHOLD
    * sampling: a doc is kept iff its 48-bit md5 prefix `u` falls below the
    * stratum's cut = floor(keep_n·2⁴⁸ / n) — a ROW-LOCAL filter against a
    * broadcast per-stratum dial. No per-stratum sort, no window, no rank:
    * real corpora are stratum-skewed (one (en, web) stratum can be most of
    * 100 TB), and a rank window puts each stratum on one task; the
    * threshold form's plan is a scan + broadcast join at any skew.
    *
    * The cut is EXACT integer math on both engines — keep_n·2⁴⁸ computed
    * in DECIMAL(38,0) (≤ 2¹¹¹ < 10³⁸, no overflow at any corpus size),
    * floor-divided by n — and `u` is a pure function of doc_id, so the
    * kept set is replay/engine-independent like q57/q58. Kept counts are
    * binomial around keep_n (`PipelineOpsSpec` bounds the deviation
    * against an exact-count rank twin). */
  /** q76's graded target corpus size (docs), shared with the oracle. */
  val MixtureTarget = 200L

  def mixtureSample(docs: DataFrame, target: Long = MixtureTarget): DataFrame = {
    val w = keepBudget(docs, target).selectExpr("lang", "source", "keep_n",
      s"CAST(CAST(keep_n AS DECIMAL(38,0)) * $TwoPow48 DIV n AS BIGINT) AS cut")
    docs.select(col("doc_id"), col("lang"), col("source"))
      .withColumn("u", md5Prefix48(col("doc_id")))
      .join(broadcast(w), Seq("lang", "source"))
      .filter(col("u") < col("cut"))
      .select("lang", "source", "doc_id", "u", "keep_n")
      .orderBy("lang", "source", "doc_id")
  }

  /** q129 — MIXTURE REALIZATION AUDIT: did the q76 hash-threshold sample
    * actually LAND the q72 mixture? Per (lang, source) stratum: corpus
    * size, the demanded keep_n, the achieved kept count (from the
    * MATERIALIZED q76 snapshot), the exact integer deviation, the
    * binomial sigma the threshold rule predicts, and an `ok` bit flagging
    * any stratum drifting past 3σ — the release check that closes the
    * q72 → q76 loop (a biased md5, a wrong dial, or a corrupted snapshot
    * all surface here as a 3σ breach). Rate-capped strata (keep_n = n)
    * have σ = 0 and must land exactly.
    *
    * Scale shape: ONE map-combinable aggregate over the kept snapshot to
    * ≤ |strata| rows, joined to the bounded budget table — no corpus
    * re-scan beyond the stratum count q72 pays anyway; dev is exact
    * int64, sigma/ok one deterministic double expression each. */
  def mixtureRealization(kept: DataFrame, docs: DataFrame,
                         target: Long = MixtureTarget): DataFrame = {
    val w = keepBudget(docs, target)
    val g = kept.groupBy("lang", "source").agg(count(lit(1)).as("n_kept0"))
    w.join(g, Seq("lang", "source"), "left_outer")
      .select(col("lang"), col("source"), col("n"), col("keep_n"),
        coalesce(col("n_kept0"), lit(0L)).as("n_kept"))
      .selectExpr("lang", "source", "n", "keep_n", "n_kept",
        "n_kept - keep_n AS dev",
        """sqrt(CAST(keep_n AS DOUBLE)
                * (1e0 - CAST(keep_n AS DOUBLE) / CAST(n AS DOUBLE))) AS sigma""")
      .selectExpr("lang", "source", "n", "keep_n", "n_kept", "dev", "sigma",
        "CAST(ABS(dev) AS DOUBLE) <= 3e0 * sigma AS ok")
      .orderBy("lang", "source")
  }

  /** q131's global token budget, shared with the oracle. */
  val AllocationBudgetTokens = 100000L

  /** q131 — LARGEST-REMAINDER TOKEN ALLOCATION: apportion a global token
    * budget across sources proportionally to their exact token volume
    * with the Hamilton method — integer allocations that sum EXACTLY to
    * the budget (floor the proportional share, then hand the leftover
    * units to the largest remainders, ties on source name). The exact
    * apportionment a batch scheduler / per-source sampling budget needs:
    * naive `round(share·budget)` drifts off the total and the drift is
    * nondeterministic under re-aggregation; this never does, and every
    * step is DECIMAL(38,0)/HUGEINT integer math so both engines agree to
    * the unit.
    *
    * Scale shape: one map-combinable per-source aggregate to ≤ |sources|
    * rows; everything after is bounded — a one-row total broadcast, the
    * q112 broadcast self-join rank over remainders (never a window), a
    * one-row leftover broadcast. NULL sources bucket under the shared
    * \\u0001 sentinel so they are apportioned, not dropped. */
  def tokenAllocation(docs: DataFrame, budget: Long = AllocationBudgetTokens): DataFrame = {
    val per = docs
      .select(coalesce(col("source"), lit(GraphOps.NullSourceSentinel)).as("source"),
        expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      .localCheckpoint() // bounded ≤ |sources| rows; consumed three times
    val tot = per.agg(sum("n_tokens").as("total"))
    val based = per.crossJoin(broadcast(tot))
      .selectExpr("source", "n_docs", "n_tokens", "total",
        s"CAST(CAST($budget AS DECIMAL(38,0)) * n_tokens DIV total AS BIGINT) AS base",
        s"CAST(CAST($budget AS DECIMAL(38,0)) * n_tokens % total AS BIGINT) AS rem")
    val ranked = based.select(col("source"), col("rem"))
      .join(broadcast(based.select(col("source").as("s2"), col("rem").as("rem2"))),
        col("rem2") > col("rem") ||
          (col("rem2") === col("rem") && col("s2") <= col("source")))
      .groupBy("source").agg(count(lit(1)).as("rk"))
    val leftover = based.agg((lit(budget) - sum("base")).as("leftover"))
    based.join(ranked, "source").crossJoin(broadcast(leftover))
      .selectExpr("source", "n_docs", "n_tokens",
        "CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE) AS share",
        "base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS alloc")
      .orderBy("source")
  }

  /** q105's total-token budget dial (in documents), shared with the
    * oracle. Larger than the corpus so upsampling strata exist. */
  val EpochPlanTarget = 2000L

  /** q105 — MIXTURE EPOCH PLAN: the upsampling ledger [[mixtureWeights]]
    * leaves open. q76 downsamples toward the temperature mixture but CAPS
    * each stratum at rate 1 — an under-represented stratum "cannot be
    * upsampled here; the cap is reported so a caller can route those
    * strata to a repetition pass" ([[keepBudget]]). This is that pass's
    * plan: per (lang, source), the exact demanded doc count
    * `needed = floor(w·target/Σw)`, decomposed into `epochs = needed DIV n`
    * full repetitions plus a `rem = needed MOD n`-doc partial epoch, with
    * the partial epoch's hash-threshold cut (the q76 rule) so the
    * partial-pass sample is replay-safe too. `epochs ≥ 4` flags the
    * over-repetition a mixture designer watches (the "repeat data past ~4
    * epochs stops helping" rule of thumb from scaling studies).
    *
    * Everything is EXACT integer math over the bounded stratum table —
    * needed is a DECIMAL(38,0)/HUGEINT floor quotient of exact integers,
    * epochs/rem integer div/mod, the cut the q76 2⁴⁸ construction — so
    * the plan is hash-identical cross-engine. Scale: one bounded
    * aggregate (|lang|×|source| rows); no corpus-sized anything. */
  def mixtureEpochPlan(docs: DataFrame, target: Long = EpochPlanTarget): DataFrame =
    mixtureWeights(docs)
      .selectExpr("lang", "source", "n", "w_micro",
        s"CAST(SUM(CAST(w_micro AS DECIMAL(38,0))) OVER () AS DECIMAL(38,0)) AS tw")
      .selectExpr("lang", "source", "n",
        s"CAST(CAST(w_micro AS DECIMAL(38,0)) * $target DIV tw AS BIGINT) AS needed_n")
      .selectExpr("lang", "source", "n", "needed_n",
        "needed_n DIV n AS epochs",
        "needed_n % n AS rem",
        // the partial epoch's replay-safe cut: keep iff u48 < rem·2^48/n
        s"CAST(CAST(needed_n % n AS DECIMAL(38,0)) * $TwoPow48 DIV n AS BIGINT) AS rem_cut",
        "needed_n DIV n >= 4 AS over_repeated")
      .orderBy("lang", "source")

  /** q73 — SEQUENCE PACKING (concat-and-chunk bookkeeping): concatenate
    * the corpus in stable doc_id order and chop it into fixed-token-budget
    * training chunks — the standard LLM-pretraining packing — reporting,
    * per document, its token offset and the first/last chunk it lands in
    * (`chunk_first != chunk_last` ⇔ the doc straddles a boundary, the
    * fraction a packer monitors as its truncation/waste rate).
    *
    * The global running offset is computed as a TWO-PASS DISTRIBUTED
    * PREFIX SUM, never a single unpartitioned window (which would plan a
    * global sort into ONE window task — the whole corpus's token counts
    * funneling through a single core):
    *   1. range-partition by doc_id, so partition i holds a contiguous
    *      doc_id range and `spark_partition_id()` is the range index;
    *   2. aggregate per-partition token totals — a P-row table (P =
    *      partition count), whose exclusive cumsum is the only global
    *      window left, over P rows instead of the corpus;
    *   3. broadcast those offsets back and add them to the row-local
    *      per-partition cumsum (a window PARTITIONED on the range index —
    *      one parallel task per range).
    * The per-partition cumsum plus its range's offset equals the global
    * cumsum exactly (integer addition is associative), so the output is
    * bit-identical to the semantic single-window spec the oracle keeps —
    * and the plan stays fully parallel at any corpus size.
    * `PlanShapeSpec` guards that no corpus-wide unpartitioned Window can
    * sneak back in. */
  def sequencePacking(docs: DataFrame, budget: Long = 1024): DataFrame = {
    // both consumers below share this exact subtree, so the range exchange
    // is planned once and reused (ReuseExchange); spark_partition_id() is
    // stable across the two reads because range boundaries are a pure
    // function of the (immutable) input sample
    val toks = docs
      .selectExpr("doc_id", "CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens")
      .repartitionByRange(col("doc_id"))
      .withColumn("pid", spark_partition_id().cast("long"))
    val offsets = toks.groupBy("pid").agg(sum("n_tokens").as("ptotal"))
      .withColumn("offset",
        coalesce(sum("ptotal").over(Window.orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("pid", "offset")
    toks
      .withColumn("local_cum", sum("n_tokens").over(
        Window.partitionBy("pid").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(offsets), "pid")
      .selectExpr("doc_id", "n_tokens", "local_cum + offset AS cum_tokens")
      .selectExpr("doc_id", "n_tokens",
        "cum_tokens - n_tokens AS start_offset",
        s"CAST(FLOOR((cum_tokens - n_tokens) / $budget) AS BIGINT) AS chunk_first",
        s"CAST(FLOOR((cum_tokens - 1) / $budget) AS BIGINT) AS chunk_last")
      .orderBy("doc_id")
  }

  /** q78 — PACKING EFFICIENCY: the one-row summary a packer monitors,
    * computed over [[sequencePacking]]'s verified output — how many
    * fixed-budget chunks the corpus fills, what fraction of the last-chunk-
    * padded capacity is real tokens (`fill_rate`, the padding-waste
    * complement), and what fraction of documents straddle a chunk boundary
    * (`straddle_rate`, the truncation/fragmentation exposure). One global
    * aggregate over per-doc rows; all inputs exact integers, the two rates
    * are single IEEE divisions — hash-exact cross-engine. */
  def packingStats(docs: DataFrame, budget: Long = 1024): DataFrame =
    packingStatsOf(sequencePacking(docs, budget), budget)

  /** [[packingStats]] over an ALREADY-packed row table — the query path
    * reads the materialized q73 snapshot (the q59/q91 measures-vs-reads
    * division) instead of re-deriving the two-pass prefix sum. */
  def packingStatsOf(packed: DataFrame, budget: Long = 1024): DataFrame =
    packed.selectExpr(
        "n_tokens", "chunk_last", "CAST(chunk_first != chunk_last AS INT) AS straddles")
      .selectExpr(
        "COUNT(*) AS n_docs",
        "SUM(n_tokens) AS n_tokens",
        "MAX(chunk_last) + 1 AS n_chunks",
        "CAST(SUM(straddles) AS BIGINT) AS n_straddlers",
        s"SUM(n_tokens) / CAST((MAX(chunk_last) + 1) * $budget AS DOUBLE) AS fill_rate",
        "CAST(SUM(straddles) AS DOUBLE) / COUNT(*) AS straddle_rate")

  /** q82 — CHUNK COMPOSITION: the packer's INVERSE map. q73 answers "where
    * did my document go?"; the trainer loading chunk c needs the converse —
    * "which doc spans, in order, make up chunk c?" (the manifest a packed
    * dataset ships so any chunk can be traced back to its sources). One
    * row per (chunk, doc) intersection: the doc's position inside the
    * chunk, the span's offset inside the doc, and its length.
    *
    * Shape: the verified q73 rows (two-pass prefix sum, no global window)
    * plus ONE row-local explode of `sequence(chunk_first, chunk_last)` —
    * a doc emits straddle+1 rows, so output is |docs| + |straddles|. All
    * arithmetic is exact integers (greatest/least over offsets) —
    * hash-exact cross-engine by construction. */
  def chunkComposition(docs: DataFrame, budget: Long = 1024): DataFrame =
    chunkCompositionOf(sequencePacking(docs, budget), budget)

  /** [[chunkComposition]] over an already-packed row table (see
    * [[packingStatsOf]]). */
  def chunkCompositionOf(packed: DataFrame, budget: Long = 1024): DataFrame =
    packed
      .selectExpr("doc_id", "n_tokens", "start_offset",
        "explode(sequence(chunk_first, chunk_last)) AS chunk_id")
      .selectExpr("chunk_id", "doc_id",
        s"greatest(start_offset, chunk_id * $budget) - chunk_id * $budget AS chunk_from",
        s"greatest(start_offset, chunk_id * $budget) - start_offset AS doc_from",
        s"least(start_offset + n_tokens - 1, (chunk_id + 1) * $budget - 1)" +
          s" - greatest(start_offset, chunk_id * $budget) + 1 AS span_tokens")
      .orderBy("chunk_id", "chunk_from")

  /** q83 — URL/DOMAIN-LEVEL dedup + per-domain aggregates: a C4-style web
    * corpus dedups by URL BEFORE any content pass (refetches and mirror
    * crawls are exact dups content hashing would pay a full text scan to
    * find), and carries per-domain statistics as quality priors. The
    * corpus has no URL column, so one is DERIVED deterministically (an
    * md5-bucketed page path — collisions exist by construction, the same
    * synthesize-the-modality trick as the media corpus); a real crawl
    * replaces the derivation with its url column and nothing else moves.
    *
    * Shape: host extraction is row-local (`parse_url`, codegen'd);
    * canonical-per-URL is ONE map-side-combinable min aggregate + an
    * equi-join back on the url key (AQE broadcasts it when the URL table
    * is bounded, as here; at crawl scale it is the standard keyed join);
    * the per-HOST dim is bounded by the domain count, so its aggregate
    * joins back broadcast — the corpus itself shuffles for nothing but
    * the url agg. */
  def urlDedup(docs: DataFrame): DataFrame = {
    val u = docs.selectExpr("doc_id", "n_chars",
      "concat('https://', source, '.example.com/', lang, '/p', " +
        "substring(md5(CAST(doc_id AS STRING)), 1, 1)) AS url")
      .selectExpr("doc_id", "n_chars", "url", "parse_url(url, 'HOST') AS host")
    val canon = u.groupBy("url").agg(min("doc_id").as("first_doc"))
    val hostAgg = u.groupBy("host").agg(
      count(lit(1)).as("n_host_docs"),
      (sum("n_chars").cast("double") / count(lit(1))).as("host_mean_chars"))
    u.join(canon, "url")
      .join(broadcast(hostAgg), "host")
      .selectExpr("doc_id", "url", "host", "doc_id = first_doc AS is_canonical",
        "n_host_docs", "host_mean_chars")
      .orderBy("doc_id")
  }

  /** The q73 SQL, a val so q78 can compose it verbatim. */
  private val SequencePackingSql =
    """WITH t AS (SELECT doc_id, CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens
                  FROM documents),
        c AS (SELECT doc_id, n_tokens,
                     SUM(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
              FROM t)
       SELECT doc_id, n_tokens,
              CAST(cum_tokens - n_tokens AS BIGINT) AS start_offset,
              CAST(FLOOR((cum_tokens - n_tokens) / 1024) AS BIGINT) AS chunk_first,
              CAST(FLOOR((cum_tokens - 1) / 1024) AS BIGINT) AS chunk_last
       FROM c ORDER BY doc_id"""

  /** The q72 SQL, a val so q76 can compose it verbatim (the sample's
    * weight inputs cannot drift from the individually-verified query). */
  private val MixtureWeightsSql =
    """WITH g AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
                  FROM documents GROUP BY lang, source),
        w AS (SELECT lang, source, n,
                     CAST(round(sqrt(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS w_micro
              FROM g)
       SELECT lang, source, n, w_micro,
              w_micro / CAST(SUM(w_micro) OVER () AS DOUBLE) AS p
       FROM w ORDER BY lang, source"""

  /** The q76 keep budget as a DuckDB expression over an `mw` row (the
    * [[keepBudget]] formula), shared by the q76 and q129 oracles. */
  private val KeepBudgetDuckExpr =
    s"CAST(CEIL(least(1e0, p * CAST($MixtureTarget AS DOUBLE) / CAST(n AS DOUBLE)) * CAST(n AS DOUBLE)) AS BIGINT)"

  /** The q76 SQL, a val so q129's realization audit composes the kept set
    * verbatim (the SequencePackingSql pattern). */
  private lazy val MixtureSampleSql =
    s"""WITH mw AS ($MixtureWeightsSql),
        w AS (SELECT lang, source, n, $KeepBudgetDuckExpr AS keep_n FROM mw),
        c AS (SELECT lang, source, keep_n,
                     CAST((CAST(keep_n AS HUGEINT) * $TwoPow48) // n AS BIGINT) AS cut
              FROM w),
        u AS (SELECT doc_id, lang, source,
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS u
              FROM documents)
       SELECT u.lang AS lang, u.source AS source, u.doc_id AS doc_id,
              u.u AS u, c.keep_n AS keep_n
       FROM u JOIN c ON u.lang = c.lang AND u.source = c.source
       WHERE u.u < c.cut
       ORDER BY lang, source, doc_id"""

  /** q164's fixed sample size, shared by both engines and the spec. */
  val BottomK = 64

  /** q164 — BOTTOM-K UNIFORM SAMPLE + estimator qualification: the
    * fixed-size companion of the fraction-based q58/q107 keep rules —
    * the K documents with the smallest 48-bit md5 draws form a uniform
    * without-replacement sample of EXACTLY min(K, N) rows, deterministic
    * and replay-safe, and (unlike any fraction rule) MERGEABLE: the
    * bottom-K of a union is the truncated merge of the parts' bottom-Ks,
    * so per-shard samples combine without a corpus pass — the KMV
    * machinery (q65) with payloads attached. Selection runs through the
    * q157 bounded-state aggregate (hash negated so the descending order
    * selects ASCENDING draws): ≤ K-entry states tree-merge, the corpus
    * is never sorted and never shuffles. The graded artifact carries the
    * sample itself (rank, draw, payload) plus the reason samples exist —
    * the sample-estimated mean tokens/doc against the exact corpus mean,
    * both as floor'd exact micro integers, with the deterministic
    * qualification boolean `est_ok` (|err| ≤ half the exact mean; md5
    * draws make the outcome a stable fact per corpus, not a flaky
    * tolerance).
    *
    * Scale shape: one linear pass hashes and measures docs; the
    * selection state is ≤ K entries per partition; the census is one
    * map-combinable aggregate; payload lookup broadcasts K ids. The
    * only sort anywhere is the final ≤ K-row rank self-join. */
  def bottomkSample(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val hashed = docs.select(col("doc_id"),
        expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_tok"),
        md5Prefix48(col("doc_id")).as("h"))
      .localCheckpoint() // consumed by selection, census, and payload join
    val sel = SketchOps.selectTopKIds(
        hashed.selectExpr("0 AS g", "doc_id AS id", "-h AS key"), BottomK)
      .withColumnRenamed("id", "doc_id")
    val sample = hashed.join(broadcast(sel), Seq("doc_id"))
      .localCheckpoint() // ≤ K rows; rank reads it twice
    val rk = sample.as("a").join(broadcast(sample.as("b")),
        col("b.h") < col("a.h") ||
          (col("b.h") === col("a.h") &&
            expr("CAST(b.doc_id AS STRING) <= CAST(a.doc_id AS STRING)")))
      .groupBy(col("a.doc_id").as("doc_id")).agg(count(lit(1)).as("rk"))
    val census = hashed.agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tot_tok"))
      .selectExpr("n_docs",
        "CAST(CAST(1000000 AS DECIMAL(38,0)) * tot_tok DIV n_docs AS BIGINT) AS exact_mean_tok_micro")
    val scensus = sample.agg(count(lit(1)).as("k_actual"), sum("n_tok").as("s_tok"))
      .selectExpr("k_actual",
        "CAST(CAST(1000000 AS DECIMAL(38,0)) * s_tok DIV k_actual AS BIGINT) AS sample_mean_tok_micro")
    sample.join(rk, Seq("doc_id"))
      .crossJoin(broadcast(census)).crossJoin(broadcast(scensus))
      .selectExpr("rk", "doc_id", "h", "n_tok", "k_actual", "n_docs",
        "sample_mean_tok_micro", "exact_mean_tok_micro",
        "sample_mean_tok_micro - exact_mean_tok_micro AS err_micro",
        "abs(sample_mean_tok_micro - exact_mean_tok_micro) * 2 <= exact_mean_tok_micro AS est_ok")
      .orderBy("rk")
  }

  /** q176's fixed sample size and integer weight clip, shared by both
    * engines and the spec. The clip bounds any single document's
    * replica count (and its influence on the sample — standard practice
    * for importance weights) so the per-row key cost is ≤ [[WeightCap]]
    * md5 evaluations. */
  val WBottomK = 64
  val WeightCap = 256L

  /** q176 — WEIGHTED bottom-k sample (Efraimidis–Spirakis A-Res), the
    * weighted twin of q164: fixed-size, deterministic, replay-safe, and
    * mergeable, with per-document inclusion biased by an integer weight
    * (the clipped token count — "sample training docs proportional to
    * their token mass").
    *
    * A-Res keys are u^(1/w), but IEEE `ln`/`pow` are NOT guaranteed
    * bit-identical across engines, and a one-ulp disagreement at the
    * selection boundary silently swaps a sample member. So the key is
    * computed in EXACT integer arithmetic via the replica identity:
    * for integer w, max of w iid uniforms has CDF x^w — exactly the
    * distribution of u^(1/w) — so `key = MAX over r < w of
    * md5_48("wk:doc:r")` IS the A-Res key, in the md5 draw space both
    * engines already replicate byte-for-byte (the q58/q164 primitive).
    * Top-K largest keys = the E–S weighted without-replacement sample.
    *
    * Scale shape: the key is computed ROW-LOCALLY (one `aggregate` over
    * a ≤ [[WeightCap]]-element sequence — no explode, no per-replica
    * shuffle); selection runs through the q157/q164 bounded-state
    * [[SketchOps.TopKByCount]] aggregate (≤ K-entry states tree-merge;
    * the corpus is never sorted); the census is one map-combinable
    * aggregate; the only joins broadcast ≤ K rows. Mergeable like q164:
    * each doc lives in exactly one shard, so per-shard top-Ks
    * truncate-merge to the global sample (spec-pinned).
    *
    * The graded audit is the fact weighted sampling exists for: with
    * these md5 draws the sample's mean weight dominates the corpus mean
    * (`heavy_bias_ok`), both as exact floor'd micro integers. */
  /** The A-Res keyed table shared by q176 and q184: per doc the clipped
    * integer weight and the exact-integer u^(1/w) key via the
    * max-of-w-replicas identity, computed ROW-LOCALLY. */
  private[graft] def aresKeyed(docs: DataFrame): DataFrame =
    docs
      .selectExpr("doc_id", "lang", "CAST(size(split(text, ' ')) AS BIGINT) AS n_tok")
      .selectExpr("doc_id", "lang", "n_tok", s"least(n_tok, $WeightCap) AS w")
      .filter(col("w") >= 1) // zero-weight docs are never sampled, by definition
      .selectExpr("doc_id", "lang", "n_tok", "w",
        """aggregate(sequence(CAST(0 AS BIGINT), w - 1), CAST(-1 AS BIGINT),
          |  (acc, r) -> greatest(acc, CAST(conv(substring(md5(
          |    concat('wk:', CAST(doc_id AS STRING), ':', CAST(r AS STRING))
          |  ), 1, 12), 16, 10) AS BIGINT))) AS key48""".stripMargin)

  def weightedBottomkSample(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val keyed = aresKeyed(docs).drop("lang")
      .localCheckpoint() // consumed by selection, census, and payload join
    val sel = SketchOps.selectTopKIds( // largest A-Res keys win
        keyed.selectExpr("0 AS g", "doc_id AS id", "key48 AS key"), WBottomK)
      .withColumnRenamed("id", "doc_id")
    val sample = keyed.join(broadcast(sel), Seq("doc_id"))
      .localCheckpoint() // ≤ K rows; rank reads it twice
    val rk = sample.as("a").join(broadcast(sample.as("b")),
        col("b.key48") > col("a.key48") ||
          (col("b.key48") === col("a.key48") &&
            expr("CAST(b.doc_id AS STRING) <= CAST(a.doc_id AS STRING)")))
      .groupBy(col("a.doc_id").as("doc_id")).agg(count(lit(1)).as("rk"))
    val census = keyed.agg(count(lit(1)).as("n_docs"), sum("w").as("tot_w"))
      .selectExpr("n_docs",
        "CAST(CAST(1000000 AS DECIMAL(38,0)) * tot_w DIV n_docs AS BIGINT) AS corpus_mean_w_micro")
    val scensus = sample.agg(count(lit(1)).as("k_actual"), sum("w").as("s_w"))
      .selectExpr("k_actual",
        "CAST(CAST(1000000 AS DECIMAL(38,0)) * s_w DIV k_actual AS BIGINT) AS sample_mean_w_micro")
    sample.join(rk, Seq("doc_id"))
      .crossJoin(broadcast(census)).crossJoin(broadcast(scensus))
      .selectExpr("rk", "doc_id", "key48", "n_tok", "w", "k_actual", "n_docs",
        "sample_mean_w_micro", "corpus_mean_w_micro",
        "sample_mean_w_micro >= corpus_mean_w_micro AS heavy_bias_ok")
      .orderBy("rk")
  }

  /** q180's dials: the k-anonymity floor and the two balance
    * generalization widths (exact cents — $1 and $1000 buckets). */
  val AnonK = 5L
  val AnonBalFine = 100L
  val AnonBalCoarse = 100000L

  /** q180 — K-ANONYMITY AUDIT: the privacy-governance twin of q86's PII
    * scrub — scrubbing hides DIRECT identifiers, but rows remain
    * re-identifiable through QUASI-identifier combinations (nation ×
    * market segment × account balance here). The audit measures k (the
    * smallest equivalence-class size — Sweeney's k-anonymity) up a
    * four-level generalization ladder: $1 balance buckets, $1000
    * buckets, drop nation, segment only. Each level's partition
    * COARSENS the previous, which makes two laws theorems rather than
    * observations — k is non-decreasing (a merged class is at least as
    * large as its largest constituent) and the at-risk row set (rows in
    * classes below [[AnonK]]) only shrinks — both graded per level as
    * `monotone_ok`, with the re-identification exposure as an exact
    * floor'd micro fraction.
    *
    * Scale shape: ONE map-combinable corpus collapse to the finest
    * class table (bounded by the QI domain, not the row count); every
    * coarser level re-aggregates that bounded table — the q154/q163
    * store-rollup discipline applied to governance. The finest balance
    * bucket determines the coarser one (100 | 100000), so one class
    * key serves the whole ladder; negative balances bin by the
    * remainder-subtraction floor both engines share. */
  def kAnonymityAudit(customer: DataFrame): DataFrame =
    kAnonymityLadder(kAnonymityFine(customer))

  /** q180's finest class table (nat, seg, b1, n, b2) — ONE map-combinable
    * corpus collapse; the store [[graft.streaming.StreamKAnonymity]]
    * maintains per batch (class counts SUM across partials). */
  private[graft] def kAnonymityFine(customer: DataFrame): DataFrame = {
    def fd(c: String, w: Long) = s"($c - ((($c % $w) + $w) % $w)) DIV $w"
    customer.selectExpr(
        "CAST(c_nationkey AS BIGINT) AS nat",
        "c_mktsegment AS seg",
        "CAST(round(c_acctbal * 100) AS BIGINT) AS cents")
      .selectExpr("nat", "seg", s"${fd("cents", AnonBalFine)} AS b1")
      .groupBy("nat", "seg", "b1").agg(count(lit(1)).as("n"))
      .withColumn("b2", expr(s"${fd("b1", AnonBalCoarse / AnonBalFine)}"))
  }

  /** The generalization ladder + monotone laws over a fine class table —
    * shared verbatim by batch q180 and the streamed read. */
  private[graft] def kAnonymityLadder(fineIn: DataFrame): DataFrame = {
    val fine = fineIn
      .localCheckpoint() // bounded class table; every ladder level reads it
    def level(df: DataFrame, lv: Long): DataFrame =
      df.agg(sum("n").as("n_rows"), count(lit(1)).as("n_classes"),
          min("n").as("k_anon"),
          count(when(col("n") < lit(AnonK), 1)).as("n_small_classes"),
          sum(when(col("n") < lit(AnonK), col("n")).otherwise(lit(0L)))
            .as("n_at_risk_rows"))
        .selectExpr(s"CAST($lv AS BIGINT) AS level", "n_rows", "n_classes",
          "k_anon", "n_small_classes", "n_at_risk_rows",
          "CAST(1000000 AS BIGINT) * n_at_risk_rows DIV n_rows AS risk_micro")
    val l0 = level(fine, 0L)
    val l1 = level(fine.groupBy("nat", "seg", "b2").agg(sum("n").as("n")), 1L)
    val l2 = level(fine.groupBy("seg", "b2").agg(sum("n").as("n")), 2L)
    val l3 = level(fine.groupBy("seg").agg(sum("n").as("n")), 3L)
    val ladder = l0.unionByName(l1).unionByName(l2).unionByName(l3)
      .localCheckpoint() // 4 rows; read twice for the monotone join
    ladder.as("a")
      .join(broadcast(ladder.selectExpr("level + 1 AS level",
        "k_anon AS prev_k", "n_at_risk_rows AS prev_risk").as("p")),
        Seq("level"), "left")
      .selectExpr("level", "n_rows", "n_classes", "k_anon",
        "n_small_classes", "n_at_risk_rows", "risk_micro",
        """coalesce(k_anon >= prev_k AND n_at_risk_rows <= prev_risk, true)
           AS monotone_ok""",
        s"k_anon >= $AnonK AS k_ok")
      .orderBy("level")
  }

  /** q195's dials: the diversity floor L (a class needs ≥ L distinct
    * sensitive values) and the recursive-diversity skew cap c (the most
    * frequent sensitive value may hold at most c× the rest's mass —
    * Machanavajjhala's (c, 2)-diversity, exact in integers). */
  val LDivL = 3L
  val LDivC = 3L

  /** q195 — L-DIVERSITY AUDIT: the attribute-disclosure sibling of
    * q180. k-anonymity bounds RE-IDENTIFICATION (how small can a
    * quasi-identifier class get) but says nothing about what a class
    * REVEALS: a class of 50 rows that all share one market segment
    * discloses the segment of anyone linkable to the class without
    * identifying a single row. Per QI class the sensitive attribute
    * (market segment) must be diverse: the audit measures distinct-ℓ
    * (the minimum number of distinct sensitive values in any class) and
    * recursive (c, 2)-diversity (the modal sensitive value may carry at
    * most c× the mass of the rest — skew-aware, because 49-of-50 one
    * segment is barely better than 50-of-50) up a generalization ladder
    * the q180 discipline prescribes: nation × $1000 balance bucket →
    * nation → region (the nation dimension's own hierarchy, joined
    * broadcast) → whole table. Distinct-ℓ is non-decreasing up the
    * ladder for the same reason q180's k is (a merged class's sensitive
    * set contains each constituent's), and the exposed row set (classes
    * with ONE sensitive value — outright disclosure) only shrinks —
    * graded as `monotone_ok`; the recursive verdict is an observation
    * per level, not a theorem, and the corpus populates both sides.
    *
    * Scale shape: ONE map-combinable corpus collapse to the finest
    * (nat, reg, bucket, sens) count table (bounded by the QI × sensitive
    * domain); every ladder level re-aggregates that bounded table twice
    * (class × sens, then class) — rows never travel past the first
    * collapse, the q154/q180 store-rollup discipline. */
  /** The q195/q205 finest privacy class table (nat, reg, b, sens, n) —
    * ONE map-combinable corpus collapse, bounded by QI × sensitive
    * domain; both audits' ladders re-aggregate it. */
  private[graft] def privacyFine(customer: DataFrame, nation: DataFrame): DataFrame = {
    val w = AnonBalCoarse
    customer.join(
        broadcast(nation.selectExpr("n_nationkey",
          "CAST(n_regionkey AS BIGINT) AS reg")),
        col("c_nationkey") === col("n_nationkey"))
      .selectExpr("CAST(c_nationkey AS BIGINT) AS nat", "reg",
        "c_mktsegment AS sens",
        "CAST(round(c_acctbal * 100) AS BIGINT) AS cents")
      .selectExpr("nat", "reg", "sens",
        s"(cents - (((cents % $w) + $w) % $w)) DIV $w AS b")
      .groupBy("nat", "reg", "b", "sens").agg(count(lit(1)).as("n"))
  }

  def lDiversityAudit(customer: DataFrame, nation: DataFrame): DataFrame = {
    val fine = privacyFine(customer, nation)
    // r16: the four ladder levels ran as four serialized subtrees (two
    // chained aggregations each) over a checkpointed fine store; they
    // now run as ONE grouping-sets pass tagged by grouping_id (the q205
    // rewrite — see tClosenessAudit for the gid layout), so the fine
    // collapse feeds a single subtree and needs no checkpoint.
    val perClass = fine.groupingSets(
        Seq(Seq(col("nat"), col("b"), col("sens")),
          Seq(col("nat"), col("sens")),
          Seq(col("reg"), col("sens")),
          Seq(col("sens"))),
        col("nat"), col("reg"), col("b"), col("sens"))
      .agg(sum("n").as("cnt"), grouping_id().as("gid"))
      .groupBy("gid", "nat", "reg", "b")
      .agg(sum("cnt").as("n"), count(lit(1)).as("dl"), max("cnt").as("mx"))
    val ladder = perClass.groupBy("gid")
      .agg(sum("n").as("n_rows"), count(lit(1)).as("n_classes"),
        min("dl").as("min_l"),
        count(when(col("dl") < lit(LDivL), 1)).as("n_undiverse"),
        sum(when(col("dl") === 1, col("n")).otherwise(lit(0L))).as("n_exposed"),
        count(when(col("mx") > lit(LDivC) * (col("n") - col("mx")), 1))
          .as("n_recursive_fail"))
      .selectExpr(
        """CAST(CASE gid WHEN 4 THEN 0 WHEN 6 THEN 1 WHEN 10 THEN 2
                         ELSE 3 END AS BIGINT) AS level""",
        "n_rows", "n_classes",
        "min_l", "n_undiverse", "n_exposed",
        "CAST(1000000 AS BIGINT) * n_exposed DIV n_rows AS exposure_micro",
        "n_recursive_fail", "n_recursive_fail = 0 AS recursive_ok")
      .localCheckpoint() // 4 rows; read twice for the monotone join
    ladder.as("a")
      .join(broadcast(ladder.selectExpr("level + 1 AS level",
        "min_l AS prev_l", "n_exposed AS prev_exposed").as("p")),
        Seq("level"), "left")
      .selectExpr("level", "n_rows", "n_classes", "min_l", "n_undiverse",
        "n_exposed", "exposure_micro", "n_recursive_fail", "recursive_ok",
        """coalesce(min_l >= prev_l AND n_exposed <= prev_exposed, true)
           AS monotone_ok""",
        s"min_l >= $LDivL AS l_ok")
      .orderBy("level")
  }

  /** q205's closeness dial: a class violates when its sensitive
    * distribution sits more than 0.3 total-variation away from the
    * table's (floor'd micro). */
  val TCloseMicro = 300000L

  /** q205 — T-CLOSENESS AUDIT: the third privacy law, completing the
    * trilogy — k-anonymity (q180) bounds how small a QI class can get,
    * l-diversity (q195) demands several sensitive values per class, and
    * t-closeness (Li et al.) bounds how much a class's sensitive
    * DISTRIBUTION may deviate from the table's: a class that is 90% one
    * segment leaks belief even with 5 distinct values present. For the
    * categorical sensitive attribute the distance is total variation,
    * computed EXACTLY in integers by cross-multiplication —
    * `Σ_present |cn·N − gn·cs| + (N·cs − Σ_present gn·cs)` over
    * `2·cs·N` (the second term is the mass of sensitive values ABSENT
    * from the class, which a present-only sum would silently drop) —
    * floor'd micro. Per ladder level (the q180/q195 ladder): class
    * count, the worst class's TVD, violations of [[TCloseMicro]], rows
    * at risk, and `monotone_ok`: max-TVD is non-increasing up the
    * ladder because a merged class's distribution is the size-weighted
    * AVERAGE of its parts and TVD is convex — a theorem, graded.
    *
    * Scale shape: the [[privacyFine]] collapse once; per level two
    * re-aggregations of the bounded class table joined against the
    * bounded global distribution (≤ |sensitive| rows, broadcast). */
  def tClosenessAudit(customer: DataFrame, nation: DataFrame): DataFrame = {
    val fine = privacyFine(customer, nation)
      .localCheckpoint() // bounded fine store; the ladder + global read it
    val g = fine.groupBy("sens").agg(sum("n").as("gn"))
      .crossJoin(broadcast(fine.agg(sum("n").as("nn"))))
    // r16: the four ladder levels ran as four serialized subtrees over
    // the fine store (per level: class collapse, class-size collapse,
    // size join, TVD aggregate). They now run as ONE grouping-sets pass
    // tagged by grouping_id, and the class-size join disappears: each
    // class's per-sens terms collect into a ≤ |sens| array, so cs and
    // the cross-multiplied TVD numerator come out of one aggregation
    // (exact integer fold — order-free). gid bits (nat, reg, b, sens):
    // 8/4/2/1; sens is grouped in every set, so gid ∈ {4 (nat,b),
    // 6 (nat), 10 (reg), 14 (total)}; nat/reg/b are key- or
    // cents-derived and never NULL, so a NULL marks only a rolled-up
    // column and grouping NULLs stay class-stable.
    val cls = fine.groupingSets(
        Seq(Seq(col("nat"), col("b"), col("sens")),
          Seq(col("nat"), col("sens")),
          Seq(col("reg"), col("sens")),
          Seq(col("sens"))),
        col("nat"), col("reg"), col("b"), col("sens"))
      .agg(sum("n").as("cn"), grouping_id().as("gid"))
    val tvd = cls.join(broadcast(g), Seq("sens"))
      .groupBy("gid", "nat", "reg", "b", "nn")
      .agg(sum("cn").as("cs"),
        collect_list(struct(col("cn"), col("gn"))).as("terms"))
      .selectExpr("gid", "cs",
        """1000000 * (aggregate(terms, 0L, (a, t) -> a + abs(t.cn * nn - t.gn * cs))
             + (nn * cs - aggregate(terms, 0L, (a, t) -> a + t.gn) * cs))
           DIV (2 * cs * nn) AS tvd_micro""")
    val ladder = tvd.groupBy("gid")
      .agg(count(lit(1)).as("n_classes"),
        max("tvd_micro").as("max_tvd_micro"),
        count(when(col("tvd_micro") > TCloseMicro, 1)).as("n_violations"),
        sum(when(col("tvd_micro") > TCloseMicro, col("cs")).otherwise(lit(0L)))
          .as("n_rows_at_risk"))
      .selectExpr(
        """CAST(CASE gid WHEN 4 THEN 0 WHEN 6 THEN 1 WHEN 10 THEN 2
                         ELSE 3 END AS BIGINT) AS level""",
        "n_classes", "max_tvd_micro", "n_violations", "n_rows_at_risk")
      .localCheckpoint() // 4 rows; read twice for the monotone join
    ladder.as("a")
      .join(broadcast(ladder.selectExpr("level + 1 AS level",
        "max_tvd_micro AS prev_tvd").as("p")), Seq("level"), "left")
      .selectExpr("level", "n_classes", "max_tvd_micro", "n_violations",
        "n_rows_at_risk",
        "coalesce(max_tvd_micro <= prev_tvd, true) AS monotone_ok",
        s"max_tvd_micro <= $TCloseMicro AS t_ok")
      .orderBy("level")
  }

  /** q184's per-stratum sample size. */
  val WStratK = 16

  /** q184 — WEIGHTED STRATIFIED SAMPLE: the cell that completes the
    * sampling matrix — uniform-global (q164), uniform-stratified (q58),
    * weighted-global (q176), and now weighted WITHIN each language
    * stratum: exactly min(K, |stratum|) docs per language, inclusion
    * biased by clipped token mass via the same exact-integer A-Res
    * replica keys as q176 ("per language, K docs favoring token-rich
    * ones" — the curriculum-sampling ask fraction rules can't serve,
    * because fractions can't promise a FIXED count per stratum).
    *
    * Selection runs through the bounded-state [[SketchOps.TopKByCount]]
    * with the stratum as the group (languages dense-indexed off a
    * bounded collected dial): ≤ K-entry states PER LANGUAGE tree-merge,
    * the corpus is never sorted, and per-shard stratified samples
    * truncate-merge per stratum exactly as q176's do globally. Graded
    * per stratum: the sample (rank, key, payload), the exact min(K, n)
    * size, and the per-language heavy-bias fact. */
  def weightedStratifiedSample(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val keyed = aresKeyed(docs).filter(col("lang").isNotNull)
      .localCheckpoint() // consumed by selection, census, and payload join
    val langs = keyed.select("lang").distinct().orderBy("lang")
      .collect().map(_.getString(0)).toSeq // bounded dial: the strata
    val lidx = langs.zipWithIndex.map { case (l, i) => (l, i.toLong) }
      .toDF("lang", "g")
    val sel = SketchOps.selectTopKIds(
        keyed.join(broadcast(lidx), Seq("lang"))
          .selectExpr("g", "doc_id AS id", "key48 AS key"), WStratK)
      .withColumnRenamed("id", "doc_id")
    val sample = keyed.join(broadcast(sel), Seq("doc_id"))
      .localCheckpoint() // ≤ K × strata rows
    val rk = sample.as("a").join(broadcast(sample.as("b")),
        col("a.lang") === col("b.lang") &&
          (col("b.key48") > col("a.key48") ||
            (col("b.key48") === col("a.key48") &&
              expr("CAST(b.doc_id AS STRING) <= CAST(a.doc_id AS STRING)"))))
      .groupBy(col("a.doc_id").as("doc_id")).agg(count(lit(1)).as("rk"))
    val census = keyed.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("w").as("tot_w"))
      .selectExpr("lang", "n_docs",
        "CAST(CAST(1000000 AS DECIMAL(38,0)) * tot_w DIV n_docs AS BIGINT) AS corpus_mean_w_micro")
    val scensus = sample.groupBy("lang")
      .agg(count(lit(1)).as("k_actual"), sum("w").as("s_w"))
      .selectExpr("lang", "k_actual",
        "CAST(CAST(1000000 AS DECIMAL(38,0)) * s_w DIV k_actual AS BIGINT) AS sample_mean_w_micro")
    sample.join(rk, Seq("doc_id"))
      .join(broadcast(census), Seq("lang")).join(broadcast(scensus), Seq("lang"))
      .selectExpr("lang", "rk", "doc_id", "key48", "n_tok", "w",
        "k_actual", "n_docs",
        s"k_actual = least(CAST($WStratK AS BIGINT), n_docs) AS size_ok",
        "sample_mean_w_micro", "corpus_mean_w_micro",
        "sample_mean_w_micro >= corpus_mean_w_micro AS heavy_bias_ok")
      .orderBy("lang", "rk")
  }

  def oracles: Map[String, String] = Map(
    // q184: the same replica keys, per-stratum brute rank as the
    // selection definition, identical census arithmetic
    "q184_weighted_stratified" ->
      s"""WITH hd AS (SELECT doc_id, lang,
                             CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tok
                      FROM documents WHERE lang IS NOT NULL),
              wd AS (SELECT doc_id, lang, n_tok, least(n_tok, $WeightCap) AS w
                     FROM hd WHERE least(n_tok, $WeightCap) >= 1),
              kd AS (SELECT doc_id, lang, n_tok, w,
                            list_max(list_transform(range(w), r ->
                              ('0x' || substr(md5('wk:' || CAST(doc_id AS VARCHAR)
                                 || ':' || CAST(r AS VARCHAR)), 1, 12))::BIGINT))
                              AS key48
                     FROM wd),
              sel AS (SELECT * FROM (
                        SELECT kd.*, CAST(row_number() OVER (PARTITION BY lang
                                 ORDER BY key48 DESC, CAST(doc_id AS VARCHAR)) AS BIGINT) AS rk
                        FROM kd)
                      WHERE rk <= $WStratK),
              cen AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                             CAST((1000000::HUGEINT * SUM(w)) // COUNT(*) AS BIGINT)
                               AS corpus_mean_w_micro
                      FROM kd GROUP BY lang),
              sc AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS k_actual,
                            CAST((1000000::HUGEINT * SUM(w)) // COUNT(*) AS BIGINT)
                              AS sample_mean_w_micro
                     FROM sel GROUP BY lang)
         SELECT lang, rk, doc_id, key48, n_tok, w, k_actual, n_docs,
                k_actual = least(CAST($WStratK AS BIGINT), n_docs) AS size_ok,
                sample_mean_w_micro, corpus_mean_w_micro,
                sample_mean_w_micro >= corpus_mean_w_micro AS heavy_bias_ok
         FROM sel JOIN cen USING (lang) JOIN sc USING (lang)
         ORDER BY lang, rk""",
    // q180: identical floor spelling, the same one-pass fine class table
    // re-aggregated per ladder level, the same +1-level self-join
    // q205: identical fine collapse, the same exact cross-multiplied
    // TVD (present deviation + absent mass over 2·cs·N) and ladder
    "q205_t_closeness" -> {
      val (w, t) = (AnonBalCoarse, TCloseMicro)
      def lvl(cols: Seq[String], lv: Int): String = {
        val sel = if (cols.isEmpty) "" else cols.mkString("", ", ", ",")
        val gbCls = (cols :+ "sens").mkString(", ")
        val joinCsz =
          if (cols.isEmpty) s"CROSS JOIN csz$lv"
          else s"JOIN csz$lv USING (${cols.mkString(", ")})"
        val gbCsz = if (cols.isEmpty) "" else s"GROUP BY ${cols.mkString(", ")}"
        val gbTv = (cols ++ Seq("cs", "nn")).mkString(", ")
        s"""cls$lv AS (SELECT $sel sens, CAST(SUM(n) AS BIGINT) AS cn
                       FROM fine GROUP BY $gbCls),
            csz$lv AS (SELECT $sel CAST(SUM(cn) AS BIGINT) AS cs
                       FROM cls$lv $gbCsz),
            tv$lv AS (SELECT cs,
                             1000000 * (SUM(abs(cn * nn - gn * cs))
                               + (nn * cs - SUM(gn * cs))) // (2 * cs * nn)
                               AS tvd_micro
                      FROM cls$lv JOIN g USING (sens) $joinCsz CROSS JOIN tot
                      GROUP BY $gbTv),
            ag$lv AS (SELECT CAST($lv AS BIGINT) AS level,
                             CAST(COUNT(*) AS BIGINT) AS n_classes,
                             CAST(MAX(tvd_micro) AS BIGINT) AS max_tvd_micro,
                             CAST(COUNT(CASE WHEN tvd_micro > $t THEN 1 END) AS BIGINT)
                               AS n_violations,
                             CAST(COALESCE(SUM(CASE WHEN tvd_micro > $t THEN cs END), 0)
                               AS BIGINT) AS n_rows_at_risk
                      FROM tv$lv)"""
      }
      s"""WITH fine AS (SELECT CAST(c_nationkey AS BIGINT) AS nat,
                               CAST(n_regionkey AS BIGINT) AS reg,
                               c_mktsegment AS sens,
                               (b0 - (((b0 % $w) + $w) % $w)) // $w AS b,
                               CAST(COUNT(*) AS BIGINT) AS n
                        FROM (SELECT c_nationkey, n_regionkey, c_mktsegment,
                                     CAST(ROUND(c_acctbal * 100) AS BIGINT) AS b0
                              FROM customer JOIN nation ON c_nationkey = n_nationkey)
                        GROUP BY 1, 2, 3, (b0 - (((b0 % $w) + $w) % $w)) // $w),
              g AS (SELECT sens, CAST(SUM(n) AS BIGINT) AS gn FROM fine GROUP BY 1),
              tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM fine),
              ${lvl(Seq("nat", "b"), 0)},
              ${lvl(Seq("nat"), 1)},
              ${lvl(Seq("reg"), 2)},
              ${lvl(Seq.empty, 3)},
              lad AS (SELECT * FROM ag0 UNION ALL SELECT * FROM ag1
                      UNION ALL SELECT * FROM ag2 UNION ALL SELECT * FROM ag3)
         SELECT a.level AS level, a.n_classes AS n_classes,
                a.max_tvd_micro AS max_tvd_micro,
                a.n_violations AS n_violations,
                a.n_rows_at_risk AS n_rows_at_risk,
                COALESCE(a.max_tvd_micro <= p.max_tvd_micro, true) AS monotone_ok,
                a.max_tvd_micro <= $t AS t_ok
         FROM lad a LEFT JOIN lad p ON p.level = a.level - 1
         ORDER BY a.level"""
    },
    // q195: identical fine collapse (same negative-safe floor bucket,
    // region via the same dimension join), identical two-level class
    // aggregation and ladder/monotone algebra
    "q195_l_diversity" -> {
      val (w, ll, cc) = (AnonBalCoarse, LDivL, LDivC)
      s"""WITH fine AS (SELECT CAST(c_nationkey AS BIGINT) AS nat,
                               CAST(n_regionkey AS BIGINT) AS reg,
                               c_mktsegment AS sens,
                               (b0 - (((b0 % $w) + $w) % $w)) // $w AS b,
                               CAST(COUNT(*) AS BIGINT) AS n
                        FROM (SELECT c_nationkey, n_regionkey, c_mktsegment,
                                     CAST(ROUND(c_acctbal * 100) AS BIGINT) AS b0
                              FROM customer JOIN nation ON c_nationkey = n_nationkey)
                        GROUP BY 1, 2, 3, (b0 - (((b0 % $w) + $w) % $w)) // $w),
              c0 AS (SELECT nat, b, sens, CAST(SUM(n) AS BIGINT) AS cnt
                     FROM fine GROUP BY 1, 2, 3),
              g0 AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
                            CAST(COUNT(*) AS BIGINT) AS dl, MAX(cnt) AS mx
                     FROM c0 GROUP BY nat, b),
              c1 AS (SELECT nat, sens, CAST(SUM(n) AS BIGINT) AS cnt
                     FROM fine GROUP BY 1, 2),
              g1 AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
                            CAST(COUNT(*) AS BIGINT) AS dl, MAX(cnt) AS mx
                     FROM c1 GROUP BY nat),
              c2 AS (SELECT reg, sens, CAST(SUM(n) AS BIGINT) AS cnt
                     FROM fine GROUP BY 1, 2),
              g2 AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
                            CAST(COUNT(*) AS BIGINT) AS dl, MAX(cnt) AS mx
                     FROM c2 GROUP BY reg),
              c3 AS (SELECT sens, CAST(SUM(n) AS BIGINT) AS cnt
                     FROM fine GROUP BY 1),
              g3 AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
                            CAST(COUNT(*) AS BIGINT) AS dl, MAX(cnt) AS mx
                     FROM c3),
              ag AS (
                SELECT CAST(0 AS BIGINT) AS level, * FROM (
                  SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
                         CAST(COUNT(*) AS BIGINT) AS n_classes, MIN(dl) AS min_l,
                         CAST(COUNT(CASE WHEN dl < $ll THEN 1 END) AS BIGINT) AS n_undiverse,
                         CAST(COALESCE(SUM(CASE WHEN dl = 1 THEN n END), 0) AS BIGINT) AS n_exposed,
                         CAST(COUNT(CASE WHEN mx > $cc * (n - mx) THEN 1 END) AS BIGINT) AS n_recursive_fail
                  FROM g0)
                UNION ALL SELECT CAST(1 AS BIGINT), * FROM (
                  SELECT CAST(SUM(n) AS BIGINT), CAST(COUNT(*) AS BIGINT), MIN(dl),
                         CAST(COUNT(CASE WHEN dl < $ll THEN 1 END) AS BIGINT),
                         CAST(COALESCE(SUM(CASE WHEN dl = 1 THEN n END), 0) AS BIGINT),
                         CAST(COUNT(CASE WHEN mx > $cc * (n - mx) THEN 1 END) AS BIGINT)
                  FROM g1)
                UNION ALL SELECT CAST(2 AS BIGINT), * FROM (
                  SELECT CAST(SUM(n) AS BIGINT), CAST(COUNT(*) AS BIGINT), MIN(dl),
                         CAST(COUNT(CASE WHEN dl < $ll THEN 1 END) AS BIGINT),
                         CAST(COALESCE(SUM(CASE WHEN dl = 1 THEN n END), 0) AS BIGINT),
                         CAST(COUNT(CASE WHEN mx > $cc * (n - mx) THEN 1 END) AS BIGINT)
                  FROM g2)
                UNION ALL SELECT CAST(3 AS BIGINT), * FROM (
                  SELECT CAST(SUM(n) AS BIGINT), CAST(COUNT(*) AS BIGINT), MIN(dl),
                         CAST(COUNT(CASE WHEN dl < $ll THEN 1 END) AS BIGINT),
                         CAST(COALESCE(SUM(CASE WHEN dl = 1 THEN n END), 0) AS BIGINT),
                         CAST(COUNT(CASE WHEN mx > $cc * (n - mx) THEN 1 END) AS BIGINT)
                  FROM g3))
         SELECT a.level AS level, a.n_rows AS n_rows, a.n_classes AS n_classes,
                a.min_l AS min_l, a.n_undiverse AS n_undiverse,
                a.n_exposed AS n_exposed,
                CAST(1000000 AS BIGINT) * a.n_exposed // a.n_rows AS exposure_micro,
                a.n_recursive_fail AS n_recursive_fail,
                a.n_recursive_fail = 0 AS recursive_ok,
                COALESCE(a.min_l >= p.min_l AND a.n_exposed <= p.n_exposed, true)
                  AS monotone_ok,
                a.min_l >= $ll AS l_ok
         FROM ag a LEFT JOIN ag p ON p.level = a.level - 1
         ORDER BY a.level"""
    },
    "q180_k_anonymity" -> {
      val (kk, f, cr) = (AnonK, AnonBalFine, AnonBalCoarse / AnonBalFine)
      s"""WITH fine AS (SELECT CAST(c_nationkey AS BIGINT) AS nat,
                               c_mktsegment AS seg,
                               (b0 - (((b0 % $f) + $f) % $f)) // $f AS b1,
                               CAST(COUNT(*) AS BIGINT) AS n
                        FROM (SELECT c_nationkey, c_mktsegment,
                                     CAST(ROUND(c_acctbal * 100) AS BIGINT) AS b0
                              FROM customer)
                        GROUP BY 1, 2, (b0 - (((b0 % $f) + $f) % $f)) // $f),
              fb AS (SELECT nat, seg, b1,
                            (b1 - (((b1 % $cr) + $cr) % $cr)) // $cr AS b2, n
                     FROM fine),
              l0 AS (SELECT CAST(0 AS BIGINT) AS level, fb.* FROM fb),
              l1 AS (SELECT CAST(1 AS BIGINT), nat, seg, CAST(NULL AS BIGINT), b2,
                            CAST(SUM(n) AS BIGINT) FROM fb GROUP BY nat, seg, b2),
              l2 AS (SELECT CAST(2 AS BIGINT), CAST(NULL AS BIGINT), seg,
                            CAST(NULL AS BIGINT), b2,
                            CAST(SUM(n) AS BIGINT) FROM fb GROUP BY seg, b2),
              l3 AS (SELECT CAST(3 AS BIGINT), CAST(NULL AS BIGINT), seg,
                            CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                            CAST(SUM(n) AS BIGINT) FROM fb GROUP BY seg),
              lv AS (SELECT * FROM l0 UNION ALL SELECT * FROM l1
                     UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l3),
              ag AS (SELECT level, CAST(SUM(n) AS BIGINT) AS n_rows,
                            CAST(COUNT(*) AS BIGINT) AS n_classes,
                            MIN(n) AS k_anon,
                            CAST(COUNT(CASE WHEN n < $kk THEN 1 END) AS BIGINT)
                              AS n_small_classes,
                            CAST(COALESCE(SUM(CASE WHEN n < $kk THEN n END), 0)
                                 AS BIGINT) AS n_at_risk_rows
                     FROM lv GROUP BY level)
         SELECT a.level AS level, a.n_rows AS n_rows, a.n_classes AS n_classes,
                a.k_anon AS k_anon, a.n_small_classes AS n_small_classes,
                a.n_at_risk_rows AS n_at_risk_rows,
                CAST(1000000 AS BIGINT) * a.n_at_risk_rows // a.n_rows AS risk_micro,
                COALESCE(a.k_anon >= p.k_anon
                         AND a.n_at_risk_rows <= p.n_at_risk_rows, true)
                  AS monotone_ok,
                a.k_anon >= $kk AS k_ok
         FROM ag a LEFT JOIN ag p ON p.level = a.level - 1
         ORDER BY a.level"""
    },
    // q176: identical replica recipe (DuckDB's || renders integers the
    // same as Spark's CAST-to-STRING concat; range(w) = sequence(0, w-1)),
    // brute-force rank as the selection definition the bounded-state
    // aggregate must reproduce
    "q176_weighted_bottomk" ->
      s"""WITH hd AS (SELECT doc_id,
                             CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tok
                      FROM documents),
              wd AS (SELECT doc_id, n_tok, least(n_tok, $WeightCap) AS w
                     FROM hd WHERE least(n_tok, $WeightCap) >= 1),
              kd AS (SELECT doc_id, n_tok, w,
                            list_max(list_transform(range(w), r ->
                              ('0x' || substr(md5('wk:' || CAST(doc_id AS VARCHAR)
                                 || ':' || CAST(r AS VARCHAR)), 1, 12))::BIGINT))
                              AS key48
                     FROM wd),
              sel AS (SELECT * FROM (
                        SELECT kd.*, CAST(row_number() OVER (
                                 ORDER BY key48 DESC, CAST(doc_id AS VARCHAR)) AS BIGINT) AS rk
                        FROM kd)
                      WHERE rk <= $WBottomK),
              cen AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                             CAST((1000000::HUGEINT * SUM(w)) // COUNT(*) AS BIGINT)
                               AS corpus_mean_w_micro
                      FROM kd),
              sc AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_actual,
                            CAST((1000000::HUGEINT * SUM(w)) // COUNT(*) AS BIGINT)
                              AS sample_mean_w_micro
                     FROM sel)
         SELECT rk, doc_id, key48, n_tok, w, k_actual, n_docs,
                sample_mean_w_micro, corpus_mean_w_micro,
                sample_mean_w_micro >= corpus_mean_w_micro AS heavy_bias_ok
         FROM sel CROSS JOIN cen CROSS JOIN sc
         ORDER BY rk""",
    "q164_bottomk_sample" ->
      s"""WITH hd AS (SELECT doc_id,
                             CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tok,
                             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS h
                      FROM documents),
              sel AS (SELECT * FROM (
                        SELECT hd.*, CAST(row_number() OVER (
                                 ORDER BY h, CAST(doc_id AS VARCHAR)) AS BIGINT) AS rk
                        FROM hd)
                      WHERE rk <= $BottomK),
              cen AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                             CAST((1000000::HUGEINT * SUM(n_tok)) // COUNT(*) AS BIGINT)
                               AS exact_mean_tok_micro
                      FROM hd),
              sc AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_actual,
                            CAST((1000000::HUGEINT * SUM(n_tok)) // COUNT(*) AS BIGINT)
                              AS sample_mean_tok_micro
                     FROM sel)
         SELECT rk, doc_id, h, n_tok, k_actual, n_docs,
                sample_mean_tok_micro, exact_mean_tok_micro,
                sample_mean_tok_micro - exact_mean_tok_micro AS err_micro,
                abs(sample_mean_tok_micro - exact_mean_tok_micro) * 2
                  <= exact_mean_tok_micro AS est_ok
         FROM sel CROSS JOIN cen CROSS JOIN sc
         ORDER BY rk""",
    "q56_normalize" ->
      """SELECT doc_id,
                trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                    ' +', ' ', 'g')) AS norm_text,
                regexp_replace(text, '[0-9]+', '<NUM>', 'g') AS redacted_text
         FROM documents ORDER BY doc_id""",
    "q57_split" ->
      s"""SELECT doc_id, bucket,
                CASE WHEN bucket < $TrainCut THEN 'train'
                     WHEN bucket < $ValCut THEN 'val'
                     ELSE 'test' END AS split
         FROM (SELECT doc_id,
                      ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT AS bucket
               FROM documents)
         ORDER BY doc_id""",
    // q120 mirrors the per-side (id, count) collapse, the single
    // full-outer join, and the conjunction bit computed from the SAME
    // aliased counts (no duplicated predicates to drift)
    "q120_referential_audit" ->
      """WITH d AS (SELECT doc_id AS id, CAST(COUNT(*) AS BIGINT) AS dc
                    FROM documents GROUP BY doc_id),
          e AS (SELECT vec_id AS id, CAST(COUNT(*) AS BIGINT) AS ec
                FROM embeddings GROUP BY vec_id),
          j AS (SELECT d.dc AS dc, e.ec AS ec
                FROM d FULL OUTER JOIN e ON d.id = e.id),
          a AS (SELECT CAST(COALESCE(SUM(dc), 0) AS BIGINT) AS n_docs,
                       CAST(COALESCE(SUM(ec), 0) AS BIGINT) AS n_embeddings,
                       CAST(COALESCE(SUM(CASE WHEN ec IS NULL THEN dc END), 0) AS BIGINT)
                         AS n_docs_without_embedding,
                       CAST(COALESCE(SUM(CASE WHEN dc IS NULL THEN ec END), 0) AS BIGINT)
                         AS n_orphan_embeddings
                FROM j)
         SELECT n_docs, n_embeddings, n_docs_without_embedding, n_orphan_embeddings,
                n_docs_without_embedding = 0 AND n_orphan_embeddings = 0 AS aligned
         FROM a""",
    // q112 mirrors the row-local (epoch:doc_id) md5 draw, the q100 shard
    // rule, the bounded (epoch:S<shard>) visit-order rank, and the
    // per-shard rank with the identical (ord, doc_id) tie-break
    "q112_epoch_order" ->
      """WITH sh AS (SELECT range AS shard,
                            ('0x' || substr(md5('1:S' || CAST(range AS VARCHAR)), 1, 12))::BIGINT AS sdraw
                     FROM range(16)),
          sq AS (SELECT a.shard, CAST(COUNT(*) AS BIGINT) AS shard_seq
                 FROM sh a JOIN sh b
                   ON b.sdraw < a.sdraw OR (b.sdraw = a.sdraw AND b.shard <= a.shard)
                 GROUP BY a.shard),
          s AS (SELECT doc_id,
                       ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT % 16 AS shard,
                       ('0x' || substr(md5('1:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS ord
                FROM documents)
         SELECT CAST(1 AS BIGINT) AS epoch, s.shard AS shard, sq.shard_seq AS shard_seq,
                doc_id, ord,
                CAST(ROW_NUMBER() OVER (PARTITION BY s.shard ORDER BY ord, doc_id) AS BIGINT) AS pos
         FROM s JOIN sq ON s.shard = sq.shard
         ORDER BY shard_seq, pos""",
    "q125_padding_waste" ->
      s"""SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
                 CAST(MAX(n_tok) AS BIGINT) AS max_tokens,
                 CAST(COUNT(*) * MAX(n_tok) - SUM(n_tok) AS BIGINT) AS pad_waste,
                 CAST(SUM(n_tok) AS DOUBLE)
                   / (CAST(COUNT(*) AS DOUBLE) * CAST(MAX(n_tok) AS DOUBLE)) AS fill_rate
         FROM (SELECT CAST(len(str_split(text, ' ')) AS BIGINT) // $PadBucketTokens AS bucket,
                      CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tok
               FROM documents)
         GROUP BY bucket ORDER BY bucket""",
    "q100_shard_manifest" ->
      """SELECT bucket % 16 AS shard,
                CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(len(str_split(text, ' '))) AS BIGINT) AS total_tokens,
                CAST(SUM(n_chars) AS BIGINT) AS total_chars,
                MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
         FROM (SELECT doc_id, text, n_chars,
                      ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT AS bucket
               FROM documents)
         GROUP BY 1 ORDER BY shard""",
    // q58: the same exact-integer threshold rule as q76 — keep_n =
    // ceil(0.2·n) via the identical double multiply + CEIL on both
    // engines, cut = floor(keep_n·2^48 / n) (HUGEINT there, DECIMAL(38,0)
    // here), u the same 48-bit md5 prefix
    "q58_stratified_sample" ->
      s"""WITH n AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
                    FROM documents GROUP BY lang),
          w AS (SELECT lang, n,
                       CAST(CEIL(CAST(n AS DOUBLE) * $StratifiedFrac) AS BIGINT) AS keep_n
                FROM n),
          c AS (SELECT lang, keep_n,
                       CAST((CAST(keep_n AS HUGEINT) * $TwoPow48) // n AS BIGINT) AS cut
                FROM w),
          u AS (SELECT doc_id, lang,
                       ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS u
                FROM documents)
         SELECT u.lang AS lang, u.doc_id AS doc_id, u.u AS u, c.keep_n AS keep_n
         FROM u JOIN c ON u.lang = c.lang
         WHERE u.u < c.cut
         ORDER BY lang, doc_id""",
    // q76 composes the q72 oracle verbatim for its weight inputs; the cut
    // is the same exact-integer floor(keep_n·2^48 / n) (HUGEINT there,
    // DECIMAL(38,0) here) and u the same 48-bit md5 prefix — both sides of
    // the row-local keep rule are bit-identical by construction
    "q76_mixture_sample" -> MixtureSampleSql,
    // q131: identical HUGEINT floor/remainder math, the same bounded
    // remainder-rank self-join, one-row total/leftover folded in
    "q131_token_allocation" ->
      s"""WITH per AS (SELECT COALESCE(source, chr(1) || 'null') AS source,
                              CAST(COUNT(*) AS BIGINT) AS n_docs,
                              CAST(SUM(len(str_split(text, ' '))) AS BIGINT) AS n_tokens
                       FROM documents GROUP BY 1),
          tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM per),
          b AS (SELECT source, n_docs, n_tokens, total,
                       CAST((CAST($AllocationBudgetTokens AS HUGEINT) * n_tokens) // total
                            AS BIGINT) AS base,
                       CAST((CAST($AllocationBudgetTokens AS HUGEINT) * n_tokens) % total
                            AS BIGINT) AS rem
                FROM per, tot),
          r AS (SELECT x.source AS source, CAST(COUNT(*) AS BIGINT) AS rk
                FROM b x JOIN b y ON y.rem > x.rem
                                  OR (y.rem = x.rem AND y.source <= x.source)
                GROUP BY 1),
          l AS (SELECT $AllocationBudgetTokens - SUM(base) AS leftover FROM b)
          SELECT b.source AS source, b.n_docs AS n_docs, b.n_tokens AS n_tokens,
                 CAST(b.n_tokens AS DOUBLE) / CAST(b.total AS DOUBLE) AS share,
                 CAST(b.base + CASE WHEN r.rk <= l.leftover THEN 1 ELSE 0 END AS BIGINT)
                   AS alloc
          FROM b JOIN r ON b.source = r.source, l
          ORDER BY source""",
    // q129 composes the q76 kept set and its budget CTEs verbatim: per
    // stratum the achieved count joins the demanded keep_n; dev is exact
    // integer, sigma/ok one deterministic double expression each
    "q129_mixture_realization" ->
      s"""WITH k AS ($MixtureSampleSql),
          mw AS ($MixtureWeightsSql),
          w AS (SELECT lang, source, n, $KeepBudgetDuckExpr AS keep_n FROM mw),
          g AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_kept
                FROM k GROUP BY 1, 2)
          SELECT w.lang AS lang, w.source AS source, w.n AS n,
                 w.keep_n AS keep_n,
                 COALESCE(g.n_kept, 0) AS n_kept,
                 COALESCE(g.n_kept, 0) - w.keep_n AS dev,
                 sqrt(CAST(w.keep_n AS DOUBLE)
                      * (1e0 - CAST(w.keep_n AS DOUBLE) / CAST(w.n AS DOUBLE))) AS sigma,
                 CAST(ABS(COALESCE(g.n_kept, 0) - w.keep_n) AS DOUBLE)
                   <= 3e0 * sqrt(CAST(w.keep_n AS DOUBLE)
                        * (1e0 - CAST(w.keep_n AS DOUBLE) / CAST(w.n AS DOUBLE))) AS ok
          FROM w LEFT JOIN g ON w.lang = g.lang AND w.source = g.source
          ORDER BY lang, source""",
    "q73_sequence_packing" -> SequencePackingSql,
    // q105 composes the q72 oracle verbatim; needed/epochs/rem/cut are
    // all exact integer quotients (HUGEINT there, DECIMAL(38,0) here)
    "q105_mixture_epoch_plan" ->
      s"""WITH mw AS ($MixtureWeightsSql),
          t AS (SELECT CAST(SUM(w_micro) AS HUGEINT) AS tw FROM mw),
          d AS (SELECT mw.lang AS lang, mw.source AS source, mw.n AS n,
                       CAST((CAST(mw.w_micro AS HUGEINT) * $EpochPlanTarget) // t.tw
                            AS BIGINT) AS needed_n
                FROM mw CROSS JOIN t)
          SELECT lang, source, n, needed_n,
                 needed_n // n AS epochs,
                 needed_n % n AS rem,
                 CAST((CAST(needed_n % n AS HUGEINT) * $TwoPow48) // n AS BIGINT)
                   AS rem_cut,
                 needed_n // n >= 4 AS over_repeated
          FROM d ORDER BY lang, source""",
    // q83: the same URL derivation + regex host extraction (DuckDB has no
    // parse_url; the regex is the HOST part of the same grammar)
    "q83_url_dedup" ->
      """WITH u AS (SELECT doc_id, n_chars,
                           'https://' || source || '.example.com/' || lang || '/p'
                             || substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS url
                    FROM documents),
          h AS (SELECT doc_id, n_chars, url,
                       regexp_extract(url, 'https?://([^/]+)', 1) AS host FROM u),
          c AS (SELECT url, MIN(doc_id) AS first_doc FROM h GROUP BY url),
          d AS (SELECT host, COUNT(*) AS n_host_docs,
                       CAST(CAST(SUM(n_chars) AS BIGINT) AS DOUBLE) / COUNT(*) AS host_mean_chars
                FROM h GROUP BY host)
          SELECT h.doc_id AS doc_id, h.url AS url, h.host AS host,
                 h.doc_id = c.first_doc AS is_canonical,
                 d.n_host_docs AS n_host_docs, d.host_mean_chars AS host_mean_chars
          FROM h JOIN c ON h.url = c.url JOIN d ON h.host = d.host
          ORDER BY doc_id""",
    // q82 composes the q73 oracle verbatim, like q78 — the inverse map's
    // per-doc inputs cannot drift from the verified packing query
    "q82_chunk_composition" ->
      s"""WITH packed AS ($SequencePackingSql),
          e AS (SELECT doc_id, n_tokens, start_offset,
                       unnest(range(chunk_first, chunk_last + 1)) AS chunk_id
                FROM packed)
          SELECT chunk_id, doc_id,
                 greatest(start_offset, chunk_id * 1024) - chunk_id * 1024 AS chunk_from,
                 greatest(start_offset, chunk_id * 1024) - start_offset AS doc_from,
                 least(start_offset + n_tokens - 1, (chunk_id + 1) * 1024 - 1)
                   - greatest(start_offset, chunk_id * 1024) + 1 AS span_tokens
          FROM e ORDER BY chunk_id, chunk_from""",
    // q78 composes the q73 oracle verbatim — the stats' per-doc inputs
    // cannot drift from the individually-verified packing query
    "q78_packing_stats" ->
      s"""WITH packed AS ($SequencePackingSql)
          SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
                 CAST(MAX(chunk_last) + 1 AS BIGINT) AS n_chunks,
                 CAST(SUM(CASE WHEN chunk_first != chunk_last THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers,
                 CAST(SUM(n_tokens) AS BIGINT)
                   / CAST((MAX(chunk_last) + 1) * 1024 AS DOUBLE) AS fill_rate,
                 CAST(SUM(CASE WHEN chunk_first != chunk_last THEN 1 ELSE 0 END) AS DOUBLE)
                   / COUNT(*) AS straddle_rate
          FROM packed""",
    "q72_mixture_weights" -> MixtureWeightsSql,
    "q70_ngram_contamination" -> {
      val n = 5
      // i..i+(n-1) token concat, same 5-gram recipe as graft_shingles(.., 5)
      val gram = (0 until n).map(j => s"str_split(text, ' ')[i+$j]")
        .mkString(" || ' ' || ")
      s"""WITH sp AS (SELECT doc_id, text,
                 CASE WHEN (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT)
                        < $TrainCut THEN 'train'
                      WHEN (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT)
                        < $ValCut THEN 'val'
                      ELSE 'test' END AS split
               FROM documents),
          g AS (SELECT doc_id, split,
                       unnest(list_distinct(list_transform(
                         range(1, len(str_split(text, ' ')) - ${n - 2}),
                         i -> $gram))) AS gram
                FROM sp WHERE len(str_split(text, ' ')) >= $n),
          ev AS (SELECT DISTINCT gram FROM g WHERE split = 'test'),
          h AS (SELECT g.doc_id, COUNT(*) AS n_shared
                FROM g JOIN ev ON g.gram = ev.gram
                WHERE g.split = 'train' GROUP BY g.doc_id)
         SELECT sp.doc_id AS doc_id,
                CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared,
                COALESCE(h.n_shared, 0) > 0 AS contaminated
         FROM sp LEFT OUTER JOIN h ON sp.doc_id = h.doc_id
         WHERE sp.split = 'train'
         ORDER BY doc_id"""
    },
  )
}
