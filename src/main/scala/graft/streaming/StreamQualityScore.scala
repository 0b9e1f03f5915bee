package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.expr

import graft.ops.QualityModelOps

/** Ingest-time MODEL-BASED quality scoring — the streaming application of
  * the q101 classifier, completing the batch-trains / stream-applies pair
  * the engine already has for k-means ([[StreamCentroidAssign]] routes
  * against persisted centroids) and BPE (q79 applies persisted merges):
  * a batch job trains the hashed-feature NB model and persists the
  * BOUNDED artifact ([[QualityModelOps.ModelTables]], collected: 256
  * micro weights + a bias); every arriving document is then scored ROW-LOCALLY
  * against it. No state store, no watermark, no shuffle, nothing beyond
  * a 2 KB literal in the plan — the shape that keeps an ingest chain
  * linear in executors.
  *
  * The score is IDENTICAL (exact integers) to the batch q101 score for
  * the same document: the per-bucket weight is a pure function of the
  * bucket's counts, so the pre-tabulated array equals q101's
  * per-occurrence guarded rounding — `StreamQualityScoreSpec` proves the
  * parity corpus-wide. The q61-heuristic twin of this module is
  * [[StreamQualityGate]]; this one applies the LEARNED filter. */
object StreamQualityScore {

  /** Score each arriving row: emits every input column plus `n_feats`,
    * `score_micro`, `score`, `pred`. The stream must carry `textCol` and
    * `lang` (the interaction features' context). `wMicro` must be the
    * full [[QualityModelOps.NumBuckets]]-entry weight array of
    * [[QualityModelOps.ModelTables]], in bucket order. */
  def score(stream: DataFrame, wMicro: Seq[Long], biasMicro: Long,
            textCol: String = "text"): DataFrame = {
    require(wMicro.length == QualityModelOps.NumBuckets,
      s"StreamQualityScore: expected ${QualityModelOps.NumBuckets} bucket " +
        s"weights, got ${wMicro.length}")
    require(stream.columns.contains(textCol) && stream.columns.contains("lang"),
      s"StreamQualityScore: stream must carry '$textCol' and 'lang'; " +
        s"got [${stream.columns.mkString(", ")}]")
    val clash = Seq("n_feats", "score_micro", "score", "pred", "ts_q", "w_q", "n", "nd")
      .filter(stream.columns.contains)
    require(clash.isEmpty,
      s"StreamQualityScore: stream carries reserved output column(s) " +
        s"[${clash.mkString(", ")}] — rename them before score()")
    val carried = stream.columns.toSeq
    // the persisted model as a plan literal: element_at is 1-based
    val wArr = s"array(${wMicro.mkString("L,")}L)"
    def bucket(e: String) =
      s"CAST(conv(substring(md5($e), 1, 2), 16, 10) AS INT)"
    def wOf(e: String) = s"element_at(w_q, ${bucket(e)} + 1)"
    stream
      // malformed-arrival guard (the StreamSemanticGuard contract): a NULL
      // text or lang would flow into concat(lang,'|',t) → NULL feature →
      // element_at(w_q, NULL) → the WHOLE score folds to NULL — a silent
      // verdict-less row where batch q101 still scores. Fail the
      // micro-batch loudly instead; null metadata is q119's census to
      // count and the scrubber's job to default, upstream of scoring.
      .withColumn("ts_q", expr(
        s"""CASE WHEN $textCol IS NULL OR lang IS NULL
                 THEN CAST(raise_error('StreamQualityScore: null text/lang arrival — a null feature would silently null the score; default metadata upstream') AS ARRAY<STRING>)
                 ELSE split($textCol, ' ') END"""))
      .withColumn("w_q", expr(wArr))
      .withColumn("n", expr("CAST(size(ts_q) AS BIGINT)"))
      .withColumn("nd", expr("CAST(size(array_distinct(ts_q)) AS BIGINT)"))
      .withColumn("n_feats", expr("CAST(n * 2 + 2 AS BIGINT)"))
      // the same three feature families as the batch classifier, folded
      // row-locally: per token its own + the lang-interaction bucket
      // weight, plus the two structural-bin weights (the struct feature
      // strings are the SHARED QualityModelOps definition)
      .withColumn("score_micro", expr(
        s"""aggregate(ts_q, CAST($biasMicro AS BIGINT),
              (acc, t) -> acc + ${wOf("t")} + ${wOf("concat(lang, '|', t)")})
            + aggregate(${QualityModelOps.StructFeatureArray},
                CAST(0 AS BIGINT), (acc, f) -> acc + ${wOf("f")})"""))
      .withColumn("score", expr("CAST(score_micro AS DOUBLE) / 1e6"))
      .withColumn("pred", expr("score_micro > 0"))
      .selectExpr(carried ++ Seq("n_feats", "score_micro", "score", "pred"): _*)
  }
}
