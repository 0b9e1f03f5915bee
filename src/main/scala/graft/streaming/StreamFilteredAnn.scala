package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.SimilarityOps

/** Serving-side FILTERED VECTOR SEARCH — the streaming twin of q200's
  * measurement query: tenant-filtered queries arrive as a stream, and each
  * micro-batch is answered against the STANDING IVF index (the three
  * batch-refreshed artifacts of [[SimilarityOps.servingIndex]]: corpus
  * vecs, vec→cell assignment, and the bounded per-(cell, d) integer
  * centroid stats that broadcast into every probe). Both strategies run
  * per batch — `pre_exact` (brute over the filtered corpus) and
  * `ivf_post` (probe the shared index, post-filter) — so the store keeps
  * the per-query recall-vs-cost trade q200 grades, measured live as
  * queries land: the operational "filtered ANN needs more probes" alarm.
  *
  * Bit-equality with batch q200 is by construction, not by luck: the
  * probe ranking uses the SAME exact-integer cell distances
  * ([[SimilarityOps.distToCells]] — integer sums, one final division,
  * order-free) an arriving vector would get inside the batch index build,
  * and everything downstream is the SHARED per-q_id-independent core
  * [[SimilarityOps.filteredAnnRows]], so restricting to an arrival subset
  * commutes with the whole computation. Spec-proven across arrival splits.
  *
  * State discipline: results are JOIN-SHAPED state — each query's rows
  * depend only on (its vector, the standing index), never on other
  * arrivals — landed under their own `batch_id=N` partition, so a
  * re-delivered batch overwrites itself and cannot duplicate a row (the
  * [[BatchSink.write]] batch_id discipline). No watermark, no streaming
  * state store; per-batch work is bounded by arrivals × probed cells. */
object StreamFilteredAnn {

  /** Answer one (static) batch of arriving (vec_id, embedding) queries
    * against the standing index and land it under its batch_id partition
    * — also the spec's replay unit. */
  private[graft] def mergeBatch(queries: DataFrame, batchId: Long, path: String,
                                index: (DataFrame, DataFrame, DataFrame),
                                nprobe: Int): Unit = {
    val (all, assigned, cells) = index
    val qVecs = SimilarityOps.vecs(queries)
      .selectExpr("vec_id AS q_id", "v AS qv", "n2 AS qn2")
    val byDist = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("dist"), col("cell"))
    val probes = SimilarityOps.distToCells(SimilarityOps.q3Of(queries), cells)
      .withColumn("rn", row_number().over(byDist))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id").as("q_id"), col("cell"))
    BatchSink.write(SimilarityOps.filteredAnnRows(qVecs, probes, assigned, all),
      batchId, path)
  }

  /** Start the maintainer on a streaming (vec_id, embedding) query frame
    * against a standing corpus. The index is built ONCE here (in
    * production: read from the batch refresher's tables). */
  def start(queries: DataFrame, corpus: DataFrame, path: String,
            checkpointDir: String,
            nprobe: Int = SimilarityOps.NProbe): StreamingQuery = {
    val index = SimilarityOps.servingIndex(corpus)
    BatchSink.start(queries, checkpointDir)(mergeBatch(_, _, path, index, nprobe))
  }

  /** The always-current answer store, shaped exactly like batch q200. */
  def results(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      .select("strategy", "q_id", "rank", "n_id", "cos",
        "cand_seen", "recall_at_k")
      .orderBy("strategy", "q_id", "rank")
}
