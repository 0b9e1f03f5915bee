package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.SimilarityOps

/** Ingest-time centroid routing — the streaming twin of the q87/q55 cell
  * machinery: an arriving embedding is assigned to its nearest LEARNED
  * k-means cell (and distance) before it lands anywhere, so the ingest
  * path can bucket vectors into IVF cells, route them to per-cell
  * near-dup checks (q85's semantics), or flag out-of-distribution
  * vectors, all without touching the standing corpus.
  *
  * Scale contract: the centroid state is the bounded one-row artifact a
  * scheduled batch job refreshes (the final q87 round's centroid state,
  * [[SimilarityOps.kmCents]]: k × D integer sums + counts); it joins each micro-batch as a broadcast
  * one-row table and the argmin is the SAME row-local codegen'd fold the
  * batch rounds use ([[SimilarityOps.KmeansBestExpr]]), so batch and
  * stream assignments cannot drift and the stream shuffles nothing.
  * Stateless — no watermark, no streaming state store.
  */
object StreamCentroidAssign {

  /** Assign each arriving (vec_id, embedding) row to its nearest cell.
    * `centroids` is that static one-row centroid table. Emits (vec_id, cell, dist) plus any extra columns the stream
    * carries (ts, source, ...) so downstream routing keeps its context. */
  def assign(stream: DataFrame, centroids: DataFrame): DataFrame = {
    require(stream.columns.contains("embedding"),
      s"StreamCentroidAssign: stream must carry an 'embedding' column; " +
        s"got [${stream.columns.mkString(", ")}]")
    val clash = Seq("qv", "best", "cell", "dist").filter(stream.columns.contains)
    require(clash.isEmpty,
      s"StreamCentroidAssign: stream carries reserved output column(s) " +
        s"[${clash.mkString(", ")}] — rename them before assign()")
    val carried = stream.columns.filterNot(c => c == "embedding").toSeq
    stream
      .withColumn("qv", expr(SimilarityOps.KmeansQuantize))
      .crossJoin(broadcast(centroids))
      .selectExpr(carried ++ Seq("qv", SimilarityOps.KmeansBestExpr): _*)
      // KmeansCellGuard raise_errors on cell = -1: an EMPTY broadcast
      // centroid artifact (stale/truncated batch output) must fail the
      // batch, not silently route every vector to cell -1
      .selectExpr(carried ++ Seq(SimilarityOps.KmeansCellGuard, "best.dist AS dist"): _*)
  }

  /** Route-and-flag variant: adds `in_distribution` = (dist ≤ maxDist),
    * the cheap ingest-time outlier gate (a vector far from EVERY learned
    * cell is suspect — wrong modality, garbage decode, adversarial). */
  def assignFlagged(stream: DataFrame, centroids: DataFrame,
                    maxDist: Double): DataFrame =
    assign(stream, centroids)
      .withColumn("in_distribution", col("dist") <= maxDist)
}
