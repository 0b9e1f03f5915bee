package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{PipelineOps, SimilarityOps}

/** Ingest-time CLUSTER-BALANCED SAMPLING — the streaming application of the
  * q107 dial, completing the batch-trains / stream-applies pair the engine
  * has for k-means routing ([[StreamCentroidAssign]]), BPE (q79), and the
  * quality model ([[StreamQualityScore]]): a batch job computes the bounded
  * per-cell dial ([[SimilarityOps.cellSampleDial]]'s ≤ k (cell, cut)
  * entries) over the standing corpus, and every arriving vector is then
  * admitted or shed ROW-LOCALLY against it. Chained after
  * [[StreamCentroidAssign]] this is topic-aware ingest admission: the
  * crawl-dominant cell is shed at its batch-computed rate while rare-topic
  * vectors pass untouched — backpressure that preserves diversity instead
  * of dropping uniformly.
  *
  * The keep rule is the SAME replay-safe 48-bit md5 threshold the batch
  * sampler applies (one shared cut definition), so the stream verdict for
  * any vector is bit-equal to the batch sample's membership — spec-proven.
  * A vector routed to a cell the dial never saw (a cell empty at batch
  * time) is KEPT: an unseen cell has spare budget under equal allocation,
  * and silently shedding novel topics is the failure mode this sampler
  * exists to prevent. Stateless — no state store, no watermark, no
  * shuffle; the dial is a ≤ k-entry map literal in the plan. */
object StreamCellSample {

  /** Flag each arriving (vec_id, cell, ...) row with `keep` — the caller
    * routes or filters. `cuts` is the (cell, cut) pairs of
    * [[SimilarityOps.cellSampleDial]], collected. Emits every input column plus `u` (the replay-safe draw)
    * and `keep`. */
  def flag(stream: DataFrame, cuts: Seq[(Long, Long)]): DataFrame = {
    require(cuts.nonEmpty, "StreamCellSample: empty dial artifact — " +
      "rebuild it from a non-empty batch assignment")
    val missing = Seq("vec_id", "cell").filterNot(stream.columns.contains)
    require(missing.isEmpty,
      s"StreamCellSample: stream must carry [${missing.mkString(", ")}]; " +
        s"got [${stream.columns.mkString(", ")}]")
    val clash = Seq("u", "cut_q", "keep").filter(stream.columns.contains)
    require(clash.isEmpty,
      s"StreamCellSample: stream carries reserved output column(s) " +
        s"[${clash.mkString(", ")}] — rename them before flag()")
    val sorted = cuts.sortBy(_._1)
    val mapExpr = s"map_from_arrays(" +
      s"array(${sorted.map(_._1).mkString("L,")}L), " +
      s"array(${sorted.map(_._2).mkString("L,")}L))"
    stream
      .withColumn("u", PipelineOps.md5Prefix48(col("vec_id")))
      // unknown cell → no cut → full 2^48 budget (keep)
      .withColumn("cut_q",
        expr(s"COALESCE(element_at($mapExpr, cell), ${PipelineOps.TwoPow48}L)"))
      .withColumn("keep", col("u") < col("cut_q"))
      .drop("cut_q")
  }

  /** Admission variant: only the kept rows flow on. */
  def admit(stream: DataFrame, cuts: Seq[(Long, Long)]): DataFrame =
    flag(stream, cuts).filter(col("keep")).drop("keep")
}
