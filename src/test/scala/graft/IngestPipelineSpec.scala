package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ops.{SimilarityOps, TextOps}
import graft.streaming.IngestPipeline

class IngestPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Tables.embeddings(spark, "/root/testdata/sf0.001")

  // the arriving docs: one PII-laden eval dup, one clean eval dup (word
  // order shuffled — bag-of-words canonicalization must still match), one
  // clean novel doc; embeddings are rows of the standing corpus so the
  // routed cells are checkable against the batch q87 assignment
  private def arrivals(embs: Map[Long, Seq[Float]]) = Seq(
    (0L, "leaked eval question mail bob@x.org now", embs(0L)),
    (1L, "totally novel ingest content", embs(1L)),
    (2L, "question eval leaked", embs(2L)))

  private def evalDocs = Seq(
    (100L, "leaked eval question mail bob@x.org now"),
    (101L, "eval question leaked")).toDF("doc_id", "text")

  test("scrub → guard → route: one chained pass masks, flags, and routes") {
    implicit val sc = spark.sqlContext
    val embs = corpus.limit(3).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val cents = StreamCentroidAssignSpec.kmeansCentroids(corpus)
    val batchCells = SimilarityOps.kmeans(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    val mem = MemoryStream[(Long, String, Seq[Float])]
    val out = IngestPipeline.ingest(
      mem.toDF().toDF("doc_id", "text", "embedding"), evalDocs, cents)
    val q = out.writeStream.format("memory").queryName("ingest_chain")
      .outputMode("append").start()
    try {
      mem.addData(arrivals(embs): _*)
      q.processAllAvailable()
      val got = spark.table("ingest_chain").collect().map { r =>
        r.getLong(r.fieldIndex("doc_id")) -> (
          r.getString(r.fieldIndex("text")),
          r.getLong(r.fieldIndex("n_pii")),
          r.getBoolean(r.fieldIndex("contaminated")),
          r.getLong(r.fieldIndex("cell")))
      }.toMap
      assert(got.size === 3)
      // stage 1: the PII doc is masked in flight, counts flag the volume
      assert(got(0L)._1 === "leaked eval question mail <EMAIL> now")
      assert(got(0L)._2 === 1L && got(1L)._2 === 0L)
      // stage 2: both eval dups flag — including the PII one (the eval
      // side is canonicalized through the same scrub) and the reordered
      // one (bag-of-words fingerprint); the novel doc does not
      assert(got(0L)._3 && got(2L)._3 && !got(1L)._3)
      // stage 3: routed cells equal the batch q87 assignment
      (0L to 2L).foreach(id => assert(got(id)._4 === batchCells(id),
        s"stream/batch routing drift for doc $id"))
    } finally q.stop()
  }

  test("chained output is bit-equal to composing the batch twins") {
    val embs = corpus.limit(3).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val cents = StreamCentroidAssignSpec.kmeansCentroids(corpus)
    val in = arrivals(embs).toDF("doc_id", "text", "embedding")

    // batch composition of the shared expressions: q86 redact chain →
    // q65 bag-of-words fingerprint semi against the scrubbed eval side →
    // q87 argmin fold against the same centroid artifact
    val scrubbedEval = evalDocs
      .withColumn("text", expr(TextOps.piiRedact("text")))
      .selectExpr(s"${TextOps.BowFpExpr} AS fp")
    val batch = in
      .withColumn("text", expr(TextOps.piiRedact("text")))
      .withColumn("fp", expr(TextOps.BowFpExpr))
      .join(broadcast(scrubbedEval.withColumn("c", lit(true))), Seq("fp"), "left")
      .withColumn("contaminated", coalesce(col("c"), lit(false)))
      .withColumn("qv", expr(SimilarityOps.KmeansQuantize))
      .crossJoin(broadcast(cents))
      .selectExpr("doc_id", "text", "contaminated", SimilarityOps.KmeansBestExpr)
      .selectExpr("doc_id", "text", "contaminated",
        "best.cell AS cell", "best.dist AS dist")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getBoolean(2), r.getLong(3), r.getDouble(4))).toMap

    val chained = IngestPipeline.ingest(in, evalDocs, cents)
      .collect().map { r =>
        r.getLong(r.fieldIndex("doc_id")) -> (
          r.getString(r.fieldIndex("text")),
          r.getBoolean(r.fieldIndex("contaminated")),
          r.getLong(r.fieldIndex("cell")),
          r.getDouble(r.fieldIndex("dist")))
      }.toMap
    assert(chained === batch)
  }
}
