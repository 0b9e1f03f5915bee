package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.ops.QualityModelOps
import graft.streaming.StreamQualityScore

object StreamQualityScoreSpec {
  /** The trained q101 model as the bounded artifact a pipeline persists:
    * the [[QualityModelOps.NumBuckets]] guarded micro weights and the bias. */
  def bucketWeightsMicro(docs: DataFrame): (Array[Long], Long) = {
    val m = QualityModelOps.modelTables(docs, None, QualityModelOps.featureRows(docs))
    (m.weights.orderBy("fb").collect().map(_.getLong(1)), m.bias.collect().head.getLong(0))
  }
}

class StreamQualityScoreSpec extends SparkSpec {
  import spark.implicits._

  test("in-flight model score is integer-equal to the batch q101 score, corpus-wide") {
    implicit val sc = spark.sqlContext
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // batch-train once, persist the bounded artifact
    val (w, bias) = StreamQualityScoreSpec.bucketWeightsMicro(docs)
    assert(w.length === QualityModelOps.NumBuckets)
    val batch = QualityModelOps.qualityClassifier(docs)
      .select("doc_id", "n_feats", "score_micro", "pred")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap

    val mem = MemoryStream[(Long, String, String)]
    val out = StreamQualityScore.score(
      mem.toDF().toDF("doc_id", "text", "lang"), w.toSeq, bias)
    val q = out.writeStream.format("memory").queryName("quality_score")
      .outputMode("append").start()
    try {
      mem.addData(docs.select("doc_id", "text", "lang")
        .as[(Long, String, String)].collect().toSeq: _*)
      q.processAllAvailable()
      val got = spark.table("quality_score").collect().map { r =>
        r.getLong(r.fieldIndex("doc_id")) -> (
          r.getLong(r.fieldIndex("n_feats")),
          r.getLong(r.fieldIndex("score_micro")),
          r.getBoolean(r.fieldIndex("pred")))
      }.toMap
      assert(got.keySet === batch.keySet)
      // the pre-tabulated per-bucket weight equals q101's per-occurrence
      // guarded rounding, so the EXACT integer score must match per doc
      got.foreach { case (id, row) => assert(row === batch(id), s"doc $id drifted") }
      assert(got.values.exists(_._3) && got.values.exists(!_._3))
    } finally q.stop()
  }

  test("artifact and stream shapes are validated loudly") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    val df = mem.toDF().toDF("doc_id", "text", "lang")
    // truncated artifact
    val e1 = intercept[IllegalArgumentException] {
      StreamQualityScore.score(df, Seq(1L, 2L), 0L)
    }
    assert(e1.getMessage.contains("bucket"))
    // missing lang column
    val mem2 = MemoryStream[(Long, String)]
    val e2 = intercept[IllegalArgumentException] {
      StreamQualityScore.score(mem2.toDF().toDF("doc_id", "text"),
        Seq.fill(QualityModelOps.NumBuckets)(0L), 0L)
    }
    assert(e2.getMessage.contains("lang"))
    // reserved output column clash
    val mem3 = MemoryStream[(Long, String, String, Long)]
    val e3 = intercept[IllegalArgumentException] {
      StreamQualityScore.score(
        mem3.toDF().toDF("doc_id", "text", "lang", "score_micro"),
        Seq.fill(QualityModelOps.NumBuckets)(0L), 0L)
    }
    assert(e3.getMessage.contains("reserved"))
  }

  test("a null-lang arrival fails the micro-batch loudly, never a silent NULL score") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String, Option[String])]
    val out = StreamQualityScore.score(
      mem.toDF().toDF("doc_id", "text", "lang"),
      Seq.fill(QualityModelOps.NumBuckets)(0L), 0L)
    val q = out.writeStream.format("memory").queryName("quality_score_nulllang")
      .outputMode("append").start()
    try {
      mem.addData((1L, "some body text", None))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(ex).exists(t =>
        Option(t.getMessage).exists(_.contains("null text/lang arrival"))), ex)
    } finally q.stop()
  }
}
