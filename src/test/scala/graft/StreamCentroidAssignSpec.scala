package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.ops.SimilarityOps
import graft.streaming.StreamCentroidAssign

object StreamCentroidAssignSpec {
  /** The centroid state the final q87 [[SimilarityOps.kmeans]] assignment
    * used: the one-row (k × D integer sums + counts) artifact a batch job
    * persists for ingest-time routing. */
  def kmeansCentroids(emb: DataFrame, k: Int = SimilarityOps.KmeansK,
                      rounds: Int = SimilarityOps.KmeansRounds): DataFrame =
    SimilarityOps.kmCents(SimilarityOps.kmRounds(SimilarityOps.kmVq(emb), k, rounds - 1))
}

class StreamCentroidAssignSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Tables.embeddings(spark, "/root/testdata/sf0.001")

  test("stream assignment equals the batch q87 assignment on the same vectors") {
    implicit val sc = spark.sqlContext
    val cents = StreamCentroidAssignSpec.kmeansCentroids(corpus)
    val batch = SimilarityOps.kmeans(corpus).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap

    val rows = corpus.limit(20).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val mem = MemoryStream[(Long, Seq[Float])]
    val out = StreamCentroidAssign.assign(
      mem.toDF().toDF("vec_id", "embedding"), cents)
    val q = out.writeStream.format("memory").queryName("cent_assign")
      .outputMode("append").start()
    try {
      mem.addData(rows.toSeq: _*)
      q.processAllAvailable()
      val got = spark.table("cent_assign").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
      assert(got.size === 20)
      got.foreach { case (id, cd) =>
        assert(cd === batch(id), s"stream/batch drift for vec $id")
      }
    } finally q.stop()
  }

  test("outlier flag: far-from-every-cell vectors are marked out of distribution") {
    implicit val sc = spark.sqlContext
    val cents = StreamCentroidAssignSpec.kmeansCentroids(corpus)
    val inlier = corpus.limit(1).collect()(0).getSeq[Float](1)
    val outlier = Seq.fill(64)(99.0f) // nowhere near the unit-ish corpus
    val mem = MemoryStream[(Long, Seq[Float])]
    val out = StreamCentroidAssign.assignFlagged(
      mem.toDF().toDF("vec_id", "embedding"), cents, maxDist = 1e9)
    val q = out.writeStream.format("memory").queryName("cent_flag")
      .outputMode("append").start()
    try {
      mem.addData((100L, inlier), (101L, outlier))
      q.processAllAvailable()
      val got = spark.table("cent_flag").collect()
        .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
      assert(got(100L), "corpus vector flagged as outlier")
      assert(!got(101L), "far vector not flagged")
    } finally q.stop()
  }

  test("assign rejects a stream without an embedding column, or with reserved names") {
    val cents = StreamCentroidAssignSpec.kmeansCentroids(corpus)
    val noEmb = Seq((1L, "x")).toDF("vec_id", "payload")
    val e1 = intercept[IllegalArgumentException] {
      StreamCentroidAssign.assign(noEmb, cents)
    }
    assert(e1.getMessage.contains("embedding"))
    val clash = Seq((1L, Seq(0.1f), 9L)).toDF("vec_id", "embedding", "cell")
    val e2 = intercept[IllegalArgumentException] {
      StreamCentroidAssign.assign(clash, cents)
    }
    assert(e2.getMessage.contains("cell"))
  }

  test("assign fails loudly on an EMPTY centroid artifact instead of routing to cell -1") {
    // the stale/truncated-batch-artifact failure: centroids exist as a
    // one-row table whose cents array is empty (kmeansCentroids of an
    // empty corpus) — every vector would silently land in cell -1
    val emptyCorpus = Seq.empty[(Long, Seq[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    val emptyCents = StreamCentroidAssignSpec.kmeansCentroids(emptyCorpus)
    val batch = corpus.limit(3).select("vec_id", "embedding")
    val e = intercept[Exception] {
      StreamCentroidAssign.assign(batch, emptyCents).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("empty centroid state")), s"wrong failure: $e")
  }
}
