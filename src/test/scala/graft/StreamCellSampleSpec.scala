package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.ops.SimilarityOps
import graft.streaming.StreamCellSample

object StreamCellSampleSpec {
  /** q107's dial collapsed to the (cell → cut) literal the streaming
    * sampler embeds in its plan; bounded by k, the cell id space. */
  def cellSampleCuts(assign: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    SimilarityOps.cellSampleDial(assign).select("cell", "cut")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
}

class StreamCellSampleSpec extends SparkSpec {
  import spark.implicits._

  test("in-flight cell sampling is bit-equal to the batch q107 membership") {
    implicit val sc = spark.sqlContext
    val embT = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val assign = SimilarityOps.kmeans(embT).select("vec_id", "cell")
    // batch-compute once, persist the bounded dial artifact
    val cuts = StreamCellSampleSpec.cellSampleCuts(assign)
    assert(cuts.nonEmpty && cuts.size <= SimilarityOps.KmeansK)
    val batchKept = SimilarityOps.cellBalancedSample(assign)
      .select("vec_id").as[Long].collect().toSet

    val mem = MemoryStream[(Long, Long)]
    val out = StreamCellSample.flag(mem.toDF().toDF("vec_id", "cell"), cuts)
    val q = out.writeStream.format("memory").queryName("cell_sample")
      .outputMode("append").start()
    try {
      mem.addData(assign.as[(Long, Long)].collect().toSeq: _*)
      q.processAllAvailable()
      val got = spark.table("cell_sample").collect().map { r =>
        r.getLong(r.fieldIndex("vec_id")) -> r.getBoolean(r.fieldIndex("keep"))
      }.toMap
      assert(got.size.toLong === assign.count())
      // the shared cut definition makes the stream verdict the batch
      // membership, vector by vector
      assert(got.filter(_._2).keySet === batchKept)
      assert(got.exists(_._2) && got.exists(!_._2))
    } finally q.stop()
  }

  test("a cell the dial never saw is kept (spare budget, not silent shed)") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    // dial knows only cell 0, with a cut of 0 (shed everything known)
    val out = StreamCellSample.flag(mem.toDF().toDF("vec_id", "cell"),
      Seq((0L, 0L)))
    val q = out.writeStream.format("memory").queryName("cell_sample_unseen")
      .outputMode("append").start()
    try {
      mem.addData((1L, 0L), (2L, 99L))
      q.processAllAvailable()
      val got = spark.table("cell_sample_unseen").collect().map { r =>
        r.getLong(r.fieldIndex("vec_id")) -> r.getBoolean(r.fieldIndex("keep"))
      }.toMap
      assert(got === Map(1L -> false, 2L -> true))
    } finally q.stop()
  }

  test("artifact and stream shapes are validated loudly; admit filters") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val df = mem.toDF().toDF("vec_id", "cell")
    val e1 = intercept[IllegalArgumentException] {
      StreamCellSample.flag(df, Seq.empty)
    }
    assert(e1.getMessage.contains("empty dial"))
    val e2 = intercept[IllegalArgumentException] {
      StreamCellSample.flag(mem.toDF().toDF("vec_id", "bucket"), Seq((0L, 1L)))
    }
    assert(e2.getMessage.contains("cell"))
    val e3 = intercept[IllegalArgumentException] {
      StreamCellSample.flag(mem.toDF().toDF("vec_id", "cell")
        .withColumn("keep", org.apache.spark.sql.functions.lit(true)),
        Seq((0L, 1L)))
    }
    assert(e3.getMessage.contains("reserved"))
    // admit() drops the shed rows and the keep column
    val q = StreamCellSample.admit(df, Seq((0L, 0L)))
      .writeStream.format("memory").queryName("cell_sample_admit")
      .outputMode("append").start()
    try {
      mem.addData((1L, 0L), (2L, 7L))
      q.processAllAvailable()
      val rows = spark.table("cell_sample_admit").collect()
      assert(rows.map(_.getLong(0)).toSet === Set(2L))
      assert(!rows.head.schema.fieldNames.contains("keep"))
    } finally q.stop()
  }
}
