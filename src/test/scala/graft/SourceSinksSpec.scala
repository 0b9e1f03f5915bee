package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** The storage layouts graded queries land: q224's bucketed tables
  * (`SparkEntry.writeBucketed`) and q100's partitioned shard files. */
class SourceSinksSpec extends SparkSpec {
  import spark.implicits._

  private def events = Seq(
    (1L, "2024-01-01", 5L, 10.0), (2L, "2024-01-01", 6L, 200.0),
    (3L, "2024-01-02", 5L, 150.0), (4L, "2024-01-03", 7L, 20.0)
  ).toDF("event_id", "day", "user_id", "value")

  test("shard write round-trip: files on disk match the q100 manifest shard-by-shard") {
    // release integrity: q100's manifest is the bookkeeping twin of the
    // partitioned shard write — publish both, then verify each shard
    // DIRECTORY's actual rows against its manifest row (doc count, token
    // and char volume, id range), and that no unmanifested shard exists
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft_shards").toString
    graft.ops.PipelineOps.shardAssign(docs)
      .write.mode("overwrite").partitionBy("shard").parquet(dir)
    val manifest = graft.ops.PipelineOps.shardManifest(docs)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(manifest.nonEmpty)
    manifest.foreach { case (shard, nDocs, totTok, totChars, minId, maxId) =>
      val part = spark.read.parquet(s"$dir/shard=$shard")
      val (n, tok, chars, lo, hi) = part
        .agg(count(lit(1)), sum("n_tokens"), sum("n_chars"),
          min("doc_id"), max("doc_id"))
        .as[(Long, Long, Long, Long, Long)].head()
      assert((n, tok, chars, lo, hi) === ((nDocs, totTok, totChars, minId, maxId)),
        s"shard $shard files disagree with the manifest")
    }
    // the directory listing carries exactly the manifested shards
    val onDisk = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).toSet
    assert(onDisk === manifest.map(m => s"shard=${m._1}").toSet)
  }

  test("bucketed tables join with zero shuffle exchanges") {
    SparkEntry.writeBucketed(events.select("event_id", "user_id", "value"),
      "ev_bucketed", "user_id")
    SparkEntry.writeBucketed(Seq((5L, "alice"), (6L, "bob"), (7L, "carol"))
      .toDF("user_id", "name"), "users_bucketed", "user_id")
    val joined = spark.table("ev_bucketed")
      .join(spark.table("users_bucketed"), "user_id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected shuffle-free bucketed join:\n${plan.take(800)}")
    assert(joined.count() === 4)
  }

  test("q224 graded bucketed diff: the full-outer runs with ZERO shuffle exchanges and equals q212 row for row") {
    // the 100 TB reconciliation shape, now the graded query's own path:
    // both sides land bucketed on the natural key (SparkEntry's once-per-
    // corpus storage stage), so the diff's one corpus-scale full-outer
    // join is a co-partitioned sort-merge with no Exchange — the same
    // rows, without the shuffle the unbucketed q212 plan pays
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
    val want = graft.ops.ProfileOps.tableDiff(orders).collect().map(_.toSeq).toSeq
    val (a, b) = SparkEntry.bucketedDiffTables(spark, "/root/testdata/sf0.001")
    // plan guard on the corpus-scale stage (the shipped census checkpoints
    // the 4-row table, which truncates the visible plan — same discipline
    // as PlanShapeSpec's q212 guard)
    val j = graft.ops.ProfileOps.tableDiffJoined(a, b)
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed diff must join shuffle-free:\n${plan.take(1000)}")
    assert(plan.contains("SortMergeJoin") && plan.contains("FullOuter"),
      s"the diff must stay a co-partitioned sort-merge full-outer:\n${plan.take(1000)}")
    // the graded query returns EXACTLY q212's census (same oracle SQL)
    val got = SparkEntry.queries("q224_bucketed_diff")(spark, "/root/testdata/sf0.001")
      .collect().map(_.toSeq).toSeq
    assert(got === want, "bucketed census must equal the live q212 census")
  }

  test("q224 survives a STALE warehouse location: a prior session's table dir without a catalog entry must not kill the landing") {
    // the r15 quiet-bench failure: the in-memory catalog forgets managed
    // tables across sessions but their warehouse directories survive, and
    // saveAsTable then throws LOCATION_ALREADY_EXISTS. Simulate: drop the
    // tables (which removes dirs), recreate a bare stale directory with a
    // junk file, and re-land.
    val d = "/root/testdata/sf0.001"
    val tag = f"${d.hashCode & 0x7fffffff}%08x"
    spark.sql(s"DROP TABLE IF EXISTS graft_diff_a_$tag")
    spark.sql(s"DROP TABLE IF EXISTS graft_diff_b_$tag")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val stale = new java.io.File(wh, s"graft_diff_a_$tag")
    stale.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(stale, "leftover.parquet").toPath, "junk")
    val (a, b) = SparkEntry.bucketedDiffTables(spark, d)
    assert(a.count() > 0 && b.count() > 0,
      "landing over a stale location must recreate both tables")
  }
}
