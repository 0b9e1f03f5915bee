package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.PipelineOps

/** Ingest-time SHARD ROUTING — the streaming counterpart of the q100
  * manifest: every arriving admitted document is dealt to its release
  * shard by the SAME stateless md5-bucket rule the batch manifest and the
  * batch partitioned writer key on ([[PipelineOps.shardAssign]] — one rule,
  * one definition, so the files a stream lands and the manifest a batch
  * job publishes can never disagree; `StreamShardWriterSpec` re-runs the
  * q100 round-trip check against the STREAMED directory).
  *
  * Write protocol: started by [[BatchSink]], each micro-batch stamped
  * with its batch_id and written shard-first under `shard=K/batch_id=N/`
  * — a batch re-delivered after a failure replaces exactly its own
  * (shard, batch_id) leaves instead of duplicating ([[BatchSink.write]]'s
  * idempotency, extended to a shard-first layout so a release loader
  * reads `shard=K/` directly). Readers see ONE table (`spark.read.parquet`)
  * with `shard` the partition column a release loader prunes on and
  * `batch_id` bookkeeping they ignore.
  *
  * 100 TB shape: the shard deal is a ROW-LOCAL md5 fold — no shuffle, no
  * state store, no watermark; each executor writes its own rows into
  * per-shard files, so the chain stays linear in executors. File-count
  * growth is bounded per micro-batch by tasks × touched-shards; the
  * batch_id leaves keep re-delivery idempotent AND give a compactor
  * natural work units (rewrite a shard's closed batch_id leaves into one
  * file without touching the live tail). */
object StreamShardWriter {

  /** Row-local shard routing for a stream carrying `doc_id` and `text`:
    * emits every input column plus `n_tokens` and `shard` (the
    * [[PipelineOps.shardAssign]] rule). A NULL doc_id cannot be dealt —
    * md5(NULL) is NULL and the row would land in Hive's default-partition
    * limbo outside every manifest row — so it fails the micro-batch
    * loudly (the StreamQualityScore malformed-arrival contract; null keys
    * are q119's census to count upstream). */
  def route(stream: DataFrame, nShards: Int = 16): DataFrame = {
    require(stream.columns.contains("doc_id") && stream.columns.contains("text"),
      s"StreamShardWriter: stream must carry 'doc_id' and 'text'; " +
        s"got [${stream.columns.mkString(", ")}]")
    val clash = Seq("n_tokens", "shard", "batch_id").filter(stream.columns.contains)
    require(clash.isEmpty,
      s"StreamShardWriter: stream carries reserved output column(s) " +
        s"[${clash.mkString(", ")}] — rename them before route()")
    stream
      .withColumn("doc_id", expr(
        """CASE WHEN doc_id IS NULL
                THEN CAST(raise_error('StreamShardWriter: null doc_id arrival — an unkeyed row cannot be dealt to a shard; scrub ids upstream') AS BIGINT)
                ELSE doc_id END"""))
      .withColumn("n_tokens", expr("CAST(size(split(text, ' ')) AS BIGINT)"))
      .withColumn("shard", PipelineOps.md5Bucket(col("doc_id")) % nShards)
  }

  /** Start the sink: routed rows appended under `path/shard=K/batch_id=N`,
    * idempotent per micro-batch (dynamic overwrite of exactly the leaves
    * the batch touches). */
  def start(stream: DataFrame, path: String, checkpoint: String,
            nShards: Int = 16): StreamingQuery =
    BatchSink.start(route(stream, nShards), checkpoint) { (batch, batchId) =>
      batch.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("shard", "batch_id")
        .parquet(path)
    }
}
