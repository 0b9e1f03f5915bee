package graft.streaming

import org.apache.spark.sql.DataFrame

/** THE documented ingest chain — what a training-corpus ingest job runs on
  * every arriving document batch, composing the three spec-proven stages
  * in their required order:
  *
  *   scrub ([[StreamPiiScrub]]) → guard ([[IngestGuard.contaminationFlag]])
  *     → route ([[StreamCentroidAssign]])
  *
  * The order is load-bearing:
  *  1. PII is masked FIRST, so no derived artifact downstream — the
  *     contamination fingerprint, the routed copy, the landed row — can
  *     ever capture a raw identifier (the compliance property the batch
  *     q86 cannot give once bytes have landed);
  *  2. the contamination verdict is computed on the scrubbed canonical
  *     text — the SAME text the corpus will store, so the flag refers to
  *     what actually lands;
  *  3. centroid routing runs LAST, so even flagged docs carry their cell
  *     — quarantine-by-cluster is how an eval-leak burst is traced to a
  *     crawler source.
  *
  * Scale contract: all three stages are stateless and row-local against
  * BROADCAST reference artifacts a scheduled batch job refreshes (the
  * eval fingerprint table, the one-row k-means centroid state). No
  * shuffle, no watermark, no streaming state store anywhere in the chain:
  * steady-state throughput is codegen'd map throughput, and the chain
  * restarts from any offset with no state recovery. The near-dup guard
  * ([[IngestGuard.nearDupGuard]]) stays a SIDE output by design — it is
  * the one stage with streaming state (watermarked pair dedup), so fusing
  * it into the landing path would couple the corpus write to state-store
  * health; a real deployment tees it off the scrubbed stream. The quality
  * gate ([[StreamQualityGate]] — q61's stateless row-local twin) composes
  * the same way for streams that carry a `lang` column: insert it after
  * scrub, so the verdict scores the canonical text that lands.
  *
  * Batch parity: each stage shares its expressions with its batch twin
  * (q86's redact chain, q65's fingerprint recipe, q87's argmin fold), so
  * the chained output is bit-equal to composing the batch operators —
  * `IngestPipelineSpec` proves it end-to-end. */
object IngestPipeline {

  /** Run the full chain over an arriving stream carrying at least
    * (`textCol`, `embedding`) columns. Emits every input row with:
    * `textCol` scrubbed, `n_pii` (masked-identifier count), `contaminated`
    * (eval-set leak flag), `cell` + `dist` (nearest learned centroid).
    * `evalDocs` must carry `text`; `centroids` is the one-row centroid
    * artifact [[StreamCentroidAssign.assign]] reads. */
  def ingest(stream: DataFrame, evalDocs: DataFrame, centroids: DataFrame,
             textCol: String = "text"): DataFrame =
    StreamCentroidAssign.assign(
      IngestGuard.contaminationFlag(
        StreamPiiScrub.scrub(stream, textCol),
        // the eval side goes through the SAME redact chain, so both
        // fingerprints are over canonical scrubbed text — an eval doc
        // containing a PII pattern must still match its scrubbed arrival
        evalDocs.withColumn("text",
          org.apache.spark.sql.functions.expr(graft.ops.TextOps.piiRedact("text")))),
      centroids)
}
