package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Quantize

/** T49's serving twin: IVFADC queries answered in-flight against the
  * PUBLISHED index (an IndexSet snapshot's `pq` — fit once,
  * partition codes by cell, broadcast the 8 KB codebook).
  *
  * An ANN query is a per-request computation, not a continuous
  * aggregate — no watermark, no state: each micro-batch of arriving
  * probes is scored with the exact batch scorer (routing via the
  * broadcast coarse table, ROW-LOCAL native pq_lut, ADC over the
  * cell-pruned static code table, in-batch top-k window) and appended
  * to the sink — the upsertSink foreachBatch discipline. PqServeSpec
  * proves streamed top-k rows equal batch q147's ranking bit-for-bit
  * across any batch split of the probe set.
  */
object PqServe {

  /** arrivals: (probe_id bigint, pvec array<float>). Each arriving
    * probe's full top-k lands in the sink within its own micro-batch.
    *
    * `excludeSelf` defaults FALSE, mirroring Bm25Serve/HybridServe
    * (r16 ADVICE): a serve request's probe_id is an arbitrary request
    * identifier, so probeTopK's batch convention of dropping
    * vec_id == probe_id would silently lose a corpus vector from any
    * request whose id happens to collide with it. Pass true only when
    * the probes ARE corpus vectors (the T6 parity convention).
    */
  def serve(arrivals: DataFrame, idx: Quantize.PqIndex,
      sinkDir: String, excludeSelf: Boolean = false): StreamingQuery =
    arrivals.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        Quantize.probeTopK(batch, idx, excludeSelf)
          .write.mode("append").parquet(sinkDir)
      }
      .start()
}
