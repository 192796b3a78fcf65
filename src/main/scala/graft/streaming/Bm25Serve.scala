package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Retrieval

/** T50's serving twin: BM25 queries answered in-flight against the
  * PUBLISHED inverted index (an IndexSet snapshot's `bm25` — fit
  * once, term stats frozen per version). Like PqServe, a search query
  * is a per-request computation — no watermark, no state: each
  * micro-batch of arriving (query_id, text) requests is scored with
  * the exact batch scorer (query-vocabulary broadcast prune onto the
  * static postings, same micro-unit expression tree, in-batch top-k)
  * and appended to the sink. RetrievalSpec proves streamed top-k rows
  * equal batch q148 bit-for-bit across any batch split.
  */
object Bm25Serve {

  /** `excludeSelf` defaults FALSE: serve-time query_ids are request
    * identifiers, not corpus doc_ids (Retrieval.scoreQueries's note) —
    * the batch-parity spec passes true because its queries ARE corpus
    * docs by the T6 convention.
    */
  def serve(arrivals: DataFrame, idx: Retrieval.Bm25Index,
      sinkDir: String, excludeSelf: Boolean = false): StreamingQuery =
    arrivals.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        Retrieval.scoreQueries(batch, idx, excludeSelf)
          .write.mode("append").parquet(sinkDir)
      }
      .start()
}
