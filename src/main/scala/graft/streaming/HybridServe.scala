package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Quantize, Retrieval}

/** T51's serving capstone (r15 verdict next-round #3): hybrid search
  * answered per request from the TWO published indexes — each arriving
  * (query_id, text, pvec) request is BM25-scored against the published
  * inverted index (Retrieval.loadBm25), ANN-scored against the
  * published IVFADC index (Quantize.loadIndex), and the two rank lists
  * fuse through the same retriever-agnostic `fuseRrf` that q149's
  * oracle-checked batch fusion runs. q149 fuses two self-contained
  * batch queries; this is the production shape — fit once, publish
  * both artifacts, fuse in rank space per micro-batch, no score
  * calibration across retrievers (Cormack et al., SIGIR 2009).
  *
  * Stateless per-request computation like Bm25Serve/PqServe: no
  * watermark, no state; each micro-batch's fused top-k lands in the
  * sink within its own batch. HybridServeSpec proves streamed fused
  * rows equal the batch composition bit-for-bit across a batch split.
  *
  * Scale shape per batch: the BM25 side reads ≤ |vocab| of the
  * TermBuckets posting partitions (tb partition pruning + in-file term
  * sort); the ANN side reads nprobe cells of the cell-partitioned
  * codes; both broadcast only request-sized state. The fusion runs over
  * two ≤ requests·TopK rank lists — floor cost at any corpus size (on
  * Spark in [[fused]], on the driver in [[fusedWithContent]]).
  */
object HybridServe {

  /** The batch composition (also the spec's ground truth): fused top-k
    * for a static (query_id, text, pvec) request frame. `excludeSelf`
    * applies to BOTH retrievers symmetrically — false for production
    * request ids, true when requests are corpus docs (the parity
    * convention).
    */
  def fused(requests: DataFrame, lex: Retrieval.Bm25Index,
      sem: Quantize.PqIndex, excludeSelf: Boolean = false): DataFrame =
    Retrieval.fuseRrf(lexList(requests, lex, excludeSelf),
      semList(requests, sem, excludeSelf))

  /** The BM25 rank list (query_id, cand_id, rk_lex). */
  private def lexList(requests: DataFrame, lex: Retrieval.Bm25Index,
      excludeSelf: Boolean): DataFrame =
    Retrieval.scoreQueries(requests.select("query_id", "text"), lex, excludeSelf)
      .select(col("query_id"), col("doc_id").as("cand_id"), col("rk").as("rk_lex"))

  /** The IVFADC rank list (query_id, cand_id, rk_sem). */
  private def semList(requests: DataFrame, sem: Quantize.PqIndex,
      excludeSelf: Boolean): DataFrame =
    Quantize.probeTopK(
      requests.select(col("query_id").as("probe_id"), col("pvec")),
      sem, excludeSelf)
      .select(col("probe_id").as("query_id"), col("vec_id").as("cand_id"),
        col("rk").as("rk_sem"))

  def serve(arrivals: DataFrame, lex: Retrieval.Bm25Index,
      sem: Quantize.PqIndex, sinkDir: String,
      excludeSelf: Boolean = false): StreamingQuery =
    arrivals.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        fused(batch, lex, sem, excludeSelf)
          .write.mode("append").parquet(sinkDir)
      }
      .start()

  /** Version-consistent fusion (r16 verdict #1): both retrievers come
    * from ONE [[graft.operators.IndexSet.HybridSnapshot]] — a single
    * manifest resolution — so the fused ranking can never straddle two
    * corpus versions. Because a snapshot's segments are immutable, the
    * pinned version keeps serving bit-identically even while appends,
    * deletes, or compactions commit beside it (IndexSetSpec).
    */
  def fusedFromSnapshot(requests: DataFrame,
      snap: graft.operators.IndexSet.HybridSnapshot,
      excludeSelf: Boolean = false): DataFrame =
    fused(requests, snap.bm25, snap.pq, excludeSelf)
      .withColumn("corpus_version", lit(snap.manifest.corpusVersion))

  /** Streamed form: the snapshot is resolved ONCE by the caller, before
    * the stream starts — every micro-batch serves the same pinned
    * corpus version (stamped on each output row), by construction.
    */
  def serveSnapshot(arrivals: DataFrame,
      snap: graft.operators.IndexSet.HybridSnapshot, sinkDir: String,
      excludeSelf: Boolean = false): StreamingQuery =
    arrivals.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        fusedFromSnapshot(batch, snap, excludeSelf)
          .write.mode("append").parquet(sinkDir)
      }
      .start()

  /** Retrieve→FETCH composed (r16 verdict #3): the production RAG shape
    * returns fused top-k WITH the documents' content in the same
    * micro-batch, not ids for a second round-trip. Everything after the
    * two retrievers is request-sized (≤ requests · TopK rows per list),
    * so a batch runs three eager steps and no shuffle of its own — 11
    * Spark jobs on a published index set, where a Spark-side fusion and
    * content join took 17 (HybridServeSpec pins the bound):
    *
    *   1. scoreQueries' map-only term collect (one job);
    *   2. ONE collect of both rank lists — a source-tagged union of the
    *      BM25 and IVFADC frames, `excludeSelf` applied to both — fused
    *      on the driver by [[fuseLocal]], the exact twin of
    *      Retrieval.fuseRrf (which q149 and [[fusedFromSnapshot]] keep
    *      running on Spark as the reference);
    *   3. ONE IndexSet.fetchDocs collect, whose read prunes to the ids'
    *      db partition dirs (≤ k directories opened per batch at any
    *      corpus size), left-joined to the fused rows on the driver.
    *
    * The result re-enters as a LocalRelation of (query_id, rk, cand_id,
    * rrf_u, rk_lex, rk_sem, corpus_version, text), ordered by
    * (query_id, rk). `text` is null for a ranked candidate absent from
    * the doc store (a vector-only corpus member); a doc stored twice
    * yields its candidate twice, as the join would.
    */
  def fusedWithContent(requests: DataFrame,
      snap: graft.operators.IndexSet.HybridSnapshot,
      excludeSelf: Boolean = false): DataFrame = {
    val lists = lexList(requests, snap.bm25, excludeSelf)
      .select(col("query_id").cast(LongType), col("cand_id"), col("rk_lex"),
        lit(true).as("is_lex"))
      .union(semList(requests, snap.pq, excludeSelf)
        .select(col("query_id").cast(LongType), col("cand_id"), col("rk_sem"),
          lit(false)))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val top = fuseLocal(lists)
    val ids = top.map(_.candId).distinct
    val texts: Map[Long, Seq[String]] =
      if (ids.isEmpty) Map.empty
      else graft.operators.IndexSet.fetchDocs(snap, ids).collect().toSeq
        .groupMap(_.getLong(0))(_.getString(1))
    val version = snap.manifest.corpusVersion
    val out = for {
      f <- top
      text <- texts.getOrElse(f.candId, Seq(null))
    } yield Row(f.queryId, f.rk, f.candId, f.rrfU, f.rkLex.map(Long.box).orNull,
      f.rkSem.map(Long.box).orNull, version, text)
    snap.docs.sparkSession.createDataFrame(java.util.Arrays.asList(out: _*),
      ContentSchema)
  }

  private val ContentSchema = StructType(
    Seq("query_id", "rk", "cand_id", "rrf_u", "rk_lex", "rk_sem", "corpus_version")
      .map(StructField(_, LongType)) :+ StructField("text", StringType))

  private final case class Fused(queryId: Long, rk: Long,
      candId: Long, rrfU: Long, rkLex: Option[Long], rkSem: Option[Long])

  /** Driver twin of Retrieval.fuseRrf over collected (query_id, cand_id,
    * rk, is_lex) rank-list rows: the full outer join on (query_id,
    * cand_id) with its multiplicity (every lexical × semantic pairing,
    * a missing side null and contributing 0), rrf_u from
    * Retrieval.rrfUnits, and per query the first TopK by (rrf_u DESC,
    * cand_id ASC), ranked from 1 — ordered by (query_id, rk).
    */
  private def fuseLocal(lists: Seq[(Long, Long, Long, Boolean)]): Seq[Fused] = {
    def units(rk: Option[Long]) = rk.fold(0L)(Retrieval.rrfUnits)
    lists.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (q, rows) =>
      rows.groupBy(_._2).toSeq.flatMap { case (c, rs) =>
        def side(lex: Boolean): Seq[Option[Long]] = {
          val rks = rs.collect { case (_, _, rk, `lex`) => Some(rk) }
          if (rks.isEmpty) Seq(None) else rks
        }
        for (l <- side(true); x <- side(false)) yield (c, l, x, units(l) + units(x))
      }.sortBy { case (c, _, _, u) => (-u, c) }.take(Retrieval.TopK).zipWithIndex
        .map { case ((c, l, x, u), i) => Fused(q, i + 1L, c, u, l, x) }
    }
  }

  /** Streamed retrieve→fetch: each arriving request's fused top-k lands
    * in the sink WITH content, within its own micro-batch, from the one
    * pinned snapshot.
    */
  def serveSnapshotWithContent(arrivals: DataFrame,
      snap: graft.operators.IndexSet.HybridSnapshot, sinkDir: String,
      excludeSelf: Boolean = false): StreamingQuery =
    arrivals.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        fusedWithContent(batch, snap, excludeSelf)
          .write.mode("append").parquet(sinkDir)
      }
      .start()
}
