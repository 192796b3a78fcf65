package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{IndexSet, Quantize, Retrieval}
import graft.streaming.HybridServe

/** The hybrid-serve capstone: requests answered from the two indexes
  * of a PUBLISHED index set and fused in rank space. Legs: (1) the streamed fused top-k
  * equals the batch composition bit-for-bit across a batch split; (2)
  * the batch composition recomputes from its two per-retriever rank
  * lists (the q149 RRF check applied to the serve path); (3) both sides
  * genuinely contribute; (4) the driver-fused content path equals the
  * Spark composition on every column, and stays within its job budget.
  */
class HybridServeSpec extends GraftSpec {

  case class Req(query_id: Long, text: String, pvec: Seq[Float])

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(s"graft_$name").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  // requests = corpus docs joined to their embeddings (doc_id and
  // vec_id enumerate the same 0..n-1 space per the q149 convention)
  private def requests = Tables.documents(spark, sfDir)
    .filter(col("doc_id") < Retrieval.NumQueries)
    .select(col("doc_id").as("query_id"), col("text"))
    .join(Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("query_id"), col("embedding").as("pvec")),
      Seq("query_id"))

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("query_id", "rk", "cand_id", "rrf_u").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  test("streamed hybrid fusion over published indexes equals batch across a split") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext

    // publish the index set, serve from the LOADED snapshot — the full
    // production path, never the in-memory fits
    val root = tmp("hyb_set") + "/ixset"
    IndexSet.publish(spark, Tables.documents(spark, sfDir).select("doc_id", "text"),
      Tables.embeddings(spark, sfDir), root)
    val snap = IndexSet.loadSnapshot(spark, root)

    val expected = rows(HybridServe.fused(requests, snap.bm25, snap.pq, excludeSelf = true))
    assert(expected.nonEmpty)

    val all = requests.collect()
      .map(r => Req(r.getLong(0), r.getString(1), r.getSeq[Float](2)))
    val (b1, b2) = all.partition(_.query_id % 2 == 0)
    assert(b1.nonEmpty && b2.nonEmpty)
    val sink = tmp("hyb_sink") + "/fused"
    val stream = MemoryStream[Req]
    val q = HybridServe.serveSnapshot(stream.toDF(), snap, sink, excludeSelf = true)
    try {
      stream.addData(b1: _*)
      q.processAllAvailable()
      stream.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = rows(spark.read.parquet(sink))
    assert(got === expected,
      s"stream-only=${(got -- expected).take(5)} batch-only=${(expected -- got).take(5)}")
  }

  test("fused serve recomputes from the two per-retriever serve lists") {
    val lex = Retrieval.buildBm25Index(spark, sfDir)
    val sem = Quantize.buildIndex(spark, sfDir)
    val lexM = Retrieval.scoreQueries(
        requests.select("query_id", "text"), lex, excludeSelf = true)
      .select("query_id", "doc_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val semM = Quantize.probeTopK(
        requests.select(col("query_id").as("probe_id"), col("pvec")), sem)
      .select("probe_id", "vec_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val got = HybridServe.fused(requests, lex, sem, excludeSelf = true).collect()
    def contrib(rk: Option[Long]): Long = rk
      .map(r => math.round(1e6 / (Retrieval.RrfK + r))).getOrElse(0L)
    got.map(_.getLong(0)).distinct.foreach { q =>
      val cands = (lexM.keys ++ semM.keys).filter(_._1 == q).map(_._2).toSeq.distinct
      val want = cands
        .map(c => (c, contrib(lexM.get((q, c))) + contrib(semM.get((q, c)))))
        .sortBy { case (c, s) => (-s, c) }.take(Retrieval.TopK)
      val gotQ = got.filter(_.getLong(0) == q).sortBy(_.getLong(1))
        .map(r => (r.getLong(2), r.getLong(3))).toSeq
      assert(gotQ === want, s"hybrid-serve RRF drift for query $q")
    }
    // both retrievers contribute rows the other lacks
    assert(got.exists(r => !r.isNullAt(4) && r.isNullAt(5)), "no lexical-only rows")
    assert(got.exists(r => r.isNullAt(4) && !r.isNullAt(5)), "no semantic-only rows")
  }

  // One published index set for the content legs: every fourth doc is
  // vector-only (absent from the doc store and the BM25 index) and the
  // docs below 200 with id % 4 == 0 are stored twice, so the text join
  // meets both a missing and a doubled match.
  private lazy val contentSnap: IndexSet.HybridSnapshot = {
    val root = tmp("hyb_content") + "/ixset"
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    IndexSet.publish(spark,
      docs.filter(col("doc_id") % 4 =!= 1)
        .union(docs.filter(col("doc_id") % 4 === 0 && col("doc_id") < 200)),
      Tables.embeddings(spark, sfDir), root)
    IndexSet.loadSnapshot(spark, root)
  }

  /** Request batch as the serving loop builds it (a LocalRelation): corpus
    * docs, plus an empty text, a double-spaced text, a vector that is
    * only in the vector index, and a query_id sent twice.
    */
  private def contentRequests: DataFrame = {
    val text = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val vec = Tables.embeddings(spark, sfDir).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val rows = (0L until 12L).map(i => Row(i, text(i), vec(i))) ++ Seq(
      Row(1000L, "", vec(101L)),
      Row(1001L, text(6L).replace(" ", "  "), vec(9L)),
      Row(3L, text(40L), vec(41L)))
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("text", StringType),
      StructField("pvec", ArrayType(FloatType, containsNull = false)))))
  }

  private val contentCols =
    Seq("query_id", "rk", "cand_id", "rrf_u", "rk_lex", "rk_sem", "corpus_version", "text")

  test("content path equals the Spark fusion left-joined with fetchDocs on all columns") {
    val snap = contentSnap
    val reqs = contentRequests
    Seq(true, false).foreach { excludeSelf =>
      val ranked = HybridServe.fusedFromSnapshot(reqs, snap, excludeSelf)
      val ids = ranked.select("cand_id").distinct().collect().map(_.getLong(0)).toSeq
      val want = ranked
        .join(IndexSet.fetchDocs(snap, ids).withColumnRenamed("doc_id", "cand_id"),
          Seq("cand_id"), "left")
        .select(contentCols.map(col): _*).collect().map(_.toSeq)
      val got = HybridServe.fusedWithContent(reqs, snap, excludeSelf).collect()
      assert(got.head.schema.fieldNames.toSeq === contentCols)
      val gotRows = got.map(_.toSeq)
      def key(r: Seq[Any]) = r.map(String.valueOf).mkString("|")
      assert(gotRows.sortBy(key).toSeq === want.sortBy(key).toSeq,
        s"excludeSelf=$excludeSelf")
      val order = got.map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(order === order.sorted, "rows must come ordered by (query_id, rk)")
      // the cases the batch is built to reach
      assert(got.exists(_.isNullAt(7)), "no vector-only candidate")
      assert(order.distinct.size < order.size, "no doubly stored candidate")
      assert(Set(1000L, 1001L).subsetOf(got.map(_.getLong(0)).toSet))
      assert(got.filter(_.getLong(0) == 1000L).forall(_.isNullAt(4)),
        "an empty text has no lexical candidates")
    }
  }

  test("driver RRF micro-units equal Spark's expression for every serve rank") {
    val maxRk = math.max(Retrieval.TopK, Quantize.PqTopK).toLong
    val units = spark.range(1, maxRk + 1)
      .select(col("id"), Retrieval.rrfUnitsCol(col("id"))).collect()
    assert(units.length === maxRk)
    units.foreach { r =>
      assert(Retrieval.rrfUnits(r.getLong(0)) === r.getLong(1), s"rk ${r.getLong(0)}")
    }
  }

  test("a warm content batch runs at most 11 Spark jobs") {
    val reqs = contentRequests
    HybridServe.fusedWithContent(reqs, contentSnap).collect()
    val (rows, jobs) = JobCount(spark)(
      HybridServe.fusedWithContent(reqs, contentSnap).collect())
    assert(rows.nonEmpty)
    assert(jobs <= 11, s"fusedWithContent ran $jobs jobs")
  }
}
