package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Hybrid retrieval (SURVEY §2.3 T50/T51): the production search shape
  * next to ANN — a lexical BM25 ranker over the documents corpus and
  * reciprocal-rank fusion of the lexical and semantic (q45 cosine)
  * rank lists. RAG data pipelines ship exactly this pair: dense
  * retrieval recalls paraphrases, lexical retrieval recalls exact
  * terms/rare ids, RRF fuses them rank-space-only (no score
  * calibration across retrievers needed — Cormack, Clarke & Büttcher,
  * SIGIR 2009).
  *
  * Determinism discipline: every per-(query, doc, term) BM25 term
  * score is quantized ONCE to integer micro-units
  * (round(idf·tfn·1e6) as BIGINT — the q110 micro-nat trick; the
  * ≤1-ulp cross-engine ln() difference is absorbed by the round), so
  * per-doc scores are exact long sums no matter the aggregation order,
  * and rankings tie-break on doc_id. RRF contributions are
  * round(1e6/(60+rank)) — pure integer-valued doubles, no FP hazard.
  */
object Retrieval {

  val K1 = 1.2 // BM25 term-frequency saturation
  val B = 0.75 // BM25 length normalization
  val NumQueries = 10 // query set: doc_id < NumQueries (the T6 convention)
  val QueryTerms = 4 // first distinct words of the query doc, in order
  val TopK = 10
  val RrfK = 60 // Cormack et al.'s constant

  /** T50: BM25 (Okapi) lexical retrieval. Queries are the first
    * `QueryTerms` distinct words (by first appearance) of each query
    * doc — deterministic and oracle-replayable.
    *
    * Scale shape: dl/avgdl are INDEX-BUILD stats (one keyed count over
    * the token explode — computed once and stored at 100 TB, like the
    * published PQ index). The query-time path prunes the posting
    * explode map-side with a broadcast semi join on the (tiny) query
    * vocabulary before any shuffle, so the tf aggregate and the
    * scoring join move only candidate postings — the inverted-index
    * access pattern, not a corpus re-scan per query.
    */
  def q148Bm25(s: SparkSession, dir: String): DataFrame = {
    // Explicit isnotnull on the shared scan (r17 opt): the scoring
    // branch joins dl on doc_id, so the optimizer infers
    // IsNotNull(doc_id) under THAT dl subtree only — the stats branch
    // (no join) kept a filter-free twin of the same scan+explode+count,
    // the two exchanges canonicalized differently, and AQE executed the
    // full corpus explode twice (Diag: two ~1.2 MB exchange writers at
    // sf0.1). Filtering the scan once makes every branch's subtree
    // identical, so the per-doc dl exchange materializes once and stats
    // reads the reused stage. doc_id is the corpus key and never null,
    // so results are unchanged (oracle hash-verified).
    val d = Tables.documents(s, dir).where(col("doc_id").isNotNull)
    val toks = d.select(col("doc_id"),
      posexplode(split(lower(col("text")), " ")).as(Seq("pos", "term")))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      .withColumn("avgdl", col("sum_dl").cast(DoubleType) / col("n_docs"))
      .select("n_docs", "avgdl")
    // query terms: first appearance order, term tiebreak (a doc with
    // two new words at one position is impossible, but total order is
    // the house rule)
    val wq = Window.partitionBy("query_id").orderBy(asc("fpos"), asc("term"))
    val qterms = toks.filter(col("doc_id") < NumQueries)
      .groupBy(col("doc_id").as("query_id"), col("term"))
      .agg(min("pos").as("fpos"))
      .withColumn("qrk", row_number().over(wq))
      .filter(col("qrk") <= QueryTerms)
      .select("query_id", "term")
    // map-side posting prune: only query-vocabulary terms survive the
    // explode, so the tf shuffle carries candidates only
    val tf = toks.join(broadcast(qterms.select("term").distinct()), Seq("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // df over the pruned postings = the full-corpus df of a query term.
    // tf >= 1 is a tautology (tf is a count) that consumes the tf VALUE
    // between the aggregates, blocking the optimizer's bare-DISTINCT
    // rewrite of the inner agg — the subtree stays canonically equal to
    // the scoring branch's tf, so exchange reuse serves df from tf's
    // shuffle instead of re-scanning + re-exploding the corpus (the
    // q53 r17 fix, same defect class)
    val df = tf.where(col("tf") >= 1).groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(qterms), Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .join(broadcast(df), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf", log(
        (col("n_docs").cast(DoubleType) - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn("tfn",
        col("tf").cast(DoubleType) * lit(K1 + 1.0) /
          (col("tf") + lit(K1) *
            (lit(1.0) - lit(B) + lit(B) * col("dl") / col("avgdl"))))
      .withColumn("s_u", round(col("idf") * col("tfn") * lit(1e6), 0).cast(LongType))
    val w = Window.partitionBy("query_id").orderBy(desc("score_u"), asc("doc_id"))
    scored.groupBy("query_id", "doc_id")
      .agg(sum("s_u").as("score_u"), count(lit(1)).as("n_terms"))
      .withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= TopK)
      .select("query_id", "rk", "doc_id", "score_u", "n_terms")
      .orderBy("query_id", "rk")
  }

  val q148Sql: String = {
    val k1 = "CAST(1.2 AS DOUBLE)"
    val k1p1 = "(CAST(1.2 AS DOUBLE) + 1.0)"
    val b = "CAST(0.75 AS DOUBLE)"
    s"""WITH toks AS MATERIALIZED (
       | SELECT doc_id, i - 1 AS pos, t[i] AS term
       | FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
       |  UNNEST(range(1, len(t) + 1)) AS u(i)
       |), dl AS MATERIALIZED (
       | SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
       |), stats AS (
       | SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl
       |), qterms AS MATERIALIZED (
       | SELECT query_id, term FROM (
       |  SELECT doc_id AS query_id, term, MIN(pos) AS fpos,
       |   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY MIN(pos) ASC, term ASC) AS qrk
       |  FROM toks WHERE doc_id < $NumQueries GROUP BY doc_id, term)
       | WHERE qrk <= $QueryTerms
       |), tf AS MATERIALIZED (
       | SELECT doc_id, term, COUNT(*) AS tf FROM toks
       | WHERE term IN (SELECT DISTINCT term FROM qterms)
       | GROUP BY doc_id, term
       |), df AS (
       | SELECT term, COUNT(*) AS df FROM tf GROUP BY term
       |), scored AS (
       | SELECT q.query_id, t.doc_id,
       |  CAST(ROUND(
       |   LN((CAST(s.n_docs AS DOUBLE) - f.df + 0.5) / (f.df + 0.5) + 1.0) *
       |   (CAST(t.tf AS DOUBLE) * $k1p1 /
       |    (t.tf + $k1 * (1.0 - $b + $b * d.dl / s.avgdl))) * 1000000.0, 0) AS BIGINT) AS s_u
       | FROM tf t
       | JOIN qterms q ON q.term = t.term AND t.doc_id <> q.query_id
       | JOIN df f ON f.term = t.term
       | JOIN dl d ON d.doc_id = t.doc_id
       | CROSS JOIN stats s
       |), agg AS (
       | SELECT query_id, doc_id, CAST(SUM(s_u) AS BIGINT) AS score_u,
       |  COUNT(*) AS n_terms,
       |  ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY SUM(s_u) DESC, doc_id ASC) AS rk
       | FROM scored GROUP BY query_id, doc_id
       |)
       |SELECT query_id, rk, doc_id, score_u, n_terms FROM agg
       |WHERE rk <= $TopK ORDER BY query_id, rk""".stripMargin
  }

  /** Published-layout dials: postings partition on
    * tb = pmod(md5_long(term), TermBuckets) and per-doc lengths on
    * db = pmod(doc_id, DocBuckets), so (a) a query's candidate read is
    * PARTITION-pruned before the in-partition term sort prunes row
    * groups, and (b) a delete's survivor segment holds only the touched
    * partition directories — the PqIndex cell discipline applied to the
    * inverted index (r15 verdict next-round #2). IndexSet writes both
    * layouts.
    */
  val TermBuckets = 64
  val DocBuckets = 64

  /** Parquet row-group size for the published postings. The default
    * 128 MB block leaves each tb file as ONE row group, which makes
    * the in-file term sort unprunable — the serve scan read every
    * matched bucket wholesale (measured at the 5M-doc rung: 13.8 s
    * serve floor vs r15's 3.6 s flat-layout floor). 4 MB groups give a
    * ~15-term bucket ~5 term-ranged groups, so the literal In() skips
    * to just the query terms' groups — the row-group layer doing for
    * terms what the tb layer does for buckets. Small groups cost a few
    * % on scan-everything reads of the postings, which only the
    * (rebuild-class) full-index audits do.
    */
  val PostingsRowGroupBytes: Long = 4L * 1024 * 1024

  /** Driver-side twin of the tb column (same md5_long bytes — the
    * serve path maps its request vocabulary to partition ids with it).
    */
  private[graft] def termBucketOf(term: String): Int =
    java.lang.Math.floorMod(
      graft.functions.Md5LongExprs.md5Long(
        org.apache.spark.unsafe.types.UTF8String.fromString(term)),
      TermBuckets.toLong).toInt

  private[graft] def termBucketCol: org.apache.spark.sql.Column =
    pmod(graft.functions.TextFunctions.md5Long(col("term")),
      lit(TermBuckets.toLong)).cast(IntegerType)

  private[graft] def docBucketCol: org.apache.spark.sql.Column =
    pmod(col("doc_id"), lit(DocBuckets.toLong)).cast(IntegerType)

  /** The published inverted index (T50's serving artifact): full
    * postings (dl denormalized in — the serve path never joins the
    * corpus-sized dl table per request) + per-term df + per-doc
    * lengths + the exact corpus scalars. `sumDl` is kept as the exact
    * long so incremental stats updates are integer arithmetic; `avgdl`
    * derives from it, bit-identical on a fresh build and after any
    * append/delete chain reaching the same corpus.
    */
  final case class Bm25Index(postings: DataFrame, df: DataFrame,
      dl: DataFrame, nDocs: Long, sumDl: Long) {
    def avgdl: Double = sumDl.toDouble / nDocs
  }

  /** The index's frames over a documents slice, all lazy: (postings,
    * df, dl) — query-agnostic (FULL postings, unlike q148's in-query
    * pruned tf; the df values agree on every query term by
    * construction). Also the increment builder: IndexSet's publish and
    * append write these frames and take the corpus scalars from the
    * staged dl segment ([[dlStats]]), so no job runs before the writes.
    */
  private[graft] def bm25Frames(docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val toks = docs.select(col("doc_id"),
      posexplode(split(lower(col("text")), " ")).as(Seq("pos", "term")))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // df derives from tf with the tf >= 1 tautology (consuming the count
    // value blocks the optimizer's bare-DISTINCT rewrite, so a
    // single-action consumer like an in-memory scoreQueries reuses tf's
    // exchange for df — the q53 r17 fix). dl deliberately does NOT
    // route through tf: the (doc_id, term) exchange is the expensive
    // unit here (821 MB of shuffle at the 1.5M-doc rung), while the
    // raw-toks aggregate map-side combines to doc granularity before a
    // KB-scale shuffle — a dl-from-tf form made the stats collect pay
    // that full tf exchange and was MEASURED at ~2x the publish wall
    // (BENCH_R17_PUBLISH.json), so it was rejected
    val df = tf.where(col("tf") >= 1).groupBy("term").agg(count(lit(1)).as("df"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    (tf.join(dl, Seq("doc_id")), df, dl)
  }

  /** (n_docs, sum_dl) of a (doc_id, dl) frame, in one job over its
    * partitions: a global aggregate would add an exchange, and under AQE
    * a second job, to fold what is two longs per partition.
    */
  private[graft] def dlStats(dl: DataFrame): (Long, Long) =
    dl.select("dl").rdd.aggregate((0L, 0L))(
      (acc, r) => (acc._1 + 1, acc._2 + r.getLong(0)),
      (a, b) => (a._1 + b._1, a._2 + b._2))

  /** The index over a documents slice, in memory: [[bm25Frames]] plus
    * the corpus scalars, collected here.
    */
  def buildBm25IndexFrom(docs: DataFrame): Bm25Index = {
    val (postings, df, dl) = bm25Frames(docs)
    val (nDocs, sumDl) = dlStats(dl)
    Bm25Index(postings, df, dl, nDocs, sumDl)
  }

  def buildBm25Index(s: SparkSession, dir: String): Bm25Index =
    buildBm25IndexFrom(Tables.documents(s, dir))

  /** Serving-path scorer: BM25 top-k for a batch of (query_id, text)
    * requests against a built index or a snapshot's
    * (IndexSet.loadSnapshot). The same expression tree as q148 with the
    * corpus scalars as literals — bit-identical to the oracle-checked
    * batch ranking (RetrievalSpec); runs per
    * micro-batch under Bm25Serve.serve. The postings scan is pruned
    * map-side by the broadcast query vocabulary before any shuffle.
    *
    * Per batch, the call runs ONE eager action: a map-only collect of
    * the requests' (query_id, pos, term) tokens (one Spark job when the
    * requests are a LocalRelation, as a serve batch is), from which the
    * driver picks each query's first QueryTerms distinct terms
    * ([[firstTerms]]). The returned frame is lazy; its action runs the
    * pruned postings scan and the bounded top-k.
    *
    * `excludeSelf` (default FALSE for serving — r15 ADVICE): a serve
    * request's query_id is an arbitrary request identifier, so the
    * batch q148 convention of dropping doc_id == query_id would
    * silently lose a corpus document from any request whose id happens
    * to collide with it. Pass true only when the queries ARE corpus
    * docs (the T6 convention the batch-parity spec uses).
    */
  def scoreQueries(queries: DataFrame, idx: Bm25Index,
      excludeSelf: Boolean = false): DataFrame = {
    val qtoks = queries.select(col("query_id"),
      posexplode(split(lower(col("text")), " ")).as(Seq("pos", "term")))
    // the query vocabulary is REQUEST state (≤ queries·QueryTerms
    // strings): pick it on the driver and push a literal In() filter
    // into the postings scan — on the term-sorted published layout this
    // prunes at the parquet row-group layer, which a join-side
    // broadcast prune can never do. On the PUBLISHED tb-partitioned
    // layout the vocabulary's bucket ids additionally prune whole
    // partition directories before any file is opened (PartitionFilters
    // — the serve path reads ≤ |vocab| of the TermBuckets directories).
    // The tokens cost one map-only job, where a groupBy + row_number
    // selection cost three jobs and two exchanges on a request-sized
    // frame. The selected (query_id, term) rows re-enter as a
    // LocalRelation with exact stats (the r15 estimate-laundering
    // discipline), so the request pipeline runs once per batch.
    val qtermRows = firstTerms(qtoks.collect())
    val qtermsLocal = queries.sparkSession.createDataFrame(
      java.util.Arrays.asList(qtermRows: _*),
      StructType(Seq(qtoks.schema("query_id"), qtoks.schema("term"))))
    val vocab = qtermRows.map(_.getString(1)).distinct
    val dfq = idx.df.filter(col("term").isin(vocab: _*))
    val postingsBase =
      if (idx.postings.columns.contains("tb")) {
        val tbs = vocab.map(termBucketOf).distinct.toSeq
        idx.postings.filter(col("tb").isin(tbs.map(Integer.valueOf): _*))
      } else idx.postings // an unpublished in-memory index has no tb
    val pruned = postingsBase.filter(col("term").isin(vocab: _*))
      .join(broadcast(qtermsLocal), Seq("term"))
    val candidates =
      if (excludeSelf) pruned.filter(col("doc_id") =!= col("query_id")) else pruned
    val scored = candidates
      .join(broadcast(dfq), Seq("term"))
      .withColumn("idf", log(
        (lit(idx.nDocs).cast(DoubleType) - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn("tfn",
        col("tf").cast(DoubleType) * lit(K1 + 1.0) /
          (col("tf") + lit(K1) *
            (lit(1.0) - lit(B) + lit(B) * col("dl") / lit(idx.avgdl))))
      .withColumn("s_u", round(col("idf") * col("tfn") * lit(1e6), 0).cast(LongType))
    // bounded top-k instead of the batch row_number window (r16): the
    // window form repartitions EVERY scored (query, doc) pair to one
    // task per query and sorts there — at the 5M-doc rung the ranking
    // stage, not the pruned scan, dominated the serve floor. The
    // mergeable aggregate keeps ≤ TopK rows per partition map-side, so
    // the per-query shuffle carries ≤ TopK·partitions rows; ordering
    // (score_u DESC, doc_id ASC) is the identical tie-break, and the
    // serve-equals-batch spec pins bit-equality against q148's window.
    scored.groupBy("query_id", "doc_id")
      .agg(sum("s_u").as("score_u"), count(lit(1)).as("n_terms"))
      .groupBy("query_id")
      .agg(serveTopK(col("score_u"), col("doc_id"), col("n_terms")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("query_id"), (col("i") + 1).cast(LongType).as("rk"),
        col("t._2").as("doc_id"), col("t._1").as("score_u"),
        col("t._3").as("n_terms"))
  }

  /** Driver-side term selection over collected (query_id, pos, term)
    * token rows: each query's first QueryTerms distinct terms, ranked
    * by the term's minimum pos and then by the term in Spark's
    * UTF8String byte order — exactly q148's groupBy(query_id, term)
    * min(pos) + row_number over (fpos, term), also when one batch
    * carries the same query_id twice (their tokens merge per term).
    */
  private[graft] def firstTerms(toks: Array[Row]): Array[Row] = {
    val fpos = scala.collection.mutable.HashMap.empty[(Any, String), Int]
    toks.foreach { r =>
      val k = (r.get(0), r.getString(2))
      val p = r.getInt(1)
      if (fpos.get(k).forall(p < _)) fpos(k) = p
    }
    fpos.toArray.groupBy(_._1._1).valuesIterator.flatMap { ts =>
      ts.map { case ((q, t), p) => (q, t, p, UTF8String.fromString(t)) }
        .sortWith((a, b) => a._3 < b._3 || (a._3 == b._3 && a._4.compareTo(b._4) < 0))
        .take(QueryTerms).map { case (q, t, _, _) => Row(q, t) }
    }.toArray
  }

  private lazy val serveTopK = udaf(
    new graft.functions.TopKAgg.ScoredTopK(TopK),
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Long, Long)]())

  /** T51: hybrid reciprocal-rank fusion of the BM25 (q148) and
    * semantic (q45 brute cosine — the declared-exact rank list; the
    * scale path routes q46/q147 ranks through the same fusion) top-k
    * lists. rrf(d) = Σ_sources 1/(60 + rank_source(d)) over the
    * sources that returned d, quantized to micro-units
    * (round(1e6/(60+rk)) — integer-valued, no FP hazard), absent
    * source contributes 0 (full-outer union of the lists).
    *
    * Id spaces: doc_id and vec_id both enumerate 0..n−1 in this
    * corpus, so the fusion joins them 1:1 by construction; the
    * operator contract is rank-space-only and id-agnostic.
    */
  /** Rank-space RRF of any two (query_id, cand_id, rk_lex/rk_sem)
    * lists — the fusion is retriever-agnostic by design; q149 feeds it
    * q148 + q45, and RetrievalSpec proves the IVFADC (q147) rank list
    * routes through the identical code path at scale.
    */
  def fuseRrf(lex: DataFrame, sem: DataFrame): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(desc("rrf_u"), asc("cand_id"))
    lex.join(sem, Seq("query_id", "cand_id"), "full_outer")
      .withColumn("rrf_u",
        coalesce(rrfUnitsCol(col("rk_lex")), lit(0L)) +
          coalesce(rrfUnitsCol(col("rk_sem")), lit(0L)))
      .withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= TopK)
      .select(col("query_id"), col("rk"), col("cand_id"), col("rrf_u"),
        col("rk_lex"), col("rk_sem"))
      .orderBy("query_id", "rk")
  }

  /** One source's RRF contribution in micro-units, round(1e6/(RrfK+rk)). */
  private[graft] def rrfUnitsCol(rk: Column): Column =
    round(lit(1e6) / (lit(RrfK) + rk), 0).cast(LongType)

  /** Driver twin of [[rrfUnitsCol]]: the same double quotient, Spark's
    * Round (HALF_UP on BigDecimal.valueOf), then the long cast
    * (HybridServeSpec checks every rank a serve list can carry).
    */
  private[graft] def rrfUnits(rk: Long): Long =
    java.math.BigDecimal.valueOf(1e6 / (RrfK + rk))
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue.toLong

  def q149HybridRrf(s: SparkSession, dir: String): DataFrame =
    fuseRrf(
      q148Bm25(s, dir)
        .select(col("query_id"), col("doc_id").as("cand_id"),
          col("rk").as("rk_lex")),
      Similarity.q45AnnTopk(s, dir)
        .select(col("probe_id").as("query_id"), col("vec_id").as("cand_id"),
          col("rk").as("rk_sem")))

  val q149Sql: String =
    s"""WITH lex AS MATERIALIZED (
       | SELECT query_id, doc_id AS cand_id, rk AS rk_lex FROM (${q148Sql.replace("ORDER BY query_id, rk", "")})
       |), sem AS MATERIALIZED (
       | SELECT probe_id AS query_id, vec_id AS cand_id, rk AS rk_sem FROM (${Similarity.q45Sql.replace("ORDER BY probe_id, rk", "")})
       |), fused AS (
       | SELECT COALESCE(l.query_id, s.query_id) AS query_id,
       |  COALESCE(l.cand_id, s.cand_id) AS cand_id,
       |  l.rk_lex, s.rk_sem,
       |  COALESCE(CAST(ROUND(1000000.0 / (${RrfK} + l.rk_lex), 0) AS BIGINT), 0) +
       |  COALESCE(CAST(ROUND(1000000.0 / (${RrfK} + s.rk_sem), 0) AS BIGINT), 0) AS rrf_u
       | FROM lex l FULL OUTER JOIN sem s
       |  ON s.query_id = l.query_id AND s.cand_id = l.cand_id
       |), ranked AS (
       | SELECT query_id, cand_id, rrf_u, rk_lex, rk_sem,
       |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf_u DESC, cand_id ASC) AS rk
       | FROM fused
       |)
       |SELECT query_id, rk, cand_id, rrf_u, rk_lex, rk_sem FROM ranked
       |WHERE rk <= $TopK ORDER BY query_id, rk""".stripMargin
}
