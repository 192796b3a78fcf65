package graft

import org.apache.spark.sql.functions._

import graft.operators.{Retrieval, Similarity}

/** T50/T51 hybrid retrieval: BM25 exactness against an independent
  * driver-side replay (plain Scala doubles + the BigDecimal HALF_UP
  * micro-round — no Spark expressions), ranking invariants, RRF
  * recomputation from the source rank lists, and plan shape.
  */
class RetrievalSpec extends GraftSpec {

  case class Req(query_id: Long, text: String)

  test("q148 BM25 equals an independent driver-side replay") {
    val got = Retrieval.q148Bm25(spark, sfDir).collect()
    val again = Retrieval.q148Bm25(spark, sfDir).collect()
    assert(got.toSeq === again.toSeq, "q148 must be deterministic")
    assert(got.length === Retrieval.NumQueries * Retrieval.TopK)

    // full replay with plain Scala arithmetic
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase.split(" ", -1).toSeq)
      .toMap
    val n = docs.size
    val dl = docs.map { case (id, t) => id -> t.length }
    val avgdl = dl.values.map(_.toLong).sum.toDouble / n
    val tfAll: Map[(Long, String), Int] =
      docs.toSeq.flatMap { case (id, t) => t.map(w => (id, w)) }
        .groupBy(identity).map { case (k, v) => k -> v.size }
    val df: Map[String, Int] =
      tfAll.keys.toSeq.map(_._2).groupBy(identity).map { case (k, v) => k -> v.size }
    def qterms(q: Long): Seq[String] = {
      val t = docs(q)
      t.zipWithIndex.groupBy(_._1).toSeq
        .map { case (w, occ) => (occ.map(_._2).min, w) }
        .sortBy { case (p, w) => (p, w) }
        .take(Retrieval.QueryTerms).map(_._2)
    }
    def scoreU(q: Long, d: Long): (Long, Int) = {
      val terms = qterms(q).filter(w => tfAll.contains((d, w)))
      val s = terms.map { w =>
        val idf = math.log(
          (n.toDouble - df(w) + 0.5) / (df(w) + 0.5) + 1.0)
        val tfn = tfAll((d, w)).toDouble * (Retrieval.K1 + 1.0) /
          (tfAll((d, w)) + Retrieval.K1 *
            (1.0 - Retrieval.B + Retrieval.B * dl(d) / avgdl))
        java.math.BigDecimal.valueOf(idf * tfn * 1e6)
          .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
      }.sum
      (s, terms.size)
    }
    (0L until Retrieval.NumQueries.toLong).foreach { q =>
      val qt = qterms(q).toSet
      val cands = docs.keys.filter(d =>
        d != q && qt.exists(w => tfAll.contains((d, w)))).toSeq
      val want = cands.map(d => (d, scoreU(q, d)))
        .sortBy { case (d, (s, _)) => (-s, d) }.take(Retrieval.TopK)
      val gotQ = got.filter(_.getLong(0) == q).sortBy(_.getLong(1))
      assert(gotQ.map(r => (r.getLong(2), (r.getLong(3), r.getLong(4).toInt))).toSeq
        === want, s"BM25 drift for query $q")
    }
  }

  test("q149 RRF recomputes from the two source rank lists") {
    val lex = Retrieval.q148Bm25(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1)).toMap
    val sem = Similarity.q45AnnTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1)).toMap
    val got = Retrieval.q149HybridRrf(spark, sfDir).collect()
    assert(got.length === Retrieval.NumQueries * Retrieval.TopK)
    def contrib(rk: Option[Long]): Long = rk
      .map(r => math.round(1e6 / (Retrieval.RrfK + r))).getOrElse(0L)
    // full fused ranking, replayed
    val queries = got.map(_.getLong(0)).distinct
    queries.foreach { q =>
      val cands = (lex.keys ++ sem.keys).filter(_._1 == q).map(_._2).toSeq.distinct
      val want = cands
        .map(c => (c, contrib(lex.get((q, c))) + contrib(sem.get((q, c)))))
        .sortBy { case (c, s) => (-s, c) }.take(Retrieval.TopK)
      val gotQ = got.filter(_.getLong(0) == q).sortBy(_.getLong(1))
        .map(r => (r.getLong(2), r.getLong(3))).toSeq
      assert(gotQ === want, s"RRF drift for query $q")
      // source ranks echoed correctly (null when absent from a list)
      got.filter(_.getLong(0) == q).foreach { r =>
        val c = r.getLong(2)
        val gotLex = if (r.isNullAt(4)) None else Some(r.getLong(4))
        val gotSem = if (r.isNullAt(5)) None else Some(r.getLong(5))
        assert(gotLex === lex.get((q, c)), s"rk_lex echo for ($q, $c)")
        assert(gotSem === sem.get((q, c)), s"rk_sem echo for ($q, $c)")
      }
    }
    // fusion actually mixes: some top results are lexical-only and
    // some semantic-only (both sources contribute)
    assert(got.exists(r => !r.isNullAt(4) && r.isNullAt(5)), "no lexical-only rows")
    assert(got.exists(r => r.isNullAt(4) && !r.isNullAt(5)), "no semantic-only rows")
  }

  test("BM25 serving: built + published/loaded + streamed equal batch q148") {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Bm25Serve

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rk", "doc_id", "score_u", "n_terms").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
    val expected = rows(Retrieval.q148Bm25(spark, sfDir))
    val idx = Retrieval.buildBm25Index(spark, sfDir)
    val queries = Tables.documents(spark, sfDir)
      .filter(col("doc_id") < Retrieval.NumQueries)
      .select(col("doc_id").as("query_id"), col("text"))
    assert(rows(Retrieval.scoreQueries(queries, idx, excludeSelf = true)) === expected,
      "in-memory index serving must equal the oracle-checked batch ranking")

    val out = Files.createTempDirectory("graft_bm25idx").toFile
    out.deleteOnExit()
    graft.operators.IndexSet.publish(spark,
      Tables.documents(spark, sfDir).select("doc_id", "text"),
      Tables.embeddings(spark, sfDir), out.getAbsolutePath)
    val loaded = graft.operators.IndexSet.loadSnapshot(spark, out.getAbsolutePath).bm25
    assert(loaded.nDocs === idx.nDocs)
    assert(loaded.avgdl === idx.avgdl, "avgdl must round-trip bit-for-bit")
    assert(rows(Retrieval.scoreQueries(queries, loaded, excludeSelf = true)) === expected,
      "published/loaded index serving must equal batch")

    // streamed across a batch split
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val all = queries.collect().map(r => Req(r.getLong(0), r.getString(1)))
    val (b1, b2) = all.partition(_.query_id % 2 == 0)
    val sink = Files.createTempDirectory("graft_bm25sink").toFile
    sink.deleteOnExit()
    val sinkDir = sink.getAbsolutePath + "/topk"
    val stream = MemoryStream[Req]
    val q = Bm25Serve.serve(stream.toDF(), loaded, sinkDir, excludeSelf = true)
    try {
      stream.addData(b1: _*)
      q.processAllAvailable()
      stream.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(rows(spark.read.parquet(sinkDir)) === expected,
      "streamed serving must equal batch q148 across a batch split")
  }

  test("scoreQueries picks q148's query terms on the driver, in one job") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    // adversarial request text: empty, doubled spaces, mixed case, a
    // supplementary-plane char vs a BMP one above the surrogates (their
    // UTF-16 and UTF-8 orders disagree), and one query_id sent five
    // times so the pos-0 terms tie and the term order decides the cut
    val texts = Seq(
      1001L -> "", 1002L -> "alpha  beta  ALPHA gamma delta epsilon", 1003L -> "  lead",
      1004L -> "\uD835\uDD18 x y z w", 1004L -> "\uFF5A q", 1004L -> "c", 1004L -> "b",
      1004L -> "a", 1005L -> "Émile émile ÉMILE e f g h") ++
      Tables.documents(spark, sfDir).filter(col("doc_id") < 20)
        .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1))
    val queries = spark.createDataFrame(texts.map { case (q, t) => Row(q, t) }.asJava,
      StructType(Seq(StructField("query_id", LongType), StructField("text", StringType))))
    val toks = queries.select(col("query_id"),
      posexplode(split(lower(col("text")), " ")).as(Seq("pos", "term")))
    // the pre-driver Spark selection, kept here as the reference
    val want = toks.groupBy("query_id", "term").agg(min("pos").as("fpos"))
      .withColumn("qrk", row_number().over(
        Window.partitionBy("query_id").orderBy(asc("fpos"), asc("term"))))
      .filter(col("qrk") <= Retrieval.QueryTerms)
      .select("query_id", "term").collect().map(r => (r.getLong(0), r.getString(1)))
    val got = Retrieval.firstTerms(toks.collect()).map(r => (r.getLong(0), r.getString(1)))
    assert(got.sorted.toSeq === want.sorted.toSeq)
    assert(got.count(_._1 == 1004L) === Retrieval.QueryTerms)
    assert(got.contains((1004L, "\uFF5A")) && !got.contains((1004L, "\uD835\uDD18")),
      "terms must tie-break in UTF-8 byte order")

    val idx = Retrieval.buildBm25Index(spark, sfDir)
    val (_, jobs) = JobCount(spark)(Retrieval.scoreQueries(queries, idx))
    assert(jobs === 1, "term selection must be one map-only collect")
  }

  test("serve-time id collision: default scoreQueries keeps the colliding doc") {
    // r15 ADVICE: a request whose arbitrary query_id collides with a
    // corpus doc_id must NOT lose that document — self-exclusion is a
    // batch-q148 convention (queries are corpus docs), not a serving one
    val idx = Retrieval.buildBm25Index(spark, sfDir)
    val corpusQueries = Tables.documents(spark, sfDir)
      .filter(col("doc_id") < Retrieval.NumQueries)
      .select(col("doc_id").as("query_id"), col("text"))
    def cands(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val served = cands(Retrieval.scoreQueries(corpusQueries, idx))
    val excluded = cands(Retrieval.scoreQueries(corpusQueries, idx,
      excludeSelf = true))
    // a query doc matches itself on its own terms — the default serve
    // path must be able to surface it (whether it cracks the top-k for
    // EVERY query depends on the corpus; at least one must)
    assert(served.exists { case (q, d) => q == d },
      "default serving lost every colliding doc_id")
    assert(excluded.forall { case (q, d) => q != d },
      "excludeSelf=true must reproduce the batch convention")
  }

  test("fuseRrf routes the IVFADC (q147) rank list through the same fusion") {
    import graft.operators.Quantize
    val lex = Retrieval.q148Bm25(spark, sfDir)
      .select(col("query_id"), col("doc_id").as("cand_id"), col("rk").as("rk_lex"))
    val sem = Quantize.q147IvfAdc(spark, sfDir)
      .select(col("probe_id").as("query_id"), col("vec_id").as("cand_id"),
        col("rk").as("rk_sem"))
    val got = Retrieval.fuseRrf(lex, sem).collect()
    assert(got.length === Retrieval.NumQueries * Retrieval.TopK)
    // recompute from the two collected lists — same check as q149's
    val lexM = lex.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val semM = sem.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    def contrib(rk: Option[Long]): Long = rk
      .map(r => math.round(1e6 / (Retrieval.RrfK + r))).getOrElse(0L)
    got.map(_.getLong(0)).distinct.foreach { q =>
      val cands = (lexM.keys ++ semM.keys).filter(_._1 == q).map(_._2).toSeq.distinct
      val want = cands
        .map(c => (c, contrib(lexM.get((q, c))) + contrib(semM.get((q, c)))))
        .sortBy { case (c, s) => (-s, c) }.take(Retrieval.TopK)
      val gotQ = got.filter(_.getLong(0) == q).sortBy(_.getLong(1))
        .map(r => (r.getLong(2), r.getLong(3))).toSeq
      assert(gotQ === want, s"IVFADC-routed RRF drift for query $q")
    }
  }

  test("q148/q149 plans: no cartesian beyond the 1-row stats scalar") {
    val p148 = Retrieval.q148Bm25(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p148.contains("CartesianProduct"))
    val p149 = Retrieval.q149HybridRrf(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p149.contains("CartesianProduct"))
  }
}
