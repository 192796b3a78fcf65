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
    * groups, and (b) append/delete rewrite only the touched partition
    * directories — the PqIndex cell discipline applied to the inverted
    * index (r15 verdict next-round #2).
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

  private def termBucketCol: org.apache.spark.sql.Column =
    pmod(graft.functions.TextFunctions.md5Long(col("term")),
      lit(TermBuckets.toLong)).cast(IntegerType)

  private def docBucketCol: org.apache.spark.sql.Column =
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

  /** Fit the index from a documents slice — query-agnostic (FULL
    * postings, unlike q148's in-query pruned tf; the df values agree
    * on every query term by construction). Also the increment builder:
    * appendToBm25 runs it over the arriving docs alone.
    */
  def buildBm25IndexFrom(docs: DataFrame): Bm25Index = {
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
    // KB-scale shuffle — a dl-from-tf form made the eager stats collect
    // below pay that full tf exchange and was MEASURED at ~2x the
    // publish wall (BENCH_R17_PUBLISH.json), so it was rejected
    val df = tf.where(col("tf") >= 1).groupBy("term").agg(count(lit(1)).as("df"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val st = dl.agg(count(lit(1)).as("n"), sum("dl").as("s")).collect()(0)
    Bm25Index(tf.join(dl, Seq("doc_id")), df, dl, st.getLong(0),
      if (st.isNullAt(1)) 0L else st.getLong(1))
  }

  def buildBm25Index(s: SparkSession, dir: String): Bm25Index =
    buildBm25IndexFrom(Tables.documents(s, dir))

  private def writeStats(s: SparkSession, nDocs: Long, sumDl: Long,
      outDir: String): Unit = {
    import s.implicits._
    // guard here, the shared funnel: publishing an empty corpus would
    // write avgdl = NaN and poison every downstream tfn (r16 ADVICE —
    // appendToBm25 already early-returns on an empty increment, but
    // publish/build had no equivalent)
    require(nDocs > 0,
      s"cannot write BM25 stats for an empty corpus (n_docs=$nDocs)")
    Seq((nDocs, sumDl.toDouble / nDocs, sumDl))
      .toDF("n_docs", "avgdl", "sum_dl")
      .write.mode("overwrite").parquet(s"$outDir/stats")
  }

  /** Stage-and-swap rewrite of an UNPARTITIONED index piece (the
    * vocabulary-sized df table): the new frame may READ the live dir —
    * it materializes fully into staging before the live dir is
    * replaced.
    */
  private def writeSwapped(s: SparkSession, data: DataFrame,
      liveDir: String): Unit = {
    val staging = graft.sources.PartitionSwap.stagingPathFor(liveDir)
    data.write.mode("overwrite").parquet(staging)
    val live = new org.apache.hadoop.fs.Path(liveDir)
    val fs = live.getFileSystem(s.sparkContext.hadoopConfiguration)
    // rename-aside, not delete-then-rename: a crash between the two
    // renames leaves the previous table recoverable beside the new one
    // instead of a window where the artifact has NO df table at all
    val aside = new org.apache.hadoop.fs.Path(
      live.getParent, s".${live.getName}-replaced-${java.util.UUID.randomUUID}")
    if (fs.exists(live)) require(fs.rename(live, aside),
      s"df swap failed moving $live aside")
    require(fs.rename(new org.apache.hadoop.fs.Path(staging), live),
      s"df swap failed renaming $staging -> $live; previous table at $aside")
    fs.delete(aside, true)
  }

  def publishBm25(idx: Bm25Index, outDir: String): Unit = {
    // term-bucketed + term-sorted layout: the tb partition column
    // prunes whole directories for a request vocabulary, and the
    // in-partition term sort prunes at the parquet row-group layer
    // (RetrProbe at 1.5M docs: the unclustered scan cost the serve
    // path ~10 s of pure postings I/O)
    val s = idx.postings.sparkSession
    // guard up front (not only in writeStats): an empty corpus would
    // otherwise fail later with an unhelpful schema-inference error on
    // the staged-postings read
    require(idx.nDocs > 0,
      s"cannot publish BM25 index for an empty corpus (n_docs=${idx.nDocs})")
    idx.postings.withColumn("tb", termBucketCol)
      .repartition(col("tb")).sortWithinPartitions("term")
      .write.mode("overwrite").partitionBy("tb")
      .option("parquet.block.size", PostingsRowGroupBytes.toString)
      .parquet(s"$outDir/postings")
    // df DERIVES FROM THE STAGED POSTINGS (the republishSurvivors
    // discipline): in-plan exchange reuse cannot span separate write
    // actions, so writing idx.df would re-run the corpus explode plus a
    // full (doc, term)-distinct shuffle (740 MB at the 1.5M-doc rung) —
    // the staged read is one column-pruned pass with map-side term
    // counts, 323 -> 25 task-seconds in the instrumented A/B
    // (BENCH_R17_PUBLISH.json; walls at this rung swing ±40% with
    // page-cache state, the stage table is the evidence). dl stays on
    // its in-memory frame: its raw-toks aggregate map-side combines to
    // doc granularity before a KB-scale shuffle — cheap to recompute
    s.read.parquet(s"$outDir/postings")
      .groupBy("term").agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$outDir/df")
    idx.dl.withColumn("db", docBucketCol)
      .repartition(col("db")).sortWithinPartitions("doc_id")
      .write.mode("overwrite").partitionBy("db").parquet(s"$outDir/dl")
    writeStats(s, idx.nDocs, idx.sumDl, outDir)
  }

  def loadBm25(s: SparkSession, outDir: String): Bm25Index = {
    val statsDf = s.read.parquet(s"$outDir/stats")
    val st = statsDf.collect()(0)
    // format migration (r16 ADVICE): indexes published before sum_dl
    // landed carry a two-column stats row (n_docs, avgdl). avgdl was
    // computed as sumDl.toDouble / nDocs at publish time, and sumDl is
    // far below 2^53, so round(avgdl * nDocs) recovers the exact long.
    val sumDl =
      if (statsDf.columns.contains("sum_dl")) st.getLong(st.fieldIndex("sum_dl"))
      else {
        System.err.println(s"[graft] legacy two-column BM25 stats at " +
          s"$outDir/stats: deriving sum_dl = round(avgdl * n_docs); " +
          "republish to upgrade")
        math.round(st.getDouble(st.fieldIndex("avgdl")) *
          st.getLong(st.fieldIndex("n_docs")))
      }
    Bm25Index(
      s.read.parquet(s"$outDir/postings"),
      s.read.parquet(s"$outDir/df"),
      s.read.parquet(s"$outDir/dl"),
      st.getLong(st.fieldIndex("n_docs")), sumDl)
  }

  /** Incremental index maintenance (r15 verdict next-round #2 — parity
    * with PqIndex's append): absorb newly arrived (doc_id, text) rows
    * into the published index with NO refit and NO rewrite of existing
    * posting files. tf and dl are doc-local, so the new postings
    * simply append into their touched tb partitions; the global stats
    * are updated EXACTLY — df is a vocabulary-sized merge (old + the
    * increment's per-term doc counts, staged and swapped) and
    * n_docs/sum_dl are long additions — so append-then-serve is
    * bit-identical to a fresh publish of the union corpus
    * (Bm25LifecycleSpec pins it). Caller contract: arriving doc_ids
    * are new (a re-ingest is delete + append).
    *
    * CRASH CONTRACT (r16 ADVICE): the four steps — postings append →
    * dl append → df swap → stats rewrite — are not atomic. The stats
    * rewrite is deliberately LAST and acts as the commit marker: a
    * stats row whose n_docs disagrees with count(dl) means an
    * incomplete append. Roll FORWARD by deleting the batch's appended
    * files (newest-mtime files in the touched tb/db partitions — each
    * append lands fresh files only, never rewrites) and re-running the
    * append; the df swap is itself crash-safe (writeSwapped's
    * rename-aside). For an atomically versioned family-level append —
    * where a crash anywhere leaves the PRIOR version fully servable —
    * use [[graft.operators.IndexSet]]'s manifest discipline instead;
    * this in-place form remains the single-index fast path.
    */
  def appendToBm25(s: SparkSession, newDocs: DataFrame, outDir: String): Unit = {
    val inc = buildBm25IndexFrom(newDocs)
    if (inc.nDocs == 0L) return
    inc.postings.withColumn("tb", termBucketCol)
      .repartition(col("tb")).sortWithinPartitions("term")
      .write.mode("append").partitionBy("tb")
      .option("parquet.block.size", PostingsRowGroupBytes.toString)
      .parquet(s"$outDir/postings")
    inc.dl.withColumn("db", docBucketCol)
      .repartition(col("db")).sortWithinPartitions("doc_id")
      .write.mode("append").partitionBy("db").parquet(s"$outDir/dl")
    val merged = s.read.parquet(s"$outDir/df")
      .unionByName(inc.df)
      .groupBy("term").agg(sum("df").as("df"))
    writeSwapped(s, merged, s"$outDir/df")
    val st = s.read.parquet(s"$outDir/stats").collect()(0)
    writeStats(s, st.getLong(0) + inc.nDocs, st.getLong(2) + inc.sumDl, outDir)
  }

  /** Surgical compaction of the published index (the lifecycle's
    * maintenance leg beside append/delete): every append lands one
    * fresh file per touched tb/db partition, so after N daily ingests
    * a serve scan opens N× the files and the per-file term sort no
    * longer spans the partition (appended files are sorted only within
    * themselves, diluting row-group pruning). Rewrites ONLY the
    * partitions holding more than one file — back to one
    * publish-form sorted file each, same row-group dial, staged and
    * swapped — and leaves single-file partitions byte-untouched.
    * Rankings are unchanged by construction (row-set identity,
    * Bm25LifecycleSpec). Returns the compacted partition dirs.
    */
  def compactBm25(s: SparkSession, outDir: String): Seq[String] = {
    import graft.sources.PartitionSwap
    val tbs = PartitionSwap.multiFilePartitions(s, s"$outDir/postings")
    if (tbs.nonEmpty) {
      val vals = tbs.map(_.split("=", 2)(1).toInt)
      val staging = PartitionSwap.stagingPathFor(s"$outDir/postings")
      s.read.parquet(s"$outDir/postings")
        .filter(col("tb").isin(vals.map(Integer.valueOf): _*))
        .repartition(col("tb")).sortWithinPartitions("term")
        .write.mode("overwrite").partitionBy("tb")
        .option("parquet.block.size", PostingsRowGroupBytes.toString)
        .parquet(staging)
      PartitionSwap.swap(s, s"$outDir/postings", staging, tbs)
    }
    val dbs = PartitionSwap.multiFilePartitions(s, s"$outDir/dl")
    if (dbs.nonEmpty) {
      val vals = dbs.map(_.split("=", 2)(1).toInt)
      val staging = PartitionSwap.stagingPathFor(s"$outDir/dl")
      s.read.parquet(s"$outDir/dl")
        .filter(col("db").isin(vals.map(Integer.valueOf): _*))
        .repartition(col("db")).sortWithinPartitions("doc_id")
        .write.mode("overwrite").partitionBy("db").parquet(staging)
      PartitionSwap.swap(s, s"$outDir/dl", staging, dbs)
    }
    // the optional content store shares the db partitioning — compact
    // its accreted partitions the same way when it exists
    val sds = PartitionSwap.multiFilePartitions(s, s"$outDir/docs")
    if (sds.nonEmpty) {
      val vals = sds.map(_.split("=", 2)(1).toInt)
      val staging = PartitionSwap.stagingPathFor(s"$outDir/docs")
      s.read.parquet(s"$outDir/docs")
        .filter(col("db").isin(vals.map(Integer.valueOf): _*))
        .repartition(col("db")).sortWithinPartitions("doc_id")
        .write.mode("overwrite").partitionBy("db").parquet(staging)
      PartitionSwap.swap(s, s"$outDir/docs", staging, sds)
    }
    tbs ++ dbs ++ sds
  }

  /** Incremental deletion (the GDPR path, completing the
    * build/publish/append/delete lifecycle for the lexical index).
    * Harder than the PQ delete by construction — one document touches
    * MANY term partitions and df/n_docs/avgdl are global — and still
    * surgical: only tb/db partitions containing a victim posting are
    * rewritten (stage-then-swap; a partition whose every row was a
    * victim is removed outright), df subtracts the victims' exact
    * per-term doc counts (terms reaching df=0 drop out), and the
    * corpus scalars subtract the victims' exact longs. Post-delete
    * serving is bit-identical to a fresh publish of the survivor
    * corpus (Bm25LifecycleSpec).
    */
  /** Victim fraction (of the published n_docs) above which
    * deleteFromBm25 degrades to a republish of the survivors. Decided
    * UPFRONT from |victims| / n_docs — one stats-row read, no job:
    * BENCH_R17_BM25_DELETE measured a touched-partition-probe variant
    * at 2x the small-delete wall (the probe is itself a full postings
    * scan) and rejected it. Crossover at the 1.5M-doc rung: republish
    * wins from ~1% victims (19.1 s vs 22.8 surgical at 1%, 16.4 vs
    * 22.4 at 20%) and is a wash below it (16.6 vs 17.4 at 1k victims)
    * — because one document's ~30-50 distinct terms hash across most
    * of the 64 buckets, the surgical path rewrites nearly every
    * partition even for tiny deletes at this geometry, while at
    * production bucket counts (thousands at 100 TB) a GDPR-sized
    * delete touches a small fraction and the surgical path's rewrite
    * volume stays proportional. Values > 1 disable the fallback.
    */
  val DefaultDeleteRepublishFraction = 0.01

  private[graft] def deleteRepublishFraction(s: SparkSession): Double = {
    val f = s.conf.getOption("spark.graft.bm25.deleteRepublishFraction")
      .map(_.trim.toDouble).getOrElse(DefaultDeleteRepublishFraction)
    require(f > 0,
      s"spark.graft.bm25.deleteRepublishFraction=$f must be > 0 " +
        "(victim fraction of the corpus; > 1 disables the fallback)")
    f
  }

  /** Bulk-delete path (r16 verdict #5): recompute every index piece
    * from the survivors in one pass — postings/dl anti-join, df as a
    * count over survivor postings, stats as one aggregate — staged
    * fully, then swapped dir-by-dir (rename-aside). No victim-derived
    * driver state at all, where the surgical path collects the victims'
    * vocabulary. Crash contract matches appendToBm25's: the per-dir
    * swap sequence is not atomic — the manifest family (IndexSet) is
    * the atomic path.
    */
  private[graft] def republishSurvivors(s: SparkSession, victims: DataFrame,
      outDir: String): Unit = {
    val staging = graft.sources.PartitionSwap.stagingPathFor(outDir)
    val survPost = s.read.parquet(s"$outDir/postings")
      .join(victims, Seq("doc_id"), "left_anti")
    survPost
      .repartition(col("tb")).sortWithinPartitions("term")
      .write.partitionBy("tb")
      .option("parquet.block.size", PostingsRowGroupBytes.toString)
      .parquet(s"$staging/postings")
    // df over the STAGED survivors (postings are unique per (doc, term),
    // so df = row count per term) — reading the staged copy, not the
    // live dir, keeps every staged piece derived from one corpus state
    val stagedPost = s.read.parquet(s"$staging/postings")
    stagedPost.groupBy("term").agg(count(lit(1)).as("df"))
      .write.parquet(s"$staging/df")
    val survDl = s.read.parquet(s"$outDir/dl")
      .join(victims, Seq("doc_id"), "left_anti")
    survDl.repartition(col("db")).sortWithinPartitions("doc_id")
      .write.partitionBy("db").parquet(s"$staging/dl")
    val st = s.read.parquet(s"$staging/dl")
      .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("s")).collect()(0)
    require(st.getLong(0) > 0,
      "deleting every document empties the index — nothing to republish")
    writeStats(s, st.getLong(0), st.getLong(1), staging)
    // swap the four pieces in: rename-aside per dir (writeSwapped's
    // pattern) so a failed rename aborts with both copies on disk
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    Seq("postings", "df", "dl", "stats").foreach { piece =>
      val live = new org.apache.hadoop.fs.Path(s"$outDir/$piece")
      val aside = new org.apache.hadoop.fs.Path(
        live.getParent, s".$piece-replaced-${java.util.UUID.randomUUID}")
      if (fs.exists(live)) require(fs.rename(live, aside),
        s"republish swap failed moving $live aside")
      require(fs.rename(new org.apache.hadoop.fs.Path(s"$staging/$piece"), live),
        s"republish swap failed renaming $staging/$piece -> $live; " +
          s"previous table at $aside")
      fs.delete(aside, true)
    }
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
  }

  def deleteFromBm25(s: SparkSession, docIds: Seq[Long], outDir: String): Unit = {
    import s.implicits._
    if (docIds.isEmpty) return
    val victims = docIds.distinct.toDF("doc_id")
    // bulk-delete guard (r16 verdict #5), decided upfront from the
    // victim count alone — no probe job (a touched-partition probe is
    // itself a full postings scan; measured at 2x the small-delete
    // wall and rejected, BENCH_R17_BM25_DELETE)
    val nDocs = s.read.parquet(s"$outDir/stats").collect()(0).getLong(0)
    if (docIds.distinct.size >= deleteRepublishFraction(s) * nDocs) {
      republishSurvivors(s, victims, outDir)
      return
    }
    val postings = s.read.parquet(s"$outDir/postings")
    // victim-derived state BEFORE any rewrite, all bounded: touched
    // partition ids, the victims' per-term doc counts (bounded by the
    // victims' vocabulary), and their dl sum
    val touchedTb = postings.join(broadcast(victims), Seq("doc_id"))
      .select("tb").distinct().collect().map(_.getInt(0)).toSeq
    if (touchedTb.isEmpty) return // no victim has any posting
    val lostRows = postings.join(broadcast(victims), Seq("doc_id"))
      .groupBy("term").agg(count(lit(1)).as("lost")).collect()
    val lost = s.createDataFrame(
      java.util.Arrays.asList(lostRows: _*),
      StructType(Seq(StructField("term", StringType),
        StructField("lost", LongType))))
    val dl = s.read.parquet(s"$outDir/dl")
    val victimSt = dl.join(broadcast(victims), Seq("doc_id"))
      .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("s")).collect()(0)
    val touchedDb = dl.join(broadcast(victims), Seq("doc_id"))
      .select("db").distinct().collect().map(_.getInt(0)).toSeq
    val st = s.read.parquet(s"$outDir/stats").collect()(0)
    require(st.getLong(0) - victimSt.getLong(0) > 0,
      "deleting every document empties the index — republish instead")

    // postings: survivors of the touched tb partitions, staged + swapped
    val pStaging = graft.sources.PartitionSwap.stagingPathFor(s"$outDir/postings")
    postings.filter(col("tb").isin(touchedTb.map(Integer.valueOf): _*))
      .join(broadcast(victims), Seq("doc_id"), "left_anti")
      .repartition(col("tb")).sortWithinPartitions("term")
      .write.mode("overwrite").partitionBy("tb")
      .option("parquet.block.size", PostingsRowGroupBytes.toString)
      .parquet(pStaging)
    graft.sources.PartitionSwap.swap(s, s"$outDir/postings", pStaging,
      touchedTb.map(c => s"tb=$c"))

    // dl: same surgical swap on the doc-bucket partitions
    val dStaging = graft.sources.PartitionSwap.stagingPathFor(s"$outDir/dl")
    dl.filter(col("db").isin(touchedDb.map(Integer.valueOf): _*))
      .join(broadcast(victims), Seq("doc_id"), "left_anti")
      .repartition(col("db")).sortWithinPartitions("doc_id")
      .write.mode("overwrite").partitionBy("db").parquet(dStaging)
    graft.sources.PartitionSwap.swap(s, s"$outDir/dl", dStaging,
      touchedDb.map(c => s"db=$c"))

    // df: exact subtraction, zero-df terms drop out of the vocabulary
    val newDf = s.read.parquet(s"$outDir/df")
      .join(broadcast(lost), Seq("term"), "left")
      .select(col("term"), (col("df") - coalesce(col("lost"), lit(0L))).as("df"))
      .filter(col("df") > 0)
    writeSwapped(s, newDf, s"$outDir/df")

    writeStats(s, st.getLong(0) - victimSt.getLong(0),
      st.getLong(2) - victimSt.getLong(1), outDir)
  }

  // --- document content store (r16) -------------------------------------
  // A retrieval stack that can only return ids isn't servable: the
  // production shape is retrieve → FETCH — rank against the index, then
  // read the top-k documents' content for snippets / RAG context. The
  // store shares the dl table's db = pmod(doc_id, DocBuckets) partition
  // key, so a top-k fetch reads ≤ k of the DocBuckets directories
  // (PartitionFilters) and row-group-prunes inside them on the sorted
  // doc_id — request-sized I/O at any corpus size. Lifecycle-parity
  // with the index: append lands only in touched db partitions, delete
  // stage-swaps only them, compactBm25 compacts them.

  def publishDocStore(docs: DataFrame, outDir: String): Unit =
    docs.select(col("doc_id"), col("text"))
      .withColumn("db", docBucketCol)
      .repartition(col("db")).sortWithinPartitions("doc_id")
      .write.mode("overwrite").partitionBy("db").parquet(s"$outDir/docs")

  def appendToDocStore(s: SparkSession, newDocs: DataFrame, outDir: String): Unit =
    newDocs.select(col("doc_id"), col("text"))
      .withColumn("db", docBucketCol)
      .repartition(col("db")).sortWithinPartitions("doc_id")
      .write.mode("append").partitionBy("db").parquet(s"$outDir/docs")

  def deleteFromDocStore(s: SparkSession, docIds: Seq[Long], outDir: String): Unit = {
    import s.implicits._
    if (docIds.isEmpty) return
    val victims = docIds.distinct.toDF("doc_id")
    val store = s.read.parquet(s"$outDir/docs")
    val touched = store.join(broadcast(victims), Seq("doc_id"))
      .select("db").distinct().collect().map(_.getInt(0)).toSeq
    if (touched.isEmpty) return
    val staging = graft.sources.PartitionSwap.stagingPathFor(s"$outDir/docs")
    store.filter(col("db").isin(touched.map(Integer.valueOf): _*))
      .join(broadcast(victims), Seq("doc_id"), "left_anti")
      .repartition(col("db")).sortWithinPartitions("doc_id")
      .write.mode("overwrite").partitionBy("db").parquet(staging)
    graft.sources.PartitionSwap.swap(s, s"$outDir/docs", staging,
      touched.map(c => s"db=$c"))
  }

  /** Content for a ranked id set (the FETCH half of retrieve→fetch):
    * the ids' bucket list prunes whole partition directories before the
    * literal In() prunes row groups — the serve scan opens ≤ |ids|
    * directories regardless of corpus size.
    */
  def fetchDocs(s: SparkSession, outDir: String, ids: Seq[Long]): DataFrame = {
    val dbs = ids.map(i => java.lang.Math.floorMod(i, DocBuckets.toLong).toInt)
      .distinct
    s.read.parquet(s"$outDir/docs")
      .filter(col("db").isin(dbs.map(Integer.valueOf): _*))
      .filter(col("doc_id").isin(ids.map(Long.box): _*))
      .select("doc_id", "text")
  }

  /** Serving-path scorer: BM25 top-k for a batch of (query_id, text)
    * requests against a built or loaded index. The same expression
    * tree as q148 with the corpus scalars as literals — bit-identical
    * to the oracle-checked batch ranking (RetrievalSpec); runs per
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
