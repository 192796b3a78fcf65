package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.operators.{Dedup, Edgar, LrTrain, MlEval, Relational, Similarity}

/** Physical-plan audits (SURVEY.md §5): these lock in the properties that
  * make the engine scale — pushdown reaching the parquet scan, column
  * pruning, broadcast joins for dims, no cartesian products, and
  * whole-stage codegen on the hot paths.
  */
class PlanSpec extends GraftSpec {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q01 pushes the shipdate filter into the parquet scan") {
    val p = planOf(Relational.q01PricingSummary(spark, sfDir))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("q01 prunes the scan to the referenced columns only") {
    val p = planOf(Relational.q01PricingSummary(spark, sfDir))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag") && !readSchema.contains("l_partkey"),
      s"scan should not read unused columns: $readSchema")
  }

  test("q02 broadcasts the nation dim") {
    val p = planOf(Relational.q02JoinTopN(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q02 top-N is TakeOrdered, not a global sort") {
    val p = planOf(Relational.q02JoinTopN(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("no cartesian product anywhere in the dedup pair generation") {
    val p = planOf(Dedup.q41NgramJaccard(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q109 bucket self-join: sort-merge on (band, key), one exchange reused by both sides") {
    // the MEASURED decision (BENCH_R12_Q109.json): SMJ beat SHUFFLE_HASH
    // (13.9 vs 19.1 s at gen-sf10) because both sides are one reused
    // payload exchange and the in-partition sort runs on tiny clustered
    // cells — pin it so a silent strategy flip is caught. Auto-broadcast
    // is disabled for the assertion: at sf0.001 stats would broadcast
    // the whole bucket side, which is exactly the strategy a 100 TB run
    // can never take; the pinned shape is the at-scale one. (The
    // remaining BroadcastNestedLoopJoin in the plan is the audited
    // one-ROW scalar-dial crossJoin, not pair generation.)
    // exchange reuse is an AQE RUNTIME decision, so the query must
    // execute before the final plan shows it
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(thresholdKey)
    val p = try {
      spark.conf.set(thresholdKey, "-1")
      val df = Dedup.q109EmbedLsh(spark, sfDir)
      df.collect()
      planOf(df)
    } finally spark.conf.set(thresholdKey, saved)
    assert(p.contains("isFinalPlan=true"), p)
    assert(p.contains("SortMergeJoin [band"), p)
    assert(p.contains("ReusedExchange"), "both join sides must share ONE exchange:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ANN brute force uses broadcast nested loop (bounded probe side)") {
    val p = planOf(Similarity.q45AnnTopk(spark, sfDir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q01 aggregation runs inside whole-stage codegen") {
    // AQE prints codegen stages only in the FINAL plan — execute first
    val df = Relational.q01PricingSummary(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // codegen stages render as "*(n) Operator" in the compact plan string
    assert(p.contains("*(1)") && p.linesIterator.exists(l => l.contains("*(") && l.contains("HashAggregate")), p)
  }

  test("explode + agg keeps a partial (map-side) aggregate before the shuffle") {
    val p = planOf(Relational.q12ExplodeTokens(spark, sfDir))
    // two HashAggregates (partial + final) around one Exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q19 range join stays an equi-join (no nested-loop blow-up)") {
    val p = planOf(Relational.q19RangeJoin(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q16 decorrelates to one aggregate + equi-join (no per-row subquery)") {
    val p = planOf(Relational.q16CorrelatedSubquery(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p) // partial+final agg
  }

  test("q18 hash sample prunes the scan to the projected columns") {
    val p = planOf(Relational.q18HashSample(spark, sfDir))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("o_orderkey") && !readSchema.contains("o_orderdate"),
      s"scan should not read unused columns: $readSchema")
  }

  test("q62 bloom pre-filter sits on the scan side, below the semi join") {
    val p = planOf(Dedup.q62BloomMembership(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    // the UDF probe must appear as a Filter, and the exact join as a semi
    assert(p.contains("LeftSemi"), p)
  }

  test("q34 html page assembly aggregates map-side before its shuffle") {
    val p = planOf(Edgar.q34HtmlExtract(spark, sfDir))
    // collect_list runs as ObjectHashAggregate / SortAggregate pairs
    assert("Aggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q65 describe reads the table exactly once (unpivot, not N scans)") {
    val p = planOf(Relational.q65Describe(spark, sfDir))
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
    assert(p.contains("Expand"), p)
  }

  test("q41 posting-list jaccard has no join in the pair generation") {
    val p = planOf(Dedup.q41NgramJaccard(spark, sfDir))
    // joins only attach the small per-doc size table AFTER pair counting;
    // pair generation itself is explode over grouped posting lists
    assert(!p.contains("SortMergeJoin") ||
      p.indexOf("Generate explode") < p.indexOf("SortMergeJoin"), p)
  }

  test("q75/q76 scan the corpus exactly once (window form, no count-table join)") {
    for (df <- Seq(Dedup.q75PassageDedup(spark, sfDir),
        operators.TextOps.q76BigramLm(spark, sfDir))) {
      val p = planOf(df)
      assert("FileScan parquet".r.findAllIn(p).size == 1, p)
      assert("Generate explode".r.findAllIn(p).size == 1, p)
      assert(!p.contains("Join"), p)
    }
  }

  test("q71 islands windows are user-keyed, never a global single partition") {
    val p = planOf(Relational.q71GapsIslands(spark, sfDir))
    assert(!p.contains("SinglePartition"), p)
    assert(p.contains("hashpartitioning(user_id"), p)
  }

  test("q72 range frame runs on one customer-keyed exchange") {
    val p = planOf(Relational.q72RangeFrame(spark, sfDir))
    assert(p.contains("hashpartitioning(o_custkey"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("q79 SQL front door pushes the segment filter into the customer scan") {
    val df = Relational.q79SqlFrontend(spark, sfDir)
    val p = planOf(df)
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), p)
    // final top-100 is TakeOrdered, not a global sort
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("TakeOrderedAndProject"), finalPlan)
  }

  test("q80 shard packing prunes the document scan to (source, doc_id, text)") {
    val p = planOf(operators.Curation.q80ShardPack(spark, sfDir))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("lang") && !readSchema.contains("n_chars"), readSchema)
    assert(!p.contains("SinglePartition"), p)
  }

  test("q88 ffill window is priority-keyed, never a global single partition") {
    val p = planOf(operators.Extended.q88TsFill(spark, sfDir))
    // the only SinglePartition allowed is none: calendar explode, join,
    // and the ffill window are all keyed by priority
    assert(!p.contains("SinglePartition"), p)
  }

  test("q90 kmeans assignment joins against a one-row broadcast build") {
    val df = Similarity.q90Kmeans(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // centroids enter as BroadcastNestedLoopJoin (1-row array build);
    // the corpus is never shuffled for assignment — the only exchanges
    // are the centroid updates and the final 8-row report
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q92 winsorize broadcasts the percentile table back onto one scan") {
    val df = operators.Extended.q92Winsorize(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q95 struct-argmax is one partial+final aggregate pair, no window") {
    val p = planOf(operators.Extended.q95ArgmaxAgg(spark, sfDir))
    assert(!p.contains("Window"), p)
    // struct min/max buffers are not hash-aggregable, so Spark plans a
    // SortAggregate — STILL a partial (map-side combining) + final pair
    // around one exchange: the shuffle carries one struct per group per
    // partition, which is the property that matters at scale
    assert(p.contains("partial_min") && p.contains("partial_max"), p)
    assert("SortAggregate|HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q93 xml parse prunes the orders scan to the three synthesized columns") {
    val p = planOf(Edgar.q93XmlExtract(spark, sfDir))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("o_orderdate") && !readSchema.contains("o_orderpriority"),
      readSchema)
  }

  test("q53 corpus count is in-lineage — no driver-side count job at build") {
    // a d.count() inside the query builder (the pre-round-10 shape)
    // would run a job here; the in-lineage form must not
    val (df, jobs) = JobCount(spark)(operators.TextOps.q53Tfidf(spark, sfDir))
    assert(jobs == 0, s"query construction ran $jobs jobs")
    val p = planOf(df)
    // the one-row corpus count rides a broadcast nested-loop join inside
    // the same plan (1-row build side: bounded, not a real cartesian)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("n_docs"), p)
  }

  test("q53 df derives from tf's shuffle output — corpus scanned once, not per branch") {
    // exchange reuse is an AQE runtime decision: execute, then read the
    // final plan. The tautological tf >= 1 filter in q53Tfidf exists for
    // exactly this assertion — without it the optimizer rewrites the df
    // branch's inner aggregate into a bare DISTINCT, the subtrees stop
    // being canonically equal, and the corpus is scanned + re-exploded a
    // second time for the df aggregate (the pre-r17 3-scan shape)
    val df = operators.TextOps.q53Tfidf(spark, sfDir)
    df.collect()
    val full = planOf(df)
    assert(full.contains("isFinalPlan=true"), full)
    // the executed-plan string carries the pre-AQE initial plan below the
    // final one — grade the final section only
    val p = full.split("== Initial Plan ==")(0)
    assert(p.contains("ReusedExchange"), "df branch must reuse tf's exchange:\n" + p)
    val scans = p.linesIterator.count(l => l.contains("Scan parquet") || l.contains("FileScan"))
    assert(scans == 2, s"expected the tf scan + the footer-only n_docs count, got $scans scans:\n$p")
  }

  test("q28/q104 score from the model registry — training runs once, not per query") {
    import graft.operators.{Classify, LrTrain}
    // first touch may train (populating the JVM-wide registry); after
    // that, building the scoring query must run ZERO jobs beyond the
    // cached-artifact localization, and the executed plan must be a
    // LocalTableScan broadcast into the token scan — no GD iteration
    // stages (the pre-fix shape re-ran 3 localCheckpoint'ed iterations
    // per execution: q104 0.6 s -> 28 s in the r10 full-suite bench)
    LrTrain.docWeights(spark, sfDir).count()   // warm the registry
    LrTrain.sideWeights(spark, sfDir).count()
    val ((p28, p104), jobs) = JobCount(spark)(
      (planOf(Classify.q28ClassifyLr(spark, sfDir)), planOf(Classify.q104DualLr(spark, sfDir))))
    assert(jobs == 0, s"scoring-query construction ran $jobs jobs")
    Seq("q28" -> p28, "q104" -> p104).foreach { case (n, p) =>
      assert(p.contains("LocalTableScan"), s"$n weights are not a local artifact:\n$p")
      assert(!p.contains("Checkpoint"), s"$n still carries training stages:\n$p")
    }
  }

  test("q131 pair generation is half-blocked — never a nation-only join") {
    // the pigeonhole blocking joins on (nation, fragment-half); a
    // regression to the per-nation cross product would re-quadratize
    // the pair space (measured 0.65 -> 8.7 s at 10x suppliers)
    val p = planOf(Edgar.q131PartialRatio(spark, sfDir))
    // the positive assertion must match the PAIR JOIN's own key list —
    // a bare contains("key#") was satisfied by the halves/subs column
    // projections even with a nation-only join (r10 ADVICE)
    assert("Join \\[nk#\\d+, key#\\d+\\]".r.findFirstIn(p).isDefined,
      s"blocking key missing from the pair join:\n$p")
    assert("Join \\[nk#\\d+\\],".r.findFirstIn(p).isEmpty,
      s"nation-only pair join reappeared:\n$p")
  }

  test("q133 evaluation scans the corpus exactly once (windowed column sums)") {
    // pred_total as a second groupBy branch over the cell frame
    // duplicated the entire scoring subtree — corpus scanned and
    // scored twice with no exchange reuse (audited r11). The window
    // form references the K-row aggregate once.
    import graft.operators.MlEval
    val p = planOf(MlEval.q133HoldoutEval(spark, sfDir))
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 corpus scan, found $scans:\n$p")
  }

  test("q129 training keeps every intended broadcast (no guard demotion)") {
    import graft.operators.LrTrain
    // The wide GD loop broadcasts the weight matrix into the margin join
    // every iteration. When the weights were localCheckpoint'ed frames,
    // their inherited origin-plan estimate compounded past the guard
    // limit and BroadcastGuard demoted the join to a sort-merge over the
    // full feature frame — silently, every iteration (cold side fits
    // 218-344 s at gen-sf1). The parameter-server form (asLocal weight
    // relations) keeps the estimate exact; this pins that: training both
    // models end-to-end must strip NOTHING.
    val before = graft.plans.BroadcastGuard.stripped.get()
    LrTrain.q129LrTrain(spark, sfDir).count()
    graft.operators.LrTrain.trainedSideWeights(spark, sfDir).count()
    // r11: the balanced loop adds a class-count broadcast per
    // iteration — same demotion class, same zero-tolerance
    LrTrain.q135LrBalanced(spark, sfDir).count()
    val after = graft.plans.BroadcastGuard.stripped.get()
    assert(after == before,
      s"BroadcastGuard demoted ${after - before} broadcast(s) during LR training")
  }

  test("q62 bloom capacity is a constant — no eval-count job at build") {
    val (_, jobs) = JobCount(spark)(Dedup.q62BloomMembership(spark, sfDir))
    // the bloomFilter aggregation itself accounts for up to two jobs
    // (treeAggregate); the pre-round-10 shape added a counting pass on
    // top (3+) — that extra pass is what must be gone
    assert(jobs <= 2, s"q62 build ran $jobs jobs")
  }

  // --- the five layout checkpoints (GraftSession.checkpoint with keys) --
  // Each check reads a consumer of the checkpoint and counts the hash
  // exchanges on the layout key: 0 means the consumer reads the
  // materialized layout in place.

  private def assertInPlace(df: DataFrame, keys: String*): Unit = {
    df.collect()
    val p = planOf(df)
    keys.foreach(k => assert(!p.contains(s"Exchange hashpartitioning($k#"), s"$k:\n$p"))
  }

  /** The executed plans of the actions `body` runs on `s`. */
  private def plansOf[T](s: SparkSession)(body: => T): (T, Seq[String]) = {
    val plans = ArrayBuffer.empty[String]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized(plans += qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    // JobCount's closing sentinel drains the bus the listener rides on
    try (JobCount(s)(body)._1, plans.synchronized(plans.toSeq))
    finally s.listenerManager.unregister(listener)
  }

  // CC tables this small would be broadcast, which hides the layout:
  // the fixture plans on a child session with broadcast joins off
  private lazy val cc = {
    val s = GraftSession.childSessionFrom(spark)
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val pairs = s.createDataFrame(Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)))
      .toDF("d1", "d2")
    val (edges, labels, np) = Dedup.ccLayout(pairs)
    (edges, labels, np, Dedup.ccStep(edges, labels, np))
  }

  test("CC edges keep hash(dst): the hop join reads them in place") {
    val (edges, labels, np, _) = cc
    assertInPlace(Dedup.ccHop(edges, labels, np), "dst")
  }

  test("CC labels keep hash(doc_id): the first hop reads them in place") {
    val (edges, labels, np, _) = cc
    assertInPlace(Dedup.ccHop(edges, labels, np), "doc_id")
  }

  test("CC round output keeps hash(doc_id): the next hop reads it and the edges in place") {
    val (edges, _, np, step) = cc
    assertInPlace(Dedup.ccHop(edges, step.select("doc_id", "label"), np), "doc_id", "dst")
  }

  private def withCv[T](s: SparkSession)(check: (DataFrame, DataFrame) => T): T = {
    val (sided, xdb) = MlEval.cvCorpus(s, sfDir, 3)
    try check(sided, xdb) finally { GraftSession.free(sided); GraftSession.free(xdb) }
  }

  test("CV sidedAll keeps hash(lid): the bucket-count aggregate reads it in place") {
    withCv(spark)((sided, _) => assertInPlace(LrTrain.sideXdb(sided), "lid"))
  }

  test("CV xdbAll keeps hash(lid): a per-line margin aggregate reads it in place") {
    withCv(spark)((_, xdb) =>
      assertInPlace(xdb.groupBy("lid", "fold", "side").agg(sum("x")), "lid"))
  }

  test("q138 fold fit: the 3-key join reads hash(lid) in place, same weights at all-keys") {
    def fit(s: SparkSession): (Seq[Row], Seq[String]) = withCv(s)((sided, xdb) =>
      plansOf(s)(LrTrain.trainedSideWeightsAllFolds(sided, xdb, 3,
        LrTrain.Iters, LrTrain.LrDen).collect().toSeq))
    val gradJoin = "SortMergeJoin \\[lid#\\d+L, tf#\\d+, side#\\d+\\]".r
    val (w, plans) = fit(spark)
    val iters = plans.filter(gradJoin.findFirstIn(_).isDefined)
    assert(iters.size >= LrTrain.Iters, plans.mkString("\n\n"))
    iters.foreach(p => assert(!p.contains("Exchange hashpartitioning(lid"), p))
    // requireAllClusterKeysForCoPartition=false is what lets hash(lid)
    // serve the three-key join: at true the join re-exchanges, and the
    // weights are the same bits
    val strict = GraftSession.childSessionFrom(spark)
    strict.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "true")
    val (wStrict, strictPlans) = fit(strict)
    assert(strictPlans.exists(p => gradJoin.findFirstIn(p).isDefined &&
      p.contains("Exchange hashpartitioning(lid")))
    assert(wStrict.map(_.toString).sorted == w.map(_.toString).sorted)
  }

  test("q138 fold fit: the merge hint reaches only its join, so Spark logs no hint error") {
    val hintErrors = ArrayBuffer.empty[String]
    val appender = new AbstractAppender("graft-hint-spec", null, null, true, Array.empty) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if (e.getLevel.isMoreSpecificThan(Level.WARN) && msg.contains("not part of a join relation"))
          hintErrors.synchronized(hintErrors += msg)
      }
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    try withCv(spark)((sided, xdb) => LrTrain.trainedSideWeightsAllFolds(sided, xdb, 3,
      LrTrain.Iters, LrTrain.LrDen).collect())
    finally { root.removeAppender(appender); appender.stop() }
    assert(hintErrors.isEmpty, hintErrors.mkString("\n"))
  }
}
