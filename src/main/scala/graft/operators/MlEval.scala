package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftSession, Tables}

/** Held-out model evaluation + calibrated probability output
  * (SURVEY.md §2.2/§2.3 — the EVALUATION half of the reference's ML
  * notebook, the last uncovered capability after round 10 closed
  * training: mlClassification.ipynb runs
  * `train_test_split(test_size=0.20)`, `confusion_matrix`,
  * `precision_score`/`classification_report` on the held-out slice,
  * and ships `predict_proba` outputs as `ml_proba_asset.csv` /
  * `ml_proba_liable.csv`, consumed by DatabaseStructured.py).
  *
  * Spark-first: both operators are compositions of forms the engine
  * already trusts — q18's deterministic md5 hash split, q129's
  * quantized-GD training (on the 80% slice only), q28's one-aggregate
  * scoring plan, and q99's margin/contingency assembly. Every metric
  * is EXACT integer arithmetic over counts (precision/recall/F1 in
  * truncated micros), so DuckDB replays the whole evaluation
  * bit-for-bit.
  */
object MlEval {

  import graft.functions.TextFunctions.{md5Long, md5LongSql}

  private val K = Classify.NumClasses

  // ---------------------------------------------------------------------
  // q133: held-out evaluation — confusion matrix + per-class report.
  // ---------------------------------------------------------------------

  /** K×K confusion matrix with per-class precision/recall/F1, evaluated
    * on the 20% slice the 80%-trained model never saw.
    *
    * Shape at scale: the eval-slice scoring is q28's plan — tokenize,
    * one broadcast join against the KB weight matrix, one hash
    * aggregate keyed by doc — so it is linear in the corpus with a
    * single keyed shuffle; everything after `cells` operates on ≤ K²
    * rows (tiny literal grids and broadcast margins, the q99
    * discipline). A doc whose tokens were ALL unseen in training gets
    * the ZERO-feature-vector verdict — every head's margin is exactly
    * 0, so the argmax tie-breaks to class 0 (r11 ADVICE: the previous
    * inner-join form dropped such docs entirely, so support/recall
    * diverged from sklearn's classification_report, which counts every
    * held-out doc; this left-join form keeps support = all eval docs
    * and scores the dropped docs exactly as the linear model does on a
    * zero vector). One extra doc-keyed left join, co-partitioned with
    * the scoring aggregate it joins.
    *
    * Metric quantization: precision = tp·1e6 ∕ (tp+fp), recall =
    * tp·1e6 ∕ (tp+fn), F1 = 2·tp·1e6 ∕ (2·tp+fp+fn) — all truncating
    * integer division of exact counts (F1 from counts directly, not
    * from the rounded P/R, so there is no compounding truncation);
    * classes never predicted / never present give NULL, as
    * classification_report's zero-division branch does.
    */
  def q133HoldoutEval(s: SparkSession, dir: String): DataFrame =
    holdoutEvalWith(s, LrTrain.docWeights80Wide(s, dir),
      Tables.documents(s, dir).filter(!LrTrain.trainFilter))

  /** q137: the same held-out evaluation over the 80%-slice
    * CLASS-BALANCED fit — q135's accuracy gain proven out-of-sample
    * (the r11 verdict's remaining evaluation gap: q133 evaluates the
    * plain model, so the balanced model's generalization was only
    * in-sample).
    */
  def q137HoldoutBalanced(s: SparkSession, dir: String): DataFrame =
    holdoutEvalWith(s, LrTrain.docWeightsBalanced80Wide(s, dir),
      Tables.documents(s, dir).filter(!LrTrain.trainFilter))

  /** The shared evaluation body: score `ev` with the wide matrix `w`,
    * emit the complete K×K confusion matrix + per-class report.
    */
  private[graft] def holdoutEvalWith(s: SparkSession, w: DataFrame,
      ev0: DataFrame): DataFrame = {
    val ev = ev0.select(col("doc_id"),
      LrTrain.labelIdx(col("text")).cast(IntegerType).as("actual_cls"),
      col("text"))
    // ONE corpus scan end to end (the plan lock): explode_outer over
    // the array-filtered token list keeps a doc with NO usable tokens
    // as a single null-token row, and the weight join is LEFT OUTER,
    // so an all-unseen doc reaches the scoring aggregate with null
    // weights and coalesces to the exact zero-margin verdict (argmax
    // ties to class 0) — every held-out doc counted,
    // classification_report-style, without a second scan or a
    // join-back of the doc universe. A doc with a mix of seen and
    // unseen tokens is unchanged: sum() skips the unseen rows' nulls.
    val tok = ev
      .select(col("doc_id"), col("actual_cls"),
        // native split_words (fused filter(split(...), length>0) — the
        // HOF ran interpreted on the held-out scan; guard-spec r15).
        // explode_outer still sees an EMPTY array for all-space docs.
        explode_outer(call_function("split_words", col("text")))
          .as("token"))
      .select(col("doc_id"), col("actual_cls"),
        pmod(md5Long(col("token")), lit(LrTrain.Buckets)).as("bucket"))
    val mAggs = (0 until K).map(c => coalesce(sum(col(s"w$c")), lit(0L)).as(s"m$c"))
    val pred = tok.join(broadcast(w), Seq("bucket"), "left_outer")
      .groupBy("doc_id", "actual_cls")
      .agg(mAggs.head, mAggs.tail: _*)
      .select(col("actual_cls"),
        (-Classify.bestOfWide("m").getField("negc")).cast(IntegerType).as("pred_cls"))
    val cells = pred.groupBy("actual_cls", "pred_cls").agg(count(lit(1)).as("cnt"))
    // K×K literal grid so absent (actual, pred) cells surface as exact
    // zeros — the confusion matrix is COMPLETE even for classes the
    // eval slice never shows
    val classes = s.range(K).select(col("id").cast(IntegerType).as("cls"))
    val grid = classes.select(col("cls").as("actual_cls"))
      .crossJoin(classes.select(col("cls").as("pred_cls")))
    val full = grid.join(cells, Seq("actual_cls", "pred_cls"), "left_outer")
      .select(col("actual_cls"), col("pred_cls"), coalesce(col("cnt"), lit(0L)).as("cnt"))
    val pCols = (0 until K).map(c =>
      sum(when(col("pred_cls") === c, col("cnt")).otherwise(0L)).as(s"p$c"))
    val byActual = full.groupBy("actual_cls").agg(
      sum(when(col("pred_cls") === col("actual_cls"), col("cnt")).otherwise(0L)).as("tp"),
      (sum("cnt").as("support") +: pCols): _*)
    // pred_total (column sums of the confusion matrix) via a window
    // over the K-row frame, NOT a second aggregation branch: a second
    // groupBy over `full` duplicates the whole scoring subtree in the
    // plan (no exchange reuse across the branches — audited), so the
    // corpus would be scanned and scored twice. The window runs on K
    // rows in one partition — constant-size by construction.
    // a constant partition key (not an empty spec) — same one-group
    // semantics over K rows without WindowExec's single-partition
    // warning on every execution
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).rowsBetween(Long.MinValue, Long.MaxValue)
    val predTotal = (0 until K).map(c =>
      when(col("actual_cls") === c, sum(col(s"p$c")).over(wAll)).otherwise(0L))
      .reduce(_ + _)
    def microsOver(num: Column, den: Column): Column =
      when(den > 0, LrTrain.truncDivPos(num, den)).otherwise(lit(null).cast(LongType))
    byActual
      .withColumn("pred_total", predTotal)
      .withColumn("fp", col("pred_total") - col("tp"))
      .withColumn("fn", col("support") - col("tp"))
      .withColumn("precision_micros",
        microsOver(col("tp") * lit(1000000L), col("tp") + col("fp")))
      .withColumn("recall_micros",
        microsOver(col("tp") * lit(1000000L), col("tp") + col("fn")))
      .withColumn("f1_micros",
        microsOver(col("tp") * lit(2000000L), col("tp") * 2 + col("fp") + col("fn")))
      .select((col("actual_cls") +: (0 until K).map(c => col(s"p$c"))) ++
        Seq(col("support"), col("tp"), col("pred_total"),
          col("precision_micros"), col("recall_micros"), col("f1_micros")): _*)
      .orderBy("actual_cls")
  }

  def q133Sql: String = holdoutSqlWith(
    LrTrain.docTrainCtesFor(
      s"SELECT * FROM documents WHERE ${LrTrain.trainFilterSql}"),
    s"w${LrTrain.Iters}")

  def q137Sql: String = holdoutSqlWith(
    LrTrain.docBalTrainCtesFor(
      s"SELECT * FROM documents WHERE ${LrTrain.trainFilterSql}"),
    s"bw${LrTrain.Iters}")

  /** The eval-tail twin, parameterized by the training CTE block and
    * the name of its final weight CTE (plain w{it} / balanced bw{it}).
    * Unscored docs get COALESCE(…, 0) — the zero-margin argmax, same
    * as the Spark side.
    */
  private def holdoutSqlWith(trainCtes: String, wCte: String): String = {
    val pSel = (0 until K).map(c =>
      s"CAST(SUM(CASE WHEN pred_cls = $c THEN cnt ELSE 0 END) AS BIGINT) AS p$c")
      .mkString(",\n   ")
    s"""WITH $trainCtes,
       |ev AS (
       | SELECT doc_id, CAST(${LrTrain.labelIdxSql} AS INTEGER) AS actual_cls, text
       | FROM documents WHERE NOT (${LrTrain.trainFilterSql})),
       |etok AS (
       | SELECT doc_id, (${md5LongSql("token")} % ${LrTrain.Buckets}) AS bucket
       | FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM ev)
       | WHERE LENGTH(token) > 0),
       |escored AS (
       | SELECT doc_id, CAST(cls AS INTEGER) AS scored_cls FROM (
       |  SELECT t.doc_id, w.cls,
       |   ROW_NUMBER() OVER (PARTITION BY t.doc_id
       |     ORDER BY SUM(w.w) DESC, w.cls ASC) AS rk
       |  FROM etok t JOIN $wCte w USING (bucket)
       |  GROUP BY t.doc_id, w.cls)
       | WHERE rk = 1),
       |epred AS (
       | SELECT e.actual_cls, COALESCE(sc.scored_cls, 0) AS pred_cls
       | FROM ev e LEFT JOIN escored sc USING (doc_id)),
       |cells AS (SELECT actual_cls, pred_cls, COUNT(*) AS cnt FROM epred GROUP BY 1, 2),
       |grid AS (
       | SELECT a.cls AS actual_cls, p.cls AS pred_cls
       | FROM classes a CROSS JOIN classes p),
       |filled AS (
       | SELECT g.actual_cls, g.pred_cls, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt
       | FROM grid g LEFT JOIN cells c USING (actual_cls, pred_cls)),
       |ba AS (
       | SELECT actual_cls,
       |   CAST(SUM(CASE WHEN pred_cls = actual_cls THEN cnt ELSE 0 END) AS BIGINT) AS tp,
       |   CAST(SUM(cnt) AS BIGINT) AS support,
       |   $pSel
       | FROM filled GROUP BY 1),
       |res AS (
       | SELECT *, CAST(CASE actual_cls
       |   ${(0 until K).map(c => s"WHEN $c THEN SUM(p$c) OVER ()").mkString(" ")}
       |   END AS BIGINT) AS pred_total
       | FROM ba)
       |SELECT actual_cls, ${(0 until K).map(c => s"p$c").mkString(", ")},
       | support, tp, pred_total,
       | CASE WHEN pred_total > 0
       |   THEN (tp * 1000000) // pred_total END AS precision_micros,
       | CASE WHEN support > 0
       |   THEN (tp * 1000000) // support END AS recall_micros,
       | CASE WHEN tp + (pred_total - tp) + support > 0
       |   THEN (tp * 2000000) // (tp + (pred_total - tp) + support)
       |   END AS f1_micros
       |FROM res
       |ORDER BY actual_cls""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q134: predict_proba — calibrated per-class probabilities.
  // ---------------------------------------------------------------------

  /** Per-document per-class probabilities from the FULL-corpus trained
    * model (the engine twin of `ml_proba_*.csv`): σ per one-vs-rest
    * head rounded once to integer micros, then normalized across heads
    * with truncating integer division — after the single sigmoid
    * round, everything is integer arithmetic both engines replay
    * exactly. Probabilities of a doc sum to 1e6 minus at most K−1
    * truncation units (spec-pinned); pred_class comes from the EXACT
    * unquantized margins (q28's rule), so argmax(prob) coincides with
    * q28's verdict on every doc by construction, even when two rounded
    * sigmoids tie.
    *
    * Shape at scale: identical to q28 — one broadcast join + one hash
    * aggregate keyed by doc; the per-class axis stays packed in
    * columns until the final stack, which emits exactly K rows per doc.
    */
  /** σ(margin-micros) rounded once to integer micros — the residMicros
    * float-exposure class (one IEEE sigmoid on an exact quantized
    * input, one round). The SINGLE definition behind q134, q136, and
    * (in its array form) ClassifyStream.scoreProba — the three paths
    * are spec-pinned bit-identical, so the scalar pipeline lives here
    * once.
    */
  private[graft] def sigmoidMicros(m: Column): Column = round(
    (lit(1.0) / (lit(1.0) + exp(-(m.cast(DoubleType) / lit(1000000.0)))))
      * lit(1000000.0)).cast(LongType)

  /** prob = trunc(sgm·1e6 / stot), NULL when the quantized mass is 0. */
  private[graft] def probMicros(sgm: Column, stot: Column): Column =
    when(stot > 0, LrTrain.truncDivPos(sgm * lit(1000000L), stot))
      .otherwise(lit(null).cast(LongType))

  def q134PredictProba(s: SparkSession, dir: String): DataFrame = {
    val w = LrTrain.docWeightsWide(s, dir)
    val mAggs = (0 until K).map(c => sum(col(s"w$c")).as(s"m$c"))
    val m = LrTrain.docTok(s, dir)
      .join(broadcast(w), Seq("bucket"))
      .groupBy("doc_id").agg(mAggs.head, mAggs.tail: _*)
    def sgm(c: Int): Column = sigmoidMicros(col(s"m$c"))
    val wide = m
      .select((col("doc_id") +: (0 until K).map(c => col(s"m$c"))) ++
        (0 until K).map(c => sgm(c).as(s"s$c")): _*)
      .withColumn("stot", (0 until K).map(c => col(s"s$c")).reduce(_ + _))
      .withColumn("pred_class",
        (-Classify.bestOfWide("m").getField("negc")).cast(IntegerType))
    val stackExpr = s"stack($K, " +
      (0 until K).map(c => s"$c, s$c").mkString(", ") + ") AS (cls, sgm_micros)"
    wide.selectExpr(Seq("doc_id", "stot", "pred_class", stackExpr): _*)
      .select(col("doc_id"), col("cls").cast(IntegerType).as("cls"),
        col("sgm_micros"),
        probMicros(col("sgm_micros"), col("stot")).as("prob_micros"),
        col("pred_class"))
      .orderBy("doc_id", "cls")
  }

  // ---------------------------------------------------------------------
  // q136: SIDE-ROUTED predict_proba — the exact twin of the reference's
  // ml_proba_asset.csv / ml_proba_liable.csv: per-line per-class
  // calibrated probabilities from the model of the line's balance-sheet
  // side (q104's routing × q134's integer probability pipeline).
  // ---------------------------------------------------------------------

  def q136SideProba(s: SparkSession, dir: String): DataFrame = {
    val sided = LrTrain.sidedLines(s, dir)
    val w = LrTrain.sideWeightsWide(s, dir).withColumnRenamed("side", "w_side")
    val keys = Seq("lid", "side", "l_orderkey", "l_linenumber", "l_partkey",
      "l_suppkey")
    val tok = sided.select(keys.map(col) :+
        explode(split(Classify.lineLabel(col("l_partkey")), " ")).as("token"): _*)
      .withColumn("bucket", pmod(md5Long(col("token")), lit(LrTrain.Buckets)))
      .withColumn("w_side", col("side"))
    val mAggs = (0 until K).map(c => sum(col(s"w$c")).as(s"m$c"))
    val m = tok.join(broadcast(w), Seq("w_side", "bucket"))
      .groupBy(keys.map(col): _*).agg(mAggs.head, mAggs.tail: _*)
    def sgm(c: Int): Column = sigmoidMicros(col(s"m$c"))
    val wide = m
      .select((keys.map(col) ++ (0 until K).map(c => col(s"m$c"))) ++
        (0 until K).map(c => sgm(c).as(s"s$c")): _*)
      .withColumn("stot", (0 until K).map(c => col(s"s$c")).reduce(_ + _))
      .withColumn("pred_class",
        (-Classify.bestOfWide("m").getField("negc")).cast(IntegerType))
    val stackExpr = s"stack($K, " +
      (0 until K).map(c => s"$c, s$c").mkString(", ") + ") AS (cls, sgm_micros)"
    wide.selectExpr(keys ++ Seq("stot", "pred_class", stackExpr): _*)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("side"), col("cls").cast(IntegerType).as("cls"),
        col("sgm_micros"),
        probMicros(col("sgm_micros"), col("stot")).as("prob_micros"),
        col("pred_class"))
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "cls")
  }

  def q136Sql: String =
    s"""WITH ${Classify.sidedScoreCtes},
       |psg AS (
       | SELECT lid, cls, m,
       |  CAST(ROUND((1.0/(1.0 + EXP(-(CAST(m AS DOUBLE)/1000000.0)))) * 1000000.0)
       |    AS BIGINT) AS sgm
       | FROM sscore),
       |ptt AS (SELECT lid, CAST(SUM(sgm) AS BIGINT) AS stot FROM psg GROUP BY 1),
       |ppc AS (
       | SELECT lid, CAST(cls AS INTEGER) AS pred_class FROM (
       |  SELECT lid, cls,
       |   ROW_NUMBER() OVER (PARTITION BY lid ORDER BY m DESC, cls ASC) AS rk
       |  FROM sscore)
       | WHERE rk = 1)
       |SELECT s.l_orderkey, s.l_linenumber, s.l_partkey, s.l_suppkey, s.side,
       | CAST(g.cls AS INTEGER) AS cls, g.sgm AS sgm_micros,
       | CASE WHEN t.stot > 0 THEN (g.sgm * 1000000) // t.stot END AS prob_micros,
       | p.pred_class
       |FROM psg g JOIN ptt t USING (lid) JOIN ppc p USING (lid)
       |JOIN (SELECT DISTINCT lid, l_orderkey, l_linenumber, l_partkey,
       |       l_suppkey, side FROM sided) s USING (lid)
       |ORDER BY s.l_orderkey, s.l_linenumber, s.l_partkey, s.l_suppkey, cls""".stripMargin

  // ---------------------------------------------------------------------
  // Sided held-out proof (spec-only): the q104 side models evaluated on
  // lines their training never saw.
  // ---------------------------------------------------------------------

  /** Deterministic 80% keep-filter on the line identity hash — lid is
    * already an md5-derived long, so a pmod range is the same
    * partition-stable hash-split discipline as trainFilter.
    */
  private[graft] def sideTrainKeep: Column = pmod(col("lid"), lit(256L)) < 205

  /** Score a sided eval slice with a wide (side, bucket, w0..) matrix:
    * (side, y_cls, pred) per line — the shared scoring core of the
    * hold-out proof and the k-fold CV harness below.
    */
  private def scoreSided(ev: DataFrame, w: DataFrame): DataFrame = {
    val tok = ev.select(col("lid"), col("side"), col("y_cls"),
        explode(split(Classify.lineLabel(col("l_partkey")), " ")).as("token"))
      .select(col("lid"), col("side"), col("y_cls"),
        pmod(md5Long(col("token")), lit(LrTrain.Buckets)).as("bucket"))
    val mAggs = (0 until K).map(c => sum(col(s"w$c")).as(s"m$c"))
    tok.join(broadcast(w), Seq("side", "bucket"))
      .groupBy("lid", "side", "y_cls").agg(mAggs.head, mAggs.tail: _*)
      .select(col("side"), col("y_cls"),
        (-Classify.bestOfWide("m").getField("negc")).cast(IntegerType).as("pred"))
  }

  /** Held-out argmax accuracy per side: train the two matrices on 80%
    * of lids, score the 20% complement, return side → accuracy. The
    * spec pins this against the in-sample >95% claim — the honest
    * generalization check the r10 verdict asked for.
    */
  private[graft] def sidedHoldoutAccuracy(s: SparkSession, dir: String): Map[String, Double] = {
    val w = LrTrain.pivotWide(s,
      LrTrain.trainedSideWeightsFrom(s, dir, sideTrainKeep), Seq("side"))
    scoreSided(LrTrain.sidedLines(s, dir).filter(!sideTrainKeep), w)
      .groupBy("side")
      .agg(avg(when(col("pred") === col("y_cls"), 1.0).otherwise(0.0)).as("acc"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
  }

  // ---------------------------------------------------------------------
  // k-fold cross-validation + grid search (spec-verified orchestration —
  // the cross_val_score / GridSearchCV half of mlClassification.ipynb).
  // ---------------------------------------------------------------------

  /** The k-fold corpus, prepared once for all folds: the sided lines
    * with their fold, and their bucket counts, both checkpointed on the
    * hash(lid) layout.
    */
  private[graft] def cvCorpus(s: SparkSession, dir: String, k: Int): (DataFrame, DataFrame) = {
    // ONE shared corpus prep for all k folds: the sidedLines window and
    // the tokenize→bucket-count aggregate each run exactly once; fold
    // membership is a pure function of lid (a 60-bit non-negative md5
    // hash, so plain % is identical in both engines — no pmod/sign
    // divergence) and RIDES THE CHECKPOINTS as an integer column.
    // Sound because both frames carry lid and sideXdb's groupBy is
    // keyed on lid, so any fold predicate commutes with it
    // (bit-identical to tokenizing the filtered corpus — the form the
    // oracle replays).
    val foldOf = (col("lid") % k.toLong).cast(IntegerType)
    // CO-PARTITION the shared checkpoints by lid (unconditionally: the
    // r14/r15 crossover of BENCH_R15_FLIP.json is always passed here):
    // sidedCrossVal's batched fold chain processes the
    // (k−1)×-exploded corpus every iteration, which is past the measured
    // broadcast/co-partition crossover even at sf0.1 — without this the
    // planner broadcast the multi-M-row exploded frame per iteration and
    // exchanged ~57 MB margin frames per iteration (measured 30–70 s
    // passes with GC storms). hash(lid) is a SUBSET of every downstream
    // grouping/join key — (lid,tf,side) margins, the lid label join, the
    // (lid,tf,side) gradient join, the (lid,fold,side,y_cls) scoring
    // aggregate — and the checkpoint keeps that layout, so ONE corpus
    // exchange here makes every
    // per-iteration corpus operation exchange-free; only the KB-scale
    // gradient/nDf/summary aggregates still shuffle. Explicit count so
    // AQE cannot coalesce one side out of co-partition.
    val np = s.sessionState.conf.numShufflePartitions
    val sidedAll = GraftSession.checkpoint(
      LrTrain.sidedLines(s, dir)
        .withColumn("fold", foldOf)
        .repartition(np, col("lid")), Seq("lid"))
    // sideXdb's groupBy(lid, side, bucket) is satisfied by hash(lid), so
    // this aggregate — and the fold fit's scoring/label/margin frames —
    // read the materialized layout in place
    val xdbAll = GraftSession.checkpoint(
      LrTrain.sideXdb(sidedAll).withColumn("fold", foldOf), Seq("lid"))
    (sidedAll, xdbAll)
  }

  /** k-fold CV over the sided models: fold id = pmod(lid, k) — the lid
    * is already an md5-derived hash, so folds are deterministic,
    * disjoint, exhaustive, and stable under any partitioning. Each fold
    * trains the E28 loop (step denominator `lrDen`) on the complement
    * and scores the fold; returns (side, fold, n_eval, n_correct,
    * acc_micros) as a local frame.
    */
  private[graft] def sidedCrossVal(s: SparkSession, dir: String, k: Int,
      lrDen: Long): DataFrame = {
    require(k >= 2, s"k-fold needs k >= 2, got $k")
    require(lrDen > 0, s"the step denominator must be positive, got $lrDen")
    val (sidedAll, xdbAll) = cvCorpus(s, dir, k)
    // BATCHED FOLDS (r17 verdict item 1): the k complement fits run as
    // ONE wide-GD chain with (tf, side) as the model key — one gradient
    // job per iteration and one codegen surface, instead of k
    // concurrent per-fold chains whose inlined fold literals forced
    // every generated class to Janino-compile and C2-JIT k times over
    // (q138's 12.7–149 s per-pass JIT churn; the wall was compile time,
    // not plan cost). Per-fold weights are BIT-IDENTICAL: each integer
    // gradient sum is keyed by (tf, side, …) and the tf=f slice of the
    // exploded frame is exactly the fold-f complement (see
    // trainedSideWeightsAllFolds). The concurrency pool went with the
    // per-fold jobs: a single chain has no independent jobs to overlap.
    val w = LrTrain.trainedSideWeightsAllFolds(
      sidedAll, xdbAll, k, LrTrain.Iters, lrDen)
    // Fold scoring, also one pass: each eval line joins its OWN fold's
    // matrix — the (fold, side, bucket) broadcast join against the
    // local wide weights, then the same grouped argmax as scoreSided
    // (physical duplicate lid rows fold into one margin group, as
    // before). Inner join semantics unchanged: a line whose buckets all
    // miss its fold's matrix drops out, exactly as in the per-fold
    // scoring.
    val tok = sidedAll.select(col("lid"), col("side"), col("fold"), col("y_cls"),
        explode(split(Classify.lineLabel(col("l_partkey")), " ")).as("token"))
      .select(col("lid"), col("side"), col("fold"), col("y_cls"),
        pmod(md5Long(col("token")), lit(LrTrain.Buckets)).as("bucket"))
    val mAggs = (0 until K).map(c => sum(col(s"w$c")).as(s"m$c"))
    val pred = tok
      .join(broadcast(w.withColumnRenamed("tf", "fold")),
        Seq("fold", "side", "bucket"))
      .groupBy("lid", "fold", "side", "y_cls")
      .agg(mAggs.head, mAggs.tail: _*)
      .select(col("side"), col("fold"), col("y_cls"),
        (-Classify.bestOfWide("m").getField("negc")).cast(IntegerType).as("pred"))
    val folds = pred.groupBy("side", "fold")
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("pred") === col("y_cls"), 1L).otherwise(0L)).as("n_correct"))
      .select(col("side"), col("fold"), col("n_eval"), col("n_correct"),
        // truncated micros of exact counts — oracle-replayable (q138)
        LrTrain.truncDivPos(col("n_correct") * lit(1000000L), col("n_eval"))
          .as("acc_micros"))
      // deterministic row order (the per-fold form awaited futures in
      // fold order; a single grouped collect has no inherent order)
      .orderBy("side", "fold")
    // materialize the k × sides summary (a handful of rows) and
    // RELEASE the two corpus-sized checkpoints deterministically
    // (r13 verdict item 5): the r13 form returned a frame that
    // scored lazily from them, so every CV — times every
    // concurrent grid point — pinned two full-corpus block sets in
    // storage memory until a driver GC. The local result is
    // plan-equivalent for every consumer (orderBy/agg over ≤ 2k
    // rows) and the oracle row is unchanged.
    val local = LrTrain.asLocal(folds)
    GraftSession.free(sidedAll); GraftSession.free(xdbAll)
    local
  }

  /** q138: the k-fold CV summary as an oracle-checked registry row
    * (k = 3 — 2 sides × 3 folds; acc in truncated integer micros, so
    * DuckDB replays the whole sweep: 3 complement-trained side-model
    * chains + 3 fold scorings).
    */
  val CvFolds = 3

  def q138SidedCrossval(s: SparkSession, dir: String): DataFrame =
    sidedCrossVal(s, dir, CvFolds, LrTrain.LrDen).orderBy("side", "fold")

  def q138Sql: String = {
    val it = LrTrain.Iters
    def foldCtes(f: Int): String =
      s"""${LrTrain.sideTrainCtesP(s"f$f", s"SELECT * FROM sided WHERE lid % $CvFolds <> $f")},
         |e${f}tok AS (
         | SELECT lid, side, CAST(l_partkey % 5 AS INTEGER) AS y_cls,
         |  (${md5LongSql("token")} % ${LrTrain.Buckets}) AS bucket
         | FROM (SELECT lid, side, l_partkey, UNNEST(string_split(label, ' ')) AS token
         |       FROM sided WHERE lid % $CvFolds = $f)),
         |e${f}m AS (
         | SELECT t.lid, t.side, t.y_cls, w.cls, SUM(w.w) AS m
         | FROM e${f}tok t JOIN f${f}sw$it w USING (side, bucket)
         | GROUP BY 1, 2, 3, 4),
         |e${f}p AS (
         | SELECT side, y_cls, CAST(cls AS INTEGER) AS pred FROM (
         |  SELECT side, y_cls, cls,
         |   ROW_NUMBER() OVER (PARTITION BY lid ORDER BY m DESC, cls ASC) AS rk
         |  FROM e${f}m)
         | WHERE rk = 1),
         |r$f AS (
         | SELECT side, CAST($f AS INTEGER) AS fold,
         |  CAST(COUNT(*) AS BIGINT) AS n_eval,
         |  CAST(SUM(CASE WHEN pred = y_cls THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
         | FROM e${f}p GROUP BY 1)""".stripMargin
    s"""WITH ${Classify.sidedCte},
       |${(0 until CvFolds).map(foldCtes).mkString(",\n")}
       |SELECT side, fold, n_eval, n_correct,
       | (n_correct * 1000000) // n_eval AS acc_micros
       |FROM (${(0 until CvFolds).map(f => s"SELECT * FROM r$f").mkString(" UNION ALL ")})
       |ORDER BY side, fold""".stripMargin
  }

  /** GridSearchCV's shape: one CV sweep per step denominator, one
    * summary row (lrDen, mean accuracy) each, points submitted
    * CONCURRENTLY (r12 verdict item 6): each point — like the fold fits
    * inside it — spends much of its wall time at driver-side
    * parameter-server barriers, so overlapping points keeps the cluster
    * busy. The points share the caller's session: lrDen is an argument
    * of the fit, so no point reads or writes session conf. Results
    * return in grid order; a failed point fails the search only after
    * every other point has finished (GraftSession.concurrently).
    */
  private[graft] def sidedGridSearch(s: SparkSession, dir: String,
      lrDens: Seq[Int], k: Int): Seq[(Int, Double)] =
    GraftSession.concurrently(lrDens.map { den => () =>
      val mean = sidedCrossVal(s, dir, k, den.toLong)
        .agg(avg(col("acc_micros").cast(DoubleType) / lit(1000000.0)))
        .head().getDouble(0)
      den -> mean
    })

  def q134Sql: String = {
    val it = LrTrain.Iters
    s"""WITH ${LrTrain.docTrainCtes},
       |sm AS (
       | SELECT t.doc_id, w.cls, SUM(w.w) AS m
       | FROM tok t JOIN w$it w USING (bucket) GROUP BY 1, 2),
       |sg AS (
       | SELECT doc_id, cls, m,
       |  CAST(ROUND((1.0/(1.0 + EXP(-(CAST(m AS DOUBLE)/1000000.0)))) * 1000000.0)
       |    AS BIGINT) AS sgm
       | FROM sm),
       |tt AS (SELECT doc_id, CAST(SUM(sgm) AS BIGINT) AS stot FROM sg GROUP BY 1),
       |pc AS (
       | SELECT doc_id, CAST(cls AS INTEGER) AS pred_class FROM (
       |  SELECT doc_id, cls,
       |   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY m DESC, cls ASC) AS rk
       |  FROM sm)
       | WHERE rk = 1)
       |SELECT s.doc_id, CAST(s.cls AS INTEGER) AS cls, s.sgm AS sgm_micros,
       | CASE WHEN t.stot > 0 THEN (s.sgm * 1000000) // t.stot END AS prob_micros,
       | p.pred_class
       |FROM sg s JOIN tt t USING (doc_id) JOIN pc p USING (doc_id)
       |ORDER BY s.doc_id, cls""".stripMargin
  }
}
