package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftSession, Tables}

/** Distributed hashed-TF logistic-regression TRAINING (SURVEY.md §2.2 —
  * the reference fits its asset/liability LR models in
  * notebook/ml-model/mlClassification.ipynb and consumes the joblib
  * artifacts at run_build_database.py:43,301-327; until round 10 the
  * engine only had INFERENCE over seeded weights).
  *
  * Spark-first design: full-batch gradient descent is nothing but the
  * joins + aggregations the engine already runs everywhere —
  *
  *   margins   m_dc = Σ_b x_db · w_t(c, b)         (xdb ⋈ broadcast w)
  *   residuals r_dc = σ(m_dc) − y_dc               (pointwise)
  *   gradient  G_cb = Σ_d r_dc · x_db              (keyed join on doc)
  *   update    w_{t+1} = w_t − G/(n·LrDen)         (tiny keyed join)
  *
  * — so one iteration is two keyed shuffles over the corpus plus a
  * broadcast of the weight matrix (classes × buckets rows: KBs). The
  * class axis is packed in COLUMNS (w0..w4) so no shuffle carries a
  * (doc × class) row explosion; the weight matrix is re-materialized as
  * a driver-local relation between iterations (parameter-server shape)
  * so the plan stays linear in the iteration count; the feature frame
  * (xdb) is persisted once and reused across iterations — each
  * iteration is exactly one pass over the cached features, the textbook
  * distributed-LR shape.
  *
  * ORACLE-EXACT BY QUANTIZATION (the q90 Lloyd-loop discipline): weights
  * live in integer MICROS, margins are exact long sums of those micros,
  * residuals are rounded to integer micros before the gradient sum, and
  * the learning-rate division truncates toward zero on both engines
  * (DuckDB's `//`) — so every iteration is integer arithmetic both
  * engines replay bit-for-bit. The
  * only float ops are the pointwise sigmoid on an exact quantized input
  * and one IEEE multiply before an integer round, the same exposure
  * class as every round(…, 6) in the codebase.
  */
object LrTrain {

  // Hyperparameters are FIXED so the oracle can replay training exactly.
  // η = 1/LrDen of the mean gradient keeps full-batch descent provably
  // monotone on this feature scale (measured: loss strictly decreases;
  // larger steps oscillate). Honest limitation, asserted in the spec: the
  // documents corpus is 79% one class, and 3 iterations of one-vs-rest
  // GD leave the cross-head argmax prior-dominated even though every
  // individual head separates its class (positive margin gap). The SIDED
  // models (balanced classes, separable vocab) reach >95% argmax
  // accuracy in the same 3 iterations — the reference's actual line-item
  // use case. Production would simply raise Iters; the shape per
  // iteration (two keyed shuffles + a broadcast) does not change.
  val Buckets: Int = Classify.NumBuckets // 1024 hashed-TF buckets
  val Classes: Int = Classify.NumClasses // 5 one-vs-rest heads

  /** Iteration count and step denominator. The Spark plans and the
    * DuckDB twin SQL both read these, so the twin unrolls exactly the
    * iterations the plans run. The training paths take them as
    * arguments; only specs pass other values (e.g. the balanced fit's
    * 12-iteration accuracy claim and the grid search's lrDen points).
    */
  val Iters: Int = 3
  val LrDen: Long = 16L

  import graft.functions.TextFunctions.{md5Long, md5LongSql}

  /** Truncating integer division for b > 0, matching DuckDB's `//`
    * (verified: -7 // 2 = -3, toward zero — NOT floor). Implemented as
    * Spark's integral `div` (Java long division — truncates toward
    * zero, exact over the FULL long range; the earlier double-based
    * form required both operands < 2^53, a precondition the balanced
    * residual rescale r·n_total would cross near 10^10 docs). Null on
    * b = 0, like the `when`-guarded callers expect.
    */
  private[graft] def truncDivPos(a: Column, b: Column): Column =
    call_function("div", a, b)

  /** round((σ(m) − y)·1e6) as an exact long: the quantized residual. */
  private def residMicros(mMicros: Column, y: Column): Column = {
    val p = lit(1.0) / (lit(1.0) + exp(-(mMicros.cast(DoubleType) / lit(1000000.0))))
    round((p - y) * lit(1000000.0)).cast(LongType)
  }

  /** A model family's per-class residual in micros, from (margin
    * micros, y_cls, class index).
    */
  private type Resid = (Column, Column, Int) => Column

  private val lrResid: Resid = (m, y, c) =>
    residMicros(m, when(y === c, 1.0).otherwise(0.0))

  // ---------------------------------------------------------------------
  // Documents model (feeds q28): targets are the E11 rule labels — the
  // engine's stand-in for the reference's manually labeled training set.
  // ---------------------------------------------------------------------

  /** Rule label → class index, first match wins (same order as E11). */
  private[graft] def labelIdx(text: Column): Column =
    when(text.contains("customer"), 0)
      .when(text.contains("order"), 1)
      .when(text.contains("stream"), 2)
      .when(text.contains("data"), 3)
      .otherwise(lit(4))

  private[graft] val labelIdxSql: String =
    """CASE WHEN text LIKE '%customer%' THEN 0
      | WHEN text LIKE '%order%' THEN 1
      | WHEN text LIKE '%stream%' THEN 2
      | WHEN text LIKE '%data%' THEN 3
      | ELSE 4 END""".stripMargin

  /** Token occurrences → hash buckets (the q28 feature pipeline), over
    * an arbitrary documents slice — q133's held-out evaluation trains
    * on the 80% split and scores the 20%, so both tokenizer and trainer
    * are parameterized by the slice, not the table.
    */
  private[graft] def docTokFrom(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .select(col("doc_id"), pmod(md5Long(col("token")), lit(Buckets)).as("bucket"))

  private[graft] def docTok(s: SparkSession, dir: String): DataFrame =
    docTokFrom(Tables.documents(s, dir))

  private def docLabelsFrom(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), labelIdx(col("text")).as("y_cls"))

  private def docLabels(s: SparkSession, dir: String): DataFrame =
    docLabelsFrom(Tables.documents(s, dir))

  /** Deterministic 80/20 train split — q18's hash-sampling discipline
    * (md5 prefix, no RNG, stable under any partitioning/retry/engine):
    * first two hex chars of md5(doc_id) < 'cd' keeps 205/256 ≈ 80.1%.
    * The eval slice is the exact complement, so the two are disjoint
    * and exhaustive by construction — the engine twin of the
    * reference's train_test_split(test_size=0.20, random_state=…)
    * (mlClassification.ipynb), made reproducible without seed
    * coordination.
    */
  private[graft] def trainFilter: Column =
    substring(md5(col("doc_id").cast(StringType)), 1, 2) < "cd"

  private[graft] val trainFilterSql: String =
    "substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'"

  /** Weight matrices are MODEL STATE, not data: ≤ classes × buckets
    * rows (KBs), bounded by the model, not the corpus. Materialize them
    * as driver-local relations — the parameter-server shape Spark ML's
    * own LR uses for its coefficient vector — so every broadcast join
    * against them sees the ACTUAL size. A localCheckpoint is NOT
    * enough for this: LogicalRDD inherits the ORIGIN plan's size
    * estimate, and w's origin is a distinct ⋈ crossJoin whose product
    * estimate (~10^30 bytes at gen-sf1) then COMPOUNDS through each
    * iteration's lineage — so BroadcastGuard (correctly, by its
    * contract) stripped the margin join's broadcast hint and iteration
    * after iteration degraded to a full sort-merge join over the token
    * frame (measured: 270-380 s cold side-model fits at gen-sf1;
    * ~40 s after this fix).
    */
  private[graft] def asLocal(df: DataFrame): DataFrame = {
    val rows = df.collect()
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  // --- wide (packed-class) training loop --------------------------------
  // The class count is a FIXED small constant, so the class axis lives
  // in COLUMNS (w0..w4 / m0..m4 / r0..r4 / g0..g4), not rows:
  //   margins   m_dc: xdb ⋈ broadcast(w_wide), groupBy(doc), Σ x·w_c
  //   residuals r_dc: pointwise on the wide margin row
  //   gradient  G_cb: r_wide ⋈ xdb (one keyed join), groupBy(bucket)
  // — two keyed shuffles of NARROW frames per iteration, with no
  // (doc × class) or (doc × class × bucket) row explosion anywhere. The
  // long form (tok ⋈ w producing classes rows per token, then a second
  // classes × buckets-per-doc join for the gradient) computed the same
  // sums through ~5× the shuffled rows — measured at gen-sf1 the cold
  // side-model fit was 218-344 s long vs ~45 s wide. Every sum has the
  // SAME exact integer terms, reassociated — weights are bit-identical,
  // so the DuckDB twin stays in the long form (the clearer SQL) and
  // replays unchanged. The margin sum over the grouped (doc, bucket, x)
  // frame instead of raw tokens is the same reassociation argument:
  // Σ_occurrences w = Σ_buckets x·w exactly, in integers.

  /** One GD step. `xdb` is (docKey*, modelKey*, bucket, x); `labels` is
    * (docKey*, y_cls) — kept as its own join on the GROUPED margin frame
    * (not folded into xdb) because the side corpus has duplicate-lid
    * physical rows whose doubled label join is documented, oracle-
    * replayed semantics. `w` is the wide (modelKey*, bucket, w0..) local
    * relation; returns the same wide shape. `resid` picks the model
    * family (LR sigmoid or SVC hinge); `ncDf`, the one-row class-count
    * frame, turns on q135's class-balanced re-weighting. `mergeGrad`
    * pins the gradient join to sort-merge (q138's fold fit).
    */
  private def gdStep(xdb: DataFrame, labels: DataFrame, nDf: DataFrame,
      w: DataFrame, docKey: Seq[String], modelKey: Seq[String],
      lrDen: Long, resid: Resid = lrResid,
      ncDf: Option[DataFrame] = None, mergeGrad: Boolean = false): DataFrame = {
    val keys = (docKey ++ modelKey).map(col)
    val mAggs = (0 until Classes).map(c => sum(col("x") * col(s"w$c")).as(s"m$c"))
    val m = xdb.join(broadcast(w), modelKey :+ "bucket")
      .groupBy(keys: _*)
      .agg(mAggs.head, mAggs.tail: _*)
    val r0 = m.join(labels, docKey)
      .select(keys ++ ncDf.map(_ => col("y_cls")) ++ (0 until Classes).map(c =>
        resid(col(s"m$c"), col("y_cls"), c).as(s"r$c")): _*)
    val r = ncDf.fold(r0) { nc =>
      // the sample's own class count picks the weight denominator
      val ncOfDoc = (0 until Classes - 1).foldRight(col(s"nc${Classes - 1}")) {
        (c, rest) => when(col("y_cls") === c, col(s"nc$c")).otherwise(rest)
      }
      r0.crossJoin(broadcast(nc))
        .select(keys ++ (0 until Classes).map(c =>
          truncDivPos(col(s"r$c") * col("n_total"),
            lit(Classes.toLong) * greatest(ncOfDoc, lit(1L))).as(s"r$c")): _*)
    }
    val gAggs = (0 until Classes).map(c => sum(col(s"r$c") * col("x")).as(s"g$c"))
    val g = r.join(if (mergeGrad) xdb.hint("shuffle_merge") else xdb, docKey ++ modelKey)
      .groupBy((modelKey :+ "bucket").map(col): _*)
      .agg(gAggs.head, gAggs.tail: _*)
    val gn = if (modelKey.isEmpty) g.crossJoin(broadcast(nDf))
             else g.join(broadcast(nDf), modelKey)
    asLocal(w.join(gn, modelKey :+ "bucket")
      .select((modelKey :+ "bucket").map(col) ++ (0 until Classes).map(c =>
        (col(s"w$c") - truncDivPos(col(s"g$c"), col("n") * lit(lrDen))).as(s"w$c")): _*))
    // asLocal also truncates lineage: the plan stays linear in Iters
  }

  /** Wide weight matrix → the long (modelKey*, cls, bucket, w_micros)
    * public form (cls INTEGER, ascending per bucket via stack order).
    */
  private def toLong(wide: DataFrame, modelKey: Seq[String]): DataFrame = {
    val stackExpr = s"stack($Classes, " +
      (0 until Classes).map(c => s"$c, w$c").mkString(", ") + ") AS (cls, w_micros)"
    wide.selectExpr((modelKey :+ "bucket") :+ stackExpr: _*)
      .select(modelKey.map(col) ++ Seq(col("cls").cast(IntegerType).as("cls"),
        col("bucket"), col("w_micros")): _*)
  }

  /** The documents training scaffold shared by q129 (LR), q135
    * (balanced LR) and q151 (SVC): the wide weight trajectory
    * w0..w{iters} over a documents slice.
    */
  private def docTrainPath(docs: DataFrame, resid: Resid,
      balanced: Boolean, iters: Int, lrDen: Long): Seq[DataFrame] = {
    // Persist the feature frame ONCE (a checkpoint), iterate over the
    // materialized form — the textbook distributed-LR shape: each
    // iteration is one pass over cached features, not a re-scan +
    // re-tokenize of the corpus. w0 goes through asLocal like every
    // later w so iteration 1's broadcast sees its actual KB size (see
    // asLocal's note — its origin estimate is an aggregate-derived
    // product).
    // the label frame is joined EVERY iteration — checkpoint it once
    // (r11: the lazy form re-scanned the documents parquet per
    // iteration; at 100 TB that is Iters extra corpus scans for a
    // 2-column frame); the balanced class-count frame derives from it.
    // Both stay plain checkpoints (no layout), left to AQE's runtime
    // broadcasts: a doc_id co-partitioned layout won only past ~50M xdb
    // rows (BENCH_R15_FLIP.json, BENCH_R16_FLIP_AUTO.json; the laid-out
    // form in BENCH_R18_FLIP_FIXED.json) and lost at sf0.1 (curate_train
    // job-latency p50 +35%). No benchmark workload reaches that size, so
    // there is no size-selected co-partitioned path.
    val xdb = GraftSession.checkpoint(docTokFrom(docs).groupBy("doc_id", "bucket")
      .agg(count(lit(1)).as("x")))
    val labels = GraftSession.checkpoint(docLabelsFrom(docs))
    val nDf = xdb.agg(countDistinct(col("doc_id")).as("n"))
    val ncDf = Option.when(balanced)(labels.agg(count(lit(1)).as("n_total"),
      (0 until Classes).map(c =>
        sum(when(col("y_cls") === c, 1L).otherwise(0L)).as(s"nc$c")): _*))
    val w0 = asLocal(xdb.select("bucket").distinct()
      .select(col("bucket") +: (0 until Classes).map(c => lit(0L).as(s"w$c")): _*))
    val path = Iterator.iterate(w0)(w => gdStep(xdb, labels, nDf, w, Seq("doc_id"),
        Seq.empty, lrDen, resid, ncDf))
      .take(iters + 1).toList
    // the trajectory is all local relations now — release the corpus
    GraftSession.free(xdb); GraftSession.free(labels)
    path
  }

  /** The weight trajectory w0..wIters for the documents model — exposed
    * (in the long public form) so the spec can prove the training loss
    * is monotone.
    */
  private[graft] def docWeightPathFrom(docs: DataFrame,
      iters: Int = Iters): Seq[DataFrame] =
    docTrainPath(docs, lrResid, balanced = false, iters, LrDen).map(toLong(_, Seq.empty))

  private[graft] def docWeightPath(s: SparkSession, dir: String): Seq[DataFrame] =
    docWeightPathFrom(Tables.documents(s, dir))

  private[graft] def trainedDocWeights(s: SparkSession, dir: String): DataFrame =
    docWeightPath(s, dir).last

  /** The 80%-slice model for held-out evaluation (q133): identical GD
    * loop, identical hyperparameters, trained ONLY on the trainFilter
    * slice — the eval slice never reaches the tokenizer, the label
    * frame, the bucket space, or the gradient (no leakage by plan
    * construction; the spec additionally proves the two slices are
    * disjoint and exhaustive).
    */
  private[graft] def trainedDocWeights80(s: SparkSession, dir: String): DataFrame =
    docWeightPathFrom(Tables.documents(s, dir).filter(trainFilter)).last

  // --- class-balanced documents training (q135) -------------------------
  // The documents corpus is 79% one class, so the plain mean-gradient
  // cross-head argmax stays prior-dominated at 3 iterations (the
  // documented r10 limitation). The balanced fit weights each SAMPLE's
  // residuals by the inverse frequency of the sample's own class, in
  // EXACT integers:
  //   rb_dc = trunc(r_dc · n_total / (K · n_{y_d}))
  // — sklearn's class_weight='balanced' sample weighting: a minority
  // doc's contribution to EVERY head carries majority-magnitude mass,
  // so the argmax learns the classes instead of the prior, at the SAME
  // iteration count and shuffle shape (the weighting is one extra
  // pointwise projection against a broadcast one-row class-count
  // frame; weighting per HEAD instead would only rescale each head's
  // learning rate and leaves the argmax prior-dominated — measured:
  // accuracy pinned at the 0.792 prior for 3..20 iterations). All
  // integer arithmetic, so DuckDB replays the balanced fit bit-for-bit
  // like the plain one.

  /** Balanced GD over an arbitrary documents slice — q135 trains on the
    * whole table; q137's held-out evaluation passes the 80% trainFilter
    * slice (the same slice-parameterization discipline as
    * docWeightPathFrom).
    */
  private[graft] def trainedDocWeightsBalancedFrom(docs: DataFrame,
      iters: Int = Iters): DataFrame =
    toLong(docTrainPath(docs, lrResid, balanced = true, iters, LrDen).last, Seq.empty)

  private[graft] def trainedDocWeightsBalanced(s: SparkSession, dir: String): DataFrame =
    trainedDocWeightsBalancedFrom(Tables.documents(s, dir))

  /** The 80%-slice balanced model for q137's held-out evaluation. */
  private[graft] def trainedDocWeightsBalanced80(s: SparkSession, dir: String): DataFrame =
    trainedDocWeightsBalancedFrom(Tables.documents(s, dir).filter(trainFilter))

  /** The balanced documents model as a registry artifact. */
  def docWeightsBalanced(s: SparkSession, dir: String): DataFrame =
    cachedModel(s, dir, "documents", "doc_lr_bal")(trainedDocWeightsBalanced(s, dir))

  /** q135: the class-balanced trained matrix (q129's shape). */
  def q135LrBalanced(s: SparkSession, dir: String): DataFrame =
    trainedDocWeightsBalanced(s, dir)
      .withColumn("w", round(col("w_micros").cast(DoubleType) / lit(1000000.0), 6))
      .select("cls", "bucket", "w_micros", "w")
      .orderBy("cls", "bucket")

  private def docBalIterCte(t: Int): String =
    s"""bm$t AS (
       | SELECT t.doc_id, w.cls, SUM(w.w) AS m
       | FROM tok t JOIN bw${t - 1} w USING (bucket) GROUP BY 1, 2),
       |br$t AS (
       | SELECT m.doc_id, m.cls,
       |  CAST(ROUND((1.0/(1.0 + EXP(-(CAST(m.m AS DOUBLE)/1000000.0))) -
       |   CASE WHEN l.y_cls = m.cls THEN 1.0 ELSE 0.0 END) * 1000000.0) AS BIGINT) AS r
       | FROM bm$t m JOIN lab l USING (doc_id)),
       |brb$t AS (
       | SELECT r.doc_id, r.cls,
       |  (r.r * nt.n_total) // ($Classes * GREATEST(nc.c, 1)) AS r
       | FROM br$t r JOIN lab l USING (doc_id)
       |      JOIN ncls nc ON nc.cls = l.y_cls CROSS JOIN ntot nt),
       |bg$t AS (
       | SELECT r.cls, x.bucket, SUM(r.r * x.x) AS g
       | FROM brb$t r JOIN xdb x USING (doc_id) GROUP BY 1, 2),
       |bw$t AS (
       | SELECT w.cls, w.bucket, w.w - (g.g // ((SELECT n FROM nn) * $LrDen)) AS w
       | FROM bw${t - 1} w JOIN bg$t g USING (cls, bucket))""".stripMargin

  /** The full BALANCED training CTE block over an arbitrary documents
    * slice — q135 passes the whole table, q137's held-out twin the 80%
    * trainFilter slice. Ends at bw{Iters}.
    */
  private[graft] def docBalTrainCtesFor(src: String): String =
    s"""${docBaseCtesFor(src)},
       |ntot AS (SELECT COUNT(*) AS n_total FROM lab),
       |ncls AS (
       | SELECT c.cls, COALESCE(x.c, 0) AS c
       | FROM classes c LEFT JOIN (
       |  SELECT y_cls AS cls, COUNT(*) AS c FROM lab GROUP BY 1) x USING (cls)),
       |bw0 AS (SELECT cls, bucket, w FROM w0),
       |${(1 to Iters).map(docBalIterCte).mkString(",\n")}""".stripMargin

  def q135Sql: String =
    s"""WITH ${docBalTrainCtesFor("SELECT * FROM documents")}
       |SELECT cls, bucket, CAST(w AS BIGINT) AS w_micros,
       | ROUND(CAST(w AS DOUBLE)/1000000.0, 6) AS w
       |FROM bw$Iters ORDER BY cls, bucket""".stripMargin

  // --- model registry ---------------------------------------------------
  // Train ONCE per corpus, score everywhere — the engine counterpart of
  // the reference's architecture (fit in mlClassification.ipynb, ship
  // the joblib artifact, consume it at run_build_database.py:301-327).
  // Before this cache, every q28/q104 execution re-ran the 3-iteration
  // GD loop inline (measured: q104 0.6 s → 28 s in the r10 full-suite
  // bench — training dominates scoring 50:1 and at 100 TB re-fitting
  // per query is architecturally wrong, not just slow). The key is
  // (model, dir, file-listing freshness token) — the Tables.tsTypeCache
  // pattern — so a rewritten corpus retrains instead of reusing stale
  // weights. The value is the COLLECTED weight matrix: classes ×
  // occupied buckets ≤ ~5k rows of (cls, bucket, w_micros) — a model
  // artifact like the reference's joblib, NOT data through the driver.
  // Scoring consumes it as a LocalRelation → broadcast join; weights
  // are bit-identical to a fresh fit (pure function of the corpus), so
  // every oracle row is unchanged.
  private val modelCache =
    new java.util.concurrent.ConcurrentHashMap[String, (StructType, Array[org.apache.spark.sql.Row])]()

  // --- persisted registry (round 12: the joblib parity) -----------------
  // When `spark.graft.model.registry.dir` is set, every fitted matrix is
  // ALSO written once as a parquet artifact (with a sidecar carrying the
  // exact cache key and schema JSON), and a cold JVM LOADS the artifact
  // instead of retraining — the reference's train-once/persist/consume
  // architecture (mlClassification.ipynb fits; run_build_database.py:43
  // loads `asset_log_reg_mdl_v2.joblib` and consumes it at :301-327).
  // Unset ⇒ the registry stays process-local as before (the driver gate
  // runs unset, so its oracle compare always exercises the full
  // train-path). Design points:
  //  - the artifact key IS the cache key (corpus dir + freshness token +
  //    hyperparameters + an algorithm-version tag), so a rewritten
  //    corpus, changed Iters/LrDen, or a changed training algorithm
  //    falls through to retrain instead of serving a stale fit;
  //  - ALL I/O goes through the Hadoop FileSystem of the CONFIGURED
  //    path (the freshnessToken discipline) — on a cluster the registry
  //    lives on shared storage (hdfs://, s3a://, file:// on NFS), where
  //    java.nio.file would split the artifact between the driver's
  //    local disk (sidecars) and the cluster FS (parquet data), a
  //    'valid' artifact with an empty data dir (r12 ADVICE);
  //  - writes go to a staging dir then one rename. On HDFS/local the
  //    rename is atomic; object stores rename by copy, and the load
  //    protocol does not NEED rename atomicity: MODEL_KEY is written
  //    LAST inside the staging dir, and a load only trusts an artifact
  //    whose key matches exactly AND whose data round-trips to the
  //    DATA_SUM row-count + content digest — any partially-visible
  //    artifact reads as absent and falls back to retrain (spec-pinned
  //    with a hand-torn artifact). A concurrent winner is accepted
  //    (fits are pure functions of the key, so either copy is
  //    bit-identical); an existing dir that fails validation is
  //    replaced, so one torn write can't force retraining forever;
  //  - any load failure (missing, torn, foreign key, digest mismatch)
  //    falls back to retrain-and-rewrite — persistence is an
  //    optimization and can never fail or corrupt a query;
  //  - the sidecar stores the EXACT schema (parquet round-trips widen
  //    nullability), so a loaded matrix is indistinguishable from a
  //    fresh fit down to the StructType.

  /** Bump when the training math changes semantics: it namespaces the
    * persisted artifacts so an old registry dir can never serve a fit
    * the current code would not reproduce bit-for-bit.
    */
  private val AlgoVersion = "lrv1"

  /** Cumulative count of actual training-thunk executions — the
    * cold-load spec pins this at zero for an artifact-served session
    * ("zero training stages" made falsifiable).
    */
  private[graft] val trainCount = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Deterministic-interleave seam for the concurrent-writer spec:
    * invoked inside saveArtifact after the staging dir is fully
    * written, immediately before the commit (delete-if-invalid +
    * rename). A spec plants a competing save here to drive the
    * two-writers-same-key race on an exact schedule; production code
    * never sets it.
    */
  @volatile private[graft] var raceHook: () => Unit = () => ()

  private def registryRoot(s: SparkSession): Option[String] =
    s.conf.getOption(GraftSession.RegistryDirKey).map(_.trim).filter(_.nonEmpty)

  private def keyHash(key: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString

  private type HPath = org.apache.hadoop.fs.Path
  private type HFs = org.apache.hadoop.fs.FileSystem

  private def hfsOf(s: SparkSession, p: HPath): HFs =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

  private def readSidecar(fs: HFs, p: HPath): String = {
    val len = fs.getFileStatus(p).getLen
    require(len <= (1 << 20), s"sidecar $p unreasonably large ($len B)")
    val bytes = new Array[Byte](len.toInt)
    val in = fs.open(p)
    try in.readFully(0L, bytes) finally in.close()
    new String(bytes, Utf8)
  }

  private def writeSidecar(fs: HFs, p: HPath, content: String): Unit = {
    val out = fs.create(p, true)
    try out.write(content.getBytes(Utf8)) finally out.close()
  }

  /** Order-invariant content digest of the artifact rows: each row's
    * fields stringified + the lines sorted, so the digest is a pure
    * function of the row SET — parquet split/read order can't matter.
    * Together with the row count it makes a partially-copied data dir
    * (the object-store torn-rename case) unservable. Fields are
    * LENGTH-PREFIXED (r13 ADVICE asked for an unambiguous encoding:
    * the prior control-byte separator was ambiguous only for fields
    * that CONTAIN that byte, but length-prefixing closes even that
    * corner); artifacts digested under the old format fail validation
    * once and retrain — the digest implicitly versions the sidecar.
    */
  private[graft] def rowsDigest(rows: Array[org.apache.spark.sql.Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(r => (0 until r.length).map { i =>
        val v = String.valueOf(r.get(i)); s"${v.length}:$v"
      }.mkString)
      .sorted.foreach(line => md.update((line + "\n").getBytes(Utf8)))
    md.digest().take(16).map(b => f"$b%02x").mkString
  }

  private[graft] def loadArtifact(s: SparkSession, root: String, name: String,
      key: String): Option[(StructType, Array[org.apache.spark.sql.Row])] =
    try {
      val rootP = new HPath(root)
      val fs = hfsOf(s, rootP)
      val dir = new HPath(rootP, s"$name-${keyHash(key)}")
      val keyFile = new HPath(dir, "MODEL_KEY")
      if (!fs.exists(keyFile) || readSidecar(fs, keyFile) != key) None
      else {
        val schema = DataType.fromJson(readSidecar(fs, new HPath(dir, "SCHEMA")))
          .asInstanceOf[StructType]
        val sum = readSidecar(fs, new HPath(dir, "DATA_SUM")).split("\n", 2)
        val rows = s.read.schema(schema)
          .parquet(new HPath(dir, "data").toString).collect()
        // reject an artifact whose data does not round-trip to the
        // recorded count + digest (r12 ADVICE: an empty or partial data
        // dir must silently retrain, never serve an empty weight matrix)
        if (rows.length == sum(0).trim.toInt && rowsDigest(rows) == sum(1).trim)
          Some((schema, rows))
        else None
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  private[graft] def saveArtifact(s: SparkSession, root: String, name: String,
      key: String, schema: StructType,
      rows: Array[org.apache.spark.sql.Row]): Unit =
    try {
      val rootP = new HPath(root)
      val fs = hfsOf(s, rootP)
      val dir = new HPath(rootP, s"$name-${keyHash(key)}")
      // an existing VALID artifact wins (concurrent writer — the fit is
      // a pure function of the key, so either copy is bit-identical);
      // an existing INVALID one (torn copy, superseded sidecar layout)
      // is replaced, so cold sessions stop paying retrain forever
      if (loadArtifact(s, root, name, key).isEmpty) {
        // remember NOW whether the pre-check saw a (necessarily
        // invalid) dir: only that case may delete before rename. The
        // r13 form deleted unconditionally, so a racing writer could
        // transiently remove a JUST-committed valid artifact (readers
        // in the gap retrained) — now a fresh write never deletes, and
        // losing the rename race means a valid winner exists (r13
        // ADVICE)
        val presentInvalid = fs.exists(dir)
        val tmp = new HPath(rootP,
          s".tmp-$name-${keyHash(key)}-${java.util.UUID.randomUUID}")
        fs.mkdirs(tmp)
        s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite")
          .parquet(new HPath(tmp, "data").toString)
        writeSidecar(fs, new HPath(tmp, "SCHEMA"), schema.json)
        writeSidecar(fs, new HPath(tmp, "DATA_SUM"),
          s"${rows.length}\n${rowsDigest(rows)}")
        // MODEL_KEY last: a load only trusts a dir whose key validates
        writeSidecar(fs, new HPath(tmp, "MODEL_KEY"), key)
        raceHook() // deterministic-interleave test seam; no-op in prod
        if (presentInvalid) fs.delete(dir, true) // replace torn leftovers
        if (!fs.rename(tmp, dir)) fs.delete(tmp, true) // concurrent winner
        else {
          // Hadoop FileSystem.rename onto an EXISTING dst dir moves src
          // INSIDE it (HDFS mv semantics) and returns true — a rename
          // loser would otherwise leave its whole staging dir nested in
          // the winner's artifact where the root-level sweep never
          // looks. Detect and drop the stray; the winner's sidecars and
          // data are untouched either way.
          val stray = new HPath(dir, tmp.getName)
          if (fs.exists(stray)) fs.delete(stray, true)
        }
      }
      sweepStaleTmp(fs, rootP)
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Best-effort GC of crashed writers' staging dirs (r12 ADVICE: a
    * crashed save leaked its .tmp-* dir permanently). One hour of age is
    * far beyond any live writer — a save holds its staging dir only for
    * the seconds a KB-sized parquet write takes. Also sweeps ONE level
    * inside each artifact dir: a rename loser that crashed between the
    * moved-inside rename and its stray-cleanup leaves its staging dir
    * NESTED in the winner's artifact (r13 ADVICE), invisible to a
    * root-only listing. Registry roots hold tens of dirs, so the extra
    * level is a handful of metadata calls.
    */
  private def sweepStaleTmp(fs: HFs, rootP: HPath): Unit =
    try {
      def staleTmp(st: org.apache.hadoop.fs.FileStatus): Boolean =
        st.getPath.getName.startsWith(".tmp-") &&
          System.currentTimeMillis - st.getModificationTime > 3600000L
      fs.listStatus(rootP).foreach { st =>
        if (staleTmp(st)) fs.delete(st.getPath, true)
        else if (st.isDirectory)
          fs.listStatus(st.getPath).foreach { c =>
            if (staleTmp(c)) fs.delete(c.getPath, true)
          }
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  // --- registry inspection / GC (r12 verdict item 7) --------------------

  /** One registry entry: artifact dir name, whether its MODEL_KEY
    * sidecar is present (an in-flight or torn dir shows complete=false),
    * the stored key (empty when incomplete), and the dir's mod time.
    */
  final case class ArtifactInfo(dirName: String, complete: Boolean,
      key: String, modifiedMs: Long)

  /** Inventory of the configured registry dir — pure FS metadata, no
    * data reads, no query-path effect. Empty when no registry is
    * configured or the path is unusable.
    */
  def listArtifacts(s: SparkSession): Seq[ArtifactInfo] =
    registryRoot(s).toSeq.flatMap { root =>
      try {
        val rootP = new HPath(root)
        val fs = hfsOf(s, rootP)
        fs.listStatus(rootP).toSeq.filter(_.isDirectory).map { st =>
          val keyFile = new HPath(st.getPath, "MODEL_KEY")
          val key = try {
            if (fs.exists(keyFile)) Some(readSidecar(fs, keyFile)) else None
          } catch { case scala.util.control.NonFatal(_) => None }
          ArtifactInfo(st.getPath.getName, key.isDefined, key.getOrElse(""),
            st.getModificationTime)
        }.sortBy(_.dirName)
      } catch { case scala.util.control.NonFatal(_) => Seq.empty }
    }

  /** The registry's model inventory — the ONE source of truth for
    * (model name → corpus table). `cachedModel` REFUSES an
    * unregistered name, so an accessor added without an inventory row
    * fails its very first call (any test, any query); `currentKeys`
    * derives the prune keep-set from the same map, so the two can
    * never drift (r13 ADVICE: the hand-maintained keep-set omitted
    * doc_lr_bal, and pruneArtifacts GC'd the CURRENT balanced-doc
    * artifact — every prune + cold session silently retrained q135).
    */
  private[graft] val ModelInventory: Map[String, String] = Map(
    "doc_lr" -> "documents", "doc_lr_wide" -> "documents",
    "doc_lr80" -> "documents", "doc_lr80_wide" -> "documents",
    "doc_lr_bal" -> "documents",
    "doc_lr_bal80" -> "documents", "doc_lr_bal80_wide" -> "documents",
    "doc_svc" -> "documents", "doc_svc80" -> "documents",
    "doc_svc80_wide" -> "documents",
    "side_lr" -> "lineitem", "side_lr_wide" -> "lineitem")

  /** The cache keys the CURRENT session would use for every model the
    * registry serves over `dir` — the keep-set for pruneArtifacts
    * (anything else is a superseded corpus, dial, or algorithm
    * version). Derived from ModelInventory, never hand-listed.
    */
  def currentKeys(s: SparkSession, dir: String): Set[String] =
    ModelInventory.map { case (name, table) => modelKey(s, dir, table, name) }.toSet

  /** GC the registry: delete every complete artifact whose stored key is
    * NOT in `keepKeys` (superseded corpus/dial/algo fits — the registry
    * otherwise accretes one dir per historical key forever, r12 ADVICE)
    * plus stale staging dirs; incomplete non-staging dirs are left (they
    * may be a concurrent writer's rename mid-copy on an object store).
    * Returns the deleted dir names. Pure FS ops — no query-path change.
    */
  def pruneArtifacts(s: SparkSession, keepKeys: Set[String]): Seq[String] =
    registryRoot(s).toSeq.flatMap { root =>
      try {
        val rootP = new HPath(root)
        val fs = hfsOf(s, rootP)
        sweepStaleTmp(fs, rootP)
        listArtifacts(s).filter(a => a.complete && !keepKeys.contains(a.key))
          .map { a => fs.delete(new HPath(rootP, a.dirName), true); a.dirName }
      } catch { case scala.util.control.NonFatal(_) => Seq.empty }
    }

  /** Test hook: drop every cached fit so a spec can drive the
    * cold-start path (e.g. a wide accessor as the registry's very
    * first caller — the shape that exposed the nested-insert bug).
    */
  private[graft] def clearModelCache(): Unit = modelCache.clear()

  /** The full model identity: algorithm version, model name, corpus dir
    * + freshness token, and Iters/LrDen — shared by the cache, the
    * persisted artifacts, and pruneArtifacts' keep-set. The text at the
    * default hyperparameters is what artifacts on disk were written
    * under, so it must not change without an AlgoVersion bump.
    */
  private def modelKey(s: SparkSession, dir: String, table: String,
      name: String): String =
    s"$AlgoVersion|$name|$dir|it=$Iters|den=$LrDen|" +
      graft.Tables.freshnessToken(s, s"$dir/$table.parquet")

  private[graft] def cachedModel(s: SparkSession, dir: String, table: String,
      name: String)(train: => DataFrame): DataFrame = {
    // inventory gate: an accessor whose (name, table) is not registered
    // would train fine but have its artifact GC'd by pruneArtifacts —
    // fail fast instead, at the first call, in every test
    require(ModelInventory.get(name).contains(table),
      s"model '$name' over '$table' is not in LrTrain.ModelInventory — " +
        "register it there or pruneArtifacts will GC its artifact")
    val key = modelKey(s, dir, table, name)
    // get + putIfAbsent, NOT computeIfAbsent: the wide-pivot entries
    // train their long artifact inside the thunk, i.e. a nested cache
    // insert — ConcurrentHashMap throws "Recursive update" whenever the
    // inner insert hits the outer key's bin (bin-layout-dependent, so
    // it surfaced only in some JVMs). The benign cost is that two
    // concurrent first callers may both train; the fit is a pure
    // function of (corpus, dial), so either result is identical.
    val cached = modelCache.get(key)
    val (schema, rows) = if (cached != null) cached else {
      val root = registryRoot(s)
      val v = root.flatMap(loadArtifact(s, _, name, key)).getOrElse {
        trainCount.incrementAndGet()
        val df = train
        val r = (df.schema, df.collect())
        root.foreach(saveArtifact(s, _, name, key, r._1, r._2))
        r
      }
      modelCache.putIfAbsent(key, v)
      v
    }
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** The documents model as a registry artifact (trains on first use). */
  def docWeights(s: SparkSession, dir: String): DataFrame =
    cachedModel(s, dir, "documents", "doc_lr")(trainedDocWeights(s, dir))

  /** The two sided models as a registry artifact (trains on first use). */
  def sideWeights(s: SparkSession, dir: String): DataFrame =
    cachedModel(s, dir, "lineitem", "side_lr")(trainedSideWeights(s, dir))

  /** The 80%-slice documents model as a registry artifact (q133). */
  def docWeights80(s: SparkSession, dir: String): DataFrame =
    cachedModel(s, dir, "documents", "doc_lr80")(trainedDocWeights80(s, dir))

  def docWeights80Wide(s: SparkSession, dir: String): DataFrame =
    cachedModel(s, dir, "documents", "doc_lr80_wide")(
      pivotWide(s, docWeights80(s, dir), Seq.empty))

  /** The 80%-slice BALANCED model (q137's held-out evaluation). */
  def docWeightsBalanced80(s: SparkSession, dir: String): DataFrame =
    cachedModel(s, dir, "documents", "doc_lr_bal80")(
      trainedDocWeightsBalanced80(s, dir))

  def docWeightsBalanced80Wide(s: SparkSession, dir: String): DataFrame =
    cachedModel(s, dir, "documents", "doc_lr_bal80_wide")(
      pivotWide(s, docWeightsBalanced80(s, dir), Seq.empty))

  /** The cached artifacts pivoted to the wide (modelKey*, bucket, w0..)
    * form — the shape scoring wants: margins become sums of the packed
    * columns and the argmax a pointwise greatest(), with no class-axis
    * row expansion and no sort aggregate. The pivot runs DRIVER-SIDE on
    * the collected artifact rows (a LocalRelation collect is local —
    * building a scoring plan still launches zero jobs, which PlanSpec
    * pins) and is itself MEMOIZED through the registry (r10 verdict:
    * serving-heavy use re-scored q28/q104 re-ran the pivot per
    * execution; it is a pure function of the long artifact, so it
    * shares the artifact's cache identity).
    */
  def docWeightsWide(s: SparkSession, dir: String): DataFrame =
    cachedModel(s, dir, "documents", "doc_lr_wide")(
      pivotWide(s, docWeights(s, dir), Seq.empty))

  def sideWeightsWide(s: SparkSession, dir: String): DataFrame =
    cachedModel(s, dir, "lineitem", "side_lr_wide")(
      pivotWide(s, sideWeights(s, dir), Seq("side")))

  private[graft] def pivotWide(s: SparkSession, w: DataFrame,
      modelKey: Seq[String]): DataFrame = {
    val sch = w.schema
    val keyIdx = modelKey.map(sch.fieldIndex)
    val bIdx = sch.fieldIndex("bucket")
    val clsIdx = sch.fieldIndex("cls")
    val wIdx = sch.fieldIndex("w_micros")
    // model keys go through String.valueOf, not getString: the current
    // keys are strings ("side"), but a future typed key (e.g. an int
    // route) must group/sort the same way instead of throwing a
    // ClassCastException at runtime (r11 ADVICE)
    val rows = w.collect()
      .groupBy(r => keyIdx.map(i => String.valueOf(r.get(i))).toList :+
        r.getLong(bIdx).toString)
      .toSeq
      // deterministic artifact row order on the key tuple (stringified
      // model keys, then bucket numerically) — Row.toString ordering was
      // format-dependent (r10 ADVICE)
      .sortBy { case (_, rs) =>
        (keyIdx.map(i => String.valueOf(rs.head.get(i))).mkString("|"),
          rs.head.getLong(bIdx))
      }
      .map { case (_, rs) =>
        val ws = Array.fill(Classes)(0L)
        rs.foreach(r => ws(r.getInt(clsIdx)) = r.getLong(wIdx))
        org.apache.spark.sql.Row.fromSeq(
          keyIdx.map(rs.head.get) ++ Seq(rs.head.getLong(bIdx)) ++ ws.toSeq)
      }
    val wideSchema = StructType(
      modelKey.map(sch(_)) ++ Seq(sch("bucket")) ++
        (0 until Classes).map(c => StructField(s"w$c", LongType, nullable = false)))
    s.createDataFrame(java.util.Arrays.asList(rows: _*), wideSchema)
  }

  /** Mean logistic loss of weight table `w` on the documents corpus —
    * spec-only (monotone-descent proof), not part of any oracle row.
    */
  private[graft] def docLoss(s: SparkSession, dir: String, w: DataFrame): Double = {
    val tok = docTok(s, dir)
    val m = tok.join(broadcast(w), Seq("bucket"))
      .groupBy("doc_id", "cls").agg(sum("w_micros").as("m_micros"))
    val p = lit(1.0) / (lit(1.0) + exp(-(col("m_micros").cast(DoubleType) / lit(1000000.0))))
    m.join(docLabels(s, dir), Seq("doc_id"))
      .withColumn("y", when(col("y_cls") === col("cls"), 1.0).otherwise(0.0))
      .agg(avg(-(col("y") * log(p) + (lit(1.0) - col("y")) * log(lit(1.0) - p))))
      .head.getDouble(0)
  }

  /** q129: the trained documents weight matrix itself — integer micros
    * (the exact replayable state) plus the float view.
    */
  def q129LrTrain(s: SparkSession, dir: String): DataFrame =
    trainedDocWeights(s, dir)
      .withColumn("w", round(col("w_micros").cast(DoubleType) / lit(1000000.0), 6))
      .select("cls", "bucket", "w_micros", "w")
      .orderBy("cls", "bucket")

  // --- LinearSVC twin (r15 verdict item 7) ------------------------------
  // The reference's mlClassification.ipynb trains a SECOND model family
  // beside the logistic regression: sklearn's LinearSVC
  // (`asset_svc_mdl_v1.joblib` in trained_models/) — the one reference
  // computation with no engine twin at the r15 bar. Engine twin:
  // one-vs-rest linear SVM fit by full-batch SUBGRADIENT descent on
  // hinge loss — the same two-keyed-shuffles-per-iteration machinery as
  // the LR loop with the sigmoid residual swapped for the hinge
  // subgradient, in EXACT integers end to end (not even LR's sigmoid
  // float exposure — the violation test and the residual are pure long
  // arithmetic, so the DuckDB twin replays bit-for-bit trivially):
  //   y_dc  = +1 if y_d == c else −1
  //   violated:  y_dc · m_dc < 1     (micros: ySign · m_micros < 1e6)
  //   r_dc  = −y_dc · 1e6 when violated else 0
  //   G_cb  = Σ_d r_dc · x_db ;  w ← w − G // (n · LrDen)
  // The unregularized subgradient form (the notebook's C only scales
  // the hinge term against an L2 penalty; at 3 full-batch rounds the
  // penalty's shrinkage is sub-quantization here, and the oracle
  // contract wants the integer-exact loop, not an approximation).

  private def svcResidMicros(mMicros: Column, ySign: Column): Column =
    when(ySign * mMicros < lit(1000000L), -ySign * lit(1000000L))
      .otherwise(lit(0L))

  private val svcResid: Resid = (m, y, c) =>
    svcResidMicros(m, when(y === c, 1L).otherwise(-1L))

  /** Hinge GD over an arbitrary documents slice — q151 passes the
    * whole table; the held-out spec passes the 80% trainFilter slice.
    * Same persist-once scaffold as the LR paths.
    */
  private[graft] def trainedSvcWeightsFrom(docs: DataFrame): DataFrame =
    toLong(docTrainPath(docs, svcResid, balanced = false, Iters, LrDen).last, Seq.empty)

  private[graft] def trainedSvcWeights(s: SparkSession, dir: String): DataFrame =
    trainedSvcWeightsFrom(Tables.documents(s, dir))

  /** The 80%-slice SVC model for the held-out comparison beside
    * q133's LR accuracy (same split, same leak-free-by-construction
    * slice discipline).
    */
  private[graft] def trainedSvcWeights80(s: SparkSession, dir: String): DataFrame =
    trainedSvcWeightsFrom(Tables.documents(s, dir).filter(trainFilter))

  /** The SVC models as registry artifacts, keyed like the LR fits. */
  def svcWeights(s: SparkSession, dir: String): DataFrame =
    cachedModel(s, dir, "documents", "doc_svc")(trainedSvcWeights(s, dir))

  def svcWeights80(s: SparkSession, dir: String): DataFrame =
    cachedModel(s, dir, "documents", "doc_svc80")(trainedSvcWeights80(s, dir))

  def svcWeights80Wide(s: SparkSession, dir: String): DataFrame =
    cachedModel(s, dir, "documents", "doc_svc80_wide")(
      pivotWide(s, svcWeights80(s, dir), Seq.empty))

  /** q151: the trained hinge-loss matrix (q129's output shape). */
  def q151SvcTrain(s: SparkSession, dir: String): DataFrame =
    trainedSvcWeights(s, dir)
      .withColumn("w", round(col("w_micros").cast(DoubleType) / lit(1000000.0), 6))
      .select("cls", "bucket", "w_micros", "w")
      .orderBy("cls", "bucket")

  private def svcIterCte(t: Int): String =
    s"""vm$t AS (
       | SELECT t.doc_id, w.cls, SUM(w.w) AS m
       | FROM tok t JOIN vw${t - 1} w USING (bucket) GROUP BY 1, 2),
       |vr$t AS (
       | SELECT m.doc_id, m.cls,
       |  CASE WHEN (CASE WHEN l.y_cls = m.cls THEN 1 ELSE -1 END) * m.m < 1000000
       |   THEN -(CASE WHEN l.y_cls = m.cls THEN 1 ELSE -1 END) * 1000000
       |   ELSE 0 END AS r
       | FROM vm$t m JOIN lab l USING (doc_id)),
       |vg$t AS (
       | SELECT r.cls, x.bucket, SUM(r.r * x.x) AS g
       | FROM vr$t r JOIN xdb x USING (doc_id) GROUP BY 1, 2),
       |vw$t AS (
       | SELECT w.cls, w.bucket, w.w - (g.g // ((SELECT n FROM nn) * $LrDen)) AS w
       | FROM vw${t - 1} w JOIN vg$t g USING (cls, bucket))""".stripMargin

  def q151Sql: String =
    s"""WITH ${docBaseCtesFor("SELECT * FROM documents")},
       |vw0 AS (SELECT cls, bucket, w FROM w0),
       |${(1 to Iters).map(svcIterCte).mkString(",\n")}
       |SELECT cls, bucket, CAST(w AS BIGINT) AS w_micros,
       | ROUND(CAST(w AS DOUBLE)/1000000.0, 6) AS w
       |FROM vw$Iters ORDER BY cls, bucket""".stripMargin

  // --- oracle twins -----------------------------------------------------

  /** The shared training CTE block: tok/features/labels plus the three
    * unrolled GD iterations (w1..w3). DuckDB's `//` truncates toward
    * zero like truncDivPos; SUM over BIGINT widens to HUGEINT, cast
    * back at the end.
    */
  private def docIterCte(t: Int): String =
    s"""m$t AS (
       | SELECT t.doc_id, w.cls, SUM(w.w) AS m
       | FROM tok t JOIN w${t - 1} w USING (bucket) GROUP BY 1, 2),
       |r$t AS (
       | SELECT m.doc_id, m.cls,
       |  CAST(ROUND((1.0/(1.0 + EXP(-(CAST(m.m AS DOUBLE)/1000000.0))) -
       |   CASE WHEN l.y_cls = m.cls THEN 1.0 ELSE 0.0 END) * 1000000.0) AS BIGINT) AS r
       | FROM m$t m JOIN lab l USING (doc_id)),
       |g$t AS (
       | SELECT r.cls, x.bucket, SUM(r.r * x.x) AS g
       | FROM r$t r JOIN xdb x USING (doc_id) GROUP BY 1, 2),
       |w$t AS (
       | SELECT w.cls, w.bucket, w.w - (g.g // ((SELECT n FROM nn) * $LrDen)) AS w
       | FROM w${t - 1} w JOIN g$t g USING (cls, bucket))""".stripMargin

  /** Feature/label/init CTEs over an arbitrary documents-slice
    * subquery — everything up to the zero matrix w0, shared by the
    * plain chain (which appends its unrolled iterations) and the
    * balanced chain (q135 — which unrolls its OWN iterations and must
    * not drag Iters dead plain-iteration CTEs along).
    */
  private def docBaseCtesFor(src: String): String =
    s"""trn AS ($src),
       |tok AS (
       | SELECT doc_id, (${md5LongSql("token")} % $Buckets) AS bucket
       | FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM trn)
       | WHERE LENGTH(token) > 0),
       |xdb AS (SELECT doc_id, bucket, COUNT(*) AS x FROM tok GROUP BY 1, 2),
       |lab AS (SELECT doc_id, $labelIdxSql AS y_cls FROM trn),
       |classes AS (SELECT CAST(UNNEST(range(0, $Classes)) AS INTEGER) AS cls),
       |nn AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tok),
       |w0 AS (
       | SELECT cls, bucket, CAST(0 AS BIGINT) AS w
       | FROM classes CROSS JOIN (SELECT DISTINCT bucket FROM tok))""".stripMargin

  /** The full plain-GD training CTE block — `docTrainCtes` trains on
    * the whole table (q28/q129/q134); q133 passes the 80% trainFilter
    * slice.
    */
  private[graft] def docTrainCtesFor(src: String): String =
    s"""${docBaseCtesFor(src)},
       |${(1 to Iters).map(docIterCte).mkString(",\n")}""".stripMargin

  private[graft] def docTrainCtes: String =
    docTrainCtesFor("SELECT * FROM documents")

  def q129Sql: String =
    s"""WITH $docTrainCtes
       |SELECT cls, bucket, CAST(w AS BIGINT) AS w_micros,
       | ROUND(CAST(w AS DOUBLE)/1000000.0, 6) AS w
       |FROM w$Iters ORDER BY cls, bucket""".stripMargin

  /** Scoring SQL over the trained matrix — appended to the training CTEs
    * by Classify.q28Sql.
    */
  private[graft] def docScoreSql: String =
    s"""SELECT doc_id, CAST(cls AS INTEGER) AS pred_class,
       | CAST(m AS DOUBLE)/1000000.0 AS best_score
       |FROM (
       | SELECT t.doc_id, w.cls, SUM(w.w) AS m,
       |  ROW_NUMBER() OVER (PARTITION BY t.doc_id
       |    ORDER BY SUM(w.w) DESC, w.cls ASC) AS rk
       | FROM tok t JOIN w$Iters w USING (bucket)
       | GROUP BY t.doc_id, w.cls)
       |WHERE rk = 1 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // Dual sided models (feed q104): one matrix per balance-sheet side,
  // trained on that side's lines only — the engine's counterpart of the
  // reference's separate asset/liability fits. Targets are the line-label
  // generator's class (l_partkey % 5): the text IS a deterministic
  // function of the class, so a correct trainer must separate them.
  // ---------------------------------------------------------------------

  /** Sided line corpus: (lid, side, keys…, y_cls) + token buckets.
    * lid is the md5Long hash of the full 4-column line identity —
    * (orderkey, linenumber) is NOT unique in this data (1161 dup pairs
    * at sf0.001), so an arithmetic orderkey·10+linenumber id collides
    * across lines and one physical full-key duplicate exists; both
    * engines hash the identical "ok|ln|pk|sk" string, so duplicate
    * physical rows fold into one lid with doubled token counts on BOTH
    * sides of the compare.
    */
  private[graft] def sidedLines(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val wSheet = org.apache.spark.sql.expressions.Window.partitionBy("l_orderkey")
    l.withColumn("split_line",
        max(when(col("l_returnflag") === "A", col("l_linenumber"))).over(wSheet))
      .filter(col("split_line").isNotNull)
      .withColumn("side",
        when(col("l_linenumber") <= col("split_line"), "assets")
          .otherwise(lit("liabilities")))
      .withColumn("lid", md5Long(concat_ws("|", col("l_orderkey"),
        col("l_linenumber"), col("l_partkey"), col("l_suppkey"))))
      .withColumn("y_cls", (col("l_partkey") % 5).cast(IntegerType))
      .select("lid", "side", "l_orderkey", "l_linenumber", "l_partkey",
        "l_suppkey", "y_cls")
  }

  /** The lid expression's DuckDB twin (same "ok|ln|pk|sk" hash input). */
  private[graft] val lidSql: String = md5LongSql(
    "CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)" +
      " || '|' || CAST(l_partkey AS VARCHAR) || '|' || CAST(l_suppkey AS VARCHAR)")

  private def sideTok(sided: DataFrame): DataFrame =
    sided.select(col("lid"), col("side"),
        explode(split(Classify.lineLabel(col("l_partkey")), " ")).as("token"))
      .select(col("lid"), col("side"),
        pmod(md5Long(col("token")), lit(Buckets)).as("bucket"))

  /** Tokenized bucket counts (lid, side, bucket, x) for a sided-lines
    * frame. Row-wise tokenize + a groupBy keyed on lid, so any
    * lid-predicate slice commutes with it: filtering THIS frame on a
    * fold is bit-identical to tokenizing the filtered corpus — the
    * property the k-fold harness uses to prep the corpus once.
    */
  private[graft] def sideXdb(sided: DataFrame): DataFrame =
    sideTok(sided).groupBy("lid", "side", "bucket").agg(count(lit(1)).as("x"))

  /** Train the two side matrices: (side, cls, bucket, w_micros). */
  private[graft] def trainedSideWeights(s: SparkSession, dir: String): DataFrame =
    trainedSideWeightsFrom(s, dir, lit(true))

  /** Sided training restricted to a line slice — MlEval's held-out
    * proof trains on 80% of lids and scores the complement (spec-only;
    * the registry artifact always trains on the full corpus).
    */
  private[graft] def trainedSideWeightsFrom(s: SparkSession, dir: String,
      keep: Column): DataFrame = {
    // Same persist-once + wide loop as docWeightPath — doubly important
    // here because sidedLines carries a window over l_orderkey that
    // would otherwise be re-shuffled by every frame of every iteration.
    val sided = GraftSession.checkpoint(sidedLines(s, dir).filter(keep))
    val xdb = GraftSession.checkpoint(sideXdb(sided))
    val w = trainedSideWeightsOn(sided, xdb, Iters, LrDen)
    GraftSession.free(sided); GraftSession.free(xdb)
    w
  }

  /** The sided GD loop over PRE-MATERIALIZED corpus frames: `sided` is
    * a (checkpointed) sidedLines slice and `xdb` its matching sideXdb
    * bucket counts. The k-fold harness preps the full corpus once and
    * hands each fold a filter of the two checkpoints (r12 verdict: the
    * per-fold re-run of the sidedLines window + tokenize was 3
    * redundant corpus scans per CV on top of the inherent k× training
    * cost); at 100 TB the CV costs k fits over one shared scan.
    */
  private[graft] def trainedSideWeightsOn(sided: DataFrame, xdb: DataFrame,
      iters: Int, lrDen: Long): DataFrame = {
    val labels = sided.select("lid", "y_cls")
    val nDf = sided.groupBy("side").agg(count(lit(1)).as("n"))
    val w0 = asLocal(xdb.select("side", "bucket").distinct()
      .select(Seq(col("side"), col("bucket")) ++
        (0 until Classes).map(c => lit(0L).as(s"w$c")): _*))
    toLong(
      Iterator.iterate(w0)(w =>
          gdStep(xdb, labels, nDf, w, Seq("lid"), Seq("side"), lrDen))
        .drop(iters).next(),
      Seq("side"))
  }

  /** ALL k fold-complement side models in ONE training chain (r17
    * verdict item 1 — q138's JIT wall): `sidedAll`/`xdbAll` are the
    * checkpointed full corpus carrying an integer `fold` column
    * (a pure function of lid), and each row is exploded to the k−1
    * training folds it belongs to (`tf` ≠ own fold), after which the
    * ordinary wide GD loop runs once with (tf, side) as the model key
    * instead of k times with per-fold literal filters. Why this is the
    * same model, bit for bit: every gdStep sum is keyed by (tf, side
    * [, bucket | lid]), and the tf=f slice of the exploded frame is
    * EXACTLY xdbAll.filter(fold ≠ f) — the per-fold integer sums have
    * identical terms, merely grouped in one aggregate instead of k
    * (and the label join multiplicity per lid is fold-invariant:
    * duplicate physical lid rows share their fold). What it buys:
    *  - ONE gradient job per iteration instead of k concurrent ones
    *    (k−1 fewer driver barriers per iteration);
    *  - one codegen surface: the k per-fold chains differed only in
    *    inlined fold literals, so every WholeStageCodegen class was
    *    generated, Janino-compiled and C2-JIT'd k times — q138's
    *    measured 12.7–149 s per-pass JIT churn (r17 verdict).
    * Shuffle volume is unchanged: k complements of (k−1)/k of the
    * corpus ≡ one pass over the (k−1)-fold exploded frame.
    * Returns the WIDE local matrix (tf, side, bucket, w0..wK).
    */
  private[graft] def trainedSideWeightsAllFolds(sidedAll: DataFrame,
      xdbAll: DataFrame, k: Int, iters: Int, lrDen: Long): DataFrame = {
    val tfArr = array((0 until k).map(f => lit(f)): _*)
    def toTrainFolds(df: DataFrame): DataFrame =
      df.withColumn("tf", explode(tfArr))
        .filter(col("tf") =!= col("fold")).drop("fold")
    // SHUFFLE_MERGE pins the gradient join (r ⋈ xdb) to sort-merge over
    // the co-partitioned hash(lid) layout: the exploded frame's
    // LogicalRDD size estimate undersells (k−1)× the corpus, and the
    // planner otherwise BROADCASTS the multi-M-row frame every
    // iteration (a driver-built multi-hundred-MB hashed relation ×
    // iterations × passes — the measured GC storm). The hint goes on
    // that join's side only (gdStep's mergeGrad): w0's distinct reads
    // the same frame and is no join, so a hint on the frame makes Spark
    // log a HintErrorLogger WARN per fit. The margin join needs none:
    // its other side carries an explicit broadcast(w) hint, and w is
    // genuinely KB-scale.
    val xdb = toTrainFolds(xdbAll)
    // labels join on lid alone (gdStep docKey): margin rows exist only
    // for complement lids, and a lid's duplicate physical rows all
    // share its fold, so the full label table joins with the same
    // multiplicity the per-fold slice did
    val labels = sidedAll.select("lid", "y_cls")
    // per-(tf, side) training-row counts — local once, not re-aggregated
    // from the checkpoint inside every iteration's job
    val nDf = asLocal(toTrainFolds(sidedAll).groupBy("tf", "side")
      .agg(count(lit(1)).as("n")))
    val w0 = asLocal(xdb.select("tf", "side", "bucket").distinct()
      .select(Seq(col("tf"), col("side"), col("bucket")) ++
        (0 until Classes).map(c => lit(0L).as(s"w$c")): _*))
    Iterator.iterate(w0)(w =>
        gdStep(xdb, labels, nDf, w, Seq("lid"), Seq("tf", "side"), lrDen, mergeGrad = true))
      .drop(iters).next()
  }

  // --- sided oracle CTEs (consumed by Classify.q104Sql) ----------------

  private def sideIterCte(p: String, t: Int): String =
    s"""${p}sm$t AS (
       | SELECT t.lid, t.side, w.cls, SUM(w.w) AS m
       | FROM ${p}stok t JOIN ${p}sw${t - 1} w USING (side, bucket) GROUP BY 1, 2, 3),
       |${p}sr$t AS (
       | SELECT m.lid, m.side, m.cls,
       |  CAST(ROUND((1.0/(1.0 + EXP(-(CAST(m.m AS DOUBLE)/1000000.0))) -
       |   CASE WHEN l.y_cls = m.cls THEN 1.0 ELSE 0.0 END) * 1000000.0) AS BIGINT) AS r
       | FROM ${p}sm$t m JOIN ${p}slab l USING (lid)),
       |${p}sg$t AS (
       | SELECT r.side, r.cls, x.bucket, SUM(r.r * x.x) AS g
       | FROM ${p}sr$t r JOIN ${p}sxdb x USING (lid, side) GROUP BY 1, 2, 3),
       |${p}sw$t AS (
       | SELECT w.side, w.cls, w.bucket, w.w - (g.g // (n.n * $LrDen)) AS w
       | FROM ${p}sw${t - 1} w JOIN ${p}sg$t g USING (side, cls, bucket)
       |      JOIN ${p}snn n USING (side))""".stripMargin

  /** Training CTE block over a sided-lines slice `src` (columns lid,
    * side, l_partkey, y_cls, label), every CTE name prefixed with `p` —
    * the q138 k-fold twin emits one chain per fold, so the names must
    * not collide. The un-prefixed whole-corpus form below keeps
    * q104/q136's existing names.
    */
  private[graft] def sideTrainCtesP(p: String, src: String): String =
    s"""${p}strn AS ($src),
       |${p}stok AS (
       | SELECT lid, side, (${md5LongSql("token")} % $Buckets) AS bucket
       | FROM (SELECT lid, side, UNNEST(string_split(label, ' ')) AS token FROM ${p}strn)),
       |${p}sxdb AS (SELECT lid, side, bucket, COUNT(*) AS x FROM ${p}stok GROUP BY 1, 2, 3),
       |${p}slab AS (SELECT lid, CAST(l_partkey % 5 AS INTEGER) AS y_cls FROM ${p}strn),
       |${p}sclasses AS (SELECT CAST(UNNEST(range(0, $Classes)) AS INTEGER) AS cls),
       |${p}snn AS (SELECT side, COUNT(*) AS n FROM ${p}strn GROUP BY side),
       |${p}sw0 AS (
       | SELECT side, cls, bucket, CAST(0 AS BIGINT) AS w
       | FROM ${p}sclasses CROSS JOIN (SELECT DISTINCT side, bucket FROM ${p}stok)),
       |${(1 to Iters).map(sideIterCte(p, _)).mkString(",\n")}""".stripMargin

  /** Training CTE block over an existing `sided` CTE with columns
    * (lid, side, l_partkey, y_cls, label).
    */
  private[graft] def sideTrainCtes: String =
    sideTrainCtesP("", "SELECT * FROM sided")
}
