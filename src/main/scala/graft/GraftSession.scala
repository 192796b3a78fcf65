package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SortOrder
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning,
  SinglePartition}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.graftbridge.Bridge

/** Central place for engine configuration so Verify/Bench/tests all run
  * with the same tuned profile.
  *
  * Scale notes (100 TB): these settings are the local[32] projection of a
  * cluster profile — AQE handles skew + partition coalescing at runtime,
  * broadcast threshold keeps TPC-H-ratio dims out of shuffles, and
  * shuffle.partitions is sized to cores here (2-3x executor cores on a
  * real cluster).
  */
object GraftSession {

  // --- the spark.graft.* session keys --------------------------------------
  // Only a deployment path, a safety budget and one opt-in rule are session
  // settings; hyperparameters are constants or arguments of the operators.
  // Bench refuses any other spark.graft.* key, so a retired or mistyped key
  // cannot make a tuned run silently run at defaults.

  /** Where the LR model registry persists its artifacts (unset: in-memory). */
  val RegistryDirKey = "spark.graft.model.registry.dir"

  /** BroadcastGuard's byte budget for a hinted broadcast side. */
  val BroadcastGuardKey = "spark.graft.broadcastGuard.maxBytes"

  /** Opts the shuffle-heavy families into autoShuffled. */
  val AutoShuffleKey = "spark.graft.autoShufflePartitions"

  val GraftKeys: Set[String] = Set(RegistryDirKey, BroadcastGuardKey, AutoShuffleKey)

  def apply(master: String, cores: Int): SparkSession = {
    val b = SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      .config("spark.sql.parquet.filterPushdown", "true")
      // Spark has no nanosecond timestamp type; this flag lets legacy
      // TIMESTAMP(NANOS) parquet columns be read at all (as raw int64).
      // It does NOT affect canonical timestamp[us]/[ms] columns —
      // Tables.events branches on the file's actual logical type.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // The default 100-entry codegen class cache (STATIC conf — JVM-wide,
      // set at first-session build) thrashes on this engine: one DAG-shaped
      // query (q108's TF-IDF→k-means chain) generates ~56 classes, so a
      // session serving the 138-query registry evicts and RE-Janino-compiles
      // byte-identical sources on every repeated execution (~85 recompiles
      // per q108 run, measured r13), and each fresh class re-enters HotSpot
      // cold — feeding the C2 compile/deopt churn the r13 gen-sf1 sweep
      // diagnosed. 10k entries ≈ tens of MB of class metadata on the driver,
      // priced against recompiling the working set all day on a long-lived
      // serving session.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // r18: allow co-partitioned joins to reuse a SUBSET-key layout
      // (hash(lid) satisfying a (lid, tf, side) equi-join) instead of
      // re-exchanging both sides. Only multi-key joins over explicitly
      // pre-partitioned children are affected; single-key joins and all
      // aggregates were already subset-satisfiable. Of the two layout
      // checkpoint families, q138's k-fold corpus needs it: its
      // per-iteration (lid, tf, side) gradient join reads hash(lid) in
      // place only under this setting (PlanSpec pins that, and the
      // bit-identical weights at `true`). The CC tables join on single
      // keys and plan the same either way. The default
      // (true) guards against skew when a prefix key is
      // low-cardinality; these layouts key on lid/doc_id — the
      // highest-cardinality ids in the engine. Results are
      // partitioning-invariant.
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Session for the driver-invoked mains: core count from env. */
  def fromEnv(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    apply(s"local[$cpus]", cpus)
  }

  // --- input-size-aware shuffle sizing (r15 verdict item 4) ------------
  // Two independent r15 probes (PostingProbe, PqProbe) measured the same
  // lesson: shuffle.partitions = cores starves 5M-row posting shuffles
  // into TaskMemoryManager page-retry/GCLocker stalls, and 96 (3x cores)
  // restores the floor (q55 pass spread 2.9x -> 1.11x). That knowledge
  // lived in JSON artifacts; this makes it an executable rule. The dial
  // derives from COMPRESSED scan bytes: the posting families expand the
  // scan ~10x in flight (shingle explode), so ~8 MB of compressed input
  // per shuffle partition keeps the per-partition build state inside
  // executor memory — the measured 5M-doc rung (874 MB of documents
  // parquet) derives 110, right at the measured 96-partition floor,
  // while driver-scale inputs stay at the cores floor and AQE still
  // coalesces small stages down at runtime.

  /** Compressed scan bytes per derived shuffle partition. */
  val ShuffleBytesPerPartition: Long = 8L << 20

  /** The rule: cores-floored, capped at 32x cores (beyond that, task
    * scheduling overhead dominates and AQE coalescing does the rest).
    */
  def deriveShufflePartitions(inputBytes: Long, cores: Int): Int =
    math.max(cores, math.min(32L * cores,
      (inputBytes + ShuffleBytesPerPartition - 1) / ShuffleBytesPerPartition).toInt)

  /** Total on-disk bytes of the given paths (files or directories). */
  def scanBytes(s: SparkSession, paths: String*): Long = paths.map { p =>
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(hp)) fs.getContentSummary(hp).getLength else 0L
  }.sum

  /** A fresh child session carrying the parent's ENTIRE modifiable
    * runtime conf plus the unregistered spark.graft.* keys: copying
    * only the graft keys silently reverts any other per-session tuning
    * to context defaults, and copying nothing loses them. The
    * child shares the SparkContext and the GraftExtensions function
    * registry (newSession re-applies the builder's extensions), so a
    * plan built on it computes bit-identically.
    *
    * Lifetime contract: Spark cannot dispose a child session's
    * SessionState short of stopping the context, so callers should
    * create children per bounded decision point (a grid dial, one
    * opted-in query build), never per row or per micro-batch.
    */
  def childSessionFrom(s: SparkSession): SparkSession = {
    val s2 = s.newSession()
    s.conf.getAll.foreach { case (ck, cv) =>
      if (ck.startsWith("spark.graft.") || s2.conf.isModifiable(ck))
        s2.conf.set(ck, cv)
    }
    s2
  }

  /** Opt-in hook the shuffle-heavy families consult before building
    * their plans: when `AutoShuffleKey` is true,
    * returns a CHILD session whose shuffle.partitions derives from the
    * scan size of the given inputs; the caller builds its plan on the
    * returned session. Off by default (returns `s` unchanged) so the
    * driver gate and every oracle plan are unchanged — results are
    * partitioning-invariant either way; this dial is purely about the
    * stall floor at scale rungs.
    *
    * Child-session isolation (r16 verdict item 2): the derived value
    * never touches the caller's conf — shuffle.partitions is read at
    * PLANNING time, so a set-then-restore around plan CONSTRUCTION
    * would restore too early, and leaving it set leaked the derived
    * value into every later query on the session. The child session is
    * the only shape that scopes a planning-time conf to one query.
    */
  def autoShuffled(s: SparkSession, paths: String*): SparkSession =
    if (s.conf.getOption(AutoShuffleKey)
        .exists(_.trim.toBoolean)) {
      val cores = s.sparkContext.defaultParallelism
      val n = deriveShufflePartitions(scanBytes(s, paths: _*), cores)
      val s2 = childSessionFrom(s)
      s2.conf.set("spark.sql.shuffle.partitions", n.toString)
      s2
    } else s

  // --- independent job submissions ----------------------------------------

  /** Runs `tasks` at the same time, each on a thread created for this
    * call, and returns their results in order. Each task submits its own
    * Spark jobs from the driver (an index-set write, a grid point), so
    * one-task jobs that would queue behind each other share the cores
    * instead. A thread created here inherits the caller's Spark local
    * properties (job group, call site, scheduler pool); a pooled thread
    * made earlier would carry whatever properties it was made with.
    *
    * Waits for every task, failed or not, so nothing the call started
    * is still running when it returns; then rethrows the first failure,
    * in the order the failures happened, with the later ones attached
    * as suppressed exceptions.
    */
  def concurrently[T](tasks: Seq[() => T]): Seq[T] = {
    val results = new Array[Any](tasks.size)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = tasks.zipWithIndex.map { case (task, i) =>
      val t = new Thread(() =>
        try results(i) = task()
        catch { case e: Throwable => failures.add(e) },
        s"graft-concurrently-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    if (!failures.isEmpty) {
      val first = failures.poll()
      failures.forEach(e => first.addSuppressed(e))
      throw first
    }
    results.toSeq.asInstanceOf[Seq[T]]
  }

  // --- the checkpoint primitive ------------------------------------------

  /** Truncates `df`'s lineage with an eager `localCheckpoint`: every
    * iterative block (CC rounds, the LR trainers, k-means, q138 CV, the
    * hierarchy walk) takes one so round N does not re-execute rounds
    * 1..N-1. Every job the checkpoint starts, AQE's shuffle-map jobs
    * included, is named `localCheckpoint at GraftSession.checkpoint`:
    * the call site is set for the duration of the action (AQE's stage
    * threads copy it from the caller's local properties) and the
    * caller's own call site is restored afterwards.
    *
    * Without `layout` this is `df.localCheckpoint()` and nothing more:
    * under AQE the materialized table advertises no partitioning, and
    * consumers exchange it as they need (the plain sites want exactly
    * that — LrTrain.docTrainPath measured a doc_id layout slower at
    * benchmark scale).
    *
    * With `layout`, the table keeps the hash layout on those keys, so a
    * consumer keyed on them reads it in place instead of re-exchanging
    * it every round. `Dataset.localCheckpoint` records the partitioning
    * of the node it ran, and under AQE that node (AdaptiveSparkPlanExec)
    * reports UnknownPartitioning; the final adaptive plan holds the real
    * one. It is read after the run and must be a hash partitioning on
    * exactly `layout` (or a single partition, which is clustered on any
    * key); the checkpoint's LogicalRDD then advertises it. If AQE
    * changed the layout (a coalesced read), just this frame is planned
    * again without AQE (QueryExecution.prepareExecutedPlan) and
    * checkpointed from that plan, at the cost of a second run. A frame
    * not laid out on `layout` either way throws, naming what it found.
    * No session conf is written, so queries running concurrently on
    * the session plan as they would without this call.
    */
  def checkpoint(df: DataFrame, layout: Seq[String] = Nil): DataFrame = {
    val sc = df.sparkSession.sparkContext
    // SparkContext's call-site local properties; the short form names the
    // stages. setLocalProperty(k, null) removes a key the caller had not set.
    val callerSite = Seq("callSite.short", "callSite.long").map(k => k -> sc.getLocalProperty(k))
    sc.setCallSite("localCheckpoint at GraftSession.checkpoint")
    try {
      val ck = df.localCheckpoint()
      if (layout.isEmpty) ck else keepLayout(df, ck, layout)
    } finally callerSite.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  private def keepLayout(df: DataFrame, ck: DataFrame, layout: Seq[String]): DataFrame = {
    val out = df.queryExecution.analyzed.output
    val keys = layout.map(k => out.find(_.name == k).getOrElse(throw new IllegalArgumentException(
      s"checkpoint layout key $k is not among ${out.map(_.name).mkString(", ")}")).canonicalized)
    def onLayout(p: Partitioning): Boolean = p match {
      case h: HashPartitioning => h.expressions.map(_.canonicalized) == keys
      case SinglePartition => true
      case _ => false
    }
    val ran = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
      case p => p
    }
    val sess = df.sparkSession.asInstanceOf[classic.SparkSession]
    val lr = ck.queryExecution.analyzed.asInstanceOf[LogicalRDD]
    def advertising(rdd: RDD[InternalRow], p: Partitioning, ordering: Seq[SortOrder]) =
      Bridge.ofRows(sess, lr.copy(rdd = rdd, outputPartitioning = p, outputOrdering = ordering)(
        sess, Some(lr.computeStats()), Some(lr.constraints)))
    if (onLayout(ran.outputPartitioning))
      advertising(lr.rdd, ran.outputPartitioning, lr.outputOrdering)
    else {
      free(ck)
      val plan = QueryExecution.prepareExecutedPlan(sess, df.queryExecution.optimizedPlan)
      require(onLayout(plan.outputPartitioning),
        s"checkpoint: the frame is not laid out on ${layout.mkString("(", ", ", ")")}: " +
          s"found ${plan.outputPartitioning} (adaptive run: ${ran.outputPartitioning})")
      // the wrapped plan has no exchange left to adapt, so this
      // checkpoint records the plan's partitioning itself
      advertising(plan.execute(), plan.outputPartitioning, plan.outputOrdering).localCheckpoint()
    }
  }

  /** Releases a checkpoint's blocks now. Training loops end in a driver
    * collect (LrTrain.asLocal), so their corpus checkpoints are dead the
    * moment a training function returns its local weights — but the
    * blocks otherwise survive until a driver GC lets the ContextCleaner
    * notice the dropped reference, and a long-lived serving session that
    * trains many (corpus, dial) registry keys would carry every dead
    * training corpus in storage memory. Call ONLY on frames whose
    * consumers have all been collected: an unpersisted checkpoint cannot
    * be recomputed (its lineage is truncated), which is why the k-fold
    * harness materializes its tiny CV summary BEFORE freeing its shared
    * corpus checkpoints. The release goes straight to the block
    * manager: RDD.unpersist would log a WARN that a locally
    * checkpointed RDD cannot be recomputed, which is the point here.
    */
  def free(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }
      .foreach(rdd => Bridge.unpersistRDD(rdd.sparkContext, rdd.id))
}
