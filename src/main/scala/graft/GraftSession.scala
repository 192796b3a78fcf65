package graft

import org.apache.spark.sql.SparkSession

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
      // pre-partitioned children are affected — in this engine exactly
      // the iterative ML/CC machinery that pays for its layout once
      // (q138's per-iteration gradient join); single-key joins and all
      // aggregates were already subset-satisfiable. The default (true)
      // guards against skew when a prefix key is low-cardinality; the
      // layouts used here key on lid/doc_id — the highest-cardinality
      // ids in the engine. Results are partitioning-invariant.
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
    * runtime conf plus the unregistered spark.graft.* dials — the r12
    * grid-search discipline (MlEval.gridChildSession), shared: copying
    * only the graft keys silently reverts any other per-session tuning
    * to context defaults, and copying nothing loses the dials. The
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
    * their plans: when `spark.graft.autoShufflePartitions` is true,
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
  /** localCheckpoint that PRESERVES the frame's output partitioning
    * (r18). Under AQE, `Dataset.localCheckpoint` captures the
    * AdaptiveSparkPlanExec's partitioning, which reads
    * UnknownPartitioning — so a repartition(n, key).localCheckpoint()
    * produced a LogicalRDD that advertised NO layout, and every
    * downstream consumer keyed on `key` re-exchanged the materialized
    * table (GraftSessionSpec pins it: a groupBy consumer's plan has
    * >= 1 hash exchange after a plain localCheckpoint, 0 after this
    * one; the gap silently defeated the r17 CC edge pre-partitioning and
    * the r18 CV co-partitioning). The checkpoint is executed with AQE
    * disabled FOR THIS ONE EAGER ACTION — localCheckpoint materializes
    * inside the call, so set-and-restore scopes it exactly (unlike
    * planning-time confs, see autoShuffled above). The frames this is
    * used on are explicit repartition/aggregate shapes that AQE could
    * only coalesce — and a preserved layout is the entire point, so
    * coalescing is unwanted there anyway. Results are partitioning-
    * invariant; this is purely plan shape.
    *
    * Thread-safety: flips a session conf around an eager action, so
    * callers must not run concurrent queries on the SAME session that
    * could plan inside the window (the engine's concurrent paths —
    * grid search — run on isolated child sessions already).
    */
  def layoutCheckpoint(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val conf = df.sparkSession.conf
    val key = "spark.sql.adaptive.enabled"
    val prev = conf.get(key)
    try {
      conf.set(key, "false")
      df.localCheckpoint()
    } finally conf.set(key, prev)
  }

  def autoShuffled(s: SparkSession, paths: String*): SparkSession =
    if (s.conf.getOption("spark.graft.autoShufflePartitions")
        .exists(_.trim.toBoolean)) {
      val cores = s.sparkContext.defaultParallelism
      val n = deriveShufflePartitions(scanBytes(s, paths: _*), cores)
      val s2 = childSessionFrom(s)
      s2.conf.set("spark.sql.shuffle.partitions", n.toString)
      s2
    } else s
}
