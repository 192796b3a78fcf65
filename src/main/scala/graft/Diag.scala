package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Using

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions.col

import graft.operators.{IndexSet, Quantize, Retrieval}
import graft.streaming.HybridServe

/** The diagnostic main: explains what a query or a serve read costs,
  * stage by stage, and dumps plans. Each mode is a function of
  * (session, args) that returns its JSON record; progress lines go to
  * stderr, the record to stdout (and to `--out <file>` when given).
  *
  * Usage: runMain graft.Diag <mode> <args...> [--out <file>]
  *
  *   query <name> <sfDir> [reps]   single-query bisection: per pass the
  *       wall, the JVM's JIT-compile-time delta and Spark's codegen
  *       counters (Janino compile count, max generated method
  *       bytecode); the last pass's stage table and the executed plan.
  *       A JIT delta comparable to the wall means the pass ran inside
  *       the compile/deopt churn window (warmup, not plan cost); a
  *       growing Janino count on identical reruns means codegen-cache
  *       eviction; method bytecode under HotSpot's 8000-byte limit rules
  *       out interpreted fallback.
  *   sweep <sfDir> [names...]      the duplicate-exchange screen over
  *       registry queries (all when none are named), see [[screen]].
  *   serve <sfDir>                 the same screen over the serve reads
  *       (bm25_score, pq_probe, hybrid_fused_content) on a freshly
  *       published index set.
  *   plan <sfDir> [--dir <d> [--suffix <s>]] [names...]   the formatted
  *       (pre-AQE) physical plan per query: one `<d>/<name><s>.txt` each
  *       (the plans/rNN ledger), or inside the record without `--dir`.
  *   final <sfDir> [--dir <d>] <names...>   executes each query and
  *       counts scans and query-stage references in the FINAL adaptive
  *       plan, the only place AQE's exchange/stage reuse is visible.
  *
  * SPARK_GRAFT_CPUS sets the local cores (default 32; 8 for `plan`,
  * the core count the plans/ ledger was dumped at).
  */
object Diag {
  val Modes: Map[String, (SparkSession, Seq[String]) => String] = Map(
    "query" -> query _, "sweep" -> sweep _, "serve" -> serve _, "plan" -> plan _,
    "final" -> finalPlan _)

  def main(args: Array[String]): Unit = {
    val (out, rest) = flag(args.toSeq, "--out")
    require(rest.nonEmpty && Modes.contains(rest.head),
      s"usage: Diag <${Modes.keys.toSeq.sorted.mkString("|")}> <args...> [--out <file>]")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(if (rest.head == "plan") 8 else 32)
    val spark = GraftSession(s"local[$cpus]", cpus)
    try {
      val record = Modes(rest.head)(spark, rest.tail)
      out.foreach(p => write(Paths.get(p), record + "\n"))
      println(record)
    } finally spark.stop()
  }

  /** A JSON string literal: quotes, backslashes and every control
    * character escaped, so an error message cannot break an artifact.
    */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The JVM's accumulated JIT compile time in ms (all compiler
    * threads), or -1 where the JVM does not report it.
    */
  def jitMs(): Long = {
    val b = java.lang.management.ManagementFactory.getCompilationMXBean
    if (b != null && b.isCompilationTimeMonitoringSupported) b.getTotalCompilationTime else -1L
  }

  final case class StageRow(stageId: Int, name: String, tasks: Int,
      runMs: Long, cpuMs: Long, gcMs: Long, memSpill: Long, diskSpill: Long,
      shufReadB: Long, shufWriteB: Long) {
    def json: String =
      s"""{"stage":$stageId,"tasks":$tasks,"runMs":$runMs,"cpuMs":$cpuMs,"gcMs":$gcMs,""" +
      s""""memSpill":$memSpill,"diskSpill":$diskSpill,"shufReadB":$shufReadB,"shufWriteB":$shufWriteB}"""
  }

  /** The stages completed on a session since the last `clear`. Listener
    * events arrive asynchronously, so clearing right after a pass or
    * reading right after one can misattribute late StageCompleted
    * events: `clear` and `snapshot` first drain the bus, polling until
    * the table has held still for ~300 ms.
    */
  final class StageRecorder(spark: SparkSession) extends AutoCloseable {
    private val rows = ArrayBuffer.empty[StageRow]
    private val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        rows.synchronized(rows += StageRow(si.stageId, si.name.takeWhile(_ != '\n'),
          si.numTasks, m.executorRunTime, m.executorCpuTime / 1000000, m.jvmGCTime,
          m.memoryBytesSpilled, m.diskBytesSpilled,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten))
      }
    }
    spark.sparkContext.addSparkListener(listener)

    private def drain(): Unit = {
      var prev = -1; var stable = 0
      while (stable < 2) {
        val n = rows.synchronized(rows.size)
        if (n == prev) stable += 1 else { stable = 0; prev = n }
        Thread.sleep(150)
      }
    }
    def clear(): Unit = { drain(); rows.synchronized(rows.clear()) }
    def snapshot(): Vector[StageRow] = { drain(); rows.synchronized(rows.toVector) }
    def close(): Unit = spark.sparkContext.removeSparkListener(listener)
  }

  def query(spark: SparkSession, args: Seq[String]): String = {
    require(args.size >= 2, "usage: query <name> <sfDir> [reps]")
    val (name, sfDir) = (args(0), args(1))
    val reps = args.lift(2).fold(3)(_.toInt)
    val fn = SparkEntry.queries(name)
    def janino = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def maxMethodB = CodegenMetrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE.getSnapshot.getMax
    warm(spark, sfDir)
    val passes = Using.resource(new StageRecorder(spark)) { rec =>
      (1 to reps).map { i =>
        rec.clear()
        val jit0 = jitMs()
        val t0 = System.nanoTime()
        // the frame Dataset.count() runs, held so that its executed plan
        // (AQE-final once collected) is the one the record shows
        val counted = fn(spark, sfDir).groupBy().count()
        counted.collect()
        val wall = (System.nanoTime() - t0) / 1e9
        val jit = jitMs() - jit0
        val rows = rec.snapshot()
        log(f"== pass $i: $wall%.3f s, ${rows.size} stages, jit=$jit ms, janino=$janino, maxMethodB=$maxMethodB ==")
        rows.sortBy(-_.runMs).take(8).foreach(r => log(s"  ${r.json} ${r.name.take(60)}"))
        (wall, jit, rows, counted.queryExecution.executedPlan.toString)
      }
    }
    s"""{"query":${jstr(name)},"sf":${jstr(sfDir)},"cpus":${spark.sparkContext.defaultParallelism},""" +
    s""""passes":[${passes.map(p => fmt(p._1)).mkString(",")}],""" +
    s""""jitCompileMsPerPass":[${passes.map(_._2).mkString(",")}],""" +
    s""""janinoCompilesTotal":$janino,"maxGeneratedMethodBytecode":$maxMethodB,""" +
    s""""lastPassStages":[${passes.last._3.map(_.json).mkString(",")}],""" +
    s""""plan":${jstr(passes.last._4)}}"""
  }

  def sweep(spark: SparkSession, args: Seq[String]): String = {
    require(args.nonEmpty, "usage: sweep <sfDir> [names...]")
    val sfDir = args.head
    val names = if (args.size > 1) args.tail else SparkEntry.queries.keys.toSeq.sorted
    warm(spark, sfDir)
    Using.resource(new StageRecorder(spark)) { rec =>
      names.map(n => screen(rec, "query", n)(() => SparkEntry.queries(n)(spark, sfDir)))
    }.mkString("[\n", ",\n", "\n]")
  }

  def serve(spark: SparkSession, args: Seq[String]): String = {
    require(args.size == 1, "usage: serve <sfDir>")
    val sfDir = args.head
    val tmp = Files.createTempDirectory("graft_diag_serve")
    try {
      // one unscreened publish; the reads run on the loaded snapshot,
      // the shape a production micro-batch serves
      val root = tmp.resolve("index").toString
      IndexSet.publish(spark, Tables.documents(spark, sfDir).select("doc_id", "text"),
        Tables.embeddings(spark, sfDir), root)
      val snap = IndexSet.loadSnapshot(spark, root)
      val requests = GraftSession.checkpoint(Tables.documents(spark, sfDir)
        .filter(col("doc_id") < Retrieval.NumQueries)
        .select(col("doc_id").as("query_id"), col("text"))
        .join(Tables.embeddings(spark, sfDir)
          .select(col("vec_id").as("query_id"), col("embedding").as("pvec")),
          Seq("query_id")))
      val paths = Seq[(String, () => DataFrame)](
        "bm25_score" -> (() => Retrieval.scoreQueries(
          requests.select("query_id", "text"), snap.bm25, excludeSelf = true)),
        "pq_probe" -> (() => Quantize.probeTopK(
          requests.select(col("query_id").as("probe_id"), col("pvec")), snap.pq,
          excludeSelf = true)),
        "hybrid_fused_content" -> (() =>
          HybridServe.fusedWithContent(requests, snap, excludeSelf = true)))
      Using.resource(new StageRecorder(spark)) { rec =>
        paths.map { case (n, fn) => screen(rec, "path", n)(fn) }
      }.mkString("[\n", ",\n", "\n]")
    } finally Using.resource(Files.walk(tmp))(
      _.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f)))
  }

  def plan(spark: SparkSession, args: Seq[String]): String = {
    val (dir, a1) = flag(args, "--dir")
    val (suffix, rest) = flag(a1, "--suffix")
    require(rest.nonEmpty, "usage: plan <sfDir> [--dir <d> [--suffix <s>]] [names...]")
    val sfDir = rest.head
    val names = if (rest.size > 1) rest.tail else SparkEntry.queries.keys.toSeq.sorted
    names.map { n =>
      val (text, err) =
        try (SparkEntry.queries(n)(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted")), "")
        catch { case e: Throwable => ("", String.valueOf(e.getMessage)) }
      if (err.isEmpty) dir.foreach(d => write(Paths.get(d, n + suffix.getOrElse("") + ".txt"), text))
      log(s"[plan] $n " + (if (err.isEmpty) s"ok (${text.length} chars)" else s"FAILED: $err"))
      s"""{"query":${jstr(n)},"chars":${text.length},"err":${jstr(err)}""" +
        (if (dir.isEmpty) s""","plan":${jstr(text)}}""" else "}")
    }.mkString("[\n", ",\n", "\n]")
  }

  def finalPlan(spark: SparkSession, args: Seq[String]): String = {
    val (dir, rest) = flag(args, "--dir")
    require(rest.size >= 2, "usage: final <sfDir> [--dir <d>] <name> [name...]")
    rest.tail.map { n =>
      val df = SparkEntry.queries(n)(spark, rest.head)
      // execute THIS queryExecution (count() would build a separate one
      // and leave this AdaptiveSparkPlanExec unfinalized)
      df.queryExecution.executedPlan.executeCollect()
      val p = df.queryExecution.executedPlan.toString
      dir.foreach(d => write(Paths.get(d, s"$n.txt"), p))
      // refs > distinct stage ids means runtime stage reuse fired; equal
      // counts over identical-looking subtrees is the defect signature
      def ids(stage: String) = s"$stage ([0-9]+)".r.findAllMatchIn(p).map(_.group(1)).toList
      val (sh, bc) = (ids("ShuffleQueryStage"), ids("BroadcastQueryStage"))
      val rec = s"""{"query":${jstr(n)},"scans":${"Scan parquet".r.findAllIn(p).length},""" +
        s""""shuffleRefs":${sh.size},"shuffleStages":${sh.distinct.size},""" +
        s""""bcastRefs":${bc.size},"bcastStages":${bc.distinct.size}}"""
      log(s"[final] $rec")
      rec
    }.mkString("[\n", ",\n", "\n]")
  }

  /** The duplicate-exchange screen: run `fn` twice (the first pass
    * absorbs codegen/JIT) and record the second pass's stages. Each pass
    * counts the frame's own rows (`queryExecution.toRdd.count()`):
    * `Dataset.count()` would add a one-row aggregate whose 59 B shuffle
    * pairs with any one-row global aggregate in the frame. Two or
    * more distinct stages writing the SAME nonzero shuffle byte count
    * is the signature of an identical subtree that AQE stage reuse
    * failed to dedup (the q148 defect class: an optimizer-inferred
    * IsNotNull on one branch breaks canonical equality). Equal sizes can
    * be coincidence; the flag is a screen, adjudicated by reading the
    * plan. The top-CPU stages ride along for the map-CPU audit: huge
    * cpuMs against hash-only shuffle bytes is per-row work that belongs
    * in a native expression. A failure lands in the record as `err`.
    */
  private[graft] def screen(rec: StageRecorder, key: String, name: String)(
      fn: () => DataFrame): String = {
    val (wall, rows, err) =
      try {
        fn().queryExecution.toRdd.count()
        rec.clear()
        val t0 = System.nanoTime()
        fn().queryExecution.toRdd.count()
        ((System.nanoTime() - t0) / 1e9, rec.snapshot(), "")
      } catch {
        case e: Throwable => (-1.0, Vector.empty[StageRow], String.valueOf(e.getMessage))
      }
    val dups = rows.filter(_.shufWriteB > 0).groupBy(_.shufWriteB)
      .filter(_._2.size > 1).toSeq.sortBy(-_._1)
    log(f"[$key] $name%-28s wall=$wall%7.3f stages=${rows.size}%3d " +
      dups.map { case (b, rs) => s"${rs.size}x${b}B" }.mkString("dupWriters=", ",", "") +
      (if (err.isEmpty) "" else s" FAILED: $err"))
    s"""{"$key":${jstr(name)},"wall":${fmt(wall)},"stages":${rows.size},""" +
    s""""sumRunMs":${rows.map(_.runMs).sum},"sumCpuMs":${rows.map(_.cpuMs).sum},""" +
    s""""dupFlag":${dups.nonEmpty},"err":${jstr(err)},"dupWriters":[${dups.map { case (b, rs) =>
      s"""{"bytes":$b,"stages":[${rs.map(_.stageId).mkString(",")}]}""" }.mkString(",")}],""" +
    s""""topCpuStages":[${rows.sortBy(-_.cpuMs).take(3).map(_.json).mkString(",")}]}"""
  }

  /** Warms the JVM, codegen and file-index paths so the first timed
    * query does not absorb session start-up: one untimed count per
    * table, a missing table tolerated. Bench and Diag share it, so their
    * timings compare.
    */
  def warm(spark: SparkSession, sfDir: String): Unit =
    Seq("lineitem", "orders", "customer", "events", "documents", "embeddings")
      .foreach(t => try Tables.load(spark, sfDir, t).count()
        catch { case e: Throwable => log(s"[warm] $t: ${e.getMessage}") })

  /** Splits `name value` out of the args. */
  private def flag(args: Seq[String], name: String): (Option[String], Seq[String]) = {
    val i = args.indexOf(name)
    require(i < 0 || i + 1 < args.size, s"$name needs a value")
    if (i < 0) (None, args) else (Some(args(i + 1)), args.patch(i, Nil, 2))
  }

  private def write(p: Path, text: String): Unit = {
    Files.createDirectories(p.toAbsolutePath.getParent)
    Files.write(p, text.getBytes("UTF-8"))
  }

  private def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
  private def log(s: String): Unit = System.err.println(s)
}
