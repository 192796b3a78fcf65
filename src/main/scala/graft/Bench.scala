package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // Timed passes per query WITHIN this JVM; the reported figure is the
    // MIN of the passes. One pass absorbs first-run Janino/JIT compile
    // and whatever the shared box's external tenants were doing in that
    // window; the min across passes is the reproducible cost of the
    // query itself (round-6 verdict: calm-window claims must live in a
    // committed artifact, so the artifact now carries every pass).
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt.max(1)
    // JIT-drain warmup (opt-in, SPARK_GRAFT_WARMUP=N, default 0): before
    // a query's timed reps, run up to N untimed passes, stopping early
    // once a pass runs outside the JVM's compile/deopt churn window
    // (per-pass JIT compile delta under max(500 ms, 10% of the wall) —
    // the Diag adjudication rule). The per-round driver bench never sets
    // this, so its totals stay directly comparable across rounds; ladder
    // and soak runs set it so heavy-tail mins are steady-state without a
    // standalone Diag pass per query (r17 open-ladder: q111's in-suite
    // min read 4.3x its standalone steady from suite churn).
    val warmup = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "0").toInt.max(0)
    val spark = GraftSession(s"local[$cpus]", cpus)
    sys.env.get("SPARK_GRAFT_CONF").foreach(confEntries(_).foreach {
      case (k, v) => spark.conf.set(k, v)
    })
    Diag.warm(spark, sfDir)

    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    only.foreach(_.diff(SparkEntry.queries.keySet).foreach(n =>
      System.err.println(s"[bench] WARNING: unknown query in SPARK_GRAFT_ONLY: $n")))
    // q22 is the fixed CONTROL: a known-cheap query that always runs,
    // even under SPARK_GRAFT_ONLY, so any run can be calibrated against
    // box load (its passes land in the artifact like everything else's)
    val control = "q22_clean_numeric"
    val selected = SparkEntry.queries
      .filter { case (name, _) => name == control || only.forall(_.contains(name)) }
    // Per-pass JIT compile-time delta (Diag.jitMs): lands in the artifact
    // beside every wall so a churn-dominated pass (jit delta ~ wall) is
    // visible to a reader WITHOUT a standalone Diag rerun —
    // self-adjudicating ladders.
    import Diag.jitMs
    def timePasses(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        n: Int): Seq[(Double, Long)] =
      (1 to n).map { _ =>
        val j0 = jitMs()
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          ((System.nanoTime() - t0) / 1e9, jitMs() - j0)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            (-1.0, jitMs() - j0) // sentinel: failed passes must not look like timings
        }
      }
    // Untimed churn-drain passes; returns how many were consumed so the
    // artifact records what each query's timed reps sat on top of.
    def drainJit(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Int = {
      var k = 0
      var steady = warmup == 0
      while (!steady && k < warmup) {
        val (w, j) = timePasses(name, fn, 1).head
        k += 1
        steady = w < 0 || j < math.max(500L, (w * 100).toLong)
      }
      k
    }
    // window-quality BRACKET (round-8 advice): run the control FIRST and
    // LAST so the committed artifact shows whether external box load
    // moved during the run — a calm window has both brackets near the
    // control's floor and near each other. One UNTIMED pass first so the
    // opening bracket measures box load, not cold codegen/JIT.
    timePasses(control, SparkEntry.queries(control), 1)
    val controlFirst = timePasses(control, SparkEntry.queries(control), reps).map(_._1)
    // ordered Seq (not a Map) so the emitted JSON keys are stable run-to-run
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      // release the previous query's broadcast/shuffle references — the
      // ContextCleaner only frees them after a driver GC, and 40 queries
      // of accumulated state otherwise taxes the tail of the run
      spark.catalog.clearCache()
      System.gc()
      val warmed = drainJit(name, fn)
      val timed = timePasses(name, fn, reps)
      val passes = timed.map(_._1)
      val ok = passes.filter(_ >= 0)
      (name, if (ok.isEmpty) -1.0 else ok.min, passes, timed.map(_._2), warmed)
    }
    val controlLast = timePasses(control, SparkEntry.queries(control), reps).map(_._1)
    // The always-run control must not inflate targeted-run totals: when
    // SPARK_GRAFT_ONLY is set and did NOT ask for the control, its time
    // stays visible in queries/passes but is excluded from "value" (r7
    // advice). Full-suite totals are unchanged (the control is selected).
    val total = results.collect {
      case (name, v, _, _, _) if v >= 0 && only.forall(_.contains(name)) => v
    }.sum
    val detail = results.map { case (k, v, _, _, _) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val allPasses = results.map { case (k, _, ps, _, _) =>
      s"\"" + k + "\":" + ps.map(fmt).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val allJit = results.map { case (k, _, _, js, _) =>
      s"\"" + k + "\":" + js.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val allWarm = results.map { case (k, _, _, _, w) =>
      s"\"" + k + "\":" + w
    }.mkString("{", ",", "}")
    def arr(xs: Seq[Double]) = xs.map(fmt).mkString("[", ",", "]")
    val detailLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":$reps,"warmup":$warmup,"control_first":${arr(controlFirst)},"control_last":${arr(controlLast)},"queries":$detail,"passes":$allPasses,"jit_ms":$allJit,"warmup_used":$allWarm,"sf":"$sfDir"}"""
    // Full per-query detail goes to a file + stderr; the harness that runs us
    // keeps only the last ~2000 chars of stdout and must be able to parse the
    // final line as one JSON object, so stdout gets a compact line keyed by
    // the qNN prefix (full names are in BENCH_DETAIL.json / SURVEY.md §2).
    // Default to BENCH_WINDOW.json: the per-round driver bench never
    // sets SPARK_GRAFT_DETAIL, and for three rounds running its loaded
    // window overwrote the committed calm reps=3 artifact in the working
    // tree. Calm runs opt in explicitly with
    // SPARK_GRAFT_DETAIL=BENCH_DETAIL.json; the driver window lands in
    // its own file and the calm artifact stays append-only.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_DETAIL", "BENCH_WINDOW.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(detailPath),
      (detailLine + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] detail write: ${e.getMessage}") }
    System.err.println(detailLine)
    println(compactLine(results.map(r => (r._1, r._2)), total, sfDir))
    spark.stop()
  }

  /** Parses SPARK_GRAFT_CONF, the optional runtime-conf overrides for
    * tuned soak runs, e.g. SPARK_GRAFT_CONF=spark.graft.autoShufflePartitions=true
    * — the per-round driver bench never sets this, so its numbers are
    * always defaults. Entries are comma-separated k=v pairs; values must
    * not contain commas. Empty/whitespace entries are tolerated
    * (SPARK_GRAFT_CONF="" is a common wrapper-script default). A
    * malformed entry, or a spark.graft.* key graft does not read
    * (GraftSession.GraftKeys), aborts the run LOUDLY — a silently
    * dropped conf would make a tuned soak masquerade as defaults.
    */
  def confEntries(raw: String): Seq[(String, String)] =
    raw.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { kv =>
      kv.split("=", 2) match {
        case Array(k, _) if k.startsWith("spark.graft.") && !GraftSession.GraftKeys(k) =>
          sys.error(s"[bench] unknown SPARK_GRAFT_CONF key: '$k' (graft reads only " +
            GraftSession.GraftKeys.toSeq.sorted.mkString(", ") + ")")
        case Array(k, v) if k.nonEmpty => k -> v
        case _ => sys.error(s"[bench] malformed SPARK_GRAFT_CONF entry: '$kv'" +
          " (expected key=value; values must not contain commas)")
      }
    }

  /** The stdout line: the total and each query's min wall keyed by its
    * qNN prefix, at 2 decimals. The harness keeps only the last ~2000
    * chars of stdout and must parse the final line as one JSON object;
    * at 152 queries the 3-decimal line ran ~2.5 KB and the capture
    * truncated its head two rounds running (PERF_r17
    * prev_bench_ok:false). 10 ms precision brings the full line + sbt's
    * trailing [success] line inside the window (BenchSpec bounds it);
    * the 3-decimal per-query detail is unchanged in
    * BENCH_WINDOW/BENCH_DETAIL.json and on stderr.
    */
  def compactLine(results: Seq[(String, Double)], total: Double, sfDir: String): String = {
    val queries = results.map { case (k, v) =>
      s"\"" + k.takeWhile(_ != '_') + "\":" + fmt2(v)
    }.mkString("{", ",", "}")
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$queries,"sf":"$sfDir"}"""
  }

  // Locale.ROOT: f"$v%.3f" uses the JVM default locale and would emit
  // comma decimals (invalid JSON) on e.g. de_DE JVMs; -1 marks a failure
  private def fmt(v: Double): String =
    if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
  private def fmt2(v: Double): String =
    if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
}
