package graftbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** Settings of one run, from the command line of `run.py`. */
final case class RunArgs(workload: String, data: String, work: String, seed: Long,
    seconds: Double, trace: Boolean, launchMs: Long, rate: Double)

/** The raw record of one run. Measurements go in as they are taken;
  * `run.py` turns them into the reported metrics.
  */
final class Record {
  val fields = mutable.LinkedHashMap.empty[String, Any]
  def update(k: String, v: Any): Unit = fields(k) = v
  def write(path: String, spans: Seq[Span]): Unit = {
    fields("spans") = spans.map(s => Map("name" -> s.name, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs, "parent" -> s.parent, "req" -> s.req))
    val json = new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(fields)
    Files.write(new File(path).toPath, json.getBytes("UTF-8"))
  }
}

/** Shared steps of every workload. */
final class Ctx(val spark: SparkSession, val args: RunArgs, val probe: Probe, val rec: Record) {
  def spans: Spans = probe.spans

  /** Wall seconds of `body`. */
  def secs(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Runs until the per-pass JIT compile delta drops under
    * max(500 ms, 10% of the pass wall) or `cap` passes ran; returns the
    * passes used. `pass` returns its wall in seconds.
    */
  def drainJit(cap: Int)(pass: => Double): Int = {
    var n = 0
    var steady = false
    while (!steady && n < cap) {
      val j0 = Jvm.jitMs
      val wall = pass
      n += 1
      steady = (Jvm.jitMs - j0) < math.max(500.0, wall * 100.0)
    }
    n
  }

  /** The q22 control probe: three runs, walls in ms. */
  def control(): Seq[Double] = {
    val q22 = SparkEntry.queries("q22_clean_numeric")
    (1 to 3).map(_ => secs(q22(spark, args.data).count()) * 1000.0)
  }

  /** Tracing overhead: the q22 control with the tracing listeners and
    * spans detached, then attached, alternating; the traced median over
    * the untraced one, in percent. Zero in an untraced run.
    */
  def overhead(): Unit = {
    val q22 = SparkEntry.queries("q22_clean_numeric")
    def once(): Double = secs(spans("control")(q22(spark, args.data).count()))
    val (off, on) = if (!probe.trace) (Seq(1.0), Seq(1.0)) else (1 to 5).map { _ =>
      probe.detach(); val a = once(); probe.attach(); (a, once())
    }.unzip
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    rec("overhead_pct") = 100.0 * (med(on) / med(off) - 1.0)
  }

  /** Live heap at the end of the timed phase. */
  def finish(): Unit = rec("heap_live_mb") = Jvm.liveHeapMb()
}

object Main {
  /** Batch workloads: name to query list. */
  val Batch: Map[String, Seq[String]] = Map(
    "curate_train" -> Seq("q129_lr_train", "q135_lr_balanced"))

  private def parse(argv: Array[String]): RunArgs = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    RunArgs(m("workload"), m("data"), m("work"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("launch-ms").toLong, m.getOrElse("rate", "0").toDouble)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val rec = new Record
    // The same core rule as the tier-1 suite: SPARK_GRAFT_CPUS, set by
    // run.py to the host's usable cores.
    val k = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession(s"local[$k]", k)
    rec("boot_s") = (System.currentTimeMillis() - args.launchMs) / 1000.0
    rec("cores") = k
    rec("jvm_args") = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .toArray.toSeq.map(_.toString).filterNot(_.startsWith("--add-opens"))
    val probe = new Probe(spark, args.trace)
    val ctx = new Ctx(spark, args, probe, rec)
    try {
      Batch.get(args.workload) match {
        case Some(names) => BatchRun(ctx, names)
        case None if args.workload == "hybrid_serve" => ServeRun(ctx)
        case None => sys.error(s"unknown workload ${args.workload}")
      }
      probe.drain()
      rec("jobs") = probe.jobs.jobs.map(j =>
        Seq(j.startMs, j.endMs, if (j.checkpoint) 1 else 0, j.latencyNs))
      rec.write(s"${args.work}/record.json", probe.spans.all)
    } finally spark.stop()
  }
}
