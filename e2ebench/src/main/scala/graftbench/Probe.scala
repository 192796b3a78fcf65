package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{BenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed region around one call into a layer. `parent` is the index
  * of the enclosing span (-1 at top level); `req` ties the spans of one
  * request or query together (-1 when none).
  */
final case class Span(name: String, startNs: Long, endNs: Long, parent: Int, req: Long)

/** Spans recorded in memory on the driver thread. Disabled, it only runs
  * the body.
  */
final class Spans(var enabled: Boolean) {
  private val buf = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def apply[T](name: String, req: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val idx = buf.size
      buf += Span(name, System.nanoTime(), -1L, open.headOption.getOrElse(-1), req)
      open = idx :: open
      try body
      finally {
        open = open.tail
        buf(idx) = buf(idx).copy(endNs = System.nanoTime())
      }
    }

  def all: Seq[Span] = buf.toSeq
}

/** One Spark job: its wall interval in epoch ms (the scheduler's
  * timestamps), its latency in ns as delivered on the listener bus (the
  * timestamps only have ms resolution), and whether its stages are a
  * checkpoint.
  */
final case class JobSpan(id: Int, startMs: Long, endMs: Long, latencyNs: Long, checkpoint: Boolean)

/** Job intervals: registered in every run, because on the batch
  * workload a job is the unit the latency percentiles are taken over.
  */
final class JobTimes extends SparkListener {
  private val starts = scala.collection.mutable.Map.empty[Int, (Long, Long, Boolean)]
  private val done = ArrayBuffer.empty[JobSpan]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    starts(e.jobId) = (e.time, System.nanoTime(),
      e.stageInfos.exists(_.name.toLowerCase.contains("checkpoint")))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    starts.remove(e.jobId).foreach { case (t0, n0, ck) =>
      done += JobSpan(e.jobId, t0, e.time, System.nanoTime() - n0, ck)
    }
  }
  def jobs: Seq[JobSpan] = synchronized(done.toSeq)
}

/** Engine counters for the traced run: stage task metrics, failed tasks
  * and Catalyst phase times, summed since registration.
  */
final class EngineCounters extends SparkListener with QueryExecutionListener {
  private val c = scala.collection.mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = c(k) = c(k) + v

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    add("stages", 1)
    add("tasks", si.numTasks)
    if (m != null) {
      add("run_ms", m.executorRunTime)
      add("cpu_ns", m.executorCpuTime)
      add("gc_ms", m.jvmGCTime)
      add("input_bytes", m.inputMetrics.bytesRead)
      add("input_records", m.inputMetrics.recordsRead)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_write_records", m.shuffleWriteMetrics.recordsWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("spill_bytes", m.diskBytesSpilled)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.reason != Success) add("tasks_failed", 1)
  }
  private def phases(qe: QueryExecution): Unit = synchronized {
    add("plan_ms", qe.tracker.phases.values.map(_.durationMs).sum)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)

  def snapshot: Map[String, Double] = synchronized(c.toMap.withDefaultValue(0.0))
}

/** JVM-wide counters read from the MXBeans and Spark's codegen metrics. */
object Jvm {
  private val jit = ManagementFactory.getCompilationMXBean

  def jitMs: Long =
    if (jit != null && jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime else 0L

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Janino compiles so far and their total milliseconds. The histogram
    * keeps a sample of at most 1028 values, so past that the total is
    * the count times the sampled mean.
    */
  def codegen: (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val n = h.getCount
    val total = if (snap.size >= n) snap.getValues.map(_.toDouble).sum else snap.getMean * n
    (n, total)
  }

  /** Live heap after a full collection, in MiB. The pause between the
    * two collections lets Spark's cleaner drop the broadcasts and
    * shuffles the first one released; without it one run in ten read
    * 60% high.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** The listeners the run registers: job intervals always, engine
  * counters only when tracing.
  */
final class Probe(spark: SparkSession, val trace: Boolean) {
  val jobs = new JobTimes
  val engine: Option[EngineCounters] = if (trace) Some(new EngineCounters) else None
  val spans = new Spans(trace)

  spark.sparkContext.addSparkListener(jobs)
  attach()

  /** Registers the tracing listeners and enables spans (traced runs only). */
  def attach(): Unit = engine.foreach { e =>
    spark.sparkContext.addSparkListener(e)
    spark.listenerManager.register(e)
    spans.enabled = true
  }

  def detach(): Unit = engine.foreach { e =>
    drain()
    spark.sparkContext.removeSparkListener(e)
    spark.listenerManager.unregister(e)
    spans.enabled = false
  }

  def drain(): Unit = BenchBus.drain(spark.sparkContext)

  def counters(): Map[String, Double] = {
    drain()
    engine.map(_.snapshot).getOrElse(Map.empty[String, Double].withDefaultValue(0.0))
  }
}
