package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.operators.{IndexSet, Quantize, Retrieval}
import graft.streaming.HybridServe

/** hybrid_serve: an open loop of independent users against a published
  * index set that grows while it serves.
  *
  * Requests arrive as a seeded Poisson process at `args.rate` per second,
  * conditioned on its count: `rate * seconds` arrival times drawn
  * uniformly over the window, so every run has the same number of
  * requests and none falls past the window's last trigger.
  * The serve loop runs on the driver thread with a fixed trigger, like a
  * processing-time micro-batch: every `TickS` seconds (at once, when the
  * previous batch overran) it takes every request that is due as one
  * batch, answers it with `HybridServe.fusedWithContent` against the
  * current snapshot, and collects the rows. After the last request it
  * appends seeded ingest batches with `IndexSet.append`, one at a time,
  * and after each re-resolves the snapshot and answers the reference
  * requests from the new version.
  */
object ServeRun {
  /** Warm batches at most before the window. With none, the window's
    * first batch overran its trigger and `lat_p50_ms` spread 17% across
    * seeds (IQR over the median); with two, `warm_s` spread no less than
    * with one (15-28% against 7-22%) and a run took 3.5 s longer.
    */
  val DrainCap = 1
  val RefBatch = 10

  /** Appends after the window; `ingest_ms` is their median, so the
    * JIT-cold first append sets only half of it. A third append did not
    * steady it further across seeds and cost a run 7 s (README.md).
    */
  val IngestBatches = 2

  /** Trigger interval: a batch of one tick's arrivals takes less than
    * this on a 4-core host (README.md), so batch boundaries are set by
    * the clock and not by how long the previous batch took.
    */
  val TickS = 4.0

  private val reqSchema = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("pvec", ArrayType(FloatType, containsNull = false))))

  /** Result columns compared against the static reference (all but text). */
  private val refCols = Seq("query_id", "rk", "cand_id", "rrf_u", "rk_lex", "rk_sem", "corpus_version")

  private def rowKey(r: Row): String = refCols.map(c => String.valueOf(r.get(r.fieldIndex(c)))).mkString("|")

  def apply(ctx: Ctx): Unit = {
    import ctx._
    val dir = args.data
    val rnd = new java.util.Random(args.seed)
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val vecs = Tables.embeddings(spark, dir).select("vec_id", "embedding", "label")

    // Set-up: resolve the published base index (copied into this run's
    // work dir) three times; set-up time reports boot plus the median.
    val root = s"${args.work}/index"
    var snap: IndexSet.HybridSnapshot = null
    rec("prep_s") = (1 to 3).map(_ => secs {
      snap = spans("indexset.snapshot")(IndexSet.loadSnapshot(spark, root))
    })

    // Request pool: the seed's base-corpus documents that have a vector.
    val pool: IndexedSeq[(String, Seq[Float])] = docs.filter(Gen.inBase(col("doc_id")))
      .join(vecs, col("doc_id") === col("vec_id"))
      .orderBy("doc_id").select("text", "embedding").collect().toIndexedSeq
      .map(r => (r.getString(0), r.getSeq[Float](1)))
    require(pool.nonEmpty, "empty request pool")
    var nextId = 1000000000L
    def requests(n: Int): Seq[Row] = (1 to n).map { _ =>
      val (t, v) = pool(rnd.nextInt(pool.size)); nextId += 1; Row(nextId, t, v)
    }
    def frame(rows: Seq[Row]): DataFrame = spark.createDataFrame(rows.asJava, reqSchema)

    var attempted = 0
    var failed = 0
    /** Served rows must name the snapshot's corpus version and answer
      * every request in the batch.
      */
    def serve(reqs: Seq[Row], req: Long): Array[Row] = spans("serve.batch", req) {
      val version = snap.manifest.corpusVersion
      val out = spans("hybrid.fused_with_content", req)(
        HybridServe.fusedWithContent(frame(reqs), snap).collect())
      attempted += reqs.size
      if (!out.forall(_.getAs[Long]("corpus_version") == version) ||
          out.map(_.getAs[Long]("query_id")).toSet != reqs.map(_.getLong(0)).toSet) failed += reqs.size
      out
    }

    // Cold batch, then warm batches until the JIT drains.
    val ref = requests(RefBatch)
    val j0 = Jvm.jitMs
    val (cg0, cgMs0) = Jvm.codegen
    rec("cold_s") = secs(serve(ref, -1))
    val (cg1, cgMs1) = Jvm.codegen
    rec("cold_jit_ms") = Jvm.jitMs - j0
    rec("cold_codegen") = Seq(cg1 - cg0, cgMs1 - cgMs0)
    rec("warm_passes") = drainJit(DrainCap)(secs(serve(requests(RefBatch), -1)))
    val controlBefore = control()

    // The open-loop window.
    val n = math.max(1, math.round(args.rate * args.seconds).toInt)
    val reqs = requests(n)
    val c0 = probe.counters()
    val gc0 = Jvm.gcMs
    val w0 = System.currentTimeMillis()
    val start = System.nanoTime()
    val due = Array.fill(n)(rnd.nextDouble() * args.seconds).sorted.map(t => start + (t * 1e9).toLong)
    val pickup = new Array[Long](n)
    val done = new Array[Long](n)
    val wakes = ArrayBuffer.empty[(Long, Long)]
    val batches = ArrayBuffer.empty[(Int, Int, IndexSet.HybridSnapshot, Array[Row])]
    var next = 0
    var tick = 1
    while (next < n) {
      val at = start + (tick * TickS * 1e9).toLong
      tick += 1
      val ahead = at - System.nanoTime()
      if (ahead > 0) {
        Thread.sleep(ahead / 1000000L, (ahead % 1000000L).toInt)
        wakes += ((at, System.nanoTime()))
      }
      val now = System.nanoTime()
      var end = next
      while (end < n && due(end) <= now) end += 1
      if (end > next) {
        val out = serve(reqs.slice(next, end), next)
        val t = System.nanoTime()
        (next until end).foreach { i => pickup(i) = now; done(i) = t }
        batches += ((next, end, snap, out))
        next = end
      }
    }
    val w1 = System.currentTimeMillis()
    val c1 = probe.counters()
    val gc1 = Jvm.gcMs

    // Ingest after the fixed request count: the seed's share of the
    // ingest pool, cut into IngestBatches batches by id, each appended in
    // turn, the snapshot re-resolved and the reference requests answered
    // from the new version.
    val cycles = (0 until IngestBatches).map { i =>
      def slice(id: Column) =
        Gen.inPool(id) && pmod(floor(id / 8), lit(IngestBatches.toLong)) === i
      val prev = snap.manifest.corpusVersion
      val a0 = System.nanoTime()
      val m = spans("indexset.append")(IndexSet.append(spark,
        docs.filter(slice(col("doc_id"))), vecs.filter(slice(col("vec_id"))), root))
      val a1 = System.nanoTime()
      snap = spans("indexset.snapshot")(IndexSet.loadSnapshot(spark, root))
      val a2 = System.nanoTime()
      val out = serve(ref, -3 - i)
      val a3 = System.nanoTime()
      attempted += 1
      if (m.corpusVersion != prev + 1 || snap.manifest.corpusVersion != prev + 1) failed += 1
      (Seq((a1 - a0) / 1e6, (a2 - a1) / 1e6, (a3 - a0) / 1e6), out)
    }
    val fresh = cycles.last._2
    val Seq(appendMs, snapshotMs, ingestMs) = cycles.map(_._1).transpose
    rec("append") = Map("append_ms" -> appendMs, "snapshot_ms" -> snapshotMs,
      "ingest_ms" -> ingestMs, "segments" -> snap.manifest.docs.size)
    val controlAfter = control()

    // Correctness: up to RefBatch requests of one batch (a window batch
    // on even seeds, the last post-append one on odd seeds) replayed as a
    // static frame through fusedFromSnapshot against the snapshot that
    // served them. Each request's rows depend only on that request.
    val (rows, rs, out) =
      if (args.seed % 2 == 1) (ref, snap, fresh)
      else {
        val (a, b, s, o) = batches(rnd.nextInt(batches.size))
        (reqs.slice(a, math.min(b, a + RefBatch)), s, o)
      }
    val ids = rows.map(_.getLong(0)).toSet
    val want = HybridServe.fusedFromSnapshot(frame(rows), rs).collect().map(rowKey).sorted
    val got = out.filter(r => ids.contains(r.getAs[Long]("query_id"))).map(rowKey).sorted
    attempted += 1
    if (!(want sameElements got)) failed += 1

    // Layer replays after the window (traced run only).
    val refFrame = frame(ref)
    def layer(name: String)(body: => Unit): Seq[Double] =
      if (!probe.trace) Nil else (1 to 3).map(_ => secs(spans(name)(body)) * 1000.0)
    val bm25 = layer("retrieval.bm25")(Retrieval.scoreQueries(refFrame.select("query_id", "text"),
      snap.bm25).collect())
    val pq = layer("quantize.probe")(Quantize.probeTopK(refFrame.select(col("query_id").as("probe_id"),
      col("pvec")), snap.pq, excludeSelf = false).collect())
    val cands = fresh.map(_.getAs[Long]("cand_id")).distinct.toSeq
    val fetch = layer("indexset.fetch")(IndexSet.fetchDocs(snap, cands).collect())
    // rows scanned per result row, for the reference batch
    val scan = if (!probe.trace) Seq(0.0, 0.0) else {
      val s0 = probe.counters()
      val rows = HybridServe.fusedWithContent(refFrame, snap).collect().length
      val s1 = probe.counters()
      Seq(s1("input_records") - s0("input_records"), rows.toDouble)
    }

    rec("requests") = (0 until n).map(i => Seq(due(i), pickup(i), done(i)))
    rec("wakes") = wakes.map { case (a, b) => Seq(a, b) }
    rec("batch_sizes") = batches.map { case (a, b, _, _) => b - a }
    rec("batch_ms") = batches.map { case (a, _, _, _) => (done(a) - pickup(a)) / 1e6 }
    rec("window_ms") = Seq(w0, w1)
    rec("out_rows") = batches.map(_._4.length).sum
    rec("layer_ms") = Map("bm25" -> bm25, "probe" -> pq, "fetch" -> fetch)
    rec("scan_rows") = scan
    rec("engine") = c1.map { case (k, v) => k -> (v - c0(k)) }
    rec("jvm_gc_ms") = gc1 - gc0
    rec("control_ms") = Map("before" -> controlBefore, "after" -> controlAfter)
    overhead()
    rec("attempted") = attempted
    rec("failed") = failed
    finish()
  }
}
