package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{IndexSet, Quantize}
import graft.streaming.PqServe

/** T49's serving surface: the published IVFADC index (coarse cells +
  * codebook + cell-partitioned codes) and the stateless per-request
  * scorer. The contract has three legs:
  *
  *   1. `probeTopK` over a freshly built index reproduces batch q147's
  *      oracle-checked ranking bit-for-bit — which also proves the
  *      native row-local `pq_lut` equals the batch explode + keyed
  *      collect_list LUT assembly (same adc_u longs, same order);
  *   2. an index-set publish → snapshot round-trips the artifact (and
  *      the cell partitioning makes a routed read partition-pruned at
  *      the parquet layer — the 100 TB layout claim, pinned on the
  *      plan), and the set's append/delete/compact keep the codes
  *      exact under the frozen fit;
  *   3. STREAMING probes through PqServe.serve equal batch across any
  *      batch split (each probe served within its own micro-batch).
  */
class PqServeSpec extends GraftSpec {

  case class Probe(probe_id: Long, pvec: Seq[Float])

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(s"graft_$name").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def batchRows: Set[(Long, Long, Int, Long, Long)] =
    Quantize.q147IvfAdc(spark, sfDir)
      .select("probe_id", "rk", "cell", "vec_id", "adc_u").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getLong(4))).toSet

  private def probes =
    Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < Quantize.PqProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"))

  private def collectTopk(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
      r.getLong(3), r.getLong(4))).toSet

  /** Publishes the fixture corpus as an index set under a fresh root. */
  private def published(name: String): String = {
    val root = tmp(name)
    IndexSet.publish(spark, Tables.documents(spark, sfDir).select("doc_id", "text"),
      Tables.embeddings(spark, sfDir), root)
    root
  }

  private def snapPq(root: String) = IndexSet.loadSnapshot(spark, root).pq

  private def codeRows(idx: Quantize.PqIndex) =
    idx.codes.select("vec_id", "cell", "code").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))

  /** (name, mtime) of each file in a partition dir, empty when absent. */
  private def files(dir: String) = {
    val d = new java.io.File(dir)
    if (!d.exists()) Seq.empty
    else d.listFiles().map(f => (f.getName, f.lastModified())).sortBy(_._1).toSeq
  }

  test("probeTopK over built and published/loaded index equals batch q147") {
    val expected = batchRows
    val idx = Quantize.buildIndex(spark, sfDir)
    assert(collectTopk(Quantize.probeTopK(probes, idx)) === expected,
      "in-memory index serving must equal the oracle-checked batch ranking")

    val loaded = snapPq(published("pqindex"))
    assert(loaded.book.toSeq === idx.book.toSeq,
      "codebook must round-trip bit-for-bit")
    assert(collectTopk(Quantize.probeTopK(probes, loaded)) === expected,
      "published/loaded index serving must equal batch")

    // the 100 TB layout claim: codes are partitioned by cell, so a
    // routed candidate read is pruned at the parquet layer
    val pruned = loaded.codes.filter(col("cell") === 3)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("cell"), scan)

    // serving plan: row-local native lut + adc, no shuffle on the
    // probe side beyond the top-k window
    val plan = Quantize.probeTopK(probes, loaded)
      .queryExecution.executedPlan.toString
    assert(plan.contains("pq_lut"), "serving LUT must be the native expression")
    assert(plan.contains("pq_adc"))
    assert(!plan.contains("collect_list"),
      "serving path must not assemble LUTs through an aggregate")
  }

  test("pq_lut equals an independent driver-side replay on the trained book") {
    val idx = Quantize.buildIndex(spark, sfDir)
    val M = Quantize.PqM; val K = Quantize.PqK; val D = Quantize.PqD
    // one real residual per probe cell, replayed with plain doubles
    val coarse = idx.coarse.collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
    val e = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < 3)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
    e.foreach { row =>
      val cell = row.getInt(1)
      val pres = row.getSeq[Float](2).toArray.zip(coarse(cell))
        .map { case (x, c) => x.toDouble - c }
      val got = spark.sql(
        s"SELECT pq_lut(array(${pres.map(d => s"${d}D").mkString(",")}), " +
          s"array(${idx.book.map(d => s"${d}D").mkString(",")}), " +
          s"array(${Seq(M, K, D).mkString(",")}))")
        .collect().head.getSeq[Long](0)
      val want = (0 until M * K).map { slot =>
        val mi = slot / K; val ki = slot % K
        var n2x = 0.0; var dot = 0.0; var n2c = 0.0
        (0 until D).foreach { i =>
          val x = pres(mi * D + i)
          val c = idx.book((mi * K + ki) * D + i)
          n2x += x * x; dot += x * c; n2c += c * c
        }
        val d2 = n2x - 2.0 * dot + n2c
        java.math.BigDecimal.valueOf(d2 * 1e6)
          .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
      }
      assert(got === want, s"lut drift for vec ${row.getLong(0)}")
    }
    // malformed inputs poison to null
    val bad = spark.sql(
      s"SELECT pq_lut(array(1.0D), array(${idx.book.map(d => s"${d}D").mkString(",")}), " +
        s"array($M, $K, $D)), " +
        "pq_lut(cast(null as array<double>), array(0.5D, 0.5D), array(1, 2, 1))")
      .collect().head
    assert(bad.isNullAt(0), "wrong-length vector must be null")
    assert(bad.isNullAt(1), "null vector must be null")
  }

  test("incremental append under the frozen fit equals a fresh full publish") {
    // publish the full fit, take the odd vectors out, then append them
    // back as "arrivals" encoded under the frozen published fit
    val root = published("pqappend")
    val odd = Tables.embeddings(spark, sfDir).filter(col("vec_id") % 2 === 1)
    val oddIds = odd.select("vec_id").collect().map(_.getLong(0)).toSeq
    IndexSet.delete(spark, oddIds, root)
    assert(codeRows(snapPq(root)).forall(_._1 % 2 == 0))
    IndexSet.append(spark, Tables.documents(spark, sfDir).select("doc_id", "text")
      .filter(col("doc_id") % 2 === 1), odd, root)
    val merged = snapPq(root)
    // the merged artifact's codes equal the full build's codes exactly
    val full = codeRows(Quantize.buildIndex(spark, sfDir)).toSet
    assert(codeRows(merged).toSet === full, "append must reproduce the full encode exactly")
    // and serving over the appended index equals batch q147
    assert(collectTopk(Quantize.probeTopK(probes, merged)) === batchRows,
      "appended index serving must equal the oracle-checked batch ranking")
  }

  test("index delete rewrites only touched cells and serves the survivor set") {
    val root = published("pqdelete")
    val loaded = snapPq(root)
    val all = codeRows(loaded)
    // victims: the two largest cells' first 10 ids — a multi-cell
    // survivor write, with at least one cell untouched (the surgical
    // path: a 10-vector delete is above the default republish fraction)
    val cells = all.groupBy(_._2)
    val touched = cells.toSeq.sortBy(-_._2.length).take(2).map(_._1).toSet
    val untouched = cells.keys.filterNot(touched.contains).head
    val victims = all.filter(r => touched.contains(r._2)).map(_._1).take(10).toSeq
    assert(victims.size === 10)
    val before = files(s"$root/pq/codes/seg=1/cell=$untouched")
    assert(before.nonEmpty)
    IndexSet.delete(spark, victims, root, () => (), republishFraction = 2.0)
    assert(files(s"$root/pq/codes/seg=1/cell=$untouched") === before,
      "an untouched cell partition must not be rewritten")
    val merged = snapPq(root)
    assert(codeRows(merged).toSet === all.toSet -- all.filter(r => victims.contains(r._1)),
      "surviving codes must be exactly the non-victims")
    // serving over the deleted index equals serving over a direct
    // survivor-filtered index (deletes never change the frozen fit)
    val direct = loaded.copy(codes = loaded.codes.filter(!col("vec_id").isin(victims: _*)))
    assert(collectTopk(Quantize.probeTopK(probes, merged)) ===
      collectTopk(Quantize.probeTopK(probes, direct)),
      "post-delete serving must equal the survivor-set ranking")
  }

  test("deleting a cell's entire membership removes the cell outright") {
    val root = published("pqdeleteall")
    val all = codeRows(snapPq(root))
    val cells = all.groupBy(_._2)
    // victims: EVERY member of the smallest cell plus a few from another
    // — the r15 ADVICE defect: dynamic overwrite left a fully-victimized
    // cell's files in place and kept serving the deleted ids
    val emptied = cells.toSeq.minBy(_._2.length)._1
    val partial = cells.keys.filter(_ != emptied).head
    val untouched = cells.keys.filterNot(c => c == emptied || c == partial).head
    val victims = cells(emptied).map(_._1).toSeq ++
      cells(partial).map(_._1).take(3)
    val before = files(s"$root/pq/codes/seg=1/cell=$untouched")
    val m2 = IndexSet.delete(spark, victims, root, () => (), republishFraction = 2.0)
    assert(m2.pqCodes.find(_.id == "1").get.excluded.contains(s"cell=$emptied"),
      "the emptied cell must be excluded in the manifest")
    assert(files(s"$root/pq/codes/seg=2/cell=$emptied").isEmpty,
      "an emptied cell has no survivor rows to write")
    assert(files(s"$root/pq/codes/seg=1/cell=$untouched") === before,
      "an untouched cell partition must not be rewritten")
    val merged = snapPq(root)
    assert(merged.codes.filter(col("cell") === emptied).count() === 0L)
    val victimSet = victims.toSet
    assert(codeRows(merged).toSet === all.filterNot(r => victimSet.contains(r._1)).toSet,
      "surviving codes must be exactly the non-victims — nothing of the " +
        "emptied cell may remain servable")
  }

  test("append under a frozen coarse table ERRORS on an uncovered label") {
    val root = published("pqappendbad")
    val sp = spark
    import sp.implicits._
    // label 9999 has no fitted coarse centroid: the r15 ADVICE defect
    // was a silent inner-join drop — the arrival simply never entered
    // the index; now residualFrame's coverage assert raises
    val stray = Seq((999999L, Seq.fill(Quantize.PqM * Quantize.PqD)(0.5f), 9999))
      .toDF("vec_id", "embedding", "label")
    val err = intercept[Exception] {
      IndexSet.append(spark, Seq((999999L, "stray words")).toDF("doc_id", "text"), stray, root)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(err).exists(_.contains("coarse")),
      s"expected the coverage assert, got: $err")
    assert(IndexSet.currentVersion(spark, root) === 1L)
  }

  test("code compaction merges appended segments into one; rows and rankings unchanged") {
    val root = published("pqcompact")
    // append a handful of synthetic vectors into ONE existing cell
    val target = snapPq(root).coarse.select("cell").collect().map(_.getInt(0)).min
    val sp = spark
    import sp.implicits._
    val ids = (0 until 3).map(1000000L + _)
    val m2 = IndexSet.append(spark,
      ids.map(i => (i, s"synthetic doc $i")).toDF("doc_id", "text"),
      ids.zipWithIndex.map { case (i, k) =>
        (i, Seq.fill(Quantize.PqM * Quantize.PqD)(0.25f + k * 0.1f), target)
      }.toDF("vec_id", "embedding", "label"), root)
    assert(m2.pqCodes.size === 2, "the append must have accreted a codes segment")
    val before = snapPq(root)
    val beforeCodes = codeRows(before).toSet
    assert(beforeCodes.filter(_._1 >= 1000000L).map(_._2) === Set(target))
    val beforeServe = collectTopk(Quantize.probeTopK(probes, before))

    val m3 = IndexSet.compact(spark, root)
    assert(m3.pqCodes.map(_.id) === Seq("3"), "compaction must leave one codes segment")
    val after = snapPq(root)
    assert(codeRows(after).toSet === beforeCodes, "compaction must not change the code rows")
    assert(collectTopk(Quantize.probeTopK(probes, after)) === beforeServe)
  }

  test("streamed serving equals batch q147 across a batch split") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext

    val expected = batchRows
    val idx = Quantize.buildIndex(spark, sfDir)
    val sink = tmp("pqsink") + "/topk"
    val all = probes.collect()
      .map(r => Probe(r.getLong(0), r.getSeq[Float](1)))
    val (b1, b2) = all.partition(_.probe_id % 2 == 0)

    // excludeSelf=true: these probes ARE corpus vectors (the T6
    // convention batch q147 replays) — production serving defaults to
    // false because request ids may collide with corpus ids
    val stream = MemoryStream[Probe]
    val q = PqServe.serve(stream.toDF(), idx, sink, excludeSelf = true)
    try {
      stream.addData(b1: _*)
      q.processAllAvailable()
      stream.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()

    val got = collectTopk(spark.read.parquet(sink)
      .select("probe_id", "rk", "cell", "vec_id", "adc_u"))
    assert(got === expected,
      s"stream-only=${(got -- expected).take(5)} batch-only=${(expected -- got).take(5)}")
  }

  test("default serving keeps a corpus vector whose id collides with a request id") {
    // r16 ADVICE: PqServe.serve hardcoded probeTopK's batch default
    // excludeSelf=true, silently dropping any corpus vector whose
    // vec_id equals an arriving request id. Default serving must keep
    // it — a corpus vector IS its own nearest neighbor, so the
    // colliding id must appear at rank 1.
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext

    val idx = Quantize.buildIndex(spark, sfDir)
    val sink = tmp("pqselfsink") + "/topk"
    val colliders = probes.collect()
      .map(r => Probe(r.getLong(0), r.getSeq[Float](1)))
    val stream = MemoryStream[Probe]
    val q = PqServe.serve(stream.toDF(), idx, sink) // default excludeSelf
    try {
      stream.addData(colliders: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = collectTopk(spark.read.parquet(sink)
      .select("probe_id", "rk", "cell", "vec_id", "adc_u"))
    val want = collectTopk(Quantize.probeTopK(probes, idx, excludeSelf = false))
    assert(got === want,
      "default serve must equal the non-excluding batch scorer")
    assert(got.exists(r => r._1 == r._4),
      "some colliding id must survive in its own top-k — the defect this pins")
    assert(got !== batchRows,
      "the non-excluding ranking must differ from the self-excluding one here")
  }
}
