package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{IndexSet, Quantize, Retrieval}
import graft.streaming.HybridServe

/** The versioned index-set manifest (r16 verdict #1): the BM25 index,
  * the IVFADC index, and the doc store committed as ONE manifest
  * version, so a fused serve can never straddle two corpus versions.
  * Contracts:
  *
  *   1. every committed version's serving equals a fresh composition
  *      over that version's corpus (publish, append-union, delete-
  *      survivors parity);
  *   2. a snapshot pinned BEFORE a mutation keeps serving its own
  *      version bit-identically after the mutation commits (immutable
  *      segments + manifest-side visibility);
  *   3. a mutation killed before its manifest commit leaves the PRIOR
  *      version current and fully servable, and re-running the
  *      mutation rolls forward;
  *   4. compaction preserves corpusVersion and rankings; vacuum
  *      reclaims exactly the unreferenced dirs.
  */
class IndexSetSpec extends GraftSpec {

  case class Req(query_id: Long, text: String, pvec: Seq[Float])

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(s"graft_$name").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def docs = Tables.documents(spark, sfDir)
    .select(col("doc_id"), col("text"))
  private def vecs = Tables.embeddings(spark, sfDir)

  private def requests = Tables.documents(spark, sfDir)
    .filter(col("doc_id") < Retrieval.NumQueries)
    .select(col("doc_id").as("query_id"), col("text"))
    .join(Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("query_id"), col("embedding").as("pvec")),
      Seq("query_id"))

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("query_id", "rk", "cand_id", "rrf_u").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  private def snapRows(snap: IndexSet.HybridSnapshot) =
    rows(HybridServe.fusedFromSnapshot(requests, snap, excludeSelf = true))

  private def memRows(d: org.apache.spark.sql.DataFrame,
      v: org.apache.spark.sql.DataFrame) =
    rows(HybridServe.fused(requests, Retrieval.buildBm25IndexFrom(d),
      Quantize.buildIndexFrom(v), excludeSelf = true))

  /** The frozen-fit composition oracle: appends/deletes never refit the
    * PQ coarse/book (the PqServeSpec discipline), so the expected union
    * or survivor ranking encodes ALL vectors under the fit trained on
    * `fitVecs` — a fresh refit of the union would rank differently.
    */
  private def frozenFitRows(d: org.apache.spark.sql.DataFrame,
      fitVecs: org.apache.spark.sql.DataFrame,
      v: org.apache.spark.sql.DataFrame) = {
    val fit = Quantize.buildIndexFrom(fitVecs)
    rows(HybridServe.fused(requests, Retrieval.buildBm25IndexFrom(d),
      fit.copy(codes = Quantize.encodeUnder(fit.coarse, fit.book, v)),
      excludeSelf = true))
  }

  test("publish -> snapshot serving equals the in-memory composition; version stamped") {
    val root = tmp("ixset_pub")
    val m = IndexSet.publish(spark, docs, vecs, root)
    assert(m.version === 1L && m.corpusVersion === 1L)
    val snap = IndexSet.loadSnapshot(spark, root)
    assert(snap.manifest.nDocs === docs.count())
    assert(snapRows(snap) === memRows(docs, vecs))
    // every output row carries the snapshot's corpus version
    val vsCol = HybridServe.fusedFromSnapshot(requests, snap, excludeSelf = true)
      .select("corpus_version").distinct().collect().map(_.getLong(0)).toSeq
    assert(vsCol === Seq(1L))
    // fetch half: content reads prune to the ids' db partition dirs
    val fetched = IndexSet.fetchDocs(snap, Seq(1L, 2L))
    assert(fetched.collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    val plan = fetched.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("db"), plan)
    // double publish refuses
    val err = intercept[Exception] { IndexSet.publish(spark, docs, vecs, root) }
    assert(err.getMessage.contains("already holds"), err.getMessage)
  }

  test("append commits one version; a pre-append snapshot keeps serving its own") {
    val root = tmp("ixset_app")
    val baseD = docs.filter(col("doc_id") % 5 =!= 0)
    val baseV = vecs.filter(col("vec_id") % 5 =!= 0)
    val arrD = docs.filter(col("doc_id") % 5 === 0)
    val arrV = vecs.filter(col("vec_id") % 5 === 0)

    IndexSet.publish(spark, baseD, baseV, root)
    val snap1 = IndexSet.loadSnapshot(spark, root)
    val served1 = snapRows(snap1)
    assert(served1 === memRows(baseD, baseV))

    val m2 = IndexSet.append(spark, arrD, arrV, root)
    assert(m2.version === 2L && m2.corpusVersion === 2L)

    // the pinned snapshot still serves VERSION 1 bit-identically — its
    // segments are immutable and its manifest resolution is fixed
    assert(snapRows(snap1) === served1,
      "a pre-append snapshot must keep serving its own corpus version")

    // the new version serves the union, equal to a fresh composition
    val snap2 = IndexSet.loadSnapshot(spark, root)
    assert(snap2.manifest.nDocs === docs.count())
    assert(snap2.manifest.sumDl ===
      Retrieval.buildBm25IndexFrom(docs).sumDl)
    assert(snapRows(snap2) === frozenFitRows(docs, baseV, vecs))
    // time travel: loading version 1 explicitly equals the pinned snapshot
    assert(snapRows(IndexSet.loadSnapshot(spark, root, Some(1L))) === served1)
  }

  test("a mutation killed before its manifest commit leaves the prior version servable") {
    val root = tmp("ixset_kill")
    val baseD = docs.filter(col("doc_id") % 5 =!= 0)
    val baseV = vecs.filter(col("vec_id") % 5 =!= 0)
    val arrD = docs.filter(col("doc_id") % 5 === 0)
    val arrV = vecs.filter(col("vec_id") % 5 === 0)
    IndexSet.publish(spark, baseD, baseV, root)
    val served1 = snapRows(IndexSet.loadSnapshot(spark, root))

    // kill the append AFTER all its data writes, BEFORE the commit —
    // the staged segment/generation dirs exist but no manifest names them
    val boom = intercept[RuntimeException] {
      IndexSet.append(spark, arrD, arrV, root,
        () => throw new RuntimeException("simulated crash before commit"))
    }
    assert(boom.getMessage.contains("simulated crash"))
    assert(new java.io.File(s"$root/bm25/postings/seg=2").exists(),
      "the killed append must have staged its segment (the hook fires last)")
    assert(IndexSet.currentVersion(spark, root) === 1L,
      "no manifest may exist for the killed mutation")
    assert(snapRows(IndexSet.loadSnapshot(spark, root)) === served1,
      "the prior version must serve bit-identically after the kill")

    // roll forward: re-running the append overwrites the orphaned
    // segment id (uncommitted by construction) and commits v2
    val m2 = IndexSet.append(spark, arrD, arrV, root)
    assert(m2.version === 2L)
    val unionRows = frozenFitRows(docs, baseV, vecs)
    assert(snapRows(IndexSet.loadSnapshot(spark, root)) === unionRows)

    // same for delete: kill it, prior version (v2) still serves WITH
    // the victims — deletion is not durable until the manifest commits
    val victims = Seq(11L, 12L)
    intercept[RuntimeException] {
      IndexSet.delete(spark, victims, root,
        () => throw new RuntimeException("simulated crash before commit"))
    }
    assert(IndexSet.currentVersion(spark, root) === 2L)
    assert(snapRows(IndexSet.loadSnapshot(spark, root)) === unionRows)
    assert(IndexSet.fetchDocs(IndexSet.loadSnapshot(spark, root), victims)
      .count() === 2L, "victims must remain fetchable until the commit")
  }

  test("delete excludes touched partitions, never rewrites old segments") {
    val root = tmp("ixset_del")
    // pin the SURGICAL path: this fixture's victim fraction (~2%) is
    // above the shared republish default, and this test's contract is
    // exclusions + untouched old segments
    IndexSet.publish(spark, docs, vecs, root)
    // victims: every doc in db bucket 3 (fully victimizes dl/docs db=3)
    // plus one stray — survivors of other buckets must be untouched
    val all = docs.select("doc_id").collect().map(_.getLong(0))
    val victims = (all.filter(_ % Retrieval.DocBuckets == 3) :+ 17L).toSeq.distinct
    val survD = docs.filter(!col("doc_id").isin(victims.map(Long.box): _*))
    val survV = vecs.filter(!col("vec_id").isin(victims.map(Long.box): _*))

    def fileState(p: String) = {
      val d = new java.io.File(p)
      if (!d.exists()) Seq.empty
      else d.listFiles().map(f => (f.getName, f.lastModified())).sortBy(_._1).toSeq
    }
    val dlUntouchedBefore = fileState(s"$root/bm25/dl/seg=1/db=5")

    val m2 = IndexSet.delete(spark, victims, root, () => (), republishFraction = 2.0)
    assert(m2.corpusVersion === 2L)
    assert(m2.nDocs === docs.count() - victims.size)

    // old segment untouched on disk; the fully-victimized db=3 is an
    // exclusion, not a rewrite
    assert(fileState(s"$root/bm25/dl/seg=1/db=5") === dlUntouchedBefore,
      "an untouched partition of an old segment must not be rewritten")
    val dlSeg1 = m2.bm25Dl.find(_.id == "1").get
    assert(dlSeg1.excluded.contains("db=3"))
    val snap = IndexSet.loadSnapshot(spark, root)
    // nothing of db=3 is servable, and no victim is fetchable
    assert(snap.docs.filter(col("doc_id").isin(victims.map(Long.box): _*))
      .count() === 0L)
    assert(IndexSet.fetchDocs(snap, victims.take(3)).count() === 0L)
    // survivor parity: serving equals the frozen-fit survivor composition
    assert(snapRows(snap) === frozenFitRows(survD, vecs, survV))
  }

  test("bulk delete republishes survivor segments under one manifest version") {
    // the deleteFromBm25 guard inside the manifest world: above the
    // shared victim-fraction default, fresh survivor segments replace the
    // whole family (df/stats recomputed from the staged survivors, no
    // victim-derived driver state), committed as one version
    val root = tmp("ixset_bulk")
    IndexSet.publish(spark, docs, vecs, root)
    val all = docs.select("doc_id").collect().map(_.getLong(0))
    val victims = all.filter(_ % 7 == 3).toSeq
    val survD = docs.filter(!col("doc_id").isin(victims.map(Long.box): _*))
    val survV = vecs.filter(!col("vec_id").isin(victims.map(Long.box): _*))
    val m2 = IndexSet.delete(spark, victims, root)
    assert(m2.corpusVersion === 2L)
    assert(m2.bm25Postings.map(_.id) === Seq("2") &&
      m2.bm25Dl.map(_.id) === Seq("2") && m2.pqCodes.map(_.id) === Seq("2") &&
      m2.docs.map(_.id) === Seq("2"),
      "bulk delete must reference only the fresh survivor segments")
    assert(m2.nDocs === all.length - victims.size)
    val snap = IndexSet.loadSnapshot(spark, root)
    assert(IndexSet.fetchDocs(snap, victims.take(5)).count() === 0L)
    assert(snapRows(snap) === frozenFitRows(survD, vecs, survV),
      "bulk-path serving must equal the frozen-fit survivor composition")
    // the pre-delete segments become vacuum-able orphans
    val deleted = IndexSet.vacuum(spark, root)
    assert(deleted.exists(_.endsWith("seg=1")))
    assert(snapRows(IndexSet.loadSnapshot(spark, root)) ===
      frozenFitRows(survD, vecs, survV))
  }

  test("compaction preserves corpusVersion and rankings; vacuum reclaims orphans") {
    val root = tmp("ixset_cmp")
    val baseD = docs.filter(col("doc_id") % 5 =!= 0)
    val baseV = vecs.filter(col("vec_id") % 5 =!= 0)
    IndexSet.publish(spark, baseD, baseV, root)
    IndexSet.append(spark, docs.filter(col("doc_id") % 5 === 0),
      vecs.filter(col("vec_id") % 5 === 0), root)
    val before = snapRows(IndexSet.loadSnapshot(spark, root))

    val m3 = IndexSet.compact(spark, root)
    assert(m3.version === 3L)
    assert(m3.corpusVersion === 2L,
      "compaction is row-set identity — corpusVersion must not bump")
    assert(m3.bm25Postings.map(_.id) === Seq("3"))
    assert(snapRows(IndexSet.loadSnapshot(spark, root)) === before)

    // vacuum(keep 1): segments 1 and 2 are unreferenced by v3 — gone;
    // serving is unchanged after the reclaim
    val deleted = IndexSet.vacuum(spark, root, keepVersions = 1)
    assert(deleted.exists(_.endsWith("seg=1")) &&
      deleted.exists(_.endsWith("seg=2")), deleted.mkString(", "))
    assert(!new java.io.File(s"$root/bm25/postings/seg=1").exists())
    assert(IndexSet.versions(spark, root) === Seq(3L))
    assert(snapRows(IndexSet.loadSnapshot(spark, root)) === before)
  }

  test("retrieve->fetch composed: content in-batch, store reads pruned to the ids' buckets") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext

    val root = tmp("ixset_fetch")
    IndexSet.publish(spark, docs, vecs, root)
    val snap = IndexSet.loadSnapshot(spark, root)

    // batch composition: the fused ranking joined with each candidate's
    // stored text — every ranked id must carry its corpus content
    val ranked = HybridServe.fusedFromSnapshot(requests, snap, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val withContent = HybridServe.fusedWithContent(requests, snap,
      excludeSelf = true)
    val got = withContent.collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      === ranked, "content join must preserve the fused ranking exactly")
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    got.foreach { r =>
      assert(r.getString(7) === texts(r.getLong(2)),
        s"candidate ${r.getLong(2)} must carry its stored text")
    }

    // the fetch half opens <= |distinct buckets of ids| db partition dirs
    val ids = got.map(_.getLong(2)).distinct.toSeq
    val buckets = ids.map(i =>
      java.lang.Math.floorMod(i, Retrieval.DocBuckets.toLong)).distinct
    val fetchScan = IndexSet.fetchDocs(snap, ids)
      .queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(fetchScan.isDefined)
    assert(fetchScan.get.selectedPartitions.partitionCount <= buckets.size,
      s"store read must open <= ${buckets.size} partition dirs, " +
        s"opened ${fetchScan.get.selectedPartitions.partitionCount}")

    // streamed == batch across a split
    val all = requests.collect()
      .map(r => Req(r.getLong(0), r.getString(1), r.getSeq[Float](2)))
    val (b1, b2) = all.partition(_.query_id % 2 == 0)
    val sink = tmp("ixset_fsink") + "/fused"
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Req]
    val q = HybridServe.serveSnapshotWithContent(stream.toDF(), snap, sink,
      excludeSelf = true)
    try {
      stream.addData(b1: _*)
      q.processAllAvailable()
      stream.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(sink)
      .select("query_id", "rk", "cand_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(streamed === got.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(7))).toSet)
  }

  test("streamed snapshot serving equals batch and pins one corpus version") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext

    val root = tmp("ixset_stream")
    IndexSet.publish(spark, docs, vecs, root)
    val snap = IndexSet.loadSnapshot(spark, root)
    val expected = rows(HybridServe.fusedFromSnapshot(requests, snap,
      excludeSelf = true))

    val all = requests.collect()
      .map(r => Req(r.getLong(0), r.getString(1), r.getSeq[Float](2)))
    val (b1, b2) = all.partition(_.query_id % 2 == 0)
    val sink = tmp("ixset_sink") + "/fused"
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Req]
    val q = HybridServe.serveSnapshot(stream.toDF(), snap, sink,
      excludeSelf = true)
    try {
      stream.addData(b1: _*)
      q.processAllAvailable()
      // a mutation commits BETWEEN micro-batches: the pinned snapshot
      // must keep serving version 1 for the second batch too
      IndexSet.append(spark,
        Seq((900001L, "zz zz zz")).toDF("doc_id", "text"),
        Seq((900001L, Seq.fill(64)(0.1f), 0)).toDF("vec_id", "embedding", "label"),
        root)
      stream.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(sink)
    assert(rows(out) === expected,
      "a pinned snapshot must never fuse across two manifest versions")
    assert(out.select("corpus_version").distinct().collect()
      .map(_.getLong(0)).toSeq === Seq(1L))
  }

  private def baseD = docs.filter(col("doc_id") % 5 =!= 0)
  private def baseV = vecs.filter(col("vec_id") % 5 =!= 0)
  private def arrD = docs.filter(col("doc_id") % 5 === 0)
  private def arrV = vecs.filter(col("vec_id") % 5 === 0)

  test("each declared component schema is the schema a publish and an append write") {
    val root = tmp("ixset_schema")
    IndexSet.publish(spark, baseD, baseV, root)
    IndexSet.append(spark, arrD, arrV, root)
    def onDisk(dir: String) = spark.read.parquet(s"$root/$dir").schema
    Seq("bm25/postings" -> IndexSet.PostingsSchema, "bm25/dl" -> IndexSet.DlSchema,
      "pq/codes" -> IndexSet.CodesSchema, "docs" -> IndexSet.DocsSchema).foreach {
      case (comp, declared) => Seq(1, 2).foreach { seg =>
        assert(onDisk(s"$comp/seg=$seg") === declared, s"$comp seg=$seg")
      }
    }
    Seq(1, 2).foreach(gen => assert(onDisk(s"bm25/df/gen=$gen") === IndexSet.DfSchema))
    assert(onDisk("pq/coarse/gen=1") === IndexSet.CoarseSchema)
    assert(onDisk("pq/book/gen=1") === IndexSet.BookSchema)
  }

  test("job counts: a snapshot after two appends runs one job; an append stays bounded") {
    val root = tmp("ixset_jobs")
    IndexSet.publish(spark, baseD, baseV, root)
    IndexSet.append(spark, docs.filter(col("doc_id") % 10 === 0),
      vecs.filter(col("vec_id") % 10 === 0), root)
    val (m3, appendJobs) = JobCount(spark)(IndexSet.append(spark,
      docs.filter(col("doc_id") % 10 === 5), vecs.filter(col("vec_id") % 10 === 5), root))
    assert(m3.version === 3L)
    // the file listing and the schemas come from the manifest; the
    // codebook collect is the one job left
    val (snap, snapJobs) = JobCount(spark)(IndexSet.loadSnapshot(spark, root))
    assert(snapJobs === 1)
    assert(appendJobs <= 22, s"an append ran $appendJobs jobs")
    assert(snapRows(snap) === frozenFitRows(docs, baseV, vecs))
  }

  test("an append whose codes write fails commits nothing, leaves no write running, rolls forward") {
    val root = tmp("ixset_cover")
    IndexSet.publish(spark, baseD, baseV, root)
    val served1 = snapRows(IndexSet.loadSnapshot(spark, root))
    // one arriving vector whose label owns no coarse centroid: the codes
    // chain fails its coverage check while the other chains write
    val first = arrV.agg(min("vec_id")).head.getLong(0)
    val uncovered = arrV.withColumn("label",
      when(col("vec_id") === first, lit(9999)).otherwise(col("label")))
    val (out, returned, jobs) = JobCount.timeline(spark)(
      IndexSet.append(spark, arrD, uncovered, root))
    val err = intercept[IllegalArgumentException](out.get)
    assert(err.getMessage.contains("labels without a fitted coarse centroid: 9999"), err.getMessage)
    assert(jobs.nonEmpty)
    val late = jobs.filter(_._2 > returned)
    assert(late.size == 0, s"${late.size} of ${jobs.size} jobs ended after the append returned")
    assert(IndexSet.currentVersion(spark, root) === 1L)
    assert(snapRows(IndexSet.loadSnapshot(spark, root)) === served1)
    // roll forward with valid input
    assert(IndexSet.append(spark, arrD, arrV, root).version === 2L)
    assert(snapRows(IndexSet.loadSnapshot(spark, root)) === frozenFitRows(docs, baseV, vecs))
  }
}
