package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{IndexSet, Retrieval}

/** T50's index lifecycle on the BM25 side of an index set (r15 verdict
  * next-round #2 — PqIndex parity): a published version absorbs ingest
  * and deletes with exact global-stat updates. The contracts are strict
  * equalities against a fresh in-memory build of the same corpus —
  * doc-local tf/dl make append exact by construction, and the
  * df/sum_dl updates are integer arithmetic, so nothing is approximate.
  * The PQ side of the same mutations is PqServeSpec's; the cross-index
  * version guarantees are IndexSetSpec's.
  */
class Bm25LifecycleSpec extends GraftSpec {

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(s"graft_$name").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def docs = Tables.documents(spark, sfDir)
    .select(col("doc_id"), col("text"))
  private def vecs = Tables.embeddings(spark, sfDir)

  private def queries = Tables.documents(spark, sfDir)
    .filter(col("doc_id") < Retrieval.NumQueries)
    .select(col("doc_id").as("query_id"), col("text"))

  private def serveRows(idx: Retrieval.Bm25Index) =
    Retrieval.scoreQueries(queries, idx)
      .select("query_id", "rk", "doc_id", "score_u", "n_terms").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet

  /** The row sets of postings, df and dl, then (n_docs, sum_dl). */
  private def pieces(idx: Retrieval.Bm25Index) = (
    idx.postings.select("doc_id", "term", "tf", "dl").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet,
    idx.df.select("term", "df").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet,
    idx.dl.select("doc_id", "dl").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet,
    (idx.nDocs, idx.sumDl))

  private def assertPieces(got: Retrieval.Bm25Index, want: Retrieval.Bm25Index): Unit = {
    val (gp, gdf, gdl, gst) = pieces(got)
    val (wp, wdf, wdl, wst) = pieces(want)
    assert(gp === wp, "postings must equal the fresh build")
    assert(gdf === wdf, "per-term df must update exactly")
    assert(gdl === wdl, "dl rows must update exactly")
    assert(gst === wst, "n_docs/sum_dl must update exactly")
  }

  private def without(df: DataFrame, key: String, ids: Seq[Long]) =
    df.filter(!col(key).isin(ids.map(Long.box): _*))

  /** (name, mtime) of each file in a partition dir, empty when absent. */
  private def files(dir: String) = {
    val d = new java.io.File(dir)
    if (!d.exists()) Seq.empty
    else d.listFiles().map(f => (f.getName, f.lastModified())).sortBy(_._1).toSeq
  }

  private def snapshot(root: String) = IndexSet.loadSnapshot(spark, root)

  test("append-then-serve is bit-identical to a fresh publish of the union") {
    val root = tmp("bm25_incr")
    IndexSet.publish(spark, docs.filter(col("doc_id") % 5 =!= 0),
      vecs.filter(col("vec_id") % 5 =!= 0), root)
    IndexSet.append(spark, docs.filter(col("doc_id") % 5 === 0),
      vecs.filter(col("vec_id") % 5 === 0), root)
    val fresh = Retrieval.buildBm25IndexFrom(docs)
    val snap = snapshot(root)
    assertPieces(snap.bm25, fresh)
    assert(serveRows(snap.bm25) === serveRows(fresh),
      "append-then-serve must equal fresh-build serve")
  }

  test("delete-then-serve is bit-identical to a fresh publish of the survivors") {
    // pin the SURGICAL path (the fraction is above the default republish
    // threshold; this test's contract is the survivor segment). The
    // fixture's vocabulary is tiny, so most docs touch every term bucket:
    // the victims are the %7 == 3 docs holding no term of the rarest
    // term's bucket, which must then stay untouched
    val bm = Retrieval.buildBm25IndexFrom(docs)
    val keptTb = Retrieval.termBucketOf(
      bm.df.orderBy(col("df"), col("term")).first().getString(0))
    val victims = docs.filter(col("doc_id") >= 20 && col("doc_id") % 7 === 3)
      .join(bm.postings.filter(Retrieval.termBucketCol === keptTb), Seq("doc_id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(victims.nonEmpty)
    val root = tmp("bm25_del")
    IndexSet.publish(spark, docs, vecs, root)
    // pin the untouched tb partition's files across the delete
    val untouchedTb = s"$root/bm25/postings/seg=1/tb=$keptTb"
    val before = files(untouchedTb)
    assert(before.nonEmpty)

    IndexSet.delete(spark, victims, root, () => (), republishFraction = 2.0)
    assert(files(untouchedTb) === before,
      "an untouched tb partition must not be rewritten")
    val fresh = Retrieval.buildBm25IndexFrom(without(docs, "doc_id", victims))
    val snap = snapshot(root)
    assertPieces(snap.bm25, fresh)
    assert(serveRows(snap.bm25) === serveRows(fresh),
      "post-delete rankings must equal the survivor-set serve")
  }

  test("bulk delete degrades to a survivor republish: every piece equals a fresh publish") {
    // r16 verdict #5: above the victim-fraction threshold the surgical
    // path collects near the full vocabulary and rewrites every
    // partition — the guard republishes instead. Same victim set as the
    // surgical test, whose fraction is above the default threshold:
    // results must be identical to a fresh build of the survivors, with
    // only the fresh survivor segment referenced.
    val victims = docs.filter(col("doc_id") >= 20 && col("doc_id") % 7 === 3)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val root = tmp("bm25_bulkdel")
    IndexSet.publish(spark, docs, vecs, root)
    val m2 = IndexSet.delete(spark, victims, root)
    assert(m2.bm25Postings.map(_.id) === Seq("2") && m2.bm25Dl.map(_.id) === Seq("2"),
      "a bulk delete must reference only the fresh survivor segment")
    val fresh = Retrieval.buildBm25IndexFrom(without(docs, "doc_id", victims))
    val snap = snapshot(root)
    assertPieces(snap.bm25, fresh)
    assert(serveRows(snap.bm25) === serveRows(fresh))
  }

  test("a fully-victimized tb partition is removed outright") {
    val sp = spark
    import sp.implicits._
    // pin the surgical path (1 victim of 3 docs is above any sane
    // republish threshold; the partition-exclusion contract is surgical)
    // crafted corpus: pick a word whose bucket no other corpus term
    // shares, so deleting its only document must EMPTY that partition.
    // The vector side is the fixture corpus (the delete drops vec 1 too).
    val words = Seq("zzzuniq", "qqq", "aaa", "bbb")
    val buckets = words.map(w => w -> Retrieval.termBucketOf(w)).toMap
    assume(words.count(w => buckets(w) == buckets("zzzuniq")) == 1,
      s"fixture bucket collision: $buckets")
    val tiny = Seq((1L, "zzzuniq zzzuniq"), (2L, "qqq aaa"), (3L, "qqq bbb"))
      .toDF("doc_id", "text")
    val root = tmp("bm25_empty")
    IndexSet.publish(spark, tiny, vecs, root)
    val tb = buckets("zzzuniq")
    assert(new java.io.File(s"$root/bm25/postings/seg=1/tb=$tb").exists())
    val m2 = IndexSet.delete(spark, Seq(1L), root, () => (), republishFraction = 2.0)
    assert(m2.bm25Postings.find(_.id == "1").get.excluded.contains(s"tb=$tb"),
      "the old segment's emptied partition must be excluded in the manifest")
    assert(!new java.io.File(s"$root/bm25/postings/seg=2/tb=$tb").exists(),
      "an emptied partition has no survivor rows to write")
    val snap = snapshot(root)
    assert(snap.bm25.postings.filter(col("tb") === tb).count() === 0L,
      "no row of a fully-victimized partition may be read")
    assert(Retrieval.scoreQueries(Seq((100L, "zzzuniq")).toDF("query_id", "text"), snap.bm25)
      .count() === 0L, "no deleted posting may be served")
    // the deleted doc's vocabulary left the df table entirely
    val dfTerms = snap.bm25.df.collect().map(_.getString(0)).toSet
    assert(!dfTerms.contains("zzzuniq"), "df must drop zero-df terms")
    assert(dfTerms === Set("qqq", "aaa", "bbb"))
    assert((snap.manifest.nDocs, snap.manifest.sumDl) === ((2L, 4L)),
      "stats must subtract the victim's exact counts")
  }

  test("compaction restores publish form after appends; rankings unchanged") {
    val root = tmp("bm25_compact")
    IndexSet.publish(spark, docs.filter(col("doc_id") % 3 === 0),
      vecs.filter(col("vec_id") % 3 === 0), root)
    IndexSet.append(spark, docs.filter(col("doc_id") % 3 === 1),
      vecs.filter(col("vec_id") % 3 === 1), root)
    val m3 = IndexSet.append(spark, docs.filter(col("doc_id") % 3 === 2),
      vecs.filter(col("vec_id") % 3 === 2), root)
    assert(m3.bm25Postings.size === 3 && m3.bm25Dl.size === 3 && m3.docs.size === 3,
      "appends must have accreted segments for this test to mean anything")

    val before = snapshot(root)
    val beforePieces = pieces(before.bm25)
    val beforeDocs = before.docs.select("doc_id", "text").collect().toSet
    val beforeServe = serveRows(before.bm25)
    val m4 = IndexSet.compact(spark, root)
    assert(Seq(m4.bm25Postings, m4.bm25Dl, m4.docs).forall(_.map(_.id) == Seq("4")),
      "every component must be back to one publish-form segment")
    val after = snapshot(root)
    assert(pieces(after.bm25) === beforePieces,
      "compaction must not change a single row of any index piece")
    assert(after.docs.select("doc_id", "text").collect().toSet === beforeDocs)
    assert(serveRows(after.bm25) === beforeServe)
  }

  test("doc store: retrieve->fetch, lifecycle parity, partition-pruned reads") {
    val root = tmp("bm25_store")
    IndexSet.publish(spark, docs.filter(col("doc_id") % 5 =!= 0),
      vecs.filter(col("vec_id") % 5 =!= 0), root)
    IndexSet.append(spark, docs.filter(col("doc_id") % 5 === 0),
      vecs.filter(col("vec_id") % 5 === 0), root)

    // retrieve -> fetch: the top-k ids' content equals the corpus rows
    val snap = snapshot(root)
    val topIds = Retrieval.scoreQueries(queries, snap.bm25, excludeSelf = true)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSeq
    assert(topIds.nonEmpty)
    val fetched = IndexSet.fetchDocs(snap, topIds).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val want = docs.filter(col("doc_id").isin(topIds.map(Long.box): _*))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(fetched === want, "fetched content must equal the corpus rows")
    // the fetch scan is partition-pruned on db
    val plan = IndexSet.fetchDocs(snap, topIds).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("db"), plan)

    // GDPR parity: a deleted doc disappears from the store too
    val victim = topIds.head
    IndexSet.delete(spark, Seq(victim), root)
    assert(IndexSet.fetchDocs(snapshot(root), Seq(victim)).collect().isEmpty,
      "a deleted doc must be unfetchable")
    def stored = snapshot(root).docs.select("doc_id").collect().map(_.getLong(0)).toSet
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(stored === all - victim,
      "the store after append+delete must hold exactly the survivor set")

    // compaction covers the store's accreted segments too
    assert(IndexSet.compact(spark, root).docs.size === 1)
    assert(stored === all - victim, "compaction must not change the store's rows")
  }

  test("published serve plan partition-prunes postings on the tb buckets") {
    val root = tmp("bm25_prune")
    IndexSet.publish(spark, docs, vecs, root)
    val plan = Retrieval.scoreQueries(queries, snapshot(root).bm25)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("tb"),
      s"serve scan must carry a tb partition filter:\n$plan")
  }
}
