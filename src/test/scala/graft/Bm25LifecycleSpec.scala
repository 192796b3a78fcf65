package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Retrieval

/** T50's index lifecycle (r15 verdict next-round #2 — PqIndex parity):
  * the published BM25 index absorbs ingest and deletes with exact
  * global-stat updates. The contracts are strict equalities against a
  * fresh publish — doc-local tf/dl make append exact by construction,
  * and the df/sum_dl updates are integer arithmetic, so nothing is
  * approximate.
  */
class Bm25LifecycleSpec extends GraftSpec {

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(s"graft_$name").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def docs = Tables.documents(spark, sfDir)
    .select(col("doc_id"), col("text"))

  private def queries = Tables.documents(spark, sfDir)
    .filter(col("doc_id") < Retrieval.NumQueries)
    .select(col("doc_id").as("query_id"), col("text"))

  private def serveRows(idx: Retrieval.Bm25Index) =
    Retrieval.scoreQueries(queries, idx)
      .select("query_id", "rk", "doc_id", "score_u", "n_terms").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet

  private def pieces(dir: String) = (
    spark.read.parquet(s"$dir/postings")
      .select("doc_id", "term", "tf", "dl", "tb").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getInt(4))).toSet,
    spark.read.parquet(s"$dir/df").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet,
    spark.read.parquet(s"$dir/dl").select("doc_id", "dl", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet,
    spark.read.parquet(s"$dir/stats").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet)

  test("append-then-serve is bit-identical to a fresh publish of the union") {
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val arrivals = docs.filter(col("doc_id") % 5 === 0)

    val incrDir = tmp("bm25_incr")
    Retrieval.publishBm25(Retrieval.buildBm25IndexFrom(base), incrDir)
    Retrieval.appendToBm25(spark, arrivals, incrDir)

    val freshDir = tmp("bm25_fresh")
    Retrieval.publishBm25(Retrieval.buildBm25IndexFrom(docs), freshDir)

    val (ip, idf, idl, ist) = pieces(incrDir)
    val (fp, fdf, fdl, fst) = pieces(freshDir)
    assert(ip === fp, "postings after append must equal the union build")
    assert(idf === fdf, "per-term df must update exactly")
    assert(idl === fdl, "dl rows must update exactly")
    assert(ist === fst, "n_docs/avgdl/sum_dl must update exactly")
    assert(serveRows(Retrieval.loadBm25(spark, incrDir)) ===
      serveRows(Retrieval.loadBm25(spark, freshDir)),
      "append-then-serve must equal fresh-publish serve")
  }

  test("delete-then-serve is bit-identical to a fresh publish of the survivors") {
    // pin the SURGICAL path: this fixture's victim fraction (~14%) is
    // above the default republish threshold, and this test's contract
    // is the per-partition swap (untouched partitions byte-identical)
    val victims = docs.filter(col("doc_id") >= 20 && col("doc_id") % 7 === 3)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(victims.nonEmpty)
    val survivors = docs.filter(!col("doc_id").isin(victims: _*))

    val delDir = tmp("bm25_del")
    Retrieval.publishBm25(Retrieval.buildBm25IndexFrom(docs), delDir)
    // pin an untouched tb partition's files across the delete
    val touched = spark.read.parquet(s"$delDir/postings")
      .filter(col("doc_id").isin(victims.map(Long.box): _*))
      .select("tb").distinct().collect().map(_.getInt(0)).toSet
    val untouchedTb = (0 until Retrieval.TermBuckets)
      .find(t => !touched.contains(t) &&
        new java.io.File(s"$delDir/postings/tb=$t").exists())
    def files(t: Int) = new java.io.File(s"$delDir/postings/tb=$t")
      .listFiles().map(f => (f.getName, f.lastModified())).sortBy(_._1).toSeq
    val before = untouchedTb.map(files)

    Retrieval.deleteFromBm25(spark, victims, delDir, republishFraction = 2.0)
    untouchedTb.foreach(t => assert(files(t) === before.get,
      "an untouched tb partition must not be rewritten"))

    val freshDir = tmp("bm25_surv")
    Retrieval.publishBm25(Retrieval.buildBm25IndexFrom(survivors), freshDir)
    val (dp, ddf, ddl, dst) = pieces(delDir)
    val (sp2, sdf, sdl, sst) = pieces(freshDir)
    assert(dp === sp2, "surviving postings must equal the survivor build")
    assert(ddf === sdf,
      "df must subtract the victims' exact per-term doc counts")
    assert(ddl === sdl)
    assert(dst === sst, "n_docs/avgdl/sum_dl must subtract exactly")
    assert(serveRows(Retrieval.loadBm25(spark, delDir)) ===
      serveRows(Retrieval.loadBm25(spark, freshDir)),
      "post-delete rankings must equal the survivor-set serve")
  }

  test("bulk delete degrades to a survivor republish: every piece equals a fresh publish") {
    // r16 verdict #5: above the victim-fraction threshold the surgical
    // path collects near the full vocabulary and swaps every partition
    // — the guard republishes instead. Same victim set as the surgical
    // test, whose fraction is above the default threshold: results must
    // be identical to a fresh publish of the survivors, with no
    // victim-derived driver state and no staging/rename leftovers.
    val victims = docs.filter(col("doc_id") >= 20 && col("doc_id") % 7 === 3)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val survivors = docs.filter(!col("doc_id").isin(victims: _*))
    val delDir = tmp("bm25_bulkdel")
    Retrieval.publishBm25(Retrieval.buildBm25IndexFrom(docs), delDir)
    Retrieval.deleteFromBm25(spark, victims, delDir)
    val freshDir = tmp("bm25_bulksurv")
    Retrieval.publishBm25(Retrieval.buildBm25IndexFrom(survivors), freshDir)
    val (dp, ddf, ddl, dst) = pieces(delDir)
    val (sp2, sdf, sdl, sst) = pieces(freshDir)
    assert(dp === sp2 && ddf === sdf && ddl === sdl && dst === sst,
      "republished survivor pieces must equal a fresh survivor publish")
    assert(serveRows(Retrieval.loadBm25(spark, delDir)) ===
      serveRows(Retrieval.loadBm25(spark, freshDir)))
    assert(!new java.io.File(delDir).listFiles()
      .exists(f => f.getName.contains("-staging-") ||
        f.getName.contains("-replaced-")))
  }

  test("a fully-victimized tb partition is removed outright") {
    val sp = spark
    import sp.implicits._
    // pin the surgical path (1 victim of 3 docs is above any sane
    // republish threshold; the partition-removal contract is surgical)
    // crafted corpus: pick a word whose bucket no other corpus term
    // shares, so deleting its only document must EMPTY that partition
    val words = Seq("zzzuniq", "qqq", "aaa", "bbb")
    val buckets = words.map(w => w -> Retrieval.termBucketOf(w)).toMap
    assume(words.count(w => buckets(w) == buckets("zzzuniq")) == 1,
      s"fixture bucket collision: $buckets")
    val tiny = Seq((1L, "zzzuniq zzzuniq"), (2L, "qqq aaa"), (3L, "qqq bbb"))
      .toDF("doc_id", "text")
    val dir = tmp("bm25_empty")
    Retrieval.publishBm25(Retrieval.buildBm25IndexFrom(tiny), dir)
    val tb = buckets("zzzuniq")
    assert(new java.io.File(s"$dir/postings/tb=$tb").exists())
    Retrieval.deleteFromBm25(spark, Seq(1L), dir, republishFraction = 2.0)
    assert(!new java.io.File(s"$dir/postings/tb=$tb").exists(),
      "a partition whose every posting was a victim must be gone")
    // the deleted doc's vocabulary left the df table entirely
    val dfTerms = spark.read.parquet(s"$dir/df").collect()
      .map(_.getString(0)).toSet
    assert(!dfTerms.contains("zzzuniq"), "df must drop zero-df terms")
    assert(dfTerms === Set("qqq", "aaa", "bbb"))
    val st = spark.read.parquet(s"$dir/stats").collect()(0)
    assert(st.getLong(0) === 2L && st.getLong(2) === 4L,
      "stats must subtract the victim's exact counts")
    // no staging or rename-aside leftovers anywhere in the index
    assert(!new java.io.File(dir).listFiles()
      .exists(f => f.getName.contains("-staging-") ||
        f.getName.contains("-replaced-")))
  }

  test("compaction restores publish form after appends; rankings unchanged") {
    val dir = tmp("bm25_compact")
    Retrieval.publishBm25(
      Retrieval.buildBm25IndexFrom(docs.filter(col("doc_id") % 3 === 0)), dir)
    Retrieval.appendToBm25(spark, docs.filter(col("doc_id") % 3 === 1), dir)
    Retrieval.appendToBm25(spark, docs.filter(col("doc_id") % 3 === 2), dir)
    import graft.sources.PartitionSwap
    assert(PartitionSwap.multiFilePartitions(spark, s"$dir/postings").nonEmpty,
      "appends must have accreted files for this test to mean anything")

    val beforePieces = pieces(dir)
    val beforeServe = serveRows(Retrieval.loadBm25(spark, dir))
    val compacted = Retrieval.compactBm25(spark, dir)
    assert(compacted.nonEmpty)
    assert(PartitionSwap.multiFilePartitions(spark, s"$dir/postings").isEmpty,
      "every postings partition must be back to one publish-form file")
    assert(PartitionSwap.multiFilePartitions(spark, s"$dir/dl").isEmpty)
    assert(pieces(dir) === beforePieces,
      "compaction must not change a single row of any index piece")
    assert(serveRows(Retrieval.loadBm25(spark, dir)) === beforeServe)
    // idempotent: publish-form partitions are never rewritten
    assert(Retrieval.compactBm25(spark, dir).isEmpty,
      "a second compaction must be a complete no-op")
  }

  test("doc store: retrieve->fetch, lifecycle parity, partition-pruned reads") {
    val dir = tmp("bm25_store")
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val arrivals = docs.filter(col("doc_id") % 5 === 0)
    Retrieval.publishBm25(Retrieval.buildBm25IndexFrom(base), dir)
    Retrieval.publishDocStore(base, dir)
    Retrieval.appendToBm25(spark, arrivals, dir)
    Retrieval.appendToDocStore(spark, arrivals, dir)

    // retrieve -> fetch: the top-k ids' content equals the corpus rows
    val idx = Retrieval.loadBm25(spark, dir)
    val topIds = Retrieval.scoreQueries(queries, idx, excludeSelf = true)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSeq
    assert(topIds.nonEmpty)
    val fetched = Retrieval.fetchDocs(spark, dir, topIds).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val want = docs.filter(col("doc_id").isin(topIds.map(Long.box): _*))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(fetched === want, "fetched content must equal the corpus rows")
    // the fetch scan is partition-pruned on db
    val plan = Retrieval.fetchDocs(spark, dir, topIds)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("db"), plan)

    // GDPR parity: a deleted doc disappears from the store too
    val victim = topIds.head
    Retrieval.deleteFromBm25(spark, Seq(victim), dir)
    Retrieval.deleteFromDocStore(spark, Seq(victim), dir)
    assert(Retrieval.fetchDocs(spark, dir, Seq(victim)).collect().isEmpty,
      "a deleted doc must be unfetchable")
    val survivors = spark.read.parquet(s"$dir/docs")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors === all - victim,
      "the store after append+delete must hold exactly the survivor set")

    // compaction covers the store's accreted partitions too
    import graft.sources.PartitionSwap
    assert(PartitionSwap.multiFilePartitions(spark, s"$dir/docs").nonEmpty)
    Retrieval.compactBm25(spark, dir)
    assert(PartitionSwap.multiFilePartitions(spark, s"$dir/docs").isEmpty)
    assert(spark.read.parquet(s"$dir/docs").select("doc_id").collect()
      .map(_.getLong(0)).toSet === all - victim,
      "compaction must not change the store's rows")
  }

  test("publishing an empty corpus fails loudly; legacy 2-col stats still load") {
    // r16 ADVICE pair. (a) writeStats guarded: an empty corpus would
    // write avgdl = NaN and poison every tfn downstream.
    val err = intercept[Exception] {
      Retrieval.publishBm25(
        Retrieval.buildBm25IndexFrom(docs.filter(col("doc_id") < 0)),
        tmp("bm25_empty"))
    }
    assert(err.getMessage.contains("empty corpus"), err.getMessage)
    // (b) pre-sum_dl artifacts (stats = n_docs, avgdl) load via the
    // exact derivation sum_dl = round(avgdl * n_docs) instead of an
    // index-out-of-bounds.
    val dir = tmp("bm25_legacy")
    val idx = Retrieval.buildBm25IndexFrom(docs)
    Retrieval.publishBm25(idx, dir)
    spark.read.parquet(s"$dir/stats").select("n_docs", "avgdl")
      .write.mode("overwrite").parquet(s"$dir/stats_tmp")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/stats"), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$dir/stats_tmp"),
      new org.apache.hadoop.fs.Path(s"$dir/stats"))
    val loaded = Retrieval.loadBm25(spark, dir)
    assert(loaded.nDocs === idx.nDocs)
    assert(loaded.sumDl === idx.sumDl,
      "derived sum_dl must recover the exact long")
    assert(serveRows(loaded) === serveRows(idx))
  }

  test("published serve plan partition-prunes postings on the tb buckets") {
    val dir = tmp("bm25_prune")
    Retrieval.publishBm25(Retrieval.buildBm25IndexFrom(docs), dir)
    val idx = Retrieval.loadBm25(spark, dir)
    val plan = Retrieval.scoreQueries(queries, idx)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("tb"),
      s"serve scan must carry a tb partition filter:\n$plan")
  }
}
