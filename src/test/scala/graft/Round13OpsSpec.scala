package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, LrTrain}

/** Round-13 hardening specs: the persisted model registry's Hadoop-FS
  * port (r12 verdict item 3 / ADVICE medium) — scheme'd paths, torn
  * artifacts, digest validation, and the inspection/GC surface.
  */
class Round13OpsSpec extends GraftSpec {

  private def withRegistry[T](root: String)(f: => T): T =
    try {
      spark.conf.set("spark.graft.model.registry.dir", root)
      LrTrain.clearModelCache()
      f
    } finally {
      spark.conf.unset("spark.graft.model.registry.dir")
      LrTrain.clearModelCache()
    }

  private def freshDir(): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("graft-r13-registry")

  test("registry works against an explicit file:// Hadoop path (not a bare local path)") {
    val dir = freshDir()
    try withRegistry("file://" + dir.toString) {
      val warm = LrTrain.docWeights(spark, sfDir).collect().toSeq
      assert(java.nio.file.Files.list(dir).count() > 0,
        "no artifact written under the file:// root")
      LrTrain.clearModelCache()
      val t0 = LrTrain.trainCount.get()
      val cold = LrTrain.docWeights(spark, sfDir).collect().toSeq
      assert(LrTrain.trainCount.get() == t0,
        "cold session retrained instead of loading the file:// artifact")
      assert(cold == warm, "artifact round-trip diverged")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("torn artifacts silently retrain: missing key, foreign key, data/digest mismatch") {
    val dir = freshDir()
    try withRegistry(dir.toString) {
      val warm = LrTrain.docWeights(spark, sfDir).collect().toSeq
      val art = java.nio.file.Files.list(dir).iterator().next()
      def retrains(tag: String): Unit = {
        LrTrain.clearModelCache()
        val t0 = LrTrain.trainCount.get()
        val rows = LrTrain.docWeights(spark, sfDir).collect().toSeq
        assert(LrTrain.trainCount.get() > t0,
          s"$tag: torn artifact was served instead of retraining")
        assert(rows == warm, s"$tag: retrained fit diverged")
      }
      // 1. data present, MODEL_KEY absent (the r12 verdict's scenario:
      // a torn object-store rename that copied data but not the key)
      val keyFile = art.resolve("MODEL_KEY")
      val key = java.nio.file.Files.readAllBytes(keyFile)
      java.nio.file.Files.delete(keyFile)
      retrains("missing MODEL_KEY")
      // the retrain REWROTE a valid artifact in place of the torn one
      // (otherwise one torn write forces retraining in every session
      // forever); a fresh cold load now serves it with zero training
      assert(java.nio.file.Files.exists(keyFile), "torn artifact not repaired")
      LrTrain.clearModelCache()
      val t1 = LrTrain.trainCount.get()
      LrTrain.docWeights(spark, sfDir).count()
      assert(LrTrain.trainCount.get() == t1, "repaired artifact not served")
      // 2. MODEL_KEY present but foreign (hash-collision / moved dir)
      java.nio.file.Files.write(keyFile, "some-other-key".getBytes("UTF-8"))
      retrains("foreign MODEL_KEY")
      // 3. DATA_SUM disagrees with the data (partial copy: recorded row
      // count > what the data dir actually holds — the empty-matrix
      // hazard from the r12 ADVICE, generalized)
      val sumFile = art.resolve("DATA_SUM")
      val sum = new String(java.nio.file.Files.readAllBytes(sumFile), "UTF-8")
      val n = sum.split("\n")(0).trim.toInt
      java.nio.file.Files.write(sumFile,
        sum.replaceFirst(n.toString, (n + 7).toString).getBytes("UTF-8"))
      // restore the true key so ONLY the digest gate stands between the
      // mismatched data and the query
      java.nio.file.Files.write(keyFile, key)
      retrains("row-count mismatch")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("listArtifacts inventories the registry; pruneArtifacts keeps current keys only") {
    val dir = freshDir()
    try withRegistry(dir.toString) {
      // two artifacts under the default dial...
      LrTrain.docWeights(spark, sfDir).count()
      LrTrain.docWeightsWide(spark, sfDir).count()
      val current = LrTrain.currentKeys(spark, sfDir)
      // ...plus one under other hyperparameters (a superseded fit), and
      // a crashed writer's stale staging dir
      val docKey = current.find(_.contains("|doc_lr|")).get
      val w = LrTrain.docWeights(spark, sfDir)
      LrTrain.saveArtifact(spark, dir.toString, "doc_lr",
        docKey.replace("|it=3|", "|it=2|"), w.schema, w.collect())
      val staleTmp = dir.resolve(".tmp-doc_lr-deadbeef-crashed")
      java.nio.file.Files.createDirectories(staleTmp)
      java.nio.file.Files.setLastModifiedTime(staleTmp,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis - 2 * 3600 * 1000L))

      val before = LrTrain.listArtifacts(spark)
      assert(before.count(_.complete) == 3, s"expected 3 complete artifacts: $before")
      assert(before.forall(a => !a.complete || a.key.nonEmpty))

      val deleted = LrTrain.pruneArtifacts(spark, current)
      assert(deleted.size == 1, s"expected exactly the superseded fit pruned: $deleted")
      val after = LrTrain.listArtifacts(spark)
      assert(after.count(_.complete) == 2, s"current artifacts must survive: $after")
      assert(after.forall(a => current.contains(a.key)))
      assert(!java.nio.file.Files.exists(staleTmp), "stale staging dir not swept")

      // the surviving artifacts still serve with zero training
      LrTrain.clearModelCache()
      val t0 = LrTrain.trainCount.get()
      LrTrain.docWeights(spark, sfDir).count()
      LrTrain.docWeightsWide(spark, sfDir).count()
      assert(LrTrain.trainCount.get() == t0, "pruning broke the kept artifacts")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("q109 occupancy cap: off == today's result, on == subset with a loud overflow report") {
    def pairs(cap: Option[Long]): Set[(Long, Long)] =
      Dedup.rpLshParts(spark, sfDir, cap).pairs.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // cap OFF: the overflow report is empty and the result is the
    // committed oracle-green default
    val dflt = pairs(None)
    assert(Dedup.q109EmbedLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == dflt)
    assert(Dedup.rpLshParts(spark, sfDir).over.count() == 0)
    assert(dflt.nonEmpty)
    // a cap below the densest cell: that cell must vanish from pair
    // enumeration and surface — loudly — in the report
    val capped = pairs(Some(8))
    val over = Dedup.rpLshParts(spark, sfDir, Some(8)).over
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(over.nonEmpty, "cap=8 dropped nothing at sf0.001 — dial the spec")
    assert(over.forall(_._3 > 8), s"reported cells must exceed the cap: ${over.toSeq}")
    assert(capped.subsetOf(dflt),
      "capped output must be a subset of the uncapped pairs")
    assert(capped != dflt,
      "cap=8 changed nothing — the report would be vacuous")
    // a generous cap reproduces the default exactly (no off-by-one at
    // the boundary: only cells STRICTLY over the cap are excluded)
    assert(pairs(Some(1000000)) == dflt)
    assert(Dedup.rpLshParts(spark, sfDir, Some(1000000)).over.count() == 0)
  }

  test("the session carries the enlarged codegen class cache (static conf)") {
    // spark.sql.codegen.cache.maxEntries is STATIC: it only takes effect
    // when the JVM's FIRST session is built, and silently no-ops if set
    // later — a refactor that moves it out of GraftSession's builder (or
    // builds any session before it) would quietly reinstate the
    // 100-entry LRU thrash of BENCH_R13_CODEGEN_CACHE.json. Reading it
    // off the live shared session proves the builder path applied it.
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "10000")
  }

  test("training releases its corpus checkpoints; the weights survive the release") {
    // The GD loop collects every iterate to a local relation, so the
    // checkpointed corpus frames are dead when training returns — and a
    // long-lived serving session must not carry one dead corpus per
    // trained (corpus, dial) key until a driver GC runs. Persistent-RDD
    // ids are compared as sets (other suites share this session; the
    // ContextCleaner may remove entries concurrently, so we assert no
    // ADDITIONS rather than equality).
    LrTrain.clearModelCache()
    def persisted: Set[Int] =
      spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted
    val plain = LrTrain.docWeights(spark, sfDir).collect().toSeq
    val sided = LrTrain.trainedSideWeights(spark, sfDir).collect().toSeq
    val diff = persisted -- before
    assert(diff.isEmpty,
      s"training left persisted RDDs behind: ids $diff")
    // the returned matrices are self-contained local relations: they
    // collect identically after the corpus blocks are gone
    assert(LrTrain.docWeights(spark, sfDir).collect().toSeq == plain)
    assert(LrTrain.trainedSideWeights(spark, sfDir).collect().toSeq == sided)
  }
}
