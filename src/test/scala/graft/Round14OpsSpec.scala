package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.{Dedup, LrTrain, MlEval}

/** Round-14 hardening specs: the registry's single-source model
  * inventory (r13 ADVICE medium: a hand-maintained keep-set omitted
  * doc_lr_bal and pruneArtifacts GC'd the current balanced-doc
  * artifact), the concurrent-writer save race (r13 verdict item 6),
  * the length-prefixed content digest, the CV dial snapshot (item 3),
  * and the CV checkpoint release (item 5).
  */
class Round14OpsSpec extends GraftSpec {

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
    java.nio.file.Files.createTempDirectory("graft-r14-registry")

  private def tmpDirsUnder(root: java.nio.file.Path): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    java.nio.file.Files.walk(root).forEach { p =>
      if (p.getFileName != null && p.getFileName.toString.startsWith(".tmp-"))
        out += root.relativize(p).toString
    }
    out.toSeq
  }

  // --- single-source model inventory -----------------------------------

  test("cachedModel refuses a model absent from ModelInventory") {
    val e = intercept[IllegalArgumentException] {
      LrTrain.cachedModel(spark, sfDir, "documents", "not_registered")(
        sys.error("the inventory gate must fire before training"))
    }
    assert(e.getMessage.contains("ModelInventory"))
    // and a registered name under the WRONG table is equally refused —
    // currentKeys would compute its keep-key over the wrong corpus
    intercept[IllegalArgumentException] {
      LrTrain.cachedModel(spark, sfDir, "lineitem", "doc_lr")(
        sys.error("unreachable"))
    }
  }

  test("pruneArtifacts keeps every servable model: all twelve accessors survive a prune") {
    val dir = freshDir()
    try withRegistry(dir.toString) {
      // every accessor the registry serves — the r13 bug was exactly a
      // servable model (doc_lr_bal) missing from the hand-kept list
      def touchAll(): Unit = {
        LrTrain.docWeights(spark, sfDir).count()
        LrTrain.docWeightsWide(spark, sfDir).count()
        LrTrain.docWeights80(spark, sfDir).count()
        LrTrain.docWeights80Wide(spark, sfDir).count()
        LrTrain.docWeightsBalanced(spark, sfDir).count()
        LrTrain.docWeightsBalanced80(spark, sfDir).count()
        LrTrain.docWeightsBalanced80Wide(spark, sfDir).count()
        LrTrain.sideWeights(spark, sfDir).count()
        LrTrain.sideWeightsWide(spark, sfDir).count()
        LrTrain.svcWeights(spark, sfDir).count()
        LrTrain.svcWeights80(spark, sfDir).count()
        LrTrain.svcWeights80Wide(spark, sfDir).count()
      }
      touchAll()
      val arts = LrTrain.listArtifacts(spark)
      assert(arts.count(_.complete) == LrTrain.ModelInventory.size,
        s"expected one artifact per inventory row: $arts")
      val deleted = LrTrain.pruneArtifacts(spark,
        LrTrain.currentKeys(spark, sfDir))
      assert(deleted.isEmpty,
        s"prune deleted CURRENT artifacts (the r13 doc_lr_bal bug): $deleted")
      // a cold session serves every model with zero training
      LrTrain.clearModelCache()
      val t0 = LrTrain.trainCount.get()
      touchAll()
      assert(LrTrain.trainCount.get() == t0,
        "a pruned registry failed to serve a current model")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  // --- concurrent-writer save race --------------------------------------

  private val raceSchema = StructType(Seq(
    StructField("a", LongType, nullable = false),
    StructField("b", StringType, nullable = true)))
  private val raceRows: Array[Row] =
    Array(Row(1L, "alpha"), Row(2L, "beta"), Row(3L, null))

  test("two writers racing on the same key leave ONE valid artifact and zero staging dirs") {
    val dir = freshDir()
    try withRegistry(dir.toString) {
      val key = "lrv1|race|" + sfDir
      // the loser's schedule: its staging dir is fully written, then —
      // before its commit — the competing writer runs a COMPLETE save
      // of the same key (the deterministic form of the race the r13
      // code lost by deleting the winner's just-committed artifact)
      LrTrain.raceHook = () => {
        LrTrain.raceHook = () => ()
        LrTrain.saveArtifact(spark, dir.toString, "m", key, raceSchema, raceRows)
      }
      LrTrain.saveArtifact(spark, dir.toString, "m", key, raceSchema, raceRows)
      // exactly one artifact dir; it loads bit-identically; and NO
      // .tmp-* staging dir survives anywhere — root level or nested
      // inside the artifact (FileSystem.rename onto an existing dst
      // moves the loser's staging dir INSIDE it)
      val dirs = java.nio.file.Files.list(dir).iterator()
      val names = Iterator.continually(dirs).takeWhile(_.hasNext)
        .map(_.next().getFileName.toString).toSeq
      assert(names.size == 1 && !names.head.startsWith(".tmp-"),
        s"expected exactly the committed artifact: $names")
      assert(tmpDirsUnder(dir).isEmpty,
        s"staging dirs leaked: ${tmpDirsUnder(dir)}")
      val loaded = LrTrain.loadArtifact(spark, dir.toString, "m", key)
      assert(loaded.nonEmpty, "the raced artifact does not validate")
      assert(loaded.get._2.toSeq.sortBy(_.getLong(0)) == raceRows.toSeq,
        "the raced artifact's content diverged")
      // a later save of the same key is a pure no-op (valid wins)
      LrTrain.saveArtifact(spark, dir.toString, "m", key, raceSchema, raceRows)
      assert(tmpDirsUnder(dir).isEmpty)
      assert(LrTrain.loadArtifact(spark, dir.toString, "m", key).nonEmpty)
    } finally {
      LrTrain.raceHook = () => ()
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("a racing repair of a TORN artifact also converges to one valid copy") {
    val dir = freshDir()
    try withRegistry(dir.toString) {
      val key = "lrv1|race-torn|" + sfDir
      // seed a torn artifact at the exact dir the key hashes to: write
      // it whole, then break its digest
      LrTrain.saveArtifact(spark, dir.toString, "m", key, raceSchema, raceRows)
      val art = java.nio.file.Files.list(dir).iterator().next()
      java.nio.file.Files.write(art.resolve("DATA_SUM"),
        "999\ndeadbeef".getBytes("UTF-8"))
      assert(LrTrain.loadArtifact(spark, dir.toString, "m", key).isEmpty,
        "the torn seed still validates — the spec setup is wrong")
      // both writers see present-but-invalid and race the repair
      LrTrain.raceHook = () => {
        LrTrain.raceHook = () => ()
        LrTrain.saveArtifact(spark, dir.toString, "m", key, raceSchema, raceRows)
      }
      LrTrain.saveArtifact(spark, dir.toString, "m", key, raceSchema, raceRows)
      assert(tmpDirsUnder(dir).isEmpty,
        s"staging dirs leaked: ${tmpDirsUnder(dir)}")
      val loaded = LrTrain.loadArtifact(spark, dir.toString, "m", key)
      assert(loaded.nonEmpty && loaded.get._2.toSeq.sortBy(_.getLong(0)) == raceRows.toSeq)
    } finally {
      LrTrain.raceHook = () => ()
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("rowsDigest distinguishes shifted field boundaries") {
    // bare concatenation would hash these identically ("abc"); the
    // length-prefixed encoding must not (r13 ADVICE low)
    assert(LrTrain.rowsDigest(Array(Row("ab", "c"))) !=
      LrTrain.rowsDigest(Array(Row("a", "bc"))),
      "field-boundary shift passed the digest gate")
    // numeric boundary shift, the advice's second example
    assert(LrTrain.rowsDigest(Array(Row(1L, 23L))) !=
      LrTrain.rowsDigest(Array(Row(12L, 3L))))
    // order invariance is preserved (the parquet-split contract)
    assert(LrTrain.rowsDigest(Array(Row("p", "q"), Row("r", "s"))) ==
      LrTrain.rowsDigest(Array(Row("r", "s"), Row("p", "q"))))
  }

  // --- CV dial snapshot + checkpoint release ----------------------------

  test("CV folds all train under the ENTRY dial even if the parent re-dials mid-CV") {
    // the dial-explicit fit ignores later session re-dials entirely...
    val sided = GraftSession.checkpoint(LrTrain.sidedLines(spark, sfDir))
    val xdb = GraftSession.checkpoint(LrTrain.sideXdb(sided))
    try {
      val w2 = LrTrain.trainedSideWeightsOn(spark, sided, xdb, 2, 16L)
        .collect().toSeq
      val w1 = LrTrain.trainedSideWeightsOn(spark, sided, xdb, 1, 16L)
        .collect().toSeq
      assert(w1 != w2, "iters=1 and iters=2 fits coincide — dial is vacuous")
      try {
        spark.conf.set("spark.graft.lr.iters", "1")
        assert(LrTrain.trainedSideWeightsOn(spark, sided, xdb, 2, 16L)
          .collect().toSeq == w2,
          "a dial-explicit fit read the session conf")
      } finally spark.conf.unset("spark.graft.lr.iters")
    } finally { GraftSession.free(sided); GraftSession.free(xdb) }
    // ...and the CV harness snapshots ONCE at entry: a parent re-dial
    // planted between the snapshot and the fold launches (the hook
    // fires exactly there) must not change the output
    val expected = try {
      spark.conf.set("spark.graft.lr.iters", "2")
      MlEval.q138SidedCrossval(spark, sfDir).collect().toSeq
    } finally spark.conf.unset("spark.graft.lr.iters")
    val out = try {
      spark.conf.set("spark.graft.lr.iters", "2")
      MlEval.cvEntryHook = () => {
        MlEval.cvEntryHook = () => ()
        spark.conf.set("spark.graft.lr.iters", "1")
      }
      MlEval.q138SidedCrossval(spark, sfDir).collect().toSeq
    } finally {
      MlEval.cvEntryHook = () => ()
      spark.conf.unset("spark.graft.lr.iters")
    }
    assert(out == expected,
      "a mid-CV re-dial leaked into the fold fits — folds split across dials")
  }

  // --- q139: the dense-cell routing made executable ---------------------

  test("q139: every over-cap member gets exactly ONE verdict; reps keep themselves") {
    val out = Dedup.q139RoutedDedup(spark, sfDir).collect()
    val verd = out.filter(_.getString(0) == "overcap")
    val pairs = out.filter(_.getString(0) == "pair")
    assert(verd.nonEmpty, "no over-cap cells at the default cap — dial the spec")
    assert(pairs.nonEmpty, "no in-cap pairs — dial the spec")
    // exactly one verdict per over-cap member: the verdict v1s are
    // unique AND cover precisely the distinct membership of the
    // reported cells
    val v1s = verd.map(_.getLong(3))
    assert(v1s.distinct.length == v1s.length,
      "a member got multiple verdicts (assignment window leaked)")
    val reported = Dedup.q109OverflowCellsAt(spark, sfDir, Dedup.RouteCapDefault)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(reported.nonEmpty)
    // the verdicts' (band, key) cells are all reported cells
    assert(verd.forall(r => reported.contains((r.getInt(1), r.getInt(2)))))
    // every rep keeps itself with cos exactly 1.0
    val reps = verd.filter(r => r.getLong(3) == r.getLong(4))
    assert(reps.nonEmpty)
    assert(reps.forall(r => r.getBoolean(6) && r.getDouble(5) == 1.0))
    // non-rep verdicts: kept <=> cos below tau
    assert(verd.forall { r =>
      r.getLong(3) == r.getLong(4) || (r.getBoolean(6) == (r.getDouble(5) < 0.35))
    })
    // each reported-and-assigned cell's rep is its smallest assigned id
    val byCell = verd.groupBy(r => (r.getInt(1), r.getInt(2)))
    assert(byCell.forall { case (_, rs) =>
      rs.map(_.getLong(4)).distinct.length == 1 &&
        rs.head.getLong(4) == rs.map(_.getLong(3)).min
    })
  }

  test("q139's pair part is BIT-IDENTICAL to q109 under the same occupancy cap") {
    val routed = Dedup.q139RoutedDedup(spark, sfDir).collect()
      .filter(_.getString(0) == "pair")
      .map(r => (r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
    val capped = try {
      spark.conf.set("spark.graft.rplsh.maxOcc", Dedup.RouteCapDefault.toString)
      Dedup.q109EmbedLsh(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    } finally spark.conf.unset("spark.graft.rplsh.maxOcc")
    assert(routed == capped,
      s"in-cap pairs diverged from capped q109: ${(routed diff capped).take(3)} / ${(capped diff routed).take(3)}")
    // and a cap above every cell degenerates to plain q109 + zero verdicts
    val all = try {
      spark.conf.set("spark.graft.rplsh.routeCap", "1000000")
      Dedup.q139RoutedDedup(spark, sfDir).collect()
    } finally spark.conf.unset("spark.graft.rplsh.routeCap")
    assert(all.forall(_.getString(0) == "pair"))
    val dflt = Dedup.q109EmbedLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(all.map(r => (r.getLong(3), r.getLong(4), r.getDouble(5))).toSet == dflt)
  }

  test("q138 releases its shared corpus checkpoints when it returns") {
    def persisted: Set[Int] =
      spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted
    val cv = MlEval.q138SidedCrossval(spark, sfDir)
    val rows = cv.collect().toSeq
    assert(rows.size == 6, s"2 sides x 3 folds expected: $rows")
    // the two corpus-sized checkpoints are freed by the time the
    // frame is handed back (r13 verdict item 5: a serving session
    // running many CVs accreted corpus blocks until a driver GC) —
    // assert no ADDITIONS, Round13OpsSpec's shared-session discipline
    val diff = persisted -- before
    assert(diff.isEmpty, s"CV left persisted RDDs behind: ids $diff")
    // and the returned frame is self-contained local data: it collects
    // identically after the blocks are gone
    assert(cv.collect().toSeq == rows)
  }
}
