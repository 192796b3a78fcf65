package graft

import org.apache.spark.sql.functions._

import graft.operators.{Classify, LrTrain, MlEval}

class Round12OpsSpec extends GraftSpec {

  private def withRegistry[T](f: String => T): T = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-model-registry").toString
    try {
      spark.conf.set("spark.graft.model.registry.dir", tmp)
      f(tmp)
    } finally {
      spark.conf.unset("spark.graft.model.registry.dir")
      LrTrain.clearModelCache() // leave no registry-era entries behind
    }
  }

  test("persisted model registry: a cold session scores with ZERO training executions, bit-identical") {
    withRegistry { root =>
      // --- warm session: train every model once, persisting artifacts
      LrTrain.clearModelCache() // force the thunks to run under the conf
      val scored = Seq(
        "q28" -> (() => Classify.q28ClassifyLr(spark, sfDir)),
        "q104" -> (() => Classify.q104DualLr(spark, sfDir)),
        "q133" -> (() => MlEval.q133HoldoutEval(spark, sfDir)),
        "q134" -> (() => MlEval.q134PredictProba(spark, sfDir)),
        "q136" -> (() => MlEval.q136SideProba(spark, sfDir)))
      val warm = scored.map { case (n, q) => n -> q().collect().toSeq }.toMap
      val persisted = java.nio.file.Files.list(java.nio.file.Paths.get(root))
        .count()
      assert(persisted > 0, "no artifacts persisted")

      // --- cold JVM simulation: empty in-memory cache, artifacts only
      LrTrain.clearModelCache()
      val t0 = LrTrain.trainCount.get()
      val cold = scored.map { case (n, q) => n -> q().collect().toSeq }.toMap
      val trained = LrTrain.trainCount.get() - t0
      assert(trained == 0,
        s"cold session ran $trained training executions instead of loading artifacts")
      scored.foreach { case (n, _) =>
        assert(cold(n) == warm(n), s"$n output diverged after artifact load")
      }

      // --- plan lock: artifact-served scoring is the same LocalTableScan
      // broadcast shape as the in-memory registry (no GD stages)
      LrTrain.clearModelCache()
      val p28 = Classify.q28ClassifyLr(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(p28.contains("LocalTableScan"), s"weights not a local artifact:\n$p28")
      assert(!p28.contains("Checkpoint"), s"training stages in scoring plan:\n$p28")
      assert(LrTrain.trainCount.get() - t0 == 0, "plan construction retrained")

      // --- the hyperparameters are part of the artifact key, in the
      // exact text artifacts already on disk were written under: a
      // change here retrains every persisted model
      val token = Tables.freshnessToken(spark, s"$sfDir/documents.parquet")
      assert(LrTrain.currentKeys(spark, sfDir)
        .contains(s"lrv1|doc_lr|$sfDir|it=3|den=16|$token"))
    }
  }

  test("persisted model registry: corpus rewrite invalidates the artifact (freshness in the key)") {
    withRegistry { root =>
      // copy the documents corpus into a private dir we can touch
      val dataDir = java.nio.file.Files.createTempDirectory("graft-reg-corpus")
      try {
        Tables.documents(spark, sfDir).write
          .parquet(dataDir.resolve("documents.parquet").toString)
        LrTrain.clearModelCache()
        LrTrain.docWeights(spark, dataDir.toString).count() // train + persist
        LrTrain.clearModelCache()
        val t0 = LrTrain.trainCount.get()
        LrTrain.docWeights(spark, dataDir.toString).count() // artifact hit
        assert(LrTrain.trainCount.get() == t0, "fresh corpus did not load")
        // rewrite the corpus: same rows, new files => new freshness token
        Tables.documents(spark, sfDir).write.mode("overwrite")
          .parquet(dataDir.resolve("documents.parquet").toString)
        LrTrain.clearModelCache()
        LrTrain.docWeights(spark, dataDir.toString).count()
        assert(LrTrain.trainCount.get() > t0,
          "rewritten corpus served the stale persisted fit")
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(dataDir.toFile)
      }
    }
  }

  test("q137 balanced model generalizes: held-out accuracy beats the held-out prior") {
    // accuracy and prior straight from the confusion matrix the registry
    // row emits: acc = Σtp/Σsupport, prior = max(support)/Σsupport
    def accAndPrior(df: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val rows = df.collect()
      val K = Classify.NumClasses
      val tp = rows.map(_.getLong(2 + K)).sum.toDouble
      val supports = rows.map(_.getLong(1 + K))
      (tp / supports.sum, supports.max.toDouble / supports.sum)
    }
    // the production dial where the balanced argmax learns the classes
    // OUT of sample: held-out accuracy plateaus at 0.854 from 16
    // iterations (0.816 at q135's in-sample pin of 12 — a real but
    // modest generalization gap) vs the 0.796 held-out prior, while the
    // plain fit sits exactly ON the prior. Default-3 oracle rows replay
    // unchanged — this pins the claim r11 left in-sample-only. Same
    // composition as q137/q133, with the models trained at 16.
    val docs = Tables.documents(spark, sfDir)
    def heldOut(w: org.apache.spark.sql.DataFrame) = MlEval.holdoutEvalWith(spark,
      LrTrain.pivotWide(spark, w, Seq.empty), docs.filter(!LrTrain.trainFilter))
    val train = docs.filter(LrTrain.trainFilter)
    val (accBal, prior) = accAndPrior(heldOut(
      LrTrain.trainedDocWeightsBalancedFrom(train, iters = 16)))
    val (accPlain, _) = accAndPrior(heldOut(
      LrTrain.docWeightPathFrom(train, iters = 16).last))
    assert(accBal > prior + 0.05,
      s"held-out balanced $accBal does not beat held-out prior $prior")
    assert(accPlain <= prior + 0.01,
      s"plain held-out $accPlain unexpectedly beats prior $prior")
    // support counts EVERY held-out doc on both rows (the r12 zero-
    // margin fidelity rule), and the two registry rows share it
    val evalDocs = Tables.documents(spark, sfDir)
      .filter(!LrTrain.trainFilter).count()
    Seq(MlEval.q133HoldoutEval(spark, sfDir),
        MlEval.q137HoldoutBalanced(spark, sfDir)).foreach { df =>
      val total = df.agg(sum("support")).head.getLong(0)
      assert(total == evalDocs, s"support $total != eval slice $evalDocs")
    }
  }

  test("rp_lsh_keys rejects out-of-range dials with a clear message at the SQL surface") {
    def call(bits: Int, bands: Int, maxBits: Int) =
      spark.range(1).select(call_function("rp_lsh_keys",
        array(lit(1.0f), lit(-2.0f)), lit(bits), lit(bands), lit(maxBits)))
        .collect()
    def rootMsg(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    // r11 ADVICE: bands < 0 used to throw NegativeArraySizeException
    // from generated code; bits > 31 silently wrapped the int shift
    Seq((0, 4, 16, "bits=0"), (40, 4, 64, "bits=40"),
        (8, -1, 16, "bands=-1"), (8, 0, 16, "bands=0"),
        (8, 4, 4, "maxBits=4")).foreach { case (bits, bands, mx, frag) =>
      val e = intercept[Throwable](call(bits, bands, mx))
      assert(rootMsg(e).contains(frag),
        s"($bits,$bands,$mx) raised without the dial in the message: ${rootMsg(e)}")
    }
    // the guarded range still evaluates
    assert(call(8, 4, 16).head.getSeq[Int](0).length == 4)
  }

  test("persisted model registry: an unusable registry path degrades to in-memory, never fails a query") {
    val file = java.nio.file.Files.createTempFile("graft-not-a-dir", ".txt")
    try {
      spark.conf.set("spark.graft.model.registry.dir", file.toString)
      LrTrain.clearModelCache()
      // save and load both fail silently; the query must still answer
      val n = Classify.q28ClassifyLr(spark, sfDir).count()
      assert(n > 0)
    } finally {
      spark.conf.unset("spark.graft.model.registry.dir")
      LrTrain.clearModelCache()
      java.nio.file.Files.deleteIfExists(file)
    }
  }
}
