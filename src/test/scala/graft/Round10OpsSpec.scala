package graft

import org.apache.spark.sql.functions._

import graft.operators.{Classify, LrTrain}

class Round10OpsSpec extends GraftSpec {

  test("q129 training loss is strictly monotone decreasing over the GD path") {
    val path = LrTrain.docWeightPath(spark, sfDir)
    assert(path.length == LrTrain.Iters + 1)
    val losses = path.map(w => LrTrain.docLoss(spark, sfDir, w))
    losses.sliding(2).foreach { case Seq(a, b) =>
      assert(b < a, s"loss did not decrease: $losses")
    }
    // w0 is the all-zero matrix: p = 0.5 everywhere, so the initial loss
    // is exactly ln 2 — a closed-form anchor that catches a broken
    // margin join (which would silently drop rows and shift the mean)
    assert(math.abs(losses.head - math.log(2.0)) < 1e-12, losses.head.toString)
  }

  test("q129 weights are exactly replayable: rerun is bit-identical") {
    val a = LrTrain.q129LrTrain(spark, sfDir).collect().toSeq
    val b = LrTrain.q129LrTrain(spark, sfDir).collect().toSeq
    assert(a == b)
    assert(a.nonEmpty)
    // integer-micro state and its float view agree
    a.foreach { r =>
      assert(math.abs(r.getDouble(3) - r.getLong(2) / 1e6) < 1e-9, r.toString)
    }
  }

  test("q28 every trained head discriminates its class (margin separation)") {
    // the corpus prior is 79% one class, so 3 full-batch iterations leave
    // the cross-head ARGMAX prior-dominated (documented in LrTrain) — the
    // training proof is per-head: after GD, each one-vs-rest head scores
    // its own class's docs strictly higher than the rest, on average.
    // The all-zero init scores every doc identically (separation = 0),
    // so any positive separation is learned signal.
    val d = graft.Tables.documents(spark, sfDir)
    val labeled = d.select(col("doc_id"), LrTrain.labelIdx(col("text")).as("y"))
    val w = LrTrain.trainedDocWeights(spark, sfDir)
    val m = LrTrain.docTok(spark, sfDir)
      .join(broadcast(w), Seq("bucket"))
      .groupBy("doc_id", "cls").agg(sum("w_micros").as("m"))
      .join(labeled, Seq("doc_id"))
    val sep = m
      .withColumn("is_pos", (col("cls") === col("y")).cast("int"))
      .groupBy("cls", "is_pos")
      .agg(avg(col("m").cast("double") / 1e6).as("mean_m"))
      .groupBy("cls")
      .agg((max(when(col("is_pos") === 1, col("mean_m"))) -
        max(when(col("is_pos") === 0, col("mean_m")))).as("sep"))
      .collect()
    assert(sep.length == LrTrain.Classes)
    sep.foreach(r => assert(r.getDouble(1) > 0.1,
      s"head ${r.getInt(0)} separation ${r.getDouble(1)} not positive"))
  }

  test("q130 network capstone: total, chain-consistent, null-safe routed") {
    import graft.operators.Edgar
    val rows = Edgar.q130NicNetwork(spark, sfDir).collect()
    val nSup = graft.Tables.supplier(spark, sfDir).count()
    // totality: one row per RSSD — the null-safe lookup must not drop
    // unmapped (NULL-cik) or unregistered entities
    assert(rows.length == nSup, s"${rows.length} vs $nSup suppliers")
    rows.foreach { r =>
      val (rssd, survivor, depth) = (r.getLong(0), r.getLong(2), r.getLong(3))
      assert(survivor < 10, s"survivor not a chain root: $r")
      if (rssd < 10) assert(depth == 0 && survivor == rssd, r.toString)
      // NULL crosswalk keys route to the designated default row
      if (r.isNullAt(1) && rssd == survivor)
        assert(r.getString(5) == "unmapped", r.toString)
      assert(r.getLong(7) >= 1, r.toString)
    }
    // network sizes partition the RSSD universe exactly
    val bySurvivor = rows.groupBy(_.getLong(2)).map { case (k, g) =>
      k -> (g.length.toLong, g.head.getLong(7)) }
    bySurvivor.foreach { case (k, (actual, claimed)) =>
      assert(actual == claimed, s"survivor $k size $claimed vs $actual") }
  }

  test("q131 partial_ratio closes q25's under-match on substring fragments") {
    import graft.operators.Edgar
    val rows = Edgar.q131PartialRatio(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // the reference case: an OCR fragment cut from a name must pass the
    // partial gate at exactly 100 even though the whole-string ratio —
    // all q25 had — stays far below the 90 gate
    val selfPairs = rows.filter(r => r.getLong(0) == r.getLong(1))
    assert(selfPairs.nonEmpty, "no self fragment pairs matched")
    selfPairs.foreach { r =>
      assert(r.getDouble(4) == 100.0, s"fragment-of-self not 100: $r")
      assert(r.getDouble(5) < 90.0, s"whole ratio would have caught it: $r")
      assert(r.getString(2).contains(r.getString(3)), r.toString)
    }
    // windowed min can only beat whole-string alignment
    rows.foreach(r => assert(r.getDouble(4) >= r.getDouble(5), r.toString))
  }

  test("q132 1-topic LDA fit: top word agrees with q108's argmax label") {
    import graft.operators.Similarity
    val lda = Similarity.q132LdaFit(spark, sfDir).collect()
    assert(lda.nonEmpty)
    // the degenerate K=1 fit ranks by lambda = eta + sum(tfidf), so its
    // top word per cluster must be EXACTLY q108's TF-IDF-argmax label —
    // the equivalence q108's Scaladoc claims, here proven executable
    val top1 = lda.filter(_.getInt(1) == 1)
      .map(r => r.getInt(0) -> r.getString(2)).toMap
    val labels = Similarity.q108ClusterLabels(spark, sfDir).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(top1 == labels, s"lda=$top1 q108=$labels")
    // each cluster carries the notebook's 5 most-important words, in
    // strictly non-increasing lambda order with alphabetical tiebreak
    lda.groupBy(_.getInt(0)).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getInt(1))
      assert(byRank.map(_.getInt(1)).toSeq == (1 to byRank.length))
      assert(byRank.length == Similarity.LdaTopWords)
      byRank.sliding(2).foreach { case Array(a, b) =>
        val ok = a.getLong(3) > b.getLong(3) ||
          (a.getLong(3) == b.getLong(3) && a.getString(2) < b.getString(2))
        assert(ok, s"rank order broken: $a vs $b")
      case _ => ()
      }
    }
    // beta is a (sub-)distribution in exact micro-units: every entry
    // positive, and the top-5 mass can never exceed the whole
    lda.groupBy(_.getInt(0)).foreach { case (_, rows) =>
      assert(rows.forall(_.getLong(4) > 0))
      assert(rows.map(_.getLong(4)).sum <= 1000000L)
    }
    // lambda floor: a vocab word present in the cluster has count >= 1
    // occurrence => weight > 0 => lam_u > eta-micro
    assert(lda.forall(_.getLong(3) > 1000000L))
  }

  test("q104 side models learn the label generator almost perfectly") {
    // the line text IS a deterministic function of l_partkey % 5, so a
    // working trainer must separate the five phrase classes
    val out = Classify.q104DualLr(spark, sfDir)
      .withColumn("y", (col("l_partkey") % 5).cast("int"))
    val n = out.count().toDouble
    val acc = out.filter(col("pred_class") === col("y")).count() / n
    assert(acc > 0.95, s"side-model accuracy $acc")
  }

  test("q109 pinned bits: the plan carries them and tuned pairs stay sound") {
    import graft.operators.Dedup
    val sf01 = "/root/testdata/sf0.01"
    // the pinned dial folds into the native signature expression as a
    // literal child, so the optimized plan shows the effective (bits,
    // bands, maxBits); the default plan derives bits from the corpus
    val tunedDf = Dedup.rpLshParts(spark, sf01, bits = Some(6)).pairs
    val tunedPlan = tunedDf.queryExecution.optimizedPlan.toString
    assert(tunedPlan.contains(", 6, 4, 16)"), s"pinned bits not in the plan:\n$tunedPlan")
    assert(!Dedup.q109EmbedLsh(spark, sf01).queryExecution.optimizedPlan.toString
      .contains(", 6, 4, 16)"))
    // soundness under ANY dial: banding changes which candidates are
    // probed (recall), never a verified pair's value — every tuned
    // pair must carry the same exact cosine the default run computes
    val tuned = tunedDf.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    assert(tuned.nonEmpty, "tuned run found no pairs at sf0.01")
    val dflt = Dedup.q109EmbedLsh(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val overlap = tuned.filter { case (k, _) => dflt.contains(k) }
    assert(overlap.nonEmpty, "no overlapping pairs to compare")
    overlap.foreach { case (k, c) =>
      assert(dflt(k) == c, s"pair $k cosine diverged under tuning")
    }
    tuned.foreach { case (_, c) => assert(c >= 0.35) }
  }
}
