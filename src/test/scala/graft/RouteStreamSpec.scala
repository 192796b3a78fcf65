package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.RouteStream

/** q139's serving twin: streaming the corpus through the published
  * index must reproduce batch q139 exactly — the pair set (in-cap
  * cells, first-colliding-band gate, emitted once as the larger member
  * arrives) and the dense-tail verdict rows (first over-cap cell's
  * representative, kept = is-rep or cos < 0.35).
  *
  * The cap is lowered to 30 (sf0.01's 200-vector corpus never exceeds
  * the default) so BOTH routes carry real rows; batch and index take
  * the same cap.
  */
class RouteStreamSpec extends GraftSpec {
  private val Cap = 30L

  case class Arrival(ts: Timestamp, vec_id: Long, embedding: Seq[Float])

  test("streamed routed-dedup pairs and verdicts equal batch q139") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val dir = "/root/testdata/sf0.01"

    val batch = Dedup.q139RoutedDedup(spark, dir, Cap).cache()
    val batchPairs = batch.filter(col("kind") === "pair")
      .select("v1", "v2", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batchVerdicts = batch.filter(col("kind") === "overcap")
      .select("band", "key", "v1", "v2", "cos", "kept").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getBoolean(5))).toSet
    // the dialed cap must exercise BOTH routes, or this proves nothing
    assert(batchPairs.nonEmpty, "cap dial left no in-cap pairs")
    assert(batchVerdicts.nonEmpty, "cap dial left no over-cap verdicts")

    val idx = RouteStream.buildIndex(spark, dir, Cap)
    val t0 = Timestamp.valueOf("2024-06-01 12:00:00")
    val corpus = Tables.embeddings(spark, dir).collect()
      .map(r => Arrival(t0, r.getLong(0), r.getSeq[Float](1))).toSeq
    val (b1, b2) = corpus.partition(_.vec_id % 2 == 0)

    val stream = MemoryStream[Arrival]
    val qp = RouteStream.pairs(stream.toDF(), idx)
      .writeStream.format("memory").queryName("route_pairs")
      .outputMode("append").start()
    val qv = RouteStream.verdicts(stream.toDF(), idx)
      .writeStream.format("memory").queryName("route_verdicts")
      .outputMode("update").start()
    try {
      stream.addData(b1: _*)
      qp.processAllAvailable(); qv.processAllAvailable()
      stream.addData(b2: _*)
      qp.processAllAvailable(); qv.processAllAvailable()

      val gotPairs = sp.sql("SELECT v1, v2, cos FROM route_pairs")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(gotPairs == batchPairs,
        s"pair drift: stream-only=${(gotPairs -- batchPairs).take(5)} " +
          s"batch-only=${(batchPairs -- gotPairs).take(5)}")

      val gotVerdicts = sp.sql(
        "SELECT band, key, v1, v2, cos, kept FROM route_verdicts")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
          r.getLong(3), r.getDouble(4), r.getBoolean(5))).toSet
      assert(gotVerdicts == batchVerdicts,
        s"verdict drift: stream-only=${(gotVerdicts -- batchVerdicts).take(5)} " +
          s"batch-only=${(batchVerdicts -- gotVerdicts).take(5)}")
      // every unordered pair emitted exactly once across the stream
      assert(sp.sql("SELECT v1, v2 FROM route_pairs").count() == batchPairs.size)
    } finally { qp.stop(); qv.stop() }
  }

  test("published/loaded routed index serves identically to the built one") {
    val dir = "/root/testdata/sf0.01"
    val built = RouteStream.buildIndex(spark, dir, Cap)
    val out = java.nio.file.Files.createTempDirectory("graft_routeidx").toFile
    out.deleteOnExit()
    RouteStream.publishRoutedIndex(built, out.getAbsolutePath)
    val loaded = RouteStream.loadRoutedIndex(spark, out.getAbsolutePath)
    assert((loaded.bits, loaded.nBands, loaded.cap, loaded.horizon)
      === ((built.bits, built.nBands, built.cap, built.horizon)),
      "every pinned dial must round-trip")

    // the arrival transforms are plain frame functions — run them
    // STATICALLY over both index forms on the same arrival set
    // (streamed-equals-batch is already pinned for the built form)
    val t0 = Timestamp.valueOf("2024-06-01 12:00:00")
    val sp = spark
    import sp.implicits._
    val arrivals = Tables.embeddings(spark, dir).collect()
      .map(r => (t0, r.getLong(0), r.getSeq[Float](1))).toSeq
      .toDF("ts", "vec_id", "embedding")
    def pairRows(idx: RouteStream.RoutedIndex) =
      RouteStream.pairs(arrivals, idx).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def verdictRows(idx: RouteStream.RoutedIndex) =
      RouteStream.verdicts(arrivals, idx).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getBoolean(5))).toSet
    assert(pairRows(loaded) === pairRows(built),
      "loaded-index pair emissions must equal the built index's")
    assert(verdictRows(loaded) === verdictRows(built),
      "loaded-index verdicts must equal the built index's")
    assert(pairRows(built).nonEmpty && verdictRows(built).nonEmpty)
  }

  test("published incap is bucketed: first-probe join plans exchange-free on the index side") {
    val dir = "/root/testdata/sf0.01"
    // force a non-broadcast join so the exchange count is the claim —
    // at corpus scale neither side broadcasts
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val built = RouteStream.buildIndex(spark, dir, Cap)
      val out = java.nio.file.Files.createTempDirectory("graft_routebkt").toFile
      out.deleteOnExit()
      RouteStream.publishRoutedIndex(built, out.getAbsolutePath)

      // a FRESH session with no catalog entry: load must re-register the
      // bucketed table from its files (metadata only) — the cross-session
      // first-probe case the r16 self-assessment flagged
      val s2 = GraftSession.childSessionFrom(spark)
      // the catalog name derives from the committed gen dir (gen=1 for a
      // first publish) since the r17 manifest commit
      s2.sql(s"DROP TABLE IF EXISTS ${RouteStream.inCapTableName(out.getAbsolutePath + "/gen=1")}")
      val loaded = RouteStream.loadRoutedIndex(s2, out.getAbsolutePath)

      val t0 = Timestamp.valueOf("2024-06-01 12:00:00")
      val sp = s2
      import sp.implicits._
      val arrivals = Tables.embeddings(s2, dir).limit(50).collect()
        .map(r => (t0, r.getLong(0), r.getSeq[Float](1))).toSeq
        .toDF("ts", "vec_id", "embedding")
      val probe = RouteStream.pairs(arrivals, loaded)
      val exchanges = probe.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.size <= 1,
        s"only the request-sized arrivals side may shuffle into the buckets:\n" +
          probe.queryExecution.executedPlan)
      val scanStr = probe.queryExecution.executedPlan.collectLeaves()
        .map(_.toString).find(_.contains("incap_bucketed"))
      assert(scanStr.exists(_.contains("Bucketed: true")),
        s"incap scan must be planned bucketed: $scanStr")

      // and the bucketed plan computes the same pair rows as the built
      // index under the same forced-SMJ conf
      val viaBuilt = RouteStream.pairs(arrivals, built).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val viaLoaded = probe.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(viaLoaded === viaBuilt)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    }
  }

  test("re-dialed horizon changes verdict timing only, never in-horizon content") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val dir = "/root/testdata/sf0.01"

    val batchVerdicts = Dedup.q139RoutedDedup(spark, dir, Cap)
      .filter(col("kind") === "overcap")
      .select("band", "key", "v1", "v2", "cos", "kept").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getBoolean(5))).toSet
    assert(batchVerdicts.nonEmpty)

    // the horizon is pinned at build time, like bits/cap
    val idx = RouteStream.buildIndex(spark, dir, Cap, horizon = "2 hours")
    assert(idx.horizon === "2 hours", "horizon must pin at publish")

    val t0 = Timestamp.valueOf("2024-06-01 12:00:00")
    val corpus = Tables.embeddings(spark, dir).collect()
      .map(r => Arrival(t0, r.getLong(0), r.getSeq[Float](1))).toSeq
    val stream = MemoryStream[Arrival]
    val qv = RouteStream.verdicts(stream.toDF(), idx)
      .writeStream.format("memory").queryName("route_verdicts_h2")
      .outputMode("update").start()
    try {
      stream.addData(corpus: _*)
      qv.processAllAvailable()
      val got = sp.sql(
        "SELECT band, key, v1, v2, cos, kept FROM route_verdicts_h2")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
          r.getLong(3), r.getDouble(4), r.getBoolean(5))).toSet
      assert(got === batchVerdicts,
        "a wider horizon must not change any in-horizon verdict row")
    } finally qv.stop()
  }

  test("routed index registry: torn publish invisible; pinned version survives republish") {
    val dir = "/root/testdata/sf0.01"
    val built = RouteStream.buildIndex(spark, dir, Cap)
    val out = java.nio.file.Files.createTempDirectory("graft_routever").toFile
    out.deleteOnExit()
    val root = out.getAbsolutePath
    RouteStream.publishRoutedIndex(built, root)
    assert(graft.sources.ManifestLog.versions(spark, root) === Seq(1L))

    val t0 = Timestamp.valueOf("2024-06-01 12:00:00")
    val sp = spark
    import sp.implicits._
    val arrivals = Tables.embeddings(spark, dir).collect()
      .map(r => (t0, r.getLong(0), r.getSeq[Float](1))).toSeq
      .toDF("ts", "vec_id", "embedding")
    def pairRows(idx: RouteStream.RoutedIndex) =
      RouteStream.pairs(arrivals, idx).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val v1Rows = pairRows(RouteStream.loadRoutedIndex(spark, root))

    // a TORN publish — gen dir staged (here: dials only, reps and the
    // bucketed table missing) but no manifest committed — must be
    // invisible: load keeps resolving v1 and serves it unchanged.
    // The pre-manifest form served exactly this torn state.
    val torn = new java.io.File(out, "gen=2/dials")
    spark.read.parquet(s"$root/gen=1/dials")
      .write.parquet(torn.getAbsolutePath)
    assert(graft.sources.ManifestLog.currentVersion(spark, root) == 1L)
    assert(pairRows(RouteStream.loadRoutedIndex(spark, root)) === v1Rows,
      "an uncommitted staging dir must not change what load serves")

    // a real republish commits v2 (the torn staging is safely
    // overwritten); the pinned v1 load still serves the old cells
    RouteStream.publishRoutedIndex(built, root)
    assert(graft.sources.ManifestLog.versions(spark, root) === Seq(1L, 2L))
    assert(pairRows(RouteStream.loadRoutedIndex(spark, root)) === v1Rows)
    assert(pairRows(RouteStream.loadRoutedIndex(spark, root, Some(1L))) === v1Rows,
      "a pinned version must keep serving its own cells")
    assert(v1Rows.nonEmpty)

    // vacuum reclaims EXACTLY gen=1 + its manifest file AND drops the
    // vacuumed gen's bucketed catalog entry; the current version keeps
    // serving through its own entry, the vacuumed pin fails loudly
    val tbl1 = RouteStream.inCapTableName(s"$root/gen=1")
    assert(spark.catalog.tableExists(tbl1), "precondition: v1's table is registered")
    val deleted = RouteStream.vacuumRoutedIndex(spark, root)
    assert(deleted.map(_.split("/").last).toSet === Set("gen=1", "v000000001.json"),
      s"vacuum must reclaim exactly the unreferenced set: $deleted")
    assert(!spark.catalog.tableExists(tbl1),
      "vacuum must drop the vacuumed gen's catalog entry")
    assert(pairRows(RouteStream.loadRoutedIndex(spark, root)) === v1Rows,
      "current must survive vacuum")
    intercept[Exception](RouteStream.loadRoutedIndex(spark, root, Some(1L)))
  }
}
