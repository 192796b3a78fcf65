package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S2-S5: sink/source round-trips — partitioned parquet, CSV, JSON, and
  * the fixed-width EDGAR form.idx layout (parsed with substr, the way the
  * reference slices index lines: ExtractBrokerDealers.py:149-165).
  */
class SourcesSpec extends GraftSpec {

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(s"graft_$name").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("partitioned parquet round-trip preserves data and enables partition pruning") {
    val out = tmp("parquet") + "/orders_by_status"
    val o = Tables.orders(spark, sfDir)
    o.write.partitionBy("o_orderstatus").mode("overwrite").parquet(out)
    val back = spark.read.parquet(out)
    assert(back.count() == o.count())
    val pruned = back.filter(col("o_orderstatus") === "F")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), scan)
    assert(pruned.count() == o.filter(col("o_orderstatus") === "F").count())
  }

  test("CSV round-trip with explicit schema (reference emits CSVs)") {
    val out = tmp("csv") + "/nation.csv"
    val n = Tables.nation(spark, sfDir)
    n.write.option("header", "true").mode("overwrite").csv(out)
    val back = spark.read
      .schema(Tables.schemas("nation"))
      .option("header", "true")
      .csv(out)
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      n.orderBy("n_nationkey").collect().toSeq)
  }

  test("JSON round-trip (reference registry JSONs)") {
    val out = tmp("json") + "/registry.json"
    val reg = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("cik"), col("c_name").as("name"))
    reg.write.mode("overwrite").json(out)
    val back = spark.read
      .schema(StructType(Seq(
        StructField("cik", LongType), StructField("name", StringType))))
      .json(out)
    assert(back.orderBy("cik").collect().toSeq == reg.orderBy("cik").collect().toSeq)
  }

  test("ORC round-trip preserves data and pushes filters") {
    val out = tmp("orc") + "/orders_orc"
    val o = Tables.orders(spark, sfDir)
    o.write.mode("overwrite").orc(out)
    val back = spark.read.schema(Tables.schemas("orders")).orc(out)
    assert(back.orderBy("o_orderkey").collect().toSeq ==
      o.orderBy("o_orderkey").collect().toSeq)
    val filtered = back.filter(col("o_orderkey") === 42L)
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,42)"), scan)
  }

  test("fixed-width form.idx layout parses with substr slicing") {
    val sp = spark
    import sp.implicits._
    // EDGAR form.idx: form(12) company(62) cik(12) date(12) path
    val lines = Seq(
      "X-17A-5     ALPHA BROKER LLC                                              1234        2003-02-18  edgar/data/1234/file.txt",
      "10-K        SOME CORP                                                     99          2003-02-18  edgar/data/99/other.txt"
    ).toDF("line")
    val parsed = lines.select(
      trim(substring(col("line"), 1, 12)).as("form"),
      trim(substring(col("line"), 13, 62)).as("company"),
      trim(substring(col("line"), 75, 12)).cast(LongType).as("cik"),
      trim(substring(col("line"), 87, 12)).as("date"),
      trim(substring(col("line"), 99, 200)).as("path"))
      .filter(lower(col("form")).startsWith("x-17a"))
    val row = parsed.collect()(0)
    assert(parsed.count() == 1)
    assert(row.getString(0) == "X-17A-5")
    assert(row.getString(1) == "ALPHA BROKER LLC")
    assert(row.getLong(2) == 1234L)
    assert(row.getString(3) == "2003-02-18")
  }

  test("text source round-trip (raw filing pages as lines)") {
    val sp = spark
    import sp.implicits._
    val out = tmp("text") + "/pages"
    val lines = Seq("ASSETS 100", "CASH 40", "LIABILITIES 60").toDF("value")
    lines.coalesce(1).write.mode("overwrite").text(out)
    val back = spark.read.text(out)
    assert(back.as[String].collect().toSet ==
      Set("ASSETS 100", "CASH 40", "LIABILITIES 60"))
  }

  test("binaryFile source reads filing blobs with path/length metadata") {
    // the multimodal ingest path: PDFs/PNGs land as opaque blobs; the
    // binaryFile source exposes (path, modificationTime, length, content)
    // and pushes a pathGlobFilter down to the file listing.
    val dir = tmp("bin")
    val payloads = Map("a.pdf" -> "fake-pdf-bytes", "b.pdf" -> "more-bytes",
      "skip.txt" -> "not-a-pdf")
    payloads.foreach { case (name, s) =>
      Files.write(java.nio.file.Paths.get(s"$dir/$name"), s.getBytes("UTF-8"))
    }
    val blobs = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.pdf").load(dir)
    val got = blobs.collect().map { r =>
      val path = r.getString(r.fieldIndex("path"))
      val content = r.getAs[Array[Byte]]("content")
      path.split('/').last -> new String(content, "UTF-8")
    }.toMap
    assert(got == payloads.view.filterKeys(_.endsWith(".pdf")).toMap)
    val lengths = blobs.select(col("length")).collect().map(_.getLong(0)).sorted
    assert(lengths.toSeq == Seq("more-bytes".length.toLong, "fake-pdf-bytes".length.toLong).sorted)
  }

  test("malformed JSON records are quarantined, not dropped or fatal") {
    // production ingest: a bad filing record must neither kill the job
    // (FAILFAST) nor silently vanish — PERMISSIVE mode + a corrupt-record
    // column keeps the row with its raw text for quarantine routing
    val sp = spark
    import sp.implicits._
    val dir = tmp("json") + "/in"
    Seq(
      """{"cik": 1234, "name": "ALPHA BROKER"}""",
      """{"cik": "not-a-number", "name": "BETA"}""",
      """this is not json at all""",
      """{"cik": 99, "name": "GAMMA"}"""
    ).toDF("value").coalesce(1).write.text(dir)
    val schema = new StructType()
      .add("cik", LongType).add("name", StringType)
      .add("_bad", StringType)
    // cache: Spark disallows queries that touch ONLY the corrupt-record
    // column against raw JSON — materialize the parse once first
    val parsed = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .json(dir)
      .cache()
    parsed.count()
    val good = parsed.filter(col("_bad").isNull)
    val bad = parsed.filter(col("_bad").isNotNull)
    assert(good.count() == 2 && bad.count() == 2)
    assert(good.select("cik").as[Long].collect().toSet == Set(1234L, 99L))
    // the quarantine lane preserves the raw text for replay
    assert(bad.select("_bad").as[String].collect().forall(_.nonEmpty))
  }

  test("file-stream source picks up landing parquet files incrementally") {
    // production shape: filings land as parquet files in a directory;
    // readStream tails it with exactly-once file tracking (checkpointed
    // file log), the streaming twin of the batch Tables loaders
    val sp = spark
    import sp.implicits._
    val landing = tmp("landing") + "/in"
    val ckpt = tmp("landing_ckpt")
    val schema = new StructType()
      .add("id", LongType).add("name", StringType)

    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .coalesce(1).write.mode("append").parquet(landing)
    val stream = spark.readStream.schema(schema).parquet(landing)
    assert(stream.isStreaming)
    val query = stream.writeStream.format("memory").queryName("landed")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      query.processAllAvailable()
      assert(sp.sql("SELECT count(*) FROM landed").head().getLong(0) == 2L)
      // second file lands later; only the delta is processed
      Seq((3L, "c")).toDF("id", "name")
        .coalesce(1).write.mode("append").parquet(landing)
      query.processAllAvailable()
      val got = sp.sql("SELECT id, name FROM landed").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == Set((1L, "a"), (2L, "b"), (3L, "c")))
    } finally query.stop()
  }

  test("XML source reads filing documents by rowTag (Spark 4 built-in)") {
    // S14: EDGAR attachments are XML/SGML documents on disk; Spark 4
    // ships the XML data source in core — no external package. Write a
    // filing file, read it back schema'd by rowTag, attribute -> _id.
    val sp = spark
    import sp.implicits._
    val dir = tmp("xml")
    Files.writeString(java.nio.file.Paths.get(dir, "filing.xml"),
      """<filing>
        |<order id="O-1"><price>10.50</price><status>F</status></order>
        |<order id="O-2"><price>20.25</price><status>O</status></order>
        |<order id="O-3"><price>7.00</price><status>F</status></order>
        |</filing>""".stripMargin)
    val schema = new StructType()
      .add("_id", StringType).add("price", DoubleType).add("status", StringType)
    val back = spark.read.format("xml").option("rowTag", "order")
      .schema(schema).load(dir)
    val got = back.collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getString(2))).toSet
    assert(got == Set(("O-1", 10.5, "F"), ("O-2", 20.25, "O"), ("O-3", 7.0, "F")))
  }

  test("events loader honors the parquet timestamp logical type across encodings") {
    // Round-8 regression: the loader assumed events.ts was nanos-as-int64
    // and divided by 1000, compressing canonical timestamp[us] files 1000x
    // (9 oracle rows red). The fix branches on the footer's logical type.
    // Prove it: write the SAME events in four physical encodings every
    // real writer produces — TIMESTAMP_MICROS (UTC-adjusted), NTZ micros,
    // INT96, and raw int64 nanos — and assert the sessionize query is
    // bit-identical over all four.
    val base = Tables.events(spark, sfDir).cache()
    val root = tmp("events_enc")
    def writeAs(name: String)(prep: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                              outType: Option[String]): String = {
      val dir = s"$root/$name"
      val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
      outType.foreach(t => spark.conf.set("spark.sql.parquet.outputTimestampType", t))
      try prep(base).write.mode("overwrite").parquet(s"$dir/events.parquet")
      finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
      dir
    }
    val dirs = Seq(
      writeAs("micros_ltz")(identity, Some("TIMESTAMP_MICROS")),
      writeAs("micros_ntz")(_.withColumn("ts", col("ts").cast(TimestampNTZType)),
        Some("TIMESTAMP_MICROS")),
      writeAs("int96")(identity, Some("INT96")),
      // legacy feed shape: raw int64 nanoseconds, no logical annotation
      writeAs("nanos_int64")(_.withColumn("ts", expr("unix_micros(ts) * 1000L")),
        None))
    val results = dirs.map { d =>
      SparkEntry.queries("q11_sessionize")(spark, d).collect().toSet
    }
    assert(results.head.nonEmpty)
    results.tail.zip(dirs.tail).foreach { case (r, d) =>
      assert(r == results.head, s"sessionize differs for encoding at $d")
    }
    // TIMESTAMP_MILLIS narrows the data, so it gets its own reference:
    // ms-truncated events written as micros must sessionize identically
    // to the same instants stored in the millis physical encoding
    val msTrunc = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("ts", timestamp_millis(expr("unix_millis(ts)")))
    val msRef = writeAs("millis_ref")(msTrunc, Some("TIMESTAMP_MICROS"))
    val msEnc = writeAs("millis_ltz")(msTrunc, Some("TIMESTAMP_MILLIS"))
    assert(SparkEntry.queries("q11_sessionize")(spark, msEnc).collect().toSet ==
      SparkEntry.queries("q11_sessionize")(spark, msRef).collect().toSet,
      "millis encoding sessionizes differently from micros at the same instants")
    // and against the shipped testdata: the loader must agree with a naive
    // logical-type-honoring read — i.e. no 1000x time compression
    val naiveMax = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("ts").cast(TimestampType).as("ts"))
      .agg(max("ts")).head.getTimestamp(0)
    val loaderMax = base.agg(max("ts")).head.getTimestamp(0)
    assert(loaderMax == naiveMax, s"loader=$loaderMax naive=$naiveMax")
    base.unpersist()
    // and event-time predicates REACH THE SCAN: the loader must not put
    // a cast above the scan that would strip ts from PushedFilters
    val pushed = Tables.events(spark, sfDir)
      .filter(col("ts") > java.sql.Timestamp.valueOf("2024-01-10 00:00:00"))
      .queryExecution.executedPlan.toString
    assert(pushed.contains("PushedFilters: [IsNotNull(ts), GreaterThan(ts,"),
      pushed.linesIterator.filter(_.contains("Scan")).mkString("\n"))

    // a MIXED-encoding directory (writer migration mid-table) must fail
    // loudly at detection — never silently read half the files at the
    // wrong time scale
    val mixed = s"$root/mixed/events.parquet"
    base.limit(10).write.parquet(mixed)
    base.limit(10).withColumn("ts", expr("unix_micros(ts) * 1000L"))
      .write.mode("append").parquet(mixed)
    val err = intercept[Exception] {
      SparkEntry.queries("q11_sessionize")(spark, s"$root/mixed").collect()
    }
    assert(err.getMessage != null)
  }

  test("S17: bucketed tables co-locate the join — no exchange in the plan") {
    // The executable proof of SURVEY §5's bucketing claim: write both
    // join sides bucketed by the join key into the catalog, and the
    // sort-merge join plans with NO Exchange — at 100 TB this is the
    // difference between re-shuffling both fact tables on every join
    // and reading co-located buckets straight off storage. The MERGE
    // hint keeps the small test tables out of the broadcast path so the
    // plan shape actually exercises the bucketed SMJ.
    val dir = tmp("bucketed")
    val o = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val l = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    o.write.format("parquet").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$dir/b_orders").mode("overwrite").saveAsTable("b_orders")
    l.write.format("parquet").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$dir/b_lineitem").mode("overwrite").saveAsTable("b_lineitem")
    val j = spark.table("b_orders").hint("MERGE")
      .join(spark.table("b_lineitem"), col("o_orderkey") === col("l_orderkey"))
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
    assert(plan.contains("Bucketed: true"), plan)
    // and the result is the plain join's result
    assert(j.count() ==
      o.join(l, col("o_orderkey") === col("l_orderkey")).count())
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
  }
}
