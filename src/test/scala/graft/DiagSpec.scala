package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.Using

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions.{col, sum}

/** Diag's JSON escaper, and one smoke call of every mode, so the tool
  * cannot drift from the engine paths it times without a failing spec.
  */
class DiagSpec extends GraftSpec {
  private val json = new ObjectMapper()
  private val q = "q22_clean_numeric"

  private def keysOf(n: JsonNode): Set[String] = n.fieldNames.asScala.toSet

  test("jstr escapes every control character: the literal parses back to its input") {
    val s = "\u0001\b\f\"\\\n"
    assert(json.readTree(Diag.jstr(s)).asText == s)
    assert(json.readTree(Diag.jstr("ok \t\r\u001f")).asText == "ok \t\r\u001f")
  }

  test("query mode: per-pass wall and JIT delta, codegen counters, stages, final plan") {
    val r = json.readTree(Diag.query(spark, Seq(q, sfDir, "1")))
    assert(keysOf(r) == Set("query", "sf", "cpus", "passes", "jitCompileMsPerPass",
      "janinoCompilesTotal", "maxGeneratedMethodBytecode", "lastPassStages", "plan"))
    assert(r.get("passes").size == 1 && r.get("jitCompileMsPerPass").size == 1)
    assert(r.get("lastPassStages").size > 0)
    assert(r.get("plan").asText.contains("isFinalPlan=true"))
  }

  private val screenKeys = Set("wall", "stages", "sumRunMs", "sumCpuMs", "dupFlag",
    "err", "dupWriters", "topCpuStages")

  test("sweep mode: one screened record per query") {
    val r = json.readTree(Diag.sweep(spark, Seq(sfDir, q)))
    assert(r.size == 1)
    assert(keysOf(r.get(0)) == screenKeys + "query")
    assert(r.get(0).get("err").asText == "" && r.get(0).get("wall").asDouble > 0)
  }

  test("screen: a one-row global aggregate is not flagged as a duplicate writer") {
    // the sum's partial aggregate writes one row per range partition;
    // a timing count() over the frame would write the same rows again
    def frame = spark.range(0, 1000)
      .crossJoin(spark.range(0, 1000).agg(sum("id").as("s")))
      .filter(col("id") < col("s"))
    val r = json.readTree(Using.resource(new Diag.StageRecorder(spark))(rec =>
      Diag.screen(rec, "path", "range_sum")(() => frame)))
    assert(r.get("err").asText == "" && r.get("stages").asInt > 0, r)
    assert(!r.get("dupFlag").asBoolean, r)
  }

  test("serve mode screens the three serve reads, fusedWithContent among them") {
    val (life, paths) = json.readTree(Diag.serve(spark, Seq(sfDir))).elements.asScala.toSeq
      .partition(_.has("lifecycle"))
    assert(life.map(_.get("lifecycle").asText) == Seq("append", "snapshot"))
    life.foreach { l =>
      assert(keysOf(l) == Set("lifecycle", "wall", "jobs", "stages", "jobLedger"))
      assert(l.get("wall").asDouble > 0 && l.get("jobLedger").size == l.get("jobs").asInt, l)
      l.get("jobLedger").elements.asScala.foreach(j =>
        assert(keysOf(j) == Set("job", "name", "ms", "stages"), j))
    }
    // the snapshot resolves from the manifest: the codebook collect only
    assert(life(1).get("jobs").asInt == 1, life(1))
    assert(paths.map(_.get("path").asText) == Seq("bm25_score", "pq_probe", "hybrid_fused_content"))
    paths.foreach { p =>
      assert(keysOf(p) == screenKeys + "path")
      assert(p.get("err").asText == "" && p.get("stages").asInt > 0, p)
    }
  }

  test("plan mode: formatted plans inline, or one file each under --dir") {
    val inline = json.readTree(Diag.plan(spark, Seq(sfDir, q)))
    assert(keysOf(inline.get(0)) == Set("query", "chars", "err", "plan"))
    assert(inline.get(0).get("plan").asText.contains("== Physical Plan =="))
    val dir = Files.createTempDirectory("graft_diagspec")
    try {
      val r = json.readTree(Diag.plan(spark, Seq(sfDir, q, "--dir", dir.toString, "--suffix", "_t")))
      assert(keysOf(r.get(0)) == Set("query", "chars", "err"))
      val f = dir.resolve(s"${q}_t.txt")
      assert(new String(Files.readAllBytes(f), "UTF-8").length == r.get(0).get("chars").asInt)
      Files.delete(f)
    } finally Files.delete(dir)
  }

  test("final mode: scan and query-stage counts from the final adaptive plan") {
    val r = json.readTree(Diag.finalPlan(spark, Seq(sfDir, q)))
    assert(keysOf(r.get(0)) == Set("query", "scans", "shuffleRefs", "shuffleStages",
      "bcastRefs", "bcastStages"))
    assert(r.get(0).get("scans").asInt >= 1)
  }
}
