package graft

import com.fasterxml.jackson.databind.ObjectMapper

class BenchSpec extends GraftSpec {
  test("the stdout line fits the harness's 2000-char tail at a 9.99 s wall per query") {
    // the harness parses the last stdout line as one JSON object from
    // the last ~2000 chars; sbt's trailing [success] line shares them
    val names = SparkEntry.queries.keys.toSeq.sorted
    val line = Bench.compactLine(names.map(_ -> 9.99), names.size * 9.99, sfDir)
    assert(line.length < 1900, s"${line.length} chars for ${names.size} queries")
    val parsed = new ObjectMapper().readTree(line)
    // the qNN prefixes are the keys, so they must stay distinct
    assert(parsed.get("queries").size == names.size)
  }

  test("SPARK_GRAFT_CONF refuses a spark.graft.* key graft does not read") {
    assert(Bench.confEntries(" spark.graft.autoShufflePartitions=true, ,spark.sql.shuffle.partitions=8") ==
      Seq("spark.graft.autoShufflePartitions" -> "true", "spark.sql.shuffle.partitions" -> "8"))
    val e = intercept[RuntimeException](Bench.confEntries("spark.graft.rplsh.bandBits=8"))
    assert(e.getMessage.contains("spark.graft.rplsh.bandBits"), e.getMessage)
    intercept[RuntimeException](Bench.confEntries("spark.sql.shuffle.partitions"))
  }
}
