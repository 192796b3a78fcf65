package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{GenScale, GraftSession, Tables}
import graft.operators.IndexSet

/** Writes GenScale's tables at the sf0.1 shape, one file per table, and
  * publishes hybrid_serve's base index set from them. `run.py` cuts each
  * run's seeded subset from the tables and copies the index.
  *
  * Usage: Gen <outDir>
  */
object Gen {
  val Sf = 0.1

  private def n(perSf1: Long): Long = math.max(1L, math.round(perSf1 * Sf))

  /** hybrid_serve's corpus split by id: a quarter of the ids form the
    * published base corpus, and one eighth form the pool that seeded
    * ingest batches are drawn from.
    */
  def inBase(id: Column): Column = pmod(id, lit(8L)) < 2
  def inPool(id: Column): Column = pmod(id, lit(8L)) === 2

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: Gen <outDir>")
    val outDir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val s = GraftSession(s"local[$cpus]", cpus)
    val tables: Seq[(String, DataFrame)] = Seq(
      "documents" -> GenScale.documents(s, n(50000L), heapsVocab = true),
      "embeddings" -> GenScale.embeddings(s, n(20000L)),
      "events" -> GenScale.events(s, n(1000000L), n(15000L)),
      "lineitem" -> GenScale.lineitem(s, n(1500000L), n(200000L), n(10000L)),
      "orders" -> GenScale.orders(s, n(1500000L), n(150000L)),
      "customer" -> GenScale.customer(s, n(150000L)),
      "supplier" -> GenScale.supplier(s, n(10000L)),
      "part" -> GenScale.part(s, n(200000L)),
      "region" -> GenScale.region(s),
      "nation" -> GenScale.nation(s))
    tables.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }
    val t0 = System.nanoTime()
    IndexSet.publish(s,
      Tables.documents(s, outDir).select("doc_id", "text").filter(inBase(col("doc_id"))),
      Tables.embeddings(s, outDir).filter(inBase(col("vec_id"))),
      s"$outDir/index")
    val publishS = (System.nanoTime() - t0) / 1e9
    Files.write(Paths.get(s"$outDir/publish.json"), s"""{"publish_s": $publishS}""".getBytes("UTF-8"))
    s.stop()
  }
}
