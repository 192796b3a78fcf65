package graft

import org.apache.spark.sql.functions._

/** Locates the bulk-delete crossover for deleteFromBm25 (r16 verdict
  * #5): the surgical path's wall grows with the victims' vocabulary and
  * touched-partition count, the republish path's wall is ~constant (a
  * full survivor rewrite) — the victim fraction where they cross is the
  * `spark.graft.bm25.deleteRepublishFraction` default, measured at the
  * 1.5M-doc rung (BENCH_R17_BM25_DELETE.json; the discipline of the LR
  * co-partition rule's BENCH_R15_FLIP.json: a dial's guidance lives in
  * a probe main + a committed artifact, not prose).
  *
  * Usage:
  *   runMain graft.DeleteProbe publish <sfDir> <indexDir>
  *   runMain graft.DeleteProbe delete <indexDir> <fraction> <surgical|republish>
  *
  * The caller clones the published index (hardlink copy — parquet files
  * are immutable; deletes only unlink/rename) so each measurement sees
  * a fresh artifact without republishing.
  */
object DeleteProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession(s"local[$cpus]", cpus)
    def f(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    args(0) match {
      case "publish" =>
        val t0 = System.nanoTime()
        graft.operators.Retrieval.publishBm25(
          graft.operators.Retrieval.buildBm25Index(spark, args(1)), args(2))
        println("=====DELETEPROBE=====")
        println(s"""{"op":"publish","dir":"${args(2)}","wall_s":${
          f((System.nanoTime() - t0) / 1e9)}}""")
      case "delete" =>
        val dir = args(1)
        val frac = args(2).toDouble
        val mode = args(3)
        if (mode != "auto")
          spark.conf.set("spark.graft.bm25.deleteRepublishFraction",
            if (mode == "surgical") "2.0" else "0.0000001")
        val nDocs = spark.read.parquet(s"$dir/stats").collect()(0).getLong(0)
        // fraction <= 1: pmod spread; > 1: an absolute victim COUNT (the
        // GDPR-sized regime where the surgical path is supposed to win)
        val victims =
          if (frac > 1) spark.read.parquet(s"$dir/dl")
            .filter(col("doc_id") < frac.toLong)
            .select("doc_id").collect().map(_.getLong(0)).toSeq
          else {
            val cut = math.round(frac * 1000).toInt
            spark.read.parquet(s"$dir/dl")
              .filter(pmod(col("doc_id"), lit(1000L)) < cut)
              .select("doc_id").collect().map(_.getLong(0)).toSeq
          }
        val t0 = System.nanoTime()
        graft.operators.Retrieval.deleteFromBm25(spark, victims, dir)
        val wall = (System.nanoTime() - t0) / 1e9
        println("=====DELETEPROBE=====")
        println(s"""{"op":"delete","mode":"$mode","fraction":$frac,""" +
          s""""n_docs":$nDocs,"victims":${victims.size},"wall_s":${f(wall)}}""")
      case other => sys.error(s"unknown op $other")
    }
    spark.stop()
  }
}
