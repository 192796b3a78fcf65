package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** GraftSession.layoutCheckpoint: the checkpoint keeps the frame's hash
  * layout (a plain localCheckpoint under AQE drops it), and the AQE flag
  * it flips for the eager action reads its prior value afterwards.
  */
class GraftSessionSpec extends GraftSpec {
  private val Aqe = "spark.sql.adaptive.enabled"

  private def keyed: DataFrame =
    spark.range(0, 100000).select((col("id") % 1000).as("k"), col("id").as("v"))
      .repartition(8, col("k"))

  /** Hash exchanges in a groupBy(k) consumer's executed plan. */
  private def consumerExchanges(ck: DataFrame): Int = {
    val agg = ck.groupBy("k").count()
    agg.collect()
    "Exchange hashpartitioning".r.findAllIn(agg.queryExecution.executedPlan.toString).length
  }

  test("layoutCheckpoint keeps the hash layout: a groupBy consumer adds no exchange") {
    assert(spark.conf.get(Aqe) == "true")
    assert(consumerExchanges(GraftSession.layoutCheckpoint(keyed)) == 0)
  }

  test("a plain localCheckpoint under AQE drops the layout: the consumer re-exchanges") {
    assert(spark.conf.get(Aqe) == "true")
    assert(consumerExchanges(keyed.localCheckpoint()) >= 1)
  }

  test("layoutCheckpoint restores the AQE flag, also when the frame throws") {
    val boom = udf((v: Long) => if (v >= 0) throw new IllegalStateException("boom") else v)
    try Seq("true", "false").foreach { prior =>
      spark.conf.set(Aqe, prior)
      GraftSession.layoutCheckpoint(keyed).count()
      assert(spark.conf.get(Aqe) == prior)
      intercept[Exception](GraftSession.layoutCheckpoint(keyed.select(boom(col("v")).as("v"))))
      assert(spark.conf.get(Aqe) == prior)
    } finally spark.conf.set(Aqe, "true")
  }
}
