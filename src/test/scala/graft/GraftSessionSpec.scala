package graft

import java.util.Properties

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** GraftSession.checkpoint: with a layout, the checkpoint keeps the
  * frame's hash layout (a plain localCheckpoint under AQE drops it)
  * without touching the session's AQE flag; a frame not laid out on the
  * promised keys is refused.
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

  test("checkpoint keeps the hash layout under a prior AQE of true and of false") {
    try Seq("true", "false").foreach { prior =>
      spark.conf.set(Aqe, prior)
      assert(consumerExchanges(GraftSession.checkpoint(keyed, Seq("k"))) == 0, s"AQE $prior")
      assert(spark.conf.get(Aqe) == prior)
    } finally spark.conf.set(Aqe, "true")
  }

  test("a plain localCheckpoint under AQE drops the layout: the consumer re-exchanges") {
    assert(spark.conf.get(Aqe) == "true")
    assert(consumerExchanges(keyed.localCheckpoint()) >= 1)
  }

  test("checkpoint without a layout advertises none, like a plain localCheckpoint") {
    assert(consumerExchanges(GraftSession.checkpoint(keyed)) >= 1)
  }

  test("a layout AQE coalesced away is rebuilt from the frame's plan without AQE") {
    // AQE coalesces this small aggregate's hash(k) exchange, so the
    // adaptive run does not end on the promised layout
    val agg = spark.range(0, 100000).select((col("id") % 1000).as("k"), col("id").as("v"))
      .groupBy("k").agg(sum("v").as("v"))
    val ck = GraftSession.checkpoint(agg, Seq("k"))
    assert(consumerExchanges(ck) == 0)
    assert(ck.orderBy("k").collect().toSeq == agg.orderBy("k").collect().toSeq)
    assert(spark.conf.get(Aqe) == "true")
  }

  test("a frame not hash-partitioned on the layout is refused, naming what was found") {
    val onV = spark.range(0, 1000).select((col("id") % 10).as("k"), col("id").as("v"))
      .repartition(8, col("v"))
    val e = intercept[IllegalArgumentException](GraftSession.checkpoint(onV, Seq("k")))
    assert(e.getMessage.contains("hashpartitioning(v#"), e.getMessage)
  }

  test("the checkpoint job runs under the session's own AQE flag") {
    val props = ArrayBuffer.empty[Properties]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.stageInfos.exists(_.name.toLowerCase.contains("checkpoint")))
          props.synchronized(props += e.properties)
    }
    spark.sparkContext.addSparkListener(listener)
    try JobCount(spark)(GraftSession.checkpoint(keyed, Seq("k")))
    finally spark.sparkContext.removeSparkListener(listener)
    assert(props.nonEmpty, "no checkpoint-named job")
    props.foreach(p => assert(p.getProperty(Aqe) == spark.conf.get(Aqe)))
  }
}
