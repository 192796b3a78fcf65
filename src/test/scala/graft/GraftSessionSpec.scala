package graft

import java.util.Properties

import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
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

  test("every job a checkpoint starts is named localCheckpoint; the caller's call site comes back") {
    val sc = spark.sparkContext
    val names = ArrayBuffer.empty[Seq[String]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
            .exists(_.startsWith("graft-jobcount")))
          names.synchronized(names += e.stageInfos.map(_.name))
    }
    sc.setCallSite("the caller's site")
    sc.addSparkListener(listener)
    try {
      // under AQE the repartition's shuffle-map stage runs as its own job
      val (_, jobs) = JobCount(spark)(GraftSession.checkpoint(keyed))
      assert(jobs >= 2 && names.size == jobs, s"$jobs jobs, names $names")
      names.foreach(ns => assert(ns.forall(_.contains("localCheckpoint")), ns))
      assert(sc.getLocalProperty("callSite.short") == "the caller's site")
      // also when the checkpoint throws
      intercept[IllegalArgumentException](GraftSession.checkpoint(keyed, Seq("v")))
      assert(sc.getLocalProperty("callSite.short") == "the caller's site")
    } finally { sc.removeSparkListener(listener); sc.clearCallSite() }
  }

  test("free releases a checkpoint's blocks without logging a WARN") {
    val sc = spark.sparkContext
    val ck = GraftSession.checkpoint(keyed)
    val ids = ck.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }
    assert(ids.nonEmpty && ids.forall(sc.getPersistentRDDs.contains))
    val warns = ArrayBuffer.empty[String]
    val appender = new AbstractAppender("graft-free-spec", null, null, true, Array.empty) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN))
          warns.synchronized(warns += e.getMessage.getFormattedMessage)
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    try GraftSession.free(ck)
    finally { root.removeAppender(appender); appender.stop() }
    assert(warns.isEmpty, warns.mkString("\n"))
    assert(!ids.exists(sc.getPersistentRDDs.contains))
  }
}
