package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block submits, from the listener bus.
  *
  * The status tracker's job list is filled asynchronously and keeps at
  * most `spark.ui.retainedJobs` entries, so the difference of its length
  * before and after a block is unreliable in a long-lived test JVM. Here
  * a sentinel job runs before and after the block; the bus delivers job
  * starts in submission order, so every start seen between the two
  * sentinels belongs to the block (or to another thread's job, which
  * can only raise the count).
  */
object JobCount {
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val open = s"graft-jobcount-open-${System.nanoTime()}"
    val close = s"graft-jobcount-close-${System.nanoTime()}"
    // written on the bus thread only; read after the latch opens
    var counting = false
    var jobs = 0
    val closed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `open` => counting = true
          case `close` => counting = false; closed.countDown()
          case _ => if (counting) jobs += 1
        }
    }
    def sentinel(group: String): Unit = {
      sc.setJobGroup(group, "job-count sentinel")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      sentinel(open)
      val out = body
      sentinel(close)
      require(closed.await(60, TimeUnit.SECONDS), "listener bus did not deliver the sentinel")
      (out, jobs)
    } finally sc.removeSparkListener(listener)
  }

  /** Runs `body` and returns its outcome, the wall-clock time (ms) it
    * returned at, and the (start, end) times of every job the listener
    * bus reports from the call on. Jobs still running after the return
    * are waited for: the listing closes once every reported job has
    * ended and the bus has been quiet for `quietMs`. A job that ended
    * after the return time was still running when the call returned.
    */
  def timeline[T](spark: SparkSession, quietMs: Long = 2000)(
      body: => T): (Try[T], Long, Seq[(Long, Long)]) = {
    val sc = spark.sparkContext
    val starts = mutable.Map.empty[Int, Long]
    val ends = mutable.Map.empty[Int, Long]
    var lastEvent = System.currentTimeMillis()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.synchronized {
        starts(e.jobId) = e.time; lastEvent = System.currentTimeMillis()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = starts.synchronized {
        ends(e.jobId) = e.time; lastEvent = System.currentTimeMillis()
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = Try(body)
      val returned = System.currentTimeMillis()
      val deadline = returned + 120000
      def settled = starts.synchronized(
        starts.keySet.subsetOf(ends.keySet) && System.currentTimeMillis() - lastEvent >= quietMs)
      while (!settled) {
        require(System.currentTimeMillis() < deadline, "jobs still running 2 min after the call")
        Thread.sleep(50)
      }
      (out, returned, starts.synchronized(starts.keys.toSeq.sorted.map(j => (starts(j), ends(j)))))
    } finally sc.removeSparkListener(listener)
  }
}
