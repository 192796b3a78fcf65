package graftbench

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = GraftSession("local[2]", 2)

  override def afterAll(): Unit = spark.stop()

  private def frame = spark.range(0, 500).select(
    col("id"),
    (col("id") % 7).cast("string").as("k"),
    (col("id") / 3.0).as("x"),
    array(col("id").cast("double"), lit(0.5)).as("v"),
    map(lit("a"), col("id")).as("m"))

  test("digest ignores row order and partitioning") {
    val d = Digest.of(frame)
    assert(Digest.of(frame.orderBy(desc("id"))) == d)
    assert(Digest.of(frame.repartition(7, col("k"))) == d)
    assert(Digest.of(frame.coalesce(1).orderBy(rand(3))) == d)
    assert(d.startsWith("500:"))
  }

  test("digest sees a changed, dropped or duplicated row") {
    val d = Digest.of(frame)
    assert(Digest.of(frame.withColumn("k", when(col("id") === 42, "x").otherwise(col("k")))) != d)
    assert(Digest.of(frame.filter(col("id") =!= 42)) != d)
    assert(Digest.of(frame.union(frame.filter(col("id") === 42))) != d)
  }

  test("digest reads doubles at float precision") {
    val a = spark.range(0, 10).select((col("id") / 3.0).as("x"))
    val b = spark.range(0, 10).select((col("id") / 3.0 * (1.0 + 1e-12)).as("x"))
    assert(Digest.of(a) == Digest.of(b))
  }

  test("duplicate column names are hashed by position") {
    val df = spark.range(0, 5).select(col("id"), col("id"))
    assert(Digest.of(df).startsWith("5:"))
  }
}
