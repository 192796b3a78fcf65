package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Source guards over `src/main/scala`: lineage is truncated only
  * through GraftSession.checkpoint, no code path switches AQE on a
  * live session (a session conf is shared by every query planning on it
  * at the same time), the only spark.graft.* keys are the ones
  * GraftSession lists, and the only renames are the two atomic commit
  * points (an index set's manifest, the LR model registry).
  */
class SourceGuardSpec extends AnyFunSuite {
  private val Owner = "GraftSession.scala"

  /** (file name, line number, line) of every main-source line matching `p`. */
  private def lines(p: String => Boolean): Seq[(String, Int, String)] = {
    val files = Using.resource(Files.walk(Paths.get("src/main/scala")))(
      _.iterator.asScala.filter(_.toString.endsWith(".scala")).toList)
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if p(line)
    } yield (f.getFileName.toString, i + 1, line.trim)
  }

  private def show(hits: Seq[(String, Int, String)]): String =
    hits.map { case (f, n, l) => s"$f:$n: $l" }.mkString("\n")

  test("localCheckpoint is called only by GraftSession.checkpoint") {
    val hits = lines(_.contains("localCheckpoint(")).filter(_._1 != Owner)
    assert(hits.isEmpty, "take GraftSession.checkpoint instead:\n" + show(hits))
  }

  test("spark.sql.adaptive.enabled is named only by the session builder") {
    val hits = lines(_.contains("spark.sql.adaptive.enabled"))
    assert(hits.map(h => (h._1, h._3.startsWith(".config("))) == Seq((Owner, true)),
      "AQE is set once, at session build:\n" + show(hits))
  }

  test("the spark.graft.* keys named in src/main are exactly GraftSession.GraftKeys") {
    val key = "\"(spark\\.graft\\.[A-Za-z0-9.]+)\"".r
    val named = lines(l => key.findFirstIn(l).isDefined)
      .flatMap(h => key.findAllMatchIn(h._3).map(_.group(1))).toSet
    assert(named == GraftSession.GraftKeys, s"named: ${named.toSeq.sorted}")
  }

  test("a filesystem rename is made only by the manifest commit and the model registry") {
    val hits = lines(_.contains("rename("))
    assert(hits.map(_._1).toSet == Set("ManifestLog.scala", "LrTrain.scala"),
      "publish through IndexSet's manifest commit, never by swapping a published " +
        "directory in place:\n" + show(hits))
  }
}
