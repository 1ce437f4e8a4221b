package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** A source scan that keeps the query catalog free of copied blocks:
  * every repeated fixture or oracle fragment lives once, as a shared
  * helper in `SparkEntry`, so a fix lands in one place. */
class SparkEntrySourceSpec extends AnyFunSuite {

  /** Lines that count: trimmed, non-blank, not a comment line, with
    * whitespace runs collapsed — each with its 1-based line number. */
  private def counted(file: String): Seq[(Int, String)] =
    Files.readAllLines(Paths.get(file)).asScala.toSeq.zipWithIndex
      .map { case (l, i) => (i + 1, l.trim.replaceAll("\\s+", " ")) }
      .filterNot { case (_, t) =>
        t.isEmpty || t.startsWith("//") || t.startsWith("*") ||
          t.startsWith("/*")
      }

  test("no 12-line window of SparkEntry.scala occurs twice") {
    val window = 12
    val lines = counted("src/main/scala/graft/SparkEntry.scala")
    val first = scala.collection.mutable.HashMap.empty[Seq[String], Int]
    val repeats = lines.sliding(window).flatMap { w =>
      val key = w.map(_._2)
      first.get(key) match {
        case Some(at) => Some(s"line ${w.head._1} repeats line $at")
        case None => first(key) = w.head._1; None
      }
    }.toList
    assert(repeats.isEmpty,
      s"${repeats.size} repeated $window-line windows in SparkEntry.scala " +
        "(fold each into one shared helper): " +
        repeats.take(20).mkString("; "))
  }
}
