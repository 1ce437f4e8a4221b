package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** A source scan that keeps the query catalog small and free of copied
  * blocks: `SparkEntry.scala` and the family files under
  * `graft/catalog/` share every repeated fixture or oracle fragment as
  * one helper, stay under 2,000 lines each, and name each entry once. */
class SparkEntrySourceSpec extends AnyFunSuite {

  private val files: Seq[Path] = {
    val s = Files.list(Paths.get("src/main/scala/graft/catalog"))
    val family =
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    Paths.get("src/main/scala/graft/SparkEntry.scala") +: family.sortBy(_.toString)
  }

  /** Lines that count: trimmed, non-blank, not a comment line, with
    * whitespace runs collapsed — each with its 1-based line number. */
  private def counted(file: Path): Seq[(Int, String)] =
    Files.readAllLines(file).asScala.toSeq.zipWithIndex
      .map { case (l, i) => (i + 1, l.trim.replaceAll("\\s+", " ")) }
      .filterNot { case (_, t) =>
        t.isEmpty || t.startsWith("//") || t.startsWith("*") ||
          t.startsWith("/*")
      }

  test("no 12-line window of the catalog occurs twice") {
    val window = 12
    val first = scala.collection.mutable.HashMap.empty[Seq[String], String]
    val repeats = files.flatMap { f =>
      counted(f).sliding(window).flatMap { w =>
        val key = w.map(_._2)
        val at = s"${f.getFileName}:${w.head._1}"
        first.get(key) match {
          case Some(earlier) => Some(s"$at repeats $earlier")
          case None => first(key) = at; None
        }
      }
    }
    assert(repeats.isEmpty,
      s"${repeats.size} repeated $window-line windows in the catalog " +
        "(fold each into one shared helper): " +
        repeats.take(20).mkString("; "))
  }

  test("no catalog file exceeds 2,000 lines") {
    val long = files.map(f => f -> Files.readAllLines(f).size)
      .filter(_._2 > 2000)
    assert(long.isEmpty, "split these into family files: " +
      long.map { case (f, n) => s"${f.getFileName} ($n lines)" }.mkString(", "))
  }

  test("every catalog entry name is defined once") {
    val name = """CatalogEntry\("([^"]+)"""".r
    val names = files.flatMap(f => name.findAllMatchIn(Files.readString(f))
      .map(m => m.group(1) -> f.getFileName.toString))
    assert(names.nonEmpty)
    val dups = names.groupBy(_._1).filter(_._2.size > 1)
    assert(dups.isEmpty, "entries defined twice: " +
      dups.map { case (n, at) => s"$n in ${at.map(_._2).mkString(", ")}" }
        .mkString("; "))
  }
}
