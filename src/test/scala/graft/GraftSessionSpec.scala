package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

class GraftSessionSpec extends SparkSpec {

  test("cores: a positive integer is accepted") {
    assert(GraftSession.parseCores(Some("4")) == 4)
  }

  test("cores: zero, negative, '*' and non-numeric values are rejected " +
       "with the variable and the value in the message") {
    for (bad <- Seq("0", "-1", "*", "x")) {
      val e = intercept[IllegalArgumentException](
        GraftSession.parseCores(Some(bad)))
      assert(e.getMessage.contains(GraftSession.CoresEnv), e.getMessage)
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("cores: unset means every available processor") {
    assert(GraftSession.parseCores(None) ==
      Runtime.getRuntime.availableProcessors)
  }

  test("a factory session carries every shared conf value") {
    val conf = spark.sparkContext.getConf
    val expected = GraftSession.conf(SparkSpec.Cores)
    assert(expected.map(_._1).toSet == Set("spark.master",
      "spark.sql.shuffle.partitions", "spark.sql.session.timeZone",
      "spark.sql.adaptive.enabled", "spark.sql.files.maxPartitionBytes",
      "spark.shuffle.sort.bypassMergeThreshold", "spark.ui.enabled"))
    for ((k, v) <- expected)
      assert(conf.getOption(k).contains(v), s"$k: ${conf.getOption(k)}")
    assert(conf.get("spark.master") == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.files.maxPartitionBytes") ==
      (16 * 1024 * 1024).toString)
  }

  private def scalaFiles(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("GraftSession is the only place a session builder is called") {
    val builderCall = """SparkSession\s*\.\s*builder""".r
    val files = scalaFiles("src/main/scala") ++ scalaFiles("src/test/scala")
    assert(files.exists(_.getFileName.toString == "GraftSession.scala"))
    val offenders = files
      .filter(_.getFileName.toString != "GraftSession.scala")
      .filter(f => builderCall.findFirstIn(Files.readString(f)).isDefined)
    assert(offenders.isEmpty,
      s"build sessions through GraftSession.create, not in: " +
        offenders.mkString(", "))
  }

  test("environment variables are read only by the session factory and the two harness mains") {
    val envRead = """\bsys\s*\.\s*env\b|\bSystem\s*\.\s*getenv\b""".r
    val readers = Set("GraftSession.scala", "Bench.scala", "Census.scala")
    val files = scalaFiles("src/main/scala")
    assert(readers.forall(r => files.exists(_.getFileName.toString == r)))
    val offenders = files
      .filterNot(f => readers(f.getFileName.toString))
      .filter(f => envRead.findFirstIn(Files.readString(f)).isDefined)
    assert(offenders.isEmpty,
      s"pass settings as parameters or constants, not env reads in: " +
        offenders.mkString(", "))
  }

  test("no foldLeft adds or renames one column per step on the season path") {
    // each withColumn/withColumnRenamed returns a new Dataset that
    // re-analyzes the whole plan: a fold over n columns analyzes it n
    // times, where one select/withColumns/withColumnsRenamed does once
    val perColumn = """\bwithColumn(Renamed)?\s*\(""".r
    // the text of the balanced (...) or {...} group opening at `from`
    def group(src: String, from: Int): Option[(String, Int)] = {
      val open = src.indexWhere(!_.isWhitespace, from)
      if (open < 0 || !"({".contains(src(open))) None
      else {
        var depth = 0; var i = open
        do {
          if ("({".contains(src(i))) depth += 1
          else if (")}".contains(src(i))) depth -= 1
          i += 1
        } while (depth > 0 && i < src.length)
        Some((src.substring(open, i), i))
      }
    }
    val files = scalaFiles("src/main/scala/graft/pipeline") :+
      Paths.get("src/main/scala/graft/operators/TimeSeries.scala")
    assert(files.size > 1)
    val offenders = for {
      f <- files
      src = Files.readString(f)
      m <- """\.foldLeft\b""".r.findAllMatchIn(src)
      (_, afterInit) <- group(src, m.end)
      (body, _) <- group(src, afterInit)
      if perColumn.findFirstIn(body).isDefined
    } yield s"${f.getFileName}:${src.take(m.start).count(_ == '\n') + 1}"
    assert(offenders.isEmpty,
      s"fold one projection per step instead: ${offenders.mkString(", ")}")
  }
}
