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

  test("GraftSession is the only place a session builder is called") {
    val builderCall = """SparkSession\s*\.\s*builder""".r
    def scalaFiles(root: String): Seq[Path] = {
      val s = Files.walk(Paths.get(root))
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    val files = scalaFiles("src/main/scala") ++ scalaFiles("src/test/scala")
    assert(files.exists(_.getFileName.toString == "GraftSession.scala"))
    val offenders = files
      .filter(_.getFileName.toString != "GraftSession.scala")
      .filter(f => builderCall.findFirstIn(Files.readString(f)).isDefined)
    assert(offenders.isEmpty,
      s"build sessions through GraftSession.create, not in: " +
        offenders.mkString(", "))
  }
}
