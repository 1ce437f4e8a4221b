package graft

import java.nio.file.{Files, Paths}
import graft.sources.Candump

/** P1 regex admission conformance — the adversarial corpus replicated
  * from the reference (test_small.log:1-31) with the expected-accept
  * set frozen from the reference regex semantics (lib/canparser.py:274-283):
  * 12 frames total, line 1 yields two, odd-length hex payloads are
  * always rejected by the trailing (?!\w), 9+-byte payloads rejected,
  * non-ASCII-word interfaces rejected. */
class CandumpSpec extends SparkSpec {

  val corpus: String = Seq(
    "(1580415599.609366) can0 011#E4360F0000780216(1580415599.609366) can0 011#E4360F0000780216",
    "(1580415599.609525) can0 011#E33C0F00002C0D4C",
    "(1580415599.609366) can0 011#E4360F0000780216AA",
    "(1580415599.609366) can0 011#E4360F0000780216A",
    "(1580415599.609366) can0 011#E4360F0000780216",
    "(1580415599.609366) can0 011#E4360F000078021",
    "(1580415599.609366) can0 011#E4360F00007802",
    "(1580415599.609366) can0 011#E4360F0000780",
    "(1580415599.609366) can0 011#E4360F000078",
    "(1580415599.609366) can0 011#E4360F00007",
    "(1580415599.609366) can0 011#E4360F0000",
    "(1580415599.609366) can0 011#E4360F000",
    "(1580415599.609366) can0 011#E4360F00",
    "(1580415599.609366) can0 011#E4360F0",
    "(1580415599.609366) can0 011#E4360F",
    "(1580415599.609366) can0 011#E4360",
    "(1580415599.609366) can0 011#E436",
    "(1580415599.609366) can0 011#E43",
    "(1580415599.609366) can0 011#E4",
    "(1580415599.609366) can0 011#E",
    "(1580415599.609366) can0 011#",
    "(1580415599.609366) µan0 011#",
    "(1580415599.609525) some_interface 011#E33C0F00002C0D4C",
    "(1580415599.609525) can0 011#E33C0F00002C0D4CCCCCCCCCCCCCCCCCCCCCCCCCCCCCCCCC",
    "(1580415599.601187) caaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaan0",
    "(1580415599.602123) can0 011######################",
    "(1580415599.602966) can0 011#EEEEEEEEEEEEEEEEEEEEEEEEEEEEEEEEEEEEEEEEEEEEE",
    "(1580415599.604356777777777777777777777777777777777777777777777777777777777777777777",
    "(1580415599.604851) can0 011#BUGGGGGGGGGG0",
    "(1580415599.605811) can0 011#11111111111111111",
    "(1580415599.605882) can0 041#000400").mkString("\n")

  test("adversarial corpus admits exactly the reference's 12 frames") {
    val dir = Files.createTempDirectory("candump")
    val f = dir.resolve("test_small.log")
    Files.write(f, corpus.getBytes("ISO-8859-1"))
    val frames = Candump.frames(spark, f.toString)
    val rows = frames
      .selectExpr("interface", "topic", "payload_hex", "unix_micros(ts) as us")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(rows.length == 12)
    // line 1: two frames on one line
    assert(rows.count(_ == (("can0", 17, "E4360F0000780216", 1580415599609366L))) == 3)
    // even payload lengths 2..8 bytes admitted
    assert(rows.count { case (_, t, p, _) => t == 17 && p.startsWith("E436") } == 9)
    // non-can0 interface still admitted (regex takes any \w+)
    assert(rows.contains(("some_interface", 17, "E33C0F00002C0D4C", 1580415599609525L)))
    // the 041 frame
    assert(rows.contains(("can0", 65, "000400", 1580415599605882L)))
    // odd-length and >8-byte payloads all rejected
    assert(!rows.exists(_._3.length % 2 == 1))
    assert(!rows.exists(_._3.length > 16))
  }

  test("timestamp crop keeps rows between first/last frame in file order (Q2)") {
    import spark.implicits._
    // first frame ts=100s, garbage spike at 50s and 999s in between,
    // last frame ts=200s → spikes outside [100,200] dropped
    val lines = Seq(
      "(1500000100.000000) can0 011#AABB",
      "(1500000050.000000) can0 011#AABB",
      "(1500000999.000000) can0 011#AABB",
      "(1500000150.000000) can0 011#AABB",
      "(1500000200.000000) can0 011#AABB")
      .toDF("line").withColumn("file", org.apache.spark.sql.functions.lit("f"))
    val cropped = Candump.cropToFileRange(Candump.framesFromLines(lines))
    val ts = cropped.selectExpr("unix_micros(ts)/1000000").collect().map(_.getDouble(0))
    assert(ts.sorted.toSeq == Seq(1.5000001e9, 1.50000015e9, 1.5000002e9))
  }

  test("a glob read resolves on the driver and tags lines as Spark's glob read does") {
    import spark.implicits._
    val dir = Files.createTempDirectory("candump_glob")
    Files.writeString(dir.resolve("a.log"), "l1\nl2\n")
    Files.writeString(dir.resolve("b.log"), "l3\n")
    Files.writeString(dir.resolve("c.txt"), "skip\n")
    val glob = s"$dir/*.log"
    def perFile(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("file").count().as[(String, Long)].collect().toMap
    val viaSpark = spark.read.textFile(glob).toDF("line")
      .withColumn("file", org.apache.spark.sql.functions.input_file_name())
    assert(perFile(Candump.lines(spark, glob)) == perFile(viaSpark))
    assert(perFile(viaSpark).values.toSeq.sorted == Seq(1L, 2L))
    val e = intercept[IllegalArgumentException](
      Candump.lines(spark, s"$dir/*.none"))
    assert(e.getMessage.contains(s"$dir/*.none"), e.getMessage)
  }

  test("batch and stream extract the same frames from the same lines") {
    val dir = Files.createTempDirectory("frames_parity")
    // several frames per line, mixed-case hex in topics and payloads,
    // a rejected frame between accepted ones, two files
    Files.writeString(dir.resolve("a.log"), Seq(
      "(1580415599.609366) can0 01a#e4360f0000780216(1580415599.609370) can0 01B#Aa00",
      "(1580415599.609525) can0 011#E33C0F00002C0D4C junk (1580415599.700001) vcan1 7fF#0102030405060708",
      "(1580415599.800000) can0 011#E4360F0000780216A (1580415599.800001) can0 041#000400",
      "not a frame at all").mkString("\n"))
    Files.writeString(dir.resolve("b.log"),
      "(1580415600.000001) can0 0aB#c0FfEe(1580415600.000002) can0 021#11e803110300\n")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("file", "ts", "topic", "payload_hex").collect()
        .map(_.toString).sorted.toSeq
    val batch = rows(Candump.frames(spark, s"$dir/*.log"))
    val q = graft.streaming.StreamingParse.framesStream(spark, dir.toString)
      .writeStream.format("memory").queryName("frames_parity")
      .outputMode("append").start()
    val stream = try {
      q.processAllAvailable()
      rows(spark.table("frames_parity"))
    } finally q.stop()
    assert(batch.size == 7, batch.mkString("\n"))
    assert(stream == batch)
  }

  test("frameRegex lock: substring field extraction assumes this exact pattern") {
    // framesFromLines slices fields by offsets derived from the widths
    // below; if this assertion fires you changed the pattern — revisit
    // the substring arithmetic (Candump.scala) together with it.
    assert(Candump.frameRegex ==
      "(?i)\\((\\d{10}\\.\\d{6})\\)\\s(\\w+)\\s([0-9a-f]{3})#((?:[0-9a-f]{2}){2,8})(?!\\w)")
    assert((Candump.TsSecondsWidth, Candump.TsMicrosWidth, Candump.TopicWidth)
      == ((10, 6, 3)))
  }
}
