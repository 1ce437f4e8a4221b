package graft

import org.apache.spark.sql.functions._
import graft.operators.CanDecode
import graft.sources.{Candump, CanFixtures, CanSchema}

class CanDecodeSpec extends SparkSpec {
  import spark.implicits._

  def framesOf(lines: String*) =
    Candump.framesFromLines(lines.toDF("line").withColumn("file", lit("f")))

  test("fixture decode: values, Q1 scales, exact doubles") {
    // payload: sig 0x11, CURR=0x03E8(LE E8 03)=1000, DUTY=0x11=17,
    // flags byte=0x03, pad 00 → declared size 6 admitted
    val long = CanDecode.decodeLong(
      framesOf("(1580415599.609366) can0 021#11E803110300"), CanFixtures.schema)
    val got = long.select("byte_name", "value", "unit").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getString(2))).toSeq
    assert(got == Seq(
      ("SIGNATURE", 17.0, ""),
      ("CURR", 1000 * 0.01, "A"),
      ("DUTY", 17 * 0.01, "V"),        // Q1: ×0.01 not ×1/255
      ("FLAG1", 1.0 / 255, "%"),       // bit0 of 0x03 → 1 × 1/255 (Q1)
      ("FLAG2", 1.0, "")))             // bit1 of 0x03
  }

  test("length mismatch drops the frame (Q3 over-count)") {
    // 5-byte payload = the topic's REAL packed size, but declared is 6
    val long = CanDecode.decodeLong(
      framesOf("(1580415599.609366) can0 021#11E8031103"), CanFixtures.schema)
    assert(long.count() == 0)
  }

  test("unknown signature/topic drops the frame") {
    val long = CanDecode.decodeLong(
      framesOf("(1580415599.609366) can0 022#11E803110300",  // unknown topic
               "(1580415599.609366) can0 021#FFE803110300"), // unknown signature
      CanFixtures.schema)
    assert(long.count() == 0)
  }

  test("2020 schema: corpus frame decodes with reference quirk scales") {
    val s20 = CanSchema.load(SeasonSchemas.path("2020"))
    val long = CanDecode.decodeLong(
      framesOf("(1580415599.609366) can0 011#E4360F0000780216"), s20)
    val got = long.select("module_name", "topic_name", "byte_name", "value")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getDouble(3))).toSeq
    assert(got == Seq(
      ("MCC19_4", "MEASUREMENTS", "SIGNATURE", 228.0),
      ("MCC19_4", "MEASUREMENTS", "OUTPUT_VOLTAGE", 0x0F36 * 0.01),
      ("MCC19_4", "MEASUREMENTS", "INPUT_CURRENT", 0.0),
      ("MCC19_4", "MEASUREMENTS", "INPUT_VOLTAGE", 0x0278 * 0.01),
      ("MCC19_4", "MEASUREMENTS", "DT", 0x16 * 0.01))) // Q1: not 22/255
  }

  test("mab20 workaround (Q5): topic 65 resigned to MAB19 + truncated") {
    val s20 = CanSchema.load(SeasonSchemas.path("2020"))
    val lines = framesOf("(1580415599.605882) can0 041#000400")
    // without the workaround: signature 0 has no topic 65 → dropped
    assert(CanDecode.decodeLong(lines, s20).count() == 0)
    // with it: sig→230 (MAB19), payload truncated to 2 bytes → PUMPS
    val got = CanDecode.decodeLong(lines, s20, mab20Workaround = true)
      .select("module_name", "topic_name", "byte_name", "value").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3)))
      .toSeq
    // payload truncated to 00 04 → SIGNATURE=0, PUMPS = bit0 of 0x04 = 0
    assert(got == Seq(
      ("MAB19", "PUMPS", "SIGNATURE", 0.0),
      ("MAB19", "PUMPS", "PUMPS", 0.0)))
  }

  test("pivot wide: duplicate (signal, ts) averaged; schema-enumerated columns") {
    val long = CanDecode.decodeLong(framesOf(
      "(1580415599.609366) can0 021#11E803110300",
      "(1580415599.609366) can0 021#11D007330300", // same ts → averaged
      "(1580415600.000000) can0 021#110000FF0000"), CanFixtures.schema)
    val wide = CanDecode.pivotWide(long, CanFixtures.schema)
    assert(wide.columns.toSeq == "timestamp" +: CanFixtures.schema.wideColumns)
    val r = wide.orderBy("timestamp").collect()
    assert(r.length == 2)
    // CURR avg of 1000*0.01 and 0x07D0*0.01=20.0 → 15.0
    val currIdx = wide.columns.indexOf("MOD17__SENSOR__CURR")
    assert(r(0).getDouble(currIdx) == (10.0 + 20.0) / 2)
    assert(r(1).getDouble(wide.columns.indexOf("MOD17__SENSOR__DUTY")) == 0xFF * 0.01)
  }

  test("float16 quantization helper matches IEEE half-precision (Q6)") {
    val vals = Seq(0.22, 38.94, 6.32, 1.0 / 255, 1234.567, -0.1, 65519.0, 70000.0)
    val got = vals.toDF("v").select(CanDecode.float16Round(col("v")).as("h"))
      .collect().map(_.getDouble(0)).toSeq
    val want = vals.map(v => ieeeHalf(v))
    got.zip(want).foreach { case (g, w) =>
      assert(g == w || (g.isInfinite && w.isInfinite), s"got $g want $w") }
  }

  /** reference float16 semantics via JVM: round-trip through the IEEE
    * 754 binary16 encoding (round-to-nearest-even). */
  private def ieeeHalf(d: Double): Double = {
    val f = d.toFloat
    val bits = java.lang.Float.floatToIntBits(f)
    val sign = (bits >>> 16) & 0x8000
    val valBits = (bits & 0x7fffffff)
    if (valBits >= 0x47800000) // overflow → inf
      return java.lang.Float.intBitsToFloat((sign << 16) | 0x7f800000).toDouble
    val e = (valBits >>> 23) - 127
    if (e < -24) return if (sign != 0) -0.0 else 0.0
    // normal/subnormal rounding via scalb
    val scale = math.max(e, -14) - 10
    val q = math.rint(f / math.pow(2, scale)) * math.pow(2, scale)
    if (sign != 0 && q == 0.0) -0.0 else q
  }
}
