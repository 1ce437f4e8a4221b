package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{CanFixtures, CanSchema}
import graft.sources.CanSchema.{Bit, U16LE, U8}

/** CanSchema unit rules + ctypes layout, incl. ported reference tests
  * (lib/tests/test_canparser_generator.py:5-19) and quirks Q1/Q3. */
class CanSchemaSpec extends AnyFunSuite {

  test("apply_units ported cases") {
    assert(CanSchema.unitScale("") == (("", 1.0)))
    assert(CanSchema.unitScale("%") == (("%", 1.0 / 255)))
    val (ua, sa) = CanSchema.unitScale("A/100")
    assert(ua == "A" && math.abs(sa - 0.01) < 1e-12)
    val (ud, sd) = CanSchema.unitScale("%/255")
    assert(ud == "%" && math.abs(sd - 1.0 / 255) < 1e-12)
    val (ug, sg) = CanSchema.unitScale("°/100")
    assert(ug == "°" && math.abs(sg - 0.01) < 1e-12)
  }

  test("fixture layout: offsets, kinds, declared size (Q3), units ordinal (Q1)") {
    val t = CanFixtures.schema.modules(17).topics(33)
    val f = t.fields.map(x => (x.name, x.byteOffset, x.kind, x.scale, x.unitLabel))
    assert(f == Vector(
      ("SIGNATURE", 0, U8, 1.0, ""),
      ("CURR", 1, U16LE, 0.01, "A"),
      ("DUTY", 3, U8, 0.01, "V"),     // Q1: reads CURR_H's "V/100"
      ("FLAG1", 4, Bit(0), 1.0 / 255, "%"), // Q1: reads DUTY's "%"
      ("FLAG2", 4, Bit(1), 1.0, "")))
    assert(t.declaredSize == 6) // Q3: 1+2+1+1+1, real packed size is 5
  }

  test("2020 schema: MCS19.START_STAGES over-counted size (Q3)") {
    val s = CanSchema.load(SeasonSchemas.path("2020"))
    val t = s.modules(200).topics(516)
    assert(t.declaredSize == 3) // real frames are 2 bytes → always rejected
    assert(t.fields.map(f => (f.name, f.byteOffset, f.kind)) == Vector(
      ("SIGNATURE", 0, U8), ("MAIN_RELAY", 1, Bit(0)), ("CHARGE_RELAY", 1, Bit(1))))
  }

  test("2020 schema: MCC19 MEASUREMENTS DT mis-scaled by Q1 ordinal lookup") {
    val s = CanSchema.load(SeasonSchemas.path("2020"))
    val t = s.modules(228).topics(17) // MCC19_4.MEASUREMENTS
    val dt = t.fields.find(_.name == "DT").get
    // declared "%/255" but ordinal lookup reads slot 4 (INPUT_CURRENT_H
    // "A/100") → ×0.01 "A"
    assert(math.abs(dt.scale - 0.01) < 1e-12 && dt.unitLabel == "A")
    assert(t.declaredSize == 8)
    assert(t.fields.map(_.byteOffset) == Vector(0, 1, 3, 5, 7))
  }

  test("2020/2022/lic schemas load completely") {
    val s20 = CanSchema.load(SeasonSchemas.path("2020"))
    val s22 = CanSchema.load(SeasonSchemas.path("2022"))
    val lic = CanSchema.load(SeasonSchemas.path("lic"))
    assert(s20.modules.nonEmpty && s22.modules.nonEmpty && lic.modules.nonEmpty)
    // every topic's layout derives without error, wide columns distinct
    Seq(s20, s22, lic).foreach { s =>
      val cols = s.wideColumns
      assert(cols == cols.distinct)
      s.allTopics.foreach { case (_, t) => t.fields } // forces layout
    }
  }
}
