package graft

import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

/** Test stand-ins for the three season can_ids files (2020, 2022 and
  * the 2023 licence season). Each is the hand-authored real entries
  * the specs assert (`can_ids_season_entries.json`: MCS19.START_STAGES,
  * MCC19_3/MCC19_4.MEASUREMENTS and MAB19's topics 64/65) plus
  * deterministic generated modules that give the file a real season's
  * width, after `paperbench/gen.py`'s `make_schema`: topic k takes
  * `Layouts(k % 5)` and units in turn, and the seed draws module
  * signatures and topic ids. */
object SeasonSchemas {

  private val Units = Seq("", "%", "A/100", "V/10", "C1", "W/10", "rpm1")
  private val Layouts = Seq(
    Seq.fill(7)("u8"),
    Seq("u16", "u8", "bit", "bit", "bit", "bit"),
    Seq("u16", "u16", "u8", "u8"),
    Seq.fill(6)("bit"),
    Seq("u8", "u8", "u16", "bit", "bit"))

  /** (seed, generated modules, topics per module) per season. */
  private val Shapes = Map(
    "2020" -> (2020, 20, 3), "2022" -> (2022, 26, 4), "lic" -> (2023, 20, 4))

  private val mapper = new ObjectMapper()

  /** The season file as JSON text. */
  def json(season: String): String = {
    val (seed, nModules, perModule) = Shapes(season)
    val root = mapper.readTree(getClass.getResourceAsStream(
      "/can_ids_season_entries.json")).asInstanceOf[ObjectNode]
    root.put("version", s"season-$season")
    val modules = root.get("modules").asInstanceOf[ArrayNode]
    val taken = Set(0) ++ (0 until modules.size).map(
      modules.get(_).get("signature").asInt)
    val rng = new scala.util.Random(seed * 7919L + 1)
    val sigs = rng.shuffle((1 until 250).filterNot(taken)).take(nModules)
    val ids = rng.shuffle((16 until 4096).toVector).take(nModules * perModule)
    for ((sig, m) <- sigs.zipWithIndex) {
      val topics = mapper.createArrayNode()
      for (j <- 0 until perModule) {
        val k = m * perModule + j
        val slots = mapper.createArrayNode()
        def slot(name: String, typ: String, units: String): Unit =
          slots.addObject().put("name", name).put("type", typ)
            .put("units", units)
        slot("SIGNATURE", "uint8_t", "")
        for ((typ, f) <- Layouts(k % Layouts.size).zipWithIndex) {
          val units = Units((k + f) % Units.size)
          typ match {
            case "u16" =>
              slot(s"F${f}_L", "uint16_t", units)
              slot(s"F${f}_H", "uint16_t", Units(f % Units.size))
            case "u8" => slot(s"F$f", "uint8_t", units)
            case _ => slot(s"F$f", "bitfield", units)
          }
        }
        while (slots.size < 8) slots.addNull()
        topics.addObject().put("name", s"T${ids(k)}")
          .put("description", "generated").put("id", ids(k))
          .set[ObjectNode]("bytes", slots)
      }
      modules.addObject().put("name", s"M$sig")
        .put("description", "generated").put("signature", sig)
        .set[ObjectNode]("topics", topics)
    }
    mapper.writeValueAsString(root)
  }

  private lazy val dir: Path = {
    val d = Files.createTempDirectory("can_ids")
    d.toFile.deleteOnExit()
    d
  }

  /** The season file written once per JVM; its path. */
  def path(season: String): String = synchronized {
    val p = dir.resolve(s"can_ids_$season.json")
    if (!Files.exists(p)) {
      Files.writeString(p, json(season))
      p.toFile.deleteOnExit()
    }
    p.toString
  }
}
