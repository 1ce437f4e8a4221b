package graft

import java.nio.file.Files
import graft.pipeline.ParseStage
import graft.sources.CanFixtures

class ParseStageSpec extends SparkSpec {

  test("E1 end-to-end: candump glob → wide parquet; skip-if-exists") {
    val dir = Files.createTempDirectory("parse")
    val log = dir.resolve("run1.log")
    Files.write(log, Seq(
      "(1580415599.609366) can0 021#11E803110300",
      "garbage line",
      "(1580415600.000000) can0 021#11D00733FF00",
      "(1580415601.500000) can0 021#110000000000").mkString("\n").getBytes)
    val out = dir.resolve("out.parquet").toString
    val wide = ParseStage.run(spark, dir.toString + "/*.log",
      CanFixtures.schema, Some(out))
    assert(wide.columns.toSeq ==
      Seq("file", "timestamp") ++ CanFixtures.schema.wideColumns)
    assert(wide.count() == 3)
    val rt = spark.read.parquet(out)
    assert(rt.count() == 3)
    // second run returns the existing parquet without recompute
    val again = ParseStage.run(spark, dir.toString + "/*.log",
      CanFixtures.schema, Some(out))
    assert(again.count() == 3)
    // a torn output (part files, no _SUCCESS — a run killed mid-write)
    // must be re-parsed, not adopted: delete the commit marker AND a
    // data file; the restart run must restore all 3 rows
    val outDir = java.nio.file.Paths.get(out)
    java.nio.file.Files.delete(outDir.resolve("_SUCCESS"))
    val dataDirs = java.nio.file.Files.list(outDir).iterator()
    while (dataDirs.hasNext) { // partitionBy("file") → file=... subdirs
      val sub = dataDirs.next()
      if (java.nio.file.Files.isDirectory(sub)) {
        val parts = java.nio.file.Files.list(sub).iterator()
        if (parts.hasNext) java.nio.file.Files.delete(parts.next())
      }
    }
    val restored = ParseStage.run(spark, dir.toString + "/*.log",
      CanFixtures.schema, Some(out))
    assert(restored.count() == 3)
    assert(spark.read.parquet(out).count() == 3)
    val rep = ParseStage.report(spark, dir.toString + "/*.log", wide)
    assert(rep.map(r => (r.inputLines, r.outputRows)) == Seq((4L, 3L)))
    // per-file elapsed attributed proportionally by input lines
    // (reference report shape; one pipeline pass, not one per file)
    assert(rep.forall(_.elapsedSec > 0))
  }

  test("report: per-file elapsed measured independently when few files") {
    val dir = Files.createTempDirectory("report_timed")
    Files.write(dir.resolve("a.log"), (0 until 40).map { i =>
      f"(${1580415599L + i}%d.000000) can0 021#11E803110300"
    }.mkString("\n").getBytes)
    Files.write(dir.resolve("b.log"), (0 until 10).map { i =>
      f"(${1580415599L + i}%d.000000) can0 021#11D00733FF00"
    }.mkString("\n").getBytes)
    val glob = dir.toString + "/*.log"
    val wide = ParseStage.run(spark, glob, CanFixtures.schema)
    // measured path: each file's elapsed comes from its OWN bounded
    // pipeline run (reference semantics, lib/canparser.py:346-356) —
    // both files get a real positive measurement, line counts stay per
    // file
    val timed = ParseStage.report(spark, glob, wide,
      perFilePipeline =
        Some(f => ParseStage.run(spark, f, CanFixtures.schema)))
    assert(timed.map(_.inputLines).sorted == Seq(10L, 40L))
    assert(timed.forall(_.elapsedSec > 0))
    assert(timed.forall(_.outputRows > 0))
    // above the cap the fallback attribution still covers every file
    val attributed = ParseStage.report(spark, glob, wide,
      perFilePipeline =
        Some(f => ParseStage.run(spark, f, CanFixtures.schema)),
      maxTimedFiles = 1)
    assert(attributed.length == 2 && attributed.forall(_.elapsedSec > 0))
    // attribution is proportional to input lines: the 40-line file
    // carries 4x the 10-line file's share of the shared wall clock
    val byLines = attributed.map(r => r.inputLines -> r.elapsedSec).toMap
    assert(math.abs(byLines(40L) / byLines(10L) - 4.0) < 1e-9)
  }

  test("Seasons.run emits MEASURED per-file parse reports for a 2-file season") {
    import graft.pipeline.Seasons
    val dir = Files.createTempDirectory("season_report")
    Files.write(dir.resolve("ids.json"), CanFixtures.json.getBytes)
    val dataDir = Files.createDirectory(dir.resolve("candump"))
    Files.write(dataDir.resolve("a.log"), (0 until 40).map { i =>
      f"(${1580515200L + i}%d.000000) can0 021#11E803110300"
    }.mkString("\n").getBytes)
    Files.write(dataDir.resolve("b.log"), (0 until 10).map { i =>
      f"(${1580515300L + i}%d.000000) can0 021#11D00733FF00"
    }.mkString("\n").getBytes)
    val cfg = Seasons.SeasonConfig(
      name = "rep", canIdsPath = dir.resolve("ids.json").toString,
      mab20Workaround = false, shiftBackLocalize = false,
      site = None, resamplePeriods = Seq("10s"),
      datasets = Seq(Seasons.DatasetFiles(s"$dataDir/*.log")))
    var got: Seq[ParseStage.Report] = Nil
    Seasons.run(spark, cfg, dir.resolve("out").toString,
      resamplePeriod = "10s", reportSink = Some(r => got = r))
    assert(got.length == 2)
    // the season path must deliver the reference's per-file timing
    // semantics (each file timed by its own run), not the proportional
    // attribution fallback
    assert(got.forall(_.measured), s"expected measured elapsed, got $got")
    assert(got.forall(_.elapsedSec > 0))
    assert(got.map(_.inputLines).sorted == Seq(10L, 40L))
    assert(got.forall(_.outputRows > 0))
    // the file sink writes the reference-shaped report text
    val repPath = dir.resolve("report.txt")
    Seasons.writeParseReport(spark, repPath.toString)(got)
    val txt = new String(Files.readAllBytes(repPath), "UTF-8")
    assert(txt.contains("Conversion rate") && txt.contains("a.log"))
  }

  test("full 2020 schema stress: plan compiles and runs with all topics/columns") {
    // SURVEY §7 hard-part 5: the generated decode for a real season
    // schema (20 modules x 46 topics -> ~300 wide columns) must stay
    // plannable and executable in reasonable time.
    val t0 = System.nanoTime()
    val s20 = graft.sources.CanSchema.load(SeasonSchemas.path("2020"))
    val dir = Files.createTempDirectory("stress")
    // frames for two real topics + noise
    Files.write(dir.resolve("s.log"), (0 until 200).map { i =>
      if (i % 2 == 0) f"(${1580515200L + i}%d.000000) can0 011#E4360F0000780216"
      else f"(${1580515200L + i}%d.500000) can0 011#E33C0F00002C0D4C"
    }.mkString("\n").getBytes)
    val wide = ParseStage.run(spark, dir.toString + "/*.log", s20)
    val n = wide.count()
    val sec = (System.nanoTime() - t0) / 1e9
    assert(n == 200)
    assert(wide.columns.length == 2 + s20.wideColumns.length) // file, ts + all signals
    assert(s20.wideColumns.length > 150, s"got ${s20.wideColumns.length} signals")
    assert(sec < 120, f"full-schema parse took $sec%.1f s")
    // decoded values land in the right modules' columns: sig 0xE4 →
    // MCC19_4, sig 0xE3 → MCC19_3, 100 frames each
    import org.apache.spark.sql.functions.col
    assert(wide.filter(col("MCC19_4__MEASUREMENTS__OUTPUT_VOLTAGE").isNotNull)
      .count() == 100)
    assert(wide.filter(col("MCC19_3__MEASUREMENTS__OUTPUT_VOLTAGE").isNotNull)
      .count() == 100)
  }

  // the execution-time codegen probe lives in the shared
  // [[CodegenProbe]] helper (also used by the streaming specs — the
  // MicroBatchExecution wrapper is a different compilation context)
  private def codegenProbe(body: => Unit): (Seq[String], Seq[String]) =
    CodegenProbe(body)

  test("wide-schema parse keeps whole-stage codegen: no 64 KB fallback") {
    // the hot-path guarantee behind CanDecode's codegen barrier + the
    // post-aggregation P6 filter: a real season schema's decodeWide
    // must EXECUTE without janino's "Code grows beyond 64 KB" failure
    // (which silently de-fuses the whole scan→generate→decode stage to
    // interpreted-ish eval — the round-9 find). Pinned by capturing
    // the CodeGenerator logger's ERROR events during a real action.
    val s20 = graft.sources.CanSchema.load(SeasonSchemas.path("2020"))
    val dir = Files.createTempDirectory("cgprobe")
    Files.write(dir.resolve("s.log"), (0 until 50).map { i =>
      f"(${1580515200L + i}%d.000000) can0 011#E4360F0000780216"
    }.mkString("\n").getBytes)
    val (errors, _) = codegenProbe {
      val n = ParseStage.run(spark, dir.toString + "/*.log", s20).count()
      assert(n == 50)
    }
    assert(errors.isEmpty,
      s"wide-schema parse hit codegen fallback:\n${errors.headOption}")
  }

  test("wide-schema decodeLong: the generate stage never de-fuses") {
    // decodeLong's wide path DELIBERATELY isolates the giant decode
    // expression in its own Project (a generator expression cannot be
    // method-split), so that Project alone may de-fuse to a
    // split-method standalone projection — but the regex-generate
    // stage below it must STAY fused: a regression that re-inlines
    // the decode into generate_doConsume (pushdown through the
    // barriers, InferFiltersFromGenerate cloning — both round-9
    // finds) shows up as a disabled plan containing a Generate node.
    import org.apache.spark.sql.functions.{col, input_file_name}
    val s20 = graft.sources.CanSchema.load(SeasonSchemas.path("2020"))
    val dir = Files.createTempDirectory("cgprobe_long")
    Files.write(dir.resolve("s.log"), (0 until 50).map { i =>
      f"(${1580515200L + i}%d.000000) can0 011#E4360F0000780216"
    }.mkString("\n").getBytes)
    val lines = spark.read.text(dir.toString + "/*.log")
      .select(col("value").as("line"), input_file_name().as("file"))
    val (_, disabled) = codegenProbe {
      val n = graft.operators.CanDecode.decodeLong(
        graft.sources.Candump.framesFromLines(lines), s20).count()
      assert(n == 50 * 5) // 5 decoded fields per MCC19_4 MEASUREMENTS frame
    }
    val defusedGenerate = disabled.filter(_.contains("Generate "))
    assert(defusedGenerate.isEmpty,
      "the regex-generate stage de-fused — the decode expression " +
        s"leaked back into it:\n${defusedGenerate.headOption.map(_.take(800))}")
  }

  test("schema-width x mab20 matrix: decodeLong/decodeWide never hit the 64 KB fallback") {
    // The round-14 found defect: with mab20Workaround=true, decodeLong's
    // wide path inlined effectivePayloadSig's CASE into every one of the
    // ~400 branches (CollapseProject substitutes through the alias; no
    // CSE across `when` branches), so even the barrier-isolated decode
    // Project blew janino's 64 KB limit and ran INTERPRETED (~20x
    // slower) — hit by the streamed 2020-season decode
    // (StreamingParse.parsedFrames). Fixed by materializing __pl/__sig
    // ONCE in their own barrier-separated prep Project (the decodeWide
    // discipline). Pinned here across the full matrix the prior probes
    // missed: {decodeLong, decodeWide} x {mab20 on, off} on the real
    // wide 2020 schema — zero CodeGenerator compile errors AND the
    // regex-generate stage stays fused.
    import org.apache.spark.sql.functions.{col, input_file_name, lit}
    val s20 = graft.sources.CanSchema.load(SeasonSchemas.path("2020"))
    val dir = Files.createTempDirectory("cgprobe_mab20")
    Files.write(dir.resolve("s.log"), ((0 until 40).map { i =>
      f"(${1580515200L + i}%d.000000) can0 011#E4360F0000780216"
    } ++ (0 until 10).map { i =>
      // topic 0x41=65: only decodable under the mab20 resignature+truncate
      f"(${1580515240L + i}%d.000000) can0 041#000400"
    }).mkString("\n").getBytes)
    val lines = spark.read.text(dir.toString + "/*.log")
      .select(col("value").as("line"), input_file_name().as("file"))
    for (mab <- Seq(false, true)) {
      val frames = graft.sources.Candump.framesFromLines(lines)
      val (errL, disL) = codegenProbe {
        val n = graft.operators.CanDecode
          .decodeLong(frames, s20, mab20Workaround = mab).count()
        assert(n == (if (mab) 40 * 5 + 10 * 2 else 40 * 5))
      }
      assert(errL.isEmpty,
        s"decodeLong(mab20=$mab) hit codegen fallback:\n${errL.headOption.map(_.take(800))}")
      val defusedL = disL.filter(_.contains("Generate "))
      assert(defusedL.isEmpty,
        s"decodeLong(mab20=$mab) de-fused the generate stage:\n${defusedL.headOption.map(_.take(800))}")
      val (errW, disW) = codegenProbe {
        val n = graft.operators.CanDecode
          .decodeWide(frames, s20, mab20Workaround = mab,
            keys = Seq("file")).count()
        assert(n == (if (mab) 50 else 40))
      }
      assert(errW.isEmpty,
        s"decodeWide(mab20=$mab) hit codegen fallback:\n${errW.headOption.map(_.take(800))}")
      val defusedW = disW.filter(_.contains("Generate "))
      assert(defusedW.isEmpty,
        s"decodeWide(mab20=$mab) de-fused the generate stage:\n${defusedW.headOption.map(_.take(800))}")
    }
  }
}
