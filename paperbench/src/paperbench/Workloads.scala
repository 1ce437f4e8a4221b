package paperbench

import java.io.File
import java.time.LocalDateTime

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

import graft.operators.{CanDecode, TimeSeries}
import graft.pipeline.{ParseStage, ResampleStage, Seasons, SolarStage, UnifyStages}
import graft.sources.{Candump, CanSchema, Gpx, Sinks}

/** One benchmark workload: the timed op through the program's public
  * entry points, its output check, and a traced re-composition of the
  * same op from the calls into each layer. Each layer's output is
  * materialized (`localCheckpoint`) inside its span so the span holds
  * that layer's work; the price of doing so is the trace overhead. */
abstract class Workload(val spark: SparkSession, val m: JsonNode, val work: String) {
  def inRows: Long
  def inBytes: Long
  def outDir(op: Int): String = s"$work/out/op$op"
  /** the timed op; returns a handle for `check` */
  def run(op: Int): AnyRef
  /** untimed output check; Some(reason) on a mismatch */
  def check(op: Int, h: AnyRef): Option[String]
  /** bytes the op left on disk */
  def outBytes(op: Int): Long = Util.du(outDir(op))
  /** traced re-composition of one op under `t`, recording counts at the
    * layer boundaries; returns the output check's verdict */
  def traced(op: Int, t: Tracer): Option[String]
  /** the workload's candump parse alone (ParseStage.run writing `out`)
    * in session `s`, for the traced run's throughput baseline */
  def parseOnly(s: SparkSession, out: String): Unit
  /** the lines `parseOnly` reads */
  def parseLines: Long
  /** untimed: drop the op's output once measured and checked */
  def cleanup(op: Int): Unit = Util.rm(outDir(op))
  /** untimed: release what an op left in memory */
  def release(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  def mat(df: DataFrame): DataFrame = df.localCheckpoint(true)
}

object Util {
  def rm(p: String): Unit = {
    def go(f: File): Unit = {
      if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
        Option(f.listFiles).foreach(_.foreach(go))
      f.delete()
    }
    go(new File(p))
  }
  def files(p: String): Seq[File] = {
    val f = new File(p)
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(c => files(c.getPath))
    else if (f.isFile) Seq(f) else Nil
  }
  def du(p: String): Long = files(p).map(_.length).sum
  def base(path: String): String = path.substring(path.lastIndexOf('/') + 1)
}

/** parse_bulk: ParseStage.run writing partitioned parquet, then
  * ParseStage.report. Rows reconcile against the generator's counts. */
final class Parse(spark: SparkSession, m: JsonNode, work: String)
    extends Workload(spark, m, work) {
  private val p = m.get("parse")
  val glob: String = p.get("glob").asText
  val schema: CanSchema.Schema = CanSchema.load(p.get("schema").asText)
  private val files = p.get("files").elements.asScala.toSeq
  private def want(k: String): Map[String, Long] =
    files.map(f => f.get("file").asText -> f.get(k).asLong).toMap
  private def total(k: String): Long = files.map(_.get(k).asLong).sum
  val inRows: Long = total("lines")
  val inBytes: Long = total("bytes")
  def parseOnly(s: SparkSession, out: String): Unit =
    ParseStage.run(s, glob, schema, outputPath = Some(out))
  def parseLines: Long = inRows

  def run(op: Int): AnyRef = {
    val wide = ParseStage.run(spark, glob, schema, outputPath = Some(outDir(op)))
    ParseStage.report(spark, glob, wide)
  }

  def check(op: Int, h: AnyRef): Option[String] = {
    val reports = h.asInstanceOf[Seq[ParseStage.Report]]
    val written = spark.read.parquet(outDir(op)).groupBy("file").count()
      .collect().map(r => Util.base(r.getString(0)) -> r.getLong(1)).toMap
    val reported = reports.map(r => Util.base(r.inputFile) ->
      (r.inputLines, r.outputRows)).toMap
    val expect = want("rows_out")
    val lines = want("lines")
    if (written != expect) Some(s"written rows per file $written != $expect")
    else if (reported != expect.map { case (f, n) => f -> (lines(f), n) })
      Some(s"report $reported disagrees with lines $lines / rows $expect")
    else None
  }

  /** ParseStage.run's composition, lazily (the frame `report` reads) */
  def lazyWide(): DataFrame = jumpFilter(CanDecode.decodeWide(
    Candump.cropToFileRange(Candump.frames(spark, glob)), schema,
    keys = Seq("file", "chunk")))

  private def jumpFilter(df: DataFrame): DataFrame = {
    val isDb = element_at(split(col("file"), "/"), -1).contains("db")
    TimeSeries.timestampJumpFilter(df, "timestamp", Seq("file", "chunk"),
      exempt = isDb).drop("chunk")
  }

  def traced(op: Int, t: Tracer): Option[String] = {
    var frames, cropped, wide0, wide: DataFrame = null
    var reports: Seq[ParseStage.Report] = Nil
    val spans = t.span("op") { _ =>
      val s1 = t.span("candump.frames") { s => frames = mat(Candump.frames(spark, glob)); s }
      val s2 = t.span("candump.crop") { s => cropped = mat(Candump.cropToFileRange(frames)); s }
      val s3 = t.span("candecode.decode_wide") { s =>
        wide0 = mat(CanDecode.decodeWide(cropped, schema, keys = Seq("file", "chunk"))); s }
      val s4 = t.span("timeseries.jump_filter") { s => wide = mat(jumpFilter(wide0)); s }
      t.span("parsestage.write") { _ =>
        wide.write.mode(SaveMode.Overwrite).partitionBy("file").parquet(outDir(op)) }
      t.span("parsestage.report") { _ => reports = ParseStage.report(spark, glob, lazyWide()) }
      (s1, s2, s3, s4)
    }
    // counts at the layer boundaries, taken after the op's clock stopped
    val (s1, s2, s3, s4) = spans
    val linesIn = spark.read.textFile(glob).count()
    val (nf, nc, nd, nw) = (frames.count(), cropped.count(), wide0.count(), wide.count())
    s1.add("rows_out", nf); s1.add("regex_miss", linesIn - nf)
    s2.add("drops", nf - nc)
    s3.add("rows_out", nd); s3.add("decoded_ratio", nd.toDouble / math.max(nc, 1))
    s4.add("drops", nd - nw)
    val got = Map("lines" -> linesIn, "regex_miss" -> (linesIn - nf),
      "crop_drop" -> (nf - nc), "decode_reject" -> (nc - nd),
      "jump_drop" -> (nd - nw), "rows_out" -> nw)
    val expect = got.keys.map(k => k -> total(k)).toMap
    if (got != expect) Some(s"layer counts $got != generator's $expect")
    else check(op, reports)
  }
}

/** season_e2e: Seasons.runAll at one period with forecast and GPS over
  * one clock-fixed race log and the reference-DB log. */
final class SeasonE2e(spark: SparkSession, m: JsonNode, work: String)
    extends Workload(spark, m, work) {
  private val s = m.get("season")
  private val dir = s.get("dir").asText
  val inRows: Long = s.get("lines").asLong
  val inBytes: Long = Util.du(dir)
  private val period = s.get("period").asText
  private val ev = s.get("event")
  private val log = s.get("log")
  val cfg: Seasons.SeasonConfig = Seasons.SeasonConfig(
    name = "bench", canIdsPath = m.get("parse").get("schema").asText,
    mab20Workaround = true, shiftBackLocalize = true,
    site = Some(SolarStage.Site(s.get("site").get(0).asDouble,
      s.get("site").get(1).asDouble)),
    event = Some((ev.get(0).asText, ev.get(1).asText)),
    resamplePeriods = Seq(period),
    datasets = Seq(
      Seasons.DatasetFiles.withClockFix(s"$dir/${log.get("glob").asText}",
        LocalDateTime.parse(log.get("from").asText),
        LocalDateTime.parse(log.get("to").asText)),
      Seasons.DatasetFiles(s"$dir/${s.get("db_glob").asText}", isReferenceDb = true)))
  private val csv = s"$dir/${s.get("solcast").asText}"
  private val gpx = s"$dir/${s.get("gpx").asText}"
  /** checksum of the first (warm-up) op's final table: every later op
    * and the traced composition must reproduce it */
  private var reference: Option[Checksum] = None

  def run(op: Int): AnyRef =
    Seasons.runAll(spark, cfg, outDir(op), Some(csv), Seq(gpx))(period)

  def check(op: Int, h: AnyRef): Option[String] =
    verify(h.asInstanceOf[DataFrame], "op")

  private def verify(fin: DataFrame, what: String): Option[String] = {
    val sum = Checksum(fin)
    val rows = s.get("final_rows").asLong
    if (sum.rows != rows) Some(s"$what final rows ${sum.rows} != generator's $rows")
    else reference match {
      case None => reference = Some(sum); None
      case Some(r) => r.diff(sum).map(d => s"$what: $d")
    }
  }

  /** Seasons.run's composition (parse, unify, resample, forecast, GPS,
    * final write) followed by runAll's cleanup, one span per layer */
  def traced(op: Int, t: Tracer): Option[String] = {
    val out = outDir(op)
    val schema = CanSchema.load(cfg.canIdsPath)
    val Seq(race, db) = cfg.datasets
    val keys = Seq("__dataset")
    val counted = scala.collection.mutable.ArrayBuffer.empty[(Span, String, () => Long)]
    def stageBoundary(df: DataFrame, tag: String): DataFrame = {
      val path = s"$out/_stages/${cfg.name}/stage_${period}_$tag"
      df.write.mode(SaveMode.Overwrite).parquet(path)
      spark.read.parquet(path)
    }
    val fin = t.span("op") { _ =>
      val Seq(raceParsed, dbParsed) = t.span("parsestage.run") { _ =>
        Sinks.inParallelMap(Seq(() => parse(race, "d0", out, schema),
          () => parse(db, "db0", out, schema)))
      }
      val unified = t.span("timeseries.union_merge") { sp =>
        val u = mat(TimeSeries.unionMerge(raceParsed, dbParsed, "timestamp"))
        counted += ((sp, "rows_out", () => u.count())); u
      }
      val wide = unified.withColumn("__dataset", lit(0))
      val signals = schema.wideColumns.filter(wide.columns.contains)
      val resampled0 = t.span("resamplestage.run") { sp =>
        val r = mat(ResampleStage.run(wide, signals, period, keys = keys))
        counted += ((sp, "rows_out", () => r.count()))
        counted += ((sp, "grid_cells", () => r.count() * signals.size)); r
      }
      val resampled = t.span("seasons.final") { _ => stageBoundary(resampled0, "resampled") }
      val forecast = t.span("solarstage.forecast") { _ =>
        val raw = SolarStage.readSolcastCsv(spark, csv)
        val periodSec = SolarStage.inferPeriodSec(raw)
        val (start, end) = cfg.event.get
        mat(SolarStage.withPoaEnergy(raw, cfg.site.get, start, end, periodSec))
      }
      val withForecast = t.span("unifystages.forecast") { sp =>
        val r = mat(UnifyStages.unifyForecast(resampled, forecast, "timestamp",
          period, cfg.shiftBackLocalize, keys = keys))
        counted += ((sp, "rows_out", () => r.count())); r
      }
      val track = t.span("unifystages.gps_track") { _ =>
        mat(UnifyStages.processGpsTrack(Gpx.read(spark, Seq(gpx))))
      }
      val gpsIn = t.span("seasons.final") { _ => stageBoundary(withForecast, "forecast") }
      val withGps = t.span("unifystages.gps") { sp =>
        val r = mat(UnifyStages.unifyGps(gpsIn, track, "timestamp",
          cfg.shiftBackLocalize, keys = keys))
        counted += ((sp, "rows_out", () => r.count())); r
      }
      t.span("seasons.final") { _ =>
        val finalPath = s"$out/$period/final_${cfg.name}"
        TimeSeries.dedupKeepFirst(withGps, Seq("timestamp"), Seq("__dataset"))
          .drop("__dataset").write.mode(SaveMode.Overwrite).parquet(finalPath)
        Util.rm(s"$out/_stages")
        spark.read.parquet(finalPath)
      }
    }
    counted.foreach { case (sp, k, f) => sp.add(k, f().toDouble) }
    verify(fin, "traced composition")
  }

  private def parse(d: Seasons.DatasetFiles, tag: String, out: String,
                    schema: CanSchema.Schema, session: SparkSession = spark): DataFrame =
    ParseStage.run(session, d.candumpGlob, schema,
      outputPath = Some(s"$out/parsed_${cfg.name}_$tag"),
      offsetMicros = d.offsetMicros, mab20Workaround = cfg.mab20Workaround)

  /** the race log's parse */
  def parseOnly(session: SparkSession, out: String): Unit =
    parse(cfg.datasets.head, "d0", out, CanSchema.load(cfg.canIdsPath), session)
  def parseLines: Long = log.get("lines").asLong
}

/** Row count plus per-column non-null count and sum: equal across two
  * runs of the same pipeline up to float summation order. */
final case class Checksum(rows: Long, cols: Map[String, (Long, Double)]) {
  def diff(o: Checksum): Option[String] =
    if (rows != o.rows) Some(s"rows $rows != ${o.rows}")
    else if (cols.keySet != o.cols.keySet) Some("column sets differ")
    else cols.collectFirst {
      case (c, (n, v)) if o.cols(c)._1 != n ||
          math.abs(o.cols(c)._2 - v) > 1e-9 * math.max(1.0, math.abs(v)) =>
        s"column $c: ($n, $v) != ${o.cols(c)}"
    }
}

object Checksum {
  def apply(df: DataFrame): Checksum = {
    val cs = df.columns.toSeq.sorted
    def num(c: String) = df.schema(c).dataType match {
      case org.apache.spark.sql.types.TimestampType => unix_micros(col(c)).cast("double")
      case _ => col(c).cast("double")
    }
    val aggs = count(lit(1)) +: cs.flatMap(c => Seq(count(col(c)), sum(num(c))))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    Checksum(r.getLong(0), cs.zipWithIndex.map { case (c, i) =>
      c -> (r.getLong(1 + 2 * i),
        if (r.isNullAt(2 + 2 * i)) 0.0 else r.getDouble(2 + 2 * i))
    }.toMap)
  }
}
