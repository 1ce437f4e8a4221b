package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.pipeline.{ResampleStage, SolarStage, UnifyStages}
import graft.sources.{CandumpConverter, Gpx}

class UnifyPipelineSpec extends SparkSpec {
  import spark.implicits._

  def ts(s: Long): Timestamp = new Timestamp(s * 1000)

  test("telemetryGrid: dedup keep-first + asfreq null rows (A4/P8)") {
    val tel = Seq((ts(0), 1.0), (ts(0), 99.0), (ts(2), 3.0))
      .toDF("timestamp", "v")
    val grid = UnifyStages.telemetryGrid(tel, "timestamp", "1s")
      .orderBy("timestamp").collect()
      .map(r => (r.getTimestamp(0).getTime / 1000,
        if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    assert(grid.toSeq == Seq((0L, Some(1.0)), (1L, None), (2L, Some(3.0))))
  }

  test("the resampled table is its own telemetry grid") {
    // two datasets three days apart, each with gaps longer than the
    // interpolation limit: the resample emits one row per dataset per
    // tick from its first bin to its last, which is exactly the A4
    // grid, so Seasons joins the forecast onto it without a re-grid
    val day = 86400L
    val rows: Seq[(Int, Timestamp, Option[Double], Option[Double])] =
      Seq(0L, 1L, 2L, 95L, 96L, 300L).flatMap { s =>
      Seq((0, ts(s), Some(s.toDouble), None),
        (1, ts(3 * day + s + 7), None, Some(-s.toDouble)))
    } ++ Seq((0, new Timestamp(2150), Some(9.5), Some(4.0)),
      (1, new Timestamp((3 * day + 96) * 1000 + 420), Some(1.0), None))
    val w = rows.toDF("__dataset", "timestamp", "a", "b")
    Seq("100ms", "1s").foreach { period =>
      val r = ResampleStage.run(w, Seq("a", "b"), period,
        keys = Seq("__dataset"))
      val g = UnifyStages.telemetryGrid(r, "timestamp", period,
        keys = Seq("__dataset"))
      assert(g.columns.toSeq == r.columns.toSeq, period)
      assert(g.exceptAll(r).count() == 0 && r.exceptAll(g).count() == 0,
        period)
      assert(r.count() > 12, period)
    }
  }

  test("unifyForecast: interpolated onto grid, trailing ffill, solcast_ prefix (J5/J2)") {
    val tel = Seq((ts(0), 1.0), (ts(10), 2.0), (ts(20), 3.0), (ts(30), 4.0))
      .toDF("timestamp", "v")
    // forecast at 0 and 20 → grid ticks 10 interpolates, 30 ffills
    val fc = Seq((ts(0), 100.0), (ts(20), 300.0)).toDF("timestamp", "dni")
    val out = UnifyStages.unifyForecast(tel, fc, "timestamp", "10s", false)
      .orderBy("timestamp").collect()
      .map(r => (r.getTimestamp(0).getTime / 1000,
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(out.toSeq == Seq(
      (0L, Some(100.0)), (10L, Some(200.0)), (20L, Some(300.0)),
      (30L, Some(300.0)))) // trailing = last valid (pandas default)
  }

  test("unifyForecast with shift_back_localize: shifted-join semantics") {
    val h = 3600L
    // reference (lib/unifier_with_forecast_data.py:62-84): forecast is
    // sampled at (telemetry ticks − 3h) and joined back on equality, so
    // telemetry tick t gets forecast(t) iff t+3h is also a tick; the
    // last 3h of the grid get nulls.
    val tel = (0 to 8).map(i => (ts(i * h), i.toDouble)).toDF("timestamp", "v")
    val fc = (0 to 6).map(i => (ts(i * h), i.toDouble)).toDF("timestamp", "dni")
    val out = UnifyStages.unifyForecast(tel, fc, "timestamp", "3600s", true)
      .orderBy("timestamp").collect()
      .map(r => (r.getTimestamp(0).getTime / 1000 / h,
        Option(r.getAs[java.lang.Double]("solcast_dni")).map(_.toDouble)))
    assert(out.toSeq == (0 to 5).map(i => (i.toLong, Some(i.toDouble))) ++
      Seq((6L, None), (7L, None), (8L, None)))
  }

  test("processGpsTrack + unifyGps: speed/heading/distance + as-of ffill (F1-F3/J4)") {
    val pts = Seq(
      (ts(0), -26.0, -48.0, 0.0),
      (ts(10), -26.0, -47.999, 0.0),  // ~0.1 km east
      (ts(20), -26.001, -47.999, 0.0) // ~0.11 km south
    ).toDF("time", "latitude", "longitude", "altitude")
      .withColumn("file", lit("t.gpx"))
    val track = UnifyStages.processGpsTrack(pts)
    val rows = track.orderBy("timestamp").collect()
    assert(rows.length == 2) // first point dropped (null speed/heading)
    val d1 = rows(0).getAs[Double]("distance")
    assert(math.abs(d1 - 0.0999) < 0.01) // ~100 m
    assert(rows(1).getAs[Double]("distance") > d1) // cumulative
    val sp = rows(0).getAs[Double]("speed")
    assert(math.abs(sp - d1 / (10.0 / 3600)) < 1e-9) // km/h
    val tel = Seq((ts(5), 1.0), (ts(15), 2.0), (ts(25), 3.0), (ts(100), 4.0))
      .toDF("timestamp", "v")
    val uni = UnifyStages.unifyGps(tel, track, "timestamp", false)
      .orderBy("timestamp").collect()
      .map(r => (r.getTimestamp(0).getTime / 1000,
        Option(r.getAs[java.lang.Double]("gps_speed")).map(_.toDouble)))
    // as-of: 5s→no fix yet (first valid at 10s), 15s→fix@10, 25s→fix@20
    assert(uni(0) == ((5L, None)))
    assert(uni(1)._2.isDefined && uni(2)._2.isDefined && uni(3)._2.isDefined)
    assert(uni(1)._2.get == sp)
  }

  test("ResampleStage: mean bins, empty-bin grid, 60s-limited interpolation (E2)") {
    val wide = Seq(
      (ts(0), Some(10.0)), (ts(1), Some(20.0)),
      // gap 2..119 empty; next value at 120
      (ts(120), Some(50.0)), (ts(121), Some(60.0)))
      .toDF("timestamp", "SIG__A__B")
    val out = ResampleStage.run(wide, Seq("SIG__A__B"), "10s")
      .orderBy("timestamp").collect()
      .map(r => (r.getTimestamp(0).getTime / 1000,
        if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    // bins: 0→15, 10..110 empty, 120→55; limit = 60/10 = 6 ticks → the
    // 11-bin interior gap only fills its first 6 ticks
    assert(out.length == 13)
    assert(out(0) == ((0L, Some(15.0))))
    assert(out(12) == ((120L, Some(55.0))))
    val interior = out.slice(1, 12)
    assert(interior.take(6).forall(_._2.isDefined)) // first 6 filled
    assert(interior.drop(6).forall(_._2.isEmpty))   // rest stay null
    // linear in time: bin at 10s = 15 + (55-15) * 10/120
    assert(math.abs(interior(0)._2.get - (15.0 + 40.0 * 10 / 120)) < 1e-9)
  }

  test("CandumpConverter: golden row (convert_json_to_candump.py:12-41)") {
    val rec = Seq((Seq("159", "4", "246", "0", "246", "0"),
      "2020-02-14 15:44:54.944", 250, 33)).toDF("bytes", "date", "mod", "top")
    val line = CandumpConverter.toCandumpLines(rec).collect()(0).getString(0)
    assert(line == "(1581695094.944000) can0 021#fa9f04f600f600")
    // round-trip through the parser: payload byte 0 = mod signature
    val frames = graft.sources.Candump.framesFromLines(
      Seq(line).toDF("line").withColumn("file", lit("f")))
    val r = frames.select("topic", "payload_hex").collect()(0)
    assert(r.getInt(0) == 33 && r.getString(1) == "FA9F04F600F600")
  }

  test("CandumpConverter.fromCsv: the golden row from a CSV dump; incomplete rows dropped") {
    val dir = java.nio.file.Files.createTempDirectory("conv_csv")
    java.nio.file.Files.writeString(dir.resolve("dump.csv"), Seq(
      "date,top,mod,bytes",
      "2020-02-14 15:44:54.944,33,250,\"[\"\"159\"\",\"\"4\"\",\"\"246\"\",\"\"0\"\",\"\"246\"\",\"\"0\"\"]\"",
      "2020-02-14 15:44:55.000,33,,\"[\"\"1\"\"]\"").mkString("\n"))
    val lines = CandumpConverter.fromCsv(spark, dir.resolve("dump.csv").toString)
      .collect().map(_.getString(0)).toSeq
    assert(lines == Seq("(1581695094.944000) can0 021#fa9f04f600f600"))
  }

  test("CandumpConverter.fromJson: the golden row from a JSON records dump") {
    val dir = java.nio.file.Files.createTempDirectory("conv_json")
    java.nio.file.Files.writeString(dir.resolve("dump.json"),
      """[{"bytes": ["159", "4", "246", "0", "246", "0"],
        |  "date": "2020-02-14 15:44:54.944", "mod": 250, "top": 33}]"""
        .stripMargin)
    val lines = CandumpConverter.fromJson(spark, dir.resolve("dump.json").toString)
      .collect().map(_.getString(0)).toSeq
    assert(lines == Seq("(1581695094.944000) can0 021#fa9f04f600f600"))
  }

  test("Gpx source: StAX parse of a track file (S7)") {
    val gpx =
      """<?xml version="1.0"?>
        |<gpx version="1.1" xmlns="http://www.topografix.com/GPX/1/1">
        |<trk><name>test</name><trkseg>
        |<trkpt lat="-26.24" lon="-48.64"><ele>2.0</ele><time>2020-02-01T10:00:00Z</time></trkpt>
        |<trkpt lat="-26.241" lon="-48.641"><ele>2.5</ele><time>2020-02-01T10:00:05Z</time></trkpt>
        |</trkseg></trk></gpx>""".stripMargin
    val dir = Files.createTempDirectory("gpx")
    val f = dir.resolve("t.gpx")
    Files.write(f, gpx.getBytes)
    val df = Gpx.read(spark, Seq(f.toString))
    val rows = df.orderBy("time").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Double]("latitude") == -26.24)
    assert(rows(0).getAs[Timestamp]("time") ==
      Timestamp.from(java.time.Instant.parse("2020-02-01T10:00:00Z")))
    assert(rows(1).getAs[Double]("altitude") == 2.5)
  }

  test("SolarStage: POA column + event slice + energy on synthetic CSV") {
    val dir = Files.createTempDirectory("solcast")
    val f = dir.resolve("solcast.csv")
    val hdr = "PeriodStart,PeriodEnd,Period,Dni,Ghi,Dhi,Airmass,AlbedoDaily"
    val rows = (0 until 48).map { i =>
      val t = java.time.Instant.parse("2020-02-01T12:00:00Z")
        .plusSeconds(i * 300)
      s"$t,$t,PT5M,800,600,100,1.2,0.08"
    }
    Files.write(f, (hdr +: rows).mkString("\n").getBytes)
    val out = SolarStage.process(spark, f.toString,
      SolarStage.Site(-26.243602, -48.6417668),
      "2020-02-01 12:30:00", "2020-02-01 15:00:00")
    val got = out.orderBy("timestamp").collect()
    assert(got.length == 31) // pandas label slice: inclusive both ends
    assert(got.forall(_.getAs[Double]("poa") > 100)) // midday: beam+dhi
    val energies = got.map(_.getAs[Double]("energy"))
    assert(energies.head == 0.0 && energies.last > energies.head)
  }

  test("SolarStage: period inferred from data (pd.infer_freq) — 30-min " +
      "CSV gets POA at the +15-min mid-period shift without caller config") {
    val dir = Files.createTempDirectory("solcast30")
    val f = dir.resolve("solcast.csv")
    val hdr = "PeriodStart,Dni,Ghi,Dhi,Airmass,AlbedoDaily"
    val rows = (0 until 12).map { i =>
      val t = java.time.Instant.parse("2020-02-01T12:00:00Z")
        .plusSeconds(i * 1800L)
      s"$t,800,600,100,1.2,0.08"
    }
    Files.write(f, (hdr +: rows).mkString("\n").getBytes)
    val raw = SolarStage.readSolcastCsv(spark, f.toString)
    // mode of adjacent PeriodStart diffs
    // (lib/process_solcast_historic_data.py:12-16,93)
    assert(SolarStage.inferPeriodSec(raw) == 1800L)
    val site = SolarStage.Site(-26.243602, -48.6417668)
    val inferred = SolarStage.withPoa(raw, site,
      SolarStage.inferPeriodSec(raw))
    val at15 = SolarStage.withPoa(raw, site, 1800)      // +15 min shift
    val at150 = SolarStage.withPoa(raw, site, 300)      // wrong 5-min default
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.orderBy("timestamp").collect().map(_.getAs[Double]("poa")).toSeq
    assert(key(inferred) == key(at15))
    assert(key(inferred) != key(at150)) // the shift is load-bearing
  }

  test("Sinks: tz display round-trip and CSV write (P13/S6)") {
    import graft.sources.Sinks
    val df = Seq(java.sql.Timestamp.valueOf("2020-02-01 12:00:00")).toDF("ts")
    val r = df.select(
      Sinks.displayInTz($"ts").as("local"),
      Sinks.fromTz(Sinks.displayInTz($"ts")).as("back")).collect()(0)
    // America/Sao_Paulo is UTC-3 in February (no DST since 2019)
    assert(r.getTimestamp(0) == java.sql.Timestamp.valueOf("2020-02-01 09:00:00"))
    assert(r.getTimestamp(1) == java.sql.Timestamp.valueOf("2020-02-01 12:00:00"))
    val dir = java.nio.file.Files.createTempDirectory("csv")
    Sinks.writeCsv(df.withColumn("v", lit(1)), dir.resolve("out.csv").toString)
    val rt = spark.read.option("header", "true").csv(dir.resolve("out.csv").toString)
    assert(rt.count() == 1 && rt.columns.toSeq == Seq("ts", "v"))
    assert(Sinks.writeParquetIfAbsent(df, dir.resolve("p.parquet").toString))
    assert(!Sinks.writeParquetIfAbsent(df, dir.resolve("p.parquet").toString))
  }

  test("Sinks: torn output (no _SUCCESS) is rewritten, not adopted (S9)") {
    import graft.sources.Sinks
    val dir = java.nio.file.Files.createTempDirectory("torn")
    val path = dir.resolve("out.parquet").toString
    val v1 = Seq((1, "stale")).toDF("id", "v")
    val v2 = Seq((1, "fresh"), (2, "fresh")).toDF("id", "v")
    assert(Sinks.writeParquetIfAbsent(v1, path))
    // simulate a driver killed mid-write: part files on disk, commit
    // marker never written
    java.nio.file.Files.delete(java.nio.file.Paths.get(path, "_SUCCESS"))
    // the torn dir must NOT count as done — the rewrite replaces the
    // stale partial content wholesale (no stale part files survive)
    assert(Sinks.writeParquetIfAbsent(v2, path))
    val rt = spark.read.parquet(path)
    assert(rt.count() == 2)
    assert(rt.select("v").distinct().collect().map(_.getString(0)).toSeq
      == Seq("fresh"))
    // and a COMPLETE dir still short-circuits
    assert(!Sinks.writeParquetIfAbsent(v1, path))
    assert(spark.read.parquet(path).count() == 2)
  }

  test("Sinks: torn-output policy — error refuses, adopt reuses as-is") {
    // the default `rewrite` policy is destructive for dirs populated
    // by an external writer that drops _SUCCESS (s3 sync, distcp
    // excludes) — their complete data looks torn. The two escape
    // hatches: `error` refuses loudly with the remediation options;
    // `adopt` reuses the marker-less dir (reference bare-existence
    // parity) without deleting anything.
    import graft.sources.Sinks
    val dir = java.nio.file.Files.createTempDirectory("tornpolicy")
    val path = dir.resolve("out.parquet").toString
    val external = Seq((1, "external"), (2, "external")).toDF("id", "v")
    val mine = Seq((9, "mine")).toDF("id", "v")
    // "external" writer: a complete parquet dir whose _SUCCESS was
    // dropped in transit
    external.write.parquet(path)
    java.nio.file.Files.delete(java.nio.file.Paths.get(path, "_SUCCESS"))
    try {
      spark.conf.set("spark.graft.sinks.tornOutputPolicy", "error")
      val err = intercept[IllegalStateException] {
        Sinks.writeParquetIfAbsent(mine, path)
      }
      assert(err.getMessage.contains("tornOutputPolicy"))
      assert(spark.read.parquet(path).count() == 2,
        "error policy must leave the dir untouched")
      spark.conf.set("spark.graft.sinks.tornOutputPolicy", "adopt")
      assert(!Sinks.writeParquetIfAbsent(mine, path),
        "adopt policy reuses the marker-less dir (no write)")
      assert(spark.read.parquet(path)
        .select("v").distinct().collect().map(_.getString(0)).toSeq
        == Seq("external"),
        "adopt policy must not rewrite external content")
      spark.conf.set("spark.graft.sinks.tornOutputPolicy", "bogus")
      intercept[IllegalArgumentException] {
        Sinks.writeParquetIfAbsent(mine, path)
      }
    } finally spark.conf.unset("spark.graft.sinks.tornOutputPolicy")
    // back on the default: same dir now reads torn and rewrites
    assert(Sinks.writeParquetIfAbsent(mine, path))
    assert(spark.read.parquet(path).count() == 1)
  }

  test("Sinks: marker-less committers fall back to bare existence (S9)") {
    // a deployment with mapreduce.fileoutputcommitter.marksuccessfuljobs
    // = false never writes _SUCCESS; requiring the marker there would
    // classify EVERY complete output as torn and degrade skip-if-exists
    // to delete-and-rewrite on every call. With the conf off, bare
    // existence decides (reference-parity blindness, accepted).
    val dir = java.nio.file.Files.createTempDirectory("nomarker")
    val markerless = dir.resolve("out.parquet")
    java.nio.file.Files.createDirectory(markerless)
    java.nio.file.Files.write(markerless.resolve("part-00000.parquet"),
      Array[Byte](1))
    // the flag is read from the RESOLVED session conf passed in (the
    // conf governing writes), never fs.getConf — the Hadoop FS cache's
    // creation-time conf can disagree with runtime session settings
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sessionState.newHadoopConf())
    conf.setBoolean("mapreduce.fileoutputcommitter.marksuccessfuljobs", false)
    val p = new org.apache.hadoop.fs.Path(markerless.toString)
    val fs = p.getFileSystem(conf)
    assert(graft.sources.Sinks.isCompleteOutput(fs, p, conf),
      "marker-less committer: existence alone must count as complete")
    // and the default conf (markers on) still calls the same dir torn
    assert(!graft.sources.Sinks.isCompleteOutput(fs, p,
      spark.sessionState.newHadoopConf()))
  }

  test("each season stage plans against its committed input") {
    import scala.jdk.CollectionConverters._
    import graft.pipeline.Seasons
    import org.apache.spark.sql.GraftExpressionBridge.waitListenerBusEmpty
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    val dir = Files.createTempDirectory("season_plans")
    Files.write(dir.resolve("ids.json"), graft.sources.CanFixtures.json.getBytes)
    val logs = Files.createDirectory(dir.resolve("candump"))
    val t0 = 1580515200L // 2020-02-01T00:00:00Z
    Files.write(logs.resolve("run.log"), (0 until 120).map { i =>
      f"(${t0 + i}%d.000000) can0 021#11E803110300"
    }.mkString("\n").getBytes)
    Files.write(logs.resolve("run-from_db0.log"), (30 until 50).map { i =>
      f"(${t0 + i}%d.500000) can0 021#11D00733FF00"
    }.mkString("\n").getBytes)
    val csv = dir.resolve("solcast.csv")
    Files.write(csv, ("PeriodStart,PeriodEnd,Period,Dni,Ghi,Dhi,Airmass,AlbedoDaily" +:
      (0 until 13).map { i =>
        val t = java.time.Instant.ofEpochSecond(t0 - 60 + i * 30)
        s"$t,$t,PT5M,800,600,100,1.2,0.08"
      }).mkString("\n").getBytes)
    val gpx = dir.resolve("track.gpx")
    Files.write(gpx, ("""<?xml version="1.0"?><gpx version="1.1"><trk><trkseg>""" +:
      (0 until 12).map { i =>
        val t = java.time.Instant.ofEpochSecond(t0 + i * 10)
        s"""<trkpt lat="${-26.24 - i * 0.001}" lon="-48.64"><ele>2.0</ele><time>$t</time></trkpt>"""
      } :+ "</trkseg></trk></gpx>").mkString("\n").getBytes)
    val cfg = Seasons.SeasonConfig(
      name = "plans", canIdsPath = dir.resolve("ids.json").toString,
      mab20Workaround = false, shiftBackLocalize = false,
      site = Some(SolarStage.Site(-26.243602, -48.6417668)),
      resamplePeriods = Seq("10s"),
      datasets = Seq(Seasons.DatasetFiles(s"$logs/run.log"),
        Seasons.DatasetFiles(s"$logs/run-from_db*.log", isReferenceDb = true)),
      event = Some(("2020-02-01 00:00:00", "2020-02-01 00:10:00")))
    // (output path when the query is a file write, executed plan), in
    // completion order, and the job count of the whole run
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Option[String], String)]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val queries = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        plans.add((qe.analyzed match {
          case c: InsertIntoHadoopFsRelationCommand => Some(c.outputPath.toString)
          case _ => None
        }, qe.executedPlan.toString))
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    val jobStarts = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    assert(waitListenerBusEmpty(spark))
    spark.listenerManager.register(queries)
    spark.sparkContext.addSparkListener(jobStarts)
    val rows = try {
      val n = Seasons.run(spark, cfg, dir.resolve("out").toString,
        forecastCsv = Some(csv.toString), gpxFiles = Seq(gpx.toString),
        resamplePeriod = "10s").count()
      assert(waitListenerBusEmpty(spark))
      n
    } finally {
      spark.listenerManager.unregister(queries)
      spark.sparkContext.removeSparkListener(jobStarts)
    }
    assert(rows == 12)
    val evs = plans.asScala.toSeq
    // only the per-dataset parse writes scan and regex-parse the
    // candump text; every later stage reads their committed parquet
    val textReaders = evs.filter { case (_, p) =>
      p.contains("regexp_extract_all") ||
        (p.contains("FileScan text") && p.contains("candump")) }
    assert(textReaders.map(_._1.map(_.replaceAll(".*/", ""))).sortBy(_.toString) ==
      Seq(Some("parsed_plans_d0"), Some("parsed_plans_db0")),
      s"text-reading queries: ${textReaders.map(_._1)}")
    // the solar-position kernel (graft.functions.Solar.solarPosition):
    // only the processed-forecast boundary write evaluates it, no plan
    // after it does
    val solar = "graft_solar_position"
    val boundary = evs.indexWhere(_._1.exists(_.endsWith("stage_10s_solcast")))
    assert(boundary >= 0, s"no forecast boundary write: ${evs.flatMap(_._1)}")
    assert(evs(boundary)._2.contains(solar))
    val after = evs.drop(boundary + 1)
    assert(after.nonEmpty && after.forall(!_._2.contains(solar)),
      s"solar expressions planned after the boundary: " +
        after.filter(_._2.contains(solar)).map(_._1))
    // with the parse lineage re-run by every later stage, this season
    // ran 52 jobs, 44 when each stage reads its committed input, fewer
    // once the forecast joins the resampled grid without a re-grid
    info(s"jobs: ${jobs.get}")
    assert(jobs.get < 44, s"jobs: ${jobs.get}")
  }
}
