package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TimeSeries
import Fixtures._

/** The paper path: candump decode and pivot, the season runs
  * (q65/q73/q75), the streaming resample/dedup/decode/sessionize
  * gates, conversion, jump filter and the parse report. */
object PaperPathQueries {

  val entries: Seq[CatalogEntry] = Seq(

    // §2.3 S1/P1-P6 + decoder: candump lines generated from `events`,
    // run through the real regex scan + schema-driven decode (incl.
    // quirks Q1/Q3); the oracle recomputes expected values straight
    // from the source columns. Malformed/unknown/short frames injected
    // and dropped on both sides.
    CatalogEntry("q21_can_decode", (s, d) => {
      canLong(t(s, d, "events"))
        .select($"timestamp", $"module_name", $"topic_name", $"byte_name",
          $"value", $"unit")
        .orderBy($"timestamp", $"byte_name", $"value")
    }, Some(canDecodeOracleSql)),

    // A1: long → wide pivot with schema-enumerated signal columns
    // (lib/canparser.py:222-239)
    CatalogEntry("q22_can_pivot", (s, d) => {
      operators.CanDecode.pivotWide(canLong(t(s, d, "events")),
          graft.sources.CanFixtures.schema)
        .orderBy($"timestamp")
    }, Some(
      """SELECT ts AS timestamp,
           avg(17.0) AS "MOD17__SENSOR__SIGNATURE",
           avg(CAST(user_id AS DOUBLE)*(1.0/100)) AS "MOD17__SENSOR__CURR",
           avg(CAST(event_id % 256 AS DOUBLE)*(1.0/100)) AS "MOD17__SENSOR__DUTY",
           avg(CAST((event_id % 4) & 1 AS DOUBLE)*(1.0/255)) AS "MOD17__SENSOR__FLAG1",
           avg(CAST(((event_id % 4) >> 1) & 1 AS DOUBLE)) AS "MOD17__SENSOR__FLAG2"
         FROM events WHERE event_id % 101 != 0 AND event_id % 103 != 0
         GROUP BY ts ORDER BY timestamp""")),

    // §2.7 STREAMING gates — each runs a real Structured Streaming
    // query to completion (file source, several micro-batches via
    // maxFilesPerTrigger, Trigger.AvailableNow) and returns the memory
    // sink's table, so the DuckDB oracle pins the STREAM's semantics
    // against the batch SQL. q77 gates the production append-mode
    // path end-to-end: bins emit only when the watermark passes them,
    // and the planted far-future sentinel (arriving last by file
    // mtime) drives the closing watermark past every real bin — the
    // sentinel's own bin stays in state and correctly never emits, so
    // the streamed output must equal the batch tumbling resample
    // (q08's oracle) exactly.
    CatalogEntry("q77_stream_resample", (s, d) => {
      val fix = streamFixtures(s, d)
      val sch = s.read.parquet(s"$fix/events").schema
      val stream = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", 2).parquet(s"$fix/events")
      val agg = streaming.StreamingParse.resampleEventsStream(
        stream, "ts", 3600, Seq("event_type"), "value",
        watermark = "365 days")
      runStreamToTable(s, agg, "append", "resample")
        .filter($"event_type" =!= "__sentinel")
        .select($"event_type", $"bucket_ts", $"sum_value", $"n",
          $"mean_value")
        .orderBy($"event_type", $"bucket_ts")
    }, Some(
      // q77 streams the SAME tumbling resample through a watermarked
      // append-mode aggregation (sentinel-flushed); the oracle is the
      // batch SQL verbatim — stream ≡ batch is the whole claim
      resampleOracleSql)),

    // Streaming exact dedup (bounded state via
    // dropDuplicatesWithinWatermark): one admitted row per key across
    // ALL micro-batches — the output projected to its keys must equal
    // the batch DISTINCT. The sentinel is filtered BEFORE the
    // watermark so it can't fast-forward the horizon and late-drop
    // real rows; the 365-day delay exceeds the corpus span, so
    // nothing real is ever beyond the dedup horizon.
    CatalogEntry("q78_stream_dedup", (s, d) => {
      val fix = streamFixtures(s, d)
      val sch = s.read.parquet(s"$fix/events").schema
      val stream = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", 2).parquet(s"$fix/events")
        .filter($"event_type" =!= "__sentinel")
      val dd = streaming.StreamingParse.dedupStream(stream,
        Seq("user_id", "event_type"), "ts", watermark = "365 days")
      runStreamToTable(s, dd, "append", "dedup")
        .select($"user_id", $"event_type")
        .orderBy($"user_id", $"event_type")
    }, Some(
      // q78: streaming dedup admits exactly one row per key; projected
      // to keys, that is the batch DISTINCT
      """SELECT DISTINCT user_id, event_type FROM events
         ORDER BY user_id, event_type""")),

    // Streaming candump parse→decode (stateless): the q21 fixture
    // lines (incl. the reject cases and the garbage non-frame line)
    // streamed through decodedStream must produce exactly the batch
    // decode — q21's oracle verbatim.
    CatalogEntry("q79_stream_decode", (s, d) => {
      val fix = streamFixtures(s, d)
      val decoded = streaming.StreamingParse.decodedStream(s,
        s"$fix/candump", graft.sources.CanFixtures.schema)
      runStreamToTable(s, decoded, "append", "decode")
        .select($"timestamp", $"module_name", $"topic_name", $"byte_name",
          $"value", $"unit")
        .orderBy($"timestamp", $"byte_name", $"value")
    }, Some(
      // q79 streams the SAME fixture lines through decodedStream; the
      // stateless decode must reproduce the batch oracle verbatim
      canDecodeOracleSql)),

    // Stateful streaming sessionization: per-user (lastTs, counter)
    // state carried across FOUR micro-batches (maxFilesPerTrigger=1
    // over the four time-range-partitioned files), gap > 30 min opens
    // a new session — the flatMapGroupsWithState path, pinned against
    // the batch window-SQL oracle (q09's verbatim).
    CatalogEntry("q80_stream_sessionize", (s, d) => {
      val fix = streamFixtures(s, d)
      val sch = s.read.parquet(s"$fix/events_sorted").schema
      val stream = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1).parquet(s"$fix/events_sorted")
      val sess = streaming.StatefulSessionize.sessionize(
        streaming.StatefulSessionize.fromDF(stream), gapSec = 1800L)
      runStreamToTable(s, sess.toDF(), "append", "sessionize")
        .select($"user_id", $"event_id", $"session_id")
        .orderBy($"user_id", $"event_id")
    }, Some(
      // q80 runs the SAME gap sessionization as a stateful stream
      // (flatMapGroupsWithState across four micro-batches); its session
      // assignment must equal the batch window SQL
      sessionizeOracleSql)),

    // §2.7 per-file parse report as a VALUE gate (was spec-only): the
    // q21 frame layout written as a text corpus PARTITIONED by
    // event_id % 3 (deterministic per-directory content — a plain
    // repartition would round-robin rows nondeterministically), then
    // ParseStage.report's two-pass per-file counters aggregated back
    // to the partition key. input_lines pins the text-scan pass,
    // output_rows the decode pass (unknown-topic %101 and short-frame
    // %103 rejects excluded, one wide row per unique frame ts); the
    // measured/attributed ELAPSED is deliberately not in the gate —
    // it is wall-clock. The driver-side Seq[Report] is bounded by the
    // file count (3 dirs × part files), the documented report
    // contract.
    CatalogEntry("q97_parse_report", (s, d) => {
      val out = seasonOutDir("q97")
      val (payloadOk, payloadShort) = (canPayload(short = false),
        canPayload(short = true))
      val lines = t(s, d, "events").select(
        format_string("(%d.%06d) can0 %s#%s",
          expr("unix_micros(ts) div 1000000"), expr("unix_micros(ts) % 1000000"),
          when(expr("event_id % 101 = 0"), lit("022")).otherwise(lit("021")),
          when(expr("event_id % 103 = 0"), payloadShort).otherwise(payloadOk))
          .as("value"),
        expr("string(event_id % 3)").as("pfile"))
      // few part files per dir (WHICH rows land in which part file is
      // round-robin nondeterministic, but the gate aggregates per
      // DIRECTORY, whose content partitionBy pins exactly)
      lines.repartition(2).write.partitionBy("pfile").mode("overwrite")
        .text(s"$out/candump")
      val glob = s"$out/candump/pfile=*/part-*"
      val linesDf = graft.sources.Candump.lines(s, glob)
      val wide = operators.CanDecode.decodeWide(
        graft.sources.Candump.framesFromLines(linesDf),
        graft.sources.CanFixtures.schema, keys = Seq("file"))
      val reports = graft.pipeline.ParseStage.report(s, glob, wide)
      val perDir = reports
        .map(r => ("pfile=(\\d+)".r.findFirstMatchIn(r.inputFile)
          .map(_.group(1)).getOrElse("?"), r.inputLines, r.outputRows))
        .groupBy(_._1).toSeq
        .map { case (p, rs) => (p, rs.map(_._2).sum, rs.map(_._3).sum) }
      s.createDataFrame(perDir)
        .toDF("pfile", "input_lines", "output_rows").orderBy(col("pfile"))
    }, Some(
      // per-file report gate: input_lines = every generated frame line
      // of the partition, output_rows = one wide row per decodable
      // frame ts (the q21 reject rules: unknown topic every 101st,
      // short payload every 103rd; ts is globally unique so frames ≡
      // wide rows)
      """SELECT CAST(event_id % 3 AS VARCHAR) AS pfile,
           COUNT(*) AS input_lines,
           CAST(SUM(CASE WHEN event_id % 101 <> 0 AND event_id % 103 <> 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS output_rows
         FROM events GROUP BY 1 ORDER BY pfile""")),

    // §3 E1-E4 — the season pipeline END-TO-END in the canonical stage
    // order of main_2020.py:209-213: parse → unify(reference-DB clip)
    // → resample(1min) → unify_forecast (−3h shift_back_localize,
    // event slice, POA, trapezoidal energy) → unify_gps (as-of ffill).
    // The mini-season is generated deterministically from `events`
    // (sorted candump logs with unknown-topic/short-frame rejects, a
    // 300 s Solcast CSV, a 10-point GPX track), and the oracle
    // recomputes EVERY stage in SQL: the Q1/Q3 decode quirks, bucket
    // means, the dense grid, gap-limited interpolation, the shifted
    // forecast alignment, the full PSA solar-position closed forms,
    // cumtrapz energy, GPS speed/heading/distance (incl. quirk Q7) and
    // the as-of join — the composition-level gate VERDICT r5 asked for.
    CatalogEntry("q65_season_e2e", (s, d) => {
      val tmp = q65Fixtures(s, d)
      val cfg = graft.pipeline.Seasons.SeasonConfig(
        name = "q65", canIdsPath = s"$tmp/can_ids.json",
        mab20Workaround = false, shiftBackLocalize = true,
        site = Some(graft.pipeline.SolarStage.Site(-26.243602, -48.6417668)),
        event = Some(("2024-01-10 11:00:00", "2024-01-10 16:00:00")),
        resamplePeriods = Seq("1min"),
        datasets = Seq(
          graft.pipeline.Seasons.DatasetFiles(s"$tmp/main_log/part-*"),
          graft.pipeline.Seasons.DatasetFiles(s"$tmp/db_log/part-*",
            isReferenceDb = true)))
      // EMPTIED output dir per invocation: the parse stage's S9
      // skip-if-exists would otherwise turn a repeat run (bench run 2)
      // into a parquet re-read instead of a full parse — and a fresh
      // createTempDirectory per run would leak season output into
      // /tmp across bench/verify invocations (one reusable dir per
      // query, wiped on entry and deleted on JVM exit)
      val outDir = seasonOutDir("q65")
      val out = graft.pipeline.Seasons.run(s, cfg, outDir,
        forecastCsv = Some(s"$tmp/solcast.csv"),
        gpxFiles = Seq(s"$tmp/track.gpx"), resamplePeriod = "1min")
      out.select(col("timestamp"),
        round(col("MOD17__SENSOR__SIGNATURE"), 6).as("s_signature"),
        round(col("MOD17__SENSOR__CURR"), 6).as("s_curr"),
        round(col("MOD17__SENSOR__DUTY"), 6).as("s_duty"),
        round(col("MOD17__SENSOR__FLAG1"), 6).as("s_flag1"),
        round(col("MOD17__SENSOR__FLAG2"), 6).as("s_flag2"),
        round(col("solcast_dni"), 6).as("solcast_dni"),
        round(col("solcast_ghi"), 6).as("solcast_ghi"),
        round(col("solcast_dhi"), 6).as("solcast_dhi"),
        round(col("solcast_airmass"), 6).as("solcast_airmass"),
        round(col("solcast_albedo"), 6).as("solcast_albedo"),
        round(col("solcast_poa"), 6).as("solcast_poa"),
        round(col("solcast_energy"), 6).as("solcast_energy"),
        round(col("gps_latitude"), 6).as("gps_latitude"),
        round(col("gps_longitude"), 6).as("gps_longitude"),
        round(col("gps_altitude"), 6).as("gps_altitude"),
        round(col("gps_speed"), 6).as("gps_speed"),
        round(col("gps_heading"), 6).as("gps_heading"),
        round(col("gps_distance"), 6).as("gps_distance"))
        .orderBy($"timestamp")
    }, Some(
      // The season end-to-end oracle recomputes every stage: decode
      // (q21/q22 semantics incl. Q1 ordinal scaling), the reference-DB
      // time-range clip, 1-min bucket means, the dense grid, the
      // gap-limited (1 row) interior interpolation, the −3h-shifted
      // forecast alignment (exact at ticks, linear between, flat-filled
      // after the last tick, null before the first and beyond the shift
      // horizon), the PSA solar position (Blanco-Muriel 2001 — identical
      // operation order to the expressions/SolarPosition kernel so IEEE
      // doubles agree),
      // cumtrapz energy, GPS speed/heading/distance with quirk Q7, and
      // the as-of ffill join.
      ("""WITH
         mainE AS (SELECT ts, user_id, event_id FROM events
           WHERE ts BETWEEN TIMESTAMP '2024-01-08 09:00:00'
                        AND TIMESTAMP '2024-01-11 21:00:00'
             AND event_id % 3 != 0 AND event_id % 101 != 0
             AND event_id % 103 != 0),
         dbE AS (SELECT ts, user_id, event_id FROM events
           WHERE ts BETWEEN TIMESTAMP '2024-01-08 00:00:00'
                        AND TIMESTAMP '2024-01-12 00:00:00'
             AND event_id % 3 = 0),
         mwide AS (SELECT ts,
             avg(17.0) v_sig,
             avg(CAST(user_id AS DOUBLE)*(1.0/100)) v_curr,
             avg(CAST(event_id % 256 AS DOUBLE)*(1.0/100)) v_duty,
             avg(CAST((event_id % 4) & 1 AS DOUBLE)*(1.0/255)) v_f1,
             avg(CAST(((event_id % 4) >> 1) & 1 AS DOUBLE)) v_f2
           FROM mainE GROUP BY ts),
         dwide AS (SELECT ts,
             avg(17.0) v_sig,
             avg(CAST(user_id AS DOUBLE)*(1.0/100)) v_curr,
             avg(CAST(event_id % 256 AS DOUBLE)*(1.0/100)) v_duty,
             avg(CAST((event_id % 4) & 1 AS DOUBLE)*(1.0/255)) v_f1,
             avg(CAST(((event_id % 4) >> 1) & 1 AS DOUBLE)) v_f2
           FROM dbE GROUP BY ts),
         mb AS (SELECT min(ts) lo, max(ts) hi FROM mwide),
         uni AS (SELECT * FROM mwide
           UNION ALL SELECT * FROM dwide
             WHERE ts BETWEEN (SELECT lo FROM mb) AND (SELECT hi FROM mb)),
         lf AS (
           SELECT make_timestamp(epoch_us(ts) - epoch_us(ts) % 60000000) b,
             'MOD17__SENSOR__SIGNATURE' signal, v_sig vv FROM uni
           UNION ALL SELECT make_timestamp(epoch_us(ts) - epoch_us(ts) % 60000000),
             'MOD17__SENSOR__CURR', v_curr FROM uni
           UNION ALL SELECT make_timestamp(epoch_us(ts) - epoch_us(ts) % 60000000),
             'MOD17__SENSOR__DUTY', v_duty FROM uni
           UNION ALL SELECT make_timestamp(epoch_us(ts) - epoch_us(ts) % 60000000),
             'MOD17__SENSOR__FLAG1', v_f1 FROM uni
           UNION ALL SELECT make_timestamp(epoch_us(ts) - epoch_us(ts) % 60000000),
             'MOD17__SENSOR__FLAG2', v_f2 FROM uni),
         binned AS (SELECT signal, b, avg(vv) v FROM lf GROUP BY 1, 2),
         bnds AS (SELECT min(b) lo, max(b) hi FROM binned),
         grid AS (SELECT s.signal, g.b
           FROM (SELECT unnest(['MOD17__SENSOR__SIGNATURE',
             'MOD17__SENSOR__CURR', 'MOD17__SENSOR__DUTY',
             'MOD17__SENSOR__FLAG1', 'MOD17__SENSOR__FLAG2']) signal) s
           CROSS JOIN (SELECT unnest(generate_series((SELECT lo FROM bnds),
             (SELECT hi FROM bnds), INTERVAL 1 MINUTE)) b) g),
         """ + seasonInterpSql(60000000L) + """,
         rs AS (SELECT b ts,
             max(CASE WHEN signal = 'MOD17__SENSOR__SIGNATURE' THEN val END) s_signature,
             max(CASE WHEN signal = 'MOD17__SENSOR__CURR' THEN val END) s_curr,
             max(CASE WHEN signal = 'MOD17__SENSOR__DUTY' THEN val END) s_duty,
             max(CASE WHEN signal = 'MOD17__SENSOR__FLAG1' THEN val END) s_flag1,
             max(CASE WHEN signal = 'MOD17__SENSOR__FLAG2' THEN val END) s_flag2
           FROM resam GROUP BY b),
         """ + seasonForecastSql + """
         """ + seasonSolarSql(
           Seq("dni", "ghi", "dhi", "airmass", "albedo")) + """
         """ + seasonTrackSql + """
         gpsj AS (SELECT g.ts, k.lat, k.lon, k.ele, k.speed, k.heading,
             k.distance
           FROM (SELECT ts FROM rs WHERE ts <= (SELECT c FROM cutoff)) g
           ASOF LEFT JOIN trkf k ON g.ts >= k.g_ts)
         SELECT r.ts AS timestamp,
           round(r.s_signature, 6) AS s_signature,
           round(r.s_curr, 6) AS s_curr,
           round(r.s_duty, 6) AS s_duty,
           round(r.s_flag1, 6) AS s_flag1,
           round(r.s_flag2, 6) AS s_flag2,
           round(s.dni, 6) AS solcast_dni,
           round(s.ghi, 6) AS solcast_ghi,
           round(s.dhi, 6) AS solcast_dhi,
           round(s.airmass, 6) AS solcast_airmass,
           round(s.albedo, 6) AS solcast_albedo,
           round(s.poa, 6) AS solcast_poa,
           round(s.energy, 6) AS solcast_energy,
           round(j.lat, 6) AS gps_latitude,
           round(j.lon, 6) AS gps_longitude,
           round(j.ele, 6) AS gps_altitude,
           round(j.speed, 6) AS gps_speed,
           round(j.heading, 6) AS gps_heading,
           round(j.distance, 6) AS gps_distance
         FROM rs r LEFT JOIN sol s ON s.ts = r.ts
         LEFT JOIN gpsj j ON j.ts = r.ts
         ORDER BY timestamp"""))),

    // Q5 + clock-offset composition gate (VERDICT r6 gap #1): the q65
    // mini-season re-run with `mab20Workaround = true` and a nonzero
    // `to − from` clock fix (+45 min 30.123456 s, derived through
    // DatasetFiles.withClockFix exactly as main_2020.py:35-65 declares
    // its datasets). The main log carries topic 0x41 frames with a
    // WRONG raw signature byte + 6 junk tail bytes (decodable only
    // through the forced-signature + 2-byte truncation of
    // lib/canparser.py:127-133) and topic 0x40 frames with a wrong
    // signature byte (forced to 230) — without the workaround every
    // one is silently dropped and the MAB19 columns come out empty.
    // The reference-DB log keeps offset 0, so the unify clip runs
    // against SHIFTED main bounds (the cross-dataset interaction an
    // offset-vs-crop ordering bug would corrupt), and the µs-odd
    // offset moves every value to a different minute bucket than
    // q65's. The oracle recomputes the shifted decode and all five
    // stages in SQL.
    CatalogEntry("q73_season_mab20", (s, d) => {
      val tmp = q65Fixtures(s, d)
      val cfg = graft.pipeline.Seasons.SeasonConfig(
        name = "q73", canIdsPath = s"$tmp/can_ids_mab.json",
        mab20Workaround = true, shiftBackLocalize = true,
        site = Some(graft.pipeline.SolarStage.Site(-26.243602, -48.6417668)),
        event = Some(("2024-01-10 11:00:00", "2024-01-10 16:00:00")),
        resamplePeriods = Seq("1min"),
        datasets = Seq(
          graft.pipeline.Seasons.DatasetFiles.withClockFix(
            s"$tmp/main_mab_log/part-*",
            java.time.LocalDateTime.parse("2024-01-10T10:00:00"),
            java.time.LocalDateTime.parse("2024-01-10T10:45:30.123456")),
          graft.pipeline.Seasons.DatasetFiles(s"$tmp/db_log/part-*",
            isReferenceDb = true)))
      val outDir = seasonOutDir("q73")
      val out = graft.pipeline.Seasons.run(s, cfg, outDir,
        forecastCsv = Some(s"$tmp/solcast.csv"),
        gpxFiles = Seq(s"$tmp/track.gpx"), resamplePeriod = "1min")
      out.select(col("timestamp"),
        round(col("MOD17__SENSOR__CURR"), 6).as("s_curr"),
        round(col("MAB19__STATE__STATE"), 6).as("mab_state"),
        round(col("MAB19__STATE__ERROR"), 6).as("mab_error"),
        round(col("MAB19__PUMPS__PUMPS"), 6).as("mab_pumps"),
        round(col("solcast_poa"), 6).as("solcast_poa"),
        round(col("solcast_energy"), 6).as("solcast_energy"),
        round(col("gps_speed"), 6).as("gps_speed"),
        round(col("gps_distance"), 6).as("gps_distance"))
        .orderBy($"timestamp")
    }, Some(
      // q65's machinery with (a) every main timestamp shifted by the
      // clock fix +2,730,123,456 µs BEFORE bucketing (the reference
      // applies `to − from` to parsed timestamps, lib/canparser.py:205),
      // (b) the reference-DB rows UNSHIFTED and clipped against the
      // shifted main bounds, and (c) the mab20-forced MAB19 decode:
      // topic-65 frames contribute PUMPS (payload truncated to 2 bytes —
      // junk tail ignored), topic-64 frames STATE/ERROR; MOD17 rejects
      // (%101 unknown topic, %103 short frame) still drop while the SAME
      // events' MAB19 frames survive.
      ("""WITH
         mainE AS (SELECT make_timestamp(epoch_us(ts) + 2730123456) ts,
             user_id, event_id FROM events
           WHERE ts BETWEEN TIMESTAMP '2024-01-08 09:00:00'
                        AND TIMESTAMP '2024-01-11 21:00:00'
             AND event_id % 3 != 0
             AND ((event_id % 101 != 0 AND event_id % 103 != 0)
                  OR event_id % 5 IN (1, 2))),
         dbE AS (SELECT ts, user_id, event_id FROM events
           WHERE ts BETWEEN TIMESTAMP '2024-01-08 00:00:00'
                        AND TIMESTAMP '2024-01-12 00:00:00'
             AND event_id % 3 = 0),
         mwide AS (SELECT ts,
             avg(CASE WHEN event_id % 101 != 0 AND event_id % 103 != 0
                 THEN CAST(user_id AS DOUBLE)*(1.0/100) END) v_curr,
             avg(CASE WHEN event_id % 5 = 2
                 THEN CAST(user_id % 256 AS DOUBLE) END) v_state,
             avg(CASE WHEN event_id % 5 = 2
                 THEN CAST(event_id % 7 AS DOUBLE) END) v_error,
             avg(CASE WHEN event_id % 5 = 1
                 THEN CAST(event_id % 256 AS DOUBLE) END) v_pumps
           FROM mainE GROUP BY ts),
         dwide AS (SELECT ts,
             avg(CAST(user_id AS DOUBLE)*(1.0/100)) v_curr,
             CAST(NULL AS DOUBLE) v_state, CAST(NULL AS DOUBLE) v_error,
             CAST(NULL AS DOUBLE) v_pumps
           FROM dbE GROUP BY ts),
         mb AS (SELECT min(ts) lo, max(ts) hi FROM mwide),
         uni AS (SELECT * FROM mwide
           UNION ALL SELECT * FROM dwide
             WHERE ts BETWEEN (SELECT lo FROM mb) AND (SELECT hi FROM mb)),
         lf AS (
           SELECT make_timestamp(epoch_us(ts) - epoch_us(ts) % 60000000) b,
             'MOD17__SENSOR__CURR' signal, v_curr vv FROM uni
           UNION ALL SELECT make_timestamp(epoch_us(ts) - epoch_us(ts) % 60000000),
             'MAB19__STATE__STATE', v_state FROM uni
           UNION ALL SELECT make_timestamp(epoch_us(ts) - epoch_us(ts) % 60000000),
             'MAB19__STATE__ERROR', v_error FROM uni
           UNION ALL SELECT make_timestamp(epoch_us(ts) - epoch_us(ts) % 60000000),
             'MAB19__PUMPS__PUMPS', v_pumps FROM uni),
         binned AS (SELECT signal, b, avg(vv) v FROM lf GROUP BY 1, 2),
         bnds AS (SELECT min(b) lo, max(b) hi FROM binned WHERE v IS NOT NULL),
         grid AS (SELECT s.signal, g.b
           FROM (SELECT unnest(['MOD17__SENSOR__CURR',
             'MAB19__STATE__STATE', 'MAB19__STATE__ERROR',
             'MAB19__PUMPS__PUMPS']) signal) s
           CROSS JOIN (SELECT unnest(generate_series((SELECT lo FROM bnds),
             (SELECT hi FROM bnds), INTERVAL 1 MINUTE)) b) g),
         """ + seasonInterpSql(60000000L) + """,
         rs AS (SELECT b ts,
             max(CASE WHEN signal = 'MOD17__SENSOR__CURR' THEN val END) s_curr,
             max(CASE WHEN signal = 'MAB19__STATE__STATE' THEN val END) m_state,
             max(CASE WHEN signal = 'MAB19__STATE__ERROR' THEN val END) m_error,
             max(CASE WHEN signal = 'MAB19__PUMPS__PUMPS' THEN val END) m_pumps
           FROM resam GROUP BY b),
         """ + seasonForecastSql + """
         """ + seasonSolarSql(Nil) + """
         """ + seasonTrackSql + """
         gpsj AS (SELECT g.ts, k.speed, k.distance
           FROM (SELECT ts FROM rs WHERE ts <= (SELECT c FROM cutoff)) g
           ASOF LEFT JOIN trkf k ON g.ts >= k.g_ts)
         SELECT r.ts AS timestamp,
           round(r.s_curr, 6) AS s_curr,
           round(r.m_state, 6) AS mab_state,
           round(r.m_error, 6) AS mab_error,
           round(r.m_pumps, 6) AS mab_pumps,
           round(s.poa, 6) AS solcast_poa,
           round(s.energy, 6) AS solcast_energy,
           round(j.speed, 6) AS gps_speed,
           round(j.distance, 6) AS gps_distance
         FROM rs r LEFT JOIN sol s ON s.ts = r.ts
         LEFT JOIN gpsj j ON j.ts = r.ts
         ORDER BY timestamp"""))),

    // runAll multi-period reuse gate (VERDICT r6 gap #3): the per-period
    // driver loop (main_2020.py:137-150) parses once into
    // `parsed_<name>_*` and resamples per period through the S9
    // skip-if-exists — period 2 READS period 1's parsed parquet
    // instead of re-parsing (the write-once/read-twice contract is
    // spec-pinned via a QueryExecutionListener in StreamingSeasonSpec;
    // this row pins that the reuse also loses NOTHING: both periods'
    // final tables match an oracle that re-derives each period from
    // the raw events independently).
    CatalogEntry("q75_multi_period", (s, d) => {
      val tmp = q65Fixtures(s, d)
      val cfg = graft.pipeline.Seasons.SeasonConfig(
        name = "q75", canIdsPath = s"$tmp/can_ids.json",
        mab20Workaround = false, shiftBackLocalize = false,
        site = None, resamplePeriods = Seq("1min", "2min"),
        datasets = Seq(
          graft.pipeline.Seasons.DatasetFiles(s"$tmp/main_log/part-*"),
          graft.pipeline.Seasons.DatasetFiles(s"$tmp/db_log/part-*",
            isReferenceDb = true)))
      val outDir = seasonOutDir("q75")
      graft.pipeline.Seasons.runAll(s, cfg, outDir)
      Seq("1min", "2min").map { p =>
        s.read.parquet(s"$outDir/$p/final_q75")
          .select(lit(p).as("period"), col("timestamp"),
            round(col("MOD17__SENSOR__CURR"), 6).as("s_curr"),
            round(col("MOD17__SENSOR__DUTY"), 6).as("s_duty"),
            round(col("MOD17__SENSOR__FLAG1"), 6).as("s_flag1"))
      }.reduce(_ unionByName _).orderBy($"period", $"timestamp")
    }, Some(
      (q75PeriodSql("1min", 60000000L) + " UNION ALL " +
        q75PeriodSql("2min", 120000000L) + " ORDER BY period, timestamp"))),

    // S8/F6: the Mongo-dump → candump converter
    // (convert_json_to_candump.py:45-162) as a value gate — records
    // built from `events` (decimal-STRING byte arrays, exactly the
    // dump's shape; every 59th record gets an empty bytes array and
    // must be skipped), converted through toCandumpLines; the oracle
    // recomputes the 10.6-digit epoch prefix and the lowercase
    // zero-padded hex payload with printf. `ts` is globally unique in
    // the testdata, so the reference's sort-by-date is a total order.
    CatalogEntry("q81_candump_convert", (s, d) => {
      val ev = t(s, d, "events")
      val recs = ev.select(
        date_format($"ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").as("date"),
        ($"user_id" % 256).cast("int").as("mod"),
        ($"event_id" % 1024).cast("int").as("top"),
        when($"event_id" % 59 === 0, array().cast("array<string>"))
          .otherwise(array(($"event_id" % 256).cast("string"),
            ($"user_id" % 256).cast("string"), lit("7"))).as("bytes"))
      sources.CandumpConverter.toCandumpLines(recs)
    }, Some(
      // q81: the converter's epoch arithmetic and hex formatting
      // recomputed with printf; WHERE mirrors the empty-bytes skip
      """SELECT printf('(%d.%06d) can0 %s#%s',
           epoch_us(ts)//1000000, epoch_us(ts)%1000000,
           printf('%03x', event_id % 1024),
           printf('%02x', user_id % 256) ||
           printf('%02x', event_id % 256) ||
           printf('%02x', user_id % 256) || '07') AS line
         FROM events WHERE event_id % 59 != 0 ORDER BY ts""")),

    // A6/Q10: the lag-k timestamp-jump outlier filter
    // (lib/canparser.py:244-260) as a value gate. Synthetic per-key
    // spacing straddles the (1e11, 1e12) ns drop band at k=50 — even
    // user parities step 3 s (lag-50 diff lands IN the band → rows
    // beyond the first window drop), odd parities step 30 s (diff
    // beyond the band → all kept) — and `click` rows are exempt (the
    // Q10 'db'-file skip, as a predicate). The oracle recomputes the
    // lag window and band test.
    CatalogEntry("q82_jump_filter", (s, d) => {
      val ev = t(s, d, "events")
      val fix = ev.select(($"user_id" % 4).as("k"), $"event_id",
        expr("timestamp_micros(1704067200000000 + event_id * " +
          "(CASE WHEN user_id % 2 = 0 THEN 3000000 ELSE 30000000 END))")
          .as("tsx"),
        $"event_type")
      TimeSeries.timestampJumpFilter(fix, "tsx", Seq("k"), k = 50,
          orderTieBreak = Seq("event_id"),
          exempt = $"event_type" === "click")
        .select($"k", $"event_id")
        .orderBy($"k", $"event_id")
    }, Some(
      // q82: the jump filter's lag-50 window and ns band recomputed
      """WITH f AS (SELECT user_id % 4 AS k, event_id, event_type,
           make_timestamp(1704067200000000 + event_id *
             (CASE WHEN user_id % 2 = 0 THEN 3000000 ELSE 30000000 END)) AS tsx
         FROM events),
         d AS (SELECT k, event_id, event_type,
           coalesce(epoch_us(tsx) - lag(epoch_us(tsx), 50)
             OVER (PARTITION BY k ORDER BY tsx, event_id), 0) AS du
         FROM f)
         SELECT k, event_id FROM d
         WHERE event_type = 'click'
            OR NOT (abs(du)*1000 > 100000000000 AND abs(du)*1000 < 1000000000000)
         ORDER BY k, event_id"""))
  )

  private def canLong(events: DataFrame): DataFrame = {
    val frames = graft.sources.Candump.framesFromLines(canLines(events))
    operators.CanDecode.decodeLong(frames, graft.sources.CanFixtures.schema)
  }

  /** q65 mini-season fixtures (can_ids JSON, sorted main/reference-DB
    * candump logs derived from `events`, a 300 s Solcast CSV, a
    * 10-point GPX track) written into a fixture dir; returns its
    * path. Every value is a
    * literal or a deterministic function of
    * `events` columns so the DuckDB oracle regenerates it exactly.
    * The main log injects the q21 rejects (unknown topic 0x22 every
    * 101st event, short 4-byte frame every 103rd); the reference-DB
    * log spans a WIDER time range than the main log so the unify
    * stage's clip-to-[min,max] (J1) actually removes rows. Memoized
    * per sfDir: Bench's warm-up pays the build and the timed runs
    * measure parse→unify→forecast→gps. */
  private def q65Fixtures(s: SparkSession, d: String): String =
    fixtureDir(s"season $d")(dir => buildQ65Fixtures(s, d, dir.toString))

  private def buildQ65Fixtures(s: SparkSession, d: String, tmp: String): Unit = {
    import java.nio.file.{Files, Paths}
    Files.writeString(Paths.get(s"$tmp/can_ids.json"),
      graft.sources.CanFixtures.json)
    val ev = t(s, d, "events")
    val (payloadOk, payloadShort) = (canPayload(short = false),
      canPayload(short = true))
    val b = (c: Column) => lpad(hex(c), 2, "0")
    // file-order-dependent semantics (crop Q2) need a deterministic
    // file: one sorted part per log
    def dump(df: DataFrame, topic: Column, payload: Column, path: String): Unit =
      df.select(format_string("(%d.%06d) can0 %s#%s",
          expr("unix_micros(ts) div 1000000"), expr("unix_micros(ts) % 1000000"),
          topic, payload).as("value"), col("ts"), col("event_id"))
        .repartition(1).sortWithinPartitions("ts", "event_id").select("value")
        .write.mode("overwrite").text(path)
    dump(ev.filter(expr(
        "ts BETWEEN TIMESTAMP'2024-01-08 09:00:00' AND TIMESTAMP'2024-01-11 21:00:00'" +
          " AND event_id % 3 != 0")),
      when(expr("event_id % 101 = 0"), lit("022")).otherwise(lit("021")),
      when(expr("event_id % 103 = 0"), payloadShort).otherwise(payloadOk),
      s"$tmp/main_log")
    dump(ev.filter(expr(
        "ts BETWEEN TIMESTAMP'2024-01-08 00:00:00' AND TIMESTAMP'2024-01-12 00:00:00'" +
          " AND event_id % 3 = 0")),
      lit("021"), payloadOk, s"$tmp/db_log")
    // q73 main log: the q65 MOD17 lines (same rejects) PLUS the Q5
    // mab20 traps — topic 041 frames with a WRONG raw signature byte
    // (0x22) and 6 junk tail bytes (decodable only through the forced
    // signature + 2-byte truncation) on every 5k+1th event, and topic
    // 040 frames with raw signature byte 0x11 (forced to 230) on every
    // 5k+2th. Without the workaround every one of these frames is
    // silently dropped; with it they decode as MAB19 STATE/PUMPS.
    Files.writeString(Paths.get(s"$tmp/can_ids_mab.json"),
      graft.sources.CanFixtures.jsonMab)
    val mabBase = ev.filter(expr(
      "ts BETWEEN TIMESTAMP'2024-01-08 09:00:00' AND TIMESTAMP'2024-01-11 21:00:00'" +
        " AND event_id % 3 != 0"))
    def mabLines(df: DataFrame, topic: Column, payload: Column): DataFrame =
      df.select(format_string("(%d.%06d) can0 %s#%s",
        expr("unix_micros(ts) div 1000000"), expr("unix_micros(ts) % 1000000"),
        topic, payload).as("value"), col("ts"), col("event_id"))
    val mod17Lines = mabLines(mabBase,
      when(expr("event_id % 101 = 0"), lit("022")).otherwise(lit("021")),
      when(expr("event_id % 103 = 0"), payloadShort).otherwise(payloadOk))
    val pumpsLines = mabLines(mabBase.filter(expr("event_id % 5 = 1")),
      lit("041"), concat(lit("22"), b(expr("event_id % 256")),
        lit("AABBCCDDEE00")))
    val stateLines = mabLines(mabBase.filter(expr("event_id % 5 = 2")),
      lit("040"), concat(lit("11"), b(expr("user_id % 256")),
        b(expr("event_id % 7"))))
    mod17Lines.unionByName(pumpsLines).unionByName(stateLines)
      .repartition(1).sortWithinPartitions("ts", "event_id", "value")
      .select("value")
      .write.mode("overwrite").text(s"$tmp/main_mab_log")
    // Solcast CSV: 300 s ticks 10:00→17:00 UTC; values are exact
    // binary doubles (20.0/10.0/5.0/0.125 steps) so CSV round-trip and
    // the oracle's regeneration are bit-identical
    val fcBase = java.time.Instant.parse("2024-01-10T10:00:00Z")
    val fcRows = (0 to 84).map { i =>
      s"${fcBase.plusSeconds(i * 300L)},${500.0 + (i % 7) * 20.0}," +
        s"${300.0 + (i % 5) * 10.0},${100.0 + (i % 3) * 5.0}," +
        s"${1.5 + (i % 4) * 0.125},0.06"
    }
    Files.writeString(Paths.get(s"$tmp/solcast.csv"),
      ("PeriodStart,Dni,Ghi,Dhi,Airmass,AlbedoDaily" +: fcRows).mkString("\n"))
    // GPX: 10 points every 25 min from 09:30; %.3f-printed literals so
    // the oracle's VALUES list parses to the same doubles
    val gpxBase = java.time.Instant.parse("2024-01-10T09:30:00Z")
    val pts = (0 to 9).map { k =>
      f"""<trkpt lat="${-26.240 + 0.003 * k}%.3f" lon="${-48.640 + 0.002 * k}%.3f">""" +
        s"<ele>${5.0 + k}</ele><time>${gpxBase.plusSeconds(k * 1500L)}</time></trkpt>"
    }
    Files.writeString(Paths.get(s"$tmp/track.gpx"),
      "<?xml version=\"1.0\"?><gpx><trk><trkseg>" + pts.mkString +
        "</trkseg></trk></gpx>")
  }

  /** The season oracles' solar join (q65 with the forecast columns
    * `cols`, q73 with POA only): the cumulative POA energy, the 3-hour
    * cutoff, each telemetry minute's 5-minute forecast slot, and the
    * linear interpolation of `cols`, POA and energy inside it. */
  private def seasonSolarSql(cols: Seq[String]): String = {
    val lerp = (cols :+ "poa" :+ "energy").map(c =>
      s"a.$c + (coalesce(b.$c, a.$c) - a.$c) * p.frac $c")
    s"""fen AS (SELECT t, ${cols.map(_ + ", ").mkString}poa,
             coalesce(sum((poa + ppoa) / 2.0 *
               (CAST(epoch_us(t) - epoch_us(plt) AS DOUBLE)
                 / 3600000000.0)) OVER
               (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             0.0) energy
           FROM fen0),
         cutoff AS (SELECT max(ts) - INTERVAL 3 HOUR c FROM rs),
         solp AS (SELECT r.ts,
             CASE WHEN r.ts >= TIMESTAMP '2024-01-10 16:00:00'
               THEN TIMESTAMP '2024-01-10 16:00:00'
               ELSE make_timestamp(epoch_us(TIMESTAMP '2024-01-10 11:00:00')
                 + ((epoch_us(r.ts) - epoch_us(TIMESTAMP '2024-01-10 11:00:00'))
                    // 300000000) * 300000000) END pt
           FROM rs r
           WHERE r.ts >= TIMESTAMP '2024-01-10 11:00:00'
             AND r.ts <= (SELECT c FROM cutoff)),
         soli AS (SELECT p.ts, p.pt,
             CASE WHEN p.ts >= TIMESTAMP '2024-01-10 16:00:00' THEN 0.0
               ELSE CAST(epoch_us(p.ts) - epoch_us(p.pt) AS DOUBLE)
                 / 300000000.0 END frac
           FROM solp p),
         sol AS (SELECT p.ts,
             ${lerp.mkString(",\n             ")}
           FROM soli p JOIN fen a ON a.t = p.pt
           LEFT JOIN fen b ON b.t = p.pt + INTERVAL 300 SECOND),"""
  }

  /** The season oracles' resample (q65, q73, q75): the dense (signal,
    * bin) grid left-joined to the bins and the interior
    * time-interpolation across gaps up to `gapUs`. */
  private def seasonInterpSql(gapUs: Long): String =
    s"""dense AS (SELECT grid.signal, grid.b, binned.v
           FROM grid LEFT JOIN binned USING (signal, b)),
         selx AS (SELECT signal, b, v,
             last_value(v IGNORE NULLS) OVER wp pv,
             first_value(v IGNORE NULLS) OVER wn nv,
             last_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS)
               OVER wp pt,
             first_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS)
               OVER wn nt
           FROM dense WINDOW
             wp AS (PARTITION BY signal ORDER BY b
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (PARTITION BY signal ORDER BY b
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
         resam AS (SELECT signal, b, CASE WHEN v IS NOT NULL THEN v
             WHEN pv IS NOT NULL AND nv IS NOT NULL
               AND epoch_us(b) - epoch_us(pt) <= $gapUs THEN
               pv + (nv - pv) * (CAST(epoch_us(b) - epoch_us(pt) AS DOUBLE)
                 / CAST(epoch_us(nt) - epoch_us(pt) AS DOUBLE))
             END val FROM selx)"""

  /** The season oracles' forecast (q65, q73): the 5-minute irradiance
    * grid, the NREL solar-position chain with refraction,
    * plane-of-array irradiance, the race-window slice and the lagged
    * POA for the energy integral. */
  private def seasonForecastSql: String =
    """fc AS (SELECT t, (epoch_us(t) -
             epoch_us(TIMESTAMP '2024-01-10 10:00:00')) // 300000000 i
           FROM (SELECT unnest(generate_series(
             TIMESTAMP '2024-01-10 10:00:00', TIMESTAMP '2024-01-10 17:00:00',
             INTERVAL 300 SECOND)) t)),
         fcv AS (SELECT t,
             500.0 + (i % 7) * 20.0 dni, 300.0 + (i % 5) * 10.0 ghi,
             100.0 + (i % 3) * 5.0 dhi, 1.5 + (i % 4) * 0.125 airmass,
             0.06 albedo FROM fc),
         sp1 AS (SELECT *,
             CAST(epoch_us(t + INTERVAL 150 SECOND) AS DOUBLE)
               / 86400000000.0 + 2440587.5 - 2451545.0 AS n,
             (CAST(epoch_us(t + INTERVAL 150 SECOND) AS DOUBLE)
               / 3600000000.0) % 24.0 AS hr
           FROM fcv),
         sp2 AS (SELECT *,
             2.1429 - 0.0010394594 * n AS omega,
             4.8950630 + 0.017202791698 * n AS mlon,
             6.2400600 + 0.0172019699 * n AS manom FROM sp1),
         sp3 AS (SELECT *,
             mlon + 0.03341607 * sin(manom) + 0.00034894 * sin(2.0 * manom)
               - 0.0001134 - 0.0000203 * sin(omega) AS elon,
             0.4090928 - 6.2140e-9 * n + 0.0000396 * cos(omega) AS eobl
           FROM sp2),
         sp4 AS (SELECT *,
             CASE WHEN atan2(cos(eobl) * sin(elon), cos(elon)) < 0
                  THEN atan2(cos(eobl) * sin(elon), cos(elon)) + 2 * pi()
                  ELSE atan2(cos(eobl) * sin(elon), cos(elon)) END AS ra,
             asin(sin(eobl) * sin(elon)) AS sdec FROM sp3),
         sp5 AS (SELECT *,
             ((6.6974243242 + 0.0657098283 * n + hr) * 15.0
               + (-48.6417668)) * (pi() / 180.0) - ra AS ha FROM sp4),
         sp6 AS (SELECT *,
             acos(cos((-26.243602) * (pi() / 180.0)) * cos(ha) * cos(sdec)
               + sin(sdec) * sin((-26.243602) * (pi() / 180.0))) AS zen0
           FROM sp5),
         sp7 AS (SELECT *,
             90.0 - ((zen0 + (6371.01 / 149597890.0) * sin(zen0))
               * 180.0 / pi()) AS elev FROM sp6),
         sp8 AS (SELECT *,
             CASE WHEN elev >= -1.0 * (0.26667 + 0.5667) THEN
               ((101325.0 / 100.0) / 1010.0) * (283.0 / (273.0 + 12.0)) * 1.02
                 / (60.0 * tan((elev + 10.3 / (elev + 5.11)) / 180.0 * pi()))
             ELSE 0.0 END AS refr FROM sp7),
         spz AS (SELECT t, dni, ghi, dhi, airmass, albedo,
             dni * greatest(cos((90.0 - (elev + refr)) / 180.0 * pi()), 0.0)
               + dhi AS poa
           FROM sp8),
         fsl AS (SELECT * FROM spz
           WHERE t BETWEEN TIMESTAMP '2024-01-10 11:00:00'
                       AND TIMESTAMP '2024-01-10 16:00:00'),
         fen0 AS (SELECT *, lag(poa) OVER w ppoa, lag(t) OVER w plt
           FROM fsl WINDOW w AS (ORDER BY t)),"""

  /** The season oracles' GPS track (q65, q73): the planted fixes,
    * haversine leg distance, bearing, day-wrapped leg seconds, speed
    * and cumulative distance, keeping fixes with a speed and a heading. */
  private def seasonTrackSql: String =
    """trkraw AS (SELECT * FROM (VALUES
             (TIMESTAMP '2024-01-10 09:30:00', -26.240, -48.640, 5.0),
             (TIMESTAMP '2024-01-10 09:55:00', -26.237, -48.638, 6.0),
             (TIMESTAMP '2024-01-10 10:20:00', -26.234, -48.636, 7.0),
             (TIMESTAMP '2024-01-10 10:45:00', -26.231, -48.634, 8.0),
             (TIMESTAMP '2024-01-10 11:10:00', -26.228, -48.632, 9.0),
             (TIMESTAMP '2024-01-10 11:35:00', -26.225, -48.630, 10.0),
             (TIMESTAMP '2024-01-10 12:00:00', -26.222, -48.628, 11.0),
             (TIMESTAMP '2024-01-10 12:25:00', -26.219, -48.626, 12.0),
             (TIMESTAMP '2024-01-10 12:50:00', -26.216, -48.624, 13.0),
             (TIMESTAMP '2024-01-10 13:15:00', -26.213, -48.622, 14.0)
           ) v(g_ts, lat, lon, ele)),
         trk1 AS (SELECT *, lag(lat) OVER w plat, lag(lon) OVER w plon,
             lag(g_ts) OVER w ptt
           FROM trkraw WINDOW w AS (ORDER BY g_ts)),
         trk2 AS (SELECT *,
             6371.0 * 2 * asin(sqrt(
               pow(sin(((lat - plat) / 180.0 * pi()) / 2), 2)
               + cos(plat / 180.0 * pi()) * cos(lat / 180.0 * pi())
                 * pow(sin(((lon - plon) / 180.0 * pi()) / 2), 2))) dist,
             (atan2(cos(plat / 180.0 * pi()) * sin((lon - plon) / 180.0 * pi()),
                sin(plat / 180.0 * pi()) * (cos(plat / 180.0 * pi())
                  - cos(lat / 180.0 * pi()) * cos((lon - plon) / 180.0 * pi())))
               * 180.0 / pi()) + 180.0 heading,
             ((epoch_us(g_ts) - epoch_us(ptt)) // 1000000) % 86400 dts
           FROM trk1),
         trk3 AS (SELECT g_ts, lat, lon, ele, heading,
             CASE WHEN dts = 0 THEN NULL
                  ELSE dist / (CAST(dts AS DOUBLE) / 3600.0) END speed,
             sum(coalesce(dist, 0.0)) OVER (ORDER BY g_ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) distance
           FROM trk2),
         trkf AS (SELECT * FROM trk3
           WHERE speed IS NOT NULL AND heading IS NOT NULL),"""

  /** One period's slice of the q75 oracle: the q65 decode + unify-clip
    * + resample + gap-limited interpolation machinery parameterized by
    * the bucket width (µs). The interpolation gap limit replicates
    * lib/resampler.py:66 — max(1, 60 s / period) ticks. */
  private def q75PeriodSql(label: String, periodUs: Long): String = {
    val gapUs = math.max(1L, 60000000L / periodUs) * periodUs
    s"""SELECT * FROM (WITH
       mainE AS (SELECT ts, user_id, event_id FROM events
         WHERE ts BETWEEN TIMESTAMP '2024-01-08 09:00:00'
                      AND TIMESTAMP '2024-01-11 21:00:00'
           AND event_id % 3 != 0 AND event_id % 101 != 0
           AND event_id % 103 != 0),
       dbE AS (SELECT ts, user_id, event_id FROM events
         WHERE ts BETWEEN TIMESTAMP '2024-01-08 00:00:00'
                      AND TIMESTAMP '2024-01-12 00:00:00'
           AND event_id % 3 = 0),
       mwide AS (SELECT ts,
           avg(CAST(user_id AS DOUBLE)*(1.0/100)) v_curr,
           avg(CAST(event_id % 256 AS DOUBLE)*(1.0/100)) v_duty,
           avg(CAST((event_id % 4) & 1 AS DOUBLE)*(1.0/255)) v_f1
         FROM mainE GROUP BY ts),
       dwide AS (SELECT ts,
           avg(CAST(user_id AS DOUBLE)*(1.0/100)) v_curr,
           avg(CAST(event_id % 256 AS DOUBLE)*(1.0/100)) v_duty,
           avg(CAST((event_id % 4) & 1 AS DOUBLE)*(1.0/255)) v_f1
         FROM dbE GROUP BY ts),
       mb AS (SELECT min(ts) lo, max(ts) hi FROM mwide),
       uni AS (SELECT * FROM mwide
         UNION ALL SELECT * FROM dwide
           WHERE ts BETWEEN (SELECT lo FROM mb) AND (SELECT hi FROM mb)),
       lf AS (
         SELECT make_timestamp(epoch_us(ts) - epoch_us(ts) % $periodUs) b,
           'MOD17__SENSOR__CURR' signal, v_curr vv FROM uni
         UNION ALL SELECT make_timestamp(epoch_us(ts) - epoch_us(ts) % $periodUs),
           'MOD17__SENSOR__DUTY', v_duty FROM uni
         UNION ALL SELECT make_timestamp(epoch_us(ts) - epoch_us(ts) % $periodUs),
           'MOD17__SENSOR__FLAG1', v_f1 FROM uni),
       binned AS (SELECT signal, b, avg(vv) v FROM lf GROUP BY 1, 2),
       bnds AS (SELECT min(b) lo, max(b) hi FROM binned),
       grid AS (SELECT s.signal, g.b
         FROM (SELECT unnest(['MOD17__SENSOR__CURR',
           'MOD17__SENSOR__DUTY', 'MOD17__SENSOR__FLAG1']) signal) s
         CROSS JOIN (SELECT unnest(generate_series((SELECT lo FROM bnds),
           (SELECT hi FROM bnds), to_microseconds($periodUs))) b) g),
       ${seasonInterpSql(gapUs)}
       SELECT '$label' AS period, b AS timestamp,
         round(max(CASE WHEN signal = 'MOD17__SENSOR__CURR' THEN val END), 6)
           AS s_curr,
         round(max(CASE WHEN signal = 'MOD17__SENSOR__DUTY' THEN val END), 6)
           AS s_duty,
         round(max(CASE WHEN signal = 'MOD17__SENSOR__FLAG1' THEN val END), 6)
           AS s_flag1
       FROM resam GROUP BY b)"""
  }

  /** Shared by q21 (batch candump decode) and q79 (its streaming
    * face over the same fixture lines). */
  private def canDecodeOracleSql: String =
    """WITH base AS (SELECT * FROM events
         WHERE event_id % 101 != 0 AND event_id % 103 != 0),
       fields AS (
         SELECT ts AS timestamp, 'MOD17' AS module_name,
                'SENSOR' AS topic_name, 'SIGNATURE' AS byte_name,
                17.0 AS value, '' AS unit FROM base
         UNION ALL SELECT ts, 'MOD17', 'SENSOR', 'CURR',
           CAST(user_id AS DOUBLE)*(1.0/100), 'A' FROM base
         UNION ALL SELECT ts, 'MOD17', 'SENSOR', 'DUTY',
           CAST(event_id % 256 AS DOUBLE)*(1.0/100), 'V' FROM base
         UNION ALL SELECT ts, 'MOD17', 'SENSOR', 'FLAG1',
           CAST((event_id % 4) & 1 AS DOUBLE)*(1.0/255), '%' FROM base
         UNION ALL SELECT ts, 'MOD17', 'SENSOR', 'FLAG2',
           CAST(((event_id % 4) >> 1) & 1 AS DOUBLE), '' FROM base)
       SELECT * FROM fields ORDER BY timestamp, byte_name, value"""
}
