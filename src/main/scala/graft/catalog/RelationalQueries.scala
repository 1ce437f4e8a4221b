package graft
package catalog

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.TimeSeries
import Fixtures._

/** Relational and time-series gates: aggregates, joins, windows,
  * resample, interpolation, solar and GPS maths, CSV and layout. */
object RelationalQueries {

  val entries: Seq[CatalogEntry] = Seq(

    // A1/A14: hash aggregate w/ exact + rounded aggregates (partial agg
    // map-side, 2-col grouping; scales via hash shuffle on group keys)
    CatalogEntry("q01_agg", (s, d) => {
      t(s, d, "lineitem")
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(sum($"l_quantity").as("sum_qty"),
             count(lit(1)).as("n"),
             round(sum($"l_extendedprice"), 2).as("sum_price"),
             min($"l_discount").as("min_disc"),
             max($"l_discount").as("max_disc"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }, Some(
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
         count(*) AS n, round(sum(l_extendedprice),2) AS sum_price,
         min(l_discount) AS min_disc, max(l_discount) AS max_disc
         FROM lineitem GROUP BY 1,2 ORDER BY 1,2""")),

    // P7/S: filter + projection, pushed down to the parquet scan
    CatalogEntry("q02_filter_project", (s, d) => {
      t(s, d, "events")
        .filter($"event_type" === "purchase" && $"value" > 100)
        .select($"event_id", $"user_id", $"ts", $"value")
        .orderBy($"event_id")
    }, Some(
      """SELECT event_id, user_id, ts, value FROM events
         WHERE event_type = 'purchase' AND value > 100 ORDER BY event_id""")),

    // J: multi-way join (broadcast dim × shuffle fact) + aggregate
    CatalogEntry("q03_join_agg", (s, d) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      val l = t(s, d, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy($"c_mktsegment")
        .agg(countDistinct($"o_orderkey").as("n_orders"),
             round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2).as("revenue"))
        .orderBy($"c_mktsegment")
    }, Some(
      """SELECT c_mktsegment, count(DISTINCT o_orderkey) AS n_orders,
         round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY 1""")),

    // A11/A12: global sort + limit (TakeOrderedAndProject, no full sort)
    CatalogEntry("q04_topk", (s, d) => {
      t(s, d, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
        .limit(10)
    }, Some(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""")),

    // window ranking (beyond-reference; partition-parallel)
    CatalogEntry("q05_window_rank", (s, d) => {
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 3)
        .select($"o_custkey", $"o_orderkey", $"rn")
        .orderBy($"o_custkey", $"rn")
    }, Some(
      """SELECT o_custkey, o_orderkey, rn FROM (
           SELECT o_custkey, o_orderkey, row_number() OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""")),

    // A8: cumulative sum per key (lib/process_gpx_data.py:71)
    CatalogEntry("q06_cumsum", (s, d) => {
      TimeSeries.cumsum(t(s, d, "events"), "ts", "value",
          Seq("user_id"), Seq("event_id"))
        .select($"user_id", $"event_id", round($"cum_value", 2).as("cum_value"))
        .orderBy($"user_id", $"event_id")
    }, Some(
      """SELECT user_id, event_id, round(sum(value) OVER
           (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS cum_value
         FROM events ORDER BY user_id, event_id""")),

    // A10: adjacent-row diff via lag (lib/process_gpx_data.py:49-56)
    CatalogEntry("q07_lag_diff", (s, d) => {
      TimeSeries.lagDiff(t(s, d, "events"), "ts", "value",
          Seq("user_id"), Seq("event_id"))
        .select($"user_id", $"event_id", round($"diff_value", 2).as("diff_value"))
        .orderBy($"user_id", $"event_id")
    }, Some(
      """SELECT user_id, event_id, round(value - lag(value) OVER
           (PARTITION BY user_id ORDER BY ts, event_id),2) AS diff_value
         FROM events ORDER BY user_id, event_id""")),

    // A2: tumbling-window resample + mean (lib/resampler.py:97-99)
    CatalogEntry("q08_resample", (s, d) => {
      TimeSeries.resampleAgg(t(s, d, "events"), "ts", 3600,
          Seq("event_type"), "value")
        .select($"event_type", $"bucket_ts", $"sum_value", $"n", $"mean_value")
        .orderBy($"event_type", $"bucket_ts")
    }, Some(resampleOracleSql)),

    // gap-based sessionization (beyond-reference training-pipeline op)
    CatalogEntry("q09_sessionize", (s, d) => {
      TimeSeries.sessionize(t(s, d, "events"), "ts", Seq("user_id"),
          1800, Seq("event_id"))
        .select($"user_id", $"event_id", $"session_id")
        .orderBy($"user_id", $"event_id")
    }, Some(sessionizeOracleSql)),

    // J4: as-of (ffill) alignment via union trick (lib/process_gpx_data.py:165-169)
    CatalogEntry("q10_asof", (s, d) => {
      val ev = t(s, d, "events")
      val left = ev.filter($"event_type" === "purchase")
      val right = ev.filter($"event_type" === "click")
        .groupBy($"user_id", $"ts").agg(max_by($"value", $"event_id").as("rv"))
      TimeSeries.asofJoin(left, right, "ts", Seq("user_id"), Seq("rv"))
        .select($"event_id", $"user_id", round($"asof_rv", 2).as("asof_value"))
        .orderBy($"event_id")
    }, Some(
      """WITH r AS (SELECT user_id, ts, arg_max(value, event_id) AS rv
           FROM events WHERE event_type = 'click' GROUP BY 1, 2)
         SELECT p.event_id, p.user_id, round(r.rv,2) AS asof_value
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         ASOF LEFT JOIN r ON p.user_id = r.user_id AND p.ts >= r.ts
         ORDER BY p.event_id""")),

    // A3/J5/A4: dense grid + linear interpolation with both-side
    // brackets (lib/resampler.py:63-66, lib/unifier_with_forecast_data.py:69-73)
    CatalogEntry("q11_interpolate", (s, d) => {
      val ev = t(s, d, "events")
      val b = TimeSeries.resampleAgg(ev, "ts", 3600, Seq("user_id"), "value")
        .select($"user_id", $"bucket_ts", $"mean_value")
      val bounds = b.agg(min($"bucket_ts").as("lo"), max($"bucket_ts").as("hi"))
      // repartition after the 1-row explode: without it the whole grid
      // (users × hours) would stream through a single task
      val grid = bounds.select(explode(sequence($"lo", $"hi",
          expr("INTERVAL 3600 SECONDS"))).as("bucket_ts"))
        .repartition(s.sparkContext.defaultParallelism)
        .crossJoin(ev.select($"user_id").distinct())
      val joined = grid.join(b, Seq("user_id", "bucket_ts"), "left")
      // no final rounding: every input (round(sum,2)/n means, exact µs
      // fractions) is bit-identical across engines, so the interpolated
      // doubles are too — rounding would only reintroduce half-way
      // disagreements between BigDecimal and binary rounding.
      TimeSeries.interpolateLinear(joined, "bucket_ts", "mean_value", Seq("user_id"))
        .select($"user_id", $"bucket_ts", $"interp_value")
        .orderBy($"user_id", $"bucket_ts")
    }, Some(
      """WITH b AS (SELECT user_id,
             make_timestamp(CAST(floor(epoch(ts)/3600)*3600 AS BIGINT)*1000000) AS bucket_ts,
             round(sum(value),2)/count(*) AS mv
           FROM events GROUP BY 1,2),
         bounds AS (SELECT min(bucket_ts) lo, max(bucket_ts) hi FROM b),
         grid AS (SELECT u.user_id, g.bucket_ts
           FROM (SELECT DISTINCT user_id FROM events) u
           CROSS JOIN (SELECT unnest(generate_series(
             (SELECT lo FROM bounds),(SELECT hi FROM bounds),
             INTERVAL 1 HOUR)) AS bucket_ts) g),
         j AS (SELECT grid.user_id, grid.bucket_ts, b.mv
           FROM grid LEFT JOIN b USING (user_id, bucket_ts)),
         sel AS (SELECT user_id, bucket_ts, mv,
           last_value(mv IGNORE NULLS) OVER wp AS pv,
           first_value(mv IGNORE NULLS) OVER wn AS nv,
           last_value(CASE WHEN mv IS NOT NULL THEN bucket_ts END IGNORE NULLS)
             OVER wp AS pt,
           first_value(CASE WHEN mv IS NOT NULL THEN bucket_ts END IGNORE NULLS)
             OVER wn AS nt
         FROM j WINDOW
           wp AS (PARTITION BY user_id ORDER BY bucket_ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wn AS (PARTITION BY user_id ORDER BY bucket_ts
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         SELECT user_id, bucket_ts,
           CASE WHEN mv IS NOT NULL THEN mv
             WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
               pv + (nv-pv) * ((epoch(bucket_ts)-epoch(pt)) / (epoch(nt)-epoch(pt)))
             END AS interp_value
         FROM sel ORDER BY user_id, bucket_ts""")),

    // A5/P12: IQR fences + outlier blanking (lib/resampler.py:40-56)
    CatalogEntry("q12_iqr", (s, d) => {
      val ev = t(s, d, "events")
      TimeSeries.iqrBlank(ev, "value", Seq("event_type"), 0.25)
        .groupBy($"event_type")
        .agg(round(first($"__lo"), 6).as("lo_fence"),
             round(first($"__hi"), 6).as("hi_fence"),
             sum(when($"clean_value".isNull, 1L).otherwise(0L)).as("n_out"),
             round(sum($"clean_value"), 2).as("sum_in"))
        .orderBy($"event_type")
    }, Some(
      """WITH q AS (SELECT event_type,
             quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3
           FROM events GROUP BY 1),
         f AS (SELECT event_type, q1 - 1.5*(q3-q1) AS lo, q3 + 1.5*(q3-q1) AS hi
           FROM q)
         SELECT e.event_type, round(f.lo,6) AS lo_fence, round(f.hi,6) AS hi_fence,
           count(*) FILTER (WHERE e.value < f.lo OR e.value > f.hi) AS n_out,
           round(sum(e.value) FILTER (WHERE e.value >= f.lo AND e.value <= f.hi),2) AS sum_in
         FROM events e JOIN f USING (event_type)
         GROUP BY 1, f.lo, f.hi ORDER BY 1""")),

    // A9: cumulative trapezoidal integral (lib/process_solcast_historic_data.py:7-17)
    CatalogEntry("q13_cumtrapz", (s, d) => {
      TimeSeries.cumtrapz(t(s, d, "events"), "ts", "value",
          Seq("user_id"), Seq("event_id"))
        .select($"user_id", $"event_id", round($"integral", 6).as("energy"))
        .orderBy($"user_id", $"event_id")
    }, Some(
      """WITH d AS (SELECT user_id, event_id, ts, value,
           lag(value) OVER w AS pv, lag(ts) OVER w AS pt
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT user_id, event_id, round(coalesce(sum(
             (value+pv)/2 * ((epoch_us(ts)-epoch_us(pt))/3600000000.0)) OVER
           (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0), 6) AS energy
         FROM d ORDER BY user_id, event_id""")),

    // A1: pivot long→wide with schema-known values (lib/canparser.py:222-239)
    CatalogEntry("q14_pivot", (s, d) => {
      t(s, d, "events")
        .groupBy(date_trunc("DAY", $"ts").as("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(round(sum($"value"), 2))
        .orderBy($"day")
    }, Some(
      """SELECT date_trunc('day', ts) AS day,
         round(sum(CASE WHEN event_type='click' THEN value END),2) AS click,
         round(sum(CASE WHEN event_type='error' THEN value END),2) AS error,
         round(sum(CASE WHEN event_type='purchase' THEN value END),2) AS purchase,
         round(sum(CASE WHEN event_type='signup' THEN value END),2) AS signup,
         round(sum(CASE WHEN event_type='view' THEN value END),2) AS view
         FROM events GROUP BY 1 ORDER BY 1""")),

    // A4: asfreq dense grid, zero-filled counts
    CatalogEntry("q18_grid_asfreq", (s, d) => {
      val b = TimeSeries.resampleAgg(t(s, d, "events"), "ts", 3600, Nil, "value")
        .select($"bucket_ts", $"n")
      val bounds = b.agg(min($"bucket_ts").as("lo"), max($"bucket_ts").as("hi"))
      bounds.select(explode(sequence($"lo", $"hi",
          expr("INTERVAL 3600 SECONDS"))).as("bucket_ts"))
        .join(b, Seq("bucket_ts"), "left")
        .select($"bucket_ts", coalesce($"n", lit(0L)).as("n"))
        .orderBy($"bucket_ts")
    }, Some(
      """WITH b AS (SELECT
             make_timestamp(CAST(floor(epoch(ts)/3600)*3600 AS BIGINT)*1000000) AS bucket_ts,
             count(*) AS n
           FROM events GROUP BY 1),
         bounds AS (SELECT min(bucket_ts) lo, max(bucket_ts) hi FROM b)
         SELECT g.bucket_ts, coalesce(b.n, 0) AS n
         FROM (SELECT unnest(generate_series((SELECT lo FROM bounds),
               (SELECT hi FROM bounds), INTERVAL 1 HOUR)) AS bucket_ts) g
         LEFT JOIN b USING (bucket_ts) ORDER BY bucket_ts""")),

    // J1: time-range union-merge (lib/unify_parsed_candump.py:13-27)
    CatalogEntry("q19_unify_merge", (s, d) => {
      val ev = t(s, d, "events")
      val chunk = ev.filter($"event_type" === "error")
        .select($"ts", $"event_id", $"user_id", $"value")
      val ref = ev.filter($"event_type" === "click")
        .select($"ts", $"event_id", $"user_id", $"value")
      TimeSeries.unionMerge(chunk, ref, "ts", orderTieBreak = Seq("event_id"))
        .select($"event_id", $"user_id", $"value")
    }, Some(
      """WITH bounds AS (SELECT min(ts) lo, max(ts) hi FROM events
           WHERE event_type = 'error')
         SELECT event_id, user_id, value FROM (
           SELECT ts, event_id, user_id, value FROM events WHERE event_type='error'
           UNION ALL
           SELECT ts, event_id, user_id, value FROM events WHERE event_type='click'
             AND ts BETWEEN (SELECT lo FROM bounds) AND (SELECT hi FROM bounds))
         ORDER BY ts, event_id""")),

    // F9-F11: solar scalar chain — Kasten-Young airmass, Spencer
    // extraterrestrial DNI, isotropic POA transposition — over
    // synthetic irradiance inputs (the PSA solar position itself is
    // golden-validated in SolarSpec against the NREL SPA test vector)
    CatalogEntry("q23_solar", (s, d) => {
      val ev = t(s, d, "events")
        .withColumn("zen", (expr("event_id % 60") + lit(30)).cast("double"))
        .withColumn("az", (expr("(event_id * 7) % 360")).cast("double"))
      ev.select($"event_id",
          round(graft.functions.Solar.poaGlobalIsotropic(
            lit(15.0), lit(180.0), $"zen", $"az",
            $"value", $"value" * 0.8, $"value" * 0.3, lit(0.08)), 6).as("poa"),
          round(graft.functions.Solar.airmassRelative($"zen"), 6).as("airmass"),
          round(graft.functions.Solar.extraRadiation($"ts"), 6).as("dni_extra"))
        .orderBy($"event_id")
    }, Some(
      """WITH s AS (SELECT event_id, ts, value,
           CAST(event_id % 60 + 30 AS DOUBLE) AS zen,
           CAST((event_id * 7) % 360 AS DOUBLE) AS az
         FROM events)
         SELECT event_id,
           round(value * greatest(
               cos(radians(15.0))*cos(radians(zen)) +
               sin(radians(15.0))*sin(radians(zen))*cos(radians(az - 180.0)),
               0.0)
             + (value*0.3) * (1.0 + cos(radians(15.0))) / 2.0
             + (value*0.8) * 0.08 * (1.0 - cos(radians(15.0))) / 2.0, 6) AS poa,
           round(1.0 / (cos(radians(zen)) +
             0.50572 * pow(96.07995 - zen, -1.6364)), 6) AS airmass,
           round(1366.1 * (1.00011
             + 0.034221 * cos(2*pi()/365.0 * (dayofyear(ts) - 1))
             + 0.00128  * sin(2*pi()/365.0 * (dayofyear(ts) - 1))
             + 0.000719 * cos(2 * (2*pi()/365.0 * (dayofyear(ts) - 1)))
             + 0.000077 * sin(2 * (2*pi()/365.0 * (dayofyear(ts) - 1)))), 6)
             AS dni_extra
         FROM s ORDER BY event_id""")),

    // S6 CSV write as a VALUE gate (was spec-only): the events table
    // round-trips the engine's CSV sink (header on, overwrite) and is
    // read back with an explicit schema — doubles survive exactly
    // (shortest-round-trip rendering both ways), timestamps ride as
    // µs-exact formatted strings, and the oracle produces the same
    // projection straight from parquet, so a quoting, header, or
    // rendering bug breaks the hash. Total order: ts_str (globally
    // unique in the testdata).
    CatalogEntry("q95_csv_roundtrip", (s, d) => {
      val ev = t(s, d, "events").select(
        date_format($"ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str"),
        $"user_id".cast("long").as("user_id"),
        $"event_id".cast("long").as("event_id"),
        $"value".cast("double").as("value"),
        $"event_type")
      val out = seasonOutDir("q95")
      sources.Sinks.writeCsv(ev, s"$out/csv")
      s.read.option("header", "true")
        .schema("ts_str STRING, user_id BIGINT, event_id BIGINT, " +
          "value DOUBLE, event_type STRING")
        .csv(s"$out/csv")
        .orderBy($"ts_str")
    }, Some(
      // S6 gate: the oracle is the same projection straight from
      // parquet — the Spark side must lose nothing through its CSV
      // write → read round trip (µs-exact ts strings, shortest-
      // round-trip doubles)
      """SELECT strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
           CAST(user_id AS BIGINT) AS user_id,
           CAST(event_id AS BIGINT) AS event_id,
           CAST(value AS DOUBLE) AS value,
           event_type
         FROM events ORDER BY ts_str""")),

    // P9 dropna as a VALUE gate (was spec-only): nulls planted into
    // two columns on modular patterns; `na.drop(subset)` must keep
    // exactly the rows where BOTH survive — the oracle recomputes the
    // masking and filters with IS NOT NULL (robust to natural nulls
    // in the source columns).
    CatalogEntry("q96_dropna", (s, d) => {
      val ev = t(s, d, "events").select(
        $"event_id".cast("long").as("event_id"), $"ts",
        when($"event_id" % 5 === 0, lit(null).cast("double"))
          .otherwise($"value".cast("double")).as("value"),
        when($"event_id" % 7 === 0, lit(null).cast("string"))
          .otherwise($"event_type").as("event_type"))
      ev.na.drop(Seq("value", "event_type"))
        .select($"event_id", $"value", $"event_type",
          date_format($"ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str"))
        .orderBy($"ts_str")
    }, Some(
      // P9 gate: recompute the planted-null masking, then IS NOT NULL
      // on both subset columns (robust to natural nulls in the source)
      """WITH e AS (SELECT CAST(event_id AS BIGINT) AS event_id, ts,
           CASE WHEN event_id % 5 = 0 THEN NULL
                ELSE CAST(value AS DOUBLE) END AS value,
           CASE WHEN event_id % 7 = 0 THEN NULL
                ELSE event_type END AS event_type
         FROM events)
         SELECT event_id, value, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
         FROM e WHERE value IS NOT NULL AND event_type IS NOT NULL
         ORDER BY ts_str""")),

    // Per-domain document cap (RefinedWeb-style source balancing):
    // at most 10 docs per source, membership in engine-neutral
    // md5-hash order so the oracle replays the exact window — a wrong
    // hash, a wrong tie-break, or a rate-vs-count mixup all change
    // the kept set. The cap binds on every source (20 × 25 docs →
    // 10 each at sf0.01).
    CatalogEntry("q108_domain_cap", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id", $"source")
      operators.Curation.capPerKey(docs, "source", "doc_id",
          maxPerKey = 10, hashFn = operators.Dedup.md5Hash60)
        .orderBy($"doc_id")
    }, Some(
      // the md5-hash-ordered per-source window, replayed exactly
      """WITH h AS (SELECT doc_id, source,
           ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
             AS hh
         FROM documents),
         r AS (SELECT doc_id, source, row_number() OVER
             (PARTITION BY source ORDER BY hh, doc_id) AS rn
           FROM h)
         SELECT doc_id, source FROM r WHERE rn <= 10 ORDER BY doc_id""")),

    // Z-order layout: the multi-dimensional scan-pruning key
    // (lakehouse OPTIMIZE ZORDER, engine-agnostic) value-gated
    // bit-for-bit — two integer dimensions (text length × doc_id mod
    // 97) bucket through the integer-exact equi-width formula and
    // interleave into one Morton scalar; the oracle recomputes
    // min/max, the `div` bucketing and every shift/mask term in SQL.
    // A wrong bucket width, a swapped interleave order or a float
    // division anywhere changes z-values. (The actual rows-READ
    // pruning win of the laid-out table is measured in PlanSpec —
    // layout effectiveness is an IO metric, not a result set.)
    CatalogEntry("q121_zorder", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id",
        length($"text").cast("long").as("dx"),
        ($"doc_id" % 97).as("dy"))
      operators.Layout.withZValue(docs, Seq("dx", "dy"), bits = 8)
        .select($"doc_id", $"dx", $"dy", $"zvalue")
        .orderBy($"doc_id")
    }, Some(
      // min/max, integer-div equi-width buckets and the Morton
      // interleave replayed term-for-term: bit i of dx lands at 2i, of
      // dy at 2i+1 (dimension 0 on the low bit)
      """WITH m AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS dx,
           doc_id % 97 AS dy FROM documents),
         st AS (SELECT min(dx) mnx, max(dx) mxx, min(dy) mny, max(dy) mxy
           FROM m),
         b AS (SELECT doc_id, dx, dy,
             ((dx - mnx) * 256) // (mxx - mnx + 1) AS bx,
             ((dy - mny) * 256) // (mxy - mny + 1) AS by_
           FROM m, st),
         z AS (SELECT doc_id,
             CAST(sum((((bx >> i.i) & 1) << (2 * i.i)) +
                      (((by_ >> i.i) & 1) << (2 * i.i + 1))) AS BIGINT)
               AS zvalue
           FROM b, LATERAL (SELECT unnest(generate_series(0, 7)) AS i) i
           GROUP BY doc_id)
         SELECT b.doc_id, b.dx, b.dy, z.zvalue
         FROM b JOIN z ON b.doc_id = z.doc_id
         ORDER BY b.doc_id""")),

    // Deterministic token-budget sampling: hash-ordered prefix until
    // the per-shard running token total hits budget/shards. The
    // engine-neutral md5 hash pins the EXACT kept set against the
    // oracle's window recomputation — order, shard split, boundary
    // rule (kept iff the PRIOR cumsum is under budget) all match.
    CatalogEntry("q55_token_budget", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id", $"text")
        .withColumn("n_tokens",
          operators.TextAnalysis.tokenCount($"text").cast("long"))
      operators.Curation.sampleToTokenBudget(docs, "doc_id", "n_tokens",
          budgetTokens = 20000L, shards = 8,
          hashFn = operators.Dedup.md5Hash60)
        .select($"doc_id", $"n_tokens")
        .orderBy($"doc_id")
    }, Some(
      """WITH tok AS (SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n_tokens,
           ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
             AS h
           FROM documents),
         c AS (SELECT doc_id, n_tokens,
             coalesce(sum(n_tokens) OVER (PARTITION BY h % 8
               ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
           FROM tok)
         SELECT doc_id, n_tokens FROM c WHERE prior < 2500
         ORDER BY doc_id""")),

    // Corpus length-distribution profile: exact interpolating
    // percentiles of char length and token count — Spark `percentile`
    // and DuckDB `quantile_cont` share the rank-p·(n−1) linear-
    // interpolation definition (identical double formula: lo·(1−g) +
    // g·hi), so the gate pins values with NO rounding. The exact
    // aggregate is the calibration path; the 100 TB path is the same
    // operator with exact=false (approx_percentile's mergeable sketch,
    // bounded executor memory), spec-pinned within rank error.
    CatalogEntry("q53_length_quantiles", (s, d) => {
      operators.TextAnalysis.lengthDistribution(t(s, d, "documents"),
          "text", Seq(0.25, 0.5, 0.75, 0.9, 0.99))
        .orderBy($"p")
    }, Some(
      """WITH s AS (SELECT length(text)::DOUBLE AS c,
           len(regexp_split_to_array(trim(text), '\s+'))::DOUBLE AS tk
           FROM documents),
         a AS (SELECT quantile_cont(c, [0.25, 0.5, 0.75, 0.9, 0.99]) cp,
                      quantile_cont(tk, [0.25, 0.5, 0.75, 0.9, 0.99]) tp
           FROM s)
         SELECT unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS p,
                unnest(cp) AS chars_p, unnest(tp) AS tokens_p
         FROM a ORDER BY p""")),

    // Multimodal plumbing: binary payloads → per-partition decode
    // (stubbed codec) + frame sampling. The gate pins everything the
    // pipeline derives from the payload BYTES (lengths, frame counts,
    // feature dims) against SQL recomputed from the source text; the
    // stub's feature VALUES (pure Scala hash-mix, not SQL-expressible)
    // are pinned by TextMultimodalSpec's golden-value test instead.
    CatalogEntry("q28_multimodal", (s, d) => {
      val media = operators.Multimodal.syntheticMedia(t(s, d, "documents"))
      val dec = operators.Multimodal.withDecodedFeatures(media, "payload",
        "synthetic/raw", dim = 16)
      val frames = operators.Multimodal.sampleFrames(dec, "payload", 64, 2)
      frames.groupBy($"media_id")
        .agg(first($"feat_dim").as("feat_dim"),
             first($"meta.duration_ms").as("payload_len"),
             count(lit(1)).as("n_frames"))
        .orderBy($"media_id")
    }, Some(
      """SELECT doc_id AS media_id,
         CASE WHEN strlen(text) = 0 THEN 0 ELSE 16 END AS feat_dim,
         strlen(text)::BIGINT AS payload_len,
         (greatest(strlen(text)//64 - 1, 0)//2 + 1)::BIGINT AS n_frames
         FROM documents ORDER BY media_id""")),

    // TPC-H-Q5-shaped star join over all six relational tables: fact ⋈
    // fact ⋈ four dimensions with a part-filter — exercises Catalyst
    // join reordering and multi-way broadcast (every dimension side is
    // broadcast-sized; only the lineitem⋈orders spine shuffles).
    // Revenue rounded at 2 digits on both sides (the q03 float-parity
    // pattern).
    CatalogEntry("q35_star_join", (s, d) => {
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), $"l_orderkey" === $"o_orderkey")
        .join(t(s, d, "customer"), $"o_custkey" === $"c_custkey")
        .join(t(s, d, "supplier"), $"l_suppkey" === $"s_suppkey")
        .join(t(s, d, "nation"), $"s_nationkey" === $"n_nationkey")
        .join(t(s, d, "region"), $"n_regionkey" === $"r_regionkey")
        .join(t(s, d, "part").filter($"p_size" < 25), $"l_partkey" === $"p_partkey")
        .groupBy($"r_name", $"n_name")
        .agg(round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2)
               .as("revenue"),
             count(lit(1)).as("n_rows"))
        .orderBy($"r_name", $"n_name")
    }, Some(
      """SELECT r_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_rows
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         JOIN part ON l_partkey = p_partkey AND p_size < 25
         GROUP BY r_name, n_name
         ORDER BY r_name, n_name""")),

    // A2 at sub-second granularity: 500 ms tumbling bins on µs bucket
    // math (the reference's live period list includes "100ms",
    // main_2020.py:140 — inexpressible with second-floored buckets)
    CatalogEntry("q30_resample_ms", (s, d) => {
      TimeSeries.resampleAgg(t(s, d, "events"), "ts", "500ms",
          Seq("event_type"), "value")
        .select($"event_type", $"bucket_ts", $"sum_value", $"n", $"mean_value")
        .orderBy($"event_type", $"bucket_ts")
    }, Some(
      """SELECT event_type,
         make_timestamp(epoch_us(ts) - (epoch_us(ts) % 500000)) AS bucket_ts,
         round(sum(value),2) AS sum_value, count(*) AS n,
         round(sum(value),2)/count(*) AS mean_value
         FROM events GROUP BY 1,2 ORDER BY 1,2""")),

    // Deterministic train/val/test split: membership is a pure
    // function of the key's hash bucket (no RNG state), so re-runs,
    // repartitionings and other engines agree row-for-row — the gate
    // uses the engine-neutral md5-derived hash and the oracle
    // recomputes every row's label independently.
    CatalogEntry("q36_hash_split", (s, d) => {
      operators.TextAnalysis.hashSplit(t(s, d, "documents").select($"doc_id"),
          "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
          hashFn = operators.Dedup.md5Hash60)
        .select($"doc_id", $"split")
        .orderBy($"doc_id")
    }, Some(
      """WITH b AS (SELECT doc_id,
           ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
             % 1000000 AS bkt
         FROM documents)
         SELECT doc_id,
           CASE WHEN bkt < 800000 THEN 'train'
                WHEN bkt < 900000 THEN 'val'
                ELSE 'test' END AS split
         FROM b ORDER BY doc_id""")),

    // Time-RANGE window frame: trailing 30-second mean per user — the
    // rangeBetween shape (frame bounded by the ORDER BY value, not row
    // offsets; tied timestamps are peers in both engines). Telemetry
    // smoothing without resampling to a grid.
    CatalogEntry("q40_trailing_window", (s, d) => {
      val w = Window.partitionBy($"user_id").orderBy(unix_micros($"ts"))
        .rangeBetween(-30000000L, 0L) // [ts − 30 s, ts], inclusive
      t(s, d, "events")
        .select($"event_id", $"user_id", $"ts",
          round(avg($"value").over(w), 6).as("trail_mean_30s"),
          count(lit(1)).over(w).as("n_in_window"))
        .orderBy($"event_id")
    }, Some(
      """SELECT event_id, user_id, ts,
           round(avg(value) OVER w, 6) AS trail_mean_30s,
           count(*) OVER w AS n_in_window
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts
           RANGE BETWEEN INTERVAL 30 SECONDS PRECEDING AND CURRENT ROW)
         ORDER BY event_id""")),

    // Corpus curation dashboard: per-language stats with a ROLLUP
    // grand-total row — grouping-set aggregation (Expand + partial
    // agg), the one A-family shape the catalog lacked. Language labels
    // come from the q27 stopword heuristic, recomputed by the oracle.
    CatalogEntry("q39_rollup_stats", (s, d) => {
      val docs = t(s, d, "documents").select($"text",
        operators.TextAnalysis.langId($"text").as("pred_lang"))
      docs.rollup($"pred_lang")
        .agg(count(lit(1)).as("n_docs"),
             sum(length($"text")).as("total_chars"),
             round(avg(operators.TextAnalysis.tokenCount($"text")), 4)
               .as("avg_tokens"))
        .select(coalesce($"pred_lang", lit("ALL")).as("lang"),
          $"n_docs", $"total_chars", $"avg_tokens")
        .orderBy($"lang")
    }, Some(
      """WITH p AS (SELECT text,
           len(regexp_extract_all(lower(text), '\bthe\b|\band\b|\bof\b|\bto\b|\bis\b')) AS s_en,
           len(regexp_extract_all(lower(text), '\bder\b|\bdie\b|\bund\b|\bist\b|\bnicht\b')) AS s_de,
           len(regexp_extract_all(lower(text), '\ble\b|\bla\b|\bet\b|\best\b|\bles\b')) AS s_fr,
           len(regexp_extract_all(lower(text), '\bel\b|\bla\b|\by\b|\bes\b|\blos\b')) AS s_es,
           length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS cjk
         FROM documents),
         q AS (SELECT text,
           CASE WHEN cjk > 0 THEN 'zh'
                WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
                WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                ELSE 'es' END AS pred_lang
         FROM p)
         SELECT coalesce(pred_lang, 'ALL') AS lang, count(*) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           round(avg(len(regexp_split_to_array(trim(text), '\s+'))), 4)
             AS avg_tokens
         FROM q GROUP BY ROLLUP(pred_lang) ORDER BY lang""")),

    // Stratified deterministic sampling (sampleBy without RNG): each
    // event_type keeps its own hash-bucket fraction; membership is a
    // pure function of event_id so the oracle recomputes every row.
    CatalogEntry("q43_stratified_sample", (s, d) => {
      operators.Curation.stratifiedHashSample(t(s, d, "events"),
          "event_id", "event_type",
          Map("click" -> 0.2, "view" -> 0.1, "purchase" -> 1.0),
          defaultRate = 0.05, hashFn = operators.Dedup.md5Hash60)
        .select($"event_id", $"event_type")
        .orderBy($"event_id")
    }, Some(
      """WITH b AS (SELECT event_id, event_type,
           ('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
             % 1000000 AS bkt
         FROM events)
         SELECT event_id, event_type FROM b
         WHERE bkt < CASE event_type WHEN 'click' THEN 200000
                       WHEN 'view' THEN 100000 WHEN 'purchase' THEN 1000000
                       ELSE 50000 END
         ORDER BY event_id""")),

    // Weighted domain mixing: deterministic fractional upsampling —
    // floor(w) copies plus one hash-selected extra for the fractional
    // part, so realized multiplicity is a pure function of the key.
    CatalogEntry("q45_upsample_mix", (s, d) => {
      val w = when($"event_type" === "purchase", 2.5)
        .when($"event_type" === "click", 0.5).otherwise(1.0)
      operators.Curation.upsampleByWeight(t(s, d, "events"), "event_id", w,
          hashFn = operators.Dedup.md5Hash60)
        .select($"event_id", $"event_type", $"copy")
        .orderBy($"event_id", $"copy")
    }, Some(
      """WITH b AS (SELECT event_id, event_type,
           ('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
             % 1000000 AS bkt
         FROM events),
         w AS (SELECT event_id, event_type,
           CASE event_type WHEN 'purchase' THEN 2
                           WHEN 'click' THEN 0 ELSE 1 END
           + CASE WHEN bkt < (CASE event_type WHEN 'purchase' THEN 500000
                                WHEN 'click' THEN 500000 ELSE 0 END)
                  THEN 1 ELSE 0 END AS copies
         FROM b)
         SELECT event_id, event_type,
           unnest(generate_series(0, copies - 1)) AS copy
         FROM w WHERE copies > 0 ORDER BY event_id, copy""")),

    // Salted two-phase aggregation over hot keys (5 event types share
    // all rows — maximal key skew): per-(key, salt) partials recombine
    // exactly for algebraic aggregates, so the oracle is the PLAIN
    // unsalted aggregate — the gate pins the decomposition's
    // correctness, q01-style rounding absorbs double-sum order.
    CatalogEntry("q48_salted_agg", (s, d) => {
      operators.Skew.saltedSumStats(t(s, d, "events"),
          Seq("event_type"), "value", salts = 16)
        .select($"event_type", round($"sum_value", 2).as("sum_value"),
          $"n", $"min_value", $"max_value")
        .orderBy($"event_type")
    }, Some(
      """SELECT event_type, round(sum(value), 2) AS sum_value,
           count(value) AS n, min(value) AS min_value,
           max(value) AS max_value
         FROM events GROUP BY 1 ORDER BY 1""")),

    // F1: haversine distance between consecutive synthetic GPS points
    // (lib/process_gpx_data.py:26-37)
    CatalogEntry("q20_haversine", (s, d) => {
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val ev = t(s, d, "events")
        .withColumn("lat", lit(-26.0) + $"value" / 100.0)
        .withColumn("lon", lit(-48.0) + ($"event_id" % 100).cast("double") / 100.0)
        .withColumn("plat", lag($"lat", 1).over(w))
        .withColumn("plon", lag($"lon", 1).over(w))
      ev.select($"user_id", $"event_id",
          round(graft.functions.Geo.haversineKm($"plat", $"plon", $"lat", $"lon"), 6)
            .as("dist_km"))
        .orderBy($"user_id", $"event_id")
    }, Some(
      """WITH p AS (SELECT user_id, event_id,
           -26.0 + value/100.0 AS lat, -48.0 + (event_id % 100)/100.0 AS lon,
           lag(-26.0 + value/100.0) OVER w AS plat,
           lag(-48.0 + (event_id % 100)/100.0) OVER w AS plon
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT user_id, event_id, round(
           6371.0 * 2 * asin(sqrt(
             pow(sin(radians(lat - plat)/2), 2) +
             cos(radians(plat)) * cos(radians(lat)) *
             pow(sin(radians(lon - plon)/2), 2))), 6) AS dist_km
         FROM p ORDER BY user_id, event_id"""))
  )
}
