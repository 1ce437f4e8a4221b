package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Geo
import graft.operators.TimeSeries

/** E3/E4 — the unify stages: telemetry ⟕ solar forecast
  * (lib/unifier_with_forecast_data.py:11-104) and telemetry ⟕ GPS
  * (lib/process_gpx_data.py:105-200).
  *
  * Both follow the reference shape exactly: snap telemetry onto its
  * constant-frequency grid (A4, keep-first dedup P8), re-sample the
  * small right-hand table onto the (optionally −3h shifted, quirk of
  * `shift_back_localize`) telemetry timestamps — linear interpolation
  * with trailing forward-fill for the forecast (J5/Q8), as-of ffill
  * for GPS (J4) — then a plain equi left join on timestamp (J2/J3,
  * duplicates allowed, Q9).
  *
  * Scale: every window and grid here is partitioned by the caller's
  * `keys` (the season driver passes the dataset id — the reference
  * itself unifies per dataset file in a process pool,
  * lib/unifier_with_forecast_data.py:131-139, so per-dataset keys
  * reproduce its semantics exactly while scaling out). The raw
  * forecast/GPS side is tiny (10³-10⁴ rows) and is replicated per key
  * via a broadcast of the distinct key tuples; the ALIGNED tables are
  * grid-sized, so their joins carry no broadcast hint — Catalyst/AQE
  * picks by measured size.
  */
object UnifyStages {

  /** A4 + P8: dedup timestamps keep-first, then snap onto the dense
    * period grid from min to max ts PER KEY (null-filled rows for
    * missing ticks — pandas asfreq). "First" after a shuffle is
    * arbitrary, so the keep-first pick orders by the remaining columns
    * — deterministic across runs (documented deviation from the
    * reference's file-order pick, which a shuffled engine cannot see). */
  def telemetryGrid(telemetry: DataFrame, tsCol: String, period: String,
                    keys: Seq[String] = Nil): DataFrame = {
    val stepUs = graft.operators.Period.micros(period)
    val orderCols = telemetry.columns.filterNot((keys :+ tsCol).contains).toSeq
    val dedup = TimeSeries.dedupKeepFirst(telemetry, keys :+ tsCol,
      if (orderCols.isEmpty) Seq(tsCol) else orderCols)
    val k = keys.map(col)
    // per-key bounds: datasets days apart never densify the gap
    // between them (a global grid would materialize millions of empty
    // sub-second rows there)
    val bounds = dedup.groupBy(k: _*)
      .agg(min(col(tsCol)).as("lo"), max(col(tsCol)).as("hi"))
    val grid = bounds.select((k :+ explode(sequence(col("lo"), col("hi"),
      expr(s"INTERVAL $stepUs MICROSECOND"))).as(tsCol)): _*)
    grid.join(dedup, keys :+ tsCol, "left")
  }

  /** Forecast side of E3: interpolate the (prefixed) forecast columns
    * onto the telemetry grid timestamps, shifted back `shiftHours` when
    * the season used `shift_back_localize`. Returns rows keyed by the
    * SHIFTED timestamp (the reference joins on that equality —
    * lib/unifier_with_forecast_data.py:66-84). With `keys`, the (tiny)
    * forecast is replicated per distinct key tuple so the alignment
    * window partitions by key. */
  def alignForecast(gridTs: DataFrame, forecast: DataFrame, tsCol: String,
                    valueCols: Seq[String], shiftHours: Int,
                    keys: Seq[String] = Nil): DataFrame = {
    val shifted = gridTs.select((keys.map(col) :+
      (col(tsCol) - expr(s"INTERVAL $shiftHours HOURS")).as(tsCol)): _*)
    // union trick: grid rows (null values) + forecast rows, one window
    // pass per column — linear interp between forecast brackets, flat
    // fill after the last one (pandas interpolate default, J5)
    val f0 = forecast.select((col(tsCol) +: valueCols.map(col)): _*)
      .withColumn("__src", lit(1))
    val f = if (keys.isEmpty) f0
      else f0.crossJoin(broadcast(gridTs.select(keys.map(col): _*).distinct()))
    val g = shifted.select((col("*") +: lit(0).as("__src") +:
      valueCols.map(c => lit(null).cast("double").as(c))): _*)
    val merged = g.unionByName(f.select(g.columns.toIndexedSeq.map(col): _*))
    // at equal ts the forecast row must sort BEFORE the grid row so an
    // exact index match returns the exact value (pandas reindex)
    val interped0 = TimeSeries.interpolateMany(merged, tsCol, valueCols, keys,
      fillForward = true, orderTieBreak = Seq(-col("__src")))
    // keep only grid rows (the reindex result), at their shifted ts
    interped0.filter(col("__src") === 0)
      .select(g.columns.toIndexedSeq.filter(_ != "__src").map(c =>
        if (valueCols.contains(c)) col(s"interp__$c").as(c) else col(c)): _*)
  }

  /** E3 — unify telemetry with the solar forecast. `forecast` columns
    * (beyond ts) are joined back with a `solcast_` prefix. */
  def unifyForecast(telemetry: DataFrame, forecast: DataFrame, tsCol: String,
                    period: String, shiftBackLocalize: Boolean,
                    keys: Seq[String] = Nil): DataFrame = {
    val grid = telemetryGrid(telemetry, tsCol, period, keys)
    val shiftH = if (shiftBackLocalize) 3 else 0
    val valueCols = forecast.columns.filterNot(_ == tsCol).toSeq
    val aligned = alignForecast(grid.select((keys :+ tsCol).map(col): _*),
      forecast, tsCol, valueCols, shiftH, keys)
    val prefixed = aligned.withColumnsRenamed(
      valueCols.map(c => c -> s"solcast_$c").toMap)
    // J2: plain equi left join — the interpolation already aligned
    // keys. No broadcast hint: `prefixed` is GRID-sized (one row per
    // telemetry tick), not forecast-sized; AQE broadcasts it only when
    // it actually measures small.
    grid.join(prefixed, keys :+ tsCol, "left")
  }

  /** F1-F3 + A8/A10 — process a GPS track (lib/process_gpx_data.py:40-73):
    * per-point heading/speed/distance from the previous point (first
    * point null), speed via the Q7 `.dt.seconds` quirk and Δt=0→null,
    * nan-cumsum total distance, then dropna (P9). One window pass per
    * file. */
  def processGpsTrack(points: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("file")).orderBy(col("time"))
    val plat = lag(col("latitude"), 1).over(w)
    val plon = lag(col("longitude"), 1).over(w)
    val dtTotal = unix_micros(col("time")) - unix_micros(lag(col("time"), 1).over(w))
    // Q7: pandas .dt.seconds — whole seconds within the day component
    val dtSecs = Geo.dtSecondsComponent((dtTotal / 1000000L).cast("long"))
    val dist = Geo.haversineKm(plat, plon, col("latitude"), col("longitude"))
    val cumW = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    processed(points
      .withColumn("speed", Geo.speedKmh(dist, dtSecs.cast("double")))
      .withColumn("heading", Geo.headingDeg(plat, plon, col("latitude"), col("longitude")))
      .withColumn("distance", sum(coalesce(dist, lit(0.0))).over(cumW)))
  }

  private def processed(df: DataFrame): DataFrame =
    df.withColumnRenamed("time", "timestamp")
      .na.drop(Seq("timestamp", "latitude", "longitude", "speed", "heading"))

  /** E4 — unify telemetry with a processed GPS track: J4 as-of ffill
    * onto the (optionally shifted) telemetry timestamps, then the J3
    * equi left join with `gps_` prefix. */
  def unifyGps(telemetry: DataFrame, gpsTrack: DataFrame, tsCol: String,
               shiftBackLocalize: Boolean, keys: Seq[String] = Nil): DataFrame = {
    val shiftH = if (shiftBackLocalize) 3 else 0
    val gpsCols = gpsTrack.columns.filterNot(c => c == "timestamp" || c == "file").toSeq
    val shifted = telemetry.select((keys.map(col) :+
      (col(tsCol) - expr(s"INTERVAL $shiftH HOURS")).as("timestamp")): _*)
    val gps0 = gpsTrack.drop("file")
    // tiny GPS track replicated per key so the as-of window partitions
    val gps = if (keys.isEmpty) gps0
      else gps0.crossJoin(broadcast(telemetry.select(keys.map(col): _*).distinct()))
    val aligned = TimeSeries.asofJoin(shifted, gps, "timestamp", keys, gpsCols)
    // the reference joins telemetry.ts against the SHIFTED gps index
    // (lib/process_gpx_data.py:162-180): telemetry row t matches the
    // gps row reindexed AT t (whose index is t'−3h = t for some t').
    val prefixed = aligned.select((keys.map(col) ++
        Seq(col("timestamp").as(tsCol)) ++
        gpsCols.map(c => col(s"asof_$c").as(s"gps_$c"))): _*)
      .dropDuplicates(keys :+ tsCol)
    // no broadcast hint: `prefixed` has telemetry cardinality
    telemetry.join(prefixed, keys :+ tsCol, "left")
  }
}
