package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Period, TimeSeries}

/** E2 — the resample stage (lib/resampler.py:59-101): sparse wide
  * telemetry → constant-period mean bins (A2, wall-clock aligned,
  * empty bins materialized as null rows) → time-interpolation limited
  * to 60 s of consecutive ticks, interior-only (A3). There is no IQR
  * outlier pass, replicating quirk Q4 (the reference comments it out
  * at lib/resampler.py:92-95).
  *
  * Periods are pandas-style strings at MICROSECOND granularity — the
  * reference's live period lists include `"100ms"` (main_2020.py:140).
  *
  * Architecture: the wide frame is MELTED to long form
  * (keys, timestamp, signal, value) and every per-signal operation —
  * bin mean, dense grid, gap-limited interpolation — runs
  * over (keys, signal) groups with ONE constant-size expression set;
  * a single pivot at the end restores the wide layout. A naive wide
  * formulation needs ~6 window expressions PER SIGNAL (~4,000 for a
  * real season schema), which blows up Catalyst analysis/optimization
  * on the driver — melting makes the signal a DATA value, so the plan
  * size is independent of schema width and the interpolation window
  * partitions by (dataset, signal), parallelizing across signals too.
  * The sparse long form is filtered to non-null values before the bin
  * aggregate, so shuffle volume tracks decoded fields, not
  * rows × schema width.
  *
  * `keys` is the parallelism unit: the reference resamples each
  * combined 1M-line chunk file separately (main_2020.py:150,
  * lib/resampler.py:103-122), so a per-dataset/per-chunk key
  * reproduces its semantics exactly; with `keys = Nil` the whole input
  * is ONE series per signal.
  */
object ResampleStage {

  def run(wide: DataFrame, signals: Seq[String], period: String,
          keys: Seq[String] = Nil): DataFrame = {
    require(signals.nonEmpty, "no signal columns to resample")
    val periodUs = Period.micros(period)
    val k = keys.map(col)
    // melt: one generator projection, rows = non-null decoded cells
    val stackExpr = s"stack(${signals.length}, " +
      signals.map(s => s"'$s', `$s`").mkString(", ") + ") AS (signal, value)"
    val melted = wide
      .select((k :+ col("timestamp")) :+ expr(stackExpr): _*)
      .filter(col("value").isNotNull)
    // A2: tumbling mean per (keys, signal) (partial-agg hash aggregate)
    val us = unix_micros(col("timestamp"))
    val bucket = timestamp_micros(us - pmod(us, lit(periodUs)))
    val binned = melted
      .groupBy((k :+ col("signal") :+ bucket.as("timestamp")): _*)
      .agg(avg(col("value")).as("value"))
    // materialize empty bins: per-key dense grid × signal list (A4
    // shape). Per-key bounds keep a union of datasets days apart from
    // densifying the gap between them at 100 ms.
    val bounds = binned.groupBy(k: _*)
      .agg(min(col("timestamp")).as("__lo"), max(col("timestamp")).as("__hi"))
    val grid = bounds
      .select((k :+ explode(sequence(col("__lo"), col("__hi"),
        expr(s"INTERVAL $periodUs MICROSECOND"))).as("timestamp")): _*)
      .select((k :+ col("timestamp") :+
        explode(array(signals.map(lit): _*)).as("signal")): _*)
    val dense = grid.join(binned, keys ++ Seq("signal", "timestamp"), "left")
    // A3: limited interior time-interpolation, one window pass
    // partitioned by (keys, signal)
    // (lib/resampler.py:66: limit = max(1, 60s / period) ticks)
    val limit = math.max(1L, 60000000L / math.max(periodUs, 1L)).toInt
    val interped = TimeSeries
      .interpolateMany(dense, "timestamp", Seq("value"),
        keys :+ "signal", maxGap = limit, fillForward = false)
      .withColumn("value", col("interp__value")).drop("interp__value")
    // pivot back to wide: one row per (keys, timestamp) exists per
    // signal, so first() is exact; the pivot list is schema-enumerated
    // (no extra distinct scan)
    interped.groupBy((k :+ col("timestamp")): _*)
      .pivot("signal", signals)
      .agg(first(col("value")))
  }
}
