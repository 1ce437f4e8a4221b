package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series toolkit: the distributed re-expression of the reference
  * pipeline's pandas time-series operations (SURVEY.md §2.4-§2.5).
  *
  * Everything here is expressed with built-in Column functions and
  * window specs so Catalyst/Tungsten keep whole-stage codegen; every
  * window is partitioned by user-supplied key columns so the work
  * scales out (a window over `partitionBy(keys)` shuffles once on the
  * keys and sorts within partitions — no driver-side loops).
  *
  * Scale note (100 TB): all operators take `keys: Seq[String]` and
  * parallelize across keys (device/file/user). For a single global
  * series, callers should pre-split by coarse time range (e.g. one
  * key per day) and fix up boundaries; the reference itself operates
  * per-file/per-chunk (lib/canparser.py:287-299), so per-file keys
  * reproduce its semantics exactly while remaining parallel.
  */
object TimeSeries {

  private def w(keys: Seq[String], order: Seq[Column]) =
    Window.partitionBy(keys.map(col): _*).orderBy(order: _*)

  /** A2 (lib/resampler.py:97-99): tumbling-window resample at
    * MICROSECOND granularity — the reference's live period list
    * includes `"100ms"` (main_2020.py:140), so bucket math runs on
    * `unix_micros`, exact integer arithmetic for any period ≥ 1 µs.
    * Buckets are wall-clock aligned: ts − (ts mod period).
    * Emits sum/count per value column; mean = round(sum,2)/count is
    * derived exactly (deterministic across engines).
    */
  def resampleAggMicros(df: DataFrame, tsCol: String, periodUs: Long,
                        keys: Seq[String], valueCol: String): DataFrame = {
    val us = unix_micros(col(tsCol))
    val bucket = timestamp_micros(us - pmod(us, lit(periodUs)))
    df.groupBy((keys.map(col) :+ bucket.as("bucket_ts")): _*)
      .agg(round(sum(col(valueCol)), 2).as("sum_value"),
           count(lit(1)).as("n"))
      .withColumn("mean_value", col("sum_value") / col("n"))
  }

  /** [[resampleAggMicros]] with the period in whole seconds. */
  def resampleAgg(df: DataFrame, tsCol: String, periodSec: Long,
                  keys: Seq[String], valueCol: String): DataFrame =
    resampleAggMicros(df, tsCol, periodSec * 1000000L, keys, valueCol)

  /** [[resampleAggMicros]] with a pandas-style period ("100ms"). */
  def resampleAgg(df: DataFrame, tsCol: String, period: String,
                  keys: Seq[String], valueCol: String): DataFrame =
    resampleAggMicros(df, tsCol, Period.micros(period), keys, valueCol)

  /** A8 (lib/process_gpx_data.py:71): cumulative sum (nancumsum —
    * nulls contribute 0 but rows are kept). */
  def cumsum(df: DataFrame, tsCol: String, valueCol: String,
             keys: Seq[String], orderTieBreak: Seq[String] = Nil): DataFrame = {
    val win = w(keys, (tsCol +: orderTieBreak).map(col))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("cum_value", sum(coalesce(col(valueCol), lit(0.0))).over(win))
  }

  /** A9 (lib/process_solcast_historic_data.py:7-17): cumulative
    * trapezoidal integral with non-uniform dx taken from the timestamp
    * column, in hours (energy Wh from power W). First row integrates to
    * 0 (cumtrapz initial=0). */
  def cumtrapz(df: DataFrame, tsCol: String, valueCol: String,
               keys: Seq[String], orderTieBreak: Seq[String] = Nil): DataFrame = {
    val ord = (tsCol +: orderTieBreak).map(col)
    val lagW = w(keys, ord)
    val cumW = lagW.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val v = col(valueCol)
    val dtH = (unix_micros(col(tsCol)) -
      unix_micros(lag(col(tsCol), 1).over(lagW))).cast("double") / 3.6e9
    val seg = (v + lag(v, 1).over(lagW)) / 2.0 * dtH
    df.withColumn("integral", coalesce(sum(seg).over(cumW), lit(0.0)))
  }

  /** A10 (lib/process_gpx_data.py:49-56): adjacent-row diff via lag(1). */
  def lagDiff(df: DataFrame, tsCol: String, valueCol: String,
              keys: Seq[String], orderTieBreak: Seq[String] = Nil): DataFrame = {
    val win = w(keys, (tsCol +: orderTieBreak).map(col))
    df.withColumn("prev_value", lag(col(valueCol), 1).over(win))
      .withColumn("diff_value", col(valueCol) - col("prev_value"))
  }

  /** P8 (lib/unifier_with_forecast_data.py:41): dedup on timestamp,
    * keep-first in a deterministic order — the row_number window form.
    *
    * Strategy note (round-7 measurement): the min_by hash-aggregate
    * form ([[dedupKeepFirstMinBy]]) wins ONLY on duplicate-heavy
    * NARROW inputs, where the map-side partial combine collapses the
    * shuffle. Telemetry tables are the opposite — mostly-unique keys
    * (no combine win) ordered by EVERY data column, so the aggregate
    * builds a ~45-field struct buffer per input row and falls out of
    * whole-stage codegen: switching this path to min_by cost the
    * season e2e +4 s and 5× GC at sf0.1 (bisected to that commit).
    * The codegen'd window sort is the right default here. */
  def dedupKeepFirst(df: DataFrame, keyCols: Seq[String],
                     orderCols: Seq[String]): DataFrame = {
    val win = w(keyCols, orderCols.map(col))
    // collision-free working column: an input that already carries a
    // __rn column must not have it clobbered and silently dropped
    val rn = Iterator.from(0).map(i => if (i == 0) "__rn" else s"__rn$i")
      .find(n => !df.columns.contains(n)).get
    df.withColumn(rn, row_number().over(win))
      .filter(col(rn) === 1).drop(rn)
  }

  /** [[dedupKeepFirst]] as a `min_by` hash aggregate — the shape for
    * duplicate-HEAVY, narrow inputs (exact document dedup): the
    * partial combine sends one row per distinct key to the exchange
    * instead of shuffling and sorting every duplicate. Value-identical
    * to the window form (lexicographic struct ordering = the
    * multi-column sort; ties pick an arbitrary winner either way). */
  def dedupKeepFirstMinBy(df: DataFrame, keyCols: Seq[String],
                          orderCols: Seq[String]): DataFrame = {
    val others = df.columns.filterNot(keyCols.contains)
    if (others.isEmpty) return df.distinct()
    // ordering wrapped in a (never-null) struct: min_by SKIPS rows
    // whose ordering expression is null, but the window form kept
    // them (NULLS FIRST) — the struct's field-level null-first
    // comparison reproduces that exactly
    df.groupBy(keyCols.map(col): _*)
      .agg(min_by(struct(others.toIndexedSeq.map(col): _*),
        struct(orderCols.map(col): _*)).as("__r"))
      .select(df.columns.toIndexedSeq.map(c =>
        if (keyCols.contains(c)) col(c) else col(s"__r.`$c`").as(c)): _*)
  }

  /** J4 (lib/process_gpx_data.py:165-169): as-of alignment (ffill
    * reindex) via the union trick — tag both sides, union, and carry the
    * right side's latest values forward onto left rows with
    * last(ignoreNulls) over an unbounded-preceding window. One shuffle,
    * co-partitioned on the join keys; never O(n^2).
    *
    * Left rows receive, for each `rightVals` column `c`, a column
    * `asof_c` holding the most recent right-side value at-or-before the
    * left timestamp. Right-side ties on ts: the last one in
    * (ts, tieBreak) order wins — pass tieBreak to pin determinism.
    */
  def asofJoin(left: DataFrame, right: DataFrame, tsCol: String,
               keys: Seq[String], rightVals: Seq[String],
               rightTieBreak: Seq[String] = Nil): DataFrame = {
    // tie-break columns ride in a struct of their ORIGINAL types
    // (structs order lexicographically) — a cast to one numeric type
    // would null out string ids and truncate doubles, silently
    // un-pinning the determinism this parameter exists for; the left
    // side carries a typed null of the same struct for the union
    val tieType = org.apache.spark.sql.types.StructType(rightTieBreak.map(c =>
      org.apache.spark.sql.types.StructField(c, right.schema(c).dataType)))
    val lTie =
      if (rightTieBreak.isEmpty) lit(null).cast("long")
      else lit(null).cast(tieType)
    val rTie =
      if (rightTieBreak.isEmpty) lit(0L)
      else struct(rightTieBreak.map(col): _*)
    val l = left.select((col("*") +: lit(1).as("__side") +: lTie.as("__tie") +:
      rightVals.map(c => lit(null).cast(right.schema(c).dataType).as(s"__r_$c"))): _*)
    val r0 = right.select(
      (keys.map(col) :+ col(tsCol) :+ lit(0).as("__side") :+ rTie.as("__tie")) ++
        rightVals.map(c => col(c).as(s"__r_$c")): _*)
    val r0Cols = r0.columns.toSet
    val r = r0.select(l.columns.toIndexedSeq.map(c =>
      if (r0Cols(c)) col(c) else lit(null).as(c)): _*)
    // __side=0 (right) sorts before __side=1 (left) at equal ts, so a
    // right row AT the left timestamp is visible (at-or-before).
    val win = w(keys, Seq(col(tsCol), col("__side"), col("__tie")))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = l.unionByName(r).select((col("*") +: rightVals.map(c =>
      last(col(s"__r_$c"), ignoreNulls = true).over(win).as(s"asof_$c"))): _*)
    filled.filter(col("__side") === 1)
      .drop(("__side" +: "__tie" +: rightVals.map(c => s"__r_$c")): _*)
  }

  /** J5/A3 (lib/unifier_with_forecast_data.py:69-73, lib/resampler.py:63-66):
    * linear interpolation of null gaps between the bracketing non-null
    * values, by time. `maxGap` (rows) bounds how many consecutive nulls
    * get filled (pandas interpolate(limit=..., limit_area="inside"));
    * maxGap<=0 means unlimited. "inside" semantics: both a previous and
    * a next non-null value must exist.
    */
  def interpolateLinear(df: DataFrame, tsCol: String, valueCol: String,
                        keys: Seq[String], maxGap: Int = 0,
                        fillForward: Boolean = false): DataFrame = {
    val out = interpolateMany(df, tsCol, Seq(valueCol), keys, maxGap,
      fillForward, outPrefix = "interp__")
    out.withColumnRenamed(s"interp__$valueCol", "interp_value")
  }

  /** Multi-column variant of [[interpolateLinear]]: all columns share
    * ONE window pass (same partitioning/ordering spec → a single
    * Window operator with many expressions), which keeps the plan
    * linear when interpolating hundreds of telemetry signals
    * (lib/resampler.py applies interpolate() to the whole wide frame).
    * Adds `outPrefix+c` for each input column.
    *
    * Gap accounting without a second partitioning: the position of a
    * null row within its run = rn − rn(last non-null at-or-before) —
    * pandas interpolate(limit=n) fills only positions ≤ n.
    */
  def interpolateMany(df: DataFrame, tsCol: String, valueCols: Seq[String],
                      keys: Seq[String], maxGap: Int = 0,
                      fillForward: Boolean = false,
                      outPrefix: String = "interp__",
                      orderTieBreak: Seq[Column] = Nil): DataFrame = {
    val ord = col(tsCol) +: orderTieBreak
    val base = w(keys, ord)
    val prevW = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // "next non-null at-or-after" is evaluated as a RUNNING window over
    // the REVERSED ordering, not as [currentRow, unboundedFollowing]:
    // aggregates can't retract, so Spark's unbounded-following frame
    // re-scans the rest of the partition for every row — O(n²) per
    // partition (measured: 70 s vs 3.7 s on q11 at sf0.1). The
    // descending running frame uses the O(n) incremental evaluator and
    // costs one extra in-partition sort under the same shuffle.
    val nextW = w(keys, ord.map(_.desc))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val t = unix_micros(col(tsCol)).cast("double")
    val rn = row_number().over(base)
    val withRn = df.withColumn("__rn", rn)
    val interpCols = valueCols.map { c =>
      val v = col(c)
      val pv = last(v, ignoreNulls = true).over(prevW)
      val nv = last(v, ignoreNulls = true).over(nextW)
      val pt = last(when(v.isNotNull, t), ignoreNulls = true).over(prevW)
      val nt = last(when(v.isNotNull, t), ignoreNulls = true).over(nextW)
      val prevRn = last(when(v.isNotNull, col("__rn")), ignoreNulls = true).over(prevW)
      val gap = col("__rn") - prevRn
      val frac = (t - pt) / (nt - pt)
      // pandas interpolate(limit=n) bounds trailing forward-fills too
      val trailing =
        if (fillForward)
          when(pv.isNotNull && nv.isNull &&
            (lit(maxGap) <= 0 || gap <= maxGap), pv)
        else lit(null)
      when(v.isNotNull, v).otherwise(
        when(pv.isNotNull && nv.isNotNull &&
             (lit(maxGap) <= 0 || gap <= maxGap),
          pv + (nv - pv) * frac)
          .otherwise(trailing)).as(s"$outPrefix$c")
    }
    withRn.select(col("*") +: interpCols: _*).drop("__rn")
  }

  /** A5/P12 (lib/resampler.py:40-56): IQR outlier fences — values
    * outside [q1-1.5iqr, q3+1.5iqr] blanked to null. Quantiles are
    * exact interpolated percentiles (matches pandas/DuckDB
    * quantile_cont). Replicates quirk Q4: blanking only, no
    * re-interpolation (the reference discards interpolate()'s result).
    */
  def iqrBlank(df: DataFrame, valueCol: String, keys: Seq[String],
               p: Double = 0.25): DataFrame = {
    val v = col(valueCol)
    val q = df.groupBy(keys.map(col): _*)
      .agg(expr(s"percentile($valueCol, ${p})").as("__q1"),
           expr(s"percentile($valueCol, ${1 - p})").as("__q3"))
      .withColumn("__lo", col("__q1") - (col("__q3") - col("__q1")) * 1.5)
      .withColumn("__hi", col("__q3") + (col("__q3") - col("__q1")) * 1.5)
    df.join(broadcast(q), keys)  // quantile table is tiny: one row per key
      .withColumn("clean_value",
        when(v < col("__lo") || v > col("__hi"), lit(null)).otherwise(v))
      .drop("__q1", "__q3")
  }

  /** A6 (lib/canparser.py:244-260): lag-k timestamp-jump outlier filter.
    * diff = ts[i] - ts[i-k] (first k rows: 0); drop rows where
    * 1e11 < |diff| < 1e12 nanoseconds. Partitioned per file/key, as the
    * reference operates per chunk. */
  def timestampJumpFilter(df: DataFrame, tsCol: String, keys: Seq[String],
                          k: Int = 10000, orderTieBreak: Seq[String] = Nil,
                          exempt: Column = lit(false)): DataFrame = {
    val win = w(keys, (tsCol +: orderTieBreak).map(col))
    val diffNs = (unix_micros(col(tsCol)) -
      unix_micros(lag(col(tsCol), k).over(win))) * 1000L
    val d = coalesce(diffNs, lit(0L))
    // `exempt` rows always pass (Q10: 'db' files skip the filter) —
    // one window pass instead of a union of filtered/unfiltered branches
    df.withColumn("__d", abs(d))
      .filter(exempt || !(col("__d") > 1e11.toLong && col("__d") < 1e12.toLong))
      .drop("__d")
  }

  /** Gap-based sessionization: a new session starts when the gap from
    * the previous event exceeds `gapSec`. Classic training-pipeline op;
    * cumulative sum of new-session flags (exact integer arithmetic). */
  def sessionize(df: DataFrame, tsCol: String, keys: Seq[String],
                 gapSec: Long, orderTieBreak: Seq[String] = Nil): DataFrame = {
    val ord = (tsCol +: orderTieBreak).map(col)
    val win = w(keys, ord)
    val cumW = win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gap = unix_micros(col(tsCol)) -
      unix_micros(lag(col(tsCol), 1).over(win))
    val isNew = when(gap.isNull || gap > gapSec * 1000000L, 1L).otherwise(0L)
    df.withColumn("session_id", sum(isNew).over(cumW))
  }

  /** J1 (lib/unify_parsed_candump.py:13-27): union-merge — clip the
    * reference dataset to the chunk's [min ts, max ts], concat, sort.
    * The bounds stay a lazy 1-row aggregate broadcast onto the
    * reference side (no driver collect, one plan). */
  def unionMerge(chunk: DataFrame, reference: DataFrame, tsCol: String,
                 orderTieBreak: Seq[String] = Nil): DataFrame = {
    val bounds = chunk.agg(min(col(tsCol)).as("__lo"), max(col(tsCol)).as("__hi"))
    val clipped = reference.crossJoin(broadcast(bounds))
      .filter(col(tsCol).between(col("__lo"), col("__hi")))
      .drop("__lo", "__hi")
    chunk.unionByName(clipped, allowMissingColumns = true)
      .orderBy((tsCol +: orderTieBreak).map(col): _*)
  }
}
