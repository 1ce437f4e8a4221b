package graft.functions

import org.apache.spark.sql.{Column, GraftExpressionBridge}
import org.apache.spark.sql.functions._

import graft.expressions.SolarPosition

/** Solar model F8-F11 (lib/process_solcast_historic_data.py:20-71) as
  * Column expressions — fully codegen'd, no UDFs, distributable over
  * any number of rows. The solar position is one native expression
  * ([[graft.expressions.SolarPosition]]); the rest are Column
  * arithmetic.
  *
  * The reference uses pvlib: NREL SPA solar position, Spencer
  * extraterrestrial radiation, Kasten-Young 1989 relative airmass,
  * isotropic-sky POA transposition. Here the solar position uses the
  * PSA ephemeris (Blanco-Muriel et al., Solar Energy 70(5), 2001 —
  * a published compact algorithm, ±0.008° over 1999-2015) plus the
  * SPA-style Saemundsson refraction correction; documented deviation
  * from pvlib's full SPA is <0.01° in apparent zenith, negligible in
  * POA. Validated against the canonical NREL SPA test vector in
  * SolarSpec.
  */
object Solar {

  /** F8 — solar position (PSA ephemeris): returns a struct with
    * `zenith`, `apparent_zenith`, `elevation`, `azimuth` in degrees.
    * `lat`/`lon` in degrees (+N, +E). Refraction uses the reference
    * defaults (1013.25 hPa scaled by `pressure` Pa, 12 °C). One native
    * expression per call ([[graft.expressions.SolarPosition]]), so the
    * plan holds one node however often its fields are read.
    */
  def solarPosition(ts: Column, lat: Column, lon: Column,
                    pressurePa: Double = 101325.0,
                    temperatureC: Double = 12.0): Column =
    GraftExpressionBridge.column(SolarPosition(
      // each cast is a no-op (analyzer-removed) on the usual types
      GraftExpressionBridge.expression(ts.cast("timestamp")),
      GraftExpressionBridge.expression(lat.cast("double")),
      GraftExpressionBridge.expression(lon.cast("double")),
      pressurePa, temperatureC))

  /** F9 — extraterrestrial DNI, Spencer (1971) — pvlib
    * get_extra_radiation default (lib/process_solcast_historic_data.py:49). */
  def extraRadiation(ts: Column, solarConstant: Double = 1366.1): Column = {
    val doy = dayofyear(ts).cast("double")
    val b = lit(2 * math.Pi / 365.0) * (doy - 1.0)
    lit(solarConstant) * (lit(1.00011) + lit(0.034221) * cos(b) +
      lit(0.00128) * sin(b) + lit(0.000719) * cos(lit(2.0) * b) +
      lit(0.000077) * sin(lit(2.0) * b))
  }

  /** F10 — Kasten & Young (1989) relative airmass from apparent zenith
    * in degrees (lib/process_solcast_historic_data.py:50-55). Null
    * (as pvlib NaN) when the sun is below the horizon. */
  def airmassRelative(apparentZenithDeg: Column): Column =
    when(apparentZenithDeg < 90.0,
      lit(1.0) / (cos(radians(apparentZenithDeg)) +
        lit(0.50572) * pow(lit(96.07995) - apparentZenithDeg, lit(-1.6364))))

  /** F11 — isotropic-sky POA transposition
    * (lib/process_solcast_historic_data.py:57-71; pvlib
    * get_total_irradiance(model="isotropic")). Returns the
    * `poa_global` component:
    * beam = dni·max(cos aoi, 0); sky = dhi·(1+cos β)/2;
    * ground = ghi·albedo·(1−cos β)/2. */
  def poaGlobalIsotropic(
      surfaceTiltDeg: Column, surfaceAzimuthDeg: Column,
      zenithDeg: Column, azimuthDeg: Column,
      dni: Column, ghi: Column, dhi: Column, albedo: Column): Column = {
    val aoiProj =
      cos(radians(surfaceTiltDeg)) * cos(radians(zenithDeg)) +
        sin(radians(surfaceTiltDeg)) * sin(radians(zenithDeg)) *
          cos(radians(azimuthDeg - surfaceAzimuthDeg))
    val beam = dni * greatest(aoiProj, lit(0.0))
    val sky = dhi * (lit(1.0) + cos(radians(surfaceTiltDeg))) / 2.0
    val ground = ghi * albedo * (lit(1.0) - cos(radians(surfaceTiltDeg))) / 2.0
    beam + sky + ground
  }
}
