package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.types.{DataType, DoubleType, StructField, StructType, TimestampType}

/** F8 solar position (PSA ephemeris, Blanco-Muriel et al. 2001, plus
  * the Saemundsson refraction correction) as ONE native Catalyst
  * expression: `struct<zenith, apparent_zenith, elevation, azimuth>`
  * in degrees for a timestamp and a site `lat`/`lon` in degrees.
  * [[graft.functions.Solar.solarPosition]] is its Column entry point.
  *
  * Why native: the closed form written over Columns reuses every
  * intermediate (day count, ecliptic longitude, hour angle, zenith) as
  * a Scala value, and every reuse copies the whole subtree into the
  * plan — the processed forecast's optimized plan held ~16k expression
  * nodes, which Catalyst analyzed, optimized and code-generated on the
  * driver for a 10³-row table. Here the plan holds one node and
  * codegen calls one Scala function per row.
  *
  * Values are IDENTICAL to that Column form, bit for bit: the same
  * `java.lang.Math` calls in the same operation order and
  * associativity; `atan2` adds `+ 0.0` to both arguments as Spark's
  * `Atan2` does; the two `< 0` / `>=` tests use Spark's double
  * ordering (NaN above everything, -0.0 = 0.0); refraction is computed
  * only on the branch the CASE took. A null input yields a non-null
  * struct of null fields, as `struct(...)` over null-propagating
  * arithmetic did.
  */
case class SolarPosition(ts: Expression, lat: Expression, lon: Expression,
                         pressurePa: Double, temperatureC: Double)
    extends TernaryExpression {

  override def first: Expression = ts
  override def second: Expression = lat
  override def third: Expression = lon
  override def checkInputDataTypes(): TypeCheckResult =
    if (ts.dataType == TimestampType && lat.dataType == DoubleType &&
        lon.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (timestamp, double, double), got " +
        children.map(_.dataType.simpleString).mkString("(", ", ", ")"))
  override def dataType: DataType = SolarPosition.Schema
  override def nullable: Boolean = false
  override def prettyName: String = "graft_solar_position"

  private lazy val refraction =
    SolarPosition.refractionScale(pressurePa, temperatureC)

  override def eval(input: InternalRow): Any = {
    val t = ts.eval(input)
    val la = lat.eval(input)
    val lo = lon.eval(input)
    if (t == null || la == null || lo == null) SolarPosition.nullRow()
    else SolarPosition.compute(t.asInstanceOf[Long],
      la.asInstanceOf[Double], lo.asInstanceOf[Double], refraction)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ts.genCode(ctx)
    val la = lat.genCode(ctx)
    val lo = lon.genCode(ctx)
    val obj = "graft.expressions.SolarPosition$.MODULE$"
    val scale = s"java.lang.Double.longBitsToDouble(" +
      s"${java.lang.Double.doubleToRawLongBits(refraction)}L)"
    ev.copy(code = code"""
      ${t.code}
      ${la.code}
      ${lo.code}
      final org.apache.spark.sql.catalyst.InternalRow ${ev.value} =
        (${t.isNull} || ${la.isNull} || ${lo.isNull}) ? $obj.nullRow()
        : $obj.compute(${t.value}, ${la.value}, ${lo.value}, $scale);
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): SolarPosition =
    copy(ts = newFirst, lat = newSecond, lon = newThird)
}

object SolarPosition {

  val Schema: StructType = StructType(
    Seq("zenith", "apparent_zenith", "elevation", "azimuth")
      .map(StructField(_, DoubleType)))

  private val DegToRad = math.Pi / 180.0
  private val TwoPi = 2 * math.Pi
  /** earth mean radius / astronomical unit (parallax correction) */
  private val EmrOverAu = 6371.01 / 149597890.0
  /** the refraction cutoff: the sun's apparent radius plus the
    * standard horizon refraction, below the horizon */
  private val RefractionCutoff = -1.0 * (0.26667 + 0.5667)

  /** Saemundsson's pressure/temperature scale on the 1.02 arc-minute
    * coefficient (1010 hPa, 10 °C). */
  def refractionScale(pressurePa: Double, temperatureC: Double): Double =
    (pressurePa / 100.0) / 1010.0 * (283.0 / (273.0 + temperatureC)) * 1.02

  def nullRow(): InternalRow = new GenericInternalRow(4)

  /** The position at `micros` since the epoch (UTC), degrees in and
    * out. */
  def compute(micros: Long, lat: Double, lon: Double,
              refraction: Double): InternalRow = {
    val us = micros.toDouble
    // elapsed days since J2000.0 (Julian date − 2451545.0)
    val n = us / 86400.0e6 + 2440587.5 - 2451545.0
    // decimal UT hour
    val hour = (us / 3.6e9) % 24.0
    // ecliptic coordinates (radians)
    val omega = 2.1429 - 0.0010394594 * n
    val meanLon = 4.8950630 + 0.017202791698 * n
    val meanAnom = 6.2400600 + 0.0172019699 * n
    val eclLon = meanLon + 0.03341607 * Math.sin(meanAnom) +
      0.00034894 * Math.sin(2.0 * meanAnom) - 0.0001134 -
      0.0000203 * Math.sin(omega)
    val eclObl = 0.4090928 - 6.2140e-9 * n + 0.0000396 * Math.cos(omega)
    // celestial coordinates
    val sinEclLon = Math.sin(eclLon)
    val ra0 = Math.atan2(Math.cos(eclObl) * sinEclLon + 0.0,
      Math.cos(eclLon) + 0.0)
    val ra = if (SQLOrderingUtil.compareDoubles(ra0, 0.0) < 0) ra0 + TwoPi else ra0
    val dec = Math.asin(Math.sin(eclObl) * sinEclLon)
    // local hour angle
    val gmst = 6.6974243242 + 0.0657098283 * n + hour
    val lmst = (gmst * 15.0 + lon) * DegToRad
    val ha = lmst - ra
    val latR = lat * DegToRad
    val cosLat = Math.cos(latR)
    val sinLat = Math.sin(latR)
    val zen0 = Math.acos(cosLat * Math.cos(ha) * Math.cos(dec) +
      Math.sin(dec) * sinLat)
    val az0 = Math.atan2(-Math.sin(ha) + 0.0,
      Math.tan(dec) * cosLat - sinLat * Math.cos(ha) + 0.0)
    val azimuth = Math.toDegrees(
      if (SQLOrderingUtil.compareDoubles(az0, 0.0) < 0) az0 + TwoPi else az0)
    // parallax correction
    val zenith = Math.toDegrees(zen0 + EmrOverAu * Math.sin(zen0))
    val elev = 90.0 - zenith
    // Saemundsson refraction (as in NREL SPA / pvlib defaults):
    // applied only when the sun is above the apparent horizon
    val delta =
      if (SQLOrderingUtil.compareDoubles(elev, RefractionCutoff) >= 0)
        refraction / (60.0 * Math.tan(Math.toRadians(elev + 10.3 / (elev + 5.11))))
      else 0.0
    val appZenith = 90.0 - (elev + delta)
    new GenericInternalRow(Array[Any](zenith, appZenith, elev, azimuth))
  }
}
