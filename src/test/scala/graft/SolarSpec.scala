package graft

import java.sql.Timestamp
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.Solar
import graft.pipeline.SolarStage

class SolarSpec extends SparkSpec {
  import spark.implicits._
  import SolarSpec.columnOracle

  def pos(utc: String, lat: Double, lon: Double,
          pressurePa: Double = 101325, tempC: Double = 12): (Double, Double, Double) = {
    val df = Seq(Timestamp.valueOf(utc)).toDF("ts")
      .select(Solar.solarPosition(col("ts"), lit(lat), lit(lon),
        pressurePa, tempC).as("p"))
      .select("p.apparent_zenith", "p.azimuth", "p.zenith")
    val r = df.collect()(0)
    (r.getDouble(0), r.getDouble(1), r.getDouble(2))
  }

  test("canonical NREL SPA test vector (Denver 2003-10-17 12:30:30 MST)") {
    // NREL SPA reference: apparent zenith 50.11162°, azimuth 194.34024°
    // (Reda & Andreas 2004, table A4.1); PSA ephemeris spec: ±0.01°.
    val (appZen, az, _) = pos("2003-10-17 19:30:30", 39.742476, -105.1786,
      pressurePa = 82000, tempC = 11)
    assert(math.abs(appZen - 50.11162) < 0.03, s"apparent zenith $appZen")
    assert(math.abs(az - 194.34024) < 0.05, s"azimuth $az")
  }

  test("equator equinox noon: sun near zenith; azimuth consistency") {
    // 2024-03-20 12:07 UTC ~ solar noon at lon 0 near the March equinox
    val (appZen, _, zen) = pos("2024-03-20 12:07:00", 0.0, 0.0)
    assert(zen < 1.5, s"zenith $zen")
    assert(appZen <= zen) // refraction raises the sun
    // afternoon at lat 40N: sun in SW quadrant
    val (_, azPm, _) = pos("2024-06-21 20:00:00", 40.0, -105.0)
    assert(azPm > 180 && azPm < 290, s"azimuth $azPm")
  }

  test("below horizon: no refraction correction beyond the cutoff") {
    val (appZen, _, zen) = pos("2024-03-20 00:07:00", 0.0, 0.0) // midnight
    assert(zen > 150)
    assert(math.abs(appZen - zen) < 1e-9) // refraction not applied
  }

  test("Spencer extraterrestrial radiation: perihelion/aphelion bounds") {
    val df = Seq(
      Timestamp.valueOf("2024-01-03 00:00:00"),
      Timestamp.valueOf("2024-07-04 00:00:00")).toDF("ts")
      .select(Solar.extraRadiation(col("ts")).as("e"))
    val Array(jan, jul) = df.collect().map(_.getDouble(0))
    assert(jan > 1405 && jan < 1420, s"jan $jan") // ~+3.4% of 1366.1
    assert(jul > 1315 && jul < 1330, s"jul $jul") // ~-3.3%
  }

  test("Kasten-Young airmass: 1 at zenith, ~38 at horizon, null below") {
    val df = Seq(0.0, 60.0, 90.0, 95.0).toDF("z")
      .select(Solar.airmassRelative(col("z")).as("am"))
    val r = df.collect().map(x => if (x.isNullAt(0)) None else Some(x.getDouble(0)))
    assert(math.abs(r(0).get - 0.9997) < 1e-3)
    assert(math.abs(r(1).get - 1.9943) < 5e-3) // KY89 at 60°
    assert(r(2).isEmpty && r(3).isEmpty)
  }

  test("isotropic POA: tilt 0 reduces to dni·cos(z)+ + dhi") {
    val df = Seq((30.0, 800.0, 600.0, 100.0), (120.0, 800.0, 100.0, 50.0))
      .toDF("zen", "dni", "ghi", "dhi")
      .select(col("zen"), Solar.poaGlobalIsotropic(
        lit(0.0), lit(0.0), col("zen"), lit(180.0),
        col("dni"), col("ghi"), col("dhi"), lit(0.08)).as("poa"))
    val r = df.orderBy("zen").collect().map(_.getDouble(1))
    assert(math.abs(r(0) - (800 * math.cos(math.toRadians(30)) + 100)) < 1e-9)
    assert(r(1) == 50.0) // sun below horizon: beam clipped to 0, sky only
  }

  test("full chain: POA + energy integral over a synthetic clear day") {
    // 5-min grid over one day at the 2020 site (lat -26.24, lon -48.64)
    val start = Timestamp.valueOf("2020-02-01 00:00:00").getTime / 1000
    val rows = (0 until 288).map { i =>
      new Timestamp((start + i * 300) * 1000)
    }.toDF("ts")
    val withPos = rows.select(col("ts"), Solar.solarPosition(
      // solar position computed at ts + T/2 (reference timeshift)
      (col("ts").cast("long") + 150).cast("timestamp"),
      lit(-26.243602), lit(-48.6417668)).as("p"))
    val poa = withPos.select(col("ts"),
      Solar.poaGlobalIsotropic(lit(0.0), lit(0.0),
        col("p.apparent_zenith"), col("p.azimuth"),
        lit(900.0), lit(700.0), lit(100.0), lit(0.08)).as("poa"))
      .withColumn("k", lit(1))
    val energy = graft.operators.TimeSeries.cumtrapz(poa, "ts", "poa", Seq("k"))
      .agg(max("integral")).collect()(0).getDouble(0)
    // daylight ~13h in SoBrazil summer; POA peaks ~1000 W/m²;
    // plausible integral: 6-11 kWh/m²·day for these fixed inputs
    assert(energy > 6000 && energy < 11000, s"energy $energy")
    val maxPoa = poa.agg(max("poa")).collect()(0).getDouble(0)
    assert(maxPoa > 950 && maxPoa < 1010, s"max poa $maxPoa")
  }

  /** Runs `body` with every expression interpreted (no whole-stage
    * or expression codegen); the session is shared across suites, so
    * the previous settings come back afterwards. */
  private def interpreted[A](body: => A): A = {
    val keys = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("the native kernel equals the Column closed form bit for bit") {
    // two years at a 7 min 1 s step (every second of the minute is
    // hit), nights included, at the equator, 71°N, the 2020 site and
    // the NREL Denver vector's site and atmosphere; plus a null ts
    val sites = Seq(("equator", 0.0, 0.0, 101325.0, 12.0),
      ("71N", 71.0, 25.8, 101325.0, 12.0),
      ("2020 site", -26.243602, -48.6417668, 101325.0, 12.0),
      ("Denver", 39.742476, -105.1786, 82000.0, 11.0))
    val t0 = Timestamp.valueOf("2019-01-01 00:00:00").getTime * 1000L
    val fields = Seq("zenith", "apparent_zenith", "elevation", "azimuth")
    val dir = java.nio.file.Files.createTempDirectory("solar_oracle")
    sites.zipWithIndex.foreach { case ((name, lat, lon, p, t), i) =>
      val ts = spark.range(0L, 2L * 366 * 86400 / 421)
        .select(timestamp_micros(lit(t0) + col("id") * 421000000L).as("ts"))
        .union(Seq(Option.empty[Timestamp]).toDF("ts"))
      // the oracle's tree outgrows the JVM's 64 KB method limit under
      // codegen, so it runs interpreted, once, into parquet (doubles
      // round-trip exactly); the kernel runs compiled beside it
      val path = dir.resolve(s"site$i").toString
      interpreted(ts.select(col("ts"),
        columnOracle(col("ts"), lit(lat), lit(lon), p, t).as("o"))
        .write.parquet(path))
      val both = spark.read.parquet(path).select(col("o"),
        Solar.solarPosition(col("ts"), lit(lat), lit(lon), p, t).as("k"))
      val diff = both.filter(!fields.map(f =>
        col(s"k.$f") <=> col(s"o.$f")).reduce(_ && _))
      assert(diff.count() == 0, s"$name: ${diff.limit(3).collect().toSeq}")
      val below = both.filter(col("k.elevation") < -0.83337).count()
      assert(below > 0, s"$name: no row below the horizon")
      val nulls = both.filter(col("k").isNotNull &&
        fields.map(f => col(s"k.$f").isNull).reduce(_ && _)).count()
      assert(nulls == 1, s"$name: the null-ts row")
    }
    // a site held in columns (no constant folding on either side)
    val cols = Seq((Timestamp.valueOf("2020-02-01 12:34:56"), -26.24, -48.64),
      (Timestamp.valueOf("2021-06-21 03:00:07"), 71.0, 25.8))
      .toDF("ts", "lat", "lon")
      .select(Solar.solarPosition(col("ts"), col("lat"), col("lon")).as("k"),
        columnOracle(col("ts"), col("lat"), col("lon")).as("o"))
    assert(cols.filter(!fields.map(f =>
      col(s"k.$f") <=> col(s"o.$f")).reduce(_ && _)).count() == 0)
  }

  test("the processed forecast plans under 1,000 expression nodes") {
    // the Column closed form copied every shared intermediate into
    // the plan: 15,915 nodes for this stage
    val dir = java.nio.file.Files.createTempDirectory("solar_plan")
    val csv = dir.resolve("solcast.csv")
    java.nio.file.Files.write(csv, ("PeriodEnd,PeriodStart,Period,Dni,Ghi,Dhi,Airmass,AlbedoDaily" +:
      (0 until 4).map { i =>
        val s = java.time.Instant.parse("2020-02-01T00:00:00Z").plusSeconds(i * 300L)
        s"${s.plusSeconds(300)},$s,PT5M,${500 + i},${300 + i},${100 + i},1.5,0.06"
      }).mkString("\n").getBytes)
    val f = SolarStage.withPoaEnergy(
      SolarStage.readSolcastCsv(spark, csv.toString),
      SolarStage.Site(-26.243602, -48.6417668),
      "2020-02-01 00:00:00Z", "2020-02-01 00:10:00Z", 300)
    val nodes = f.queryExecution.optimizedPlan
      .flatMap(_.expressions).map(_.collect { case e => e }.size).sum
    info(s"expression nodes: $nodes")
    assert(nodes < 1000, s"expression nodes: $nodes")
    assert(f.count() == 3)
  }
}

object SolarSpec {

  /** The solar position as the Column closed form it was written in
    * before the native kernel: the oracle
    * [[graft.expressions.SolarPosition]] must equal bit for bit. */
  def columnOracle(ts: Column, lat: Column, lon: Column,
                   pressurePa: Double = 101325.0,
                   temperatureC: Double = 12.0): Column = {
    val DegToRad = math.Pi / 180.0
    val EmrOverAu = 6371.01 / 149597890.0
    val n = unix_micros(ts).cast("double") / 86400.0e6 + lit(2440587.5) -
      lit(2451545.0)
    val hour = (unix_micros(ts).cast("double") / 3.6e9) % 24.0
    val omega = lit(2.1429) - lit(0.0010394594) * n
    val meanLon = lit(4.8950630) + lit(0.017202791698) * n
    val meanAnom = lit(6.2400600) + lit(0.0172019699) * n
    val eclLon = meanLon + lit(0.03341607) * sin(meanAnom) +
      lit(0.00034894) * sin(lit(2.0) * meanAnom) - lit(0.0001134) -
      lit(0.0000203) * sin(omega)
    val eclObl = lit(0.4090928) - lit(6.2140e-9) * n +
      lit(0.0000396) * cos(omega)
    val sinEclLon = sin(eclLon)
    val ra0 = atan2(cos(eclObl) * sinEclLon, cos(eclLon))
    val ra = when(ra0 < 0, ra0 + lit(2 * math.Pi)).otherwise(ra0)
    val dec = asin(sin(eclObl) * sinEclLon)
    val gmst = lit(6.6974243242) + lit(0.0657098283) * n + hour
    val lmst = (gmst * 15.0 + lon) * DegToRad
    val ha = lmst - ra
    val latR = lat * DegToRad
    val cosLat = cos(latR); val sinLat = sin(latR)
    val zen0 = acos(cosLat * cos(ha) * cos(dec) + sin(dec) * sinLat)
    val az0 = atan2(-sin(ha), tan(dec) * cosLat - sinLat * cos(ha))
    val azimuth = degrees(when(az0 < 0, az0 + lit(2 * math.Pi)).otherwise(az0))
    val zenith = degrees(zen0 + lit(EmrOverAu) * sin(zen0))
    val elev = lit(90.0) - zenith
    val refrAt = lit((pressurePa / 100.0) / 1010.0) *
      lit(283.0 / (273.0 + temperatureC)) * lit(1.02) /
      (lit(60.0) * tan(radians(elev + lit(10.3) / (elev + lit(5.11)))))
    val delta = when(elev >= lit(-1.0) * (lit(0.26667) + lit(0.5667)), refrAt)
      .otherwise(lit(0.0))
    val appZenith = lit(90.0) - (elev + delta)
    struct(zenith.as("zenith"), appZenith.as("apparent_zenith"),
      elev.as("elevation"), azimuth.as("azimuth"))
  }
}
