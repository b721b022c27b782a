package graft.sources

import java.io.DataOutputStream
import java.nio.file.{Files, Paths}
import java.time.LocalDateTime

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.meta.{JArr, JObj, JStr}
import graft.sources.grib.GribFormat
import graft.sources.nc.NcFormat
import graft.sources.nc.NcFormat._
import graft.sources.tiff.TiffFormat
import graft.sources.zarr.{Kerchunk, ZarrCodec, ZarrIO, ZarrMeta}
import graft.sources.zarr.ZarrMeta.ZArrayMeta

/** Differential pushdown check for every format that claims filters: a
  * claimed filter has no residual, so `df.filter(c)` must return exactly
  * the rows Spark itself keeps when it evaluates `c` over the
  * materialized scan (`localCheckpoint`, which pushes nothing). Literals
  * sit on, between and outside the axis values, on increasing and
  * decreasing axes, against null message attributes, in `IN` lists with
  * absent values, and as NaN (Spark orders NaN above every number). */
class PushdownSpec extends SparkSpec {

  private def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.mkString("[", ",", "]")
    case x => x.toString
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(render).mkString("|")).toSeq.sorted

  private def pushedOf(df: DataFrame): String =
    "PushedFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(df.queryExecution.executedPlan.toString)
      .map(_.group(1)).getOrElse("")

  /** Every case on the scan against the same case over the materialized
    * frame: one line per mismatch, plus one when no case was claimed at
    * all (the comparison would then prove nothing about pushdown). */
  private def mismatches(df: DataFrame, cases: Seq[(String, Column)]): Seq[String] = {
    val base = df.localCheckpoint(true)
    val bad = cases.flatMap { case (label, c) =>
      val got = rows(df.filter(c))
      val want = rows(base.filter(c))
      if (got == want) None
      else Some(s"$label: scan ${got.length} rows, Spark ${want.length}")
    }
    val claimed = cases.exists { case (_, c) => pushedOf(df.filter(c)).nonEmpty }
    bad ++ (if (claimed) Nil else Seq("no case was pushed to the scan"))
  }

  private def check(df: DataFrame, cases: Seq[(String, Column)]): Unit = {
    val bad = mismatches(df, cases)
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  private val Ops: Seq[(String, (Column, Column) => Column)] = Seq(
    "=" -> (_ === _), ">" -> (_ > _), ">=" -> (_ >= _),
    "<" -> (_ < _), "<=" -> (_ <= _))

  /** Every comparison of `name` against every literal. */
  private def cmp(name: String, lits: Any*): Seq[(String, Column)] =
    for (v <- lits; (op, f) <- Ops)
      yield (s"$name $op $v", f(col(name), lit(v)))

  private def dir(tag: String): String =
    Files.createTempDirectory(s"pushdown_$tag").toString

  // ---- fixtures ----

  /** time(record, increasing hours) × lat(3, DECREASING) × lon(4,
    * increasing); t2m double, rh float with a fill hole. */
  private def ncGrid(path: String): Unit = {
    val lat = Array(42.5, 42.0, 41.5)
    val lon = Array(10.0, 10.5, 11.0, 11.5)
    val cells = for (t <- 0 until 4; y <- 0 until 3; x <- 0 until 4)
      yield (t, y, x)
    NcFormat.writeFile(spark, path,
      dims = Seq("time" -> 4, "lat" -> 3, "lon" -> 4),
      vars = Seq(
        WriteVar("time", Seq("time"), NcInt, Array.tabulate(4)(_.toDouble),
          attrs = Seq("units" -> "hours since 2024-03-01 00:00:00")),
        WriteVar("lat", Seq("lat"), NcDouble, lat),
        WriteVar("lon", Seq("lon"), NcDouble, lon),
        WriteVar("t2m", Seq("time", "lat", "lon"), NcDouble,
          cells.map { case (t, y, x) => (t * 100 + y * 10 + x).toDouble }.toArray),
        WriteVar("rh", Seq("time", "lat", "lon"), NcFloat,
          cells.map { case (t, y, x) =>
            if (t == 1 && x == 2) -1.0 else (t + y + x).toDouble }.toArray,
          nattrs = Seq(("_FillValue", NcFloat, Array(-1.0))))),
      recordDim = Some("time"))
  }

  private val NcAxisCases: Seq[(String, Column)] =
    cmp("time", ts("2024-03-01T01:00"), ts("2024-03-01T01:30"),
      ts("2024-02-01T00:00"), ts("2024-04-01T00:00"), ts("2024-03-01T03:00")) ++
      cmp("lat", 42.0, 42.25, 42.5, 41.5, 40.0, 50.0) ++
      cmp("lon", 10.5, 10.75, 10.0, 11.5, 0.0, 20.0) ++
      Seq("lat IS NOT NULL" -> col("lat").isNotNull,
        "lat IN (42.0, 7.0)" -> col("lat").isin(42.0, 7.0),
        "lon range" -> (col("lon") > 10.0 && col("lon") <= 11.0),
        "rh IS NOT NULL" -> col("rh").isNotNull,
        "t2m > 150" -> (col("t2m") > 150.0))

  test("netcdf: claimed axis filters return Spark's rows on increasing " +
      "and decreasing axes") {
    val d = dir("nc")
    ncGrid(s"$d/g.nc")
    check(spark.read.format("netcdf").load(s"$d/g.nc"), NcAxisCases)
  }

  /** time(5, increasing) × y(4, DECREASING) × x(4, increasing), chunks
    * 2×3×3 (partial edge chunks), v with a NaN fill hole. */
  private def zarrStore(): String = {
    val d = dir("zarr")
    val conf = spark.sparkContext.hadoopConfiguration
    val codec = ZarrCodec.ZlibCodec(1)
    def dims(names: String*) =
      "_ARRAY_DIMENSIONS" -> JArr(names.map(JStr(_)))
    val tMeta = ZArrayMeta(Seq(5), Seq(5), ZarrMeta.parseDtype("<i8"), codec,
      None, ".", JObj(Seq(dims("time"),
        "units" -> JStr("hours since 2024-06-01T00:00:00"))))
    val yMeta = ZArrayMeta(Seq(4), Seq(4), ZarrMeta.parseDtype("<f8"), codec,
      None, ".", JObj(Seq(dims("y"))))
    val xMeta = ZArrayMeta(Seq(4), Seq(4), ZarrMeta.parseDtype("<f8"), codec,
      None, ".", JObj(Seq(dims("x"))))
    val vMeta = ZArrayMeta(Seq(5, 4, 4), Seq(2, 3, 3),
      ZarrMeta.parseDtype("<f8"), codec, Some(Double.NaN), ".",
      JObj(Seq(dims("time", "y", "x"))))
    ZarrIO.writeArray(conf, d, "time", tMeta, Array.tabulate(5)(_.toDouble))
    ZarrIO.writeArray(conf, d, "y", yMeta, Array(3.0, 2.0, 1.0, 0.0))
    ZarrIO.writeArray(conf, d, "x", xMeta, Array(0.5, 1.5, 2.5, 3.5))
    ZarrIO.writeArray(conf, d, "v", vMeta,
      Array.tabulate(80)(i => if (i == 21) Double.NaN else i * 10.0))
    ZarrIO.writeGroupMetadata(conf, d, JObj(Seq.empty),
      Seq("time" -> tMeta, "y" -> yMeta, "x" -> xMeta, "v" -> vMeta))
    d
  }

  private val ZarrAxisCases: Seq[(String, Column)] =
    cmp("time", ts("2024-06-01T02:00"), ts("2024-06-01T02:30"),
      ts("2024-06-01T00:00"), ts("2024-06-01T04:00"), ts("2025-01-01T00:00")) ++
      cmp("y", 2.0, 1.5, 3.0, 0.0, -1.0, 9.0) ++
      cmp("x", 1.5, 2.0, 0.5, 3.5, -1.0, 9.0) ++
      Seq("y IS NOT NULL" -> col("y").isNotNull,
        "x IN (1.5, 8.0)" -> col("x").isin(1.5, 8.0),
        "v IS NULL" -> col("v").isNull)

  test("zarr and kerchunk: claimed axis filters return Spark's rows on " +
      "increasing and decreasing axes") {
    check(spark.read.format("zarr").load(zarrStore()), ZarrAxisCases)
    val d = dir("kerchunk")
    ncGrid(s"$d/g.nc")
    val conf = spark.sparkContext.hadoopConfiguration
    Kerchunk.writeManifest(conf, Kerchunk.fromNetcdf(conf, s"$d/g.nc"),
      s"$d/g.json")
    check(spark.read.format("kerchunk").load(s"$d/g.json"), NcAxisCases)
  }

  private def gribFile(path: String): Unit = {
    val out = new DataOutputStream(Files.newOutputStream(Paths.get(path)))
    val lats = Seq(0.0, 1.0); val lons = Seq(10.0, 11.0)
    try Seq(1, 2).foreach { day =>
      val g = (b: Double) => Array.tabulate(4)(k => day * 1000 + b + k)
      GribFormat.writeMessage2Fields(out, LocalDateTime.of(2024, 3, day, 0, 0),
        lats, lons,
        fields = Seq((61, 0, g(0)), (61, 6, g(10)), (62, 0, g(20)),
          (63, 0, g(30))),
        // a member, a threshold and a surface-less field: the others
        // carry null in those columns
        members = Seq(-1, 3, -1, -1),
        levels = Seq((100, 85000L), (100, 50000L), (1, 0L), (255, 0L)),
        probs = Seq((-1, 0L, 0L), (-1, 0L, 0L), (3, 1L, Long.MinValue),
          (-1, 0L, 0L)),
        intervals = Seq(0, 0, 0, 6))
    } finally out.close()
  }

  test("grib1: claimed message filters return Spark's rows, null " +
      "attributes included") {
    val d = dir("grib")
    gribFile(s"$d/m.grb2")
    val df = spark.read.format("grib1").load(s"$d/m.grb2")
    assert(df.filter(col("member").isNull).count() > 0)
    assert(df.filter(col("level").isNull).count() > 0)
    assert(df.filter(col("prob_lo").isNull).count() > 0)
    check(df,
      cmp("time", ts("2024-03-01T00:00"), ts("2024-03-01T03:00"),
        ts("2024-03-02T06:00"), ts("2024-01-01T00:00"), ts("2025-01-01T00:00")) ++
        cmp("ref_time", ts("2024-03-02T00:00"), ts("2024-03-01T12:00"),
          ts("2023-01-01T00:00")) ++
        Seq(
          "param = 61" -> (col("param") === 61),
          "param = 99" -> (col("param") === 99),
          "param IN (62, 99)" -> col("param").isin(62, 99),
          "member = 3" -> (col("member") === 3),
          "member = -1 (the absent-member sentinel)" -> (col("member") === -1),
          "member IN (3, 7)" -> col("member").isin(3, 7),
          "member IS NULL" -> col("member").isNull,
          "member IS NOT NULL" -> col("member").isNotNull,
          "derived IS NULL" -> col("derived").isNull,
          "level = 85000" -> (col("level") === 85000.0),
          "level = 1" -> (col("level") === 1.0),
          "level IS NULL" -> col("level").isNull,
          "level > 60000" -> (col("level") > 60000.0),
          "level_type = 100" -> (col("level_type") === 100),
          "level_type IS NULL" -> col("level_type").isNull,
          "level_to IS NULL" -> col("level_to").isNull,
          "step = 360" -> (col("step") === 360L),
          "step_start IS NULL" -> col("step_start").isNull,
          "step_start = 0" -> (col("step_start") === 0L),
          "prob_type = 3" -> (col("prob_type") === 3),
          "prob_type IS NULL" -> col("prob_type").isNull,
          "prob_lo = 1" -> (col("prob_lo") === 1.0),
          "prob_lo IS NULL" -> col("prob_lo").isNull,
          "prob_lo IS NOT NULL" -> col("prob_lo").isNotNull,
          "prob_hi IS NULL" -> col("prob_hi").isNull,
          "percentile IS NULL" -> col("percentile").isNull,
          "param IS NOT NULL" -> col("param").isNotNull,
          "value IS NOT NULL" -> col("value").isNotNull,
          "latitude = 1" -> (col("latitude") === 1.0)))
  }

  test("grib-spectral: claimed message filters return Spark's rows") {
    val d = dir("spectral")
    val out = new DataOutputStream(Files.newOutputStream(Paths.get(s"$d/s.grb2")))
    try Seq(1, 2, 3).foreach { day =>
      GribFormat.writeSpectralMessage2(out, LocalDateTime.of(2024, 3, day, 0, 0),
        2, Seq((61, 0, Array.tabulate(12)(k => day * 100.0 + k)),
          (62, 6, Array.tabulate(12)(k => -day * 100.0 - k))),
        levels = Seq((105, 10L), (255, 0L)))
    } finally out.close()
    check(spark.read.format("grib-spectral").load(s"$d/s.grb2"),
      cmp("time", ts("2024-03-02T00:00"), ts("2024-03-02T06:00"),
        ts("2024-03-02T12:00"), ts("2020-01-01T00:00"), ts("2030-01-01T00:00")) ++
        cmp("ref_time", ts("2024-03-03T00:00"), ts("2024-03-01T12:00")) ++
        Seq(
          "param = 62" -> (col("param") === 62),
          "param IN (61, 99)" -> col("param").isin(61, 99),
          "member IS NULL" -> col("member").isNull,
          "member = 1" -> (col("member") === 1),
          "level = 10" -> (col("level") === 10.0),
          "level IS NULL" -> col("level").isNull,
          "level_type IS NULL" -> col("level_type").isNull,
          "level_type = 105" -> (col("level_type") === 105),
          "step = 360" -> (col("step") === 360L),
          "value IS NOT NULL" -> col("value").isNotNull,
          "m = 1" -> (col("m") === 1)))
  }

  /** Two north-up 2-band rasters, 48×32 pixels in 16×16 tiles: longitude
    * increases with x, latitude DECREASES with y. */
  private def tiffDir(): String = {
    val d = dir("tiff")
    Seq("a" -> -20.0, "b" -> -10.0).foreach { case (name, x0) =>
      val w = 48; val h = 32
      val b1 = Array.tabulate(w * h)(_.toDouble)
      val b2 = Array.tabulate(w * h)(i => -i.toDouble)
      Files.write(Paths.get(s"$d/$name.tif"),
        TiffFormat.write(w, h, Array(b1, b2), 3, 64, x0, 50.0, 0.5, 0.5,
          TiffFormat.WriteOpts(tileSize = 16)))
    }
    d
  }

  test("geotiff: claimed coordinate, band and path filters return " +
      "Spark's rows") {
    val d = tiffDir()
    val df = spark.read.format("geotiff").load(d)
    val lat = df.select("latitude").distinct().collect().map(_.getDouble(0)).sorted
    val lon = df.select("longitude").distinct().collect().map(_.getDouble(0)).sorted
    val a = df.select("path").distinct().collect().map(_.getString(0)).min
    check(df,
      cmp("latitude", lat(5), (lat(5) + lat(6)) / 2, lat.head, lat.last,
        0.0, 90.0) ++
        cmp("longitude", lon(40), (lon(40) + lon(41)) / 2, lon.head, lon.last,
          -90.0, 90.0) ++
        Seq(
          "band = 2" -> (col("band") === 2),
          "band IN (1, 5)" -> col("band").isin(1, 5),
          "band = 7" -> (col("band") === 7),
          "path = a.tif" -> (col("path") === a),
          "path = absent" -> (col("path") === a + ".absent"),
          "latitude IS NOT NULL" -> col("latitude").isNotNull,
          "value IS NOT NULL" -> col("value").isNotNull,
          "box" -> (col("latitude") < lat(20) && col("longitude") >= lon(3))))
  }

  test("zip: claimed member-name filters return Spark's rows") {
    val d = dir("zip")
    val members = (0 until 24).map(i =>
      (f"book/ch$i%02d.${if (i % 3 == 0) "xml" else "txt"}",
        s"chapter $i".getBytes("UTF-8"), i % 2 == 0))
    Files.write(Paths.get(s"$d/a.zip"), graft.functions.Zip.encode(members))
    check(spark.read.format("zip").load(d), Seq(
      "name = book/ch03.xml" -> (col("name") === "book/ch03.xml"),
      "name = absent" -> (col("name") === "nope"),
      "name IN (one, absent)" -> col("name").isin("book/ch05.txt", "nope"),
      "name STARTS WITH book/ch1" -> col("name").startsWith("book/ch1"),
      "name STARTS WITH absent" -> col("name").startsWith("zz"),
      "name LIKE %xml" -> col("name").endsWith(".xml"),
      "name IS NOT NULL" -> col("name").isNotNull,
      "entry_idx = 4" -> (col("entry_idx") === 4)))
  }

  test("NaN literals are never claimed: every format returns Spark's rows") {
    def nan(name: String): Seq[(String, Column)] =
      Ops.map { case (op, f) => (s"$name $op NaN", f(col(name), lit(Double.NaN))) }
    val d = dir("nan")
    ncGrid(s"$d/g.nc")
    gribFile(s"$d/m.grb2")
    val bad =
      mismatches(spark.read.format("netcdf").load(s"$d/g.nc"),
        nan("lat") ++ nan("lon") ++ Seq("lon > 10.5" -> (col("lon") > 10.5))) ++
      mismatches(spark.read.format("zarr").load(zarrStore()),
        nan("y") ++ nan("x") ++ Seq("x > 1.0" -> (col("x") > 1.0))) ++
      mismatches(spark.read.format("geotiff").load(tiffDir()),
        nan("latitude") ++ nan("longitude") ++
          Seq("band = 1" -> (col("band") === 1))) ++
      mismatches(spark.read.format("grib1").load(s"$d/m.grb2"),
        nan("level") ++ nan("prob_lo") ++
          Seq("param = 61" -> (col("param") === 61)))
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
