package graft.sources.tiff

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import TiffFormat.WriteOpts

/** GeoTIFF DSv2 scan: rows, NODATA → null, multi-band, multi-file
  * union, tile pruning from lat/lon predicates at planning, band and
  * path pushdown, column pruning, and the header-cache LRU. */
class TiffScanSpec extends SparkSpec {

  private def writeTiff(path: String, w: Int, h: Int,
      bands: Array[Array[Double]], sf: Int, bits: Int,
      ox: Double, oy: Double, scale: Double,
      opts: WriteOpts = WriteOpts()): Unit =
    Files.write(Paths.get(path),
      TiffFormat.write(w, h, bands, sf, bits, ox, oy, scale, scale, opts))

  test("scan emits (path, lat, lon, band, value); nodata → null; multi-file union") {
    val dir = Files.createTempDirectory("tifscan").toString
    val w = 6; val h = 4
    val v1 = Array.tabulate(w * h)(i => if (i % 5 == 0) -9999.0 else i * 2.0)
    val v2 = Array.tabulate(w * h)(i => 100.0 + i)
    writeTiff(s"$dir/a_0001.tif", w, h, Array(v1), 3, 64, -20, 50, 0.5,
      WriteOpts(compression = 8, noData = Some(-9999)))
    writeTiff(s"$dir/a_0002.tif", w, h, Array(v2), 3, 64, -20, 50, 0.5)
    val df = spark.read.format("geotiff").load(dir)
    assert(df.columns.toSeq == Seq("path", "latitude", "longitude", "band", "value"))
    assert(df.count() == 2 * w * h)
    // nodata cells are NULL, not the sentinel
    assert(df.filter(col("value") === -9999.0).count() == 0)
    assert(df.filter(col("value").isNull).count() ==
      v1.count(_ == -9999.0))
    // geo-referencing: pixel (0,0) center
    val r0 = df.filter(col("path").endsWith("a_0002.tif"))
      .filter(col("latitude") === (50 - 0.25) && col("longitude") === (-20 + 0.25))
      .head()
    assert(r0.getAs[Double]("value") == 100.0)
    // pixel (w-1, h-1) of file 1
    val rn = df.filter(col("path").endsWith("a_0001.tif"))
      .filter(col("latitude") === (50 - 3.5 * 0.5) && col("longitude") === (-20 + 5.5 * 0.5))
      .head()
    assert(rn.getAs[Double]("value") == (w * h - 1) * 2.0)
  }

  test("multi-band rasters emit 1-based band rows; band pushdown filters exactly") {
    val dir = Files.createTempDirectory("tifband").toString
    val w = 5; val h = 3
    val bands = Array.tabulate(3)(b => Array.tabulate(w * h)(i => b * 1000.0 + i))
    writeTiff(s"$dir/rgb.tif", w, h, bands, 1, 16, 0, 10, 1.0,
      WriteOpts(compression = 5, predictor = 2))
    val df = spark.read.format("geotiff").load(s"$dir/rgb.tif")
    assert(df.count() == 3 * w * h)
    assert(df.groupBy("band").count().orderBy("band").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      Seq((1, (w * h).toLong), (2, (w * h).toLong), (3, (w * h).toLong)))
    val b2 = df.filter(col("band") === 2)
    assert(b2.count() == w * h)
    assert(b2.agg(sum("value")).head().getDouble(0) ==
      bands(1).sum)
  }

  test("lat/lon range predicates prune whole tiles at planning, exactly") {
    val dir = Files.createTempDirectory("tifprune").toString
    val w = 64; val h = 48 // 4x3 tiles of 16
    val vals = Array.tabulate(w * h)(i => (i % 1000).toDouble)
    writeTiff(s"$dir/big.tif", w, h, Array(vals), 3, 32, 0, 48, 1.0,
      WriteOpts(tileSize = 16, compression = 8))
    val df = spark.read.format("geotiff").load(s"$dir/big.tif")
    // one tile's worth: x in [0,16), y in [0,16) → lon < 16, lat > 32
    val q = df.filter(col("longitude") < 16.0 && col("latitude") > 32.0)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("tiles=1/12"), s"expected tile pruning in:\n$plan")
    assert(q.count() == 16 * 16)
    // spot-check exactness at the boundary: lon 15.5 in, 16.5 out
    assert(q.filter(col("longitude") === 15.5).count() == 16)
    assert(q.filter(col("longitude") === 16.5).count() == 0)
    // a 2x1-tile window straddling a tile edge
    val q2 = df.filter(col("longitude") > 14.0 && col("longitude") < 30.0 &&
      col("latitude") >= 47.0)
    val plan2 = q2.queryExecution.executedPlan.toString
    assert(plan2.contains("tiles=2/12"), s"expected 2-tile pruning in:\n$plan2")
    assert(q2.count() == 16) // lon centers 14.5..29.5 ∈ (14,30), lat 47.5 only
    // empty intersection plans zero partitions
    val q3 = df.filter(col("longitude") > 1000.0)
    assert(q3.queryExecution.executedPlan.toString.contains("tiles=0/12"))
    assert(q3.count() == 0)
  }

  test("path equality prunes sibling files; column pruning reaches the reader") {
    val dir = Files.createTempDirectory("tifpath").toString
    for (d <- 1 to 3)
      writeTiff(s"$dir/day_$d.tif", 4, 4,
        Array(Array.tabulate(16)(i => d * 100.0 + i)), 3, 64, 0, 4, 1.0)
    val df = spark.read.format("geotiff").load(dir)
    val one = df.filter(col("path") === s"file:$dir/day_2.tif")
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("tiles=1/3"), s"expected file pruning in:\n$plan")
    assert(one.count() == 16)
    val slim = df.select("value").queryExecution.executedPlan.toString
    assert(slim.contains("ReadSchema: struct<value:double>"),
      s"expected column pruning in:\n$slim")
  }

  test("BigTIFF, strips, packbits, and uint8 all scan through the one format") {
    val dir = Files.createTempDirectory("tifmix").toString
    val w = 9; val h = 7
    val vals = Array.tabulate(w * h)(i => (i * 3 % 250).toDouble)
    writeTiff(s"$dir/m1.tif", w, h, Array(vals), 1, 8, 5, 5, 0.1,
      WriteOpts(compression = 32773, rowsPerStrip = 2))
    writeTiff(s"$dir/m2.tif", w, h, Array(vals), 1, 32, 5, 5, 0.1,
      WriteOpts(bigTiff = true, compression = 8))
    val df = spark.read.format("geotiff").load(dir)
    assert(df.count() == 2L * w * h)
    val sums = df.groupBy("path").agg(sum("value")).collect().map(_.getDouble(1))
    assert(sums.forall(_ == vals.sum))
  }

  test("COG overview IFDs are not scanned as data") {
    val dir = Files.createTempDirectory("tifcog").toString
    val w = 32; val h = 32
    val vals = Array.tabulate(w * h)(i => (i % 97).toDouble)
    writeTiff(s"$dir/cog.tif", w, h, Array(vals), 3, 32, 0, 32, 1.0,
      WriteOpts(tileSize = 16, compression = 8, overview = true))
    val df = spark.read.format("geotiff").load(s"$dir/cog.tif")
    assert(df.count() == w * h) // full-res only, overview skipped
    assert(df.agg(sum("value")).head().getDouble(0) == vals.sum)
  }

  test("overview option scans the pyramid level with the widened geo-transform") {
    val dir = Files.createTempDirectory("tifov").toString
    val w = 64; val h = 64 // overview = 32x32 -> 2x2 tiles of 16
    val vals = Array.tabulate(w * h)(i => (i % 251).toDouble)
    writeTiff(s"$dir/p.tif", w, h, Array(vals), 3, 64, 0, 64, 1.0,
      WriteOpts(tileSize = 16, compression = 8, overview = true))
    val full = spark.read.format("geotiff").load(s"$dir/p.tif")
    val ov = spark.read.format("geotiff").option("overview", 1).load(s"$dir/p.tif")
    assert(full.count() == w * h && ov.count() == (w / 2) * (h / 2))
    // overview pixel (x, y) samples full-res (2x, 2y); its center rides
    // the doubled scale
    val r = ov.filter(col("latitude") === (64 - 1.5 * 2.0) &&
      col("longitude") === (1.5 * 2.0)).head()
    assert(r.getAs[Double]("value") == vals(2 * w + 2))
    // level past the pyramid refuses by name
    val e = intercept[Exception] {
      spark.read.format("geotiff").option("overview", 2).load(s"$dir/p.tif").count()
    }
    assert(e.getMessage.contains("overview level 2"), e.getMessage)
    // lat/lon pruning still works at the overview level (2x2 tiles of 16)
    val q = ov.filter(col("longitude") < 32.0 && col("latitude") > 32.0)
    assert(q.queryExecution.executedPlan.toString.contains("tiles=1/4"),
      q.queryExecution.executedPlan.toString)
    assert(q.count() == 16 * 16)
  }

  test("NaN NODATA cells surface as null; bare-TIFF latitude filters stay exact") {
    val dir = Files.createTempDirectory("tifnan").toString
    val w = 4; val h = 4
    val vals = Array.tabulate(w * h)(i =>
      if (i % 5 == 0) Double.NaN else i.toDouble)
    writeTiff(s"$dir/nan.tif", w, h, Array(vals), 3, 64, 0, 4, 1.0,
      WriteOpts(noData = Some(Double.NaN)))
    val df = spark.read.format("geotiff").load(s"$dir/nan.tif")
    assert(df.filter(col("value").isNull).count() == vals.count(_.isNaN),
      "NaN nodata must surface as null, not as NaN values")
    // bare TIFF (NO geo tags — hand-built, the repo writer always
    // stamps them): pixel space, lat INCREASES with y (scaleY = -1) —
    // a pushed latitude filter must still be exact
    val bare = Files.createTempDirectory("tifbare").toString
    val b = collection.mutable.ArrayBuffer[Byte]()
    def u16(v: Int): Unit = { b += (v & 0xFF).toByte; b += ((v >> 8) & 0xFF).toByte }
    def u32(v: Long): Unit = { u16((v & 0xFFFF).toInt); u16(((v >> 16) & 0xFFFF).toInt) }
    b += 'I'; b += 'I'; u16(42); u32(12)
    b += 1; b += 2; b += 3; b += 4 // 2x2 uint8 strip at offset 8
    u16(7)
    def entry(tag: Int, typ: Int, count: Long, value: Long): Unit = {
      u16(tag); u16(typ); u32(count)
      if (typ == 3) { u16(value.toInt); u16(0) } else u32(value)
    }
    entry(256, 4, 1, 2); entry(257, 4, 1, 2)
    entry(258, 3, 1, 8)
    entry(273, 4, 1, 8)
    entry(277, 3, 1, 1)
    entry(278, 4, 1, 2)
    entry(279, 4, 1, 4)
    u32(0)
    Files.write(Paths.get(s"$bare/b.tif"), b.toArray)
    val bdf = spark.read.format("geotiff").load(s"$bare/b.tif")
    // lat(y) = y + 0.5: filter <= 1.0 keeps only row y = 0
    val below = bdf.filter(col("latitude") <= 1.0)
    assert(below.count() == 2, s"got ${below.count()}")
    assert(below.agg(max("latitude")).head().getDouble(0) == 0.5)
    assert(below.agg(sum("value")).head().getDouble(0) == 1.0 + 2.0)
    val above = bdf.filter(col("latitude") > 1.0)
    assert(above.count() == 2)
    assert(above.agg(sum("value")).head().getDouble(0) == 3.0 + 4.0)
  }

  test("header cache: second plan over the working set re-parses nothing") {
    val dir = Files.createTempDirectory("tiflru").toString
    for (d <- 1 to 6)
      writeTiff(s"$dir/f_$d.tif", 4, 4,
        Array(Array.tabulate(16)(_.toDouble)), 1, 8, 0, 4, 1.0)
    TiffTable.headers.clear()
    val before = TiffTable.headers.parses.get()
    spark.read.format("geotiff").load(dir).count()
    val afterFirst = TiffTable.headers.parses.get()
    assert(afterFirst - before == 6, s"first plan parses all 6: ${afterFirst - before}")
    spark.read.format("geotiff").load(dir).count()
    assert(TiffTable.headers.parses.get() == afterFirst,
      "second plan over cached headers must not re-parse")
    // crossing the bound evicts oldest-first, NOT clear-all: after a
    // 6-file plan under a 4-entry bound, the last-touched 4 stay hot
    // (0 re-parses) while the 2 evictees re-parse individually
    val oldMax = TiffTable.headers.maxFiles
    try {
      TiffTable.headers.maxFiles = 4
      TiffTable.headers.clear()
      val base = TiffTable.headers.parses.get()
      spark.read.format("geotiff").load(dir).count()
      // working set (6) > bound (4): the one plan may thrash up to 2x,
      // but it ends with the LAST-touched 4 files hot
      val p1 = TiffTable.headers.parses.get() - base
      assert(p1 >= 6 && p1 <= 12, s"bound-crossing plan parsed $p1")
      spark.read.format("geotiff").load(s"$dir/f_5.tif").count()
      spark.read.format("geotiff").load(s"$dir/f_6.tif").count()
      assert(TiffTable.headers.parses.get() - base == p1,
        "recently-touched files stay cached past the bound crossing")
      spark.read.format("geotiff").load(s"$dir/f_1.tif").count()
      assert(TiffTable.headers.parses.get() - base == p1 + 1,
        "an evicted file re-parses once, alone")
    } finally {
      TiffTable.headers.maxFiles = oldMax
      TiffTable.headers.clear()
    }
  }

  test("projected CRS (GTModelType=1) scans as northing/easting, never degrees") {
    val dir = Files.createTempDirectory("tifproj").toString
    val w = 6; val h = 4
    val vals = Array.tabulate(w * h)(i => i * 3.0)
    // UTM-ish: origin (easting 500000, northing 4000000), 10 m pixels
    writeTiff(s"$dir/utm.tif", w, h, Array(vals), 3, 64, 500000, 4000000, 10.0,
      WriteOpts(modelType = 1, epsg = 32633))
    val df = spark.read.format("geotiff").load(s"$dir/utm.tif")
    assert(df.columns.toSeq == Seq("path", "northing", "easting", "band", "value"))
    // pixel (0,0) center = origin + half a pixel
    val r0 = df.filter(col("northing") === 4000000.0 - 5.0 &&
      col("easting") === 500000.0 + 5.0).head()
    assert(r0.getAs[Double]("value") == 0.0)
    // the EPSG code survives the header parse for downstream unprojection
    val st = new org.apache.hadoop.fs.Path(s"$dir/utm.tif")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(new org.apache.hadoop.fs.Path(s"$dir/utm.tif"))
    val raster = TiffTable.rastersOf(spark.sparkContext.hadoopConfiguration, Seq(st)).head
    assert(raster.projected && raster.epsg == 32633)
  }

  test("northing/easting range predicates prune whole tiles at planning") {
    val dir = Files.createTempDirectory("tifprojprune").toString
    val w = 64; val h = 48 // 4x3 tiles of 16
    val vals = Array.tabulate(w * h)(i => (i % 1000).toDouble)
    writeTiff(s"$dir/big.tif", w, h, Array(vals), 3, 32, 0, 4800, 100.0,
      WriteOpts(tileSize = 16, compression = 8, modelType = 1, epsg = 3857))
    val df = spark.read.format("geotiff").load(s"$dir/big.tif")
    // one tile: x in [0,16), y in [0,16) -> easting < 1600, northing > 3200
    val q = df.filter(col("easting") < 1600.0 && col("northing") > 3200.0)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("tiles=1/12"), s"expected tile pruning in:\n$plan")
    assert(q.count() == 16 * 16)
    // a LATITUDE predicate against a projected scan is an analysis error
    // (the column does not exist), not a silent wrong-space prune
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      df.filter(col("latitude") > 0.0).count()
    }
    assert(err.getMessage.contains("latitude"))
  }

  test("geocentric and user-defined GTModelType are refused by name") {
    val dir = Files.createTempDirectory("tifgeoc").toString
    val vals = Array.tabulate(16)(_.toDouble)
    writeTiff(s"$dir/geoc.tif", 4, 4, Array(vals), 3, 64, 0, 4, 1.0,
      WriteOpts(modelType = 3))
    val e = intercept[Exception] {
      spark.read.format("geotiff").load(s"$dir/geoc.tif").count()
    }
    assert(e.getMessage.contains("GTModelType 3"), e.getMessage)
  }

  test("a directory mixing projected and geographic rasters is refused by name") {
    val dir = Files.createTempDirectory("tifmixcrs").toString
    val vals = Array.tabulate(16)(_.toDouble)
    writeTiff(s"$dir/a_geo.tif", 4, 4, Array(vals), 3, 64, -20, 50, 0.25)
    writeTiff(s"$dir/b_utm.tif", 4, 4, Array(vals), 3, 64, 500000, 4000000, 10.0,
      WriteOpts(modelType = 1, epsg = 32633))
    val e = intercept[Exception] {
      spark.read.format("geotiff").load(dir).count()
    }
    assert(e.getMessage.contains("mixes projected and geographic"), e.getMessage)
  }
}
