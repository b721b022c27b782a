package graft.sources.zarr

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.nc.NcFormat
import graft.sources.nc.NcFormat._

/** Kerchunk manifest generation + the `kerchunk` DSv2 scan, gated
  * DIFFERENTIALLY against the `netcdf` scan over the same files: both views
  * of the bytes must agree row-for-row (the reference's kerchunkify +
  * MultiZarrToZarr pipeline, transform.py:84-279, reads what the NC reader
  * reads). */
class KerchunkSpec extends SparkSpec {

  /** Two NC files split along the record dim, CF-packed with fills —
    * the same shape as SparkEntry's ncEventsFixture. */
  private def writeFixture(tag: String): String = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_kerchunk_$tag"
    graft.store.GridStore.fileSystem(spark, dir)
      .delete(new org.apache.hadoop.fs.Path(dir), true)
    val fillRaw = -999.0
    Seq((0, 6), (6, 10)).zipWithIndex.foreach { case ((lo, hi), i) =>
      val n = hi - lo
      val data = Array.tabulate(n * 4) { j =>
        val t = lo + j / 4
        val x = j % 4
        if (t == 3 && x == 2) fillRaw else (t * 10 + x) * 2.0 // raw = 2× (scale .5)
      }
      NcFormat.writeFile(spark, s"$dir/part_$i.nc",
        dims = Seq("time" -> n, "x" -> 4),
        vars = Seq(
          NcFormat.WriteVar("time", Seq("time"), NcFormat.NcInt,
            Array.tabulate(n)(j => (lo + j).toDouble),
            attrs = Seq("units" -> "hours since 2024-03-01", "calendar" -> "standard")),
          NcFormat.WriteVar("x", Seq("x"), NcFormat.NcInt,
            Array.tabulate(4)(_.toDouble)),
          NcFormat.WriteVar("v", Seq("time", "x"), NcFormat.NcInt,
            data,
            nattrs = Seq(
              ("scale_factor", NcFormat.NcDouble, Array(0.5)),
              ("_FillValue", NcFormat.NcInt, Array(fillRaw))))),
        recordDim = Some("time"))
    }
    dir
  }

  test("single-file manifest scan equals the netcdf scan of the same file") {
    val dir = writeFixture("single")
    val conf = spark.sparkContext.hadoopConfiguration
    val manifest = Kerchunk.fromNetcdf(conf, s"$dir/part_0.nc")
    Kerchunk.writeManifest(conf, manifest, s"$dir/single.json")
    val viaKerchunk = spark.read.format("kerchunk").load(s"$dir/single.json")
      .orderBy("time", "x").collect()
    val viaNc = spark.read.format("netcdf").load(s"$dir/part_0.nc")
      .orderBy("time", "x").collect()
    assert(viaKerchunk.toSeq == viaNc.toSeq)
    assert(viaKerchunk.length == 24)
  }

  test("multi-file combine equals the netcdf directory scan (S10/S11)") {
    val dir = writeFixture("combine")
    val conf = spark.sparkContext.hadoopConfiguration
    val manifest = Kerchunk.combineNetcdf(conf,
      Seq(s"$dir/part_0.nc", s"$dir/part_1.nc"))
    Kerchunk.writeManifest(conf, manifest, s"$dir/combined.json")
    val viaKerchunk = spark.read.format("kerchunk").load(s"$dir/combined.json")
      .orderBy("time", "x").collect()
    val viaNc = spark.read.format("netcdf").load(dir)
      .orderBy("time", "x").collect()
    assert(viaKerchunk.toSeq == viaNc.toSeq)
    assert(viaKerchunk.length == 40)
    // the fill cell surfaces as null through BOTH paths
    val nulls = viaKerchunk.filter(_.isNullAt(2))
    assert(nulls.length == 1)
    assert(nulls.head.getAs[java.time.LocalDateTime]("time") ==
      java.time.LocalDateTime.parse("2024-03-01T03:00"))
  }

  test("manifest byte ranges point into the ORIGINAL file (no data copied)") {
    val dir = writeFixture("ranges")
    val conf = spark.sparkContext.hadoopConfiguration
    val manifest = Kerchunk.fromNetcdf(conf, s"$dir/part_0.nc")
    val refs = manifest.get("refs").get.asInstanceOf[graft.meta.JObj]
    // record var v: one chunk per record, all referencing part_0.nc
    val chunkKeys = refs.fields.map(_._1).filter(k =>
      k.startsWith("v/") && !k.startsWith("v/."))
    assert(chunkKeys.toSet == (0 until 6).map(r => s"v/$r.0").toSet)
    chunkKeys.foreach { k =>
      refs.get(k).get match {
        case graft.meta.JArr(Seq(graft.meta.JStr(url), _, graft.meta.JNum(len))) =>
          assert(url.endsWith("part_0.nc"))
          assert(len.toInt == 16) // 4 cells × NC_INT
        case other => fail(s"$k: $other")
      }
    }
  }

  test("time predicate prunes non-overlapping record chunks through the manifest") {
    val dir = writeFixture("prune")
    val conf = spark.sparkContext.hadoopConfiguration
    Kerchunk.writeManifest(conf,
      Kerchunk.combineNetcdf(conf, Seq(s"$dir/part_0.nc", s"$dir/part_1.nc")),
      s"$dir/combined.json")
    val df = spark.read.format("kerchunk").load(s"$dir/combined.json")
      .filter(col("time") >= lit(java.time.LocalDateTime.parse("2024-03-01T08:00")))
    assert(df.count() == 8) // hours 8,9 × 4 cells
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("time[8..9]"), plan)
  }

  test("the reference's OWN kerchunk manifest (chirps_example_zarr.json) scans") {
    // generated by the real kerchunk library (all chunks inlined: raw
    // ISO-8859-1 and base64 encodings both appear) — independent ground
    // truth for the manifest reader
    val path = "/root/reference/tests/unit/inputs/chirps_example_zarr.json"
    assume(new java.io.File(path).isFile)
    val df = spark.read.format("kerchunk").load(path)
    assert(df.schema.fieldNames.toSeq ==
      Seq("time", "latitude", "longitude", "precip"))
    val rows = df.orderBy("latitude", "longitude").collect()
    assert(rows.length == 64) // one timestep, 8×8 CHIRPS extract
    // -9999 fill (both fill_value and missing_value) must surface as null;
    // real precip is non-negative and bounded
    val vals = rows.flatMap(r =>
      if (r.isNullAt(3)) None else Some(r.getAs[Float]("precip")))
    assert(vals.forall(v => v >= 0f && v < 1000f))
    // CHIRPS extract coords: lat ascending in [-50, 50], lon in [-180, 180]
    val lats = rows.map(_.getAs[Float]("latitude")).distinct
    assert(lats.length == 8 && lats.sorted.sameElements(lats))
    assert(lats.forall(l => l >= -50f && l <= 50f))
  }

  test("combine refuses mismatched fixed dims (identical-dims assertion)") {
    val dir = writeFixture("mismatch")
    NcFormat.writeFile(spark, s"$dir/bad.nc",
      dims = Seq("time" -> 2, "x" -> 5), // x differs: 5 vs 4
      vars = Seq(
        NcFormat.WriteVar("time", Seq("time"), NcFormat.NcInt, Array(0.0, 1.0),
          attrs = Seq("units" -> "hours since 2024-03-01")),
        NcFormat.WriteVar("v", Seq("time", "x"), NcFormat.NcInt,
          Array.fill(10)(1.0))),
      recordDim = Some("time"))
    val conf = spark.sparkContext.hadoopConfiguration
    val ex = intercept[IllegalArgumentException] {
      Kerchunk.combineNetcdf(conf, Seq(s"$dir/part_0.nc", s"$dir/bad.nc"))
    }
    assert(ex.getMessage.contains("identical-dims"))
  }

  test("both combines refuse files whose coordinate values differ") {
    val d = tmp("coords")
    val conf = spark.sparkContext.hadoopConfiguration
    // equal-length x axes, different values: the combined view would give
    // the second file's rows the first file's x
    for ((tag, x0) <- Seq("a" -> 0.0, "b" -> 100.0)) {
      val x = Array(x0, x0 + 1)
      NcFormat.writeFile(spark, s"$d/part_$tag.nc",
        dims = Seq("time" -> 2, "x" -> 2),
        vars = Seq(
          WriteVar("time", Seq("time"), NcInt, Array(0.0, 1.0),
            attrs = Seq("units" -> "hours since 2024-03-01")),
          WriteVar("x", Seq("x"), NcDouble, x),
          WriteVar("v", Seq("time", "x"), NcInt, Array(1.0, 2.0, 3.0, 4.0))),
        recordDim = Some("time"))
      graft.sources.h5.H5Write.writeFile(spark, s"$d/h5_$tag.nc",
        dims = Seq("time" -> 2, "x" -> 2),
        vars = Seq(
          graft.sources.h5.H5Write.WriteVar("time", Seq("time"), "i4",
            Array(0.0, 1.0), attrs = Seq("units" -> "days since 2024-01-01")),
          graft.sources.h5.H5Write.WriteVar("x", Seq("x"), "f8", x),
          graft.sources.h5.H5Write.WriteVar("v", Seq("time", "x"), "f8",
            Array(1.0, 2.0, 3.0, 4.0))))
    }
    val nc = intercept[IllegalArgumentException](
      Kerchunk.combineNetcdf(conf, Seq(s"$d/part_a.nc", s"$d/part_b.nc")))
    assert(nc.getMessage.contains("part_b.nc: coordinate x values differ"),
      nc.getMessage)
    val h5 = intercept[IllegalArgumentException](
      graft.sources.h5.Hdf5Kerchunk.combineHdf5(conf,
        Seq(s"$d/h5_a.nc", s"$d/h5_b.nc")))
    assert(h5.getMessage.contains("h5_b.nc: coordinate x values differ"),
      h5.getMessage)
  }

  // ---- differential: format("netcdf") against format("kerchunk") over
  // the manifest Kerchunk writes for the same file(s) ----

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** The netcdf scan of `files` (one file, or their directory) and the
    * kerchunk scan of their manifest: equal schemas, and equal rows
    * unfiltered and under every filter. */
  private def bothRoutesAgree(dir: String, files: Seq[String],
      filters: Seq[(String, Column)] = Nil): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val manifest =
      if (files.length == 1) Kerchunk.fromNetcdf(conf, files.head)
      else Kerchunk.combineNetcdf(conf, files)
    val mPath = s"$dir.json"
    Kerchunk.writeManifest(conf, manifest, mPath)
    val nc = spark.read.format("netcdf")
      .load(if (files.length == 1) files.head else dir)
    val kc = spark.read.format("kerchunk").load(mPath)
    assert(nc.schema == kc.schema)
    for ((label, f) <- ("no filter" -> lit(true)) +: filters)
      assert(rowsOf(nc.filter(f)) == rowsOf(kc.filter(f)), label)
  }

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"nc_routes_$tag").toString

  /** time(record, hours) × lat(3, decreasing) × lon(4): t2m double, rh
    * float with a fill hole — PushdownSpec's netcdf grid. */
  private def axisGrid(path: String, nt: Int = 4, t0: Int = 0,
      version: Option[Int] = None): Unit = {
    val cells = for (t <- t0 until t0 + nt; y <- 0 until 3; x <- 0 until 4)
      yield (t, y, x)
    NcFormat.writeFile(spark, path,
      dims = Seq("time" -> nt, "lat" -> 3, "lon" -> 4),
      vars = Seq(
        WriteVar("time", Seq("time"), NcInt,
          Array.tabulate(nt)(i => (t0 + i).toDouble),
          attrs = Seq("units" -> "hours since 2024-03-01 00:00:00")),
        WriteVar("lat", Seq("lat"), NcDouble, Array(42.5, 42.0, 41.5)),
        WriteVar("lon", Seq("lon"), NcDouble, Array(10.0, 10.5, 11.0, 11.5)),
        WriteVar("t2m", Seq("time", "lat", "lon"), NcDouble,
          cells.map { case (t, y, x) => (t * 100 + y * 10 + x).toDouble }.toArray),
        WriteVar("rh", Seq("time", "lat", "lon"), NcFloat,
          cells.map { case (t, y, x) =>
            if (t == 1 && x == 2) -1.0 else (t + y + x).toDouble }.toArray,
          nattrs = Seq(("_FillValue", NcFloat, Array(-1.0))))),
      recordDim = Some("time"), forceVersion = version)
  }

  private val Ops: Seq[(String, (Column, Column) => Column)] = Seq(
    "=" -> (_ === _), ">" -> (_ > _), ">=" -> (_ >= _),
    "<" -> (_ < _), "<=" -> (_ <= _))

  private def cmp(name: String, lits: Any*): Seq[(String, Column)] =
    for (v <- lits; (op, f) <- Ops)
      yield (s"$name $op $v", f(col(name), lit(v)))

  /** PushdownSpec's netcdf axis cases. */
  private val AxisCases: Seq[(String, Column)] =
    cmp("time", ts("2024-03-01T01:00"), ts("2024-03-01T01:30"),
      ts("2024-02-01T00:00"), ts("2024-04-01T00:00"), ts("2024-03-01T03:00")) ++
      cmp("lat", 42.0, 42.25, 42.5, 41.5, 40.0, 50.0) ++
      cmp("lon", 10.5, 10.75, 10.0, 11.5, 0.0, 20.0) ++
      Seq("lat IS NOT NULL" -> col("lat").isNotNull,
        "lat IN (42.0, 7.0)" -> col("lat").isin(42.0, 7.0),
        "lon range" -> (col("lon") > 10.0 && col("lon") <= 11.0),
        "rh IS NOT NULL" -> col("rh").isNotNull,
        "t2m > 150" -> (col("t2m") > 150.0))

  test("routes agree: record file under the netcdf axis pushdown cases") {
    val d = tmp("axes")
    axisGrid(s"$d/g.nc")
    bothRoutesAgree(d, Seq(s"$d/g.nc"), AxisCases)
  }

  test("routes agree: CDF-1, CDF-2 and CDF-5 headers") {
    for (v <- Seq(1, 2, 5)) {
      val d = tmp(s"cdf$v")
      axisGrid(s"$d/g.nc", version = Some(v))
      bothRoutesAgree(d, Seq(s"$d/g.nc"), AxisCases.take(10))
    }
  }

  test("routes agree: CDF-5 unsigned and int64 variables") {
    val d = tmp("cdf5types")
    NcFormat.writeFile(spark, s"$d/u.nc",
      dims = Seq("time" -> 3, "x" -> 2),
      vars = Seq(
        WriteVar("time", Seq("time"), NcInt, Array(0.0, 1.0, 2.0),
          attrs = Seq("units" -> "days since 2024-05-01")),
        WriteVar("ub", Seq("time", "x"), NcUByte,
          Array(0.0, 127.0, 255.0, 1.0, 2.0, 3.0)),
        WriteVar("us", Seq("time", "x"), NcUShort,
          Array(0.0, 40000.0, 65535.0, 1.0, 2.0, 3.0)),
        WriteVar("ui", Seq("time", "x"), NcUInt,
          Array(0.0, 3.0e9, 4294967295.0, 1.0, 2.0, 3.0)),
        WriteVar("i8", Seq("time", "x"), NcInt64,
          Array(9.007199254740992e15, -7.0, 5.0, 1.0, 2.0, 3.0),
          nattrs = Seq(("_FillValue", NcInt64, Array(-7.0))))),
      recordDim = Some("time"), forceVersion = Some(5))
    bothRoutesAgree(d, Seq(s"$d/u.nc"), Seq("ui > 3" -> (col("ui") > 3L)))
  }

  test("routes agree: fixed-only file, dims with no coordinate variable") {
    val d = tmp("fixed")
    NcFormat.writeFile(spark, s"$d/f.nc",
      dims = Seq("y" -> 3, "x" -> 4, "cell" -> 2),
      vars = Seq(
        WriteVar("y", Seq("y"), NcDouble, Array(0.0, 1.0, 2.0)),
        WriteVar("v", Seq("y", "x", "cell"), NcInt,
          Array.tabulate(24)(i => (i * 10).toDouble)),
        WriteVar("w", Seq("y", "x", "cell"), NcShort,
          Array.tabulate(24)(i => (i - 12).toDouble))))
    bothRoutesAgree(d, Seq(s"$d/f.nc"), Seq(
      "y >= 1" -> (col("y") >= 1.0), "x = 2" -> (col("x") === 2L),
      "cell < 1" -> (col("cell") < 1L)))
  }

  test("routes agree: several record variables with byte and short padding") {
    val d = tmp("padding")
    val nt = 3
    NcFormat.writeFile(spark, s"$d/p.nc",
      dims = Seq("time" -> nt, "x" -> 3),
      vars = Seq(
        WriteVar("time", Seq("time"), NcInt, Array.tabulate(nt)(_.toDouble),
          attrs = Seq("units" -> "hours since 2024-03-01")),
        WriteVar("b", Seq("time", "x"), NcByte,
          Array.tabulate(nt * 3)(i => (i - 4).toDouble)),
        WriteVar("s", Seq("time", "x"), NcShort,
          Array.tabulate(nt * 3)(i => (i * 100 - 300).toDouble)),
        WriteVar("d", Seq("time", "x"), NcDouble,
          Array.tabulate(nt * 3)(i => i * 0.5))),
      recordDim = Some("time"))
    bothRoutesAgree(d, Seq(s"$d/p.nc"),
      Seq("time > 0" -> (col("time") > lit(ts("2024-03-01T00:00")))))
  }

  test("routes agree: packed data and a _FillValue wider than its variable") {
    val d = tmp("packed")
    val fill = 9.96921e36
    NcFormat.writeFile(spark, s"$d/k.nc",
      dims = Seq("y" -> 2, "x" -> 3),
      vars = Seq(
        WriteVar("y", Seq("y"), NcDouble, Array(0.0, 1.0)),
        WriteVar("x", Seq("x"), NcDouble, Array(0.0, 1.0, 2.0)),
        WriteVar("temp", Seq("y", "x"), NcShort,
          Array(0.0, 150.0, -32767.0, 2500.0, -150.0, -32767.0),
          nattrs = Seq(
            ("scale_factor", NcDouble, Array(0.01)),
            ("add_offset", NcDouble, Array(100.0)),
            ("_FillValue", NcShort, Array(-32767.0)))),
        WriteVar("wide", Seq("y", "x"), NcFloat,
          Array(1.5, fill, 2.5, fill, 3.5, 4.5),
          nattrs = Seq(("_FillValue", NcDouble, Array(fill))))))
    bothRoutesAgree(d, Seq(s"$d/k.nc"),
      Seq("temp IS NULL" -> col("temp").isNull, "x < 2" -> (col("x") < 2.0)))
  }

  test("routes agree: noleap time axis") {
    val d = tmp("noleap")
    NcFormat.writeFile(spark, s"$d/c.nc",
      dims = Seq("time" -> 4, "x" -> 2),
      vars = Seq(
        WriteVar("time", Seq("time"), NcInt, Array(0.0, 1.0, 2.0, 3.0),
          attrs = Seq("units" -> "days since 2000-02-27", "calendar" -> "noleap")),
        WriteVar("v", Seq("time", "x"), NcDouble, Array.tabulate(8)(_.toDouble))),
      recordDim = Some("time"))
    bothRoutesAgree(d, Seq(s"$d/c.nc"),
      Seq("time >= Mar 1" -> (col("time") >= lit(ts("2000-03-01T00:00")))))
  }

  test("routes agree: a two-file directory") {
    val d = tmp("twofile")
    axisGrid(s"$d/part1.nc", nt = 3, t0 = 0)
    axisGrid(s"$d/part2.nc", nt = 2, t0 = 3)
    bothRoutesAgree(d, Seq(s"$d/part1.nc", s"$d/part2.nc"), AxisCases)
  }
}
