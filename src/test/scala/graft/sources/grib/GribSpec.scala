package graft.sources.grib

import java.nio.file.Files
import java.time.LocalDateTime

import org.apache.spark.sql.functions._

import graft.SparkSpec

class GribSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  test("IBM float and sign-magnitude primitives round-trip") {
    for (v <- Seq(0.0, 1.0, -1.0, 100.0, 0.015625, 123456.0, -98765.0, 0.1))
      assert(math.abs(GribFormat.ibmToDouble(GribFormat.doubleToIbm(v)) - v)
        <= math.abs(v) * 1e-6, s"IBM roundtrip of $v")
    // integers below 2^24 are EXACT in IBM float
    for (v <- Seq(1.0, 255.0, 65535.0, 1000000.0, -42.0))
      assert(GribFormat.ibmToDouble(GribFormat.doubleToIbm(v)) == v)
  }

  private def writeDay(path: String, day: Int, base: Double,
      decimalScale: Int = 0): Unit = {
    val lats = Seq(-45.5, -45.0, -44.5)
    val lons = Seq(10.0, 10.5, 11.0, 11.5)
    val vals = Array.tabulate(12)(k => base + k)
    GribFormat.writeFile(spark, path, Seq(
      (61, LocalDateTime.of(2024, 3, day, 0, 0), lats, lons, vals)),
      decimalScale)
  }

  test("writer → parser → scan: cells, negative coords, timestamps, multi-message") {
    val dir = Files.createTempDirectory("grib1").toString
    // one file with two messages (two timesteps)
    GribFormat.writeFile(spark, s"$dir/two.grb", Seq(
      (61, LocalDateTime.of(2024, 3, 1, 0, 0), Seq(-45.5, -45.0),
        Seq(10.0, 10.5), Array(1.0, 2.0, 3.0, 4.0)),
      (61, LocalDateTime.of(2024, 3, 2, 0, 0), Seq(-45.5, -45.0),
        Seq(10.0, 10.5), Array(5.0, 6.0, 7.0, 8.0))))
    val df = spark.read.format("grib1").load(s"$dir/two.grb")
    assert(df.columns.toSeq ==
      Seq("time", "latitude", "longitude", "param", "member", "derived",
        "level_type", "level", "level_to", "ref_time", "step", "step_start",
        "prob_type", "prob_lo", "prob_hi", "percentile", "value"))
    assert(df.count() == 8)
    val r = df.filter(col("time") === lit(ts("2024-03-02T00:00:00")) &&
      col("latitude") === -45.0 && col("longitude") === 10.5).head()
    assert(r.getAs[Double]("value") == 8.0)
    assert(r.getAs[Int]("param") == 61)
    val sums = df.groupBy("time").agg(sum("value").as("s"))
      .orderBy("time").select("s").as[Double].collect().toSeq
    assert(sums == Seq(10.0, 26.0))
  }

  test("decimal scaling packs fractional values exactly") {
    val dir = Files.createTempDirectory("grib2").toString
    val vals = Array(0.25, 1.75, -3.5, 10.0, 0.0, 99.75)
    GribFormat.writeFile(spark, s"$dir/f.grb", Seq(
      (11, LocalDateTime.of(2024, 1, 1, 6, 30), Seq(0.0, 1.0),
        Seq(0.0, 1.0, 2.0), vals)), decimalScale = 2)
    val got = spark.read.format("grib1").load(s"$dir/f.grb")
      .orderBy("latitude", "longitude").select("value").as[Double].collect()
    assert(got.toSeq == vals.toSeq)
  }

  test("forecast lead (P1) shifts the valid time; averages are rejected") {
    val dir = Files.createTempDirectory("grib_lead").toString
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val out = new java.io.DataOutputStream(
      fs.create(new org.apache.hadoop.fs.Path(s"$dir/lead.grb"), true))
    try {
      GribFormat.writeMessage(out, 61, LocalDateTime.of(2024, 3, 1, 0, 0),
        Seq(0.0), Seq(0.0), Array(1.0), leadHours = 0)
      GribFormat.writeMessage(out, 61, LocalDateTime.of(2024, 3, 1, 0, 0),
        Seq(0.0), Seq(0.0), Array(2.0), leadHours = 6)
    } finally out.close()
    val df = spark.read.format("grib1").load(s"$dir/lead.grb")
    val got = df.orderBy("time").select("time", "value").collect()
      .map(r => (r.getAs[LocalDateTime]("time"), r.getDouble(1))).toSeq
    assert(got == Seq(
      (LocalDateTime.of(2024, 3, 1, 0, 0), 1.0),
      (LocalDateTime.of(2024, 3, 1, 6, 0), 2.0)))
  }

  test("constant fields (zero range) decode via bits-per-value 0") {
    val dir = Files.createTempDirectory("grib3").toString
    GribFormat.writeFile(spark, s"$dir/c.grb", Seq(
      (33, LocalDateTime.of(2024, 1, 1, 0, 0), Seq(0.0), Seq(0.0, 1.0),
        Array(7.0, 7.0))))
    val got = spark.read.format("grib1").load(s"$dir/c.grb")
      .select("value").as[Double].collect()
    assert(got.toSeq == Seq(7.0, 7.0))
  }

  test("time predicates prune whole messages at planning; lat stays residual") {
    val dir = Files.createTempDirectory("grib4").toString
    (1 to 5).foreach(d => writeDay(s"$dir/d$d.grb", d, d * 100.0))
    val all = spark.read.format("grib1").load(dir)
    assert(all.count() == 5 * 12)
    val filtered = all.filter(col("time") >= lit(ts("2024-03-04T00:00:00")))
    assert(filtered.count() == 2 * 12)
    // message-level pruning shows in the scan: 2 of 5 messages survive
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("graft-grib1 messages=2/5"), s"expected pruning in:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(time"), s"expected pushed filter in:\n$plan")
    // partitions = surviving messages
    assert(filtered.rdd.getNumPartitions == 2)
    // lat predicate is NOT claimed: it must appear as a residual Filter
    val latPlan = all.filter(col("latitude") > -45.2)
    assert(latPlan.count() == 5 * 8)
    assert(latPlan.queryExecution.executedPlan.toString.contains("Filter"))
  }

  test("column pruning reaches the scan") {
    val dir = Files.createTempDirectory("grib5").toString
    writeDay(s"$dir/d.grb", 1, 0.0)
    val df = spark.read.format("grib1").load(s"$dir/d.grb").select("time", "value")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<time:timestamp_ntz,value:double>"),
      s"expected pruned ReadSchema in:\n$plan")
    assert(df.count() == 12)
  }

  test("param equality prunes messages") {
    val dir = Files.createTempDirectory("grib6").toString
    GribFormat.writeFile(spark, s"$dir/p.grb", Seq(
      (61, LocalDateTime.of(2024, 1, 1, 0, 0), Seq(0.0), Seq(0.0), Array(1.0)),
      (11, LocalDateTime.of(2024, 1, 1, 0, 0), Seq(0.0), Seq(0.0), Array(2.0))))
    val df = spark.read.format("grib1").load(s"$dir/p.grb")
      .filter(col("param") === 11)
    assert(df.select("value").as[Double].collect().toSeq == Seq(2.0))
    assert(df.queryExecution.executedPlan.toString.contains("messages=1/2"))
  }

  test("header cache is a true LRU: crossing the bound evicts only the " +
      "oldest-touched files — the working set survives a re-plan") {
    // (format, its shared header cache, file extension, write file i,
    // rows per file): GRIB messages, and NetCDF grids through the
    // same cache
    import graft.sources.nc.NcFormat
    val inputs: Seq[(String, graft.sources.HeaderCache[_], String,
        (String, Int) => Unit, Long)] = Seq(
      ("grib1", GribTable.headers, ".grb",
        (p: String, i: Int) => writeDay(p, day = i + 1, base = i * 10.0), 12L),
      ("netcdf", graft.sources.nc.NcTable.grids, ".nc",
        (p: String, i: Int) => NcFormat.writeFile(spark, p,
          dims = Seq("cell" -> 4), vars = Seq(NcFormat.WriteVar("v",
            Seq("cell"), NcFormat.NcFloat, Array.tabulate(4)(_ + i * 10.0)))),
        4L))
    for ((format, cache, ext, write, rows) <- inputs) {
      val dir = Files.createTempDirectory(s"${format}lru").toString
      val files = (0 until 6).map { i =>
        val p = s"$dir/f$i$ext"
        write(p, i)
        p
      }
      def parses(body: => Unit): Long = {
        val before = cache.parses.get()
        body
        cache.parses.get() - before
      }
      def touch(ps: Seq[String]): Unit =
        ps.foreach(p => assert(spark.read.format(format).load(p).count() == rows))
      val oldBound = cache.maxFiles
      cache.clear()
      cache.maxFiles = 4
      try {
        // first pass parses every file once (the per-read double resolve
        // hits the cache the second time)
        assert(parses(touch(files)) == 6)
        // the 4 most-recently-touched files are the working set — a second
        // plan over them re-parses NOTHING
        assert(parses(touch(files.drop(2))) == 0)
        // the 2 oldest were evicted when the bound was crossed: exactly
        // those re-parse, and only those — clear-all would re-parse all 6
        assert(parses(touch(files.take(2))) == 2)
      } finally {
        cache.maxFiles = oldBound
        cache.clear()
      }
    }
  }
}
