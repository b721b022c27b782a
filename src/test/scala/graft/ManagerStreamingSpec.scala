package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{DatasetDescriptor, TimeSpan, TimeUnitKind}
import graft.store.GridStore
import graft.streaming.StreamingUpdate

/** End-to-end lifecycle specs: the DatasetManager composition (O1-O4) and
  * the Structured Streaming façade driving the same update planner. */
class ManagerStreamingSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  private val testDesc = DatasetDescriptor("mgr_test", "value",
    spatialDims = Seq("latitude", "longitude"), timeResolution = TimeSpan.Daily)

  private class TestManager(root: String) extends DatasetManager {
    val spark: SparkSession = sp
    val desc: DatasetDescriptor = testDesc
    val storePath: String = s"$root/store"
    val inputDir: String = s"$root/input"
    override def bucketSpan: TimeUnitKind = TimeUnitKind.Days
    var postprocessRan = false
    override def postprocess(df: DataFrame): DataFrame = { postprocessRan = true; df }
    override def inputFiles(): Seq[String] = {
      val fs = GridStore.fileSystem(spark, inputDir)
      if (!fs.exists(new org.apache.hadoop.fs.Path(inputDir))) Seq.empty
      else fs.listStatus(new org.apache.hadoop.fs.Path(inputDir)).toSeq
        .filter(_.isDirectory).map(_.getPath.toString).sorted
    }
  }

  test("manager lifecycle: transform → QC → publish → incremental append (O1-O4)") {
    val root = Files.createTempDirectory("mgr_spec").toString
    val mgr = new TestManager(root)
    dailyGrid(1, 6).write.parquet(s"${mgr.inputDir}/batch1")
    assert(mgr.checkIfNewData()) // no store yet
    mgr.run()
    assert(mgr.postprocessRan)
    assert(mgr.store.dataset().count() == 24)
    assert(mgr.getMetadataDateRange().map(_._2.toString) == Some("2024-01-06T00:00"))
    assert(!mgr.checkIfNewData()) // inputs fully ingested

    dailyGrid(7, 2, base = 50.0).write.parquet(s"${mgr.inputDir}/batch2")
    assert(mgr.checkIfNewData())
    mgr.run()
    assert(mgr.store.dataset().count() == 32)
    assert(mgr.getMetadataDateRange().map(_._2.toString) == Some("2024-01-08T00:00"))
  }

  /** A daily NC grid mirroring `dailyGrid`'s cells, written as classic
    * NetCDF (time record dim, CF day units). */
  private def writeNcDaily(path: String, startDay: Int, nDays: Int,
      base: Double = 0.0): Unit = {
    import graft.sources.nc.NcFormat
    val lats = Seq(10.0, 10.25); val lons = Seq(100.0, 100.25)
    val data = for (d <- 0 until nDays; la <- lats; lo <- lons)
      yield base + d + la + lo
    NcFormat.writeFile(spark, path,
      dims = Seq("time" -> nDays, "latitude" -> 2, "longitude" -> 2),
      vars = Seq(
        NcFormat.WriteVar("time", Seq("time"), NcFormat.NcInt,
          Array.tabulate(nDays)(d => (startDay - 1 + d).toDouble),
          attrs = Seq("units" -> "days since 2024-01-01")),
        NcFormat.WriteVar("latitude", Seq("latitude"), NcFormat.NcDouble, lats.toArray),
        NcFormat.WriteVar("longitude", Seq("longitude"), NcFormat.NcDouble, lons.toArray),
        NcFormat.WriteVar("value", Seq("time", "latitude", "longitude"),
          NcFormat.NcDouble, data.toArray)),
      recordDim = Some("time"))
  }

  test("manager lifecycle runs natively on NetCDF landing files (S9 end-to-end)") {
    val root = Files.createTempDirectory("mgr_nc").toString
    val mgr = new DatasetManager {
      val spark: SparkSession = sp
      val desc: DatasetDescriptor = testDesc
      val storePath: String = s"$root/store"
      val inputDir: String = s"$root/input"
      override def bucketSpan: TimeUnitKind = TimeUnitKind.Days
    }
    new java.io.File(s"$root/input").mkdirs()
    writeNcDaily(s"$root/input/a_batch1.nc", 1, 6)
    assert(mgr.checkIfNewData())
    mgr.run(postParseQc = true) // QC samples NC cells against the store
    assert(mgr.store.dataset().count() == 24)
    assert(!mgr.checkIfNewData())
    writeNcDaily(s"$root/input/b_batch2.nc", 7, 2, base = 50.0)
    assert(mgr.checkIfNewData())
    mgr.run()
    assert(mgr.store.dataset().count() == 32)
    // cells survive scan → normalize → publish (value standardized to
    // float32 by Normalize, the reference's dtype convention)
    val r = mgr.store.dataset()
      .filter(col("time") === lit(ts("2024-01-08T00:00:00")) &&
        col("latitude") === 10.25 && col("longitude") === 100.0).head()
    assert(r.getAs[Float]("value") == (50.0 + 1 + 10.25 + 100.0).toFloat)
  }

  test("manager lifecycle runs natively on JPEG 2000 GRIB landing files " +
      "(S9 end-to-end on the ERA5 packing)") {
    val root = Files.createTempDirectory("mgr_grib").toString
    val mgr = new DatasetManager {
      val spark: SparkSession = sp
      val desc: DatasetDescriptor = testDesc
      val storePath: String = s"$root/store"
      val inputDir: String = s"$root/input"
      override def bucketSpan: TimeUnitKind = TimeUnitKind.Days
    }
    new java.io.File(s"$root/input").mkdirs()
    def writeGribDaily(path: String, startDay: Int, nDays: Int,
        base: Double = 0.0): Unit = {
      val lats = Seq(10.0, 10.25); val lons = Seq(100.0, 100.25)
      val msgs = (0 until nDays).map { d =>
        val vals = (for (la <- lats; lo <- lons) yield base + d + la + lo).toArray
        (61, java.time.LocalDateTime.of(2024, 1, startDay + d, 0, 0),
          lats, lons, vals)
      }
      graft.sources.grib.GribFormat.writeFile(spark, path, msgs,
        decimalScale = 2, edition = 2, jpegPacking = true)
    }
    writeGribDaily(s"$root/input/a_batch1.grb2", 1, 6)
    assert(mgr.checkIfNewData())
    mgr.run(postParseQc = true)
    assert(mgr.store.dataset().count() == 24)
    writeGribDaily(s"$root/input/b_batch2.grb2", 7, 2, base = 50.0)
    assert(mgr.checkIfNewData())
    mgr.run()
    assert(mgr.store.dataset().count() == 32)
    // cells survive 5.40 decode → normalize → publish (float32 per the
    // reference's dtype convention)
    val r = mgr.store.dataset()
      .filter(col("time") === lit(ts("2024-01-08T00:00:00")) &&
        col("latitude") === 10.25 && col("longitude") === 100.0).head()
    assert(r.getAs[Float]("value") == (50.0 + 1 + 10.25 + 100.0).toFloat)
  }

  test("scheduled AvailableNow runs over an NC landing dir resume from the checkpoint") {
    // the reference's cron-batch update loop: each run drains what landed
    // since the last run's offset, publishes it, and exits
    val root = Files.createTempDirectory("nc_stream_store").toString
    writeNcDaily(s"$root/input/a.nc", 1, 3)
    val store = new GridStore(spark, s"$root/store", testDesc,
      bucketSpan = TimeUnitKind.Days)
    def runOnce(): Unit = {
      val q = StreamingUpdate.attach(
        spark.readStream.format("netcdf").load(s"$root/input"),
        store, s"$root/ckpt")
      q.awaitTermination()
    }
    runOnce()
    assert(store.dataset().count() == 3 * 4)
    // second scheduled run picks up ONLY the newly landed file (the
    // landing-dir watermark offset round-trips through the checkpoint)
    writeNcDaily(s"$root/input/b.nc", 4, 2, base = 9.0)
    runOnce()
    assert(store.dataset().count() == 5 * 4)
    val r = store.dataset().filter(col("time") === lit(ts("2024-01-05T00:00:00")) &&
      col("latitude") === 10.0 && col("longitude") === 100.25).head()
    assert(r.getAs[Double]("value") == 9.0 + 1 + 10.0 + 100.25)
  }

  test("scheduled runs land in the NATIVE zarr store through the same attach (v3 + zstd)") {
    // same cron-batch loop, but the sink is the reference's own format:
    // a v3 zarr.json store with zstd chunks — batch 2 appends in place
    val root = Files.createTempDirectory("nc_stream_zarr").toString
    writeNcDaily(s"$root/input/a.nc", 1, 3)
    val store = new graft.store.ZarrStore(spark, s"$root/store", testDesc,
      timeChunk = 2, zarrFormat = 3,
      codec = graft.sources.zarr.ZarrCodec.ZstdCodec(3))
    def runOnce(): Unit = {
      val q = StreamingUpdate.attach(
        spark.readStream.format("netcdf").load(s"$root/input"),
        store, s"$root/ckpt")
      q.awaitTermination()
    }
    runOnce()
    assert(store.dataset().count() == 3 * 4)
    writeNcDaily(s"$root/input/b.nc", 4, 2, base = 9.0)
    runOnce() // appends days 4-5, butt-joining the half-full tail chunk
    assert(store.dataset().count() == 5 * 4)
    val r = store.dataset().filter(col("time") === lit(ts("2024-01-05T00:00:00")) &&
      col("latitude") === 10.0 && col("longitude") === 100.25).head()
    assert(r.getAs[Double]("value") == 9.0 + 1 + 10.0 + 100.25)
    store.checkNotInProgress()
  }

  test("streaming batches append into a SHARDED v3 store (read-modify-write per shard)") {
    val root = Files.createTempDirectory("nc_stream_shard").toString
    writeNcDaily(s"$root/input/a.nc", 1, 3)
    val store = new graft.store.ZarrStore(spark, s"$root/store", testDesc,
      timeChunk = 2, zarrFormat = 3, shardChunks = Some(Seq(1, 2, 2)))
    def runOnce(): Unit = {
      val q = StreamingUpdate.attach(
        spark.readStream.format("netcdf").load(s"$root/input"),
        store, s"$root/ckpt")
      q.awaitTermination()
    }
    runOnce()
    assert(store.dataset().count() == 3 * 4)
    writeNcDaily(s"$root/input/b.nc", 4, 2, base = 9.0)
    runOnce() // appends days 4-5: shard 1 merges in place, shard 2 is new
    assert(store.dataset().count() == 5 * 4)
    val r = store.dataset().filter(col("time") === lit(ts("2024-01-05T00:00:00")) &&
      col("latitude") === 10.0 && col("longitude") === 100.25).head()
    assert(r.getAs[Double]("value") == 9.0 + 1 + 10.0 + 100.25)
    store.checkNotInProgress()
  }

  test("a mixed NC+parquet input dir fails loudly (conversion-window double-ingest guard)") {
    val root = Files.createTempDirectory("mgr_mixed").toString
    val mgr = new DatasetManager {
      val spark: SparkSession = sp
      val desc: DatasetDescriptor = testDesc
      val storePath: String = s"$root/store"
      val inputDir: String = s"$root/input"
    }
    new java.io.File(s"$root/input").mkdirs()
    writeNcDaily(s"$root/input/a.nc", 1, 2)
    dailyGrid(1, 2).coalesce(1).write.parquet(s"$root/input/tmp_pq")
    // move one parquet part file directly into the input dir
    val part = new java.io.File(s"$root/input/tmp_pq").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$root/input/b.parquet"))
    assertThrows[IllegalArgumentException](mgr.inputFiles())
  }

  test("checkIfNewData opens only the NEWEST manifest file (convenience.py:473-504)") {
    val root = Files.createTempDirectory("mgr_newest").toString
    val mgr = new TestManager(root)
    dailyGrid(1, 6).write.parquet(s"${mgr.inputDir}/batch1")
    mgr.run()
    assert(!mgr.checkIfNewData())
    // new data placed in a file that sorts BEFORE the newest: the
    // single-file check (the reference's exact semantics) must not see it…
    dailyGrid(9, 1).write.parquet(s"${mgr.inputDir}/batch0_earlier_name")
    assert(!mgr.checkIfNewData())
    // …and new data in the newest-sorted file is seen
    dailyGrid(9, 1).write.parquet(s"${mgr.inputDir}/batch2")
    assert(mgr.checkIfNewData())
  }

  test("manager extract guard rejects ranges before dataset start (O2)") {
    val root = Files.createTempDirectory("mgr_spec2").toString
    val mgr = new TestManager(root) {
      override val desc: DatasetDescriptor = testDesc.copy(
        datasetStartDate = Some(java.time.Instant.parse("2024-01-01T00:00:00Z")))
    }
    assertThrows[IllegalArgumentException] {
      mgr.extract(Some((ts("2023-12-01T00:00:00"), ts("2024-01-05T00:00:00"))))
    }
    mgr.extract(Some((ts("2024-01-02T00:00:00"), ts("2024-01-05T00:00:00"))))
  }

  test("manager dry run leaves no store") {
    val root = Files.createTempDirectory("mgr_spec3").toString
    val mgr = new TestManager(root)
    dailyGrid(1, 3).write.parquet(s"${mgr.inputDir}/batch1")
    mgr.run(dryRun = true)
    assert(!mgr.store.hasExisting)
  }

  test("streaming façade: file stream drives initial write then incremental update") {
    val root = Files.createTempDirectory("stream_spec").toString
    val inDir = s"$root/incoming"
    val store = new GridStore(spark, s"$root/store", testDesc,
      bucketSpan = TimeUnitKind.Days)

    // batch 1 lands before the stream starts
    dailyGrid(1, 4).write.parquet(inDir)
    val schema = dailyGrid(1, 1).schema
    val stream = spark.readStream.schema(schema).parquet(inDir)
    val q1 = StreamingUpdate.attach(stream, store, s"$root/ckpt")
    q1.awaitTermination(60000)
    assert(store.hasExisting)
    assert(store.dataset().count() == 16)

    // late + new data arrives; a fresh AvailableNow pass picks up only it
    dailyGrid(4, 2, base = 900.0).write.mode("append").parquet(inDir)
    val q2 = StreamingUpdate.attach(
      spark.readStream.schema(schema).parquet(inDir), store, s"$root/ckpt")
    q2.awaitTermination(60000)
    val ds = store.dataset()
    assert(ds.count() == 20) // day 4 overwritten in place, day 5 appended
    val day4 = ds.filter(col("time") === lit(ts("2024-01-04T00:00:00")))
      .agg(min("value")).as[Double].head()
    assert(day4 == 900.0 + 0 + 10.0 + 100.0)
  }

  test("post-parse QC passes on a faithful write and catches store corruption") {
    val root = Files.createTempDirectory("mgr_ppqc").toString
    val mgr = new TestManager(root)
    dailyGrid(1, 4).write.parquet(s"${mgr.inputDir}/batch1")
    mgr.run(postParseQc = true) // faithful write: no throw

    // corrupt one bucket's values directly, rerun only the QC step
    val corrupted = mgr.store.dataset().withColumn("value", col("value") + lit(7.0))
    val bad = graft.ops.QcDrivers.postParseQualityCheck(spark,
      (lo, hi) => corrupted.filter(col("time").between(lit(lo), lit(hi))),
      mgr.inputFiles(), f => spark.read.parquet(f),
      Seq("time", "latitude", "longitude"), "value", mgr.desc, maxChecks = 20)
    assert(bad.count() > 0)
  }

  test("attrs carry a union-extended bbox when spatial dims are lat/lon") {
    val root = Files.createTempDirectory("mgr_bbox").toString
    val mgr = new TestManager(root)
    dailyGrid(1, 3).write.parquet(s"${mgr.inputDir}/batch1")
    mgr.run()
    assert(mgr.store.readAttrs()("bbox") == "100.0,10.0,100.25,10.25")
  }

  test("publishMetadata assembles STAC from store attrs; repush preserves history") {
    val root = Files.createTempDirectory("mgr_stac").toString
    val mgr = new TestManager(root)
    dailyGrid(1, 3).write.parquet(s"${mgr.inputDir}/batch1")
    mgr.run()
    mgr.publishMetadata()
    val stac = new graft.meta.StacCatalog(spark, s"${mgr.storePath}/_stac")
    val coll = stac.readCollection("mgr_test")
    assert(coll.isDefined)
    val item = stac.readItem("mgr_test", "mgr_test-latest")
      .collect { case o: graft.meta.JObj => o }.get
    val props = item.get("properties").collect { case o: graft.meta.JObj => o }.get
    assert(props.get("start_datetime") == Some(graft.meta.JStr("2024010100")))
    assert(props.get("dim_size:time") == Some(graft.meta.JNum(3.0)))

    // append + republish: interval extends, old item goes to history
    dailyGrid(4, 2).write.mode("append").parquet(s"${mgr.inputDir}/batch1")
    mgr.run()
    mgr.publishMetadata()
    assert(stac.historyCount("mgr_test", "mgr_test-latest") == 1)
    val item2 = stac.readItem("mgr_test", "mgr_test-latest")
      .collect { case o: graft.meta.JObj => o }.get
    val props2 = item2.get("properties").collect { case o: graft.meta.JObj => o }.get
    assert(props2.get("end_datetime") == Some(graft.meta.JStr("2024010500")))
  }
}
