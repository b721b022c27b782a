package graft.store

import java.time.Instant

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.meta.JObj
import graft.model.{DatasetDescriptor, TimeSpan}
import graft.ops.DeltaProfile

/** The publish stats taken from the delta profile, and the data schema
  * pinned in the attrs sidecar. */
class GridStoreSchemaSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  private val desc = DatasetDescriptor("schema_pin", "value",
    spatialDims = Seq("latitude", "longitude"), timeResolution = TimeSpan.Daily)

  private def fresh(name: String, d: DatasetDescriptor = desc): GridStore = {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_$name"
    GridStore.fileSystem(spark, path).delete(new HPath(path), true)
    new GridStore(spark, path, d)
  }

  private def grid(startDay: Int, nDays: Int, base: Double = 0.0): DataFrame =
    dailyGrid(startDay, nDays, base).withColumn("value", col("value").cast("float"))

  private def files(store: GridStore): Map[String, Long] = {
    val fs = GridStore.fileSystem(spark, store.path)
    val it = fs.listFiles(new HPath(store.path), true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .map(st => st.getPath.toString -> st.getModificationTime).toMap
  }

  test("attrs from the profile equal Spark's aggregates: TIMESTAMP time, " +
      "non-UTC session zone, month boundary") {
    val d = desc.copy(timeResolution = TimeSpan.SixHourly, bboxRounding = 2)
    // 6-hourly instants from 2024-01-30 12:00Z: Tokyo wall time (UTC+9)
    // crosses into February a step before UTC does
    def frame(from: Int, n: Int, base: Float): DataFrame = (for {
      s <- from until from + n
      lat <- Seq(10.004999, 10.145) // round(_, 2): 10.0, 10.15 (HALF_UP of the decimal)
      lon <- Seq(100.125, 100.145)
    } yield (java.sql.Timestamp.from(
        Instant.parse("2024-01-30T12:00:00Z").plusSeconds(s * 6 * 3600L)),
      lat, lon, base + s)).toDF("time", "latitude", "longitude", "value")
    // the scalars the attrs were taken from before the profile: one Spark
    // aggregate over the frame
    def sparkStats(df: DataFrame): Row = df.agg(
      date_format(min(col("time")), "yyyyMMddHH"), date_format(max(col("time")), "yyyyMMddHH"),
      round(min(col("longitude")), 2), round(min(col("latitude")), 2),
      round(max(col("longitude")), 2), round(max(col("latitude")), 2),
      collect_set(date_format(col("time"), "yyyy-MM"))).head()
    def bbox(r: Row) = (2 to 5).map(r.getDouble).mkString(",")

    val zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try {
      val store = fresh("schema_attrs", d)
      val initial = frame(0, 6, 0f)
      val update = frame(4, 4, 100f) // steps 4-5 insert, 6-7 append
      val (s0, s1) = (sparkStats(initial), sparkStats(update))
      assert(s0.getSeq[String](6).toSet == Set("2024-01", "2024-02"))
      assert(store.updateStats(DeltaProfile(update, d)).touched ==
        s1.getSeq[String](6).toSet)

      store.publish(initial)
      val common = Map("dataset_name" -> d.datasetName, "data_var" -> "value",
        "time_resolution" -> d.timeResolution.toString, "update_in_progress" -> "false")
      def attrs = store.readAttrs() - GridStore.DataSchemaAttr
      assert(attrs == common ++ Map(
        "date_range_start" -> s0.getString(0), "date_range_end" -> s0.getString(1),
        "update_date_range_start" -> s0.getString(0),
        "update_date_range_end" -> s0.getString(1),
        "update_is_append_only" -> "true", "update_previous_end_date" -> "",
        "bbox" -> bbox(s0)))

      store.publish(update)
      assert(attrs == common ++ Map(
        "date_range_start" -> s0.getString(0), "date_range_end" -> s1.getString(1),
        "update_date_range_start" -> s1.getString(0),
        "update_date_range_end" -> s1.getString(1),
        "update_is_append_only" -> "false",
        "update_previous_end_date" -> s0.getString(1),
        "bbox" -> bbox(s0)))
      assert(store.dataset().count() == 8 * 4)
      assert(store.dataset().filter(col("value") >= 100f).count() == 4 * 4)
    } finally spark.conf.set("spark.sql.session.timeZone", zone)
  }

  test("a fresh handle's readRange launches no job before an action") {
    val store = fresh("schema_open")
    store.publish(grid(1, 5))
    val reopened = new GridStore(spark, store.path, desc)
    var df: DataFrame = null
    assert(countJobs {
      df = reopened.readRange(ts("2024-01-02T00:00:00"), ts("2024-01-03T00:00:00"))
    } == 0)
    assert(df.count() == 2 * 4)
    assert(df.schema("value").dataType.typeName == "float")
  }

  test("an update whose schema differs from the pinned one fails before any write") {
    val store = fresh("schema_mismatch")
    store.publish(grid(1, 5))
    val before = (files(store), store.readAttrs())
    val doubled = dailyGrid(5, 3) // value is double, the store holds float
    val e = intercept[IllegalArgumentException](store.publish(doubled))
    assert(e.getMessage.contains("value:double") && e.getMessage.contains("value:float"),
      e.getMessage)
    assert((files(store), store.readAttrs()) == before)
  }

  test("a store without the pinned schema key still reads and updates") {
    val store = fresh("schema_legacy")
    store.publish(grid(1, 5))
    val expected = collectSet(store.dataset())
    store.writeAttrsJson(JObj(store.readAttrsJson().fields
      .filterNot(_._1 == GridStore.DataSchemaAttr)))
    val legacy = new GridStore(spark, store.path, desc)
    assert(collectSet(legacy.dataset()) == expected)
    assert(legacy.readRange(ts("2024-01-02T00:00:00"), ts("2024-01-03T00:00:00"))
      .count() == 2 * 4)
    legacy.publish(grid(5, 3, base = 100.0))
    assert(legacy.dataset().count() == 7 * 4)
    assert(!legacy.readAttrs().contains(GridStore.DataSchemaAttr))
  }
}
