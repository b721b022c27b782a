package graft.store

import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.{DatasetDescriptor, TimeSpan, TimeUnitKind}

/** Write-engine system scenarios mirroring the reference's
  * tests/system/test_chirps.py:137-329 (initial parse + point value, append
  * + attrs survival, dry run writes nothing, failure leaves only the
  * in-progress flag, append-with-hole raises). */
class GridStoreSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  private val desc = DatasetDescriptor("unit_test", "value",
    spatialDims = Seq("latitude", "longitude"), timeResolution = TimeSpan.Daily)

  private def newStore(): GridStore = {
    val dir = Files.createTempDirectory("gridstore_spec").toString
    new GridStore(spark, s"$dir/store", desc, bucketSpan = TimeUnitKind.Days)
  }

  test("initial write → reopen → point value golden check (test_chirps.py:176-216)") {
    val store = newStore()
    assert(!store.hasExisting)
    store.publish(dailyGrid(1, 10))
    assert(store.hasExisting)
    val got = store.dataset()
      .filter(col("time") === lit(ts("2024-01-03T00:00:00")) &&
        col("latitude") === 10.25 && col("longitude") === 100.25)
      .select("value").as[Double].head()
    assert(got == 2.0 + 10.25 + 100.25)
    assert(store.dataset().count() == 40)
  }

  test("append extends the store and attrs survive (test_chirps.py:239-271)") {
    val store = newStore()
    store.publish(dailyGrid(1, 5))
    val a0 = store.readAttrs()
    assert(a0("date_range_start") == "2024010100" && a0("date_range_end") == "2024010500")
    store.publish(dailyGrid(6, 3, base = 100.0))
    val a1 = store.readAttrs()
    assert(a1("date_range_start") == "2024010100")
    assert(a1("date_range_end") == "2024010800")
    assert(a1("update_previous_end_date") == "2024010500")
    assert(a1(GridStore.UpdateInProgressKey) == "false")
    assert(store.dataset().count() == 32)
    // appended values present
    val v = store.dataset().filter(col("time") === lit(ts("2024-01-07T00:00:00")))
      .agg(min("value")).as[Double].head()
    assert(v == 100.0 + 1 + 10.0 + 100.0)
  }

  test("insert overwrites historical region in place, padding untouched cells") {
    val store = newStore()
    store.publish(dailyGrid(1, 10))
    // correction for days 4-5, only the (10.0, 100.0) cell
    val corr = dailyGrid(4, 2, base = 1000.0)
      .filter(col("latitude") === 10.0 && col("longitude") === 100.0)
    store.publish(corr)
    val ds = store.dataset()
    assert(ds.count() == 40) // no rows lost or duplicated
    val corrected = ds.filter(col("time") === lit(ts("2024-01-04T00:00:00")) &&
      col("latitude") === 10.0 && col("longitude") === 100.0)
      .select("value").as[Double].head()
    assert(corrected == 1000.0 + 0 + 10.0 + 100.0)
    val untouched = ds.filter(col("time") === lit(ts("2024-01-04T00:00:00")) &&
      col("latitude") === 10.25 && col("longitude") === 100.25)
      .select("value").as[Double].head()
    assert(untouched == 3.0 + 10.25 + 100.25)
  }

  test("mixed insert+append update applies both paths") {
    val store = newStore()
    store.publish(dailyGrid(1, 6))
    store.publish(dailyGrid(5, 4, base = 50.0)) // days 5-6 insert, 7-8 append
    val ds = store.dataset()
    assert(ds.count() == 32)
    val d5 = ds.filter(col("time") === lit(ts("2024-01-05T00:00:00")))
      .agg(min("value")).as[Double].head()
    assert(d5 == 50.0 + 0 + 10.0 + 100.0)
  }

  test("dry run writes nothing (test_chirps.py:137-153)") {
    val store = newStore()
    store.publish(dailyGrid(1, 3), dryRun = true)
    assert(!store.hasExisting)
  }

  test("failed write leaves only the cleared in-progress flag (test_chirps.py:156-173)") {
    val store = newStore()
    store.publish(dailyGrid(1, 5))
    val before = store.readAttrs()
    val poisoned = dailyGrid(6, 1)
      .withColumn("value", expr("raise_error('boom')").cast("double"))
    assertThrows[Exception](store.publish(poisoned))
    val after = store.readAttrs()
    assert(after(GridStore.UpdateInProgressKey) == "false")
    assert(after("date_range_end") == before("date_range_end"))
    assert(store.dataset().count() == 20)
  }

  test("append with a hole raises and store is untouched (test_chirps.py:305-329)") {
    val store = newStore()
    store.publish(dailyGrid(1, 5))
    assertThrows[IllegalStateException](store.publish(dailyGrid(8, 2)))
    assert(store.dataset().count() == 20)
  }

  test("a gap fill before the store end is refused and the store is untouched") {
    val store = newStore()
    // days 1-3 and 5-10: day 4 lies inside the store's range but is absent
    store.publish(dailyGrid(1, 3).union(dailyGrid(5, 6)))
    val (attrs, rows) = (store.readAttrs(), collectSet(store.dataset()))
    // day 4 is neither an existing time nor after the end (day 10)
    val ex = intercept[IllegalStateException](store.publish(dailyGrid(4, 2, base = 100.0)))
    assert(ex.getMessage.contains("not contiguous"), ex.getMessage)
    assert(store.readAttrs() == attrs)
    assert(rows.size == 9 * 4 && collectSet(store.dataset()) == rows)
  }

  test("an append opening a new bucket at a month boundary takes the end from the last bucket") {
    val dir = Files.createTempDirectory("gridstore_spec").toString
    val store = new GridStore(spark, s"$dir/store", desc) // monthly buckets
    def days(from: LocalDate, n: Int) = (for {
      d <- 0 until n
      lat <- Seq(10.0, 10.25)
      lon <- Seq(100.0, 100.25)
    } yield (from.plusDays(d).atStartOfDay(), lat, lon, d + lat + lon))
      .toDF("time", "latitude", "longitude", "value")
    store.publish(days(LocalDate.of(2024, 1, 1), 31))
    // append-only: Feb 1-2 touch only the new 2024-02 bucket, so the
    // store's end (Jan 31) comes from the untouched 2024-01 bucket
    store.publish(days(LocalDate.of(2024, 2, 1), 2))
    val attrs = store.readAttrs()
    assert(attrs("update_previous_end_date") == "2024013100")
    assert(attrs("date_range_end") == "2024020200")
    assert(attrs("update_date_range_start") == "2024020100")
    assert(store.readBuckets(Set("2024-02")).count() == 2 * 4)
    assert(store.dataset().count() == 33 * 4)
  }

  test("concurrent-writer guard refuses when marker is set (publish.py:358-375)") {
    val store = newStore()
    store.publish(dailyGrid(1, 3))
    store.patchAttrs(Map(GridStore.UpdateInProgressKey -> "true"))
    assertThrows[IllegalStateException](store.publish(dailyGrid(4, 1)))
  }

  test("rebuild requires allowOverwrite") {
    val store = newStore()
    store.publish(dailyGrid(1, 3))
    assertThrows[IllegalStateException] {
      store.publish(dailyGrid(1, 3), rebuild = true, allowOverwrite = false)
    }
    store.publish(dailyGrid(1, 4), rebuild = true)
    assert(store.dataset().count() == 16)
  }

  test("attrs sidecar round-trips escapes AND nested JSON; flat patch preserves nesting") {
    import graft.meta._
    val store = newStore()
    val m = Map("a\"b" -> "line1\nline2", "tab" -> "x\ty", "plain" -> "v")
    store.writeAttrs(m)
    assert(store.readAttrs() == m)
    // nested provider metadata (store.py:26-46): full AST round-trip
    val nested = JObj(Seq(
      "provider" -> JObj(Seq(
        "name" -> JStr("acme"),
        "ids" -> JArr(Seq(JNum(1), JNum(2), JNum(3))),
        "active" -> JBool(true),
        "notes" -> JNull)),
      "plain" -> JStr("v")))
    store.writeAttrsJson(nested)
    assert(store.readAttrsJson() == nested)
    // a flat string patch must not clobber the untouched nested value
    store.patchAttrs(Map("plain" -> "v2", "extra" -> "w"))
    val after = store.readAttrsJson()
    assert(after.get("provider") == nested.get("provider"))
    assert(after.get("plain").contains(JStr("v2")))
    // the flat view renders nested values to compact JSON
    assert(store.readAttrs()("provider").contains("\"name\":\"acme\""))
  }

  test("readRange / readBuckets prune bucket partitions in the plan") {
    val root = java.nio.file.Files.createTempDirectory("prune_spec").toString
    val desc = graft.model.DatasetDescriptor("prune", "value",
      spatialDims = Seq("latitude", "longitude"),
      timeResolution = graft.model.TimeSpan.Daily)
    val store = new GridStore(spark, s"$root/store", desc,
      bucketSpan = graft.model.TimeUnitKind.Days)
    store.publish(dailyGrid(1, 10))

    val pruned = store.readRange(ts("2024-01-03T00:00:00"), ts("2024-01-04T00:00:00"))
    assert(pruned.count() == 8) // 2 days x 4 cells
    val plan = pruned.queryExecution.executedPlan.toString
    val partLine = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(partLine.contains("__bucket"), s"expected bucket partition filter in: $plan")

    assert(store.readBuckets(Set("2024-01-05")).count() == 4)
  }

  test("compact merges small files per bucket without changing data or attrs") {
    val dir = Files.createTempDirectory("compact_spec").toString
    // a tiny maxRecordsPerFile forces many small files per bucket
    val writer = new GridStore(spark, s"$dir/store", desc,
      bucketSpan = TimeUnitKind.Months, maxRecordsPerFile = 4L)
    writer.publish(dailyGrid(1, 2))
    (3 to 9 by 2).foreach(d => writer.publish(dailyGrid(d, 2, base = d.toDouble)))
    // compact through a handle with production-sized files
    val store = new GridStore(spark, s"$dir/store", desc,
      bucketSpan = TimeUnitKind.Months)
    val before = store.dataset().orderBy("time", "latitude", "longitude")
      .collect().map(_.toSeq).toSeq
    val attrsBefore = store.readAttrs()

    def nFiles: Int = {
      val fs = GridStore.fileSystem(spark, s"$dir/store/data")
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$dir/store/data"), true)
      var n = 0
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    val filesBefore = nFiles
    store.compact()
    assert(nFiles < filesBefore, s"expected fewer files than $filesBefore")
    val after = store.dataset().orderBy("time", "latitude", "longitude")
      .collect().map(_.toSeq).toSeq
    assert(after == before)
    val attrsAfter = store.readAttrs()
    assert(attrsAfter - GridStore.UpdateInProgressKey ==
      attrsBefore - GridStore.UpdateInProgressKey)
    assert(attrsAfter(GridStore.UpdateInProgressKey) == "false")
  }
}
