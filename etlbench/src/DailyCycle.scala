package etlbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes
import java.time.LocalDateTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.DatasetManager
import graft.model.{DatasetDescriptor, TimeSpan, TimeUnitKind}
import graft.ops.{Normalize, QcDrivers}
import graft.sources.Manifest
import graft.store.ZarrStore

/** The daily update-and-serve cycle of a CHIRPS-like dataset held in both
  * layouts. Each cycle lands one NetCDF file that revises days t−2 and
  * t−1 and adds day t; the history ends on a month's last day, so the
  * first cycle inserts into an old bucket and opens a new one. A cycle is
  * `DatasetManager.run(postParseQc = true)` + `publishMetadata()` +
  * archiving the file (parquet layout), `ZarrStore.publish` of the same
  * normalized delta, then a seeded mix of window reads against both
  * freshly rewritten stores. */
final class DailyCycle(ctx: Ctx) extends Workload(ctx) {
  val timedSpans = Seq("managers.run", "meta.stac.publish", "store.zarr.publish_update",
    "store.zarr.open", "store.zarr.read_exec", "store.grid.open", "store.grid.read_exec")
  private val grid = Gen.Grid(-10.0, 20.0, 48, 64)
  private val epoch = LocalDateTime.of(2023, 1, 1, 0, 0)
  private val historyDays = 59 // 2023-01-01 .. 2023-02-28
  private val readsPerCycle = 6

  private val maskShare = {
    val m = for (i <- 0 until grid.nLat; j <- 0 until grid.nLon) yield Gen.masked(ctx.seed, i, j)
    m.count(identity).toDouble / grid.cells
  }
  private val desc = DatasetDescriptor("chirps_like", "precip",
    timeResolution = TimeSpan.Daily, missingValue = Some(Gen.Missing), hasNans = true,
    expectedNanFrequency = Some(maskShare), unitOfMeasurement = Some("mm"))

  private val root = ctx.work.resolve("daily")
  private val landing = root.resolve("landing")
  private val archive = root.resolve("archive")
  private val gridDir = root.resolve("grid")
  private val zarrDir = root.resolve("zarr")

  /** Latest version of every day written so far. */
  private val version = mutable.ArrayBuffer.empty[Int]
  private var cycle = 0
  private var fp = ""

  private final class Manager(val spark: SparkSession) extends DatasetManager {
    val desc: DatasetDescriptor = DailyCycle.this.desc
    val storePath: String = gridDir.toString
    val inputDir: String = landing.toString
    override def bucketSpan: TimeUnitKind = TimeUnitKind.Months
  }
  private var mgr: Manager = _
  private def zarr() = new ZarrStore(spark, zarrDir.toString, desc,
    timeChunk = 32, spatialChunks = Some(Seq(16, 32)))

  def describe: String = s"${grid.nLat}x${grid.nLon} grid, $historyDays-day history, " +
    s"3-day delta per cycle, $readsPerCycle reads per cycle"
  def fingerprint: String = fp

  private val history = root.resolve("history").resolve("chirps_history.nc")

  /** Write the history as one NetCDF file; the stores start empty. */
  override def prepare(): Unit = {
    Gen.deleteTree(root)
    Files.createDirectories(landing); Files.createDirectories(archive)
    version.clear(); version ++= Seq.fill(historyDays)(0)
    cycle = 0
    Gen.writeNcDays(spark, history, ctx.seed, grid, epoch, 0, version.toSeq)
    fp = Gen.fingerprintFiles(Seq(history))
  }

  /** Publish the history into both layouts. */
  def setup(): Unit = {
    mgr = new Manager(spark)
    val df = tr.span("ops.normalize")(
      Normalize.normalize(Manifest.openInput(spark, history.toString), desc))
    tr.span("store.grid.publish_initial")(mgr.store.publish(df))
    tr.span("store.zarr.publish_initial")(zarr().publish(df))
    if (tr.tracing) {
      ctx.add("history_bytes", Files.size(history).toDouble)
      ctx.add("zarr.chunks_written", files(zarrDir.resolve("precip")).size.toDouble)
    }
  }

  private def day(d: Int): LocalDateTime = epoch.plusDays(d)

  /** Land the next cycle's file: days t−2, t−1 revised, day t new. */
  private def land(): (Path, Int) = {
    cycle += 1
    val t = historyDays - 1 + cycle
    version ++= Seq(cycle)
    version(t - 1) = cycle; version(t - 2) = cycle
    val f = landing.resolve(f"chirps_${day(t).toLocalDate}.nc")
    Gen.writeNcDays(spark, f, ctx.seed, grid, epoch, t - 2, Seq(cycle, cycle, cycle))
    (f, t)
  }

  private def managerRun(landed: Path): Unit = {
    if (!tr.tracing) ctx.add("run_only", ctx.clock(mgr.run(postParseQc = true))._2)
    else tr.span("managers.run") {
      // DatasetManager.run's steps, in its order
      val df = tr.span("managers.transform")(mgr.transform())
      tr.span("ops.qc.pre_parse")(QcDrivers.preParseQualityCheck(df, desc,
        hasExisting = mgr.store.hasExisting))
      tr.span("store.grid.publish_update")(mgr.store.publish(df))
      tr.span("ops.qc.post_parse") {
        val mismatches = QcDrivers.postParseQualityCheck(spark, mgr.store.readRange,
          mgr.inputFiles(), f => Normalize.normalize(Manifest.openInput(spark, f), desc,
            pre = mgr.preprocess, post = mgr.postprocess),
          desc.standardDims, desc.dataVar, desc, maxChecks = 100)
        if (mismatches.limit(1).count() > 0)
          throw new IllegalStateException("post-parse QC found mismatched cells")
      }
    }
    tr.span("meta.stac.publish")(mgr.publishMetadata())
    Files.move(landed, archive.resolve(landed.getFileName), StandardCopyOption.REPLACE_EXISTING)
  }

  def op(i: Int): Unit = {
    val (landed, t) = land()
    val deltaBytes = Files.size(landed).toDouble
    if (tr.tracing) tr.span("sources.nc.scan") {
      Manifest.openInput(spark, landed.toString).agg(count(lit(1)), sum(col("precip"))).collect()
    }
    val before = if (tr.tracing) storeFiles() else (Map.empty[Path, FileId], Map.empty[Path, FileId])
    cycleOps(i, landed, t)
    if (tr.tracing) {
      val after = storeFiles()
      ctx.add("delta_bytes", deltaBytes)
      rewrites("grid", before._1, after._1, deltaBytes)
      rewrites("zarr", before._2, after._2, deltaBytes)
    }
  }

  /** The cycle's operations; its wall time sums theirs, without checks. */
  private def cycleOps(i: Int, landed: Path, t: Int): Unit = {
    var wall = 0.0
    val mgrOk = ctx.attempt(s"daily_cycle manager_run $i") {
      val (_, dt) = ctx.clock(managerRun(landed))
      checkGolden(mgr.store.readRange(day(t - 2), day(t)), t, "parquet")
      wall += dt
      ctx.add("manager_run", dt)
    }
    val zarrOk = mgrOk && ctx.attempt(s"daily_cycle zarr_publish $i") {
      val delta = Normalize.normalize(
        Manifest.openInput(spark, archive.resolve(landed.getFileName).toString), desc)
      val (_, dt) = ctx.clock(tr.span("store.zarr.publish_update")(zarr().publish(delta)))
      checkGolden(zarr().readRange(day(t - 2), day(t)), t, "zarr")
      wall += dt
      ctx.add("zarr_publish", dt)
    }
    if (zarrOk) {
      val cellsNow = (t + 1).toDouble * grid.cells
      ctx.add("zarr_bytes_per_cell", Gen.dirBytes(zarrDir) / cellsNow)
      ctx.add("parquet_bytes_per_cell", Gen.dirBytes(gridDir.resolve("data")) / cellsNow)
      val readsOk = (0 until readsPerCycle).forall { r =>
        val layout = if (r % 2 == 0) "zarr" else "grid"
        ctx.attempt(s"daily_cycle read $i.$r ($layout)") {
          val dt = read(layout, t, Gen.hash(ctx.seed, cycle, r))
          wall += dt
          ctx.add(s"read.$layout", dt)
          ctx.add("read", dt)
        }
      }
      if (readsOk) ctx.add("op", wall)
    }
  }

  /** One window read: seeded kind, box and window; timed from the
    * `readRange` call through collecting the cells to the driver, then
    * checked against the generator's count and sum. */
  private def read(layout: String, t: Int, h: Long): Double = {
    val (d0, d1, i0, j0, n, m) = Gen.below(h, 3) match {
      case 0 => // latest week, 10x10 box
        (t - 6, t, Gen.below(Gen.mix(h), grid.nLat - 10), Gen.below(Gen.mix(h + 1), grid.nLon - 10), 10, 10)
      case 1 => // 30-day window, 20x20 box
        val d = Gen.below(Gen.mix(h + 2), t - 29)
        (d, d + 29, Gen.below(Gen.mix(h), grid.nLat - 20), Gen.below(Gen.mix(h + 1), grid.nLon - 20), 20, 20)
      case _ => // one cell, full history
        (0, t, Gen.below(Gen.mix(h), grid.nLat), Gen.below(Gen.mix(h + 1), grid.nLon), 1, 1)
    }
    val (lat0, lon0) = (grid.lats(i0), grid.lons(j0))
    val (lat1, lon1) = (grid.lats(i0 + n - 1), grid.lons(j0 + m - 1))
    val ((rows, dt), open, exec) = {
      val t0 = System.nanoTime()
      val df = tr.span(s"store.$layout.open") {
        val r = if (layout == "zarr") zarr().readRange(day(d0), day(d1))
          else mgr.store.readRange(day(d0), day(d1))
        r.filter(col("latitude").between(lat0, lat1) && col("longitude").between(lon0, lon1))
          .select(col("precip"))
      }
      val t1 = System.nanoTime()
      val rows = tr.span(s"store.$layout.read_exec")(df.collect())
      val t2 = System.nanoTime()
      ((rows, (t2 - t0) / 1e9), (t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }
    if (tr.tracing) {
      ctx.add(s"$layout.open", open); ctx.add(s"$layout.read_exec", exec)
      ctx.add(s"$layout.result_cells", rows.length.toDouble)
    }
    var expN = 0L; var expS = 0L
    for (d <- d0 to d1; i <- i0 until i0 + n; j <- j0 until j0 + m if !Gen.masked(ctx.seed, i, j)) {
      expN += 1; expS += Gen.precipHundredths(ctx.seed, d, version(d), i, j)
    }
    val vals = rows.map(DailyCycle.value(_, 0)).filterNot(_.isNaN)
    val gotS = vals.map(v => math.round(v * 100.0)).sum
    ctx.check(rows.length == (d1 - d0 + 1) * n * m,
      s"$layout read returned ${rows.length} cells, expected ${(d1 - d0 + 1) * n * m}")
    ctx.check(vals.length == expN && gotS == expS,
      s"$layout read got ${vals.length} values summing to $gotS, expected $expN / $expS")
    dt
  }

  /** Golden revised cells: every cell of days t−2..t in a fixed band of
    * rows equals the generator's latest version. */
  private def checkGolden(df: DataFrame, t: Int, layout: String): Unit = {
    val (lo, hi) = (grid.lats(3), grid.lats(5))
    val got = df.filter(col("latitude").between(lo, hi))
      .select(col("time"), col("latitude"), col("longitude"), col("precip")).collect()
    ctx.check(got.length == 3 * 3 * grid.nLon,
      s"$layout golden rows ${got.length} != ${3 * 3 * grid.nLon}")
    got.foreach { r =>
      val d = java.time.temporal.ChronoUnit.DAYS.between(epoch, DailyCycle.time(r, 0)).toInt
      val i = ((r.getDouble(1) - grid.lat0) / 0.25).round.toInt
      val j = ((r.getDouble(2) - grid.lon0) / 0.25).round.toInt
      val v = DailyCycle.value(r, 3)
      val want = if (Gen.masked(ctx.seed, i, j)) None
        else Some(Gen.precipHundredths(ctx.seed, d, version(d), i, j))
      ctx.check(want.fold(v.isNaN)(w => !v.isNaN && math.round(v * 100.0) == w),
        s"$layout golden cell day $d ($i,$j) = $v, expected ${want.fold("NaN")(w => (w / 100.0).toString)}")
    }
  }

  private type FileId = (Long, Long, AnyRef)
  private def storeFiles() = (files(gridDir.resolve("data")), files(zarrDir.resolve("precip")))
  private def files(dir: Path): Map[Path, FileId] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        val a = Files.readAttributes(p, classOf[BasicFileAttributes])
        p -> ((a.lastModifiedTime().toMillis, a.size(), a.fileKey()))
      }.toMap
      finally s.close()
    }

  /** Files a publish created or replaced, and their bytes per delta byte. */
  private def rewrites(layout: String, before: Map[Path, FileId], after: Map[Path, FileId],
      deltaBytes: Double): Unit = {
    // data files only: not hidden checksums, sidecars or _SUCCESS markers
    val changed = after.filter { case (p, id) =>
      !Seq(".", "_").exists(p.getFileName.toString.startsWith) && !before.get(p).contains(id) }
    ctx.add(s"$layout.files_rewritten", changed.size.toDouble)
    ctx.add(s"$layout.bytes_written_per_delta_byte", changed.values.map(_._2).sum / deltaBytes)
  }

  def layers(): Map[String, Double] = {
    def traced(name: String) = ctx.median(s"$name@traced")
    def inputPerDelta(span: String) = Stats.median(tr.named(span).zip(
      ctx.values("delta_bytes@traced")).map { case (s, b) => tr.work(s).input / b })
    def readInputPerCell(layout: String) = {
      val in = tr.named(s"store.$layout.read_exec").map(tr.work(_).input).sum.toDouble
      in / ctx.values(s"$layout.result_cells@traced").sum
    }
    val initialPasses = Stats.median(tr.named("store.zarr.publish_initial").map(tr.work(_).input.toDouble)) /
      traced("history_bytes")
    val runSteps = tr.named("managers.run").map(s => s.seconds - tr.selfSeconds(s))
    Map(
      "sources.nc.scan_s" -> spanSec("sources.nc.scan"),
      "ops.normalize_s" -> spanSec("ops.normalize"),
      "ops.qc.pre_parse_s" -> spanSec("ops.qc.pre_parse"),
      "ops.qc.pre_parse_jobs" -> spanWork("ops.qc.pre_parse")(_.jobs),
      "ops.qc.pre_parse_input_passes" -> inputPerDelta("ops.qc.pre_parse"),
      "store.zarr.publish_initial_s" -> spanSec("store.zarr.publish_initial"),
      "store.zarr.publish_initial_jobs" -> spanWork("store.zarr.publish_initial")(_.jobs),
      "store.zarr.publish_initial_input_passes" -> initialPasses,
      "store.zarr.chunks_written" -> traced("zarr.chunks_written"),
      "ops.qc.post_parse_s" -> spanSec("ops.qc.post_parse"),
      "store.zarr.publish_update_s" -> spanSec("store.zarr.publish_update"),
      "store.zarr.publish_update_jobs" -> spanWork("store.zarr.publish_update")(_.jobs),
      "store.zarr.chunks_rewritten" -> traced("zarr.files_rewritten"),
      "store.zarr.input_bytes_per_delta_byte" -> inputPerDelta("store.zarr.publish_update"),
      "store.zarr.bytes_written_per_delta_byte" -> traced("zarr.bytes_written_per_delta_byte"),
      "store.grid.publish_update_s" -> spanSec("store.grid.publish_update"),
      "store.grid.publish_update_jobs" -> spanWork("store.grid.publish_update")(_.jobs),
      "store.grid.files_rewritten" -> traced("grid.files_rewritten"),
      "store.grid.input_bytes_per_delta_byte" -> inputPerDelta("store.grid.publish_update"),
      "store.grid.bytes_written_per_delta_byte" -> traced("grid.bytes_written_per_delta_byte"),
      "store.zarr.open_s" -> traced("zarr.open"),
      "store.grid.open_s" -> traced("grid.open"),
      "store.zarr.read_exec_s" -> traced("zarr.read_exec"),
      "store.grid.read_exec_s" -> traced("grid.read_exec"),
      "store.zarr.read_tasks" -> spanWork("store.zarr.read_exec")(_.tasks),
      "store.grid.read_tasks" -> spanWork("store.grid.read_exec")(_.tasks),
      "store.zarr.read_input_bytes_per_result_cell" -> readInputPerCell("zarr"),
      "store.grid.read_input_bytes_per_result_cell" -> readInputPerCell("grid"),
      "store.zarr.bytes_per_cell" -> ctx.median("zarr_bytes_per_cell"),
      "store.grid.bytes_per_cell" -> ctx.median("parquet_bytes_per_cell"),
      "managers.run_overhead_s" -> (ctx.median("run_only") - Stats.median(runSteps)),
      "meta.stac.publish_s" -> spanSec("meta.stac.publish"),
      "daily.manager_run_p50_s" -> ctx.median("manager_run"),
      "daily.zarr_publish_p50_s" -> ctx.median("zarr_publish"),
      "daily.read_zarr_p50_s" -> ctx.median("read.zarr"),
      "daily.read_parquet_p50_s" -> ctx.median("read.grid"),
      "daily.read_p90_s" -> Stats.quantile(ctx.values("read"), 0.9))
  }
}

object DailyCycle {
  /** A cell value as read from either layout; null (an unwritten zarr
    * cell) reads as NaN. */
  def value(r: org.apache.spark.sql.Row, i: Int): Double = r.get(i) match {
    case null => Double.NaN
    case f: Float => f.toDouble
    case d: Double => d
    case other => throw new WrongOutput(s"value column holds ${other.getClass}")
  }

  def time(r: org.apache.spark.sql.Row, i: Int): LocalDateTime = r.get(i) match {
    case t: LocalDateTime => t
    case t: java.sql.Timestamp => t.toLocalDateTime
    case other => throw new WrongOutput(s"time column holds $other")
  }
}
