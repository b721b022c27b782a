package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.meta.StacCatalog
import graft.model.{DatasetDescriptor, TimeUnitKind}
import graft.ops.{DeltaProfile, Normalize, QcDrivers}
import graft.sources.Manifest
import graft.store.GridStore

/** Composition root (SURVEY §2.8 O1-O4) — the Scala analog of the
  * reference's `DatasetManager` ABC (dataset_manager.py:28-534): concrete
  * datasets override the descriptor, the extract step, and the
  * pre/post-process hooks, and inherit the scan → normalize → publish
  * lifecycle.
  */
trait DatasetManager extends Logging {
  def spark: SparkSession
  def desc: DatasetDescriptor
  def storePath: String
  def inputDir: String

  override def logName: String = desc.datasetName

  def bucketSpan: TimeUnitKind = TimeUnitKind.Months

  lazy val store: GridStore = new GridStore(spark, storePath, desc, bucketSpan)

  /** O2 — acquisition hook with the date-range guard
    * (dataset_manager.py:394-404). Default: nothing to download (files are
    * already in `inputDir`). */
  def extract(dateRange: Option[(java.time.LocalDateTime, java.time.LocalDateTime)] = None)
      : Unit = {
    for ((start, _) <- dateRange; ds <- desc.datasetStartDate) {
      val startInstant = start.toInstant(java.time.ZoneOffset.UTC)
      if (startInstant.isBefore(ds))
        throw new IllegalArgumentException(
          s"Requested start $start predates dataset start $ds")
    }
  }

  /** P6 hooks — identity by default (transform.py:377-396, 614-650). */
  def preprocess(df: DataFrame): DataFrame = df
  def postprocess(df: DataFrame): DataFrame = df

  /** Which files in `inputDir` feed the scan; override per dataset.
    * Parquet and classic NetCDF both scan natively (Manifest.openInput) —
    * but not MIXED in one dir: a conversion window holding raw .nc next to
    * converted .parquet would double-ingest (or schema-clash), so that
    * state fails loudly instead. */
  def inputFiles(): Seq[String] = {
    val all = Manifest.listInputFiles(spark, inputDir,
        Manifest.KnownInputExtensions)
      .select("path").collect().map(_.getString(0)).toSeq
    val kinds = all.groupBy(p =>
      if (Manifest.isNetcdf(p)) "netcdf"
      else if (Manifest.isGrib(p)) "grib" else "parquet")
    require(kinds.size <= 1,
      s"$inputDir mixes input formats ${kinds.keys.mkString(", ")} " +
        s"(${kinds.view.mapValues(_.length).toMap}); archive the originals " +
        "or override inputFiles() to pick one format")
    all
  }

  /** O1 — `transform()`: multi-file scan → descriptor-driven normalize
    * (dataset_manager.py:408-468). A lazy DataFrame, the Catalyst analog of
    * the reference's dask-backed lazy Dataset. */
  def transform(): DataFrame = {
    val files = inputFiles()
    require(files.nonEmpty, s"No input files in $inputDir")
    val scanned = Manifest.multiScan(spark, files)
    Normalize.normalize(scanned, desc, pre = preprocess, post = postprocess)
  }

  /** O3 — `check_if_new_data` (convenience.py:473-504): newest input end
    * date vs the store's recorded end. Opens ONLY the newest file (by the
    * manifest's natural sort) exactly like the reference — scanning every
    * input here would waste one full-input pass per run on the
    * no-new-data path. */
  def checkIfNewData(): Boolean = {
    if (!store.hasExisting) return true
    val files = inputFiles()
    if (files.isEmpty) return false
    val newestEnd = Manifest.withTimeRanges(spark, Seq(files.last), desc.timeDim)
      .agg(max(col("max_time"))).head().get(0)
    // NTZ columns surface as LocalDateTime, LTZ as java.sql.Timestamp —
    // accept both; an unknown store state (no recorded range) means "new".
    val endOpt: Option[java.time.LocalDateTime] = newestEnd match {
      case t: java.time.LocalDateTime => Some(t)
      case t: java.sql.Timestamp => Some(t.toLocalDateTime)
      case _ => None
    }
    (endOpt, getMetadataDateRange()) match {
      case (Some(end), Some((_, storeEnd))) => end.isAfter(storeEnd)
      case _ => true
    }
  }

  /** O4 — store attrs `date range` → datetimes (convenience.py:167-196);
    * format `yyyyMMddHH` per metadata.py:870-921. */
  def getMetadataDateRange(): Option[(java.time.LocalDateTime, java.time.LocalDateTime)] = {
    val attrs = store.readAttrs()
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHH")
    for {
      s <- attrs.get("date_range_start")
      e <- attrs.get("date_range_end")
    } yield (java.time.LocalDate.parse(s.take(8),
        java.time.format.DateTimeFormatter.BASIC_ISO_DATE).atTime(s.drop(8).toInt, 0),
      java.time.LocalDate.parse(e.take(8),
        java.time.format.DateTimeFormatter.BASIC_ISO_DATE).atTime(e.drop(8).toInt, 0))
  }

  /** The full lifecycle: transform → pre-parse QC → publish → optional
    * post-parse QC (parse, publish.py:41-129; O7 runs after the write,
    * publish.py:824-895). `postParseQc = true` samples cells from the
    * input files and compares against the freshly-written store, raising
    * on any mismatch.
    *
    * The delta is profiled ONCE ([[graft.ops.DeltaProfile]], one
    * aggregate) and that profile serves both the pre-parse gate and the
    * store's publish stats. An update's delta is materialized first (an
    * executor-local checkpoint of the small side, which the profile job
    * fills), so the profile, the store's gate, padding and write all read
    * it once; an initial or rebuild publish streams its input instead. */
  def run(dryRun: Boolean = false, rebuild: Boolean = false,
      skipPreParseQc: Boolean = false, postParseQc: Boolean = false,
      postParseMaxChecks: Int = 100): Unit = {
    val t0 = System.nanoTime()
    // a scan may infer its schema with a job (parquet inputs do)
    val df = JobLabel(spark, "graft.manager: transform")(transform())
    val hasExisting = store.hasExisting
    val isUpdate = hasExisting && !rebuild
    val delta = if (isUpdate) df.localCheckpoint(false) else df
    try {
      val profile = DeltaProfile(delta, desc)
      if (!skipPreParseQc)
        QcDrivers.preParseQualityCheckProfiled(profile, desc, hasExisting = hasExisting,
          rebuild = rebuild)
      store.publish(delta, rebuild = rebuild, dryRun = dryRun, profiled = Some(profile))
    } finally if (isUpdate) graft.Housekeeping.release(delta)
    if (postParseQc && !dryRun) {
      val keys = desc.standardDims
      // store side is bucket-pruned per sampled file range — never a full
      // store scan (publish.py:1011-1095 region-bounding)
      val mismatches = QcDrivers.postParseQualityCheck(spark, store.readRange,
        inputFiles(), f => Normalize.normalize(Manifest.openInput(spark, f), desc,
          pre = preprocess, post = postprocess),
        keys, desc.dataVar, desc, maxChecks = postParseMaxChecks)
      if (!mismatches.isEmpty)
        throw new IllegalStateException(
          s"Post-parse QC found mismatched cells between inputs and store")
    }
    info(f"run(dryRun=$dryRun, rebuild=$rebuild) finished in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  /** `publish_metadata` (publish.py:131-153): assemble the STAC collection
    * and item for this dataset from the store's attrs — catalog ensured,
    * collection bbox/interval union-extended, item pushed with history.
    * The STAC tree lives beside the store under `<storePath>/_stac`. */
  def publishMetadata(): Unit = {
    require(store.hasExisting, "publishMetadata needs an existing store")
    val attrs = store.readAttrs()
    val stac = new StacCatalog(spark, s"$storePath/_stac")
    stac.ensureRootCatalog("graft", s"graft catalog for ${desc.datasetName}")
    val bbox = attrs.get("bbox")
      .map(_.split(",").map(_.toDouble).toSeq)
      .getOrElse(Seq(0.0, 0.0, 0.0, 0.0))
    val (start, end) = (attrs("date_range_start"), attrs("date_range_end"))
    stac.upsertCollection(desc.datasetName, bbox, start, end,
      license = desc.staticMetadata.getOrElse("license", "proprietary"))
    val ds = store.dataset()
    // one aggregation pass for all dim cardinalities, not one job per dim
    val dims = desc.standardDims.filter(ds.columns.contains)
    val statsRow = JobLabel(spark, "graft.meta: stac dim sizes") {
      graft.ops.Stats.dimSizeStats(ds, dims).head()
    }
    val dimSizes = dims.map(d => d -> statsRow.getAs[Long](s"n_$d")).toMap
    stac.pushItem(desc.datasetName, s"${desc.datasetName}-latest", bbox,
      start, end, desc, dimSizes, extraProperties = desc.staticMetadata)
    info(s"published STAC metadata for ${desc.datasetName}")
  }
}
