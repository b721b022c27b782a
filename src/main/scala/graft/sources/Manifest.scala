package graft.sources

import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.GridStore

/** File-manifest sources (SURVEY §2.1 S8, S10, S13, S14; §2.4 C8-C9).
  *
  * The manifest is a small `DataFrame` of file metadata — one row per input
  * file — that every scan-planning operator (pruning F6, date-range S14,
  * completeness C9) works against, so planning never opens data files.
  */
object Manifest {

  /** S8 — natural-sorted listing of an input directory, skipping dotfiles
    * and `.idx` sidecars (convenience.py:102-115). Natural sort: digit runs
    * compare numerically ("file2" < "file10"), via a zero-padded sort key.
    * Columns: path, file_name, size_bytes, mod_time.
    */
  def listInputFiles(spark: SparkSession, dir: String,
      suffixAllowList: Seq[String] = Seq.empty): DataFrame = {
    val sp = spark; import sp.implicits._
    val fs = GridStore.fileSystem(spark, dir)
    val entries = fs.listStatus(new HPath(dir)).toSeq
      .filter(_.isFile)
      .map(st => (st.getPath.toString, st.getPath.getName, st.getLen,
        new java.sql.Timestamp(st.getModificationTime)))
      .filterNot(_._2.startsWith("."))
      .filterNot(_._2.endsWith(".idx"))
      .filter(e => suffixAllowList.isEmpty || suffixAllowList.exists(e._2.endsWith))
      .sortBy(e => naturalKey(e._2))
    entries.toDF("path", "file_name", "size_bytes", "mod_time")
  }

  private[sources] def naturalKey(name: String): String =
    "\\d+".r.replaceAllIn(name, m => f"${BigInt(m.matched)}%020d")

  /** F5 — manifest filter by suffix allow-list and substring filters
    * (transform.py:72-84). */
  def filterManifest(manifest: DataFrame, suffixes: Seq[String],
      substrings: Seq[String] = Seq.empty): DataFrame = {
    val suffixOk = suffixes.map(sfx => col("file_name").endsWith(sfx))
      .reduceOption(_ || _).getOrElse(lit(true))
    val subOk = substrings.map(ss => col("file_name").contains(ss))
      .reduceOption(_ && _).getOrElse(lit(true))
    manifest.filter(suffixOk && subOk)
  }

  /** C8 — regex-extract coordinate values from file names into columns
    * (flat_to_nd.py:7-72). `patterns` maps a new column name to a regex with
    * one capture group applied to `file_name`. */
  def parseFilenames(manifest: DataFrame, patterns: Map[String, String]): DataFrame =
    patterns.toSeq.sortBy(_._1).foldLeft(manifest) { case (df, (colName, pat)) =>
      df.withColumn(colName, regexp_extract(col("file_name"), pat, 1))
    }

  /** C9 — completeness check: every combination of the distinct per-dim
    * values parsed from filenames must exist; returns the MISSING
    * combinations (empty = complete), mirroring nest_files' hard failure on
    * gaps (flat_to_nd.py:75-239). Cross-join of distinct dim values is tiny
    * (dims × cardinalities), the anti-join is against the manifest. */
  def missingCombinations(manifest: DataFrame, dimCols: Seq[String]): DataFrame = {
    val full = dimCols.map(c => manifest.select(col(c)).distinct())
      .reduceLeft((a, b) => a.crossJoin(b))
    full.join(manifest.select(dimCols.map(col): _*).distinct(), dimCols, "left_anti")
  }

  /** One shared extension list per format — dispatch (openInput), the
    * manager's mixed-dir guard, and the scans' own listings must agree on
    * what counts as what, so they all derive from these. */
  val NetcdfExtensions: Seq[String] = Seq(".nc", ".cdf")
  val GribExtensions: Seq[String] =
    Seq(".grb", ".grib", ".grb1", ".grb2", ".grib2")
  val TiffExtensions: Seq[String] = Seq(".tif", ".tiff")
  val KnownInputExtensions: Seq[String] =
    ".parquet" +: (NetcdfExtensions ++ GribExtensions ++ TiffExtensions)

  def isNetcdf(path: String): Boolean = NetcdfExtensions.exists(path.endsWith)

  def isGrib(path: String): Boolean = GribExtensions.exists(path.endsWith)

  def isTiff(path: String): Boolean = TiffExtensions.exists(path.endsWith)

  /** Open one input by format, dispatched on extension: classic NetCDF and
    * GRIB (either edition) go through their DSv2 scans (S9's real forms),
    * everything else is parquet — so the SAME manager lifecycle runs on
    * climate landing dirs and harness parquet alike (transform.py:75-79's
    * format list). */
  def openInput(spark: SparkSession, path: String): DataFrame =
    if (isNetcdf(path)) spark.read.format("netcdf").load(path)
    else if (isGrib(path)) spark.read.format("grib1").load(path)
    else if (isTiff(path)) spark.read.format("geotiff").load(path)
    else spark.read.parquet(path)

  /** S10 — multi-file union scan with identical-schema assertion
    * (transform.py:40-117): all parts must agree on the dimension schema the
    * way MultiZarrToZarr requires `identical_dimensions` to agree. */
  def multiScan(spark: SparkSession, paths: Seq[String]): DataFrame = {
    require(paths.nonEmpty, "multiScan needs at least one path")
    val parts = paths.map(openInput(spark, _))
    val schemas = parts.map(_.schema.map(f => (f.name, f.dataType)).toSet)
    schemas.zip(paths).foreach { case (s, p) =>
      require(s == schemas.head,
        s"Schema of $p differs from ${paths.head}: $s vs ${schemas.head} " +
          "(identical_dimensions violation, transform.py:335-343)")
    }
    parts.reduce(_ unionByName _)
  }

  /** S14 — per-file time ranges from any file-backed scan: one row per file
    * with (min, max) of the time column, one distributed pass
    * (convenience.py:296-321; publish.py:951-966). */
  def timeRangesByFile(scanned: DataFrame, timeCol: String): DataFrame =
    scanned.withColumn("path", input_file_name())
      .groupBy("path")
      .agg(min(col(timeCol)).as("min_time"), max(col(timeCol)).as("max_time"),
        count(lit(1)).as("n_rows"))

  /** Per-PATH time ranges: one aggregation branch per input path, unioned
    * into a single job. Unlike [[timeRangesByFile]] this does not rely on
    * `input_file_name()` — which returns "" for non-FileFormat DSv2 scans
    * (the NetCDF reader), collapsing every file into one group. */
  def withTimeRanges(spark: SparkSession, paths: Seq[String], timeCol: String): DataFrame = {
    require(paths.nonEmpty, "withTimeRanges needs at least one path")
    paths.map { p =>
      openInput(spark, p).agg(
          min(col(timeCol)).as("min_time"), max(col(timeCol)).as("max_time"),
          count(lit(1)).as("n_rows"))
        .withColumn("path", lit(p))
        .select("path", "min_time", "max_time", "n_rows")
    }.reduce(_ unionByName _)
  }

  /** P4 — move original input files into `<dir>_originals/` after a
    * conversion pass (transform.py:521-537). Hadoop FS rename, so file://
    * and object stores behave alike. Returns the new paths. */
  def archiveOriginals(spark: SparkSession, files: Seq[String]): Seq[String] = {
    files.map { f =>
      val p = new HPath(f)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val parent = p.getParent
      val archiveDir = new HPath(parent.getParent,
        s"${parent.getName}_originals")
      fs.mkdirs(archiveDir)
      val dest = new HPath(archiveDir, p.getName)
      require(fs.rename(p, dest), s"Failed to archive $f to $dest")
      dest.toString
    }
  }
}
