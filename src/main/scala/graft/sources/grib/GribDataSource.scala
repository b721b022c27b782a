package graft.sources.grib

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path => HPath}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{HeaderCache, LandingDir, LandingDirStream, Manifest, Pushdown}
import graft.sources.nc.SerializableHadoopConf
import GribFormat.GribMessage

/** DataSource V2 batch reader for GRIB editions 1 AND 2 (regular lat/lon
  * grids, simple packing; files may mix editions) — the reference's OTHER
  * ingest format next to NetCDF (transform.py:75-79).
  * `spark.read.format("grib1").load(pathOrDir)` (the short name predates
  * edition-2 support) yields one row per grid cell:
  * (time TIMESTAMP_NTZ, latitude, longitude, param INT, member INT?, value DOUBLE).
  *
  * Scale design:
  *  - **A message is the pruning unit**: every cell of a message shares
  *    (time, param), so time/param predicates prune whole messages at
  *    planning — the byte-level analog of manifest pruning (F6). Claimed
  *    filters are EXACT (no residual); lat/lon predicates stay residual.
  *  - **A message is also the partition unit**: archives shard one
  *    timestep per message, so a long file fans out across executors;
  *    each task does one positioned slab read + bit-unpack.
  *  - **Planning is header-only**: message descriptors (offsets, grid,
  *    packing params) are parsed once per (path, mtime, length) into a
  *    memoized cache; the packed payload is never touched on the driver.
  */
class GribDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "grib1"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GribTable.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    // the scan schema is fixed; a user-supplied schema must MATCH, not be
    // silently discarded
    require(schema == GribTable.Schema,
      s"grib1 scans always present ${GribTable.Schema.simpleString}; got ${schema.simpleString}")
    GribTable.resolve(new CaseInsensitiveStringMap(properties))
  }
}

object GribTable {
  /** The scan schema is FIXED — GRIB messages (either edition)
    * self-describe onto it. */
  val Schema: StructType = StructType(Seq(
    // VALID time (= ref_time + step)
    StructField("time", TimestampNTZType, nullable = false),
    StructField("latitude", DoubleType, nullable = false),
    StructField("longitude", DoubleType, nullable = false),
    StructField("param", IntegerType, nullable = false),
    // ensemble perturbation number (product templates 4.1/4.11);
    // null for deterministic products
    StructField("member", IntegerType, nullable = true),
    // derived-ensemble statistic (templates 4.2/4.12, code table 4.7:
    // 0 = mean, 2 = std dev — the GEFS geavg/gespr shape); null for
    // non-derived products
    StructField("derived", IntegerType, nullable = true),
    // vertical axis: first-fixed-surface type (code table 4.5 / GRIB1
    // table 3) + value; null when the product carries no surface (255) —
    // a multi-level file (ERA5 pressure-level) keys its hypercubes here
    StructField("level_type", IntegerType, nullable = true),
    StructField("level", DoubleType, nullable = true),
    // second fixed surface (LAYER products — soil/cloud layers); null
    // for point levels. Shares level_type with the first surface.
    StructField("level_to", DoubleType, nullable = true),
    // forecast reference time + lead minutes: two reference times with
    // overlapping valid times stay distinct (forecast/ensemble ingest)
    StructField("ref_time", TimestampNTZType, nullable = false),
    StructField("step", LongType, nullable = false),
    // interval products only (ecCodes startStep): minutes from ref to
    // the interval START — two accumulation windows ending at the same
    // valid time (GFS precip buckets) key apart here; null = point
    StructField("step_start", LongType, nullable = true),
    // probability products (templates 4.5/4.9 — the NBM shape): code
    // table 4.9 type + lower/upper limits in physical units; null for
    // non-probability products. The THRESHOLDS are hypercube axes (one
    // file carries PoP > 1 and > 5 mm at one (ref, step)).
    StructField("prob_type", IntegerType, nullable = true),
    StructField("prob_lo", DoubleType, nullable = true),
    StructField("prob_hi", DoubleType, nullable = true),
    // percentile products (templates 4.6/4.10): the percentile 0-100
    StructField("percentile", IntegerType, nullable = true),
    // nullable: bitmap-masked cells surface as null
    StructField("value", DoubleType, nullable = true)))

  /** Forecast reference time with the hand-constructed-message fallback
    * (a message built without `baseTime` is an analysis: ref = valid). */
  private[grib] def baseOf(m: GribMessage): java.time.LocalDateTime =
    if (m.baseTime == null) m.validTime else m.baseTime

  /** The columns every cell of a message shares — the pushdown table of
    * both GRIB scans: a claimed predicate on them prunes whole messages
    * EXACTLY at planning. Sentinels (negative codes, NaN, level type 255,
    * no interval start) are the NULLs the readers emit. */
  private[grib] val MessageColumns: Pushdown.Columns[GribMessage] = {
    def code(v: Int): Any = if (v < 0) null else v
    def num(v: Double): Any = if (v.isNaN) null else v
    new Pushdown.Columns[GribMessage](
      ("time", _.validTime),
      ("ref_time", baseOf(_)),
      ("param", _.paramId),
      ("member", m => code(m.member)),
      ("derived", m => code(m.derived)),
      ("level_type", m => if (m.levelType == 255) null else m.levelType),
      ("level", m => num(m.level)),
      ("level_to", m => num(m.levelTo)),
      ("step", _.stepMinutes),
      ("step_start", m =>
        if (m.stepStartMinutes == Long.MinValue) null else m.stepStartMinutes),
      ("prob_type", m => code(m.probType)),
      ("prob_lo", m => num(m.probLo)),
      ("prob_hi", m => num(m.probHi)),
      ("percentile", m => code(m.percentile)))
  }

  /** The scan builder of both GRIB sources: message-column predicates
    * are claimed (a scan's filters name only its own schema's columns);
    * lat/lon, wavenumber and value predicates stay residual. */
  private[grib] def builder(format: String, schema: StructType,
      byFile: Seq[(String, Seq[GribMessage])], conf: Configuration,
      factory: SerializableHadoopConf => PartitionReaderFactory,
      paths: Seq[String] = Seq.empty,
      maxFilesPerTrigger: Option[Int] = None): ScanBuilder =
    new Pushdown.Builder(schema, MessageColumns.claims)(
      new GribScan(format, byFile, _, _, conf, factory, paths,
        maxFilesPerTrigger))

  /** Parsed message headers per (path, mtime, length). */
  private[grib] val headers = new HeaderCache[Seq[GribMessage]](4096)

  /** Every file's message headers, in order — a cache miss is one header
    * walk (payloads are skipped, not read). */
  private[grib] def messagesOf(conf: Configuration,
      files: Seq[FileStatus]): Seq[Seq[GribMessage]] =
    headers.all(files) { st =>
      val in = st.getPath.getFileSystem(conf).open(st.getPath)
      try GribFormat.parseMessages(in) finally in.close()
    }

  /** Per-file interval-window keys straight from the memoized message
    * HEADERS — zero payload decode, for manager-level window checks: the
    * full hypercube key (param incl. discipline, member, derived, level
    * axes, probability/percentile axes, refTime, endStep) plus the
    * window `start` (stepStart minutes, Long.MinValue = point product).
    * Doubles ride as raw bits so NaN (= axis absent) compares equal. */
  final case class WindowKey(
      param: Int, member: Int, derived: Int,
      levelType: Int, levelBits: Long, levelToBits: Long,
      probType: Int, probLoBits: Long, probHiBits: Long, percentile: Int,
      ref: java.time.LocalDateTime, end: Long, start: Long)
  private[graft] def windowKeys(conf: Configuration, paths: Seq[String])
      : Seq[(String, Seq[WindowKey])] = {
    val files = LandingDir.list(conf, paths, Manifest.isGrib)
    files.zip(messagesOf(conf, files)).map { case (st, ms) =>
      st.getPath.toString -> ms.map(m => WindowKey(
        m.paramId, m.member, m.derived, m.levelType,
        java.lang.Double.doubleToLongBits(m.level),
        java.lang.Double.doubleToLongBits(m.levelTo),
        m.probType, java.lang.Double.doubleToLongBits(m.probLo),
        java.lang.Double.doubleToLongBits(m.probHi), m.percentile,
        baseOf(m), m.stepMinutes,
        m.stepStartMinutes)).distinct
    }
  }

  def resolve(options: CaseInsensitiveStringMap): GribTable = {
    val spark = SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    val paths = Option(options.get("path")).toSeq
    require(paths.nonEmpty, "grib1 scan needs a path")
    val maxFiles = LandingDir.maxFilesPerTrigger(options)
    val files = LandingDir.list(conf, paths, Manifest.isGrib)
    val byFile = files.map(_.getPath.toString).zip(messagesOf(conf, files))
    // spectral fields have no lat/lon rows — they scan through the
    // coefficient-space source, never silently through this schema
    byFile.find(_._2.exists(_.spectral.isDefined)).foreach { case (p, _) =>
      throw new IllegalArgumentException(
        s"$p holds spherical-harmonic (template 3.50) fields — read them " +
          "with spark.read.format(\"grib-spectral\") (rows: time, param, " +
          "member, m, n, part, value)")
    }
    new GribTable(byFile, conf, paths, maxFiles)
  }
}

final class GribTable(
    val byFile: Seq[(String, Seq[GribMessage])],
    @transient val conf: Configuration,
    val paths: Seq[String],
    val maxFilesPerTrigger: Option[Int]) extends Table with SupportsRead {
  override def name(): String =
    s"grib1(${byFile.map(_._2.length).sum} messages in ${byFile.length} files)"
  override def schema(): StructType = GribTable.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    GribTable.builder("grib1", GribTable.Schema, byFile, conf,
      new GribReaderFactory(_), paths, maxFilesPerTrigger)
}

/** Message-granular scan of both GRIB sources (`format` names it in the
  * plan; `factory` decodes its partitions). */
final class GribScan(
    format: String,
    byFile: Seq[(String, Seq[GribMessage])],
    required: StructType,
    pushed: Array[Filter],
    @transient conf: Configuration,
    factory: SerializableHadoopConf => PartitionReaderFactory,
    paths: Seq[String],
    maxFilesPerTrigger: Option[Int])
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new LandingDirStream(paths, conf, Manifest.isGrib,
      maxFilesPerTrigger, planFile, createReaderFactory())

  /** Message survives every pushed predicate? */
  private val keep: GribMessage => Boolean =
    GribTable.MessageColumns.keep(pushed.toSeq)

  private def partitionsOf(survivors: Seq[(String, GribMessage)]): Seq[InputPartition] =
    GribSplit.pack(survivors).map { case (p, ms) =>
      GribInputPartition(p, ms, required.fieldNames)
    }

  /** Streaming batches reuse the batch pruning + partitioning verbatim. */
  private def planFile(st: FileStatus): Seq[InputPartition] = {
    val path = st.getPath.toString
    partitionsOf(GribTable.messagesOf(conf, Seq(st)).head.filter(keep).map(path -> _))
  }

  // lazy: description(), planInputPartitions(), and estimateStatistics()
  // all consult them — filter and pack the message set once per scan
  private lazy val survivors: Seq[(String, GribMessage)] =
    byFile.flatMap { case (p, ms) => ms.filter(keep).map(p -> _) }
  private lazy val partitions = partitionsOf(survivors)

  override def description(): String =
    s"graft-$format messages=${survivors.length}/${byFile.map(_._2.length).sum}, " +
      s"splits=${partitions.length}, " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.simpleString}"

  override def planInputPartitions(): Array[InputPartition] = partitions.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    factory(new SerializableHadoopConf(conf))

  override def estimateStatistics(): Statistics =
    Pushdown.stats(survivors.map(_._2.nValues.toLong).sum, required)
}

final case class GribInputPartition(
    path: String,
    messages: Seq[GribMessage],
    cols: Array[String]) extends InputPartition

/** Byte-budgeted message packing — Spark's `FilePartition.maxSplitBytes`
  * sizing formula applied at GRIB-message granularity. One partition per
  * message made a million-message archive a million tasks (quadratic
  * shuffle-block growth downstream, guide §2.2) and a 60-message fixture
  * 60 scheduler round-trips; packing consecutive same-file messages up to
  * the split budget keeps tasks in the 100 MB-class at scale and collapses
  * tiny scans to a handful of tasks locally. The budget derives from the
  * session's `spark.sql.files.*` confs — scale-adaptive, no constants. */
private[grib] object GribSplit {
  def pack(survivors: Seq[(String, GribMessage)]): Seq[(String, Seq[GribMessage])] =
    graft.sources.SplitBudget.pack(survivors)(m =>
      m.dataBytes.toLong + (if (m.hasBitmap) m.bitmapBytes.toLong else 0L))
}

final class GribReaderFactory(conf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GribPartitionReader(partition.asInstanceOf[GribInputPartition], conf.value)
}

/** One positioned slab read per message, then cell-by-cell bit-unpack;
  * the partition's messages share one open stream and decode in order. */
final class GribPartitionReader(part: GribInputPartition, conf: Configuration)
    extends PartitionReader[InternalRow] {

  private val in = {
    val p = new HPath(part.path)
    p.getFileSystem(conf).open(p)
  }

  // ---- per-message state, loaded by advance() as the cursor moves ----
  private var mi = -1
  private var m: GribMessage = null
  private var cellValue: Int => Double = null
  private var regular = false
  private var lats: Array[Double] = null
  private var lons: Array[Double] = null
  private var timeMicros = 0L
  private var refTimeMicros = 0L

  private def micros(t: java.time.LocalDateTime): Long =
    t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000

  /** Load the next message's slab + decode state; false when exhausted. */
  private def advance(): Boolean = {
    mi += 1
    if (mi >= part.messages.length) return false
    m = part.messages(mi)
    val slab = new Array[Byte](m.dataBytes)
    in.readFully(m.dataOffset, slab)
    val bitmapSlab = if (!m.hasBitmap) null else {
      val a = new Array[Byte](m.bitmapBytes)
      in.readFully(m.bitmapOffset, a)
      a
    }
    cellValue = m.decoder(slab, bitmapSlab)
    regular = m.lcc.isEmpty && m.ps.isEmpty && m.merc.isEmpty &&
      m.rot.isEmpty && m.rowLengths.isEmpty
    lats = if (regular) m.lats else null
    lons = if (regular) m.lons else null
    timeMicros = micros(m.validTime)
    refTimeMicros = micros(GribTable.baseOf(m))
    true
  }
  // hoist the per-column dispatch out of the per-cell loop: a message is
  // ~10⁶ cells; string-matching column names per cell is pure overhead
  private val TimeC = 0; private val LatC = 1; private val LonC = 2
  private val ParamC = 3; private val ValueC = 4; private val MemberC = 5
  private val LevelTypeC = 6; private val LevelC = 7
  private val RefTimeC = 8; private val StepC = 9
  private val DerivedC = 10; private val LevelToC = 11
  private val StepStartC = 12
  private val ProbTypeC = 13; private val ProbLoC = 14
  private val ProbHiC = 15; private val PercentileC = 16
  private val colCodes: Array[Int] = part.cols.map {
    case "time" => TimeC
    case "latitude" => LatC
    case "longitude" => LonC
    case "param" => ParamC
    case "value" => ValueC
    case "member" => MemberC
    case "level_type" => LevelTypeC
    case "level" => LevelC
    case "ref_time" => RefTimeC
    case "step" => StepC
    case "derived" => DerivedC
    case "level_to" => LevelToC
    case "step_start" => StepStartC
    case "prob_type" => ProbTypeC
    case "prob_lo" => ProbLoC
    case "prob_hi" => ProbHiC
    case "percentile" => PercentileC
  }
  private var k = -1

  override def next(): Boolean = {
    k += 1
    while (m == null || k >= m.nValues) {
      if (!advance()) return false
      k = 0
    }
    true
  }

  override def get(): InternalRow = {
    val row = new Array[Any](colCodes.length)
    var c = 0
    while (c < colCodes.length) {
      row(c) = colCodes(c) match {
        case TimeC => timeMicros
        case LatC => if (regular) lats(k / m.ni) else m.latLonAt(k)._1
        case LonC => if (regular) lons(k % m.ni) else m.latLonAt(k)._2
        case ParamC => m.paramId
        case MemberC => if (m.member < 0) null else m.member
        case DerivedC => if (m.derived < 0) null else m.derived
        case LevelTypeC => if (m.levelType == 255) null else m.levelType
        case LevelC => if (m.level.isNaN) null else m.level
        case LevelToC => if (m.levelTo.isNaN) null else m.levelTo
        case RefTimeC => refTimeMicros
        case StepC => m.stepMinutes
        case StepStartC =>
          if (m.stepStartMinutes == Long.MinValue) null else m.stepStartMinutes
        case ProbTypeC => if (m.probType < 0) null else m.probType
        case ProbLoC => if (m.probLo.isNaN) null else m.probLo
        case ProbHiC => if (m.probHi.isNaN) null else m.probHi
        case PercentileC => if (m.percentile < 0) null else m.percentile
        case ValueC =>
          val v = cellValue(k)
          if (v.isNaN) null else v
      }
      c += 1
    }
    new GenericInternalRow(row)
  }

  override def close(): Unit = in.close()
}
