package graft.sources.grib

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.nc.SerializableHadoopConf
import GribFormat.GribMessage

/** DataSource V2 batch reader for SPECTRAL GRIB2 fields (grid template
  * 3.50 + DRS template 5.50) — ERA5 model-level fields in the native MARS
  * archive are spherical-harmonic coefficients, not grids (reference
  * target: docs/etl_developers_manual.md:158-168).
  * `spark.read.format("grib-spectral").load(pathOrDir)` yields one row per
  * coefficient VALUE:
  * (time TIMESTAMP_NTZ, param INT, member INT?, m INT, n INT,
  *  part STRING 're'|'im', value DOUBLE)
  * under the m-major mode-1 ordering (m = 0..M, n = m..M). Output is
  * coefficient space by design — synthesis onto a Gaussian grid is a
  * regrid step, not a scan concern.
  *
  * Scale design mirrors [[GribDataSource]]: a message is both the pruning
  * unit (time/param/member predicates prune whole messages EXACTLY at
  * planning) and the partition unit (one positioned slab read + bit-unpack
  * per task); header parsing is memoized per (path, mtime, length) through
  * the shared [[GribTable]] message cache.
  */
class GribSpectralDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "grib-spectral"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GribSpectralTable.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    require(schema == GribSpectralTable.Schema,
      s"grib-spectral scans always present ${GribSpectralTable.Schema.simpleString}; " +
        s"got ${schema.simpleString}")
    GribSpectralTable.resolve(new CaseInsensitiveStringMap(properties))
  }
}

object GribSpectralTable {
  val Schema: StructType = StructType(Seq(
    StructField("time", TimestampNTZType, nullable = false),
    StructField("param", IntegerType, nullable = false),
    StructField("member", IntegerType, nullable = true),
    /** Vertical axis (ERA5 MODEL-LEVEL spectral fields repeat
      * (time, param) once per level — same hypercube key as the gridded
      * scan); null when the product carries no surface. */
    StructField("level_type", IntegerType, nullable = true),
    StructField("level", DoubleType, nullable = true),
    /** Forecast reference time + lead minutes (= time − step). */
    StructField("ref_time", TimestampNTZType, nullable = false),
    StructField("step", LongType, nullable = false),
    /** Zonal wavenumber. */
    StructField("m", IntegerType, nullable = false),
    /** Total wavenumber (n ≥ m under triangular truncation). */
    StructField("n", IntegerType, nullable = false),
    /** "re" | "im" — the complex coefficient component. */
    StructField("part", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  def resolve(options: CaseInsensitiveStringMap): GribSpectralTable = {
    val spark = SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    val paths = Option(options.get("path")).toSeq
    require(paths.nonEmpty, "grib-spectral scan needs a path")
    val files = graft.sources.LandingDir.list(conf, paths,
      graft.sources.Manifest.isGrib)
    val byFile = files.map(_.getPath.toString)
      .zip(GribTable.messagesOf(conf, files))
    byFile.find(_._2.exists(_.spectral.isEmpty)).foreach { case (p, _) =>
      throw new IllegalArgumentException(
        s"$p holds gridded (lat/lon) fields — read them with " +
          "spark.read.format(\"grib1\"); grib-spectral serves only " +
          "template-3.50 spherical-harmonic messages")
    }
    // the spectral schema has no derived axis — a GEFS-style mean/spread
    // spectral file would silently collide two statistics onto one
    // (time, param, member) key, so refuse it by name
    byFile.find(_._2.exists(_.derived >= 0)).foreach { case (p, _) =>
      throw new IllegalArgumentException(
        s"$p holds derived-ensemble spectral fields (product template " +
          "4.2/4.12) — the spectral schema carries no derived-statistic " +
          "axis; read the gridded form or split the statistics into " +
          "separate files")
    }
    // same reasoning for LAYER fields: no level_to axis in this schema
    byFile.find(_._2.exists(m => !m.levelTo.isNaN)).foreach { case (p, _) =>
      throw new IllegalArgumentException(
        s"$p holds LAYER spectral fields (a second fixed surface) — the " +
          "spectral schema carries no level_to axis; split the layers " +
          "into separate files")
    }
    // a SINGLE accumulation window per key is unambiguous; but the
    // spectral schema has no step_start axis, so two windows sharing the
    // full spectral key (ending at one valid time) would silently blend
    // — refuse exactly that, across the whole union
    locally {
      val multi = byFile.flatMap(_._2)
        .groupBy(m => (m.baseTime, m.stepMinutes, m.paramId, m.member,
          m.levelType, java.lang.Double.doubleToLongBits(m.level)))
        .find(_._2.map(_.stepStartMinutes).distinct.lengthCompare(1) > 0)
      multi.foreach { case ((t, step, pid, _, _, _), ms) =>
        val named = ms.map(_.stepStartMinutes).distinct.sorted.map(v =>
          if (v == Long.MinValue) "point" else s"start ${v}min")
        throw new IllegalArgumentException(
          s"spectral fields carry ${named.length} time-processing " +
            s"variants on one key (refTime=$t, step=${step}min, " +
            s"param=$pid): ${named.mkString(", ")} — the spectral schema " +
            "has no step_start axis to separate them; read the gridded " +
            "form (its step_start column keys the windows)")
      }
    }
    new GribSpectralTable(byFile, conf)
  }
}

final class GribSpectralTable(
    val byFile: Seq[(String, Seq[GribMessage])],
    @transient val conf: Configuration) extends Table with SupportsRead {
  override def name(): String =
    s"grib-spectral(${byFile.map(_._2.length).sum} messages in ${byFile.length} files)"
  override def schema(): StructType = GribSpectralTable.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    GribTable.builder("grib-spectral", GribSpectralTable.Schema, byFile, conf,
      new GribSpectralReaderFactory(_))
}

final class GribSpectralReaderFactory(conf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GribSpectralPartitionReader(
      partition.asInstanceOf[GribInputPartition], conf.value)
}

/** One positioned slab read per message; value k maps to pair k/2 and
  * component k%2 under the m-major mode-1 ordering. The partition's
  * messages share one open stream and decode in order. */
final class GribSpectralPartitionReader(part: GribInputPartition,
    conf: Configuration) extends PartitionReader[InternalRow] {

  private val in = {
    val p = new HPath(part.path)
    p.getFileSystem(conf).open(p)
  }

  // ---- per-message state, loaded by advance() as the cursor moves ----
  private var mi = -1
  private var msg: GribMessage = null
  private var cellValue: Int => Double = null
  private var pairMN: Array[(Int, Int)] = null
  private var timeMicros = 0L
  private var refTimeMicros = 0L

  private def micros(t: java.time.LocalDateTime): Long =
    t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000

  private def advance(): Boolean = {
    mi += 1
    if (mi >= part.messages.length) return false
    msg = part.messages(mi)
    val sp = msg.spectral.getOrElse(throw new IllegalStateException(
      s"${part.path}: non-spectral message in a grib-spectral partition"))
    val slab = new Array[Byte](msg.dataBytes)
    in.readFully(msg.dataOffset, slab)
    cellValue = msg.decoder(slab, null)
    pairMN = sp.pairMN
    timeMicros = micros(msg.validTime)
    refTimeMicros = micros(GribTable.baseOf(msg))
    true
  }
  private val Re = UTF8String.fromString("re")
  private val Im = UTF8String.fromString("im")
  private val TimeC = 0; private val ParamC = 1; private val MemberC = 2
  private val MC = 3; private val NC = 4; private val PartC = 5
  private val ValueC = 6
  private val LevelTypeC = 7; private val LevelC = 8
  private val RefTimeC = 9; private val StepC = 10
  private val colCodes: Array[Int] = part.cols.map {
    case "time" => TimeC
    case "param" => ParamC
    case "member" => MemberC
    case "level_type" => LevelTypeC
    case "level" => LevelC
    case "ref_time" => RefTimeC
    case "step" => StepC
    case "m" => MC
    case "n" => NC
    case "part" => PartC
    case "value" => ValueC
  }
  private var k = -1

  override def next(): Boolean = {
    k += 1
    while (msg == null || k >= msg.nValues) {
      if (!advance()) return false
      k = 0
    }
    true
  }

  override def get(): InternalRow = {
    val row = new Array[Any](colCodes.length)
    val (mWave, nWave) = pairMN(k / 2)
    var c = 0
    while (c < colCodes.length) {
      row(c) = colCodes(c) match {
        case TimeC => timeMicros
        case ParamC => msg.paramId
        case MemberC => if (msg.member < 0) null else msg.member
        case LevelTypeC => if (msg.levelType == 255) null else msg.levelType
        case LevelC => if (msg.level.isNaN) null else msg.level
        case RefTimeC => refTimeMicros
        case StepC => msg.stepMinutes
        case MC => mWave
        case NC => nWave
        case PartC => if (k % 2 == 0) Re else Im
        case ValueC => cellValue(k)
      }
      c += 1
    }
    new GenericInternalRow(row)
  }

  override def close(): Unit = in.close()
}
