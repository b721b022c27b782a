package graft.sources.archive

import java.util.OptionalLong

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
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Zip
import graft.sources.{HeaderCache, LandingDir, LandingDirStream, Pushdown, SplitBudget}
import graft.sources.nc.SerializableHadoopConf

/** DataSource V2 batch reader for ZIP archives —
  * `spark.read.format("zip").load(dirOrFile)`: one row per member.
  *
  * ZIP is the INDEX-planned archive (vs. the resync-planned WARC/tar):
  * the central directory at the file tail is an exact member index, so
  * planning needs no byte scanning at all — the driver reads the tail
  * + directory (one or two positioned reads per file, memoized per
  * (path, mtime, len) in the shared `HeaderCache` LRU) and bins CONSECUTIVE members into partitions of
  * ≤ `maxSplitBytes` compressed bytes. Each task then does positioned
  * reads of exactly its members' byte ranges: no resync, no false-sync
  * residual, intra-file parallelism exact.
  *
  * Pushdown, both kinds real:
  *  - member-name predicates (`=`, `IN`, `STARTS WITH` — the
  *    "only the .txt members" / "one book of the EPUB" shapes) prune
  *    whole members AT PLANNING, exactly (no residual re-check needed);
  *  - column pruning reaches the reader: without `payload` in the
  *    required schema a task does ZERO member-byte reads — a
  *    names/sizes inventory query touches only the directory.
  *
  * Member payloads inflate + CRC-verify through the same
  * [[graft.functions.Zip]] core as the in-memory path; encrypted /
  * foreign-method / bomb-sized members refuse BY NAME at planning. */
class ZipDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "zip"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ZipTable.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    require(schema == ZipTable.Schema,
      s"zip scans always present ${ZipTable.Schema.simpleString}; " +
        s"got ${schema.simpleString}")
    ZipTable.resolve(new CaseInsensitiveStringMap(properties))
  }
}

object ZipTable {
  val Schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("entry_idx", IntegerType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("method", IntegerType, nullable = false),
    StructField("byte_size", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = false)))

  private[archive] def isZipName(n: String): Boolean =
    n.toLowerCase.endsWith(".zip") || n.toLowerCase.endsWith(".epub")

  /** Member-name predicates (`=`, `IN`, `STARTS WITH`) prune whole
    * members EXACTLY at planning: the directory is the index. */
  private[archive] val MemberColumns =
    new Pushdown.Columns[Zip.Central](("name", _.name))

  /** Parsed central directories per (path, mtime, length). */
  private val directories = new HeaderCache[Seq[Zip.Central]](4096)

  /** Read + parse one archive's central directory (driver-side, two
    * positioned reads: tail window, then the directory region). */
  private[archive] def directoryOf(conf: Configuration,
      st: FileStatus): Seq[Zip.Central] = directories(st) { _ =>
    val path = st.getPath.toString
    val len = st.getLen
    val in = st.getPath.getFileSystem(conf).open(st.getPath)
    try {
      def readAt(off: Long, n: Int): Array[Byte] = {
        val take = math.min(n.toLong, len - off).toInt
        val b = new Array[Byte](math.max(0, take))
        if (take > 0) in.readFully(off, b, 0, take)
        b
      }
      // tail window: EOCD (22) + max comment (65535) + ZIP64 locator
      // (20) + EOCD64 record (56)
      val tailLen = math.min(len, 22L + 65535 + 20 + 56).toInt
      val tailBase = len - tailLen
      val tail = readAt(tailBase, tailLen)
      val (nEntries, cdOff) =
        Zip.locateDirectory(0L, tail, tailBase, len, readAt)
      require(cdOff >= 0 && cdOff <= len,
        s"zip $path: central directory offset $cdOff past end $len")
      // the directory runs from cdOff to the EOCD structures at the
      // tail; read that whole region (small: ~46+name bytes per member)
      val cdBytes = readAt(cdOff, (len - cdOff).toInt)
      // localOff values in the directory are already absolute
      Zip.parseCentral(0L, cdBytes, 0, nEntries)
    } finally in.close()
  }

  def resolve(options: CaseInsensitiveStringMap): ZipTable = {
    val spark = SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    val paths = Option(options.get("path")).toSeq
    require(paths.nonEmpty, "zip scan needs a path")
    val maxSplit = LandingDir.bytesOption(options, "maxSplitBytes", 128L << 20)
    val maxFiles = LandingDir.maxFilesPerTrigger(options)
    val files = LandingDir.list(conf, paths, isZipName)
    new ZipTable(files, conf, maxSplit, paths, maxFiles)
  }
}

final class ZipTable(
    val files: Seq[FileStatus],
    @transient val conf: Configuration,
    val maxSplitBytes: Long,
    val paths: Seq[String],
    val maxFilesPerTrigger: Option[Int]) extends Table with SupportsRead {
  override def name(): String = s"zip(${files.length} archives)"
  override def schema(): StructType = ZipTable.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new Pushdown.Builder(ZipTable.Schema, ZipTable.MemberColumns.claims)(
      new ZipScan(this, _, _))
}

final class ZipScan(table: ZipTable, required: StructType, pushed: Array[Filter])
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** One archive's members that carry a row (directories do not) and
    * pass the pushed name predicates. */
  private def members(st: FileStatus): Seq[Zip.Central] =
    ZipTable.directoryOf(table.conf, st).filter(c => !c.name.endsWith("/"))
      .filter(ZipTable.MemberColumns.keep(pushed.toSeq))

  /** One archive's partitions: CONSECUTIVE survivors binned by compressed
    * size. */
  private def partitionsOfFile(st: FileStatus): Seq[InputPartition] =
    SplitBudget.packWithin(members(st).map(st.getPath.toString -> _),
      table.maxSplitBytes, openCost = 0L)(_.csize).map { case (p, g) =>
      ZipInputPartition(p, st.getLen, g, required.fieldNames)
    }

  override def description(): String =
    s"graft-zip archives=${table.files.length}, " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.simpleString}"

  override def planInputPartitions(): Array[InputPartition] =
    table.files.flatMap(partitionsOfFile).toArray

  /** Streaming over a landing dir of archives. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new LandingDirStream(table.paths, table.conf,
      ZipTable.isZipName, table.maxFilesPerTrigger,
      partitionsOfFile, createReaderFactory())

  override def createReaderFactory(): PartitionReaderFactory =
    new ZipReaderFactory(new SerializableHadoopConf(table.conf))

  /** EXACT stats — the directory is an index. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val survivors = table.files.flatMap(members)
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(survivors.map(_.usize).sum)
    override def numRows(): OptionalLong = OptionalLong.of(survivors.length)
  }
}

final case class ZipInputPartition(
    path: String, fileLen: Long, members: Seq[Zip.Central],
    cols: Array[String]) extends InputPartition

final class ZipReaderFactory(conf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ZipPartitionReader(partition.asInstanceOf[ZipInputPartition], conf.value)
}

/** Positioned reads of exactly this partition's members. */
final class ZipPartitionReader(part: ZipInputPartition, conf: Configuration)
    extends PartitionReader[InternalRow] {

  private val hpath = new HPath(part.path)
  private lazy val in = hpath.getFileSystem(conf).open(hpath)
  private var opened = false

  private val PathC = 0; private val IdxC = 1; private val NameC = 2
  private val MethodC = 3; private val SizeC = 4; private val PayloadC = 5
  private val colCodes: Array[Int] = part.cols.map {
    case "path" => PathC
    case "entry_idx" => IdxC
    case "name" => NameC
    case "method" => MethodC
    case "byte_size" => SizeC
    case "payload" => PayloadC
  }
  private val pathUtf8 = UTF8String.fromString(part.path)

  private def payloadOf(c: Zip.Central): Array[Byte] = {
    opened = true
    // same named bounds as the in-memory path: a garbled directory must
    // refuse, not die in readFully/new Array
    require(c.localOff + 30 <= part.fileLen,
      s"zip ${part.path}: member '${c.name}' local header offset " +
        s"${c.localOff} past end ${part.fileLen}")
    // local header first (its OWN name/extra lengths size the data
    // offset), then exactly csize bytes
    val hdr = new Array[Byte](30)
    in.readFully(c.localOff, hdr, 0, 30)
    val dataOff = c.localOff + Zip.localDataOffset(0L, c, hdr, 0)
    require(dataOff + c.csize <= part.fileLen,
      s"zip ${part.path}: member '${c.name}' claims ${c.csize} bytes past end")
    val raw = new Array[Byte](c.csize.toInt)
    in.readFully(dataOff, raw, 0, raw.length)
    Zip.inflateVerify(0L, c, raw)
  }

  private val it = part.members.iterator
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (!it.hasNext) return false
    val c = it.next()
    val row = new Array[Any](colCodes.length)
    var k = 0
    while (k < colCodes.length) {
      row(k) = colCodes(k) match {
        case PathC => pathUtf8
        case IdxC => c.idx
        case NameC => UTF8String.fromString(c.name)
        case MethodC => c.method
        case SizeC => c.usize
        case PayloadC => payloadOf(c)
      }
      k += 1
    }
    current = new GenericInternalRow(row)
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = if (opened) in.close()
}
