package graft.sources.archive

import java.util.OptionalLong

import org.apache.hadoop.conf.Configuration

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

import graft.functions.Tar
import graft.sources.{LandingDir, LandingDirStream, Pushdown}
import graft.sources.nc.SerializableHadoopConf

/** DataSource V2 batch reader for WebDataset shards —
  * `spark.read.format("webdataset").load(dirOrFile)` over `.tar` /
  * `.tar.gz`: one row per sample MEMBER (the
  * [[graft.functions.Tar.webdatasetSamples]] convention — key = name to
  * the first dot after the last '/'), with intra-file parallelism for
  * plain shards.
  *
  * Scale design (see [[ArchiveSplit]] for why):
  *  - plain `.tar` splits into `maxSplitBytes` ranges; resync = the
  *    first 512-ALIGNED offset whose block passes the ustar magic +
  *    checksum test (tar's framing makes every header a split point);
  *  - metadata chains ('x' PAX / 'L' longname / 'K') bind to their
  *    following regular entry, so ownership is by GROUP start: a split
  *    that resyncs onto a regular header walks BACKWARD through a
  *    bounded window ([[WebdatasetTable.ChainLookbackBlocks]] blocks)
  *    of metadata headers whose data spans chain exactly to it — a
  *    chain that began before the range belongs to the previous split
  *    (which reads past its end to finish it);
  *  - `.tar.gz` is one deflate stream — not seekable, ONE partition per
  *    file, but decompression STREAMS: entries are walked block-by-block
  *    off a `GZIPInputStream`, per-task memory bounded by one entry
  *    (`maxMemberBytes`, default 256 MiB, refused by name above), never
  *    the inflated shard. (WebDataset's own convention of many
  *    bounded-size shards supplies the parallelism there.)
  *  - global PAX ('g') entries are inherently sequential state: they
  *    refuse BY NAME in a split that does not start at offset 0 with
  *    more than one range planned; single-range and streaming reads
  *    apply them normally;
  *  - documented residual (every splittable tar reader shares it): a
  *    shard whose MEMBER PAYLOAD is itself a tar (`inner.tar` as a
  *    sample member) embeds valid 512-aligned ustar headers inside
  *    data, and a split resyncing INSIDE that member would emit the
  *    inner entries as outer rows. Whole-file and streaming reads are
  *    immune (they never resync); don't nest tar payloads in shards
  *    you intend to split, or read such shards with maxSplitBytes >=
  *    the file size.
  *
  * `entry_offset` (the regular header's file offset in the plain
  * layout, the entry ordinal in the streaming layout) makes
  * (path, entry_offset) a total, split-invariant order. */
class WebdatasetDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "webdataset"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WebdatasetTable.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    require(schema == WebdatasetTable.Schema,
      s"webdataset scans always present ${WebdatasetTable.Schema.simpleString}; " +
        s"got ${schema.simpleString}")
    WebdatasetTable.resolve(new CaseInsensitiveStringMap(properties))
  }
}

object WebdatasetTable {
  val Schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("entry_offset", LongType, nullable = false),
    StructField("sample_key", StringType, nullable = false),
    StructField("ext", StringType, nullable = false),
    StructField("byte_size", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = false)))

  /** Backward resync window for metadata chains, in 512-byte blocks:
    * a PAX 'x' + 'L' chain for a path fits in a handful; 64 blocks
    * (32 KiB) is generous. Chains longer than this refuse by name at
    * the resync site. */
  val ChainLookbackBlocks = 64

  private[archive] def isTarName(n: String): Boolean = {
    val l = n.toLowerCase
    l.endsWith(".tar") || l.endsWith(".tar.gz")
  }

  def resolve(options: CaseInsensitiveStringMap): WebdatasetTable = {
    val spark = SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    val paths = Option(options.get("path")).toSeq
    require(paths.nonEmpty, "webdataset scan needs a path")
    val maxSplit = LandingDir.bytesOption(options, "maxSplitBytes", 128L << 20)
    val maxMember = LandingDir.bytesOption(options, "maxMemberBytes", 256L << 20)
    val maxFiles = LandingDir.maxFilesPerTrigger(options)
    val files = LandingDir.list(conf, paths, isTarName)
      .map(st => (st.getPath.toString, st.getLen))
    new WebdatasetTable(files, conf, maxSplit, maxMember, paths, maxFiles)
  }

  /** The WebDataset (key, ext) split — shared with the relational
    * stage's convention; a member without a dot refuses by name. */
  private[archive] def keyExt(path: String, name: String): (String, String) = {
    val base = name.lastIndexOf('/') + 1
    val dot = name.indexOf('.', base)
    require(dot > base, s"webdataset $path: member '$name' has no " +
      "extension — not a WebDataset sample member")
    (name.substring(0, dot), name.substring(dot + 1))
  }
}

final class WebdatasetTable(
    val files: Seq[(String, Long)],
    @transient val conf: Configuration,
    val maxSplitBytes: Long,
    val maxMemberBytes: Long,
    val paths: Seq[String],
    val maxFilesPerTrigger: Option[Int]) extends Table with SupportsRead {
  override def name(): String = s"webdataset(${files.length} shards)"
  override def schema(): StructType = WebdatasetTable.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new Pushdown.Builder(WebdatasetTable.Schema, Pushdown.NoClaim)(
      (required, _) => new WebdatasetScan(this, required))
}

final class WebdatasetScan(table: WebdatasetTable, required: StructType)
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  private def partitionsOfFile(path: String, len: Long): Seq[InputPartition] =
    if (path.toLowerCase.endsWith(".gz"))
      Seq(WebdatasetInputPartition(path, 0L, len, len, gz = true,
        nRanges = 1, table.maxMemberBytes, required.fieldNames))
    else {
      val rs = ArchiveSplit.ranges(len, table.maxSplitBytes)
      rs.map { case (s, e) =>
        WebdatasetInputPartition(path, s, e, len, gz = false,
          nRanges = rs.length, table.maxMemberBytes, required.fieldNames)
      }
    }

  /** Streaming over a landing dir of shards: per-file admission, then
    * the SAME split partitions as the batch scan. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new LandingDirStream(table.paths, table.conf,
      WebdatasetTable.isTarName, table.maxFilesPerTrigger,
      st => partitionsOfFile(st.getPath.toString, st.getLen),
      createReaderFactory())

  override def description(): String =
    s"graft-webdataset shards=${table.files.length}, " +
      s"maxSplitBytes=${table.maxSplitBytes}, " +
      s"ReadSchema: ${required.simpleString}"

  override def planInputPartitions(): Array[InputPartition] =
    table.files.flatMap { case (path, len) =>
      // .tar.gz = one deflate stream: not seekable, one STREAMING
      // partition; plain .tar fans out into byte ranges
      partitionsOfFile(path, len)
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new WebdatasetReaderFactory(new SerializableHadoopConf(table.conf))

  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes = table.files.map(_._2).sum
    override def sizeInBytes(): OptionalLong = OptionalLong.of(bytes)
    override def numRows(): OptionalLong = OptionalLong.empty()
  }
}

final case class WebdatasetInputPartition(
    path: String, start: Long, end: Long, fileLen: Long,
    gz: Boolean, nRanges: Int, maxMemberBytes: Long,
    cols: Array[String]) extends InputPartition

final class WebdatasetReaderFactory(conf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    if (partition.asInstanceOf[WebdatasetInputPartition].gz)
      new WebdatasetGzStreamReader(
        partition.asInstanceOf[WebdatasetInputPartition], conf.value)
    else
      new WebdatasetSplitReader(
        partition.asInstanceOf[WebdatasetInputPartition], conf.value)
}

/** Shared row assembly. */
private[archive] abstract class WebdatasetReaderBase(
    part: WebdatasetInputPartition) extends PartitionReader[InternalRow] {
  private val PathC = 0; private val OffC = 1; private val KeyC = 2
  private val ExtC = 3; private val SizeC = 4; private val PayloadC = 5
  private val colCodes: Array[Int] = part.cols.map {
    case "path" => PathC
    case "entry_offset" => OffC
    case "sample_key" => KeyC
    case "ext" => ExtC
    case "byte_size" => SizeC
    case "payload" => PayloadC
  }
  private val pathUtf8 = UTF8String.fromString(part.path)

  protected def rowOf(offset: Long, name: String, size: Long,
      payload: () => Array[Byte]): InternalRow = {
    val (key, ext) = WebdatasetTable.keyExt(part.path, name)
    val row = new Array[Any](colCodes.length)
    var c = 0
    while (c < colCodes.length) {
      row(c) = colCodes(c) match {
        case PathC => pathUtf8
        case OffC => offset
        case KeyC => UTF8String.fromString(key)
        case ExtC => UTF8String.fromString(ext)
        case SizeC => size
        case PayloadC => payload()
      }
      c += 1
    }
    new GenericInternalRow(row)
  }
}

/** Splittable plain-`.tar` reader: 512-aligned resync + group-ownership
  * walk. */
final class WebdatasetSplitReader(part: WebdatasetInputPartition,
    conf: Configuration) extends WebdatasetReaderBase(part) {

  private val hpath = new org.apache.hadoop.fs.Path(part.path)
  private val in = hpath.getFileSystem(conf).open(hpath)
  private val lookback = 512L * WebdatasetTable.ChainLookbackBlocks
  private val slab = new GrowableSlab(in,
    math.max(0L, (part.start - lookback) / 512 * 512), part.fileLen)
  private val singleRange = part.nRanges == 1

  private def isHeader(p: Long): Boolean =
    slab.ensure(p + 512) && Tar.isHeaderAt(slab.raw, slab.rel(p))

  private def isZeroBlock(p: Long): Boolean =
    slab.ensure(p + 512) &&
      (0 until 512).forall(i => slab(p + i) == 0)

  /** First 512-aligned offset ≥ p with a valid header (or -1). */
  private def resync(p0: Long): Long = {
    var p = (p0 + 511) / 512 * 512
    while (p < part.end) {
      if (isHeader(p)) return p
      p += 512
    }
    -1
  }

  private def typeflagAt(p: Long): Char = {
    val t = slab(p + 156)
    if (t == 0) '0' else t.toChar
  }
  private def isMeta(t: Char): Boolean =
    t == 'x' || t == 'g' || t == 'L' || t == 'K'

  private def dataSpan(size: Long): Long = ((size + 511) / 512) * 512

  /** The chain start for a header at `h`: walk backward through
    * metadata headers whose data span ends exactly at the current chain
    * start. Bounded by the lookback window; a chain still open at the
    * bound refuses by name. */
  private def chainStartOf(h: Long): Long = {
    var cs = h
    var guard = 0
    var continue = true
    // the window is anchored at the ORIGINAL header and clamped to the
    // slab base — the chain may not walk below what was pre-loaded
    val floor = math.max(slab.base, h - lookback)
    while (continue) {
      continue = false
      var m = cs - 512
      while (!continue && m >= floor) {
        if (isHeader(m) && isMeta(typeflagAt(m))) {
          val hd = Tar.headerAt(0L, slab.raw, slab.rel(m), m)
          if (m + 512 + dataSpan(hd.size) == cs) {
            cs = m
            continue = true
            guard += 1
            require(guard <= WebdatasetTable.ChainLookbackBlocks,
              s"webdataset ${part.path}: metadata chain before $h exceeds " +
                s"the ${WebdatasetTable.ChainLookbackBlocks}-block lookback")
          }
        }
        m -= 512
      }
    }
    cs
  }

  private var cursor: Long = -1
  private var done = false
  private var current: InternalRow = _
  private var pendingPax: Map[String, String] = Map.empty
  private var pendingLong: String = null
  private var globalPax: Map[String, String] = Map.empty

  /** Initialize: find the first GROUP whose chain start is ≥ start. */
  private def init(): Unit = {
    if (part.start == 0) { cursor = 0; return }
    var h = resync(part.start)
    while (h >= 0) {
      val cs = chainStartOf(h)
      if (cs >= part.start) { cursor = cs; return }
      // group belongs to the previous split: skip past it
      h = resync(h + 512)
    }
    done = true
  }
  init()

  override def next(): Boolean = {
    if (done) return false
    while (true) {
      if (cursor < 0) { done = true; return false }
      // a new GROUP begins here: ownership check
      if (cursor >= part.end) { done = true; return false }
      if (cursor + 512 > part.fileLen) {
        // an owned header that cannot fit is a cut shard — the silent-
        // trailing-loss failure mode the binaryFile path also refuses
        throw new IllegalArgumentException(
          s"webdataset ${part.path}: truncated mid-header at $cursor " +
            s"(file ends at ${part.fileLen})")
      }
      if (isZeroBlock(cursor)) { done = true; return false }
      require(isHeader(cursor),
        s"webdataset ${part.path}: expected a ustar header at $cursor " +
          "(truncated or corrupt shard)")
      // walk the group: metadata entries, then one regular entry
      pendingPax = Map.empty; pendingLong = null
      var p = cursor
      var emitted: InternalRow = null
      var groupOpen = true
      while (groupOpen) {
        require(isHeader(p),
          s"webdataset ${part.path}: metadata chain at $cursor runs into " +
            s"a non-header block at $p")
        val hd = Tar.headerAt(0L, slab.raw, slab.rel(p), p)
        require(p + 512 + hd.size <= part.fileLen,
          s"webdataset ${part.path}: entry at $p claims ${hd.size} bytes past end")
        require(hd.size <= part.maxMemberBytes,
          s"webdataset ${part.path}: entry at $p of ${hd.size} bytes exceeds " +
            "maxMemberBytes — raise the option for jumbo members")
        val dataOff = p + 512
        hd.typeflag match {
          case 'L' =>
            slab.ensure(dataOff + hd.size)
            val d = slab.copy(dataOff, hd.size.toInt)
            var e = 0
            while (e < d.length && d(e) != 0) e += 1
            pendingLong = new String(d, 0, e,
              java.nio.charset.StandardCharsets.UTF_8)
          case 'K' => ()
          case 'x' =>
            slab.ensure(dataOff + hd.size)
            pendingPax = pendingPax ++
              Tar.parsePaxRecords(0L, slab.copy(dataOff, hd.size.toInt))
          case 'g' =>
            require(singleRange && part.start == 0,
              s"webdataset ${part.path}: global PAX ('g') entry at $p in a " +
                "SPLIT scan — global state is sequential; read this shard " +
                "with maxSplitBytes >= the file size (or the binaryFile path)")
            slab.ensure(dataOff + hd.size)
            globalPax = globalPax ++
              Tar.parsePaxRecords(0L, slab.copy(dataOff, hd.size.toInt))
          case t =>
            val merged = globalPax ++ pendingPax
            val name = merged.get("path")
              .orElse(Option(pendingLong)).getOrElse(hd.name)
            val size = merged.get("size").map(_.toLong).getOrElse(hd.size)
            require(p + 512 + size <= part.fileLen && size <= part.maxMemberBytes,
              s"webdataset ${part.path}: entry '$name' at $p claims $size bytes " +
                "past end or over maxMemberBytes")
            if (t == '0') {
              val sz = size
              emitted = rowOf(p, name, sz, { () =>
                slab.ensure(dataOff + sz)
                slab.copy(dataOff, sz.toInt)
              })
            }
            groupOpen = false
            p += 512 + dataSpan(size)
        }
        if (groupOpen) p += 512 + dataSpan(hd.size)
      }
      cursor = p
      if (emitted != null) { current = emitted; return true }
      // directories/links: no row; continue to the next group
    }
    false // unreachable
  }

  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}

/** Streaming `.tar.gz` reader: one partition, block-by-block walk off a
  * `GZIPInputStream` — per-task memory is one entry, never the inflated
  * shard. `entry_offset` is the DECOMPRESSED stream offset of the
  * regular entry's header (same total order as the plain layout's). */
final class WebdatasetGzStreamReader(part: WebdatasetInputPartition,
    conf: Configuration) extends WebdatasetReaderBase(part) {

  private val hpath = new org.apache.hadoop.fs.Path(part.path)
  private val raw = hpath.getFileSystem(conf).open(hpath)
  private val in = new java.util.zip.GZIPInputStream(
    new java.io.BufferedInputStream(raw, 1 << 16), 1 << 16)
  private var pos = 0L
  private var done = false
  private var current: InternalRow = _
  private var pendingPax: Map[String, String] = Map.empty
  private var pendingLong: String = null
  private var globalPax: Map[String, String] = Map.empty

  private def readBlock(): Array[Byte] = {
    val b = in.readNBytes(512)
    require(b.length == 512,
      s"webdataset ${part.path}: stream truncated mid-header at $pos")
    pos += 512
    b
  }

  private def readData(size: Long): Array[Byte] = {
    require(size <= part.maxMemberBytes,
      s"webdataset ${part.path}: entry of $size bytes exceeds maxMemberBytes " +
        "— raise the option for jumbo members")
    val d = in.readNBytes(size.toInt)
    require(d.length == size,
      s"webdataset ${part.path}: stream truncated mid-entry at $pos")
    pos += size
    val pad = ((size + 511) / 512 * 512 - size).toInt
    if (pad > 0) {
      val p = in.readNBytes(pad)
      require(p.length == pad,
        s"webdataset ${part.path}: stream truncated mid-padding at $pos")
      pos += pad
    }
    d
  }

  private def skipData(size: Long): Unit = {
    val total = (size + 511) / 512 * 512
    var left = total
    while (left > 0) {
      val n = in.skip(left)
      if (n <= 0) {
        require(in.read() >= 0,
          s"webdataset ${part.path}: stream truncated mid-entry at $pos")
        left -= 1
      } else left -= n
    }
    pos += total
  }

  override def next(): Boolean = {
    if (done) return false
    while (true) {
      val hdrOff = pos
      val block = in.readNBytes(512)
      if (block.isEmpty) { done = true; return false } // clean EOF
      require(block.length == 512,
        s"webdataset ${part.path}: stream truncated mid-header at $hdrOff")
      pos += 512
      if ((0 until 512).forall(i => block(i) == 0)) { done = true; return false }
      val hd = Tar.headerAt(0L, block, 0, hdrOff)
      hd.typeflag match {
        case 'L' =>
          val d = readData(hd.size)
          var e = 0
          while (e < d.length && d(e) != 0) e += 1
          pendingLong = new String(d, 0, e,
            java.nio.charset.StandardCharsets.UTF_8)
        case 'K' => skipData(hd.size)
        case 'x' =>
          pendingPax = pendingPax ++ Tar.parsePaxRecords(0L, readData(hd.size))
        case 'g' => // sequential stream: global PAX is fine here
          globalPax = globalPax ++ Tar.parsePaxRecords(0L, readData(hd.size))
        case t =>
          val merged = globalPax ++ pendingPax
          val name = merged.get("path")
            .orElse(Option(pendingLong)).getOrElse(hd.name)
          val size = merged.get("size").map(_.toLong).getOrElse(hd.size)
          pendingPax = Map.empty; pendingLong = null
          if (t == '0') {
            // payload pruning can't seek a gzip stream — read either way,
            // but only MATERIALIZE into the row when required
            val d = readData(size)
            current = rowOf(hdrOff, name, size, () => d)
            return true
          } else skipData(size)
      }
    }
    false // unreachable
  }

  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}
