package graft.sources.nc

import java.io.{DataInputStream, DataOutputStream, EOFException, InputStream}
import java.nio.charset.StandardCharsets

/** NetCDF classic ("CDF-1"/"CDF-2"/"CDF-5") binary format model: header
  * parser and writer for the subset the DSv2 scan supports (S9's real
  * form — the reference ingests NetCDF via kerchunk, transform.py:119-279;
  * here the format itself is parsed from the public Unidata spec).
  *
  * Subset: dimensions (one optional record dimension), global + variable
  * text/numeric attributes, variables of NC_BYTE/SHORT/INT/FLOAT/DOUBLE
  * plus the CDF-5 UBYTE/USHORT/UINT/INT64 types (NC_UINT64 refused by
  * name — Spark has no lossless integral home for it). Big-endian
  * throughout, per the spec. CDF-1 uses 4-byte variable offsets, CDF-2
  * 8-byte; CDF-5 (PnetCDF / `nccopy -k cdf5`, the HPC-produced shape)
  * additionally widens every NON_NEG header integer to 8 bytes. All three
  * are parsed; the writer emits CDF-1 unless the layout needs 64-bit
  * offsets or a forceVersion pins one.
  */
object NcFormat {

  // nc_type tags (spec section "The format in detail")
  val NcByte = 1
  val NcChar = 2
  val NcShort = 3
  val NcInt = 4
  val NcFloat = 5
  val NcDouble = 6
  // CDF-5 additions (PnetCDF 64-bit data format, classic spec appendix B)
  val NcUByte = 7
  val NcUShort = 8
  val NcUInt = 9
  val NcInt64 = 10
  val NcUInt64 = 11

  def typeSize(t: Int): Int = t match {
    case NcByte | NcChar | NcUByte => 1
    case NcShort | NcUShort => 2
    case NcInt | NcFloat | NcUInt => 4
    case NcDouble | NcInt64 | NcUInt64 => 8
    case other => throw new IllegalArgumentException(s"Unknown nc_type $other")
  }

  private val TagDimension = 0x0A
  private val TagVariable = 0x0B
  private val TagAttribute = 0x0C

  /** `length == 0` in the file marks the record dimension; `length` here is
    * the materialized length (numrecs for the record dim). */
  final case class NcDim(name: String, length: Int, isRecord: Boolean)

  /** Attribute values: text (NC_CHAR) or numeric widened to double. */
  final case class NcAttr(name: String, text: Option[String], nums: Option[Array[Double]]) {
    def asText: String = text.getOrElse(nums.map(_.mkString(",")).getOrElse(""))
    def asNum: Option[Double] = nums.flatMap(_.headOption)
  }

  final case class NcVar(
      name: String,
      dimIds: Seq[Int],
      ncType: Int,
      attrs: Map[String, NcAttr],
      begin: Long) {
    def attr(n: String): Option[String] = attrs.get(n).map(_.asText)
    def numAttr(n: String): Option[Double] = attrs.get(n).flatMap(_.asNum)
    /** `_FillValue` wins over `missing_value` when both are present (CF §2.5.1). */
    def fillValue: Option[Double] = numAttr("_FillValue").orElse(numAttr("missing_value"))
  }

  /** Fill comparison in the VARIABLE's precision: a _FillValue attr stored
    * wider than the variable (an NC_DOUBLE 9.96921e36 against an NC_FLOAT
    * var — a common CF-checker violation in wild files) must still match
    * the float-widened raw value, or fill cells silently surface as ~1e37
    * data. NaN fills match NaN raws. */
  def fillMatches(raw: Double, fill: Double, ncType: Int): Boolean =
    (raw.isNaN && fill.isNaN) || (ncType match {
      case NcFloat => raw.toFloat == fill.toFloat
      case _ => raw == fill
    })

  final case class NcHeader(
      version: Int,
      numRecs: Int,
      dims: Seq[NcDim],
      gattrs: Map[String, NcAttr],
      vars: Seq[NcVar]) {

    def recDimId: Int = dims.indexWhere(_.isRecord)

    def isRecordVar(v: NcVar): Boolean =
      recDimId >= 0 && v.dimIds.headOption.contains(recDimId)

    /** Bytes of one record-slab of a record var (non-record dims only),
      * unpadded. */
    def perRecordSize(v: NcVar): Long =
      v.dimIds.drop(1).map(dims(_).length.toLong).product * typeSize(v.ncType)

    /** Bytes of a whole fixed var. */
    def fixedSize(v: NcVar): Long =
      v.dimIds.map(dims(_).length.toLong).product * typeSize(v.ncType)

    /** Stride between consecutive records (spec: sum of padded per-record
      * sizes; a SINGLE record variable is not padded). */
    def recSize: Long = {
      val rvs = vars.filter(isRecordVar)
      if (rvs.length == 1) perRecordSize(rvs.head)
      else rvs.map(v => pad4(perRecordSize(v))).sum
    }
  }

  def pad4(n: Long): Long = (n + 3) / 4 * 4
  def pad4(n: Int): Int = (n + 3) / 4 * 4

  // -------------------------------------------------------------- parsing

  /** Parse the header from the start of a classic NetCDF stream. The stream
    * is consumed exactly through the end of the header.
    *
    * Versions: CDF-1 (32-bit offsets), CDF-2 (64-bit offsets), and CDF-5
    * (PnetCDF's 64-bit DATA format, classic spec appendix B: every
    * NON_NEG header integer — numrecs, list/attr counts, name and dim
    * lengths, ndims, dim ids, vsize — widens to 8 bytes, and the new
    * unsigned/64-bit nc_types 7-11 appear; produced by HPC writers like
    * PnetCDF and `nccopy -k cdf5`). */
  def parseHeader(in0: InputStream): NcHeader = {
    val in = new DataInputStream(in0)
    val magic = new Array[Byte](3)
    in.readFully(magic)
    require(new String(magic, StandardCharsets.US_ASCII) == "CDF",
      "Not a classic NetCDF file (bad magic)")
    val version = in.readByte().toInt
    require(version == 1 || version == 2 || version == 5,
      s"Unsupported CDF version $version (CDF-1, CDF-2, CDF-5)")
    val wide = version == 5
    val numRecsRaw =
      if (wide) {
        val n = in.readLong()
        require(n != -1L, "STREAMING numrecs is not supported")
        require(n >= 0 && n <= Int.MaxValue, s"CDF-5 numrecs $n exceeds Int")
        n.toInt
      } else in.readInt()
    val dims = readDimList(in, wide)
    val gattrs = readAttrList(in, wide)
    val vars = readVarList(in, version)
    // STREAMING numrecs (all 1s) is not produced by our writer; reject
    // rather than guess from the file length.
    require(numRecsRaw != -1, "STREAMING numrecs is not supported")
    val withRec = dims.map(d => if (d.isRecord) d.copy(length = numRecsRaw) else d)
    NcHeader(version, numRecsRaw, withRec, gattrs, vars)
  }

  /** A CDF-5 NON_NEG (8-byte) or classic 4-byte header integer, bounded
    * to Int — this reader plans per-dimension index ranges as Ints; a
    * header field beyond 2³¹ is refused, not truncated. */
  private def nonNeg(in: DataInputStream, wide: Boolean, what: String): Int =
    if (!wide) in.readInt()
    else {
      val n = in.readLong()
      require(n >= 0 && n <= Int.MaxValue, s"CDF-5 $what $n exceeds Int range")
      n.toInt
    }

  private def readName(in: DataInputStream, wide: Boolean): String = {
    val n = nonNeg(in, wide, "name length")
    val bytes = new Array[Byte](pad4(n))
    in.readFully(bytes)
    new String(bytes, 0, n, StandardCharsets.UTF_8)
  }

  private def readTagged(in: DataInputStream, expectedTag: Int, wide: Boolean): Int = {
    val tag = in.readInt()
    val n = nonNeg(in, wide, "list count")
    require(tag == expectedTag || (tag == 0 && n == 0),
      s"Malformed header: tag $tag (expected $expectedTag or ABSENT)")
    n
  }

  private def readDimList(in: DataInputStream, wide: Boolean): Seq[NcDim] = {
    val n = readTagged(in, TagDimension, wide)
    (0 until n).map { _ =>
      val name = readName(in, wide)
      val len = nonNeg(in, wide, s"dim $name length")
      NcDim(name, len, isRecord = len == 0)
    }
  }

  private def readAttrList(in: DataInputStream, wide: Boolean): Map[String, NcAttr] = {
    val n = readTagged(in, TagAttribute, wide)
    (0 until n).map { _ =>
      val name = readName(in, wide)
      val t = in.readInt()
      val nelems = nonNeg(in, wide, s"attr $name count")
      val raw = new Array[Byte](pad4(nelems * typeSize(t)))
      in.readFully(raw)
      val bb = java.nio.ByteBuffer.wrap(raw)
      val attr = t match {
        case NcChar => NcAttr(name, Some(new String(raw, 0, nelems, StandardCharsets.UTF_8)), None)
        case NcByte => NcAttr(name, None, Some(Array.tabulate(nelems)(i => raw(i).toDouble)))
        case NcUByte => NcAttr(name, None, Some(Array.tabulate(nelems)(i => (raw(i) & 0xFF).toDouble)))
        case NcShort => NcAttr(name, None, Some(Array.tabulate(nelems)(i => bb.getShort(i * 2).toDouble)))
        case NcUShort => NcAttr(name, None, Some(Array.tabulate(nelems)(i => (bb.getShort(i * 2) & 0xFFFF).toDouble)))
        case NcInt => NcAttr(name, None, Some(Array.tabulate(nelems)(i => bb.getInt(i * 4).toDouble)))
        case NcUInt => NcAttr(name, None, Some(Array.tabulate(nelems)(i => (bb.getInt(i * 4).toLong & 0xFFFFFFFFL).toDouble)))
        case NcFloat => NcAttr(name, None, Some(Array.tabulate(nelems)(i => bb.getFloat(i * 4).toDouble)))
        case NcDouble => NcAttr(name, None, Some(Array.tabulate(nelems)(i => bb.getDouble(i * 8))))
        // attr values travel as doubles; |int64| > 2^53 would round, so
        // int64 fill attrs are exact only inside the double-exact range
        case NcInt64 => NcAttr(name, None, Some(Array.tabulate(nelems)(i => bb.getLong(i * 8).toDouble)))
        case other => throw new IllegalArgumentException(
          s"attr $name: nc_type $other unsupported as an attribute")
      }
      name -> attr
    }.toMap
  }

  private def readVarList(in: DataInputStream, version: Int): Seq[NcVar] = {
    val wide = version == 5
    val n = readTagged(in, TagVariable, wide)
    (0 until n).map { _ =>
      val name = readName(in, wide)
      val ndims = nonNeg(in, wide, s"var $name ndims")
      val dimIds = (0 until ndims).map(_ => nonNeg(in, wide, "dim id"))
      val attrs = readAttrList(in, wide)
      val t = in.readInt()
      // stored vsize may overflow; recomputed on use
      val _vsize = if (wide) in.readLong() else in.readInt().toLong
      val begin = if (version == 1) in.readInt().toLong & 0xFFFFFFFFL else in.readLong()
      NcVar(name, dimIds, t, attrs, begin)
    }
  }

  // -------------------------------------------------------------- writing

  /** Variable to write: `data` is the row-major cell array (record dim
    * first, if any) widened to double; it is narrowed back per `ncType`.
    * `nattrs` are numeric attributes as (name, nc_type, values) — e.g. CF
    * packing attrs scale_factor/add_offset/_FillValue. */
  final case class WriteVar(
      name: String,
      dims: Seq[String],
      ncType: Int,
      data: Array[Double],
      attrs: Seq[(String, String)] = Nil,
      nattrs: Seq[(String, Int, Array[Double])] = Nil)

  /** Write a classic NetCDF file — CDF-1 normally, CDF-2 (64-bit offsets)
    * automatically when the layout's variable begins exceed 32 bits (the
    * classic large-file rule), or when `forceVersion` pins one (tests
    * exercise the CDF-2 header path without writing a 2 GB file). `dims`
    * carries materialized lengths; `recordDim`, if set, must be the FIRST
    * dim of every variable that uses it (classic-format rule). */
  def write(
      out: DataOutputStream,
      dims: Seq[(String, Int)],
      vars: Seq[WriteVar],
      recordDim: Option[String] = None,
      gattrs: Seq[(String, String)] = Nil,
      forceVersion: Option[Int] = None): Unit = {
    forceVersion.foreach(v => require(v == 1 || v == 2 || v == 5,
      s"forceVersion $v not in {1, 2, 5}"))
    val dimIdx = dims.map(_._1).zipWithIndex.toMap
    val dimLen = dims.toMap
    recordDim.foreach { rd =>
      require(dimIdx.contains(rd), s"record dim $rd not declared")
      vars.foreach { v =>
        require(!v.dims.contains(rd) || v.dims.head == rd,
          s"record dim must be first in var ${v.name}")
      }
    }
    val numRecs = recordDim.map(dimLen).getOrElse(0)
    vars.foreach { v =>
      val expect = v.dims.map(dimLen(_).toLong).product
      require(v.data.length == expect,
        s"var ${v.name}: ${v.data.length} cells, dims imply $expect")
    }

    def isRec(v: WriteVar) = recordDim.exists(v.dims.headOption.contains)
    val (recVars, fixedVars) = vars.partition(isRec)
    def perRecBytes(v: WriteVar): Long =
      v.dims.drop(1).map(dimLen(_).toLong).product * typeSize(v.ncType)
    def fixedBytes(v: WriteVar): Long =
      v.dims.map(dimLen(_).toLong).product * typeSize(v.ncType)

    // Two-pass: serialize header with zero begins to learn its length, then
    // place fixed vars (padded to 4) followed by the record region.
    def headerBytes(begins: Map[String, Long], version: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val d = new DataOutputStream(bos)
      val wide = version == 5
      // CDF-5 widens every NON_NEG header integer to 8 bytes
      def nn(v: Long): Unit = if (wide) d.writeLong(v) else d.writeInt(v.toInt)
      d.writeBytes("CDF"); d.writeByte(version)
      nn(numRecs.toLong)
      // dim list
      d.writeInt(TagDimension); nn(dims.length.toLong)
      dims.foreach { case (name, len) =>
        writeName(d, name, wide)
        nn(if (recordDim.contains(name)) 0L else len.toLong)
      }
      writeAttrList(d, gattrs, Nil, wide)
      d.writeInt(TagVariable); nn(vars.length.toLong)
      vars.foreach { v =>
        writeName(d, v.name, wide)
        nn(v.dims.length.toLong)
        v.dims.foreach(dn => nn(dimIdx(dn).toLong))
        writeAttrList(d, v.attrs, v.nattrs, wide)
        d.writeInt(v.ncType)
        val vsize = pad4(if (isRec(v)) perRecBytes(v) else fixedBytes(v))
        // vsize is an UNSIGNED 32-bit field in CDF-1/2; beyond its 2^32-4
        // maximum the spec stores the all-ones sentinel and readers
        // recompute the true size (clamping to Int.MaxValue would feed
        // external readers a wrong record stride). CDF-5 vsize is 8 bytes.
        if (wide) d.writeLong(vsize)
        else d.writeInt(if (vsize > 0xFFFFFFFCL) -1 else vsize.toInt)
        // CDF-1 carries 32-bit variable begins, CDF-2/5 64-bit
        if (version == 2 || version == 5) d.writeLong(begins.getOrElse(v.name, 0L))
        else d.writeInt(begins.getOrElse(v.name, 0L).toInt)
      }
      d.flush(); bos.toByteArray
    }

    // the header length itself depends on the version (4 vs 8 bytes per
    // begin), so layout is computed per candidate version
    def layout(version: Int): Map[String, Long] = {
      val headerLen = headerBytes(Map.empty, version).length.toLong
      var offset = pad4(headerLen)
      val begins = scala.collection.mutable.Map.empty[String, Long]
      fixedVars.foreach { v =>
        begins(v.name) = offset
        offset += pad4(fixedBytes(v))
      }
      val singleRec = recVars.length == 1
      recVars.foreach { v =>
        begins(v.name) = offset
        offset += (if (singleRec) perRecBytes(v) else pad4(perRecBytes(v)))
      }
      begins.toMap
    }
    def fitsCdf1(b: Map[String, Long]) = b.values.forall(_ <= Int.MaxValue.toLong)
    val singleRec = recVars.length == 1
    val (version, begins) = forceVersion match {
      case Some(1) =>
        val b = layout(1)
        require(fitsCdf1(b), "Layout exceeds CDF-1 32-bit offsets; use CDF-2")
        (1, b)
      case Some(2) => (2, layout(2))
      case Some(5) => (5, layout(5))
      case _ =>
        val b1 = layout(1)
        if (fitsCdf1(b1)) (1, b1) else (2, layout(2))
    }

    val hdr = headerBytes(begins, version)
    out.write(hdr)
    padTo4(out, hdr.length.toLong)

    def writeCells(v: WriteVar, from: Long, count: Long): Long = {
      var i = from
      val end = from + count
      while (i < end) {
        v.ncType match {
          case NcByte | NcChar => out.writeByte(v.data(i.toInt).toInt)
          case NcUByte => out.writeByte(v.data(i.toInt).toLong.toInt & 0xFF)
          case NcShort => out.writeShort(v.data(i.toInt).toInt)
          case NcUShort => out.writeShort(v.data(i.toInt).toLong.toInt & 0xFFFF)
          case NcInt => out.writeInt(v.data(i.toInt).toInt)
          case NcUInt => out.writeInt(v.data(i.toInt).toLong.toInt)
          case NcFloat => out.writeFloat(v.data(i.toInt).toFloat)
          case NcDouble => out.writeDouble(v.data(i.toInt))
          case NcInt64 => out.writeLong(v.data(i.toInt).toLong)
        }
        i += 1
      }
      count * typeSize(v.ncType)
    }

    fixedVars.foreach { v =>
      val written = writeCells(v, 0L, fixedBytes(v) / typeSize(v.ncType))
      padTo4(out, written)
    }
    // record region: records interleave the record vars
    for (r <- 0 until numRecs; v <- recVars) {
      val cellsPerRec = perRecBytes(v) / typeSize(v.ncType)
      val written = writeCells(v, r.toLong * cellsPerRec, cellsPerRec)
      if (!singleRec) padTo4(out, written)
    }
    out.flush()
  }

  private def writeName(d: DataOutputStream, name: String,
      wide: Boolean = false): Unit = {
    val b = name.getBytes(StandardCharsets.UTF_8)
    if (wide) d.writeLong(b.length.toLong) else d.writeInt(b.length)
    d.write(b)
    d.write(new Array[Byte](pad4(b.length) - b.length))
  }

  private def writeAttrList(
      d: DataOutputStream,
      attrs: Seq[(String, String)],
      nattrs: Seq[(String, Int, Array[Double])] = Nil,
      wide: Boolean = false): Unit = {
    def nn(v: Long): Unit = if (wide) d.writeLong(v) else d.writeInt(v.toInt)
    if (attrs.isEmpty && nattrs.isEmpty) { d.writeInt(0); nn(0L) }
    else {
      d.writeInt(TagAttribute); nn((attrs.length + nattrs.length).toLong)
      attrs.foreach { case (name, value) =>
        writeName(d, name, wide)
        d.writeInt(NcChar)
        val b = value.getBytes(StandardCharsets.UTF_8)
        nn(b.length.toLong)
        d.write(b)
        d.write(new Array[Byte](pad4(b.length) - b.length))
      }
      nattrs.foreach { case (name, t, vals) =>
        writeName(d, name, wide)
        d.writeInt(t)
        nn(vals.length.toLong)
        var written = 0L
        vals.foreach { v =>
          t match {
            case NcByte | NcChar => d.writeByte(v.toInt)
            case NcUByte => d.writeByte(v.toLong.toInt & 0xFF)
            case NcShort => d.writeShort(v.toInt)
            case NcUShort => d.writeShort(v.toLong.toInt & 0xFFFF)
            case NcInt => d.writeInt(v.toInt)
            case NcUInt => d.writeInt(v.toLong.toInt)
            case NcFloat => d.writeFloat(v.toFloat)
            case NcDouble => d.writeDouble(v)
            case NcInt64 => d.writeLong(v.toLong)
          }
          written += typeSize(t)
        }
        d.write(new Array[Byte]((pad4(written) - written).toInt))
      }
    }
  }

  private def padTo4(out: DataOutputStream, written: Long): Unit = {
    val rem = (4 - (written % 4)) % 4
    if (rem > 0) out.write(new Array[Byte](rem.toInt))
  }

  /** Convenience: write to a local or Hadoop-visible path. */
  def writeFile(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      dims: Seq[(String, Int)],
      vars: Seq[WriteVar],
      recordDim: Option[String] = None,
      gattrs: Seq[(String, String)] = Nil,
      forceVersion: Option[Int] = None): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = new DataOutputStream(new java.io.BufferedOutputStream(
      fs.create(new org.apache.hadoop.fs.Path(path), true)))
    try write(out, dims, vars, recordDim, gattrs, forceVersion)
    finally out.close()
  }

  /** CF `calendar` models this scan decodes to TIMESTAMP_NTZ. Fixed-year
    * calendars map a value to (y, m, d, time-of-day) by THEIR OWN year
    * arithmetic, then reinterpret that tuple as a proleptic-Gregorian
    * timestamp — cftime/xarray's datetime64 conversion: the noleap date
    * 2024-03-01 IS the real 2024-03-01 (what diverges across a leap day
    * is the day COUNT, exactly what the per-calendar arithmetic fixes). */
  private val CfMonthLengths: Map[String, Seq[Int]] = {
    val noleap = Seq(31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)
    Map(
      "noleap" -> noleap, "365_day" -> noleap,
      "all_leap" -> noleap.updated(1, 29), "366_day" -> noleap.updated(1, 29),
      "360_day" -> Seq.fill(12)(30))
  }
  private val GregorianCals =
    Set("standard", "gregorian", "proleptic_gregorian", "default")

  /** Decode one CF time axis to TIMESTAMP_NTZ micros, calendar-aware.
    * None = not a time axis this scan can decode exactly (unparseable
    * units, or a calendar like `julian` whose dates have no same-tuple
    * Gregorian reading) — callers fall back to the numeric axis. A
    * fixed-year-calendar date with no Gregorian equivalent (360_day
    * Feb 30) refuses by name rather than shifting silently. */
  def decodeTimeAxis(units: Option[String], calendar: Option[String],
      vals: Array[Double]): Option[Array[Long]] = {
    val cal = calendar.map(_.trim.toLowerCase)
    units.flatMap(parseTimeUnitParts) match {
      case Some((mult, y0, mo0, d0, intraMicros))
          if cal.forall(GregorianCals) =>
        val epoch = try java.time.LocalDateTime.of(y0, mo0, d0, 0, 0)
          .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + intraMicros
        catch { case _: java.time.DateTimeException => return None }
        Some(vals.map(v => epoch + math.round(v * mult)))
      case Some((mult, y0, mo0, d0, intraMicros))
          if cal.exists(CfMonthLengths.contains) =>
        val ml = CfMonthLengths(cal.get)
        val cum = ml.scanLeft(0)(_ + _) // cum(i) = days before month i+1
        val dpy = ml.sum.toLong
        val DayMicros = 86400L * 1000000L
        // epoch day number in the FILE's calendar, year-0 baseline
        val epochDays = y0.toLong * dpy + cum(mo0 - 1) + (d0 - 1)
        Some(vals.map { v =>
          val total = math.round(v * mult) + intraMicros
          val days = epochDays + java.lang.Math.floorDiv(total, DayMicros)
          val micro = java.lang.Math.floorMod(total, DayMicros)
          val y = java.lang.Math.floorDiv(days, dpy)
          var rem = java.lang.Math.floorMod(days, dpy).toInt
          var mo = 0
          while (rem >= cum(mo + 1)) mo += 1
          rem -= cum(mo)
          val ldt = try java.time.LocalDateTime.of(y.toInt, mo + 1, rem + 1, 0, 0)
          catch {
            case _: java.time.DateTimeException =>
              throw new IllegalArgumentException(
                s"time value $v decodes to $y-${mo + 1}-${rem + 1} in the " +
                  s"${cal.get} calendar — no proleptic-Gregorian " +
                  "equivalent; re-grain the axis or drop the calendar " +
                  "attribute to read it numerically")
          }
          ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + micro
        })
      case _ => None
    }
  }

  /** CF-style time units split into (micros multiplier, epoch year,
    * month, day, intra-day micros) — the epoch as calendar FIELDS, since
    * under a non-Gregorian calendar it is a date in the file's own
    * calendar, not a real instant. */
  def parseTimeUnitParts(units: String): Option[(Long, Int, Int, Int, Long)] = {
    val m = "(?i)(microsecond|millisecond|second|minute|hour|day)s?\\s+since\\s+(.+)".r
    units.trim match {
      case m(unit, epochStr) =>
        val mult = unit.toLowerCase match {
          case "microsecond" => 1L
          case "millisecond" => 1000L
          case "second" => 1000000L
          case "minute" => 60L * 1000000L
          case "hour" => 3600L * 1000000L
          case "day" => 86400L * 1000000L
        }
        // real-world CF epochs are often NOT zero-padded ("days since
        // 1980-1-1 0:0:0", CHIRPS) — parse digit groups, not ISO strings
        val dt = ("(\\d{1,4})-(\\d{1,2})-(\\d{1,2})" +
          "(?:[T ](\\d{1,2}):(\\d{1,2})(?::(\\d{1,2})(?:\\.\\d+)?)?)?" +
          "(?:\\s*(?:Z|UTC|\\+0+:?0*))?").r
        epochStr.trim match {
          case dt(y, mo, d, h, mi, sec) =>
            val intra = (Option(h).map(_.toLong).getOrElse(0L) * 3600L +
              Option(mi).map(_.toLong).getOrElse(0L) * 60L +
              Option(sec).map(_.toLong).getOrElse(0L)) * 1000000L
            val (yi, moi, di) = (y.toInt, mo.toInt, d.toInt)
            if (moi >= 1 && moi <= 12 && di >= 1 && di <= 31)
              Some((mult, yi, moi, di, intra))
            else None
          case _ => None
        }
      case _ => None
    }
  }

  /** CF-style time units: "<unit> since <epoch>" → (micros multiplier,
    * epoch micros) in the Gregorian calendar. Public CF convention, e.g.
    * "hours since 2024-01-01". */
  def parseTimeUnits(units: String): Option[(Long, Long)] =
    parseTimeUnitParts(units).flatMap { case (mult, y, mo, d, intraMicros) =>
      try Some((mult, java.time.LocalDateTime.of(y, mo, d, 0, 0)
        .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + intraMicros))
      catch { case _: java.time.DateTimeException => None }
    }
}
