package graft.sources.zarr

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}

import graft.meta.{JArr, JNum, JObj, JStr, JValue}
import graft.sources.nc.NcFormat
import graft.sources.nc.NcFormat.{NcHeader, NcVar}
import ZarrMeta._

/** Classic NetCDF as a zarr store, indexed WITHOUT copying any data — the
  * reference's `kerchunkify` (transform.py:119-279) and multi-file
  * `MultiZarrToZarr` combine (transform.py:84-117), which together form its
  * entire scan substrate. [[classicStore]] is the one translation of a
  * classic header into zarr arrays: `format("netcdf")` scans it directly,
  * and the manifest writers here render it for the `kerchunk` scan.
  *
  * Layout mapping (kerchunk's netCDF3 backend, with fixed variables
  * chunked like record ones):
  *  - a RECORD variable is one chunk per record — shape (1, inner...) at
  *    `begin + r * recSize` (records interleave all record variables, so
  *    per-record slabs are the only contiguous runs);
  *  - a FIXED data variable is one chunk per outer row — shape
  *    (1, inner...) at `begin + r * rowBytes` — so a fixed-only file fans
  *    out along its outer dim exactly as a record file does;
  *  - a fixed coordinate variable is one chunk;
  *  - NC attrs pass through to `.zattrs` verbatim (scale/offset/_FillValue
  *    keep CF mask_and_scale semantics at scan time, like the reference's
  *    decode_cf view);
  *  - NC is big-endian, so dtypes render as `>i4` / `>f8` etc.; CDF-5's
  *    unsigned and 64-bit types map to `|u1`, `>u2`, `>u4`, `>i8`.
  */
object Kerchunk {

  private def zdtype(ncType: Int): String = ncType match {
    case NcFormat.NcByte => "|i1"
    case NcFormat.NcShort => ">i2"
    case NcFormat.NcInt => ">i4"
    case NcFormat.NcFloat => ">f4"
    case NcFormat.NcDouble => ">f8"
    case NcFormat.NcUByte => "|u1"
    case NcFormat.NcUShort => ">u2"
    case NcFormat.NcUInt => ">u4"
    case NcFormat.NcInt64 => ">i8"
    case NcFormat.NcUInt64 => throw new IllegalArgumentException(
      "NC_UINT64 (nc_type 11) unsupported: no lossless Spark integral type")
    case other => throw new IllegalArgumentException(
      s"nc_type $other has no scan column mapping (NC_CHAR vars unsupported)")
  }

  private def attrsJson(v: NcVar, dimNames: Seq[String]): JObj = {
    val base = Seq[(String, JValue)](
      "_ARRAY_DIMENSIONS" -> JArr(dimNames.map(JStr(_))))
    val passed = v.attrs.toSeq.sortBy(_._1).map { case (name, a) =>
      name -> (a.text match {
        case Some(t) => JStr(t): JValue
        case None => a.nums match {
          case Some(ns) if ns.length == 1 => JNum(ns.head)
          case Some(ns) => JArr(ns.map(n => JNum(n)))
          case None => JStr("")
        }
      })
    }
    JObj(base ++ passed)
  }

  /** One classic file's header as an in-memory zarr store whose chunks
    * are byte ranges of the file, computed from (begin, stride, length). */
  def classicStore(path: String, header: NcHeader): ResolvedStore = {
    val arrays = header.vars.map { v =>
      require(v.dimIds.nonEmpty, s"$path: scalar variable ${v.name} is not a grid")
      val dimNames = v.dimIds.map(header.dims(_).name)
      val shape = v.dimIds.map(header.dims(_).length)
      val isCoord = v.dimIds.length == 1 && dimNames.head == v.name
      val rowBytes = header.perRecordSize(v)
      val (chunks, stride, length) =
        if (header.isRecordVar(v)) (1 +: shape.drop(1), header.recSize, rowBytes)
        else if (isCoord) (shape, 0L, header.fixedSize(v))
        else (1 +: shape.drop(1), rowBytes, rowBytes)
      val meta = ZArrayMeta(shape, chunks, parseDtype(zdtype(v.ncType)),
        ZarrCodec.NullCodec, v.fillValue, ".", attrsJson(v, dimNames))
      ResolvedArray(v.name, meta, StridedChunks(path, v.begin, stride, length))
    }
    ResolvedStore(JObj(header.gattrs.toSeq.sortBy(_._1).map { case (k, a) =>
      k -> (JStr(a.asText): JValue)
    }), arrays)
  }

  /** Parse one classic file's header and translate it. */
  def classicStore(conf: Configuration, path: String): (NcHeader, ResolvedStore) = {
    val p = new HPath(path)
    val in = p.getFileSystem(conf).open(p)
    val header = try NcFormat.parseHeader(in) finally in.close()
    (header, classicStore(path, header))
  }

  /** Every chunk coordinate of a chunk grid, row-major. */
  private def chunkCoords(grid: Seq[Int]): Seq[Seq[Int]] =
    grid.foldLeft(Seq(Seq.empty[Int])) { (acc, n) =>
      acc.flatMap(prefix => (0 until n).map(prefix :+ _))
    }

  /** A store rendered as a kerchunk manifest: metadata documents inline,
    * every chunk an `[url, offset, length]`, `[url]` or inline base64
    * reference. */
  private[sources] def render(store: ResolvedStore): JObj = {
    val entries = store.arrays.flatMap { a =>
      Seq[(String, JValue)](
        s"${a.name}/.zarray" -> JStr(a.meta.render),
        s"${a.name}/.zattrs" -> JStr(a.meta.attrs.render)) ++
        chunkCoords(a.meta.gridShape).flatMap(c => a.chunkRef(c).map { ref =>
          val value: JValue = ref match {
            case RangeChunk(url, off, len) => JArr(Seq(JStr(url), JNum(off), JNum(len)))
            case FileChunk(url) => JArr(Seq(JStr(url)))
            case InlineChunk(b) =>
              JStr("base64:" + java.util.Base64.getEncoder.encodeToString(b))
          }
          s"${a.name}/${a.meta.chunkKey(c)}" -> value
        })
    }
    JObj(Seq("version" -> JNum(1), "refs" -> JObj(Seq[(String, JValue)](
      ".zgroup" -> JStr(JObj(Seq("zarr_format" -> JNum(2))).render),
      ".zattrs" -> JStr(store.attrs.render)) ++ entries)))
  }

  /** Several files' stores as one, concatenated along `leadDim` — the
    * `MultiZarrToZarr` combine (transform.py:84-117) of both the classic
    * and the netCDF-4 route. An array leading with `leadDim` gathers every
    * file's chunks, keys renumbered by the running chunk offset (every
    * non-final file's extent must be chunk-aligned); a leading coordinate
    * that is not aligned is concatenated and inlined (coordinates are
    * tiny). Every other array comes from the first file, so a coordinate
    * among them must hold the same values in every file (the
    * identical-dims rule). */
  private[sources] def concat(conf: Configuration,
      files: Seq[(String, ResolvedStore)], leadDim: String): ResolvedStore = {
    val (first, store0) = files.head
    val arrays = store0.arrays.map { a =>
      val parts = files.map { case (p, s) => p -> s.arrays.find(_.name == a.name)
        .getOrElse(throw new IllegalArgumentException(
          s"$p: ${a.name} is missing (identical-dims)")) }
      val isCoord = a.meta.dimNames.contains(Seq(a.name))
      if (!a.meta.dimNames.exists(_.headOption.contains(leadDim))) {
        if (isCoord) {
          val values = a.readCoordinate(conf)
          parts.tail.foreach { case (p, b) =>
            require(java.util.Arrays.equals(b.readCoordinate(conf), values),
              s"$p: coordinate ${a.name} values differ from $first (identical-dims)")
          }
        }
        a
      } else {
        parts.foreach { case (p, b) => require(b.meta.shape.tail == a.meta.shape.tail,
          s"$p: ${a.name} grid differs from $first (identical-dims)") }
        val extents = parts.map(_._2.meta.shape.head)
        val chunk = a.meta.chunks.head
        val misaligned = parts.zipWithIndex.collectFirst {
          case ((p, b), i) if b.meta.chunks != a.meta.chunks ||
              (i < parts.length - 1 && extents(i) % chunk != 0) => p -> extents(i)
        }
        misaligned match {
          case None =>
            val offsets = extents.scanLeft(0)(_ + _).map(_ / chunk)
            val refs = parts.zip(offsets).flatMap { case ((_, b), off) =>
              chunkCoords(b.meta.gridShape).flatMap(c => b.chunkRef(conf, c)
                .map(a.meta.chunkKey((c.head + off) +: c.tail) -> _))
            }
            ResolvedArray(a.name, a.meta.copy(shape = extents.sum +: a.meta.shape.tail),
              RefChunks(refs.toMap))
          case Some((p, n)) =>
            require(isCoord, s"$p: ${a.name} leading extent $n not aligned to " +
              s"chunk $chunk — cannot combine")
            val values = parts.flatMap(_._2.readCoordinate(conf))
            val buf = new Array[Byte](values.length * a.meta.dtype.size)
            values.indices.foreach(i => a.meta.dtype.encodeDouble(buf, i, values(i)))
            ResolvedArray(a.name, a.meta.copy(shape = Seq(values.length),
              chunks = Seq(values.length), codec = ZarrCodec.NullCodec,
              filters = Seq.empty), RefChunks(Map(a.meta.chunkKey(Seq(0)) -> InlineChunk(buf))))
        }
      }
    }
    ResolvedStore(store0.attrs, arrays)
  }

  /** Kerchunk manifest for ONE NetCDF file. */
  def fromNetcdf(conf: Configuration, path: String): JObj =
    render(classicStore(conf, path)._2)

  /** Multi-file combine along the record dimension: every file must
    * present identical non-record dims (S10's identical-dims assertion),
    * then [[concat]]. Files are combined in the given order (the caller
    * natural-sorts, the manifest convention). */
  def combineNetcdf(conf: Configuration, paths: Seq[String]): JObj = {
    require(paths.nonEmpty, "combine needs at least one file")
    val parsed = paths.map(p => (p, classicStore(conf, p)))
    val firstHeader = parsed.head._2._1
    val recDim = firstHeader.recDimId
    require(recDim >= 0, s"${paths.head} has no record dimension to combine along")
    parsed.tail.foreach { case (p, (h, _)) =>
      require(h.dims.map(d => (d.name, d.isRecord)) ==
        firstHeader.dims.map(d => (d.name, d.isRecord)),
        s"$p dims differ from ${paths.head}")
      h.dims.zip(firstHeader.dims).foreach { case (d, f) =>
        require(d.isRecord || d.length == f.length,
          s"$p: fixed dim ${d.name} length ${d.length} != ${f.length} (identical-dims)")
      }
    }
    render(concat(conf, parsed.map { case (p, (_, store)) => p -> store },
      firstHeader.dims(recDim).name))
  }

  /** Write a manifest where the scan expects it. */
  def writeManifest(conf: Configuration, manifest: JObj, outPath: String): Unit =
    ZarrIO.writeUtf8(conf, outPath, manifest.render)
}
