package graft.sources.h5

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}

import graft.meta.{JArr, JNull, JNum, JObj, JStr, JValue}
import graft.sources.zarr.ZarrMeta

import H5Format._

/** netCDF-4 (HDF5) → kerchunk reference manifest — the exact analog of the
  * reference's `kerchunkify` for its RECOMMENDED input format
  * (transform.py:16 `SingleHdf5ToZarr`, transform.py:136-155 "consistent
  * success with netCDF-4 classic"): every HDF5 chunk becomes a byte-range
  * reference into the ORIGINAL file, HDF5 filters map to zarr codecs
  * (deflate → zlib, shuffle → shuffle filter), and netCDF-4's dimension
  * scales resolve to `_ARRAY_DIMENSIONS`. The manifest feeds the same
  * chunk-pruned zarr DSv2 scan the directory stores use — predicates on
  * coordinate axes turn into byte-range skips over the original archive.
  */
object Hdf5Kerchunk {

  /** netCDF-4 bookkeeping attrs that must not leak into `.zattrs`. */
  private val Internal = Set("CLASS", "NAME", "REFERENCE_LIST", "DIMENSION_LIST",
    "_Netcdf4Dimid", "_Netcdf4Coordinates", "_NCProperties")

  private def pread(conf: Configuration, path: String): (PRead, () => Unit) = {
    val p = new HPath(path)
    val fs = p.getFileSystem(conf)
    val fileLen = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    // the parser reads fixed-size windows (e.g. a 4 KB B-tree node slot)
    // that may extend past EOF on small files — clamp and zero-fill
    val f: PRead = (off, len) => {
      val buf = new Array[Byte](len)
      val avail = math.max(0L, math.min(len.toLong, fileLen - off)).toInt
      if (avail > 0) in.readFully(off, buf, 0, avail)
      buf
    }
    (f, () => in.close())
  }

  private def attrJson(v: AttrValue): JValue = v match {
    case AttrStr(s) => JStr(s)
    case AttrNums(a, _) if a.length == 1 => JNum(a.head)
    case AttrNums(a, _) => JArr(a.toSeq.map(x => JNum(x)))
    case _ => JStr("")
  }

  private def fillJson(ds: H5Dataset): JValue =
    ds.attrNum("_FillValue").map(f => JNum(f): JValue).getOrElse {
      ds.fillBytes match {
        case Some(b) if b.length == ds.dtype.size =>
          val dt = ZarrMeta.parseDtype(ds.dtype.typestr)
          JNum(dt.decodeDouble(b, 0))
        case _ => JNull
      }
    }

  /** One dataset's `.zarray`/`.zattrs`/chunk entries. */
  private def datasetEntries(read: PRead, path: String, ds: H5Dataset,
      dimNames: Seq[String]): Seq[(String, JValue)] = {
    val shape = ds.dims.map(_.toInt)
    val (chunks, chunkEntries) = ds.layout match {
      case Contiguous(addr, size) =>
        val key = Seq.fill(math.max(shape.length, 1))("0").mkString(".")
        require(ds.filters.isEmpty,
          s"${ds.name}: filters on contiguous layout are not valid HDF5")
        (shape, Seq(s"${ds.name}/$key" ->
          (JArr(Seq(JStr(path), JNum(addr), JNum(size))): JValue)))
      case Chunked(_, chunkDims, _) =>
        val entries = H5Format.chunkIndex(read, ds).map { case (coords, off, len, fmask) =>
          require(fmask == 0,
            s"${ds.name}: per-chunk filter mask $fmask unsupported")
          s"${ds.name}/${coords.mkString(".")}" ->
            (JArr(Seq(JStr(path), JNum(off), JNum(len))): JValue)
        }
        (chunkDims, entries)
      case Compact(data) =>
        val key = Seq.fill(math.max(shape.length, 1))("0").mkString(".")
        (shape, Seq(s"${ds.name}/$key" -> (JStr("base64:" +
          java.util.Base64.getEncoder.encodeToString(data)): JValue)))
    }
    // 1 = deflate, 2 = shuffle, 4 = szip (CCSDS/AEC Rice coding — served
    // by the in-repo Ccsds coder via ZarrCodec.SzipCodec; the packing
    // NASA/NOAA netCDF-4 products ship), 32015 = registered zstd plugin
    // (newer archives); all compressors map onto zarr codec ids
    val unsupported = ds.filters.filterNot(f =>
      f.id == 1 || f.id == 2 || f.id == 3 || f.id == 4 || f.id == 32015)
    require(unsupported.isEmpty,
      s"${ds.name}: HDF5 filters ${unsupported.map(_.id)} unsupported " +
        "(deflate/shuffle/fletcher32/szip/zstd cover the netCDF-4 profiles)")
    // fletcher32 after the compressor would checksum COMPRESSED bytes —
    // the zarr filter chain (filters before compressor) cannot express
    // that order; netCDF-4 always defines it first, so refuse the exotic
    // order by name rather than verify the wrong bytes
    ds.filters.map(_.id).zipWithIndex.find(_._1 == 3).foreach { case (_, fi) =>
      val compIdx = ds.filters.map(_.id).indexWhere(id =>
        id == 1 || id == 4 || id == 32015)
      require(compIdx < 0 || fi < compIdx,
        s"${ds.name}: fletcher32 positioned AFTER the compressor in the " +
          "HDF5 pipeline (checksum over compressed bytes) is unsupported")
    }
    require(ds.filters.count(f => f.id == 1 || f.id == 4 || f.id == 32015) <= 1,
      s"${ds.name}: multiple compressors on one pipeline is unsupported " +
        s"(ids ${ds.filters.map(_.id).mkString(",")})")
    val compressor: JValue =
      if (ds.filters.exists(_.id == 1)) JObj(Seq("id" -> JStr("zlib")))
      else if (ds.filters.exists(_.id == 32015)) JObj(Seq("id" -> JStr("zstd")))
      else ds.filters.find(_.id == 4) match {
        case Some(sz) =>
          // H5Z__set_local_szip's 4 client values (H5Zszip.c):
          // [options_mask, pixels_per_block, bits_per_pixel, pixels_per_scanline]
          require(sz.client.length >= 4,
            s"${ds.name}: szip filter carries ${sz.client.length} client values (need 4)")
          // constructing the codec validates the mask/width profile and
          // refuses raw/odd modes by name at PLANNING time
          graft.sources.zarr.ZarrCodec.SzipCodec(
            sz.client(0), sz.client(1), sz.client(2), sz.client(3)).json
        case None => JNull
      }
    // pre-compressor filters in HDF5 PIPELINE ORDER (zarr encode order;
    // decode undoes them in reverse): netCDF-4 emits fletcher32 first,
    // then shuffle
    val filterChain: Seq[JValue] = ds.filters.flatMap { f =>
      if (f.id == 3) Some(JObj(Seq("id" -> JStr("fletcher32"))): JValue)
      else if (f.id == 2) Some(JObj(Seq("id" -> JStr("shuffle"),
        "elementsize" ->
          JNum(f.client.headOption.getOrElse(ds.dtype.size).toDouble))): JValue)
      else None
    }
    val filters: JValue =
      if (filterChain.isEmpty) JNull else JArr(filterChain)
    val zarray = JObj(Seq(
      "chunks" -> JArr(chunks.map(c => JNum(c))),
      "compressor" -> compressor,
      "dtype" -> JStr(ds.dtype.typestr),
      "fill_value" -> fillJson(ds),
      "filters" -> filters,
      "order" -> JStr("C"),
      "shape" -> JArr(shape.map(s => JNum(s))),
      "zarr_format" -> JNum(2)))
    val passAttrs = ds.attrs.toSeq.filterNot(a => Internal(a._1))
      .sortBy(_._1).map { case (k, v) => k -> attrJson(v) }
    val zattrs = JObj(
      ("_ARRAY_DIMENSIONS" -> (JArr(dimNames.map(JStr(_))): JValue)) +: passAttrs)
    Seq[(String, JValue)](
      s"${ds.name}/.zarray" -> JStr(zarray.render),
      s"${ds.name}/.zattrs" -> JStr(zattrs.render)) ++ chunkEntries
  }

  /** Dimension names per dataset: dimension scales name themselves; data
    * variables resolve DIMENSION_LIST object references to the scales'
    * names; plain-HDF5 datasets fall back to phony names. */
  private def dimNamesOf(f: H5File, ds: H5Dataset): Seq[String] = {
    val byAddr = f.datasets.map(d => d.headerAddr -> d.name).toMap
    if (ds.isDimScale) Seq(ds.name)
    else ds.attrs.get("DIMENSION_LIST") match {
      case Some(AttrRefs(addrs)) =>
        addrs.toSeq.map(a => byAddr.getOrElse(a,
          throw new IllegalArgumentException(
            s"${ds.name}: DIMENSION_LIST references unknown object $a")))
      case _ => ds.dims.indices.map(i => s"phony_dim_$i")
    }
  }

  /** Kerchunk manifest for ONE netCDF-4/HDF5 file — of its root group,
    * or of the sub-group `group` selects (xarray `group=`). */
  def fromHdf5(conf: Configuration, path: String,
      group: Option[String] = None): JObj = {
    val (read, close) = pread(conf, path)
    try {
      val f = H5Format.parse(read, group)
      val entries = f.datasets.flatMap(ds =>
        datasetEntries(read, path, ds, dimNamesOf(f, ds)))
      val rootAttrs = JObj(f.rootAttrs.toSeq.filterNot(a => Internal(a._1))
        .sortBy(_._1).map { case (k, v) => k -> attrJson(v) })
      JObj(Seq(
        "version" -> JNum(1),
        "refs" -> JObj(Seq[(String, JValue)](
          ".zgroup" -> JStr(JObj(Seq("zarr_format" -> JNum(2))).render),
          ".zattrs" -> JStr(rootAttrs.render)) ++ entries)))
    } finally close()
  }

  /** Multi-file combine along the leading (time) dimension — the
    * `MultiZarrToZarr` analog (transform.py:84-117) for netCDF-4 inputs:
    * every data variable must lead with one dimension, and the files'
    * stores concatenate along it (`Kerchunk.concat`: chunk keys renumber
    * by the running chunk offset, the leading coordinate is concatenated,
    * non-leading dims and coordinate values must be identical, S10).
    * Requires every non-final file's leading extent to be chunk-aligned
    * (per-timestep chunking, the netCDF-4 norm, always is). */
  def combinedStore(conf: Configuration, paths: Seq[String],
      group: Option[String] = None): ZarrMeta.ResolvedStore = {
    require(paths.nonEmpty, "combine needs at least one file")
    val stores = paths.map(p => p -> ZarrMeta.resolveRefsDoc(fromHdf5(conf, p, group)))
    if (paths.length == 1) return stores.head._2
    val dataVars = stores.head._2.arrays.filterNot(a => a.meta.dimNames.contains(Seq(a.name)))
    require(dataVars.nonEmpty, s"${paths.head}: no data variables to combine")
    def leading(a: ZarrMeta.ResolvedArray) = a.meta.dimNames.flatMap(_.headOption)
    val leadDim = leading(dataVars.head).getOrElse(
      throw new IllegalArgumentException("scalar variables cannot combine"))
    dataVars.foreach(v => require(leading(v).contains(leadDim),
      s"${v.name} leads with ${leading(v)}, expected $leadDim"))
    graft.sources.zarr.Kerchunk.concat(conf, stores, leadDim)
  }

  /** [[combinedStore]] as a kerchunk manifest. */
  def combineHdf5(conf: Configuration, paths: Seq[String],
      group: Option[String] = None): JObj =
    if (paths.length == 1) fromHdf5(conf, paths.head, group)
    else graft.sources.zarr.Kerchunk.render(combinedStore(conf, paths, group))
}
