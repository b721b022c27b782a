package graft.sources.zarr

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.types._

import graft.meta.{JArr, JBool, JNull, JNum, JObj, JStr, JValue}

/** Zarr v2 store metadata model: numpy dtype strings, `.zarray` documents,
  * and the two chunk-addressing schemes the scan reads through — a
  * directory store (one object per chunk) and a kerchunk-style reference
  * manifest (chunk key → byte range in some other file, the reference's
  * scan substrate, transform.py:119-279 `kerchunkify`).
  */
object ZarrMeta {

  // ----------------------------------------------------------------- dtype

  /** Numpy typestr: byte order ('<' | '>' | '|') + kind + item size. */
  final case class ZDtype(littleEndian: Boolean, kind: Char, size: Int) extends Serializable {
    def sparkType: DataType = (kind, size) match {
      case ('f', 8) => DoubleType
      case ('f', 4) => FloatType
      case ('i', 8) => LongType
      case ('i', 4) => IntegerType
      case ('i', 2) => ShortType
      case ('i', 1) => ByteType
      // unsigned widens to the next signed type (Spark has no unsigned)
      case ('u', 1) => ShortType
      case ('u', 2) => IntegerType
      case ('u', 4) => LongType
      case ('b', 1) => BooleanType
      case other => throw new IllegalArgumentException(s"Unsupported zarr dtype $render")
    }

    def render: String =
      (if (size == 1) "|" else if (littleEndian) "<" else ">") + s"$kind$size"

    /** v3 `data_type` name (the inverse of [[ZarrMeta.v3Dtype]]). */
    def v3Name: String = (kind, size) match {
      case ('f', 8) => "float64"
      case ('f', 4) => "float32"
      case ('i', 8) => "int64"
      case ('i', 4) => "int32"
      case ('i', 2) => "int16"
      case ('i', 1) => "int8"
      case ('u', 1) => "uint8"
      case ('u', 2) => "uint16"
      case ('u', 4) => "uint32"
      case ('b', 1) => "bool"
      case _ => throw new IllegalArgumentException(s"No v3 name for dtype $render")
    }

    /** Decode element i of a raw chunk buffer to the Catalyst-internal value
      * for [[sparkType]]. */
    def decode(buf: Array[Byte], i: Int): Any = {
      val off = i * size
      (kind, size) match {
        case ('f', 8) => java.lang.Double.longBitsToDouble(long64(buf, off))
        case ('f', 4) => java.lang.Float.intBitsToFloat(int32(buf, off))
        case ('i', 8) => long64(buf, off)
        case ('i', 4) => int32(buf, off)
        case ('i', 2) => int16(buf, off).toShort
        case ('i', 1) => buf(off)
        case ('u', 1) => (buf(off) & 0xFF).toShort
        case ('u', 2) => int16(buf, off) & 0xFFFF
        case ('u', 4) => int32(buf, off).toLong & 0xFFFFFFFFL
        case ('b', 1) => buf(off) != 0
        case _ => throw new IllegalArgumentException(s"Unsupported zarr dtype $render")
      }
    }

    /** Element i widened to double (axis planning, fill comparison). */
    def decodeDouble(buf: Array[Byte], i: Int): Double = decode(buf, i) match {
      case d: Double => d
      case f: Float => f.toDouble
      case l: Long => l.toDouble
      case n: Int => n.toDouble
      case s: Short => s.toDouble
      case b: Byte => b.toDouble
      case b: Boolean => if (b) 1.0 else 0.0
      case other => throw new IllegalStateException(s"$other")
    }

    /** Encode a cell value (widened to double) into the buffer at index i —
      * the write path's inverse of [[decodeDouble]]. */
    def encodeDouble(buf: Array[Byte], i: Int, v: Double): Unit = {
      val off = i * size
      (kind, size) match {
        case ('f', 8) => put64(buf, off, java.lang.Double.doubleToRawLongBits(v))
        case ('f', 4) => put32(buf, off, java.lang.Float.floatToRawIntBits(v.toFloat))
        case ('i', 8) => put64(buf, off, v.toLong)
        case ('i', 4) => put32(buf, off, v.toInt)
        // u4 is a 4-byte element: write 32 bits (the low word of the
        // unsigned value), never put64 — that would stomp the next element
        case ('u', 4) => put32(buf, off, v.toLong.toInt)
        case ('i', 2) | ('u', 2) => put16(buf, off, v.toInt)
        case ('i', 1) | ('u', 1) | ('b', 1) => buf(off) = v.toByte
        case _ => throw new IllegalArgumentException(s"Unsupported zarr dtype $render")
      }
    }

    private def int16(b: Array[Byte], off: Int): Int =
      if (littleEndian) (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8)
      else ((b(off) & 0xFF) << 8) | (b(off + 1) & 0xFF)
    private def int32(b: Array[Byte], off: Int): Int =
      if (littleEndian)
        (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8) |
          ((b(off + 2) & 0xFF) << 16) | ((b(off + 3) & 0xFF) << 24)
      else
        ((b(off) & 0xFF) << 24) | ((b(off + 1) & 0xFF) << 16) |
          ((b(off + 2) & 0xFF) << 8) | (b(off + 3) & 0xFF)
    private def long64(b: Array[Byte], off: Int): Long =
      if (littleEndian)
        (int32(b, off).toLong & 0xFFFFFFFFL) | (int32(b, off + 4).toLong << 32)
      else (int32(b, off).toLong << 32) | (int32(b, off + 4).toLong & 0xFFFFFFFFL)
    private def put16(b: Array[Byte], off: Int, v: Int): Unit =
      if (littleEndian) { b(off) = v.toByte; b(off + 1) = (v >> 8).toByte }
      else { b(off) = (v >> 8).toByte; b(off + 1) = v.toByte }
    private def put32(b: Array[Byte], off: Int, v: Int): Unit =
      if (littleEndian) { put16(b, off, v & 0xFFFF); put16(b, off + 2, v >>> 16) }
      else { put16(b, off, v >>> 16); put16(b, off + 2, v & 0xFFFF) }
    private def put64(b: Array[Byte], off: Int, v: Long): Unit =
      if (littleEndian) { put32(b, off, v.toInt); put32(b, off + 4, (v >>> 32).toInt) }
      else { put32(b, off, (v >>> 32).toInt); put32(b, off + 4, v.toInt) }
  }

  def parseDtype(s: String): ZDtype = {
    require(s.length >= 3, s"Bad dtype '$s'")
    val order = s.charAt(0)
    require("<>|".contains(order), s"Bad dtype byte order in '$s'")
    val kind = s.charAt(1)
    val size = s.substring(2).toInt
    require("fiub".contains(kind), s"Unsupported dtype kind '$kind' in '$s' " +
      "(datetime64 axes are stored as integers + CF units attrs by xarray)")
    ZDtype(order != '>', kind, size)
  }

  // --------------------------------------------------------------- .zarray

  /** Pre-compression filter (zarr v2 `filters` list): applied in order on
    * encode BEFORE the compressor, undone in reverse on decode — numcodecs
    * semantics, which the reference relies on to inject its encryption
    * filter into every data array (metadata.py:862-868). */
  sealed trait V2Filter extends Serializable {
    def json: JValue
    def encode(buf: Array[Byte]): Array[Byte]
    def decode(buf: Array[Byte]): Array[Byte]
    /** Encoded size of an `n`-byte input — the compressor's decode target
      * moves when a filter changes the buffer length (encryption adds its
      * 40-byte nonce‖tag envelope). */
    def encodedLen(n: Int): Int
  }

  /** Byte-shuffle — HDF5's shuffle filter (id 2) and numcodecs `Shuffle`
    * both reorganize the whole chunk buffer into `elementsize` byte
    * planes. */
  final case class ShuffleFilter(elementSize: Int) extends V2Filter {
    def json: JValue = JObj(Seq(
      "id" -> JStr("shuffle"), "elementsize" -> JNum(elementSize)))
    def encode(buf: Array[Byte]): Array[Byte] =
      if (elementSize <= 1) buf
      else ZarrCodec.shuffleBlock(buf, 0, buf.length, elementSize)
    def decode(buf: Array[Byte]): Array[Byte] = {
      if (elementSize <= 1) buf
      else {
        val out = buf.clone()
        ZarrCodec.unshuffleBlock(out, 0, out.length, elementSize)
        out
      }
    }
    def encodedLen(n: Int): Int = n
  }

  /** HDF5's fletcher32 checksum filter (id 3) / numcodecs `fletcher32`:
    * the H5_checksum_fletcher32 sum (big-endian 16-bit words, 16-bit
    * folded Fletcher) appended to the buffer as 4 little-endian bytes.
    * netCDF-4 files written with `nc_def_var_fletcher32` carry it FIRST
    * in the pipeline (checksum over the raw chunk), so on decode it is
    * undone last — a corrupted chunk fails loudly by name instead of
    * feeding silent garbage downstream. */
  case object Fletcher32Filter extends V2Filter {
    def json: JValue = JObj(Seq("id" -> JStr("fletcher32")))
    def encode(buf: Array[Byte]): Array[Byte] = {
      val out = java.util.Arrays.copyOf(buf, buf.length + 4)
      val c = ZarrCodec.fletcher32(buf, buf.length)
      out(buf.length) = (c & 0xFF).toByte
      out(buf.length + 1) = ((c >> 8) & 0xFF).toByte
      out(buf.length + 2) = ((c >> 16) & 0xFF).toByte
      out(buf.length + 3) = ((c >> 24) & 0xFF).toByte
      out
    }
    def decode(buf: Array[Byte]): Array[Byte] = {
      require(buf.length >= 4,
        s"fletcher32 chunk of ${buf.length} bytes cannot carry a checksum")
      val n = buf.length - 4
      val stored = (buf(n) & 0xFFL) | ((buf(n + 1) & 0xFFL) << 8) |
        ((buf(n + 2) & 0xFFL) << 16) | ((buf(n + 3) & 0xFFL) << 24)
      val computed = ZarrCodec.fletcher32(buf, n)
      require(stored == computed,
        f"fletcher32 checksum mismatch: stored 0x$stored%08x, " +
          f"computed 0x$computed%08x — chunk is corrupt")
      java.util.Arrays.copyOf(buf, n)
    }
    def encodedLen(n: Int): Int = n + 4
  }

  /** The reference's chunk-encryption filter, bit-compatible on disk:
    * numcodecs id `xchacha20poly1305`, configuration = the SHA3-256 hash of
    * the key (never the key), payload = nonce(24) ‖ tag(16) ‖ ciphertext
    * with the `dClimate-Zarr` AAD header (encryption.py:81-139). Applied
    * BEFORE the compressor, exactly where the reference appends it to the
    * data variable's filter chain (metadata.py:862-868) — so a store this
    * engine publishes opens under the reference's numcodecs filter and
    * vice versa. Key bytes resolve from the runtime registry at
    * construction (planning) time: an unregistered hash fails loudly with
    * the hash named before any task launches, and the resolved key rides
    * in the serialized filter so executors never need the registry. */
  final case class EncryptionFilter(keyHash: String) extends V2Filter {
    private val key: Array[Byte] = graft.functions.Encryption.requireKey(keyHash)
    def json: JValue = JObj(Seq(
      "id" -> JStr("xchacha20poly1305"), "key_hash" -> JStr(keyHash)))
    def encode(buf: Array[Byte]): Array[Byte] =
      graft.functions.Encryption.encryptWithKey(buf, key)
    def decode(buf: Array[Byte]): Array[Byte] =
      graft.functions.Encryption.decryptWithKey(buf, key)
    def encodedLen(n: Int): Int = n + 40
  }

  /** v3 `sharding_indexed` layout: each STORED object (addressed by the
    * outer chunk grid) is a shard holding a grid of separately-encoded
    * inner chunks plus a binary index of (offset, nbytes) u64-LE pairs in
    * row-major inner order — 2^64-1 pairs mark missing chunks. The meta's
    * `chunks` are the INNER shape; reads become ranged reads into the
    * shard object. */
  final case class ShardingInfo(
      shardShape: Seq[Int],
      indexAtEnd: Boolean,
      indexCrc: Boolean) extends Serializable {
    /** Inner chunks per shard along each dim. */
    def ratio(inner: Seq[Int]): Seq[Int] =
      shardShape.zip(inner).map { case (s, c) => s / c }
    def indexBytes(inner: Seq[Int]): Int =
      ratio(inner).product * 16 + (if (indexCrc) 4 else 0)
  }

  /** One array's `.zarray` + `.zattrs`. `fill` is the decoded fill_value
    * (None = JSON null = no fill defined). */
  final case class ZArrayMeta(
      shape: Seq[Int],
      chunks: Seq[Int],
      dtype: ZDtype,
      codec: ZarrCodec.Codec,
      fill: Option[Double],
      dimSeparator: String,
      attrs: JObj,
      filters: Seq[V2Filter] = Seq.empty,
      /** "c" for zarr v3 stores (keys are `c/0/0`), "" for v2. */
      keyPrefix: String = "",
      /** Present when this v3 array uses the sharding_indexed codec. */
      sharding: Option[ShardingInfo] = None) extends Serializable {

    require(shape.length == chunks.length && shape.nonEmpty,
      s"shape $shape / chunks $chunks rank mismatch")
    require(chunks.forall(_ > 0), s"chunks must be positive: $chunks")

    def ndim: Int = shape.length
    /** Chunk-grid extent per dimension. */
    def gridShape: Seq[Int] = shape.zip(chunks).map { case (s, c) => (s + c - 1) / c }
    def cellsPerChunk: Long = chunks.map(_.toLong).product
    def bytesPerChunk: Long = cellsPerChunk * dtype.size
    /** Encode one raw chunk buffer for storage: v2 order — filters in
      * declaration order, then the compressor (numcodecs semantics; the
      * write-path inverse of [[decodeChunk]]). */
    def encodeChunk(raw: Array[Byte]): Array[Byte] =
      codec.encode(filters.foldLeft(raw)((b, f) => f.encode(b)))

    /** Decode one stored chunk to its raw fixed-size buffer: compressor
      * first, then filters undone in reverse. The compressor's expected
      * output length accounts for length-changing filters (encryption's
      * 40-byte envelope). */
    def decodeChunk(bytes: Array[Byte]): Array[Byte] = {
      val codecLen = filters.foldLeft(bytesPerChunk.toInt)((n, f) => f.encodedLen(n))
      filters.reverse.foldLeft(codec.decode(bytes, codecLen))((b, f) => f.decode(b))
    }

    def chunkKey(coords: Seq[Int]): String =
      if (keyPrefix.isEmpty) coords.mkString(dimSeparator)
      else (keyPrefix +: coords.map(_.toString)).mkString(dimSeparator)

    def dimNames: Option[Seq[String]] = attrs.get("_ARRAY_DIMENSIONS").collect {
      case JArr(items) => items.collect { case JStr(s) => s }
    }
    def attr(name: String): Option[String] = attrs.get(name).collect {
      case JStr(s) => s
      case JNum(n) => n.toString
    }
    def numAttr(name: String): Option[Double] = attrs.get(name).collect {
      case JNum(n) => n
    }
    /** CF mask_and_scale off the variable attrs (classic NetCDF and its
      * kerchunk manifests carry the NC attrs through verbatim). `unpack` is
      * attr PRESENCE, not value: an explicit `scale_factor: 1.0` still
      * means "unpacked values are floating point" per CF §8.1. Vals, not
      * defs: the reader consults them for every cell, and each is a scan
      * of the attrs. */
    lazy val scaleFactor: Double = numAttr("scale_factor").getOrElse(1.0)
    lazy val addOffset: Double = numAttr("add_offset").getOrElse(0.0)
    lazy val unpack: Boolean =
      attrs.get("scale_factor").isDefined || attrs.get("add_offset").isDefined
    /** Attr-declared fill (kerchunk from NC) falls back on the .zarray
      * fill_value; _FillValue wins over missing_value (CF §2.5.1). */
    lazy val effectiveFill: Option[Double] =
      numAttr("_FillValue").orElse(numAttr("missing_value")).orElse(fill)

    def render: String = JObj(Seq(
      "chunks" -> { require(sharding.isEmpty, "sharded arrays are v3-only"); JArr(chunks.map(c => JNum(c))) },
      "compressor" -> codec.json,
      "dtype" -> JStr(dtype.render),
      "fill_value" -> fill.map(fillJson).getOrElse(JNull),
      "filters" -> (if (filters.isEmpty) JNull else JArr(filters.map(_.json))),
      "order" -> JStr("C"),
      "shape" -> JArr(shape.map(s => JNum(s))),
      "zarr_format" -> JNum(2),
    ) ++ (if (dimSeparator == ".") Seq.empty
          else Seq("dimension_separator" -> JStr(dimSeparator)))).render

    private def fillJson(f: Double): JValue =
      if (f.isNaN) JStr("NaN")
      else if (f.isPosInfinity) JStr("Infinity")
      else if (f.isNegInfinity) JStr("-Infinity")
      else JNum(f)

    /** v3 array document (`zarr.json`, zarr v3 core spec) — the inverse of
      * [[ZarrMeta.parseV3Array]]. The v2 `_ARRAY_DIMENSIONS` convention
      * becomes the spec-level `dimension_names` member (the parser
      * normalizes it back, so roundtrips are lossless). `gzip` is the
      * portable compressor choice for v3 (`zlib` roundtrips with this
      * reader but is not a registered zarr-python v3 codec). */
    def renderV3: String = {
      require(filters.isEmpty, "v3 arrays carry no v2-style filters")
      val bytesCodec: JValue = JObj(Seq(
        "name" -> JStr("bytes"),
        "configuration" -> JObj(Seq(
          "endian" -> JStr(if (littleEndianOrByte) "little" else "big")))))
      def codecJson(c: ZarrCodec.Codec): Seq[JValue] = c match {
        case ZarrCodec.NullCodec => Seq.empty
        case ZarrCodec.Crc32cCodec(inner) => // checksum closes the chain
          codecJson(inner) :+ JObj(Seq("name" -> JStr("crc32c")))
        case ZarrCodec.EncryptionCodec(inner, keyHash) =>
          codecJson(inner) :+ JObj(Seq(
            "name" -> JStr("xchacha20poly1305"),
            "configuration" -> JObj(Seq("key_hash" -> JStr(keyHash)))))
        case ZarrCodec.ZlibCodec(level) => Seq(JObj(Seq(
          "name" -> JStr("zlib"),
          "configuration" -> JObj(Seq("level" -> JNum(level))))))
        case ZarrCodec.GzipCodec(level) => Seq(JObj(Seq(
          "name" -> JStr("gzip"),
          "configuration" -> JObj(Seq("level" -> JNum(level))))))
        case ZarrCodec.ZstdCodec(level) => Seq(JObj(Seq(
          "name" -> JStr("zstd"),
          "configuration" -> JObj(Seq(
            "level" -> JNum(level), "checksum" -> graft.meta.JBool(false))))))
        case ZarrCodec.BloscCodec => Seq(JObj(Seq("name" -> JStr("blosc"))))
        case ZarrCodec.BloscLz4Codec(typesize, clevel) => Seq(JObj(Seq(
          "name" -> JStr("blosc"),
          "configuration" -> JObj(Seq(
            "cname" -> JStr("lz4"), "clevel" -> JNum(clevel),
            "shuffle" -> JStr("shuffle"), "typesize" -> JNum(typesize),
            "blocksize" -> JNum(0))))))
      }
      val compressor: Seq[JValue] = codecJson(codec)
      val plainAttrs = JObj(attrs.fields.filterNot(_._1 == "_ARRAY_DIMENSIONS"))
      // sharded arrays nest the whole inner chain under one
      // sharding_indexed codec; the array-level chunk grid is the SHARD
      // (storage-object) shape and `chunks` is the inner shape — the exact
      // inverse of [[ZarrMeta.parseV3Array]]'s normalization
      val (gridChunks, codecChain) = sharding match {
        case None => (chunks, JArr(bytesCodec +: compressor))
        case Some(sh) => (sh.shardShape, JArr(Seq(JObj(Seq(
          "name" -> JStr("sharding_indexed"),
          "configuration" -> JObj(Seq(
            "chunk_shape" -> JArr(chunks.map(c => JNum(c))),
            "codecs" -> JArr(bytesCodec +: compressor),
            "index_codecs" -> JArr(
              Seq[JValue](JObj(Seq("name" -> JStr("bytes"),
                "configuration" -> JObj(Seq("endian" -> JStr("little")))))) ++
                (if (sh.indexCrc) Seq[JValue](JObj(Seq("name" -> JStr("crc32c"))))
                 else Seq.empty)),
            "index_location" -> JStr(if (sh.indexAtEnd) "end" else "start"))))))))
      }
      JObj(Seq(
        "zarr_format" -> JNum(3),
        "node_type" -> JStr("array"),
        "shape" -> JArr(shape.map(s => JNum(s))),
        "data_type" -> JStr(dtype.v3Name),
        "chunk_grid" -> JObj(Seq(
          "name" -> JStr("regular"),
          "configuration" -> JObj(Seq(
            "chunk_shape" -> JArr(gridChunks.map(c => JNum(c))))))),
        "chunk_key_encoding" -> JObj(Seq(
          "name" -> JStr("default"),
          "configuration" -> JObj(Seq("separator" -> JStr(dimSeparator))))),
        "fill_value" -> fill.map(fillJson).getOrElse(JNull),
        "codecs" -> codecChain,
      ) ++ dimNames.map(names =>
        "dimension_names" -> (JArr(names.map(JStr(_))): JValue)).toSeq
        ++ (if (plainAttrs.fields.isEmpty) Seq.empty
            else Seq("attributes" -> (plainAttrs: JValue)))).render
    }

    private def littleEndianOrByte: Boolean = dtype.size == 1 || dtype.littleEndian
  }

  /** A `fill_value` member (v2 and v3 spell it alike); None = no fill. */
  private def parseFill(v: Option[JValue]): Option[Double] = v match {
    case None | Some(JNull) => None
    case Some(JNum(n)) => Some(n)
    case Some(JStr("NaN")) => Some(Double.NaN)
    case Some(JStr("Infinity")) => Some(Double.PositiveInfinity)
    case Some(JStr("-Infinity")) => Some(Double.NegativeInfinity)
    case Some(JBool(b)) => Some(if (b) 1.0 else 0.0)
    case other => throw new IllegalArgumentException(s"fill_value $other")
  }

  def parseZArray(doc: JValue, attrs: JObj): ZArrayMeta = doc match {
    case o: JObj =>
      def ints(key: String): Seq[Int] = o.get(key) match {
        case Some(JArr(items)) => items.map {
          case JNum(n) => n.toInt
          case other => throw new IllegalArgumentException(s".zarray $key: $other")
        }
        case other => throw new IllegalArgumentException(s".zarray missing $key: $other")
      }
      o.get("zarr_format") match {
        case Some(JNum(v)) => require(v.toInt == 2, s"zarr_format ${v.toInt} != 2")
        case _ => throw new IllegalArgumentException(".zarray missing zarr_format")
      }
      o.get("order").foreach {
        case JStr("C") => ()
        case other => throw new IllegalArgumentException(
          s"Only C-order zarr arrays are supported, got $other")
      }
      val filters: Seq[V2Filter] = o.get("filters") match {
        case None | Some(JNull) | Some(JArr(Seq())) => Seq.empty
        case Some(JArr(items)) => items.map {
          case f: JObj if f.get("id").contains(JStr("shuffle")) =>
            ShuffleFilter(f.get("elementsize").collect { case JNum(n) => n.toInt }
              .getOrElse(4))
          case f: JObj if f.get("id").contains(JStr("fletcher32")) =>
            Fletcher32Filter
          case f: JObj if f.get("id").contains(JStr("xchacha20poly1305")) =>
            EncryptionFilter(f.get("key_hash") match {
              case Some(JStr(h)) => h
              case other => throw new IllegalArgumentException(
                s"xchacha20poly1305 filter missing key_hash: $other")
            })
          case other => throw new IllegalArgumentException(
            s"zarr filter not supported: $other (shuffle, fletcher32, " +
              "xchacha20poly1305)")
        }
        case other => throw new IllegalArgumentException(s"zarr filters: $other")
      }
      val dtype = o.get("dtype") match {
        case Some(JStr(s)) => parseDtype(s)
        case other => throw new IllegalArgumentException(s".zarray dtype: $other")
      }
      val fill = parseFill(o.get("fill_value"))
      val sep = o.get("dimension_separator") match {
        case Some(JStr(s)) => s
        case _ => "."
      }
      ZArrayMeta(ints("shape"), ints("chunks"), dtype,
        ZarrCodec.fromJson(o.get("compressor").getOrElse(JNull)), fill, sep, attrs,
        filters)
    case other => throw new IllegalArgumentException(s"Bad .zarray: $other")
  }

  // ------------------------------------------------------- chunk addressing

  /** Where one chunk's bytes live. Serializable — shipped inside input
    * partitions. */
  sealed trait ChunkRef extends Serializable
  /** Whole object in a directory store; may legitimately not exist (an
    * all-fill chunk is simply never written). */
  final case class FileChunk(path: String) extends ChunkRef
  /** Byte range inside some other file (kerchunk reference). */
  final case class RangeChunk(path: String, offset: Long, length: Long) extends ChunkRef
  /** Inline bytes (kerchunk inlines small chunks straight into the JSON). */
  final case class InlineChunk(bytes: Array[Byte]) extends ChunkRef

  /** How an array's chunk coordinates resolve to bytes. */
  sealed trait ChunkSource extends Serializable {
    def ref(meta: ZArrayMeta, coords: Seq[Int]): Option[ChunkRef]
  }
  /** A directory store: one object per chunk key (existence is checked at
    * read time; an absent object is an all-fill chunk). */
  final case class DirChunks(dir: String) extends ChunkSource {
    def ref(meta: ZArrayMeta, coords: Seq[Int]): Option[ChunkRef] =
      Some(FileChunk(s"$dir/${meta.chunkKey(coords)}"))
  }
  /** A reference manifest: chunk key → ref (an absent key is an all-fill
    * chunk). */
  final case class RefChunks(refs: Map[String, ChunkRef]) extends ChunkSource {
    def ref(meta: ZArrayMeta, coords: Seq[Int]): Option[ChunkRef] =
      refs.get(meta.chunkKey(coords))
  }
  /** Chunk k along the leading dimension is bytes [begin + k·stride,
    * +length) of one file (a classic NetCDF variable, one chunk per
    * record or row). Computed, so no ref is held per chunk. */
  final case class StridedChunks(path: String, begin: Long, stride: Long,
      length: Long) extends ChunkSource {
    def ref(meta: ZArrayMeta, coords: Seq[Int]): Option[ChunkRef] =
      Some(RangeChunk(path, begin + coords.head * stride, length))
  }

  /** One array resolved for scanning: metadata + how to find each chunk. */
  final case class ResolvedArray(
      name: String,
      meta: ZArrayMeta,
      source: ChunkSource) extends Serializable {
    def chunkRef(coords: Seq[Int]): Option[ChunkRef] = source.ref(meta, coords)

    /** Refs a task can compute from the source alone (no manifest map, no
      * shard index), so partitions ship the source instead of a ref per
      * chunk. */
    def computable: Boolean = meta.sharding.isEmpty && !source.isInstanceOf[RefChunks]

    /** The one 1-D coordinate read: every chunk decoded to doubles through
      * one stream per file. A missing chunk refuses — an axis has no fill
      * holes. */
    def readCoordinate(conf: Configuration): Array[Double] = {
      val n = meta.shape.head
      val chunk = meta.chunks.head
      val out = new Array[Double](n)
      val fetch = new ChunkFetcher(conf)
      try {
        var c = 0
        while (c * chunk < n) {
          val buf = fetch.whole(meta, chunkRef(conf, Seq(c))).getOrElse(
            throw new IllegalStateException(
              s"Coordinate $name chunk $c is missing — axes cannot have fill holes"))
          var i = 0
          while (i < chunk && c * chunk + i < n) {
            out(c * chunk + i) = meta.dtype.decodeDouble(buf, i)
            i += 1
          }
          c += 1
        }
      } finally fetch.close()
      out
    }

    /** Per-planning-pass shard index memo: one ranged read per TOUCHED
      * shard (pruning has already run when this is consulted). */
    @transient private lazy val shardIndexCache =
      scala.collection.mutable.HashMap.empty[String, Option[Array[Long]]]

    /** Conf-aware resolution: plain arrays delegate to [[chunkRef]];
      * sharded arrays map inner-chunk coords to a ranged read inside the
      * shard object via its index. */
    def chunkRef(conf: Configuration, coords: Seq[Int]): Option[ChunkRef] =
      meta.sharding match {
        case None => chunkRef(coords)
        case Some(sh) =>
          val ratio = sh.ratio(meta.chunks)
          val shardCoords = coords.zip(ratio).map { case (k, r) => k / r }
          val inner = coords.zip(ratio).map { case (k, r) => k % r }
          val shardKey = meta.chunkKey(shardCoords)
          source.ref(meta, shardCoords).flatMap { b =>
            shardIndexCache.getOrElseUpdate(shardKey,
              readShardIndex(conf, b, sh, meta.chunks)).flatMap { idx =>
              var lin = 0
              inner.zip(ratio).foreach { case (k, r) => lin = lin * r + k }
              val off = idx(2 * lin); val len = idx(2 * lin + 1)
              if (off == -1L && len == -1L) None // 2^64-1 pair = missing chunk
              else b match {
                case FileChunk(p) => Some(RangeChunk(p, off, len))
                case RangeChunk(p, o, _) => Some(RangeChunk(p, o + off, len))
                case InlineChunk(bytes) =>
                  Some(InlineChunk(bytes.slice(off.toInt, (off + len).toInt)))
              }
            }
          }
      }
  }

  /** Read + decode one shard's index: u64-LE (offset, nbytes) pairs in
    * row-major inner order, optionally guarded by a trailing little-endian
    * CRC32C (the zarr-python default index chain). None = the shard object
    * does not exist (every inner chunk is fill). */
  private[zarr] def readShardIndex(conf: Configuration, ref: ChunkRef,
      sh: ShardingInfo, inner: Seq[Int]): Option[Array[Long]] = {
    val n = sh.indexBytes(inner)
    val bytes: Option[Array[Byte]] = ref match {
      case FileChunk(path) =>
        val p = new HPath(path)
        val fs = p.getFileSystem(conf)
        if (!fs.exists(p)) None
        else {
          val len = fs.getFileStatus(p).getLen
          require(len >= n, s"$path: ${len}B shard < ${n}B index")
          val buf = new Array[Byte](n)
          val in = fs.open(p)
          try in.readFully(if (sh.indexAtEnd) len - n else 0L, buf)
          finally in.close()
          Some(buf)
        }
      case RangeChunk(path, off, len) =>
        require(len >= n, s"$path@$off: ${len}B shard < ${n}B index")
        val p = new HPath(path)
        val fs = p.getFileSystem(conf)
        val buf = new Array[Byte](n)
        val in = fs.open(p)
        try in.readFully(if (sh.indexAtEnd) off + len - n else off, buf)
        finally in.close()
        Some(buf)
      case InlineChunk(b) =>
        require(b.length >= n, s"inline shard ${b.length}B < ${n}B index")
        Some(if (sh.indexAtEnd) b.takeRight(n) else b.take(n))
    }
    bytes.map { buf =>
      val body = if (sh.indexCrc) {
        val bb = java.nio.ByteBuffer.wrap(buf, n - 4, 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val stored = bb.getInt & 0xFFFFFFFFL
        val crc = new java.util.zip.CRC32C
        crc.update(buf, 0, n - 4)
        require(crc.getValue == stored,
          f"shard index CRC32C mismatch: computed ${crc.getValue}%08x, stored $stored%08x")
        java.util.Arrays.copyOf(buf, n - 4)
      } else buf
      val bb = java.nio.ByteBuffer.wrap(body).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      Array.fill(body.length / 8)(bb.getLong)
    }
  }

  /** A resolved store: group attrs + arrays, independent of how the bytes
    * are addressed. */
  final case class ResolvedStore(attrs: JObj, arrays: Seq[ResolvedArray])

  // --------------------------------------------------- directory store read

  private def readUtf8(conf: Configuration, path: String): Option[String] = {
    val p = new HPath(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  private def parseObj(s: String, what: String): JObj = JValue.parse(s) match {
    case o: JObj => o
    case other => throw new IllegalArgumentException(s"$what is not an object: $other")
  }

  // ----------------------------------------------------------- zarr v3 read

  /** Map a v3 `data_type` name onto the v2 typestr model (the inverse of
    * [[ZDtype.v3Name]]). */
  private def v3Dtype(name: String, littleEndian: Boolean): ZDtype =
    Seq('f' -> 8, 'f' -> 4, 'i' -> 8, 'i' -> 4, 'i' -> 2, 'i' -> 1, 'u' -> 1,
        'u' -> 2, 'u' -> 4, 'b' -> 1)
      .map { case (kind, size) => ZDtype(littleEndian, kind, size) }
      .find(_.v3Name == name)
      .getOrElse(throw new IllegalArgumentException(s"zarr v3 data_type $name"))

  /** Parse one v3 array document (`zarr.json` with node_type "array",
    * zarr v3 core spec): regular chunk grid, default chunk-key encoding,
    * `bytes` + optional gzip/blosc/zlib codecs. */
  def parseV3Array(doc: JObj): ZArrayMeta = {
    require(doc.get("zarr_format").contains(JNum(3)), s"not a v3 array: $doc")
    require(doc.get("node_type").contains(JStr("array")),
      s"node_type ${doc.get("node_type")} is not an array")
    def ints(v: JValue): Seq[Int] = v match {
      case JArr(items) => items.map { case JNum(n) => n.toInt
        case other => throw new IllegalArgumentException(s"$other") }
      case other => throw new IllegalArgumentException(s"$other")
    }
    val shape = ints(doc.get("shape").getOrElse(
      throw new IllegalArgumentException("v3 array missing shape")))
    val chunkGrid = doc.get("chunk_grid").collect { case o: JObj => o }.getOrElse(
      throw new IllegalArgumentException("v3 array missing chunk_grid"))
    require(chunkGrid.get("name").contains(JStr("regular")),
      s"chunk_grid ${chunkGrid.get("name")} unsupported (regular only)")
    val chunks = ints(chunkGrid.get("configuration")
      .collect { case o: JObj => o }.flatMap(_.get("chunk_shape")).getOrElse(
        throw new IllegalArgumentException("v3 chunk_grid missing chunk_shape")))
    val sep = doc.get("chunk_key_encoding").collect { case o: JObj => o }
      .flatMap(_.get("configuration")).collect { case o: JObj => o }
      .flatMap(_.get("separator")).collect { case JStr(s) => s }.getOrElse("/")
    // codecs: the array→bytes codec fixes endianness; bytes→bytes codecs
    // compress; sharding_indexed nests a whole chain per inner chunk.
    def parseCodecChain(items: Seq[JValue]): (Boolean, ZarrCodec.Codec) = {
      var littleEndian = true
      var codec: ZarrCodec.Codec = ZarrCodec.NullCodec
      items.zipWithIndex.foreach {
        case (o: JObj, idx) =>
          val cfg = o.get("configuration").collect { case c: JObj => c }
          o.get("name") match {
            case Some(JStr("bytes")) =>
              littleEndian = !cfg.flatMap(_.get("endian")).contains(JStr("big"))
            case Some(JStr("gzip")) =>
              codec = ZarrCodec.GzipCodec(cfg.flatMap(_.get("level"))
                .collect { case JNum(n) => n.toInt }.getOrElse(1))
            case Some(JStr("zlib")) =>
              codec = ZarrCodec.ZlibCodec(cfg.flatMap(_.get("level"))
                .collect { case JNum(n) => n.toInt }.getOrElse(1))
            case Some(JStr("zstd")) =>
              codec = ZarrCodec.ZstdCodec(cfg.flatMap(_.get("level"))
                .collect { case JNum(n) => n.toInt }.getOrElse(3))
            case Some(JStr("blosc")) => codec = ZarrCodec.BloscCodec
            case Some(JStr("xchacha20poly1305")) =>
              val kh = cfg.flatMap(_.get("key_hash")).collect { case JStr(h) => h }
                .getOrElse(throw new IllegalArgumentException(
                  "xchacha20poly1305 codec missing key_hash"))
              codec = ZarrCodec.EncryptionCodec(codec, kh)
            case Some(JStr("crc32c")) =>
              // v3 core checksum codec: must close the bytes→bytes chain
              // (it checksums the stored object); wrap whatever precedes.
              // Positional check — a structurally identical duplicate
              // earlier in the chain must NOT pass
              require(idx == items.length - 1,
                "crc32c must be the final codec in the chain")
              codec = ZarrCodec.Crc32cCodec(codec)
            case other => throw new IllegalArgumentException(
              s"zarr v3 codec $other unsupported (bytes, gzip, zlib, zstd, " +
                "blosc, crc32c)")
          }
        case other => throw new IllegalArgumentException(s"bad codec entry $other")
      }
      (littleEndian, codec)
    }
    var littleEndian = true
    var codec: ZarrCodec.Codec = ZarrCodec.NullCodec
    var innerChunks = chunks
    var sharding: Option[ShardingInfo] = None
    doc.get("codecs") match {
      case Some(JArr(Seq(o: JObj))) if o.get("name").contains(JStr("sharding_indexed")) =>
        val cfg = o.get("configuration").collect { case c: JObj => c }.getOrElse(
          throw new IllegalArgumentException("sharding_indexed missing configuration"))
        innerChunks = ints(cfg.get("chunk_shape").getOrElse(
          throw new IllegalArgumentException("sharding_indexed missing chunk_shape")))
        require(chunks.zip(innerChunks).forall { case (s, c) => c > 0 && s % c == 0 },
          s"inner chunks $innerChunks must divide the shard shape $chunks")
        val (le, c) = parseCodecChain(cfg.get("codecs") match {
          case Some(JArr(items)) => items
          case _ => Seq.empty
        })
        littleEndian = le; codec = c
        // index codec chain: bytes (little-endian u64 pairs) + optional crc32c
        val idxNames = cfg.get("index_codecs") match {
          case Some(JArr(items)) => items.collect {
            case io: JObj => io.get("name").collect { case JStr(s) => s }.getOrElse("?")
          }
          case _ => Seq("bytes")
        }
        require(idxNames.forall(n => n == "bytes" || n == "crc32c"),
          s"shard index codecs $idxNames unsupported (bytes, crc32c)")
        val atEnd = !cfg.get("index_location").contains(JStr("start"))
        sharding = Some(ShardingInfo(chunks, atEnd, idxNames.contains("crc32c")))
      case Some(JArr(items)) =>
        val (le, c) = parseCodecChain(items)
        littleEndian = le; codec = c
      case _ => ()
    }
    val dtype = doc.get("data_type") match {
      case Some(JStr(s)) => v3Dtype(s, littleEndian)
      case other => throw new IllegalArgumentException(s"v3 data_type: $other")
    }
    val fill = parseFill(doc.get("fill_value"))
    val attrs0 = doc.get("attributes").collect { case o: JObj => o }
      .getOrElse(JObj(Seq.empty))
    // v3 dimension_names plays v2's _ARRAY_DIMENSIONS role — normalize so
    // planGrid sees one convention
    val attrs = doc.get("dimension_names") match {
      case Some(arr: JArr) if attrs0.get("_ARRAY_DIMENSIONS").isEmpty =>
        JObj(attrs0.fields :+ ("_ARRAY_DIMENSIONS" -> (arr: JValue)))
      case _ => attrs0
    }
    ZArrayMeta(shape, innerChunks, dtype, codec, fill, sep, attrs,
      filters = Seq.empty, keyPrefix = "c", sharding = sharding)
  }

  /** Resolve a zarr V3 store rooted at a `zarr.json` group document:
    * consolidated metadata when present (zarr-python writes it the same
    * way the reference consolidates v2 stores, store.py:229-262), else one
    * `zarr.json` per child directory. */
  def resolveV3Directory(conf: Configuration, root: String, rootDoc: JObj): ResolvedStore = {
    require(rootDoc.get("zarr_format").contains(JNum(3)), s"$root: not zarr v3")
    val rootAttrs = rootDoc.get("attributes").collect { case o: JObj => o }
      .getOrElse(JObj(Seq.empty))
    val consolidated = rootDoc.get("consolidated_metadata")
      .collect { case o: JObj => o }
      .flatMap(_.get("metadata")).collect { case o: JObj => o }
    val arrays = consolidated match {
      case Some(entries) =>
        entries.fields.collect {
          case (name, doc: JObj) if doc.get("node_type").contains(JStr("array")) =>
            ResolvedArray(name, parseV3Array(doc), DirChunks(s"$root/$name"))
        }
      case None =>
        val p = new HPath(root)
        val fs = p.getFileSystem(conf)
        fs.listStatus(p).toSeq.filter(_.isDirectory).flatMap { st =>
          val name = st.getPath.getName
          readUtf8(conf, s"$root/$name/zarr.json").map { s =>
            ResolvedArray(name, parseV3Array(parseObj(s, s"$name/zarr.json")),
              DirChunks(s"$root/$name"))
          }
        }
    }
    require(arrays.nonEmpty, s"No v3 arrays under $root")
    ResolvedStore(rootAttrs, arrays)
  }

  /** Resolve a zarr DIRECTORY store, either format: v3 when `zarr.json`
    * exists (store.py:250 `has_v3_metadata` makes the same probe), else v2
    * preferring `.zmetadata` (consolidated — ONE read instead of one per
    * array; the reference consolidates on every publish) with a fallback
    * to listing array subdirectories. */
  def resolveDirectory(conf: Configuration, root: String): ResolvedStore = {
    readUtf8(conf, s"$root/zarr.json") match {
      case Some(s) => return resolveV3Directory(conf, root, parseObj(s, "zarr.json"))
      case None => ()
    }
    readUtf8(conf, s"$root/.zmetadata") match {
      case Some(s) =>
        val metaDoc = parseObj(s, ".zmetadata")
        val entries = metaDoc.get("metadata") match {
          case Some(o: JObj) => o
          case other => throw new IllegalArgumentException(s".zmetadata metadata: $other")
        }
        val rootAttrs = entries.get(".zattrs").collect { case o: JObj => o }
          .getOrElse(JObj(Seq.empty))
        val arrayNames = entries.fields.collect {
          case (k, _) if k.endsWith("/.zarray") => k.stripSuffix("/.zarray")
        }
        val arrays = arrayNames.map { name =>
          val attrs = entries.get(s"$name/.zattrs").collect { case o: JObj => o }
            .getOrElse(JObj(Seq.empty))
          ResolvedArray(name,
            parseZArray(entries.get(s"$name/.zarray").get, attrs),
            DirChunks(s"$root/$name"))
        }
        ResolvedStore(rootAttrs, arrays)
      case None =>
        val rootAttrs = readUtf8(conf, s"$root/.zattrs")
          .map(parseObj(_, ".zattrs")).getOrElse(JObj(Seq.empty))
        val p = new HPath(root)
        val fs = p.getFileSystem(conf)
        require(fs.exists(p), s"No zarr store at $root")
        val arrays = fs.listStatus(p).toSeq.filter(_.isDirectory).flatMap { st =>
          val name = st.getPath.getName
          readUtf8(conf, s"$root/$name/.zarray").map { za =>
            val attrs = readUtf8(conf, s"$root/$name/.zattrs")
              .map(parseObj(_, s"$name/.zattrs")).getOrElse(JObj(Seq.empty))
            ResolvedArray(name, parseZArray(JValue.parse(za), attrs),
              DirChunks(s"$root/$name"))
          }
        }
        require(arrays.nonEmpty, s"No zarr arrays under $root (no .zmetadata, no */.zarray)")
        ResolvedStore(rootAttrs, arrays)
    }
  }

  // ------------------------------------------------- kerchunk manifest read

  /** Resolve a kerchunk reference manifest (`{"version":1,"refs":{...}}`,
    * the output shape of the reference's `create_zarr_json`,
    * transform.py:40-117): metadata documents are inline JSON strings,
    * chunks are `[url, offset, length]`, `[url]`, or inline (optionally
    * `base64:`-prefixed) strings. */
  def resolveRefs(conf: Configuration, manifestPath: String): ResolvedStore =
    resolveRefsDoc(parseObj(readUtf8(conf, manifestPath).getOrElse(
      throw new IllegalArgumentException(s"No kerchunk manifest at $manifestPath")),
      "kerchunk manifest"))

  def resolveRefsDoc(doc: JObj): ResolvedStore = {
    val refs = doc.get("refs") match {
      case Some(o: JObj) => o
      case _ => doc // bare refs dict (version 0 style)
    }
    def chunkRefOf(v: JValue): ChunkRef = v match {
      case JStr(s) if s.startsWith("base64:") =>
        InlineChunk(java.util.Base64.getDecoder.decode(s.stripPrefix("base64:")))
      case JStr(s) => InlineChunk(s.getBytes(StandardCharsets.ISO_8859_1))
      case JArr(Seq(JStr(url))) => FileChunk(url)
      case JArr(Seq(JStr(url), JNum(off), JNum(len))) =>
        RangeChunk(url, off.toLong, len.toLong)
      case other => throw new IllegalArgumentException(s"Bad chunk ref: $other")
    }
    val rootAttrs = refs.get(".zattrs").collect {
      case JStr(s) => parseObj(s, ".zattrs")
    }.getOrElse(JObj(Seq.empty))
    val arrayNames = refs.fields.collect {
      case (k, _) if k.endsWith("/.zarray") => k.stripSuffix("/.zarray")
    }
    val arrays = arrayNames.map { name =>
      val metaJson = refs.get(s"$name/.zarray") match {
        case Some(JStr(s)) => JValue.parse(s)
        case other => throw new IllegalArgumentException(s"$name/.zarray: $other")
      }
      val attrs = refs.get(s"$name/.zattrs").collect {
        case JStr(s) => parseObj(s, s"$name/.zattrs")
      }.getOrElse(JObj(Seq.empty))
      val meta = parseZArray(metaJson, attrs)
      val chunkMap = refs.fields.collect {
        case (k, v) if k.startsWith(s"$name/") && !k.substring(name.length + 1).startsWith(".") =>
          k.substring(name.length + 1) -> chunkRefOf(v)
      }.toMap
      ResolvedArray(name, meta, RefChunks(chunkMap))
    }
    require(arrays.nonEmpty, "Kerchunk manifest declares no arrays")
    ResolvedStore(rootAttrs, arrays)
  }

  /** Fetch + decompress one chunk to its raw fixed-size buffer (compressor
    * first, then filters undone in reverse — zarr v2 decode order). Missing
    * directory-store chunks return None (fill semantics). */
  def readChunk(conf: Configuration, meta: ZArrayMeta, ref: Option[ChunkRef]): Option[Array[Byte]] = {
    val fetch = new ChunkFetcher(conf)
    try fetch.whole(meta, ref) finally fetch.close()
  }

  /** The chunk reads of one task or planning pass: one open stream per
    * referenced file, reused across its chunks (a classic NetCDF partition
    * reads every record through one stream). Directory-store chunks are
    * objects of their own, opened and closed per read. */
  final class ChunkFetcher(conf: Configuration) extends AutoCloseable {
    private val streams =
      scala.collection.mutable.HashMap.empty[String, org.apache.hadoop.fs.FSDataInputStream]

    private def stream(path: String) = streams.getOrElseUpdate(path, {
      val p = new HPath(path)
      p.getFileSystem(conf).open(p)
    })

    /** Bytes [off, off + len) of a stored chunk; None for an absent
      * directory-store object. */
    private def bytes(ref: ChunkRef, off: Long, len: Long): Option[Array[Byte]] =
      ref match {
        case InlineChunk(b) => Some(b)
        case RangeChunk(path, o, l) =>
          // seek + read on the task's own stream: a positioned read of a
          // checksummed local file reopens it on every call
          val buf = new Array[Byte]((if (len < 0) l else len).toInt)
          val in = stream(path)
          in.seek(o + off)
          in.readFully(buf)
          Some(buf)
        case FileChunk(path) =>
          val p = new HPath(path)
          val fs = p.getFileSystem(conf)
          if (!fs.exists(p)) None
          else {
            val in = fs.open(p)
            try Some(if (len < 0) in.readAllBytes() else {
              val buf = new Array[Byte](len.toInt)
              in.readFully(off, buf)
              buf
            }) finally in.close()
          }
      }

    /** One whole chunk, decoded. */
    def whole(meta: ZArrayMeta, ref: Option[ChunkRef]): Option[Array[Byte]] =
      ref.flatMap(r => bytes(r, 0L, -1L)).map(meta.decodeChunk)

    /** Cells [lo, hi] (chunk-local, row-major) of one chunk, with the cell
      * the buffer starts at: an uncompressed, unfiltered chunk stored
      * outside the manifest is read over exactly that span, any other
      * chunk whole. */
    def cells(meta: ZArrayMeta, ref: Option[ChunkRef], lo: Int,
        hi: Int): Option[(Array[Byte], Int)] = ref match {
      case Some(r) if meta.codec == ZarrCodec.NullCodec && meta.filters.isEmpty &&
          !r.isInstanceOf[InlineChunk] =>
        val size = meta.dtype.size.toLong
        bytes(r, lo * size, (hi - lo + 1) * size).map(b => (b, lo))
      case _ => whole(meta, ref).map(b => (b, 0))
    }

    def close(): Unit = {
      streams.values.foreach(_.close())
      streams.clear()
    }
  }
}
