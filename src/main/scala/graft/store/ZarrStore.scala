package graft.store

import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

import graft.meta.{JObj, JStr, JValue}
import graft.model.DatasetDescriptor
import graft.sources.zarr.{ZarrCodec, ZarrIO, ZarrMeta}
import graft.sources.zarr.ZarrMeta.ZArrayMeta

/** Incremental grid store in the reference's NATIVE format: a Zarr
  * directory store (v2 `.zattrs`/`.zarray` by default, v3 `zarr.json` on
  * request — the reference reads and writes both, store.py:229-262) with
  * chunk-aligned in-place updates — `update_zarr`'s insert/append
  * machinery (publish.py:322-553) re-expressed as one distributed
  * read-modify-write job over the touched chunks.
  *
  * Layout: `<path>/.zgroup|.zattrs|.zmetadata` + one array per coordinate
  * (time as CF "seconds since epoch") + the data variable, chunked
  * (timeChunk × full-spatial-extent by default). The chunk is the unit of
  * in-place replacement, exactly as in the reference:
  *
  *  - **append** extends the time axis (a driver-side metadata rewrite —
  *    coords are KB-scale), writes the new chunks, and BUTT-JOINS the
  *    existing partial tail chunk by merging into it rather than bridging
  *    a chunk boundary (publish.py:520-553, Aligning_update_chunks.md);
  *  - **insert** overlays rows onto existing chunk bytes for only the
  *    chunks that receive rows (`region=` writes, publish.py:406-450);
  *  - both run under the update_in_progress commit-marker protocol
  *    (publish.py:155-268) carried in the root `.zattrs`.
  *
  * Scale: the data path is `ZarrIO.writeDataChunks` — one shuffle keyed by
  * chunk id, each chunk wholly owned by one task, untouched chunks never
  * read or written. Reads go through the chunk-pruned `zarr` DSv2 scan.
  * The parquet [[GridStore]] remains the write-optimized store; this one is
  * the interop path — the reference's own tooling can open what it writes.
  */
final class ZarrStore(
    val spark: SparkSession,
    val path: String,
    val desc: DatasetDescriptor,
    /** Storage-chunk length along time (zarr chunk, not dask chunk). */
    val timeChunk: Int = 128,
    /** Per-spatial-dim chunk lengths; None = full extent (small grids). */
    val spatialChunks: Option[Seq[Int]] = None,
    /** Chunk codec; zlib by default so any zarr reader can open the store. */
    val codec: ZarrCodec.Codec = ZarrCodec.ZlibCodec(1),
    /** Metadata format for NEW stores: 2 (`.zattrs`/`.zarray`, the
      * reference's write format) or 3 (`zarr.json` documents, c/-prefixed
      * chunk keys). An EXISTING store's persisted format always wins —
      * updates and rebuilds never mix sidecar conventions. */
    val zarrFormat: Int = 2,
    /** v3 `sharding_indexed` layout for NEW stores: inner chunk shape
      * (time-first) nested inside each (timeChunk × spatialChunks) storage
      * object — the zarr v3 cloud layout that keeps objects large while
      * reads stay inner-chunk-granular. Must divide the storage chunk
      * shape elementwise. */
    val shardChunks: Option[Seq[Int]] = None,
    /** W12 — encrypt the DATA variable's chunks for NEW stores: the
      * SHA3-256 hash of a key registered via
      * [[graft.functions.Encryption.registerEncryptionKey]]. v2 stores get
      * the reference's numcodecs `xchacha20poly1305` filter appended to the
      * data array's filter chain (metadata.py:862-868) — bit-compatible
      * with stores the reference encrypts; v3 stores get the engine's
      * `xchacha20poly1305` bytes→bytes codec (compress → encrypt, crc32c
      * still closing the chain). Coordinates stay plain, as in the
      * reference. An EXISTING store's persisted encryption governs —
      * updates keep encrypting with the stored key hash, reads of any
      * encrypted store need the key registered or fail with the hash
      * named, and a constructor hash that CONTRADICTS the persisted
      * profile fails with both named rather than being silently ignored
      * (re-key via [[StoreConvert.rechunkZarr]], which rewrites every
      * chunk). */
    val encryptionKeyHash: Option[String] = None) extends GridPublisher {

  require(zarrFormat == 2 || zarrFormat == 3, s"zarr format $zarrFormat (2 or 3)")
  require(shardChunks.isEmpty || zarrFormat == 3,
    "sharding_indexed is a zarr v3 codec — shardChunks needs zarrFormat = 3")
  // fail at construction, with the hash named, not mid-publish
  encryptionKeyHash.foreach(graft.functions.Encryption.requireKey)

  /** [[GridPublisher]] — one streaming micro-batch lands through the same
    * publish dispatch (appends must stay time-monotonic, which ordered
    * micro-batches are by construction). */
  override def publishBatch(update: DataFrame): Unit = publish(update)

  import ZarrStore._

  private def conf = spark.sparkContext.hadoopConfiguration
  private def timeCol = desc.timeDim
  /** All non-time grid dimensions in standard order — for hindcast/
    * ensemble categories this includes the leading offset/step/ensemble
    * dims, not just the spatial pair (they are numeric axes like any
    * other to the zarr grid). */
  private def nonTimeDims: Seq[String] = desc.standardDims.drop(1)
  private def dims: Seq[String] = desc.standardDims

  // ------------------------------------------------------------- existence

  def hasExisting: Boolean = {
    val fs = GridStore.fileSystem(spark, path)
    fs.exists(new HPath(s"$path/.zattrs")) || isV3
  }

  /** v3 stores root their metadata in `zarr.json` (store.py:250
    * `has_v3_metadata` makes the same probe). */
  private def isV3: Boolean =
    GridStore.fileSystem(spark, path).exists(new HPath(s"$path/zarr.json"))

  /** The format every metadata/chunk write must use: the persisted format
    * when the store exists, the constructor's choice when creating one. */
  private def useV3: Boolean = isV3 || (zarrFormat == 3 && !hasExisting)

  /** Chunk-key conventions follow the metadata format (v3 keys are
    * `c/0/0`, v2 keys `0.0`). */
  private def keySep: String = if (useV3) "/" else "."
  private def keyPfx: String = if (useV3) "c" else ""

  /** Open through the chunk-pruned DSv2 scan. Reads enforce the same
    * encryption contract as writes (ADVICE r9): a handle whose constructor
    * key contradicts the persisted profile must not silently read — the
    * same symmetry GridStore's effectiveEncryptionHash gives the parquet
    * store. */
  def dataset(): DataFrame = {
    require(hasExisting, s"No existing zarr store at $path")
    checkEncryptionProfile()
    spark.read.format("zarr").load(path)
  }

  def readRange(start: java.time.LocalDateTime,
      end: java.time.LocalDateTime): DataFrame =
    dataset().filter(col(timeCol).between(lit(start), lit(end)))

  // ----------------------------------------------------------- attrs (W8)

  private def readJsonFile(rel: String): Option[JObj] = {
    val fs = GridStore.fileSystem(spark, path)
    val p = new HPath(s"$path/$rel")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try JValue.parse(new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)) match {
        case o: JObj => Some(o)
        case _ => None
      }
      finally in.close()
    }
  }

  /** Root attributes, format-agnostic: a v3 store's live in `zarr.json`'s
    * "attributes" member, a v2 store's in `.zattrs`. */
  def readAttrsJson(): JObj =
    if (isV3)
      readJsonFile("zarr.json")
        .flatMap(_.get("attributes")).collect { case o: JObj => o }
        .getOrElse(JObj(Seq.empty))
    else readJsonFile(".zattrs").getOrElse(JObj(Seq.empty))

  def readAttrs(): Map[String, String] =
    readAttrsJson().fields.map { case (k, v) =>
      k -> (v match { case JStr(s) => s; case other => other.render })
    }.toMap

  def patchAttrs(patch: Map[String, String]): Unit = {
    val updated = patch.toSeq.sortBy(_._1).foldLeft(readAttrsJson()) {
      case (o, (k, v)) => o.updated(k, JStr(v))
    }
    if (useV3) {
      // patch the "attributes" member in place; the rest of zarr.json
      // (node_type, consolidated_metadata, …) is preserved verbatim. An
      // initial v3 publish patches the commit marker in before any other
      // metadata exists — seed a minimal group document.
      val doc = readJsonFile("zarr.json").getOrElse(JObj(Seq(
        "zarr_format" -> graft.meta.JNum(3),
        "node_type" -> JStr("group"))))
      ZarrIO.writeUtf8(conf, s"$path/zarr.json",
        doc.updated("attributes", updated).render)
    } else {
      ZarrIO.writeUtf8(conf, s"$path/.zattrs", updated.render)
      // keep the consolidated doc in sync (readers do ONE metadata fetch)
      refreshConsolidated(updated)
    }
  }

  private def refreshConsolidated(rootAttrs: JObj): Unit = {
    val arrays = listArrays()
    if (useV3) ZarrIO.writeGroupMetadataV3(conf, path, rootAttrs, arrays)
    else ZarrIO.writeGroupMetadata(conf, path, rootAttrs, arrays)
  }

  /** Every array under the root, from the PER-ARRAY documents (not the
    * consolidated doc, which may be mid-rewrite during a publish). */
  private[store] def listArrays(): Seq[(String, ZArrayMeta)] = {
    val fs = GridStore.fileSystem(spark, path)
    val p = new HPath(path)
    if (!fs.exists(p)) Seq.empty
    else if (useV3) fs.listStatus(p).toSeq.filter(_.isDirectory).flatMap { st =>
      val name = st.getPath.getName
      readJsonFile(s"$name/zarr.json").map(doc =>
        name -> ZarrMeta.parseV3Array(doc))
    }
    else fs.listStatus(p).toSeq.filter(_.isDirectory).flatMap { st =>
      val name = st.getPath.getName
      val za = new HPath(s"$path/$name/.zarray")
      if (!fs.exists(za)) None
      else {
        val in = fs.open(za)
        val doc = try JValue.parse(new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)) finally in.close()
        val attrsP = new HPath(s"$path/$name/.zattrs")
        val attrs =
          if (!fs.exists(attrsP)) JObj(Seq.empty)
          else {
            val ain = fs.open(attrsP)
            try JValue.parse(new String(ain.readAllBytes(),
                java.nio.charset.StandardCharsets.UTF_8)) match {
              case o: JObj => o
              case _ => JObj(Seq.empty)
            }
            finally ain.close()
          }
        Some(name -> ZarrMeta.parseZArray(doc, attrs))
      }
    }
  }

  // --------------------------------------------------- commit marker (W6)

  def checkNotInProgress(): Unit =
    if (readAttrs().get(GridStore.UpdateInProgressKey).contains("true"))
      throw new IllegalStateException(
        s"Zarr store at $path has update_in_progress=true; refusing concurrent update")

  private def withCommitMarker(postAttrs: => Map[String, String])(write: => Unit): Unit = {
    patchAttrs(Map(GridStore.UpdateInProgressKey -> "true"))
    try {
      write
      patchAttrs(postAttrs + (GridStore.UpdateInProgressKey -> "false"))
    } catch {
      case e: Throwable =>
        patchAttrs(Map(GridStore.UpdateInProgressKey -> "false"))
        throw e
    }
  }

  // -------------------------------------------------------------- writes

  /** W2 — publish dispatch (publish.py:86-129). Updates run against either
    * metadata format — the persisted format decides every key and document
    * convention (see [[useV3]]). */
  def publish(update: DataFrame, rebuild: Boolean = false): Unit =
    if (!hasExisting || rebuild) writeInitial(update)
    else writeUpdate(update)

  /** The key hash a data-array document declares, wherever its chain
    * carries it (v2 `EncryptionFilter` or the v3 codec chain, inside any
    * crc32c wrapper). */
  private def encryptionHashOf(m: ZArrayMeta): Option[String] = {
    def fromCodec(c: ZarrCodec.Codec): Option[String] = c match {
      case ZarrCodec.EncryptionCodec(_, kh) => Some(kh)
      case ZarrCodec.Crc32cCodec(inner) => fromCodec(inner)
      case _ => None
    }
    m.filters.collectFirst { case ZarrMeta.EncryptionFilter(kh) => kh }
      .orElse(fromCodec(m.codec))
  }

  /** The key hash an existing store's data variable is encrypted under. */
  private def persistedEncryptionHash: Option[String] =
    persistedDataMeta.flatMap(encryptionHashOf)

  /** The persisted data-array document — dtype, fill, chunk grid, filter
    * chain (including encryption). Updates AND rebuilds reuse it wholesale;
    * rebuild callers must capture it BEFORE deleting the array directory
    * (ADVICE r9: reading it after the delete silently rebuilt a plaintext
    * profile from the absent document). */
  private def persistedDataMeta: Option[ZArrayMeta] =
    listArrays().toMap.get(desc.dataVar)

  /** ADVICE r8: a constructor key hash that contradicts an existing
    * store's persisted encryption profile must fail with both named —
    * silently ignoring it hands plaintext to a user who asked for
    * encryption and keeps the old key on an attempted rotation. Zarr
    * updates and rebuilds reuse the persisted array document wholesale
    * (bit-compat with stores the reference wrote), so the profile cannot
    * change in place; [[StoreConvert.rechunkZarr]] is the re-key path. */
  private def checkEncryptionProfile(): Unit =
    encryptionKeyHash.foreach { kh =>
      if (hasExisting) {
        val persisted = persistedEncryptionHash
        if (!persisted.contains(kh))
          throw new IllegalStateException(
            s"Store at $path is ${persisted.fold("not encrypted")(h =>
              s"encrypted under key hash $h")} but this handle was " +
              s"constructed with key hash $kh: an existing zarr store's " +
              "persisted profile governs reads and writes. To change keys, " +
              "rewrite the store through StoreConvert.rechunkZarr with " +
              "the new encryptionKeyHash")
      }
    }

  /** W3 — initial write: axes from the frame, metadata + coords from the
    * driver, data chunks distributed. */
  def writeInitial(df: DataFrame): Unit = {
    checkEncryptionProfile()
    // Capture the persisted array document BEFORE the rebuild delete
    // removes it: a keyless rebuild of an encrypted store keeps the
    // persisted profile (never silently decrypts), and the key it names
    // must be registered — fail here with the hash named, not mid-job.
    val persisted = persistedDataMeta
    if (encryptionKeyHash.isEmpty)
      persisted.flatMap(encryptionHashOf)
        .foreach(graft.functions.Encryption.requireKey)
    val (timeMicros, spatialVals) = collectAxes(df)
    withCommitMarker(Map(
      "dataset_name" -> desc.datasetName,
      "data_var" -> desc.dataVar) ++ desc.staticMetadata) {
      // a rebuild must not leave stale chunks behind: an all-fill chunk of
      // the new grid is simply never written, so an old chunk there would
      // resurface as data (publish.py's rebuild overwrites the whole store)
      GridStore.fileSystem(spark, path)
        .delete(new HPath(s"$path/${desc.dataVar}"), true)
      writeAxesAndMeta(persisted, timeMicros, spatialVals)
      writeChunks(timeMicros, spatialVals, persisted, df, mergeExisting = false)
    }
  }

  /** W4 + W5 — unified update: appended times extend the axis (driver-side
    * coord rewrite), then ONE merge job overlays all update rows onto the
    * touched chunks — the tail chunk butt-join and region inserts are the
    * same read-modify-write. */
  private def writeUpdate(df0: DataFrame): Unit = {
    checkNotInProgress()
    checkEncryptionProfile()
    val persisted = persistedDataMeta
    val existingTime = readTimeAxisMicros()
    val existingSet = existingTime.toSet
    // Materialize the delta ONCE (r16, mirroring GridStore.runUpdate): the
    // axis aggregate and the chunk write both read it, and its lineage may
    // be an arbitrary upstream pipeline that each consumer would otherwise
    // re-evaluate. An update is a bounded delta relative to the store, so
    // this is an executor-local checkpoint of the small side, never the
    // store. LAZY: the axis aggregate materializes the blocks as it folds.
    // The initial write deliberately does NOT do this — its frame is the
    // whole dataset, where column-pruned re-scans beat materializing every
    // column (the axis aggregate reads only the dim columns). Under AQE
    // building the checkpoint runs the delta's shuffle stages, so it is
    // labeled with the aggregate.
    val df = graft.JobLabel(spark, "graft.zarr: axes")(df0.localCheckpoint(false))
    try {
      val (updateTime, spatialVals) = collectAxes(df)
      val appended = updateTime.filterNot(existingSet)
      // appends must extend the axis monotonically; anything else is an
      // insert into existing coordinates (publish.py:359-377's split)
      appended.headOption.foreach { first =>
        require(first > existingTime.last,
          s"Update time ${micros2ldt(first)} is neither an existing coordinate " +
            s"nor after the store end ${micros2ldt(existingTime.last)} — " +
            "zarr axes cannot interleave new points (reference raises the same)")
      }
      val newTime = existingTime ++ appended
      val spatialAxes = readSpatialAxes().map(_._2)
      // update rows must land on the existing spatial grid
      spatialVals.zip(spatialAxes).zip(nonTimeDims).foreach {
        case ((got, have), dim) =>
          val haveSet = have.toSet
          val missing = got.filterNot(haveSet)
          require(missing.isEmpty,
            s"Update has $dim values off the existing grid: ${missing.take(3).mkString(",")}")
      }
      withCommitMarker(Map(
        "update_date_range_start" -> micros2ldt(updateTime.head).toString,
        "update_date_range_end" -> micros2ldt(updateTime.last).toString)) {
        if (appended.nonEmpty) writeAxesAndMeta(persisted, newTime, spatialAxes)
        writeChunks(newTime, spatialAxes, persisted, df, mergeExisting = true)
      }
    } finally
      // every consumer (axis aggregate, chunk write) has run — or the
      // publish failed: either way the delta's checkpoint blocks are dead
      graft.Housekeeping.release(df)
  }

  /** The one distributed job of a publish: every row of `df` into its
    * chunk of the grid the axes span. */
  private def writeChunks(timeMicros: Array[Long], spatial: Seq[Array[Double]],
      persisted: Option[ZArrayMeta], df: DataFrame, mergeExisting: Boolean): Unit =
    graft.JobLabel(spark, "graft.zarr: chunk write") {
      ZarrIO.writeDataChunks(spark, path,
        axes = axisKeys(timeMicros, spatial),
        vars = Seq((desc.dataVar, desc.dataVar,
          dataMeta(persisted, timeMicros.length, spatial))),
        df = df, mergeExisting = mergeExisting)
    }

  // ------------------------------------------------------------- internals

  /** Distinct sorted axis values from the update frame: time as epoch
    * micros, spatial dims as doubles. ONE grouping-sets aggregate, one
    * grouping set per dimension, reads the frame once for every axis;
    * `grouping_id` tells the axes apart and the driver sorts them.
    *
    * BOUND (pinned): axes are DRIVER-HELD during planning — the same model
    * as xarray itself, which keeps every coordinate in memory. Real grids
    * are far inside the guard (hourly ERA5 since 1940 ≈ 0.74M timesteps,
    * 0.25° longitude = 1440): an axis is distinct COORDINATES, never rows.
    * The guard refuses at [[MaxAxisLength]] (16M values ≈ 128 MB of
    * doubles) with the escape hatch named, instead of letting a
    * mis-modeled frame (e.g. a high-cardinality ID column declared as a
    * spatial dim) OOM the driver mid-publish. */
  private def collectAxes(df: DataFrame): (Array[Long], Seq[Array[Double]]) = {
    val n = dims.length
    // the limit rides INSIDE the planning job (no extra count action): the
    // driver holds at most bound + 1 values per axis in all, and when the
    // limit truncates, some axis holds more than the bound and is refused
    val rows = graft.JobLabel(spark, "graft.zarr: axes") {
      df.select(col(timeCol).cast(TimestampNTZType).as(timeCol) +:
          nonTimeDims.map(d => col(d).cast("double").as(d)): _*)
        .groupingSets(dims.map(d => Seq(col(d))), dims.map(col): _*)
        .agg(grouping_id())
        .limit(n * (MaxAxisLength + 1))
        .collect()
    }
    // grouping_id sets the bit of every column a set leaves out, the first
    // column's bit the highest: axis i's set clears only bit n - 1 - i
    val byGid = rows.groupBy(_.getLong(n))
    def axis(i: Int): Array[Row] = {
      val vals = byGid.getOrElse(((1L << n) - 1) ^ (1L << (n - 1 - i)), Array.empty[Row])
      require(vals.length <= MaxAxisLength,
        s"${dims(i)} exceeds the $MaxAxisLength-distinct-value driver-held axis " +
          "bound. A zarr grid axis is a coordinate, not a key; for " +
          "high-cardinality dimensions use the parquet GridStore layout " +
          "(bucketed, no dense axis) or coarsen the dimension")
      vals
    }
    (axis(0).map(r => ldt2micros(r.getAs[java.time.LocalDateTime](0))).sorted,
      nonTimeDims.indices.map(j =>
        axis(j + 1).map(_.getDouble(j + 1)).sorted(Ordering.Double.TotalOrdering)))
  }

  private def axisKeys(timeMicros: Array[Long],
      spatial: Seq[Array[Double]]): Seq[(String, Array[Double])] =
    (timeCol -> timeMicros.map(_.toDouble)) +:
      nonTimeDims.zip(spatial)

  /** Chunk shape is FIXED at store creation (zarr permits chunks larger
    * than the current shape, so the time chunk stays `timeChunk` even when
    * the initial write is shorter — appends then extend in place instead of
    * renumbering existing chunks). Updates reuse the persisted chunks. */
  private def chunkShape(persisted: Option[ZArrayMeta],
      spatial: Seq[Array[Double]]): Seq[Int] =
    persisted.map(_.chunks).getOrElse(
      timeChunk +:
        spatial.zip(spatialChunks.getOrElse(spatial.map(_.length))).map {
          case (vals, c) => math.min(math.max(c, 1), math.max(vals.length, 1))
        })

  /** Codec for writes: an UPDATE must keep encoding in whatever codec the
    * store's `.zarray` declares (otherwise newly-written chunks disagree
    * with the persisted metadata and every reader decodes garbage). Only
    * an initial write / rebuild uses the constructor's codec. A persisted
    * decode-only blosc declaration maps to the LZ4 encoder (same id, same
    * container). */
  private def writeCodec(persisted: Option[ZArrayMeta]): ZarrCodec.Codec =
    persisted match {
      case Some(m) =>
        // the decode-only blosc declaration needs the LZ4 encoder wherever
        // it sits — bare or inside a crc32c wrapper
        def encodable(c: ZarrCodec.Codec): ZarrCodec.Codec = c match {
          case ZarrCodec.BloscCodec =>
            ZarrCodec.BloscLz4Codec(typesize = m.dtype.size)
          case ZarrCodec.Crc32cCodec(inner) =>
            ZarrCodec.Crc32cCodec(encodable(inner))
          case ZarrCodec.EncryptionCodec(inner, kh) =>
            ZarrCodec.EncryptionCodec(encodable(inner), kh)
          case other => other
        }
        encodable(m.codec)
      case None => codec
    }

  /** Codec for COORDINATE arrays: the data variable's codec with any
    * encryption stripped — only the data variable is encrypted, matching
    * the reference (metadata.py:862-868 appends the filter to
    * `dataset[self.data_var]`'s encoding alone, leaving coordinates
    * plain). */
  private def coordCodec(persisted: Option[ZArrayMeta]): ZarrCodec.Codec = {
    def strip(c: ZarrCodec.Codec): ZarrCodec.Codec = c match {
      case ZarrCodec.EncryptionCodec(inner, _) => strip(inner)
      case ZarrCodec.Crc32cCodec(inner) => ZarrCodec.Crc32cCodec(strip(inner))
      case other => other
    }
    strip(writeCodec(persisted))
  }

  /** Data-variable metadata. An UPDATE reuses the persisted document
    * wholesale (dtype, fill, chunk grid, key conventions) so chunks written
    * into an existing store — including an f4 store the reference's own
    * tooling wrote — stay bit-compatible; only the shape advances. An
    * initial write starts the engine's native f8 profile. */
  private def dataMeta(persisted: Option[ZArrayMeta], nt: Int,
      spatial: Seq[Array[Double]]): ZArrayMeta = {
    val shape = nt +: spatial.map(_.length)
    persisted match {
      case Some(m) =>
        // the persisted filter chain (shuffle, encryption) carries over
        // verbatim — the chunk writer applies filters-then-codec, so
        // updates stay bit-compatible with what the store declares
        m.copy(shape = shape, codec = writeCodec(persisted))
      case None =>
        val storage = chunkShape(persisted, spatial)
        val (chunks, sharding) = shardChunks match {
          case None => (storage, None)
          case Some(inner) =>
            require(inner.length == storage.length &&
              inner.zip(storage).forall { case (i, s) => i > 0 && s % i == 0 },
              s"shardChunks $inner must divide the storage chunk shape $storage")
            (inner, Some(ZarrMeta.ShardingInfo(storage,
              indexAtEnd = true, indexCrc = true)))
        }
        // v2 encrypts via the reference's filter; v3 via the codec chain
        // (encrypt after compress, inside any crc32c)
        val (dataCodec, dataFilters) = encryptionKeyHash match {
          case None => (writeCodec(persisted), Seq.empty[ZarrMeta.V2Filter])
          case Some(kh) if useV3 =>
            def inject(c: ZarrCodec.Codec): ZarrCodec.Codec = c match {
              case ZarrCodec.Crc32cCodec(inner) =>
                ZarrCodec.Crc32cCodec(inject(inner))
              case other => ZarrCodec.EncryptionCodec(other, kh)
            }
            (inject(writeCodec(persisted)), Seq.empty[ZarrMeta.V2Filter])
          case Some(kh) =>
            (writeCodec(persisted),
              Seq[ZarrMeta.V2Filter](ZarrMeta.EncryptionFilter(kh)))
        }
        ZArrayMeta(
          shape = shape,
          chunks = chunks,
          dtype = ZarrMeta.parseDtype("<f8"),
          codec = dataCodec,
          fill = Some(Double.NaN),
          dimSeparator = keySep,
          attrs = JObj(Seq(
            "_ARRAY_DIMENSIONS" -> graft.meta.JArr(dims.map(JStr(_))))),
          filters = dataFilters,
          keyPrefix = keyPfx,
          sharding = sharding)
    }
  }

  /** Rewrite coordinate arrays + all `.zarray` docs + consolidated
    * metadata for the given axes (driver-side; coords are KB-scale). */
  private def writeAxesAndMeta(persisted: Option[ZArrayMeta],
      timeMicros: Array[Long],
      spatial: Seq[Array[Double]]): Unit = {
    val cCodec = coordCodec(persisted)
    val timeMeta = ZArrayMeta(
      shape = Seq(timeMicros.length),
      chunks = Seq(math.max(timeMicros.length, 1)),
      dtype = ZarrMeta.parseDtype("<i8"),
      codec = cCodec, fill = None, dimSeparator = keySep,
      attrs = JObj(Seq(
        "_ARRAY_DIMENSIONS" -> graft.meta.JArr(Seq(JStr(timeCol))),
        "units" -> JStr(TimeUnits),
        "calendar" -> JStr("proleptic_gregorian"))),
      keyPrefix = keyPfx)
    ZarrIO.writeArray(conf, path, timeCol, timeMeta, timeMicros.map(_.toDouble))
    nonTimeDims.zip(spatial).foreach { case (dim, vals) =>
      val m = ZArrayMeta(
        shape = Seq(vals.length), chunks = Seq(math.max(vals.length, 1)),
        dtype = ZarrMeta.parseDtype("<f8"),
        codec = cCodec, fill = None, dimSeparator = keySep,
        attrs = JObj(Seq(
          "_ARRAY_DIMENSIONS" -> graft.meta.JArr(Seq(JStr(dim))))),
        keyPrefix = keyPfx)
      ZarrIO.writeArray(conf, path, dim, m, vals)
    }
    // the data variable's document reflects the (possibly extended) shape
    val dm = dataMeta(persisted, timeMicros.length, spatial)
    if (useV3)
      ZarrIO.writeUtf8(conf, s"$path/${desc.dataVar}/zarr.json", dm.renderV3)
    else {
      ZarrIO.writeUtf8(conf, s"$path/${desc.dataVar}/.zarray", dm.render)
      ZarrIO.writeUtf8(conf, s"$path/${desc.dataVar}/.zattrs", dm.attrs.render)
    }
    refreshConsolidated(readAttrsJson())
  }

  private def readTimeAxisMicros(): Array[Long] = {
    val arrays = listArrays().toMap
    val meta = arrays.getOrElse(timeCol,
      throw new IllegalStateException(s"Store at $path has no $timeCol axis"))
    require(meta.shape.head <= MaxAxisLength,
      s"$timeCol axis of ${meta.shape.head} values exceeds the driver-held " +
        s"planning bound $MaxAxisLength (see collectAxes)")
    // honor the persisted CF units — a store written by other tooling
    // typically encodes "hours/days since <epoch>", not raw epoch-micros
    val (mult, epoch) = meta.attr("units")
      .flatMap(graft.sources.nc.NcFormat.parseTimeUnits)
      .getOrElse((1L, 0L))
    coordinate(timeCol, meta).map(_.toLong * mult + epoch)
  }

  private def coordinate(name: String, meta: ZarrMeta.ZArrayMeta): Array[Double] =
    ZarrMeta.ResolvedArray(name, meta, ZarrMeta.DirChunks(s"$path/$name"))
      .readCoordinate(conf)

  private def readSpatialAxes(): Seq[(String, Array[Double])] = {
    val arrays = listArrays().toMap
    nonTimeDims.map { dim =>
      val meta = arrays.getOrElse(dim,
        throw new IllegalStateException(s"Store at $path has no $dim axis"))
      require(meta.shape.head <= MaxAxisLength,
        s"$dim axis of ${meta.shape.head} values exceeds the driver-held " +
          s"planning bound $MaxAxisLength (see collectAxes)")
      dim -> coordinate(dim, meta)
    }
  }
}

object ZarrStore {

  /** CF time units for the store's time axis. MICROSECOND resolution — the
    * update path compares the frame's epoch-micros timestamps against the
    * persisted axis, so the axis must hold full precision or any sub-second
    * timestamp would look like a brand-new coordinate and trip the
    * append-monotonicity check. (Micros stay exact in an f8/i8 value until
    * year ~2255: 2^53 µs.) */
  val TimeUnits = "microseconds since 1970-01-01T00:00:00"

  /** Driver-held axis guard for planning reads (see `collectAxes` and
    * `readTimeAxisMicros`): 16M distinct values ≈ 128 MB of doubles —
    * ~20× hourly-ERA5-since-1940 headroom, far below driver OOM. */
  val MaxAxisLength: Int = 1 << 24

  def ldt2micros(t: java.time.LocalDateTime): Long =
    t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000

  def micros2ldt(m: Long): java.time.LocalDateTime =
    java.time.LocalDateTime.ofEpochSecond(m / 1000000L,
      ((m % 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
}
