package graft.store

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType, TimestampNTZType}

import graft.JobLabel
import graft.model.{DatasetDescriptor, TimeUnitKind}
import graft.ops.{DeltaProfile, UpdatePlan}

/** Incremental grid store on bucket-partitioned parquet — the Spark-native
  * re-expression of the reference's Zarr write engine
  * (gridded_etl_tools/utils/publish.py + store.py).
  *
  * Layout: one parquet dataset partitioned by a coarse time bucket column
  * (`__bucket`, e.g. one directory per month). The bucket is the unit of
  * in-place replacement: appends only create new bucket directories, inserts
  * dynamically overwrite only the touched buckets (publish.py:406-478), and
  * partition pruning keeps every read bounded. Within buckets rows are
  * sorted by the standard dims and split at `maxRecordsPerFile` — the
  * two-level dask-chunk / zarr-chunk sizing analog
  * (docs/etl_developers_manual.md:135-152).
  *
  * Scale notes (100 TB): all data paths are single `df.write` jobs — no
  * driver-side row handling. The only driver I/O is the attrs sidecar (a few
  * KB of JSON via the Hadoop FS API, so file:// and s3a:// behave alike).
  */
final class GridStore(
    val spark: SparkSession,
    val path: String,
    val desc: DatasetDescriptor,
    /** Bucket granularity; must be ≥ the dataset resolution. */
    val bucketSpan: TimeUnitKind = TimeUnitKind.Months,
    /** Storage-chunk analog: rows per parquet file within a bucket. */
    val maxRecordsPerFile: Long = 5000000L,
    /** W13 — compression codec (`use_compression` toggle + Blosc LZ4
      * default, metadata.py:939-959): any Spark parquet codec name, or
      * "none"/"uncompressed" to disable. */
    val compression: String = "lz4",
    /** W12, parquet-native: encrypt NEW stores with Parquet Modular
      * Encryption — footer + every data column keyed under the registered
      * master key named by this SHA3-256 hash (see
      * [[graft.functions.Encryption.registerEncryptionKey]]), wrapped
      * through [[GraftKmsClient]]. The hash is persisted in the attrs
      * sidecar, so reopening for reads or updates only needs the key
      * REGISTERED — an unregistered hash fails with the hash named, and a
      * wrong key fails the AEAD unwrap, never as wrong rows. An EXISTING
      * store's persisted profile governs reads and updates: updates to a
      * plaintext store stay plaintext, updates to an encrypted store keep
      * its key, and a constructor hash that CONTRADICTS the profile fails
      * with both named rather than being silently ignored. The one way to
      * change the profile is a full rebuild ([[writeInitial]] /
      * `publish(rebuild = true)`), which rewrites every data file and so
      * adopts the constructor's key. */
    val encryptionKeyHash: Option[String] = None) extends GridPublisher {

  // fail at construction, with the hash named, not mid-publish
  encryptionKeyHash.foreach(graft.functions.Encryption.requireKey)

  /** [[GridPublisher]] — one streaming micro-batch lands through the same
    * publish dispatch. */
  override def publishBatch(update: DataFrame): Unit = publish(update)


  import GridStore._

  private def timeCol = desc.timeDim

  // -------------------------------------------- parquet modular encryption

  /** The key hash this store's data files are (to be) encrypted under:
    * the persisted attr for an EXISTING store (its profile wins — a
    * plaintext store never gains mixed encrypted files and an encrypted
    * store never silently drops its key), the constructor's choice when
    * creating one. A constructor hash that CONTRADICTS an existing
    * store's profile fails with both named (ADVICE r8: silently ignoring
    * it handed plaintext data to a user who asked for encryption, and
    * kept the old key on an attempted rotation); the one path that may
    * legitimately change the profile is a full rebuild, because it
    * rewrites every data file — [[writeInitial]] adopts the constructor
    * key before this resolution runs. */
  private var resolvedEncryptionHash: Option[Option[String]] = None
  private def effectiveEncryptionHash: Option[String] =
    // cached per handle: the profile is immutable once resolved (a new
    // store adopts the constructor key, which writeInitial persists
    // before any data write), and every read/write path consults this —
    // re-reading the sidecar each time would be 4+ extra GETs per publish
    resolvedEncryptionHash.getOrElse {
      val resolved =
        if (hasExisting) {
          val persisted = readAttrs().get(EncryptionKeyHashAttr)
          if (encryptionKeyHash.isDefined && encryptionKeyHash != persisted)
            throw new IllegalStateException(
              s"Store at $path is ${persisted.fold("not encrypted")(h =>
                s"encrypted under key hash $h")} but this handle was " +
                s"constructed with key hash ${encryptionKeyHash.get}: an " +
                "existing store's persisted profile governs reads and " +
                "updates. To change the profile, rebuild the store " +
                "(publish(rebuild = true) / writeInitial), which rewrites " +
                "every data file and adopts the constructor's key")
          persisted
        } else encryptionKeyHash
      resolvedEncryptionHash = Some(resolved)
      resolved
    }

  /** Reader with decryption wired when the store is encrypted: the crypto
    * factory + the registry-backed KMS client; the master-key hash itself
    * rides in each file's key material, so readers only need the key
    * registered. */
  private def encryptedRead: org.apache.spark.sql.DataFrameReader =
    effectiveEncryptionHash match {
      case None => spark.read
      case Some(_) => spark.read.options(CryptoFactoryOptions)
    }

  /** Writer-side options for one job: footer + EVERY column of the frame
    * keyed under the master key (the `__bucket` partition column never
    * reaches the data pages). */
  private def cryptoWriteOptions(dataCols: Seq[String]): Map[String, String] =
    effectiveEncryptionHash match {
      case None => Map.empty
      case Some(kh) => CryptoFactoryOptions ++ Map(
        "parquet.encryption.footer.key" -> kh,
        "parquet.encryption.column.keys" ->
          s"$kh:${dataCols.filterNot(_ == "__bucket").mkString(",")}")
    }

  /** Directory-key pattern of the time bucket: Spark's `date_format` of
    * the time column on the write side, the same pattern over the
    * session-zone wall time on the driver side. */
  private def bucketPattern: String = bucketSpan match {
    case TimeUnitKind.Days => "yyyy-MM-dd"
    case TimeUnitKind.Months => "yyyy-MM"
    case TimeUnitKind.Years => "yyyy"
    case other => throw new IllegalArgumentException(
      s"Unsupported bucket span: $other (use days/months/years)")
  }

  private def bucketExpr = date_format(col(timeCol), bucketPattern)

  private def bucketKey(t: java.time.LocalDateTime): String =
    t.format(java.time.format.DateTimeFormatter.ofPattern(bucketPattern))

  // ------------------------------------------------------------- existence

  /** S12 guard — `has_existing` (store.py:388-396): a store exists when its
    * attrs sidecar does. */
  def hasExisting: Boolean = {
    val fs = fileSystem(spark, path)
    fs.exists(new HPath(attrsPath))
  }

  /** S12 — open the existing store (store.py:182-198). NOTE: `__bucket` is
    * dropped here, so a time filter on this frame prunes via row-group
    * stats only; time-BOUNDED reads should use [[readRange]] /
    * [[readBuckets]], which filter the partition column before the drop and
    * skip unlisted bucket directories entirely. */
  def dataset(): DataFrame = {
    require(hasExisting, s"No existing store at $path")
    storeRows(lit(true))
  }

  /** The store's rows matching `pred` (which may test `__bucket`), time as
    * TIMESTAMP_NTZ, `__bucket` dropped. One filter and one projection: each
    * Dataset step is an analysis pass on the driver, paid at every open. */
  private def storeRows(pred: Column): DataFrame = {
    val files = storeFiles
    files.filter(pred).select(files.columns.toSeq.filter(_ != "__bucket").map {
      case c if c == timeCol => col(c).cast(TimestampNTZType).as(c)
      case c => col(c)
    }: _*)
  }

  /** Every data file as one frame, `__bucket` included. A store whose
    * attrs pin the data schema opens with it: no footer-inference job at
    * open. A store without the key infers from the files. */
  private def storeFiles: DataFrame = {
    val reader = encryptedRead
    pinnedSchema.fold(reader)(reader.schema).parquet(dataPath)
  }

  private def pinnedSchema: Option[StructType] =
    readAttrs().get(DataSchemaAttr).map(DataType.fromJson(_).asInstanceOf[StructType])

  /** The schema a frame's data files read back with: its columns, all
    * nullable as Spark reads files, then the string `__bucket` column. */
  private def storeSchema(df: DataFrame): StructType =
    StructType(df.schema.fields.map(f => StructField(f.name, f.dataType)) :+
      StructField("__bucket", StringType))

  /** An update must carry the pinned schema's columns and types: the
    * store's reads decode every file with it. Fails before any write. */
  private def checkSchema(update: DataFrame): Unit = pinnedSchema.foreach { pinned =>
    val want = StructType(pinned.filterNot(_.name == "__bucket"))
    val got = StructType(storeSchema(update).filterNot(_.name == "__bucket"))
    def cols(s: StructType) = s.fields.map(f => f.name -> f.dataType).toSet
    if (cols(want) != cols(got))
      throw new IllegalArgumentException(
        s"Update schema ${got.simpleString} does not match the store's pinned " +
          s"schema ${want.simpleString} at $path")
  }

  /** Partition-pruned read of specific buckets: the `__bucket` predicate is
    * applied to the partition column itself, so unselected directories are
    * never listed or footer-read — the mechanism every update-path read of
    * the existing store uses. */
  def readBuckets(buckets: Set[String]): DataFrame =
    storeRows(col("__bucket").isin(buckets.toSeq: _*))

  /** F1 at store level — time-range read with bucket-level partition
    * pruning (bucket strings sort chronologically) plus the exact time
    * predicate for row-group pruning within the edge buckets. */
  def readRange(start: java.time.LocalDateTime,
      end: java.time.LocalDateTime): DataFrame =
    storeRows(col("__bucket") >= bucketKey(start) && col("__bucket") <= bucketKey(end) &&
      col(timeCol).cast(TimestampNTZType).between(lit(start), lit(end)))

  // ----------------------------------------------------------- attrs (W8)

  def attrsPath: String = s"$path/_graft_metadata/attrs.json"
  private def dataPath: String = s"$path/data"

  /** Attrs sidecar as the full JSON AST — provider metadata is arbitrarily
    * nested JSON in the reference (store.py:26-46's encoder); nested values
    * survive read-modify-write untouched. */
  def readAttrsJson(): graft.meta.JObj = {
    val fs = fileSystem(spark, path)
    val p = new HPath(attrsPath)
    if (!fs.exists(p)) graft.meta.JObj(Seq.empty)
    else {
      val in = fs.open(p)
      try graft.meta.JValue.parse(
          new String(in.readAllBytes(), StandardCharsets.UTF_8)) match {
        case o: graft.meta.JObj => o
        case _ => graft.meta.JObj(Seq.empty)
      }
      finally in.close()
    }
  }

  def writeAttrsJson(attrs: graft.meta.JObj): Unit = {
    val fs = fileSystem(spark, path)
    val out = fs.create(new HPath(attrsPath), true)
    try out.write(attrs.render.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Nested-safe partial update: only the given keys change. */
  def patchAttrsJson(patch: Map[String, graft.meta.JValue]): Unit =
    writeAttrsJson(patch.toSeq.sortBy(_._1).foldLeft(readAttrsJson()) {
      case (o, (k, v)) => o.updated(k, v)
    })

  /** Metadata-only read of the attrs sidecar as flat strings
    * (store.py:200-247) — string values verbatim, nested values rendered
    * to compact JSON (so flat consumers keep working over nested docs). */
  def readAttrs(): Map[String, String] =
    readAttrsJson().fields.map { case (k, v) =>
      k -> (v match {
        case graft.meta.JStr(s) => s
        case other => other.render
      })
    }.toMap

  def writeAttrs(attrs: Map[String, String]): Unit =
    writeAttrsJson(graft.meta.JObj(
      attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> graft.meta.JStr(v) }))

  /** W8 partial update: patch only the given keys, preserving the rest —
    * including NESTED values of untouched keys; the failure path must
    * never clobber unrelated attrs (publish.py:211-266). */
  def patchAttrs(patch: Map[String, String]): Unit =
    patchAttrsJson(patch.map { case (k, v) => k -> (graft.meta.JStr(v): graft.meta.JValue) })

  // --------------------------------------------------- commit marker (W6)

  /** W10 — refuse to plan an update while another writer is in flight;
    * strict string "true" mirrors the reference's strict `is True`
    * (publish.py:358-375). */
  def checkNotInProgress(): Unit =
    if (readAttrs().get(UpdateInProgressKey).contains("true"))
      throw new IllegalStateException(
        s"Store at $path has update_in_progress=true; refusing concurrent update")

  /** W6 — the mini write-ahead protocol around every data write: set the
    * in-progress flag, run the write, then persist the full post-write
    * attrs with the flag cleared; on failure clear ONLY the flag
    * (publish.py:155-268). */
  private def withCommitMarker(postAttrs: => Map[String, String])(write: => Unit): Unit = {
    patchAttrs(Map(UpdateInProgressKey -> "true"))
    try {
      write
      // patch (not read++write-all): nested attrs of untouched keys survive
      patchAttrs(postAttrs + (UpdateInProgressKey -> "false"))
    } catch {
      case e: Throwable =>
        patchAttrs(Map(UpdateInProgressKey -> "false"))
        throw e
    }
  }

  // -------------------------------------------------------------- writes

  private def layout(df: DataFrame): DataFrame = {
    val sortCols = (timeCol +: desc.standardDims.filter(df.columns.contains))
      .distinct.map(col)
    // Range-partition on (bucket, sort dims): a plain repartition(bucket)
    // would cap write parallelism at one task per bucket — a hot bucket of
    // a 100 TB store would funnel through a single task. Range partitioning
    // splits large buckets across tasks by sort-dim ranges (files within a
    // bucket stay sorted and non-overlapping — the chunk-grid analog) while
    // small buckets still coalesce into few files.
    df.withColumn("__bucket", bucketExpr)
      .repartitionByRange((col("__bucket") +: sortCols): _*)
      .sortWithinPartitions(sortCols: _*)
  }

  private def writeJob(df: DataFrame, mode: String, dynamic: Boolean = false): Unit = {
    // The overwrite mode rides on the writer, not the session conf: inside
    // foreachBatch the batch frame belongs to streaming's CLONED session, so
    // a session-conf toggle on the captured session would silently leave the
    // write in static mode and wipe every untouched partition.
    layout(df).write
      .mode(mode)
      .option("partitionOverwriteMode", if (dynamic) "dynamic" else "static")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .option("compression",
        if (compression == "none") "uncompressed" else compression)
      .options(cryptoWriteOptions(df.columns.toSeq))
      .partitionBy("__bucket")
      .parquet(dataPath)
    // Spark caches the file listing per path; after an in-place partition
    // overwrite a reader holding the stale index hits FILE_NOT_EXIST.
    spark.catalog.refreshByPath(dataPath)
  }

  /** Sever plan lineage from the store's files before overwriting them:
    * a frame that reads the same buckets it is about to replace must be
    * materialized first (executor-local, bucket-bounded — never the whole
    * store). */
  private def materialize(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** W3 — initial write (publish.py:301-318). `profiled`: the caller's
    * [[DeltaProfile]] of `df`, if it built one (see [[publish]]). */
  def writeInitial(df: DataFrame, dryRun: Boolean = false,
      profiled: Option[DeltaProfile] = None): Unit = {
    if (dryRun) return
    // A full (re)build rewrites EVERY data file, so it is the one path
    // that may change the profile: an explicit constructor key is adopted
    // (encrypting a plaintext store, or rotating an encrypted one);
    // omitting the key keeps the persisted profile, so a rebuild never
    // silently decrypts.
    //
    // WHEN the adopted hash persists differs by case (ADVICE r9):
    //  - NEW store: before the commit marker creates the sidecar, so the
    //    store never "exists" without its profile (a failed first write
    //    leaves attrs and partial files agreeing on the same key).
    //  - EXISTING store whose profile CHANGES: only with the post-write
    //    attrs, inside the marker. The rebuild job already encrypts under
    //    the new key via the in-memory resolution below; persisting the
    //    hash early meant a failed job left the sidecar advertising a key
    //    the surviving files don't carry, and later updates from a fresh
    //    handle would silently produce a mixed-key store. With the old
    //    hash still persisted, a failed rotation reads as loud AEAD
    //    errors until the rebuild is retried.
    val persisted =
      if (hasExisting) readAttrs().get(EncryptionKeyHashAttr) else None
    val adopted = encryptionKeyHash.orElse(persisted)
    if (!hasExisting) adopted.foreach(kh =>
      patchAttrs(Map(EncryptionKeyHashAttr -> kh)))
    resolvedEncryptionHash = Some(adopted)
    val rotation: Map[String, String] =
      if (hasExisting && adopted != persisted)
        Map(EncryptionKeyHashAttr -> adopted.get)
      else Map.empty
    // Without a caller's profile, overlap the profile aggregate with the
    // data write (guide §2.6): both read df independently, and the
    // profile's scalars are only consumed AFTER the write succeeds
    // (withCommitMarker evaluates postAttrs lazily) — so the stats job
    // back-fills while the write's tail drains. A failed write just
    // abandons the (read-only) profile future.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = publishEc
    val statsF = profiled match {
      case Some(p) => Future.successful(updateStats(p))
      case None => Future(updateStats(DeltaProfile(df, desc)))
    }
    withCommitMarker(computedAttrs(isUpdate = false,
        Await.result(statsF, Duration.Inf)) ++ rotation +
        (DataSchemaAttr -> storeSchema(df).json)) {
      writeJob(df, "overwrite")
    }
  }

  /** Pad the delta back to bucket completeness with `combineFirst` (J3,
    * publish.py:1341-1385) — this both completes a partial tail bucket on
    * append (the chunk-butt-join analog of publish.py:520-553) and
    * preserves unreplaced cells on insert. The original side is bounded to
    * the touched buckets FIRST, so the full-outer join never sees the rest
    * of the store. When padding applies, the result is MATERIALIZED here
    * (read-only — severs lineage from the store files the write will
    * replace), so [[runUpdate]] can run this job CONCURRENTLY with the
    * quality gate (guide §2.6). Returns (frame, wasPadded) — a padded
    * frame's checkpoint blocks are the caller's to release after the
    * write lands. */
  private def paddedDelta(df: DataFrame, touched: Set[String]): (DataFrame, Boolean) = {
    val overlap = existingBuckets.intersect(touched)
    if (overlap.isEmpty) (df, false)
    else {
      // partition-pruned: only the overlapping bucket dirs are listed
      val original = readBuckets(overlap)
      val keys = desc.standardDims.filter(df.columns.contains)
      (materialize(UpdatePlan.combineFirst(df, original, keys, desc.dataVar)), true)
    }
  }

  // W4 + W5 note: the delta write itself is ONE dynamic-partition-overwrite
  // job (see runUpdate), because dynamic overwrite replaces touched buckets
  // (inserts, publish.py:406-450) and creates brand-new ones (appends,
  // publish.py:452-478) in the same pass.

  /** Maintenance — compact the given buckets (default: all): incremental
    * appends accumulate small files per bucket; compaction rewrites each
    * selected bucket as maxRecordsPerFile-sized sorted files via the same
    * dynamic-overwrite path as inserts, under the commit marker, leaving
    * attrs untouched. The store-layout "gardening" analog of the
    * reference's offline rechunking (metadata.py:961-1072). */
  def compact(buckets: Set[String] = Set.empty): Unit = {
    checkNotInProgress()
    val target = if (buckets.isEmpty) existingBuckets else buckets
    if (target.isEmpty) return
    withCommitMarker(Map.empty) {
      val data = materialize(readBuckets(target))
      writeJob(data, "overwrite", dynamic = true)
      graft.Housekeeping.release(data)
    }
  }

  /** W2 — publish dispatch (publish.py:86-129): initial when nothing
    * exists (or rebuilding), else classify + insert + append.
    *
    * `profiled`: a caller that already built the [[DeltaProfile]] of
    * `update` (DatasetManager.run does, for its pre-parse gate) passes it
    * here, and the store takes its stats from it instead of profiling
    * again. On the update path such a caller also passes `update`
    * materialized and keeps ownership of its blocks: the store neither
    * checkpoints nor releases it. */
  def publish(
      update: DataFrame,
      rebuild: Boolean = false,
      allowOverwrite: Boolean = true,
      dryRun: Boolean = false,
      profiled: Option[DeltaProfile] = None): Unit = {
    if (!hasExisting || rebuild) {
      if (hasExisting && rebuild && !allowOverwrite)
        throw new IllegalStateException(
          "Rebuild of an existing store requires allowOverwrite " +
            "(publish.py:342-348 semantics)")
      writeInitial(update, dryRun, profiled)
    } else runUpdate(update, dryRun, profiled)
  }

  /** Update path (publish.py:322-356): guard the in-progress flag and the
    * pinned schema, profile the delta (unless the caller did), then
    * classify times, gate, pad and write. */
  private def runUpdate(update: DataFrame, dryRun: Boolean,
      profiled: Option[DeltaProfile]): Unit = {
    checkNotInProgress()
    checkSchema(update)
    // Materialize the delta ONCE: profile, classification, padding and the
    // write all re-read it, and its lineage may be an arbitrary upstream
    // pipeline. An update is a bounded delta relative to the store (the
    // reference holds it in memory too), so this is an executor-local
    // checkpoint of the small side, never the store. LAZY (r16): the
    // profile aggregate right below is the first action and materializes
    // the blocks as it folds — an eager checkpoint was a whole extra job
    // per publish. A caller that passes its profile materialized the
    // delta itself and releases it.
    val updateDf = if (profiled.isDefined) update else update.localCheckpoint(false)
    try updateProfiled(updateDf, profiled.getOrElse(DeltaProfile(updateDf, desc)), dryRun)
    finally if (profiled.isEmpty) graft.Housekeeping.release(updateDf)
  }

  private def updateProfiled(updateDf: DataFrame, profile: DeltaProfile,
      dryRun: Boolean): Unit = {
    // The profile's stats serve the gate, attrs assembly and bucket
    // planning below.
    val stats = updateStats(profile)
    // The gate's ONE action: the store's distinct times inside the update
    // window (a time is an insert iff the store holds it) plus those of its
    // last bucket (whose max is the store's end), one bucket-pruned collect
    // bounded by timesteps, never cells; the profile's times are classified
    // on the driver. It reads the CURRENT store files, which the write below
    // replaces, so it must end first (StoreGateOrderSpec pins the ordering
    // at the job level).
    def runGate(): Unit = {
      val t = col(timeCol)
      val inWindow = col("__bucket").between(bucketKey(stats.uLo), bucketKey(stats.uHi)) &&
        t.cast(TimestampNTZType).between(lit(stats.uLo), lit(stats.uHi))
      val inLast = existingBuckets.toSeq.sorted.lastOption.fold(lit(false))(col("__bucket") === _)
      val stored = JobLabel(spark, "graft.store: update gate") {
        storeFiles.filter(t.isNotNull && (inWindow || inLast))
          .select(unix_millis(t.cast("timestamp")), t.cast(TimestampNTZType))
          .distinct().collect()
      }
      val storedLocal = stored.map(_.getAs[java.time.LocalDateTime](1)).toSet
      val (inserts, appends) = profile.timed.partition(s => storedLocal(s.local))
      UpdatePlan.updateVerdict(inserts.size, appends.map(_.epochMs).minOption,
        stored.map(_.getLong(0)).maxOption, desc.timeResolution, desc.updateCadenceBounds)
    }
    if (dryRun) {
      runGate()
      return
    }
    // Overlap the gate with the padding read (guide §2.6): both are
    // INDEPENDENT read-only jobs over pre-write store files — the gate's
    // collect and the combine-first materialization — and both must
    // finish before the data write. Running the padding job on the shared
    // store pool lets its tasks back-fill executors while the gate's
    // (driver-latency-bound) collect round-trips; job descriptions are
    // thread-local so the ordering spec can tell them apart. The gate
    // still completes BEFORE any write: writeJob runs only after both the
    // Await and a successful gate.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = publishEc
    val padF = Future {
      JobLabel(spark, "graft.store: padding read")(paddedDelta(updateDf, stats.touched))
    }
    val gateOutcome = scala.util.Try(runGate())
    // the padding job must complete either way — a failed gate must not
    // leave its checkpoint job racing a caller's retry
    val padOutcome = scala.util.Try(Await.result(padF, Duration.Inf))
    gateOutcome.failed.foreach { e =>
      padOutcome.foreach { case (padded, wasPadded) =>
        if (wasPadded) graft.Housekeeping.release(padded)
      }
      throw e
    }
    val (padded, wasPadded) = padOutcome.get
    try {
      withCommitMarker(computedAttrs(isUpdate = true, stats)) {
        JobLabel(spark, "graft.store: delta write") {
          writeJob(padded, "overwrite", dynamic = true)
        }
      }
    } finally {
      // every consumer (gate, padding, write) has run: the padded frame's
      // checkpoint blocks are dead (runUpdate releases the delta's)
      if (wasPadded) graft.Housekeeping.release(padded)
    }
  }

  // ------------------------------------------------------------- helpers

  private def existingBuckets: Set[String] = {
    val fs = fileSystem(spark, path)
    val p = new HPath(dataPath)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith("__bucket="))
      .map(_.stripPrefix("__bucket="))
      .toSet
  }

  /** Every scalar the publish protocol needs, derived on the driver from
    * the delta's [[DeltaProfile]] — raw time bounds (classification
    * window), formatted date range + bbox (attrs assembly), and the touched
    * bucket set (dynamic-overwrite planning). Wall times are session-zone
    * (a TIMESTAMP column's `cast(time as timestamp_ntz)`), so the
    * formatted range and the buckets equal Spark's `date_format` of the
    * time column. */
  private[store] final case class UpdateStats(
      uLo: java.time.LocalDateTime, uHi: java.time.LocalDateTime,
      lo: String, hi: String,
      bbox: Option[(Double, Double, Double, Double)],
      touched: Set[String])

  private[store] def updateStats(profile: DeltaProfile): UpdateStats = {
    val locals = profile.timed.map(_.local)
    if (locals.isEmpty)
      throw new IllegalStateException("Update contains no new or changed records")
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHH")
    implicit val ldtOrd: Ordering[java.time.LocalDateTime] =
      Ordering.fromLessThan(_ isBefore _)
    UpdateStats(
      uLo = locals.min, uHi = locals.max,
      // steps are in the column's own order: the first is min(time)
      lo = locals.head.format(fmt), hi = locals.last.format(fmt),
      bbox = profile.bbox,
      touched = locals.map(bucketKey).toSet)
  }

  /** W14 — attrs assembly after a write (metadata.py:870-921): date range,
    * update range, previous end, append-only flag, bbox when the frame
    * carries lat/lon spatial dims. */
  private def computedAttrs(isUpdate: Boolean, stats: UpdateStats): Map[String, String] = {
    val (lo, hi) = (stats.lo, stats.hi)
    val prior = readAttrs() // one sidecar read serves bbox merge + ranges
    val bboxAttrs = stats.bbox match {
      case None => Map.empty[String, String]
      case Some((bb0, bb1, bb2, bb3)) =>
        // union-extend the prior bbox (metadata.py bbox merge semantics)
        val merged = prior.get("bbox") match {
          case Some(old) if isUpdate =>
            val o = old.split(",").map(_.toDouble)
            Seq(math.min(o(0), bb0), math.min(o(1), bb1),
              math.max(o(2), bb2), math.max(o(3), bb3))
          case _ => Seq(bb0, bb1, bb2, bb3)
        }
        Map("bbox" -> merged.mkString(","))
    }
    val start = if (isUpdate) prior.getOrElse("date_range_start", lo) else lo
    val priorEnd = prior.get("date_range_end")
    val end = priorEnd.filter(_ > hi).getOrElse(hi)
    Map(
      "dataset_name" -> desc.datasetName,
      "data_var" -> desc.dataVar,
      "time_resolution" -> desc.timeResolution.toString,
      "date_range_start" -> start,
      "date_range_end" -> end,
      "update_date_range_start" -> lo,
      "update_date_range_end" -> hi,
      "update_is_append_only" -> (!isUpdate).toString,
      "update_previous_end_date" -> priorEnd.getOrElse(""),
    ) ++ bboxAttrs ++ desc.staticMetadata
  }
}

object GridStore {
  val UpdateInProgressKey = "update_in_progress"

  /** Attrs key pinning the data files' schema (Spark's JSON form, with the
    * `__bucket` partition column): reads open with it instead of inferring
    * it from a footer. Written by every initial publish. */
  val DataSchemaAttr = "data_schema"

  /** Attrs key persisting the store's master-key hash (never the key) —
    * the parquet analog of the zarr filter chain's key_hash config. */
  val EncryptionKeyHashAttr = "encryption_key_hash"

  /** Parquet Modular Encryption plumbing shared by every encrypted read
    * and write: parquet-mr's properties-driven factory + the
    * registry-backed KMS client. */
  val CryptoFactoryOptions: Map[String, String] = Map(
    "parquet.crypto.factory.class" ->
      "org.apache.parquet.crypto.keytools.PropertiesDrivenCryptoFactory",
    "parquet.encryption.kms.client.class" -> "graft.store.GraftKmsClient")

  /** Small shared daemon pool for a publish's overlapped read-only jobs
    * (guide §2.6): the initial write's profile and an update's padding
    * read run here beside the job the caller's thread runs. */
  private[store] lazy val publishEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(3, r => {
        val t = new Thread(r, "graft-store-publish")
        t.setDaemon(true)
        t
      }))

  def fileSystem(spark: SparkSession, path: String): FileSystem =
    new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // The attrs sidecar codec is the shared graft.meta JSON AST (nested
  // values first-class, store.py:26-46 parity); see read/writeAttrsJson.
}
