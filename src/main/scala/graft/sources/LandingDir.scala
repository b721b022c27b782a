package graft.sources

import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.{Await, ExecutionContext, Future, blocking}
import scala.concurrent.duration.Duration

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path => HPath}

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The landing-directory plumbing every file-format source shares: one
  * listing, one `maxFilesPerTrigger` parse, and (beside it) one header
  * cache and one watermark stream. Spark's own `FileStreamSource` — one
  * file stream for every file format — is the design precedent. */
object LandingDir {

  /** Natural-sorted files under the given paths: a directory expands to
    * its files whose NAME passes `accept`, an explicit file is taken as
    * is, and a missing path (a streaming landing dir not yet created) is
    * empty. Natural order (`Manifest.naturalKey`: part10 sorts after
    * part9) is what keeps the streaming filename watermark from
    * stranding a file. Path statuses resolve in parallel: a manager
    * passing one explicit path per archive FILE must not pay O(files)
    * SERIAL remote round trips at planning. */
  def list(conf: Configuration, paths: Seq[String],
      accept: String => Boolean): Seq[FileStatus] = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.traverse(paths) { p0 =>
      Future(blocking {
        val p = new HPath(p0)
        val fs = p.getFileSystem(conf)
        // one RPC, not exists + getFileStatus
        try {
          val st = fs.getFileStatus(p)
          if (st.isDirectory)
            fs.listStatus(p).toSeq.filter(_.isFile)
              .filter(f => accept(f.getPath.getName))
          else Seq(st)
        } catch {
          case _: java.io.FileNotFoundException => Seq.empty[FileStatus]
        }
      })
    }, Duration.Inf).flatten
      .sortBy(st => Manifest.naturalKey(st.getPath.toString))
  }

  /** The `maxFilesPerTrigger` option: None when unset; a value that is
    * not a positive integer refuses by name — 0 would admit no file,
    * ever, and stall the stream silently. */
  def maxFilesPerTrigger(options: CaseInsensitiveStringMap): Option[Int] =
    Option(options.get("maxFilesPerTrigger")).map { s =>
      val n = s.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"maxFilesPerTrigger must be a positive integer, got '$s'"))
      require(n > 0, s"maxFilesPerTrigger must be positive, got $n " +
        "(0 would stall the stream silently)")
      n
    }

  /** A byte-size option (`splitBytes`, `maxSplitBytes`,
    * `maxMemberBytes`): `default` when unset; a value that is not a
    * positive integer refuses by name — 0 or less would otherwise plan
    * one unit per split, or fail later without naming the option. */
  def bytesOption(options: CaseInsensitiveStringMap, name: String,
      default: Long): Long =
    Option(options.get(name)).map { s =>
      val n = s.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"$name must be a positive integer, got '$s'"))
      require(n > 0, s"$name must be positive, got $n")
      n
    }.getOrElse(default)
}

/** Per-JVM memo of parsed file headers (GRIB message index, TIFF IFDs,
  * NetCDF layouts, ZIP central directories, netCDF-4 combines), keyed by
  * (path, mtime, length) plus an optional `extra` key such as a TIFF
  * overview level — a rewritten file is a fresh key. Planning is
  * header-only and every `load` resolves twice (inferSchema, then
  * getTable), so the second resolve and every streamed batch hit here.
  *
  * An ACCESS-ordered LRU bounded at [[maxFiles]] entries: crossing the
  * bound evicts only the oldest-touched entries, so planning an archive
  * larger than the bound re-parses the spillover — not, as a clear-all
  * would, the entire working set on every later plan. */
final class HeaderCache[V](bound: Int) {
  /** Entry bound; a `var` so the eviction specs can shrink it —
    * production never writes it. */
  @volatile var maxFiles: Int = bound
  /** Cache-miss parses — observability for the eviction specs. */
  val parses = new AtomicLong

  private val lru = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[Any, V](256, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Any, V]): Boolean =
        size() > maxFiles
    })

  /** Start from empty so eviction order is deterministic (specs only). */
  def clear(): Unit = lru.clear()

  private def fileKey(st: FileStatus): (String, Long, Long) =
    (st.getPath.toString, st.getModificationTime, st.getLen)

  private def lookup(key: Any, parse: => V): V = {
    val hit = lru.get(key)
    if (hit != null) hit
    else {
      // parse OUTSIDE the map lock: misses parse concurrently, and
      // holding the LRU lock through remote I/O would serialize them; a
      // rare duplicate parse of one file is cheaper than that convoy
      parses.incrementAndGet()
      val v = parse
      lru.put(key, v)
      v
    }
  }

  /** One file's entry. */
  def apply(st: FileStatus, extra: Any = None)(parse: FileStatus => V): V =
    lookup((fileKey(st), extra), parse(st))

  /** One entry derived from a SET of files (a multi-file combine). */
  def combined(files: Seq[FileStatus], extra: Any = None)(parse: => V): V =
    lookup((files.map(fileKey), extra), parse)

  /** Every file's entry, in order. Misses parse in parallel on the global
    * pool first — a header walk is one remote round trip per file, so
    * planning a thousand-file archive must not be O(files) SERIAL I/O;
    * `blocking` lets the pool grow past the CPU count for that Hadoop
    * I/O. Entries are then served in listing order, so LRU recency
    * follows the listing (an entry evicted meanwhile, when the files
    * outnumber the bound, re-parses there). */
  def all(files: Seq[FileStatus], extra: Any = None)(
      parse: FileStatus => V): Seq[V] = {
    val misses = files.filterNot(st => lru.containsKey((fileKey(st), extra)))
    if (misses.nonEmpty) {
      implicit val ec: ExecutionContext = ExecutionContext.global
      Await.result(Future.traverse(misses)(st =>
        Future(blocking(apply(st, extra)(parse)))), Duration.Inf)
    }
    files.map(st => apply(st, extra)(parse))
  }
}

/** Streaming offset of every landing-dir source: the path of the last
  * admitted file in natural order ("" = nothing yet). Its JSON form is
  * that path as a JSON string. */
final case class WatermarkOffset(watermark: String) extends Offset {
  override def json(): String = graft.meta.JStr(watermark).render
}

/** MICRO_BATCH_READ over a landing directory, for every file-format
  * source: the live-feed shape of operational archives (a new GRIB or
  * NetCDF file per product cycle, one COG per date, finished WARC
  * segments from a crawler).
  *
  * Contract, like `FileStreamSource`'s: landed files are IMMUTABLE and
  * the directory is append-only with naturally-increasing names (the
  * manifest convention). Offsets are filename watermarks that only move
  * forward (each `latestOffset` is anchored on the previous end). Batch
  * admission is per FILE; each admitted file then fans out through
  * `planFile` into the SAME partitions the batch scan plans, read by the
  * batch scan's `factory`. `maxFilesPerTrigger` bounds a batch, so
  * attaching to a pre-populated archive drains it incrementally. */
final class LandingDirStream(
    paths: Seq[String],
    @transient conf: Configuration,
    accept: String => Boolean,
    maxFilesPerTrigger: Option[Int],
    planFile: FileStatus => Seq[InputPartition],
    factory: PartitionReaderFactory)
    extends MicroBatchStream
    with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  require(paths.nonEmpty, "streaming needs the source paths")

  private def key(p: String): String = Manifest.naturalKey(p)
  private def last(files: Seq[FileStatus]): String =
    if (files.isEmpty) "" else files.last.getPath.toString

  /** One listing per trigger: latestOffset selects the batch and caches
    * it for the planInputPartitions call that follows (object stores bill
    * and throttle LIST calls). */
  @volatile private var lastBatch: Option[(String, String, Seq[FileStatus])] = None

  /** Trigger.AvailableNow target: pinned at query start so the
    * MultiBatchExecutor drains up to exactly this point in
    * maxFilesPerTrigger-bounded batches, then terminates. Without this
    * interface Spark falls back to ONE single batch whose read limit
    * would silently strand the backlog. */
  @volatile private var availableNowTarget: Option[String] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(last(LandingDir.list(conf, paths, accept)))

  override def reportLatestOffset(): Offset =
    WatermarkOffset(last(LandingDir.list(conf, paths, accept)))

  override def initialOffset(): Offset = WatermarkOffset("")

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n): ReadLimit)
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is used (SupportsAdmissionControl)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val lo = start.asInstanceOf[WatermarkOffset].watermark
    val candidates = LandingDir.list(conf, paths, accept)
      .filter(st => key(st.getPath.toString) > key(lo))
      .filter(st => availableNowTarget.forall(t =>
        key(st.getPath.toString) <= key(t)))
    val admitted = limit match {
      case m: ReadMaxFiles => candidates.take(m.maxFiles())
      case _ => candidates
    }
    if (admitted.isEmpty) { lastBatch = None; start }
    else {
      val hi = last(admitted)
      lastBatch = Some((lo, hi, admitted))
      WatermarkOffset(hi)
    }
  }

  override def deserializeOffset(json: String): Offset =
    graft.meta.JValue.parse(json) match {
      case graft.meta.JStr(w) => WatermarkOffset(w)
      case other => throw new IllegalArgumentException(
        s"Bad landing-dir offset $other")
    }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[WatermarkOffset].watermark
    val hi = end.asInstanceOf[WatermarkOffset].watermark
    val batch = lastBatch match {
      case Some((l, h, files)) if l == lo && h == hi => files // cached this trigger
      case _ => // checkpoint replay: re-derive from the (immutable) dir
        LandingDir.list(conf, paths, accept).filter { st =>
          val k = key(st.getPath.toString)
          k > key(lo) && k <= key(hi)
        }
    }
    batch.flatMap(planFile).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = factory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
