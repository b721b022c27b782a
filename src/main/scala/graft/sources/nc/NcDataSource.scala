package graft.sources.nc

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{HeaderCache, LandingDir, LandingDirStream, Manifest, Pushdown}
import graft.sources.h5.Hdf5Kerchunk
import graft.sources.zarr.{Kerchunk, ZarrGrid, ZarrScan, ZarrTable}
import graft.sources.zarr.ZarrMeta.ResolvedStore

/** DataSource V2 reader for NetCDF grids — S9's real form. The reference
  * never reads NetCDF bytes itself: it indexes each file as kerchunk
  * byte-range references and opens them as zarr (`kerchunkify` +
  * `MultiZarrToZarr`, transform.py:84-279). So does this scan: a classic
  * (CDF-1/2/5) file becomes the in-memory zarr store of
  * `Kerchunk.classicStore`, a netCDF-4 file set the store of its combined
  * HDF5 manifest, and both are read by the one gridded scan, [[ZarrScan]].
  *
  * `spark.read.format("netcdf").load(pathOrDir)` yields one row per grid
  * cell: one column per dimension (the coordinate variable's values; a
  * CF-style `units: "<u> since <epoch>"` time coordinate surfaces as
  * TIMESTAMP_NTZ) plus one column per data variable.
  *
  * Scale design:
  *  - **Column pruning is byte pruning**: every variable has its own file
  *    extent, so an unprojected variable is never read.
  *  - **Filter pushdown is index pruning**: predicates on monotonic
  *    coordinate axes become index ranges; whole files are skipped when a
  *    range is empty (the manifest-pruning analog, F6), the outer dimension
  *    range bounds which record slabs are ever seeked, and inner ranges
  *    bound each slab read to the covering span.
  *  - **Partitioning**: a classic file is chunked per record (or outer
  *    row), and runs of chunks split at `splitBytes` (default 128 MB) per
  *    task, so a year-long file fans out across executors instead of
  *    pinning one task. A directory is N files, each with its own axes.
  */
class NcDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "netcdf"

  /** External metadata supported so a STREAMING query can start (or
    * restart from its checkpoint) against an EMPTY landing dir — the
    * normal state of a drained/pre-first-file source. Batch inference
    * still requires at least one file. */
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    NcTable.resolveAny(options, providedSchema = None).schema()

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    NcTable.resolveAny(new CaseInsensitiveStringMap(properties),
      providedSchema = Option(schema))
}

object NcTable {
  /** Route on the files' magic: classic CDF-1/2/5 goes through its
    * computed zarr store, netCDF-4 (HDF5) through its kerchunk manifest —
    * both into the zarr scan, exactly the reference's own architecture
    * (`kerchunkify` runs SingleHdf5ToZarr + MultiZarrToZarr,
    * transform.py:16, 84-155). One `format("netcdf")` covers both, like
    * xarray's open_dataset. */
  def resolveAny(options: CaseInsensitiveStringMap,
      providedSchema: Option[StructType]): Table with SupportsRead = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val paths: Seq[String] = Option(options.get("paths")) match {
      case Some(js) => // minimal JSON-array-of-strings decode
        "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(js).map(_.group(1)).toSeq
      case None => Option(options.get("path")).toSeq
    }
    val maxFilesPerTrigger = LandingDir.maxFilesPerTrigger(options)
    val splitBytes = LandingDir.bytesOption(options, "splitBytes", 128L << 20)
    val files = LandingDir.list(conf, paths, Manifest.isNetcdf)
    val hdf5 = files.headOption.exists { st =>
      val in = st.getPath.getFileSystem(conf).open(st.getPath)
      val magic = new Array[Byte](8)
      try { in.readFully(0L, magic); graft.sources.h5.H5Format.isHdf5(magic) }
      catch { case _: java.io.EOFException => false }
      finally in.close()
    }
    if (!hdf5)
      classic(conf, paths, files, splitBytes, maxFilesPerTrigger, providedSchema)
    else {
      // xarray's group= addressing for grouped netCDF-4 files: scan ONE
      // group's variables; an unselected grouped file refuses by name
      val group = Option(options.get("group")).filter(_.nonEmpty)
      val filePaths = files.map(_.getPath.toString)
      // the manifest walks every file's metadata: memoize per file set
      val store = h5Stores.combined(files, group)(
        Hdf5Kerchunk.combinedStore(conf, filePaths, group))
      val label = paths.mkString(",") +
        (if (filePaths.length > 1) s" (${filePaths.length} nc4 files)" else "")
      ZarrTable.fromStore(conf, label, store, splitBytes)
    }
  }

  /** netCDF-4 combines (kerchunk manifest → zarr store) per file set and
    * group. */
  private val h5Stores = new HeaderCache[ResolvedStore](1024)

  /** Classic-NetCDF grids per (path, mtime, length). */
  private[sources] val grids = new HeaderCache[ZarrGrid](4096)

  private def classic(conf: Configuration, paths: Seq[String],
      files: Seq[FileStatus], splitBytes: Long,
      maxFilesPerTrigger: Option[Int],
      providedSchema: Option[StructType]): NcTable = {
    require(paths.nonEmpty, "netcdf scan needs a path")
    if (files.isEmpty) {
      // only a user/checkpoint-provided schema can stand in for the files
      require(providedSchema.isDefined,
        s"No .nc files under ${paths.mkString(",")} and no schema provided")
      return new NcTable(Seq.empty, providedSchema.get, splitBytes, conf, paths,
        maxFilesPerTrigger)
    }
    val gs = gridsOf(conf, files)
    val schema = ZarrTable.schemaOf(gs.head)
    // every file must present the same scan schema (a multi-file archive is
    // one dataset split along the record dim, like the reference's
    // multi-file kerchunk combine, S10)
    gs.tail.foreach { g =>
      val s = ZarrTable.schemaOf(g)
      require(s == schema, s"${g.source} schema $s differs from ${gs.head.source} $schema")
    }
    providedSchema.foreach(p => require(p == schema,
      s"Provided schema $p differs from the files' $schema"))
    new NcTable(gs, schema, splitBytes, conf, paths, maxFilesPerTrigger)
  }

  /** Every file's grid, in order — shared by batch planning and the
    * micro-batch stream. */
  private[nc] def gridsOf(conf: Configuration, files: Seq[FileStatus]): Seq[ZarrGrid] =
    grids.all(files) { st =>
      val path = st.getPath.toString
      ZarrTable.planGrid(conf, path, Kerchunk.classicStore(conf, path)._2)
    }
}

final class NcTable(
    val grids: Seq[ZarrGrid],
    val schema0: StructType,
    val splitBytes: Long,
    @transient val conf: Configuration,
    val paths: Seq[String],
    val maxFilesPerTrigger: Option[Int] = None) extends Table with SupportsRead {
  override def name(): String = grids.headOption match {
    case Some(g) =>
      s"netcdf(${g.source}${if (grids.length > 1) s" +${grids.length - 1}" else ""})"
    case None => s"netcdf(${paths.mkString(",")} <empty>)"
  }
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  /** Axis monotonic in every file → an index range is an EXACT rewrite of
    * a comparison on it. An empty table (a bare streaming landing dir)
    * claims nothing, so every filter stays residual for the stream's
    * lifetime — correct but unpruned; start streams against a seeded dir
    * when pushdown matters. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val monotone = grids.headOption.toSeq.flatMap(_.axes.map(_.name))
      .filter(n => grids.forall(_.axes.find(_.name == n).exists(_.monotonic)))
    new Pushdown.Builder(schema0, Pushdown.axisClaim(monotone.toSet))(
      new ZarrScan(grids, _, _, splitBytes, conf) {
        override def description(): String = {
          val first = this.grids.headOption.map(ranges(_, "<file pruned>"))
            .getOrElse("<no files>")
          s"graft-netcdf files=${this.grids.length}, " +
            s"PushedFilters: [${pushed.mkString(", ")}], firstFileRanges: [$first], " +
            s"ReadSchema: ${readSchema().simpleString}"
        }

        /** Streaming ingest of a landing directory — the reference's
          * incremental update loop (new files appear, get published) as a
          * Structured Streaming source. The offset is a FILENAME WATERMARK:
          * a micro-batch covers files whose sorted name exceeds it, so
          * files must land with monotonically increasing names — the same
          * manifest naming convention `checkIfNewData` and the reference
          * rely on (convenience.py:473-504). Each landed file is planned as
          * a one-grid scan, with this scan's pushdown and column pruning. */
        override def toMicroBatchStream(checkpointLocation: String)
            : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
          new LandingDirStream(paths, conf, Manifest.isNetcdf, maxFilesPerTrigger,
            planFile, createReaderFactory())

        private def planFile(st: FileStatus): Seq[InputPartition] = {
          val g = NcTable.gridsOf(conf, Seq(st)).head
          // a late-landing file must present the stream's schema, like
          // S10's identical-dims assertion in the batch combine
          require(ZarrTable.schemaOf(g) == schema0,
            s"${g.source} schema ${ZarrTable.schemaOf(g)} drifted from the " +
              s"stream's $schema0")
          // …and axes backing CLAIMED pushed filters must stay monotonic:
          // the index-range rewrite is exact only then, and no residual
          // filter remains in the plan to catch an out-of-order late file
          pushed.flatMap(_.references).toSet.foreach { (ref: String) =>
            g.axes.find(_.name == ref).foreach(a => require(a.monotonic,
              s"${g.source}: axis $ref is not monotonic but a pushed filter " +
                "references it — refuse rather than return wrong rows"))
          }
          partitionsOf(g)
        }
      })
  }
}

/** Hadoop Configuration is not Serializable; ship it via its own writable
  * form (the standard connector pattern). */
final class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}
