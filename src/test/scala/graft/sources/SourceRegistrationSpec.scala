package graft.sources

import scala.io.Source
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.datasources.DataSource
import org.apache.spark.sql.sources.DataSourceRegister

import graft.SparkSpec

/** The `DataSourceRegister` service file is the only thing that maps a
  * short name to a provider class, and a stale line in it fails nothing
  * at compile time: every `format("…")` read of that name just throws
  * DATA_SOURCE_NOT_FOUND at run time. This pins the file against the
  * provider classes. */
class SourceRegistrationSpec extends SparkSpec {

  private val providers = Seq(
    "netcdf" -> "graft.sources.nc.NcDataSource",
    "grib1" -> "graft.sources.grib.GribDataSource",
    "grib-spectral" -> "graft.sources.grib.GribSpectralDataSource",
    "zarr" -> "graft.sources.zarr.ZarrDataSource",
    "kerchunk" -> "graft.sources.zarr.KerchunkDataSource",
    "geotiff" -> "graft.sources.tiff.TiffDataSource",
    "warc" -> "graft.sources.archive.WarcDataSource",
    "webdataset" -> "graft.sources.archive.WebdatasetDataSource",
    "zip" -> "graft.sources.archive.ZipDataSource")

  test("META-INF/services lists exactly the nine graft providers") {
    val service = "META-INF/services/" + classOf[DataSourceRegister].getName
    // Spark's own jars carry the same service file; ours is the one
    // naming graft classes
    val ours = getClass.getClassLoader.getResources(service).asScala.toSeq
      .map { url =>
        val src = Source.fromURL(url, "UTF-8")
        try src.getLines().map(_.trim)
          .filter(l => l.nonEmpty && !l.startsWith("#")).toList
        finally src.close()
      }
      .filter(_.exists(_.startsWith("graft.")))
    assert(ours.length == 1, s"graft service files on the classpath: $ours")
    assert(ours.head.sorted == providers.map(_._2).sorted)
  }

  test("each provider class loads and each short name resolves to it") {
    providers.foreach { case (name, cls) =>
      val c = Class.forName(cls)
      val p = c.getDeclaredConstructor().newInstance()
        .asInstanceOf[DataSourceRegister]
      assert(p.shortName() == name)
      // the lookup `spark.read.format(name).load(…)` runs
      assert(DataSource.lookupDataSource(name, spark.sessionState.conf) == c,
        s"format(\"$name\")")
    }
  }
}
