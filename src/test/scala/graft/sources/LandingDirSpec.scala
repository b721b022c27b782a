package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.ReadLimit

import graft.SparkSpec

/** The shared landing-dir plumbing: the one `maxFilesPerTrigger` parse
  * every streaming source uses, and the parts of [[LandingDirStream]]
  * that the per-format streaming specs never reach — checkpoint replay
  * and offsets written by an earlier build. */
class LandingDirSpec extends SparkSpec {

  private final case class FilePart(name: String) extends InputPartition

  /** A stream over `dir` whose partitions are just the admitted files'
    * names, so admission and replay are visible directly. */
  private def stream(dir: String) = new LandingDirStream(Seq(dir),
    spark.sparkContext.hadoopConfiguration, _.endsWith(".nc"), None,
    st => Seq(FilePart(st.getPath.getName)), null)

  private def names(ps: Array[InputPartition]): Seq[String] =
    ps.toSeq.map(_.asInstanceOf[FilePart].name)

  /** Landing dir with part1, part2, part9, part10, part11 (.nc) plus a
    * file the accept predicate skips; returns (dir, listed path by name). */
  private def landing(): (String, Map[String, String]) = {
    val dir = Files.createTempDirectory("landing").toString
    Seq("part1", "part2", "part9", "part10", "part11").foreach(n =>
      Files.write(Paths.get(s"$dir/$n.nc"), Array[Byte](1)))
    Files.write(Paths.get(s"$dir/notes.txt"), Array[Byte](1))
    val listed = LandingDir.list(spark.sparkContext.hadoopConfiguration,
      Seq(dir), _.endsWith(".nc"))
    (dir, listed.map(st => st.getPath.getName -> st.getPath.toString).toMap)
  }

  test("maxFilesPerTrigger <= 0 or non-integer is refused by name in " +
      "every streaming source") {
    val dir = Files.createTempDirectory("mfpt").toString
    for {
      name <- Seq("netcdf", "grib1", "geotiff", "warc", "webdataset", "zip")
      bad <- Seq("0", "-1", "two")
    } {
      val e = intercept[IllegalArgumentException](
        spark.readStream.format(name).option("maxFilesPerTrigger", bad)
          .load(dir))
      assert(e.getMessage.contains("maxFilesPerTrigger") &&
        e.getMessage.contains(bad), s"$name/$bad: ${e.getMessage}")
    }
    // the byte-size options share the parse: refused by name as well
    for {
      (name, option) <- Seq("netcdf" -> "splitBytes", "zarr" -> "splitBytes",
        "kerchunk" -> "splitBytes", "zip" -> "maxSplitBytes",
        "warc" -> "maxSplitBytes", "warc" -> "maxMemberBytes",
        "webdataset" -> "maxSplitBytes", "webdataset" -> "maxMemberBytes")
      bad <- Seq("0", "-1", "abc")
    } {
      val e = intercept[IllegalArgumentException](
        spark.read.format(name).option(option, bad).load(dir))
      assert(e.getMessage.contains(option) && e.getMessage.contains(bad),
        s"$name/$option/$bad: ${e.getMessage}")
    }
  }

  test("checkpoint replay re-derives exactly the files in (lo, hi] in " +
      "natural order") {
    val (dir, path) = landing()
    val s = stream(dir)
    // a pair latestOffset never produced in this trigger: the replay
    // path lists the dir again
    val replay = s.planInputPartitions(WatermarkOffset(path("part1.nc")),
      WatermarkOffset(path("part10.nc")))
    assert(names(replay) == Seq("part2.nc", "part9.nc", "part10.nc"))
    // a cached batch for ANOTHER pair does not leak into the replay
    val end = s.latestOffset(WatermarkOffset(path("part9.nc")),
      ReadLimit.maxFiles(1))
    assert(end == WatermarkOffset(path("part10.nc")))
    assert(names(s.planInputPartitions(WatermarkOffset(""),
      WatermarkOffset(path("part2.nc")))) == Seq("part1.nc", "part2.nc"))
  }

  test("an offset JSON written by the per-format streams deserializes " +
      "and resumes") {
    val s0 = stream(Files.createTempDirectory("landing_empty").toString)
    assert(s0.deserializeOffset("\"/landing/part9.nc\"") ==
      WatermarkOffset("/landing/part9.nc"))
    assert(WatermarkOffset("/landing/part9.nc").json() == "\"/landing/part9.nc\"")
    val (dir, path) = landing()
    val s = stream(dir)
    val start = s.deserializeOffset("\"" + path("part9.nc") + "\"")
    val end = s.latestOffset(start, ReadLimit.allAvailable())
    assert(end == WatermarkOffset(path("part11.nc")))
    assert(names(s.planInputPartitions(start, end)) ==
      Seq("part10.nc", "part11.nc"))
  }
}
