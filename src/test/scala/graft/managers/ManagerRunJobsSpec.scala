package graft.managers

import java.nio.file.Files

import graft.SparkSpec

/** Pins the Spark job count of a daily update through
  * `DatasetManager.run(postParseQc = true)` and checks every job it runs
  * carries a `graft.` label. One delta profile serves the pre-parse gate
  * and the publish stats, the store's reads open with its pinned schema,
  * and the post-parse verdict is a local frame, so the run holds: the
  * profile, the store's gate, padding read and delta write, the post-parse
  * sample and compare, and nothing else. */
class ManagerRunJobsSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  private def grid(startDay: Int, nDays: Int, base: Double) = (for {
    d <- 0 until nDays
    lat <- Seq(-10.0, 10.0)
    lon <- Seq(30.0, 31.0)
  } yield (ts(f"2024-01-${startDay + d}%02dT00:00:00"), lat, lon, base + d + lat + lon))
    .toDF("time", "latitude", "longitude", "precip")

  test("an update run(postParseQc = true) runs a small, labeled set of jobs") {
    val root = Files.createTempDirectory("manager_jobs").toString
    val mgr = new ChirpsLikeManager(spark, root)
    grid(1, 10, 0.0).write.parquet(s"${mgr.inputDir}/a.parquet")
    mgr.run()
    graft.store.GridStore.fileSystem(spark, root)
      .delete(new org.apache.hadoop.fs.Path(s"${mgr.inputDir}/a.parquet"), true)
    grid(9, 4, 100.0).write.parquet(s"${mgr.inputDir}/b.parquet") // insert 9-10, append 11-12

    val jobs = jobDescriptions(mgr.run(postParseQc = true))
    info(s"${jobs.size} jobs: ${jobs.mkString(" | ")}")
    // 16 measured: transform 1, delta profile 2, the store's update gate 2,
    // padding read 3 and delta write 3, post-parse compare 5
    assert(jobs.size <= 16, s"update run ran ${jobs.size} jobs")
    assert(jobs.forall(_.startsWith("graft.")), s"unlabeled jobs in ${jobs.mkString(" | ")}")
    assert(mgr.store.dataset().count() == 12 * 4)
  }
}
