package graft.store

import org.apache.hadoop.fs.{Path => HPath}

import graft.SparkSpec
import graft.model.{DatasetDescriptor, TimeSpan}

/** Pins the publish protocol's DRIVER JOB COUNT — the constant factor that
  * dominates store latency at small scale and wastes scheduler round-trips
  * at large scale. The scalar gates are folded into single multi-aggregate
  * actions (the delta profile; the update gate's one collect of the
  * store's times, classified on the driver), so a publish runs
  * a FIXED handful of jobs regardless of how many gates it evaluates. A
  * regression back to one-action-per-scalar trips the bounds below. */
class StoreProtocolJobsSpec extends SparkSpec {

  private val desc = DatasetDescriptor("jobs_pin", "value",
    spatialDims = Seq("latitude", "longitude"), timeResolution = TimeSpan.Daily)

  test("initial publish and update publish run a fixed, small number of jobs") {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_jobspin"
    GridStore.fileSystem(spark, path).delete(new HPath(path), true)
    val store = new GridStore(spark, path, desc)

    val initialJobs = countJobs {
      store.publish(dailyGrid(1, 10))
    }
    info(s"initial publish: $initialJobs jobs")
    // one delta-profile aggregate + one write job; AQE materializes each
    // shuffle stage as its own job, so the measured floor is 5 — bound
    // with a one-action margin
    assert(initialJobs <= 7, s"initial publish ran $initialJobs jobs — " +
      "the one-stats-action + one-write-job protocol regressed")

    val updateJobs = countJobs {
      store.publish(dailyGrid(9, 4, base = 100.0)) // insert 9-10, append 11-12
    }
    info(s"update publish: $updateJobs jobs")
    // 4 actions: the delta-profile aggregate (which also fills the
    // delta's lazy checkpoint) + the update gate's collect of the store's
    // times in the update window and its last bucket + materialize
    // (combine-first pad) + the write job. AQE spawns stage jobs per
    // action: 2 + 2 + 3 + 3 = 10 measured. The gate classifies the
    // profile's times on the driver, and store reads open with the schema
    // pinned in the attrs, so no join classifies times in a frame and no
    // read adds a footer-inference job
    assert(updateJobs <= 10, s"update publish ran $updateJobs jobs — " +
      "scalar gates are no longer folded into single actions, or a store " +
      "read infers its schema again")
  }

  test("zarr initial publish and update publish each run one axis aggregate and one chunk write, labeled") {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_jobspin_zarr"
    GridStore.fileSystem(spark, path).delete(new HPath(path), true)
    val store = new ZarrStore(spark, path, desc, timeChunk = 8)

    val initial = jobDescriptions(store.publish(dailyGrid(1, 10)))
    info(s"zarr initial publish: ${initial.size} jobs: ${initial.mkString(" | ")}")
    val update = jobDescriptions(store.publish(dailyGrid(9, 4, base = 100.0)))
    info(s"zarr update publish: ${update.size} jobs: ${update.mkString(" | ")}")
    // the grouping-sets axis aggregate (2 jobs under AQE: its shuffle map
    // stage and its collect) + the chunk write (1 RDD job) = 3 measured;
    // an action per axis would cost 2 jobs each
    assert(initial.size <= 3, s"zarr initial publish ran ${initial.size} jobs")
    assert(update.size <= 3, s"zarr update publish ran ${update.size} jobs")
    assert((initial ++ update).forall(_.startsWith("graft.")),
      s"unlabeled jobs in ${(initial ++ update).mkString(" | ")}")
  }
}
