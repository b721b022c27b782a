package graft.store

import org.apache.hadoop.fs.{Path => HPath}

import graft.SparkSpec
import graft.model.{DatasetDescriptor, TimeSpan}

/** Pins the publish protocol's DRIVER JOB COUNT — the constant factor that
  * dominates store latency at small scale and wastes scheduler round-trips
  * at large scale. The scalar gates are folded into single multi-aggregate
  * actions (the delta profile; updateQualityCheckClassified over a
  * classified frame that carries the store's end time), so a publish runs
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
    // delta's lazy checkpoint) + the quality-gate aggregate over
    // classified ∪ existing_end + materialize(combine-first pad) + the
    // write job. AQE spawns stage jobs per action: 2 + 6 + 3 + 3 = 14
    // measured. Store reads open with the schema pinned in the attrs, so
    // none adds a footer-inference job (3 more when it did, 20 measured
    // with a separate stats aggregate); the pre-fold protocol (separate
    // bounds agg, 3-action quality gate, touched-buckets collect, own
    // existing-end scan) measures well past 26
    assert(updateJobs <= 14, s"update publish ran $updateJobs jobs — " +
      "scalar gates are no longer folded into single actions, or a store " +
      "read infers its schema again")
  }
}
