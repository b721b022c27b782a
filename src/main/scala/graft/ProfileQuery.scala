package graft

import org.apache.spark.sql.SparkSession

/** Measurement harness (guide §1): run named [[SparkEntry.registry]] queries
  * under a [[JobStats]] listener and print per-job wall time, stage counts,
  * task counts and shuffle bytes — the local-mode substitute for the Spark
  * UI's job table (the UI is disabled in the bench contract). Dev-only; the
  * bench and verify surfaces are untouched.
  *
  * {{{ runMain graft.ProfileQuery <sfDir> <q1,q2,…> }}} */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ProfileQuery <sfDir> <q1,q2,…>")
    val selected = SparkEntry.registry.select(Some(args(1)))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    // A/B harness for candidate session confs (comma-separated k=v pairs)
    sys.env.get("SPARK_GRAFT_PROFILE_CONFS").foreach(_.split(",").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      builder.config(k, v)
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val stats = new JobStats
    spark.sparkContext.addSparkListener(stats)

    selected.foreach { case Query(name, run, _) =>
      stats.reset()
      val t0 = System.nanoTime()
      val n = run(spark, args(0)).count()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the listener bus drain
      println(f"===== $name%s  total ${dt}%.3f s  rows $n%d =====")
      val rows = stats.rows
      rows.foreach { r =>
        println(f"  job ${r.id}%3d ${r.wallMs}%6d ms  stages ${r.stages}%2d tasks ${r.tasks}%4d " +
          f"in ${r.input / 1024}%8d KiB  sw ${r.shuffleWrite / 1024}%6d KiB  " +
          f"sr ${r.shuffleRead / 1024}%6d KiB  ${r.desc.take(60)}%s")
      }
      val acc = rows.filter(_.end > 0).map(_.wallMs).sum
      println(f"  jobs ${rows.length}%d  sum-of-job-wall ${acc}%d ms  " +
        f"(gap = driver/planning ${(dt * 1000 - acc).toLong}%d ms)")
      Housekeeping.releaseAll(spark, blocking = true)
    }
    spark.stop()
  }
}
