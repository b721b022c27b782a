package graft

import org.apache.spark.sql.SparkSession

/** Names the Spark jobs a block launches (`spark.job.description`: the Spark
  * UI, event logs and listeners show it). The description is thread-local:
  * it is set on the calling thread and restored to its previous value when
  * the block ends, so concurrent blocks on other threads keep their own
  * labels and a nested block hands the outer label back to the jobs after
  * it. */
object JobLabel {
  private val Key = "spark.job.description"

  def apply[T](spark: SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(Key)
    sc.setJobDescription(label)
    try body
    finally sc.setLocalProperty(Key, outer)
  }
}
