package graft

import org.apache.spark.sql.SparkSession

/** Names the Spark jobs a block launches (`spark.job.description`: the Spark
  * UI, event logs and listeners show it). The description is thread-local:
  * it is set on the calling thread and cleared when the block ends, so
  * concurrent blocks on other threads keep their own labels. */
object JobLabel {
  def apply[T](spark: SparkSession, label: String)(body: => T): T = {
    spark.sparkContext.setJobDescription(label)
    try body
    finally spark.sparkContext.setJobDescription(null)
  }
}
