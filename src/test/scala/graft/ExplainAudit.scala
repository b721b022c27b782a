package graft

import org.apache.spark.sql.SparkSession

/** Dev utility: dump shuffle/join/window lines of named queries' physical
  * plans (plan-shape eyeballing beyond the pinned PlanShapeSpec asserts).
  * Usage: sbt "Test/runMain graft.ExplainAudit q89_climatology_anomaly ..." */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val selected =
      if (args.nonEmpty) SparkEntry.registry.select(Some(args.mkString(",")))
      else SparkEntry.registry.queries.sortBy(_.name)
    selected.foreach { case Query(q, run, _) =>
      val plan = run(spark, dir).queryExecution.executedPlan.toString
      val ex = plan.linesIterator.count(_.contains("Exchange"))
      val bc = plan.linesIterator.count(_.contains("BroadcastExchange"))
      println(s"== $q: exchanges=$ex (broadcast=$bc)")
      println(plan.linesIterator
        .filter(l => l.contains("Exchange") || l.contains("Join") || l.contains("Window"))
        .map(_.trim.replaceAll("#\\d+[L]?", "").take(140)).mkString("\n"))
    }
    spark.stop()
  }
}
