package graft

import org.apache.spark.sql.SparkSession

/** Dump `explain("formatted")` for named [[SparkEntry.registry]] queries — the
  * generator behind PLANS.md. Usage:
  * {{{ runMain graft.PlanDump <sfDir> <name>[,<name>…] }}} */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <sfDir> <q1,q2,…>")
    val selected = SparkEntry.registry.select(Some(args(1)))
    val spark = SparkSession.builder()
      .appName("graft-plandump")
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", false)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR") // keep plan output copy-pastable
    try selected.foreach { case Query(name, run, _) =>
      val df = run(spark, args(0))
      println(s"===== $name =====")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    } finally spark.stop()
  }
}
