package graft

class JobLabelSpec extends SparkSpec {

  test("nested labels: inner jobs carry the inner label, later jobs the outer one, then the caller's") {
    val sc = spark.sparkContext
    def job(): Unit = sc.parallelize(1 to 4, 1).count()
    sc.setJobDescription("caller")
    try {
      val jobs = jobDescriptions {
        JobLabel(spark, "graft.test: outer") {
          job()
          JobLabel(spark, "graft.test: inner")(job())
          job()
        }
        job()
      }
      assert(jobs == Seq("graft.test: outer", "graft.test: inner", "graft.test: outer", "caller"))
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    } finally sc.setJobDescription(null)
  }
}
