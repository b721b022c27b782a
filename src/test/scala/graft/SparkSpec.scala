package graft

import java.time.LocalDateTime

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator specs (kept alive across suites —
  * getOrCreate returns the singleton). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("graft-test")
    .getOrCreate()

  def ts(s: String): LocalDateTime = LocalDateTime.parse(s)

  /** Daily-grid fixture in the shape of the reference's unit conftest
    * (tests/unit/conftest.py:40-53): `nDays` contiguous daily steps over a
    * 2×2 lat/lon grid, deterministic float values. */
  def dailyGrid(startDay: Int, nDays: Int, base: Double = 0.0): DataFrame = {
    val sp = spark; import sp.implicits._
    val rows = for {
      d <- 0 until nDays
      lat <- Seq(10.0, 10.25)
      lon <- Seq(100.0, 100.25)
    } yield (ts(f"2024-01-${startDay + d}%02dT00:00:00"), lat, lon,
      base + d + lat + lon)
    rows.toDF("time", "latitude", "longitude", "value")
  }

  def collectSet(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** The `spark.job.description` of every Spark job `body` starts, in
    * start order ("" for an unlabeled job). */
  def jobDescriptions(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      Thread.sleep(300) // listener events are delivered asynchronously
    } finally spark.sparkContext.removeSparkListener(listener)
    seen.toArray(Array.empty[String]).toSeq
  }

  def countJobs(body: => Unit): Int = jobDescriptions(body).size
}
