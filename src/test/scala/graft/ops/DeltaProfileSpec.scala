package graft.ops

import java.time.LocalDateTime

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

import graft.SparkSpec
import graft.model.{DatasetDescriptor, TimeSpan}

/** The pre-parse gate over a [[DeltaProfile]]: exhaustive A5 and the A4
  * verdict of the column-form Wilson test. */
class DeltaProfileSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  test("pre-parse gate rejects one extreme cell beyond the first 100 rows of a large grid") {
    val desc = DatasetDescriptor("k", "value",
      spatialDims = Seq("latitude", "longitude"), timeResolution = TimeSpan.Daily,
      unitOfMeasurement = Some("K"))
    // 3 days × 100 × 100 cells at 280 K; row 25 000 holds 1e6 K
    val rows = for {
      d <- 0 until 3
      i <- 0 until 100
      j <- 0 until 100
    } yield (ts(f"2024-01-${d + 1}%02dT00:00:00"), i * 0.25, j * 0.25,
      if (d * 10000 + i * 100 + j == 25000) 1e6f else 280f)
    val df = rows.toDF("time", "latitude", "longitude", "value")
    val e = intercept[QcDrivers.QcFailure](QcDrivers.preParseQualityCheck(df, desc))
    assert(e.getMessage.contains("extreme"))
    QcDrivers.preParseQualityCheck(df.filter(col("value") < 1e5f), desc)
  }

  test("NaN-frequency verdict equals nanFrequencyViolationsDF around the Wilson bounds") {
    val n = 1000
    val (k0, k1) = (40, 160) // NaN cells per timestep: shares 0.04 .. 0.16
    val expected = 0.1
    val desc = DatasetDescriptor("nan", "value",
      spatialDims = Seq("latitude", "longitude"), timeResolution = TimeSpan.Hourly,
      hasNans = true, expectedNanFrequency = Some(expected))
    val step = (col("id") / n).cast("long")
    val df = spark.range((k1 - k0 + 1).toLong * n).select(
      timestamp_seconds(lit(1704067200L) + step * 3600).cast(TimestampNTZType).as("time"),
      (col("id") % n).cast("double").as("latitude"), lit(0.0).as("longitude"),
      when(col("id") % n < step + k0, lit(Float.NaN)).otherwise(lit(1f)).as("value"))

    val viaColumns = Qc.nanFrequencyViolationsDF(
      Qc.nanFrequencyByTime(df, "time", "value"), expected)
      .select("time").as[LocalDateTime].collect().toSet
    val profile = DeltaProfile(df, desc)
    val viaProfile = profile.nanFrequencyViolations(expected).map(_.local).toSet
    assert(viaProfile == viaColumns)

    // the steps on each side of both interval bounds
    val verdict = profile.steps.map(s => s.nanOrNull -> viaProfile.contains(s.local))
    val flips = verdict.sliding(2).collect { case Seq((ka, a), (kb, b)) if a != b =>
      if (a) (kb, ka) else (ka, kb) }.toSeq // (inside, outside)
    assert(flips.size == 2, s"both bounds in range: $verdict")
    for ((inside, outside) <- flips) {
      def only(k: Long) = df.filter(step + k0 === k)
      QcDrivers.preParseQualityCheck(only(inside), desc, hasExisting = true)
      assertThrows[QcDrivers.QcFailure](
        QcDrivers.preParseQualityCheck(only(outside), desc, hasExisting = true))
    }
  }

  test("cadence check: one resolution step, or within the cadence bounds") {
    val bounds = Some((TimeSpan.Hourly, TimeSpan.SixHourly))
    val t0 = ts("2024-01-01T00:00:00")
    for (gapH <- 1 to 8; b <- Seq(None, bounds)) {
      val df = Seq(t0, t0.plusHours(gapH)).map(t => (t, 0.0, 0.0, 1.0))
        .toDF("time", "latitude", "longitude", "value")
      val violations = DeltaProfile(df, DatasetDescriptor("g", "value"))
        .cadenceViolations(TimeSpan.Hourly, b)
      val allowed = if (b.isEmpty) gapH == 1 else gapH <= 6
      assert(violations.isEmpty == allowed, s"gap $gapH h, bounds $b")
    }
  }
}
