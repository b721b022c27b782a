package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.DatasetDescriptor

/** Statistical quality gates (SURVEY §2.6 A4-A6, §2.5 J4, §2.8 O7-O9).
  *
  * These dominate the reference's test corpus, so they are first-class
  * operators here. Scans run distributed; only the tiny per-timestep
  * summaries come back to the driver.
  */
object Qc {

  /** Unit-keyed physically-plausible value bounds.
    * Reference: `EXTREME_VALUES_BY_UNIT` (utils/publish.py:666-700). */
  val ExtremeValuesByUnit: Map[String, (Double, Double)] = Map(
    "deg_C" -> (-90.0, 60.0),
    "K"     -> (183.15, 333.15),
    "deg_F" -> (-129.0, 140.0),
  )

  /** Value-violation predicate: forbidden NaNs (when `hasNans` is false)
    * and unit-based extreme values. Reference: `check_random_values`
    * (utils/publish.py:666-700), which samples 100 cells; the pre-parse
    * gate counts it over every cell in [[DeltaProfile]]'s one pass. */
  def valueViolation(desc: DatasetDescriptor): Column = {
    val v = col(desc.dataVar)
    val nanViolation = if (desc.hasNans) lit(false) else isnan(v)
    val extremeViolation = desc.unitOfMeasurement.flatMap(ExtremeValuesByUnit.get) match {
      case Some((lo, hi)) => !isnan(v) && (v < lit(lo) || v > lit(hi))
      case None => lit(false)
    }
    nanViolation || extremeViolation
  }

  /** Every violating cell as rows. Used by the correctness gate. */
  def allValueViolations(df: DataFrame, desc: DatasetDescriptor): DataFrame =
    df.filter(valueViolation(desc))

  /** Per-timestep NaN frequency over a sampled subset.
    *
    * Reference: sampled 5000 cells per timestep (utils/publish.py:702-728).
    * One distributed groupBy; output is one row per timestep.
    * Columns: timeCol, n_sampled, n_nan, nan_frequency.
    */
  def nanFrequencyByTime(
      df: DataFrame,
      timeCol: String,
      valueCol: String,
      sampleFraction: Double = 1.0,
      seed: Long = 42L): DataFrame = {
    val base = if (sampleFraction >= 1.0) df else df.sample(false, sampleFraction, seed)
    base.groupBy(col(timeCol))
      .agg(
        count(lit(1)).as("n_sampled"),
        sum(when(isnan(col(valueCol)) || col(valueCol).isNull, 1L).otherwise(0L)).as("n_nan"))
      .withColumn("nan_frequency", col("n_nan").cast("double") / col("n_sampled"))
      .orderBy(timeCol)
  }

  /** Wilson score interval for a binomial proportion — the driver-side math
    * of the reference's `proportion_confint` binomial test
    * (utils/publish.py:1178-1243, α=1e-5). Returns (lower, upper).
    *
    * alpha is two-sided; for one-sided tests pass 2·α and take one bound,
    * matching statsmodels' convention the reference relies on.
    */
  def wilsonInterval(successes: Long, trials: Long, alpha: Double = 1e-5): (Double, Double) = {
    require(trials > 0, "trials must be positive")
    val z = inverseNormalCdf(1.0 - alpha / 2.0)
    val n = trials.toDouble
    val p = successes.toDouble / n
    val z2 = z * z
    val denom = 1.0 + z2 / n
    val center = (p + z2 / (2 * n)) / denom
    val half = (z / denom) * math.sqrt(p * (1 - p) / n + z2 / (4 * n * n))
    (math.max(0.0, center - half), math.min(1.0, center + half))
  }

  /** Acklam's rational approximation to the standard normal quantile —
    * avoids any dependency beyond the JDK; |ε| < 1.15e-9. */
  def inverseNormalCdf(p: Double): Double = {
    require(p > 0.0 && p < 1.0, s"p must be in (0,1), got $p")
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02, -2.759285104469687e+02,
      1.383577518672690e+02, -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02, -1.556989798598866e+02,
      6.680131188771972e+01, -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e+00,
      -2.549732539343734e+00, 4.374664141464968e+00, 2.938163982698783e+00)
    val d = Array(7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e+00,
      3.754408661907416e+00)
    val pLow = 0.02425
    if (p < pLow) {
      val q = math.sqrt(-2 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
    } else if (p <= 1 - pLow) {
      val q = p - 0.5; val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
    } else {
      val q = math.sqrt(-2 * math.log(1 - p))
      -(((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
    }
  }

  /** Check each timestep's observed NaN frequency against the expected one:
    * expected must lie inside the Wilson CI of the observed proportion;
    * only FAILING timesteps survive (reference raises
    * NanFrequencyMismatchError — utils/publish.py:1178-1243, errors.py).
    * The Wilson bound is closed-form arithmetic, so it runs as columns and
    * only violating timesteps reach the driver. The pre-parse gate takes
    * the same verdict from [[DeltaProfile]], whose per-timestep rows it
    * collects anyway (one row per timestep: ERA5's >639k hourly steps,
    * docs/etl_developers_manual.md:158, are tens of MB). Input: output of
    * [[nanFrequencyByTime]]. Output adds ci_lo/ci_hi.
    */
  def nanFrequencyViolationsDF(
      freqByTime: DataFrame,
      expectedFrequency: Double,
      alpha: Double = 1e-5): DataFrame = {
    val z = inverseNormalCdf(1.0 - alpha / 2.0)
    val z2 = z * z
    val n = col("n_sampled").cast("double")
    val p = col("n_nan").cast("double") / n
    val denom = lit(1.0) + lit(z2) / n
    val center = (p + lit(z2) / (lit(2.0) * n)) / denom
    val half = (lit(z) / denom) *
      sqrt(p * (lit(1.0) - p) / n + lit(z2) / (lit(4.0) * n * n))
    freqByTime
      .withColumn("ci_lo", greatest(lit(0.0), center - half))
      .withColumn("ci_hi", least(lit(1.0), center + half))
      .filter(lit(expectedFrequency) < col("ci_lo") ||
        lit(expectedFrequency) > col("ci_hi"))
  }

  /** Infinite-ish predicate: ±Inf or |x| beyond the dtype's plausible range.
    * Reference: `_is_infish` (utils/publish.py:1283-1293) — 1e100 for f8,
    * 1e38 for f4. */
  def isInfish(c: Column, isDouble: Boolean): Column = {
    val limit = if (isDouble) 1e100 else 1e38
    (c === lit(Double.PositiveInfinity)) || (c === lit(Double.NegativeInfinity)) ||
      abs(c) > lit(limit)
  }

  /** Value-comparison predicate for post-parse QC: a source cell and a store
    * cell "match" when both NaN, both infinite-ish with the same sign, both
    * equal to the missing sentinel, or |a−b| ≤ tolerance.
    *
    * Reference: check_written_value semantics (utils/publish.py:1011-1095),
    * tolerance 1e-4.
    */
  def valuesMatch(a: Column, b: Column, missingValue: Option[Double],
      tolerance: Double = 1e-4, isDouble: Boolean = false): Column = {
    val bothNaN = isnan(a) && isnan(b)
    val bothNull = a.isNull && b.isNull
    val aMissing = missingValue.map(m => a === lit(m)).getOrElse(lit(false))
    val bMissing = missingValue.map(m => b === lit(m)).getOrElse(lit(false))
    val nanEquiv = (isnan(a) || aMissing) && (isnan(b) || bMissing)
    val infEquiv = isInfish(a, isDouble) && isInfish(b, isDouble) &&
      (signum(a) === signum(b))
    val close = abs(a - b) <= lit(tolerance)
    bothNaN || bothNull || nanEquiv || infEquiv || close
  }

  /** Join source cells to store cells on the key columns and return rows
    * whose values do not match under `valuesMatch` — empty result = QC pass.
    * Reference: post_parse_quality_check / check_written_value
    * (utils/publish.py:824-895, 1011-1095). */
  def mismatchedCells(
      source: DataFrame,
      store: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      missingValue: Option[Double] = None,
      tolerance: Double = 1e-4): DataFrame = {
    val s = source.withColumnRenamed(valueCol, "__src")
    val t = store.withColumnRenamed(valueCol, "__dst")
    // One-side-null is a mismatch, and valuesMatch evaluates to NULL when
    // exactly one side is NULL (isnan/abs propagate null) — so filter on
    // NOT coalesce(match, false) plus an explicit null-disagreement term.
    val oneSideNull = col("__src").isNull =!= col("__dst").isNull
    s.join(t, keyCols)
      .filter(oneSideNull ||
        not(coalesce(valuesMatch(col("__src"), col("__dst"), missingValue, tolerance),
          lit(false))))
  }

  /** Bounding box of the spatial dims, rounded — `bbox_coords`
    * (utils/convenience.py:435-455). Output: (min_lon, min_lat, max_lon,
    * max_lat) one-row DataFrame. */
  def bboxCoords(df: DataFrame, desc: DatasetDescriptor): DataFrame = {
    val Seq(latCol, lonCol) = desc.spatialDims.take(2)
    df.agg(
      round(min(col(lonCol)), desc.bboxRounding).as("min_lon"),
      round(min(col(latCol)), desc.bboxRounding).as("min_lat"),
      round(max(col(lonCol)), desc.bboxRounding).as("max_lon"),
      round(max(col(latCol)), desc.bboxRounding).as("max_lat"))
  }
}
