package graft.ops

import java.time.LocalDateTime

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, TimestampNTZType, TimestampType}

import graft.model.{DatasetDescriptor, TimeSpan}

/** Per-timestep profile of an update delta: ONE `groupBy(time)` aggregate
  * collected to the driver. Its size is bounded by the number of timesteps,
  * never by cells — the same bound the cadence window relies on
  * ([[UpdatePlan.cadenceViolations]]). Every pre-parse check
  * ([[QcDrivers.preParseQualityCheckProfiled]]), the store's publish
  * stats and its update gate's insert/append split (`GridStore`) are
  * derived from it on the driver, so an update reads
  * its delta once for all of them instead of once per check.
  *
  * `steps` are sorted in the time column's own order: by instant for a
  * TIMESTAMP (session-zone) column, by wall time otherwise. Rows whose time
  * is null form one step with `local == null`, first. */
final case class DeltaProfile(
    valueType: Option[DataType],
    steps: IndexedSeq[DeltaProfile.Step]) {
  import DeltaProfile.Step

  /** Steps with a time, in time order. */
  def timed: IndexedSeq[Step] = steps.filter(_.local != null)

  /** A6 — each step whose gap to its predecessor the cadence does not
    * allow (the rule is [[UpdatePlan.gapAllowed]]). */
  def cadenceViolations(resolution: TimeSpan,
      cadenceBounds: Option[(TimeSpan, TimeSpan)]): Seq[Step] =
    timed.sliding(2).collect {
      case Seq(a, b) if !UpdatePlan.gapAllowed(b.epochMs - a.epochMs, resolution,
        cadenceBounds) => b
    }.toSeq

  /** A5 — cells that are forbidden NaNs or outside the unit's plausible
    * range ([[Qc.valueViolation]]), counted over every cell. */
  def valueViolations: Long = steps.map(_.violations).sum

  /** A4 — steps whose NaN share's Wilson interval excludes `expected`: the
    * verdict of [[Qc.nanFrequencyViolationsDF]], computed on the driver. */
  def nanFrequencyViolations(expected: Double, alpha: Double = 1e-5): Seq[Step] =
    steps.filter { s =>
      val (lo, hi) = Qc.wilsonInterval(s.nanOrNull, s.rows, alpha)
      expected < lo || expected > hi
    }

  /** (min lon, min lat, max lon, max lat), each rounded as
    * `round(min(longitude), bboxRounding)` would round it over the whole
    * delta (rounding is monotone, so rounding per step first commutes with
    * the min/max); None without latitude/longitude dims. */
  def bbox: Option[(Double, Double, Double, Double)] = {
    val b = steps.flatMap(_.bbox)
    // NaN sorts above every number, as in Spark's min/max
    val ord = Ordering.Double.TotalOrdering
    if (b.isEmpty) None
    else Some((b.map(_._1).min(ord), b.map(_._2).min(ord),
      b.map(_._3).max(ord), b.map(_._4).max(ord)))
  }
}

object DeltaProfile {

  /** One timestep: its epoch millis (a wall-time column read in the
    * session zone), its session-zone wall time, rows, NaN-or-null values,
    * value violations and the rounded lon/lat bounds of its rows. */
  final case class Step(
      epochMs: Long,
      local: LocalDateTime,
      rows: Long,
      nanOrNull: Long,
      violations: Long,
      bbox: Option[(Double, Double, Double, Double)])

  /** True when the frame carries the latitude/longitude dims a bbox is
    * taken over (the store's attrs and the STAC extent). */
  def hasBboxCols(df: DataFrame, desc: DatasetDescriptor): Boolean = {
    val spatial = desc.spatialDims.take(2)
    spatial == Seq("latitude", "longitude") && spatial.forall(df.columns.contains)
  }

  def apply(df: DataFrame, desc: DatasetDescriptor): DeltaProfile = {
    val t = col(desc.timeDim)
    val v = col(desc.dataVar)
    val valueType = df.schema.find(_.name == desc.dataVar).map(_.dataType)
    val isFloat = valueType.exists(dt => dt == FloatType || dt == DoubleType)
    def countIf(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    val nanOrNull =
      if (isFloat) countIf(isnan(v) || v.isNull)
      else if (valueType.isDefined) countIf(v.isNull)
      else lit(0L)
    // a non-float value column fails the dtype check before this is read
    val violations = if (isFloat) countIf(Qc.valueViolation(desc)) else lit(0L)
    val bboxAggs =
      if (!hasBboxCols(df, desc)) Nil
      else Seq(min(col("longitude")), min(col("latitude")),
        max(col("longitude")), max(col("latitude"))).map(round(_, desc.bboxRounding))
    val rows = graft.JobLabel(df.sparkSession, "graft.qc: delta profile") {
      df.groupBy(unix_millis(t.cast("timestamp")).as("ms"),
          t.cast(TimestampNTZType).as("local"))
        .agg(count(lit(1)), (Seq(nanOrNull, violations) ++ bboxAggs): _*)
        .collect()
    }
    val steps = rows.toIndexedSeq.map { r =>
      Step(
        epochMs = if (r.isNullAt(0)) 0L else r.getLong(0),
        local = r.getAs[LocalDateTime](1),
        rows = r.getLong(2), nanOrNull = r.getLong(3), violations = r.getLong(4),
        bbox = if (bboxAggs.isEmpty || (5 to 8).exists(r.isNullAt)) None
          else Some((r.getDouble(5), r.getDouble(6), r.getDouble(7), r.getDouble(8))))
    }
    val (untimed, timed) = steps.partition(_.local == null)
    val byInstant = df.schema(desc.timeDim).dataType == TimestampType
    val ordered =
      if (byInstant) timed.sortBy(_.epochMs)
      else timed.sortWith((a, b) => a.local.isBefore(b.local))
    DeltaProfile(valueType, untimed ++ ordered)
  }
}
