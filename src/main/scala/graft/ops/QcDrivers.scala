package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.model.DatasetDescriptor

/** Pre/post-parse quality-gate drivers (SURVEY §2.8 O7-O8) composing the Qc
  * primitives into the go/no-go checks that bracket every write. */
object QcDrivers {

  final case class QcFailure(msg: String) extends RuntimeException(msg)

  /** O8 — pre-parse gate (publish.py:624-664): time contiguity (A6), dtype
    * encoding, cell values (A5), and — when updating an existing store and
    * not skipped — NaN frequency vs expectation (A4). Raises QcFailure;
    * returning normally means the write may proceed. Builds the delta's
    * [[DeltaProfile]] (one aggregate job) and checks it. */
  def preParseQualityCheck(
      df: DataFrame,
      desc: DatasetDescriptor,
      hasExisting: Boolean = false,
      skipNanCheck: Boolean = false,
      rebuild: Boolean = false): Unit =
    preParseQualityCheckProfiled(DeltaProfile(df, desc), desc, hasExisting,
      skipNanCheck, rebuild)

  /** The pre-parse gate over an already-built profile: driver-side only,
    * no Spark job. A5 counts every cell (the reference samples 100,
    * publish.py:1246-1280; a full count in the profile's one pass costs no
    * extra read and cannot miss a cell the sample would catch). */
  def preParseQualityCheckProfiled(
      profile: DeltaProfile,
      desc: DatasetDescriptor,
      hasExisting: Boolean = false,
      skipNanCheck: Boolean = false,
      rebuild: Boolean = false): Unit = {
    // A6 — expected order / contiguity of the update's time coordinate.
    if (profile.cadenceViolations(desc.timeResolution, desc.updateCadenceBounds).nonEmpty)
      throw QcFailure(s"Update times are not contiguous at ${desc.timeResolution}")

    // dtype — the value column must carry the declared type post-normalize
    // (publish.py:653-657).
    profile.valueType match {
      case Some(FloatType | DoubleType) =>
      case other => throw QcFailure(
        s"Data variable ${desc.dataVar} has non-float type ${other.getOrElse("(missing)")}")
    }

    // A5 — forbidden NaN / extreme values.
    if (profile.valueViolations > 0)
      throw QcFailure("Random-value check found NaN/extreme cells")

    // A4 — NaN frequency binomial test, update-only (publish.py:702-728).
    if (hasExisting && !skipNanCheck && !rebuild) {
      desc.expectedNanFrequency.foreach { expected =>
        if (profile.nanFrequencyViolations(expected).nonEmpty)
          throw QcFailure(
            s"NaN frequency outside the confidence interval of expected $expected")
      }
    }
  }

  /** O7 — post-parse gate (publish.py:824-895): sample up to `maxChecks`
    * timesteps across the files overlapping the update window, compare
    * source cells against store cells (J4), bounded by a wall-clock cap
    * (publish.py:23 — 20 minutes). Returns the mismatching cells actually
    * found (empty = pass); respects the caps rather than scanning
    * everything, like the reference's 10→1 checks-per-file scaling.
    *
    * The store side is NOT a frame but a range accessor
    * (`GridStore.readRange`): each file's comparison reads only the store
    * buckets overlapping that file's sampled time range — the reference
    * region-bounds the store the same way (publish.py:1011-1095). Passing
    * the full store here would cost one full-store scan per source file,
    * the single worst plan possible at 100 TB. The ≤`checksPerFile`-row
    * sample is collected to the driver (that bound is what makes O7 a spot
    * check, not a recompute) so its exact time range bounds the store read,
    * then broadcast into the comparison join as a local frame. The result
    * is a local frame too. */
  def postParseQualityCheck(
      spark: SparkSession,
      storeForRange: (java.time.LocalDateTime, java.time.LocalDateTime) => DataFrame,
      sourceFiles: Seq[String],
      openFile: String => DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      desc: DatasetDescriptor,
      maxChecks: Int = 100,
      timeLimitMillis: Long = 20L * 60 * 1000,
      seed: Long = 42L): DataFrame = {
    require(sourceFiles.nonEmpty, "postParseQualityCheck needs at least one source file")
    val timeCol = desc.timeDim
    require(keyCols.contains(timeCol),
      s"postParseQualityCheck keys must include the time dim $timeCol")
    val checksPerFile = math.max(1, maxChecks / sourceFiles.length)
    val deadline = System.currentTimeMillis() + timeLimitMillis
    // Normalize BOTH sides to one comparison schema: the time key as
    // TIMESTAMP_NTZ (collect then always yields LocalDateTime — never
    // Instant under java8API, never a default-zone-skewed Timestamp) and
    // the value as double (a float source vs double store would otherwise
    // make the collected __dst rows contradict the declared output field).
    val sampleCols = (keyCols :+ valueCol).map {
      case c if c == timeCol =>
        col(c).cast(org.apache.spark.sql.types.TimestampNTZType).as(c)
      case c if c == valueCol =>
        col(c).cast(org.apache.spark.sql.types.DoubleType).as(c)
      case c => col(c)
    }
    // every job below (the source files' schema probe and scans, the
    // store reads and the comparisons) is part of the compare
    graft.JobLabel(spark, "graft.qc: post-parse compare") {
      val sampleSchema = openFile(sourceFiles.head).limit(0).select(sampleCols: _*).schema
      val outSchema = org.apache.spark.sql.types.StructType(
        sampleSchema.dropRight(1) ++ Seq(
          sampleSchema.last.copy(name = "__src"), sampleSchema.last.copy(name = "__dst")))
      // Each file's comparison EXECUTES inside the loop (collect of at most
      // checksPerFile mismatch rows) — with lazy accumulation the deadline
      // would only bound plan construction and the 20-minute cap would never
      // take effect on the actual I/O. Store keys are unique, so the
      // broadcast sample already bounds each collect to its rows: no limit,
      // whose incremental take would spend extra jobs on an empty result.
      val found = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
      var checksDone = 0
      val it = sourceFiles.iterator
      while (it.hasNext && checksDone < maxChecks &&
          System.currentTimeMillis() < deadline) {
        val f = it.next()
        val sampleRows = openFile(f)
          .select(sampleCols: _*)
          .orderBy(abs(xxhash64(keyCols.map(col): _*) + lit(seed)))
          .limit(checksPerFile)
          .collect()
        if (sampleRows.nonEmpty) {
          val ti = sampleSchema.fieldIndex(timeCol)
          val times = sampleRows.toSeq.map(_.get(ti) match {
            case t: java.time.LocalDateTime => t // guaranteed by the NTZ cast
            case other => throw new IllegalArgumentException(
              s"Non-timestamp time value in $f: $other")
          })
          implicit val ldtOrd: Ordering[java.time.LocalDateTime] =
            Ordering.fromLessThan(_ isBefore _)
          val sample = spark.createDataFrame(
            java.util.Arrays.asList(sampleRows: _*), sampleSchema)
          val bounded = storeForRange(times.min, times.max).select(sampleCols: _*)
          found ++= Qc.mismatchedCells(broadcast(sample), bounded, keyCols, valueCol,
            desc.missingValue).collect()
        }
        checksDone += checksPerFile
      }
      // a local frame: checking it (isEmpty, count) runs no Spark job
      spark.createDataFrame(java.util.Arrays.asList(found.toSeq: _*), outSchema)
    }
  }
}
