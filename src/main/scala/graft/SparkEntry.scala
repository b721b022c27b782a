package graft

import java.time.LocalDateTime

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.functions.{Clustering, Dedup, Encryption, Graph, Multimodal, Rank, Similarity, Text, Web}
import graft.model.{DatasetCategory, DatasetDescriptor, TimeSpan, TimeUnitKind}
import graft.ops.{Filters, GridAnalytics, Normalize, Projection, Qc, Sampling, Sessions, Stats, UpdatePlan}
import graft.sources.Manifest
import graft.sources.nc.NcFormat
import graft.sources.zarr.Kerchunk
import graft.store.{GridStore, ZarrStore}

/** The harness contract — one [[registry]] entry per implemented operator from
  * SURVEY.md §2, each beside the DuckDB oracle SQL that gates it.
  *
  * Oracle-exactness rules used throughout:
  *  - money sums as integer cents (`round(x*100)::BIGINT`) — no fp-order drift;
  *  - counts/cardinalities as BIGINT on both sides;
  *  - derived doubles mirror the exact expression structure (same op order →
  *    identical IEEE results), rounded to 6 only as a final belt;
  *  - sequential double accumulations (dot products, norms) oracle'd with
  *    DuckDB `list_reduce(list_prepend(0.0, …))`, verified bit-exact;
  *  - timestamps kept TIMESTAMP_NTZ so both engines see naive parquet values.
  */
object SparkEntry {

  // ---------------------------------------------------------------- helpers

  /** Columns stored as parquet TIMESTAMP(NANOS) in the driver-generated
    * tables. Spark 4 refuses NANOS outright; with
    * `spark.sql.legacy.parquet.nanosAsLong` they surface as LongType nanos,
    * which we floor-divide to micros — exactly DuckDB's own ns→µs
    * truncation, so oracle comparisons stay bit-identical. */
  private val NanosTimestampCols = Set("ts")

  /** Read a table, normalizing every timestamp column to TIMESTAMP_NTZ so
    * Spark's parquet output carries isAdjustedToUTC=false like the
    * driver-generated inputs (and DuckDB reads both sides as naive). */
  private def table(s: SparkSession, dir: String, name: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = s.read.parquet(s"$dir/$name.parquet")
    df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == TimestampType)
        d.withColumn(f.name, col(f.name).cast(TimestampNTZType))
      else if (NanosTimestampCols.contains(f.name) && f.dataType == types.LongType)
        d.withColumn(f.name,
          expr(s"timestamp_micros(`${f.name}` div 1000)").cast(TimestampNTZType))
      else d
    }
  }

  private def ldt(sd: String): Column = lit(LocalDateTime.parse(sd))

  /** events with a day-truncated NTZ column `d`. */
  private def eventsWithDay(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events").withColumn("d", date_trunc("day", col("ts")).cast(TimestampNTZType))

  /** Long-format regular grid for the read-side analytics queries: per
    * (day, cell) event counts on a 10×10 half-degree grid anchored at
    * (40, −100) — every coordinate is a dyadic rational, so the oracle's
    * decimal arithmetic converts to bit-identical doubles. */
  private def eventsGrid(s: SparkSession, dir: String): DataFrame =
    eventsWithDay(s, dir)
      .groupBy(col("d").as("time"),
        (col("event_id") % 10).cast("int").as("li"),
        expr("(event_id div 10) % 10").cast("int").as("lj"))
      .agg(count(lit(1)).cast("double").as("value"))
      .select(col("time"),
        (lit(40.0) + col("li") * 0.5).as("lat"),
        (lit(-100.0) + col("lj") * 0.5).as("lon"),
        col("value"))

  /** Duplicated documents corpus: every doc appears twice (id and id+100000)
    * — gives the exact-dedup operators a non-trivial duplicate set. */
  private def dupDocs(s: SparkSession, dir: String): DataFrame = {
    val d = table(s, dir, "documents")
    d.unionByName(d.withColumn("doc_id", col("doc_id") + lit(100000L)))
  }

  private def embQuery(s: SparkSession, dir: String): Seq[Float] =
    table(s, dir, "embeddings").filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)

  /** Fixed PQ codebook for the q126 gate: 2 subspaces × 4 CONSTANT
    * centroids whose values are powers of two (±0.25, ±0.5). Scaling by a
    * power of two commutes with IEEE rounding, so the operator's
    * per-element folds reduce EXACTLY to `v · Σxᵢ` — which is what lets
    * the oracle replay learned-codebook machinery in closed form. The
    * learned-codebook path (pqTrain) is spec-gated (PqSpec) instead. */
  private val PqVals = Seq(-0.5, -0.25, 0.25, 0.5)
  private def pqFixedCodebook: Seq[Seq[Seq[Float]]] =
    Seq.fill(2)(PqVals.map(v => Seq.fill(32)(v.toFloat)))

  /** Oracle argmin over the 4 constant-centroid scores for one subspace
    * sum `sCol`, lowest index winning ties — mirrors array_min on
    * struct(score, idx). */
  private def pqArgminSql(sCol: String): String = {
    val sc = PqVals.map(v => s"(${32 * v * v} - 2.0 * ($v) * $sCol)")
    s"""CASE WHEN ${sc(0)} <= ${sc(1)} AND ${sc(0)} <= ${sc(2)} AND ${sc(0)} <= ${sc(3)} THEN 0
       |     WHEN ${sc(1)} <= ${sc(2)} AND ${sc(1)} <= ${sc(3)} THEN 1
       |     WHEN ${sc(2)} <= ${sc(3)} THEN 2 ELSE 3 END""".stripMargin
  }

  private def pqValOfSql(codeCol: String): String =
    s"CASE $codeCol WHEN 0 THEN -0.5 WHEN 1 THEN -0.25 WHEN 2 THEN 0.25 ELSE 0.5 END"

  /** Fixed IVF coarse centroids for the q176 gate: 4 block-constant
    * vectors (±1 over one 32-dim half, 0 over the other), so coarse
    * scores reduce EXACTLY to ±(subspace sums) — dot's left-to-right
    * double fold with a power-of-two constant commutes with the
    * per-element rounding, the q126 trick — and the float32 residual
    * subtraction replays verbatim in DuckDB (FLOAT - FLOAT is IEEE
    * float32 in both engines). Hash-sampled [[Similarity.ivfCentroids]]
    * production centroids are spec-gated in SimilaritySpec instead. */
  private def ivfFixedCoarse: Seq[Seq[Float]] = Seq(
    Seq.fill(32)(1f) ++ Seq.fill(32)(0f),
    Seq.fill(32)(0f) ++ Seq.fill(32)(1f),
    Seq.fill(32)(-1f) ++ Seq.fill(32)(0f),
    Seq.fill(32)(0f) ++ Seq.fill(32)(-1f))

  /** A store under java.io.tmpdir, wiped before use (queries must be
    * idempotent across runs and scale factors). */
  private def freshStore(s: SparkSession, dir: String, tag: String,
      desc: DatasetDescriptor): GridStore =
    new GridStore(s, fixturePath(s, dir, s"graft_store_$tag", wipe = true), desc,
      bucketSpan = TimeUnitKind.Days)

  /** noleap-calendar fixture: per-day event counts on a time axis of day
    * OFFSETS since 2024-02-27 with `calendar = "noleap"` — the epoch sits
    * two days before a real Gregorian leap day, so from offset 2 on the
    * noleap decode (which has no Feb 29) lands one day LATER than a
    * calendar-ignorant read. */
  private def ncNoleapFixture(s: SparkSession, dir: String): String = {
    val perDay = eventsWithDay(s, dir).groupBy(col("d")).count().collect()
      .map(r => r.getAs[LocalDateTime]("d") -> r.getAs[Long]("count").toDouble)
      .sortBy(_._1)(FixtureGrid.byTime)
    val path = s"${fixturePath(s, dir, "graft_nc_noleap", wipe = true)}/noleap.nc"
    NcFormat.writeFile(s, path,
      dims = Seq("time" -> perDay.length),
      vars = Seq(
        NcFormat.WriteVar("time", Seq("time"), NcFormat.NcInt,
          Array.tabulate(perDay.length)(_.toDouble),
          attrs = Seq("units" -> "days since 2024-02-27",
            "calendar" -> "noleap")),
        NcFormat.WriteVar("cnt", Seq("time"), NcFormat.NcDouble,
          perDay.map(_._2))))
    path
  }

  /** Deterministic NetCDF fixture derived from `events`: a dense
    * (day × slot) grid of per-cell event counts, written CF-packed
    * (NC_INT raw = 4×count, scale_factor 0.25) with _FillValue marking
    * cells that saw no events — so the q61/q62 scans exercise the DSv2
    * reader, mask_and_scale decode, null surfacing, filter pushdown, and
    * CF time decode end-to-end against a parquet-derivable oracle.
    * Returns (file path, first day of the grid). */
  private def ncEventsFixture(s: SparkSession, dir: String): (String, LocalDateTime) = {
    val grid = FixtureGrid(s, dir)
    val days = grid.days
    val fillRaw = -2000000000.0
    val data = grid.dense(fillRaw)(_ * 4.0)
    // wipe stale fixture layouts (file count/naming may change across builds)
    val ncDir = fixturePath(s, dir, "graft_nc", wipe = true)
    // Two files split along the record dim — the scan sees the DIRECTORY
    // as one dataset (the multi-file kerchunk-combine analog, S10), and
    // q62's time predicate prunes non-overlapping files at planning time.
    val nSplit = if (days.length >= 4) days.length / 2 else days.length
    val parts = Seq((0, nSplit), (nSplit, days.length)).filter(p => p._2 > p._1)
    parts.zipWithIndex.foreach { case ((lo, hi), i) =>
      NcFormat.writeFile(s, s"$ncDir/events_grid_$i.nc",
        dims = Seq("time" -> (hi - lo), "slot" -> 10),
        vars = Seq(
          NcFormat.WriteVar("time", Seq("time"), NcFormat.NcInt,
            grid.cfDays.slice(lo, hi),
            attrs = Seq("units" -> "days since 2020-01-01", "calendar" -> "standard")),
          NcFormat.WriteVar("slot", Seq("slot"), NcFormat.NcInt,
            Array.tabulate(10)(_.toDouble)),
          NcFormat.WriteVar("cnt", Seq("time", "slot"), NcFormat.NcInt,
            data.slice(lo * 10, hi * 10),
            nattrs = Seq(
              ("scale_factor", NcFormat.NcDouble, Array(0.25)),
              ("_FillValue", NcFormat.NcInt, Array(fillRaw))))),
        recordDim = Some("time"))
    }
    (ncDir, days.head)
  }

  /** The same events grid as netCDF-4 (HDF5): two files split along time,
    * per-day chunks, shuffle+deflate, CF-packed i4 with _FillValue — the
    * reference's RECOMMENDED input format (transform.py:136-155), scanned
    * through the HDF5 → kerchunk-manifest → zarr route. */
  private def nc4EventsFixture(s: SparkSession, dir: String): (String, LocalDateTime) =
    nc4EventsFixture(s, dir, "deflate")

  private def nc4EventsFixture(s: SparkSession, dir: String,
      codec: String, fletcher: Boolean = false): (String, LocalDateTime) = {
    val grid = FixtureGrid(s, dir)
    val days = grid.days
    val fillRaw = -2000000000.0
    val data = grid.dense(fillRaw)(_ * 4.0)
    val tag = if (fletcher) s"${codec}_f32" else codec
    val ncDir = fixturePath(s, dir, s"graft_nc4_$tag", wipe = true)
    val nSplit = if (days.length >= 4) days.length / 2 else days.length
    val parts = Seq((0, nSplit), (nSplit, days.length)).filter(p => p._2 > p._1)
    parts.zipWithIndex.foreach { case ((lo, hi), i) =>
      graft.sources.h5.H5Write.writeFile(s, s"$ncDir/events_grid_$i.nc",
        dims = Seq("time" -> (hi - lo), "slot" -> 10),
        vars = Seq(
          graft.sources.h5.H5Write.WriteVar("time", Seq("time"), "i4",
            grid.cfDays.slice(lo, hi),
            attrs = Seq("units" -> "days since 2020-01-01", "calendar" -> "standard")),
          graft.sources.h5.H5Write.WriteVar("slot", Seq("slot"), "i4",
            Array.tabulate(10)(_.toDouble)),
          graft.sources.h5.H5Write.WriteVar("cnt", Seq("time", "slot"), "i4",
            data.slice(lo * 10, hi * 10),
            numAttrs = Seq(
              ("scale_factor", "f8", Array(0.25)),
              ("_FillValue", "i4", Array(fillRaw))))),
        chunkLead = 1, compress = true, codec = codec, fletcher = fletcher)
    }
    (ncDir, days.head)
  }

  /** GROUPED netCDF-4 fixture: ONE file, two self-contained groups
    * ("daily" = the q82 events grid, "doubled" = the same grid at 2×) —
    * the CMIP/processing-chain shape xarray addresses with `group=`. */
  private def nc4GroupedEventsFixture(s: SparkSession, dir: String): String = {
    val fixture = FixtureGrid(s, dir)
    val days = fixture.days
    val fillRaw = -2000000000.0
    def grid(mult: Double): Array[Double] = fixture.dense(fillRaw)(_ * 4.0 * mult)
    def group(name: String, mult: Double) = graft.sources.h5.H5Write.GroupSpec(
      name, Seq("time" -> days.length, "slot" -> 10), Seq(
        graft.sources.h5.H5Write.WriteVar("time", Seq("time"), "i4",
          fixture.cfDays,
          attrs = Seq("units" -> "days since 2020-01-01", "calendar" -> "standard")),
        graft.sources.h5.H5Write.WriteVar("slot", Seq("slot"), "i4",
          Array.tabulate(10)(_.toDouble)),
        graft.sources.h5.H5Write.WriteVar("cnt", Seq("time", "slot"), "i4",
          grid(mult),
          numAttrs = Seq(
            ("scale_factor", "f8", Array(0.25)),
            ("_FillValue", "i4", Array(fillRaw))))))
    val path = s"${fixturePath(s, dir, "graft_nc4_grp", wipe = true)}/events_groups.nc"
    graft.sources.h5.H5Write.writeTree(s, path,
      Seq(group("daily", 1.0), group("doubled", 2.0)))
    path
  }

  /** GRIB fixture mirroring the NC one: one message per day holding the
    * dense (lat 0-1 × lon 0-4 = slot) grid of event counts, no-event cells
    * as 0 (GRIB without a bitmap has no missing cells). Written in the
    * requested edition — q66 scans edition 1, q79 edition 2. */
  private def gribEventsFixture(s: SparkSession, dir: String,
      edition: Int = 1, holes: Boolean = false,
      complexPacking: Boolean = false,
      spatialDiffOrder: Int = 0,
      pngPacking: Boolean = false,
      ccsdsPacking: Boolean = false,
      jpegPacking: Boolean = false,
      rotatedPole: Option[(Double, Double, Double)] = None,
      gaussianN: Option[Int] = None,
      reducedRows: Option[Seq[Int]] = None): String = {
    val grid = FixtureGrid(s, dir)
    val tag = (if (holes) "_bm" else "") + (if (complexPacking) "_cx" else "") +
      (if (spatialDiffOrder > 0) s"_sd$spatialDiffOrder" else "") +
      (if (pngPacking) "_png" else "") + (if (ccsdsPacking) "_cc" else "") +
      (if (jpegPacking) "_jp" else "") +
      (if (rotatedPole.isDefined) "_rot" else "") +
      (if (gaussianN.isDefined) "_gau" else "") +
      (if (reducedRows.isDefined) "_red" else "")
    val path = s"${fixturePath(s, dir, "graft_grib")}/" +
      (if (edition == 1) s"events$tag.grb" else s"events$tag.grb2")
    val latAxis: Seq[Double] = gaussianN match {
      case Some(n) => graft.sources.grib.GribFormat.gaussianLatitudes(n).toSeq
      case None => Seq(0.0, 1.0)
    }
    val messages = grid.daily.map { case (d, cnt) =>
      // holes: no-event cells become bitmap-masked NaN instead of 0
      val vals = cnt.map(c => if (holes && c == 0) Double.NaN else c.toDouble)
      (61, d, latAxis,
        if (reducedRows.isDefined) Seq(0.0) else Seq(0.0, 1.0, 2.0, 3.0, 4.0),
        vals)
    }
    graft.sources.grib.GribFormat.writeFile(s, path, messages, edition = edition,
      complexPacking = complexPacking, spatialDiffOrder = spatialDiffOrder,
      pngPacking = pngPacking, ccsdsPacking = ccsdsPacking,
      jpegPacking = jpegPacking,
      rotatedPole = rotatedPole, gaussianN = gaussianN,
      reducedRows = reducedRows)
    path
  }

  /** Probability-product fixture (template 4.5, the NBM shape): per day
    * TWO PoP fields of ONE param at one (ref_time, step) — thresholds
    * 1 mm and 5 mm, with threshold-5 values = 2·cnt + 1 so a threshold
    * mix-up breaks VALUES, not just the row count. */
  private def gribProbFixture(s: SparkSession, dir: String): String =
    gribDailyFixture(s, dir, "events_prob.grb2") { (out, d, cnt) =>
      val v1 = cnt.map(_.toDouble)
      val v2 = v1.map(_ * 2 + 1)
      graft.sources.grib.GribFormat.writeMessage2Fields(out, d,
        Seq(0.0, 1.0), Seq(0.0, 1.0, 2.0, 3.0, 4.0),
        fields = Seq((61, 0, v1), (61, 0, v2)),
        probs = Seq((3, 1L, Long.MinValue), (3, 5L, Long.MinValue)))
    }

  /** PNG media fixture: one REAL 8×8 grayscale PNG per day (RFC 2083 —
    * zlib, cycling scanline filters), pixels derived from slot counts:
    * p(i) = (cnt(slot = i mod 10)·7 + i) mod 256. The oracle recomputes
    * the pixels from events, so the gate proves the actual PNG decode
    * (inflate + filter reversal) recovers every byte. */
  private def pngEventsFixture(s: SparkSession, dir: String): DataFrame = {
    val rows = FixtureGrid(s, dir).rows.map { case (id, cnt) =>
      val px = Array.tabulate(64)(i => (cnt(i % 10) * 7 + i) % 256)
      val png = graft.sources.grib.Png.encode(8, 8, 8, px)
      (id, png)
    }
    val sp = s; import sp.implicits._
    rows.toDF("id", "png")
  }

  /** Spectral-synthesis fixture: one 5.50 message per day, T=3, with only
    * the (0,0), (0,1) and (1,1) coefficients nonzero (counts of slots
    * 0-3) — the oracle then replays the synthesis closed-form in SQL. */
  private def gribSpectralSynthFixture(s: SparkSession, dir: String): String =
    gribDailyFixture(s, dir, "events_sy.grb2") { (out, d, cnt) =>
      val coeffs = new Array[Double](20) // T=3: 10 pairs, m-major
      coeffs(0) = cnt(0).toDouble // (0,0) re
      coeffs(2) = cnt(1).toDouble // (0,1) re
      coeffs(8) = cnt(2).toDouble // (1,1) re
      coeffs(9) = cnt(3).toDouble // (1,1) im
      graft.sources.grib.GribFormat.writeSpectralMessage2(out,
        refTime = d, trunc = 3, fields = Seq((61, 0, coeffs)))
    }

  /** WAV media fixture: one REAL 16-bit PCM clip per day (RIFF framing),
    * 100 samples at 8 kHz, s(i) = ((cnt(slot = i mod 10)·31 + i·7) mod
    * 2001) − 1000 — zeros occur, exercising the sign-skip in the
    * zero-crossing count. The oracle recomputes the samples from events,
    * so the gate proves the RIFF/PCM parse recovers every frame. */
  private def wavEventsFixture(s: SparkSession, dir: String): DataFrame = {
    val rows = FixtureGrid(s, dir).rows.map { case (id, cnt) =>
      val samples = Array.tabulate(100)(i =>
        (((cnt(i % 10) * 31 + i * 7) % 2001) - 1000).toInt)
      (id,
        graft.functions.Audio.encodeWav(samples, 8000))
    }
    val sp = s; import sp.implicits._
    rows.toDF("id", "wav")
  }

  /** AVI media fixture: one REAL AVI container per day (RIFF framing,
    * hdrl stub + movi LIST), three '00dc' frames whose payloads are
    * PRINTABLE-ASCII bytes derived from slot counts — frame f has length
    * 6 + (cnt(slot f) mod 5) and byte j = 32 + ((cnt(slot f)·7 + j·5)
    * mod 64), so the oracle rebuilds the exact payload TEXT in SQL. */
  private def aviEventsFixture(s: SparkSession, dir: String): DataFrame = {
    val rows = FixtureGrid(s, dir).rows.map { case (id, cnt) =>
      val frames = (0 until 3).map { f =>
        val len = 6 + (cnt(f) % 5).toInt
        Array.tabulate[Byte](len)(j => (32 + ((cnt(f) * 7 + j * 5) % 64)).toByte)
      }
      (id,
        Multimodal.encodeAvi(frames))
    }
    val sp = s; import sp.implicits._
    rows.toDF("id", "video")
  }

  /** Baseline-JPEG fixture: per day a REAL 16×16 grayscale JPEG
    * (all-ones quantization — near-lossless) of pixels p(i) =
    * (cnt(slot i mod 10)·3 + i) mod 256, alongside the expected pixel
    * array for the decode-error bound. */
  private def jpegEventsFixture(s: SparkSession, dir: String): DataFrame = {
    val rows = FixtureGrid(s, dir).rows.map { case (id, cnt) =>
      val px = Array.tabulate(256)(i => ((cnt(i % 10) * 3 + i) % 256).toInt)
      (id,
        graft.functions.Jpeg.encode(16, 16, px), px)
    }
    val sp = s; import sp.implicits._
    rows.toDF("id", "jpeg", "expected")
  }

  /** GIF twin of [[pngEventsFixture]]: the same 8×8 pixel grid encoded
    * as GIF89a (LZW, gray palette entries p·0x010101 so luminance
    * recovers the exact byte). */
  private def gifEventsFixture(s: SparkSession, dir: String): DataFrame = {
    val rows = FixtureGrid(s, dir).rows.map { case (id, cnt) =>
      val px = Array.tabulate(64)(i => (((cnt(i % 10) * 7 + i) % 256) * 0x010101L).toInt)
      (id,
        graft.functions.Gif.encode(8, 8, px))
    }
    val sp = s; import sp.implicits._
    rows.toDF("id", "gif")
  }

  /** WebP twin of [[pngEventsFixture]]: the same 8×8 gray pixel grid as
    * VP8L lossless, with the encoder's transform knobs CYCLED by day —
    * plain literals, subtract-green, each spatial predictor mode in
    * turn, cross-color, palette (sub-byte bundling), color cache, LZ77
    * runs, VP8X container — so the single oracle hash covers every
    * decoder path (the q146 "cycling scanline filters" trick). */
  private def webpEventsFixture(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.WebP.EncodeOpts
    val rows = FixtureGrid(s, dir).rows.zipWithIndex.map { case ((id, cnt), k) =>
      val px = Array.tabulate(64)(i =>
        0xFF000000 | (((cnt(i % 10) * 7 + i) % 256) * 0x010101L).toInt)
      val opts = (k % 8) match {
        case 0 => EncodeOpts()
        case 1 => EncodeOpts(subtractGreen = true, cacheBits = 4)
        case 2 => EncodeOpts(predictorMode = k % 14)
        case 3 => EncodeOpts(colorTransform = Some((23, -45, 101)))
        case 4 => EncodeOpts(palette = true)
        case 5 => EncodeOpts(rleBackrefs = true, cacheBits = 6)
        case 6 => EncodeOpts(subtractGreen = true,
          predictorMode = k % 14, vp8x = true)
        case _ => EncodeOpts(cacheBits = 2, vp8x = true)
      }
      (id, graft.functions.WebP.encode(8, 8, px, opts))
    }
    val sp = s; import sp.implicits._
    rows.toDF("id", "webp")
  }

  /** FLAC twin of [[wavEventsFixture]]: the SAME 100-sample clips
    * carried as native FLAC, with the encoder strategy CYCLED by day —
    * fixed predictors 0-2, verbatim, LPC, Rice partitions/methods,
    * multi-frame blocks, and an equal-channel mid/side stereo pair
    * (average = the mono formula) — so q148's oracle applies verbatim
    * and any prefix/Rice/predictor/stereo slip fails the compare. */
  private def flacEventsFixture(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Flac
    val rows = FixtureGrid(s, dir).rows.map { case (id, cnt) =>
      val samples = Array.tabulate(100)(i =>
        (((cnt(i % 10) * 31 + i * 7) % 2001) - 1000).toInt)
      val flac = (id % 6) match {
        case 0 => Flac.encode(Array(samples), 8000, strategy = Flac.Fixed(2))
        case 1 => Flac.encode(Array(samples), 8000, blockSize = 64,
          strategy = Flac.Verbatim)
        case 2 => Flac.encode(Array(samples), 8000,
          strategy = Flac.Fixed(1, partitionOrder = 2, method = 1))
        case 3 => Flac.encode(Array(samples), 8000,
          strategy = Flac.Lpc(Array(2, -1), 0))
        case 4 => Flac.encode(Array(samples, samples), 8000,
          strategy = Flac.Fixed(2), stereo = Flac.MidSide)
        case _ => Flac.encode(Array(samples), 8000, blockSize = 50,
          strategy = Flac.Fixed(0))
      }
      (id, flac)
    }
    val sp = s; import sp.implicits._
    rows.toDF("id", "flac")
  }

  /** ANIMATED-GIF fixture: one three-frame GIF89a per day on an 8×8
    * logical screen — frame 0 paints the full q146 grid (disposal
    * keep), frame 1 overdraws a 4×4 rect at (2,1) with disposal 3
    * (restore previous — its pixels must NOT leak into frame 2), and
    * frame 2 a 4×4 rect at (4,4) with TRANSPARENT holes where
    * (cnt+j)%3=0. Gray palettes make luminance recover the exact
    * bytes, so the oracle replays the full compositing model (sub-rect
    * overdraw, disposal restore, transparency) in SQL. */
  private def gifAnimEventsFixture(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Gif
    val rows = FixtureGrid(s, dir).rows.map { case (id, cnt) =>
      def gray(v: Long): Int = (((v % 256) * 0x010101L).toInt)
      val f0 = Array.tabulate(64)(i => gray(cnt(i % 10) * 7 + i))
      val f1 = Array.tabulate(16)(j => gray(cnt(j % 10) * 11 + j))
      val f2 = Array.tabulate(16)(j =>
        if ((cnt(j % 10) + j) % 3 == 0) -1 else gray(cnt(j % 10) * 13 + j))
      (id, Gif.encodeAnimated(8, 8, 0, Seq(
        Gif.AnimFrame(0, 0, 8, 8, f0, delayCs = 10, disposal = 1),
        Gif.AnimFrame(2, 1, 4, 4, f1, delayCs = 20, disposal = 3),
        Gif.AnimFrame(4, 4, 4, 4, f2, delayCs = 30, disposal = 0))))
    }
    val sp = s; import sp.implicits._
    rows.toDF("id", "gif")
  }

  /** COG-pyramid fixture: every day an 8×8 float64 raster WITH a /2
    * overview IFD (the writer samples every 2nd pixel), same values and
    * NODATA rule as [[geotiffEventsFixture]] — so the overview-level
    * scan's expected rows are the closed-form decimation. */
  private def geotiffOverviewFixture(s: SparkSession, dir: String): String = {
    val grid = FixtureGrid(s, dir)
    val outDir = fixtureDir(s, dir, "graft_cogov")
    import graft.sources.tiff.TiffFormat
    grid.rows.foreach { case (id, cnt) =>
      val vals = Array.tabulate(64) { i =>
        if (cnt(i % 10) % 5 == 0) -9999.0
        else ((cnt(i % 10) * 7 + i) % 1000000L).toDouble
      }
      val bytes = TiffFormat.write(8, 8, Array(vals), 3, 64,
        -20.0, 50.0, 0.25, 0.25,
        TiffFormat.WriteOpts(tileSize = 16, compression = 8,
          overview = true, noData = Some(-9999)))
      withOutput(s, s"$outDir/$id.tif")(_.write(bytes))
    }
    outDir
  }

  /** G.711 twin of [[wavEventsFixture]] (the telephony/call-center
    * crawl shape): 100 samples per day built from a closed (exp, mant,
    * sign) form that is EXACTLY μ-law/A-law representable, so the 8-bit
    * companded roundtrip is bit-exact and the DuckDB oracle replays the
    * segment formula with zero codec code. Even days carry μ-law
    * (format 7), odd days A-law (format 6). */
  private def g711EventsFixture(s: SparkSession, dir: String): DataFrame = {
    val rows = FixtureGrid(s, dir).rows.map { case (id, cnt) =>
      val aLaw = id % 2 != 0
      val samples = Array.tabulate(100) { i =>
        val c = cnt(i % 10)
        val e = (c % 8).toInt
        val m = ((c * 3 + i) % 16).toInt
        val sg = if ((c + i) % 2 == 0) 1 else -1
        val mag =
          if (!aLaw) (m * 8 + 132) * (1 << e) - 132
          else if (e == 0) m * 16 + 8
          else (m * 16 + 264) * (1 << (e - 1))
        sg * mag
      }
      (id, graft.functions.Audio.encodeG711(samples, 8000, aLaw))
    }
    val sp = s; import sp.implicits._
    rows.toDF("id", "wav")
  }

  /** GeoTIFF fixture: one 8×8 raster per day (CHIRPS-style one-file-
    * per-date archive, filename = epoch-day), pixel v(i) = (cnt(slot =
    * i%10)·7 + i + (band−1)·1000) mod 1e6, NODATA −9999 where cnt%5=0,
    * band count 1 + (id%2); geo-transform origin (−20, 50), scale 0.25.
    * The writer CONFIG cycles by day — float64/float32/int32, strips
    * and 16×16 tiles, none/Deflate/LZW/PackBits/Zstd, horizontal
    * predictor, BigTIFF, a COG overview IFD — so the one scan gate
    * covers every reader path, the q167 trick. */
  private def geotiffEventsFixture(s: SparkSession, dir: String): String = {
    val grid = FixtureGrid(s, dir)
    val outDir = fixtureDir(s, dir, "graft_tif")
    import graft.sources.tiff.TiffFormat
    grid.rows.foreach { case (id, cnt) =>
      val nBands = 1 + (id % 2).toInt
      val bands = Array.tabulate(nBands)(b => Array.tabulate(64) { i =>
        if (cnt(i % 10) % 5 == 0) -9999.0
        else ((cnt(i % 10) * 7 + i + b * 1000L) % 1000000L).toDouble
      })
      val opts0 = TiffFormat.WriteOpts(noData = Some(-9999))
      val (sfmt, bits, opts) = (id % 7) match {
        case 0 => (3, 64, opts0.copy(rowsPerStrip = 3))
        case 1 => (2, 32, opts0.copy(tileSize = 16, compression = 8, predictor = 2))
        case 2 => (3, 32, opts0.copy(rowsPerStrip = 4, compression = 5))
        case 3 => (2, 32, opts0.copy(rowsPerStrip = 2, compression = 32773, predictor = 2))
        case 4 => (3, 64, opts0.copy(bigTiff = true, compression = 8))
        case 5 => (2, 32, opts0.copy(tileSize = 16, compression = 50000,
          predictor = 2)) // zstd — GDAL's modern COG default
        case _ => (2, 32, opts0.copy(tileSize = 16, compression = 5,
          predictor = 2, overview = true))
      }
      val bytes = TiffFormat.write(8, 8, bands, sfmt, bits,
        -20.0, 50.0, 0.25, 0.25, opts)
      withOutput(s, s"$outDir/$id.tif")(_.write(bytes))
    }
    outDir
  }

  /** Projected-CRS COG fixture (the Sentinel-2/commercial-imagery
    * shape): q168's per-day grid stamped GTModelType=1 +
    * ProjectedCSType EPSG:3857, Web-Mercator affine with origin
    * (easting −1 000 000, northing 6 000 000) and 1 km pixels —
    * integer-plus-half model coordinates, exactly double-representable,
    * so the DuckDB oracle replays the affine closed-form. Writer
    * configs cycle (strips/tiles, none/Deflate/LZW, float64/float32/
    * int32, BigTIFF) so every reader path also runs projected. */
  private def geotiffProjectedFixture(s: SparkSession, dir: String): String = {
    val grid = FixtureGrid(s, dir)
    val outDir = fixtureDir(s, dir, "graft_tifproj")
    import graft.sources.tiff.TiffFormat
    grid.rows.foreach { case (id, cnt) =>
      val vals = Array.tabulate(64) { i =>
        if (cnt(i % 10) % 5 == 0) -9999.0
        else ((cnt(i % 10) * 7 + i) % 1000000L).toDouble
      }
      val opts0 = TiffFormat.WriteOpts(noData = Some(-9999),
        modelType = 1, epsg = 3857)
      val (sfmt, bits, opts) = (id % 4) match {
        case 0 => (3, 64, opts0.copy(rowsPerStrip = 3))
        case 1 => (2, 32, opts0.copy(tileSize = 16, compression = 8, predictor = 2))
        case 2 => (3, 32, opts0.copy(rowsPerStrip = 4, compression = 5))
        case _ => (3, 64, opts0.copy(bigTiff = true, compression = 8))
      }
      val bytes = TiffFormat.write(8, 8, Array(vals), sfmt, bits,
        -1000000.0, 6000000.0, 1000.0, 1000.0, opts)
      withOutput(s, s"$outDir/$id.tif")(_.write(bytes))
    }
    outDir
  }

  /** Per-(day, slot) event counts, slot = `event_id % 10`: the aggregate
    * every events-derived fixture starts from. */
  private def daySlotCounts(s: SparkSession, dir: String): DataFrame =
    eventsWithDay(s, dir)
      .groupBy(col("d"), (col("event_id") % 10).cast("int").as("slot"))
      .count()

  /** The events grid the file fixtures are written from: the sorted days
    * that saw events, each day's epoch-day id and `counts(day)(slot)` (0
    * where a slot saw none). `FixtureGrid(s, dir)` runs one aggregate +
    * collect on every call — never shared across queries or runs, so each
    * query still pays for its own fixture inside the timed region. */
  private final case class FixtureGrid(days: IndexedSeq[LocalDateTime],
      ids: IndexedSeq[Long], counts: IndexedSeq[Array[Long]]) {
    /** (epoch-day id, slot counts) per day. */
    def rows: IndexedSeq[(Long, Array[Long])] = ids.zip(counts)

    /** (day, slot counts) per day. */
    def daily: IndexedSeq[(LocalDateTime, Array[Long])] = days.zip(counts)

    /** Each day as days since 2020-01-01: the NetCDF fixtures' time axis. */
    def cfDays: Array[Double] = days.map(d => java.time.temporal.ChronoUnit.DAYS
      .between(LocalDateTime.parse("2020-01-01T00:00"), d).toDouble).toArray

    /** The day-major (day × slot) raster: `value(count)`, or `fill` where a
      * slot saw no events. */
    def dense(fill: Double)(value: Long => Double): Array[Double] =
      counts.flatMap(_.map(c => if (c == 0) fill else value(c))).toArray
  }

  private object FixtureGrid {
    implicit val byTime: Ordering[LocalDateTime] = Ordering.fromLessThan(_ isBefore _)

    def apply(s: SparkSession, dir: String): FixtureGrid = {
      val cells = daySlotCounts(s, dir).collect()
      val days = cells.map(_.getAs[LocalDateTime]("d")).distinct.sorted.toIndexedSeq
      val dayIdx = days.zipWithIndex.toMap
      val counts = days.map(_ => Array.fill(10)(0L))
      cells.foreach(r => counts(dayIdx(r.getAs[LocalDateTime]("d")))(r.getAs[Int]("slot")) =
        r.getAs[Long]("count"))
      val epoch = java.time.LocalDate.of(1970, 1, 1)
      FixtureGrid(days,
        days.map(d => java.time.temporal.ChronoUnit.DAYS.between(epoch, d.toLocalDate)),
        counts)
    }
  }

  /** A fixture's location, `java.io.tmpdir/<name>_<dir with non-alphanumerics
    * as _>`: one per (fixture, scale factor). `wipe` deletes it first so
    * the query stays idempotent across runs. Never wipe a directory several
    * fixtures share (`graft_grib`): each fixture there replaces its file. */
  private def fixturePath(s: SparkSession, dir: String, name: String,
      wipe: Boolean = false): String = {
    val path = s"${System.getProperty("java.io.tmpdir")}/${name}_" +
      dir.replaceAll("[^A-Za-z0-9]", "_")
    if (wipe) GridStore.fileSystem(s, path).delete(new org.apache.hadoop.fs.Path(path), true)
    path
  }

  /** [[fixturePath]] wiped and recreated empty: the one-file-per-day fixtures. */
  private def fixtureDir(s: SparkSession, dir: String, name: String): String = {
    val path = fixturePath(s, dir, name, wipe = true)
    GridStore.fileSystem(s, path).mkdirs(new org.apache.hadoop.fs.Path(path))
    path
  }

  /** q80's zarr lifecycle input: the dense (day × slot) event-count grid. */
  private def zarrGrid(s: SparkSession, dir: String): DataFrame =
    eventsWithDay(s, dir)
      .groupBy(col("d").as("time"),
        (col("event_id") % 10).cast("double").as("slot"))
      .agg(count(lit(1)).cast("double").as("n"))

  /** q43's store lifecycle over `grid` (time, …, n): `initial` publishes the
    * days before the 21st, then `update` publishes days 15-25 with n + `bump`
    * — an insert of days 15-20 plus an append of 21-25. */
  private def publishLifecycle(grid: DataFrame, bump: Any)(
      initial: DataFrame => Unit, update: DataFrame => Unit): Unit = {
    initial(grid.filter(col("time") < ldt("2024-01-21T00:00:00")))
    update(grid
      .filter(col("time").between(ldt("2024-01-15T00:00:00"), ldt("2024-01-25T00:00:00")))
      .withColumn("n", col("n") + lit(bump)))
  }

  /** A `grib1` scan of an events-grid GRIB fixture with each cell's
    * `slot` recovered from its (lat 0-1, lon 0-4) position. */
  private def gribSlots(s: SparkSession, path: String): DataFrame =
    s.read.format("grib1").load(path)
      .withColumn("slot", (col("latitude") * 5 + col("longitude")).cast("int"))

  /** A GRIB file `graft_grib_<sf>/<file>` written one day of the events
    * grid at a time: `message(out, day, slot counts)`. Returns its path. */
  private def gribDailyFixture(s: SparkSession, dir: String, file: String)(
      message: (java.io.DataOutputStream, LocalDateTime, Array[Long]) => Unit): String = {
    val grid = FixtureGrid(s, dir)
    val path = s"${fixturePath(s, dir, "graft_grib")}/$file"
    withOutput(s, path)(out => grid.daily.foreach { case (d, cnt) => message(out, d, cnt) })
    path
  }

  /** Writes `path` (replacing it) through a buffered stream closed after `body`. */
  private def withOutput(s: SparkSession, path: String)(
      body: java.io.DataOutputStream => Unit): Unit = {
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      GridStore.fileSystem(s, path).create(new org.apache.hadoop.fs.Path(path), true)))
    try body(out) finally out.close()
  }

  /** Target wave for the ADPCM bound gate: a per-day triangle whose
    * amplitude derives from event counts — slope ≤ ~850/sample, which a
    * correctly-stepping ADPCM coder tracks within one adapted step,
    * while a structural bug (nibble order, wrong table entry, header
    * layout) produces full-amplitude garbage and fails the bound. */
  private def adpcmTargetWave(id: Long, cntSum: Long, n: Int): Array[Int] = {
    val amp = 4000 + ((cntSum + id) % 8).toInt * 1000
    Array.tabulate(n) { t =>
      val ph = t % 50
      amp * (math.abs(ph - 25) - 12) / 13
    }
  }

  /** ADPCM WAV fixture (telephony/games archives): even days IMA
    * (format 17, 2 full 256-byte blocks = 1010 samples), odd days
    * MS-ADPCM (format 2, 2 blocks = 1000 samples), both carrying
    * [[adpcmTargetWave]]. Lossy, so the gate is the q156/q138 bound
    * pattern: integer facts (rate, counts, duration) exact + a
    * reconstruction-error bound; EXACT state-machine decode is pinned
    * in AdpcmSpec's hand vectors. */
  private def adpcmEventsFixture(s: SparkSession, dir: String): DataFrame = {
    val rows = FixtureGrid(s, dir).rows.map { case (id, cnt) =>
      val cntSum = cnt.sum
      val ima = id % 2 == 0
      val n = if (ima) 1010 else 1000 // exactly 2 blocks either way
      val x = adpcmTargetWave(id, cntSum, n)
      val wav =
        if (ima) graft.functions.Audio.encodeImaAdpcm(x, 8000)
        else graft.functions.Audio.encodeMsAdpcm(x, 8000)
      (id, cntSum, wav)
    }
    val sp = s; import sp.implicits._
    rows.toDF("id", "cnt_sum", "wav")
  }

  /** MP4/ISO-BMFF fixture (the web's dominant video container): one
    * file per day with a video track (avc1, per-sample sizes from event
    * counts, two-run stts, keyframes every 3rd sample) and an audio
    * track (mp4a, fixed-size samples, no stss = all sync; co64 on even
    * days). The writer lays mdat BEFORE moov, so every sample's
    * absolute byte offset is the closed-form 32 + cumulative sizes and
    * the DuckDB oracle replays the ENTIRE sample table — sizes,
    * offsets, dts, keyframe flags — with zero MP4 code. */
  private def mp4EventsFixture(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Mp4
    val rows = FixtureGrid(s, dir).rows.map { case (id, cnt) =>
      val nVideo = 5 + (id % 3).toInt
      val sizes = Seq.tabulate(nVideo)(i => (cnt(i % 10) * 3 + i) % 200 + 1)
      val video = Mp4.TrackSpec(1, "vide", "avc1", timescale = 12800,
        width = 320, height = 240, sizes = sizes,
        sttsRuns = Seq((4, 100L), (nVideo - 4, 250L)),
        syncSamples = Some((0 until nVideo).filter(_ % 3 == 0).map(_ + 1)),
        samplesPerChunk = Seq(3))
      val audio = Mp4.TrackSpec(2, "soun", "mp4a", timescale = 48000,
        fixedSize = 64, nFixed = 10,
        sttsRuns = Seq((10, 1024L)),
        syncSamples = None,
        samplesPerChunk = Seq(10), co64 = id % 2 == 0)
      (id, Mp4.encode(Seq(video, audio)))
    }
    val sp = s; import sp.implicits._
    rows.toDF("id", "mp4")
  }

  /** Fragmented-MP4 twin of [[mp4EventsFixture]] (the DASH/CMAF
    * streaming shape): the SAME logical sample table delivered as
    * moof/tfhd/trun runs — video split into two fragments (4 samples
    * @100 then the rest @250, the second re-based by a version-1 tfdt),
    * audio as one trex-defaulted fragment — in the writer's leading-mdat
    * layout, so byte offsets stay 32 + running sums and q174's oracle
    * applies VERBATIM: fragmentation is invisible to the sample table
    * (the q139/q143 "invisible to results" framing). */
  private def mp4FragmentedEventsFixture(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Mp4
    val rows = FixtureGrid(s, dir).rows.map { case (id, cnt) =>
      val nVideo = 5 + (id % 3).toInt
      val sizes = Seq.tabulate(nVideo)(i => (cnt(i % 10) * 3 + i) % 200 + 1)
      val sync = (0 until nVideo).map(_ % 3 == 0)
      val video = Mp4.FragTrackSpec(1, "vide", "avc1", timescale = 12800,
        width = 320, height = 240,
        fragments = Seq(
          Mp4.Fragment(sizes = sizes.take(4), durations = Seq.fill(4)(100L),
            syncFlags = sync.take(4), tfdt = Some(0L)),
          Mp4.Fragment(sizes = sizes.drop(4),
            durations = Seq.fill(nVideo - 4)(250L),
            syncFlags = sync.drop(4), tfdt = Some(400L), tfdtV1 = true)))
      val audio = Mp4.FragTrackSpec(2, "soun", "mp4a", timescale = 48000,
        fragments = Seq(Mp4.Fragment(nDefault = 10, defaultSize = 64,
          tfdt = Some(0L))),
        trexDur = 1024)
      (id, Mp4.encodeFragmented(Seq(video, audio)))
    }
    val sp = s; import sp.implicits._
    rows.toDF("id", "mp4")
  }

  /** Matroska/WebM fixture (the web's other video container): one file
    * per day — a VP9-tagged video track delivered as unlaced
    * SimpleBlocks split over TWO clusters (the second re-based to
    * timestamp 1000, exercising cluster timestamp accumulation) and an
    * Opus-tagged audio track as ONE fixed-laced block whose frames step
    * by the track's 20 ms DefaultDuration. Frame sizes derive from
    * event counts with q174's formula, so the DuckDB oracle replays the
    * whole frame table with zero EBML code. */
  private def mkvEventsFixture(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Mkv
    val rows = FixtureGrid(s, dir).rows.map { case (id, cnt) =>
      val nVideo = 5 + (id % 3).toInt
      val frames = Seq.tabulate(nVideo) { i =>
        val n = ((cnt(i % 10) * 3 + i) % 200 + 1).toInt
        Array.tabulate(n)(j => ((i * 31 + j) % 251).toByte)
      }
      val keys = (0 until nVideo).map(_ % 3 == 0)
      val video = Mkv.WTrack(1, 1, "V_VP9", width = 640, height = 360)
      val audio = Mkv.WTrack(2, 2, "A_OPUS", defaultDurationNs = 20000000)
      val audioFrames = Seq.fill(10)(Array.fill[Byte](64)(0x5A))
      val bytes = Mkv.encode("webm", Seq(video, audio), Seq(
        Mkv.WCluster(0, Seq(
          Mkv.WBlock(1, 0, frames.take(4), keys.take(4)),
          Mkv.WBlock(2, 0, audioFrames, Seq.fill(10)(true), lacing = 2))),
        Mkv.WCluster(1000, Seq(
          Mkv.WBlock(1, 0, frames.drop(4), keys.drop(4))))))
      (id, bytes)
    }
    val sp = s; import sp.implicits._
    rows.toDF("id", "mkv")
  }

  /** One day's WARC records (the Common Crawl shape): a warcinfo record
    * plus one HTTP response per slot, bodies built from event counts
    * with printable ASCII so the DuckDB oracle rebuilds every field
    * (uri, envelope length, status, body text) with zero WARC code.
    * Status cycles 200/404 on the count so the envelope split is
    * exercised on both; HTTP BODY CODINGS cycle by slot — identity /
    * chunked / gzip-level-0 — with closed-form encoded lengths (chunk
    * framing arithmetic; stored-block gzip = len + 23) the oracle
    * replays; bodies carry character references — numeric (&#8212;,
    * &#x21;) AND common named (&ldquo; &rdquo; &hellip; &deg; &copy;)
    * — for q180's extraction gate. */
  private def warcDayRecords(id: Long, cnt: Array[Long])
      : Seq[graft.functions.Warc.WRecord] = {
    import graft.functions.Warc
    Warc.WRecord("warcinfo", body = "crawler=graft\n") +:
      (0 until 10).map { slot =>
        val c = cnt(slot)
        Warc.WRecord("response",
          targetUri = s"https://example.com/$id/$slot",
          httpStatus = Some(if (c % 7 == 0) 404 else 200),
          chunked = slot % 3 == 1,
          gzipBody = slot % 3 == 2,
          body = s"<html><head><style>p{x:$c}</style></head><body>" +
            s"<h1>Day $id</h1><p>events=$c &amp; more &#8212; ok&#x21; " +
            "&ldquo;q&rdquo;&hellip; 5&deg; &copy;</p>" +
            s"<script>var a=$c;</script></body></html>")
      }
  }

  /** WARC files on disk for the SPLITTABLE `format("warc")` scan (the
    * 100 TB ingest path): the member codec cycles by day — plain
    * `.warc` (line-start resync), per-record-member `.warc.gz`
    * (gzip-member resync), and per-record-frame `.warc.zst`
    * (zstd-frame resync, the Internet Archive shape) — record content
    * from [[warcDayRecords]], shared with the q179/q180 oracles. Odd
    * zst days carry the IIPC shared-dictionary layout (leading
    * 0x184D2A5D skippable frame; payload raw or zstd-wrapped by day) —
    * the petabox shape — with IDENTICAL record content, so the oracle
    * is container-blind. */
  private def warcFilesFixture(s: SparkSession, dir: String): String = {
    import graft.functions.Warc
    val outDir = fixtureDir(s, dir, "graft_warcf")
    val dict = ("<html><head><style>p{x:0}</style></head><body>" +
      "<h1>Day </h1><p>events= &amp; more &#8212; ok&#x21;</p>" +
      "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n").getBytes("US-ASCII")
    FixtureGrid(s, dir).rows.foreach { case (id, cnt) =>
      val codec = id % 3
      val bytes = Warc.encode(warcDayRecords(id, cnt),
        gzipPerRecord = codec == 1, zstdPerRecord = codec == 2,
        zstdDictionary = if (codec == 2 && id % 2 == 1) Some(dict) else None,
        zstdDictCompressed = id % 4 == 1)
      val name = s"$id.warc" + (codec match {
        case 1 => ".gz"; case 2 => ".zst"; case _ => "" })
      withOutput(s, s"$outDir/$name")(_.write(bytes))
    }
    outDir
  }

  /** WARC files whose pages carry BOILERPLATE — nav bar, cookie
    * banner, pagination-style footer, script — around two content
    * paragraphs built from event counts (slot 7 is a teaser-only page
    * with no real content), for the q189 main-content-extraction gate:
    * the oracle states the expected MAIN text closed-form, so any
    * boilerplate leaking past the extractor, or content sunk by it,
    * fails the compare. One `.warc.gz` per day (per-record members,
    * scanned with forced splits). */
  private def warcBoilerplateFixture(s: SparkSession, dir: String): String = {
    import graft.functions.Warc
    val outDir = fixtureDir(s, dir, "graft_warcb")
    FixtureGrid(s, dir).rows.foreach { case (id, cnt) =>
      val recs = Warc.WRecord("warcinfo", body = "crawler=graft\n") +:
        (0 until 10).map { slot =>
          val c = cnt(slot)
          val content =
            if (slot == 7) "<p>short teaser only</p>"
            // slot 3 is the paragraph-fragmented article: the 2-word
            // bridge between two long paragraphs must be gap-fill
            // PROMOTED (q189), not dropped on the word-count gate
            else if (slot == 3)
              s"<p>Fragmented article for day $id opens with a long " +
                s"paragraph reporting exactly $c events</p>" +
                "<p>Short bridge</p>" +
                s"<p>The closing paragraph repeats the count $c and " +
                "adds more supporting words for depth</p>"
            else s"<p>Main story for day $id slot $slot reports exactly " +
              s"$c events with details</p><p>Second passage confirms the " +
              s"count $c again and adds supporting words for depth</p>"
          // slot 7 is the CDN-templated page: a <base href> that every
          // link must resolve against (q200's base-resolution day)
          val baseTag =
            if (slot == 7) "<base href=\"https://cdn.example.org/b/\">"
            else ""
          Warc.WRecord("response",
            targetUri = s"https://example.com/$id/$slot",
            httpStatus = Some(if (c % 7 == 0) 404 else 200),
            body = s"<html><head><title>Site</title>$baseTag</head><body>" +
              "<div><a href=\"/\">Home</a> <a href=\"/a\">About</a> " +
              "<a href=\"/c\">Contact</a> <a href=\"/l\">Login</a></div>" +
              "<div>We use cookies see <a href=\"/p\">policy</a> and " +
              "<a href=\"/s\">settings</a> now</div>" + content +
              // dot-segment relatives + an unquoted href: link hygiene
              // the q200 oracle pins (the round-14 verdict's top gap)
              "<div><a href=\"/t\">Terms</a> <a href=\"/pr\">Privacy</a> " +
              "<a href=\"/si\">Sitemap</a> <a href=\"x/../rel.html\">R</a> " +
              "<a href=../../up.html>W</a> <a href=/u>U</a></div>" +
              "<script>nav(\"x\");</script></body></html>")
        }
      withOutput(s, s"$outDir/$id.warc.gz")(_.write(Warc.encode(recs, gzipPerRecord = true)))
    }
    outDir
  }

  /** WARC files with fetch-time-dedup `revisit` records (the Internet
    * Archive shape) for the q191 resolution gate: each day's first five
    * pages are re-fetched as payload-free revisits pointing back via
    * WARC-Refers-To + the shared payload digest, plus one DANGLING
    * revisit whose referent does not exist (must survive resolution
    * with nulls, not vanish). */
  private def warcRevisitFixture(s: SparkSession, dir: String): String = {
    import graft.functions.Warc
    val outDir = fixtureDir(s, dir, "graft_warcr")
    FixtureGrid(s, dir).rows.foreach { case (id, cnt) =>
      val responses = (0 until 10).map { slot =>
        val c = cnt(slot)
        Warc.WRecord("response",
          targetUri = s"https://example.com/$id/$slot",
          httpStatus = Some(200),
          body = s"revisit target body $id $slot with $c events",
          recordId = s"<urn:graft:$id/$slot>",
          payloadDigest = s"sha1:D$id-$slot")
      }
      val revisits = (0 until 5).map { slot =>
        Warc.WRecord("revisit",
          targetUri = s"https://example.com/$id/$slot",
          refersTo = s"<urn:graft:$id/$slot>",
          payloadDigest = s"sha1:D$id-$slot")
      } :+ Warc.WRecord("revisit",
        targetUri = s"https://example.com/$id/dangling",
        refersTo = "<urn:graft:missing>",
        payloadDigest = "sha1:MISSING")
      val recs = Warc.WRecord("warcinfo", body = "crawler=graft\n") +:
        (responses ++ revisits)
      withOutput(s, s"$outDir/$id.warc.gz")(_.write(Warc.encode(recs, gzipPerRecord = true)))
    }
    outDir
  }

  /** WARC files whose HTTP bodies arrive in the charsets real crawls
    * carry (a third of the web is windows-1252/latin-1): slots cycle
    * header-declared windows-1252, META-declared iso-8859-1 (no header
    * param), and UTF-8 with a BOM — for the q192 charset-sniffing
    * gate. Bodies use 1-byte-per-char charsets (or ASCII after the
    * BOM), so the oracle replays byte lengths as char counts. */
  private def warcCharsetFixture(s: SparkSession, dir: String): String = {
    import graft.functions.Warc
    val outDir = fixtureDir(s, dir, "graft_warcc")
    FixtureGrid(s, dir).rows.foreach { case (id, cnt) =>
      val recs = Warc.WRecord("warcinfo", body = "crawler=graft\n") +:
        (0 until 10).map { slot =>
          val c = cnt(slot)
          val (body, cs, hdr) = (slot % 3) match {
            case 0 => (s"cp1252 “quote” café events=$c",
              "windows-1252", true)
            case 1 => ("<meta charset=\"iso-8859-1\">" +
              s"café °C events=$c", "ISO-8859-1", false)
            // the invisible leading char is U+FEFF: the UTF-8 BOM day
            case _ => (s"﻿bom text events=$c ok", "UTF-8", true)
          }
          // slot 9 is the legacy-page tail: the header SAYS
          // x-user-defined (a label the JDK lacks) but the bytes are
          // windows-1252 — the WHATWG document-decode alias
          Warc.WRecord("response",
            targetUri = s"https://example.com/$id/$slot",
            httpStatus = Some(200), body = body,
            bodyCharset = cs, charsetHeader = hdr,
            charsetLabel = if (slot == 9) "x-user-defined" else "")
        }
      withOutput(s, s"$outDir/$id.warc.gz")(_.write(Warc.encode(recs, gzipPerRecord = true)))
    }
    outDir
  }

  /** WebDataset shard files on disk for `format("webdataset")`: plain
    * `.tar` on odd days (512-aligned split resync, PAX chains on long-
    * key days), `.tar.gz` on even days (single streaming partition) —
    * member payloads closed-form from event counts (printable ASCII)
    * so the oracle rebuilds every row with zero tar code. */
  private def webdatasetFilesFixture(s: SparkSession, dir: String): String = {
    import graft.functions.Tar
    val outDir = fixtureDir(s, dir, "graft_wdsf")
    FixtureGrid(s, dir).rows.foreach { case (id, cnt) =>
      val long = if (id % 3 == 0) "x" * 110 + "_" else ""
      val files = (0 until 10).flatMap { slot =>
        Seq(
          f"shard$id%d/$long$slot%04d.txt" ->
            s"sample text events=${cnt(slot)}".getBytes("US-ASCII"),
          f"shard$id%d/$long$slot%04d.cls" ->
            (cnt(slot) % 5).toString.getBytes("US-ASCII"))
      }
      val gz = id % 2 == 0
      val bytes = Tar.encode(files, gzip = gz)
      val name = if (gz) s"$id.tar.gz" else s"$id.tar"
      withOutput(s, s"$outDir/$name")(_.write(bytes))
    }
    outDir
  }

  /** Ogg/Opus fixture (podcast/Wikimedia crawl audio): one single-stream
    * Ogg per day — an OpusHead header packet plus one packet per slot
    * whose size derives from event counts and RANGES ACROSS the 255-lace
    * boundary (multi-lace reassembly in every file), granules stepping
    * 960 samples per packet. One packet per page, so the page-level
    * granule is exactly the packet's — what makes the oracle closed-form
    * (granules are page-level in Ogg; multi-packet pages and page
    * SPANNING are byte-pinned in OggSpec instead). */
  private def oggEventsFixture(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Ogg
    val rows = FixtureGrid(s, dir).rows.map { case (id, cnt) =>
      val header = "OpusHead-graft".getBytes("US-ASCII")
      val data = (0 until 10).map { slot =>
        val n = ((cnt(slot) * 3 + slot) % 600 + 1).toInt
        Array.tabulate(n)(j => ((slot * 17 + j) % 251).toByte)
      }
      val bytes = Ogg.encode(Seq(Ogg.WStream(1, header +: data,
        granuleOf = i => i * 960L, maxPacketsPerPage = 1)))
      (id, bytes)
    }
    val sp = s; import sp.implicits._
    rows.toDF("id", "ogg")
  }

  /** MP3 fixture (crawl audio's dominant format, scanned header-only):
    * one VBR MPEG1 Layer III stream per day — 12 frames whose bitrate
    * index and padding bit derive from event counts, behind an ID3v2
    * prefix sized by the day (ID3v1 trailer on odd days). Byte offsets
    * are the ID3v2 size + running frame lengths, so the oracle replays
    * the whole frame table — bitrate table lookups, slot arithmetic,
    * tag skipping — in closed form. */
  private def mp3EventsFixture(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Mp3
    val rows = FixtureGrid(s, dir).rows.map { case (id, cnt) =>
      val frames = (0 until 12).map { i =>
        Mp3.WFrame(bitrateIdx = ((cnt(i % 10) + i) % 14).toInt + 1,
          padding = (cnt(i % 10) % 2).toInt)
      }
      (id, Mp3.encode(frames, id3v2Bytes = (id % 50).toInt + 5,
        id3v1 = id % 2 == 1))
    }
    val sp = s; import sp.implicits._
    rows.toDF("id", "mp3")
  }



  /** ZIP files on disk for the INDEX-planned `format("zip")` scan —
    * one text document per slot, store/deflate alternating, ZIP64
    * every fourth day — all closed-form from events for the oracle. */
  private def zipFilesFixture(s: SparkSession, dir: String): String = {
    import graft.functions.Zip
    val outDir = fixtureDir(s, dir, "graft_zipf")
    FixtureGrid(s, dir).rows.foreach { case (id, cnt) =>
      val files = (0 until 10).map { slot =>
        (s"book$id/ch$slot.txt",
          s"chapter $slot has events=${cnt(slot)}".getBytes("US-ASCII"),
          slot % 2 == 1)
      }
      val bytes = Zip.encode(files, zip64 = id % 4 == 0)
      withOutput(s, s"$outDir/$id.zip")(_.write(bytes))
    }
    outDir
  }

  /** TFRecord shard fixture (the TensorFlow training layout): one
    * .tfrecord per day (.tfrecord.gz on odd days), one text record per
    * slot — byte offsets are the closed-form 16-byte-framing walk, so
    * the oracle replays offsets AND text with zero TFRecord code. */
  private def tfrecordEventsFixture(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TfRecord
    val rows = FixtureGrid(s, dir).rows.map { case (id, cnt) =>
      val payloads = (0 until 10).map(slot =>
        s"example $slot events=${cnt(slot)}".getBytes("US-ASCII"))
      (id, TfRecord.encode(payloads, gzip = id % 2 == 1))
    }
    val sp = s; import sp.implicits._
    rows.toDF("id", "tfr")
  }

  /** tf.Example TFRecord fixture (the full TensorFlow training shard):
    * each record a serialized Example with a bytes `text` feature, an
    * int64 `label`, and a float `score` (integer-valued, so the
    * float32→double path is exact) — everything closed-form from event
    * counts for the oracle. */
  private def tfexampleEventsFixture(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{TfExample, TfRecord}
    val rows = FixtureGrid(s, dir).rows.map { case (id, cnt) =>
      val examples = (0 until 10).map { slot =>
        TfExample.encode(Seq(
          "text" -> TfExample.Feature("bytes", bytesVals = Seq(
            s"example $slot events=${cnt(slot)}".getBytes("UTF-8"))),
          "label" -> TfExample.Feature("int64",
            int64Vals = Seq(cnt(slot) % 5, slot.toLong)),
          "score" -> TfExample.Feature("float",
            floatVals = Seq(cnt(slot).toFloat))))
      }
      (id, TfRecord.encode(examples, gzip = id % 2 == 0))
    }
    val sp = s; import sp.implicits._
    rows.toDF("id", "tfr")
  }

  /** CDF-5 fixture (PnetCDF 64-bit data format, the HPC-produced classic
    * shape): the q61 events grid written with version byte 5, wide header
    * integers, and an NC_INT64 data variable with an int64 fill. */
  private def ncCdf5Fixture(s: SparkSession, dir: String): String = {
    val grid = FixtureGrid(s, dir)
    val days = grid.days
    val fillRaw = -999999.0
    val data = grid.dense(fillRaw)(_.toDouble)
    val ncDir = fixturePath(s, dir, "graft_nc5", wipe = true)
    NcFormat.writeFile(s, s"$ncDir/events_grid.nc",
      dims = Seq("time" -> days.length, "slot" -> 10),
      vars = Seq(
        NcFormat.WriteVar("time", Seq("time"), NcFormat.NcInt,
          grid.cfDays,
          attrs = Seq("units" -> "days since 2020-01-01", "calendar" -> "standard")),
        NcFormat.WriteVar("slot", Seq("slot"), NcFormat.NcInt,
          Array.tabulate(10)(_.toDouble)),
        NcFormat.WriteVar("cnt", Seq("time", "slot"), NcFormat.NcInt64,
          data,
          nattrs = Seq(("_FillValue", NcFormat.NcInt64, Array(fillRaw))))),
      recordDim = Some("time"), forceVersion = Some(5))
    ncDir
  }

  /** Spectral GRIB2 fixture (template 3.50 + 5.50): one message per day,
    * triangular truncation M=3 → 10 complex pairs; pair p (m-major order)
    * carries re = count(slot p), im = p. Coefficient space is the row
    * model, so the oracle recomputes the same (m, n, part, value) rows
    * from events + a hardcoded pair→(m,n) map. */
  private def gribSpectralFixture(s: SparkSession, dir: String): String =
    gribSpectralFixture(s, dir, complexSub = None)

  private def gribSpectralFixture(s: SparkSession, dir: String,
      complexSub: Option[(Double, Int)]): String = {
    val tag = if (complexSub.isDefined) "cx" else "sp"
    gribDailyFixture(s, dir, s"events_$tag.grb2") { (out, d, cnt) =>
      val coeffs = new Array[Double](20) // (3+1)(3+2) values = 10 pairs
      for (pair <- 0 until 10) {
        coeffs(2 * pair) = cnt(pair).toDouble
        coeffs(2 * pair + 1) = pair.toDouble
      }
      graft.sources.grib.GribFormat.writeSpectralMessage2(out,
        refTime = d, trunc = 3, fields = Seq((61, 0, coeffs)),
        complexSub = complexSub)
    }
  }

  private val EventsDesc = DatasetDescriptor(
    datasetName = "events", dataVar = "value",
    category = DatasetCategory.Observation, spatialDims = Seq("event_id"),
    timeResolution = TimeSpan.Daily, hasNans = false,
    unitOfMeasurement = Some("K"))

  // day expression shared by the oracle SQL strings
  private val DaydSql = "CAST(date_trunc('day', ts) AS TIMESTAMP) AS d"
  /** Oracle of q43's lifecycle ([[publishLifecycle]] over the
    * (day, event_type) grid) — and of every variant whose store layout or
    * encryption is invisible to results. */
  private val StoreLifecycleSql: String =
    s"""WITH g AS (SELECT $DaydSql, event_type, count(*) AS n FROM events GROUP BY 1, 2)
       |SELECT d AS time, event_type,
       |CASE WHEN d >= TIMESTAMP '2024-01-15 00:00:00' THEN n + 1000 ELSE n END AS n
       |FROM g WHERE d <= TIMESTAMP '2024-01-25 00:00:00'
       |ORDER BY time, event_type""".stripMargin
  /** Oracle of q80's zarr lifecycle ([[publishLifecycle]] over [[zarrGrid]])
    * — dense, so never-written cells are null — shared by every zarr layout,
    * codec and encryption variant, which results cannot tell apart. */
  private val ZarrLifecycleSql: String =
    s"""WITH g AS (SELECT $DaydSql, CAST(event_id % 10 AS DOUBLE) AS slot,
       |             CAST(count(*) AS DOUBLE) AS n FROM events GROUP BY 1, 2),
       |days AS (SELECT DISTINCT d FROM g WHERE d <= TIMESTAMP '2024-01-25 00:00:00'),
       |slots AS (SELECT DISTINCT slot FROM g WHERE d < TIMESTAMP '2024-01-21 00:00:00'),
       |spine AS (SELECT d, slot FROM days CROSS JOIN slots)
       |SELECT spine.d AS time, spine.slot AS slot,
       |  CASE WHEN g.n IS NULL THEN NULL
       |       WHEN spine.d >= TIMESTAMP '2024-01-15 00:00:00' THEN g.n + 1000
       |       ELSE g.n END AS n
       |FROM spine LEFT JOIN g ON spine.d = g.d AND spine.slot = g.slot
       |ORDER BY time, slot""".stripMargin
  /** Oracle twin of [[daySlotCounts]]: `WITH g(d, slot, cnt)`, cnt as `cntType`. */
  private def slotCountsCte(cntType: String): String =
    s"""WITH g AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
       |                  CAST(event_id % 10 AS INTEGER) AS slot,
       |                  CAST(count(*) AS $cntType) AS cnt
       |           FROM events GROUP BY 1, 2)""".stripMargin
  // DuckDB token list, mirroring Text.tokens (split on \s+, drop empties)
  private val ToksSql = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')"

  /** q195's fixed classifier weight table — ONE definition shared by
    * the query and its oracle registration (dim 64: a power of two, so
    * signed and unsigned mod-bucketing agree). */
  private val ClassifierWeights: Seq[Long] =
    Seq.tabulate(64)(k => ((k * 37) % 21 - 10).toLong)
  // DuckDB sequential-double reducer (bit-exact vs Spark aggregate over doubles)
  private def seqSum(listExpr: String): String =
    s"list_reduce(list_prepend(0.0, $listExpr), (acc, x) -> acc + x)"
  /** The MP4 sample-table oracle: replay video sizes/dts/keyframes
    * closed-form, audio fixed-size run, offsets = 32 + running sums
    * (the writer's leading-mdat layout) — shared VERBATIM by q174
    * (unfragmented) and q177 (fragmented): fragmentation is invisible
    * to the sample table. */
  private val Mp4SampleTableSql: String =
    s"""${slotCountsCte("BIGINT")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |ids AS (SELECT d, CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS id FROM days),
        |v AS (SELECT ids.id, i.i,
        |        CAST((coalesce(g.cnt, 0) * 3 + i.i) % 200 + 1 AS BIGINT) AS sz
        |      FROM ids
        |      CROSS JOIN (SELECT CAST(unnest(range(8)) AS INTEGER) AS i) i
        |      LEFT JOIN g ON g.d = ids.d AND g.slot = CAST(i.i % 10 AS INTEGER)
        |      WHERE i.i < 5 + ids.id % 3),
        |voff AS (SELECT id, i, sz,
        |           32 + coalesce(SUM(sz) OVER (PARTITION BY id ORDER BY i
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |         FROM v),
        |vtot AS (SELECT id, SUM(sz) AS tot FROM v GROUP BY id),
        |vrows AS (SELECT id, CAST(1 AS BIGINT) AS track_id,
        |            i AS sample_idx, sz AS byte_size, CAST(off AS BIGINT) AS byte_offset,
        |            CAST(CASE WHEN i < 4 THEN i * 100
        |                 ELSE 400 + (i - 4) * 250 END AS BIGINT) AS dts,
        |            i % 3 = 0 AS keyframe, 'avc1' AS codec
        |          FROM voff),
        |arows AS (SELECT vtot.id, CAST(2 AS BIGINT) AS track_id,
        |            CAST(j.j AS INTEGER) AS sample_idx,
        |            CAST(64 AS BIGINT) AS byte_size,
        |            CAST(32 + vtot.tot + j.j * 64 AS BIGINT) AS byte_offset,
        |            CAST(j.j * 1024 AS BIGINT) AS dts,
        |            TRUE AS keyframe, 'mp4a' AS codec
        |          FROM vtot
        |          CROSS JOIN (SELECT CAST(unnest(range(10)) AS INTEGER) AS j) j)
        |SELECT * FROM vrows UNION ALL SELECT * FROM arows
        |ORDER BY id, track_id, sample_idx""".stripMargin

  private val SqSql = seqSum("list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")
  private val SqQSql = seqSum("list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")
  private val DotQSql =
    seqSum("list_transform(list_zip(embedding, qe), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))")

  /** Exact 3-gram shingle Jaccard pairs in DuckDB (oracle for the dedup ops). */
  private def jaccardOracle(threshold: String, from: String = "documents"): String =
    s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM $from),
       |idx AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks),
       |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle FROM idx),
       |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
       |      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT doc_a, doc_b, round(CAST(c AS DOUBLE) / CAST(na.n + nb.n - c AS DOUBLE), 6) AS jaccard
       |FROM p JOIN cnt na ON p.doc_a = na.doc_id JOIN cnt nb ON p.doc_b = nb.doc_id
       |WHERE round(CAST(c AS DOUBLE) / CAST(na.n + nb.n - c AS DOUBLE), 6) >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin

  private val langIdOracle: String = {
    val langsDesc = Text.LangTrigramProfiles.keys.toSeq.sorted.reverse
    def score(l: String) = Text.LangTrigramProfiles(l)
      .map(t => s"(CASE WHEN contains(lower(text), '$t') THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val scoreCols = langsDesc.map(l => s"(${score(l)}) AS s_$l").mkString(", ")
    val cases = langsDesc.init.map { l =>
      val others = langsDesc.filterNot(_ == l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $others THEN '$l'"
    }.mkString(" ")
    s"""WITH sc AS (SELECT doc_id, $scoreCols FROM documents)
       |SELECT doc_id, CASE $cases ELSE '${langsDesc.last}' END AS lang_pred
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  private val wilsonZ: Double = Qc.inverseNormalCdf(1.0 - 1e-5 / 2.0)

  /** Events-derived dense (day × slot) grid oracle — shared by q66 (GRIB
    * edition 1) and q79 (edition 2), whose fixtures encode the same grid. */
  private val GribScanOracle: String =
    s"""${slotCountsCte("DOUBLE")},
      |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
      |spine AS (SELECT d, CAST(s AS INTEGER) AS slot
      |          FROM days, (SELECT unnest(range(10)) AS s))
      |SELECT spine.d AS time, spine.slot AS slot,
      |       CAST(COALESCE(g.cnt, 0) AS DOUBLE) AS cnt
      |FROM spine LEFT JOIN g ON spine.d = g.d AND spine.slot = g.slot
      |ORDER BY 1, 2""".stripMargin

  /** Exact 8-gram decontamination oracle — shared by q58 (set-semi-join
    * path) and q74 (Bloom-prefilter path), which provably compute the same
    * set. */
  private val DecontaminateOracle: String =
    s"""WITH tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |idx AS (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i FROM tk),
       |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS s FROM idx),
       |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 10),
       |corpus AS (SELECT doc_id, s FROM sh WHERE doc_id >= 10)
       |SELECT DISTINCT corpus.doc_id AS doc_id
       |FROM corpus JOIN bench ON corpus.s = bench.s
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------ entry

  /** Flagship query on sf=0.001 (driver smoke-checks rows > 0): the
    * lineitem pricing summary. */
  def entry(spark: SparkSession): DataFrame =
    registry("q01_lineitem_agg").run(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- queries

  lazy val registry: QueryRegistry = QueryRegistry(
    // --- relational headline (agg + join; exercises shuffle + broadcast) ---
    Query("q01_lineitem_agg", (s, dir) =>
      table(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum(round(col("l_extendedprice") * lit(100.0)).cast("long")).as("sum_price_cents"),
          sum(round((col("l_extendedprice") * (lit(1.0) - col("l_discount"))) * lit(100.0))
            .cast("long")).as("sum_disc_price_cents"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag", "l_linestatus"),
      """SELECT l_returnflag, l_linestatus,
        |CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |CAST(sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 100.0) AS BIGINT)) AS BIGINT) AS sum_disc_price_cents,
        |count(*) AS n_rows
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    Query("q02_join_revenue", (s, dir) =>
      table(s, dir, "lineitem")
        .join(table(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(table(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
          sum(round((col("l_extendedprice") * (lit(1.0) - col("l_discount"))) * lit(100.0))
            .cast("long")).as("revenue_cents"),
          count(lit(1)).as("n_items"))
        .orderBy("c_mktsegment"),
      """SELECT c_mktsegment,
        |CAST(sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 100.0) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // --- filters / selection (F1-F6) ---
    Query("q03_time_slice", (s, dir) =>
      Filters.timeSlice(table(s, dir, "events"), "ts",
          ldt("2024-01-10T00:00:00"), ldt("2024-01-12T00:00:00"))
        .select("event_id", "ts", "value").orderBy("event_id"),
      """SELECT event_id, ts, value FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts <= TIMESTAMP '2024-01-12 00:00:00'
        |ORDER BY event_id""".stripMargin),

    Query("q04_time_membership", (s, dir) =>
      Filters.timeMembership(eventsWithDay(s, dir), "d",
          Seq("2024-01-05T00:00:00", "2024-01-07T00:00:00", "2024-01-09T00:00:00")
            .map(LocalDateTime.parse))
        .select("event_id", "ts", "value").orderBy("event_id"),
      """SELECT event_id, ts, value FROM events
        |WHERE CAST(date_trunc('day', ts) AS TIMESTAMP) IN
        |(TIMESTAMP '2024-01-05 00:00:00', TIMESTAMP '2024-01-07 00:00:00', TIMESTAMP '2024-01-09 00:00:00')
        |ORDER BY event_id""".stripMargin),

    Query("q05_semi_join", (s, dir) => {
      val urgent = table(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
        .withColumnRenamed("o_orderkey", "l_orderkey")
      Filters.semiJoinFilter(table(s, dir, "lineitem"), urgent, Seq("l_orderkey"))
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    Query("q06_nearest_tolerance", (s, dir) =>
      Filters.nearestWithTolerance(table(s, dir, "events"), "ts",
          ldt("2024-01-15T12:00:00"), 600.0, Seq("event_id"))
        .select("event_id", "ts", "value"),
      """SELECT event_id, ts, value FROM events
        |WHERE abs(epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-15 12:00:00')) <= 600000000
        |ORDER BY abs(epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-15 12:00:00')), event_id
        |LIMIT 1""".stripMargin),

    Query("q07_manifest_prune", (s, dir) => {
      val manifest = eventsWithDay(s, dir).groupBy("d")
        .agg(min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"),
          count(lit(1)).as("n_rows"))
      Filters.pruneManifest(manifest, "min_ts", "max_ts",
          ldt("2024-01-10T00:00:00"), ldt("2024-01-12T23:59:59"))
        .orderBy("d")
    },
      s"""WITH m AS (SELECT $DaydSql, min(ts) AS min_ts, max(ts) AS max_ts, count(*) AS n_rows
         |FROM events GROUP BY 1)
         |SELECT d, min_ts, max_ts, n_rows FROM m
         |WHERE max_ts >= TIMESTAMP '2024-01-10 00:00:00' AND min_ts <= TIMESTAMP '2024-01-12 23:59:59'
         |ORDER BY d""".stripMargin),

    // --- coordinate / scalar transforms (C1-C5, C11) ---
    Query("q08_standardize_lon", (s, dir) => {
      val df = table(s, dir, "events")
        .select(col("event_id"), (col("value") * lit(3.0) - lit(100.0)).as("longitude"))
      Normalize.standardizeLongitudes(df)
        .withColumn("longitude", round(col("longitude"), 6))
        .orderBy("event_id")
    },
      """SELECT event_id,
        |round(CASE WHEN (value * 3.0 - 100.0 + 180.0) % 360.0 < 0
        |  THEN (value * 3.0 - 100.0 + 180.0) % 360.0 + 360.0
        |  ELSE (value * 3.0 - 100.0 + 180.0) % 360.0 END - 180.0, 6) AS longitude
        |FROM events ORDER BY event_id""".stripMargin),

    Query("q09_fill_missing_time", (s, dir) => {
      val base = eventsWithDay(s, dir).filter(col("event_type") === "signup")
        .groupBy("d").agg(count(lit(1)).as("n")).filter(col("n") >= 75)
      Normalize.fillMissingTimeSteps(base, "d", Seq.empty, TimeSpan.Daily).orderBy("d")
    },
      s"""WITH b AS (SELECT d, n FROM (SELECT $DaydSql, count(*) AS n FROM events
         |WHERE event_type = 'signup' GROUP BY 1) WHERE n >= 75),
         |sp AS (SELECT unnest(generate_series((SELECT min(d) FROM b), (SELECT max(d) FROM b), INTERVAL 1 DAY)) AS d)
         |SELECT sp.d AS d, b.n AS n FROM sp LEFT JOIN b ON sp.d = b.d ORDER BY d""".stripMargin),

    Query("q10_expand_rename", (s, dir) => {
      val desc = DatasetDescriptor("ev", "precip", spatialDims = Seq("event_id"))
      val df = table(s, dir, "events").select("event_id", "value")
      val renamed = Normalize.renameDataVariable(df, desc)
      val expanded = Normalize.expandDim(renamed, "time", ldt("2024-02-01T00:00:00"))
      Normalize.transposeToStandard(expanded, desc).orderBy("event_id")
    },
      """SELECT TIMESTAMP '2024-02-01 00:00:00' AS time, event_id, value AS precip
        |FROM events ORDER BY event_id""".stripMargin),

    Query("q11_assign_coords", (s, dir) => {
      val sp = s; import sp.implicits._
      val mapping = Seq((10L, 1010L), (11L, 1011L), (12L, 1012L)).toDF("from_id", "to_id")
      Normalize.assignCoords(table(s, dir, "events").select("event_id", "user_id"),
          "user_id", mapping, "from_id", "to_id")
        .orderBy("event_id")
    },
      """SELECT event_id,
        |CASE WHEN user_id = 10 THEN 1010 WHEN user_id = 11 THEN 1011
        |     WHEN user_id = 12 THEN 1012 ELSE user_id END AS user_id
        |FROM events ORDER BY event_id""".stripMargin),

    Query("q12_timespan_parse", (s, dir) => {
      val sp = s; import sp.implicits._
      Seq("half_hourly", "hourly", "3hourly", "6hourly", "daily", "weekly",
          "15minutes", "2hours", "10days")
        .map(n => (n, TimeSpan.fromString(n).toMinutes))
        .toDF("span_name", "minutes").orderBy("span_name")
    },
      """SELECT * FROM (VALUES
        |('half_hourly', CAST(30 AS BIGINT)), ('hourly', CAST(60 AS BIGINT)),
        |('3hourly', CAST(180 AS BIGINT)), ('6hourly', CAST(360 AS BIGINT)),
        |('daily', CAST(1440 AS BIGINT)), ('weekly', CAST(10080 AS BIGINT)),
        |('15minutes', CAST(15 AS BIGINT)), ('2hours', CAST(120 AS BIGINT)),
        |('10days', CAST(14400 AS BIGINT))) AS t(span_name, minutes)
        |ORDER BY span_name""".stripMargin),

    // --- update planning (J1-J3) ---
    Query("q13_classify_update", (s, dir) => {
      val ev = eventsWithDay(s, dir)
      val orig = ev.filter(col("d") < ldt("2024-01-21T00:00:00")).select("d")
      val upd = ev.filter(col("d") >= ldt("2024-01-15T00:00:00")).select("d")
      UpdatePlan.classifyUpdateTimes(orig, upd, "d").orderBy("d")
    },
      s"""WITH ev AS (SELECT $DaydSql FROM events),
         |od AS (SELECT DISTINCT d FROM ev WHERE d < TIMESTAMP '2024-01-21 00:00:00'),
         |ud AS (SELECT DISTINCT d FROM ev WHERE d >= TIMESTAMP '2024-01-15 00:00:00')
         |SELECT d, CASE WHEN d IN (SELECT d FROM od) THEN 'insert' ELSE 'append' END AS kind
         |FROM ud ORDER BY d""".stripMargin),

    Query("q14_contiguous_ranges", (s, dir) => {
      val times = eventsWithDay(s, dir).filter(col("event_type") === "signup")
        .groupBy("d").agg(count(lit(1)).as("n")).filter(col("n") >= 75).select("d")
      UpdatePlan.contiguousRanges(times, "d", TimeSpan.Daily).orderBy("run_start")
    },
      s"""WITH dd AS (SELECT $DaydSql, count(*) AS c FROM events WHERE event_type = 'signup' GROUP BY 1),
         |sel AS (SELECT d FROM dd WHERE c >= 75),
         |fl AS (SELECT d, CASE WHEN lag(d) OVER (ORDER BY d) IS NULL
         |  OR epoch_ms(d) - epoch_ms(lag(d) OVER (ORDER BY d)) > 86400000 THEN 1 ELSE 0 END AS f FROM sel),
         |rn AS (SELECT d, CAST(sum(f) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id FROM fl)
         |SELECT run_id, min(d) AS run_start, max(d) AS run_end, count(*) AS n_steps
         |FROM rn GROUP BY 1 ORDER BY run_start""".stripMargin),

    Query("q15_combine_first", (s, dir) => {
      val ev = eventsWithDay(s, dir)
      val upd = ev.filter(col("event_type") === "purchase" &&
          col("d").between(ldt("2024-01-10T00:00:00"), ldt("2024-01-20T00:00:00")))
        .groupBy("d").agg(count(lit(1)).as("n"))
      val orig = ev.filter(col("event_type") === "error")
        .groupBy("d").agg(count(lit(1)).as("n"))
      UpdatePlan.combineFirst(upd, orig, Seq("d"), "n").orderBy("d")
    },
      s"""WITH ev AS (SELECT $DaydSql, event_type FROM events),
         |u AS (SELECT d, count(*) AS n FROM ev WHERE event_type = 'purchase'
         |  AND d >= TIMESTAMP '2024-01-10 00:00:00' AND d <= TIMESTAMP '2024-01-20 00:00:00' GROUP BY 1),
         |o AS (SELECT d, count(*) AS n FROM ev WHERE event_type = 'error' GROUP BY 1)
         |SELECT COALESCE(u.d, o.d) AS d, COALESCE(u.n, o.n) AS n
         |FROM u FULL OUTER JOIN o ON u.d = o.d ORDER BY d""".stripMargin),

    // --- QC (J4, A4, A5) ---
    Query("q16_qc_mismatch", (s, dir) => {
      val ev = table(s, dir, "events")
      val src = ev.select("event_id", "value")
      val dst = ev.select(col("event_id"),
        when(col("event_id") % 97 === 0, col("value") + lit(1.0))
          .when(col("event_id") % 101 === 0, lit(Double.NaN))
          .otherwise(col("value")).as("value"))
      Qc.mismatchedCells(src, dst, Seq("event_id"), "value")
        .select(col("event_id"), col("__src").as("src_value"),
          when(isnan(col("__dst")), lit(null)).otherwise(col("__dst")).as("dst_value"))
        .orderBy("event_id")
    },
      """SELECT event_id, value AS src_value,
        |CASE WHEN event_id % 97 = 0 THEN value + 1.0 ELSE NULL END AS dst_value
        |FROM events WHERE event_id % 97 = 0 OR event_id % 101 = 0
        |ORDER BY event_id""".stripMargin),

    Query("q17_bbox", (s, dir) => {
      val desc = DatasetDescriptor("ev", "value", spatialDims = Seq("latitude", "longitude"))
      val df = table(s, dir, "events").select(
        (abs(col("value")) % lit(180.0) - lit(90.0)).as("latitude"),
        ((col("user_id") * lit(7L)) % lit(360L)).cast("double").as("longitude"),
        col("value"))
      Qc.bboxCoords(df, desc)
    },
      """SELECT
        |round(min(CAST((user_id * 7) % 360 AS DOUBLE)), 5) AS min_lon,
        |round(min(abs(value) % 180.0 - 90.0), 5) AS min_lat,
        |round(max(CAST((user_id * 7) % 360 AS DOUBLE)), 5) AS max_lon,
        |round(max(abs(value) % 180.0 - 90.0), 5) AS max_lat
        |FROM events""".stripMargin),

    Query("q18_date_range", (s, dir) => Stats.dateRange(table(s, dir, "events"), "ts"),
      "SELECT min(ts) AS start_time, max(ts) AS end_time FROM events"),

    Query("q19_next_date", (s, dir) =>
      Stats.nextDate(eventsWithDay(s, dir), "d", TimeSpan.Daily),
      """SELECT max(CAST(date_trunc('day', ts) AS TIMESTAMP)) + INTERVAL 1 DAY AS next_date
        |FROM events""".stripMargin),

    Query("q20_nan_frequency", (s, dir) => {
      val df = eventsWithDay(s, dir).withColumn("value",
        when(col("event_type") === "error", lit(Double.NaN)).otherwise(col("value")))
      Qc.nanFrequencyByTime(df, "d", "value")
    },
      s"""WITH f AS (SELECT $DaydSql, count(*) AS n_sampled,
         |CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_nan
         |FROM events GROUP BY 1)
         |SELECT d, n_sampled, n_nan, CAST(n_nan AS DOUBLE) / n_sampled AS nan_frequency
         |FROM f ORDER BY d""".stripMargin),

    Query("q21_nan_violations", (s, dir) => {
      val df = eventsWithDay(s, dir).withColumn("value",
        when(col("event_type") === "error", lit(Double.NaN)).otherwise(col("value")))
      Qc.nanFrequencyViolationsDF(Qc.nanFrequencyByTime(df, "d", "value"), 0.05).orderBy("d")
    },
      {
        val z = wilsonZ.toString
        val z2 = (wilsonZ * wilsonZ).toString
        s"""WITH f AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d, count(*) AS n_sampled,
           |CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_nan
           |FROM events GROUP BY 1),
           |w AS (SELECT d, n_sampled, n_nan,
           |CAST(n_nan AS DOUBLE) / n_sampled AS nan_frequency,
           |CAST(n_sampled AS DOUBLE) AS n, CAST(n_nan AS DOUBLE) / CAST(n_sampled AS DOUBLE) AS p
           |FROM f),
           |c AS (SELECT d, n_sampled, n_nan, nan_frequency,
           |(p + $z2 / (2.0 * n)) / (1.0 + $z2 / n) AS center,
           |($z / (1.0 + $z2 / n)) * sqrt(p * (1.0 - p) / n + $z2 / (4.0 * n * n)) AS half
           |FROM w)
           |SELECT d, n_sampled, n_nan, nan_frequency,
           |greatest(0.0, center - half) AS ci_lo, least(1.0, center + half) AS ci_hi
           |FROM c WHERE 0.05 < greatest(0.0, center - half) OR 0.05 > least(1.0, center + half)
           |ORDER BY d""".stripMargin
      }),

    Query("q22_extreme_values", (s, dir) =>
      Qc.allValueViolations(table(s, dir, "events"), EventsDesc)
        .select("event_id", "value").orderBy("event_id"),
      """SELECT event_id, value FROM events
        |WHERE value < 183.15 OR value > 333.15 ORDER BY event_id""".stripMargin),

    Query("q23_cadence_violations", (s, dir) => {
      val times = eventsWithDay(s, dir).filter(col("event_type") === "signup")
        .groupBy("d").agg(count(lit(1)).as("n")).filter(col("n") >= 75).select("d")
      UpdatePlan.cadenceViolations(times, "d", TimeSpan.Daily).orderBy("d")
    },
      s"""WITH dd AS (SELECT $DaydSql, count(*) AS c FROM events WHERE event_type = 'signup' GROUP BY 1),
         |sel AS (SELECT d FROM dd WHERE c >= 75),
         |dl AS (SELECT d, CAST(epoch_ms(d) AS DOUBLE) / 60000
         |  - CAST(epoch_ms(lag(d) OVER (ORDER BY d)) AS DOUBLE) / 60000 AS delta_minutes FROM sel)
         |SELECT d, delta_minutes FROM dl
         |WHERE delta_minutes IS NOT NULL AND delta_minutes <> 1440.0 ORDER BY d""".stripMargin),

    Query("q24_dim_stats", (s, dir) =>
      Stats.dimSizeStats(table(s, dir, "events"), Seq("event_type", "user_id")),
      """SELECT count(DISTINCT event_type) AS n_event_type,
        |count(DISTINCT user_id) AS n_user_id, count(*) AS n_rows FROM events""".stripMargin),

    // --- window / scalar extras ---
    Query("q25_window_topn", (s, dir) => {
      val w = Window.partitionBy("event_type").orderBy(col("value").desc, col("event_id"))
      table(s, dir, "events")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 2)
        .select("event_type", "event_id", "value", "rn")
        .orderBy("event_type", "rn")
    },
      """SELECT event_type, event_id, value, rn FROM
        |(SELECT event_type, event_id, value,
        | row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn
        | FROM events)
        |WHERE rn <= 2 ORDER BY event_type, rn""".stripMargin),

    Query("q26_json_extract", (s, dir) =>
      table(s, dir, "events")
        .select(col("event_id"),
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).as("k_str"))
        .orderBy("event_id"),
      """SELECT event_id, regexp_extract(props, '"k": (\d+)', 1) AS k_str
        |FROM events ORDER BY event_id""".stripMargin),

    // --- dedup (documents) ---
    Query("q27_exact_dup_groups", (s, dir) =>
      Dedup.exactDupGroups(dupDocs(s, dir), "doc_id", "text").orderBy("content_hash"),
      """WITH ad AS (SELECT doc_id, text FROM documents
        |UNION ALL SELECT doc_id + 100000, text FROM documents)
        |SELECT md5(text) AS content_hash, count(*) AS n_dups, min(doc_id) AS keeper_id
        |FROM ad GROUP BY text HAVING count(*) > 1 ORDER BY 1""".stripMargin),

    Query("q28_exact_dedup", (s, dir) =>
      Dedup.exactDedup(dupDocs(s, dir), "doc_id", "text")
        .select("doc_id").orderBy("doc_id"),
      """WITH ad AS (SELECT doc_id, text FROM documents
        |UNION ALL SELECT doc_id + 100000, text FROM documents)
        |SELECT min(doc_id) AS doc_id FROM ad GROUP BY text ORDER BY 1""".stripMargin),

    // Differential recall gate (upgraded from rows-only): LSH candidates,
    // exact-verified at j ≥ 0.9, must equal DuckDB's full exact pair set —
    // a candidate the bands MISS surfaces as a missing row. Exact Jaccard
    // runs only on candidate pairs (the scale-correct nearDupPairs shape),
    // not as a corpus-wide join. Miss probability per pair at j=0.9 with
    // 64 hashes / 16 bands is (1−0.9⁴)¹⁶ ≈ 4e-8 — deterministic for
    // fixed data.
    Query("q29_minhash_pairs", (s, dir) =>
      Dedup.nearDupPairs(dupDocs(s, dir), "doc_id", "text",
          shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.9)
        .orderBy("doc_a", "doc_b"),
      jaccardOracle("0.9",
      "(SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 100000, text FROM documents) ad")),

    Query("q30_near_dedup", (s, dir) =>
      Dedup.nearDupPairs(table(s, dir, "documents"), "doc_id", "text",
          shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.9)
        .orderBy("doc_a", "doc_b"),
      jaccardOracle("0.9")),

    // (q31, the UNCAPPED all-pairs n-gram Jaccard, is retired from the
    // board: q117 is the same operator in its production shape — capped
    // candidate generation, exact verification — and provably equals the
    // uncapped form at a wide cap (TextDedupSpec pins the equivalence).
    // The uncapped form remains the spec-gated small-corpus verify
    // primitive, Dedup.ngramJaccardPairs with maxShingleDocFreq = None.)

    // the curation pipeline as ONE gated composition: Gopher quality gate
    // → URL dedup (q71's synthesized URLs) → per-source cap — each stage
    // is individually gated (q70/q71/q78); this pins that they COMPOSE
    Query("q120_curation_pipeline", (s, dir) => {
      val quality = table(s, dir, "documents")
        .filter(Text.gopherKeep(col("text"), minWords = 30, maxWords = 90,
          minMeanLen = 4, maxMeanLen = 10, minDistinctStopwords = 2))
      // materialized once (r15, guide §5): both consumers below (the dedup
      // groups and the survivor join-back) read this tiny (id, source, url)
      // frame — without the checkpoint each reference re-ran the Gopher
      // text gate over the full corpus (2 text scans → 1)
      val aug = quality.select(col("doc_id"), col("source"),
        concat(
          lit("HTTPS://WWW.Example"), (col("doc_id") % 3).cast("string"), lit(".COM"),
          when(col("doc_id") % 2 === 0, lit(":443")).otherwise(lit("")),
          lit("/Path/"), col("source"),
          when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
          lit("?b=2&utm_source=x&a="), (col("doc_id") % 5).cast("string"),
          when(col("doc_id") % 3 === 0, lit("#frag")).otherwise(lit(""))).as("url"))
        .localCheckpoint(true)
      val keepers = Web.urlDedup(aug, "doc_id", "url")
        .select(col("keeper_id").as("doc_id"), col("canonical_url"), col("n_dups"))
      val surv = aug.select("doc_id", "source").join(keepers, Seq("doc_id"))
      Sampling.capPerStratum(surv, "doc_id", "source", 3, "cap1")
        .select("doc_id", "source", "canonical_url", "n_dups")
        .orderBy("doc_id")
    },
      // q70's keep conjunction → q71's canonicalization chain over the kept
      // set → q78's md5-rank cap; every fragment proven by its own gate
      s"""WITH base AS (SELECT doc_id, text, $ToksSql AS t,
         |  list_filter(string_split(text, chr(10)), l -> l <> '') AS lines FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len(t) AS BIGINT) AS n,
         |  CAST(coalesce(list_sum(list_transform(t, x -> length(x))), 0) AS BIGINT) AS sumlen,
         |  CAST(len(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS nalpha,
         |  CAST(len(list_distinct(list_filter(t, x -> list_contains(['the','a','an','of','and','to','in','is','it','that'], x)))) AS BIGINT) AS nsw,
         |  CAST(len(lines) AS BIGINT) AS nlines,
         |  CAST(len(lines) - len(list_distinct(lines)) AS BIGINT) AS ndup,
         |  CAST(length(text) - length(replace(text, '#', ''))
         |    + (length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS nsym,
         |  CAST(len(list_filter(lines, l -> substr(l, 1, 1) IN ('-', '*'))) AS BIGINT) AS nbul,
         |  CAST(len(list_filter(lines, l -> ends_with(l, '...'))) AS BIGINT) AS nell
         |FROM base),
         |keep AS (SELECT doc_id FROM m
         |  WHERE n BETWEEN 30 AND 90 AND sumlen >= 4 * n AND sumlen <= 10 * n
         |    AND nalpha * 5 >= n * 4 AND nsw >= 2 AND ndup * 10 <= nlines * 3
         |    AND nsym * 10 <= n AND nbul * 10 <= nlines * 9
         |    AND nell * 10 <= nlines * 3),
         |u AS (SELECT d.doc_id, d.source,
         |  'HTTPS://WWW.Example' || CAST(d.doc_id % 3 AS VARCHAR) || '.COM' ||
         |  CASE WHEN d.doc_id % 2 = 0 THEN ':443' ELSE '' END ||
         |  '/Path/' || d.source ||
         |  CASE WHEN d.doc_id % 4 = 0 THEN '/' ELSE '' END ||
         |  '?b=2&utm_source=x&a=' || CAST(d.doc_id % 5 AS VARCHAR) ||
         |  CASE WHEN d.doc_id % 3 = 0 THEN '#frag' ELSE '' END AS url
         |  FROM documents d JOIN keep USING (doc_id)),
         |c AS (SELECT doc_id,
         |  lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
         |  lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)', 2)) AS hostport,
         |  regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://[^/?#]*([^?#]*)', 2) AS rawpath,
         |  regexp_extract(url, '^[^#?]*\\?([^#]*)', 1) AS q FROM u),
         |c2 AS (SELECT doc_id, scheme,
         |  CASE WHEN scheme = 'http' AND ends_with(hostport, ':80')
         |         THEN substr(hostport, 1, length(hostport) - 3)
         |       WHEN scheme = 'https' AND ends_with(hostport, ':443')
         |         THEN substr(hostport, 1, length(hostport) - 4)
         |       ELSE hostport END AS host,
         |  CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS p0, q FROM c),
         |c3 AS (SELECT doc_id, scheme, host,
         |  CASE WHEN length(p0) > 1 AND ends_with(p0, '/')
         |    THEN substr(p0, 1, length(p0) - 1) ELSE p0 END AS p,
         |  array_to_string(list_sort(list_filter(string_split(q, '&'),
         |    x -> x <> '' AND NOT starts_with(x, 'utm_')
         |      AND NOT starts_with(x, 'fbclid')
         |      AND NOT starts_with(x, 'gclid'))), '&') AS kept FROM c2),
         |canon AS (SELECT doc_id, scheme || '://' || host || p ||
         |  CASE WHEN kept = '' THEN '' ELSE '?' || kept END AS canonical_url FROM c3),
         |keepers AS (SELECT min(doc_id) AS doc_id, canonical_url,
         |  CAST(count(*) AS BIGINT) AS n_dups FROM canon GROUP BY canonical_url),
         |surv AS (SELECT k.doc_id, u.source, k.canonical_url, k.n_dups
         |  FROM keepers k JOIN u ON u.doc_id = k.doc_id),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY source
         |  ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || 'cap1'), 1, 8), doc_id) AS rk
         |  FROM surv)
         |SELECT doc_id, source, canonical_url, n_dups
         |FROM ranked WHERE rk <= 3 ORDER BY doc_id""".stripMargin),

    // forward as-of: first signup AT OR AFTER each purchase (q52 mirrored)
    Query("q119_asof_forward", (s, dir) => {
      val ev = table(s, dir, "events")
      val left = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val right = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"), col("ts").as("rts"))
        .agg(max(col("value")).as("signup_value"))
      Filters.asofJoinForward(left, right, "ts", "rts", Seq("user_id"),
          Seq("signup_value"))
        .select(col("event_id"), col("user_id"), col("ts"), col("signup_value"),
          col("__matched_time").as("matched_time"))
        .orderBy("event_id")
    },
      // DuckDB ASOF with the inequality flipped = forward direction
      """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, ts AS rts, max(value) AS signup_value
        |      FROM events WHERE event_type = 'signup' GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id, l.ts, r.signup_value, r.rts AS matched_time
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.rts
        |ORDER BY event_id""".stripMargin),

    // gap-based sessionization (30-min idle threshold): one shuffle on the
    // user key, both windows collapse onto one (user, ts, id) sort
    Query("q121_sessionize", (s, dir) =>
      Sessions.sessionStats(table(s, dir, "events"), "user_id", "ts",
          "event_id", gapMinutes = 30L)
        .withColumn("session_start", col("session_start").cast(TimestampNTZType))
        .withColumn("session_end", col("session_end").cast(TimestampNTZType))
        .orderBy("user_id", "session_idx"),
      // whole-microsecond integer gap arithmetic; the running-sum window
      // replays Spark's (ts, event_id) sort exactly
      """WITH o AS (SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events),
        |l AS (SELECT user_id, event_id, ts, us, lag(us) OVER
        |        (PARTITION BY user_id ORDER BY us, event_id) AS prev FROM o),
        |b AS (SELECT user_id, event_id, ts, us,
        |        CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS nb
        |      FROM l),
        |sid AS (SELECT user_id, ts, CAST(sum(nb) OVER
        |          (PARTITION BY user_id ORDER BY us, event_id
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx FROM b)
        |SELECT user_id, session_idx, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(min(ts) AS TIMESTAMP) AS session_start,
        |  CAST(max(ts) AS TIMESTAMP) AS session_end,
        |  (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS duration_sec
        |FROM sid GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // DSIR importance weights: target domain = English docs; exact-gram
    // feature space (the hashed variant is spec-gated)
    Query("q122_dsir_weights", (s, dir) =>
      Text.dsirWeights(table(s, dir, "documents"), "doc_id", "text",
          isTarget = col("lang") === "en")
        .orderBy("doc_id"),
      // add-one-smoothed target/raw log-ratio per token; per-doc fold in
      // position order (the q75 pattern)
      s"""WITH tk AS (SELECT doc_id, lang = 'en' AS tgt, $ToksSql AS t FROM documents),
         |ptok AS (SELECT doc_id, tgt, i, t[i] AS tok
         |         FROM (SELECT doc_id, tgt, unnest(range(1, len(t) + 1)) AS i, t FROM tk)),
         |cnt AS (SELECT tok,
         |          CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         |          CAST(sum(CASE WHEN NOT tgt THEN 1 ELSE 0 END) AS BIGINT) AS cr
         |        FROM ptok GROUP BY 1),
         |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cr) AS BIGINT) AS nr,
         |               count(*) AS v FROM cnt),
         |sc AS (SELECT p.doc_id, p.i,
         |         ln((CAST(ct AS DOUBLE) + 1.0) / (CAST(nt AS DOUBLE) + CAST(v AS DOUBLE)))
         |       - ln((CAST(cr AS DOUBLE) + 1.0) / (CAST(nr AS DOUBLE) + CAST(v AS DOUBLE))) AS w
         |       FROM ptok p JOIN cnt ON p.tok = cnt.tok CROSS JOIN tot),
         |agg AS (SELECT doc_id, list(w ORDER BY i) AS vs, count(*) AS n_tokens
         |        FROM sc GROUP BY 1)
         |SELECT doc_id,
         |  round(list_reduce(list_prepend(0.0, vs), (acc, x) -> acc + x), 4) AS dsir_weight,
         |  n_tokens FROM agg ORDER BY doc_id""".stripMargin),

    // scalar-quantized (SQ8) cosine top-k: integer-domain dot products
    // over per-dimension [min,max]-affine 8-bit codes
    Query("q123_sq8_topk", (s, dir) =>
      Similarity.sq8TopK(table(s, dir, "embeddings"), "vec_id", "embedding",
        embQuery(s, dir), k = 25),
      // per-dimension [min,max] affine uint8 codes; similarity in the exact
      // integer domain — one final float division, rounded to 6
      """WITH ex AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
        |            FROM (SELECT vec_id, embedding,
        |                  unnest(range(1, len(embedding) + 1)) AS i FROM embeddings)),
        |st AS (SELECT i, min(x) AS mn, max(x) AS mx FROM ex GROUP BY 1),
        |q AS (SELECT i, x AS qx FROM ex WHERE vec_id = 0),
        |cd AS (SELECT ex.vec_id,
        |         CASE WHEN st.mx = st.mn THEN 0 ELSE greatest(0, least(255,
        |           CAST(round((ex.x - st.mn) / (st.mx - st.mn) * 255.0) AS BIGINT))) END AS cx,
        |         CASE WHEN st.mx = st.mn THEN 0 ELSE greatest(0, least(255,
        |           CAST(round((q.qx - st.mn) / (st.mx - st.mn) * 255.0) AS BIGINT))) END AS cq
        |       FROM ex JOIN st ON ex.i = st.i JOIN q ON ex.i = q.i),
        |sm AS (SELECT vec_id, CAST(sum(cx * cq) AS BIGINT) AS dot,
        |              CAST(sum(cx * cx) AS BIGINT) AS nx,
        |              CAST(sum(cq * cq) AS BIGINT) AS nq
        |       FROM cd GROUP BY 1)
        |SELECT vec_id,
        |  CASE WHEN nx = 0 OR nq = 0 THEN 0.0
        |       ELSE round(CAST(dot AS DOUBLE) / sqrt(CAST(nx AS DOUBLE) * CAST(nq AS DOUBLE)), 6)
        |  END AS sq8_cosine
        |FROM sm ORDER BY sq8_cosine DESC, vec_id LIMIT 25""".stripMargin),

    // ETCCDI-style threshold indices per (cell, month): GDD base 10,
    // frost analog < 5, heat analog > 15 — one hash aggregate, no window
    Query("q124_climate_indices", (s, dir) =>
      GridAnalytics.thresholdIndices(eventsGrid(s, dir), "time",
          Seq("lat", "lon"), "value", "month",
          base = 10.0, lowThresh = 5.0, highThresh = 15.0)
        .withColumn("period", col("period").cast(TimestampNTZType))
        .orderBy("period", "lat", "lon"),
      // grid values are exact small doubles (event counts), so the GDD sum
      // is order-independent; day counts as BIGINT on both sides
      s"""$GridCte
         |SELECT CAST(date_trunc('month', time) AS TIMESTAMP) AS period, lat, lon,
         |  sum(greatest(value - 10.0, 0.0)) AS degree_days,
         |  CAST(count(CASE WHEN value < 5.0 THEN 1 END) AS BIGINT) AS days_below,
         |  CAST(count(CASE WHEN value > 15.0 THEN 1 END) AS BIGINT) AS days_above,
         |  CAST(count(value) AS BIGINT) AS n_days
         |FROM grid GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // reciprocal-rank fusion of two dense retrievers over the same id
    // space: exact brute-force cosine + the SQ8 approximation (q39/q123,
    // both individually gated) — hybrid-retrieval rank merging
    Query("q125_rrf_fusion", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val q = embQuery(s, dir)
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 50)
        .select(col("vec_id"), col("cos_sim").as("score"))
      val sq8 = Similarity.sq8TopK(emb, "vec_id", "embedding", q, 50)
        .select(col("vec_id"), col("sq8_cosine").as("score"))
      Rank.rrfFuse(Seq(exact, sq8), "vec_id", "score", k = 60)
        .orderBy("vec_id")
    },
      // both retriever lists replayed verbatim (q39's exact cosine, q123's
      // SQ8 codes), ranked over (score DESC, id), fused 1/(60+r) in list
      // order — the two-element fold is bit-stable
      s"""WITH qq AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |dd AS (SELECT vec_id, $DotQSql AS dp, $SqSql AS na, $SqQSql AS nq
         |       FROM embeddings, qq),
         |l1 AS (SELECT vec_id, round(CASE WHEN sqrt(na) * sqrt(nq) > 0
         |         THEN dp / (sqrt(na) * sqrt(nq)) ELSE 0.0 END, 6) AS score
         |       FROM dd ORDER BY score DESC, vec_id LIMIT 50),
         |ex AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
         |       FROM (SELECT vec_id, embedding,
         |             unnest(range(1, len(embedding) + 1)) AS i FROM embeddings)),
         |st AS (SELECT i, min(x) AS mn, max(x) AS mx FROM ex GROUP BY 1),
         |q AS (SELECT i, x AS qx FROM ex WHERE vec_id = 0),
         |cd AS (SELECT ex.vec_id,
         |         CASE WHEN st.mx = st.mn THEN 0 ELSE greatest(0, least(255,
         |           CAST(round((ex.x - st.mn) / (st.mx - st.mn) * 255.0) AS BIGINT))) END AS cx,
         |         CASE WHEN st.mx = st.mn THEN 0 ELSE greatest(0, least(255,
         |           CAST(round((q.qx - st.mn) / (st.mx - st.mn) * 255.0) AS BIGINT))) END AS cq
         |       FROM ex JOIN st ON ex.i = st.i JOIN q ON ex.i = q.i),
         |sm AS (SELECT vec_id, CAST(sum(cx * cq) AS BIGINT) AS dot,
         |              CAST(sum(cx * cx) AS BIGINT) AS nx,
         |              CAST(sum(cq * cq) AS BIGINT) AS nq FROM cd GROUP BY 1),
         |l2 AS (SELECT vec_id, CASE WHEN nx = 0 OR nq = 0 THEN 0.0
         |         ELSE round(CAST(dot AS DOUBLE) / sqrt(CAST(nx AS DOUBLE) * CAST(nq AS DOUBLE)), 6)
         |       END AS score
         |       FROM sm ORDER BY score DESC, vec_id LIMIT 50),
         |r1 AS (SELECT vec_id, 0 AS li, 1.0 / (60.0 + row_number()
         |         OVER (ORDER BY score DESC, vec_id)) AS c FROM l1),
         |r2 AS (SELECT vec_id, 1 AS li, 1.0 / (60.0 + row_number()
         |         OVER (ORDER BY score DESC, vec_id)) AS c FROM l2),
         |u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2),
         |agg AS (SELECT vec_id, list(c ORDER BY li) AS vs,
         |               CAST(count(*) AS BIGINT) AS n_lists FROM u GROUP BY 1)
         |SELECT vec_id,
         |  round(list_reduce(list_prepend(0.0, vs), (acc, x) -> acc + x), 6) AS rrf_score,
         |  n_lists FROM agg ORDER BY vec_id""".stripMargin),

    // PageRank source-quality centrality (the RefinedWeb/Common-Crawl-style
    // link-graph signal) over the per-type user-succession graph: transition
    // edges (entity = event_type, node = user_id), then 3 rounds of exact
    // integer micro-unit rank — bit-replayable, so the oracle unrolls the
    // same three rounds in SQL
    Query("q127_pagerank", (s, dir) => {
      val edges = Graph.transitionEdges(table(s, dir, "events"),
        "event_type", Seq("ts", "event_id"), "user_id")
      Graph.pageRank(edges, "src", "dst", iters = 3)
        .select(col("node"), col("rank").as("rank_micro"))
        .orderBy("node")
    },
      // exact integer micro-unit PageRank: every round is BIGINT floor
      // arithmetic, so the oracle just unrolls the same three rounds
      {
        val rounds = (1 to 3).map { k =>
          s"""i$k AS (SELECT e.dst AS node, sum(r.pr // r.deg) AS inflow
             |  FROM r${k - 1} r JOIN e ON r.node = e.src WHERE r.deg > 0 GROUP BY 1),
             |r$k AS (SELECT r.node, r.deg,
             |    CAST(150000 + (850 * coalesce(i.inflow, 0)) // 1000 AS BIGINT) AS pr
             |  FROM r${k - 1} r LEFT JOIN i$k i ON r.node = i.node)""".stripMargin
        }.mkString(",\n")
        s"""WITH led AS (SELECT user_id AS src, lead(user_id) OVER
           |    (PARTITION BY event_type ORDER BY ts, event_id) AS dst FROM events),
           |e AS (SELECT DISTINCT src, dst FROM led WHERE dst IS NOT NULL AND dst <> src),
           |nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
           |deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
           |r0 AS (SELECT n.node, coalesce(d.deg, 0) AS deg, CAST(1000000 AS BIGINT) AS pr
           |  FROM nodes n LEFT JOIN deg d ON n.node = d.node),
           |$rounds
           |SELECT node, pr AS rank_micro FROM r3 ORDER BY node""".stripMargin
      }),

    // personalized (seeded) PageRank: teleport mass restricted to the seed
    // set — the topic-conditioned source-selection variant
    Query("q128_seed_pagerank", (s, dir) => {
      val edges = Graph.transitionEdges(table(s, dir, "events"),
        "event_type", Seq("ts", "event_id"), "user_id")
      Graph.personalizedPageRank(edges, "src", "dst",
          seeds = Seq(1L, 2L, 3L), iters = 3)
        .select(col("node"), col("rank").as("rank_micro"))
        .orderBy("node")
    },
      // seeded variant: teleport mass only on seeds {1,2,3}; seedBase floors
      // the pooled teleport mass over the PRESENT seed count, like the engine
      {
        val rounds = (1 to 3).map { k =>
          s"""i$k AS (SELECT e.dst AS node, sum(r.pr // r.deg) AS inflow
             |  FROM r${k - 1} r JOIN e ON r.node = e.src WHERE r.deg > 0 GROUP BY 1),
             |r$k AS (SELECT r.node, r.deg,
             |    CAST((CASE WHEN r.node IN (1, 2, 3) THEN (SELECT sbase FROM sb) ELSE 0 END)
             |      + (850 * coalesce(i.inflow, 0)) // 1000 AS BIGINT) AS pr
             |  FROM r${k - 1} r LEFT JOIN i$k i ON r.node = i.node)""".stripMargin
        }.mkString(",\n")
        s"""WITH led AS (SELECT user_id AS src, lead(user_id) OVER
           |    (PARTITION BY event_type ORDER BY ts, event_id) AS dst FROM events),
           |e AS (SELECT DISTINCT src, dst FROM led WHERE dst IS NOT NULL AND dst <> src),
           |nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
           |deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
           |pres AS (SELECT count(*) AS p FROM nodes WHERE node IN (1, 2, 3)),
           |sb AS (SELECT CAST(450000 // p AS BIGINT) AS sbase FROM pres),
           |r0 AS (SELECT n.node, coalesce(d.deg, 0) AS deg,
           |    CAST(CASE WHEN n.node IN (1, 2, 3) THEN 1000000 ELSE 0 END AS BIGINT) AS pr
           |  FROM nodes n LEFT JOIN deg d ON n.node = d.node),
           |$rounds
           |SELECT node, pr AS rank_micro FROM r3 ORDER BY node""".stripMargin
      }),

    // degree-ordered triangle counting (Suri & Vassilvitskii WWW'11) on
    // the same interaction graph — exact BIGINT counts, the clustering
    // signal of link-graph quality scoring; the oracle replays the
    // identical orientation so every wedge enumerates once on both sides
    Query("q129_triangle_count", (s, dir) => {
      val edges = Graph.transitionEdges(table(s, dir, "events"),
        "event_type", Seq("ts", "event_id"), "user_id")
      Graph.triangleCounts(edges, "src", "dst").orderBy("node")
    },
      // degree-ordered orientation replayed verbatim: edge points low
      // (deg, id) → high (a < b breaks ties), wedges enumerate at the
      // minimum-order vertex only, the closing edge is already canonical
      """WITH led AS (SELECT user_id AS src, lead(user_id) OVER
        |    (PARTITION BY event_type ORDER BY ts, event_id) AS dst FROM events),
        |ed AS (SELECT DISTINCT src, dst FROM led WHERE dst IS NOT NULL AND dst <> src),
        |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM ed),
        |deg AS (SELECT node, count(*) AS deg FROM
        |    (SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und)
        |  GROUP BY 1),
        |ori AS (SELECT
        |    CASE WHEN da.deg <= db.deg THEN u.a ELSE u.b END AS s,
        |    CASE WHEN da.deg <= db.deg THEN u.b ELSE u.a END AS t
        |  FROM und u JOIN deg da ON u.a = da.node JOIN deg db ON u.b = db.node),
        |tri AS (SELECT e1.s, e1.t AS t1, e2.t AS t2
        |  FROM ori e1 JOIN ori e2 ON e1.s = e2.s AND e1.t < e2.t
        |  JOIN und c ON c.a = e1.t AND c.b = e2.t),
        |pern AS (SELECT node, count(*) AS triangles FROM
        |    (SELECT s AS node FROM tri UNION ALL SELECT t1 FROM tri
        |     UNION ALL SELECT t2 FROM tri)
        |  GROUP BY 1)
        |SELECT d.node, d.deg, CAST(coalesce(p.triangles, 0) AS BIGINT) AS triangles
        |FROM deg d LEFT JOIN pern p ON d.node = p.node ORDER BY d.node""".stripMargin),

    // product-quantization ADC top-k through the REAL operator path
    // (pqEncode → lookup-table scoring) against the fixed power-of-two
    // codebook the oracle can replay in closed form; learned codebooks
    // are spec-gated in PqSpec
    Query("q126_pq_adc", (s, dir) => {
      val cb = pqFixedCodebook
      val enc = Similarity.pqEncode(table(s, dir, "embeddings"), "embedding", cb)
      Similarity.pqTopKAdc(enc, "vec_id", embQuery(s, dir), cb, k = 25)
    },
      {
        val s1 = seqSum("list_transform(embedding[1:32], x -> CAST(x AS DOUBLE))")
        val s2 = seqSum("list_transform(embedding[33:64], x -> CAST(x AS DOUBLE))")
        val q1 = seqSum("list_transform(qe[1:32], x -> CAST(x AS DOUBLE))")
        val q2 = seqSum("list_transform(qe[33:64], x -> CAST(x AS DOUBLE))")
        s"""WITH qq AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
           |qs AS (SELECT $q1 AS q1, $q2 AS q2, sqrt($SqQSql) AS qn FROM qq),
           |sums AS (SELECT vec_id, $s1 AS s1, $s2 AS s2 FROM embeddings),
           |codes AS (SELECT vec_id,
           |    ${pqArgminSql("s1")} AS c1,
           |    ${pqArgminSql("s2")} AS c2 FROM sums),
           |vals AS (SELECT vec_id, ${pqValOfSql("c1")} AS v1,
           |                 ${pqValOfSql("c2")} AS v2 FROM codes),
           |sc AS (SELECT v.vec_id,
           |    (v.v1 * qs.q1) + (v.v2 * qs.q2) AS dt,
           |    (32.0 * v.v1 * v.v1) + (32.0 * v.v2 * v.v2) AS n2, qs.qn
           |  FROM vals v CROSS JOIN qs)
           |SELECT vec_id, round(dt / (sqrt(n2) * qn), 6) AS adc_cosine
           |FROM sc ORDER BY adc_cosine DESC, vec_id LIMIT 25""".stripMargin
      }),

    // IVF-PQ composed ANN (the production billion-vector shape):
    // coarse-quantize to lists, PQ the RESIDUALS, ADC-scan only the 2
    // probed lists. Block-constant coarse centroids + the fixed
    // power-of-two codebook let the oracle replay EVERYTHING closed-form
    // — assignment argmax, probe ranking, float32 residual subtraction,
    // residual code argmin, and the decomposed ADC score.
    Query("q176_ivfpq_topk", (s, dir) =>
      Similarity.ivfpqTopKAdc(table(s, dir, "embeddings"), "vec_id",
        "embedding", embQuery(s, dir), k = 25,
        coarse = ivfFixedCoarse, codebook = pqFixedCodebook, nProbe = 2),
      // constant power-of-two centroids collapse every dot product to
      // v·Σxᵢ EXACTLY (scaling commutes with IEEE rounding), so codes and
      // ADC scores replay bit-identically from the subspace sums alone
      // IVF-PQ: replay coarse argmax (block-constant centroids → ±subspace
      // sums, ties HIGH like array_max on struct), the nProbe=2 ranking,
      // the float32 residual subtraction (FLOAT-FLOAT is IEEE f32 in both
      // engines), residual code argmin, and the decomposed ADC score in
      // the operator's own association order
      {
        val s1 = seqSum("list_transform(embedding[1:32], x -> CAST(x AS DOUBLE))")
        val s2 = seqSum("list_transform(embedding[33:64], x -> CAST(x AS DOUBLE))")
        val q1 = seqSum("list_transform(qe[1:32], x -> CAST(x AS DOUBLE))")
        val q2 = seqSum("list_transform(qe[33:64], x -> CAST(x AS DOUBLE))")
        val af = "CAST(CASE b WHEN 0 THEN 1.0 WHEN 2 THEN -1.0 ELSE 0.0 END AS FLOAT)"
        val bf = "CAST(CASE b WHEN 1 THEN 1.0 WHEN 3 THEN -1.0 ELSE 0.0 END AS FLOAT)"
        val rs1 = seqSum(s"list_transform(embedding[1:32], x -> CAST(x - $af AS DOUBLE))")
        val rs2 = seqSum(s"list_transform(embedding[33:64], x -> CAST(x - $bf AS DOUBLE))")
        s"""WITH qq AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
           |qs AS (SELECT $q1 AS q1, $q2 AS q2, sqrt($SqQSql) AS qn FROM qq),
           |sums AS (SELECT vec_id, embedding, $s1 AS s1, $s2 AS s2 FROM embeddings),
           |bk AS (SELECT vec_id, embedding,
           |    CASE WHEN -s2 >= -s1 AND -s2 >= s2 AND -s2 >= s1 THEN 3
           |         WHEN -s1 >= s2 AND -s1 >= s1 THEN 2
           |         WHEN s2 >= s1 THEN 1 ELSE 0 END AS b
           |  FROM sums),
           |pj AS (SELECT j.j AS pb,
           |    CASE j.j WHEN 0 THEN q1 WHEN 1 THEN q2 WHEN 2 THEN -q1 ELSE -q2 END AS psc
           |  FROM (SELECT CAST(unnest(range(4)) AS INTEGER) AS j) j CROSS JOIN qs),
           |pk AS (SELECT pb FROM (SELECT pb,
           |    row_number() OVER (ORDER BY psc DESC, pb) AS rn FROM pj) WHERE rn <= 2),
           |kept AS (SELECT bk.vec_id, bk.embedding, bk.b FROM bk JOIN pk ON bk.b = pk.pb),
           |res AS (SELECT vec_id, b, $rs1 AS rs1, $rs2 AS rs2 FROM kept),
           |codes AS (SELECT vec_id, b,
           |    ${pqArgminSql("rs1")} AS c1,
           |    ${pqArgminSql("rs2")} AS c2 FROM res),
           |vals AS (SELECT vec_id, b, ${pqValOfSql("c1")} AS v1,
           |                 ${pqValOfSql("c2")} AS v2 FROM codes),
           |sc AS (SELECT v.vec_id,
           |    (CASE v.b WHEN 0 THEN qs.q1 WHEN 1 THEN qs.q2
           |          WHEN 2 THEN -qs.q1 ELSE -qs.q2 END
           |     + v.v1 * qs.q1) + v.v2 * qs.q2 AS dt,
           |    (32.0 + (CASE v.b WHEN 0 THEN 64.0 * v.v1 WHEN 2 THEN -64.0 * v.v1
           |             ELSE 0.0 END + 32.0 * v.v1 * v.v1))
           |     + (CASE v.b WHEN 1 THEN 64.0 * v.v2 WHEN 3 THEN -64.0 * v.v2
           |        ELSE 0.0 END + 32.0 * v.v2 * v.v2) AS n2,
           |    qs.qn
           |  FROM vals v CROSS JOIN qs)
           |SELECT vec_id, round(dt / (sqrt(n2) * qn), 6) AS adc_cosine
           |FROM sc ORDER BY adc_cosine DESC, vec_id LIMIT 25""".stripMargin
      }),

    // class-prototype embeddings: per-label mean vector via exact
    // quantized long sums (partitioning- and engine-independent)
    Query("q118_label_centroids", (s, dir) =>
      Clustering.labelCentroids(table(s, dir, "embeddings"), "label", "embedding")
        .orderBy("label", "pos"),
      // same quantization (round(x·1e4) as exact longs); mean is two IEEE
      // divisions of exact integers — no rounding belt needed
      """WITH e AS (SELECT label, embedding,
        |             unnest(range(1, len(embedding) + 1)) AS i FROM embeddings)
        |SELECT label, CAST(i - 1 AS INT) AS pos, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE) * 10000.0) AS BIGINT))
        |    AS BIGINT) AS sum_q,
        |  CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE) * 10000.0) AS BIGINT))
        |    AS DOUBLE) / count(*) / 10000.0 AS mean
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // the stop-shingle mitigation for the all-pairs skew bound: shingles in > 15
    // docs are barred from candidate generation, then candidates verify
    // against the FULL sets — reported Jaccards stay exact
    Query("q117_ngram_jaccard_capped", (s, dir) =>
      Dedup.ngramJaccardPairs(table(s, dir, "documents"), "doc_id", "text", 3, 0.5,
        maxShingleDocFreq = Some(15L))
        .orderBy("doc_a", "doc_b"),
      // candidates from sub-cap shingles only; Jaccard from the full sets
      s"""WITH toks AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |idx AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle FROM idx),
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |dfq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
         |rare AS (SELECT shingle FROM dfq WHERE df <= 15),
         |shr AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM shr a JOIN shr b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
         |p AS (SELECT cand.doc_a, cand.doc_b, count(*) AS c
         |      FROM cand JOIN sh a ON a.doc_id = cand.doc_a
         |                JOIN sh b ON b.doc_id = cand.doc_b AND b.shingle = a.shingle
         |      GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  round(CAST(c AS DOUBLE) / CAST(na.n + nb.n - c AS DOUBLE), 6) AS jaccard
         |FROM p JOIN cnt na ON p.doc_a = na.doc_id JOIN cnt nb ON p.doc_b = nb.doc_id
         |WHERE round(CAST(c AS DOUBLE) / CAST(na.n + nb.n - c AS DOUBLE), 6) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin),

    Query("q32_simhash", (s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"), Dedup.simhash64(col("text")).as("simhash"))
        .orderBy("doc_id"),
      // Formerly no_oracle: the DuckDB side replays Spark's xxhash64 chains
      // in generated pure SQL (OracleXxh64) — full rows+schema+hash gates.
      OracleXxh64.simhashSql("documents")),

    // Connected components over the verified near-dup pair graph (the
    // cluster step a corpus dedup runs after pair generation). The pair set
    // provably equals DuckDB's exact Jaccard-0.9 pairs (q29's gate), so the
    // oracle recomputes the same components with a recursive CTE.
    Query("q68_dedup_components", (s, dir) => {
      val pairs = Dedup.nearDupPairs(dupDocs(s, dir), "doc_id", "text",
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.9)
      Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .select(col("node").as("doc_id"), col("component"))
        .orderBy("doc_id")
    },
      // same exact pair set as q29, then components via min-label closure: a
      // label walks an edge only when it lowers the endpoint, so the reachable
      // minimum is each node's component id
      s"""WITH RECURSIVE
        |toks AS (SELECT doc_id, $ToksSql AS t
        |         FROM (SELECT doc_id, text FROM documents
        |               UNION ALL SELECT doc_id + 100000, text FROM documents) ad),
        |idx AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle FROM idx),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        |      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT doc_a, doc_b
        |          FROM p JOIN cnt na ON p.doc_a = na.doc_id JOIN cnt nb ON p.doc_b = nb.doc_id
        |          WHERE round(CAST(c AS DOUBLE) / CAST(na.n + nb.n - c AS DOUBLE), 6) >= 0.9),
        |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
        |n AS (SELECT DISTINCT u AS node FROM e),
        |cc(node, lbl) AS (
        |  SELECT node, node FROM n
        |  UNION
        |  SELECT e.v, cc.lbl FROM cc JOIN e ON e.u = cc.node WHERE cc.lbl < e.v
        |)
        |SELECT node AS doc_id, min(lbl) AS component FROM cc GROUP BY node ORDER BY doc_id""".stripMargin),

    // --- deterministic stratified sampling (corpus rebalancing) ---
    Query("q69_stratified_sample", (s, dir) =>
      Sampling.stratifiedSampleByHash(table(s, dir, "documents"),
          "doc_id", "lang", Map("en" -> 0.25, "zh" -> 0.75),
          defaultFraction = 0.5, seed = "s1")
        .select("doc_id", "lang")
        .orderBy("doc_id"),
      // replays the md5-hex threshold predicate byte-for-byte
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR) || 's1'), 1, 8) <
        |  CASE lang WHEN 'en' THEN '40000000' WHEN 'zh' THEN 'c0000000'
        |  ELSE '80000000' END
        |ORDER BY doc_id""".stripMargin),

    // --- per-source capping (bound any stratum's corpus contribution) ---
    Query("q78_domain_cap", (s, dir) =>
      Sampling.capPerStratum(table(s, dir, "documents"),
          "doc_id", "source", maxPerStratum = 3, seed = "cap1")
        .select("doc_id", "source")
        .orderBy("doc_id"),
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || 'cap1'), 1, 8), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 3 ORDER BY doc_id""".stripMargin),

    // --- text analysis (documents) ---
    // Misra-Gries heavy hitters with exact verify: bounded per-partition
    // state generates candidates, only candidate tokens shuffle, output
    // counts are exact — so the DuckDB oracle is the plain exact query.
    Query("q137_heavy_hitters", (s, dir) =>
      graft.functions.Sketch.frequentTokens(
        table(s, dir, "documents"), "text", 0.005).orderBy("token"),
      s"""WITH toks AS (SELECT unnest($ToksSql) AS token FROM documents)
         |SELECT token, CAST(count(*) AS BIGINT) AS cnt
         |FROM toks
         |GROUP BY token
         |HAVING CAST(count(*) AS DOUBLE) >=
         |  CAST(0.005 AS DOUBLE) * (SELECT CAST(count(*) AS DOUBLE) FROM toks)
         |ORDER BY token""".stripMargin),

    // HLL distinct sketches as a dedup-rate monitoring gate: the exact
    // per-source distinct counts travel to the oracle; sketch_ok folds in
    // the one-shot AND incremental-union estimates' 5% error bound (a
    // drifting sketch flips the flag and fails the hash compare).
    Query("q138_distinct_sketch_gate", (s, dir) => {
      import graft.functions.Sketch
      val docs = table(s, dir, "documents")
      val exact = docs.groupBy("source")
        .agg(countDistinct(col("text")).as("n_distinct"))
      val one = Sketch.distinctEstimates(
        Sketch.distinctSketches(docs, "source", col("text")), "source")
      val halves = Seq(0, 1).map(m => Sketch.distinctSketches(
        docs.filter(col("doc_id") % 2 === m), "source", col("text")))
      val inc = Sketch.distinctEstimates(
        Sketch.unionSketchTables(halves(0), halves(1), "source"), "source")
        .withColumnRenamed("estimate", "est_inc")
      // an all-NULL-text group has n_distinct = 0 on BOTH engines; the
      // gate there is estimate == 0, not a 0/0 ratio
      def ok(c: Column) = when(col("n_distinct") === 0, c === 0)
        .otherwise(abs(c - col("n_distinct")).cast("double") /
          col("n_distinct").cast("double") < 0.05)
      exact.join(one, "source").join(inc, "source")
        .select(col("source"), col("n_distinct"),
          (ok(col("estimate")) && ok(col("est_inc"))).as("sketch_ok"))
        .orderBy("source")
    },
      """SELECT source, CAST(count(DISTINCT text) AS BIGINT) AS n_distinct,
        |       true AS sketch_ok
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    Query("q33_token_stats", (s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"),
        Text.tokenCount(col("text")).cast("long").as("n_tokens"),
        round(Text.meanTokenLength(col("text")), 6).as("mean_token_len"),
        round(Text.distinctRatio(col("text")), 6).as("distinct_ratio"))
        .orderBy("doc_id"),
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS t FROM documents)
         |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         |round(CASE WHEN len(t) > 0
         |  THEN CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / CAST(len(t) AS DOUBLE)
         |  ELSE 0.0 END, 6) AS mean_token_len,
         |round(CASE WHEN len(t) > 0
         |  THEN CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE)
         |  ELSE 0.0 END, 6) AS distinct_ratio
         |FROM tk ORDER BY doc_id""".stripMargin),

    Query("q34_quality_score", (s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"), Text.qualityScore(col("text")).as("quality_score"))
        .orderBy("doc_id"),
      s"""WITH tk AS (SELECT doc_id, text, $ToksSql AS t FROM documents),
         |m AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS nt,
         |CASE WHEN len(t) > 0 THEN CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE) ELSE 0.0 END AS diversity,
         |CASE WHEN len(t) > 0 THEN CAST(len(list_filter(t, x -> list_contains(['the','a','an','of','and','to','in','is','it','that'], x))) AS DOUBLE) / CAST(len(t) AS DOUBLE) ELSE 0.0 END AS swr,
         |CASE WHEN length(text) > 0 THEN CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS pr
         |FROM tk)
         |SELECT doc_id, round((least(nt / 50.0, 1.0) + diversity + least(swr * 4.0, 1.0) + greatest(1.0 - pr * 5.0, 0.0)) / 4.0, 6) AS quality_score
         |FROM m ORDER BY doc_id""".stripMargin),

    Query("q35_stopword_punct", (s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"),
        round(Text.stopwordRatio(col("text"), Text.DefaultStopwords), 6).as("stopword_ratio"),
        round(Text.punctRatio(col("text")), 6).as("punct_ratio"))
        .orderBy("doc_id"),
      s"""WITH tk AS (SELECT doc_id, text, $ToksSql AS t FROM documents)
         |SELECT doc_id,
         |round(CASE WHEN len(t) > 0 THEN CAST(len(list_filter(t, x -> list_contains(['the','a','an','of','and','to','in','is','it','that'], x))) AS DOUBLE) / CAST(len(t) AS DOUBLE) ELSE 0.0 END, 6) AS stopword_ratio,
         |round(CASE WHEN length(text) > 0 THEN CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) ELSE 0.0 END, 6) AS punct_ratio
         |FROM tk ORDER BY doc_id""".stripMargin),

    Query("q36_langid", (s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"), Text.langIdNgram(col("text")).as("lang_pred"))
        .orderBy("doc_id"),
      langIdOracle),

    Query("q37_fingerprint", (s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      OracleXxh64.fingerprintSql("documents")),

    Query("q38_subword_tokens", (s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"), size(Text.subwordTokens(col("text"))).cast("long")
          .as("n_subwords"))
        .orderBy("doc_id"),
      OracleXxh64.subwordCountSql("documents")),

    // fastText-style hashed-bag quality classifier, INFERENCE with a
    // fixed micro-unit table (the CCNet/LLaMA "quality model" gate):
    // per-token xxhash64 bucketing, exact integer score, mean-form
    // keep decision — all replayed closed-form by the oracle (dim 64,
    // a power of two, so unsigned/signed mod agree). Training is
    // spec-gated on separation (TextClassifierSpec); trained weights
    // enter this exact path via quantizeMicro.
    Query("q195_quality_classifier", (s, dir) => {
      val w = ClassifierWeights
      table(s, dir, "documents").select(col("doc_id"),
          Text.tokenCount(col("text")).as("n_tokens"),
          Text.classifierScoreMicro(col("text"), w).as("score_micro"),
          Text.classifierKeep(col("text"), w, 0L, 0L).as("keep"))
        .orderBy("doc_id")
    },
      OracleXxh64.classifierSql("documents",
      ClassifierWeights)),

    // --- similarity (embeddings) ---
    Query("q39_cosine_topk", (s, dir) =>
      Similarity.bruteForceTopK(table(s, dir, "embeddings"), "vec_id", "embedding",
        embQuery(s, dir), 10),
      s"""WITH qq AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |dd AS (SELECT vec_id, $DotQSql AS dp, $SqSql AS na, $SqQSql AS nq
         |FROM embeddings, qq)
         |SELECT vec_id, round(CASE WHEN sqrt(na) * sqrt(nq) > 0
         |  THEN dp / (sqrt(na) * sqrt(nq)) ELSE 0.0 END, 6) AS cos_sim
         |FROM dd ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin),

    Query("q40_embed_norms", (s, dir) =>
      table(s, dir, "embeddings")
        .select(col("vec_id"), round(Similarity.l2Norm(col("embedding")), 6).as("l2_norm"))
        .orderBy("vec_id"),
      s"""SELECT vec_id, round(sqrt($SqSql), 6) AS l2_norm
         |FROM embeddings ORDER BY vec_id""".stripMargin),

    // Exhaustive-probe ANN (hammingRadius = nBits ⇒ every bucket probed)
    // provably equals brute force — the oracle is q39's exact top-k SQL,
    // upgrading this from rows-only to a full hash gate on the probe
    // machinery (mask enumeration, bucket isin-pruning, exact re-rank).
    Query("q41_ann_topk", (s, dir) =>
      Similarity.annTopK(table(s, dir, "embeddings"), "vec_id", "embedding",
        embQuery(s, dir), 10, nBits = 8, hammingRadius = 8),
      // exhaustive-probe ANN == brute force: same SQL as q39
      s"""WITH qq AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |dd AS (SELECT vec_id, $DotQSql AS dp, $SqSql AS na, $SqQSql AS nq
         |FROM embeddings, qq)
         |SELECT vec_id, round(CASE WHEN sqrt(na) * sqrt(nq) > 0
         |  THEN dp / (sqrt(na) * sqrt(nq)) ELSE 0.0 END, 6) AS cos_sim
         |FROM dd ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin),

    Query("q55_ivf_topk", (s, dir) =>
      // nProbe == nCentroids → exhaustive IVF, so the result is provably
      // identical to brute-force cosine and shares its oracle.
      Similarity.ivfTopK(table(s, dir, "embeddings"), "vec_id", "embedding",
        embQuery(s, dir), 10, nCentroids = 16, nProbe = 16),
      s"""WITH qq AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |dd AS (SELECT vec_id, $DotQSql AS dp, $SqSql AS na, $SqQSql AS nq
         |FROM embeddings, qq)
         |SELECT vec_id, round(CASE WHEN sqrt(na) * sqrt(nq) > 0
         |  THEN dp / (sqrt(na) * sqrt(nq)) ELSE 0.0 END, 6) AS cos_sim
         |FROM dd ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin),

    // --- store write engine (W2-W8, W10, W14) ---
    Query("q43_store_roundtrip", (s, dir) => {
      // Full initial→update lifecycle: write days 1-20, then publish an
      // update covering days 15-25 with corrected values (+1000). Inserts
      // (15-20) dynamically overwrite their day-buckets via combine-first
      // padding; appends (21-25) create new buckets. The returned frame is
      // the reopened store, which the oracle recomputes relationally.
      val grid = eventsWithDay(s, dir)
        .groupBy(col("d").as("time"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val desc = DatasetDescriptor("events_grid", "n",
        spatialDims = Seq("event_type"), timeResolution = TimeSpan.Daily)
      val store = freshStore(s, dir, "roundtrip", desc)
      publishLifecycle(grid, 1000L)(store.publish(_), store.publish(_))
      store.dataset().select("time", "event_type", "n").orderBy("time", "event_type")
    },
      StoreLifecycleSql),

    // q43's lifecycle under Parquet Modular Encryption: footer + every
    // column keyed under the registry master key through GraftKmsClient,
    // hash persisted in attrs, the update running through a handle
    // WITHOUT the key param. Encryption is invisible to query results —
    // q43's oracle verbatim.
    Query("q143_store_encrypted_roundtrip", (s, dir) => {
      val grid = eventsWithDay(s, dir)
        .groupBy(col("d").as("time"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val desc = DatasetDescriptor("events_grid_encpq", "n",
        spatialDims = Seq("event_type"), timeResolution = TimeSpan.Daily)
      val path = fixturePath(s, dir, "graft_store_encpq", wipe = true)
      val kh = Encryption.registerEncryptionKey(Encryption.generateEncryptionKey())
      val store = new GridStore(s, path, desc,
        bucketSpan = TimeUnitKind.Days, encryptionKeyHash = Some(kh))
      publishLifecycle(grid, 1000L)(store.publish(_),
        new GridStore(s, path, desc, bucketSpan = TimeUnitKind.Days).publish(_))
      store.dataset().select("time", "event_type", "n").orderBy("time", "event_type")
    },
      // encryption is invisible to query results → q43's oracle verbatim
      StoreLifecycleSql),

    Query("q44_store_attrs", (s, dir) => {
      // Attrs sidecar after an initial write (W8/W14): date range assembly +
      // cleared commit marker survive the write.
      val grid = eventsWithDay(s, dir)
        .groupBy(col("d").as("time"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val desc = DatasetDescriptor("events_grid", "n",
        spatialDims = Seq("event_type"), timeResolution = TimeSpan.Daily)
      val store = freshStore(s, dir, "attrs", desc)
      store.publish(grid)
      val a = store.readAttrs()
      val sp = s; import sp.implicits._
      Seq((a("date_range_start"), a("date_range_end"), a(GridStore.UpdateInProgressKey)))
        .toDF("date_range_start", "date_range_end", "update_in_progress")
    },
      """SELECT strftime(min(CAST(date_trunc('day', ts) AS TIMESTAMP)), '%Y%m%d%H') AS date_range_start,
        |strftime(max(CAST(date_trunc('day', ts) AS TIMESTAMP)), '%Y%m%d%H') AS date_range_end,
        |'false' AS update_in_progress FROM events""".stripMargin),

    // SemDeDup differential gate (q42's pattern): on the doubled corpus the
    // kept set must be EXACTLY the original ids — identical vectors always
    // share a cluster (same quantization → same argmin) so every +100000
    // twin drops at cosine 1.0 ≥ τ, and no natural pair reaches τ=0.95
    // (max non-identical cosine in this corpus is ≈0.60 at both SFs). A
    // clustering bug that splits a twin pair, or a τ bug that drops a
    // natural pair, surfaces as an extra/missing row.
    Query("q72_semantic_dedup", (s, dir) => {
      val e = table(s, dir, "embeddings")
      val doubled = e.unionByName(e.withColumn("vec_id", col("vec_id") + lit(100000L)))
      // Sharded registration (SemDeDup's web-scale recipe): content-hash
      // shards bound per-shard k at scaledK(shardTarget) — a CONSTANT —
      // so assignment work is O(n·d) at any corpus size (the unsharded
      // k = scaledK(n) form is O(n·k·d) with k ∝ n, quadratic at 100×).
      // Exact twins always co-shard (shard key = hash of the quantized
      // vector), so the doubled-corpus gate stays exact at every shard
      // count; corpora ≤ shardTarget delegate to the unsharded form.
      Clustering.semanticDedupSharded(doubled, "vec_id", "embedding",
          shardTarget = 2048, iters = 3, tau = 0.95)
        .select("vec_id").orderBy("vec_id")
    },
      "SELECT vec_id FROM embeddings ORDER BY 1"),

    // Differential recall gate: the corpus is every vector duplicated, so
    // the identity pairs (v, v+100000) — cosine exactly 1.0 — MUST all be
    // found (identical vectors always share an SRP bucket). nBits derives
    // from the corpus size (srpBitsFor); the oracle enumerates the
    // identity pairs from parquet.
    Query("q42_embed_near_dup", (s, dir) => {
      val e = table(s, dir, "embeddings")
      val dup = e.unionByName(e.withColumn("vec_id", col("vec_id") + lit(100000L)))
      Similarity.embeddingNearDupPairs(dup, "vec_id", "embedding", dim = 64,
          threshold = 0.99)
        .filter(col("id_b") === col("id_a") + lit(100000L))
        .orderBy("id_a", "id_b")
    },
      """SELECT vec_id AS id_a, vec_id + 100000 AS id_b,
        |CAST(1.0 AS DOUBLE) AS cos_sim
        |FROM embeddings ORDER BY 1, 2""".stripMargin),

    // --- sources / manifest (S8, S14, C9) ---
    Query("q45_manifest_list", (s, dir) =>
      Manifest.listInputFiles(s, dir, Seq(".parquet")).select("file_name"),
      """SELECT * FROM (VALUES ('customer.parquet'), ('documents.parquet'),
        |('embeddings.parquet'), ('events.parquet'), ('lineitem.parquet'),
        |('nation.parquet'), ('orders.parquet'), ('part.parquet'),
        |('region.parquet'), ('supplier.parquet')) AS t(file_name)""".stripMargin),

    Query("q46_file_time_ranges", (s, dir) =>
      Manifest.timeRangesByFile(table(s, dir, "events"), "ts")
        .select(regexp_extract(col("path"), "([^/]+)$", 1).as("file_name"),
          col("min_time"), col("max_time"), col("n_rows")),
      """SELECT 'events.parquet' AS file_name, min(ts) AS min_time,
        |max(ts) AS max_time, count(*) AS n_rows FROM events""".stripMargin),

    Query("q47_missing_combos", (s, dir) => {
      // A gappy manifest: every (event_type, user_id%3) combination except
      // the one we filter out; the completeness check must surface it.
      val m = table(s, dir, "events")
        .select(col("event_type"), (col("user_id") % 3).as("slot"))
        .filter(!(col("event_type") === "error" && col("slot") === 1))
      Manifest.missingCombinations(m, Seq("event_type", "slot"))
        .orderBy("event_type", "slot")
    },
      """WITH m AS (SELECT event_type, user_id % 3 AS slot FROM events
        |WHERE NOT (event_type = 'error' AND user_id % 3 = 1)),
        |et AS (SELECT DISTINCT event_type FROM m),
        |sl AS (SELECT DISTINCT slot FROM m)
        |SELECT event_type, slot FROM et CROSS JOIN sl
        |EXCEPT SELECT DISTINCT event_type, slot FROM m
        |ORDER BY event_type, slot""".stripMargin),

    // --- projection (C6) ---
    Query("q48_projection_roundtrip", (s, dir) => {
      // Spherical-Mercator forward+inverse must round-trip to ≤1e-9 deg.
      val pts = table(s, dir, "events").select(
        (abs(col("value")) % lit(160.0) - lit(80.0)).as("lat"),
        ((col("user_id") * lit(7L)) % lit(360L)).cast("double").minus(lit(180.0)).as("lon"))
      val proj = Projection.assignCrs(pts, "lat", "lon", 3857)
      val (latBack, lonBack) = Projection.unproject3857(col("northing"), col("easting"))
      proj.select(
          (abs(latBack - col("lat")) > lit(1e-9) ||
            abs(lonBack - col("lon")) > lit(1e-9)).as("bad"))
        .agg(sum(when(col("bad"), 1L).otherwise(0L)).as("n_bad"))
    },
      "SELECT CAST(0 AS BIGINT) AS n_bad"),

    // --- multimodal binary columns ---
    Query("q49_multimodal_meta", (s, dir) => {
      val bin = table(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("media"))
      val meta = bin.select(col("doc_id"),
        Multimodal.mediaMeta(col("media")).getField("byte_len").as("byte_len"))
      val frames = Multimodal.frameSample(bin, "doc_id", "media", 4)
        .groupBy("doc_id").agg(count(lit(1)).as("n_frames"))
      meta.join(frames, Seq("doc_id")).orderBy("doc_id")
    },
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |CAST(4 AS BIGINT) AS n_frames FROM documents ORDER BY doc_id""".stripMargin),

    Query("q50_multimodal_decode", (s, dir) => {
      // Stubbed decode → pooled embedding: verify the Spark plumbing shape
      // (dims, bounded values), not the fake pixels.
      val bin = table(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("media"))
      val decoded = Multimodal.decodeResize(bin, "doc_id", "media", 16, 16)
      Multimodal.pooledEmbedding(decoded, 8)
        .select(col("id").as("doc_id"),
          size(col("embedding")).cast("long").as("n_dims"),
          size(filter(col("embedding"), v => v < 0.0 || v > 1.0)).cast("long").as("n_bad"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, CAST(8 AS BIGINT) AS n_dims, CAST(0 AS BIGINT) AS n_bad
        |FROM documents ORDER BY doc_id""".stripMargin),

    Query("q51_media_fingerprint", (s, dir) => {
      val bin = table(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("media"))
      bin.select(col("doc_id"), Multimodal.mediaFingerprint(col("media")).as("media_fp"))
        .orderBy("doc_id")
    },
      OracleXxh64.mediaFingerprintSql("documents")),

    // --- corpus analytics / decontamination ---
    Query("q56_token_freq", (s, dir) =>
      table(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(50),
      s"""WITH tk AS (SELECT unnest($ToksSql) AS token FROM documents)
         |SELECT token, count(*) AS n FROM tk GROUP BY 1
         |ORDER BY n DESC, token LIMIT 50""".stripMargin),

    Query("q57_corpus_stats", (s, dir) => {
      val d = table(s, dir, "documents")
      d.agg(
        count(lit(1)).as("n_docs"),
        sum(Text.tokenCount(col("text")).cast("long")).as("total_tokens"),
        countDistinct(md5(col("text"))).as("n_distinct_texts"))
        .withColumn("n_exact_dups", col("n_docs") - col("n_distinct_texts"))
    },
      s"""WITH tk AS (SELECT text, $ToksSql AS t FROM documents)
         |SELECT count(*) AS n_docs,
         |CAST(sum(len(t)) AS BIGINT) AS total_tokens,
         |count(DISTINCT md5(text)) AS n_distinct_texts,
         |count(*) - count(DISTINCT md5(text)) AS n_exact_dups
         |FROM tk""".stripMargin),

    Query("q58_decontaminate", (s, dir) => {
      // First 10 docs play the benchmark; the rest are the corpus. A doc is
      // contaminated when it shares any 8-gram with a benchmark doc.
      val d = table(s, dir, "documents")
      val benchmark = d.filter(col("doc_id") < 10)
      val corpus = d.filter(col("doc_id") >= 10)
      Dedup.contaminatedDocs(corpus, benchmark, "doc_id", "text", 8)
        .orderBy("doc_id")
    },
      DecontaminateOracle),

    Query("q60_repetition", (s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"),
        round(Text.duplicateLineFraction(col("text")), 6).as("dup_line_frac"),
        round(Text.topBigramCoverage(col("text")), 6).as("top_bigram_cov"))
        .orderBy("doc_id"),
      s"""WITH base AS (SELECT doc_id,
         |  list_filter(string_split(text, chr(10)), l -> l <> '') AS lines,
         |  $ToksSql AS t FROM documents),
         |sh AS (SELECT doc_id, lines,
         |  CASE WHEN len(t) >= 2 THEN
         |    list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
         |  ELSE [] END AS bg FROM base)
         |SELECT doc_id,
         |round(CASE WHEN len(lines) > 0
         |  THEN CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / len(lines)
         |  ELSE 0.0 END, 6) AS dup_line_frac,
         |round(CASE WHEN len(bg) > 0
         |  THEN CAST(list_max(list_transform(list_distinct(bg),
         |    x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE) / len(bg)
         |  ELSE 0.0 END, 6) AS top_bigram_cov
         |FROM sh ORDER BY doc_id""".stripMargin),

    // Unicode normalization (UAX #15 — the before-hashing step that
    // makes composed and decomposed spellings dedup together): NFC is
    // cross-checked against DuckDB's INDEPENDENT nfc_normalize
    // implementation; NFKC (ligature/compat folding, no DuckDB
    // counterpart) against the closed-form expected string.
    Query("q196_unicode_normalize", (s, dir) => {
      val g = daySlotCounts(s, dir)
        .withColumn("id",
          datediff(col("d"), lit(java.sql.Date.valueOf("1970-01-01")))
            .cast("long"))
      // decomposed e+acute, ANGSTROM SIGN (NFC singleton), fi ligature
      val raw = concat(lit("café Å xﬁ n="), col("count"))
      g.select(col("id"), col("slot"),
          Text.normalizeNfc(raw).as("nfc"),
          Text.normalizeNfkc(raw).as("nfkc"),
          (Text.normalizeNfc(raw) =!= raw).as("changed"))
        .orderBy("id", "slot")
    },
      // NFC via DuckDB's own (independent) nfc_normalize; NFKC closed-form
      s"""${slotCountsCte("BIGINT")},
        |rows_ AS (SELECT
        |    CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS id,
        |    slot,
        |    'cafe' || chr(769) || ' ' || chr(8491) || ' x' || chr(64257) ||
        |      ' n=' || CAST(cnt AS VARCHAR) AS raw,
        |    CAST(cnt AS VARCHAR) AS c FROM g)
        |SELECT id, slot, nfc_normalize(raw) AS nfc,
        |       'caf' || chr(233) || ' ' || chr(197) || ' xfi n=' || c AS nfkc,
        |       (nfc_normalize(raw) <> raw) AS changed
        |FROM rows_
        |ORDER BY id, slot""".stripMargin),

    // Gopher repetition suite completion (q60 has lines + top-2):
    // duplicate paragraphs, top-3/4-gram coverage, duplicate 5-gram
    // MASS fraction — a duplicated paragraph is appended so the
    // paragraph signal is non-vacuous on every row
    Query("q197_repetition_suite", (s, dir) =>
      table(s, dir, "documents").select(col("doc_id"), col("text"),
          concat(col("text"), lit("\n\npara one\n\npara one")).as("t2"))
        .select(col("doc_id"),
          round(Text.duplicateParagraphFraction(col("t2")), 6)
            .as("dup_para_frac"),
          round(Text.topNgramCoverage(col("text"), 3), 6).as("top3_cov"),
          round(Text.topNgramCoverage(col("text"), 4), 6).as("top4_cov"),
          round(Text.dupNgramMassFraction(col("text"), 5), 6)
            .as("dup5_mass"))
        .orderBy("doc_id"),
      s"""WITH base AS (SELECT doc_id,
         |  list_filter(string_split(text || chr(10) || chr(10) || 'para one' ||
         |    chr(10) || chr(10) || 'para one', chr(10) || chr(10)),
         |    p -> p <> '') AS paras,
         |  $ToksSql AS t FROM documents),
         |sh AS (SELECT doc_id, paras,
         |  CASE WHEN len(t) >= 3 THEN list_transform(range(1, len(t) - 1),
         |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) ELSE [] END AS g3,
         |  CASE WHEN len(t) >= 4 THEN list_transform(range(1, len(t) - 2),
         |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
         |    ELSE [] END AS g4,
         |  CASE WHEN len(t) >= 5 THEN list_transform(range(1, len(t) - 3),
         |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] ||
         |      ' ' || t[i+4]) ELSE [] END AS g5
         |  FROM base)
         |SELECT doc_id,
         |round(CASE WHEN len(paras) > 0
         |  THEN CAST(len(paras) - len(list_distinct(paras)) AS DOUBLE) / len(paras)
         |  ELSE 0.0 END, 6) AS dup_para_frac,
         |round(CASE WHEN len(g3) > 0
         |  THEN CAST(list_max(list_transform(list_distinct(g3),
         |    x -> len(list_filter(g3, y -> y = x)))) AS DOUBLE) / len(g3)
         |  ELSE 0.0 END, 6) AS top3_cov,
         |round(CASE WHEN len(g4) > 0
         |  THEN CAST(list_max(list_transform(list_distinct(g4),
         |    x -> len(list_filter(g4, y -> y = x)))) AS DOUBLE) / len(g4)
         |  ELSE 0.0 END, 6) AS top4_cov,
         |round(CASE WHEN len(g5) > 0
         |  THEN CAST(list_sum(list_transform(list_distinct(g5), x ->
         |    CASE WHEN len(list_filter(g5, y -> y = x)) >= 2
         |      THEN len(list_filter(g5, y -> y = x)) * length(x)
         |      ELSE 0 END)) AS DOUBLE) /
         |    CAST(list_sum(list_transform(g5, x -> length(x))) AS DOUBLE)
         |  ELSE 0.0 END, 6) AS dup5_mass
         |FROM sh ORDER BY doc_id""".stripMargin),

    // --- BPE pair-merge counting (tokenizer training support): top-50
    // adjacent character pairs under a deterministic total order ---
    Query("q73_bpe_pairs", (s, dir) =>
      Text.charPairCounts(table(s, dir, "documents"), "text").limit(50),
      s"""WITH w AS (SELECT unnest($ToksSql) AS w FROM documents),
         |p AS (SELECT substr(w, i, 2) AS pair
         |      FROM (SELECT w, unnest(range(1, length(w))) AS i FROM w))
         |SELECT pair, count(*) AS cnt FROM p GROUP BY 1
         |ORDER BY cnt DESC, pair LIMIT 50""".stripMargin),

    // --- Bloom-prefiltered decontamination: output provably equals the
    // exact set computed on the same corpus (FPs verified away, FNs
    // impossible). Contamination is PLANTED deterministically (q65
    // pattern: every 97th corpus doc carries the benchmark phrase) so the
    // gate is non-vacuous at every scale factor ---
    Query("q74_bloom_decontaminate", (s, dir) => {
      val phrase = " p1 p2 p3 p4 p5 p6 p7 p8"
      val d = table(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") < 10 || col("doc_id") % 97 === 0,
          concat(col("text"), lit(phrase))).otherwise(col("text")).as("text"))
      val bench = d.filter(col("doc_id") < 10)
      val corpus = d.filter(col("doc_id") >= 10)
      Dedup.contaminatedDocsBloom(corpus, bench, "doc_id", "text", n = 8)
        .orderBy("doc_id")
    },
      // q58's oracle over the planted-contamination corpus (Bloom prefilter
      // + exact verify provably computes the exact set)
      s"""WITH aug AS (SELECT doc_id,
         |  CASE WHEN doc_id < 10 OR doc_id % 97 = 0
         |    THEN text || ' p1 p2 p3 p4 p5 p6 p7 p8' ELSE text END AS text
         |  FROM documents),
         |tk AS (SELECT doc_id, $ToksSql AS t FROM aug),
         |idx AS (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i FROM tk),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS s FROM idx),
         |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 10),
         |corpus AS (SELECT doc_id, s FROM sh WHERE doc_id >= 10)
         |SELECT DISTINCT corpus.doc_id AS doc_id
         |FROM corpus JOIN bench ON corpus.s = bench.s
         |ORDER BY doc_id""".stripMargin),

    // --- unigram-LM surprisal (perplexity-proxy quality scoring) ---
    Query("q75_surprisal", (s, dir) =>
      Text.unigramSurprisal(table(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |pos AS (SELECT doc_id, unnest(range(1, len(t) + 1)) AS i, t FROM tk),
         |ptok AS (SELECT doc_id, i, t[i] AS tok FROM pos),
         |cnt AS (SELECT tok, count(*) AS c FROM ptok GROUP BY 1),
         |tot AS (SELECT count(*) AS n FROM ptok),
         |sc AS (SELECT p.doc_id, p.i, -ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) AS v
         |       FROM ptok p JOIN cnt ON p.tok = cnt.tok CROSS JOIN tot),
         |agg AS (SELECT doc_id, list(v ORDER BY i) AS vs, count(*) AS n_tokens
         |        FROM sc GROUP BY 1)
         |SELECT doc_id,
         |  round(list_reduce(list_prepend(0.0, vs), (acc, x) -> acc + x), 4) AS surprisal,
         |  n_tokens
         |FROM agg ORDER BY doc_id""".stripMargin),

    // --- shard-local sequence packing (pretraining batch prep; the window
    // is partition-local by construction — no global single-partition sort) ---
    Query("q76_sequence_packing", (s, dir) =>
      Text.packSequences(table(s, dir, "documents"), "doc_id", "text",
        budgetTokens = 512, shards = 4).orderBy("doc_id"),
      s"""WITH tk AS (SELECT doc_id, doc_id % 4 AS shard,
         |  CAST(len($ToksSql) AS BIGINT) AS n_tokens FROM documents)
         |SELECT doc_id, shard, n_tokens,
         |  CAST((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) - n_tokens) // 512
         |    AS BIGINT) AS bin
         |FROM tk ORDER BY doc_id""".stripMargin),

    // Exact-substring dedup (Lee et al. 2022): every 8-token span occurring
    // >1× in the corpus is cut from every document carrying it; the planted
    // exact-dup documents (q27's groups) guarantee the op is non-vacuous
    Query("q87_exact_substring_dedup", (s, dir) =>
      Dedup.exactSubstringDedup(table(s, dir, "documents"),
        "doc_id", "text", k = 8).orderBy("doc_id"),
      // flagged gram starts expand to removed token positions; kept tokens
      // rejoin with single spaces — exactly the Spark reconstruction
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |idx AS (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i FROM tk WHERE len(t) >= 8),
         |g AS (SELECT doc_id, i, array_to_string(t[i:i+7], ' ') AS s FROM idx),
         |dup AS (SELECT s FROM g GROUP BY s HAVING count(*) > 1),
         |f AS (SELECT g.doc_id, g.i FROM g JOIN dup USING (s)),
         |rm AS (SELECT DISTINCT doc_id, i + u AS j FROM f, (SELECT unnest(range(8)) AS u)),
         |tokj AS (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS j FROM tk),
         |tok AS (SELECT doc_id, j, t[j] AS w FROM tokj),
         |kept AS (SELECT tok.doc_id, tok.j, tok.w FROM tok
         |         ANTI JOIN rm ON tok.doc_id = rm.doc_id AND tok.j = rm.j),
         |agg AS (SELECT doc_id, count(*) AS n_kept,
         |               string_agg(w, ' ' ORDER BY j) AS clean_text
         |        FROM kept GROUP BY doc_id)
         |SELECT tk.doc_id, CAST(len(tk.t) AS BIGINT) AS n_tokens,
         |       CAST(len(tk.t) - COALESCE(agg.n_kept, 0) AS BIGINT) AS n_removed,
         |       COALESCE(agg.clean_text, '') AS clean_text
         |FROM tk LEFT JOIN agg ON tk.doc_id = agg.doc_id
         |ORDER BY tk.doc_id""".stripMargin),

    // --- per-doc contamination overlap fraction (threshold signal) ---
    Query("q77_overlap_fraction", (s, dir) => {
      val d = table(s, dir, "documents")
      Dedup.contaminationOverlap(d.filter(col("doc_id") >= 10),
          d.filter(col("doc_id") < 10), "doc_id", "text", n = 8)
        .orderBy("doc_id")
    },
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |idx AS (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i FROM tk),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS s FROM idx),
         |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 10),
         |corpus AS (SELECT doc_id, s FROM sh WHERE doc_id >= 10),
         |tot AS (SELECT doc_id, count(*) AS n_shingles FROM corpus GROUP BY 1),
         |com AS (SELECT corpus.doc_id, count(*) AS n_common
         |        FROM corpus JOIN bench ON corpus.s = bench.s GROUP BY 1)
         |SELECT t.doc_id, t.n_shingles, coalesce(c.n_common, 0) AS n_common,
         |  round(CAST(coalesce(c.n_common, 0) AS DOUBLE) / CAST(t.n_shingles AS DOUBLE), 6) AS overlap
         |FROM tot t LEFT JOIN com c ON t.doc_id = c.doc_id ORDER BY 1""".stripMargin),

    // Gopher-rule quality filter: integer-arithmetic verdicts, so the flag
    // columns are bit-portable to the oracle (booleans surfaced as 0/1)
    Query("q70_quality_filter", (s, dir) => {
      val f = Text.gopherQualityFilter(table(s, dir, "documents"),
        "doc_id", "text", minWords = 30, maxWords = 90,
        minMeanLen = 4, maxMeanLen = 10, minDistinctStopwords = 2)
      f.select((col("doc_id") +:
        f.columns.filter(_ != "doc_id").map(c => col(c).cast("long").as(c)).toSeq): _*)
        .orderBy("doc_id")
    },
      s"""WITH base AS (SELECT doc_id, text, $ToksSql AS t,
         |  list_filter(string_split(text, chr(10)), l -> l <> '') AS lines FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len(t) AS BIGINT) AS n,
         |  CAST(coalesce(list_sum(list_transform(t, x -> length(x))), 0) AS BIGINT) AS sumlen,
         |  CAST(len(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS nalpha,
         |  CAST(len(list_distinct(list_filter(t, x -> list_contains(['the','a','an','of','and','to','in','is','it','that'], x)))) AS BIGINT) AS nsw,
         |  CAST(len(lines) AS BIGINT) AS nlines,
         |  CAST(len(lines) - len(list_distinct(lines)) AS BIGINT) AS ndup,
         |  CAST(length(text) - length(replace(text, '#', ''))
         |    + (length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS nsym,
         |  CAST(len(list_filter(lines, l -> substr(l, 1, 1) IN ('-', '*'))) AS BIGINT) AS nbul,
         |  CAST(len(list_filter(lines, l -> ends_with(l, '...'))) AS BIGINT) AS nell
         |FROM base)
         |SELECT doc_id,
         |  CAST(n BETWEEN 30 AND 90 AS BIGINT) AS pass_words,
         |  CAST(sumlen >= 4 * n AND sumlen <= 10 * n AS BIGINT) AS pass_mean_len,
         |  CAST(nalpha * 5 >= n * 4 AS BIGINT) AS pass_alpha,
         |  CAST(nsw >= 2 AS BIGINT) AS pass_stopwords,
         |  CAST(ndup * 10 <= nlines * 3 AS BIGINT) AS pass_dup_lines,
         |  CAST(nsym * 10 <= n AS BIGINT) AS pass_symbols,
         |  CAST(nbul * 10 <= nlines * 9 AS BIGINT) AS pass_bullets,
         |  CAST(nell * 10 <= nlines * 3 AS BIGINT) AS pass_ellipsis,
         |  CAST(n BETWEEN 30 AND 90 AND sumlen >= 4 * n AND sumlen <= 10 * n
         |    AND nalpha * 5 >= n * 4 AND nsw >= 2 AND ndup * 10 <= nlines * 3
         |    AND nsym * 10 <= n AND nbul * 10 <= nlines * 9
         |    AND nell * 10 <= nlines * 3 AS BIGINT) AS keep
         |FROM m ORDER BY doc_id""".stripMargin),

    Query("q59_chunking", (s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(Text.chunkDocument(col("text"), 40, 8)))
        .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
          Text.tokenCount(col("col")).cast("long").as("chunk_tokens"))
        .orderBy("doc_id", "chunk_idx"),
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |c AS (SELECT doc_id, t,
         |  greatest(CAST(ceil(CAST(len(t) - 8 AS DOUBLE) / 32.0) AS INT), 1) AS nc
         |  FROM tk WHERE len(t) > 0),
         |e AS (SELECT doc_id, t, unnest(range(0, nc)) AS i FROM c)
         |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
         |CAST(len(t[i*32+1 : i*32+40]) AS BIGINT) AS chunk_tokens
         |FROM e ORDER BY doc_id, chunk_idx""".stripMargin),

    // --- as-of join (F4 bulk) ---
    Query("q52_asof_join", (s, dir) => {
      val ev = table(s, dir, "events")
      val left = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val right = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"), col("ts").as("rts"))
        .agg(max(col("value")).as("signup_value"))
      Filters.asofJoinBackward(left, right, "ts", "rts", Seq("user_id"),
          Seq("signup_value"))
        .select(col("event_id"), col("user_id"), col("ts"), col("signup_value"),
          col("__matched_time").as("matched_time"))
        .orderBy("event_id")
    },
      """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, ts AS rts, max(value) AS signup_value
        |      FROM events WHERE event_type = 'signup' GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id, l.ts, r.signup_value, r.rts AS matched_time
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.rts
        |ORDER BY event_id""".stripMargin),

    // --- encryption (W12) ---
    Query("q53_encrypt_roundtrip", (s, dir) => {
      // XChaCha20-Poly1305 roundtrip over every document: n_bad counts
      // decrypt(encrypt(text)) != text plus any chunk whose layout overhead
      // is not exactly nonce(24)+tag(16).
      val kh = Encryption.registerEncryptionKey(
        "000102030405060708090a0b0c0d0e0f101112131415161718191a1b1c1d1e1f")
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("plain"))
      val enc = docs.select(col("doc_id"), col("plain"),
        Encryption.encryptColumn(col("plain"), kh).as("enc"))
      enc.select(col("doc_id"), col("plain"), col("enc"),
          Encryption.decryptColumn(col("enc"), kh).as("back"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("back") === col("plain") &&
            length(col("enc")) === length(col("plain")) + lit(40), 0L)
            .otherwise(1L)).as("n_bad"))
    },
      "SELECT count(*) AS n_docs, CAST(0 AS BIGINT) AS n_bad FROM documents"),

    // --- chunk-alignment boundary math (W7) ---
    Query("q54_chunk_layout", (s, dir) => {
      val sp = s; import sp.implicits._
      Seq((3, 5, 8), (0, 5, 12), (4, 5, 1), (5, 5, 7), (3, 5, 0))
        .map { case (tail, chunk, len) =>
          (tail.toLong, chunk.toLong, len.toLong,
            graft.store.ChunkLayout.calculateTimeDimChunks(tail, chunk, len)
              .mkString(","))
        }
        .toDF("tail", "chunk", "len", "chunks")
        .orderBy("tail", "chunk", "len")
    },
      """SELECT * FROM (VALUES
        |(CAST(0 AS BIGINT), CAST(5 AS BIGINT), CAST(12 AS BIGINT), '5,5,2'),
        |(CAST(3 AS BIGINT), CAST(5 AS BIGINT), CAST(0 AS BIGINT), ''),
        |(CAST(3 AS BIGINT), CAST(5 AS BIGINT), CAST(8 AS BIGINT), '2,5,1'),
        |(CAST(4 AS BIGINT), CAST(5 AS BIGINT), CAST(1 AS BIGINT), '1'),
        |(CAST(5 AS BIGINT), CAST(5 AS BIGINT), CAST(7 AS BIGINT), '5,2'))
        |AS t(tail, chunk, len, chunks) ORDER BY tail, chunk, len""".stripMargin),

    // --- PII scrub (training-data masking; gate made non-vacuous by a
    // deterministic augmentation both engines construct identically) ---
    Query("q65_pii_scrub", (s, dir) => {
      val aug = table(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com and https://example.com/d/"),
          col("doc_id").cast("string"), lit("?x=1 tail")).as("aug"))
      aug.select(col("doc_id"),
          graft.functions.Text.scrubPii(col("aug")).as("scrubbed"),
          regexp_count(col("aug"), lit(graft.functions.Text.EmailRe))
            .cast("long").as("n_emails"),
          regexp_count(col("aug"), lit(graft.functions.Text.UrlRe))
            .cast("long").as("n_urls"))
        .orderBy("doc_id")
    },
      {
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val url = "https?://[A-Za-z0-9./_%?=&#-]+"
        s"""WITH aug AS (SELECT doc_id,
           |  text || ' contact user' || CAST(doc_id AS VARCHAR)
           |       || '@example.com and https://example.com/d/'
           |       || CAST(doc_id AS VARCHAR) || '?x=1 tail' AS aug
           |  FROM documents)
           |SELECT doc_id,
           |  regexp_replace(regexp_replace(aug, '$email', '<EMAIL>', 'g'),
           |                 '$url', '<URL>', 'g') AS scrubbed,
           |  CAST(len(regexp_extract_all(aug, '$email')) AS BIGINT) AS n_emails,
           |  CAST(len(regexp_extract_all(aug, '$url')) AS BIGINT) AS n_urls
           |FROM aug ORDER BY doc_id""".stripMargin
      }),

    // --- URL canonicalization + dedup (crawl-frontier hygiene; messy
    // variants constructed identically by both engines, q65 pattern) ---
    Query("q71_url_dedup", (s, dir) => {
      // half the URLs route through a dot segment (zz/../) and the
      // other half through ./ — RFC 3986 §5.2.4 folds BOTH into the
      // same canonical path, so a/../b and b land in one dedup group
      val aug = table(s, dir, "documents").select(col("doc_id"),
        concat(
          lit("HTTPS://WWW.Example"), (col("doc_id") % 3).cast("string"), lit(".COM"),
          when(col("doc_id") % 2 === 0, lit(":443")).otherwise(lit("")),
          lit("/Path/"),
          when(col("doc_id") % 2 === 0, lit("zz/../")).otherwise(lit("./")),
          col("source"),
          when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
          lit("?b=2&utm_source=x&a="), (col("doc_id") % 5).cast("string"),
          when(col("doc_id") % 3 === 0, lit("#frag")).otherwise(lit(""))).as("url"))
      Web.urlDedup(aug, "doc_id", "url").orderBy("canonical_url")
    },
      // replays canonicalization with the same regexp_extract groups + list
      // ops (no backreference replacement — its syntax is engine-specific)
      // the fixture's zz/../ and ./ dot segments both fold away
      // (RFC 3986 §5.2.4), so the oracle states the post-fold path
      // '/Path/<source>' closed-form
      """WITH u AS (SELECT doc_id,
        |  'HTTPS://WWW.Example' || CAST(doc_id % 3 AS VARCHAR) || '.COM' ||
        |  CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END ||
        |  '/Path/' ||
        |  CASE WHEN doc_id % 2 = 0 THEN 'zz/../' ELSE './' END ||
        |  source ||
        |  CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END ||
        |  '?b=2&utm_source=x&a=' || CAST(doc_id % 5 AS VARCHAR) ||
        |  CASE WHEN doc_id % 3 = 0 THEN '#frag' ELSE '' END AS url FROM documents),
        |c AS (SELECT doc_id,
        |  lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
        |  lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)', 2)) AS hostport,
        |  regexp_extract(url, '^[^#?]*\?([^#]*)', 1) AS q FROM u),
        |c2 AS (SELECT c.doc_id, scheme,
        |  CASE WHEN scheme = 'http' AND ends_with(hostport, ':80')
        |         THEN substr(hostport, 1, length(hostport) - 3)
        |       WHEN scheme = 'https' AND ends_with(hostport, ':443')
        |         THEN substr(hostport, 1, length(hostport) - 4)
        |       ELSE hostport END AS host,
        |  '/Path/' || d.source ||
        |    CASE WHEN c.doc_id % 4 = 0 THEN '/' ELSE '' END AS p0, q
        |  FROM c JOIN documents d ON d.doc_id = c.doc_id),
        |c3 AS (SELECT doc_id, scheme, host,
        |  CASE WHEN length(p0) > 1 AND ends_with(p0, '/')
        |    THEN substr(p0, 1, length(p0) - 1) ELSE p0 END AS p,
        |  array_to_string(list_sort(list_filter(string_split(q, '&'),
        |    x -> x <> '' AND NOT starts_with(x, 'utm_')
        |      AND NOT starts_with(x, 'fbclid')
        |      AND NOT starts_with(x, 'gclid'))), '&') AS kept FROM c2),
        |canon AS (SELECT doc_id, scheme || '://' || host || p ||
        |  CASE WHEN kept = '' THEN '' ELSE '?' || kept END AS canonical_url FROM c3)
        |SELECT canonical_url, count(*) AS n_dups, min(doc_id) AS keeper_id
        |FROM canon GROUP BY 1 ORDER BY 1""".stripMargin),

    // --- corpus-level line dedup (CCNet-style boilerplate removal) ---
    Query("q67_line_dedup", (s, dir) => {
      // deterministic boilerplate both engines construct identically: a
      // footer shared by every doc (removed at minDocs=10) + a unique line
      val aug = table(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit("\nshared boilerplate footer line\nunique "),
          col("doc_id").cast("string")).as("aug"))
      Dedup.corpusLineDedup(aug, "doc_id", "aug", minDocs = 10)
        .select(col("doc_id"), md5(col("cleaned")).as("cleaned_md5"),
          col("n_removed"))
        .orderBy("doc_id")
    },
      """WITH aug AS (SELECT doc_id,
        |  text || chr(10) || 'shared boilerplate footer line' || chr(10)
        |       || 'unique ' || CAST(doc_id AS VARCHAR) AS aug FROM documents),
        |ls AS (SELECT doc_id, string_split(aug, chr(10)) AS lns FROM aug),
        |lines AS (SELECT doc_id, unnest(range(1, len(lns) + 1)) AS i, lns FROM ls),
        |ln AS (SELECT doc_id, i, lns[i] AS line FROM lines),
        |common AS (SELECT line FROM ln WHERE line <> ''
        |           GROUP BY line HAVING count(DISTINCT doc_id) >= 10),
        |flagged AS (SELECT ln.doc_id, ln.i, ln.line,
        |            (common.line IS NOT NULL) AS dropped
        |            FROM ln LEFT JOIN common ON ln.line = common.line)
        |SELECT doc_id,
        |  md5(COALESCE(string_agg(CASE WHEN NOT dropped THEN line END,
        |        chr(10) ORDER BY i), '')) AS cleaned_md5,
        |  CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
        |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // --- GRIB1 DSv2 scan (the reference's other ingest format) ---
    Query("q66_grib_scan", (s, dir) => {
      val path = gribEventsFixture(s, dir)
      gribSlots(s, path)
        .select(col("time"), col("slot"), col("value").as("cnt"))
        .orderBy("time", "slot")
    },
      // dense day×slot spine; GRIB1 (no bitmap) carries 0 for empty cells
      GribScanOracle),

    // --- GRIB edition 2 DSv2 scan (same oracle shape as q66; exercises
    // the section-stream parser, IEEE reference values, and microdegree
    // sign-magnitude coordinates) ---
    Query("q79_grib2_scan", (s, dir) => {
      val path = gribEventsFixture(s, dir, edition = 2)
      gribSlots(s, path)
        .select(col("time"), col("slot"), col("value").as("cnt"))
        .orderBy("time", "slot")
    },
      // edition-2 fixture decodes to the identical grid
      GribScanOracle),

    // Probability products (template 4.5, the NBM shape): two PoP
    // thresholds of ONE param at one (ref_time, step) key apart on the
    // threshold axis, with per-threshold values the oracle recomputes —
    // a blend or mix-up breaks values, not just counts
    Query("q166_grib_prob_scan", (s, dir) => {
      val path = gribProbFixture(s, dir)
      gribSlots(s, path)
        .select(col("time"), col("prob_lo").cast("int").as("threshold"),
          col("slot"), col("value").as("cnt"))
        .orderBy("time", "threshold", "slot")
    },
      // two PoP thresholds per (day, slot): th=1 carries cnt, th=5 2·cnt+1
      s"""${slotCountsCte("DOUBLE")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |spine AS (SELECT d, CAST(s AS INTEGER) AS slot, CAST(th AS INTEGER) AS threshold
        |          FROM days, (SELECT unnest(range(10)) AS s),
        |               (SELECT unnest([1, 5]) AS th)),
        |base AS (SELECT spine.d, spine.slot, spine.threshold,
        |                CAST(COALESCE(g.cnt, 0) AS DOUBLE) AS cnt
        |         FROM spine LEFT JOIN g ON spine.d = g.d AND spine.slot = g.slot)
        |SELECT d AS time, threshold, slot,
        |       CASE WHEN threshold = 1 THEN cnt ELSE cnt * 2 + 1 END AS cnt
        |FROM base ORDER BY 1, 2, 3""".stripMargin),

    // GRIB with a BITMAP (section 6) + complex packing (template 5.2):
    // no-event cells are bitmap holes that must surface as NULL — the
    // shape real archives use (the reference's rtma_pcp.grib input is
    // bitmap + 5.2).
    Query("q83_grib_bitmap_scan", (s, dir) => {
      val path = gribEventsFixture(s, dir, edition = 2, holes = true,
        complexPacking = true)
      gribSlots(s, path)
        .select(col("time"), col("slot"), col("value").as("cnt"))
        .orderBy("time", "slot")
    },
      // bitmap fixture: no-event cells are NULL (holes), not 0 — q61's
      // spine-with-nulls shape
      s"""${slotCountsCte("DOUBLE")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |spine AS (SELECT d, CAST(s AS INTEGER) AS slot
        |          FROM days, (SELECT unnest(range(10)) AS s))
        |SELECT spine.d AS time, spine.slot AS slot, g.cnt AS cnt
        |FROM spine LEFT JOIN g ON spine.d = g.d AND spine.slot = g.slot
        |ORDER BY 1, 2""".stripMargin),
    // product template 4.1 (individual ensemble member): per-day messages
    // carry TWO perturbed fields of one parameter; the scan surfaces the
    // perturbation number as the `member` column — the reference's
    // `ensemble` dataset category dimension (attributes.py:223-233)
    Query("q86_grib_ensemble_scan", (s, dir) => {
      val path = gribDailyFixture(s, dir, "events_ens.grb2") { (out, d, cnt) =>
        val base = cnt.map(_.toDouble)
        graft.sources.grib.GribFormat.writeMessage2Fields(out, d,
          Seq(0.0, 1.0), Seq(0.0, 1.0, 2.0, 3.0, 4.0),
          fields = Seq((61, 0, base), (61, 0, base.map(_ + 1000.0))),
          members = Seq(0, 1))
      }
      gribSlots(s, path)
        .select(col("time"), col("slot"), col("member"), col("value").as("cnt"))
        .orderBy("time", "slot", "member")
    },
      // ensemble fixture: the dense spine crossed with members {0, 1};
      // member 1's field is the base grid + 1000
      s"""${slotCountsCte("DOUBLE")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |spine AS (SELECT d, CAST(s AS INTEGER) AS slot, CAST(m AS INTEGER) AS member
        |          FROM days, (SELECT unnest(range(10)) AS s),
        |               (SELECT unnest(range(2)) AS m))
        |SELECT spine.d AS time, spine.slot AS slot, spine.member AS member,
        |       CAST(COALESCE(g.cnt, 0) + spine.member * 1000 AS DOUBLE) AS cnt
        |FROM spine LEFT JOIN g ON spine.d = g.d AND spine.slot = g.slot
        |ORDER BY 1, 2, 3""".stripMargin),

    // S9 vertical-level axis (ERA5 pressure-level shape): per-day messages
    // carry ONE parameter at THREE isobaric surfaces (850/500/250 hPa);
    // the scan keys each hypercube on (level_type, level) instead of
    // silently colliding cells — the reference separates these via
    // scan_grib(filter)[scan_indices] (transform.py:214-219, 234-240).
    // Level li's field is the base grid + li*1000.
    Query("q152_grib_level_scan", (s, dir) => {
      val path = gribDailyFixture(s, dir, "events_pl.grb2") { (out, d, cnt) =>
        val base = cnt.map(_.toDouble)
        graft.sources.grib.GribFormat.writeMessage2Fields(out, d,
          Seq(0.0, 1.0), Seq(0.0, 1.0, 2.0, 3.0, 4.0),
          fields = (0 until 3).map(li => (61, 0, base.map(_ + li * 1000.0))),
          levels = Seq((100, 85000L), (100, 50000L), (100, 25000L)))
      }
      gribSlots(s, path)
        .select(col("time"), col("slot"), col("level"), col("value").as("cnt"))
        .orderBy("time", "slot", "level")
    },
      // pressure-level fixture: the dense spine crossed with the three
      // isobaric surfaces; level index li's field is the base grid + li*1000
      s"""${slotCountsCte("DOUBLE")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |lv AS (SELECT CAST(UNNEST([85000, 50000, 25000]) AS DOUBLE) AS level,
        |              CAST(UNNEST([0, 1000, 2000]) AS DOUBLE) AS off),
        |spine AS (SELECT d, CAST(s AS INTEGER) AS slot, level, off
        |          FROM days, (SELECT unnest(range(10)) AS s), lv)
        |SELECT spine.d AS time, spine.slot AS slot, spine.level AS level,
        |       CAST(COALESCE(g.cnt, 0) + spine.off AS DOUBLE) AS cnt
        |FROM spine LEFT JOIN g ON spine.d = g.d AND spine.slot = g.slot
        |ORDER BY 1, 2, 3""".stripMargin),

    // Forecast-category ingest: per day, TWO reference times whose valid
    // times overlap — (ref d, lead 6h) and (ref d+6h, analysis) both land
    // on d+6h — and the scan keeps them distinct via (ref_time, step),
    // the reference's forecast dim set (transform.py:724-759). The later
    // reference's field is the base grid + 5000.
    Query("q153_grib_forecast_scan", (s, dir) => {
      val path = gribDailyFixture(s, dir, "events_fcst.grb2") { (out, d, cnt) =>
        val base = cnt.map(_.toDouble)
        graft.sources.grib.GribFormat.writeMessage2Fields(out, d,
          Seq(0.0, 1.0), Seq(0.0, 1.0, 2.0, 3.0, 4.0),
          fields = Seq((61, 6, base)))
        graft.sources.grib.GribFormat.writeMessage2Fields(out, d.plusHours(6),
          Seq(0.0, 1.0), Seq(0.0, 1.0, 2.0, 3.0, 4.0),
          fields = Seq((61, 0, base.map(_ + 5000.0))))
      }
      gribSlots(s, path)
        .select(col("time"), col("ref_time"), col("step"), col("slot"),
          col("value").as("cnt"))
        .orderBy("time", "ref_time", "slot")
    },
      // forecast fixture: each day contributes two hypercubes valid at
      // d+6h — (ref d, step 360min) and (ref d+6h, step 0, base + 5000)
      s"""${slotCountsCte("DOUBLE")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |spine AS (SELECT d, CAST(s AS INTEGER) AS slot
        |          FROM days, (SELECT unnest(range(10)) AS s)),
        |joined AS (SELECT spine.d AS d, spine.slot AS slot,
        |                  CAST(COALESCE(g.cnt, 0) AS DOUBLE) AS cnt
        |           FROM spine LEFT JOIN g ON spine.d = g.d AND spine.slot = g.slot)
        |SELECT d + INTERVAL 6 HOUR AS time, d AS ref_time,
        |       CAST(360 AS BIGINT) AS step, slot, cnt
        |FROM joined
        |UNION ALL
        |SELECT d + INTERVAL 6 HOUR AS time, d + INTERVAL 6 HOUR AS ref_time,
        |       CAST(0 AS BIGINT) AS step, slot, CAST(cnt + 5000 AS DOUBLE) AS cnt
        |FROM joined
        |ORDER BY 1, 2, 4""".stripMargin),

    // INTERVAL products (template 4.8, the NCEP precipitation shape): a
    // 1-h accumulation's VALID time is the interval END from the PDT
    // statistical trailer, not ref + lead — the scan stamps d+1h with
    // step = 60 min while ref_time stays d (q153's key model).
    Query("q157_grib_accum_scan", (s, dir) => {
      val path = gribDailyFixture(s, dir, "events_acc.grb2") { (out, d, cnt) =>
        val base = cnt.map(_.toDouble)
        graft.sources.grib.GribFormat.writeMessage2Fields(out, d,
          Seq(0.0, 1.0), Seq(0.0, 1.0, 2.0, 3.0, 4.0),
          fields = Seq((61, 0, base)), intervals = Seq(1))
      }
      gribSlots(s, path)
        .select(col("time"), col("ref_time"), col("step"), col("slot"),
          col("value").as("cnt"))
        .orderBy("time", "slot")
    },
      // accumulation fixture: the spine shifted to the interval END with
      // the endStep key
      s"""${slotCountsCte("DOUBLE")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |spine AS (SELECT d, CAST(s AS INTEGER) AS slot
        |          FROM days, (SELECT unnest(range(10)) AS s))
        |SELECT spine.d + INTERVAL 1 HOUR AS time, spine.d AS ref_time,
        |       CAST(60 AS BIGINT) AS step, spine.slot AS slot,
        |       CAST(COALESCE(g.cnt, 0) AS DOUBLE) AS cnt
        |FROM spine LEFT JOIN g ON spine.d = g.d AND spine.slot = g.slot
        |ORDER BY 1, 4""".stripMargin),

    // edition-1 accumulations (time range indicator 4, the GPCP shape)
    // carry the same interval-end key model as q157's template 4.8: the
    // PDS stamps P1=0, P2=1 h and the scan emits time = d+1h, step = 60.
    Query("q158_grib1_accum_scan", (s, dir) => {
      val path = gribDailyFixture(s, dir, "events_acc.grb") { (out, d, cnt) =>
        val base = cnt.map(_.toDouble)
        graft.sources.grib.GribFormat.writeMessage(out, 61, d,
          Seq(0.0, 1.0), Seq(0.0, 1.0, 2.0, 3.0, 4.0), base,
          accumHours = 1)
      }
      gribSlots(s, path)
        .select(col("time"), col("ref_time"), col("step"), col("slot"),
          col("value").as("cnt"))
        .orderBy("time", "slot")
    },
      // edition-1 TRI-4 fixture: identical key model to q157
      s"""${slotCountsCte("DOUBLE")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |spine AS (SELECT d, CAST(s AS INTEGER) AS slot
        |          FROM days, (SELECT unnest(range(10)) AS s))
        |SELECT spine.d + INTERVAL 1 HOUR AS time, spine.d AS ref_time,
        |       CAST(60 AS BIGINT) AS step, spine.slot AS slot,
        |       CAST(COALESCE(g.cnt, 0) AS DOUBLE) AS cnt
        |FROM spine LEFT JOIN g ON spine.d = g.d AND spine.slot = g.slot
        |ORDER BY 1, 4""".stripMargin),

    // derived-ensemble products (templates 4.2/4.12 — the GEFS
    // geavg/gespr archive shape): mean and spread of one (time, param)
    // coexist in one file, separated only by the derived axis (table 4.7
    // statistic code), with member NULL for both.
    Query("q159_grib_derived_scan", (s, dir) => {
      val path = gribDailyFixture(s, dir, "events_drv.grb2") { (out, d, cnt) =>
        val mean = cnt.map(_.toDouble)
        graft.sources.grib.GribFormat.writeMessage2Fields(out, d,
          Seq(0.0, 1.0), Seq(0.0, 1.0, 2.0, 3.0, 4.0),
          fields = Seq((61, 0, mean), (61, 0, mean.map(_ * 2))),
          derivedStats = Seq(0, 2))
      }
      gribSlots(s, path)
        .select(col("time"), col("derived"), col("slot"),
          col("value").as("cnt"))
        .orderBy("time", "derived", "slot")
    },
      // derived-ensemble fixture: mean (0) carries the counts, spread (2)
      // twice the counts — the derived axis keys both onto one spine
      s"""${slotCountsCte("DOUBLE")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |spine AS (SELECT d, CAST(s AS INTEGER) AS slot, CAST(v AS INTEGER) AS derived
        |          FROM days, (SELECT unnest(range(10)) AS s),
        |               (SELECT unnest([0, 2]) AS v))
        |SELECT spine.d AS time, spine.derived AS derived, spine.slot AS slot,
        |       CAST(COALESCE(g.cnt, 0) * (CASE spine.derived WHEN 0 THEN 1 ELSE 2 END)
        |            AS DOUBLE) AS cnt
        |FROM spine LEFT JOIN g ON spine.d = g.d AND spine.slot = g.slot
        |ORDER BY 1, 2, 3""".stripMargin),

    // polar-stereographic grid (template 3.20 — the NCEP Alaska/sea-ice
    // regional shape): the scan inverse-projects cells to lat/lon; the
    // query FORWARD-projects them back through the independent Column
    // path (ops/Projection) to recover the (i, j) cell index, so a wrong
    // inverse cannot round-trip to the right slot.
    Query("q160_grib_polar_scan", (s, dir) => {
      val g = graft.sources.grib.GribFormat.PsWriterGrid(
        la1 = 70.0, lo1 = 200.0, latTs = 60.0, lov = 210.0,
        dxM = 50000.0, dyM = 50000.0)
      val path = gribDailyFixture(s, dir, "events_ps.grb2") { (out, d, cnt) =>
        val base = cnt.map(_.toDouble)
        graft.sources.grib.GribFormat.writeMessage2Fields(out, d,
          Seq(0.0, 1.0), Seq(0.0, 1.0, 2.0, 3.0, 4.0),
          fields = Seq((61, 0, base)), polarStereo = Some(g))
      }
      val m = Projection.PolarStereographic(
        northPole = true, lon0 = g.lov, latTs = g.latTs)
      val (y0, x0) = m.forwardXY(g.la1, g.lo1)
      val (yC, xC) = Projection.project(col("latitude"), col("longitude"), m)
      s.read.format("grib1").load(path)
        .withColumn("i", round((xC - lit(x0)) / lit(g.dxM)).cast("int"))
        .withColumn("j", round((yC - lit(y0)) / lit(g.dyM)).cast("int"))
        .select(col("time"), (col("j") * 5 + col("i")).as("slot"),
          col("value").as("cnt"))
        .orderBy("time", "slot")
    },
      // polar fixture: analysis products (lead 0) on the day spine; the
      // slot survives the projection round-trip exactly
      s"""${slotCountsCte("DOUBLE")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |spine AS (SELECT d, CAST(s AS INTEGER) AS slot
        |          FROM days, (SELECT unnest(range(10)) AS s))
        |SELECT spine.d AS time, spine.slot AS slot,
        |       CAST(COALESCE(g.cnt, 0) AS DOUBLE) AS cnt
        |FROM spine LEFT JOIN g ON spine.d = g.d AND spine.slot = g.slot
        |ORDER BY 1, 2""".stripMargin),

    // LAYER products (second fixed surface — the NCEP soil-layer shape):
    // two depth layers share (time, param, level_type, level=0 top) and
    // stay distinct only on level_to; the shallow layer carries the
    // counts, the deep layer twice the counts.
    Query("q163_grib_layer_scan", (s, dir) => {
      val path = gribDailyFixture(s, dir, "events_layer.grb2") { (out, d, cnt) =>
        val base = cnt.map(_.toDouble)
        graft.sources.grib.GribFormat.writeMessage2Fields(out, d,
          Seq(0.0, 1.0), Seq(0.0, 1.0, 2.0, 3.0, 4.0),
          fields = Seq((192, 0, base), (192, 0, base.map(_ * 2))),
          levels = Seq((106, 0L), (106, 0L)),
          levelTops = Seq(10L, 100L), discipline = 2)
      }
      gribSlots(s, path)
        .select(col("time"), col("level_to"), col("slot"),
          col("value").as("cnt"))
        .orderBy("time", "level_to", "slot")
    },
      // layer fixture: shallow (10) carries the counts, deep (100) twice
      s"""${slotCountsCte("DOUBLE")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |spine AS (SELECT d, CAST(s AS INTEGER) AS slot, CAST(v AS DOUBLE) AS level_to
        |          FROM days, (SELECT unnest(range(10)) AS s),
        |               (SELECT unnest([10, 100]) AS v))
        |SELECT spine.d AS time, spine.level_to AS level_to, spine.slot AS slot,
        |       CAST(COALESCE(g.cnt, 0) * (CASE spine.level_to WHEN 10 THEN 1 ELSE 2 END)
        |            AS DOUBLE) AS cnt
        |FROM spine LEFT JOIN g ON spine.d = g.d AND spine.slot = g.slot
        |ORDER BY 1, 2, 3""".stripMargin),

    // Mercator grid (template 3.10 — tropical regional archives): same
    // round-trip gate shape as q160, over the Mercator Column path.
    Query("q161_grib_mercator_scan", (s, dir) => {
      val g = graft.sources.grib.GribFormat.MercWriterGrid(
        la1 = -10.0, lo1 = 100.0, latTs = 10.0,
        dxM = 100000.0, dyM = 100000.0)
      val path = gribDailyFixture(s, dir, "events_mc.grb2") { (out, d, cnt) =>
        val base = cnt.map(_.toDouble)
        graft.sources.grib.GribFormat.writeMessage2Fields(out, d,
          Seq(0.0, 1.0), Seq(0.0, 1.0, 2.0, 3.0, 4.0),
          fields = Seq((61, 0, base)), mercator = Some(g))
      }
      val m = Projection.Mercator(lon0 = g.lo1, latTs = g.latTs)
      val (y0, x0) = m.forwardXY(g.la1, g.lo1)
      val (yC, xC) = Projection.project(col("latitude"), col("longitude"), m)
      s.read.format("grib1").load(path)
        .withColumn("i", round((xC - lit(x0)) / lit(g.dxM)).cast("int"))
        .withColumn("j", round((yC - lit(y0)) / lit(g.dyM)).cast("int"))
        .select(col("time"), (col("j") * 5 + col("i")).as("slot"),
          col("value").as("cnt"))
        .orderBy("time", "slot")
    },
      // Mercator fixture: identical spine to q160
      s"""${slotCountsCte("DOUBLE")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |spine AS (SELECT d, CAST(s AS INTEGER) AS slot
        |          FROM days, (SELECT unnest(range(10)) AS s))
        |SELECT spine.d AS time, spine.slot AS slot,
        |       CAST(COALESCE(g.cnt, 0) AS DOUBLE) AS cnt
        |FROM spine LEFT JOIN g ON spine.d = g.d AND spine.slot = g.slot
        |ORDER BY 1, 2""".stripMargin),

    // template 5.3 (complex packing + order-2 spatial differencing — the
    // packing operational GFS/NDFD archives carry), same grid + bitmap
    Query("q85_grib_spatial_diff_scan", (s, dir) => {
      val path = gribEventsFixture(s, dir, edition = 2, holes = true,
        complexPacking = true, spatialDiffOrder = 2)
      gribSlots(s, path)
        .select(col("time"), col("slot"), col("value").as("cnt"))
        .orderBy("time", "slot")
    },
      s"""${slotCountsCte("DOUBLE")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |spine AS (SELECT d, CAST(s AS INTEGER) AS slot
        |          FROM days, (SELECT unnest(range(10)) AS s))
        |SELECT spine.d AS time, spine.slot AS slot, g.cnt AS cnt
        |FROM spine LEFT JOIN g ON spine.d = g.d AND spine.slot = g.slot
        |ORDER BY 1, 2""".stripMargin),

    // CCSDS/AEC packing (template 5.42, the modern ECMWF operational
    // profile) under a bitmap — same spine oracle as the other grib gates.
    Query("q130_grib_ccsds_scan", (s, dir) => {
      val path = gribEventsFixture(s, dir, edition = 2, holes = true,
        ccsdsPacking = true)
      gribSlots(s, path)
        .select(col("time"), col("slot"), col("value").as("cnt"))
        .orderBy("time", "slot")
    },
      // 5.3 reconstruction must land on exactly the 5.2 grid
      s"""${slotCountsCte("DOUBLE")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |spine AS (SELECT d, CAST(s AS INTEGER) AS slot
        |          FROM days, (SELECT unnest(range(10)) AS s))
        |SELECT spine.d AS time, spine.slot AS slot, g.cnt AS cnt
        |FROM spine LEFT JOIN g ON spine.d = g.d AND spine.slot = g.slot
        |ORDER BY 1, 2""".stripMargin),

    // JPEG 2000 packing (template 5.40, the ECMWF/ERA5 archive profile)
    // under a bitmap — the full in-repo Part-1 codec (MQ coder, EBCOT,
    // tag trees, reversible 5/3 DWT) behind the same spine oracle.
    Query("q135_grib_jpeg2000_scan", (s, dir) => {
      val path = gribEventsFixture(s, dir, edition = 2, holes = true,
        jpegPacking = true)
      gribSlots(s, path)
        .select(col("time"), col("slot"), col("value").as("cnt"))
        .orderBy("time", "slot")
    },
      s"""${slotCountsCte("DOUBLE")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |spine AS (SELECT d, CAST(s AS INTEGER) AS slot
        |          FROM days, (SELECT unnest(range(10)) AS s))
        |SELECT spine.d AS time, spine.slot AS slot, g.cnt AS cnt
        |FROM spine LEFT JOIN g ON spine.d = g.d AND spine.slot = g.slot
        |ORDER BY 1, 2""".stripMargin),


    // --- parameterized CF grid mappings (C6/W15 beyond 4326/3857) ---
    // REDUCED Gaussian grid (the true ERA5-native layout: points per
    // parallel vary; ni is MISSING and row lengths ride section 3's
    // optional list). Rows [4, 6] hold the 10 slots row-major.
    Query("q134_grib_reduced_gaussian_scan", (s, dir) => {
      val path = gribEventsFixture(s, dir, edition = 2, holes = true,
        gaussianN = Some(1), reducedRows = Some(Seq(4, 6)))
      s.read.format("grib1").load(path)
        .select(col("time"), col("value").as("cnt"))
        .orderBy(col("time"), col("cnt"))
    },
      s"""${slotCountsCte("DOUBLE")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |spine AS (SELECT d, CAST(s AS INTEGER) AS slot
        |          FROM days, (SELECT unnest(range(10)) AS s))
        |SELECT spine.d AS time, g.cnt AS cnt
        |FROM spine LEFT JOIN g ON spine.d = g.d AND spine.slot = g.slot
        |ORDER BY 1, 2""".stripMargin),

    // The FULL native ERA5 layout in one gate: reduced Gaussian grid
    // (3.40 + per-row point counts) carrying JPEG 2000 packing (5.40)
    // under a bitmap — grid decode and codec compose.
    Query("q136_grib_era5_native_scan", (s, dir) => {
      val path = gribEventsFixture(s, dir, edition = 2, holes = true,
        gaussianN = Some(1), reducedRows = Some(Seq(4, 6)),
        jpegPacking = true)
      s.read.format("grib1").load(path)
        .select(col("time"), col("value").as("cnt"))
        .orderBy(col("time"), col("cnt"))
    },
      s"""${slotCountsCte("DOUBLE")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |spine AS (SELECT d, CAST(s AS INTEGER) AS slot
        |          FROM days, (SELECT unnest(range(10)) AS s))
        |SELECT spine.d AS time, g.cnt AS cnt
        |FROM spine LEFT JOIN g ON spine.d = g.d AND spine.slot = g.slot
        |ORDER BY 1, 2""".stripMargin),

    // Regular Gaussian grid (template 3.40, the ERA5-native family):
    // decoded values gate against the events oracle; the Gaussian-parallel
    // coordinates are pinned by GribGaussianSpec (Legendre roots)
    Query("q133_grib_gaussian_scan", (s, dir) => {
      val path = gribEventsFixture(s, dir, edition = 2, holes = true,
        gaussianN = Some(1))
      s.read.format("grib1").load(path)
        .select(col("time"), col("value").as("cnt"))
        .orderBy(col("time"), col("cnt"))
    },
      s"""${slotCountsCte("DOUBLE")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |spine AS (SELECT d, CAST(s AS INTEGER) AS slot
        |          FROM days, (SELECT unnest(range(10)) AS s))
        |SELECT spine.d AS time, g.cnt AS cnt
        |FROM spine LEFT JOIN g ON spine.d = g.d AND spine.slot = g.slot
        |ORDER BY 1, 2""".stripMargin),

    // CF rotated_latitude_longitude (COSMO/ICON regional family):
    // forward+inverse must round-trip everywhere, incl. a nonzero
    // north_pole_grid_longitude angle (same n_bad gate as q63/q64)
    Query("q131_rotpole_roundtrip", (s, dir) => {
      val m = Projection.RotatedPole(poleLat = 40.0, poleLon = -170.0, angle = 7.5)
      val pts = table(s, dir, "events").select(
        (abs(col("value")) % lit(160.0) - lit(80.0)).as("lat"),
        ((col("user_id") * lit(7L)) % lit(340L)).cast("double").minus(lit(170.0)).as("lon"))
      val proj = Projection.assignCrs(pts, "lat", "lon", m)
      val (latB, lonB) = Projection.unproject(col("northing"), col("easting"), m)
      proj.select(
          (abs(latB - col("lat")) > lit(1e-8) ||
            abs(lonB - col("lon")) > lit(1e-8)).as("bad"))
        .agg(sum(when(col("bad"), 1L).otherwise(0L)).as("n_bad"))
    },
      "SELECT CAST(0 AS BIGINT) AS n_bad"),

    // Rotated-grid GRIB2 scan (template 3.1) + CCSDS packing: the decoded
    // VALUES gate against the events oracle; cell coordinates are gated by
    // GribRotatedSpec (transcendental -> not SQL-expressible)
    Query("q132_grib_rotated_scan", (s, dir) => {
      val path = gribEventsFixture(s, dir, edition = 2, holes = true,
        ccsdsPacking = true, rotatedPole = Some((40.0, -170.0, 0.0)))
      s.read.format("grib1").load(path)
        .select(col("time"), col("value").as("cnt"))
        .orderBy(col("time"), col("cnt"))
    },
      s"""${slotCountsCte("DOUBLE")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |spine AS (SELECT d, CAST(s AS INTEGER) AS slot
        |          FROM days, (SELECT unnest(range(10)) AS s))
        |SELECT spine.d AS time, g.cnt AS cnt
        |FROM spine LEFT JOIN g ON spine.d = g.d AND spine.slot = g.slot
        |ORDER BY 1, 2""".stripMargin),

    Query("q63_lcc_roundtrip", (s, dir) => {
      // HRRR-style Lambert conformal conic over CONUS-ish points
      val m = Projection.LambertConformalConic(38.5, -97.5, 38.5, 38.5)
      val pts = table(s, dir, "events").select(
        (abs(col("value")) % lit(60.0) + lit(10.0)).as("lat"),
        ((col("user_id") * lit(7L)) % lit(60L)).cast("double").minus(lit(130.0)).as("lon"))
      val proj = Projection.assignCrs(pts, "lat", "lon", m)
      val (latB, lonB) = Projection.unproject(col("northing"), col("easting"), m)
      proj.select(
          (abs(latB - col("lat")) > lit(1e-8) ||
            abs(lonB - col("lon")) > lit(1e-8)).as("bad"))
        .agg(sum(when(col("bad"), 1L).otherwise(0L)).as("n_bad"))
    },
      "SELECT CAST(0 AS BIGINT) AS n_bad"),
    Query("q64_polar_roundtrip", (s, dir) => {
      // south-aspect polar stereographic (exercises the equator mirror)
      val m = Projection.PolarStereographic(northPole = false, lon0 = 0.0, latTs = -71.0)
      val pts = table(s, dir, "events").select(
        (abs(col("value")) % lit(35.0) + lit(50.0)).unary_-.as("lat"),
        ((col("user_id") * lit(7L)) % lit(360L)).cast("double").minus(lit(180.0)).as("lon"))
      val proj = Projection.assignCrs(pts, "lat", "lon", m)
      val (latB, lonB) = Projection.unproject(col("northing"), col("easting"), m)
      proj.select(
          (abs(latB - col("lat")) > lit(1e-8) ||
            abs(lonB - col("lon")) > lit(1e-8)).as("bad"))
        .agg(sum(when(col("bad"), 1L).otherwise(0L)).as("n_bad"))
    },
      "SELECT CAST(0 AS BIGINT) AS n_bad"),

    // --- NetCDF DSv2 scan (S9's real form: non-parquet file scan) ---
    Query("q61_nc_scan", (s, dir) => {
      val (path, _) = ncEventsFixture(s, dir)
      s.read.format("netcdf").load(path).orderBy("time", "slot")
    },
      // The NC fixture is a dense (day × slot) grid of event counts with
      // no-event cells as _FillValue → the oracle is a day×slot spine
      // LEFT JOINed to the per-cell counts (null where the grid holds fill).
      s"""${slotCountsCte("DOUBLE")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |spine AS (SELECT d, CAST(s AS INTEGER) AS slot
        |          FROM days, (SELECT unnest(range(10)) AS s))
        |SELECT spine.d AS time, spine.slot AS slot, g.cnt AS cnt
        |FROM spine LEFT JOIN g ON spine.d = g.d AND spine.slot = g.slot
        |ORDER BY 1, 2""".stripMargin),

    // Non-Gregorian CF calendar (CMIP's noleap): the axis is day OFFSETS
    // since an epoch two days before a real leap day, so the noleap and
    // Gregorian readings genuinely diverge from offset 2 on — a decode
    // that ignores the calendar lands every post-Feb-29 row one day early
    Query("q165_nc_noleap_scan", (s, dir) => {
      val path = ncNoleapFixture(s, dir)
      s.read.format("netcdf").load(path).orderBy("time")
    },
      // noleap decode replayed in plain SQL: offset i since 2024-02-27 in a
      // calendar WITHOUT Feb 29 = Gregorian epoch + i days, plus one extra
      // day once the offset crosses the (noleap) Feb 28 → Mar 1 boundary
      """WITH g AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
        |                  CAST(count(*) AS DOUBLE) AS cnt
        |           FROM events GROUP BY 1),
        |o AS (SELECT cnt,
        |        CAST(row_number() OVER (ORDER BY d) - 1 AS BIGINT) AS off
        |      FROM g)
        |SELECT TIMESTAMP '2024-02-27' + off * INTERVAL 1 DAY +
        |  (CASE WHEN off >= 2 THEN 1 ELSE 0 END) * INTERVAL 1 DAY AS time,
        |  cnt
        |FROM o ORDER BY 1""".stripMargin),
    Query("q62_nc_pushdown", (s, dir) => {
      // time + slot predicates reach the scan as index-range pruning (only
      // overlapping record slabs are read); cnt nulls are decoded fills.
      val (path, minDay) = ncEventsFixture(s, dir)
      s.read.format("netcdf").load(path)
        .filter(col("time") >= lit(minDay.plusDays(5)) && col("slot") < 5)
        .groupBy("slot")
        .agg(sum("cnt").as("total"), count(col("cnt")).as("ndays"))
        .orderBy("slot")
    },
      s"""${slotCountsCte("DOUBLE")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |spine AS (SELECT d, CAST(s AS INTEGER) AS slot
        |          FROM days, (SELECT unnest(range(10)) AS s)),
        |j AS (SELECT spine.d, spine.slot, g.cnt
        |      FROM spine LEFT JOIN g ON spine.d = g.d AND spine.slot = g.slot
        |      WHERE spine.slot < 5
        |        AND spine.d >= (SELECT CAST(date_trunc('day', min(ts)) AS TIMESTAMP)
        |                        + INTERVAL 5 DAY FROM events))
        |SELECT slot, sum(cnt) AS total, count(cnt) AS ndays
        |FROM j GROUP BY slot ORDER BY slot""".stripMargin),

    // --- Zarr native-format store + kerchunk scan (S11/S12, W2-W8 on zarr) ---
    Query("q80_zarr_roundtrip", (s, dir) => {
      // q43's lifecycle on the reference's NATIVE format: initial publish of
      // a dense (day × slot) grid, then an insert+append update (+1000 over
      // days 15-25), reopened through the chunk-pruned `zarr` DSv2 scan.
      // timeChunk=8 forces the append to butt-join a partial tail chunk;
      // the zarr grid is DENSE, so never-written cells surface as null.
      val grid = zarrGrid(s, dir)
      val desc = DatasetDescriptor("events_grid", "n",
        spatialDims = Seq("slot"), timeResolution = TimeSpan.Daily)
      val path = fixturePath(s, dir, "graft_zarr", wipe = true)
      val store = new ZarrStore(s, path, desc, timeChunk = 8,
        spatialChunks = Some(Seq(4)))
      publishLifecycle(grid, 1000.0)(store.publish(_), store.publish(_))
      store.dataset().select("time", "slot", "n").orderBy("time", "slot")
    },
      // Dense zarr grid: (days ≤ 25 seen in events) × (slots seen before day
      // 21, the axis the initial publish created); never-written cells are
      // fill → NULL. Updated region (day ≥ 15) carries +1000.
      ZarrLifecycleSql),

    Query("q113_zarr_rechunk", (s, dir) => {
      // the rechunker job: q80's lifecycle store (v2, timeChunk 8, zlib)
      // rechunked into a v3 sharding_indexed zstd store with a different
      // layout — one dst-chunk-keyed publish job — then reopened through
      // the scan. Values/axes/fill must be bit-identical, so the oracle is
      // q80's relational recompute verbatim.
      val grid = zarrGrid(s, dir)
      val desc = DatasetDescriptor("events_grid", "n",
        spatialDims = Seq("slot"), timeResolution = TimeSpan.Daily)
      val srcPath = fixturePath(s, dir, "graft_zarr_rck", wipe = true)
      val dstPath = s"${srcPath}_dst"
      GridStore.fileSystem(s, dstPath).delete(new org.apache.hadoop.fs.Path(dstPath), true)
      val src = new ZarrStore(s, srcPath, desc, timeChunk = 8,
        spatialChunks = Some(Seq(4)))
      publishLifecycle(grid, 1000.0)(src.publish(_), src.publish(_))
      val dst = graft.store.StoreConvert.rechunkZarr(src, dstPath,
        timeChunk = 6, spatialChunks = Some(Seq(10)),
        codec = graft.sources.zarr.ZarrCodec.ZstdCodec(3),
        zarrFormat = 3, shardChunks = Some(Seq(3, 5)))
      dst.dataset().select("time", "slot", "n").orderBy("time", "slot")
    },
      // rechunk must preserve values/axes/fill exactly → q80's oracle verbatim
      ZarrLifecycleSql),

    // W12 in its reference semantics: q80's publish→update→reopen lifecycle
    // over a store whose DATA chunks are XChaCha20-Poly1305-encrypted via
    // the reference's numcodecs filter format (id xchacha20poly1305,
    // key_hash in the .zarray filter chain — metadata.py:862-868,
    // encryption.py:81-139, system shape test_chirps_encryption.py). The
    // update runs through a handle WITHOUT the key param — the persisted
    // filter chain must carry encryption forward. Same oracle as q80:
    // encryption is invisible to query results, only to attackers.
    Query("q139_zarr_encrypted_roundtrip", (s, dir) => {
      val grid = zarrGrid(s, dir)
      val desc = DatasetDescriptor("events_grid_enc", "n",
        spatialDims = Seq("slot"), timeResolution = TimeSpan.Daily)
      val path = fixturePath(s, dir, "graft_zarr_enc", wipe = true)
      val kh = Encryption.registerEncryptionKey(Encryption.generateEncryptionKey())
      val store = new ZarrStore(s, path, desc, timeChunk = 8,
        spatialChunks = Some(Seq(4)), encryptionKeyHash = Some(kh))
      publishLifecycle(grid, 1000.0)(store.publish(_),
        new ZarrStore(s, path, desc).publish(_))
      store.dataset().select("time", "slot", "n").orderBy("time", "slot")
    },
      // encryption is invisible to query results → q80's oracle verbatim
      ZarrLifecycleSql),

    // Encrypted rechunk: the q139 store (v2, reference filter format)
    // rotated to a NEW key and re-laid-out as a v3 sharding_indexed store
    // whose chain composes compress→encrypt→crc32c — one dst-chunk-keyed
    // publish job. Values/axes/fill bit-identical → q80's oracle verbatim.
    Query("q140_zarr_encrypted_rechunk", (s, dir) => {
      val grid = zarrGrid(s, dir)
      val desc = DatasetDescriptor("events_grid_encr", "n",
        spatialDims = Seq("slot"), timeResolution = TimeSpan.Daily)
      val srcPath = fixturePath(s, dir, "graft_zarr_encr", wipe = true)
      val dstPath = s"${srcPath}_dst"
      GridStore.fileSystem(s, dstPath).delete(new org.apache.hadoop.fs.Path(dstPath), true)
      val kh = Encryption.registerEncryptionKey(Encryption.generateEncryptionKey())
      val kh2 = Encryption.registerEncryptionKey(Encryption.generateEncryptionKey())
      val src = new ZarrStore(s, srcPath, desc, timeChunk = 8,
        spatialChunks = Some(Seq(4)), encryptionKeyHash = Some(kh))
      publishLifecycle(grid, 1000.0)(src.publish(_), src.publish(_))
      val dst = graft.store.StoreConvert.rechunkZarr(src, dstPath,
        timeChunk = 6, spatialChunks = Some(Seq(10)),
        codec = graft.sources.zarr.ZarrCodec.Crc32cCodec(
          graft.sources.zarr.ZarrCodec.ZstdCodec(3)),
        zarrFormat = 3, shardChunks = Some(Seq(3, 5)),
        encryptionKeyHash = Some(kh2))
      dst.dataset().select("time", "slot", "n").orderBy("time", "slot")
    },
      // key rotation + relayout must preserve every cell → same oracle again
      ZarrLifecycleSql),

    // netCDF-4/HDF5 scan (S9's recommended-format form): two HDF5 files
    // with per-day shuffle+deflate chunks, auto-routed by file magic and
    // combined along time — q61's oracle, since the grid is identical.
    Query("q82_nc4_scan", (s, dir) => {
      val (path, _) = nc4EventsFixture(s, dir)
      s.read.format("netcdf").load(path).orderBy("time", "slot")
    },
      // the netCDF-4 fixture encodes the SAME grid as q61's classic-NC one,
      // so the HDF5 route shares q61's spine oracle exactly
      s"""${slotCountsCte("DOUBLE")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |spine AS (SELECT d, CAST(s AS INTEGER) AS slot
        |          FROM days, (SELECT unnest(range(10)) AS s))
        |SELECT spine.d AS time, spine.slot AS slot, g.cnt AS cnt
        |FROM spine LEFT JOIN g ON spine.d = g.d AND spine.slot = g.slot
        |ORDER BY 1, 2""".stripMargin),

    // nc_def_var_fletcher32: the checksum filter rides FIRST in the HDF5
    // pipeline (fletcher32 -> shuffle -> deflate); the scan verifies and
    // strips each chunk's trailer — same values as q82, now integrity-
    // checked per chunk
    Query("q162_nc4_fletcher_scan", (s, dir) => {
      val (path, _) = nc4EventsFixture(s, dir, "deflate", fletcher = true)
      s.read.format("netcdf").load(path).orderBy("time", "slot")
    },
      // fletcher32 fixture carries the same values as q82
      s"""${slotCountsCte("DOUBLE")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |spine AS (SELECT d, CAST(s AS INTEGER) AS slot
        |          FROM days, (SELECT unnest(range(10)) AS s))
        |SELECT spine.d AS time, spine.slot AS slot, g.cnt AS cnt
        |FROM spine LEFT JOIN g ON spine.d = g.d AND spine.slot = g.slot
        |ORDER BY 1, 2""".stripMargin),

    // GROUPED netCDF-4 (xarray group= addressing): one file, two
    // self-contained groups; the scan reads ONE group's variables —
    // "doubled" carries the q82 grid at 2×, so a group-selection bug
    // (wrong group, or silently scanning the root) breaks the values,
    // not just the shape
    Query("q164_nc4_group_scan", (s, dir) => {
      val path = nc4GroupedEventsFixture(s, dir)
      s.read.format("netcdf").option("group", "doubled").load(path)
        .orderBy("time", "slot")
    },
      // the "doubled" group carries the q82 grid at 2×
      s"""${slotCountsCte("DOUBLE")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |spine AS (SELECT d, CAST(s AS INTEGER) AS slot
        |          FROM days, (SELECT unnest(range(10)) AS s))
        |SELECT spine.d AS time, spine.slot AS slot, g.cnt * 2.0 AS cnt
        |FROM spine LEFT JOIN g ON spine.d = g.d AND spine.slot = g.slot
        |ORDER BY 1, 2""".stripMargin),

    // Spectral → grid SYNTHESIS: the inverse spherical-harmonic transform
    // over the grib-spectral scan's coefficient rows (fully normalized
    // Legendre recurrences, per-parallel m-spectra, grid rows emitted
    // straight from mapPartitions). Fixture keeps only the (0,0), (0,1),
    // (1,1) harmonics nonzero, so the oracle replays the closed form:
    // f = c00 + √3·c01·sinφ + √1.5·cosφ·(c11re·cosλ + c11im·sinλ).
    Query("q147_spectral_synthesis", (s, dir) => {
      val path = gribSpectralSynthFixture(s, dir)
      val co = s.read.format("grib-spectral").load(path)
      graft.ops.Spectral.synthesize(co, Seq("time"),
        lats = Seq(-45.0, 0.0, 45.0),
        lons = Seq(0.0, 90.0, 180.0, 270.0))
        .select(col("time"), col("latitude"), col("longitude"),
          round(col("value"), 6).as("value"))
        .orderBy("time", "latitude", "longitude")
    },
      // synthesis closed form from slot counts (c00=slot0, c01=slot1,
      // c11re=slot2, c11im=slot3), replayed without any spectral code
      s"""${slotCountsCte("DOUBLE")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |c AS (SELECT days.d,
        |        coalesce(max(CASE WHEN slot = 0 THEN cnt END), 0) AS c00,
        |        coalesce(max(CASE WHEN slot = 1 THEN cnt END), 0) AS c01,
        |        coalesce(max(CASE WHEN slot = 2 THEN cnt END), 0) AS c11r,
        |        coalesce(max(CASE WHEN slot = 3 THEN cnt END), 0) AS c11i
        |      FROM days LEFT JOIN g ON g.d = days.d GROUP BY days.d),
        |grid AS (SELECT la, lo FROM (VALUES (-45.0), (0.0), (45.0)) AS ga(la)
        |         CROSS JOIN (VALUES (0.0), (90.0), (180.0), (270.0)) AS go(lo))
        |SELECT c.d AS time, CAST(grid.la AS DOUBLE) AS latitude,
        |       CAST(grid.lo AS DOUBLE) AS longitude,
        |  round(c.c00
        |    + sqrt(3) * c.c01 * sin(radians(grid.la))
        |    + sqrt(1.5) * cos(radians(grid.la)) *
        |      (c.c11r * cos(radians(grid.lo)) + c.c11i * sin(radians(grid.lo))),
        |    6) AS value
        |FROM c CROSS JOIN grid
        |ORDER BY time, latitude, longitude""".stripMargin),

    // Multi-param spectral synthesis: ONE file carries TWO parameters'
    // coefficient fields (the multi-param MARS-request shape);
    // synthesizeVars keys the synthesis by param — fields can never
    // blend — and pivots into one column per variable. Param 61 maps
    // slots 0-3 onto the (0,0)/(0,1)/(1,1) harmonics, param 62 slots 4-7.
    Query("q154_spectral_multiparam", (s, dir) => {
      val path = gribDailyFixture(s, dir, "events_sy2.grb2") { (out, d, cnt) =>
        def coeffs(s0: Int): Array[Double] = {
          val c = new Array[Double](20) // T=3: 10 pairs, m-major
          c(0) = cnt(s0).toDouble // (0,0) re
          c(2) = cnt(s0 + 1).toDouble // (0,1) re
          c(8) = cnt(s0 + 2).toDouble // (1,1) re
          c(9) = cnt(s0 + 3).toDouble // (1,1) im
          c
        }
        graft.sources.grib.GribFormat.writeSpectralMessage2(out,
          refTime = d, trunc = 3,
          fields = Seq((61, 0, coeffs(0)), (62, 0, coeffs(4))))
      }
      val co = s.read.format("grib-spectral").load(path)
      graft.ops.Spectral.synthesizeVars(co, Seq("time"),
        Map(61 -> "t", 62 -> "u"),
        lats = Seq(-45.0, 0.0, 45.0),
        lons = Seq(0.0, 90.0, 180.0, 270.0))
        .select(col("time"), col("latitude"), col("longitude"),
          round(col("t"), 6).as("t"), round(col("u"), 6).as("u"))
        .orderBy("time", "latitude", "longitude")
    },
      // multi-param synthesis: the q147 closed form replayed per variable —
      // t from slots 0-3, u from slots 4-7
      s"""${slotCountsCte("DOUBLE")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |c AS (SELECT days.d,
        |        coalesce(max(CASE WHEN slot = 0 THEN cnt END), 0) AS t00,
        |        coalesce(max(CASE WHEN slot = 1 THEN cnt END), 0) AS t01,
        |        coalesce(max(CASE WHEN slot = 2 THEN cnt END), 0) AS t11r,
        |        coalesce(max(CASE WHEN slot = 3 THEN cnt END), 0) AS t11i,
        |        coalesce(max(CASE WHEN slot = 4 THEN cnt END), 0) AS u00,
        |        coalesce(max(CASE WHEN slot = 5 THEN cnt END), 0) AS u01,
        |        coalesce(max(CASE WHEN slot = 6 THEN cnt END), 0) AS u11r,
        |        coalesce(max(CASE WHEN slot = 7 THEN cnt END), 0) AS u11i
        |      FROM days LEFT JOIN g ON g.d = days.d GROUP BY days.d),
        |grid AS (SELECT la, lo FROM (VALUES (-45.0), (0.0), (45.0)) AS ga(la)
        |         CROSS JOIN (VALUES (0.0), (90.0), (180.0), (270.0)) AS go(lo))
        |SELECT c.d AS time, CAST(grid.la AS DOUBLE) AS latitude,
        |       CAST(grid.lo AS DOUBLE) AS longitude,
        |  round(c.t00
        |    + sqrt(3) * c.t01 * sin(radians(grid.la))
        |    + sqrt(1.5) * cos(radians(grid.la)) *
        |      (c.t11r * cos(radians(grid.lo)) + c.t11i * sin(radians(grid.lo))),
        |    6) AS t,
        |  round(c.u00
        |    + sqrt(3) * c.u01 * sin(radians(grid.la))
        |    + sqrt(1.5) * cos(radians(grid.la)) *
        |      (c.u11r * cos(radians(grid.lo)) + c.u11i * sin(radians(grid.lo))),
        |    6) AS u
        |FROM c CROSS JOIN grid
        |ORDER BY time, latitude, longitude""".stripMargin),

    // REAL video demuxing for the multimodal pack: AVI containers walked
    // by the in-repo RIFF demuxer (movi LIST, word-aligned '00dc'
    // chunks), one row per frame with the TRUE payload bytes. Payloads
    // are printable ASCII derived from event counts, so the oracle
    // rebuilds the exact text — any boundary slip in the chunk walk
    // (padding, lengths, nesting) fails the compare.
    Query("q149_avi_demux", (s, dir) => {
      val avis = aviEventsFixture(s, dir)
      Multimodal.demuxAvi(avis, "id", "video")
        .select(col("id"), col("frame_idx"), col("stream"), col("kind"),
          length(col("frame_bytes")).as("frame_len"),
          col("frame_bytes").cast("string").as("frame_text"))
        .orderBy("id", "frame_idx")
    },
      // real AVI demux gate: frame payload text rebuilt from events in SQL
      s"""${slotCountsCte("BIGINT")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |fr AS (SELECT days.d, f.f, coalesce(g.cnt, 0) AS c,
        |         6 + (coalesce(g.cnt, 0) % 5) AS len
        |       FROM days
        |       CROSS JOIN (SELECT CAST(unnest(range(3)) AS INTEGER) AS f) f
        |       LEFT JOIN g ON g.d = days.d AND g.slot = f.f)
        |SELECT CAST(date_diff('day', DATE '1970-01-01', fr.d) AS BIGINT) AS id,
        |       fr.f AS frame_idx, 0 AS stream, 'dc' AS kind,
        |       CAST(fr.len AS INTEGER) AS frame_len,
        |       (SELECT string_agg(chr(CAST(32 + (fr.c * 7 + j.j * 5) % 64 AS INTEGER)), ''
        |                          ORDER BY j.j)
        |        FROM (SELECT unnest(range(20)) AS j) j
        |        WHERE j.j < fr.len) AS frame_text
        |FROM fr
        |ORDER BY id, frame_idx""".stripMargin),

    // MJPEG AVI end-to-end: REAL AVI containers whose '00dc' frames are
    // REAL baseline JPEGs — the dominant real-world AVI payload — demuxed
    // and pixel-decoded in ONE partition-local stage (decodeAviFrames:
    // RIFF walk → magic dispatch → in-repo T.81 codec). Same lossy-bound
    // gate as q151: max per-pixel error folds into a boolean.
    Query("q155_mjpeg_avi_decode", (s, dir) => {
      val rows = FixtureGrid(s, dir).rows.map { case (id, cnt) =>
        val frames = (0 until 3).map { f =>
          val px = Array.tabulate(256)(i =>
            ((cnt((i + f) % 10) * 3 + i + 2 * f) % 256).toInt)
          (graft.functions.Jpeg.encode(16, 16, px), px.toSeq)
        }
        (id,
          Multimodal.encodeAvi(frames.map(_._1)), frames.map(_._2))
      }
      val sp = s; import sp.implicits._
      val avis = rows.map { case (id, avi, _) => (id, avi) }.toDF("id", "avi")
      val expected = rows.flatMap { case (id, _, exp) =>
        exp.zipWithIndex.map { case (px, f) => (id, f, px) }
      }.toDF("id", "frame_idx", "expected")
      Multimodal.decodeAviFrames(avis, "id", "avi", 16, 16)
        .join(expected, Seq("id", "frame_idx"))
        .select(col("id"), col("frame_idx"), col("width"), col("height"),
          (aggregate(
            zip_with(
              transform(col("pixels"), v => round(v * 255).cast("int")),
              col("expected"), (a, b) => abs(a - b)),
            lit(0), (acc, dd) => greatest(acc, dd)) <= lit(2)).as("within_tol"))
        .orderBy("id", "frame_idx")
    },
      // MJPEG AVI gate: 3 decoded frames per container, every frame inside
      // the q151 DCT-rounding bound
      """WITH days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events)
        |SELECT CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS id,
        |       CAST(f.f AS INTEGER) AS frame_idx,
        |       16 AS width, 16 AS height, true AS within_tol
        |FROM days, (SELECT unnest(range(3)) AS f) f
        |ORDER BY 1, 2""".stripMargin),

    // Baseline JPEG through the in-repo T.81 codec. JPEG is LOSSY, so
    // the gate is the sketch_ok pattern (q138 precedent): the fixture
    // encodes each day's 16x16 grayscale grid with all-ones quantization,
    // the query decodes the REAL bytes and folds the max per-pixel error
    // into a boolean bound (<= 2, the DCT-rounding envelope) — a Huffman/
    // IDCT/marker bug blows the bound and fails the hash compare. Exact
    // pixel replay is spec-gated (JpegSpec); dims stay integer-exact.
    Query("q151_jpeg_decode_bound", (s, dir) => {
      val jpgs = jpegEventsFixture(s, dir) // (id, jpeg, expected ARRAY<INT>)
      val dec = Multimodal.decodeResize(jpgs, "id", "jpeg", 16, 16,
        Multimodal.ImageDecoder).toDF()
      dec.join(jpgs.select("id", "expected"), Seq("id"))
        .select(col("id"),
          col("width").cast("int").as("width"),
          col("height").cast("int").as("height"),
          (aggregate(
            zip_with(
              transform(col("pixels"), v => round(v * 255).cast("int")),
              col("expected"), (a, b) => abs(a - b)),
            lit(0), (acc, d) => greatest(acc, d)) <= lit(2)).as("within_tol"))
        .orderBy("id")
    },
      // JPEG decode bound: dims exact, decode error folded into a boolean
      """WITH days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events)
        |SELECT CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS id,
        |       16 AS width, 16 AS height, true AS within_tol
        |FROM days ORDER BY id""".stripMargin),

    // PROGRESSIVE JPEG (SOF2 — most web JPEGs) through the full Annex G
    // multi-scan path: DC first/refine, split-band AC first with EOB
    // runs, AC refinement with correction bits. Same fixture pixels and
    // lossy-bound gate as q151; routed through the magic-dispatching
    // ImageDecoder so the production mixed-crawl path is what's tested.
    Query("q156_progressive_jpeg_bound", (s, dir) => {
      val rows = FixtureGrid(s, dir).rows.map { case (id, cnt) =>
        val px = Array.tabulate(256)(i => ((cnt(i % 10) * 3 + i) % 256).toInt)
        (id,
          graft.functions.Jpeg.encodeProgressive(16, 16, px), px)
      }
      val sp = s; import sp.implicits._
      val jpgs = rows.toDF("id", "jpeg", "expected")
      val dec = Multimodal.decodeResize(jpgs, "id", "jpeg", 16, 16,
        Multimodal.ImageDecoder).toDF()
      dec.join(jpgs.select("id", "expected"), Seq("id"))
        .select(col("id"),
          col("width").cast("int").as("width"),
          col("height").cast("int").as("height"),
          (aggregate(
            zip_with(
              transform(col("pixels"), v => round(v * 255).cast("int")),
              col("expected"), (a, b) => abs(a - b)),
            lit(0), (acc, d) => greatest(acc, d)) <= lit(2)).as("within_tol"))
        .orderBy("id")
    },
      // progressive JPEG gate: q151's spine, the multi-scan decode inside
      // the same DCT-rounding bound
      """WITH days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events)
        |SELECT CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS id,
        |       16 AS width, 16 AS height, true AS within_tol
        |FROM days ORDER BY id""".stripMargin),

    // The SAME grid as q146 but carried as GIF (LZW) instead of PNG,
    // decoded through the magic-dispatching ImageDecoder — gray palette
    // entries make luminance recover the exact byte, so q146's oracle
    // applies verbatim and any LZW/palette/interlace slip fails the hash.
    Query("q150_gif_decode_ahash", (s, dir) => {
      val gifs = gifEventsFixture(s, dir)
      val dec = Multimodal.decodeResize(gifs, "id", "gif", 8, 8,
        Multimodal.ImageDecoder).toDF()
      val withPix = dec.select(col("id"), col("width"), col("height"),
        transform(col("pixels"), v => round(v * 255).cast("long")).as("pi"))
      withPix.withColumn("pix_sum",
          aggregate(col("pi"), lit(0L), (a, v) => a + v))
        .select(col("id"),
          col("width").cast("int").as("width"),
          col("height").cast("int").as("height"),
          col("pix_sum"),
          array_join(transform(col("pi"),
            p => when(p * 64 > col("pix_sum"), "1").otherwise("0")), "")
            .as("ahash_bits"))
        .orderBy("id")
    },
      // real GIF decode gate: same pixel grid as q146 through LZW
      s"""${slotCountsCte("BIGINT")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |px AS (SELECT days.d, i.i,
        |         (coalesce(g.cnt, 0) * 7 + i.i) % 256 AS p
        |       FROM days
        |       CROSS JOIN (SELECT CAST(unnest(range(64)) AS INTEGER) AS i) i
        |       LEFT JOIN g ON g.d = days.d AND g.slot = CAST(i.i % 10 AS INTEGER)),
        |agg AS (SELECT d, sum(p) AS s FROM px GROUP BY d)
        |SELECT CAST(date_diff('day', DATE '1970-01-01', px.d) AS BIGINT) AS id,
        |       8 AS width, 8 AS height,
        |       CAST(agg.s AS BIGINT) AS pix_sum,
        |       string_agg(CASE WHEN px.p * 64 > agg.s THEN '1' ELSE '0' END, ''
        |                  ORDER BY px.i) AS ahash_bits
        |FROM px JOIN agg ON px.d = agg.d
        |GROUP BY px.d, agg.s
        |ORDER BY id""".stripMargin),

    // The SAME grid as q146 but carried as lossless WebP (VP8L), with
    // the transform knobs cycled by day (predictors, cross-color,
    // palette bundling, color cache, LZ77, VP8X), decoded through the
    // magic-dispatching ImageDecoder — gray pixels make luminance
    // recover the exact byte, so q146's oracle applies verbatim and any
    // prefix-code/transform/bundling slip fails the hash.
    Query("q167_webp_decode_ahash", (s, dir) => {
      val webps = webpEventsFixture(s, dir)
      val dec = Multimodal.decodeResize(webps, "id", "webp", 8, 8,
        Multimodal.ImageDecoder).toDF()
      val withPix = dec.select(col("id"), col("width"), col("height"),
        transform(col("pixels"), v => round(v * 255).cast("long")).as("pi"))
      withPix.withColumn("pix_sum",
          aggregate(col("pi"), lit(0L), (a, v) => a + v))
        .select(col("id"),
          col("width").cast("int").as("width"),
          col("height").cast("int").as("height"),
          col("pix_sum"),
          array_join(transform(col("pi"),
            p => when(p * 64 > col("pix_sum"), "1").otherwise("0")), "")
            .as("ahash_bits"))
        .orderBy("id")
    },
      // real WebP decode gate: q146's grid and oracle verbatim, carried
      // as VP8L with transform knobs cycled per day
      s"""${slotCountsCte("BIGINT")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |px AS (SELECT days.d, i.i,
        |         (coalesce(g.cnt, 0) * 7 + i.i) % 256 AS p
        |       FROM days
        |       CROSS JOIN (SELECT CAST(unnest(range(64)) AS INTEGER) AS i) i
        |       LEFT JOIN g ON g.d = days.d AND g.slot = CAST(i.i % 10 AS INTEGER)),
        |agg AS (SELECT d, sum(p) AS s FROM px GROUP BY d)
        |SELECT CAST(date_diff('day', DATE '1970-01-01', px.d) AS BIGINT) AS id,
        |       8 AS width, 8 AS height,
        |       CAST(agg.s AS BIGINT) AS pix_sum,
        |       string_agg(CASE WHEN px.p * 64 > agg.s THEN '1' ELSE '0' END, ''
        |                  ORDER BY px.i) AS ahash_bits
        |FROM px JOIN agg ON px.d = agg.d
        |GROUP BY px.d, agg.s
        |ORDER BY id""".stripMargin),

    // REAL audio decode for the multimodal pack: 16-bit PCM WAV clips
    // parsed by the in-repo RIFF codec through the per-partition feature
    // extractor. Integer-exact outputs (duration, zero crossings with the
    // zero-skip rule) — the float features (rms/peak) are spec-gated.
    Query("q148_wav_decode_features", (s, dir) => {
      val wavs = wavEventsFixture(s, dir)
      graft.functions.Audio.audioFeatures(wavs, "id", "wav")
        .select("id", "sample_rate", "n_samples", "duration_ms", "zero_crossings")
        .orderBy("id")
    },
      s"""${slotCountsCte("BIGINT")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |sm AS (SELECT days.d, i.i,
        |         ((coalesce(g.cnt, 0) * 31 + i.i * 7) % 2001) - 1000 AS s
        |       FROM days
        |       CROSS JOIN (SELECT CAST(unnest(range(100)) AS INTEGER) AS i) i
        |       LEFT JOIN g ON g.d = days.d AND g.slot = CAST(i.i % 10 AS INTEGER)),
        |nz AS (SELECT d, i, sign(s) AS sg,
        |         lag(sign(s)) OVER (PARTITION BY d ORDER BY i) AS prev
        |       FROM sm WHERE s <> 0),
        |zc AS (SELECT d, sum(CASE WHEN prev IS NOT NULL AND sg <> prev
        |                          THEN 1 ELSE 0 END) AS z
        |       FROM nz GROUP BY d)
        |SELECT CAST(date_diff('day', DATE '1970-01-01', zc.d) AS BIGINT) AS id,
        |       8000 AS sample_rate, CAST(100 AS BIGINT) AS n_samples,
        |       CAST(12 AS BIGINT) AS duration_ms,
        |       CAST(zc.z AS BIGINT) AS zero_crossings
        |FROM zc ORDER BY id""".stripMargin),

    // REAL compressed-audio decode: the q148 clips carried as native
    // FLAC (strategies cycled per day: fixed/verbatim/LPC/Rice
    // partitions/mid-side stereo), through the magic-dispatching audio
    // feature extractor — q148's oracle verbatim, so any Rice/predictor
    // slip fails the integer compare.
    Query("q169_flac_decode_features", (s, dir) => {
      val flacs = flacEventsFixture(s, dir)
      graft.functions.Audio.audioFeatures(flacs, "id", "flac")
        .select("id", "sample_rate", "n_samples", "duration_ms", "zero_crossings")
        .orderBy("id")
    },
      // FLAC decode: q148's clips and oracle verbatim, carried as FLAC
      s"""${slotCountsCte("BIGINT")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |sm AS (SELECT days.d, i.i,
        |         ((coalesce(g.cnt, 0) * 31 + i.i * 7) % 2001) - 1000 AS s
        |       FROM days
        |       CROSS JOIN (SELECT CAST(unnest(range(100)) AS INTEGER) AS i) i
        |       LEFT JOIN g ON g.d = days.d AND g.slot = CAST(i.i % 10 AS INTEGER)),
        |nz AS (SELECT d, i, sign(s) AS sg,
        |         lag(sign(s)) OVER (PARTITION BY d ORDER BY i) AS prev
        |       FROM sm WHERE s <> 0),
        |zc AS (SELECT d, sum(CASE WHEN prev IS NOT NULL AND sg <> prev
        |                          THEN 1 ELSE 0 END) AS z
        |       FROM nz GROUP BY d)
        |SELECT CAST(date_diff('day', DATE '1970-01-01', zc.d) AS BIGINT) AS id,
        |       8000 AS sample_rate, CAST(100 AS BIGINT) AS n_samples,
        |       CAST(12 AS BIGINT) AS duration_ms,
        |       CAST(zc.z AS BIGINT) AS zero_crossings
        |FROM zc ORDER BY id""".stripMargin),

    // COG pyramid read: option("overview", 1) scans the /2 overview
    // IFD — 4^-1 of the tile bytes with the pixel scale widened by the
    // size ratio (the preview-scale query a 100 TB mosaic serves from
    // overviews instead of full-res tiles). The oracle decimates the
    // full-res grid closed-form.
    Query("q172_geotiff_overview_scan", (s, dir) => {
      val path = geotiffOverviewFixture(s, dir)
      s.read.format("geotiff").option("overview", 1).load(path)
        .select(
          regexp_extract(col("path"), "([0-9]+)\\.tif$", 1)
            .cast("long").as("id"),
          col("latitude"), col("longitude"), col("band"), col("value"))
        .orderBy("id", "latitude", "longitude")
    },
      // real WAV decode gate: samples recomputed from events WITHOUT any
      // RIFF code; zero-crossings count sign changes over the NONZERO
      // sample subsequence (zeros skipped), replayed with a lag window
      // COG overview: the closed-form /2 decimation of q168's grid with
      // the widened scale
      s"""${slotCountsCte("BIGINT")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |ids AS (SELECT d, CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS id FROM days),
        |px AS (SELECT ids.id,
        |         CAST(i.i // 4 AS BIGINT) AS y, CAST(i.i % 4 AS BIGINT) AS x,
        |         CAST((i.i // 4) * 16 + (i.i % 4) * 2 AS INTEGER) AS fi,
        |         coalesce(g.cnt, 0) AS cnt
        |       FROM ids
        |       CROSS JOIN (SELECT CAST(unnest(range(16)) AS INTEGER) AS i) i
        |       LEFT JOIN g ON g.d = ids.d
        |         AND g.slot = CAST(((i.i // 4) * 16 + (i.i % 4) * 2) % 10 AS INTEGER))
        |SELECT px.id,
        |       CAST(50 - (y + 0.5) * 0.5 AS DOUBLE) AS latitude,
        |       CAST(-20 + (x + 0.5) * 0.5 AS DOUBLE) AS longitude,
        |       1 AS band,
        |       CASE WHEN cnt % 5 = 0 THEN NULL
        |            ELSE CAST((cnt * 7 + fi) % 1000000 AS DOUBLE)
        |       END AS value
        |FROM px
        |ORDER BY id, latitude, longitude""".stripMargin),

    // Animated-GIF temporal frames (the web's dominant animation
    // container) through the full GIF89a compositing model: sub-rect
    // overdraw, disposal 3 restore-previous, and transparency holes —
    // the oracle rebuilds every composited canvas sum from events, so
    // a leaked disposal or a mis-masked transparent pixel fails the
    // integer compare.
    Query("q171_gif_anim_frames", (s, dir) => {
      val gifs = gifAnimEventsFixture(s, dir)
      val dec = Multimodal.decodeGifFrames(gifs, "id", "gif")
      dec.select(col("id"), col("frame_idx"), col("n_frames"),
          col("delay_cs"), col("width"), col("height"),
          aggregate(transform(col("pixels"), v => round(v * 255).cast("long")),
            lit(0L), (a, v) => a + v).as("pix_sum"))
        .orderBy("id", "frame_idx")
    },
      // Animated-GIF compositing: replay canvas sums per frame from
      // events — full-canvas base, rect overdraw delta, transparent-hole
      // masked delta (disposal 3 means frame 1 never leaks into frame 2)
      s"""${slotCountsCte("BIGINT")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |ids AS (SELECT d, CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS id FROM days),
        |v0 AS (SELECT ids.id, i.i,
        |         (coalesce(g.cnt, 0) * 7 + i.i) % 256 AS v
        |       FROM ids
        |       CROSS JOIN (SELECT CAST(unnest(range(64)) AS INTEGER) AS i) i
        |       LEFT JOIN g ON g.d = ids.d AND g.slot = CAST(i.i % 10 AS INTEGER)),
        |s0 AS (SELECT id, SUM(v) AS s FROM v0 GROUP BY id),
        |r1 AS (SELECT ids.id, j.j,
        |         (coalesce(g.cnt, 0) * 11 + j.j) % 256 AS p,
        |         CAST((1 + j.j // 4) * 8 + 2 + j.j % 4 AS INTEGER) AS cell
        |       FROM ids
        |       CROSS JOIN (SELECT CAST(unnest(range(16)) AS INTEGER) AS j) j
        |       LEFT JOIN g ON g.d = ids.d AND g.slot = CAST(j.j % 10 AS INTEGER)),
        |d1 AS (SELECT r1.id, SUM(r1.p - v0.v) AS delta
        |       FROM r1 JOIN v0 ON v0.id = r1.id AND v0.i = r1.cell GROUP BY r1.id),
        |r2 AS (SELECT ids.id, j.j,
        |         (coalesce(g.cnt, 0) * 13 + j.j) % 256 AS p,
        |         ((coalesce(g.cnt, 0) + j.j) % 3 = 0) AS trans,
        |         CAST((4 + j.j // 4) * 8 + 4 + j.j % 4 AS INTEGER) AS cell
        |       FROM ids
        |       CROSS JOIN (SELECT CAST(unnest(range(16)) AS INTEGER) AS j) j
        |       LEFT JOIN g ON g.d = ids.d AND g.slot = CAST(j.j % 10 AS INTEGER)),
        |d2 AS (SELECT r2.id, SUM(CASE WHEN r2.trans THEN 0 ELSE r2.p - v0.v END) AS delta
        |       FROM r2 JOIN v0 ON v0.id = r2.id AND v0.i = r2.cell GROUP BY r2.id)
        |SELECT s0.id, CAST(f.f AS INTEGER) AS frame_idx,
        |       3 AS n_frames,
        |       CAST(CASE f.f WHEN 0 THEN 10 WHEN 1 THEN 20 ELSE 30 END AS INTEGER) AS delay_cs,
        |       8 AS width, 8 AS height,
        |       CAST(CASE f.f WHEN 0 THEN s0.s WHEN 1 THEN s0.s + d1.delta
        |            ELSE s0.s + d2.delta END AS BIGINT) AS pix_sum
        |FROM s0
        |JOIN d1 ON d1.id = s0.id
        |JOIN d2 ON d2.id = s0.id
        |CROSS JOIN (SELECT unnest(range(3)) AS f) f
        |ORDER BY s0.id, frame_idx""".stripMargin),

    // G.711 companded telephony audio: μ-law (even days) and A-law (odd)
    // WAV payloads whose samples are exactly companding-representable —
    // any slip in the segment expansion flips a sign or a zero and fails
    // the zero-crossing compare.
    Query("q170_g711_decode_features", (s, dir) => {
      val wavs = g711EventsFixture(s, dir)
      graft.functions.Audio.audioFeatures(wavs, "id", "wav")
        .select("id", "sample_rate", "n_samples", "duration_ms", "zero_crossings")
        .orderBy("id")
    },
      // G.711 decode: replay the exact segment-expansion values from
      // events (μ-law even days, A-law odd), then q148's zero-skip
      // crossing count
      s"""${slotCountsCte("BIGINT")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |ids AS (SELECT d, CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS id FROM days),
        |sm AS (SELECT ids.d, ids.id, i.i,
        |         (CASE WHEN (coalesce(g.cnt, 0) + i.i) % 2 = 0 THEN 1 ELSE -1 END) *
        |         CAST(CASE WHEN ids.id % 2 = 0
        |           THEN ((coalesce(g.cnt, 0) * 3 + i.i) % 16 * 8 + 132)
        |                * POW(2, coalesce(g.cnt, 0) % 8) - 132
        |           ELSE CASE WHEN coalesce(g.cnt, 0) % 8 = 0
        |             THEN (coalesce(g.cnt, 0) * 3 + i.i) % 16 * 16 + 8
        |             ELSE ((coalesce(g.cnt, 0) * 3 + i.i) % 16 * 16 + 264)
        |                  * POW(2, coalesce(g.cnt, 0) % 8 - 1) END
        |         END AS BIGINT) AS s
        |       FROM ids
        |       CROSS JOIN (SELECT CAST(unnest(range(100)) AS INTEGER) AS i) i
        |       LEFT JOIN g ON g.d = ids.d AND g.slot = CAST(i.i % 10 AS INTEGER)),
        |nz AS (SELECT d, id, i, sign(s) AS sg,
        |         lag(sign(s)) OVER (PARTITION BY d ORDER BY i) AS prev
        |       FROM sm WHERE s <> 0),
        |zc AS (SELECT d, id, sum(CASE WHEN prev IS NOT NULL AND sg <> prev
        |                          THEN 1 ELSE 0 END) AS z
        |       FROM nz GROUP BY d, id)
        |SELECT id, 8000 AS sample_rate, CAST(100 AS BIGINT) AS n_samples,
        |       CAST(12 AS BIGINT) AS duration_ms,
        |       CAST(zc.z AS BIGINT) AS zero_crossings
        |FROM zc ORDER BY id""".stripMargin),

    // REAL image decode for the multimodal pack: 8×8 grayscale PNGs
    // (zlib + cycling scanline filters) decoded by the in-repo RFC 2083
    // codec through the per-partition Decoder plumbing, then an
    // integer-domain average-hash — dims, pixel sum, and the 64-bit
    // threshold bitstring. Pixels derive from event counts, so the DuckDB
    // oracle recomputes them WITHOUT a PNG codec: a single flipped bit
    // anywhere in inflate/filter reversal fails the hash compare.
    Query("q146_png_decode_ahash", (s, dir) => {
      val pngs = pngEventsFixture(s, dir)
      val dec = Multimodal.decodeResize(pngs, "id", "png", 8, 8,
        Multimodal.PngDecoder).toDF()
      // float [0,1] luminance back to exact 8-bit ints (p/255f survives
      // the float roundtrip exactly), then integer-exact hash arithmetic
      // both engines replay bit-for-bit
      val withPix = dec.select(col("id"), col("width"), col("height"),
        transform(col("pixels"), v => round(v * 255).cast("long")).as("pi"))
      // materialize the sum as a column FIRST — an aggregate inside the
      // transform lambda would re-evaluate per element
      withPix.withColumn("pix_sum",
          aggregate(col("pi"), lit(0L), (a, v) => a + v))
        .select(col("id"),
          col("width").cast("int").as("width"),
          col("height").cast("int").as("height"),
          col("pix_sum"),
          array_join(transform(col("pi"),
            p => when(p * 64 > col("pix_sum"), "1").otherwise("0")), "")
            .as("ahash_bits"))
        .orderBy("id")
    },
      // real PNG decode gate: pixels recomputed from events WITHOUT a PNG
      // codec — p(i) = (cnt(slot = i%10)·7 + i) % 256, integer-exact hash
      s"""${slotCountsCte("BIGINT")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |px AS (SELECT days.d, i.i,
        |         (coalesce(g.cnt, 0) * 7 + i.i) % 256 AS p
        |       FROM days
        |       CROSS JOIN (SELECT CAST(unnest(range(64)) AS INTEGER) AS i) i
        |       LEFT JOIN g ON g.d = days.d AND g.slot = CAST(i.i % 10 AS INTEGER)),
        |agg AS (SELECT d, sum(p) AS s FROM px GROUP BY d)
        |SELECT CAST(date_diff('day', DATE '1970-01-01', px.d) AS BIGINT) AS id,
        |       8 AS width, 8 AS height,
        |       CAST(agg.s AS BIGINT) AS pix_sum,
        |       string_agg(CASE WHEN px.p * 64 > agg.s THEN '1' ELSE '0' END, ''
        |                  ORDER BY px.i) AS ahash_bits
        |FROM px JOIN agg ON px.d = agg.d
        |GROUP BY px.d, agg.s
        |ORDER BY id""".stripMargin),

    // GeoTIFF/COG scan gate: a per-day raster archive (the CHIRPS
    // publication shape) through the DSv2 tile reader — every writer
    // config (formats, layouts, compressions, predictor, BigTIFF,
    // overview) lands in the same (id, lat, lon, band, value) rows the
    // oracle recomputes from events with ZERO TIFF code; NODATA → null.
    Query("q168_geotiff_scan", (s, dir) => {
      val path = geotiffEventsFixture(s, dir)
      s.read.format("geotiff").load(path)
        .select(
          regexp_extract(col("path"), "([0-9]+)\\.tif$", 1)
            .cast("long").as("id"),
          col("latitude"), col("longitude"), col("band"), col("value"))
        .orderBy("id", "band", "latitude", "longitude")
    },
      // GeoTIFF scan: replay pixels + affine geo-math from events
      s"""${slotCountsCte("BIGINT")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |ids AS (SELECT d, CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS id FROM days),
        |px AS (SELECT ids.id, i.i,
        |         CAST(i.i // 8 AS BIGINT) AS y, CAST(i.i % 8 AS BIGINT) AS x,
        |         coalesce(g.cnt, 0) AS cnt
        |       FROM ids
        |       CROSS JOIN (SELECT CAST(unnest(range(64)) AS INTEGER) AS i) i
        |       LEFT JOIN g ON g.d = ids.d AND g.slot = CAST(i.i % 10 AS INTEGER))
        |SELECT px.id,
        |       CAST(50 - (y + 0.5) * 0.25 AS DOUBLE) AS latitude,
        |       CAST(-20 + (x + 0.5) * 0.25 AS DOUBLE) AS longitude,
        |       CAST(b.b AS INTEGER) AS band,
        |       CASE WHEN cnt % 5 = 0 THEN NULL
        |            ELSE CAST((cnt * 7 + i + (b.b - 1) * 1000) % 1000000 AS DOUBLE)
        |       END AS value
        |FROM px CROSS JOIN (SELECT unnest(range(1, 3)) AS b) b
        |WHERE b.b <= 1 + px.id % 2
        |ORDER BY id, band, latitude, longitude""".stripMargin),

    // ADPCM WAV decode (IMA even days, MS odd) — lossy, so the gate is
    // the q156 bound pattern: sample_rate / n_samples / duration_ms are
    // integer-exact against the block arithmetic, and wave_ok bounds
    // the reconstruction error against the independent target formula
    // (< 1500/32768). Exact state-machine decode is pinned in AdpcmSpec.
    Query("q175_adpcm_decode_bound", (s, dir) => {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types._
      val wavs = adpcmEventsFixture(s, dir)
      val schema = StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("sample_rate", IntegerType, nullable = false),
        StructField("n_samples", LongType, nullable = false),
        StructField("duration_ms", LongType, nullable = false),
        StructField("wave_ok", BooleanType, nullable = false)))
      wavs.select(col("id"), col("cnt_sum"), col("wav"))
        .as(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.BINARY))
        .mapPartitions { it =>
          it.map { case (id, cntSum, bytes) =>
            val d = graft.functions.Audio.decodeAuto(id, bytes)
            val target = adpcmTargetWave(id, cntSum, d.samples.length)
            var maxErr = 0.0
            var i = 0
            while (i < d.samples.length) {
              maxErr = math.max(maxErr,
                math.abs(d.samples(i).toDouble * 32768.0 - target(i)))
              i += 1
            }
            val n = d.samples.length.toLong
            Row(id, d.sampleRate, n, n * 1000L / d.sampleRate, maxErr < 1500.0)
          }
        }(Encoders.row(schema))
        .orderBy("id")
    },
      // ADPCM bound gate: block arithmetic closed-form (IMA 2x505 even
      // days, MS 2x500 odd), reconstruction bound asserted Spark-side
      """WITH days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |ids AS (SELECT CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS id FROM days)
        |SELECT id,
        |       8000 AS sample_rate,
        |       CAST(CASE WHEN id % 2 = 0 THEN 1010 ELSE 1000 END AS BIGINT) AS n_samples,
        |       CAST(CASE WHEN id % 2 = 0 THEN 126 ELSE 125 END AS BIGINT) AS duration_ms,
        |       TRUE AS wave_ok
        |FROM ids
        |ORDER BY id""".stripMargin),

    // MP4/ISO-BMFF demux — the web's dominant video container, walked
    // codec-agnostically: the stbl sample tables land as one row per
    // sample with absolute byte offsets, decode timestamps, and
    // keyframe flags. The oracle recomputes the ENTIRE table (stsz,
    // stts runs, stss cadence, chunk-walk offsets) from events with
    // zero MP4 code — any box-parse slip anywhere fails the compare.
    Query("q174_mp4_demux", (s, dir) => {
      val mp4s = mp4EventsFixture(s, dir)
      Multimodal.demuxMp4(mp4s, "id", "mp4")
        .select("id", "track_id", "sample_idx", "byte_size", "byte_offset",
          "dts", "keyframe", "codec")
        .orderBy("id", "track_id", "sample_idx")
    },
      // MP4 sample tables replayed from events: video sizes/dts/keyframes
      // closed-form, audio fixed-size run, offsets = 32 + running sums
      // (the writer's mdat-first layout)
      Mp4SampleTableSql),

    // tf.Example decode (the payload inside TFRecord shards): protobuf
    // wire walk — nested length-delimited messages, packed repeated
    // scalars, varints — into typed (key, kind, values) rows. The
    // oracle rebuilds every feature from events; a varint or framing
    // slip corrupts a value or a key and fails the compare.
    Query("q186_tfexample_features", (s, dir) => {
      val tfrs = tfexampleEventsFixture(s, dir)
      graft.functions.TfExample.featureTable(tfrs, "id", "tfr")
        .select(col("id"), col("rec_idx"), col("key"), col("kind"),
          try_element_at(col("text_vals"), lit(1)).as("text0"),
          try_element_at(col("int64_vals"), lit(1)).as("i0"),
          try_element_at(col("int64_vals"), lit(2)).as("i1"),
          try_element_at(col("float_vals"), lit(1)).cast("double").as("f0"))
        .orderBy("id", "rec_idx", "key")
    },
      // tf.Example features from events: three keys per record in sorted
      // order, element_at nulls where a kind has no values
      s"""${slotCountsCte("BIGINT")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |ids AS (SELECT d, CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS id FROM days),
        |sl AS (SELECT ids.id, s.s AS slot, coalesce(g.cnt, 0) AS cnt
        |       FROM ids
        |       CROSS JOIN (SELECT CAST(unnest(range(10)) AS INTEGER) AS s) s
        |       LEFT JOIN g ON g.d = ids.d AND g.slot = s.s),
        |lab AS (SELECT id, slot AS rec_idx, 'label' AS key, 'int64' AS kind,
        |          CAST(NULL AS VARCHAR) AS text0,
        |          cnt % 5 AS i0, CAST(slot AS BIGINT) AS i1,
        |          CAST(NULL AS DOUBLE) AS f0 FROM sl),
        |sco AS (SELECT id, slot AS rec_idx, 'score' AS key, 'float' AS kind,
        |          CAST(NULL AS VARCHAR) AS text0,
        |          CAST(NULL AS BIGINT) AS i0, CAST(NULL AS BIGINT) AS i1,
        |          CAST(cnt AS DOUBLE) AS f0 FROM sl),
        |txt AS (SELECT id, slot AS rec_idx, 'text' AS key, 'bytes' AS kind,
        |          'example ' || CAST(slot AS VARCHAR) || ' events=' ||
        |            CAST(cnt AS VARCHAR) AS text0,
        |          CAST(NULL AS BIGINT) AS i0, CAST(NULL AS BIGINT) AS i1,
        |          CAST(NULL AS DOUBLE) AS f0 FROM sl)
        |SELECT * FROM lab UNION ALL SELECT * FROM sco UNION ALL SELECT * FROM txt
        |ORDER BY id, rec_idx, key""".stripMargin),

    // TFRecord shard scan (the TensorFlow training layout): 16-byte
    // framing with BOTH masked CRC32Cs verified per record (the JDK
    // CRC32C is the Castagnoli interop pin, check-value spec-pinned).
    // Offsets replay as a closed-form walk: 12 + len + 4 per record.
    Query("q185_tfrecord_scan", (s, dir) => {
      val tfrs = tfrecordEventsFixture(s, dir)
      graft.functions.TfRecord.recordTable(tfrs, "id", "tfr")
        .select(col("id"), col("rec_idx"), col("byte_offset"), col("byte_size"),
          col("payload").cast("string").as("payload_text"))
        .orderBy("id", "rec_idx")
    },
      // TFRecord table from events: offsets = running (12 + len + 4) sums
      s"""${slotCountsCte("BIGINT")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |ids AS (SELECT d, CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS id FROM days),
        |sl AS (SELECT ids.id, s.s AS slot,
        |         'example ' || CAST(s.s AS VARCHAR) || ' events=' ||
        |           CAST(coalesce(g.cnt, 0) AS VARCHAR) AS payload_text
        |       FROM ids
        |       CROSS JOIN (SELECT CAST(unnest(range(10)) AS INTEGER) AS s) s
        |       LEFT JOIN g ON g.d = ids.d AND g.slot = s.s)
        |SELECT id, CAST(slot AS INTEGER) AS rec_idx,
        |       CAST(coalesce(SUM(length(payload_text) + 16)
        |           OVER (PARTITION BY id ORDER BY slot
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |         AS BIGINT) AS byte_offset,
        |       CAST(length(payload_text) AS BIGINT) AS byte_size,
        |       payload_text
        |FROM sl
        |ORDER BY id, rec_idx""".stripMargin),

    // ZIP member extraction (EPUB/DOCX/site archives): central-directory
    // walk, store + raw-deflate members, CRC-verified extraction — the
    // reader is also interop-pinned BOTH directions against
    // java.util.zip (ZipSpec). The oracle rebuilds names, sizes, and
    // text from events.
    // through the INDEX-planned format("zip") DSv2: partitions come
    // from the central directory (tiny maxSplitBytes forces several
    // member-groups per archive in the gate), ZIP64 every fourth day
    Query("q184_zip_members", (s, dir) => {
      val path = zipFilesFixture(s, dir)
      s.read.format("zip").option("maxSplitBytes", "256").load(path)
        .select(
          regexp_extract(col("path"), "([0-9]+)\\.zip", 1)
            .cast("long").as("id"),
          col("entry_idx"), col("name"), col("method"),
          col("byte_size"), col("payload").cast("string").as("payload_text"))
        .orderBy("id", "entry_idx")
    },
      // ZIP member table from events: store on even slots, deflate odd
      s"""${slotCountsCte("BIGINT")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |ids AS (SELECT d, CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS id FROM days),
        |sl AS (SELECT ids.id, s.s AS slot, coalesce(g.cnt, 0) AS cnt
        |       FROM ids
        |       CROSS JOIN (SELECT CAST(unnest(range(10)) AS INTEGER) AS s) s
        |       LEFT JOIN g ON g.d = ids.d AND g.slot = s.s)
        |SELECT id, CAST(slot AS INTEGER) AS entry_idx,
        |       'book' || CAST(id AS VARCHAR) || '/ch' || CAST(slot AS VARCHAR)
        |         || '.txt' AS name,
        |       CAST(CASE WHEN slot % 2 = 1 THEN 8 ELSE 0 END AS INTEGER) AS method,
        |       CAST(length('chapter ' || CAST(slot AS VARCHAR) ||
        |         ' has events=' || CAST(cnt AS VARCHAR)) AS BIGINT) AS byte_size,
        |       'chapter ' || CAST(slot AS VARCHAR) || ' has events=' ||
        |         CAST(cnt AS VARCHAR) AS payload_text
        |FROM sl
        |ORDER BY id, entry_idx""".stripMargin),

    // WebDataset EXPORT → re-ingest roundtrip (the pipeline's OUTPUT
    // side): member rows built RELATIONALLY from events, sharded by
    // key hash (members co-shard, byte-deterministic), written as
    // shard-k.tar files by per-task Hadoop-FS writes, then read back
    // through binaryFile + webdatasetSamples. The oracle rebuilds the
    // member table from events — a lost or duplicated sample anywhere
    // in the export/ingest loop fails the compare.
    Query("q187_webdataset_export_roundtrip", (s, dir) => {
      val g = daySlotCounts(s, dir)
        .select(
          // slots 5-9 carry URL-length keys (>100 bytes with member
          // extension) so every export exercises the PAX long-name
          // writer AND its re-ingest — mirrored closed-form in the oracle
          concat(lit("day"),
            datediff(col("d"), lit(java.sql.Date.valueOf("1970-01-01"))),
            lit("/"),
            when(col("slot") >= 5, lit("k" * 100)).otherwise(lit("")),
            col("slot")).as("sample_key"),
          col("count"))
      val members = g.select(col("sample_key"), explode(array(
          struct(lit("txt").as("ext"),
            concat(lit("sample text events="), col("count")).as("payload")),
          struct(lit("cls").as("ext"),
            (col("count") % 5).cast("string").as("payload")))).as("m"))
        .select(col("sample_key"), col("m.ext"), col("m.payload"))
      val outDir = fixtureDir(s, dir, "graft_wdsx")
      graft.functions.Tar.writeWebdatasetShards(members,
        "sample_key", "ext", "payload", outDir, nShards = 8)
      // re-ingest through the SPLITTABLE scan: the exported shards (PAX
      // long keys included) come back through split resync, closing the
      // export → 100 TB-ingest loop
      s.read.format("webdataset")
        .option("maxSplitBytes", "4096").load(outDir)
        .select(col("sample_key"), col("ext"), col("byte_size"),
          col("payload").cast("string").as("payload_text"))
        .orderBy("sample_key", "ext")
    },
      // WebDataset export roundtrip: member table from PRESENT (day, slot)
      // cells only (the relational groupBy, no spine)
      s"""${slotCountsCte("BIGINT")},
        |keys AS (SELECT 'day' ||
        |           CAST(date_diff('day', DATE '1970-01-01', d) AS VARCHAR) ||
        |           '/' || CASE WHEN slot >= 5 THEN repeat('k', 100)
        |                       ELSE '' END ||
        |           CAST(slot AS VARCHAR) AS sample_key, cnt FROM g),
        |txt AS (SELECT sample_key, 'txt' AS ext,
        |          CAST(length('sample text events=' || CAST(cnt AS VARCHAR))
        |            AS BIGINT) AS byte_size,
        |          'sample text events=' || CAST(cnt AS VARCHAR) AS payload_text
        |        FROM keys),
        |cls AS (SELECT sample_key, 'cls' AS ext,
        |          CAST(length(CAST(cnt % 5 AS VARCHAR)) AS BIGINT) AS byte_size,
        |          CAST(cnt % 5 AS VARCHAR) AS payload_text
        |        FROM keys)
        |SELECT * FROM txt UNION ALL SELECT * FROM cls
        |ORDER BY sample_key, ext""".stripMargin),

    // WET segment EXPORT → splittable re-ingest (the TEXT pipeline's
    // output side, q187's twin): curated (uri, text) rows — the q180
    // extraction output rebuilt relationally — land as per-record-gzip
    // .warc.gz segments via the sharded deterministic writer, then come
    // back through format("warc") with forced tiny splits. The oracle
    // rebuilds uri/type/text and the BYTE length (strlen: the em dash
    // is 3 UTF-8 bytes) from events — a record lost or corrupted
    // anywhere in the export/ingest loop fails the compare.
    Query("q188_wet_export_roundtrip", (s, dir) => {
      val g = daySlotCounts(s, dir)
        .withColumn("id",
          datediff(col("d"), lit(java.sql.Date.valueOf("1970-01-01"))))
        .filter(col("count") % 7 =!= 0)
        .select(
          concat(lit("https://example.com/"), col("id"), lit("/"),
            col("slot")).as("uri"),
          concat(lit("Day "), col("id"), lit(" events="), col("count"),
            lit(" & more \u2014 ok!")).as("text"))
      val outDir = fixtureDir(s, dir, "graft_wetx")
      graft.functions.Warc.writeWetSegments(g, "uri", "text", outDir,
        nShards = 8)
      s.read.format("warc").option("maxSplitBytes", "2048").load(outDir)
        .select(col("target_uri"), col("warc_type"), col("content_length"),
          col("payload_text"))
        .orderBy("target_uri")
    },
      // WET export roundtrip: conversion records from PRESENT 200-status
      // (day, slot) cells; content_length is the BYTE length (strlen)
      s"""${slotCountsCte("BIGINT")},
        |resp AS (SELECT CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT)
        |           AS id, slot, cnt FROM g WHERE cnt % 7 <> 0),
        |rows_ AS (SELECT
        |    'https://example.com/' || CAST(id AS VARCHAR) || '/' ||
        |      CAST(slot AS VARCHAR) AS target_uri,
        |    'conversion' AS warc_type,
        |    'Day ' || CAST(id AS VARCHAR) || ' events=' ||
        |      CAST(cnt AS VARCHAR) || ' & more ' || chr(8212) || ' ok!'
        |      AS payload_text
        |  FROM resp)
        |SELECT target_uri, warc_type,
        |       CAST(strlen(payload_text) AS BIGINT) AS content_length,
        |       payload_text
        |FROM rows_
        |ORDER BY target_uri""".stripMargin),

    // WebDataset shard scan (tar-of-samples — the standard multimodal
    // training layout) through the SPLITTABLE format("webdataset")
    // DSv2: plain .tar days run 512-aligned resync across forced
    // multi-partition splits (PAX long-name chains included on every
    // third day), .tar.gz days run the single streaming partition. The
    // oracle rebuilds keys, extensions, sizes, and payload text from
    // events with zero tar code.
    Query("q183_webdataset_scan", (s, dir) => {
      val path = webdatasetFilesFixture(s, dir)
      s.read.format("webdataset")
        .option("maxSplitBytes", "4096").load(path)
        .select(
          regexp_extract(col("path"), "([0-9]+)\\.tar", 1)
            .cast("long").as("id"),
          col("sample_key"), col("ext"), col("byte_size"),
          col("payload").cast("string").as("payload_text"))
        .orderBy("id", "sample_key", "ext")
    },
      // WebDataset member table from events: two members per slot with
      // printf-style zero-padded names
      s"""${slotCountsCte("BIGINT")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |ids AS (SELECT d, CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS id FROM days),
        |sl AS (SELECT ids.id, s.s AS slot, coalesce(g.cnt, 0) AS cnt,
        |         'shard' || CAST(ids.id AS VARCHAR) || '/' ||
        |           CASE WHEN ids.id % 3 = 0 THEN repeat('x', 110) || '_'
        |                ELSE '' END ||
        |           lpad(CAST(s.s AS VARCHAR), 4, '0') AS sample_key
        |       FROM ids
        |       CROSS JOIN (SELECT CAST(unnest(range(10)) AS INTEGER) AS s) s
        |       LEFT JOIN g ON g.d = ids.d AND g.slot = s.s),
        |txt AS (SELECT id, sample_key, 'txt' AS ext,
        |          CAST(length('sample text events=' || CAST(cnt AS VARCHAR))
        |            AS BIGINT) AS byte_size,
        |          'sample text events=' || CAST(cnt AS VARCHAR) AS payload_text
        |        FROM sl),
        |cls AS (SELECT id, sample_key, 'cls' AS ext,
        |          CAST(length(CAST(cnt % 5 AS VARCHAR)) AS BIGINT) AS byte_size,
        |          CAST(cnt % 5 AS VARCHAR) AS payload_text
        |        FROM sl)
        |SELECT * FROM txt UNION ALL SELECT * FROM cls
        |ORDER BY id, sample_key, ext""".stripMargin),

    // MP3 frame-header scan (crawl audio's dominant format): per-frame
    // bitrate/size/offset facts with ZERO Huffman decode — decode stays
    // refused by name (the Annex-B-table transcription risk). The
    // oracle replays the bitrate table, slot arithmetic, and ID3
    // skipping closed-form; a wrong table entry shifts every
    // subsequent offset and fails the compare.
    Query("q182_mp3_frame_scan", (s, dir) => {
      val mp3s = mp3EventsFixture(s, dir)
      graft.functions.Mp3.frameTable(mp3s, "id", "mp3")
        .select("id", "frame_idx", "byte_offset", "byte_size",
          "bitrate_kbps", "sample_rate", "channels", "samples_per_frame")
        .orderBy("id", "frame_idx")
    },
      // MP3 frame table from events: MPEG1 L3 bitrate table as a CASE,
      // size = 144000*kbps // 44100 + pad, offsets = ID3v2 skip + running
      // sums
      s"""${slotCountsCte("BIGINT")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |ids AS (SELECT d, CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS id FROM days),
        |fr AS (SELECT ids.id, i.i,
        |         CAST((coalesce(g.cnt, 0) + i.i) % 14 + 1 AS INTEGER) AS bidx,
        |         CAST(coalesce(g.cnt, 0) % 2 AS INTEGER) AS pad
        |       FROM ids
        |       CROSS JOIN (SELECT CAST(unnest(range(12)) AS INTEGER) AS i) i
        |       LEFT JOIN g ON g.d = ids.d AND g.slot = CAST(i.i % 10 AS INTEGER)),
        |kb AS (SELECT id, i, pad,
        |         CASE bidx WHEN 1 THEN 32 WHEN 2 THEN 40 WHEN 3 THEN 48
        |              WHEN 4 THEN 56 WHEN 5 THEN 64 WHEN 6 THEN 80
        |              WHEN 7 THEN 96 WHEN 8 THEN 112 WHEN 9 THEN 128
        |              WHEN 10 THEN 160 WHEN 11 THEN 192 WHEN 12 THEN 224
        |              WHEN 13 THEN 256 ELSE 320 END AS kbps
        |       FROM fr),
        |sz AS (SELECT id, i, kbps,
        |         CAST(144 * kbps * 1000 // 44100 + pad AS INTEGER) AS byte_size
        |       FROM kb)
        |SELECT id, CAST(i AS INTEGER) AS frame_idx,
        |       CAST(10 + id % 50 + 5
        |         + coalesce(SUM(byte_size) OVER (PARTITION BY id ORDER BY i
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |         AS BIGINT) AS byte_offset,
        |       byte_size,
        |       CAST(kbps AS INTEGER) AS bitrate_kbps,
        |       44100 AS sample_rate, 2 AS channels,
        |       1152 AS samples_per_frame
        |FROM sz
        |ORDER BY id, frame_idx""".stripMargin),

    // Ogg packet tables (RFC 3533 — Opus/Vorbis crawl audio): lacing
    // reassembly across page spans, granule stamping, codec sniffing,
    // CRC-verified pages. The oracle replays sizes/granules closed-form
    // — a lacing or continuation slip changes a packet count or size
    // and fails the compare.
    Query("q181_ogg_packets", (s, dir) => {
      val oggs = oggEventsFixture(s, dir)
      graft.functions.Ogg.packets(oggs, "id", "ogg")
        .select("id", "packet_idx", "byte_size", "granule", "codec")
        .orderBy("id", "packet_idx")
    },
      // Ogg packet table from events: header packet + 10 sized packets,
      // granules step 960 per packet
      s"""${slotCountsCte("BIGINT")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |ids AS (SELECT d, CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS id FROM days),
        |prows AS (SELECT ids.id, CAST(s.s + 1 AS INTEGER) AS packet_idx,
        |            CAST((coalesce(g.cnt, 0) * 3 + s.s) % 600 + 1 AS BIGINT) AS byte_size,
        |            CAST((s.s + 1) * 960 AS BIGINT) AS granule,
        |            'opus' AS codec
        |          FROM ids
        |          CROSS JOIN (SELECT CAST(unnest(range(10)) AS INTEGER) AS s) s
        |          LEFT JOIN g ON g.d = ids.d AND g.slot = s.s),
        |hrows AS (SELECT id, CAST(0 AS INTEGER) AS packet_idx,
        |            CAST(14 AS BIGINT) AS byte_size, CAST(0 AS BIGINT) AS granule,
        |            'opus' AS codec FROM ids)
        |SELECT * FROM hrows UNION ALL SELECT * FROM prows
        |ORDER BY id, packet_idx""".stripMargin),

    // WARC records (ISO 28500 — the Common Crawl container, THE input
    // of web-scale training-data pipelines), scanned through the
    // SPLITTABLE format("warc") DSv2: a tiny maxSplitBytes forces
    // multiple byte-range partitions per archive in the GATE itself, so
    // member resync (gzip members on odd days, line-start records on
    // even days), split ownership, and the HTTP envelope decode
    // (identity/chunked/gzip body codings by slot) all run under the
    // oracle. rec_idx is derived from the split-invariant
    // (rec_offset, rec_seq) order; the oracle rebuilds every field from
    // events.
    Query("q179_warc_records", (s, dir) => {
      val path = warcFilesFixture(s, dir)
      val scan = s.read.format("warc")
        .option("maxSplitBytes", "4096").load(path)
      val w = Window.partitionBy(col("id"))
        .orderBy(col("rec_offset"), col("rec_seq"))
      scan.select(
          regexp_extract(col("path"), "([0-9]+)\\.warc", 1)
            .cast("long").as("id"),
          col("rec_offset"), col("rec_seq"), col("warc_type"),
          col("target_uri"), col("content_length"), col("http_status"),
          col("payload_text"))
        .withColumn("rec_idx", (row_number().over(w) - 1).cast("int"))
        .drop("rec_offset", "rec_seq")
        .orderBy("id", "rec_idx")
    },
      // WARC record table from events: envelope lengths are closed-form
      // (status line 17/21 + Content-Type 25 + blank 2), bodies rebuilt
      // as the same ASCII strings
      s"""${slotCountsCte("BIGINT")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |ids AS (SELECT d, CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS id FROM days),
        |resp AS (SELECT ids.id, s.s AS slot, coalesce(g.cnt, 0) AS cnt
        |         FROM ids
        |         CROSS JOIN (SELECT CAST(unnest(range(10)) AS INTEGER) AS s) s
        |         LEFT JOIN g ON g.d = ids.d AND g.slot = s.s),
        |bodies AS (SELECT id, slot, cnt,
        |            '<html><head><style>p{x:' || CAST(cnt AS VARCHAR) ||
        |            '}</style></head><body><h1>Day ' || CAST(id AS VARCHAR) ||
        |            '</h1><p>events=' || CAST(cnt AS VARCHAR) ||
        |            ' &amp; more &#8212; ok&#x21; ' ||
        |            '&ldquo;q&rdquo;&hellip; 5&deg; &copy;</p><script>var a=' ||
        |            CAST(cnt AS VARCHAR) ||
        |            ';</script></body></html>' AS body
        |          FROM resp),
        |-- encoded body length, closed-form: chunked = 38 bytes per full
        |-- 32-byte chunk + hexdigits(rem)+rem+4 + 5-byte terminator;
        |-- stored-block gzip = len + 23; identity = len
        |enc AS (SELECT *,
        |          CASE WHEN slot % 3 = 1 THEN
        |                 (length(body) // 32) * 38
        |                 + CASE WHEN length(body) % 32 > 0
        |                        THEN length(to_hex(length(body) % 32))
        |                             + (length(body) % 32) + 4 ELSE 0 END
        |                 + 5
        |               WHEN slot % 3 = 2 THEN length(body) + 23
        |               ELSE length(body) END AS enc_len,
        |          CASE WHEN slot % 3 = 1 THEN 28
        |               WHEN slot % 3 = 2 THEN 24 ELSE 0 END AS extra_hdr
        |        FROM bodies),
        |rrows AS (SELECT id, CAST(slot + 1 AS INTEGER) AS rec_idx,
        |            'response' AS warc_type,
        |            'https://example.com/' || CAST(id AS VARCHAR) || '/' ||
        |              CAST(slot AS VARCHAR) AS target_uri,
        |            CAST(CASE WHEN cnt % 7 = 0 THEN 48 ELSE 44 END
        |              + extra_hdr + enc_len AS BIGINT) AS content_length,
        |            CAST(CASE WHEN cnt % 7 = 0 THEN 404 ELSE 200 END AS INTEGER)
        |              AS http_status,
        |            body AS payload_text
        |          FROM enc),
        |irows AS (SELECT id, CAST(0 AS INTEGER) AS rec_idx,
        |            'warcinfo' AS warc_type, '' AS target_uri,
        |            CAST(14 AS BIGINT) AS content_length,
        |            CAST(-1 AS INTEGER) AS http_status,
        |            'crawler=graft' || chr(10) AS payload_text FROM ids)
        |SELECT * FROM irows UNION ALL SELECT * FROM rrows
        |ORDER BY id, rec_idx""".stripMargin),

    // WARC → MAIN-content extraction → quality filter (the trafilatura/
    // readability step production crawl pipelines run INSTEAD of raw
    // WET text): block-scoring boilerplate removal (word count +
    // link density per block) drops nav/cookie/footer/script, the
    // token-count quality gate then drops the teaser-only pages the
    // extractor correctly empties. The oracle states the expected MAIN
    // text closed-form from events — a leaked nav word, a sunk content
    // paragraph, or a mis-filtered teaser all fail the compare.
    Query("q189_warc_main_content", (s, dir) => {
      val path = warcBoilerplateFixture(s, dir)
      val scan = s.read.format("warc")
        .option("maxSplitBytes", "4096").load(path)
      val w = Window.partitionBy(col("id"))
        .orderBy(col("rec_offset"), col("rec_seq"))
      scan.select(
          regexp_extract(col("path"), "([0-9]+)\\.warc", 1)
            .cast("long").as("id"),
          col("rec_offset"), col("rec_seq"), col("warc_type"),
          col("http_status"), col("payload_text"))
        .withColumn("rec_idx", (row_number().over(w) - 1).cast("int"))
        .filter(col("warc_type") === "response" && col("http_status") === 200)
        .select(col("id"), col("rec_idx"),
          Text.mainContent(col("payload_text")).as("text"))
        .withColumn("n_tokens", size(split(col("text"), " ")))
        .filter(col("n_tokens") >= 15)
        .orderBy("id", "rec_idx")
    },
      // Main-content extraction: expected MAIN text closed-form — two
      // content paragraphs (13 words each, joined) per 200-status page,
      // teaser-only slot 7 dropped by the token quality gate
      s"""${slotCountsCte("BIGINT")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |ids AS (SELECT d, CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS id FROM days),
        |resp AS (SELECT ids.id, s.s AS slot, coalesce(g.cnt, 0) AS cnt
        |         FROM ids
        |         CROSS JOIN (SELECT CAST(unnest(range(10)) AS INTEGER) AS s) s
        |         LEFT JOIN g ON g.d = ids.d AND g.slot = s.s)
        |SELECT id, CAST(slot + 1 AS INTEGER) AS rec_idx,
        |       CASE WHEN slot = 3 THEN
        |         'Fragmented article for day ' || CAST(id AS VARCHAR) ||
        |         ' opens with a long paragraph reporting exactly ' ||
        |         CAST(cnt AS VARCHAR) ||
        |         ' events Short bridge The closing paragraph repeats ' ||
        |         'the count ' || CAST(cnt AS VARCHAR) ||
        |         ' and adds more supporting words for depth'
        |       ELSE
        |         'Main story for day ' || CAST(id AS VARCHAR) || ' slot ' ||
        |         CAST(slot AS VARCHAR) || ' reports exactly ' ||
        |         CAST(cnt AS VARCHAR) ||
        |         ' events with details Second passage confirms the count ' ||
        |         CAST(cnt AS VARCHAR) ||
        |         ' again and adds supporting words for depth' END AS text,
        |       CASE WHEN slot = 3 THEN 30 ELSE 26 END AS n_tokens
        |FROM resp WHERE cnt % 7 <> 0 AND slot <> 7
        |ORDER BY id, rec_idx""".stripMargin),

    // Byte-level BPE APPLY (exact tokenizer token counts — q73 counts
    // pairs for TRAINING a table; this REPLAYS a learned one): the
    // oracle restates the full token stream and counts closed-form
    // from events over a small vocabulary, exercising rank order
    // (x·y before Ġ·x), cascaded merges (xy·z), pre-token boundaries
    // (digits, contractions), and the space→Ġ byte mapping (chr(288)).
    Query("q190_bpe_encode", (s, dir) => {
      val merges = Seq("x" -> "y", "xy" -> "z", "Ġ" -> "x")
      val g = daySlotCounts(s, dir)
        .withColumn("id",
          datediff(col("d"), lit(java.sql.Date.valueOf("1970-01-01")))
            .cast("long"))
      val text = concat(lit("xyz"),
        expr("repeat(' xy', CAST(count % 5 + 1 AS INT))"),
        lit(" x9y don't"))
      g.select(col("id"), col("slot"),
          Text.bpeTokenCount(text, merges).as("n_tokens"),
          array_join(Text.bpeEncode(text, merges), "|").as("toks"))
        .orderBy("id", "slot")
    },
      // BPE apply: the token stream restated closed-form — 'xyz' is one
      // cascaded token; each ' xy' is [Ġ, xy] (x·y outranks Ġ·x); ' x9y'
      // is [Ġx, 9, y] (digit pre-token boundary); " don't" is
      // [Ġ,d,o,n] + [',t] (contraction pre-token, no merges)
      s"""${slotCountsCte("BIGINT")}
        |SELECT CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS id,
        |       slot,
        |       CAST(10 + 2 * (cnt % 5 + 1) AS INTEGER) AS n_tokens,
        |       'xyz' ||
        |         repeat('|' || chr(288) || '|xy', CAST(cnt % 5 + 1 AS INTEGER)) ||
        |         '|' || chr(288) || 'x|9|y|' || chr(288) ||
        |         '|d|o|n|''|t' AS toks
        |FROM g
        |ORDER BY id, slot""".stripMargin),

    // WARC revisit RESOLUTION (fetch-time-deduplicating crawls): join
    // payload-free revisit records back to their original's decoded
    // payload on WARC-Refers-To → WARC-Record-ID, LEFT so a dangling
    // reference survives with nulls. The oracle rebuilds the resolved
    // text from events — a lost revisit, a mis-keyed join, or a
    // swallowed dangling row all fail the compare.
    Query("q191_warc_revisit_resolve", (s, dir) => {
      val path = warcRevisitFixture(s, dir)
      val scan = s.read.format("warc")
        .option("maxSplitBytes", "4096").load(path)
      graft.functions.Warc.resolveRevisits(scan)
        .select(
          regexp_extract(col("path"), "([0-9]+)\\.warc", 1)
            .cast("long").as("id"),
          col("target_uri"), col("warc_refers_to"),
          col("orig_uri"), col("resolved_text"))
        .orderBy("id", "target_uri")
    },
      // Revisit resolution: five resolved revisits + one dangling (nulls)
      // per day, resolved text restated from events
      s"""${slotCountsCte("BIGINT")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |ids AS (SELECT d, CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS id FROM days),
        |resp AS (SELECT ids.id, s.s AS slot, coalesce(g.cnt, 0) AS cnt
        |         FROM ids
        |         CROSS JOIN (SELECT CAST(unnest(range(10)) AS INTEGER) AS s) s
        |         LEFT JOIN g ON g.d = ids.d AND g.slot = s.s),
        |resolved AS (SELECT id,
        |    'https://example.com/' || CAST(id AS VARCHAR) || '/' ||
        |      CAST(slot AS VARCHAR) AS target_uri,
        |    '<urn:graft:' || CAST(id AS VARCHAR) || '/' ||
        |      CAST(slot AS VARCHAR) || '>' AS warc_refers_to,
        |    'https://example.com/' || CAST(id AS VARCHAR) || '/' ||
        |      CAST(slot AS VARCHAR) AS orig_uri,
        |    'revisit target body ' || CAST(id AS VARCHAR) || ' ' ||
        |      CAST(slot AS VARCHAR) || ' with ' || CAST(cnt AS VARCHAR) ||
        |      ' events' AS resolved_text
        |  FROM resp WHERE slot < 5),
        |dangling AS (SELECT id,
        |    'https://example.com/' || CAST(id AS VARCHAR) || '/dangling'
        |      AS target_uri,
        |    '<urn:graft:missing>' AS warc_refers_to,
        |    CAST(NULL AS VARCHAR) AS orig_uri,
        |    CAST(NULL AS VARCHAR) AS resolved_text
        |  FROM ids)
        |SELECT * FROM resolved UNION ALL SELECT * FROM dangling
        |ORDER BY id, target_uri""".stripMargin),

    // WARC charset sniffing (BOM > HTTP header charset= > HTML5-style
    // meta prescan > UTF-8): payloads in windows-1252 / iso-8859-1 /
    // BOM'd UTF-8 — a third of real crawls — decode to the SAME text,
    // and content_length stays the on-the-wire BYTE length. The oracle
    // restates the decoded text via chr() codepoints and the byte
    // arithmetic closed-form; a UTF-8-only decode garbles every
    // non-ASCII character and fails the compare.
    Query("q192_warc_charset", (s, dir) => {
      val path = warcCharsetFixture(s, dir)
      val scan = s.read.format("warc")
        .option("maxSplitBytes", "4096").load(path)
      val w = Window.partitionBy(col("id"))
        .orderBy(col("rec_offset"), col("rec_seq"))
      scan.select(
          regexp_extract(col("path"), "([0-9]+)\\.warc", 1)
            .cast("long").as("id"),
          col("rec_offset"), col("rec_seq"), col("warc_type"),
          col("content_length"), col("payload_text"))
        .withColumn("rec_idx", (row_number().over(w) - 1).cast("int"))
        .filter(col("warc_type") === "response")
        .select(col("id"), col("rec_idx"), col("content_length"),
          col("payload_text"))
        .orderBy("id", "rec_idx")
    },
      // Charset sniffing: decoded text restated via chr() codepoints;
      // content_length is the on-the-wire BYTE length (1-byte charsets →
      // char count; BOM day adds 3). Envelope: status line 17 + blank 2 +
      // Content-Type 25 (plain) / 47 (with '; charset=windows-1252') /
      // 49 for slot 9's '; charset=x-user-defined' (the WHATWG alias:
      // the label decodes as windows-1252)
      s"""${slotCountsCte("BIGINT")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |ids AS (SELECT d, CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS id FROM days),
        |resp AS (SELECT ids.id, s.s AS slot, coalesce(g.cnt, 0) AS cnt
        |         FROM ids
        |         CROSS JOIN (SELECT CAST(unnest(range(10)) AS INTEGER) AS s) s
        |         LEFT JOIN g ON g.d = ids.d AND g.slot = s.s),
        |rows_ AS (SELECT id, CAST(slot + 1 AS INTEGER) AS rec_idx,
        |    CASE slot % 3
        |      WHEN 0 THEN 'cp1252 ' || chr(8220) || 'quote' || chr(8221) ||
        |        ' caf' || chr(233) || ' events=' || CAST(cnt AS VARCHAR)
        |      WHEN 1 THEN '<meta charset="iso-8859-1">caf' || chr(233) ||
        |        ' ' || chr(176) || 'C events=' || CAST(cnt AS VARCHAR)
        |      ELSE 'bom text events=' || CAST(cnt AS VARCHAR) || ' ok'
        |    END AS payload_text,
        |    CASE WHEN slot = 9 THEN 68
        |         WHEN slot % 3 = 0 THEN 66
        |         WHEN slot % 3 = 1 THEN 44 ELSE 47 END AS env
        |  FROM resp)
        |SELECT id, rec_idx,
        |       CAST(env + length(payload_text) AS BIGINT) AS content_length,
        |       payload_text
        |FROM rows_
        |ORDER BY id, rec_idx""".stripMargin),

    // BPE tokenizer TRAINING (q190's other half — the engine now covers
    // the full train → apply loop): one distributed pre-token frequency
    // pass, then deterministic weighted merge learning over the
    // vocabulary-bounded dict. The corpus is built so the expected
    // 3-merge sequence is invariant for ANY event counts — but ONLY
    // under correct frequency WEIGHTING and the documented tie-break
    // (an unweighted distinct-word count, or a nondeterministic
    // tie-break, learns a different table and fails the compare).
    Query("q193_bpe_train", (s, dir) => {
      val g = daySlotCounts(s, dir)
      val corpus = g.select(concat(lit("xy "),
        expr("repeat('ab ', CAST(3 * count + 9 AS INT))"),
        expr("repeat('xy ', CAST(count AS INT))"),
        lit("qr")).as("text"))
      val merges = Text.bpeTrain(corpus, "text", 3)
      val sp = s; import sp.implicits._
      merges.zipWithIndex
        .map { case ((l, r), i) => (i, l, r) }
        .toDF("rank", "mleft", "mright").orderBy("rank")
    },
      // BPE training: the merge sequence is invariant by construction —
      // (a,b) ties (Ġ,a) at Σ(3c+9) and the ascending tie-break picks it;
      // (Ġ,ab) follows; (x,y) at Σc+n beats (Ġ,x) at Σc
      """SELECT * FROM (VALUES
        |  (CAST(0 AS INTEGER), 'a', 'b'),
        |  (CAST(1 AS INTEGER), chr(288), 'ab'),
        |  (CAST(2 AS INTEGER), 'x', 'y')) AS t(rank, mleft, mright)
        |ORDER BY rank""".stripMargin),

    // TFRecord/tf.Example EXPORT → re-ingest roundtrip (the tf.data
    // training-shard shape; q187/q188's third sibling on the shared
    // sharded-write protocol): curated (uri, text, n) rows land as
    // shard-k.tfrecord files of canonical Example protos with both
    // masked CRC32Cs, then come back through the framing + proto
    // readers. The oracle rebuilds the rows from events — a record
    // lost, duplicated, or corrupted anywhere in the loop fails.
    Query("q194_tfrecord_export_roundtrip", (s, dir) => {
      val g = daySlotCounts(s, dir)
        .withColumn("id",
          datediff(col("d"), lit(java.sql.Date.valueOf("1970-01-01"))))
        .select(
          concat(lit("https://example.com/"), col("id"), lit("/"),
            col("slot")).as("uri"),
          concat(lit("Doc "), col("id"), lit(" events="),
            col("count")).as("text"),
          col("count").as("n"),
          // a FloatList feature (the embedding shape) with exactly-
          // representable dyadic values, so the oracle compares floats
          // with zero tolerance
          array((col("count") / lit(4.0)).cast("float"),
            (col("count") / lit(8.0)).cast("float")).as("emb"))
      val outDir = fixtureDir(s, dir, "graft_tfx")
      graft.functions.TfExample.writeExampleShards(g, "uri",
        Seq("uri", "text"), Seq("n"), outDir, nShards = 8,
        floatListCols = Seq("emb"))
      val files = s.read.format("binaryFile").load(outDir)
        .select(regexp_extract(col("path"), "shard-([0-9]+)", 1)
          .cast("long").as("id"), col("content").as("tfr"))
      graft.functions.TfExample.featureTable(files, "id", "tfr")
        .groupBy(col("id"), col("rec_idx"))
        .agg(
          max(when(col("key") === "uri",
            try_element_at(col("text_vals"), lit(1)))).as("uri"),
          max(when(col("key") === "text",
            try_element_at(col("text_vals"), lit(1)))).as("text"),
          max(when(col("key") === "n",
            try_element_at(col("int64_vals"), lit(1)))).as("n"),
          max(when(col("key") === "emb",
            try_element_at(col("float_vals"), lit(1)))).cast("double")
            .as("emb0"),
          max(when(col("key") === "emb",
            try_element_at(col("float_vals"), lit(2)))).cast("double")
            .as("emb1"))
        .select("uri", "text", "n", "emb0", "emb1")
        .orderBy("uri")
    },
      // TFRecord export roundtrip: rows from PRESENT (day, slot) cells
      s"""${slotCountsCte("BIGINT")},
        |rows_ AS (SELECT
        |    CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS id,
        |    slot, cnt FROM g)
        |SELECT 'https://example.com/' || CAST(id AS VARCHAR) || '/' ||
        |         CAST(slot AS VARCHAR) AS uri,
        |       'Doc ' || CAST(id AS VARCHAR) || ' events=' ||
        |         CAST(cnt AS VARCHAR) AS text,
        |       cnt AS n,
        |       CAST(cnt AS DOUBLE) / 4 AS emb0,
        |       CAST(cnt AS DOUBLE) / 8 AS emb1
        |FROM rows_
        |ORDER BY uri""".stripMargin),

    // robots.txt compliance filtering (RFC 9309 — the politeness gate
    // between a URL frontier and fetching): group selection by product
    // token (a named group SHADOWS '*'), longest-path-match with
    // allow-on-tie, '*' wildcards and '$' anchors. URL paths cycle
    // public / disallowed / allow-override / agent-specific / anchored-
    // wildcard cases plus a robots-less domain; the oracle states every
    // decision closed-form per slot and agent.
    Query("q198_robots_filter", (s, dir) => {
      val sp = s; import sp.implicits._
      val robots = Seq(("a.test",
        "User-agent: *\nDisallow: /private\nAllow: /private/ok\n" +
          "Disallow: /*.php$\n\nUser-agent: graftbot\nDisallow: /tmp\n"))
        .toDF("domain", "txt")
      val g = daySlotCounts(s, dir)
        .withColumn("id",
          datediff(col("d"), lit(java.sql.Date.valueOf("1970-01-01")))
            .cast("long"))
      val domain = when(col("slot") === 9, lit("b.test"))
        .otherwise(lit("a.test"))
      val path = when(col("slot") % 5 === 0, concat(lit("/public/x"), col("count")))
        .when(col("slot") % 5 === 1, concat(lit("/private/x"), col("count")))
        .when(col("slot") % 5 === 2, concat(lit("/private/ok/x"), col("count")))
        .when(col("slot") % 5 === 3, concat(lit("/tmp/x"), col("count")))
        .otherwise(concat(lit("/x"), col("count"), lit(".php")))
      // materialize the URL frame once (guide §2.3): robotsAllowed
      // references its input twice (distinct-verdict side + join-back),
      // and two agents double that — without this the events aggregate
      // evaluated FOUR times per run (bench sweep releases the blocks)
      val urls = g.select(col("id"), col("slot"),
        concat(lit("https://"), domain, path).as("url"))
        .localCheckpoint(true)
      val byAgent = Seq("graftbot", "otherbot").map { a =>
        graft.functions.Web.robotsAllowed(urls, "url", robots,
          "domain", "txt", a).withColumn("agent", lit(a))
      }
      byAgent.reduce(_ unionByName _)
        .select(col("id"), col("slot"), col("agent"), col("robots_allowed"))
        .orderBy("id", "slot", "agent")
    },
      // robots decisions closed-form: slot 9 is the robots-less domain;
      // graftbot's specific group only disallows /tmp (slot%5=3); the '*'
      // group disallows /private (1) and the anchored /*.php$ (4), the
      // /private/ok allow-override (2) outranks by length
      s"""${slotCountsCte("BIGINT")},
        |rows_ AS (SELECT
        |    CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS id,
        |    slot FROM g)
        |SELECT id, slot, agent,
        |  CASE WHEN slot = 9 THEN true
        |       WHEN agent = 'graftbot' THEN slot % 5 <> 3
        |       ELSE slot % 5 NOT IN (1, 4) END AS robots_allowed
        |FROM rows_
        |CROSS JOIN (SELECT unnest(['graftbot', 'otherbot']) AS agent) a
        |ORDER BY id, slot, agent""".stripMargin),

    // Sitemap XML URL discovery (sitemaps.org — robots' companion
    // crawl input): <urlset> entries with loc/lastmod/priority and
    // entity-escaped query strings, plus <sitemapindex> children
    // surfaced for recursion. Oracle restates every row closed-form —
    // an entity left undecoded or an entry dropped fails the compare.
    Query("q199_sitemap_urls", (s, dir) => {
      val g = daySlotCounts(s, dir)
        .withColumn("id",
          datediff(col("d"), lit(java.sql.Date.valueOf("1970-01-01")))
            .cast("long"))
      val urlset = concat(
        lit("<urlset><url><loc>https://e.com/"), col("id"), lit("/"),
        col("slot"), lit("?a="), col("count"),
        lit("&amp;b=2</loc><lastmod> 2024-01-0"), (col("slot") % 9) + 1,
        lit(" </lastmod><priority>0."), col("slot"),
        lit("</priority></url><url><loc>https://e.com/"), col("id"),
        lit("/"), col("slot"), lit("/alt</loc></url></urlset>"))
      val index = concat(
        lit("<sitemapindex><sitemap><loc>https://e.com/sm/"), col("id"),
        lit("/1.xml</loc></sitemap><sitemap><loc>https://e.com/sm/"),
        col("id"), lit("/2.xml</loc></sitemap></sitemapindex>"))
      val docs = g.select(
        (col("id") * 10 + col("slot")).as("doc"), col("slot"),
        when(col("slot") === 9, index).otherwise(urlset).as("xml"))
      graft.functions.Web.sitemapUrls(docs, "doc", "xml")
        .select(col("doc"), col("entry_idx"), col("is_index"),
          col("loc"), col("lastmod"), col("changefreq"), col("priority"))
        .orderBy("doc", "entry_idx")
    },
      // Sitemap rows closed-form: two urlset entries per slot<9 doc
      // (second loc-only), two index children on slot 9; &amp; decodes,
      // lastmod whitespace trims
      s"""${slotCountsCte("BIGINT")},
        |rows_ AS (SELECT
        |    CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) * 10
        |      + slot AS doc,
        |    CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS id,
        |    slot, cnt FROM g),
        |e0 AS (SELECT doc, 0 AS entry_idx, false AS is_index,
        |    'https://e.com/' || CAST(id AS VARCHAR) || '/' ||
        |      CAST(slot AS VARCHAR) || '?a=' || CAST(cnt AS VARCHAR) ||
        |      '&b=2' AS loc,
        |    '2024-01-0' || CAST(slot % 9 + 1 AS VARCHAR) AS lastmod,
        |    '' AS changefreq,
        |    '0.' || CAST(slot AS VARCHAR) AS priority
        |  FROM rows_ WHERE slot < 9),
        |e1 AS (SELECT doc, 1 AS entry_idx, false AS is_index,
        |    'https://e.com/' || CAST(id AS VARCHAR) || '/' ||
        |      CAST(slot AS VARCHAR) || '/alt' AS loc,
        |    '' AS lastmod, '' AS changefreq, '' AS priority
        |  FROM rows_ WHERE slot < 9),
        |ix AS (SELECT doc, CAST(k AS INTEGER) AS entry_idx, true AS is_index,
        |    'https://e.com/sm/' || CAST(id AS VARCHAR) || '/' ||
        |      CAST(k + 1 AS VARCHAR) || '.xml' AS loc,
        |    '' AS lastmod, '' AS changefreq, '' AS priority
        |  FROM rows_ CROSS JOIN (SELECT unnest([0, 1]) AS k) kk
        |  WHERE slot = 9)
        |SELECT * FROM e0 UNION ALL SELECT * FROM e1 UNION ALL
        |SELECT * FROM ix
        |ORDER BY doc, entry_idx""".stripMargin),

    // Crawl → LINK GRAPH edges (the WAT shape): out-links extracted
    // and absolutized from the scanned pages feed the PageRank family
    // directly. The boilerplate fixture's nine nav/cookie/footer
    // hrefs (all root-relative) are known per page, so the oracle
    // states every (page, dst) edge literally; a missed href, a botched
    // absolutization, or a fragment leak changes the edge set.
    Query("q200_link_graph_edges", (s, dir) => {
      val path = warcBoilerplateFixture(s, dir)
      val scan = s.read.format("warc")
        .option("maxSplitBytes", "4096").load(path)
      scan.filter(col("warc_type") === "response" && col("http_status") === 200)
        .select(
          regexp_extract(col("path"), "([0-9]+)\\.warc", 1)
            .cast("long").as("id"),
          regexp_extract(col("target_uri"), "/([0-9]+)$", 1)
            .cast("int").as("slot"),
          explode(graft.functions.Web.extractLinks(
            col("payload_text"), col("target_uri"))).as("dst"))
        .groupBy("id", "slot", "dst")
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy("id", "slot", "dst")
    },
      // Link-graph edges closed-form: nine root-relative boilerplate
      // hrefs plus an unquoted /u, a dot-segment ../../up.html (folds to
      // the root), and a path-relative x/../rel.html (folds to the page
      // directory) per 200-status page — all absolutized against the
      // page origin, EXCEPT slot 7 whose <base href> redirects every
      // link to the CDN origin (base directory /b/ for the relative one)
      s"""${slotCountsCte("BIGINT")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |ids AS (SELECT d, CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS id FROM days),
        |resp AS (SELECT ids.id, s.s AS slot, coalesce(g.cnt, 0) AS cnt,
        |         CASE WHEN s.s = 7 THEN 'https://cdn.example.org'
        |              ELSE 'https://example.com' END AS origin
        |         FROM ids
        |         CROSS JOIN (SELECT CAST(unnest(range(10)) AS INTEGER) AS s) s
        |         LEFT JOIN g ON g.d = ids.d AND g.slot = s.s),
        |rooted AS (SELECT id, slot, origin || p AS dst
        |  FROM resp
        |  CROSS JOIN (SELECT unnest(['/', '/a', '/c', '/l', '/p', '/s',
        |    '/t', '/pr', '/si', '/u', '/up.html']) AS p) links
        |  WHERE cnt % 7 <> 0),
        |reldir AS (SELECT id, slot,
        |    CASE WHEN slot = 7 THEN 'https://cdn.example.org/b/rel.html'
        |         ELSE 'https://example.com/' || CAST(id AS VARCHAR) ||
        |           '/rel.html' END AS dst
        |  FROM resp WHERE cnt % 7 <> 0)
        |SELECT id, slot, dst, CAST(1 AS BIGINT) AS n FROM
        |  (SELECT * FROM rooted UNION ALL SELECT * FROM reldir)
        |ORDER BY id, slot, dst""".stripMargin),

    // robots.txt → SITEMAP discovery → gzipped fetch → URL frontier:
    // the composed crawl loop q198/q199 left open (real frontiers FIND
    // sitemaps via robots' Sitemap: lines, and the wild's dominant
    // shape is sitemap.xml.gz). Per day: robots carries two Sitemap
    // refs, only the .xml.gz one is in the fetch table (the inner join
    // drops the unfetched ref), the body inflates in-column and parses
    // to one loc per slot with an entity-escaped query. The oracle
    // restates the frontier closed-form — a dropped Sitemap line, a
    // broken inflate, or an undecoded entity fails the compare.
    Query("q201_robots_sitemap_frontier", (s, dir) => {
      val sp = s; import sp.implicits._
      val daily = FixtureGrid(s, dir).rows
      val robots = daily.map { case (id, _) =>
        (s"d$id.test",
          s"User-agent: *\nDisallow: /private\n" +
            s"Sitemap: https://d$id.test/sm.xml.gz\n" +
            s"Sitemap: https://d$id.test/unfetched.xml\n")
      }.toDF("domain", "txt")
      val fetched = daily.map { case (id, cnt) =>
        val xml = "<urlset>" + (0 until 10).map { slot =>
          s"<url><loc>https://d$id.test/p/$slot?n=${cnt(slot)}&amp;v=1</loc></url>"
        }.mkString + "</urlset>"
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bos)
        gz.write(xml.getBytes("UTF-8")); gz.close()
        (s"https://d$id.test/sm.xml.gz", bos.toByteArray)
      }.toDF("url", "body")
      val refs = Web.robotsRules(robots, "domain", "txt")
        .filter(col("rule") === "sitemap")
        .select(col("domain"), col("path").as("sm_url"))
      val xmls = refs.join(fetched, col("sm_url") === col("url"))
        .select(col("domain"),
          decode(Web.inflate(col("body")), "UTF-8").as("xml"))
      Web.sitemapUrls(xmls, "domain", "xml")
        .select(col("domain"), col("entry_idx"), col("loc"))
        .orderBy("domain", "entry_idx")
    },
      // robots → sitemap frontier closed-form: one loc per (day, slot)
      // with the &amp; entity decoded; the unfetched.xml ref contributes
      // nothing (no fetch row)
      s"""${slotCountsCte("BIGINT")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |ids AS (SELECT d, CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS id FROM days),
        |resp AS (SELECT ids.id, s.s AS slot, coalesce(g.cnt, 0) AS cnt
        |         FROM ids
        |         CROSS JOIN (SELECT CAST(unnest(range(10)) AS INTEGER) AS s) s
        |         LEFT JOIN g ON g.d = ids.d AND g.slot = s.s)
        |SELECT 'd' || CAST(id AS VARCHAR) || '.test' AS domain,
        |       slot AS entry_idx,
        |       'https://d' || CAST(id AS VARCHAR) || '.test/p/' ||
        |         CAST(slot AS VARCHAR) || '?n=' || CAST(cnt AS VARCHAR) ||
        |         '&v=1' AS loc
        |FROM resp
        |ORDER BY domain, entry_idx""".stripMargin),

    // URL dedup across PERCENT-ENCODING variants (RFC 3986 §6.2.2.2 +
    // §5.2.4 composed): %7Euser, ~user, and %7euser/zz/%2E%2E/ are the
    // SAME resource — unreserved escapes decode, %2E becomes a real
    // dot and folds, reserved escapes only uppercase (q=a%2fb stays
    // encoded as %2F; decoding it would CHANGE the query structure).
    Query("q202_url_percent_dedup", (s, dir) => {
      val aug = table(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://example.com/"),
          when(col("doc_id") % 3 === 0, lit("%7Euser/"))
            .when(col("doc_id") % 3 === 1, lit("~user/"))
            .otherwise(lit("%7euser/zz/%2E%2E/")),
          col("source"), lit("?q=a%2fb")).as("url"))
      Web.urlDedup(aug, "doc_id", "url").orderBy("canonical_url")
    },
      // percent-variant dedup closed-form: all three spellings fold to
      // '~user/<source>' and the reserved %2f only uppercases
      """SELECT 'https://example.com/~user/' || source || '?q=a%2Fb'
        |         AS canonical_url,
        |       count(*) AS n_dups, min(doc_id) AS keeper_id
        |FROM documents GROUP BY source ORDER BY 1""".stripMargin),

    // REGISTRABLE-DOMAIN (eTLD+1) grouping, the publicsuffix.org
    // algorithm — what crawl domain caps actually key on: subdomains
    // of one registrant collapse (sub0/sub1/sub2.example.co.uk), a
    // layered registry does NOT over-merge (site0.com vs site1.com),
    // a private registry keeps each user site distinct
    // (user0/user1.github.io), and the wildcard+exception pair
    // (*.ck / !www.ck) routes cdn.www.ck to www.ck. The oracle
    // restates every eTLD+1 closed-form per doc_id residue.
    Query("q203_registrable_domain", (s, dir) => {
      val host = when(col("doc_id") % 5 === 0,
          concat(lit("sub"), (col("doc_id") % 3).cast("string"),
            lit(".example.co.uk")))
        .when(col("doc_id") % 5 === 1, lit("example.co.uk"))
        .when(col("doc_id") % 5 === 2,
          concat(lit("a.b.site"), (col("doc_id") % 2).cast("string"),
            lit(".com")))
        .when(col("doc_id") % 5 === 3,
          concat(lit("user"), (col("doc_id") % 2).cast("string"),
            lit(".github.io")))
        .otherwise(lit("cdn.www.ck"))
      table(s, dir, "documents")
        .select(col("doc_id"), Web.registrableDomain(host).as("etld1"))
        .groupBy("etld1")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper_id"))
        .orderBy("etld1")
    },
      // eTLD+1 closed-form per doc_id residue: %5 in (0,1) collapse to
      // example.co.uk, %5=2 splits by parity on the REGISTRANT label,
      // %5=3 keeps each github.io user site, %5=4 is the !www.ck
      // exception under *.ck
      """WITH e AS (SELECT doc_id,
        |  CASE WHEN doc_id % 5 IN (0, 1) THEN 'example.co.uk'
        |       WHEN doc_id % 5 = 2 THEN 'site' ||
        |         CAST(doc_id % 2 AS VARCHAR) || '.com'
        |       WHEN doc_id % 5 = 3 THEN 'user' ||
        |         CAST(doc_id % 2 AS VARCHAR) || '.github.io'
        |       ELSE 'www.ck' END AS etld1 FROM documents)
        |SELECT etld1, count(*) AS n_docs, min(doc_id) AS keeper_id
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin),

    // HTML → MARKDOWN (the structure-preserving corpus export:
    // markdown-trained models consume headings/lists/links/code, which
    // htmlToText flattens away): heading, bold, entity, list, link,
    // and fenced-code shapes all exercised per (day, slot); the oracle
    // restates the exact markdown string closed-form — a missed
    // paragraph break, a glued emphasis marker, or a leaked script
    // body fails the compare.
    Query("q204_html_to_markdown", (s, dir) => {
      val g = daySlotCounts(s, dir)
        .withColumn("id",
          datediff(col("d"), lit(java.sql.Date.valueOf("1970-01-01")))
            .cast("long"))
      val html = concat(
        lit("<h1>Day "), col("id"),
        lit("</h1><p>Slot <b>"), col("slot"),
        lit("</b> saw &amp; counted "), col("count"),
        lit(" events</p><ul><li>first "), col("count"),
        lit("</li><li><a href=\"/d/"), col("id"),
        lit("\">details</a></li></ul><pre><code>n = "), col("count"),
        lit("</code></pre><script>track()</script>"))
      g.select(col("id"), col("slot"), Text.htmlToMarkdown(html).as("md"))
        .withColumn("n_lines", size(split(col("md"), "\n")))
        .orderBy("id", "slot")
    },
      // markdown restated byte-for-byte: heading para, bold span, the
      // decoded &amp;, two dash items, link, fenced code; 10 lines
      s"""${slotCountsCte("BIGINT")}
        |SELECT CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS id,
        |       slot,
        |       '# Day ' || CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT)
        |         || chr(10) || chr(10) ||
        |         'Slot **' || CAST(slot AS VARCHAR) || '** saw & counted ' ||
        |         CAST(cnt AS VARCHAR) || ' events' || chr(10) || chr(10) ||
        |         '- first ' || CAST(cnt AS VARCHAR) || chr(10) ||
        |         '- [details](/d/' ||
        |         CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) ||
        |         ')' || chr(10) || chr(10) ||
        |         '```' || chr(10) || 'n = ' || CAST(cnt AS VARCHAR) ||
        |         chr(10) || '```' AS md,
        |       CAST(10 AS INTEGER) AS n_lines
        |FROM g
        |ORDER BY id, slot""".stripMargin),

    // FRONTIER EXPANSION — the whole crawl loop composed in ONE plan:
    // scanned pages → link extraction (base href + dot segments) →
    // URL canonicalization → frontier dedup (distinct) → robots
    // compliance for the crawler → registrable-domain grouping. The
    // boilerplate pages' 11 shared root-relative paths collapse to 11
    // frontier URLs per origin regardless of corpus size (dedup is
    // the point); per-day rel.html URLs stay distinct; example.com's
    // 'Disallow: /p' blocks /p AND /pr (RFC prefix match); the
    // robots-less CDN origin is fully allowed. Oracle restates every
    // (eTLD+1, verdict) count closed-form from day/slot presence.
    Query("q205_frontier_expansion", (s, dir) => {
      val sp = s; import sp.implicits._
      val path = warcBoilerplateFixture(s, dir)
      val scan = s.read.format("warc")
        .option("maxSplitBytes", "4096").load(path)
      val robots = Seq(("example.com", "User-agent: *\nDisallow: /p\n"))
        .toDF("domain", "txt")
      // materialize the deduplicated frontier once (guide §2.3): it is the
      // expensive subtree (warc scan → link extraction → canonicalize),
      // and robotsAllowed references its input twice (distinct-verdict
      // side + join-back) — without this the 60-task extraction stage ran
      // twice per query (bench sweep releases the blocks)
      val frontier = scan
        .filter(col("warc_type") === "response" && col("http_status") === 200)
        .select(explode(Web.extractLinks(
          col("payload_text"), col("target_uri"))).as("raw_url"))
        .select(Web.canonicalizeUrl(col("raw_url")).as("url"))
        .distinct()
        .localCheckpoint(true)
      Web.robotsAllowed(frontier, "url", robots, "domain", "txt", "graftbot")
        .groupBy(
          Web.registrableDomain(Web.hostOf(col("url"))).as("etld1"),
          col("robots_allowed"))
        .agg(count(lit(1)).as("n_urls"))
        .orderBy("etld1", "robots_allowed")
    },
      // frontier closed-form: 11 shared example.com paths (2 under the
      // /p prefix rule → disallowed) + one rel.html PER DAY with a
      // non-7 200 page; the <base href> CDN origin (eTLD+1 example.org)
      // contributes 12 shared URLs when any slot-7 page is 200
      s"""${slotCountsCte("BIGINT")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |ids AS (SELECT d, CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS id FROM days),
        |resp AS (SELECT ids.id, s.s AS slot, coalesce(g.cnt, 0) AS cnt
        |         FROM ids
        |         CROSS JOIN (SELECT CAST(unnest(range(10)) AS INTEGER) AS s) s
        |         LEFT JOIN g ON g.d = ids.d AND g.slot = s.s),
        |d_non7 AS (SELECT CAST(count(DISTINCT id) AS BIGINT) AS d
        |           FROM resp WHERE slot <> 7 AND cnt % 7 <> 0),
        |has_non7 AS (SELECT count(*) > 0 AS h
        |             FROM resp WHERE slot <> 7 AND cnt % 7 <> 0),
        |has7 AS (SELECT count(*) > 0 AS h
        |         FROM resp WHERE slot = 7 AND cnt % 7 <> 0)
        |SELECT * FROM (
        |  SELECT 'example.com' AS etld1, false AS robots_allowed,
        |         CAST(2 AS BIGINT) AS n_urls
        |  WHERE (SELECT h FROM has_non7)
        |  UNION ALL
        |  SELECT 'example.com', true,
        |         CAST(9 AS BIGINT) + (SELECT d FROM d_non7)
        |  WHERE (SELECT h FROM has_non7)
        |  UNION ALL
        |  SELECT 'example.org', true, CAST(12 AS BIGINT)
        |  WHERE (SELECT h FROM has7)
        |)
        |ORDER BY etld1, robots_allowed""".stripMargin),

    // CDX(J) index generation over the splittable warc scan — the
    // Common Crawl index shape that makes a petabyte of WARC
    // random-accessible: SURT keys (host labels reversed, so one
    // domain's pages sort contiguously), 14-digit timestamps, status,
    // and structural member geometry (offsets non-negative; every
    // member length positive, null only for a file's last member,
    // whose end only the file length knows). Offsets themselves are
    // gzip-compressed sizes — not closed-form — so the gate pins the
    // closed-form columns exactly and the geometry as booleans.
    Query("q206_surt_cdx_index", (s, dir) => {
      val path = warcBoilerplateFixture(s, dir)
      val scan = s.read.format("warc")
        .option("maxSplitBytes", "4096").load(path)
      Web.cdxjLines(scan).select(
          regexp_extract(col("cdxj"), "\"filename\":\"([0-9]+)\\.warc", 1)
            .cast("long").as("id"),
          col("surt"), col("ts14"), col("status"),
          (col("offset") >= 0 &&
            (col("length").isNull || col("length") > 0)).as("len_ok"))
        .orderBy("id", "surt")
    },
      // CDX rows closed-form: one per response record, SURT-keyed,
      // constant fixture timestamp, status by the cnt%7 rule, geometry
      // booleans all true
      s"""${slotCountsCte("BIGINT")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |ids AS (SELECT d, CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS id FROM days),
        |resp AS (SELECT ids.id, s.s AS slot, coalesce(g.cnt, 0) AS cnt
        |         FROM ids
        |         CROSS JOIN (SELECT CAST(unnest(range(10)) AS INTEGER) AS s) s
        |         LEFT JOIN g ON g.d = ids.d AND g.slot = s.s)
        |SELECT id,
        |       'com,example)/' || CAST(id AS VARCHAR) || '/' ||
        |         CAST(slot AS VARCHAR) AS surt,
        |       '20240101000000' AS ts14,
        |       CAST(CASE WHEN cnt % 7 = 0 THEN 404 ELSE 200 END
        |         AS INTEGER) AS status,
        |       true AS len_ok
        |FROM resp
        |ORDER BY id, surt""".stripMargin),

    // Rule-based sentence segmentation (the chunk-boundary unit):
    // terminator runs, '!' boundaries, the 'fig.' abbreviation guard
    // (followed by a digit — the classic false boundary), trailing
    // sentence. The oracle restates each (group, sentence) row.
    Query("q207_sentence_split", (s, dir) => {
      val g = daySlotCounts(s, dir)
        .withColumn("id",
          datediff(col("d"), lit(java.sql.Date.valueOf("1970-01-01")))
            .cast("long"))
      val text = concat(
        lit("Dr. Smith counted "), col("count"),
        lit(" events. The total was "), col("count"),
        lit("! See fig. 3 for details. Done."))
      g.select(col("id"), col("slot"),
          posexplode(Text.sentences(text)).as(Seq("sent_idx", "sentence")))
        .orderBy("id", "slot", "sent_idx")
    },
      // sentence rows closed-form: Dr. guard holds, '.' and '!'
      // boundaries fire, 'fig.' before a digit does not
      s"""${slotCountsCte("BIGINT")},
        |rows_ AS (SELECT
        |    CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS id,
        |    slot, cnt FROM g)
        |SELECT id, slot, k.sent_idx,
        |  CASE k.sent_idx
        |    WHEN 0 THEN 'Dr. Smith counted ' || CAST(cnt AS VARCHAR) ||
        |      ' events.'
        |    WHEN 1 THEN 'The total was ' || CAST(cnt AS VARCHAR) || '!'
        |    WHEN 2 THEN 'See fig. 3 for details.'
        |    ELSE 'Done.' END AS sentence
        |FROM rows_
        |CROSS JOIN (SELECT CAST(unnest(range(4)) AS INTEGER) AS sent_idx) k
        |ORDER BY id, slot, sent_idx""".stripMargin),

    // WARC → text extraction pipeline (the WET conversion step) over
    // the splittable scan: keep 200-status responses, strip
    // script/style/tags, decode entities (numeric refs included),
    // collapse whitespace, count tokens. The oracle recomputes the
    // EXPECTED visible text closed-form from events (not by replaying
    // the regexes), so an extraction bug — a leaked script body, an
    // undecoded entity, a leaked chunk-size line — fails the compare.
    Query("q180_warc_text_pipeline", (s, dir) => {
      val path = warcFilesFixture(s, dir)
      val scan = s.read.format("warc")
        .option("maxSplitBytes", "4096").load(path)
      val w = Window.partitionBy(col("id"))
        .orderBy(col("rec_offset"), col("rec_seq"))
      scan.select(
          regexp_extract(col("path"), "([0-9]+)\\.warc", 1)
            .cast("long").as("id"),
          col("rec_offset"), col("rec_seq"), col("warc_type"),
          col("http_status"), col("target_uri"), col("payload_text"))
        .withColumn("rec_idx", (row_number().over(w) - 1).cast("int"))
        .filter(col("warc_type") === "response" && col("http_status") === 200)
        .select(col("id"), col("rec_idx"), col("target_uri"),
          Text.htmlToText(col("payload_text")).as("text"))
        .withColumn("n_tokens", size(split(col("text"), " ")))
        .orderBy("id", "rec_idx")
    },
      // WARC text extraction: the expected visible text is rebuilt
      // closed-form — 'Day <id> events=<cnt> & more' — independent of the
      // operator's regex chain
      s"""${slotCountsCte("BIGINT")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |ids AS (SELECT d, CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS id FROM days),
        |resp AS (SELECT ids.id, s.s AS slot, coalesce(g.cnt, 0) AS cnt
        |         FROM ids
        |         CROSS JOIN (SELECT CAST(unnest(range(10)) AS INTEGER) AS s) s
        |         LEFT JOIN g ON g.d = ids.d AND g.slot = s.s)
        |SELECT id, CAST(slot + 1 AS INTEGER) AS rec_idx,
        |       'https://example.com/' || CAST(id AS VARCHAR) || '/' ||
        |         CAST(slot AS VARCHAR) AS target_uri,
        |       'Day ' || CAST(id AS VARCHAR) || ' events=' ||
        |         CAST(cnt AS VARCHAR) || ' & more ' || chr(8212) ||
        |         ' ok! ' || chr(8220) || 'q' || chr(8221) || chr(8230) ||
        |         ' 5' || chr(176) || ' ' || chr(169) AS text,
        |       10 AS n_tokens
        |FROM resp WHERE cnt % 7 <> 0
        |ORDER BY id, rec_idx""".stripMargin),

    // Matroska/WebM demux — the web's OTHER video container (VP9/AV1 +
    // Opus crawls): EBML cluster/block walk with timestamp re-basing,
    // fixed lacing, DefaultDuration stepping, and SimpleBlock keyframe
    // flags, all replayed closed-form by the oracle (byte offsets are
    // EBML-header-dependent, so they are pinned byte-exactly in MkvSpec
    // instead of the SQL gate).
    Query("q178_mkv_demux", (s, dir) => {
      val mkvs = mkvEventsFixture(s, dir)
      Multimodal.demuxMkv(mkvs, "id", "mkv")
        .select("id", "track_id", "sample_idx", "byte_size", "ts",
          "keyframe", "codec")
        .orderBy("id", "track_id", "sample_idx")
    },
      // WebM frame table from events: video sizes by q174's formula with
      // two-cluster timestamps, audio a 10-frame fixed lace stepping 20 ms
      s"""${slotCountsCte("BIGINT")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |ids AS (SELECT d, CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS id FROM days),
        |vrows AS (SELECT ids.id, CAST(1 AS BIGINT) AS track_id,
        |            i.i AS sample_idx,
        |            CAST((coalesce(g.cnt, 0) * 3 + i.i) % 200 + 1 AS BIGINT) AS byte_size,
        |            CAST(CASE WHEN i.i < 4 THEN i.i
        |                 ELSE 1000 + (i.i - 4) END AS BIGINT) AS ts,
        |            i.i % 3 = 0 AS keyframe, 'V_VP9' AS codec
        |          FROM ids
        |          CROSS JOIN (SELECT CAST(unnest(range(8)) AS INTEGER) AS i) i
        |          LEFT JOIN g ON g.d = ids.d AND g.slot = CAST(i.i % 10 AS INTEGER)
        |          WHERE i.i < 5 + ids.id % 3),
        |arows AS (SELECT ids.id, CAST(2 AS BIGINT) AS track_id,
        |            CAST(j.j AS INTEGER) AS sample_idx,
        |            CAST(64 AS BIGINT) AS byte_size,
        |            CAST(j.j * 20 AS BIGINT) AS ts,
        |            TRUE AS keyframe, 'A_OPUS' AS codec
        |          FROM ids
        |          CROSS JOIN (SELECT CAST(unnest(range(10)) AS INTEGER) AS j) j)
        |SELECT * FROM vrows UNION ALL SELECT * FROM arows
        |ORDER BY id, track_id, sample_idx""".stripMargin),

    // Fragmented MP4 (DASH/CMAF): the SAME logical table as q174
    // delivered as moof/tfhd/trun runs with tfdt re-basing and trex
    // defaults — fragmentation must be invisible to the sample table,
    // so q174's oracle applies verbatim; any slip in fragment
    // addressing, default resolution, or decode-time accumulation
    // breaks the compare.
    Query("q177_mp4_fragmented_demux", (s, dir) => {
      val mp4s = mp4FragmentedEventsFixture(s, dir)
      Multimodal.demuxMp4(mp4s, "id", "mp4")
        .select("id", "track_id", "sample_idx", "byte_size", "byte_offset",
          "dts", "keyframe", "codec")
        .orderBy("id", "track_id", "sample_idx")
    },
      // fragmentation is invisible to the sample table -> q174 verbatim
      Mp4SampleTableSql),

    // Projected-CRS COG scan (GTModelType=1, EPSG:3857 — the
    // Sentinel-2/commercial-imagery shape): the scan presents
    // northing/easting, NEVER degrees, and the Projection kit closes
    // the loop — unproject3857 → project(3857) must land back on the
    // scanned model coordinates (roundtrip_ok pins inverse∘forward on
    // every cell). The oracle replays the integer-exact affine from
    // events with zero TIFF code.
    Query("q173_geotiff_projected_scan", (s, dir) => {
      val path = geotiffProjectedFixture(s, dir)
      val scan = s.read.format("geotiff").load(path)
      val (lat, lon) = Projection.unproject3857(col("northing"), col("easting"))
      val (nBack, eBack) = Projection.project(lat, lon, 3857)
      scan.select(
          regexp_extract(col("path"), "([0-9]+)\\.tif$", 1)
            .cast("long").as("id"),
          col("northing"), col("easting"), col("band"), col("value"),
          (abs(nBack - col("northing")) < lit(1e-6) &&
            abs(eBack - col("easting")) < lit(1e-6)).as("roundtrip_ok"))
        .orderBy("id", "northing", "easting")
    },
      // Projected COG: replay the Web-Mercator affine (integer-plus-half
      // metres, exactly double-representable); the Spark-side
      // unproject→project roundtrip must hold on every cell
      s"""${slotCountsCte("BIGINT")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |ids AS (SELECT d, CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS id FROM days),
        |px AS (SELECT ids.id, i.i,
        |         CAST(i.i // 8 AS BIGINT) AS y, CAST(i.i % 8 AS BIGINT) AS x,
        |         coalesce(g.cnt, 0) AS cnt
        |       FROM ids
        |       CROSS JOIN (SELECT CAST(unnest(range(64)) AS INTEGER) AS i) i
        |       LEFT JOIN g ON g.d = ids.d AND g.slot = CAST(i.i % 10 AS INTEGER))
        |SELECT px.id,
        |       CAST(6000000 - (y + 0.5) * 1000 AS DOUBLE) AS northing,
        |       CAST(-1000000 + (x + 0.5) * 1000 AS DOUBLE) AS easting,
        |       1 AS band,
        |       CASE WHEN cnt % 5 = 0 THEN NULL
        |            ELSE CAST((cnt * 7 + i) % 1000000 AS DOUBLE)
        |       END AS value,
        |       TRUE AS roundtrip_ok
        |FROM px
        |ORDER BY id, northing, easting""".stripMargin),

    // CDF-5 (PnetCDF 64-bit data format): the q61 grid with version byte
    // 5, wide header integers, and an NC_INT64 variable (LongType) with an
    // int64 fill → the HPC-produced classic shape (`nccopy -k cdf5`).
    Query("q144_nc_cdf5_scan", (s, dir) => {
      val path = ncCdf5Fixture(s, dir)
      s.read.format("netcdf").load(path).orderBy("time", "slot")
    },
      // CDF-5 int64 counts: q82's spine with BIGINT cnt, fills → NULL
      s"""${slotCountsCte("BIGINT")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |spine AS (SELECT d, CAST(s AS INTEGER) AS slot
        |          FROM days, (SELECT unnest(range(10)) AS s))
        |SELECT spine.d AS time, spine.slot AS slot, g.cnt AS cnt
        |FROM spine LEFT JOIN g ON spine.d = g.d AND spine.slot = g.slot
        |ORDER BY 1, 2""".stripMargin),

    // GRIB2 SPECTRAL fields (grid template 3.50 + DRS 5.50) — ERA5
    // model-level fields in the native MARS archive are spherical-harmonic
    // coefficients. The scan emits coefficient space: one row per (m, n,
    // part) under the m-major mode-1 ordering, real (0,0) coefficient
    // riding unpacked in the DRS. The oracle recomputes the same rows from
    // events + the hardcoded triangular pair→(m,n) map for M=3.
    Query("q142_grib_spectral_scan", (s, dir) => {
      val path = gribSpectralFixture(s, dir)
      s.read.format("grib-spectral").load(path)
        .select("time", "m", "n", "part", "value")
        .orderBy("time", "m", "n", "part")
    },
      // spectral coefficient rows: pair p (m-major, M=3) ↦ (m, n); re carries
      // the slot count (0 when no events), im carries the pair index
      s"""${slotCountsCte("DOUBLE")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |mn(slot, m, n) AS (VALUES (0,0,0),(1,0,1),(2,0,2),(3,0,3),(4,1,1),
        |                          (5,1,2),(6,1,3),(7,2,2),(8,2,3),(9,3,3)),
        |parts(part) AS (VALUES ('re'), ('im')),
        |spine AS (SELECT d, slot, m, n, part FROM days CROSS JOIN mn CROSS JOIN parts)
        |SELECT spine.d AS time, CAST(spine.m AS INTEGER) AS m,
        |       CAST(spine.n AS INTEGER) AS n, spine.part AS part,
        |       CASE WHEN spine.part = 're' THEN coalesce(g.cnt, 0.0)
        |            ELSE CAST(spine.slot AS DOUBLE) END AS value
        |FROM spine LEFT JOIN g ON spine.d = g.d AND spine.slot = g.slot
        |ORDER BY time, m, n, part""".stripMargin),

    // Template 5.51 — COMPLEX spectral packing, ECMWF's native archive
    // form: the sub-truncation-1 subset travels unpacked IEEE32, every
    // other coefficient is premultiplied by the Laplacian (n(n+1))^p
    // before simple packing and divided back on decode. p = 1.0 keeps the
    // multiplier integral, so the roundtrip is bit-exact and q142's
    // oracle applies verbatim.
    Query("q145_grib_spectral_complex_scan", (s, dir) => {
      val path = gribSpectralFixture(s, dir, complexSub = Some((1.0, 1)))
      s.read.format("grib-spectral").load(path)
        .select("time", "m", "n", "part", "value")
        .orderBy("time", "m", "n", "part")
    },
      // 5.51's p = 1.0 Laplacian keeps the roundtrip exact → q142's rows
      s"""${slotCountsCte("DOUBLE")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |mn(slot, m, n) AS (VALUES (0,0,0),(1,0,1),(2,0,2),(3,0,3),(4,1,1),
        |                          (5,1,2),(6,1,3),(7,2,2),(8,2,3),(9,3,3)),
        |parts(part) AS (VALUES ('re'), ('im')),
        |spine AS (SELECT d, slot, m, n, part FROM days CROSS JOIN mn CROSS JOIN parts)
        |SELECT spine.d AS time, CAST(spine.m AS INTEGER) AS m,
        |       CAST(spine.n AS INTEGER) AS n, spine.part AS part,
        |       CASE WHEN spine.part = 're' THEN coalesce(g.cnt, 0.0)
        |            ELSE CAST(spine.slot AS DOUBLE) END AS value
        |FROM spine LEFT JOIN g ON spine.d = g.d AND spine.slot = g.slot
        |ORDER BY time, m, n, part""".stripMargin),

    // q82's grid with HDF5 filter id 4 (szip) chunks — the CCSDS/AEC Rice
    // packing NASA/NOAA netCDF-4 products ship, served by the in-repo
    // Ccsds coder through ZarrCodec.SzipCodec (H5Zszip.c client-value
    // layout, libaec sz_compat mapping). Same oracle as q82: the codec is
    // invisible to cell values.
    Query("q141_nc4_szip_scan", (s, dir) => {
      val (path, _) = nc4EventsFixture(s, dir, "szip")
      s.read.format("netcdf").load(path).orderBy("time", "slot")
    },
      // szip chunks must decode to the identical grid → q82's oracle verbatim
      s"""${slotCountsCte("DOUBLE")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |spine AS (SELECT d, CAST(s AS INTEGER) AS slot
        |          FROM days, (SELECT unnest(range(10)) AS s))
        |SELECT spine.d AS time, spine.slot AS slot, g.cnt AS cnt
        |FROM spine LEFT JOIN g ON spine.d = g.d AND spine.slot = g.slot
        |ORDER BY 1, 2""".stripMargin),

    Query("q81_kerchunk_scan", (s, dir) => {
      // MultiZarrToZarr analog (S11): index the two-file NC fixture as ONE
      // kerchunk manifest (byte ranges into the original files, no copy),
      // then scan through the `kerchunk` DSv2 — same spine oracle as q61.
      val (ncDir, _) = ncEventsFixture(s, dir)
      val conf = s.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(ncDir).getFileSystem(conf)
      val parts = fs.listStatus(new org.apache.hadoop.fs.Path(ncDir)).toSeq
        .map(_.getPath.toString).filter(_.endsWith(".nc")).sorted
      val manifest = Kerchunk.combineNetcdf(conf, parts)
      val mPath = s"$ncDir/combined_refs.json"
      Kerchunk.writeManifest(conf, manifest, mPath)
      s.read.format("kerchunk").load(mPath).orderBy("time", "slot")
    },
      // the kerchunk manifest indexes the SAME two-file NC fixture q61 scans,
      // so the combined-manifest scan shares q61's spine oracle exactly
      s"""${slotCountsCte("DOUBLE")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |spine AS (SELECT d, CAST(s AS INTEGER) AS slot
        |          FROM days, (SELECT unnest(range(10)) AS s))
        |SELECT spine.d AS time, spine.slot AS slot, g.cnt AS cnt
        |FROM spine LEFT JOIN g ON spine.d = g.d AND spine.slot = g.slot
        |ORDER BY 1, 2""".stripMargin),

    // q80's publish→update→reopen lifecycle, zarr FORMAT 3: zarr.json
    // documents, c/-prefixed chunk keys, consolidated_metadata — the
    // reference reads/writes both formats (store.py:229-262), so the
    // engine must publish either on demand. Same oracle as q80.
    Query("q84_zarr_v3_roundtrip", (s, dir) => {
      val grid = zarrGrid(s, dir)
      val desc = DatasetDescriptor("events_grid_v3", "n",
        spatialDims = Seq("slot"), timeResolution = TimeSpan.Daily)
      val path = fixturePath(s, dir, "graft_zarr_v3", wipe = true)
      val store = new ZarrStore(s, path, desc, timeChunk = 8,
        spatialChunks = Some(Seq(4)), zarrFormat = 3)
      publishLifecycle(grid, 1000.0)(store.publish(_), store.publish(_))
      store.dataset().select("time", "slot", "n").orderBy("time", "slot")
    },
      // identical lifecycle, v3 metadata — the grid contents cannot differ
      ZarrLifecycleSql),

    // --- read-side gridded analytics: the xarray verbs users run on a
    // published store (resample / groupby-climatology / rolling / coarsen
    // / interp), each as a one-shuffle relational plan ---

    // weekly mean per cell (da.resample(time="W").mean())
    Query("q88_temporal_resample", (s, dir) =>
      GridAnalytics.temporalResample(eventsGrid(s, dir), "time",
        Seq("lat", "lon"), "value", "week")
        .withColumn("time", col("time").cast(TimestampNTZType))
        .orderBy("time", "lat", "lon"),
      // shared long-format grid for the analytics oracles: per (day, cell)
      // counts on the 10×10 half-degree grid — all-dyadic coordinates and
      // integer-valued doubles keep every engine's arithmetic exact
      s"""$GridCte
         |SELECT CAST(date_trunc('week', time) AS TIMESTAMP) AS time, lat, lon,
         |       avg(value) AS value
         |FROM grid GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // day-of-week climatology + per-observation anomaly
    // (da.groupby("time.dayofweek") - clim)
    Query("q89_climatology_anomaly", (s, dir) =>
      // the grid input (an events scan + aggregate) is referenced twice by
      // anomalies (row side + climatology side): materialize it once (r16,
      // guide §2.3). The operator's broadcast hint on the climatology side
      // keeps the join strategy despite the checkpoint's erased stats.
      GridAnalytics.anomalies(eventsGrid(s, dir).localCheckpoint(true), "time",
        Seq("lat", "lon"), "value", "dayofweek")
        .select("time", "lat", "lon", "value", "climatology", "anomaly")
        .orderBy("time", "lat", "lon"),
      s"""$GridCte,
         |clim AS (SELECT CAST(dayofweek(time) + 1 AS INT) AS dow, lat, lon,
         |                avg(value) AS climatology
         |         FROM grid GROUP BY 1, 2, 3)
         |SELECT g.time, g.lat, g.lon, g.value, c.climatology,
         |       g.value - c.climatology AS anomaly
         |FROM grid g JOIN clim c
         |  ON CAST(dayofweek(g.time) + 1 AS INT) = c.dow
         | AND g.lat = c.lat AND g.lon = c.lon
         |ORDER BY 1, 2, 3""".stripMargin),

    // 2×2 block sum with canonical block-centre coordinates
    // (da.coarsen(latitude=2, longitude=2).sum())
    Query("q90_spatial_coarsen", (s, dir) =>
      GridAnalytics.coarsen(eventsGrid(s, dir), "time", "lat", "lon", "value",
        lat0 = 40.0, dLat = 0.5, lon0 = -100.0, dLon = 0.5, fy = 2, fx = 2,
        agg = "sum")
        .orderBy("time", "lat", "lon"),
      s"""$GridCte,
         |b AS (SELECT time,
         |             CAST(FLOOR(round((lat - 40.0) / 0.5, 6) / 2) AS BIGINT) AS by,
         |             CAST(FLOOR(round((lon + 100.0) / 0.5, 6) / 2) AS BIGINT) AS bx,
         |             sum(value) AS value
         |      FROM grid GROUP BY 1, 2, 3)
         |SELECT time, CAST(40.0 + (by * 2 + 0.5) * 0.5 AS DOUBLE) AS lat,
         |       CAST(-100.0 + (bx * 2 + 0.5) * 0.5 AS DOUBLE) AS lon, value
         |FROM b ORDER BY 1, 2, 3""".stripMargin),

    // trailing 7-step mean per cell, minPeriods=3
    // (da.rolling(time=7, min_periods=3).mean())
    Query("q91_rolling_mean", (s, dir) =>
      GridAnalytics.rollingTime(eventsGrid(s, dir), "time",
        Seq("lat", "lon"), "value", k = 7, agg = "mean", minPeriods = 3)
        .orderBy("time", "lat", "lon"),
      s"""$GridCte
         |SELECT time, lat, lon, value,
         |       CASE WHEN count(value) OVER w >= 3 THEN avg(value) OVER w END
         |         AS rolling_mean
         |FROM grid
         |WINDOW w AS (PARTITION BY lat, lon ORDER BY time
         |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         |ORDER BY time, lat, lon""".stripMargin),

    // bilinear regrid of one day's 10×10 slice onto a 19×19 quarter-degree
    // target (da.interp(latitude=..., longitude=...)); absent source cells
    // exercise the present-corner renormalization path
    Query("q92_regrid_bilinear", (s, dir) => {
      val src = eventsGrid(s, dir)
        .filter(col("time") === ldt("2024-01-05T00:00:00"))
      val target = s.range(19 * 19).select(
        (lit(40.0) + expr("id div 19").cast("int") * 0.25).as("lat"),
        (lit(-100.0) + (col("id") % 19).cast("int") * 0.25).as("lon"))
      GridAnalytics.regridBilinear(src, target, None, "lat", "lon", "value",
        lat0 = 40.0, dLat = 0.5, nLat = 10, lon0 = -100.0, dLon = 0.5, nLon = 10)
        .orderBy("lat", "lon")
    },
      // corner weights are products of quarter-steps (dyadic) and values are
      // integer counts, so sum(w*v)/sum(w) is order-independent and exact
      s"""$GridCte,
         |src AS (SELECT CAST(round((lat - 40.0) / 0.5, 6) AS INT) AS i,
         |               CAST(round((lon + 100.0) / 0.5, 6) AS INT) AS j, value
         |        FROM grid WHERE time = TIMESTAMP '2024-01-05 00:00:00'),
         |tgt AS (SELECT 40.0 + CAST(r // 19 AS DOUBLE) * 0.25 AS tlat,
         |               -100.0 + CAST(r % 19 AS DOUBLE) * 0.25 AS tlon
         |        FROM (SELECT unnest(range(361)) AS r)),
         |t2 AS (SELECT tlat, tlon,
         |              CAST(FLOOR((tlat - 40.0) / 0.5) AS INT) AS i0,
         |              CAST(FLOOR((tlon + 100.0) / 0.5) AS INT) AS j0,
         |              (tlat - 40.0) / 0.5 - FLOOR((tlat - 40.0) / 0.5) AS wy,
         |              (tlon + 100.0) / 0.5 - FLOOR((tlon + 100.0) / 0.5) AS wx
         |       FROM tgt),
         |corners AS (
         |  SELECT tlat, tlon, i0 AS i, j0 AS j, (1.0 - wy) * (1.0 - wx) AS w FROM t2
         |  UNION ALL SELECT tlat, tlon, i0, j0 + 1, (1.0 - wy) * wx FROM t2
         |  UNION ALL SELECT tlat, tlon, i0 + 1, j0, wy * (1.0 - wx) FROM t2
         |  UNION ALL SELECT tlat, tlon, i0 + 1, j0 + 1, wy * wx FROM t2),
         |f AS (SELECT c.tlat, c.tlon, c.w, s.value
         |      FROM corners c JOIN src s ON c.i = s.i AND c.j = s.j
         |      WHERE c.w > 0 AND c.i BETWEEN 0 AND 9 AND c.j BETWEEN 0 AND 9)
         |SELECT tlat AS lat, tlon AS lon, sum(w * value) / sum(w) AS value
         |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // linear gap-filling along time per cell (da.interpolate_na): a
    // deterministic third of the grid goes null, then interpolates back
    // from the bracketing non-null neighbours; edge gaps stay null
    Query("q96_interpolate_na", (s, dir) => {
      val holed = eventsGrid(s, dir).withColumn("value",
        when(col("value").cast("int") % 3 === 0, lit(null)).otherwise(col("value")))
      GridAnalytics.interpolateNaTime(holed, "time", Seq("lat", "lon"), "value")
        .withColumn("value_filled", round(col("value_filled"), 6))
        .orderBy("time", "lat", "lon")
    },
      // whole-second epochs and doubled-integer values keep the lerp exact;
      // round(6) absorbs nothing but belts the division
      s"""$GridCte,
         |holed AS (SELECT time, lat, lon,
         |                 CASE WHEN CAST(value AS INT) % 3 = 0 THEN NULL
         |                      ELSE value END AS value
         |          FROM grid)
         |SELECT time, lat, lon, value,
         |  round(CASE WHEN value IS NOT NULL THEN value
         |        WHEN pv IS NOT NULL AND nv IS NOT NULL
         |          THEN pv + (nv - pv) * ((t - pt) / (nt - pt)) END, 6) AS value_filled
         |FROM (
         |  SELECT time, lat, lon, value, epoch(time) AS t,
         |    last_value(value IGNORE NULLS) OVER wb AS pv,
         |    last_value(CASE WHEN value IS NOT NULL THEN epoch(time) END IGNORE NULLS)
         |      OVER wb AS pt,
         |    first_value(value IGNORE NULLS) OVER wf AS nv,
         |    first_value(CASE WHEN value IS NOT NULL THEN epoch(time) END IGNORE NULLS)
         |      OVER wf AS nt
         |  FROM holed
         |  WINDOW wb AS (PARTITION BY lat, lon ORDER BY time
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |         wf AS (PARTITION BY lat, lon ORDER BY time
         |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |ORDER BY time, lat, lon""".stripMargin),

    // area-correct spatial mean (da.weighted(cos(lat)).mean()) per timestep
    Query("q97_weighted_mean", (s, dir) =>
      GridAnalytics.weightedSpatialMean(eventsGrid(s, dir), "time", "lat", "value")
        .withColumn("mean", round(col("mean"), 6))
        .orderBy("time"),
      // cos/radians may drift an ulp across libms; terms are O(100) and the
      // 6-decimal rounding sits ~7 orders above worst-case drift
      s"""$GridCte
         |SELECT time, round(sum(cos(radians(lat)) * value)
         |                   / sum(cos(radians(lat))), 6) AS mean
         |FROM grid GROUP BY 1 ORDER BY 1""".stripMargin),

    // bigram-LM surprisal (conditional q75): the CCNet-perplexity-style
    // quality signal, add-one smoothed against the corpus's own counts
    Query("q99_bigram_surprisal", (s, dir) =>
      Text.bigramSurprisal(table(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      // q75's position-ordered fold, conditional numerator/denominator;
      // every count is exact, round(4) absorbs ln()'s ulp
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |bi AS (SELECT doc_id, i, t[i] AS w1, t[i + 1] AS w2
         |       FROM (SELECT doc_id, unnest(range(1, len(t))) AS i, t
         |             FROM tk WHERE len(t) >= 2)),
         |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY 1, 2),
         |c1 AS (SELECT w AS w1, count(*) AS c1
         |       FROM (SELECT unnest(t) AS w FROM tk) GROUP BY 1),
         |v AS (SELECT count(*) AS v FROM c1),
         |sc AS (SELECT bi.doc_id, bi.i,
         |              -ln((CAST(c2.c2 AS DOUBLE) + 1.0)
         |                  / (CAST(c1.c1 AS DOUBLE) + CAST(v.v AS DOUBLE))) AS s
         |       FROM bi JOIN c2 ON bi.w1 = c2.w1 AND bi.w2 = c2.w2
         |            JOIN c1 ON bi.w1 = c1.w1 CROSS JOIN v),
         |agg AS (SELECT doc_id, list(s ORDER BY i) AS vs, count(*) AS nb
         |        FROM sc GROUP BY 1)
         |SELECT tk.doc_id,
         |  COALESCE(round(list_reduce(list_prepend(0.0, agg.vs),
         |    (acc, x) -> acc + x), 4), 0.0) AS bigram_surprisal,
         |  CAST(COALESCE(agg.nb, 0) AS BIGINT) AS n_bigrams
         |FROM tk LEFT JOIN agg ON tk.doc_id = agg.doc_id
         |ORDER BY tk.doc_id""".stripMargin),

    // exact interpolated per-cell quantiles (da.quantile(q, dim="time"))
    Query("q98_cell_percentiles", (s, dir) =>
      GridAnalytics.percentilesByCell(eventsGrid(s, dir), Seq("lat", "lon"),
        "value", Seq(0.5, 0.9))
        .withColumn("p_50", round(col("p_50"), 6))
        .withColumn("p_90", round(col("p_90"), 6))
        .orderBy("lat", "lon"),
      // both engines linear-interpolate at rank q·(n−1); the blend formula
      // may differ in the last ulp → round(6)
      s"""$GridCte
         |SELECT lat, lon, round(quantile_cont(value, 0.5), 6) AS p_50,
         |       round(quantile_cont(value, 0.9), 6) AS p_90
         |FROM grid GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // da.shift/diff/cumsum along time per cell — the three windows share
    // one (cell, time) sort, so the whole query is a single shuffle
    Query("q101_shift_diff_cumsum", (s, dir) =>
      GridAnalytics.cumsumTime(
        GridAnalytics.diffTime(
          GridAnalytics.shiftTime(eventsGrid(s, dir), "time",
            Seq("lat", "lon"), "value", 1),
          "time", Seq("lat", "lon"), "value", 1),
        "time", Seq("lat", "lon"), "value")
        .orderBy("time", "lat", "lon"),
      // cumsum accumulates in the window's ORDER BY sequence in both engines
      // and the values are integer-valued doubles, so every sum is exact
      s"""$GridCte
         |SELECT time, lat, lon, value,
         |       lag(value, 1) OVER w AS value_shift,
         |       value - lag(value, 1) OVER w AS value_diff,
         |       sum(value) OVER (PARTITION BY lat, lon ORDER BY time
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_cumsum
         |FROM grid
         |WINDOW w AS (PARTITION BY lat, lon ORDER BY time)
         |ORDER BY time, lat, lon""".stripMargin),

    // temperature-flattened mixture resampling (mT5-style domain
    // rebalancing): per-domain keep rates from q_d ∝ p_d^0.5 at a
    // half-corpus budget, applied through the portable md5 threshold
    Query("q100_temperature_mixture", (s, dir) =>
      graft.ops.Sampling.temperatureMixtureSample(table(s, dir, "documents"),
        "doc_id", "source", "n_chars", alpha = 0.5, budgetFraction = 0.5,
        seed = "tm1")
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id"),
      // rate math mirrors Sampling.temperatureMixtureRates step for step:
      // integer weight sums and w/total and sqrt are IEEE-exact in both
      // engines, and ROUND(rate, 6) absorbs the one order-dependent float
      // sum (Σ√p) before the threshold is rendered
      """WITH stats AS (
        |  SELECT source, CAST(SUM(n_chars) AS DOUBLE) AS w
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_chars) AS DOUBLE) AS total FROM documents),
        |q AS (SELECT source, w, POWER(w / total, 0.5) AS sq FROM stats, tot),
        |rates AS (
        |  SELECT source,
        |    ROUND(LEAST(1.0, 0.5 * total * (sq / (SELECT SUM(sq) FROM q)) / w), 6) AS rate
        |  FROM q, tot),
        |thr AS (
        |  SELECT source,
        |    CASE WHEN rate >= 1.0 THEN 'g'
        |         ELSE printf('%08x', CAST(ROUND(rate * 4294967296.0) AS BIGINT)) END AS t
        |  FROM rates)
        |SELECT d.doc_id, d.source, d.n_chars
        |FROM documents d JOIN thr USING (source)
        |WHERE substr(md5(CAST(d.doc_id AS VARCHAR) || 'tm1'), 1, 8) < thr.t
        |ORDER BY d.doc_id""".stripMargin),

    // C4 §2.2 cleaning on a synthesized multi-line corpus (the flat docs
    // gain deterministic line breaks + trigger phrases via C4SynthSql —
    // IDENTICAL string ops in the oracle)
    Query("q102_c4_line_filter", (s, dir) =>
      graft.functions.Text.c4LineFilter(
        table(s, dir, "documents").withColumn("t", expr(C4SynthSql)),
        "t", minWordsPerLine = 3, minLines = 2)
        .select("doc_id", "c4_lines", "c4_keep", "c4_text")
        .orderBy("doc_id"),
      // line predicate and doc verdict replicated in DuckDB list lambdas over
      // the same C4SynthSql corpus; trim/substring(-1)/split semantics agree
      s"""WITH src AS (SELECT doc_id, $C4SynthSql AS t FROM documents),
         |k AS (SELECT doc_id, t,
         |        list_filter(string_split(t, chr(10)),
         |          l -> substring(trim(l), -1, 1) IN ('.', '!', '?', '"')
         |               AND len(list_filter(string_split_regex(trim(l), ' +'), w -> w <> '')) >= 3
         |               AND NOT contains(lower(trim(l)), 'javascript')) AS kept
         |      FROM src),
         |v AS (SELECT doc_id, len(kept) AS c4_lines,
         |        (NOT contains(lower(t), 'lorem ipsum')) AND (NOT contains(t, '{'))
         |          AND (NOT contains(t, '}')) AND len(kept) >= 2 AS c4_keep,
         |        array_to_string(kept, chr(10)) AS joined
         |      FROM k)
         |SELECT doc_id, c4_lines, c4_keep,
         |       CASE WHEN c4_keep THEN joined END AS c4_text
         |FROM v ORDER BY doc_id""".stripMargin),

    // incremental near-dedup: documents are banded ONCE into a persisted
    // LSH index; a synthetic re-crawl batch (verbatim every-5th + tail-
    // perturbed every-7th) probes it with partition-pruned reads. The
    // oracle recomputes the exact index×batch Jaccard pairs exhaustively.
    Query("q104_incremental_dedup", (s, dir) => {
      val docs = table(s, dir, "documents")
      val path = fixturePath(s, dir, "graft_lsh_idx", wipe = true)
      Dedup.lshIndexWrite(docs, "doc_id", "text", path,
        shingleSize = 3, numHashes = 64, bands = 16, nParts = 16)
      val batch = docs.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + 200000)
        .unionByName(docs.filter(col("doc_id") % 7 === 0)
          .withColumn("doc_id", col("doc_id") + 300000)
          .withColumn("text", concat(col("text"), lit(" zz qq ww"))))
      Dedup.lshProbeNearDups(s, path, batch, "doc_id", "text", 0.9)
        .orderBy("doc_a", "doc_b")
    },
      // exhaustive exact Jaccard between the corpus and the synthetic batch —
      // the LSH probe must reproduce it exactly (same recall argument as q29)
      s"""WITH batch AS (
         |  SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id + 300000 AS doc_id, text || ' zz qq ww' AS text
         |  FROM documents WHERE doc_id % 7 = 0),
         |tA AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |tB AS (SELECT doc_id, $ToksSql AS t FROM batch),
         |iA AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM tA),
         |iB AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM tB),
         |shA AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle FROM iA),
         |shB AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle FROM iB),
         |cA AS (SELECT doc_id, count(*) AS n FROM shA GROUP BY 1),
         |cB AS (SELECT doc_id, count(*) AS n FROM shB GROUP BY 1),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
         |      FROM shA a JOIN shB b ON a.shingle = b.shingle GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |       round(CAST(c AS DOUBLE) / CAST(na.n + nb.n - c AS DOUBLE), 6) AS jaccard
         |FROM p JOIN cA na ON p.doc_a = na.doc_id JOIN cB nb ON p.doc_b = nb.doc_id
         |WHERE round(CAST(c AS DOUBLE) / CAST(na.n + nb.n - c AS DOUBLE), 6) >= 0.9
         |ORDER BY doc_a, doc_b""".stripMargin),

    // deterministic train/val/test assignment via consecutive hash ranges
    Query("q105_hash_split", (s, dir) =>
      graft.ops.Sampling.hashSplit(table(s, dir, "documents"), "doc_id",
        Seq("val" -> 0.1, "test" -> 0.1, "train" -> 0.8), seed = "sp1")
        .select("doc_id", "split")
        .orderBy("doc_id"),
      // consecutive hash ranges: [0, .1) val, [.1, .2) test, rest train
      """SELECT doc_id,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'sp1'), 1, 8) < '1999999a' THEN 'val'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'sp1'), 1, 8) < '33333333' THEN 'test'
        |       ELSE 'train' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin),

    // per-cell empirical quantile of each observation (percent_rank along
    // the value axis — the return-period statistic)
    Query("q106_cell_percent_rank", (s, dir) =>
      GridAnalytics.percentRankInCell(eventsGrid(s, dir), Seq("lat", "lon"), "value")
        .orderBy("lat", "lon", "time"),
      // (rank-1)/(n-1) is exact integer arithmetic; ties share a rank in
      // both engines, so the result is order-independent
      s"""$GridCte
         |SELECT time, lat, lon, value,
         |       percent_rank() OVER (PARTITION BY lat, lon ORDER BY value)
         |         AS value_pct_rank
         |FROM grid ORDER BY lat, lon, time""".stripMargin),

    // above-normal spells: exceedance runs over the anomaly field (ETCCDI
    // warm-spell shape; composes anomalies → spellsInCell)
    Query("q107_cell_spells", (s, dir) =>
      // single-eval grid input + broadcast climatology, as in q89 (r16)
      GridAnalytics.spellsInCell(
        GridAnalytics.anomalies(eventsGrid(s, dir).localCheckpoint(true), "time",
          Seq("lat", "lon"), "value", "month"),
        "time", Seq("lat", "lon"), "anomaly", 0.0)
        .select("lat", "lon", "spell_start", "spell_end", "n_steps", "peak")
        .orderBy("lat", "lon", "spell_start"),
      // January-only grid: month climatology is the per-cell overall mean;
      // integer-valued doubles keep avg and the >= 0 filter exact
      s"""$GridCte,
         |clim AS (SELECT lat, lon, avg(value) AS climatology
         |         FROM grid GROUP BY 1, 2),
         |a AS (SELECT g.time, g.lat, g.lon,
         |             g.value - c.climatology AS anomaly
         |      FROM grid g JOIN clim c ON g.lat = c.lat AND g.lon = c.lon
         |      WHERE g.value - c.climatology >= 0.0),
         |m AS (SELECT *, CASE WHEN lag(time) OVER w IS NULL
         |        OR date_diff('second', lag(time) OVER w, time) > 86400
         |        THEN 1 ELSE 0 END AS st
         |      FROM a WINDOW w AS (PARTITION BY lat, lon ORDER BY time)),
         |r AS (SELECT *, SUM(st) OVER (PARTITION BY lat, lon ORDER BY time)
         |        AS spell FROM m)
         |SELECT lat, lon, min(time) AS spell_start, max(time) AS spell_end,
         |       CAST(count(*) AS BIGINT) AS n_steps, max(anomaly) AS peak
         |FROM r GROUP BY lat, lon, spell
         |ORDER BY lat, lon, spell_start""".stripMargin),

    // when each cell's record value occurred (da.idxmax, earliest-tie)
    Query("q108_cell_idxmax", (s, dir) =>
      GridAnalytics.idxmaxInCell(eventsGrid(s, dir), "time",
        Seq("lat", "lon"), "value")
        .orderBy("lat", "lon"),
      // earliest time achieving the cell max — deterministic across engines
      s"""$GridCte,
         |m AS (SELECT *, max(value) OVER (PARTITION BY lat, lon) AS vmax
         |      FROM grid)
         |SELECT lat, lon, max(vmax) AS value_max, min(time) AS time_at_max
         |FROM m WHERE value = vmax GROUP BY lat, lon
         |ORDER BY lat, lon""".stripMargin),

    // quality curation: the 5 longest docs per source, deterministic ties
    Query("q109_topk_per_source", (s, dir) =>
      graft.ops.Sampling.topKPerStratum(table(s, dir, "documents"),
        "source", 5, Seq(col("n_chars").desc, col("doc_id").asc))
        .select("source", "doc_id", "n_chars")
        .orderBy("source", "doc_id"),
      """SELECT source, doc_id, n_chars FROM (
        |  SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents) WHERE rk <= 5 ORDER BY source, doc_id""".stripMargin),

    // per-cell linear trend as exact integer numerators/denominator
    // (da.polyfit(dim="time", deg=1) — the warming-trend map)
    Query("q110_cell_trend", (s, dir) =>
      GridAnalytics.trendInCell(eventsGrid(s, dir), "time",
        Seq("lat", "lon"), "value")
        .orderBy("lat", "lon"),
      // closed-form least squares in integer arithmetic; the CAST belt keeps
      // DuckDB's HUGEINT sum widening off the wire
      s"""$GridCte,
         |t AS (SELECT lat, lon,
         |        CAST(date_diff('day', DATE '1970-01-01', CAST(time AS DATE))
         |          AS BIGINT) AS x,
         |        CAST(value AS BIGINT) AS y FROM grid)
         |SELECT lat, lon, CAST(count(*) AS BIGINT) AS n,
         |  CAST(count(*) * sum(x*y) - sum(x) * sum(y) AS BIGINT) AS slope_num,
         |  CAST(count(*) * sum(x*x) - sum(x) * sum(x) AS BIGINT) AS den,
         |  CAST(sum(y) * sum(x*x) - sum(x) * sum(x*y) AS BIGINT) AS icept_num
         |FROM t GROUP BY lat, lon ORDER BY lat, lon""".stripMargin),

    // ffill(limit=2) + bfill over the holed grid (da.ffill/da.bfill);
    // both fills share one (cell, time) sort
    Query("q111_fill_na", (s, dir) => {
      val holed = eventsGrid(s, dir).withColumn("value",
        when(col("value").cast("int") % 3 === 0, lit(null)).otherwise(col("value")))
      val f = GridAnalytics.fillTime(holed, "time", Seq("lat", "lon"),
        "value", "ffill", Some(2))
        .withColumnRenamed("value_filled", "value_ffill")
      GridAnalytics.fillTime(f, "time", Seq("lat", "lon"), "value", "bfill")
        .withColumnRenamed("value_filled", "value_bfill")
        .orderBy("time", "lat", "lon")
    },
      // rows-based fill limit = row_number distance to the source row
      s"""$GridCte,
         |holed AS (SELECT time, lat, lon,
         |                 CASE WHEN CAST(value AS INT) % 3 = 0 THEN NULL
         |                      ELSE value END AS value
         |          FROM grid),
         |r AS (SELECT *, row_number()
         |        OVER (PARTITION BY lat, lon ORDER BY time) AS rn FROM holed),
         |m AS (SELECT time, lat, lon, value, rn,
         |        last_value(value IGNORE NULLS) OVER wb AS lv,
         |        last_value(CASE WHEN value IS NOT NULL THEN rn END
         |          IGNORE NULLS) OVER wb AS lrn,
         |        first_value(value IGNORE NULLS) OVER wf AS nv
         |      FROM r
         |      WINDOW wb AS (PARTITION BY lat, lon ORDER BY time
         |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |             wf AS (PARTITION BY lat, lon ORDER BY time
         |                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT time, lat, lon, value,
         |  CASE WHEN value IS NOT NULL THEN value
         |       WHEN rn - lrn <= 2 THEN lv END AS value_ffill,
         |  coalesce(value, nv) AS value_bfill
         |FROM m ORDER BY time, lat, lon""".stripMargin),

    // standardized anomaly against the cell's record — bit-exact across
    // engines (integer sums; the only float ops are cast, sqrt, divide)
    Query("q112_cell_zscore", (s, dir) =>
      GridAnalytics.zscoreInCell(eventsGrid(s, dir), Seq("lat", "lon"), "value")
        .orderBy("time", "lat", "lon"),
      // (n·y − Σy)/√(n·Σy² − (Σy)²): exact integers into exactly-rounded
      // cast/sqrt/divide — bit-identical on both engines, no rounding belt
      s"""$GridCte,
         |m AS (SELECT time, lat, lon, value,
         |        CAST(count(*) OVER w AS BIGINT) AS n,
         |        CAST(sum(CAST(value AS BIGINT)) OVER w AS BIGINT) AS sy,
         |        CAST(sum(CAST(value AS BIGINT) * CAST(value AS BIGINT)) OVER w
         |          AS BIGINT) AS syy
         |      FROM grid WINDOW w AS (PARTITION BY lat, lon))
         |SELECT time, lat, lon, value,
         |  CASE WHEN n*syy - sy*sy > 0
         |    THEN CAST(n*CAST(value AS BIGINT) - sy AS DOUBLE)
         |         / sqrt(CAST(n*syy - sy*sy AS DOUBLE))
         |  END AS value_zscore
         |FROM m ORDER BY time, lat, lon""".stripMargin),

    // regionmask-style basin means over overlapping labeled boxes
    // (broadcast range join; "conus" contains both sub-regions)
    Query("q114_region_means", (s, dir) => {
      import s.implicits._
      val regions = Seq(
        ("west", 40.0, 44.5, -100.0, -98.0),
        ("east", 40.0, 44.5, -98.0, -95.5), // overlaps west at lon=-98
        ("north", 42.5, 44.5, -100.0, -95.5),
        ("conus", 40.0, 44.5, -100.0, -95.5)
      ).toDF("region", "lat_min", "lat_max", "lon_min", "lon_max")
      GridAnalytics.regionWeightedMean(eventsGrid(s, dir), regions,
        "time", "lat", "lon", "value")
        .withColumn("mean", round(col("mean"), 6))
        .orderBy("region", "time")
    },
      // same cos-lat weighting and 6-decimal belt as q97; inclusive bounds
      s"""$GridCte,
         |r(region, lat_min, lat_max, lon_min, lon_max) AS (VALUES
         |  ('west', 40.0, 44.5, -100.0, -98.0),
         |  ('east', 40.0, 44.5, -98.0, -95.5),
         |  ('north', 42.5, 44.5, -100.0, -95.5),
         |  ('conus', 40.0, 44.5, -100.0, -95.5))
         |SELECT r.region, g.time,
         |  round(sum(cos(radians(g.lat)) * g.value)
         |        / sum(cos(radians(g.lat))), 6) AS mean,
         |  CAST(count(*) AS BIGINT) AS n_cells
         |FROM grid g JOIN r
         |  ON g.lat BETWEEN r.lat_min AND r.lat_max
         | AND g.lon BETWEEN r.lon_min AND r.lon_max
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // temporal upsampling: daily → 12-hourly via spine fill + linear
    // interpolation (da.resample(time="12h").interpolate("linear")) —
    // composes C2's anti-join spine with interpolate_na; midpoints are
    // dyadic so the lerp is exact
    // dense reindex (not fillMissingTimeSteps): the event grid is ragged —
    // a quiet cell has no row even on days other cells observe
    Query("q115_upsample", (s, dir) => {
      val spined = Normalize.reindexDense(eventsGrid(s, dir),
        "time", Seq("lat", "lon"), TimeSpan(TimeUnitKind.Hours, 12))
      GridAnalytics.interpolateNaTime(spined, "time", Seq("lat", "lon"), "value")
        .select("time", "lat", "lon", "value_filled")
        .orderBy("time", "lat", "lon")
    },
      // 12-hour spine between the grid's bounds, per cell; q96's lerp with
      // the (t−pt)/(nt−pt) = 0.5 midpoint — dyadic, hence exact
      s"""$GridCte,
         |b AS (SELECT min(time) AS lo, max(time) AS hi FROM grid),
         |cells AS (SELECT DISTINCT lat, lon FROM grid),
         |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 12 HOUR)) AS time
         |          FROM b),
         |h AS (SELECT s.time, c.lat, c.lon, g.value
         |      FROM spine s CROSS JOIN cells c
         |      LEFT JOIN grid g ON g.time = s.time AND g.lat = c.lat AND g.lon = c.lon)
         |SELECT time, lat, lon,
         |  CASE WHEN value IS NOT NULL THEN value
         |       WHEN pv IS NOT NULL AND nv IS NOT NULL
         |         THEN pv + (nv - pv) * ((t - pt) / (nt - pt)) END AS value_filled
         |FROM (
         |  SELECT time, lat, lon, value, epoch(time) AS t,
         |    last_value(value IGNORE NULLS) OVER wb AS pv,
         |    last_value(CASE WHEN value IS NOT NULL THEN epoch(time) END IGNORE NULLS)
         |      OVER wb AS pt,
         |    first_value(value IGNORE NULLS) OVER wf AS nv,
         |    first_value(CASE WHEN value IS NOT NULL THEN epoch(time) END IGNORE NULLS)
         |      OVER wf AS nt
         |  FROM h
         |  WINDOW wb AS (PARTITION BY lat, lon ORDER BY time
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |         wf AS (PARTITION BY lat, lon ORDER BY time
         |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |ORDER BY time, lat, lon""".stripMargin),

    // 3×3 focal-mean smoothing (rolling over lat/lon, min_periods=1):
    // edge cells renormalize over their present neighbors
    Query("q116_focal_mean", (s, dir) =>
      GridAnalytics.focalMean(eventsGrid(s, dir), "time", "lat", "lon",
        "value", lat0 = 40.0, latStep = 0.5, lon0 = -100.0, lonStep = 0.5)
        .orderBy("time", "lat", "lon"),
      // 9-offset fan-out keyed by the TARGET index; HAVING keeps real cells
      // (drops the edge halo); integer values keep avg deterministic
      s"""$GridCte,
         |gi AS (SELECT time, lat, lon, value,
         |         CAST(round((lat - 40.0) / 0.5) AS INT) AS li,
         |         CAST(round((lon + 100.0) / 0.5) AS INT) AS lj FROM grid),
         |d(di, dj) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),
         |                     (1,-1),(1,0),(1,1))
         |SELECT time,
         |  max(CASE WHEN di = 0 AND dj = 0 THEN lat END) AS lat,
         |  max(CASE WHEN di = 0 AND dj = 0 THEN lon END) AS lon,
         |  avg(value) AS value_focal
         |FROM gi CROSS JOIN d
         |GROUP BY time, li + di, lj + dj
         |HAVING max(CASE WHEN di = 0 AND dj = 0 THEN 1 ELSE 0 END) = 1
         |ORDER BY time, lat, lon""".stripMargin),

    // value-distribution histogram (da.groupby_bins; doc-length histogram
    // flavor — integer weights keep the per-bin mean exact)
    Query("q103_value_bins", (s, dir) =>
      GridAnalytics.groupbyBins(
        table(s, dir, "documents").withColumn("len", col("n_chars").cast("double")),
        "len", lo = 0.0, step = 25.0, nBins = 40)
        .orderBy("bin_lo"),
      // integer-valued doubles: the per-bin sum and mean are exact
      """WITH v AS (SELECT CAST(n_chars AS DOUBLE) AS len FROM documents)
        |SELECT 0.0 + floor((len - 0.0) / 25.0) * 25.0 AS bin_lo,
        |       count(*) AS n, avg(len) AS mean
        |FROM v
        |WHERE len IS NOT NULL AND floor((len - 0.0) / 25.0) >= 0
        |  AND floor((len - 0.0) / 25.0) < 40
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // BM25 relevance of every document against a query vocabulary — the
    // lexical data-selection baseline (rank training docs vs a target
    // domain); tokens filter to the query set BEFORE any shuffle
    Query("q93_bm25_rank", (s, dir) =>
      graft.functions.Rank.bm25Scores(table(s, dir, "documents"),
        "doc_id", "text", Seq("spark", "window", "hash", "vector"))
        .orderBy("doc_id"),
      // identical formula text both sides; every non-ln op is IEEE-determined
      // and the 4-decimal rounding absorbs ln()'s cross-engine ulp
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |base AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl, t FROM tk),
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS N, avg(dl) AS avgdl FROM base),
         |m AS (SELECT doc_id, dl, w
         |      FROM (SELECT doc_id, dl, unnest(t) AS w FROM base)
         |      WHERE w IN ('spark', 'window', 'hash', 'vector')),
         |tf AS (SELECT doc_id, w, max(dl) AS dl, CAST(count(*) AS DOUBLE) AS tf
         |       FROM m GROUP BY 1, 2),
         |dft AS (SELECT w, CAST(count(DISTINCT doc_id) AS DOUBLE) AS dft
         |        FROM m GROUP BY 1),
         |sc AS (SELECT tf.doc_id,
         |              sum(ln((stats.N - dft.dft + 0.5) / (dft.dft + 0.5) + 1.0)
         |                  * tf.tf / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl))) AS s
         |       FROM tf JOIN dft ON tf.w = dft.w CROSS JOIN stats GROUP BY 1)
         |SELECT b.doc_id, round(COALESCE(sc.s, 0.0), 4) AS bm25
         |FROM base b LEFT JOIN sc ON b.doc_id = sc.doc_id ORDER BY 1""".stripMargin),

    // q84's lifecycle on a v3 `sharding_indexed` store: shard objects of
    // (8 time × 4 slot) carrying separately-encoded (4 × 2) inner chunks
    // behind a CRC32C-guarded index — the zarr v3 cloud layout, written
    // AND updated (read-modify-write seeds whole shards) by the engine
    Query("q95_zarr_sharded_roundtrip", (s, dir) => {
      val grid = zarrGrid(s, dir)
      val desc = DatasetDescriptor("events_grid_sharded", "n",
        spatialDims = Seq("slot"), timeResolution = TimeSpan.Daily)
      val path = fixturePath(s, dir, "graft_zarr_shard", wipe = true)
      val store = new ZarrStore(s, path, desc, timeChunk = 8,
        spatialChunks = Some(Seq(4)), zarrFormat = 3,
        shardChunks = Some(Seq(4, 2)))
      publishLifecycle(grid, 1000.0)(store.publish(_), store.publish(_))
      store.dataset().select("time", "slot", "n").orderBy("time", "slot")
    },
      // identical lifecycle to q84, different physical layout — same oracle
      ZarrLifecycleSql),

    // data representation template 5.41 (PNG raster packing, MRMS-style)
    // + bitmap: holes flatten the raster to one present-cells row —
    // q83's fixture grid and NULL-carrying oracle, different wire format
    Query("q94_grib_png_scan", (s, dir) => {
      val path = gribEventsFixture(s, dir, edition = 2, holes = true,
        pngPacking = true)
      gribSlots(s, path)
        .select(col("time"), col("slot"), col("value").as("cnt"))
        .orderBy("time", "slot")
    },
      // PNG-packed fixture encodes the SAME holed grid as q83's
      s"""${slotCountsCte("DOUBLE")},
        |days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |spine AS (SELECT d, CAST(s AS INTEGER) AS slot
        |          FROM days, (SELECT unnest(range(10)) AS s))
        |SELECT spine.d AS time, spine.slot AS slot, g.cnt AS cnt
        |FROM spine LEFT JOIN g ON spine.d = g.d AND spine.slot = g.slot
        |ORDER BY 1, 2""".stripMargin),
  )

  /** Deterministic multi-line corpus for the C4 gate: ' table ' becomes a
    * sentence break, doc_id-keyed docs gain the C4 trigger phrases. Pure
    * replace/concat/chr — byte-identical in Spark SQL and DuckDB (no
    * backslash escapes, which the two engines parse differently). */
  private val C4SynthSql: String =
    """concat(
      |  replace(CASE WHEN doc_id % 7 = 0 THEN replace(text, ' spark ', ' javascript ') ELSE text END,
      |    ' table ', concat('.', chr(10))),
      |  CASE WHEN doc_id % 11 = 3 THEN ' lorem ipsum' ELSE '' END,
      |  CASE WHEN doc_id % 13 = 5 THEN ' {x}' ELSE '' END)""".stripMargin

  /** Shared oracle CTE: the long-format analytics grid (eventsGrid). */
  private val GridCte: String =
    """WITH grid AS (
      |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS time,
      |         CAST(40.0 + CAST(event_id % 10 AS DOUBLE) * 0.5 AS DOUBLE) AS lat,
      |         CAST(-100.0 + CAST((event_id // 10) % 10 AS DOUBLE) * 0.5 AS DOUBLE) AS lon,
      |         CAST(count(*) AS DOUBLE) AS value
      |  FROM events GROUP BY 1, 2, 3)""".stripMargin
}
