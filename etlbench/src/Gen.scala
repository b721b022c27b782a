package etlbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.time.LocalDateTime

import org.apache.spark.sql.SparkSession

import graft.sources.nc.NcFormat

/** Seeded input generators. Every value is a pure function of
  * (seed, coordinates, version), so the same seed writes byte-identical
  * files and the expected answer of every check is computed here, never
  * read back from graft. Grid values are whole hundredths, which survive
  * float32 storage exactly. */
object Gen {

  /** splitmix64 finalizer: a well-mixed 64-bit hash of `x`. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(parts: Long*): Long = parts.foldLeft(0x5EEDL)((h, p) => mix(h ^ p))

  /** Unsigned draw in [0, n). */
  def below(h: Long, n: Int): Int = java.lang.Long.remainderUnsigned(h, n.toLong).toInt

  def sha256(chunks: Iterator[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    chunks.foreach(b => md.update(b))
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  def fingerprintFiles(files: Seq[Path]): String =
    sha256(files.sortBy(_.toString).iterator.map(Files.readAllBytes))

  def dirBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val s = Files.walk(dir)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally s.close()
  }

  /** A regular 0.25° lat/lon grid; row-major, longitude fastest. */
  final case class Grid(lat0: Double, lon0: Double, nLat: Int, nLon: Int) {
    val lats: Seq[Double] = Seq.tabulate(nLat)(i => lat0 + i * 0.25)
    val lons: Seq[Double] = Seq.tabulate(nLon)(j => lon0 + j * 0.25)
    def cells: Int = nLat * nLon
  }

  // ------------------------------------------- CHIRPS-like NetCDF revisions

  val Missing: Double = -9999.0

  /** Fixed land/sea mask: about 15% of cells are always missing. */
  def masked(seed: Long, i: Int, j: Int): Boolean = below(hash(seed, 77, i, j), 100) < 15

  /** Precipitation hundredths of a mm for one cell of one day at one
    * revision; `version` changes every value, so a revision is visible. */
  def precipHundredths(seed: Long, day: Int, version: Int, i: Int, j: Int): Int = {
    val h = hash(seed, day, version, i, j)
    if (below(h, 10) < 4) 0 else below(mix(h), 4000)
  }

  /** One classic NetCDF file of `days` (day index, version) pairs starting
    * at `first` days after `epoch`, with a fixed −9999 mask. */
  def writeNcDays(spark: SparkSession, path: Path, seed: Long, grid: Grid,
      epoch: LocalDateTime, first: Int, versions: Seq[Int]): Unit = {
    val n = versions.length
    val data = new Array[Double](n * grid.cells)
    for (k <- 0 until n; i <- 0 until grid.nLat; j <- 0 until grid.nLon)
      data((k * grid.nLat + i) * grid.nLon + j) =
        if (masked(seed, i, j)) Missing
        else precipHundredths(seed, first + k, versions(k), i, j) / 100.0
    Files.createDirectories(path.getParent)
    NcFormat.writeFile(spark, path.toString,
      dims = Seq("time" -> n, "latitude" -> grid.nLat, "longitude" -> grid.nLon),
      vars = Seq(
        NcFormat.WriteVar("time", Seq("time"), NcFormat.NcInt,
          Array.tabulate(n)(k => (first + k).toDouble),
          attrs = Seq("units" -> s"days since ${epoch.toLocalDate} 00:00:00")),
        NcFormat.WriteVar("latitude", Seq("latitude"), NcFormat.NcDouble, grid.lats.toArray),
        NcFormat.WriteVar("longitude", Seq("longitude"), NcFormat.NcDouble, grid.lons.toArray),
        NcFormat.WriteVar("precip", Seq("time", "latitude", "longitude"),
          NcFormat.NcFloat, data, attrs = Seq("units" -> "mm/day"))),
      recordDim = Some("time"))
  }

  // ------------------------------------------------------- text corpus

  /** A pronounceable word for Zipf rank `r` (rank 0 is the most common). */
  def word(r: Int): String = {
    val syl = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pu",
      "da", "fe", "gi", "ho", "ju", "be")
    val sb = new StringBuilder
    var x = r + 16
    while (x > 0) { sb.append(syl(x % 16)); x /= 16 }
    sb.toString
  }

  final case class Corpus(docs: Array[(Long, String)], keptIds: Set[Long])

  /** `n` documents of 60-120 Zipf(1.0)-distributed words over a 20k-word
    * vocabulary: about 5% exact copies and 5% near copies whose last word
    * is replaced (word-3-shingle Jaccard ≥ 0.96 to their original). Ids
    * are a seeded permutation, so a group's survivor (its minimum id) may
    * be the original or a copy. */
  def corpus(seed: Long, n: Int): Corpus = {
    val vocab = 20000
    val cdf = {
      val w = Array.tabulate(vocab)(r => 1.0 / (r + 1))
      val acc = w.scanLeft(0.0)(_ + _).tail
      acc.map(_ / acc.last)
    }
    val rnd = new java.util.SplittableRandom(seed)
    def draw(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(vocab - 1, if (i >= 0) i else -i - 1)
    }
    val nCopy = n / 20
    val nOrig = n - 2 * nCopy
    val originals = Array.fill(nOrig)(Array.fill(60 + rnd.nextInt(61))(draw()))
    // copies come from disjoint originals, so each group has ≤ 2 members
    val sources = {
      val idx = (0 until nOrig).toArray
      for (k <- idx.indices.reverse) {
        val m = rnd.nextInt(k + 1); val t = idx(k); idx(k) = idx(m); idx(m) = t
      }
      idx.take(2 * nCopy)
    }
    val texts = originals.map(_.map(word).mkString(" ")) ++
      sources.take(nCopy).map(o => originals(o).map(word).mkString(" ")) ++
      sources.drop(nCopy).map { o =>
        val ws = originals(o).clone()
        ws(ws.length - 1) = (ws.last + 1 + rnd.nextInt(vocab - 1)) % vocab
        ws.map(word).mkString(" ")
      }
    val group = Array.tabulate(nOrig)(identity) ++ sources
    val ids = {
      val p = Array.tabulate(n)(_.toLong)
      for (k <- p.indices.reverse) {
        val m = rnd.nextInt(k + 1); val t = p(k); p(k) = p(m); p(m) = t
      }
      p
    }
    val kept = texts.indices.groupBy(group(_)).values.map(_.map(ids(_)).min).toSet
    Corpus(texts.indices.map(k => (ids(k), texts(k))).toArray, kept)
  }
}
