package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.expressions.{MinHashSignature, ShinglePairHashes, ShingleSketch, SimHash64Expr}

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard.
  *
  * Scale design: every method is a groupBy/join over *derived keys* (hashes,
  * band signatures), never an O(n²) cross product. At 100 TB the shuffle key
  * is always a short hash, and candidate verification only touches the
  * LSH-bucketed pairs.
  */
object Dedup {

  /** Small shared daemon pool for overlapping INDEPENDENT write jobs
    * (guide §2.6) — 2-3 jobs in flight is enough to fill a tail; actions
    * are thread-safe on one SparkSession. */
  private lazy val writeEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(2, r => {
        val t = new Thread(r, "graft-dedup-write")
        t.setDaemon(true)
        t
      }))

  /** Exact duplicate groups by content hash: md5 groupBy, keep the minimum
    * id as the canonical survivor. One shuffle on the 128-bit hash — the
    * text itself never shuffles when `textCol` is dropped before the agg. */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(md5(col(textCol)).as("content_hash"), col(idCol))
      .groupBy("content_hash")
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keeper_id"))
      .filter(col("n_dups") > 1)

  /** Deduplicated view: one row per distinct content hash (minimum id wins). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col(textCol)))
      .orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Distinct shingle hash pairs via the native [[ShinglePairHashes]]
    * expression — one tight codegen'd loop per row instead of interpreted
    * higher-order functions. Values are bit-identical to
    * `xxhash64(shingle)` / `xxhash64(lit(1), shingle)`. */
  def shinglePairHashes(textCol: Column, n: Int): Column =
    ColumnBridge.column(ShinglePairHashes(ColumnBridge.expression(textCol), n))

  /** [[ShingleSketch]]: `sig` (empty when `numHashes` is 0) and the shingle
    * hashes `sh` of one text from one pass of the fused kernel. */
  private def sketch(textCol: Column, n: Int, numHashes: Int): Column =
    ColumnBridge.column(ShingleSketch(ColumnBridge.expression(textCol), n, numHashes))

  /** MinHash signatures for a corpus: one row per doc, `sig` =
    * ArrayType(Long) of length `numHashes`, computed SHUFFLE-FREE by the
    * native [[MinHashSignature]] expression (one codegen'd loop per row,
    * independent full-width permutations — see the expression's scaladoc
    * for why an arithmetic double-hashing family loses LSH recall). */
  def minhashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int,
      numHashes: Int): DataFrame =
    df.select(col(idCol).as("doc_id"),
      ColumnBridge.column(MinHashSignature(
        ColumnBridge.expression(col(textCol)), shingleSize, numHashes)).as("sig"))

  /** LSH banding: split the signature into `bands` bands of `rowsPerBand`
    * and hash each band; docs sharing any band hash are candidate pairs. */
  def bandHashes(signature: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(signature, b * rowsPerBand + 1, rowsPerBand)).as("h"))
    }: _*)

  /** The band hashes of `sig` as `array<long>`, null for a shingle-less
    * document (fewer than `shingleSize` tokens): its sentinel signature
    * would band-collide with every other such document. */
  private def bandHashArray(sig: Column, numHashes: Int, bands: Int): Column = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands): " +
        "a truncated rowsPerBand would silently leave signature slots unused")
    when(element_at(sig, 1) =!= lit(Long.MaxValue),
      bandHashes(sig, bands, numHashes / bands).getField("h"))
  }

  /** One `(id, band, h)` row per band of every doc with band hashes `bh`.
    * The outer explode plus a filter on its output: a plain explode makes
    * Catalyst infer `size(bh) > 0` and push it below the projection that
    * computes `bh`, evaluating the signature once more per band. */
  private def bandRows(docs: DataFrame): DataFrame =
    docs.select(col("id"), posexplode_outer(col("bh")).as(Seq("band", "h")))
      .filter(col("h").isNotNull)

  /** Exact Jaccard of the shingle-hash sets `__sh_a`/`__sh_b`, rounded to 6
    * places; hashed sets have the string sets' sizes short of an xxhash64
    * collision. */
  private val jaccard: Column =
    round(size(array_intersect(col("__sh_a"), col("__sh_b"))).cast("double") /
      size(array_union(col("__sh_a"), col("__sh_b"))).cast("double"), 6)

  /** Candidate pairs from ONE bucket join: rows of `left` and `right` (an
    * `id` column, the bucket `keys`, any other columns) that share every
    * key, as `(a, b)` with `pair(a, b)` next to the keys, the other columns
    * suffixed `_a`/`_b`. A pair sharing several buckets appears once per
    * bucket. The only join keys are bucket keys (64-bit band hashes, SRP
    * buckets): no O(n²) product beyond a bucket's own pairs. */
  private[functions] def bucketPairs(left: DataFrame, right: DataFrame, keys: Seq[String],
      pair: (Column, Column) => Column): DataFrame =
    bucketSide(left, keys, "a").join(bucketSide(right, keys, "b"), keys)
      .filter(pair(col("a"), col("b")))

  /** One side `s` of [[bucketPairs]]: `id` renamed `s`, the keys kept, the
    * other columns suffixed `_s`. */
  private def bucketSide(df: DataFrame, keys: Seq[String], s: String): DataFrame =
    df.select(df.columns.map(c => col(c).as(
      if (keys.contains(c)) c else if (c == "id") s else s"${c}_$s")): _*)

  /** Verification of the candidate pairs `cands` (`a`, `b`): each side's
    * payload (an `id` column plus payload columns) is looked up by id in
    * joins the planner sizes, with no hint: a payload smaller than the
    * broadcast threshold is broadcast and `cands` streams, a larger one is
    * shuffle-joined. One payload read on both sides is one plan, so its two
    * lookups share one exchange. The payload columns come back suffixed
    * `_a`/`_b`; rows failing `keep` drop, `score` is named `scoreName`, and
    * scores below `threshold` drop. */
  private[functions] def verifyPairs(cands: DataFrame, payloadA: DataFrame, payloadB: DataFrame,
      keep: Column, scoreName: String, score: Column, threshold: Option[Double]): DataFrame = {
    def side(p: DataFrame, s: String) = p.columns.map(c => col(s"__p$s.`$c`").as(s"${c}_$s"))
    val scored = cands.join(payloadA.as("__pa"), col("a") === col("__pa.id"))
      .join(payloadB.as("__pb"), col("b") === col("__pb.id"))
      .select(cands.columns.map(col) ++ side(payloadA, "a") ++ side(payloadB, "b"): _*)
      .filter(keep)
      .withColumn(scoreName, score)
    threshold.fold(scored)(t => scored.filter(col(scoreName) >= t))
  }

  /** LSH pairs `(doc_a < doc_b, scoreName)` of `docs` (`id`, band hashes
    * `bh`, payload): ONE band self-join ([[bucketPairs]]), verified
    * ([[verifyPairs]]) against the CANDIDATE documents only — `docs`
    * semi-joined to the band rows that share a bucket with another
    * document. Semi-joins keep their left side's size estimate, so while
    * those ids are small the planner broadcasts them and then the candidate
    * documents' payload, and no exchange carries another document's
    * payload; past the broadcast threshold the semi-join shuffles the
    * payload once. A pair is kept only in the FIRST band where its band
    * hashes agree: exactly once, with no distinct exchange. The band joins
    * carry band/hash/id only and share one exchange. */
  private def lshPairs(docs: DataFrame, scoreName: String, score: Column,
      threshold: Option[Double]): DataFrame = {
    val keys = Seq("band", "h")
    val banded = bandRows(docs)
    val other = bucketSide(banded, keys, "b")
    val colliding = banded.join(other,
      keys.map(k => banded(k) === other(k)).reduce(_ && _) && banded("id") =!= other("b"),
      "left_semi")
    val touched = docs.join(colliding.select(col("id")), Seq("id"), "left_semi")
    val firstBand = array_position(
      zip_with(col("bh_a"), col("bh_b"), (x, y) => x === y), true) === col("band") + 1
    verifyPairs(bucketPairs(banded, banded, keys, _ < _), touched, touched,
        firstBand, scoreName, score, threshold)
      .select(col("a").as("doc_a"), col("b").as("doc_b"), col(scoreName))
  }

  /** MinHash-LSH candidate duplicate pairs ([[lshPairs]]):
    * `(doc_a < doc_b, est_jaccard)`, one row per pair that collides in some
    * band, `est_jaccard` the share of agreeing signature slots. */
  def minhashCandidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4): DataFrame =
    lshPairs(minhashSignatures(df, idCol, textCol, shingleSize, numHashes)
        .select(col("doc_id").as("id"), col("sig"),
          bandHashArray(col("sig"), numHashes, bands).as("bh")),
      "est_jaccard", size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
        id => id)).cast("double") / lit(numHashes.toDouble), None)

  /** Near-duplicate pairs: MinHash-LSH candidate generation composed with
    * exact shingle-Jaccard verification — the scale-correct shape. The
    * skew-prone exact join only ever sees LSH candidate pairs (a tiny set),
    * never the full corpus; recall for pairs at `threshold`≥0.9 with the
    * default 64 hashes / 16 bands is 1 − (1−j⁴)¹⁶ ≈ 1−1e-9.
    *
    * ONE pass over the text: the fused kernel ([[ShingleSketch]]) gives
    * every doc's band hashes and shingle-hash set into an eager
    * `localCheckpoint`. The pairs then take three jobs at small scale: the
    * band rows' broadcast, the broadcast of the colliding documents' ids,
    * and the broadcast of those documents' shingle sets ([[lshPairs]]).
    * The checkpoint backs the returned plan — release it via
    * `Housekeeping.release(result)` (or the session sweep) once the result
    * is consumed.
    *
    * `jaccard` is rounded to 6 before the threshold filter, matching
    * [[ngramJaccardPairs]].
    */
  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.9): DataFrame =
    hashedNearDupPairs(df, idCol, textCol, shingleSize, numHashes, bands, threshold)._2

  /** Per doc (`id`) its band hashes `bh` ([[bandHashArray]]) and shingle
    * hashes `__sh`, from one pass of the fused kernel, in an eager
    * `localCheckpoint` the caller releases. Eager: several jobs read it (the
    * band joins and the candidate payload; lshIndexWrite's two concurrent
    * writes), so it is complete before any of them starts. */
  private def hashedDocs(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int, bands: Int): DataFrame =
    df.select(col(idCol).as("id"), sketch(col(textCol), shingleSize, numHashes).as("__k"))
      .select(col("id"), bandHashArray(col("__k.sig"), numHashes, bands).as("bh"),
        col("__k.sh").as("__sh"))
      .localCheckpoint(true)

  /** [[nearDupPairs]] together with the hash checkpoint its plan reads, for
    * callers that materialize the pairs themselves and can free the
    * checkpoint right after (see [[clusterCanonicalDedup]]). */
  private def hashedNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int,
      numHashes: Int,
      bands: Int,
      threshold: Double): (DataFrame, DataFrame) = {
    val hashed = graft.JobLabel(df.sparkSession, "graft.dedup: hash") {
      hashedDocs(df, idCol, textCol, shingleSize, numHashes, bands)
    }
    (hashed, lshPairs(hashed, "jaccard", jaccard, Some(threshold)))
  }

  // Shared decontamination inputs. The kernel dedupes shingles per row, so
  // the corpus stream is already per-doc distinct.
  private def shingleStream(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    df.select(col(idCol).as("doc_id"),
      explode(sketch(col(textCol), n, 0).getField("sh")).as("__sh"))
  // benchmark side needs only the text column — no id required
  private def shingleSet(df: DataFrame, textCol: String, n: Int): DataFrame =
    df.select(explode(sketch(col(textCol), n, 0).getField("sh")).as("__sh"))
      .distinct()

  /** The INCREMENTAL near-dedup scale path: hash and band the corpus ONCE
    * into a persisted LSH index, then dedup each new crawl batch against it
    * with partition-pruned reads — the corpus is never rescanned.
    *
    * Layout under `path`:
    *   - `bands/`  one skinny row per (band, band-hash, doc), partitioned by
    *     `__hb = pmod(h, nParts)` — a probe touches at most nParts
    *     directories, and only the ones its own band hashes land in;
    *   - `docs/`   one row per doc carrying its 8-byte shingle hashes,
    *     partitioned by `__db = pmod(xxhash64(doc_id), nParts)` — the exact
    *     verify reads only the partitions holding candidate ids;
    *   - `_lsh_params.json` pins (shingleSize, numHashes, bands, nParts) so
    *     probes and appends can never mix incompatible hash families.
    *
    * Probe cost scales with the BATCH: the batch's band hashes broadcast
    * into a pruned `bands/` scan, candidates bound the verify join, and
    * the per-pair exact Jaccard matches [[nearDupPairs]] bit for bit. After
    * a batch is admitted, [[lshIndexAppend]] grows both tables in place
    * (parquet append — new files only, no rewrite). */
  def lshIndexWrite(
      df: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      nParts: Int = 64,
      mode: String = "overwrite"): Unit = {
    require(nParts >= 1, s"nParts $nParts")
    // ONE pass over the text: both table writes read the hash checkpoint.
    // They land in disjoint directories and are independent, so they run
    // CONCURRENTLY (guide §2.6): the docs write back-fills executors freed
    // by the bands write's tail.
    val hashed = hashedDocs(df, idCol, textCol, shingleSize, numHashes, bands)
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: scala.concurrent.ExecutionContext = writeEc
      // Cluster each table by its partition column before the partitioned
      // write (guide §6: "REBALANCE hint before the write"): without the
      // exchange every write task opens a file in up to nParts directories,
      // so the index accumulates O(tasks × nParts) small files — a
      // million-task corpus with nParts=64 is 64M tiny files, and the probe
      // pays per-file open cost inside every pruned partition it reads.
      // REBALANCE (vs a plain keyed repartition) lets AQE size the layout
      // from actual bytes BOTH ways: small partitions coalesce (few files
      // locally) and a large partition splits into advisory-sized tasks
      // (write parallelism is not capped at nParts, files stay right-sized
      // at scale). The shuffle payload is the skinny band rows / per-doc
      // shingle arrays that were about to be written anyway.
      val bandsJob = Future {
        bandRows(hashed).withColumnRenamed("id", "doc_id")
          .withColumn("__hb", pmod(col("h"), lit(nParts.toLong)))
          .hint("rebalance", col("__hb"))
          .write.partitionBy("__hb").mode(mode).parquet(s"$path/bands")
      }
      val docsJob = Future {
        hashed.select(col("id").as("doc_id"), col("__sh"))
          .filter(size(col("__sh")) > 0)
          .withColumn("__db", pmod(xxhash64(col("doc_id")), lit(nParts.toLong)))
          .hint("rebalance", col("__db"))
          .write.partitionBy("__db").mode(mode).parquet(s"$path/docs")
      }
      Await.result(bandsJob, Duration.Inf)
      Await.result(docsJob, Duration.Inf)
    } finally graft.Housekeeping.release(hashed)
    Similarity.writeSidecar(df.sparkSession, s"$path/_lsh_params.json",
      graft.meta.JObj(Seq(
        "shingleSize" -> graft.meta.JNum(shingleSize.toDouble),
        "numHashes" -> graft.meta.JNum(numHashes.toDouble),
        "bands" -> graft.meta.JNum(bands.toDouble),
        "nParts" -> graft.meta.JNum(nParts.toDouble))))
  }

  /** True when `path` holds a committed LSH index (its params sidecar
    * exists) — the "is this the first batch" test for incremental loops. */
  def lshIndexExists(spark: org.apache.spark.sql.SparkSession,
      path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_lsh_params.json")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def lshParams(spark: org.apache.spark.sql.SparkSession,
      path: String): (Int, Int, Int, Int) = {
    val p = Similarity.readSidecar(spark, s"$path/_lsh_params.json")
      .asInstanceOf[graft.meta.JObj]
    def n(k: String) = p.get(k).collect { case graft.meta.JNum(v) => v.toInt }
      .getOrElse(sys.error(s"LSH index at $path missing param $k"))
    (n("shingleSize"), n("numHashes"), n("bands"), n("nParts"))
  }

  /** Grow a persisted LSH index with an admitted batch, reusing the
    * index's pinned hash-family parameters. */
  def lshIndexAppend(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      df: DataFrame,
      idCol: String,
      textCol: String): Unit = {
    val (shingleSize, numHashes, bands, nParts) = lshParams(spark, path)
    lshIndexWrite(df, idCol, textCol, path, shingleSize, numHashes, bands,
      nParts, mode = "append")
  }

  /** Near-duplicate pairs (index doc, batch doc, exact jaccard) between a
    * persisted LSH index and a new batch. Both the candidate scan and the
    * verify scan are partition-pruned by the driver-side (≤ nParts)
    * partition-value sets the batch actually touches; the batch side
    * broadcasts. Batch-internal duplicates are out of scope by design —
    * run [[nearDupPairs]] on the batch itself for those. */
  def lshProbeNearDups(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.9): DataFrame = {
    val (shingleSize, numHashes, bands, nParts) = lshParams(spark, path)
    // ONE pass over the batch text: the probe's band stream, the
    // bucket-set collect and the verify side all read the hash checkpoint,
    // which backs the returned plan — the caller releases it (Housekeeping)
    val hashed = hashedDocs(batch, idCol, textCol, shingleSize, numHashes, bands)
    val probe = bandRows(hashed)
    val hbs = probe.select(pmod(col("h"), lit(nParts.toLong)).as("hb"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val empty = spark.emptyDataFrame
      .select(lit(0L).as("doc_a"), lit(0L).as("doc_b"),
        lit(0.0).as("jaccard")).limit(0)
    if (hbs.isEmpty) { graft.Housekeeping.release(hashed); return empty }
    // the candidate set is read twice (verify-partition discovery + the
    // verify join itself); both reads are the PRUNED bands scan joined to
    // the broadcast probe — recomputing it keeps the __hb partition
    // pruning visible in the returned plan (pinned by TextDedupSpec)
    val idxBands = spark.read.parquet(s"$path/bands")
      .filter(col("__hb").isin(hbs: _*))
      .select(col("doc_id").as("id"), col("band"), col("h"))
    val cands = bucketPairs(idxBands, broadcast(probe), Seq("band", "h"), _ =!= _)
      .select("a", "b").distinct()
    val dbs = cands.select(pmod(xxhash64(col("a")), lit(nParts.toLong)).as("db"))
      .distinct().collect().map(_.getLong(0)).toSeq
    if (dbs.isEmpty) { graft.Housekeeping.release(hashed); return empty }
    val idxSh = spark.read.parquet(s"$path/docs")
      .filter(col("__db").isin(dbs: _*))
      .select(col("doc_id").as("id"), col("__sh"))
    verifyPairs(cands, idxSh, hashed.select(col("id"), col("__sh")), lit(true),
        "jaccard", jaccard, Some(threshold))
      .select(col("a").as("doc_a"), col("b").as("doc_b"), col("jaccard"))
  }

  /** Benchmark decontamination: corpus documents sharing at least one
    * word-`n`-gram with any benchmark document — the standard training-data
    * hygiene check before evaluation. One shuffle on 8-byte shingle hashes;
    * the benchmark side's distinct shingle set is broadcast when small.
    * Returns the contaminated corpus ids (one row each). */
  def contaminatedDocs(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame =
    shingleStream(corpus, idCol, textCol, n)
      .join(shingleSet(benchmark, textCol, n), Seq("__sh"), "left_semi")
      .select("doc_id").distinct()

  /** Benchmark decontamination at the scale where the benchmark's distinct
    * shingle set is too large to broadcast as a hash set: a Bloom filter of
    * the benchmark shingles (a few bits per element) broadcasts instead and
    * prunes the corpus side BEFORE the exact join, which then only verifies
    * the pruned survivors.
    *
    * The OUTPUT is exactly [[contaminatedDocs]]: Bloom false positives are
    * eliminated by the exact verify, and false negatives are impossible —
    * so this shares q58's oracle while exercising the scale path. `fpp`
    * trades filter size against wasted verify work only. */
  def contaminatedDocsBloom(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      fpp: Double = 0.01): DataFrame = {
    // materialize the (large) benchmark shingle set ONCE: the size count,
    // the Bloom aggregation, and the exact verify join all read the
    // checkpoint instead of re-running tokenize+shingle+distinct three times
    // this checkpoint is referenced by the RETURNED plan (the exact-verify
    // join), so it must outlive the call — the caller releases it with
    // Housekeeping once the result is consumed
    val benchShingles = shingleSet(benchmark, textCol, n)
      .localCheckpoint(true)
    val expected = math.max(benchShingles.count(), 1L)
    val bf = benchShingles.stat.bloomFilter("__sh", expected, fpp)
    val bfBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    // Spark's native might_contain expression (the runtime-filter codegen
    // path) instead of an interpreted Scala UDF — no whole-stage-codegen
    // barrier, no per-shingle boxing on the hot corpus scan
    val mightContain = ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(
          bfBytes, org.apache.spark.sql.types.BinaryType),
        ColumnBridge.expression(col("__sh"))))
    shingleStream(corpus, idCol, textCol, n)
      .filter(mightContain)
      .join(benchShingles, Seq("__sh"), "left_semi")
      .select("doc_id").distinct()
  }

  /** Per-document contamination FRACTION (not just the boolean flag): the
    * share of a corpus document's distinct word-`n`-grams that appear in
    * the benchmark set — the signal a pipeline thresholds on instead of
    * hard-dropping every touching doc. Documents with fewer than `n`
    * tokens have no shingles and emit no row. Same shuffle shape as
    * [[contaminatedDocs]] (8-byte shingle hashes; benchmark side distinct
    * + broadcastable). */
  def contaminationOverlap(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame = {
    val benchSh = shingleSet(benchmark, textCol, n)
      .withColumn("__hit", lit(1L))
    // single pass: one corpus explode, one left join flagging benchmark
    // hits, one per-doc aggregate computing both counts together
    shingleStream(corpus, idCol, textCol, n)
      .join(benchSh, Seq("__sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_common"))
      .withColumn("overlap", round(
        col("n_common").cast("double") / col("n_shingles").cast("double"), 6))
  }

  /** 64-bit SimHash over tokens: for each bit, sum ±1 votes weighted by the
    * token hash's bit value; bit set when the vote is positive. Near-dups
    * have small Hamming distance. Native [[SimHash64Expr]]: one codegen'd
    * tokenize→hash→vote loop per row (the 64-pass HOF formulation it
    * replaces ran interpreted; a parity spec pins bit-identity). */
  def simhash64(textCol: Column): Column =
    ColumnBridge.column(SimHash64Expr(ColumnBridge.expression(textCol)))

  /** Hamming distance between two 64-bit simhashes via bit_count(xor). */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** CCNet-style corpus-level line dedup: drop every line that appears in
    * ≥ `minDocs` DISTINCT documents (boilerplate headers/footers/nav), and
    * reconstruct each document from its kept lines in original order.
    * Returns (idCol, cleaned, n_removed).
    *
    * Scale shape: the shuffle key is the line string only while counting
    * document frequency (the classic inverted count); the common-line set
    * is then the small side of the membership join. Reconstruction is a
    * per-document sort_array over (position, line) structs — no window. */
  def corpusLineDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minDocs: Int): DataFrame = {
    // split ONCE (r15, guide §5): the document-frequency count and the
    // reconstruction join both read the materialized per-doc line arrays
    // instead of re-scanning and re-splitting the corpus per reference;
    // caller/sweep releases the checkpoint
    val lineArr = df.select(col(idCol).as("__id"),
        split(col(textCol), "\n").as("__ls"))
      .localCheckpoint(true)
    val lines = lineArr.select(col("__id"),
      posexplode(col("__ls")).as(Seq("__pos", "__line")))
    val common = lines.filter(col("__line") =!= "")
      .groupBy("__line")
      .agg(countDistinct(col("__id")).as("__docs"))
      .filter(col("__docs") >= minDocs)
      .select(col("__line"), lit(true).as("__drop"))
    lines.join(common, Seq("__line"), "left")
      .groupBy(col("__id"))
      .agg(
        array_join(transform(
          array_sort(collect_list( // collect_list drops the nulled (removed) rows
            when(col("__drop").isNull, struct(col("__pos"), col("__line"))))),
          x => x.getField("__line")), "\n").as("cleaned"),
        sum(when(col("__drop"), 1L).otherwise(0L)).as("n_removed"))
      .withColumnRenamed("__id", idCol)
  }

  /** Connected components over a near-duplicate pair graph, via alternating
    * large-star / small-star rounds (the classic MapReduce construction:
    * Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14). Returns `(node, component)` for every node appearing in
    * `pairs`, where `component` is the MINIMUM node id in the component —
    * the canonical cluster id a dedup pass keeps. A node seen only in
    * self-loops is its own component.
    *
    * The canonical `(u < v)` edge set is done once it is a forest of stars:
    * no node is both a centre `u` and a leaf `v`, and no leaf has two
    * centres. That set is a fixpoint of both star steps, every round
    * preserves connectivity and the node set, and `u < v` makes each centre
    * its star's minimum — so every leaf `v` is labeled `u`, and every other
    * node is its own minimum. [[forestRoles]] tests the shape and labels the
    * nodes in ONE aggregation, so an input that is already a forest of stars
    * (the common dedup case: each original with a few near copies) runs no
    * round and no separate check.
    *
    * Scale shape: each round is two hash aggregations + joins keyed on node
    * ids (8 bytes); no adjacency list is ever collected, and the edge set
    * only shrinks toward one star per component. Convergence is O(log n)
    * rounds on any graph (per the paper), each round a constant number of
    * shuffles. Lineage is truncated per round with a `localCheckpoint` so
    * the plan does not grow with the round count. The result is ONE
    * persisted frame; release it via `Housekeeping.release` when done.
    *
    * A cluster-canonical dedup pass does not need this table: the members
    * it drops are exactly the star leaves (see [[clusterCanonicalDedup]]).
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxRounds: Int = 30): DataFrame = {
    var base: DataFrame = null
    try {
      // canonical distinct edges (u ≤ v), self-loops kept for the node set.
      // LAZY checkpoint: the roles aggregation materializes it, and the
      // rounds (if any) read it instead of the pairs' lineage
      base = graft.JobLabel(pairs.sparkSession, "graft.dedup: components base") {
        pairs
          .select(col(aCol).cast("long").as("x"), col(bCol).cast("long").as("y"))
          .select(least(col("x"), col("y")).as("u"), greatest(col("x"), col("y")).as("v"))
          .distinct()
          .localCheckpoint(false)
      }
      forestRoles(base.filter(col("u") =!= col("v")),
          base.filter(col("u") === col("v")).select(col("u").as("n")), maxRounds,
          "graft.dedup: components label")
        .select(col("n").as("node"), coalesce(col("c"), col("n")).as("component"))
    } finally if (base != null) graft.Housekeeping.release(base)
  }

  /** [[starRoles]] over the forest of stars `edges` contract to: over
    * `edges` themselves when they already form one (no round, no separate
    * check), else over the output of [[starForest]]'s rounds. `edges` stays
    * the caller's; the returned checkpoint is the only frame left persisted,
    * on failure too. */
  private def forestRoles(edges: DataFrame, nodes: DataFrame, maxRounds: Int,
      label: String): DataFrame = {
    val (roles, bad) = starRoles(edges, nodes, label)
    if (bad == 0) roles
    else {
      graft.Housekeeping.release(roles)
      val forest = starForest(edges, maxRounds)
      try starRoles(forest, nodes, label)._1 finally graft.Housekeeping.release(forest)
    }
  }

  /** ONE aggregation over every node and its roles in `edges` (canonical,
    * distinct `(u, v)`, `u < v`): per node `n` its `leaf` flag (1 when it is
    * some edge's `v`), its edge-endpoint count `roles`, and for a leaf its
    * smallest centre `c`. `nodes` (column `n`) adds nodes outside every
    * edge. The frame is materialized by an eager `localCheckpoint`, and the
    * same job counts, through `Dataset.observe`, the nodes that break the
    * forest-of-stars shape: a leaf that is in a second edge. Returns the
    * checkpoint (the caller releases it) and that count. */
  private def starRoles(edges: DataFrame, nodes: DataFrame,
      label: String): (DataFrame, Long) = {
    val obs = new org.apache.spark.sql.Observation()
    val noCentre = lit(null).cast(edges.schema("u").dataType)
    val roles = graft.JobLabel(edges.sparkSession, label) {
      nodes.select(col("n"), lit(0).as("leaf"), lit(0).as("r"), noCentre.as("c"))
        .union(edges.select(explode(array(
            struct(col("u").as("n"), lit(0).as("leaf"), lit(1).as("r"), noCentre.as("c")),
            struct(col("v").as("n"), lit(1).as("leaf"), lit(1).as("r"), col("u").as("c"))))
          .as("__e")).select("__e.*"))
        .groupBy(col("n"))
        .agg(max(col("leaf")).as("leaf"), sum(col("r")).as("roles"), min(col("c")).as("c"))
        .observe(obs, count(when(col("leaf") === 1 && col("roles") > 1, 1)).as("bad"))
        .localCheckpoint(true)
    }
    (roles, obs.get("bad").asInstanceOf[Long])
  }

  /** The large-star/small-star rounds over canonical, distinct edges
    * `(u, v)`, `u < v`, until they form one star per connected component
    * (of more than one node), centred at the component's minimum. The shape
    * is checked after each round, so call it on edges known not to be a
    * forest of stars (a round leaves such a forest unchanged). `edges` stays
    * the caller's; superseded rounds are released, and the returned
    * checkpoint is the only round left persisted — the caller releases
    * it. */
  private[functions] def starForest(edges: DataFrame, maxRounds: Int): DataFrame = {
    val spark = edges.sparkSession
    // Forest of stars ⇔ no node is a leaf (v) AND appears in any other
    // edge: as a centre, or as the leaf of a second centre (edges are
    // distinct). One aggregation over both roles, then `isEmpty` — the
    // single driver action of a round. AQE runs a checkpointed plan's
    // shuffle map stages when the checkpoint is built; the check's own
    // map stage then materializes the checkpoint blocks.
    def isStarForest(e: DataFrame): Boolean =
      e.select(explode(array(
          struct(col("u").as("n"), lit(0).as("leaf")),
          struct(col("v").as("n"), lit(1).as("leaf")))).as("__r"))
        .groupBy(col("__r.n").as("n"))
        .agg(max(col("__r.leaf")).as("leaf"), count(lit(1)).as("roles"))
        .filter(col("leaf") === 1 && col("roles") > 1)
        .isEmpty

    var cur = edges
    try {
      var done = false
      var rounds = 0
      while (!done && rounds < maxRounds) graft.JobLabel(spark, "graft.dedup: star round") {
        // LARGE-STAR: for each center u over the SYMMETRIC adjacency, link
        // every strictly larger neighbor to m = min(u, Γ(u)).
        val sym = cur.union(cur.select(col("v").as("u"), col("u").as("v")))
        val lsMin = sym.groupBy("u").agg(least(col("u"), min(col("v"))).as("m"))
        // no distinct here: duplicate (m, v) edges are absorbed by the
        // small-star groupBy/join and the final distinct — dropping the
        // extra shuffle stage per round is worth the bounded dup carry
        val large = sym.join(lsMin, "u")
          .filter(col("v") > col("u"))
          .select(col("m").as("u"), col("v"))
        // SMALL-STAR: center = the larger endpoint of each canonical edge;
        // link all of its ≤ neighbors (and itself) to their minimum. ONE
        // join: each joined (v, u, m) row emits BOTH output edges — (m, u)
        // for the neighbor and (m, v) for the center — via explode.
        val ssMin = large.groupBy(col("v")).agg(min(col("u")).as("m"))
        val small = large.join(ssMin, "v")
          .select(explode(array(
            struct(col("m").as("u"), col("u").as("v")),
            struct(col("m").as("u"), col("v").as("v")))).as("__e"))
          .select(col("__e.u").as("u"), col("__e.v").as("v"))
          .filter(col("u") =!= col("v"))
          .distinct()
          .localCheckpoint(false)
        done = isStarForest(small)
        // the new round is materialized (the check ran): the previous
        // round's edge blocks are dead — release them before they pile up
        if (cur ne edges) graft.Housekeeping.release(cur)
        cur = small
        rounds += 1
      }
      require(done, s"connectedComponents did not converge in $maxRounds rounds")
      cur
    } catch {
      case t: Throwable =>
        if (cur ne edges) graft.Housekeeping.release(cur)
        throw t
    }
  }

  /** Cluster-canonical near-dedup: the full pipeline a corpus-scale dedup
    * actually runs — LSH candidates → exact verify ([[nearDupPairs]]) →
    * connected components → keep ONE doc per component (the minimum id)
    * plus every doc in no near-dup pair. Returns the kept `(idCol)` rows,
    * one per id.
    *
    * No node is labeled: once the pair edges are a forest of stars, the
    * members to drop (node ≠ its component minimum) are exactly the star
    * leaves `v`. The verified pairs are canonical and distinct already, so
    * they are the edges as they are; [[starRoles]] aggregates the ids (from
    * the hash checkpoint, which holds every doc, so `df` is evaluated once)
    * with the edges' roles ([[forestRoles]]): the result is its non-leaves,
    * reading one persisted frame that `Housekeeping.release` on it frees. */
  def clusterCanonicalDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.9): DataFrame = {
    val spark = df.sparkSession
    graft.JobLabel(spark, "graft.dedup: cluster canonical") {
      val (hashed, pairs) = hashedNearDupPairs(
        df, idCol, textCol, shingleSize, numHashes, bands, threshold)
      var edges: DataFrame = null
      try {
        // LAZY checkpoint: building it runs the pairs' own stages (the band
        // join and verify broadcasts) under their own label; the roles
        // aggregation materializes it
        edges = graft.JobLabel(spark, "graft.dedup: pairs") {
          pairs.select(col("doc_a").as("u"), col("doc_b").as("v")).localCheckpoint(false)
        }
        forestRoles(edges, hashed.select(col("id").as("n")), 30, "graft.dedup: keep")
          .filter(col("leaf") === 0).select(col("n").as(idCol))
      } finally Seq(hashed, edges).filter(_ != null).foreach(graft.Housekeeping.release)
    }
  }

  /** Exact-substring deduplication (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): every K-token span that
    * occurs MORE THAN ONCE anywhere in the corpus (across documents or
    * within one) is removed from every document carrying it; surviving
    * tokens are rejoined. Unlike pair-grain near-dedup this rewrites the
    * text itself — the suffix-array step of the paper re-expressed as a
    * gram-frequency shuffle.
    *
    * Returns (idCol, n_tokens, n_removed, clean_text).
    *
    * Scale: the one corpus-wide shuffle is the gram-hash count (8-byte
    * xxhash64 keys, map-side combined); flagged positions return via a
    * join on the hash and a doc-keyed aggregation whose payload is bounded
    * by document length; reconstruction is a per-row index filter. Skew is
    * bounded by the hottest duplicated gram — at K ≥ 50 (the paper's
    * setting) hot grams are exactly the boilerplate this op exists to
    * delete.
    */
  def exactSubstringDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int): DataFrame = {
    require(k >= 2, s"span length $k: a 1-token span would delete every repeated word")
    // tokenize ONCE (r15, guide §5): the gram stream (referenced by both
    // the duplicate count and the flagged-position join) and the final
    // reconstruction all read the materialized per-doc token arrays —
    // previously each reference re-scanned and re-tokenized the corpus;
    // caller/sweep releases the checkpoint
    val toks = df.select(col(idCol), graft.functions.Text.tokens(col(textCol)).as("toks"))
      .localCheckpoint(true)
    // gram hash per start position; sequence(0, n-k) is DESCENDING when
    // n < k, so short documents must produce an empty gram list explicitly
    val grams = toks.select(col(idCol), posexplode(
        graft.functions.Text.bind(col("toks")) { t =>
          when(size(t) >= k,
            transform(sequence(lit(0), size(t) - k),
              i => xxhash64(array_join(slice(t, i + 1, lit(k)), " "))))
            .otherwise(array().cast("array<bigint>"))
        }).as(Seq("pos", "gh")))
    val dup = grams.groupBy("gh").agg(count(lit(1)).as("n")).filter(col("n") > 1)
      .select("gh")
    val flagged = grams.join(dup, Seq("gh"))
      .groupBy(idCol).agg(sort_array(collect_set(col("pos"))).as("rm"))
    val rm = coalesce(col("rm"), array().cast("array<int>"))
    // bind the KEPT array (a computed filter tree) so its two consumers
    // read a bound variable instead of re-evaluating the filter
    toks.join(flagged, Seq(idCol), "left")
      .select(col(idCol),
        size(col("toks")).cast("long").as("n_tokens"),
        graft.functions.Text.bind(filter(col("toks"),
          (_, i) => !exists(rm, p => p <= i && i < p + k))) { kept =>
          struct(
            (size(col("toks")) - size(kept)).cast("long").as("n_removed"),
            array_join(kept, " ").as("clean_text"))
        }.as("r"))
      .select(col(idCol), col("n_tokens"),
        col("r.n_removed"), col("r.clean_text"))
  }

  /** Exact n-gram Jaccard similar pairs above `threshold`.
    *
    * Explode distinct shingles → self-join on shingle → per-pair common
    * count → Jaccard with per-doc shingle counts. The shingle join is the
    * classic "inverted index" plan: shuffle keys are shingles, so skew is
    * bounded by the most common shingle — acceptable for ≥3-gram shingles;
    * for larger corpora use `minhashCandidatePairs` first and verify only
    * candidates, OR set `maxShingleDocFreq`.
    *
    * `maxShingleDocFreq = Some(cap)` is the STOP-SHINGLE mitigation for
    * that skew bound: shingles appearing in more than `cap` documents are
    * excluded from CANDIDATE GENERATION (the self-join), capping the
    * hottest key's pair fan-out at cap²/2 — candidates are then verified
    * against the FULL shingle sets, so every reported Jaccard is still
    * exact. The trade is recall on pairs whose every shared shingle is
    * ubiquitous: boilerplate-only overlaps, which sit far below any
    * near-dup threshold at realistic n. */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxShingleDocFreq: Option[Long] = None): DataFrame = {
    // Shuffle 8-byte shingle hashes, not shingle strings: the join key and
    // every exchange shrink ~4×, and Jaccard counts are unchanged short of
    // an xxhash64 collision (~n²/2⁶⁵ — negligible at any realistic corpus).
    // ONE pass over the text (r15): the per-doc shingle-hash arrays
    // materialize once into an eager checkpoint; the exploded stream, the
    // per-doc stats, and the exact verify all read it instead of
    // re-tokenizing the corpus per plan reference (the capped branch held
    // five such references). The checkpoint backs the returned plan —
    // released by `Housekeeping.release(result)` / the session sweep.
    val shArr = df.select(col(idCol).as("doc_id"),
        sketch(col(textCol), n, 0).getField("sh").as("__sh"))
      .localCheckpoint(true)
    val sh = shArr.select(col("doc_id"), explode(col("__sh")).as("shingle"))
    // per-doc shingle counts are size(__sh) on the materialized arrays
    // (the kernel already dedupes per row) — the former
    // explode+groupBy recounted them through a full corpus-shingle
    // exchange (r16, guide §2.4: remove shuffles outright)
    val docCounts = shArr.select(col("doc_id"),
      size(col("__sh")).cast("long").as("__n"))
    maxShingleDocFreq match {
      case None =>
        val counts = docCounts.withColumnRenamed("__n", "n_shingles")
        val pairs = sh.toDF("doc_a", "shingle")
          .join(sh.toDF("doc_b", "shingle"), Seq("shingle"))
          .filter(col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b")
          .agg(count(lit(1)).as("n_common"))
        pairs
          .join(counts.toDF("doc_a", "n_a"), Seq("doc_a"))
          .join(counts.toDF("doc_b", "n_b"), Seq("doc_b"))
          .withColumn("jaccard",
            round(col("n_common").cast("double") /
              (col("n_a") + col("n_b") - col("n_common")).cast("double"), 6))
          .filter(col("jaccard") >= threshold)
          .select("doc_a", "doc_b", "jaccard")
      case Some(cap) =>
        require(cap >= 2, s"maxShingleDocFreq must be >= 2, got $cap")
        val rare = sh.groupBy("shingle").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= cap).select("shingle")
        // the join key moves FIRST in the joined frame — re-select before
        // positional renames
        val shRare = sh.join(rare, Seq("shingle"))
          .select("doc_id", "shingle")
        // per-doc totals: n = all shingles (free via size(__sh) above),
        // r = rare shingles; h = n − r hot ones (each doc's shingles are
        // already distinct). __r derives from shRare so the rare join's
        // subplan exists ONCE in the plan.
        val docStats = docCounts
          .join(shRare.groupBy("doc_id").agg(count(lit(1)).as("__r")),
            Seq("doc_id"), "left")
          .select(col("doc_id"), col("__n"),
            coalesce(col("__r"), lit(0L)).as("__r"))
        // candidate pairs WITH their rare-common count c_r in one pass
        // (groupBy replaces the former distinct — same exchange)
        val cands = shRare.toDF("doc_a", "shingle")
          .join(shRare.toDF("doc_b", "shingle"), Seq("shingle"))
          .filter(col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("__cr"))
        // conservative prune before the expensive array verify: the true
        // common count is c_r + c_h with c_h ≤ min(h_a, h_b), and jaccard
        // is increasing in c_h, so
        //   jaccard ≤ (c_r + min(h_a,h_b)) / (n_a + n_b − c_r − min(h_a,h_b))
        // — an upper bound; pairs it already disqualifies (the bulk:
        // random single-shingle overlaps) never reach the verify join,
        // while every surviving pair is still verified EXACTLY below.
        val pruned = cands
          .join(docStats.select(col("doc_id").as("doc_a"),
            col("__n").as("__na"), (col("__n") - col("__r")).as("__ha")), Seq("doc_a"))
          .join(docStats.select(col("doc_id").as("doc_b"),
            col("__n").as("__nb"), (col("__n") - col("__r")).as("__hb")), Seq("doc_b"))
          .withColumn("__maxc", col("__cr") + least(col("__ha"), col("__hb")))
          // the verify below filters on round(jaccard, 6) ≥ threshold,
          // which admits exact jaccards as low as threshold − 5e-7 — the
          // prune threshold backs off by that much (plus 1e-9 for double
          // rounding of the product) so it can only ever be conservative:
          // extra survivors are re-checked exactly; a dropped true pair
          // would be a recall bug
          .filter(col("__maxc").cast("double") >=
            lit(threshold - 5e-7) *
              (col("__na") + col("__nb") - col("__maxc")).cast("double")
              - lit(1e-9))
          .select("doc_a", "doc_b")
        // exact verify over the full sets — the nearDupPairs shape, with
        // stop-shingle candidates instead of LSH candidates; the sets come
        // from the same checkpoint (no re-tokenize)
        val sets = shArr.select(col("doc_id").as("id"), col("__sh"))
        verifyPairs(pruned.select(col("doc_a").as("a"), col("doc_b").as("b")), sets, sets,
            lit(true), "jaccard", jaccard, Some(threshold))
          .select(col("a").as("doc_a"), col("b").as("doc_b"), col("jaccard"))
    }
  }
}
