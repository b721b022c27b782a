package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.expressions.{SrpBucketExpr, VectorDot}

/** Vector-similarity operators over an embedding column (Array[Float]):
  * brute-force cosine top-k as the exact baseline, and an LSH-bucketed
  * variant as the 100 TB scale path.
  */
object Similarity {

  /** Dot product of two float-array columns, accumulated left-to-right in
    * double — the native [[VectorDot]] expression: one codegen'd loop per
    * row, bit-identical to the `aggregate(zip_with(...))` formulation that
    * higher-order functions would evaluate interpreted. */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(VectorDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(denom > 0, dot(a, b) / denom).otherwise(lit(0.0))
  }

  /** Brute-force cosine top-k neighbors of one query vector.
    *
    * The query vector is a literal array, so the scan computes one fused
    * expression per row and the only cross-node traffic is the global top-k
    * (`orderBy` + `limit` → TakeOrderedAndProject — no full sort, each
    * partition keeps k rows).
    */
  def bruteForceTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int): DataFrame = rerank(df, idCol, vecCol, query, k)

  /** Cosine similarity of every row to a query vector (no top-k cutoff). */
  def cosineToQuery(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float]): DataFrame = {
    val q = array(query.map(v => lit(v)): _*)
    df.select(col(idCol), round(cosine(col(vecCol), q), 6).as("cos_sim"))
  }

  /** Sign-random-projection LSH bucket id: `nBits` deterministic pseudo-random
    * hyperplanes (components derived from xxhash64(planeId, dimIdx) → ±1),
    * bucket = bit pattern of the projection signs.
    *
    * This is the scale path for ANN: group by bucket, search only within the
    * query's bucket (and optionally its Hamming-1 neighbors). Partitioning by
    * bucket id makes the search a partition-pruned scan instead of a full
    * pass.
    */
  def srpBucket(vecCol: Column, dim: Int, nBits: Int): Column =
    ColumnBridge.column(
      SrpBucketExpr(ColumnBridge.expression(vecCol), dim, nBits))

  private def planeSign(plane: Int, i: Int): Double =
    SrpBucketExpr.planeSign(plane, i)

  /** The C(nBits, ≤radius) Hamming-ball masks, generated combinatorially —
    * an exhaustive 2^nBits sweep would hang the driver beyond ~24 bits. */
  private[functions] def probeMasks(nBits: Int, radius: Int): Seq[Long] = {
    def masks(r: Int): Seq[Long] =
      if (r == 0) Seq(0L)
      else masks(r - 1).flatMap { m =>
        val highest = if (m == 0L) -1 else 63 - java.lang.Long.numberOfLeadingZeros(m)
        (highest + 1 until nBits).map(b => m | (1L << b))
      } ++ masks(r - 1)
    masks(radius).distinct
  }

  /** Driver-side SRP bucket of a constant query vector — same arithmetic as
    * [[srpBucket]] (left-to-right double accumulation), no Spark job. */
  def srpBucketOf(query: Seq[Float], nBits: Int): Long =
    (0 until nBits).map { plane =>
      val proj = query.zipWithIndex
        .foldLeft(0.0) { case (acc, (v, i)) => acc + v.toDouble * planeSign(plane, i) }
      if (proj > 0) 1L << plane else 0L
    }.reduce(_ | _)

  /** ANN via SRP-LSH: restrict the brute-force search to rows whose bucket
    * lies within `hammingRadius` bit flips of the query's bucket (multi-
    * probe — radius 0 is the single-bucket search, radius 1 adds the nBits
    * adjacent buckets and recovers neighbors that fall just across a
    * hyperplane), then exact-rank within the probed buckets. The probe set
    * is computed driver-side; with data written partitioned by bucket the
    * scan is partition-pruned to the probes. */
  def annTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int,
      nBits: Int = 8,
      hammingRadius: Int = 0): DataFrame = {
    val dim = query.length
    val withBucket = df.withColumn("__bucket", srpBucket(col(vecCol), dim, nBits))
    val queryBucket = srpBucketOf(query, nBits)
    val probes = probeMasks(nBits, hammingRadius).map(_ ^ queryBucket)
    rerank(withBucket.filter(col("__bucket").isin(probes: _*)),
      idCol, vecCol, query, k)
  }

  /** IVF centroid selection: a deterministic hash-ordered sample of corpus
    * vectors (TakeOrderedAndProject — no full sort, no RNG so re-runs are
    * stable). Real IVF refines these with k-means; hash-sampled seeds are
    * the standard zero-training fallback and preserve the search contract. */
  def ivfCentroids(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int,
      seed: Long = 42L): Seq[Seq[Float]] =
    df.select(col(vecCol))
      .orderBy(xxhash64(col(idCol), lit(seed)))
      .limit(nCentroids)
      .collect()
      .map(_.getSeq[Float](0).toSeq).toSeq

  /** Assign each row to its max-dot-product centroid (IVF list id). The
    * centroids ride along as literal arrays, so assignment is one scan. */
  def ivfAssign(df: DataFrame, vecCol: String,
      centroids: Seq[Seq[Float]]): DataFrame = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      val cLit = array(c.map(v => lit(v)): _*)
      struct(dot(col(vecCol), cLit).as("score"), lit(i).as("idx"))
    }
    df.withColumn("__ivf_bucket",
      array_max(array(scored: _*)).getField("idx"))
  }

  /** Driver-side: the `nProbe` centroid ids nearest to the query. */
  def ivfProbes(query: Seq[Float], centroids: Seq[Seq[Float]], nProbe: Int): Seq[Int] =
    centroids.zipWithIndex
      .map { case (c, i) =>
        (c.zip(query).foldLeft(0.0) { case (acc, (a, b)) =>
          acc + a.toDouble * b.toDouble }, i)
      }
      .sortBy { case (s, i) => (-s, i) }
      .take(nProbe).map(_._2)

  /** ANN via IVF: search only the `nProbe` inverted lists nearest the
    * query, exact-rank within them. With `nProbe == nCentroids` the search
    * is exhaustive and matches [[bruteForceTopK]] exactly. At scale the
    * assignment is written once (partitioned by list id) and a probe is a
    * partition-pruned scan. */
  def ivfTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      seed: Long = 42L): DataFrame = {
    val cents = ivfCentroids(df, idCol, vecCol, nCentroids, seed)
    val probes = ivfProbes(query, cents, nProbe)
    rerank(ivfAssign(df, vecCol, cents).filter(col("__ivf_bucket").isin(probes: _*)),
      idCol, vecCol, query, k)
  }

  /** Exact cosine re-rank of candidate rows against a constant query:
    * the shared tail of every ANN/brute-force search (fused scan
    * projection + TakeOrderedAndProject, ties broken by id). */
  private def rerank(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int): DataFrame = {
    val q = array(query.map(v => lit(v)): _*)
    df.select(col(idCol), round(cosine(col(vecCol), q), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** JSON sidecar beside a written layout (Hadoop FS, so file:// and
    * object stores behave alike). */
  private[functions] def writeSidecar(spark: org.apache.spark.sql.SparkSession,
      path: String, doc: graft.meta.JValue): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(path), true)
    try out.write(doc.render.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private[functions] def readSidecar(spark: org.apache.spark.sql.SparkSession,
      path: String): graft.meta.JValue = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new org.apache.hadoop.fs.Path(path))
    val text = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    graft.meta.JValue.parse(text)
  }

  /** The SRP-LSH scale path made concrete: hash the corpus ONCE and write
    * it partitioned by bucket (with a params sidecar), so a query's probe
    * set becomes a partition-pruned scan — no per-query bucket pass. */
  def srpWriteBucketed(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      dim: Int,
      nBits: Int): Unit = {
    df.withColumn("__bucket", srpBucket(col(vecCol), dim, nBits))
      .write.partitionBy("__bucket").mode("overwrite").parquet(path)
    writeSidecar(df.sparkSession, s"$path/_srp_params.json", graft.meta.JObj(Seq(
      "dim" -> graft.meta.JNum(dim.toDouble),
      "nBits" -> graft.meta.JNum(nBits.toDouble))))
  }

  /** ANN over a bucketed layout: probes (query bucket ± `hammingRadius`
    * bit flips, driver-side) land in PartitionFilters — only the probed
    * buckets' directories are read. */
  def annTopKBucketed(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int,
      hammingRadius: Int = 1): DataFrame = {
    val params = readSidecar(spark, s"$path/_srp_params.json")
      .asInstanceOf[graft.meta.JObj]
    val nBits = params.get("nBits").collect { case graft.meta.JNum(n) => n.toInt }.get
    require(query.length == params.get("dim")
      .collect { case graft.meta.JNum(n) => n.toInt }.get,
      "query dim differs from the written layout's")
    val queryBucket = srpBucketOf(query, nBits)
    val probes = probeMasks(nBits, hammingRadius).map(_ ^ queryBucket)
    rerank(spark.read.parquet(path).filter(col("__bucket").isin(probes: _*)),
      idCol, vecCol, query, k)
  }

  /** The IVF scale path made concrete: compute the assignment ONCE and
    * write it partitioned by list id (plus a centroids sidecar), so every
    * subsequent probe is a partition-pruned scan over only the probed
    * lists — no per-query assignment pass. Returns the centroids. */
  def ivfWriteAssigned(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      nCentroids: Int = 16,
      seed: Long = 42L): Seq[Seq[Float]] = {
    val cents = ivfCentroids(df, idCol, vecCol, nCentroids, seed)
    ivfAssign(df, vecCol, cents)
      .write.partitionBy("__ivf_bucket").mode("overwrite").parquet(path)
    writeSidecar(df.sparkSession, s"$path/_centroids.json",
      graft.meta.JArr(cents.map(c =>
        graft.meta.JArr(c.map(v => graft.meta.JNum(v.toDouble))))))
    cents
  }

  /** Centroids persisted by [[ivfWriteAssigned]]. */
  def ivfReadCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Seq[Float]] =
    readSidecar(spark, s"$path/_centroids.json") match {
      case graft.meta.JArr(cs) => cs.map {
        case graft.meta.JArr(vs) =>
          vs.collect { case graft.meta.JNum(n) => n.toFloat }.toSeq
        case other => throw new IllegalArgumentException(s"Bad centroid $other")
      }
      case other => throw new IllegalArgumentException(s"Bad centroids doc $other")
    }

  /** ANN over a written assignment: the `__ivf_bucket` isin filter is a
    * PARTITION filter on the layout `ivfWriteAssigned` produced — only the
    * probed lists' files are read (plan-shape asserted in the spec). */
  def ivfTopKAssigned(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int,
      nProbe: Int = 4): DataFrame = {
    val cents = ivfReadCentroids(spark, path)
    val probes = ivfProbes(query, cents, nProbe)
    rerank(spark.read.parquet(path).filter(col("__ivf_bucket").isin(probes: _*)),
      idCol, vecCol, query, k)
  }

  /** SRP bits sized to the corpus: expected bucket occupancy n/2^bits ≈
    * `targetBucket`, so the within-bucket all-pairs work stays
    * ~n·targetBucket/2 comparisons TOTAL as the corpus grows, instead of
    * O(n²/2^fixedBits) — a fixed 8 bits is quadratic ruin at a billion
    * vectors. Clamped to [4, 24]: below 4 bucketing is pointless, above 24
    * the per-plane projection cost and probe-set sizes dominate. */
  def srpBitsFor(n: Long, targetBucket: Long = 256L): Int = {
    val ratio = math.max(1.0, n.toDouble / math.max(1L, targetBucket).toDouble)
    val bits = math.ceil(math.log(ratio) / math.log(2.0)).toInt
    math.min(24, math.max(4, bits))
  }

  /** All-pairs cosine above a threshold among rows sharing an SRP bucket —
    * embedding near-duplicate detection at scale (bucket join, not O(n²)).
    *
    * `nBits = 0` (the default) derives the bucket width from the corpus
    * size via [[srpBitsFor]] — one count() pass, negligible next to the
    * pairs join it right-sizes. NOTE an adversarially skewed corpus (a
    * billion copies of ONE vector) still pairs quadratically inside its
    * bucket — that blowup is semantic (those pairs all exceed any
    * threshold); run exact dedup first when heavy exact duplication is
    * expected. */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double,
      nBits: Int = 0): DataFrame = {
    val bits = if (nBits > 0) nBits else srpBitsFor(df.count())
    val keyed = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("bucket", srpBucket(col("vec"), dim, bits))
    Dedup.bucketPairs(keyed, keyed, Seq("bucket"), _ < _)
      .withColumn("cos_sim", round(cosine(col("vec_a"), col("vec_b")), 6))
      .filter(col("cos_sim") >= threshold)
      .select(col("a").as("id_a"), col("b").as("id_b"), col("cos_sim"))
  }

  /** Product-quantization codebook (Jégou et al. 2011): the vector space
    * splits into `m` subspaces of `dim/m` dims; each gets its own
    * k-centroid codebook from the deterministic quantized Lloyd's of
    * [[graft.functions.Clustering]]. Returned in FLOAT units,
    * `m × k × dim/m` values — KB-scale driver/broadcast state, like IVF's
    * centroid list.
    *
    * PQ is the 100 TB ANN memory play beyond SQ8: a 64-dim float32 vector
    * (256 B) compresses to `m` byte codes (8 B at m=8) — the compressed
    * corpus fits where the raw one cannot, and scan cost drops with it. */
  def pqTrain(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      k: Int,
      iters: Int = 3): Seq[Seq[Seq[Float]]] = {
    require(m > 0 && dim % m == 0, s"dim $dim must split into m=$m subspaces")
    val dsub = dim / m
    val scale = 10000.0
    (0 until m).map { s =>
      val sub = df.select(col(idCol),
        slice(col(vecCol), s * dsub + 1, dsub).as("__sub"))
      Clustering.kmeansCentroids(sub, idCol, "__sub", k, iters, scale)
        .map(_.map(v => (v / scale).toFloat))
    }
  }

  /** Encode every vector to its `m` nearest-subspace-centroid codes —
    * the compressed representation a deployment persists (partitioned /
    * sorted however the probe side wants it). Per-row work is m·k small
    * dot products against literal codebooks, all inside codegen; nothing
    * shuffles. */
  def pqEncode(
      df: DataFrame,
      vecCol: String,
      codebook: Seq[Seq[Seq[Float]]]): DataFrame = {
    val m = codebook.length
    val dsub = codebook.head.head.length
    val codes = (0 until m).map { s =>
      Clustering.assignToCentroids(
        slice(col(vecCol), s * dsub + 1, dsub), codebook(s))
    }
    df.withColumn("pq_code", array(codes: _*))
  }

  /** Asymmetric-distance (ADC) cosine top-k over PQ codes: the query stays
    * exact; each row's similarity is the cosine of the query with the
    * row's RECONSTRUCTION, computed purely from two m×k lookup tables
    * (query·centroid and ‖centroid‖² per subspace) — per row, m array
    * lookups and adds, no float vector ever read. Lookup sums fold
    * left-to-right over subspaces, so scores are partitioning-independent.
    * Input must carry `pq_code` (from [[pqEncode]]). */
  def pqTopKAdc(
      encoded: DataFrame,
      idCol: String,
      query: Seq[Float],
      codebook: Seq[Seq[Seq[Float]]],
      k: Int): DataFrame = {
    val m = codebook.length
    val dsub = codebook.head.head.length
    def dotD(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
    val qNorm = math.sqrt(dotD(query, query))
    val lutDot = codebook.zipWithIndex.map { case (cents, s) =>
      val qSub = query.slice(s * dsub, (s + 1) * dsub)
      cents.map(c => dotD(qSub, c)).toArray
    }
    val lutN2 = codebook.map(cents => cents.map(c => dotD(c, c)).toArray)
    def lookup(tables: Seq[Array[Double]]): Column =
      tables.zipWithIndex.map { case (t, s) =>
        element_at(lit(t), element_at(col("pq_code"), s + 1) + 1)
      }.reduce(_ + _)
    encoded
      .withColumn("__dot", lookup(lutDot))
      .withColumn("__n2", lookup(lutN2))
      .select(col(idCol),
        when(col("__n2") <= 0.0 || lit(qNorm) <= 0.0, lit(0.0))
          .otherwise(round(col("__dot") / (sqrt(col("__n2")) * qNorm), 6))
          .as("adc_cosine"))
      .orderBy(col("adc_cosine").desc, col(idCol))
      .limit(k)
  }

  /** IVF-PQ composed ANN — the production billion-vector shape (FAISS
    * `IVFx,PQy`): coarse-quantize to inverted lists, PQ-encode the
    * RESIDUAL (vector − list centroid), and ADC-scan only the probed
    * lists. Each stage exists separately ([[ivfAssign]]/[[pqEncode]]/
    * [[pqTopKAdc]]); composing them is what changes the asymptotics —
    * the scan touches `nProbe/nCentroids` of the rows AND reads only
    * m one-byte codes per row instead of d floats, which is how a
    * billion-vector index fits hot storage. Residual encoding (not
    * raw-vector PQ) is the part that composition adds: residuals are
    * centered near zero, so one small codebook serves every list.
    *
    * Scoring is cosine of the query against the reconstruction
    * x̂ = c_list + r̂: dot(q, x̂) and ‖x̂‖² decompose into per-list
    * constants (q·c, ‖c‖²) plus per-subspace lookup tables (q·r̂,
    * 2·c·r̂, ‖r̂‖²), all riding as literals — per row the score is m
    * array lookups, no float vector read. Lookups fold left-to-right,
    * so scores are partitioning-independent; ties break on the id.
    *
    * `coarse` comes from [[ivfCentroids]] in production (hash-sampled,
    * deterministic); the oracle gate passes block-constant centroids
    * both engines replay closed-form. With `nProbe == coarse.length`
    * the probe filter keeps everything (exhaustive differential form). */
  def ivfpqTopKAdc(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int,
      coarse: Seq[Seq[Float]],
      codebook: Seq[Seq[Seq[Float]]],
      nProbe: Int): DataFrame = {
    val m = codebook.length
    val dsub = codebook.head.head.length
    require(coarse.nonEmpty && coarse.forall(_.length == m * dsub),
      s"coarse centroids must be d=${m * dsub} wide")
    def dotD(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
    val qNorm = math.sqrt(dotD(query, query))
    // per-list constants and per-(list, subspace, code) cross terms
    val qDotC: Array[Double] = coarse.map(c => dotD(query, c)).toArray
    val cNorm2: Array[Double] = coarse.map(c => dotD(c, c)).toArray
    val lutQDotR: Seq[Array[Double]] = codebook.zipWithIndex.map { case (cents, s) =>
      val qSub = query.slice(s * dsub, (s + 1) * dsub)
      cents.map(r => dotD(qSub, r)).toArray
    }
    val lutRNorm2: Seq[Array[Double]] = codebook.map(_.map(r => dotD(r, r)).toArray)
    val lutCross: Seq[Seq[Array[Double]]] = coarse.map { c =>
      codebook.zipWithIndex.map { case (cents, s) =>
        val cSub = c.slice(s * dsub, (s + 1) * dsub)
        cents.map(r => 2.0 * dotD(cSub, r)).toArray
      }
    }

    val probes = ivfProbes(query, coarse, nProbe)
    val assigned = ivfAssign(df, vecCol, coarse)
      .filter(col("__ivf_bucket").isin(probes: _*))
    // residual against the row's own list centroid (the literal 2-D
    // matrix rides once; zip_with is per-row, nothing shuffles)
    val centsLit = typedLit(coarse.map(_.toSeq).toSeq)
    val resid = assigned.withColumn("__resid",
      zip_with(col(vecCol), element_at(centsLit, col("__ivf_bucket") + 1),
        (a, b) => a - b))
    val enc = pqEncode(resid, "__resid", codebook)

    def lut1(t: Array[Double], s: Int): Column =
      element_at(lit(t), element_at(col("pq_code"), s + 1) + 1)
    def lutB(tables: Seq[Seq[Array[Double]]], s: Int): Column =
      element_at(
        element_at(typedLit(tables.map(_(s).toSeq)), col("__ivf_bucket") + 1),
        element_at(col("pq_code"), s + 1) + 1)
    val dotCol = element_at(lit(qDotC), col("__ivf_bucket") + 1) +
      (0 until m).map(s => lut1(lutQDotR(s), s)).reduce(_ + _)
    val n2Col = element_at(lit(cNorm2), col("__ivf_bucket") + 1) +
      (0 until m).map(s => lutB(lutCross, s) + lut1(lutRNorm2(s), s)).reduce(_ + _)
    enc
      .withColumn("__dot", dotCol)
      .withColumn("__n2", n2Col)
      .select(col(idCol),
        when(col("__n2") <= 0.0 || lit(qNorm) <= 0.0, lit(0.0))
          .otherwise(round(col("__dot") / (sqrt(col("__n2")) * qNorm), 6))
          .as("adc_cosine"))
      .orderBy(col("adc_cosine").desc, col(idCol))
      .limit(k)
  }

  /** Scalar-quantized (SQ8) cosine top-k — the FAISS `SQ8` recipe: each
    * dimension is affinely mapped to an 8-bit code by its corpus-wide
    * [min, max] range, and similarity is computed IN THE INTEGER CODE
    * DOMAIN. At 100 TB this is the memory play that keeps a brute-force
    * scan viable: codes are 4× smaller than float32 (the real deployment
    * persists them once and scans codes, never raw floats), and the
    * per-vector work is an int8 dot product — the exact arithmetic SIMD
    * loves.
    *
    * Determinism: integer products sum exactly in ANY order and ANY
    * partitioning (no float-accumulation drift — the reason this variant
    * is engine-portable where a dequantize-then-float-sum variant is
    * not); the single float op is the final `dot/√(nx·nq)`, rounded to 6
    * decimals. Out-of-range query values clamp to [0, 255], the standard
    * SQ behavior.
    *
    * Plan: per-dimension stats are one map-side-combined aggregate
    * bounded by `d` rows, broadcast back over the exploded scan; the
    * per-vector integer sums are map-side-combined; top-k is
    * TakeOrderedAndProject (never a global sort). Ties break on the id. */
  def sq8TopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int): DataFrame = {
    val ex = df
      .select(col(idCol), posexplode(col(vecCol)).as(Seq("__i", "__x0")))
      .select(col(idCol), col("__i"), col("__x0").cast("double").as("__x"))
    val stats = ex.groupBy("__i")
      .agg(min(col("__x")).as("__mn"), max(col("__x")).as("__mx"))
    val qlit = lit(query.map(_.toDouble).toArray)
    def code(x: Column, mn: Column, mx: Column): Column =
      when(mx === mn, lit(0L)).otherwise(
        greatest(lit(0L), least(lit(255L),
          round((x - mn) / (mx - mn) * 255.0).cast("long"))))
    val withQ = stats.withColumn("__qx",
      element_at(qlit, col("__i").cast("int") + 1))
    val codes = ex.join(broadcast(withQ), Seq("__i"))
      .select(col(idCol),
        code(col("__x"), col("__mn"), col("__mx")).as("__cx"),
        code(col("__qx"), col("__mn"), col("__mx")).as("__cq"))
    codes.groupBy(idCol).agg(
      sum(col("__cx") * col("__cq")).as("__dot"),
      sum(col("__cx") * col("__cx")).as("__nx"),
      sum(col("__cq") * col("__cq")).as("__nq"))
      .select(col(idCol),
        when(col("__nx") === 0L || col("__nq") === 0L, lit(0.0))
          .otherwise(round(col("__dot").cast("double") /
            sqrt(col("__nx").cast("double") * col("__nq").cast("double")), 6))
          .as("sq8_cosine"))
      .orderBy(col("sq8_cosine").desc, col(idCol))
      .limit(k)
  }
}
