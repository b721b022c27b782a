package graft.sources

/** Split-size budget shared by the record-granular DSv2 scans (GRIB
  * messages, GeoTIFF tiles): Spark's `FilePartition.maxSplitBytes` sizing
  * formula, driven by the session's `spark.sql.files.*` confs — so local
  * runs coalesce tiny units into a handful of tasks and a 100 TB archive
  * fans out into ~`maxPartitionBytes`-sized tasks, with no constant tuned
  * for either deployment (guide §6 input split size, §2.2 fewer/larger
  * map tasks). `totalBytes` should already include the per-file open cost
  * the caller charges. */
object SplitBudget {
  def maxSplitBytes(totalBytes: Long): Long = {
    val sqlConf = org.apache.spark.sql.internal.SQLConf.get
    val maxPartitionBytes = sqlConf.filesMaxPartitionBytes
    val openCost = sqlConf.filesOpenCostInBytes
    val minPartitionNum = sqlConf.filesMinPartitionNum.getOrElse(
      org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism)
    math.min(maxPartitionBytes,
      math.max(openCost, totalBytes / math.max(1, minPartitionNum)))
  }

  def openCostInBytes: Long =
    org.apache.spark.sql.internal.SQLConf.get.filesOpenCostInBytes

  /** [[packWithin]] under the session budget: [[maxSplitBytes]] of the
    * units' bytes plus one open cost per file. */
  def pack[U](units: Seq[(String, U)])(bytes: U => Long): Seq[(String, Seq[U])] =
    if (units.isEmpty) Seq.empty
    else {
      val openCost = openCostInBytes
      val total = units.map(u => bytes(u._2)).sum +
        units.iterator.map(_._1).distinct.size * openCost
      packWithin(units, maxSplitBytes(total), openCost)(bytes)
    }

  /** Greedy same-file packing of (file, unit) pairs in order: consecutive
    * units of one file share a split until the next would pass
    * `maxSplit`; a split never spans files. A file's first unit carries
    * the open cost, once per file as in Spark's file-granular charging
    * (charged into every split, each split would start "full" and
    * degenerate to one unit each). */
  def packWithin[U](units: Seq[(String, U)], maxSplit: Long, openCost: Long)(
      bytes: U => Long): Seq[(String, Seq[U])] = {
    val out = Seq.newBuilder[(String, Seq[U])]
    var curPath: String = null
    var cur = List.newBuilder[U]
    var curBytes = 0L
    var curEmpty = true
    def flush(): Unit = if (!curEmpty) {
      out += ((curPath, cur.result()))
      cur = List.newBuilder[U]; curBytes = 0L; curEmpty = true
    }
    units.foreach { case (p, u) =>
      val cost = bytes(u) + (if (p != curPath) openCost else 0L)
      if (p != curPath || (!curEmpty && curBytes + cost > maxSplit)) flush()
      curPath = p
      cur += u; curBytes += cost; curEmpty = false
    }
    flush()
    out.result()
  }
}
