package graft.functions

import org.apache.spark.sql.functions._

import graft.{Housekeeping, SparkSpec}

class ConnectedComponentsSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  /** Brute-force union-find reference for the differential sweep. */
  private def ufComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("connectedComponents labels a known graph with component minima") {
    // {1,2,3,4} via a chain, {10,11}, {20} via self-loop
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (20L, 20L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("long chain (worst-case diameter) converges in the round budget") {
    // a path 0-1-2-…-99 has diameter 99; star-contraction must still finish
    val pairs = (0L until 99L).map(i => (i, i + 1)).toDF("a", "b")
    val got = Dedup.connectedComponents(pairs, "a", "b")
      .as[(Long, Long)].collect()
    assert(got.length == 100 && got.forall(_._2 == 0L))
  }

  test("differential sweep vs union-find on seeded random graphs") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 12) {
      val n = 2 + rnd.nextInt(60)
      val m = rnd.nextInt(3 * n)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val expected = ufComponents(edges)
      val got = Dedup.connectedComponents(edges.toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap
      assert(got == expected, s"mismatch on n=$n m=$m edges=$edges")
      val canonical = edges.toDF("a", "b")
        .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
        .filter(col("u") =!= col("v")).distinct()
      val forest = Dedup.starForest(canonical, maxRounds = 30)
      val leaves = forest.select("v").as[Long].collect()
      Housekeeping.release(forest)
      assert(leaves.length == leaves.distinct.length &&
        leaves.toSet == expected.collect { case (node, root) if node != root => node }.toSet,
        s"star leaves != non-root nodes on n=$n m=$m edges=$edges")
    }
  }

  test("stress: 150k-edge random graph over 100k nodes matches union-find") {
    val rnd = new scala.util.Random(7)
    val n = 100000
    val edges = Seq.fill(150000)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    val expected = ufComponents(edges)
    val got = Dedup.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got.size == expected.size)
    assert(got == expected)
  }

  test("result is partitioning-independent") {
    val edges = Seq((5L, 9L), (9L, 2L), (7L, 8L), (3L, 3L), (1L, 8L))
    val one = Dedup.connectedComponents(
      edges.toDF("a", "b").repartition(1), "a", "b").as[(Long, Long)].collect().toMap
    val many = Dedup.connectedComponents(
      edges.toDF("a", "b").repartition(7), "a", "b").as[(Long, Long)].collect().toMap
    assert(one == many)
  }

  test("clusterCanonicalDedup keeps the component minimum plus singletons") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),   // near-dup of 1
      (3L, "alpha beta gamma delta epsilon"),   // near-dup of 1 and 2
      (4L, "totally different text goes here now"),
      (5L, "another unrelated document body entirely")).toDF("doc_id", "text")
    val kept = Dedup.clusterCanonicalDedup(docs, "doc_id", "text",
        shingleSize = 2, numHashes = 16, bands = 4, threshold = 0.8)
      .as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 4L, 5L))
  }

  test("clusterCanonicalDedup on pair graphs that need star rounds keeps the union-find minima") {
    for ((name, docs) <- Seq("chain" -> ConnectedComponentsSpec.chainDocs(spark),
        "two centres" -> ConnectedComponentsSpec.twoCentreDocs(spark))) {
      val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", 1, 64, 16, 0.8)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSeq
      val roots = ufComponents(pairs)
      val ids = docs.select("doc_id").as[Long].collect().toSet
      val expected = ids -- roots.collect { case (n, r) if n != r => n }
      var kept: org.apache.spark.sql.DataFrame = null
      val jobs = jobDescriptions {
        kept = Dedup.clusterCanonicalDedup(docs, "doc_id", "text",
          shingleSize = 1, numHashes = 64, bands = 16, threshold = 0.8)
      }
      assert(jobs.contains("graft.dedup: star round"), s"$name took no round: $jobs")
      assert(jobs.forall(_.startsWith("graft.")), s"$name: unlabeled jobs in $jobs")
      assert(kept.as[Long].collect().toSet == expected, s"$name: pairs $pairs")
      Housekeeping.release(kept)
    }
  }

  test("connectedComponents on a star-forest input: one aggregation, 3 jobs, all labeled") {
    // two stars and a self-loop: already a forest of stars, so no round
    val pairs = Seq((1L, 2L), (3L, 1L), (1L, 4L), (7L, 8L), (9L, 9L)).toDF("a", "b")
    var cc: org.apache.spark.sql.DataFrame = null
    val jobs = jobDescriptions { cc = Dedup.connectedComponents(pairs, "a", "b") }
    assert(cc.as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 7L, 8L -> 7L, 9L -> 9L))
    Housekeeping.release(cc)
    // the canonical distinct edges' exchange, then the roles aggregation's
    // exchange and its checkpoint (measured 3; the separate star-forest
    // check and node labeling took 7)
    info(s"${jobs.length} jobs: ${jobs.mkString(" | ")}")
    assert(jobs.length <= 3, s"${jobs.length} jobs: ${jobs.mkString(" | ")}")
    assert(jobs.forall(_.startsWith("graft.")), s"unlabeled jobs in ${jobs.mkString(" | ")}")
    assert(!jobs.contains("graft.dedup: star round"))
  }

  test("every job inside connectedComponents and clusterCanonicalDedup carries a graft. label") {
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (20L, 20L))
      .toDF("doc_a", "doc_b")
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "totally different text goes here now")).toDF("doc_id", "text")
    var cc, kept: org.apache.spark.sql.DataFrame = null
    val ccJobs = jobDescriptions {
      cc = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
    }
    val keptJobs = jobDescriptions {
      kept = Dedup.clusterCanonicalDedup(docs, "doc_id", "text",
        shingleSize = 2, numHashes = 16, bands = 4, threshold = 0.8)
    }
    val jobs = ccJobs ++ keptJobs
    info(s"clusterCanonicalDedup: ${keptJobs.mkString(" | ")}")
    // the docs' pairs are already a star forest: no round. The broadcasts
    // of the band rows, the colliding ids and the candidate payload run
    // when the edge checkpoint is built, under `pairs` (3 jobs measured);
    // `keep` books only the roles aggregation's map stage and its
    // checkpoint (2 measured)
    val pairsJobs = keptJobs.dropWhile(_ == "graft.dedup: hash")
      .takeWhile(_ != "graft.dedup: keep")
    assert(pairsJobs.nonEmpty && pairsJobs.length <= 3 &&
      pairsJobs.forall(_ == "graft.dedup: pairs"), keptJobs.mkString(" | "))
    assert(keptJobs.count(_ == "graft.dedup: pairs") == pairsJobs.length,
      s"pairs jobs outside the pairs phase: ${keptJobs.mkString(" | ")}")
    assert(keptJobs.count(_ == "graft.dedup: keep") <= 2,
      s"keep books other jobs: ${keptJobs.mkString(" | ")}")
    assert(!keptJobs.contains("graft.dedup: star round"))
    // the caller's own actions run outside the calls' scope
    assert(kept.as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    Seq(cc, kept).foreach(Housekeeping.release)
    assert(jobs.nonEmpty && jobs.forall(_.startsWith("graft.")),
      s"unlabeled jobs in ${jobs.mkString(" | ")}")
  }
}

object ConnectedComponentsSpec {
  /** Unigram sets sliding by one token: consecutive docs are at Jaccard
    * 9/11, docs two apart at 8/12, so at threshold 0.8 the pairs form the
    * chain 0-1-2-3-4-5 (no forest of stars), plus two unrelated docs. */
  def chainDocs(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    ((0 until 6).map(i => (i.toLong, (i until i + 10).map(t => s"t$t").mkString(" "))) ++
      Seq((50L, "zz1 zz2 zz3 zz4 zz5 zz6"), (51L, "yy1 yy2 yy3 yy4 yy5 yy6")))
      .toDF("doc_id", "text")
  }

  /** Doc 202 is a near copy (9/11) of both 200 and 201, which are not near
    * copies of each other (8/12): canonical edges (200, 202) and (201, 202)
    * make 202 a leaf of two centres. */
  def twoCentreDocs(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    def c(r: Range) = r.map(t => s"c$t")
    Seq((200L, (c(0 to 8) :+ "x1").mkString(" ")), (201L, (c(1 to 9) :+ "x2").mkString(" ")),
      (202L, c(0 to 9).mkString(" ")), (50L, "zz1 zz2 zz3 zz4 zz5 zz6"))
      .toDF("doc_id", "text")
  }
}
