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
      val forest = Dedup.starForest(edges.toDF("a", "b"), "a", "b", maxRounds = 30)
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
    // the docs' pairs are already a star forest: one check and no round.
    // The candidate and verify joins run when the edge checkpoint is built,
    // under their own label; the check keeps only its aggregation's map
    // stage and its result
    assert(keptJobs.contains("graft.dedup: pairs"))
    assert(keptJobs.count(_ == "graft.dedup: star check") <= 2,
      s"star check books other jobs: ${keptJobs.mkString(" | ")}")
    assert(!keptJobs.contains("graft.dedup: star round"))
    // the caller's own actions run outside the calls' scope
    assert(kept.as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    Seq(cc, kept).foreach(Housekeeping.release)
    assert(jobs.nonEmpty && jobs.forall(_.startsWith("graft.")),
      s"unlabeled jobs in ${jobs.mkString(" | ")}")
  }
}
