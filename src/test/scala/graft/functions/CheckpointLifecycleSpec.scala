package graft.functions

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftbridge.TestBridge
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Housekeeping, SparkSpec}

/** The checkpoint-lifecycle contract for iterative operators: every
  * superseded round's blocks are released while the loop runs, at most ONE
  * persisted frame (the result) survives the call, and
  * [[Housekeeping.release]] returns the session to its baseline. Without
  * this, a long session (the 129-query bench; a week-long curation job)
  * accumulates dead checkpoint blocks until the block manager starts
  * evicting live ones — the q68 regression of round 6. */
class CheckpointLifecycleSpec extends SparkSpec {

  private def resident: Int = spark.sparkContext.getPersistentRDDs.size

  private def pairsDf = {
    val sp = spark; import sp.implicits._
    // two multi-edge components, one self-loop-only node, one disjoint pair
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (6L, 6L), (7L, 8L), (8L, 9L))
      .toDF("a", "b")
  }

  test("connectedComponents retains exactly its result; release restores baseline") {
    val sp = spark; import sp.implicits._
    // the 5-doc corpus of ConnectedComponentsSpec: {1, 2, 3} near copies
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "alpha beta gamma delta epsilon"),
      (4L, "totally different text goes here now"),
      (5L, "another unrelated document body entirely")).toDF("doc_id", "text")
    for ((name, run, expected) <- Seq[(String, () => DataFrame, Set[Seq[Any]])](
        ("connectedComponents", () => Dedup.connectedComponents(pairsDf, "a", "b"),
          Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L,
            7L -> 7L, 8L -> 7L, 9L -> 7L).map { case (n, c) => Seq(n, c) }),
        // already a forest of stars: no round, the roles aggregation labels
        ("connectedComponents (no round)",
          () => Dedup.connectedComponents(Seq((1L, 2L), (1L, 3L), (4L, 5L)).toDF("a", "b"), "a", "b"),
          Set(Seq(1L, 1L), Seq(2L, 1L), Seq(3L, 1L), Seq(4L, 4L), Seq(5L, 4L))),
        // the hash checkpoint and the pairs are freed inside the call; only
        // the roles aggregation the result reads stays — with no star round
        // and, for the chain, after the rounds
        ("clusterCanonicalDedup", () => Dedup.clusterCanonicalDedup(docs, "doc_id", "text",
            shingleSize = 2, numHashes = 16, bands = 4, threshold = 0.8),
          Set(Seq(1L), Seq(4L), Seq(5L))),
        ("clusterCanonicalDedup (rounds)", () => Dedup.clusterCanonicalDedup(
            ConnectedComponentsSpec.chainDocs(spark), "doc_id", "text",
            shingleSize = 1, numHashes = 64, bands = 16, threshold = 0.8),
          Set(Seq(0L), Seq(50L), Seq(51L))))) {
      Housekeeping.releaseAll(spark)
      val base = resident
      val out = run()
      val rows = out.collect().map(_.toSeq).toSeq
      assert(rows.size == expected.size && rows.toSet == expected, s"$name: $rows")
      assert(resident == base + 1,
        s"$name: expected only the result frame persisted, found ${resident - base}")
      Housekeeping.release(out)
      assert(resident == base, s"$name: release(result) must restore the baseline")
    }
  }

  test("pageRank / personalizedPageRank / triangleCounts retain exactly one frame") {
    val sp = spark; import sp.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("s", "d")
    for ((name, run) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "pageRank" -> (() => Graph.pageRank(edges, "s", "d", iters = 3)),
        "personalizedPageRank" ->
          (() => Graph.personalizedPageRank(edges, "s", "d", seeds = Seq(1L), iters = 3)),
        "triangleCounts" -> (() => Graph.triangleCounts(edges, "s", "d")))) {
      Housekeeping.releaseAll(spark)
      val base = resident
      val out = run()
      assert(out.collect().nonEmpty)
      assert(resident == base + 1, s"$name left ${resident - base} frames persisted")
      Housekeeping.release(out)
      assert(resident == base, s"$name result not released")
    }
  }

  test("connectedComponents runs ONE driver action per round (the star-forest check materializes the lazy checkpoint)") {
    val sp = spark; import sp.implicits._
    val checks = new AtomicInteger
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        actions.add(funcName)
        if (funcName == "isEmpty") checks.incrementAndGet()
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    def checksFor(pairs: DataFrame): Int = {
      checks.set(0)
      Dedup.connectedComponents(pairs, "a", "b").collect()
      TestBridge.waitListenerBusEmpty(spark.sparkContext)
      checks.get()
    }
    spark.listenerManager.register(listener)
    try {
      // a single edge is already a star: the roles aggregation sees it on
      // its own job, so no check action and zero rounds
      val single = checksFor(Seq((1L, 2L)).toDF("a", "b"))
      assert(single == 0, s"expected no check action (0 rounds), saw $single")
      // the 100-node chain: the digest loop this check replaced took 9
      // `head` actions (initial + 8 rounds, the last confirming the 7th);
      // the check stops on the round that reaches the forest, and the
      // initial check rides on the roles aggregation
      val chain = checksFor((0L until 99L).map(i => (i, i + 1)).toDF("a", "b"))
      assert(chain == 7, s"expected 7 check actions (7 rounds), saw $chain")
      // no driver action besides the checks, the checkpoints and the caller's collect
      assert(actions.toArray(Array.empty[String]).toSet.subsetOf(Set("isEmpty", "localCheckpoint", "collect")),
        s"unexpected actions: $actions")
    } finally {
      spark.listenerManager.unregister(listener)
      Housekeeping.releaseAll(spark)
    }
  }
}
