package etlbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Dedup

/** Training-data dedup of a seeded corpus with planted exact and near
  * copies: exact dedup, then cluster-canonical near dedup at Jaccard 0.9.
  * No store and no decoder — the `functions` and `expressions` packages. */
final class TextDedup(ctx: Ctx) extends Workload(ctx) {
  val timedSpans = Seq("dedup")
  private val docs = 6000
  private val path = ctx.work.resolve("corpus").toString
  private var corpus: Gen.Corpus = _
  private var fp = ""

  def describe: String = s"$docs docs (${docs / 20} exact + ${docs / 20} near copies)"
  def fingerprint: String = fp

  /** A pass is short, and it keeps speeding up for longer (codegen and JIT
    * of the MinHash/shingle loops). */
  override def warmups: Int = 5
  override def minOps: Int = 5

  def setup(): Unit = {
    corpus = Gen.corpus(ctx.seed, docs)
    fp = Gen.sha256(corpus.docs.iterator.map { case (id, t) =>
      s"$id\t$t\n".getBytes(java.nio.charset.StandardCharsets.UTF_8) })
    val s = spark; import s.implicits._
    corpus.docs.toSeq.toDF("id", "text").repartition(ctx.cores)
      .write.mode("overwrite").parquet(path)
  }

  private def input(): DataFrame = spark.read.parquet(path)

  /** The operation: the two public calls, composed, in one span. */
  private def dedup(): Set[Long] = tr.span("dedup") {
    val kept = Dedup.clusterCanonicalDedup(Dedup.exactDedup(input(), "id", "text"),
      "id", "text", threshold = 0.9)
    kept.collect().map(_.getLong(0)).toSet
  }

  def op(i: Int): Unit = {
    if (tr.tracing) layerPasses()
    ctx.attempt(s"text_dedup op $i") {
      val (kept, dt) = ctx.clock(dedup())
      ctx.check(kept == corpus.keptIds,
        s"dedup kept ${kept.size} ids, expected ${corpus.keptIds.size}; " +
          s"${(kept -- corpus.keptIds).size} unexpected, ${(corpus.keptIds -- kept).size} missing")
      ctx.add("op", dt)
      ctx.add("docs_per_s", docs / dt)
    }
  }

  /** Single-layer passes outside the operation's wall time: the steps of
    * `clusterCanonicalDedup`, each materialized on its own. */
  private def layerPasses(): Unit = {
    val df = input()
    val ex = Dedup.exactDedup(df, "id", "text")
    tr.span("functions.dedup.exact")(ex.count())
    tr.span("functions.dedup.candidates") {
      ctx.add("candidate_pairs",
        Dedup.minhashCandidatePairs(ex, "id", "text", 3, 64, 16).count().toDouble)
    }
    val pairs = tr.span("functions.dedup.near_pairs") {
      val p = Dedup.nearDupPairs(ex, "id", "text", threshold = 0.9).localCheckpoint(true)
      ctx.add("verified_pairs", p.count().toDouble)
      p
    }
    tr.span("functions.dedup.components")(
      Dedup.connectedComponents(pairs, "doc_a", "doc_b").count())
    tr.span("expressions.minhash") {
      Dedup.minhashSignatures(df, "id", "text", 3, 64)
        .agg(max(element_at(col("sig"), 1))).collect()
    }
    tr.span("expressions.shingles") {
      df.select(size(Dedup.shinglePairHashes(col("text"), 3).getField("a")).as("n"))
        .agg(sum(col("n"))).collect()
    }
    graft.Housekeeping.releaseAll(spark, blocking = true)
  }

  def layers(): Map[String, Double] = {
    val cand = ctx.median("candidate_pairs@traced")
    val verified = ctx.median("verified_pairs@traced")
    Map(
      "functions.dedup.exact_s" -> spanSec("functions.dedup.exact"),
      "functions.dedup.near_pairs_s" -> spanSec("functions.dedup.near_pairs"),
      "functions.dedup.candidate_pairs" -> cand,
      "functions.dedup.verified_pairs" -> verified,
      "functions.dedup.verify_yield" -> verified / cand,
      "functions.dedup.components_s" -> spanSec("functions.dedup.components"),
      "functions.dedup.components_jobs" -> spanWork("functions.dedup.components")(_.jobs),
      "functions.dedup.shuffle_bytes" -> spanWork("dedup")(_.shuffle.toDouble),
      "expressions.minhash.rows_per_s" -> docs / spanSec("expressions.minhash"),
      "expressions.shingles.rows_per_s" -> docs / spanSec("expressions.shingles"),
      "dedup.docs_per_s" -> ctx.median("docs_per_s"))
  }
}
