package graft.functions

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.types.ArrayType

import graft.{Housekeeping, SparkSpec}

/** Verification is sized by the candidates, not by the corpus: no exchange
  * of the near-dup plan carries a document's shingle set unless the
  * document is in some candidate pair. */
class NearDupVerifySpec extends SparkSpec with AdaptiveSparkPlanHelper {
  private val sp = spark
  import sp.implicits._

  test("nearDupPairs: every exchange carrying a shingle-hash array moves <= 2 rows per candidate pair") {
    // 200 docs of 30 tokens; docs 0-3 share 29 tokens (3-gram Jaccard
    // 27/29), every other doc's tokens are its own
    val docs = (0 until 200).map { i =>
      val toks =
        if (i < 4) (0 until 29).map(j => s"shared$j") :+ s"tail$i"
        else (0 until 30).map(j => s"d${i}w$j")
      (i.toLong, toks.mkString(" "))
    }.toDF("doc_id", "text").repartition(4)
    val candidates = Dedup.minhashCandidatePairs(docs, "doc_id", "text", 3, 64, 16).count()
    assert(candidates == 6)
    val out = Dedup.nearDupPairs(docs, "doc_id", "text", 3, 64, 16, 0.9)
    val pairs = out.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == (for (a <- 0L to 3L; b <- a + 1 to 3L) yield (a, b)).toSet)
    val carrying = collect(out.queryExecution.executedPlan) {
      case e: Exchange if e.output.exists(_.dataType.isInstanceOf[ArrayType]) => e
    }
    assert(carrying.nonEmpty, out.queryExecution.executedPlan.toString)
    carrying.foreach { e =>
      val rows = e match {
        case b: BroadcastExchangeExec => b.metrics("numOutputRows").value
        case s: ShuffleExchangeExec => s.metrics("shuffleRecordsWritten").value
      }
      assert(rows <= 2 * candidates, s"$rows rows through ${e.nodeName} ${e.output}")
    }
    Housekeeping.release(out)
  }
}
