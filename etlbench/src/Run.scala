package etlbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A wrong output: the operation counts as failed, never as a timing. */
final class WrongOutput(msg: String) extends RuntimeException(msg)

/** Everything a workload needs: the session, its seed, a private work
  * directory, the tracer and the sample recorder. */
final class Ctx(val spark: SparkSession, val seed: Long, val cores: Int,
    val work: Path, val tracer: Tracer) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0
  var failed = 0

  /** Record a sample; samples taken under tracing are kept apart (suffix
    * `@traced`), so the untraced ones stay comparable to an untraced run. */
  def add(name: String, v: Double): Unit =
    samples.getOrElseUpdate(if (tracer.tracing) s"$name@traced" else name,
      mutable.ArrayBuffer.empty) += v

  def values(name: String): Seq[Double] = samples.get(name).fold(Seq.empty[Double])(_.toSeq)

  def median(name: String): Double = Stats.median(values(name))

  /** Time `body` in seconds. */
  def clock[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One closed-loop operation: counted as attempted, and as failed when
    * it throws or its output is wrong (reported on stderr). Returns false
    * on failure; the caller records timings only on success. */
  def attempt(what: String)(body: => Unit): Boolean = {
    attempted += 1
    try { body; true }
    catch {
      case t: Throwable =>
        failed += 1
        System.err.println(s"[etlbench] FAILED $what: $t")
        t.getStackTrace.take(8).foreach(f => System.err.println(s"    at $f"))
        false
    }
  }

  def check(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new WrongOutput(msg)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** A benchmark workload. `prepare` does any untimed input generation
  * before a set-up; `setup` builds from scratch, timed, whatever an
  * operation starts from; `op` runs one closed-loop operation and records
  * its samples; `layers` turns the traced operations into per-layer
  * metrics. */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  def tr: Tracer = ctx.tracer

  def prepare(): Unit = ()
  def setup(): Unit
  def fingerprint: String
  /** Work items of one operation, with their unit (cells or docs). */
  def describe: String
  /** Spans of a traced operation that its `op` sample times. */
  def timedSpans: Seq[String]
  def op(i: Int): Unit
  def layers(): Map[String, Double]

  /** Untimed operations before measuring: JIT and codegen caches fill
    * here, not in the timed ones. Operations keep speeding up over the
    * first few, by an amount that varies from run to run. */
  def warmups: Int = 2
  final def warmup(): Unit = (1 to warmups).foreach(_ => op(-1))

  /** Operations measured even when they outlast the run's seconds. */
  def minOps: Int = 3

  /** Set-ups per run; `setup_s` is their median. The first is cold (its
    * state feeds the warm-up), and warm set-ups still speed up one after
    * another, so the median of five lands on the third warm one. */
  def setups: Int = 5

  /** Median of a traced span's duration / work over all traced ops. */
  protected def spanSec(name: String): Double = Stats.median(tr.named(name).map(_.seconds))
  protected def spanWork(name: String)(f: Tracer.Work => Double): Double =
    Stats.median(tr.named(name).map(s => f(tr.work(s))))
}
