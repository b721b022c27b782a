package graft.sources

import java.util.OptionalLong

import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** The filter-pushdown protocol of every graft DSv2 scan, once: one
  * [[Pushdown.Builder]], one literal-to-key function, one vocabulary for
  * columns that are constant over a format's unit (a GRIB message, a
  * TIFF band, a ZIP member), one box pruner for monotone coordinate axes
  * and one statistics formula. A format supplies its index and its
  * decode; what it claims follows from its column table or axis list.
  *
  * A claimed filter is EXACT: Spark does not re-check it, so the scan
  * returns exactly the rows that pass it. The claim and the evaluation
  * both read the same table or axis, so they cannot drift apart. */
object Pushdown {

  /** Filter literal (or unit value) → the key every pushed comparison
    * runs on: numbers as doubles, timestamps and dates as epoch micros.
    * None = not comparable here, so the filter stays residual: NaN
    * (Spark orders NaN above every number; a double comparison is false
    * both ways) and a long no double holds exactly. */
  def toKey(v: Any): Option[Double] = v match {
    case d: java.lang.Double => if (d.isNaN) None else Some(d.doubleValue)
    case f: java.lang.Float => if (f.isNaN) None else Some(f.doubleValue)
    case l: java.lang.Long =>
      if (math.abs(l.longValue) <= (1L << 53)) Some(l.doubleValue) else None
    case n @ (_: java.lang.Integer | _: java.lang.Short | _: java.lang.Byte) =>
      Some(n.asInstanceOf[Number].doubleValue)
    case t: java.time.LocalDateTime =>
      Some(t.toEpochSecond(java.time.ZoneOffset.UTC) * 1e6 + t.getNano / 1000)
    case t: java.time.Instant => Some(t.getEpochSecond * 1e6 + t.getNano / 1000)
    case t: java.sql.Timestamp => toKey(t.toLocalDateTime)
    case d: java.time.LocalDate => toKey(d.atStartOfDay())
    case d: java.sql.Date => toKey(d.toLocalDate)
    case _ => None
  }

  /** A comparison operator: `holds(key, literal)`. */
  private sealed abstract class Op(val holds: (Double, Double) => Boolean)
  private case object Eq extends Op(_ == _)
  private case object Gt extends Op(_ > _)
  private case object Ge extends Op(_ >= _)
  private case object Lt extends Op(_ < _)
  private case object Le extends Op(_ <= _)

  /** `attribute op literal` with a comparable literal. */
  private object Comparison {
    def unapply(f: Filter): Option[(String, Op, Double)] = {
      val (a, op, v) = f match {
        case EqualTo(a, v) => (a, Eq, v)
        case GreaterThan(a, v) => (a, Gt, v)
        case GreaterThanOrEqual(a, v) => (a, Ge, v)
        case LessThan(a, v) => (a, Lt, v)
        case LessThanOrEqual(a, v) => (a, Le, v)
        case _ => return None
      }
      toKey(v).map(k => (a, op, k))
    }
  }

  // ---- columns constant over a unit ----

  /** Columns whose value is constant over a format's unit, each given as
    * `name -> (unit => value)`, with null for an absent value (which is
    * SQL NULL in the scan's rows). Values are literals of the column's
    * type: boxed numbers, `LocalDateTime` or `String`. */
  final class Columns[U](columns: (String, U => Any)*) {
    private val byName: Map[String, U => Any] = columns.toMap

    private def literal(v: Any): Boolean =
      v.isInstanceOf[String] || toKey(v).isDefined

    def claims(f: Filter): Boolean = f match {
      case IsNull(a) => byName.contains(a)
      case EqualTo(a, v) => byName.contains(a) && literal(v)
      case In(a, vs) => byName.contains(a) && vs.forall(literal)
      case StringStartsWith(a, _) => byName.contains(a)
      case Comparison(a, _, _) => byName.contains(a)
      case _ => false
    }

    private def same(value: Any, lit: Any): Boolean = (value, lit) match {
      case (s: String, l: String) => s == l
      case _ => toKey(value).exists(k => toKey(lit).contains(k))
    }

    /** Does the unit pass every pushed filter on these columns? Filters
      * on other columns pass. */
    def keep(pushed: Seq[Filter])(u: U): Boolean = pushed.forall {
      case IsNull(a) if byName.contains(a) => byName(a)(u) == null
      case EqualTo(a, v) if byName.contains(a) => same(byName(a)(u), v)
      case In(a, vs) if byName.contains(a) =>
        val value = byName(a)(u)
        vs.exists(same(value, _))
      case StringStartsWith(a, p) if byName.contains(a) =>
        byName(a)(u) match { case s: String => s.startsWith(p); case _ => false }
      case Comparison(a, op, lit) if byName.contains(a) =>
        toKey(byName(a)(u)).exists(op.holds(_, lit))
      case _ => true
    }
  }

  // ---- monotone coordinate axes ----

  /** A coordinate axis of `n` cells; `key(i)` is cell i's value in the
    * [[toKey]] domain. */
  trait KeyedAxis {
    def name: String
    def n: Int
    def key(i: Int): Double
    /** Strictly monotone either way: then an index range is an exact
      * rewrite of a comparison on the axis. */
    final def monotonic: Boolean = {
      val inc = (1 until n).forall(i => key(i - 1) < key(i))
      lazy val dec = (1 until n).forall(i => key(i - 1) > key(i))
      inc || dec
    }
  }

  /** An axis computed from its index (a raster's affine transform). */
  def axis(axisName: String, cells: Int)(at: Int => Double): KeyedAxis =
    new KeyedAxis {
      def name: String = axisName
      def n: Int = cells
      def key(i: Int): Double = at(i)
    }

  /** The claim rule of a scan that prunes by axis index: comparisons on
    * the named (monotone) axes. */
  def axisClaim(monotone: Set[String]): Filter => Boolean = {
    case Comparison(a, _, _) => monotone(a)
    case _ => false
  }

  /** Cells [lo, hi] of a strictly monotone axis that pass `op lit`
    * (lo > hi when none), by binary search; a decreasing axis searches
    * its mirror image. */
  private def range(a: KeyedAxis, op: Op, lit: Double): (Int, Int) = {
    val n = a.n
    val inc = n < 2 || a.key(0) < a.key(n - 1)
    def k(i: Int) = a.key(if (inc) i else n - 1 - i)
    /** First mirrored index whose key passes `p` (p false, then true). */
    def first(p: Double => Boolean): Int = {
      var lo = 0; var hi = n
      while (lo < hi) { val m = (lo + hi) >>> 1; if (p(k(m))) hi = m else lo = m + 1 }
      lo
    }
    val (lo, hi) = op match {
      case Eq => (first(_ >= lit), first(_ > lit) - 1)
      case Gt => (first(_ > lit), n - 1)
      case Ge => (first(_ >= lit), n - 1)
      case Lt => (0, first(_ >= lit) - 1)
      case Le => (0, first(_ > lit) - 1)
    }
    if (inc) (lo, hi) else (n - 1 - hi, n - 1 - lo)
  }

  /** The box [lo, hi] per axis that the pushed comparisons on these axes
    * leave, or None when it is empty (the whole file or store is
    * skipped). Filters on other columns do not narrow it. */
  def box(axes: Seq[KeyedAxis], pushed: Seq[Filter]): Option[Array[(Int, Int)]] = {
    val b = axes.map(a => (0, a.n - 1)).toArray
    pushed.foreach {
      case Comparison(name, op, lit) =>
        val i = axes.indexWhere(_.name == name)
        if (i >= 0) {
          val (lo, hi) = range(axes(i), op, lit)
          b(i) = (math.max(b(i)._1, lo), math.min(b(i)._2, hi))
        }
      case _ =>
    }
    if (b.exists(r => r._1 > r._2)) None else Some(b)
  }

  // ---- the builder and the statistics ----

  /** The one ScanBuilder: column pruning, plus the filters `claim`
    * accepts. `IsNotNull` is claimed exactly when its column is
    * non-nullable (it then holds for every row). */
  final class Builder(schema: StructType, claim: Filter => Boolean)(
      scan: (StructType, Array[Filter]) => Scan)
      extends ScanBuilder with SupportsPushDownFilters
      with SupportsPushDownRequiredColumns {
    private var required: StructType = schema
    private var pushed: Array[Filter] = Array.empty

    private def claimed(f: Filter): Boolean = f match {
      case IsNotNull(a) => schema.fields.exists(c => c.name == a && !c.nullable)
      case _ => claim(f)
    }

    override def pushFilters(filters: Array[Filter]): Array[Filter] = {
      val (h, residual) = filters.partition(claimed)
      pushed = h
      residual
    }
    override def pushedFilters(): Array[Filter] = pushed
    override def pruneColumns(requiredSchema: StructType): Unit =
      required = requiredSchema
    override def build(): Scan = scan(required, pushed)
  }

  /** Claims nothing: every filter stays with Spark. */
  val NoClaim: Filter => Boolean = _ => false

  /** Statistics of a scan that reads `rows` rows of `required`: the
    * planner's broadcast and join-order estimates. */
  def stats(rows: Long, required: StructType): Statistics = new Statistics {
    private val rowBytes = required.fields.map(_.dataType.defaultSize.toLong).sum
    override def sizeInBytes(): OptionalLong = OptionalLong.of(rows * math.max(1L, rowBytes))
    override def numRows(): OptionalLong = OptionalLong.of(rows)
  }
}
