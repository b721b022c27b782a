package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its Spark plan over a scale-factor directory and
  * the DuckDB SQL that oracles its result. */
final case class Query(name: String, run: (SparkSession, String) => DataFrame,
    oracle: String)

/** The registered queries in registration order, names unique. */
final class QueryRegistry private (val queries: Seq[Query]) {
  private val byName: Map[String, Query] = queries.map(q => q.name -> q).toMap

  def apply(name: String): Query = select(Some(name)).head

  /** The queries a comma-separated name filter picks, in the order named
    * (every query when there is no filter). Refuses any unregistered name,
    * so a typo fails before any Spark work instead of selecting nothing. */
  def select(filter: Option[String]): Seq[Query] = filter match {
    case None => queries
    case Some(f) =>
      val wanted = f.split(",", -1).toSeq.distinct
      val unknown = wanted.filterNot(byName.contains)
      if (unknown.nonEmpty) throw new IllegalArgumentException(
        s"unknown query name(s): ${unknown.map("'" + _ + "'").mkString(", ")}")
      wanted.map(byName)
  }
}

object QueryRegistry {
  /** Refuses a repeated name: a later entry must never shadow an earlier one. */
  def apply(queries: Query*): QueryRegistry = {
    val dups = queries.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    if (dups.nonEmpty) throw new IllegalArgumentException(
      s"duplicate query name(s): ${dups.toSeq.sorted.mkString(", ")}")
    new QueryRegistry(queries)
  }
}
