package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The registry is the one place a query and its oracle are named: these
  * pin its shape and the selection every main goes through. No query runs. */
class QueryRegistrySpec extends AnyFunSuite {

  private val registry = SparkEntry.registry
  private val names = registry.queries.map(_.name)

  test("206 queries, unique names, each with a non-empty oracle") {
    assert(registry.queries.size == 206)
    assert(names.distinct.size == 206)
    registry.queries.foreach(q => assert(q.oracle.trim.nonEmpty, q.name))
  }

  test("building a registry with a repeated name throws, naming it") {
    val q = registry.queries.head
    val e = intercept[IllegalArgumentException](
      QueryRegistry(q, registry.queries(1), q.copy(oracle = "SELECT 1")))
    assert(e.getMessage.contains(q.name))
  }

  test("selection refuses unknown names and keeps the order named") {
    val e = intercept[IllegalArgumentException](
      registry.select(Some("q01_lineitem_agg,q04_typo,q999")))
    assert(e.getMessage.contains("'q04_typo'") && e.getMessage.contains("'q999'"))
    assert(!e.getMessage.contains("'q01_lineitem_agg'"))
    intercept[IllegalArgumentException](registry.select(Some("")))
    intercept[IllegalArgumentException](registry("q04_typo"))
    assert(registry.select(Some("q03_time_slice,q01_lineitem_agg,q03_time_slice"))
      .map(_.name) == Seq("q03_time_slice", "q01_lineitem_agg"))
    assert(registry.select(None) == registry.queries)
  }

  test("Verify's oracle_sql.json holds exactly the registry's names and SQL") {
    val json = new ObjectMapper().readTree(Verify.oracleJson(registry.select(None)))
    val written = json.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
    assert(written.keySet == names.toSet)
    registry.queries.foreach(q => assert(written(q.name) == q.oracle, q.name))
  }
}
