package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry.Query

/** The query registry's shape — no Spark session: building the list only
  * constructs the `build` closures, it never runs them. */
class QueryRegistrySpec extends AnyFunSuite {

  test("all holds 86 uniquely named queries, each with a non-empty oracle") {
    val all = SparkEntry.all
    assert(all.size == 86)
    assert(all.map(_.name).distinct.size == all.size)
    all.foreach { q =>
      assert(q.oracle != null && q.oracle.trim.nonEmpty, s"${q.name} has no oracle")
      assert(q.build != null, s"${q.name} has no build function")
    }
  }

  test("queries and oracleSql are views of the same names") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == SparkEntry.all.map(_.name).toSet)
  }

  test("a repeated query name fails the registry build") {
    val q = Query("q_dup", (s, dir) => s.read.parquet(dir), "SELECT 1")
    val e = intercept[IllegalArgumentException](
      SparkEntry.registry(q, Query("q_other", q.build, "SELECT 2"), q.copy(oracle = "SELECT 3")))
    assert(e.getMessage.contains("q_dup"))
  }
}
