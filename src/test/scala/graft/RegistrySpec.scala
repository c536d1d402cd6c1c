package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Q

/** The query registry: names are unique across every family, each query
  * carries an oracle, and every bench headliner resolves. */
class RegistrySpec extends AnyFunSuite {

  private val noBuild: (SparkSession, String) => DataFrame = (_, _) => null

  test("indexing a registry that repeats a name fails and names the key") {
    val qs = Seq(Q("q_a", noBuild, "SELECT 1"), Q("q_b", noBuild, "SELECT 2"),
      Q("q_a", noBuild, "SELECT 3"))
    val e = intercept[IllegalArgumentException](Q.index(qs))
    assert(e.getMessage.contains("q_a"))
    assert(!e.getMessage.contains("q_b"))
  }

  test("the registry holds 449 distinct names, each with a non-empty oracle") {
    val names = SparkEntry.all.map(_.name)
    assert(names.size == 449)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == names.toSet)
    val blank = SparkEntry.all.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"queries without an oracle: $blank")
  }

  test("every bench headliner is registered") {
    val missing = Bench.Headline.map(_._2).filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"unregistered headliners: $missing")
  }
}
