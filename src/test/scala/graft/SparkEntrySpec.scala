package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The query registry and its two driver views, checked without a Spark job. */
class SparkEntrySpec extends AnyFunSuite {

  test("the registry declares 228 uniquely named queries, 203 with an oracle") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.size === 228)
    assert(names.distinct.size === 228)
    assert(SparkEntry.queries.keySet === names.toSet)
    assert(SparkEntry.oracleSql.size === 203)
    assert(SparkEntry.oracleSql.keySet.subsetOf(names.toSet))
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(sql.trim.nonEmpty, name)
    }
  }

  test("a name declared twice fails, naming the duplicate") {
    val build = (s: SparkSession, _: String) => s.emptyDataFrame
    val qs = Seq(SparkEntry.Query("qa", build), SparkEntry.Query("qb", build),
      SparkEntry.Query("qa", build, Some("SELECT 1")))
    val e = intercept[IllegalArgumentException](SparkEntry.unique(qs))
    assert(e.getMessage.contains("qa"))
    assert(!e.getMessage.contains("qb"))
    assert(SparkEntry.unique(qs.tail) === qs.tail)
  }
}
