package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Harness command lines are resolved in full before any session starts. */
class HarnessSpec extends AnyFunSuite {

  private def rejected(args: String*): String = {
    val before = (SparkSession.getActiveSession, SparkSession.getDefaultSession)
    val e = intercept[IllegalArgumentException](Harness.resolve(args))
    assert((SparkSession.getActiveSession, SparkSession.getDefaultSession) === before)
    e.getMessage
  }

  test("an unknown mode is rejected by name") {
    assert(rejected("profiel", "q63_dup_spans").contains("'profiel'"))
    assert(rejected().contains("unknown mode"))
  }

  test("an unknown query name is rejected by name, even after a valid one") {
    assert(rejected("profile", "q63_dup_spans", "q63_dup_spanz").contains("'q63_dup_spanz'"))
    assert(rejected("plan").contains("'plan'"))
    assert(Harness.resolve(Seq("plan", "q63_dup_spans")) === ("plan", Seq("q63_dup_spans")))
    assert(Harness.resolve(Seq("scale"))._2.nonEmpty)
  }
}
