package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {
  test("the test session runs the engine semantics: UTC, ICU case mapping off, ANSI off") {
    val conf = TestSpark.spark.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.icu.caseMappings.enabled") == "false")
    assert(conf.get("spark.sql.ansi.enabled") == "false")
  }
}
