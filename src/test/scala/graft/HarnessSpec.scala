package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shared session/timing core and the one query registry. */
class HarnessSpec extends AnyFunSuite with SparkSpec {

  test("time materializes a query and returns its seconds") {
    val t = Harness.time(spark.range(10).toDF())
    assert(t.exists(_ >= 0.0), t)
  }

  test("time returns a non-fatal failure with its class and message") {
    val t = Harness.time(throw new IllegalStateException("boom"))
    assert(t.left.map(Harness.describe) == Left("java.lang.IllegalStateException: boom"))
  }

  test("time lets a fatal error propagate") {
    intercept[InterruptedException](Harness.time(throw new InterruptedException("stop")))
  }

  test("jsonString escapes quotes, backslashes and every control char") {
    assert(Harness.jsonString("a\"b\\c\td\n\u0001") == "\"a\\\"b\\\\c\\td\\n\\u0001\"")
  }

  test("a query name declared twice fails loudly") {
    val d = Declared("q_twice", (s, _) => s.emptyDataFrame, None)
    val e = intercept[IllegalArgumentException](
      SparkEntry.index(Seq(d, d.copy(oracle = Some("SELECT 1")))))
    assert(e.getMessage.contains("q_twice"))
  }

  test("queries and oracleSql are views of the one registry") {
    assert(SparkEntry.queries.keySet == SparkEntry.declared.map(_.name).toSet)
    assert(SparkEntry.queries.size == SparkEntry.declared.size)
    assert(SparkEntry.oracleSql.keySet ==
      SparkEntry.declared.filter(_.oracle.nonEmpty).map(_.name).toSet)
  }
}
