package graft

import org.scalatest.funsuite.AnyFunSuite

/** The median and JSON escaper every bench main publishes through
  * (Bench, ScaleBench, SeasonScaleBench, Verify). */
class BenchHelpersSpec extends AnyFunSuite {

  test("median drops NaN and infinities, averages the middle pair") {
    assert(Bench.med(Seq(3.0, Double.NaN, 1.0, Double.PositiveInfinity, 2.0,
      Double.NegativeInfinity)) == 2.0)
    assert(Bench.med(Seq(4.0, 1.0, Double.NaN, 2.0, 10.0)) == 3.0)
    assert(Bench.med(Seq(Double.NaN, Double.PositiveInfinity)).isNaN)
    assert(Bench.med(Nil).isNaN)
  }

  test("jstr gives a JSON literal that parses back to the same string") {
    val s = "a\"b\\c\nd\te\u0001f"
    val back = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(Bench.jstr(s), classOf[String])
    assert(back == s)
  }
}
