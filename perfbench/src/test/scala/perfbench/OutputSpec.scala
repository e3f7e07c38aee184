package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The JVM's result file: non-finite values become JSON null. */
class OutputSpec extends AnyFunSuite {
  test("NaN and infinities are written as null") {
    val out = Json.value(Map("a" -> Double.NaN, "b" -> Double.PositiveInfinity,
      "c" -> Double.NegativeInfinity, "d" -> 1.5))
    assert(out == """{"a":null,"b":null,"c":null,"d":1.5}""")
  }

  test("strings are escaped") {
    assert(Json.str("a\"b\\c\nd\u0001") == "\"a\\\"b\\\\c\\nd\\u0001\"")
  }

  test("the tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == ((90.0, 90.0)))
    assert(Stats.tail((1 to 200).map(_.toDouble)) == ((190.0, 95.0)))
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("below p90 the tail is the maximum") {
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) == ((3.0, 100.0)))
    assert(Stats.tail((1 to 15).map(_.toDouble)) == ((15.0, 100.0)))
    assert(Stats.tail((1 to 99).map(_.toDouble)) == ((99.0, 100.0)))
  }

  test("the tail is never below the median") {
    val rnd = new scala.util.Random(7)
    (1 to 300).foreach { n =>
      val xs = Seq.fill(n)(rnd.nextDouble() * 10)
      val (t, pct) = Stats.tail(xs)
      assert(t >= Stats.median(xs), s"n=$n")
      assert(pct >= 90.0, s"n=$n")
    }
  }
}
