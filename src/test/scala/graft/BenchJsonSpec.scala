package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Bench's compact last line must stay valid JSON for any wall:
  * NaN and infinities are written as `null`; and the timed action runs
  * the whole plan a caller consumes.
  */
class BenchJsonSpec extends AnyFunSuite {
  test("compact line with a NaN wall parses as JSON") {
    val line = Bench.compactLine(
      Map("q01" -> 1.25, "q02" -> Double.NaN, "q03" -> Double.PositiveInfinity),
      Map("q02" -> "boom \"quoted\"\nsecond line"),
      """{"steal_s":0.1}""", "/data/sf0.001")
    val j = new ObjectMapper().readTree(line)
    assert(j.get("metric").asText === "total_compact")
    assert(j.get("value").isNull, "a NaN total must be null")
    assert(j.get("queries").get("q01").asDouble === 1.25)
    assert(j.get("queries").get("q02").isNull)
    assert(j.get("queries").get("q03").isNull)
    assert(j.get("slowest").get("q01").asDouble === 1.25)
    assert(j.get("slowest").get("q02").isNull)
    assert(j.get("n_queries").asInt === 3)
    assert(j.get("errors").get("q02").asText === "boom \"quoted\" second line")
    assert(j.get("dumped").isArray && j.get("dumped").size === 0)
  }

  test("finite walls keep their values and total") {
    val j = new ObjectMapper().readTree(Bench.compactLine(
      Map("a" -> 0.5, "b" -> 1.5), Map.empty, "{}", "sf"))
    assert(j.get("value").asDouble === 2.0)
    assert(j.get("queries").get("b").asDouble === 1.5)
  }

  test("the timed action materializes q20's window over the columns it reads") {
    val spark = SparkTestSession.spark
    val plan = Profile.of(spark)(Bench.materialize(SparkEntry.queries(
        "q20_window_range")(spark, SparkTestSession.sf)))
      .actions.map(_.qe.executedPlan.toString).mkString("\n")
    assert(plan.contains("Window"), plan)
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(plan).map(_.group(1)).mkString(",")
    Seq("user_id", "ts", "value").foreach(c =>
      assert(readSchema.contains(s"$c:"), s"the scan does not read $c: $plan"))
  }
}
