package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The materialization guard: the benchmark's timed action for the
  * flagship query executes the window, while a `count()` over the same
  * query does not.
  */
class PlanGuardSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()
  private lazy val dir = {
    val d = Files.createTempDirectory("planguard")
    spark.range(0, 2000).select(
      col("id").as("event_id"),
      expr("timestamp_seconds(1704067200 + id * 7)").cast("timestamp_ntz").as("ts"),
      (col("id") % 37).as("user_id"),
      lit("click").as("event_type"),
      (col("id") % 100 / 4.0).as("value"),
      lit("""{"k": 1}""").as("props"))
      .write.parquet(d.resolve("events.parquet").toString)
    d.toString
  }

  override def afterAll(): Unit = spark.stop()

  private def q20 = graft.SparkEntry.queries("q20_window_range")(spark, dir)

  test("the collected q20 plan runs a Window over user_id, ts and value") {
    val df = q20
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(PlanGuard.check("q20_window_range", plan).isEmpty, plan)
  }

  test("a count() over q20 reduces to an empty-schema scan, which the guard rejects") {
    val df = q20.groupBy().count()
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(PlanGuard.check("q20_window_range", plan).nonEmpty, plan)
    assert(PlanGuard.readSchemas(plan).forall(_ == "struct<>"), plan)
  }

  test("a plan without file scans passes the empty-schema rule") {
    assert(PlanGuard.check("q00", "LocalTableScan [a#1]").isEmpty)
  }
}
