package graft

import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** [[Profile.actions]] reads what a scope ran from Spark's
  * query-execution events and leaves the session's listeners as it
  * found them.
  */
class ProfileSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  test("a scope leaves the session's query listeners unchanged, also when its body throws") {
    def listeners = org.apache.spark.sql.GraftTestBridge.queryListeners(spark)
    val before = listeners
    val (n, actions) = Profile.actions(spark)(spark.range(10).count())
    assert(n === 10L)
    assert(actions.map(_.name) === Seq("count"))
    assert(listeners === before)
    val e = intercept[IllegalStateException](
      Profile.actions(spark)(throw new IllegalStateException("body failed")))
    assert(e.getMessage === "body failed")
    assert(listeners === before)
  }

  test("q20's window is computed over every event in the materialized plan") {
    val events = Tables.events(spark, sf).count()
    val (_, actions) = Profile.actions(spark)(
      Bench.materialize(SparkEntry.queries("q20_window_range")(spark, sf)))
    // Spark's WindowExec carries no row metric (only spill size); the
    // rows it emits are the rows the exchange above it writes, through
    // operators that neither drop nor add rows.
    def windowBelow(p: SparkPlan): Boolean = p match {
      case _: WindowExec => true
      case _: ProjectExec | _: WholeStageCodegenExec | _: InputAdapter =>
        windowBelow(p.children.head)
      case _ => false
    }
    val above = actions.flatMap(a => collect(a.qe.executedPlan) {
      case e: ShuffleExchangeExec if windowBelow(e.child) => e
    })
    assert(actions.exists(a => find(a.qe.executedPlan)(_.isInstanceOf[WindowExec]).isDefined),
      s"no Window operator in the executed plans of ${actions.map(_.name)}")
    assert(above.size === 1, s"expected one exchange above the Window: $above")
    assert(above.head.metrics("shuffleRecordsWritten").value === events)
    assert(events > 0)
  }
}
