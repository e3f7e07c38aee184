package graft

import org.apache.spark.sql.SparkSession

/** Temporarily override session confs around an EAGERLY-executed block.
  *
  * The iterative graph loops (connected components, PageRank) launch
  * dozens of small jobs over KB–MB-sized label/rank tables. Per-job
  * fixed costs dominate there — plan/codegen text construction and
  * freshly compiled codegen classes per round were measured as the
  * r2–r6 driver-bench spike (BENCH_r06: q102 315 CPU-s, q133 397 CPU-s
  * vs 5–6 s for the same code warm; the watchdog dump caught the driver
  * in codegen-string machinery, executors idle). Whole-stage codegen
  * and AQE's replan loop buy nothing on tiny per-round plans, so the
  * loops scope them OFF — in a try/finally so the caller's session
  * (where both earn their keep on real scans) is untouched.
  *
  * Only valid around code whose Spark actions all run INSIDE `body`
  * (the loops checkpoint eagerly each round); a lazily returned plan
  * would be planned after restore, outside the scope.
  *
  * SINGLE-THREADED SESSION ASSUMPTION: the override mutates
  * session-global SQL confs for the duration of `body` — any query
  * planned CONCURRENTLY on the same SparkSession (a parallel bench
  * thread, a streaming micro-batch) would silently plan with
  * codegen/AQE off, and nested scopes on different threads restore
  * stale values. Every caller in this repo runs its loop on the one
  * driver thread, on the CALLER's session (q102's, q133's and q137's
  * loops alike): a query planned on that session from another thread
  * while a loop runs sees the override. If concurrent use is ever
  * needed, isolate via `SparkSession.cloneSession()` (confs are
  * per-session) instead of widening this scope.
  */
object ScopedConf {
  def withConf[T](s: SparkSession, kv: (String, String)*)(body: => T): T = {
    // getAll holds only the explicitly set confs (getOption would
    // return a default, and restoring it would pin it on the session)
    val set = s.conf.getAll
    val prev = kv.map { case (k, _) => k -> set.get(k) }
    kv.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** Per-round row volume below which an iterative loop runs with the
    * tiny profile. The trade: with codegen OFF each round saves
    * seconds of fixed driver/JIT cost but pays ~2-5× per ROW
    * (interpreted evaluation); with codegen ON the reverse. At 100M
    * rows/round the interpreted penalty (~tens of CPU-s) still
    * roughly matches one cold compile storm, and beyond it per-row
    * cost dominates — a web-scale graph keeps codegen and AQE (skew
    * handling) and amortizes compilation over billions of rows.
    * Measured at ×8 (19M edge cells/round, warm JVM, r7): PageRank
    * 26.7 s interpreted vs 25.3 s codegen'd — a wash; shuffle cost
    * dominates well past the gate scale, so the threshold's exact
    * value is uncritical there and earns its keep in cold
    * (JIT-throttled) environments.
    */
  val TinyLoopRows: Long = 100L * 1000 * 1000

  /** Loop-shuffle width budget, in measured per-round ROWS per
    * partition (r16, optimization round). A tiny-profile loop's
    * per-round joins/aggregations used to shuffle at the session's
    * static width — 32 near-empty partitions per stage per round for
    * a KB-sized rank/label table, pure fixed task cost multiplied by
    * (stages × rounds). The tiny branch (AQE is OFF there, so nothing
    * else coalesces) now derives the width from the SAME measured
    * per-round volume that picks the profile: 4 M rows/partition ≈
    * 100–160 MB at the 24–40 B loop-row shapes (guide §2.2's
    * partition sizing). Above [[TinyLoopRows]] the loop keeps session
    * defaults — AQE owns the width there.
    */
  val LoopRowsPerPartition: Long = 4L * 1000 * 1000

  /** Size-aware loop scope: tiny profile under [[TinyLoopRows]]
    * per-round rows (with the loop's shuffle width derived from that
    * same measured volume — see [[LoopRowsPerPartition]]), session
    * defaults (codegen + AQE) above, with the shuffle width scoped to
    * the caller's `width` when it passes one.
    */
  def forLoopOf[T](s: SparkSession, rowsPerRound: Long,
      width: Option[Int] = None)(body: => T): T =
    if (rowsPerRound <= TinyLoopRows) {
      val w = math.max(1L,
        math.min(rowsPerRound / LoopRowsPerPartition + 1, 4096L))
      withConf(s,
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> w.toString)(body)
    } else width.fold(body)(w =>
      withConf(s, "spark.sql.shuffle.partitions" -> w.toString)(body))
}
