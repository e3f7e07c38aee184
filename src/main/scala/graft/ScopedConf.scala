package graft

import org.apache.spark.sql.SparkSession

/** Temporarily override session confs around an EAGERLY-executed block.
  * The two places graft still writes the caller's session go through
  * here, each restoring exactly the explicitly set confs it found:
  *
  *  - a bounded stream drain's `start()` ([[withConf]]): the partition
  *    cap, checkpoint manager and state-store provider are fixed into
  *    the query when it starts. The drain starts on the caller's
  *    session, not a clone, because a stream started from another
  *    session reports to that session's listeners and catalog;
  *  - the iterative graph loops ([[forLoopOf]]): q102's, q133's and
  *    q137's rounds launch dozens of small jobs over KB-MB label/rank
  *    tables, where whole-stage codegen and AQE's replanning cost more
  *    than the rounds do. An A/B against plain session defaults on
  *    perfbench (4 cores, 10 alternating pairs per workload) kept the
  *    profile: without it the medians of `queries.q133_pagerank_s`
  *    (4.97 -> 5.99 s) and `dedup.s` (12.6 -> 14.0 s) rose by more
  *    than the quartile spread of the runs with it.
  *
  * Only valid around code whose Spark actions all run INSIDE `body`
  * (the loops checkpoint eagerly each round, a stream is planned by
  * `start()`); a lazily returned plan would be planned after restore,
  * outside the scope.
  *
  * SINGLE-THREADED SESSION ASSUMPTION: the override mutates
  * session-global SQL confs for the duration of `body`, so a query
  * planned CONCURRENTLY on the same SparkSession (a parallel bench
  * thread, a streaming micro-batch) would plan with the override, and
  * nested scopes on different threads restore stale values. Every
  * caller runs on the one driver thread, on the caller's session.
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
