package graft

/** Per-stage wall/CPU attribution for every multi-phase query.
  *
  * BENCH_r07's residue finding: q133/q102 cost 2-3× their builder-side
  * numbers on a CLEAN driver host, all fixed cost — but the bench only
  * records per-QUERY totals, so "which round / which build stage" was
  * unattributable. Four families now wrap each unit of work in
  * [[timed]] (or [[record]]): the iterative loops (PageRank rounds,
  * CC rounds, graph census/adjacency builds), the dedup pipelines
  * (blocking / expand / candidate / fetch / verify-final), the IVF
  * index build (fit / assign), and the stream demos (start /
  * drain-with-batch-count / snapshot). The bench drains the buffer
  * after every query and emits the stage list into `bench_out.json`
  * (`"stages"`), so a slow query decomposes into named (wall, cpu)
  * pairs instead of one opaque number — every instrumented query's
  * stages map covers its wall time.
  *
  * CPU is process-wide (each loop runs its rounds one after another
  * on the one driver thread), so a stage's cpu
  * ≫ wall×1 means executor-side work, cpu ≈ wall means driver-bound,
  * wall ≫ cpu means off-JVM (host contention / IO).
  *
  * Always on: one MXBean read + queue append per ROUND (not per row),
  * invisible next to a Spark job launch.
  *
  * Tags are FLAT, so nested [[timed]] scopes each record their own
  * (wall, cpu) and the outer tag SUBSUMES its inner ones — e.g.
  * `minhash_final` wraps the whole MinHash pair build, so it overlaps
  * `minhash_buckets`/`minhash_expand`/`minhash_*` in the same drain.
  * Do not sum a query's stage list; read outer tags as totals and
  * inner tags as their decomposition.
  */
object RoundStats {
  final case class Stage(tag: String, wallS: Double, cpuS: Double)

  private val buf =
    new java.util.concurrent.ConcurrentLinkedQueue[Stage]()

  private def procCpu(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  /** Record a pre-measured (or zero-cost marker) stage directly — for
    * tags whose NAME carries information only known after the work ran
    * (e.g. a stream drain's micro-batch count, `q28_drain_b5`), where
    * [[timed]] can't be used because it fixes the tag up front.
    */
  def record(tag: String, wallS: Double, cpuS: Double): Unit =
    buf.add(Stage(tag, wallS, cpuS))

  def timed[T](tag: String)(body: => T): T = {
    val c0 = procCpu()
    val t0 = System.nanoTime()
    val r = body
    val wall = (System.nanoTime() - t0) / 1e9
    val c1 = procCpu()
    buf.add(Stage(tag, wall, if (c0 >= 0 && c1 >= 0) (c1 - c0) / 1e9 else -1.0))
    r
  }

  /** Remove and return everything recorded since the last drain. */
  def drain(): Seq[Stage] = {
    val out = scala.collection.mutable.ArrayBuffer[Stage]()
    var e = buf.poll()
    while (e != null) { out += e; e = buf.poll() }
    out.toSeq
  }
}
