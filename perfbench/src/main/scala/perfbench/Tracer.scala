package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval at a layer boundary. Times are `System.nanoTime`. */
final case class Span(id: Int, parent: Int, trace: String, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. With tracing off nothing is kept; the timed
  * body runs the same either way, so the untraced and traced runs do
  * the same work apart from the recording itself.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val open = scala.collection.mutable.HashMap.empty[Int, Span]
  private var nextId = 1

  /** Records a finished interval; returns its id (0 when tracing is off). */
  def add(name: String, parent: Int, trace: String, startNs: Long,
      endNs: Long): Int = synchronized {
    if (!enabled) 0
    else {
      val id = nextId
      nextId += 1
      spans += Span(id, parent, trace, name, startNs, endNs)
      id
    }
  }

  /** Starts a span whose children are recorded before it ends. */
  def begin(name: String, parent: Int, trace: String): Int = synchronized {
    if (!enabled) 0
    else {
      val id = nextId
      nextId += 1
      open(id) = Span(id, parent, trace, name, System.nanoTime(), 0L)
      id
    }
  }

  def end(id: Int): Unit = synchronized {
    open.remove(id).foreach(s => spans += s.copy(endNs = System.nanoTime()))
  }

  /** Runs `body`, records it as a span, and returns its result and its
    * wall time in nanoseconds.
    */
  def timed[T](name: String, parent: Int, trace: String)(body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = body
    val t1 = System.nanoTime()
    add(name, parent, trace, t0, t1)
    (r, t1 - t0)
  }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time per span name, in seconds: each span's duration minus the
    * part of it that its child spans cover (children clipped to the
    * parent, overlaps between children counted once).
    */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val iv = children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var curA = Long.MinValue
        var curB = Long.MinValue
        iv.foreach { case (a, b) =>
          if (a > curB) {
            if (curB > curA) covered += curB - curA
            curA = a; curB = b
          } else curB = math.max(curB, b)
        }
        if (curB > curA) covered += curB - curA
        (s.durNs - covered) / 1e9
      }.sum
    }
  }

  /** Writes every span as one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"trace":${Json.str(s.trace)},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Spans {
  /** Adds the Spark jobs and stages of the timed window as spans under
    * the innermost given span whose interval contains each job's
    * submission, preferring spans of the job's own job group (one
    * client: spans do not overlap except by nesting; streaming and
    * child-session jobs carry no caller job group). Returns the job
    * count per trace id.
    */
  def attachSpark(tracer: Tracer, counters: SparkCounters,
      parents: Seq[(String, Int, Long, Long)]): Map[String, Int] = {
    val baseMs = System.currentTimeMillis()
    val baseNs = System.nanoTime()
    def ns(ms: Long) = baseNs + (ms - baseMs) * 1000000L
    val stages = counters.stageList.groupBy(_.id)
    counters.jobList.flatMap { j =>
      val at = ns(j.submitMs)
      parents.filter { case (_, _, s, e) => at >= s && at <= e }
        .sortBy { case (trace, _, s, e) => (trace != j.group, e - s) }.headOption.map {
        case (trace, span, _, _) =>
          if (j.endMs >= 0) {
            val jobSpan = tracer.add("spark.job", span, trace, at, ns(j.endMs))
            j.stageIds.flatMap(stages.getOrElse(_, Nil)).filter(_.endMs >= 0).foreach(st =>
              tracer.add("spark.stage", jobSpan, trace, ns(st.submitMs), ns(st.endMs)))
          }
          trace
      }
    }.groupBy(identity).map { case (k, v) => k -> v.size }
  }
}
