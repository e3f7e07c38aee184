package graft

import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for every query → docs/PLANS.md.
  * The audit criteria (SURVEY.md §4): filters/projections pushed to
  * the parquet scan, broadcast joins on dim tables, no redundant
  * exchanges, whole-stage codegen spans over the hot expressions.
  *
  * Each query is built inside a [[Profile]] on a dir with no
  * memoized stages, so its section shows the executed plan of every
  * action its construction ran (each distinct plan once, with the
  * action names and counts), then the plan of the returned frame. A
  * checkpoint-final pipeline's verify join is the plan of its last
  * `localCheckpoint`; the returned frame scans that checkpoint. A
  * streaming entry's micro-batch plans are construction actions too;
  * its returned frame reads the drained snapshot.
  *
  * Usage: `sbt "harness/runMain graft.PlanAudit [sfDir]"`
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val audited = SparkEntry.queries.keys.toSeq.sorted
    // Spark sizes its memory pages from the heap, and a broadcast hash
    // relation's statistics count whole pages: a pinned page size keeps
    // the audit the same under any driver heap
    val spark = SparkEntry.localSession(8, "spark.buffer.pageSize" -> "16m")
    val sb = new StringBuilder
    sb.append("# Physical plan audit (generated by graft.PlanAudit)\n\n")
    sb.append(s"Scale dir: `$sfDir`. Criteria: pushdown reaches the scan, ")
    sb.append("dims broadcast, no redundant exchanges, codegen spans wide.\n")
    sb.append("Each section lists the executed plan of every action the ")
    sb.append("query's construction ran, then the plan of the returned frame.\n")
    def section(title: String)(build: => DataFrame): Unit = {
      val p = Profile.of(spark)(build)
      val plans = p.actions.map(a => Profile.explain(a.qe) -> a.name)
      sb.append(s"\n## $title\n")
      plans.map(_._1).distinct.foreach { plan =>
        val names = plans.collect { case (`plan`, n) => n }
        val counts = names.distinct.sorted.map(n => s"$n x${names.count(_ == n)}")
        sb.append(s"\n### Construction action: ${counts.mkString(", ")}\n\n```\n$plan```\n")
      }
      sb.append(s"\n### Returned frame\n\n```\n${Profile.explain(p.value.queryExecution)}```\n")
      println(s"[audit] $title done")
    }
    audited.foreach { name =>
      Memo.release(sfDir)
      section(name)(SparkEntry.queries(name)(spark, sfDir))
    }
    // Shapes the per-entry loop can't show:
    // (a) q37 with verifySlices > 1: the sliced verify's plan is a
    //     union of per-slice checkpoint leaves, each slice materialized
    //     and its intermediates released at construction.
    ScopedConf.withConf(spark, Conf.VerifySlices.key -> "4")(
      section("q37_ngram_jaccard (verifySlices=4 - sliced verify)")(
        SparkEntry.queries("q37_ngram_jaccard")(spark, sfDir)))
    // (b) q137 WARM: after a q136 run memoized the standing index and
    //     the pair table, the apply plan consumes the pair checkpoint
    //     as a leaf (Scan ExistingRDD) instead of recomputing the pair
    //     pipeline.
    SparkEntry.queries("q136_dedup_incremental")(spark, sfDir).count()
    section("q137_dedup_incr_apply (WARM - memoized pair table leaf)")(
      SparkEntry.queries("q137_dedup_incr_apply")(spark, sfDir))
    Files.createDirectories(Paths.get("docs"))
    Files.writeString(Paths.get("docs/PLANS.md"), sb.toString)
    println(s"wrote docs/PLANS.md (${audited.size + 2} sections)")
    spark.stop()
  }
}
