package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Dump `explain("formatted")` for a named set of queries into
  * per-query files — the optimization rounds' before/after plan
  * evidence (`plans/r<N>/<query>_<suffix>.txt`). Unlike PlanAudit
  * (one curated Markdown for all 139), this writes one plain file per
  * query so a plan diff is reviewable per optimization.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> <q1,q2,...> [sfDir]
  * Session shape mirrors the bench (shuffle partitions = cpus) so the
  * dumped plans are the benched plans.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: PlanDump <outDir> <suffix> <q1,q2,...> [sfDir]")
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val cpus = Conf.cpus(32)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    // cf. PlanAudit: skip the dedup final-stage checkpoint so the
    // verify-join shape is dumped instead of an opaque leaf scan
    Conf.withAuditNoFinal {
      names.foreach { name =>
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), txt)
        println(s"[plandump] $name -> $outDir/${name}_$suffix.txt")
      }
    }
    spark.stop()
  }
}
