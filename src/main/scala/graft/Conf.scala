package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** graft's whole tuning surface: every `spark.graft.*` session conf and
  * every `SPARK_GRAFT_*` environment variable the library reads, each
  * with its default. The library reads no JVM system property.
  * Nothing else in `src/main` reads any of them (pinned by
  * `ConfSurfaceSpec`). A malformed value throws an
  * `IllegalArgumentException` naming the setting and the value at its
  * first read; there is no warn-and-default path. Every other width,
  * cap and threshold the engine derives or holds constant at the site
  * that uses it. README "Configuration" lists the surface.
  */
object Conf {

  val Prefix = "spark.graft."

  /** A positive whole-number session conf, at most `max`. */
  final case class Positive(key: String, default: Long,
      max: Long = Long.MaxValue) {
    def apply(s: SparkSession): Long =
      s.conf.getOption(key).fold(default)(parse)
    def parse(v: String): Long = positive(key, v, max)
  }

  private def positive(key: String, v: String, max: Long): Long =
    v.trim.toLongOption.filter(n => n > 0 && n <= max).getOrElse(
      throw invalid(key, v, s"a whole number in [1, $max]"))

  /** Candidate ids at or under which the dedup verify-fetch joins
    * broadcast; past it they shuffle-hash (see
    * `DedupQueries.attachFeaturesBy`).
    */
  val CandBroadcastMaxRows =
    Positive("spark.graft.dedup.candBroadcastMaxRows", 1L << 18)

  /** Candidate ids per build partition on the shuffle-hash verify path. */
  val FetchIdsPerPartition =
    Positive("spark.graft.dedup.fetchIdsPerPartition", 4096L)

  /** Corpus scan bytes per partition of the dedup bucket aggregations. */
  val BucketScanBytesPerPartition =
    Positive("spark.graft.dedup.bucketScanBytesPerPartition", 2L * 1024 * 1024)

  /** Estimated pair rows past which a dedup pipeline's pair checkpoints
    * use `DISK_ONLY` (unless [[PairStorageLevelKey]] pins a level).
    */
  val PairDiskOnlyMinRows =
    Positive("spark.graft.dedup.pairDiskOnlyMinRows", 10L * 1000 * 1000)

  /** Hash-disjoint slices of q37's candidate verify (1 = unsliced). */
  val VerifySlices =
    Positive("spark.graft.dedup.verifySlices", 1L, Int.MaxValue)

  /** Storage level of the dedup pair-sized checkpoints; set, it also
    * pins the level against the measured `DISK_ONLY` escalation.
    */
  val PairStorageLevelKey = "spark.graft.dedup.pairStorageLevel"
  val PairStorageLevelDefault = "MEMORY_AND_DISK_SER"

  def pairStorageLevel(s: SparkSession): StorageLevel =
    parseStorageLevel(s.conf.get(PairStorageLevelKey, PairStorageLevelDefault))

  def pairStorageLevelPinned(s: SparkSession): Boolean =
    s.conf.getOption(PairStorageLevelKey).isDefined

  private def parseStorageLevel(v: String): StorageLevel =
    try StorageLevel.fromString(v.trim.toUpperCase)
    catch {
      case _: IllegalArgumentException =>
        throw invalid(PairStorageLevelKey, v, "a StorageLevel name")
    }

  /** Files per micro-batch of the q138/q139 document stream; unset, a
    * batch takes every new file (Spark's default).
    */
  val MaxFilesPerTriggerKey = "spark.graft.stream.maxFilesPerTrigger"

  def maxFilesPerTrigger(s: SparkSession): Option[Int] =
    s.conf.getOption(MaxFilesPerTriggerKey).map(parseMaxFiles)

  private def parseMaxFiles(v: String): Int =
    positive(MaxFilesPerTriggerKey, v, Int.MaxValue).toInt

  /** Every user-settable conf, with its validator. */
  private val settable: Map[String, String => Any] =
    Seq(CandBroadcastMaxRows, FetchIdsPerPartition,
      BucketScanBytesPerPartition, PairDiskOnlyMinRows, VerifySlices)
      .map(p => p.key -> (p.parse _)).toMap ++ Map(
        PairStorageLevelKey -> (parseStorageLevel _),
        MaxFilesPerTriggerKey -> (parseMaxFiles _))

  /** Every declared `spark.graft.*` key. */
  val keys: Set[String] = settable.keySet

  // ------------------------------------------------------ environment

  val SfDirVar = "SPARK_GRAFT_SF_DIR"
  val CpusVar = "SPARK_GRAFT_CPUS"
  val BenchOutVar = "SPARK_GRAFT_BENCH_OUT"
  val OnlyVar = "SPARK_GRAFT_ONLY"
  val SparkGraftConf = "SPARK_GRAFT_CONF"

  val envVars: Set[String] =
    Set(SfDirVar, CpusVar, BenchOutVar, OnlyVar, SparkGraftConf)

  private def env(name: String): Option[String] = sys.env.get(name)

  /** Bench's input directory. */
  def sfDir: String = env(SfDirVar).getOrElse("/root/testdata/sf0.1")

  /** Cores (`local[N]`, and the session's shuffle partitions) of the
    * Bench, Verify and ScaleStress sessions; unset, 4.
    */
  def cpus: Int =
    env(CpusVar).fold(4)(v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse(
        throw invalid(CpusVar, v, "a positive whole number")))

  /** Where Bench writes its full JSON line. */
  def benchOut: String = env(BenchOutVar).getOrElse("bench_out.json")

  /** Bench's query subset (comma-separated names); unset, every query. */
  def only: Option[Set[String]] =
    env(OnlyVar).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  /** Parse a `SPARK_GRAFT_CONF` value: `;`-separated `key=value`
    * entries. Blank entries (a trailing `;`) are skipped; an entry
    * without `=` or with an empty key is rejected by name.
    */
  def parseConfEntries(spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
        case _ => throw invalid(SparkGraftConf, kv, "a key=value entry")
      }
    }

  /** Set every `SPARK_GRAFT_CONF` entry on `s` (see [[applyConf]]). */
  def applyConfEnv(s: SparkSession): Unit = env(SparkGraftConf).foreach(applyConf(s, _))

  /** Set every entry of a `SPARK_GRAFT_CONF`-style `spec` on `s`. A
    * `spark.graft.*` key must be a declared, user-settable one with a
    * valid value; other keys (Spark's own) pass through.
    */
  def applyConf(s: SparkSession, spec: String): Unit =
    parseConfEntries(spec).foreach { case (k, v) =>
      if (k.startsWith(Prefix))
        settable.getOrElse(k, throw invalid(SparkGraftConf, k,
          s"a settable key (${settable.keySet.toSeq.sorted.mkString(", ")})"))(v)
      s.conf.set(k, v)
    }

  private def invalid(name: String, value: String,
      expected: String): IllegalArgumentException =
    new IllegalArgumentException(s"$name='$value' is not $expected")
}
