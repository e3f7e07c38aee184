package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** The engine's one store of reusable intermediate tables: the stages a
  * production pipeline writes once and several queries read (q35's
  * verified pairs, q102's cluster labels, q136's standing index and
  * pair table, q138/q139's corpus feature table, q51's IVF index), and
  * the footer row counts that pick a stream's state provider.
  *
  * A stage is declared where it is built — name, data dir, the input
  * tables it reads, the build, and the frames whose blocks it holds —
  * and keyed by `(stage, dir)`. Every stage has the same staleness
  * rule: a fingerprint of its input tables' files (path, length,
  * modification time), listed on the driver through the Hadoop
  * FileSystem, so a lookup runs no Spark job. A mismatch rebuilds the
  * entry and frees the stale one's blocks; a hit returns the held value
  * itself (the same frame, `eq`) and runs no Spark job, which is how a
  * caller tells a hit from a build ([[Profile]] counts the jobs).
  *
  * Held frames are checkpoints or persisted tables whose lineage may
  * be cut, so a harness that frees blocks either exempts [[rddIds]]
  * or calls [[release]] for the dir, which frees and evicts all of
  * its stages.
  */
object Memo {

  /** (path, length, modification time) of every file of the inputs. */
  type Fingerprint = Seq[(String, Long, Long)]

  /** One built stage. Compared by identity: an install frees only the
    * exact entry its caller observed.
    */
  final class Entry(val fingerprint: Fingerprint, val value: Any,
      val frames: Seq[DataFrame])

  private val entries =
    scala.collection.concurrent.TrieMap.empty[(String, String), Entry]

  /** The `stage` table of `dir`: the memoized value while the files of
    * `inputs` (table names under `dir`) are unchanged, else `build`,
    * installed with `frames` as the blocks it holds.
    */
  def apply[T](s: SparkSession, stage: String, dir: String, inputs: String*)(
      build: => T)(frames: T => Seq[DataFrame]): T = {
    val fp = fingerprint(s, dir, inputs)
    entries.get((stage, dir)) match {
      case Some(e) if e.fingerprint == fp => e.value.asInstanceOf[T]
      case observed =>
        val v = build
        install(stage, dir, new Entry(fp, v, frames(v)), observed)
          .value.asInstanceOf[T]
    }
  }

  /** CAS-install `fresh`, freeing the stale entry's blocks only if it
    * is still the `observed` one: a concurrent caller may have
    * installed (and be reading) a newer entry since, and a
    * lineage-free checkpoint cannot survive an unpersist. On losing
    * the race to an entry of the same fingerprint, `fresh` — seen by
    * no one — is freed and the winner returned.
    */
  private[graft] def install(stage: String, dir: String, fresh: Entry,
      observed: Option[Entry]): Entry = {
    observed.foreach(old =>
      if (entries.remove((stage, dir), old)) free(old, blocking = false))
    entries.putIfAbsent((stage, dir), fresh) match {
      case Some(winner) if winner.fingerprint == fresh.fingerprint =>
        free(fresh, blocking = false)
        winner
      case _ => fresh
    }
  }

  /** Free and evict every stage of `dir`. */
  def release(dir: String): Unit =
    entries.keys.filter(_._2 == dir).foreach { k =>
      entries.remove(k).foreach(free(_, blocking = true))
    }

  /** Ids of the persisted RDDs the held stages read: their own
    * checkpoints and cached tables, and any checkpoint leaf beneath a
    * frame that is not one itself.
    */
  def rddIds: Set[Int] =
    entries.values.flatMap(_.frames).flatMap { df =>
      df.queryExecution.withCachedData.collect {
        case lr: LogicalRDD => lr.rdd.id
        case m: InMemoryRelation if m.cacheBuilder.isCachedColumnBuffersLoaded =>
          m.cacheBuilder.cachedColumnBuffers.id
      }
    }.toSet

  /** A frame's blocks: a checkpoint's RDD, else its cache entry (if
    * any). Leaves beneath an uncheckpointed frame may belong to
    * another stage and are left alone.
    */
  private def free(e: Entry, blocking: Boolean): Unit =
    e.frames.foreach { df =>
      df.queryExecution.analyzed match {
        case lr: LogicalRDD => lr.rdd.unpersist(blocking)
        case _ => df.unpersist(blocking)
      }
    }

  private[graft] def fingerprint(s: SparkSession, dir: String,
      inputs: Seq[String]): Fingerprint = {
    val conf = s.sparkContext.hadoopConfiguration
    inputs.flatMap { t =>
      val p = new Path(s"$dir/$t.parquet")
      val fs = p.getFileSystem(conf)
      // listStatus/getFileStatus, not listFiles: a LocatedFileStatus
      // copies the permissions, which the local FS without native
      // Hadoop reads by running `ls` per file
      def walk(st: FileStatus): Seq[FileStatus] =
        if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk)
        else Seq(st)
      walk(fs.getFileStatus(p)).map(f =>
        (f.getPath.toString, f.getLen, f.getModificationTime)).sortBy(_._1)
    }
  }
}
