package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** graft's tuning surface is exactly what [[Conf]] declares: every
  * kept conf fails loudly on a bad value at its first read, the
  * `SPARK_GRAFT_CONF` parser rejects malformed entries by name, and a
  * scan of the library and harness sources keeps the surface from
  * growing back outside `Conf`. The
  * same scan keeps log text ASCII, Spark listeners inside `Profile`,
  * and stream results off the driver.
  */
class ConfSurfaceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf
  import graft.queries.DedupQueries
  import graft.streaming.StreamingQueries

  private def session(kv: (String, String)*): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions",
      spark.conf.get("spark.sql.shuffle.partitions"))
    s.conf.set("spark.sql.adaptive.enabled", "false")
    kv.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** 40 docs sharing 30 words plus 10 identical ones: every dedup
    * pipeline stage (buckets, pairs, verify fetch) has work to do.
    */
  private def docs(s: SparkSession): DataFrame = {
    val common = (1 to 30).map(i => s"w$i").mkString(" ")
    s.createDataFrame((0 until 40).map(i => (i.toLong, s"$common u$i")) ++
      (0 until 10).map(i => (1000L + i, "a b c d e f g h")))
      .toDF("doc_id", "text")
  }

  private def assertRejects(key: String, value: String)(read: SparkSession => Any): Unit = {
    val e = intercept[IllegalArgumentException](read(session(key -> value)))
    assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$value'"),
      s"the error for $key='$value' must name both: ${e.getMessage}")
  }

  private val firstReaders: Seq[(String, SparkSession => Any)] = Seq(
    (Conf.CandBroadcastMaxRows.key,
      (s: SparkSession) => DedupQueries.minHashPairs(docs(s))),
    (Conf.FetchIdsPerPartition.key,
      (s: SparkSession) => DedupQueries.minHashPairs(docs(s))),
    (Conf.BucketScanBytesPerPartition.key,
      (s: SparkSession) => DedupQueries.bucketAggParts(docs(s))),
    (Conf.PairDiskOnlyMinRows.key,
      (s: SparkSession) => DedupQueries.minHashPairs(docs(s))),
    (Conf.VerifySlices.key,
      (s: SparkSession) => DedupQueries.gramJaccardPairs(docs(s))),
    (Conf.MaxFilesPerTriggerKey,
      (s: SparkSession) => StreamingQueries.streamNearDupPairs(s, sf)))

  firstReaders.foreach { case (key, read) =>
    test(s"$key: a malformed or non-positive value throws at its first read") {
      Seq("abc", "0", "-1").foreach(assertRejects(key, _)(read))
    }
  }

  test("an unknown pair storage level throws at its first read") {
    assertRejects(Conf.PairStorageLevelKey, "MEMORY_SOMETIMES")(s =>
      DedupQueries.minHashPairs(docs(s)))
  }

  test("SPARK_GRAFT_CONF parser: entries, a trailing ';', a rejected entry") {
    assert(Conf.parseConfEntries("a=1;b=2") === Seq("a" -> "1", "b" -> "2"))
    assert(Conf.parseConfEntries("a=1;b=2;") === Seq("a" -> "1", "b" -> "2"))
    assert(Conf.parseConfEntries("a=x=y") === Seq("a" -> "x=y"))
    Seq("foo", "a=1;foo", "=1").foreach { spec =>
      val e = intercept[IllegalArgumentException](Conf.parseConfEntries(spec))
      assert(e.getMessage.contains(Conf.SparkGraftConf), e.getMessage)
      assert(e.getMessage.contains(spec.split(";").last), e.getMessage)
    }
  }

  test("SPARK_GRAFT_CONF entries: graft keys are validated, Spark keys pass through") {
    val s = session()
    Conf.applyConf(s, s"${Conf.VerifySlices.key}=4;spark.sql.shuffle.partitions=3")
    assert(s.conf.get(Conf.VerifySlices.key) === "4")
    assert(s.conf.get("spark.sql.shuffle.partitions") === "3")
    // a typo'd key, the retired child-session marker, and a bad value
    // all fail
    Seq("spark.graft.dedup.verifySlice=4",
        "spark.graft.dedup.isChildSession=true",
        s"${Conf.VerifySlices.key}=0").foreach { spec =>
      intercept[IllegalArgumentException](Conf.applyConf(session(), spec))
    }
  }

  // ------------------------------------------------------ source scan

  // the library's main sources and the harness programs built on it
  // (`harness/`): code moved between them stays under every check
  private lazy val sources: Seq[(String, String)] =
    Seq("src/main/scala", "harness/src/main/scala").flatMap { dir =>
      val root = new java.io.File(dir)
      assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      walk(root).map(f => f.getName ->
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    }

  private def code(src: String): String =
    src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")

  private val confKey = "spark\\.graft\\.[A-Za-z]+\\.[A-Za-z]+".r
  private val envVar = "SPARK_GRAFT_[A-Z_]*[A-Z]".r

  test("the surface is 7 confs and 6 env vars, plus the child-session marker") {
    assert(Conf.keys.size === 7)
    assert(Conf.envVars.size === 5)
  }

  test("src/main names exactly the declared keys and env vars") {
    val (conf, rest) = sources.partition(_._1 == "Conf.scala")
    assert(conf.size === 1)
    val confSrc = conf.head._2
    assert(confKey.findAllIn(confSrc).toSet === Conf.keys)
    assert(envVar.findAllIn(confSrc).toSet === Conf.envVars)
    rest.foreach { case (name, src) =>
      // comments may name a setting, but only a declared one
      assert(confKey.findAllIn(src).toSet.subsetOf(Conf.keys),
        s"$name names an undeclared conf: ${confKey.findAllIn(src).toSet -- Conf.keys}")
      assert(envVar.findAllIn(src).toSet.subsetOf(Conf.envVars),
        s"$name names an undeclared env var: ${envVar.findAllIn(src).toSet -- Conf.envVars}")
    }
  }

  // Under a JVM whose default charset is not UTF-8 a non-ASCII
  // character prints as `?`: `[stress] q36 distinct ?70` loses the
  // replication factor. Comments may use any character; code may not.
  test("src/main log and error text is ASCII") {
    sources.foreach { case (name, src) =>
      val bad = code(src).linesIterator.filter(_.exists(_ > '\u007f')).toSeq
      assert(bad.isEmpty, s"$name has non-ASCII text: ${bad.map(_.trim).mkString(" | ")}")
    }
  }

  test("no conf or env read outside Conf") {
    val reads = Seq(
      "sys\\.env" -> "an environment read",
      "getenv" -> "an environment read",
      "\"spark\\.graft\\." -> "a graft conf literal",
      "\"SPARK_GRAFT_" -> "a graft env literal",
      "conf\\s*\\.\\s*get\\w*\\(\\s*Conf\\." -> "a graft conf read")
    sources.filterNot(_._1 == "Conf.scala").foreach { case (name, src) =>
      val body = code(src)
      reads.foreach { case (pattern, what) =>
        assert(pattern.r.findFirstIn(body).isEmpty, s"$name has $what ($pattern)")
      }
    }
  }

  // The surface holds no JVM system property: a harness reads a
  // pipeline's plans through `Profile` instead of a property
  // that makes the pipeline skip a step.
  test("src/main reads no JVM system property") {
    sources.foreach { case (name, src) =>
      val body = code(src)
      Seq("sys\\.props", "System\\.getPropert", "System\\.setProperty",
          "System\\.clearProperty").foreach { pattern =>
        assert(pattern.r.findFirstIn(body).isEmpty, s"$name reads a system property ($pattern)")
      }
    }
  }

  // One stream snapshot path: a drain keeps its micro-batches as
  // checkpoints in executor storage, so no stream result is collected
  // into a memory sink or rebuilt on the driver from a local list
  // (shipped inside every task of the query that reads it).
  test("src/main has no memory stream sink and no frame over a driver-local list") {
    val patterns = Seq("format\\(\\s*\"memory\"\\s*\\)" -> "a memory sink",
      "createDataFrame\\(\\s*(new\\s+)?java\\.util\\." -> "a createDataFrame over a java.util list")
    sources.foreach { case (name, src) =>
      val body = code(src)
      patterns.foreach { case (pattern, what) =>
        assert(pattern.r.findFirstIn(body).isEmpty, s"$name has $what ($pattern)")
      }
    }
  }

  // One recorder: Spark's listener events reach src/main only through
  // a Profile scope, so no number depends on a listener that outlived
  // its query.
  test("src/main registers Spark listeners only in Profile") {
    val registrations = "addSparkListener|streams\\s*\\.\\s*addListener|listenerManager\\s*\\.\\s*register".r
    val registering = sources.filter { case (_, src) =>
      registrations.findFirstIn(code(src)).isDefined }.map(_._1)
    assert(registering === Seq("Profile.scala"))
  }
}
