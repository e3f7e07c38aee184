package graft

import graft.functions.{TextFunctions => T}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  /** Brute-force word-2-shingle Jaccard pairs ≥ τ (ground truth for
    * the LSH path; 500 docs → 125k pairs, fine at test scale).
    */
  private lazy val bruteforcePairs: Set[(Long, Long)] = {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"),
        array_distinct(T.wordNGrams(T.tokens(col("text")), 2)).as("sh"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toSet))
    (for {
      (a, sa) <- docs; (b, sb) <- docs if a < b
      j = (sa & sb).size.toDouble / (sa | sb).size.toDouble if j >= 0.5
    } yield (a, b)).toSet
  }

  test("q35 MinHash-LSH finds exactly the true Jaccard>=0.5 pairs (planted near-dups)") {
    val got = SparkEntry.queries("q35_dedup_minhash")(spark, sf).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    // Verification step guarantees precision = 1.0 by construction;
    // near-dups here are j≈0.99 where 16×8 banding recall ≈ 1.
    assert(got.subsetOf(bruteforcePairs), s"false positives: ${got -- bruteforcePairs}")
    assert(got === bruteforcePairs,
      s"missed: ${bruteforcePairs -- got} (recall ${got.size}/${bruteforcePairs.size})")
    assert(got.nonEmpty, "testdata plants ~25 near-dup pairs; found none")
  }

  test("q36 SimHash: reported pairs have hamming<=7 and include most near-identical pairs") {
    val got = graft.queries.DedupQueries.simHashPairsFor(spark, sf).collect()
    assert(got.forall(_.getAs[Int]("hamming") <= 7))
    val pairs = got.map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    // SimHash is the weakest of the dedup family on SHORT docs (per-bit
    // margins ~sqrt(#shingles)); at hamming<=7 it should still catch
    // the clear majority of the j≈0.99 planted pairs.
    assert(bruteforcePairs.intersect(pairs).size >= (bruteforcePairs.size * 0.6).toInt,
      s"simhash found ${bruteforcePairs.intersect(pairs).size} of ${bruteforcePairs.size} planted pairs")
  }

  test("q36 contract view: recall/bound booleans hold; drop metrics observed") {
    val df = SparkEntry.queries("q36_dedup_simhash")(spark, sf)
    val rows = df.collect()
    assert(rows.length === 1)
    val r = rows(0)
    assert(r.getAs[Boolean]("exact_recall_ok"), "exact-dup pair missed")
    assert(r.getAs[Boolean]("hamming_bound_ok"), "pair beyond hamming<=7")
    assert(r.getAs[Boolean]("ordering_ok"), "pair not canonical a<b")
    assert(r.getAs[Long]("n_exact_dup_pairs") >= 0L)
  }

  /** A level-2 sub-bucket overflow (≥65 docs agreeing on 15 code
    * bits — an exact-dup flood) is dropped by the CAPPED levels, still
    * visibly (the `observe`d metrics report how many buckets/members
    * the cap discarded) — but since r7 the flood's pairs are NOT lost:
    * the uncapped exact-code blocking branch (ADVICE r7) recovers
    * every identical-code pair, so `exact_recall_ok` holds regardless
    * of cap drops. 70 identical codes flood every level-1 chunk bucket
    * (70 > MaxBucket) and then every level-2 sub-bucket (still 70
    * members): all 8×8 sub-buckets drop (metrics say so), and the
    * output is exactly the C(70,2) Hamming-0 clique from the exact
    * branch.
    */
  test("simHashPairs surfaces oversized-subbucket drops as observed metrics") {
    import spark.implicits._
    // AQE off, as on the dedup session the real pipeline runs on: with
    // AQE on, a flood empties everything downstream of the observe and
    // AQE's empty-relation propagation would prune the metric node
    // with the subtree (verified behavior).
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val flood = (0 until 70).map(i => (i.toLong, 0x1234567890ABCDEFL))
      val pairsDf = graft.queries.DedupQueries.simHashPairs(flood.toDF("doc_id", "sim"))
      val rows = pairsDf.collect()
      assert(rows.length === 70 * 69 / 2,
        s"exact-code branch must recover the full clique, got ${rows.length}")
      assert(rows.forall(_.getAs[Long]("hamming") === 0L))
      // r12 semantics: all 8×8 = 64 oversized sub-buckets here are
      // SINGLE-CODE (an exact-dup flood), so none forwards to the
      // level-3 re-block — their pairs are the exact-code branch's —
      // and the observe says exactly that (exact_owned, not silence).
      val m = pairsDf.queryExecution.observedMetrics.get("simhash_reblock")
      assert(m.isDefined, "simhash_reblock metric not observed")
      assert(m.get.getAs[Long]("exact_owned_subbuckets") === 64L)
      assert(m.get.getAs[Long]("forwarded_subbuckets") === 0L)
      assert(m.get.getAs[Long]("forwarded_members") === 0L)
      val m3 = pairsDf.queryExecution.observedMetrics.get("simhash_reblock3")
      assert(m3.isDefined, "simhash_reblock3 metric not observed")
      assert(m3.get.getAs[Long]("dropped_subbuckets") === 0L)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  /** Level-3 re-block recovery (r12, the ×1024 distinct probe's recall
    * cliff): a near-dup pair stranded in a level-2 sub-bucket that
    * overflows the cap must surface through the interleaved-chunk
    * re-block instead of dropping. Fixture: 70 codes agreeing on bits
    * 0–49 (so every level-1 chunk-0..5 bucket and every level-2
    * sub-bucket 0..5 they share holds all 70 — oversized), varying
    * only in bits 50–63; the planted pair (docs 0, 1) differs in 3 of
    * those bits. Pre-level-3, its every shared container was over the
    * cap → the pair was (observedly) dropped; the interleave splits
    * the 14 varying bits 2-per-chunk, so level-3 buckets hold ~70/4
    * members and the pair expands + passes the Hamming filter.
    */
  test("simHashPairs level-3 re-block recovers pairs from flooded sub-buckets") {
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val base = 0x0000123456789ABCL // bits 50+ clear
      val a = base
      val b = base | (1L << 52) | (1L << 55) | (1L << 58) // Hamming 3
      val fillers = (2 until 70).map { i =>
        // distinct 14-bit pattern in bits 50–63, none equal to a's (0)
        // or b's; i<<7|i spreads bits across both interleave positions
        (i.toLong, base | (((i.toLong << 7) | i.toLong) << 50))
      }
      val docs = (Seq((0L, a), (1L, b)) ++ fillers).toDF("doc_id", "sim")
      val pairsDf = graft.queries.DedupQueries.simHashPairs(docs)
      val rows = pairsDf.collect()
      assert(rows.forall(_.getAs[Int]("hamming") <= 7))
      val planted = rows.find(r =>
        r.getAs[Long]("a") == 0L && r.getAs[Long]("b") == 1L)
      assert(planted.isDefined,
        "planted pair lost in a flooded level-2 sub-bucket — level-3 " +
          "re-block failed to recover it")
      assert(planted.get.getAs[Int]("hamming") === 3)
      // the fixture genuinely exercised the level-3 path
      val m = pairsDf.queryExecution.observedMetrics.get("simhash_reblock")
      assert(m.isDefined && m.get.getAs[Long]("forwarded_subbuckets") > 0L,
        "fixture never overflowed a level-2 sub-bucket")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  /** r13: [[DedupQueries.level3BucketPairs]] (the local counting-sort
    * kernel that replaced the global explode×8 → shuffle → sort
    * level-3 pipeline) against an independent reference: group the
    * members per interleaved position with plain Scala groupBy on
    * [[graft.functions.Hashing.simHashInterleavedChunks]]-equivalent
    * bit math, apply the same cap/Hamming rules. Pair sets, sentinel
    * counts, and sentinel-only (budget-skip) mode must all agree.
    */
  test("level3BucketPairs matches a brute-force interleaved re-block") {
    val rnd = new scala.util.Random(13)
    // 400 members: half share a 15-bit-agreement base (the real
    // forwarded-bucket shape), half fully random; a few exact dups
    val base = rnd.nextLong()
    val codes = (0 until 200).map(_ => (base & 0x7FFFL) | (rnd.nextLong() << 15)) ++
      (0 until 190).map(_ => rnd.nextLong()) ++ (0 until 10).map(_ => base)
    val ids = codes.indices.map(i => 1000L + i).toArray
    val svs = codes.toArray
    def interleaved(sv: Long, k: Int): Long =
      (0 until 8).foldLeft(0L)((acc, j) => acc | (((sv >>> (8 * j + k)) & 1L) << j))
    val cap = 64
    val mh = 7
    val expectPairs = scala.collection.mutable.Set.empty[(Long, Long, Int)]
    var expectSentinels = 0
    var expectDroppedMembers = 0L
    for (k <- 0 until 8) {
      svs.indices.groupBy(i => interleaved(svs(i), k)).values.foreach { g =>
        if (g.size > cap) { expectSentinels += 1; expectDroppedMembers += g.size }
        else if (g.size >= 2)
          for (x <- g; y <- g; if ids(x) < ids(y)) {
            val h = java.lang.Long.bitCount(svs(x) ^ svs(y))
            if (h <= mh) expectPairs += ((ids(x), ids(y), h))
          }
      }
    }
    val got = graft.queries.DedupQueries
      .level3BucketPairs(ids, svs, mh, cap, expand = true).toVector
    val gotPairs = got.filter(_._3 >= 0)
    assert(gotPairs.toSet === expectPairs.toSet)
    assert(gotPairs.size === gotPairs.toSet.size, "kernel emitted duplicate pairs")
    val sentinels = got.filter(_._3 < 0)
    assert(sentinels.size === expectSentinels)
    assert(sentinels.map(_._2).sum === expectDroppedMembers)
    // budget-skip mode: one whole-bucket sentinel, zero pairs
    val skipped = graft.queries.DedupQueries
      .level3BucketPairs(ids, svs, mh, cap, expand = false).toVector
    assert(skipped === Vector((-1L, ids.length.toLong, -1)))
  }

  /** Regression (r7, mirrors the q36 fix): an exact-dup clique larger
    * than MaxBucket floods every one of its 16 band buckets past the
    * cap — before the exact-signature key its pairs silently dropped,
    * contradicting the brute-force J ≥ 0.5 oracle. The uncapped exact
    * key space must recover the full clique.
    */
  test("q35 exact-dup flood past the bucket cap keeps full pair recall") {
    import spark.implicits._
    val flood = (0 until 70).map(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog repeatedly"))
      .toDF("doc_id", "text")
    val got = graft.queries.DedupQueries.minHashPairs(flood).collect()
    assert(got.length === 70 * 69 / 2,
      s"expected the full C(70,2) clique, got ${got.length}")
    assert(got.forall(_.getAs[Double]("jaccard") === 1.0))
  }

  /** Regression (r7): the ×70 replication harness measured q37 recall
    * COLLAPSE to 0 at clique size 70 — the exact-sig key shared the
    * capped bucket space, and exact copies share every sketch entry,
    * so level 1 AND every level-2 sub-bucket overflowed and dropped.
    * The exact-keyed buckets are now uncapped (cf. the q35/q36 fix).
    */
  test("q37 exact-dup flood past the bucket cap keeps full pair recall") {
    import spark.implicits._
    val flood = (0 until 70).map(i =>
      (i.toLong, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val pairs = graft.queries.DedupQueries.gramJaccardPairs(flood).collect()
    assert(pairs.length === 70 * 69 / 2,
      s"expected the full C(70,2) clique, got ${pairs.length}")
    assert(pairs.forall(_.getAs[Double]("jaccard") === 1.0))
  }

  /** Regression (r8 self-review): `slice(sk, 5, 4)` of a ≤4-entry
    * sketch is EMPTY, so q37's level-2 re-block silently EJECTED
    * short-sketch docs — a tiny near-dup pair whose every shared gram
    * bucket is flooded lost its pair. The corpus: two 70-copy exact
    * cliques flood buckets "x y z" and "y z p"; docs 1/2 (3 grams
    * each, J = 2/4 = 0.5) share ONLY those two flooded keys, so the
    * pair is recoverable exclusively through the re-block — which the
    * pre-fix code dropped them from.
    */
  test("q37 level-2 fallback keeps short-sketch docs in the re-block") {
    import spark.implicits._
    val docs =
      (0 until 70).map(i => (100L + i, "x y z aa bb")) ++
        (0 until 70).map(i => (200L + i, "y z p cc dd")) ++
        Seq((1L, "x y z p q"), (2L, "x y z p r"))
    val pairs = graft.queries.DedupQueries
      .gramJaccardPairs(docs.toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exactCount = pairs.count(_._3 == 1.0)
    assert(exactCount === 2 * (70 * 69 / 2),
      s"both exact cliques must fully recover, got $exactCount")
    assert(pairs.contains((1L, 2L, 0.5)),
      "short-sketch near-dup pair stranded in flooded buckets was lost")
    assert(pairs.length === exactCount + 1,
      s"no other pair clears J >= 0.3: ${pairs.filterNot(_._3 == 1.0).toSeq}")
  }

  /** r8: q35 gains q36/q37's level-2 re-block + observe parity. A
    * HOMOGENEOUS near-dup mega-clique (pairwise J ≈ 0.96, but no two
    * docs byte-identical, so the exact-signature key is inert) floods
    * its band buckets (dominant slice ≈ (49/50)^8 ≈ 85 of 100
    * members) AND — sharing its bottom-4 shingle hashes — floods the
    * level-2 sub-buckets too. The cap must drop those VISIBLY via the
    * `minhash_reblock` observed metrics (the pre-r8 pipeline dropped
    * the flooded band buckets silently, with no re-block at all), and
    * everything that IS emitted must still verify at J ≥ 0.5.
    */
  test("q35 near-dup flood: capped sub-buckets are observed, not silent") {
    import spark.implicits._
    import org.apache.spark.sql.execution.QueryExecution
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    @volatile var metric: Option[org.apache.spark.sql.Row] = None
    // the observe sits upstream of the pair checkpoint, so its metric
    // surfaces on the CHECKPOINT action — capture via the listener a
    // production pipeline would use
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.get("minhash_reblock")
          .foreach(r => metric = Some(r))
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val common = (1 to 50).map(i => s"w$i").mkString(" ")
      val docs = (0 until 100).map(i => (i.toLong, s"$common u$i"))
        .toDF("doc_id", "text")
      val pairs = graft.queries.DedupQueries.minHashPairs(docs).collect()
      assert(pairs.forall(_.getAs[Double]("jaccard") >= 0.5),
        "emitted pair below the verify threshold")
      val deadline = System.nanoTime() + 10000000000L
      while (metric.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(metric.isDefined, "minhash_reblock metric never observed")
      assert(metric.get.getAs[Long]("dropped_subbuckets") >= 1L,
        "homogeneous flood must report its dropped sub-buckets")
      assert(metric.get.getAs[Long]("dropped_members") >= 65L)
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
  }

  test("q38 exact-embedding flood past the bucket cap keeps full pair recall") {
    import spark.implicits._
    val vec = Array.tabulate(16)(i => 0.25f * (i % 4))
    val flood = (0 until 70).map(i => (i.toLong, vec)).toDF("vec_id", "embedding")
    val got = graft.queries.DedupQueries.embeddingPairs(flood).collect()
    assert(got.length === 70 * 69 / 2,
      s"expected the full C(70,2) clique, got ${got.length}")
  }

  test("q37 n-gram Jaccard: all reported pairs verified >= 0.3; planted pairs found") {
    val got = SparkEntry.queries("q37_ngram_jaccard")(spark, sf).collect()
    assert(got.forall(_.getAs[Double]("jaccard") >= 0.3))
    val pairs = got.map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(bruteforcePairs.forall(pairs.contains),
      "k-min blocking should catch all j>=0.5 pairs")
  }

  test("q38 embedding near-dup: precision 1.0 (every pair re-verified >= 0.4 cosine)") {
    val got = SparkEntry.queries("q38_dedup_embedding")(spark, sf).collect()
    assert(got.forall(_.getAs[Double]("cos") >= 0.4))
  }

  /** The scale cliff: a popular 8-bit chunk value collects ~N/256 docs,
    * so past ~16k docs level-1 buckets overflow MaxBucket — dropping
    * them (pre-round-5) silently lost every pair whose ONLY shared
    * chunk was the oversized one. This forces that exact shape at test
    * scale: 300 synthetic codes share chunk 0 (bucket ≫ MaxBucket=64),
    * and each planted partner flips one bit in EACH of the 7 other
    * chunks — Hamming exactly 7, recoverable only through the
    * oversized bucket's sub-chunk re-block. Ground truth is exact
    * brute force over all codes.
    */
  test("q36 two-level blocking recovers pairs inside an oversized chunk bucket") {
    import spark.implicits._
    // AQE off (cf. the flood test above, and the dedup session the
    // real pipeline runs on): the level-3 branch is EMPTY for this
    // fixture and AQE's empty-relation propagation would prune its
    // observe nodes out of the plan.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val rnd = new java.util.Random(42L)
      def rand56(): Long = rnd.nextLong() & 0x00FFFFFFFFFFFFFFL
      val base = (0 until 300).map(i => (i.toLong, (rand56() << 8) | 0x5AL))
      val partners = base.take(20).map { case (id, code) =>
        val flips = (1 to 7).map(c => 1L << (8 * c + rnd.nextInt(8)))
        (10000L + id, flips.foldLeft(code)(_ ^ _))
      }
      val all = base ++ partners
      val expected = (for {
        (a, ca) <- all; (b, cb) <- all if a < b
        if java.lang.Long.bitCount(ca ^ cb) <= 7
      } yield (a, b)).toSet
      val pairsDf = graft.queries.DedupQueries.simHashPairs(all.toDF("doc_id", "sim"))
      val got = pairsDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(expected.size >= 20, "construction plants >= 20 pairs")
      assert(got === expected,
        s"missed: ${expected -- got}; spurious: ${got -- expected}")
      // the oversized bucket here re-blocks WITHOUT level-2 overflow:
      // nothing forwards to level 3 and nothing drops — said by the
      // metrics, not silence
      val m = pairsDf.queryExecution.observedMetrics.get("simhash_reblock")
      assert(m.isDefined, "simhash_reblock metric not observed")
      assert(m.get.getAs[Long]("forwarded_subbuckets") === 0L)
      assert(m.get.getAs[Long]("forwarded_members") === 0L)
      val m3 = pairsDf.queryExecution.observedMetrics.get("simhash_reblock3")
      assert(m3.isDefined, "simhash_reblock3 metric not observed")
      assert(m3.get.getAs[Long]("dropped_subbuckets") === 0L)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q34 exact dedup keeps one row per distinct text") {
    val n = SparkEntry.queries("q34_dedup_exact")(spark, sf).count()
    val distinctTexts = Tables.documents(spark, sf).select("text").distinct().count()
    assert(n === distinctTexts)
  }

  /** The verify-fetch strategy guard (Conf.CandBroadcastMaxRows):
    * past the candidate-id threshold the attach joins pin sort-merge
    * instead of broadcast (the ×128 OOM class — a corpus-sized
    * broadcast build under AQE-off mis-estimates). Both shapes must
    * produce the identical pair set, and each threshold setting must
    * actually manifest its join strategy in the executed plan.
    */
  test("verify-fetch guard: shuffle-hash path is value-identical to broadcast") {
    import graft.queries.DedupQueries
    def docsOn(s: org.apache.spark.sql.SparkSession) =
      Tables.documents(s, sf).select(col("doc_id"), col("text"))
    def run(threshold: String, idsPerPart: Option[String] = None,
        parts: Option[String] = None) = {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions",
        parts.getOrElse(spark.conf.get("spark.sql.shuffle.partitions")))
      s.conf.set("spark.sql.adaptive.enabled", "false")
      s.conf.set(Conf.CandBroadcastMaxRows.key, threshold)
      idsPerPart.foreach(s.conf.set(Conf.FetchIdsPerPartition.key, _))
      DedupQueries.minHashPairs(docsOn(s))
    }
    val viaBroadcast = run(Conf.CandBroadcastMaxRows.default.toString)
    // 1: a candidate set always holds >= 2 ids, so this never broadcasts
    val viaShuffle = run("1")
    val planB = viaBroadcast.queryExecution.executedPlan.toString
    val planS = viaShuffle.queryExecution.executedPlan.toString
    assert(planB.contains("BroadcastHashJoin"),
      "under-threshold run must broadcast the candidate-sized attach")
    assert(!planS.contains("BroadcastHashJoin") &&
      planS.contains("ShuffledHashJoin"),
      "over-threshold run must pin shuffle-hash (wide stream unsorted)")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Double]("jaccard"))).sortBy(t => (t._1, t._2))
    assert(rows(viaBroadcast) === rows(viaShuffle))
    // The flipped path must size its join width to the MEASURED
    // candidate count (r11: SHJ hash-relation builds are not
    // spillable — the ×512 distinct probe OOM'd on static
    // partitions). At 1 id/partition every SHJ in the verify region
    // must run wider than the session's shuffle partitions; the width
    // is set at the prune join and rides the pruned checkpoint's
    // preserved partitioning into the attach builds. The narrow run
    // PINS its session to 2 shuffle partitions so the assertion needs
    // only ≥2 candidate ids, not a corpus bigger than the suite's
    // partition setting (ADVICE r11: the suite-conf-sensitive form).
    val viaNarrow = run("1", idsPerPart = Some("1"), parts = Some("2"))
    val parts = 2
    val widths = viaNarrow.queryExecution.executedPlan.collect {
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
        j.outputPartitioning.numPartitions
    }
    assert(widths.nonEmpty, "narrow run lost its shuffle-hash joins")
    assert(widths.forall(_ > parts),
      s"verify SHJ width $widths did not follow the measured candidate " +
        s"count past the session's $parts shuffle partitions")
    assert(rows(viaNarrow) === rows(viaBroadcast))
  }

  /** The bucket-aggregation exchange width
    * (Conf.BucketScanBytesPerPartition, r12): with AQE off the blocking
    * groupBys otherwise run at the session's static shuffle partitions
    * — at distinct ×512 that WAS q35's wall (43 M member structs over
    * 32 partitions). The width must (a) follow the corpus scan's
    * plan-time size estimate through the configured bytes/partition,
    * (b) fall back to the session width when stats are the unknown
    * sentinel, and (c) be value-invisible.
    */
  test("bucket-agg width: scan stats drive the exchange, unknown stats fall back") {
    import graft.queries.DedupQueries
    val common = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = (0 until 40).map(i => (i.toLong, s"$common u$i")) ++
      (0 until 10).map(i => (1000L + i, "a b c d e f g h"))
    def session(bytesPerPart: Option[String]) = {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions",
        spark.conf.get("spark.sql.shuffle.partitions"))
      s.conf.set("spark.sql.adaptive.enabled", "false")
      bytesPerPart.foreach(s.conf.set(Conf.BucketScanBytesPerPartition.key, _))
      s
    }
    val base = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // (a) the width mechanism: tiny bytes/partition ⇒ parts follow the
    // LocalRelation's real size estimate past the session width, capped
    val sTiny = session(Some("64"))
    val dfTiny = sTiny.createDataFrame(docs).toDF("doc_id", "text")
    val expected = DedupQueries.bucketAggParts(dfTiny)
    assert(expected > base,
      s"tiny bytes/partition must out-size the session width ($expected)")
    assert(expected <= DedupQueries.BucketMaxParts)
    // the width must REACH an exchange: the bucket checkpoint persists
    // at exactly the computed partition count. The in-pipeline bucket
    // release (releaseCheckpoint) frees that checkpoint before
    // minHashPairs returns and records its (rddId, numPartitions):
    // read the width off that record, then check the released id is
    // gone from the persistent-RDD registry.
    DedupQueries.releasedCheckpoints.clear()
    val viaWide = DedupQueries.minHashPairs(dfTiny)
    val released = {
      import scala.jdk.CollectionConverters._
      DedupQueries.releasedCheckpoints.asScala.toList
    }
    val wideRows = viaWide.collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Double]("jaccard"))).sortBy(t => (t._1, t._2))
    val atWidth = released.filter(_._2 == expected)
    assert(atWidth.nonEmpty,
      s"no checkpoint at the stat-driven width $expected was released " +
        s"(released: $released)")
    val registry = spark.sparkContext.getPersistentRDDs.keySet
    atWidth.foreach { case (id, _) =>
      assert(!registry(id),
        s"released checkpoint rdd_$id still in the persistent registry")
    }
    // (b1) a localCheckpoint PRESERVES its origin plan's stats (Spark 4
    // LogicalRDD.fromDataset carries them), so a checkpointed corpus
    // still sizes past the session width — the mechanism survives the
    // pipelines' own materialization points
    val ck = sTiny.createDataFrame(docs).toDF("doc_id", "text")
      .localCheckpoint()
    assert(DedupQueries.bucketAggParts(ck) > base,
      "a checkpointed corpus lost its stats basis")
    // (b2) unknown-stats sentinel: a bare RDD-backed frame reports
    // defaultSizeInBytes (≈ Long.Max) ⇒ session width, never a
    // 16384-task blowup
    val rdd = sTiny.sparkContext.parallelize(docs.map { case (id, t) =>
      org.apache.spark.sql.Row(id, t) })
    val noStats = sTiny.createDataFrame(rdd,
      sTiny.createDataFrame(docs).toDF("doc_id", "text").schema)
    assert(DedupQueries.bucketAggParts(noStats) === base,
      "unknown stats must fall back to the session's shuffle partitions")
    // (c) value-invisible vs the default-width run
    val sDef = session(None)
    val defRows = DedupQueries.minHashPairs(
        sDef.createDataFrame(docs).toDF("doc_id", "text")).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Double]("jaccard"))).sortBy(t => (t._1, t._2))
    assert(wideRows === defRows)
    assert(wideRows.nonEmpty)
  }

  /** The pair-table storage conf (Conf.PairStorageLevelKey, r10):
    * at flood ×256 the serialized pair table competes with the verify
    * working set for one JVM's unified memory; DISK_ONLY models the
    * written-to-storage intermediate a cluster pipeline uses and must
    * change WHERE the checkpoints live, never WHAT they hold.
    */
  test("pair-storage knob: DISK_ONLY checkpoints apply and are value-identical") {
    import graft.queries.DedupQueries
    import org.apache.spark.storage.StorageLevel
    val common = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = (0 until 40).map(i => (i.toLong, s"$common u$i")) ++
      (0 until 10).map(i => (1000L + i, "a b c d e f g h"))
    def run(level: Option[String]) = {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions",
        spark.conf.get("spark.sql.shuffle.partitions"))
      s.conf.set("spark.sql.adaptive.enabled", "false")
      level.foreach(s.conf.set(Conf.PairStorageLevelKey, _))
      DedupQueries.minHashPairs(
        s.createDataFrame(docs).toDF("doc_id", "text"))
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Double]("jaccard"))).sortBy(t => (t._1, t._2))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val viaDisk = rows(run(Some("DISK_ONLY")))
    // every pair-sized checkpoint the run created must carry the
    // requested level (narrow id-set checkpoints keep the default —
    // MEMORY_AND_DISK appearing alongside is expected, SER is not)
    val newLevels = spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !before(id) }
      .values.map(_.getStorageLevel).toSet
    assert(newLevels.contains(StorageLevel.DISK_ONLY),
      s"no checkpoint took the configured level: $newLevels")
    assert(!newLevels.contains(StorageLevel.MEMORY_AND_DISK_SER),
      "a pair-sized checkpoint ignored the configured level")
    assert(viaDisk === rows(run(None)))
    assert(viaDisk.nonEmpty)
  }

  /** The measured-volume escalation (Conf.PairDiskOnlyMinRows, r11):
    * past the estimated pair-expansion threshold a pipeline's
    * remaining pair-sized checkpoints auto-select DISK_ONLY (the ×256
    * finding: DISK_ONLY beats serialized-memory once the pair table
    * competes with the verify working set). The flip must (a) manifest
    * in the persisted levels, (b) never override an explicit pin, and
    * (c) be value-invisible.
    */
  test("pair-volume escalation: threshold flips checkpoints to DISK_ONLY, pin wins") {
    import graft.queries.DedupQueries
    import org.apache.spark.storage.StorageLevel
    val common = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = (0 until 40).map(i => (i.toLong, s"$common u$i")) ++
      (0 until 10).map(i => (1000L + i, "a b c d e f g h"))
    def run(diskMin: Option[String], pin: Option[String]) = {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions",
        spark.conf.get("spark.sql.shuffle.partitions"))
      s.conf.set("spark.sql.adaptive.enabled", "false")
      diskMin.foreach(s.conf.set(Conf.PairDiskOnlyMinRows.key, _))
      pin.foreach(s.conf.set(Conf.PairStorageLevelKey, _))
      DedupQueries.minHashPairs(
        s.createDataFrame(docs).toDF("doc_id", "text"))
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Double]("jaccard"))).sortBy(t => (t._1, t._2))
    def newLevels(f: => Array[(Long, Long, Double)]) = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val out = f
      (out, spark.sparkContext.getPersistentRDDs
        .filter { case (id, _) => !before(id) }
        .values.map(_.getStorageLevel).toSet)
    }
    // threshold 1 row → the post-measurement checkpoints flip (the
    // bucket checkpoint PRECEDES the measurement and keeps the default
    // level — unlike the explicit-pin test above, SER is expected here)
    val (escalated, lvEsc) = newLevels(rows(run(Some("1"), None)))
    assert(lvEsc.contains(StorageLevel.DISK_ONLY),
      s"no checkpoint took the escalated level: $lvEsc")
    // an explicit pin beats the auto decision at any threshold
    val (pinned, lvPin) =
      newLevels(rows(run(Some("1"), Some("MEMORY_AND_DISK_SER"))))
    assert(!lvPin.contains(StorageLevel.DISK_ONLY),
      s"escalation overrode an explicit pair-storage pin: $lvPin")
    // default threshold (10^7) on a 50-doc corpus: no flip
    val (plain, lvPlain) = newLevels(rows(run(None, None)))
    assert(!lvPlain.contains(StorageLevel.DISK_ONLY),
      s"escalation fired below the default threshold: $lvPlain")
    assert(escalated === plain)
    assert(pinned === plain)
    assert(plain.nonEmpty)
  }

  test("bucket release fires in the production pipeline") {
    // drives the real entry — nearDupPairs → minHashPairs — with the
    // release hook as evidence
    import graft.queries.DedupQueries
    val docs = ((0 until 48).map(i => (i.toLong, s"alpha beta gamma delta u$i")) ++
      (0 until 16).map(i => (100L + i, "alpha beta gamma delta epsilon")))
    // fresh dir so the pair memo can't short-circuit the pipeline
    val dir = java.nio.file.Files.createTempDirectory("graft_release")
    spark.createDataFrame(docs).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    DedupQueries.releasedCheckpoints.clear()
    assert(DedupQueries.nearDupPairs(spark, dir.toString).count() > 0)
    assert(!DedupQueries.releasedCheckpoints.isEmpty,
      "the bucket release did not fire through the production pipeline")
  }

  test("q37 sliced verify (verifySlices=4) is value-identical to unsliced") {
    // r14 (VERDICT r13 #4): the ×4096 scratch bound comes from
    // processing the candidate verify in hash-disjoint slices — the
    // slicing must be value-invisible (slices partition the pair set
    // exactly; releases touch only slice-internal intermediates).
    import graft.queries.DedupQueries
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Double]("jaccard"))).toSet
    val plain = rows(SparkEntry.queries("q37_ngram_jaccard")(spark, sf))
    spark.conf.set(Conf.VerifySlices.key, "4")
    val sliced = try
      rows(SparkEntry.queries("q37_ngram_jaccard")(spark, sf))
    finally spark.conf.unset(Conf.VerifySlices.key)
    assert(sliced === plain,
      s"slicing changed the pair set: only-sliced ${sliced -- plain}, " +
        s"only-plain ${plain -- sliced}")
    assert(plain.nonEmpty)
  }

  test("q36 contract probes plan corpus/output-sized joins as sort-merge") {
    // the entry checkpoints its 1-row result (finalStage), so the
    // returned frame only scans that checkpoint; the probe joins are
    // the executed plan of the final localCheckpoint action
    val (_, actions) = Profile.actions(spark)(
      SparkEntry.queries("q36_dedup_simhash")(spark, sf))
    val plan = actions.filter(_.name == "localCheckpoint").last
      .qe.executedPlan.toString
    // the 1-row bounds crossJoins legitimately plan as nested-loop;
    // what must never appear is a hash-relation build of canon/pairs
    assert(!plan.contains("BroadcastHashJoin"),
      "contract probe broadcast-builds a corpus/output-sized side")
    assert(plan.contains("SortMergeJoin"))
  }

  test("dedup entries plan on the caller's session and leave its confs unchanged") {
    // a fresh dir: the pair, label and index stages are built here, by
    // these calls, not by an earlier suite
    val dir = java.nio.file.Files.createTempDirectory("graft_one_session")
    Seq("documents", "embeddings").foreach(t => java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/$t.parquet"), dir.resolve(s"$t.parquet")))
    val width = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      // q102 first: it builds the pair stage and runs its label loop
      // on that stage's session, which q35 then plans on
      Seq("q102_dedup_cluster", "q35_dedup_minhash", "q36_dedup_simhash",
          "q37_ngram_jaccard", "q38_dedup_embedding", "q70_decontaminate",
          "q136_dedup_incremental", "q137_dedup_incr_apply").foreach { q =>
        val before = spark.conf.getAll
        val df = SparkEntry.queries(q)(spark, dir.toString)
        df.collect()
        assert(df.sparkSession eq spark, s"$q planned on another session")
        assert(df.sparkSession.conf.get("spark.sql.shuffle.partitions") === width,
          s"$q planned at another shuffle width")
        assert(spark.conf.getAll === before, s"$q changed the caller's confs")
      }
    } finally Memo.release(dir.toString)
  }
}
