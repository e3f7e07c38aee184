package graft

import graft.functions.{CosineSim, Hashing, TextFunctions => T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Per-operator microbenchmarks: times each native kernel against the
  * naive formulation it replaced, on replicated testdata, and writes
  * docs/MICRO.md. This documents — with numbers reproducible by
  * `runMain graft.MicroBench` — the measured claims behind the
  * SURVEY.md §4 design choices (native expressions over interpreted
  * HOFs; per-row signatures over explode+groupBy).
  *
  * Method: each variant runs `warmups + runs` times on the SAME
  * cached input; we report the median of `runs` (JIT/codegen warmup
  * excluded — those one-time costs are reported by Bench, not here).
  */
object MicroBench {

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def medianSecs(f: => Unit, warmups: Int = 1, runs: Int = 3): Double = {
      (1 to warmups).foreach(_ => f)
      val ts = (1 to runs).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      ts.sorted.apply(runs / 2)
    }

    // ---- inputs (replicated so kernels dominate scan overhead) ----
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .crossJoin(spark.range(8).select(col("id").as("rep")))
      .repartition(32).persist()
    val nEmb = emb.count()

    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), T.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        array_distinct(T.wordNGrams(col("toks"), 2)).as("shingles"))
      .filter(size(col("shingles")) >= 1)
      .repartition(32).persist()
    val nDocs = docs.count()

    val results = scala.collection.mutable.ArrayBuffer[(String, String, Long, Double)]()
    def bench(op: String, variant: String, rows: Long)(f: => Unit): Unit = {
      val s = medianSecs(f)
      results += ((op, variant, rows, s))
      System.err.println(f"[micro] $op%-16s $variant%-28s $s%8.3f s  (${rows / s}%,.0f rows/s)")
    }

    // ---- cosine: native expression vs interpreted HOF --------------
    val pairs = emb.select(col("embedding").as("a"),
      reverse(col("embedding")).as("b")).persist()
    pairs.count()
    def hofCosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
      val dot = aggregate(zip_with(a, b, (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x)
      val na = sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))
      val nb = sqrt(aggregate(b, lit(0.0), (acc, x) => acc + x * x))
      dot / (na * nb)
    }
    bench("cosine", "native CosineSim", nEmb) {
      pairs.select(sum(CosineSim(col("a"), col("b")))).collect()
    }
    bench("cosine", "HOF zip_with/aggregate", nEmb) {
      pairs.select(sum(hofCosine(col("a"), col("b")))).collect()
    }

    // ---- minhash(128): native per-row vs explode+groupBy -----------
    bench("minhash128", "native MinHashSig", nDocs) {
      Hashing.minHashSignatures(docs, "doc_id", "shingles", 128)
        .select(sum(element_at(col("sig"), 1))).collect()
    }
    bench("minhash128", "explode + 128 grouped MINs", nDocs) {
      val (a, b) = Hashing.affineSeeds(128)
      val p = Hashing.MinHashPrime
      val exploded = docs
        .select(col("doc_id"), explode(col("shingles")).as("sh"))
        .select(col("doc_id"), pmod(xxhash64(col("sh")), lit(p)).as("h"))
      val mins = (0 until 128).map(i =>
        min(pmod(col("h") * a(i) + b(i), lit(p))).as(s"m$i"))
      exploded.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
        .select(sum(col("m0"))).collect()
    }

    // ---- simhash64: native per-row vs explode+groupBy --------------
    bench("simhash64", "native SimHashSig", nDocs) {
      Hashing.simHashes(docs, "doc_id", "shingles")
        .select(sum(col("simhash").bitwiseAND(1023L))).collect()
    }
    bench("simhash64", "explode + 64 bit-vote SUMs", nDocs) {
      val masks = (0 until 64).map(1L << _)
      val exploded = docs
        .select(col("doc_id"), explode(col("shingles")).as("sh"))
        .select(col("doc_id"), xxhash64(col("sh")).as("h"))
      val sums = masks.zipWithIndex.map { case (m, i) =>
        sum(when(col("h").bitwiseAND(m) =!= 0, 1L).otherwise(-1L)).as(s"b$i")
      }
      val packed = masks.zipWithIndex.map { case (m, i) =>
        when(col(s"b$i") >= 0, m).otherwise(0L)
      }.reduce((x, y) => x.bitwiseOR(y))
      exploded.groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
        .select(sum(packed.bitwiseAND(1023L))).collect()
    }

    // ---- srp codes: native vs interpreted HOF ----------------------
    bench("srp_code 8x8", "native SrpCode", nEmb) {
      emb.select(sum(element_at(
        graft.queries.Lsh.srpCodes(col("embedding"), 8, 8), 1))).collect()
    }
    bench("srp_code 8x8", "HOF zip_with/aggregate", nEmb) {
      // Same seeded hyperplanes as SrpCode, trimmed to the 64-dim
      // embeddings; all 8 tables computed (as the native kernel does).
      val rnd = new java.util.Random(0xA11CE5L)
      val planes = Array.fill(8, 8, 256)(rnd.nextGaussian())
      val codeCols = (0 until 8).map { t =>
        (0 until 8).map { bit =>
          val row = planes(t)(bit).take(64)
          val dot = aggregate(
            zip_with(col("embedding"),
              typedLit(row.toSeq), (x, h) => x * h),
            lit(0.0), (acc, x) => acc + x)
          when(dot >= 0, 1 << bit).otherwise(0)
        }.reduce(_ + _)
      }
      emb.select(sum(codeCols.reduce(_ + _))).collect()
    }

    // ---- word n-grams: native kernel vs interpreted HOF ------------
    val tokDocs = Tables.documents(spark, dir)
      .select(col("doc_id"), T.tokens(col("text")).as("toks"))
      .crossJoin(spark.range(4).select(col("id").as("rep")))
      .repartition(32).persist()
    val nTok = tokDocs.count()
    bench("word2grams", "native WordNGramsExpr", nTok) {
      tokDocs.select(sum(size(T.wordNGrams(col("toks"), 2)))).collect()
    }
    bench("word2grams", "HOF transform+slice+concat_ws", nTok) {
      tokDocs.select(sum(size(transform(
        sequence(lit(0), greatest(size(col("toks")) - 2, lit(-1))),
        i => concat_ws(" ", slice(col("toks"), i + 1, lit(2))))))).collect()
    }
    tokDocs.unpersist()

    // ---- tokenize: native byte-scan vs three-regex chain -----------
    val rawDocs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .crossJoin(spark.range(4).select(col("id").as("rep")))
      .repartition(32).persist()
    val nRaw = rawDocs.count()
    bench("tokenize", "native TokenizeExpr", nRaw) {
      rawDocs.select(sum(size(T.tokens(col("text"))))).collect()
    }
    bench("tokenize", "lower+trim+regexp_replace+split", nRaw) {
      rawDocs.select(sum(size(
        split(regexp_replace(trim(lower(col("text"))), "\\s+", " "), " ")
      ))).collect()
    }

    // ---- tokenize+shingle pipeline throughput (no alternative) -----
    bench("shingle2", "tokens+ngrams+distinct", nRaw) {
      rawDocs.select(col("doc_id"), T.tokens(col("text")).as("toks"))
        .select(sum(size(array_distinct(T.wordNGrams(col("toks"), 2)))))
        .collect()
    }

    // ---- shared shingle stage: recompute vs checkpoint (SURVEY §10.3)
    // q35/q36 each re-run the scan-bound shingle pass today. Two
    // consumers reading (a) the recomputed pipeline vs (b) one
    // localCheckpoint materialization (corpus-sized array column)
    // + two reads — the materialization cost is part of the price.
    locally {
      def shingle2 = rawDocs
        .select(col("doc_id"), T.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          array_distinct(T.wordNGrams(col("toks"), 2)).as("shingles"))
      bench("shingle2 2 consumers", "localCheckpoint shared", nRaw) {
        val ck = shingle2.localCheckpoint()
        ck.select(sum(size(col("shingles")))).collect()
        ck.select(max(size(col("shingles")))).collect()
      }
      bench("shingle2 2 consumers", "recompute per consumer", nRaw) {
        shingle2.select(sum(size(col("shingles")))).collect()
        shingle2.select(max(size(col("shingles")))).collect()
      }
    }

    // ---- verify-join Jaccard: union-free vs intersect+union --------
    // The dedup verify computes exact Jaccard per candidate pair. Both
    // inputs are array_distinct'ed, so |a∪b| = |a|+|b|-|a∩b| — the
    // union-free form never materializes the union array (a second
    // hash build + a union-sized result array per pair). Values are
    // bit-identical (asserted); at 100 TB the candidate count is
    // billions, so the per-pair saving is a verify-stage lever.
    locally {
      // `ha`/`hb` are the r12 production encoding: sorted distinct
      // 64-bit shingle hashes, computed once per DOC on the map side
      // (the fetch ships them instead of strings) — the micro charges
      // each variant only its per-PAIR work, which is what scales
      // with billions of candidates.
      def hashedOf(c: org.apache.spark.sql.Column) =
        array_sort(array_distinct(Hashing.shingleHashes(c)))
      val pairs = docs.select(col("shingles").as("sa"),
          hashedOf(col("shingles")).as("ha"))
        .crossJoin(docs.limit(200).select(col("shingles").as("sb"),
          hashedOf(col("shingles")).as("hb")))
        .repartition(32).persist()
      val nPairs = pairs.count()
      def unionFree = {
        val inter = size(array_intersect(col("sa"), col("sb"))).cast("double")
        inter / (size(col("sa")).cast("double") +
          size(col("sb")).cast("double") - inter)
      }
      def naive = size(array_intersect(col("sa"), col("sb"))).cast("double") /
        size(array_union(col("sa"), col("sb"))).cast("double")
      // Bit-identity is a PER-ROW claim, so assert it per-row: the sum
      // of |Δ| is exactly 0 in any partial-aggregate merge order.
      // (Comparing two separately-merged double SUMs is flaky — double
      // addition is non-associative and each sum's 32 partials merge in
      // nondeterministic order.)
      val diffRow = pairs.select(sum(abs(unionFree - naive))).collect()(0)
      // a NULL sum means zero non-null pairs (all-empty shingle
      // corpus): nothing was compared — fail with a message, not an NPE
      assert(!diffRow.isNullAt(0), "jaccard forms: no non-null pairs to compare")
      val diff = diffRow.getDouble(0)
      assert(diff == 0.0, s"jaccard forms disagree per-row: sum|delta| = $diff")
      // sum(|Δ|) drops pairs where EITHER form is NULL (two empty
      // shingle arrays null both divisions), so null-ness parity is a
      // separate claim: a form going null on rows the other didn't
      // would slip past the |Δ| sum. count(expr) counts non-nulls.
      val nn = pairs.select(count(unionFree), count(naive)).collect()(0)
      assert(nn.getLong(0) == nn.getLong(1),
        s"jaccard forms null-parity mismatch: union-free has ${nn.getLong(0)} " +
          s"non-null pairs, naive has ${nn.getLong(1)}")
      // r12: the shipped verify — codegen'd two-pointer merge over the
      // hashed encoding (SortedIntersectCount), no per-pair hash-set
      // build, no boxing, no intersection array. Value-identical to
      // the string forms except under 64-bit cross-collisions
      // (~n_a·n_b/2⁶⁴ per pair — zero on this fixture, asserted).
      def merged = {
        val inter = graft.functions
          .SortedIntersectCount(col("ha"), col("hb")).cast("double")
        inter / (size(col("ha")).cast("double") +
          size(col("hb")).cast("double") - inter)
      }
      val diffMerged = pairs.select(sum(abs(merged - unionFree))).collect()(0)
      assert(!diffMerged.isNullAt(0) && diffMerged.getDouble(0) == 0.0,
        s"hashed merge-pass jaccard disagrees with the string form: $diffMerged")
      bench("jaccard verify", "merge-pass kernel (hashed)", nPairs) {
        pairs.select(sum(merged)).collect()
      }
      bench("jaccard verify", "union-free |a|+|b|-|a&b|", nPairs) {
        pairs.select(sum(unionFree)).collect()
      }
      bench("jaccard verify", "intersect + union arrays", nPairs) {
        pairs.select(sum(naive)).collect()
      }
      pairs.unpersist()
    }

    // ---- q29 per-key batch update: rescan vs prefix+two-pointer ----
    // The state-update algorithm inside q29's flatMapGroupsWithState,
    // on the adversarial single-giant-batch shape (one micro-batch
    // delivers a key's whole history — the drain-a-backlog case):
    // the pre-r6 per-event rescan filters the WHOLE buffer per event,
    // O(m²); the prefix-sum + two-pointer sweep is linear. Identical
    // exact-decimal arithmetic, identical sums (asserted here).
    locally {
      val m = 20000
      val winUs = 10000000L // 10 s, q29's RANGE window
      val events = Array.tabulate(m)(i =>
        (i.toLong, i.toLong * 1000000L, (i % 97) / 10.0))
      def d2(v: Double) = java.math.BigDecimal.valueOf(v)
        .setScale(2, java.math.RoundingMode.HALF_UP)
      var sinkA = 0.0
      var sinkB = 0.0
      bench(s"q29 batch update", "prefix sums + two pointers", m) {
        val prefix = new Array[java.math.BigDecimal](m + 1)
        prefix(0) = java.math.BigDecimal.ZERO
        var i = 0
        while (i < m) { prefix(i + 1) = prefix(i).add(d2(events(i)._3)); i += 1 }
        var lo = 0; var hi = 0; var acc = 0.0; var j = 0
        while (j < m) {
          val ts = events(j)._2
          while (hi < m && events(hi)._2 <= ts) hi += 1
          while (events(lo)._2 < ts - winUs) lo += 1
          acc += prefix(hi).subtract(prefix(lo)).doubleValue
          j += 1
        }
        sinkA = acc
      }
      bench(s"q29 batch update", "per-event buffer rescan", m) {
        var acc = 0.0; var j = 0
        while (j < m) {
          val ts = events(j)._2
          val lo = ts - winUs
          var s = java.math.BigDecimal.ZERO
          var i = 0
          while (i < m) {
            val e = events(i)
            if (e._2 >= lo && e._2 <= ts) s = s.add(d2(e._3))
            i += 1
          }
          acc += s.doubleValue
          j += 1
        }
        sinkB = acc
      }
      assert(sinkA == sinkB, "two-pointer sums diverged from rescan")
    }

    // ---- bounded group sample: k-heap aggregate vs window top-k ----
    // The aggregate's partial buffers cap at k ids, so the exchange
    // ships <= k longs per (partition, group); the window shape must
    // shuffle EVERY row to sort whole groups, then aggregate again.
    // (The window variant orders by xxhash64 — same computational
    // shape; ANSI mode forbids the wrapping multiply in SQL.)
    locally {
      import org.apache.spark.sql.GraftSqlBridge
      import org.apache.spark.sql.expressions.Window
      import graft.functions.BottomKSample
      val li = Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), pmod(col("l_orderkey"), lit(512)).as("g"))
        .crossJoin(spark.range(8).select((col("id") * 100000000L).as("off")))
        .select((col("l_orderkey") + col("off")).as("id"), col("g"))
        .repartition(32).persist()
      val nLi = li.count()
      bench("group_sample k=10", "native BottomKSample agg", nLi) {
        li.groupBy("g").agg(GraftSqlBridge.column(
            BottomKSample(GraftSqlBridge.expression(col("id")), 10)
              .toAggregateExpression()).as("s"))
          .select(sum(size(col("s")))).collect()
      }
      bench("group_sample k=10", "window row_number + collect", nLi) {
        val w = Window.partitionBy("g").orderBy(xxhash64(col("id")))
        li.withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
          .groupBy("g").agg(collect_list(col("id")).as("s"))
          .select(sum(size(col("s")))).collect()
      }
      li.unpersist()
    }

    // ---- pagerank iteration layout: flat edges vs adjacency --------
    // Same recurrence, same cached inputs; the flat layout re-reads E
    // edge rows per round (probe join + cache scan), the adjacency
    // layout reads N array rows and explodes row-locally. Both end in
    // the identical dst-keyed partial-sum shuffle.
    locally {
      val edges = Tables.lineitem(spark, dir)
        .groupBy(col("l_orderkey"))
        .agg(collect_set(col("l_partkey")).as("parts"))
        .select(explode(col("parts")).as("src"), col("parts"))
        .select(col("src"), explode(col("parts")).as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
        .repartition(32).persist()
      val nE = edges.count()
      val deg = edges.groupBy("src").agg(count(lit(1)).as("d"))
      val flat = edges.join(deg, "src").repartition(32).persist()
      flat.count()
      val adj = edges.groupBy(col("src"))
        .agg(collect_list(col("dst")).as("dsts"), count(lit(1)).as("d"))
        .repartition(32).persist()
      val n = adj.count()
      val r0 = 1000000000000L / n
      val seed = adj.select(col("src").as("node"), lit(r0).as("r"))
      def round(prev: DataFrame, probe: DataFrame, exploded: Boolean) = {
        val joined = probe.join(broadcast(prev), probe("src") === prev("node"))
        val contribs =
          if (exploded) joined.select(col("dst"), expr("r DIV d").as("c"))
          else joined.select(explode(col("dsts")).as("dst"), expr("r DIV d").as("c"))
        contribs.groupBy(col("dst")).agg(sum(col("c")).as("m"))
          .select(col("dst").as("node"), expr("(85 * m) DIV 100").as("r"))
          .localCheckpoint()
      }
      bench("pagerank 5 iters", "adjacency arrays (N rows)", nE) {
        var r = seed
        (1 to 5).foreach(_ => r = round(r, adj, exploded = false))
        r.select(sum(col("r"))).collect()
      }
      bench("pagerank 5 iters", "flat edge rows (E rows)", nE) {
        var r = seed
        (1 to 5).foreach(_ => r = round(r, flat, exploded = true))
        r.select(sum(col("r"))).collect()
      }
      edges.unpersist(); flat.unpersist(); adj.unpersist()
    }

    // ---- report ----------------------------------------------------
    val sb = new StringBuilder
    sb.append("# Kernel microbenchmarks (generated by graft.MicroBench)\n\n")
    sb.append(s"Input dir: `$dir` (embeddings x8 = $nEmb rows; shingled docs = $nDocs; raw docs x4 = $nRaw).\n")
    sb.append("Median of 3 timed runs after 1 warmup, local[32]. Ratios are\n")
    sb.append("per-operator speedups of the native kernel over the naive form.\n\n")
    sb.append("| operator | variant | rows | median s | rows/s | speedup |\n")
    sb.append("|---|---|---|---|---|---|\n")
    results.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (_, rs) =>
      val base = rs.last._4
      rs.foreach { case (op, v, n, s) =>
        val ratio = if (s > 0) base / s else Double.NaN
        sb.append(f"| $op | $v | $n | $s%.3f | ${n / s}%,.0f | ${ratio}%.1fx |\n")
      }
    }
    Files.createDirectories(Paths.get("docs"))
    Files.writeString(Paths.get("docs/MICRO.md"), sb.toString)
    println(s"wrote docs/MICRO.md (${results.size} rows)")
    spark.stop()
  }
}
