package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph operators: PageRank-style authority scoring — the
  * iterative-fixpoint operator a web-corpus pipeline uses to weight
  * domains/documents by link authority (the quality-weighting step
  * next to dedup and filtering). Connected components, the other
  * iterative graph primitive, is [[ConnectedComponents]].
  *
  * Oracle design: floating-point PageRank can never hash-match across
  * engines (per-engine summation order and rounding), so the ranks
  * are INTEGER micro-units (scale 10^12) with truncating division at
  * every step — Spark's `DIV` and DuckDB's `//` agree bit-for-bit on
  * non-negative operands, making an ITERATIVE fixpoint hash-checkable
  * against an independent engine (the same determinism-by-integer
  * move q126 made for sampling). The truncation loss (< one
  * micro-unit per node per round) is part of the defined semantics,
  * replicated identically on both sides.
  */
object GraphQueries {

  /** Integer PageRank over a directed edge list (`src`, `dst`):
    * `iters` rounds of r'(v) = 15% base + 85% of the sum of
    * r(u) DIV deg(u) over in-neighbours, all in micro-units.
    *
    * Two recurrence paths, chosen by a one-time graph census:
    *  - REGULAR graph (every node has ≥1 out- AND in-edge — true for
    *    any symmetrized graph, e.g. q133's co-purchase graph): the
    *    minimal recurrence — no node table, no dangling term; the
    *    per-round plan is join → explode → one `dst`-keyed partial
    *    agg.
    *  - GENERAL graph (sinks and/or sourceless nodes): ranks live on
    *    the full node set; each round redistributes the dangling mass
    *    uniformly — r'(v) = base + (85·(in_mass(v) + dangShare)) DIV
    *    100 with dangShare = (Σ r(u) over out-degree-0 u) DIV n —
    *    computed INSIDE the round's single job (a broadcast 1-row
    *    cross join), not as an extra action. Truncating integer
    *    division at every step keeps the general path as
    *    hash-checkable as the regular one (spec'd vs a Map-based
    *    reference on a sink graph).
    *
    * Scale shape: the edge list is collapsed ONCE into an adjacency
    * table — one row per node with its out-neighbour array and degree
    * — and that compact table (N rows, E array cells) is what each
    * round re-reads: the per-round work is a join against the rank
    * table, a row-local explode, and ONE `dst`-keyed shuffle with
    * map-side partial sums. The rank join BROADCASTS the rank table
    * only while it provably fits (`n ≤ broadcastMaxNodes`, default
    * 4M nodes ≈ 64 MB of (long, long) rows); past the guard the
    * adjacency table is re-persisted HASH-PARTITIONED on `src` so the
    * per-round sort-merge join shuffles only the rank table — a
    * web-scale node count degrades to one rank-sized exchange per
    * round instead of OOMing the driver (both plan shapes asserted in
    * PageRankSpec). Measured vs the flat edge layout at sf0.1 (2.4M
    * edges, MICRO.md): per-round cost is EQUAL once both are cached
    * and balanced — the end-to-end win (9.2 → 5.6 s in-suite) is that
    * the flat layout needs a separate degree-join build + 2.4M-row
    * cache whose src-hash output partitioning inherits co-occurrence
    * skew (straggler per round unless rebalanced), while the
    * adjacency build IS the degree aggregation. Head-node arrays are
    * the q123 posting-list skew surface — nodes whose out-degree
    * exceeds `maxAdjArray` (default 1M ≈ 8 MB/row) KEEP THEIR EDGES
    * FLAT: the hybrid layout stores the degree body as arrays and the
    * power-law head as (src, dst, d) rows spread across partitions,
    * joins the head's (always broadcast-tiny) rank slice map-side,
    * and unions both contribution streams into the same single
    * dst-keyed aggregation — same recurrence, no multi-GB row, no
    * one-task straggler (spec: forced split reproduces the unsplit
    * ranks exactly). Lineage stays at `iters` depth via an
    * eager per-round `localCheckpoint` of the tiny rank table —
    * without the cut, round i's join re-executes rounds 1..i-1
    * (measured O(iters²) passes). The iteration loop runs under
    * [[graft.ScopedConf.forLoopOf]]: below ~100M edge cells per round
    * codegen + AQE are scoped OFF — the per-round plans are KB-sized
    * and cost more to compile and replan than to run; on plain
    * session defaults perfbench's q133 ran 4.97 -> 5.99 s (median of
    * 10 alternating pairs, 4 cores), so the profile stays — while a
    * web-scale graph keeps both (per-row interpreted cost would
    * dominate there, and compilation amortizes over billions of
    * cells). All persisted intermediates are unpersisted before
    * returning.
    */
  /** `assumeRegular = true` skips the in/out-coverage census (a
    * 2E-row tagged shuffle) for graphs that are regular BY
    * CONSTRUCTION — e.g. any symmetrized edge list, where both
    * directions of every pair are emitted so srcSet ≡ dstSet.
    * Callers without that structural guarantee keep the default: the
    * census selects the dangling-mass recurrence when the graph has
    * sinks or sourceless nodes (silently-wrong ranks otherwise).
    */
  def integerPageRank(edges0In: DataFrame, iters: Int,
      scaleUnit: Long = 1000000000000L,
      broadcastMaxNodes: Long = 4L << 20,
      maxAdjArray: Long = 1L << 20,
      assumeRegular: Boolean = false): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val s = edges0In.sparkSession
    // Persist the INPUT edge list: it is consumed by the degree
    // census, the (optional) node census, the adjacency build and the
    // head split — without the persist an expensive upstream edge
    // derivation (q133's collect_set + double-explode + distinct over
    // the fact table) re-executes per consumer (r8: this was a full
    // second edge-generation pass inside the adjacency build).
    val edges = edges0In.persist(MEMORY_AND_DISK)
    // out-degree census first: it drives the head split, the
    // regularity check, the edge-cell count, and the dangling test —
    // one edge-sized aggregation, reused everywhere.
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .persist(MEMORY_AND_DISK)
    try {
      // ONE action over the cached degree table yields the whole
      // out-side census: node count, edge-cell count, and the head
      // count (out-degree > maxAdjArray — a power-law hub whose
      // neighbour array would otherwise become one multi-GB row
      // pinned to one task, the q123 posting-list skew surface;
      // Σd = E bounds the head count by E/maxAdjArray, so the head
      // table is always broadcast-tiny).
      val degStats = graft.RoundStats.timed("pr_deg_census") {
        deg.agg(count(lit(1)),
          coalesce(sum(col("d")), lit(0L)),
          count(when(col("d") > maxAdjArray, 1))).collect()(0)
      }
      val (nOut, eCells, nHeads) =
        (degStats.getLong(0), degStats.getLong(1), degStats.getLong(2))
      require(nOut > 0, "pagerank needs a non-empty graph")
      // heads is a projection of the CACHED deg table — no separate
      // persist; its three consumers each broadcast a deg-cache scan
      val heads = deg.filter(col("d") > maxAdjArray)
      locally {
        // in/out coverage in ONE shuffle: tag each endpoint role and
        // keep the max tag per node — nAll is the row count, nIn the
        // tagged sum (replaces two separate distinct-count shuffles).
        // Skipped entirely under `assumeRegular` (nodes ≡ deg keys).
        val nodes0 =
          if (assumeRegular) None
          else Some(edges.select(col("src").as("node"), lit(0L).as("i"))
            .union(edges.select(col("dst").as("node"), lit(1L).as("i")))
            .groupBy(col("node")).agg(max(col("i")).as("has_in"))
            .persist(MEMORY_AND_DISK))
        try {
          val (nAll, nIn) = nodes0 match {
            case None => (nOut, nOut)
            case Some(n0) =>
              val nst = graft.RoundStats.timed("pr_node_census") {
                n0.agg(count(lit(1)),
                  coalesce(sum(col("has_in")), lit(0L))).collect()(0)
              }
              (nst.getLong(0), nst.getLong(1))
          }
          def nodes = nodes0.get.select(col("node")) // general path only
          val regular = nOut == nAll && nIn == nAll
          val n = nAll
          def coPart(df: DataFrame): DataFrame =
            if (n > broadcastMaxNodes) df.repartition(col("src")) else df
          // array layout for the body of the degree distribution...
          val adj = coPart(
            (if (nHeads == 0) edges
             else edges.join(broadcast(heads.select(col("src"))),
               Seq("src"), "left_anti"))
              .groupBy(col("src"))
              .agg(collect_list(col("dst")).as("dsts"),
                count(lit(1)).as("d")))
            .persist(MEMORY_AND_DISK)
          // ...flat (src, dst, d) rows for the heads: edge-per-row,
          // deliberately NOT src-partitioned (that would pin one
          // head's edges to one task — the skew this path exists to
          // avoid); its rank side broadcasts, so no co-partitioning
          // requirement exists
          val flat =
            if (nHeads == 0) None
            else Some(edges.join(broadcast(heads), Seq("src"))
              .persist(MEMORY_AND_DISK))
          try {
            // No explicit materialization action for adj/flat: their
            // first consumer is round 1, so the r8 `pr_adj_build`
            // count() was a whole extra job (shuffle + cache write +
            // read-back pass) whose work round 1 repeats from cache.
            // Folding it in, round 1's single action builds the cache
            // partitions in-line with its own join scan — one fewer
            // job and one fewer cache pass; rounds 2+ read the cache
            // exactly as before (BlockInfoManager serializes any
            // concurrent first-compute of a partition, so a fused
            // 2-step round can't double-build it). Attribution-wise
            // the build now lands inside `pr_round1xK` — read round 1
            // vs round 2 in the stages map for the build cost.
            def rankJoin(r: DataFrame): DataFrame = {
              // past the guard, pin sort-merge: the checkpointed rank
              // table has no size stats, and a planner fallback to a
              // driver-side broadcast is exactly the failure the guard
              // exists to prevent
              val rr = if (n <= broadcastMaxNodes) broadcast(r)
                       else r.hint("merge")
              val arrPart = adj.join(rr, adj("src") === r("node"))
                .select(explode(col("dsts")).as("dst"),
                  expr("r DIV d").as("c"))
              val contrib = flat match {
                case None => arrPart
                case Some(f) =>
                  // the head RANK slice is nHeads rows — broadcast it
                  // regardless of the global guard; the flat join is
                  // then map-side over the persisted edge rows
                  val hr = r.join(
                    broadcast(heads.select(col("src").as("node"))),
                    Seq("node"))
                  arrPart.union(
                    f.join(broadcast(hr), f("src") === hr("node"))
                      .select(f("dst").as("dst"), expr("r DIV d").as("c")))
              }
              contrib.groupBy(col("dst")).agg(sum(col("c")).as("in_mass"))
            }
            val r0 = scaleUnit / n
            val base = (15L * r0) / 100L
            // per-round volume = exploded edge cells; the loop profile
            // is size-gated (interpreted under the threshold, codegen +
            // AQE above it), kept by the A/B cited above
            graft.ScopedConf.forLoopOf(s, eCells) {
              if (regular) {
                // no checkpoint on the seed: its lineage is one hop
                // into the cached degree table
                var r = deg.select(col("src").as("node"), lit(r0).as("r"))
                def step(cur: DataFrame): DataFrame =
                  rankJoin(cur)
                    .select(col("dst").as("node"),
                      (lit(base) + expr("(85 * in_mass) DIV 100")).as("r"))
                // FUSED recurrence steps per checkpoint (r8, the
                // BENCH_r07 residue fix; width 5 since r16): the fused
                // plan runs k rounds' shuffles inside ONE action —
                // same data volume, 1/k the job-launch/plan-analysis/
                // checkpoint fixed cost that dominates when the
                // per-round rank table is KB-sized. Fusing is sound
                // only when the recurrence references its input rank
                // table exactly ONCE per step — true iff the head
                // split is INACTIVE: with heads, rankJoin reads r
                // twice (the array join AND the broadcast head slice),
                // so a fused second step would embed the first step's
                // un-checkpointed plan twice — the same 2^k growth the
                // unfused star path avoids. The general path below
                // also references r twice per step (dangling mass +
                // join) and stays unfused. Plan depth grows linearly
                // in k (one join+explode+agg per step — r appears once
                // per step), so the only cost of a wider fuse is
                // retry granularity: a lost-executor recompute replays
                // up to k rounds instead of 2. Width 5 (the r16 A/B,
                // quiet-host subset bench, OPTIMIZATION_r16.md: fuse 2
                // ran rounds in 3 actions at 4.58 s / 618 tasks, fuse 5
                // in ONE action at 4.31 s / 554 tasks — same shuffle
                // volume, ~1/3 the action/checkpoint fixed cost; the
                // codegen+AQE arm of the same A/B regressed the fused
                // round 4.31 → 7.56 s, re-confirming the interpreted
                // tiny-loop gate).
                val fuseK = if (nHeads != 0) 1 else 5
                var left = iters
                var round = 0
                while (left > 0) {
                  val k = math.min(fuseK, left)
                  round += 1
                  r = graft.RoundStats.timed(s"pr_round${round}x$k") {
                    var cur = r
                    for (_ <- 1 to k) cur = step(cur)
                    cur.localCheckpoint()
                  }
                  left -= k
                }
                r
              } else {
                var r = nodes.select(col("node"), lit(r0).as("r"))
                for (i <- 1 to iters) {
                  // dangling mass: rank parked on out-degree-0 nodes,
                  // shared uniformly — a 1-row aggregate broadcast into
                  // the same round job
                  val dang = r.join(deg.select(col("src").as("node")),
                      Seq("node"), "left_anti")
                    .agg(coalesce(sum(col("r")), lit(0L)).as("dm"))
                    .select(expr(s"dm DIV ${n}L").as("share"))
                  r = graft.RoundStats.timed(s"pr_general_r$i") {
                    nodes
                      .join(rankJoin(r).withColumnRenamed("dst", "node"),
                        Seq("node"), "left")
                      .crossJoin(broadcast(dang))
                      .select(col("node"), (lit(base) +
                        expr("(85 * (coalesce(in_mass, 0L) + share)) DIV 100"))
                        .as("r"))
                      .localCheckpoint()
                  }
                }
                r
              }
            }
          } finally { adj.unpersist(); flat.foreach(_.unpersist()) }
        } finally nodes0.foreach(_.unpersist())
      }
    } finally { deg.unpersist(); edges.unpersist() }
  }

  // --------------------------------------------------------------- q133
  /** Co-purchase authority: parts that appear in the same order are
    * linked (symmetric, deduplicated); 5 integer-PageRank rounds; top
    * 20 by rank (ties broken by part key). The co-occurrence self-join
    * is bounded per order by lines-per-order (≤ 7 in TPC-H shapes, so
    * ≤ 42 directed pairs per order — linear in the fact table, not
    * quadratic in the corpus). Oracle: the SAME integer recurrence
    * unrolled as 5 DuckDB CTEs.
    */
  private def q133(s: SparkSession, dir: String): DataFrame = {
    // pairs are generated ROW-LOCALLY from each order's distinct part
    // set (collect_set dedupes; double explode crosses) — one shuffle
    // by order key instead of a self-join, and the per-order blowup is
    // bounded by lines-per-order, not corpus size
    val e = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("parts"))
      .select(explode(col("parts")).as("src"), col("parts"))
      .select(col("src"), explode(col("parts")).as("dst"))
      .filter(col("src") =!= col("dst"))
      // dedup on the (src, dst) hash — deliberately NOT pre-clustered
      // by src. An r8 variant repartitioned by src first so the
      // degree census and adjacency build would run exchange-free
      // over the edge cache, but that pins every node's FULL edge set
      // (dedup hash table + cache partition) to one task — on a
      // power-law graph a multi-million-degree hub becomes a
      // straggler at every downstream stage, exactly the skew the
      // head-split layout exists to avoid, and it bites BEFORE the
      // split can help. The (src,dst)-hashed dedup stays balanced at
      // any degree distribution; the census it feeds is skew-safe
      // anyway (partial map-side aggregation collapses each partition
      // to its distinct srcs), and the adjacency build's src shuffle
      // is bounded per key by maxAdjArray once the heads are split
      // out. Costs ~two edge-sized shuffles at sf0.1 vs the clustered
      // variant; correct at 1000× the degree skew.
      .dropDuplicates("src", "dst")
    // the double-explode emits BOTH directions of every co-purchase
    // pair, so srcSet ≡ dstSet structurally — the regularity census
    // would be a 2E-row shuffle spent proving a construction invariant
    integerPageRank(e, iters = 5, assumeRegular = true)
      .orderBy(col("r").desc, col("node"))
      .limit(20)
      .select(col("node").as("part"), col("r").as("pr"))
  }

  private val q133Sql = {
    val base = "(15 * (1000000000000 // (SELECT c FROM n))) // 100"
    // CAST: DuckDB's SUM(BIGINT) widens to HUGEINT, which the driver's
    // comparator reads as a double — pin every iteration back to BIGINT
    def it(prev: String, name: String) =
      s"""$name AS (SELECT e.dst AS node,
         |  CAST($base + (85 * SUM(r.r // deg.d)) // 100 AS BIGINT) AS r
         |  FROM e JOIN $prev r ON e.src = r.node JOIN deg ON e.src = deg.src
         |  GROUP BY e.dst)""".stripMargin
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |      AND a.l_partkey <> b.l_partkey),
       |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
       |n AS (SELECT COUNT(*) AS c FROM deg),
       |r0 AS (SELECT src AS node, 1000000000000 // (SELECT c FROM n) AS r
       |       FROM deg),
       |${it("r0", "it1")},
       |${it("it1", "it2")},
       |${it("it2", "it3")},
       |${it("it3", "it4")},
       |${it("it4", "it5")}
       |SELECT node AS part, r AS pr FROM it5
       |ORDER BY pr DESC, node LIMIT 20""".stripMargin
  }

  val queries: Seq[Query] = Seq(
    Query("q133_pagerank", q133, Some(q133Sql)))
}
