package graft.queries

import graft.ScopedConf
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Distributed connected components over an undirected pair graph
  * (`a`, `b` columns), the primitive under dedup cluster assignment
  * (q102/q111/q112 consume the labels).
  *
  * Two algorithms with one contract — output is (id, lbl) where lbl
  * is the minimum node id reachable from id:
  *
  *  - [[minLabel]]: label propagation to a fixpoint. O(diameter)
  *    rounds, one edge-sized shuffle per round — the cheap path for
  *    near-dup graphs, whose components are short chains (diameter
  *    ≤ a few). DOES NOT converge within the round cap on long
  *    chains; it reports that instead of silently returning partial
  *    labels.
  *  - [[largeSmallStar]]: alternating large-star/small-star edge
  *    contraction (Kiveris et al., "Connected Components in MapReduce
  *    and Beyond", SoCC 2014). Converges in O(log n) rounds
  *    REGARDLESS of diameter — the planet-scale path; each round is
  *    two edge-sized shuffles and the edge set only shrinks toward a
  *    star forest.
  *
  * [[labelsFor]] is what q102 uses: min-label first, automatic
  * escalation to large-star/small-star if the cap is hit — a
  * chain-heavy pair graph (adversarial near-dup corpus) degrades to
  * the logarithmic algorithm instead of to wrong answers.
  *
  * Both iterate with per-round `localCheckpoint` so round k+1 reads
  * round k's materialized output, not the whole lineage (same shape
  * as the q102 loop since round 3; required for any iterative plan).
  *
  * Loop hygiene (dozens of per-round jobs over KB of data pay seconds
  * of fixed driver/codegen cost):
  *  - ONE action per round. The convergence check rides the round's
  *    own checkpoint job as an `observe` metric (previous label
  *    carried through the aggregation) instead of a separate
  *    join+count action; largeSmallStar's fixpoint signature rides
  *    the same way.
  *  - The loops are size-gated ([[graft.ScopedConf.forLoopOf]]):
  *    below ~100M edge rows per round whole-stage codegen and AQE are
  *    scoped off (tiny per-round plans spend more compiling than
  *    running); a web-scale graph keeps both. On plain session
  *    defaults perfbench's `dedup.s` (q35 -> q102 -> q111 -> q112)
  *    rose 12.6 -> 14.0 s (median of 10 alternating pairs, 4 cores),
  *    so the profile stays.
  *
  * Every entry takes the caller's loop width (`loopParts`: the width
  * of its shuffles outside the tiny profile; None keeps the session's)
  * and the checkpoint of its edge-sized tables (`checkpoint`; q102 and
  * q137 pass their pair pipeline's storage level).
  */
object ConnectedComponents {

  /** Min-label propagation. Returns (labels, converged, rounds);
    * `labels` is only the true component labeling when `converged`.
    *
    * Each round: neighbors' labels union the node's own, min per id.
    * The node's previous label is carried through the aggregation
    * (`max(prev)` — exactly one non-null per id), so "did anything
    * change" is a sum over the SAME job via `observe`, not a second
    * action re-joining the old labels.
    */
  def minLabel(pairs: DataFrame, maxRounds: Int = 25,
      loopParts: Option[Int] = None,
      checkpoint: DataFrame => DataFrame = DedupQueries.bigCheckpoint(_))
      : (DataFrame, Boolean, Int) = {
    // EDGE-sized (2× the pair set — the loop's biggest table, re-read
    // every round): pair-level storage policy, not the deserialized
    // default, whose disk→memory re-read unrolls whole partitions as
    // object arrays (the ×512 OOM; see DedupQueries.bigCheckpoint).
    // The node-sized label checkpoints below keep the default level.
    val obsNbr = Observation()
    val nbr = checkpoint(pairs.select(col("a"), col("b"))
      .union(pairs.select(col("b"), col("a"))).toDF("id", "nb")
      .observe(obsNbr, count(lit(1)).as("n")))
    // per-round volume = the symmetric edge list each round re-joins;
    // small graphs run the loop interpreted (fixed compile cost
    // dominates), big ones keep codegen + AQE. The count rides the
    // nbr checkpoint's own job (cf. checkpointed in largeSmallStar) —
    // not a separate action.
    ScopedConf.forLoopOf(pairs.sparkSession,
        obsNbr.get("n").asInstanceOf[Long], loopParts) {
      var labels = nbr.select(col("id")).distinct()
        .select(col("id"), col("id").as("lbl")).localCheckpoint()
      val lblType = labels.schema("lbl").dataType
      // one un-observed propagation step: neighbours' labels union the
      // node's own, min per id — used as the FIRST half of a fused
      // round (no change accounting needed mid-fusion)
      def step(l: DataFrame): DataFrame = nbr
        .join(l.select(col("id").as("nb"), col("lbl")), "nb")
        .select(col("id"), col("lbl"))
        .union(l.select(col("id"), col("lbl")))
        .groupBy("id").agg(min(col("lbl")).as("lbl"))
      // the observed step carries ITS input's label through the
      // aggregation, so "did anything change" rides the same job
      def observedStep(l: DataFrame, obs: Observation): DataFrame = {
        val prop = nbr
          .join(l.select(col("id").as("nb"), col("lbl")), "nb")
          .select(col("id"), col("lbl"), lit(null).cast(lblType).as("prev"))
        l.select(col("id"), col("lbl"), col("lbl").as("prev"))
          .union(prop)
          .groupBy("id")
          .agg(min(col("lbl")).as("lbl"), max(col("prev")).as("prev"))
          .observe(obs, coalesce(sum(when(col("lbl") =!= col("prev"), 1L)
            .otherwise(0L)), lit(0L)).as("changed"))
          .select(col("id"), col("lbl"))
      }
      var changed = 1L
      var rounds = 0
      // TWO propagation steps per action (r8, the BENCH_r07 residue
      // fix): each checkpoint/job carries a fused step+observedStep
      // plan — same shuffle volume in total, HALF the fixed per-action
      // cost (job launch, plan analysis, checkpoint materialization)
      // that dominates when per-round data is KB-sized. Convergence
      // stays sound: the observe compares against the FUSED plan's
      // midpoint, so changed == 0 still certifies a fixpoint (the
      // second step changed nothing); at worst one extra step of work
      // is done after the true fixpoint. `rounds` counts steps; each
      // loop action is one `localCheckpoint` running `fuse` steps.
      while (changed > 0 && rounds < maxRounds) {
        val fuse = if (rounds + 2 <= maxRounds) 2 else 1
        val obs = Observation()
        val mid = if (fuse == 2) step(labels) else labels
        labels = observedStep(mid, obs).localCheckpoint()
        changed = obs.get("changed").asInstanceOf[Long]
        rounds += fuse
      }
      (labels, changed == 0L, rounds)
    }
  }

  /** Large-star/small-star to a star-forest fixpoint.
    *
    * Per round (u ranges over nodes, Γ(u) = neighbors, m(u) = min of
    * {u} ∪ Γ(u)):
    *  - large-star: emit (v, m(u)) for every v ∈ Γ(u) with v > u —
    *    strictly larger neighbors hook onto u's local minimum;
    *  - small-star: orient edges child > parent; emit (v, m(u)) for
    *    every smaller neighbor v ≠ m(u), plus (u, m(u)) — u and its
    *    smaller neighbors all hook onto the minimum.
    * The edge set is deduped each round and compared by (count,
    * hash-sum) signature; at the fixpoint it IS the star forest
    * (child → component minimum), from which labels read off
    * directly. Shuffles are always edge-sized; high-degree minima
    * are plain groupBy keys (no per-node adjacency lists are ever
    * collected).
    */
  def largeSmallStar(pairs: DataFrame, maxRounds: Int = 100,
      loopParts: Option[Int] = None,
      checkpoint: DataFrame => DataFrame = DedupQueries.bigCheckpoint(_))
      : DataFrame = {
    // Fixpoint signature, computed as observe metrics ON the round's
    // checkpoint job (no separate collect). XOR-fold, not SUM: ANSI
    // mode makes a long SUM of 2^63-range hashes throw on overflow;
    // XOR is order-independent and overflow-free, and the edge set is
    // distinct so multiplicity cannot cancel.
    def checkpointed(e: DataFrame): (DataFrame, (Long, Long)) = {
      val obs = Observation()
      // edge-sized per round: pair-level storage policy (cf. minLabel's
      // nbr — the metrics still ride the same eager checkpoint job)
      val out = checkpoint(
        e.observe(obs, count(lit(1)).as("cnt"),
          coalesce(expr("bit_xor(xxhash64(a, b))"), lit(0L)).as("sig")))
      (out, (obs.get("cnt").asInstanceOf[Long],
        obs.get("sig").asInstanceOf[Long]))
    }

    // canonical undirected edges, self-loops dropped
    val canonical = pairs
      .select(least(col("a"), col("b")).as("s"),
        greatest(col("a"), col("b")).as("l"))
      .filter(col("s") =!= col("l"))
      .select(col("s").as("a"), col("l").as("b"))
    val (edges0, sig0) = checkpointed(loopParts
      .fold(canonical)(n => canonical.repartition(n, col("a"), col("b")))
      .distinct())

    // per-round volume ≈ the (shrinking) edge set; gate the loop
    // profile on the initial size
    ScopedConf.forLoopOf(pairs.sparkSession, sig0._1, loopParts) {
      var edges = edges0
      var sig = sig0

      def largeStar(e: DataFrame): DataFrame = {
        val sym = e.select(col("a").as("u"), col("b").as("v"))
          .union(e.select(col("b").as("u"), col("a").as("v")))
        val mins = sym.groupBy("u")
          .agg(min(col("v")).as("mn"))
          .select(col("u"), least(col("u"), col("mn")).as("m"))
        sym.join(mins, "u").filter(col("v") > col("u"))
          .select(least(col("v"), col("m")).as("a"),
            greatest(col("v"), col("m")).as("b"))
          .filter(col("a") =!= col("b")).distinct()
      }

      def smallStar(e: DataFrame): DataFrame = {
        // orient child > parent: u is the larger endpoint
        val oriented = e.select(col("b").as("u"), col("a").as("v"))
        val mins = oriented.groupBy("u").agg(min(col("v")).as("m"))
        val hooked = oriented.join(mins, "u")
        hooked.filter(col("v") =!= col("m"))
          .select(col("m").as("a"), col("v").as("b"))
          .union(hooked.select(col("m").as("a"), col("u").as("b")).distinct())
          .select(least(col("a"), col("b")).as("s"),
            greatest(col("a"), col("b")).as("l"))
          .filter(col("s") =!= col("l"))
          .select(col("s").as("a"), col("l").as("b")).distinct()
      }

      var rounds = 0
      var fixed = false
      // NOT fused: each star references its input ~4 times, so fusing
      // k rounds grows the un-materialized plan tree ~4^k — the
      // per-round checkpoint is what keeps this path's plans linear
      while (!fixed && rounds < maxRounds) {
        val (next, nextSig) = checkpointed(smallStar(largeStar(edges)))
        fixed = nextSig == sig
        sig = nextSig
        edges = next
        rounds += 1
      }
      // explicit throw, not `assert`: under -Xdisable-assertions an
      // assert vanishes and non-convergence would return partial labels
      if (!fixed) throw new IllegalStateException(
        s"large-star/small-star did not converge in $maxRounds rounds")
      // star forest: every child appears once with its component min;
      // roots (= the minima) label themselves. No distinct on the
      // root branch: its consumer is groupBy(id).min(lbl) — min is
      // duplicate-insensitive and map-side partial aggregation
      // collapses the repeats in the SAME exchange, so a distinct
      // here would be one extra E-row shuffle buying nothing.
      edges.select(col("b").as("id"), col("a").as("lbl"))
        .union(edges.select(col("a").as("id"), col("a").as("lbl")))
        .groupBy("id").agg(min(col("lbl")).as("lbl"))
        .localCheckpoint()
    }
  }

  /** The production entry: min-label for the common short-diameter
    * case, automatic escalation to large-star/small-star when the
    * round cap is hit — long chains cost O(log n) extra rounds
    * instead of silently wrong labels.
    */
  def labelsFor(pairs: DataFrame, minLabelRounds: Int = 25,
      loopParts: Option[Int] = None,
      checkpoint: DataFrame => DataFrame = DedupQueries.bigCheckpoint(_))
      : DataFrame = {
    val (labels, converged, rounds) =
      minLabel(pairs, minLabelRounds, loopParts, checkpoint)
    if (converged) labels
    else {
      System.err.println(
        s"[graft-cc] min-label hit the $rounds-round cap (graph diameter " +
          "exceeds it); escalating to large-star/small-star")
      largeSmallStar(pairs, loopParts = loopParts, checkpoint = checkpoint)
    }
  }
}
