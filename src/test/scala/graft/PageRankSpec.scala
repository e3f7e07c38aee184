package graft

import graft.queries.GraphQueries
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.scalatest.funsuite.AnyFunSuite

/** Integer PageRank vs an independent naive recurrence on authored
  * graphs — the distributed join/agg formulation must reproduce the
  * defined integer semantics node-for-node, and the semantics must
  * behave like PageRank (hubs outrank leaves, symmetry ⇒ equal rank).
  */
class PageRankSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val Scale = 1000000000000L

  /** Same recurrence, computed with plain Scala maps. */
  private def naive(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val out = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val n = out.size
    val r0 = Scale / n
    val base = (15L * r0) / 100L
    var r = out.keys.map(_ -> r0).toMap
    for (_ <- 1 to iters) {
      val in = edges.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => r(u) / out(u) }.sum).toMap
      r = in.map { case (v, mass) => v -> (base + (85L * mass) / 100L) }
    }
    r
  }

  // symmetric star 0–{1,2,3,4} plus a symmetric triangle {10,11,12}
  private val edges: Seq[(Long, Long)] =
    (1L to 4L).flatMap(s => Seq((0L, s), (s, 0L))) ++
      Seq((10L, 11L), (11L, 10L), (11L, 12L), (12L, 11L), (12L, 10L), (10L, 12L))

  test("distributed integer PageRank == naive recurrence, node for node") {
    val got = GraphQueries.integerPageRank(edges.toDF("src", "dst"), iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === naive(edges, 5))
  }

  test("rank ordering: hub above leaves, symmetric nodes equal") {
    val r = naive(edges, 5)
    assert(r(0L) > r(1L), "star hub must outrank a spoke")
    assert((1L to 4L).map(r).distinct.size === 1, "spokes are symmetric")
    assert(Seq(r(10L), r(11L), r(12L)).distinct.size === 1,
      "triangle nodes are symmetric")
    // 85% damping: ranks move away from the uniform start
    assert(r(0L) !== Scale / 8)
  }

  test("iteration count is respected (ranks differ between 1 and 5 rounds)") {
    val one = GraphQueries.integerPageRank(edges.toDF("src", "dst"), iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one === naive(edges, 1))
    assert(one !== naive(edges, 5))
  }

  /** General recurrence with dangling-mass redistribution, plain maps:
    * ranks over the FULL node set; each round the mass parked on
    * out-degree-0 nodes is shared uniformly (integer DIV at each step,
    * mirroring the engine's defined truncating semantics).
    */
  private def naiveGeneral(edges: Seq[(Long, Long)], iters: Int)
      : Map[Long, Long] = {
    val out = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val n = nodes.size
    val r0 = Scale / n
    val base = (15L * r0) / 100L
    var r = nodes.map(_ -> r0).toMap
    for (_ <- 1 to iters) {
      val dangShare = nodes.filterNot(out.contains).map(r).sum / n
      val in = edges.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => r(u) / out(u) }.sum).toMap
      r = nodes.map(v =>
        v -> (base + (85L * (in.getOrElse(v, 0L) + dangShare)) / 100L)).toMap
    }
    r
  }

  // 2 is a sink (dangling), 0 has no in-edges — both irregularities
  // that force the general path; 3→4→3 keeps some mass circulating
  private val sinkEdges: Seq[(Long, Long)] =
    Seq((0L, 1L), (0L, 2L), (1L, 2L), (3L, 4L), (4L, 3L), (1L, 3L))

  test("sink graph: dangling mass redistributed, matches naive general " +
    "recurrence over the full node set") {
    val got = GraphQueries.integerPageRank(sinkEdges.toDF("src", "dst"),
        iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = naiveGeneral(sinkEdges, 4)
    assert(got === want)
    assert(got.keySet === Set(0L, 1L, 2L, 3L, 4L),
      "ranks must cover sources and sinks, not just out-edge nodes")
    // dangling redistribution is actually exercised: the sink holds
    // mass, so its share must be non-zero in every round
    assert(naiveGeneral(sinkEdges, 1)(2L) > 0L)
  }

  /** Every executed plan the body's actions ran (each round is a
    * `localCheckpoint` action), so the in-loop join strategy is
    * assertable even though the returned DataFrame's lineage is cut.
    */
  private def isRankJoin(p: String): Boolean =
    p.contains("Join") && p.contains("dsts")

  private def executedPlans(body: => Unit): Seq[String] =
    Profile.of(spark)(body).actions.map(_.qe.executedPlan.toString)

  /** The rank joins (the adjacency-list side carries `dsts`) in each
    * round's `localCheckpoint` plan: one per fused step.
    */
  private def rankJoinsPerRound(body: => Any): Seq[Int] =
    Profile.of(spark)(body).actions.filter(_.name == "localCheckpoint")
      .map(a => collect(a.qe.executedPlan) {
        case j: BaseJoinExec if Seq(j.left, j.right)
          .exists((c: SparkPlan) => c.output.exists(_.name == "dsts")) => j
      }.size)

  test("plan shape under the guard: rank join is a broadcast hash join") {
    val joins = executedPlans {
      GraphQueries.integerPageRank(edges.toDF("src", "dst"), iters = 2).collect()
    }.filter(isRankJoin)
    assert(joins.nonEmpty, "no rank-join plan captured")
    assert(joins.forall(_.contains("BroadcastHashJoin")),
      s"guarded path must broadcast the rank table:\n${joins.head}")
  }

  test("assumeRegular skips the census without changing regular-graph ranks") {
    val got = GraphQueries.integerPageRank(edges.toDF("src", "dst"),
        iters = 5, assumeRegular = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === naive(edges, 5))
  }

  test("head-node hybrid layout: forced flat split reproduces exact ranks") {
    // maxAdjArray=2 makes the star hub (degree 4) a head node while
    // the spokes/triangle (degree ≤ 2) stay on the array layout —
    // both contribution streams and their union are exercised
    val split = GraphQueries.integerPageRank(edges.toDF("src", "dst"),
        iters = 5, maxAdjArray = 2L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(split === naive(edges, 5),
      "hybrid flat+array layout changed the answer")
    // degenerate: EVERY node a head (pure flat layout) still exact,
    // and on the sink graph the general path composes with the split
    val allFlat = GraphQueries.integerPageRank(sinkEdges.toDF("src", "dst"),
        iters = 3, maxAdjArray = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(allFlat === naiveGeneral(sinkEdges, 3))
  }

  test("step fusion is active only when the head split is empty") {
    // Fusing recurrence steps per action is sound only while the
    // rank join reads its input ONCE; with heads active it reads it
    // twice (array join + broadcast head slice), so a fused plan
    // would embed the prior step twice. Each round is one
    // `localCheckpoint` action whose plan holds one rank join per
    // step: headless regular graph → ONE fused action at the default
    // width (5 ≥ iters, the r16 measured default); same graph with a
    // forced head split → one step per action.
    def pageRank(iters: Int, maxAdjArray: Long = 1L << 20) =
      GraphQueries.integerPageRank(edges.toDF("src", "dst"), iters = iters,
        maxAdjArray = maxAdjArray).collect()
    val fused = rankJoinsPerRound(pageRank(4))
    assert(fused === Seq(4),
      s"headless regular loop should fuse all 4 steps into one action: $fused")
    // past the fuse width (5) the loop fuses 5 steps, then the rest
    val fused7 = rankJoinsPerRound(pageRank(7))
    assert(fused7 === Seq(5, 2),
      s"7 steps should run as a 5-step and a 2-step action: $fused7")
    val split = rankJoinsPerRound(pageRank(4, maxAdjArray = 2L))
    assert(split === Seq(1, 1, 1, 1),
      s"head-split loop must stay unfused: $split")
  }

  test("plan shape past the guard: sort-merge, no broadcast of the rank " +
    "table, and the same answer") {
    var result: Map[Long, Long] = Map.empty
    val joins = executedPlans {
      result = GraphQueries.integerPageRank(edges.toDF("src", "dst"),
          iters = 2, broadcastMaxNodes = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }.filter(isRankJoin)
    assert(joins.nonEmpty, "no rank-join plan captured")
    assert(joins.forall(p => p.contains("SortMergeJoin") &&
      !p.contains("BroadcastHashJoin")),
      s"past the guard the rank join must be sort-merge:\n${joins.head}")
    assert(result === naive(edges, 2), "fallback path changed the answer")
  }
}
