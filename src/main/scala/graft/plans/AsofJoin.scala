package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  And, Ascending, Attribute, Expression, GenericInternalRow, JoinedRow,
  PredicateHelper, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** AS-OF join as a first-class operator: logical node → planner
  * strategy → physical merge-scan plan, registered on the session via
  * `extraStrategies` (or `SparkSessionExtensions.injectPlannerStrategy`
  * at session build).
  *
  * This is the (c)-tier extension point the design doc reserves for
  * semantics the built-in operators cannot express as ONE operator:
  * q43 composes the same semantics from union + window (plan-optimal,
  * still the default), while this node IS the as-of join — each left
  * row picks the latest right row of the same key with time ≤ its
  * time, inclusive.
  *
  * Scale shape: `requiredChildDistribution` co-partitions both sides
  * on the key (one hash exchange each — Catalyst's EnsureRequirements
  * inserts/elides them, so an already-bucketed side ships zero bytes)
  * and `requiredChildOrdering` demands (key, time) sort within
  * partitions. The merge itself is a single forward pass over both
  * sorted streams per partition: O(|L|+|R|), constant memory (ONE
  * buffered candidate row), no per-key buffering, no quadratic range
  * join, no window state. Skewed keys cost what the sort costs —
  * nothing is materialized per key.
  */
object AsofJoin {

  /** Latest-right-at-or-before join (left outer): returns left's
    * columns plus right's non-key columns (nullable). Key and time
    * column types must match across sides.
    *
    * `toleranceUs`: optional maximum lookback — a match older than
    * (left time − tolerance) is rejected and the row null-pads, the
    * standard as-of tolerance (pandas `merge_asof(tolerance=...)`,
    * QuestDB ASOF ... TOLERANCE). Exact under the merge's
    * latest-match discipline: the latest at-or-before row is outside
    * the window iff every at-or-before row is. Units are the time
    * column's internal units (µs for TIMESTAMP, raw value for LONG);
    * requires a TIMESTAMP or LONG time column.
    */
  def asof(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String,
      toleranceUs: Option[Long] = None): DataFrame = {
    val spark = left.sparkSession
    if (!spark.experimental.extraStrategies.contains(AsofJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsofJoinStrategy
    if (!spark.experimental.extraOptimizations.contains(AsofJoinFilterPushdown))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ AsofJoinFilterPushdown
    val lPlan = left.queryExecution.analyzed
    // Re-alias the right side to FRESH exprIds: when both inputs
    // derive from the same scan they share attribute ids, and the
    // analyzer's DeduplicateRelations re-ids the right child without
    // knowing how to rewrite the keys inside this (unknown) node.
    import org.apache.spark.sql.functions.col
    val rPlan = right
      .select(right.columns.toSeq.map(c => col(c).as(c)): _*)
      .queryExecution.analyzed
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in ${p.output.map(_.name)}"))
    // Fail at declaration, not with an obscure executor-side ordering /
    // projection error: the merge compares (key, time) across sides
    // with one natural ordering, so the paired types must be identical.
    def sameType(what: String, l: Attribute, r: Attribute): Unit =
      if (l.dataType != r.dataType)
        throw new IllegalArgumentException(
          s"asof: $what column types must match across sides - " +
            s"left ${l.name}: ${l.dataType.simpleString}, " +
            s"right ${r.name}: ${r.dataType.simpleString}")
    sameType("key", attr(lPlan, key), attr(rPlan, key))
    sameType("time", attr(lPlan, leftTime), attr(rPlan, rightTime))
    toleranceUs.foreach { t =>
      import org.apache.spark.sql.types.{LongType, TimestampType}
      val dt = attr(lPlan, leftTime).dataType
      require(dt == TimestampType || dt == LongType,
        s"asof tolerance needs a TIMESTAMP or LONG time column, got " +
          dt.simpleString)
      require(t >= 0, s"asof tolerance must be non-negative, got $t")
    }
    val node = AsofJoinPlan(lPlan, rPlan,
      Seq(attr(lPlan, key)), Seq(attr(rPlan, key)),
      attr(lPlan, leftTime), attr(rPlan, rightTime), toleranceUs)
    GraftSqlBridge.dataFrame(spark, node)
      // drop the duplicated right-side key; right time is the payload
      .drop(GraftSqlBridge.column(attr(rPlan, key)))
  }

  /** EARLIEST-right-at-or-after join (left outer) — the forward
    * direction (pandas `merge_asof(direction='forward')`): each left
    * row picks the first right row of the same key with time ≥ its
    * time; `toleranceUs` bounds the look-AHEAD.
    *
    * Implemented exactly on the backward operator by time negation:
    * the earliest at-or-after match on t is the latest at-or-before
    * match on −t, and a forward tolerance is the same bound on the
    * negated axis — so the merge, its null semantics, the plan shape
    * and the filter-pushdown rule are all inherited unchanged. Times
    * are negated as `-unix_micros(t)` helper columns (works for
    * TIMESTAMP; a LONG time column negates directly), dropped from
    * the output.
    */
  def asofForward(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String,
      toleranceUs: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, unix_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    def neg(df: DataFrame, t: String, helper: String): DataFrame =
      df.schema(t).dataType match {
        case TimestampType => df.withColumn(helper, -unix_micros(col(t)))
        case LongType      => df.withColumn(helper, -col(t))
        case dt => throw new IllegalArgumentException(
          s"asofForward needs a TIMESTAMP or LONG time column, " +
            s"got $t: ${dt.simpleString}")
      }
    asof(neg(left, leftTime, "__l_negt"), neg(right, rightTime, "__r_negt"),
        key, "__l_negt", "__r_negt", toleranceUs)
      .drop("__l_negt", "__r_negt")
  }

  /** NEAREST-right join (left outer) — the third `merge_asof`
    * direction: each left row picks the right row of the same key
    * minimizing |right time − left time|; equidistant candidates
    * resolve BACKWARD (the at-or-before row wins, documented and
    * spec-pinned). `toleranceUs` bounds the distance on BOTH sides.
    *
    * Composed from the two native merges — one backward, one forward
    * (each co-partitioned, O(L+R), single buffered row) — stitched on
    * `idCol`, a UNIQUE left row id (required: after two independent
    * merges only an id can realign rows; enforced nowhere cheaper
    * than the caller's schema, so it is a documented contract like
    * the key/time dtype match). Right payload columns are packed per
    * side and the nearer side's values win column-wise; a 100 TB run
    * pays two merge shuffles plus one id-keyed stitch join, still no
    * range join and no window state.
    */
  def asofNearest(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, idCol: String,
      toleranceUs: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, unix_micros, when}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    def micros(c: Column, dt: org.apache.spark.sql.types.DataType): Column =
      dt match {
        case TimestampType => unix_micros(c)
        case LongType      => c
        case other => throw new IllegalArgumentException(
          s"asofNearest needs a TIMESTAMP or LONG time column, got " +
            other.simpleString)
      }
    val payload = right.columns.filter(_ != key).toSeq
    require(!payload.contains(idCol) && !left.columns.contains("__b_" + idCol),
      s"id column $idCol must come from the left side only")
    // withColumnRenamed renames EVERY column with a matching name: a
    // right payload column sharing a name with any left column would
    // get the left twin renamed too (corrupting the final select), so
    // name-disjointness is part of the contract — same for columns
    // that already carry the internal __b_/__f_ prefixes.
    val clash = payload.intersect(left.columns.toSeq)
    require(clash.isEmpty,
      s"asofNearest: right payload column(s) ${clash.mkString(", ")} " +
        "collide with left columns - rename one side before joining")
    val prefClash = payload.flatMap(c => Seq("__b_" + c, "__f_" + c))
      .intersect(left.columns.toSeq)
    require(prefClash.isEmpty,
      s"asofNearest: left column(s) ${prefClash.mkString(", ")} collide " +
        "with the internal __b_/__f_ payload prefixes")
    // intra-payload collisions are just as corrupting: with payload
    // columns `x` AND `__b_x`, renaming `x` -> `__b_x` creates a
    // duplicate that the subsequent `__b_x` rename then hits twice
    val intraClash = payload.flatMap(c => Seq("__b_" + c, "__f_" + c))
      .intersect(payload)
    require(intraClash.isEmpty,
      s"asofNearest: right payload column(s) ${intraClash.mkString(", ")} " +
        "collide with the internal __b_/__f_ prefix of another payload " +
        "column - rename before joining")
    def tagged(df: DataFrame, tag: String): DataFrame =
      payload.foldLeft(df)((d, c) => d.withColumnRenamed(c, tag + c))
    val b = tagged(asof(left, right, key, leftTime, rightTime, toleranceUs), "__b_")
    val f = tagged(
      asofForward(left, right, key, leftTime, rightTime, toleranceUs), "__f_")
      .select((idCol +: payload.map("__f_" + _)).map(col): _*)
    val joined = b.join(f, Seq(idCol))
    val tDt = left.schema(leftTime).dataType
    val rDt = right.schema(rightTime).dataType
    val lt = micros(col(leftTime), tDt)
    val bt = micros(col("__b_" + rightTime), rDt)
    val ft = micros(col("__f_" + rightTime), rDt)
    // backward wins when forward is absent or strictly farther;
    // null-safe: a null side loses unless both are null
    val useB = col("__b_" + rightTime).isNotNull &&
      (col("__f_" + rightTime).isNull || (lt - bt) <= (ft - lt))
    val picked = payload.map(c =>
      when(useB, col("__b_" + c)).otherwise(col("__f_" + c)).as(c))
    joined.select(left.columns.map(col).toSeq ++ picked: _*)
  }
}

/** Optimizer rule: push deterministic left-only filter conjuncts below
  * [[AsofJoinPlan]].
  *
  * The as-of join is left-outer-shaped — every left row produces
  * exactly one output row, and removing a LEFT row never changes any
  * other row's match — so a predicate over left attributes commutes
  * with the join and belongs under it, where it prunes the rows BEFORE
  * the key exchange and sort (at scale: filter at the scan, not after
  * the shuffle). RIGHT-side predicates do NOT commute (dropping a
  * right row changes which row is "latest at-or-before") and stay
  * above the join, as do non-deterministic conjuncts (evaluation
  * count/order must not change).
  *
  * This is the `Rule[LogicalPlan]` leg of the extension surface —
  * Catalyst's own PushDownPredicates cannot see through an unknown
  * binary node, so the node ships with the rule that teaches the
  * optimizer its algebra.
  */
object AsofJoinFilterPushdown extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, aj: AsofJoinPlan) =>
      val (push, keep) = splitConjunctivePredicates(cond).partition(p =>
        p.deterministic && p.references.subsetOf(aj.left.outputSet))
      if (push.isEmpty) f
      else {
        val pushed = aj.copy(left = Filter(push.reduce(And), aj.left))
        keep.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

/** Logical as-of join. Output = left columns ++ right columns (right
  * side nullable: a left row with no at-or-before match keeps nulls).
  */
case class AsofJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    toleranceUs: Option[Long] = None) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinPlan(l, r, lk, rk, lt, rt, tol) =>
      AsofJoinExec(lk, rk, lt, rt, tol, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Physical as-of join: co-partitioned, sort-based, single forward
  * merge pass per partition with one buffered candidate row.
  */
case class AsofJoinExec(
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    toleranceUs: Option[Long],
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val keyTypes = leftKeys.map(_.dataType)
    val ktTypes = keyTypes :+ leftTime.dataType
    val rightWidth = right.output.size
    val leftOut = left.output
    val rightOut = right.output
    val lk = leftKeys; val rk = rightKeys
    val lt = leftTime; val rt = rightTime
    val allOut = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // (key, time) projections, natural ascending lexicographic order
      val lKT = UnsafeProjection.create(lk :+ lt, leftOut)
      val rKT = UnsafeProjection.create(rk :+ rt, rightOut)
      val lK = UnsafeProjection.create(lk, leftOut)
      val rK = UnsafeProjection.create(rk, rightOut)
      val ktOrd = RowOrdering.createNaturalAscendingOrdering(ktTypes)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      // bind against NULLABLE right attributes: unmatched left rows are
      // null-padded, and a non-nullable BoundReference would skip the
      // null check and read garbage from primitive columns
      val result = UnsafeProjection.create(
        allOut, leftOut ++ rightOut.map(_.withNullability(true)))
      val nullRight = new GenericInternalRow(rightWidth)
      val joined = new JoinedRow
      val rBuf = rIter.buffered

      var candidate: InternalRow = null
      var candidateKey: InternalRow = null
      var candidateTime = 0L
      val timeIdx = keyTypes.length // last field of the (key, time) row
      val tol = toleranceUs.getOrElse(Long.MaxValue)
      val checkTol = toleranceUs.isDefined

      lIter.map { lRow =>
        val lkt = lKT(lRow)
        // consume every right row at-or-before (key, time); the last
        // consumed row of the SAME key is the as-of match. SQL
        // comparison semantics, not ordering semantics, for nulls: a
        // null right key or time can never satisfy `r.key = l.key AND
        // r.time <= l.time`, so null-keyed/timed right rows are
        // consumed (they sort first) but never buffered as candidates.
        while (rBuf.hasNext && ktOrd.compare(rKT(rBuf.head), lkt) <= 0) {
          val r = rBuf.next()
          val rkt = rKT(r)
          if (!rkt.anyNull) {
            candidate = r.copy()
            candidateKey = rK(candidate).copy()
            candidateTime = rkt.getLong(timeIdx)
          }
        }
        // A null left key/time matches nothing either — emit the
        // null-padded row, mirroring a left outer join on a null key.
        // Tolerance is exact on the single latest match: the latest
        // at-or-before row is outside the lookback window iff every
        // at-or-before row is (they are all older still).
        val matched = !lkt.anyNull && candidate != null &&
          keyOrd.compare(candidateKey, lK(lRow)) == 0 &&
          (!checkTol || lkt.getLong(timeIdx) - candidateTime <= tol)
        result(joined(lRow, if (matched) candidate else nullRight))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}
