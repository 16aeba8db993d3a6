package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, EqualTo, Expression, GenericInternalRow, JoinedRow,
  PredicateHelper, RowOrdering, SortOrder, Unevaluable, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.LeftOuter
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.JOIN
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{BooleanType, DataType}

/** Native Catalyst as-of join — the whole-operator extension path
  * (custom `LogicalPlan` + `Rule[LogicalPlan]` + `SparkStrategy` +
  * `SparkPlan`, registered through `SparkSessionExtensions`) for the
  * one temporal operator the engine otherwise expresses by
  * composition ([[graft.ext.Temporal.asOfJoin]]'s union-and-carry
  * window form).
  *
  * Same semantics as `Temporal.asOfJoin` (LEFT ASOF: for every left
  * row, the single most recent right row with equal keys and
  * `right.time <= left.time`, `<` when strict; unmatched lefts keep
  * null payload), but executed as a purpose-built sort-merge
  * operator:
  *
  *  - ONE hash exchange per side on the equi keys (the distribution
  *    any co-partitioned join pays) + a per-partition sort on
  *    (keys, time) — `EnsureRequirements` plants both from this
  *    node's declared `requiredChildDistribution`/`Ordering`, so AQE
  *    coalescing/skew handling apply as they would to any join,
  *  - a streaming single-pass merge per partition: O(|L| + |R|) with
  *    O(1) carried state (the current candidate row), no candidate
  *    explosion, no window buffering — where the union-and-carry form
  *    materializes a running `last()` window over L ∪ R, this never
  *    allocates beyond the one lookahead row,
  *  - 100 TB posture: identical shuffle shape to sort-merge join;
  *    sorts spill, the merge itself is constant-space. One hot key
  *    still serializes within its partition (same contract as
  *    `asOfJoin`; `asOfJoinEpochs` remains the skew escape hatch).
  *
  * Wiring (all public extension points, nothing session-internal):
  *  1. [[AsOfMark]] — an `Unevaluable` boolean marker placed in a
  *     plain LEFT OUTER join condition by [[NativeAsOf.join]] via the
  *     registered SQL function `graft_asof_mark`,
  *  2. [[RewriteAsOfJoin]] — an injected optimizer rule (runs in the
  *     "User Provided Optimizers" batch AFTER pushdown/pruning have
  *     optimized the marked join like any other join) that rewrites
  *     the marked `Join` into [[AsOfJoinNode]],
  *  3. [[AsOfJoinStrategy]] — an injected planner strategy mapping
  *     the logical node to [[AsOfJoinExec]],
  *  4. [[GraftExtensions]] — the `SparkSessionExtensions` installer,
  *     set by `Sessions.builder` as `spark.sql.extensions`; inert for
  *     every plan that carries no marker.
  *
  * The marker deliberately has no eval/codegen: if the extensions are
  * not installed the query fails at planning with the marker's name
  * in the error — never a silent fallback to many-match left-join
  * semantics.
  */
case class AsOfMark(leftTime: Expression, rightTime: Expression, strict: Boolean)
    extends Expression with Unevaluable {
  override def children: Seq[Expression] = Seq(leftTime, rightTime)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult =
    if (leftTime.dataType != rightTime.dataType)
      TypeCheckResult.TypeCheckFailure(
        s"as-of time columns must share one type, got " +
          s"${leftTime.dataType.catalogString} vs ${rightTime.dataType.catalogString}")
    else if (!RowOrdering.isOrderable(leftTime.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"as-of time type ${leftTime.dataType.catalogString} is not orderable")
    else TypeCheckResult.TypeCheckSuccess
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(leftTime = newChildren(0), rightTime = newChildren(1))
}

/** Logical as-of join. Output mirrors the LEFT OUTER join it
  * replaces: all left columns, then all right columns made nullable
  * (unmatched lefts pad with null). */
case class AsOfJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    strict: Boolean) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

/** Rewrites `Join(LeftOuter, equiKeys ∧ AsOfMark)` → [[AsOfJoinNode]].
  *
  * Runs post-optimization, so the join has already been through
  * predicate pushdown and column pruning as an ordinary left join —
  * the rewrite inherits those for free. A marked join whose shape the
  * rule cannot consume fails loudly here (the marker cannot execute),
  * never silently.
  */
object RewriteAsOfJoin extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(JOIN)) {
      case Join(l, r, LeftOuter, Some(cond), _)
          if cond.exists(_.isInstanceOf[AsOfMark]) =>
        val conjuncts = splitConjunctivePredicates(cond)
        val (marks, rest) = conjuncts.partition(_.isInstanceOf[AsOfMark])
        require(marks.length == 1,
          s"as-of join condition must carry exactly one graft_asof_mark, got ${marks.length}")
        val mark = marks.head.asInstanceOf[AsOfMark]
        require(mark.leftTime.references.subsetOf(l.outputSet) &&
          mark.rightTime.references.subsetOf(r.outputSet),
          "graft_asof_mark(leftTime, rightTime) must reference the probe side " +
            "first and the quote side second")
        val pairs = rest.map {
          case EqualTo(a, b)
              if a.references.subsetOf(l.outputSet) && b.references.subsetOf(r.outputSet) =>
            (a, b)
          case EqualTo(a, b)
              if b.references.subsetOf(l.outputSet) && a.references.subsetOf(r.outputSet) =>
            (b, a)
          case other => throw new IllegalArgumentException(
            "as-of join condition must be equi-key conjuncts plus the mark; " +
              s"cannot consume: ${other.sql}")
        }
        require(pairs.nonEmpty, "as-of join needs at least one equi key")
        AsOfJoinNode(l, r, pairs.map(_._1), pairs.map(_._2),
          mark.leftTime, mark.rightTime, mark.strict)
    }
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lt, rt, strict) =>
      AsOfJoinExec(lk, rk, lt, rt, strict, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Physical as-of join: co-partitioned on the equi keys, each side
  * sorted by (keys, time asc nulls-first), then a single-pass merge.
  *
  * Per left row the merge consumes right rows while their key sorts
  * below the left key, or ties it with an admissible time
  * (`<=`, `<` when strict), remembering the latest admissible row;
  * left times are ascending within a key, so the right cursor never
  * rewinds and the carried state is exactly one row. Rows with a null
  * key or time never match (SQL equi-join semantics; they sort first
  * under nulls-first ordering and are skipped on the right / padded
  * on the left).
  */
case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    strict: Boolean,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  // left rows pass through in their sorted order — downstream sorts
  // on (keys, time) can be elided
  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val lOut = left.output
    val rOut = right.output
    val out = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(leftKeys, lOut)
      val rKeyProj = UnsafeProjection.create(rightKeys, rOut)
      val lTimeProj = UnsafeProjection.create(Seq(leftTime), lOut)
      val rTimeProj = UnsafeProjection.create(Seq(rightTime), rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(leftKeys.map(_.dataType))
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(leftTime.dataType))
      val resultProj = UnsafeProjection.create(out, out)
      val nullRight = new GenericInternalRow(rOut.length)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        // lookahead right row with non-null key and time (copies: the
        // projections reuse their buffers)
        private var rRow: InternalRow = _
        private var rKey: UnsafeRow = _
        private var rTime: UnsafeRow = _
        // latest admissible right row for the current left key
        private var cand: InternalRow = _
        private var candKey: UnsafeRow = _

        private def advanceRight(): Unit = {
          rRow = null
          while (rRow == null && rIter.hasNext) {
            val r = rIter.next()
            val k = rKeyProj(r)
            val t = rTimeProj(r)
            if (!k.anyNull && !t.isNullAt(0)) {
              rRow = r.copy(); rKey = k.copy(); rTime = t.copy()
            }
          }
        }
        advanceRight()

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lKey = lKeyProj(l)
          val lTime = lTimeProj(l)
          numOutputRows += 1
          if (lKey.anyNull || lTime.isNullAt(0)) {
            resultProj(joined(l, nullRight))
          } else {
            var scan = rRow != null
            while (scan) {
              val kc = keyOrd.compare(rKey, lKey)
              val admissible = kc < 0 || (kc == 0 && {
                val tc = timeOrd.compare(rTime, lTime)
                if (strict) tc < 0 else tc <= 0
              })
              if (admissible) {
                if (kc == 0) { cand = rRow; candKey = rKey }
                advanceRight()
                scan = rRow != null
              } else scan = false
            }
            val hit = cand != null && keyOrd.compare(candKey, lKey) == 0
            resultProj(joined(l, if (hit) cand else nullRight))
          }
        }
      }
    }
  }
}

/** Installer: `spark.sql.extensions=graft.plans.GraftExtensions`
  * (set by `graft.core.Sessions.builder`). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => RewriteAsOfJoin)
    e.injectOptimizerRule(session => new MvRewriteRule(session))
    e.injectOptimizerRule(session => new JoinElimRule(session))
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    e.injectPlannerStrategy(_ => RankTopKStrategy)
  }
}

/** Public DataFrame surface for the native operator. */
object NativeAsOf {
  /** Registers the marker builder; idempotent, session-scoped. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_asof_mark", exprs => {
        require(exprs.length == 3, "graft_asof_mark(leftTime, rightTime, strict)")
        require(exprs(2).foldable, "graft_asof_mark strict must be a constant boolean")
        val strict = exprs(2).eval(null) match {
          case b: java.lang.Boolean => b.booleanValue()
          case other => throw new IllegalArgumentException(
            s"graft_asof_mark strict must be a constant boolean, got $other")
        }
        AsOfMark(exprs(0), exprs(1), strict)
      }, "scala_udf")

  /** Same contract as [[graft.ext.Temporal.asOfJoin]]: LEFT ASOF on
    * `keys`, right payload columns must not collide with left names,
    * right side unique per (keys, time) for a deterministic match.
    * Output: left columns, then right payload (right keys dropped).
    */
  def join(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      strict: Boolean = false): DataFrame = {
    val payloadCols = right.columns.filterNot(keys.contains(_)).toSeq
    val clash = payloadCols.filter(left.columns.contains(_))
    require(clash.isEmpty,
      s"right payload columns collide with left: ${clash.mkString(", ")}")
    register(left.sparkSession)
    val keyEq: Column = keys.map(k => left(k) === right(k)).reduce(_ && _)
    val mark: Column =
      call_function("graft_asof_mark", left(leftTime), right(rightTime), lit(strict))
    left.join(right, keyEq && mark, "left")
      .select(left.columns.toSeq.map(c => left(c)) ++ payloadCols.map(right(_)): _*)
  }
}
