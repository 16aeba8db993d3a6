package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{
  Alias, Attribute, AttributeReference, Cast, Coalesce, Divide, EvalMode,
  Expression, Literal, NamedExpression, NumericEvalContext, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Average, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, Expand, Filter, LogicalPlan, Project, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{
  HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.{
  ByteType, DoubleType, IntegerType, LongType, ShortType}

/** Materialized-view query rewrite over the IVM surface.
  *
  * [[graft.operators.Cdc.aggState]] / `maintainAgg` keep a counting
  * aggregate state table current without rescanning the base; this
  * rule closes the loop on the READ side: a query that aggregates the
  * base table is transparently rewritten to answer from the state
  * table — the 100 TB base scan becomes a scan of the group-sized
  * state. Registered through [[GraftExtensions]] (the same
  * `SparkSessionExtensions` installer as the native as-of join), so
  * it runs in the user-provided optimizer batch AFTER the main
  * optimization has pruned/pushed the aggregate like any other — the
  * rule sees the canonical `Aggregate → [Project|Filter]* → scan`
  * chain.
  *
  * Rewritable shapes (anything else is left untouched — the rewrite
  * is an optimization, never a semantics change):
  *
  *  - grouping by any SUBSET of the view's group columns (including
  *    all of them, and the empty set / global aggregate) — coarser
  *    groups ROLL UP from the state: `count(*) = sum(n)`,
  *    `count(c) = sum(nn_c)`, `sum(c) = sum(sum_c)` — all exact,
  *    because counts and the per-row-cast decimal sums are
  *    associative,
  *  - `count(*)` / `count(1)`, `count(c)` and `sum(c)` for `c` in the
  *    view's sum columns (no FILTER clause), and `avg(c)` when `c` is
  *    INTEGRAL — served as the double division of the state's exact
  *    sum by the non-null-count rollup, which equals base Average's
  *    double accumulation while |Σc| ≤ 2^53 (fractional/decimal
  *    children fall back — see [[AvgColOut]]),
  *  - `count(DISTINCT g…)` over GROUP columns — the state holds one
  *    row per distinct group combination (multiplicity in `n`, which
  *    DISTINCT ignores), so the same distinct count over the state is
  *    exact for any queried subset grouping; on a lattice the serving
  *    slice must carry the counted columns (the chooser includes
  *    them). DISTINCT over sum columns stays unrewritable — the state
  *    has no raw values,
  *  - filters referencing ONLY group columns — σ on group columns
  *    commutes with γ, so they apply to the state instead (and from
  *    there push into the state parquet scan as ordinary data
  *    filters).
  *
  * Exactness of the value mapping:
  *  - `count(*)`/`count(c)` are longs on both paths; an empty rollup
  *    input can only arise for the GLOBAL aggregate over an empty
  *    state, where `coalesce(sum(n), 0)` reproduces SQL's
  *    count-over-empty = 0 (grouped outputs only exist where state
  *    rows do, matching base semantics: vanished groups emit no row),
  *  - `sum(c)`: the state's `sum_c` is the per-row
  *    `cast(decimal(38,6))` sum ([[graft.operators.Cdc.aggState]]'s
  *    retraction-safe discipline); `requireMaintainable` already
  *    restricts sum columns to integers and decimals of scale ≤ 6,
  *    for which the per-row cast is value-preserving, so
  *    `cast(sum(sum_c) as <original sum type>)` equals the base
  *    `sum(c)` exactly (same caveat as any decimal sum: a value
  *    outside the original result precision overflows on both paths),
  *  - an all-NULL (or all-retracted) group's `sum_c` is NULL in the
  *    state and stays NULL through the rollup — SQL sum semantics.
  *
  * FRESHNESS is the caller's contract, exactly as with any
  * materialized view: the state table must reflect the base snapshot
  * being queried (that is what `maintainAgg`'s maintenance law
  * guarantees when every delta has been applied). The rule can be
  * disabled per-session with `spark.graft.mv.rewrite=false`.
  */
/** A registered view. With `sets` EMPTY the state is a plain
  * [[graft.operators.Cdc.aggState]] table. With `sets` non-empty the
  * state is a [[graft.operators.Cdc.cubeState]] lattice — one stacked
  * row set per grouping set, discriminated by `__gid` = the set's
  * position in `sets` — and the rule additionally rewrites
  * ROLLUP / CUBE / GROUPING SETS queries (Spark's `Expand`-lowered
  * form), answering EACH grouping set from its (or a finer
  * registered) state slice. */
case class MvDef(
    groupCols: Seq[String],
    sumCols: Seq[String],
    statePath: String,
    baseSignature: Option[String] = None,
    sets: Seq[Seq[String]] = Nil,
    /** Columns whose `min_<c>` / `max_<c>` / `nn_<c>` live in the
      * state — a [[graft.operators.Cdc.extremaState]] table
      * maintained by `maintainExtrema`. MIN/MAX roll up exactly
      * (min of group-mins, nulls skipped on both paths), and
      * `count(c)` serves from `nn_<c>` just like a sum column's.
      * Plain (non-lattice) registrations only — `cubeState` carries
      * no extrema. */
    extremaCols: Seq[String] = Nil)

/** A registered JOIN view: the state is
  * `Cdc.aggState(left ⋈_on right, groupCols, sumCols)` maintained
  * through [[graft.operators.Cdc.joinDelta]] → `maintainAgg` — the
  * same counting shape as a plain [[MvDef]], whose "base" happens to
  * be an inner equi-join of two tables. The read side therefore
  * reuses the whole aggState value mapping; what is join-specific is
  * only the MATCH: `Aggregate → [Project|Filter]* → Join(inner, on) →
  * [Project|Filter]* → scan` with the two scan roots equal to the
  * registered pair (either order — inner joins commute) and the join
  * condition exactly the registered key equalities. Filters above OR
  * below the join qualify when they reference only group columns: σ
  * on group columns commutes with both the inner join and γ, so they
  * apply to the state instead — this matters because the main
  * optimizer pushes user filters below the join before this rule
  * runs. */
case class JoinMvDef(
    leftPath: String,
    rightPath: String,
    on: Seq[String],
    groupCols: Seq[String],
    sumCols: Seq[String],
    statePath: String,
    leftSignature: Option[String] = None,
    rightSignature: Option[String] = None,
    /** The view's σ (the SPJA class: `σ_p(left) ⋈ right → γ`),
      * as ANSI SQL over base column names — e.g. `"price > 1000"`.
      * When set, the state holds only rows passing p, so a query
      * rewrites ONLY when its own filters contain conjuncts
      * semantically equal to p (plus the usual group-column filters,
      * which commute, and the optimizer's own null-rejection
      * inferences, which p implies). A query WITHOUT the predicate
      * keeps its join — the state would undercount it. */
    filterSql: Option[String] = None,
    /** `"inner"` (default) or `"left"` — a LEFT registration's state
      * is `Cdc.aggState(left ⟕ right)` maintained by
      * [[graft.operators.Cdc.leftJoinDelta]] (null-extended rows
      * included, so the state's group columns from the right side
      * carry NULLs for unmatched-left populations). Left joins do
      * NOT commute: the swapped-order lookup is inner-only, and
      * filters BELOW the join on the RIGHT side do not commute
      * through the outer join (the rule rejects them — except the
      * optimizer's own inferred `isnotnull(key)`, which a left join
      * pushes right-side because unmatched right rows never
      * surface). Filters ABOVE the join commute regardless of
      * null-intolerance — σ on the view IS a filter on the state's
      * rows. A null-INTOLERANT right-column filter above the join is
      * therefore servable; since this rule shares the operator-
      * optimization fixed point with `EliminateOuterJoin`, either
      * the serve fires first (state filtered, extensions drop under
      * the null-intolerant predicate exactly as view rows would) or
      * the conversion does (inner join ⇒ registered-type mismatch ⇒
      * fallback) — both orders produce correct values. */
    joinType: String = "inner")

/** Process-wide registry base-path → view definition. Paths compare
  * by filesystem path, with scheme/authority kept as a GUARD: a
  * registration that carries a scheme (e.g. `s3://bucket/data/t`)
  * only serves queries whose scan root carries the SAME
  * scheme+authority — `file:/data/t` must never be answered from
  * state registered for `s3://bucket/data/t` just because the paths
  * coincide. A bare (scheme-less) registration keeps the old
  * behavior and matches any filesystem — single-filesystem
  * deployments registering the path the readers use. Registering a
  * second, differently-schemed table onto an already-taken
  * normalized key fails loudly instead of silently aliasing. */
object MvCatalog {
  private val mvs = new java.util.concurrent
    .ConcurrentHashMap[String, (Option[String], MvDef)]()

  def normalize(path: String): String =
    new org.apache.hadoop.fs.Path(path).toUri.getPath.stripSuffix("/")

  /** `scheme://authority` of a path when qualified, else None. */
  private def fsId(path: String): Option[String] = {
    val u = new org.apache.hadoop.fs.Path(path).toUri
    Option(u.getScheme).map(s => s + "://" + Option(u.getAuthority).getOrElse(""))
  }

  def register(basePath: String, mv: MvDef): Unit = {
    require(mv.groupCols.nonEmpty, "materialized view needs group columns")
    val key = normalize(basePath)
    val id = fsId(basePath)
    Option(mvs.get(key)).foreach { case (prevId, _) =>
      require(prevId == id,
        s"MV registration collision: $basePath normalizes to the key " +
          s"already registered for filesystem ${prevId.getOrElse("<default>")} — " +
          "two tables on different filesystems must not share one catalog " +
          "entry (unregister the other first if this is intentional)")
    }
    mvs.put(key, (id, mv))
    ()
  }

  /** File-set fingerprint of a table: every visible data file's
    * (path, length, mtime) folded into one hash. Visible is the scan's
    * rule: no path segment starts with `_` or `.` (hidden and metadata
    * files). Registration signs one recursive listing of the base; the
    * optimizer signs the files the query's own relation already
    * listed ([[fresh]]). */
  def signature(files: Iterable[org.apache.hadoop.fs.FileStatus]): String = {
    val entries = files.iterator.map(st => (st.getPath.toUri.getPath, st)).collect {
      case (name, st) if !name.split('/').exists(s => s.startsWith("_") || s.startsWith(".")) =>
        s"$name:${st.getLen}:${st.getModificationTime}"
    }
    java.security.MessageDigest.getInstance("MD5")
      .digest(entries.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** [[signature]] of a directory as it is now: one recursive
    * driver-side listing, paid once per registration. */
  def signature(spark: org.apache.spark.sql.SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
    val files = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
    while (it.hasNext) files += it.next()
    signature(files)
  }

  /** Whether a freshness pin holds for a scanned relation: unpinned
    * always does; pinned, the relation's file index must have listed
    * exactly the pinned file set. The index's listing is the one the
    * scan will read, made when the query's read was planned, so the
    * check makes no filesystem call and trusts no other query's
    * listing; a relation without a listed file index is never fresh.
    */
  def fresh(pin: Option[String], lr: LogicalRelation): Boolean =
    pin.forall { sig =>
      lr.relation match {
        case h: HadoopFsRelation => h.location match {
          case idx: PartitioningAwareFileIndex => signature(idx.allFiles()) == sig
          case _ => false
        }
        case _ => false
      }
    }

  /** Registers with the CURRENT base file-set pinned: the rewrite
    * then fires only while the base is bit-identical to what the
    * state reflects — any append/rewrite/delete under the base path
    * makes queries silently FALL BACK to the base scan (correct,
    * just unaccelerated) until the state is refreshed and
    * re-registered. Freshness stops being a caller promise and
    * becomes a checked precondition. */
  def registerFresh(
      spark: org.apache.spark.sql.SparkSession,
      basePath: String,
      groupCols: Seq[String],
      sumCols: Seq[String],
      statePath: String): Unit =
    register(basePath, MvDef(groupCols, sumCols, statePath,
      baseSignature = Some(signature(spark, basePath))))
  def unregister(basePath: String): Unit = { mvs.remove(normalize(basePath)); () }
  def clear(): Unit = { mvs.clear(); joinMvs.clear() }

  /** Join-view registry, keyed by the normalized (left, right) path
    * pair. Lookup also tries the swapped order — inner joins commute,
    * and the rule has no way to know which side the user wrote
    * first. The same scheme/authority guard as scalar registrations
    * applies to BOTH paths. */
  private val joinMvs = new java.util.concurrent
    .ConcurrentHashMap[(String, String), (Option[String], Option[String], JoinMvDef)]()

  def registerJoin(mv: JoinMvDef): Unit = {
    require(mv.on.nonEmpty, "join view needs join key columns")
    require(mv.groupCols.nonEmpty, "join view needs group columns")
    require(Seq("inner", "left").contains(mv.joinType),
      s"join view type must be inner or left, got ${mv.joinType}")
    val key = (normalize(mv.leftPath), normalize(mv.rightPath))
    val ids = (fsId(mv.leftPath), fsId(mv.rightPath))
    // same cross-filesystem guard as the scalar register(): two pairs
    // on different filesystems must not share one catalog entry
    Option(joinMvs.get(key)).foreach { case (prevL, prevR, _) =>
      require((prevL, prevR) == ids,
        s"join MV registration collision: (${mv.leftPath}, ${mv.rightPath}) " +
          s"normalizes to the key already registered for filesystems " +
          s"(${prevL.getOrElse("<default>")}, ${prevR.getOrElse("<default>")}) — " +
          "unregisterJoin the other pair first if this is intentional")
    }
    joinMvs.put(key, (ids._1, ids._2, mv))
    ()
  }

  /** Registers with BOTH base file-sets pinned (see [[registerFresh]]):
    * any drift under either base silently falls back to the join. */
  def registerJoinFresh(
      spark: org.apache.spark.sql.SparkSession, mv: JoinMvDef): Unit =
    registerJoin(mv.copy(
      leftSignature = Some(signature(spark, mv.leftPath)),
      rightSignature = Some(signature(spark, mv.rightPath))))

  def unregisterJoin(leftPath: String, rightPath: String): Unit = {
    joinMvs.remove((normalize(leftPath), normalize(rightPath)))
    joinMvs.remove((normalize(rightPath), normalize(leftPath)))
    ()
  }

  /** Returns the registered view for the scanned pair, in QUERY order:
    * when the registration matches swapped, left/right (paths AND
    * signatures) are exchanged so callers can treat the result as
    * (query-left, query-right). */
  def lookupJoin(leftPath: String, rightPath: String): Option[JoinMvDef] = {
    def fits(regId: Option[String], path: String) =
      regId.isEmpty || fsId(path).isEmpty || regId == fsId(path)
    val direct = Option(joinMvs.get((normalize(leftPath), normalize(rightPath))))
      .collect { case (li, ri, mv) if fits(li, leftPath) && fits(ri, rightPath) => mv }
    direct.orElse {
      // swapped order is valid for INNER registrations only — an
      // outer join does not commute
      Option(joinMvs.get((normalize(rightPath), normalize(leftPath))))
        .collect { case (li, ri, mv) if mv.joinType == "inner" &&
            fits(li, rightPath) && fits(ri, leftPath) =>
          mv.copy(leftPath = mv.rightPath, rightPath = mv.leftPath,
            leftSignature = mv.rightSignature, rightSignature = mv.leftSignature)
        }
    }
  }

  /** A hit requires path equality AND filesystem compatibility: a
    * qualified registration only serves the same scheme+authority; a
    * bare registration (or bare query path) matches any. */
  def lookup(basePath: String): Option[MvDef] =
    Option(mvs.get(normalize(basePath))).collect {
      case (regId, mv) if regId.isEmpty || fsId(basePath).isEmpty ||
        regId == fsId(basePath) => mv
    }
  def isEmpty: Boolean = mvs.isEmpty && joinMvs.isEmpty
}

class MvRewriteRule(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (MvCatalog.isEmpty ||
        session.sessionState.conf.getConfString(
          "spark.graft.mv.rewrite", "true") != "true") plan
    else plan.transformUp {
      case agg: Aggregate =>
        tryRewrite(agg).orElse(tryRewriteGroupingSets(agg))
          .orElse(tryRewriteJoin(agg)).getOrElse(agg)
    }

  /** The canonical post-optimization chain under an aggregate:
    * attribute-only projects (column pruning) and filters over a
    * single file-source relation. */
  private def strip(
      p: LogicalPlan,
      filters: List[Expression]): Option[(LogicalRelation, List[Expression])] =
    p match {
      case f: Filter => strip(f.child, f.condition :: filters)
      case pr: Project if pr.projectList.forall(_.isInstanceOf[AttributeReference]) =>
        strip(pr.child, filters)
      case lr: LogicalRelation => Some((lr, filters))
      case _ => None
    }

  /** Registered view for this relation, with the freshness pin
    * checked against the relation's own listing. */
  private def lookupMv(lr: LogicalRelation): Option[MvDef] = {
    val roots = lr.relation match {
      case h: HadoopFsRelation => h.location.rootPaths
      case _ => return None
    }
    if (roots.length != 1) return None
    MvCatalog.lookup(roots.head.toString).filter(mv => MvCatalog.fresh(mv.baseSignature, lr))
  }

  private sealed trait Out
  /** Non-aggregate output whose references are group attributes
    * and/or the grouping-id attribute — group columns pass through;
    * `grouping()` / `grouping_id()` arithmetic substitutes to a
    * per-branch literal. */
  private case class PassOut(orig: NamedExpression) extends Out
  private case class CountStarOut(orig: NamedExpression) extends Out
  private case class CountColOut(colName: String, orig: NamedExpression) extends Out
  private case class SumColOut(colName: String, orig: NamedExpression) extends Out
  private case class MinColOut(colName: String, orig: NamedExpression) extends Out
  private case class MaxColOut(colName: String, orig: NamedExpression) extends Out
  /** `avg(c)` for an INTEGRAL sum column: both paths compute the same
    * two doubles — base Average accumulates integral values into a
    * double sum (exact while |Σ| ≤ 2^53, the range where double
    * addition of integers is associative) and divides by the non-null
    * count; the serve casts the state's exact decimal `sum_<c>` to
    * double and divides by the `nn_<c>` rollup, with the same LEGACY
    * division (count 0 ⇒ NULL, matching avg-over-no-values).
    * Fractional/decimal children fall back: double accumulation is
    * order-sensitive and decimal Average's division precision depends
    * on the child type the state no longer carries. */
  private case class AvgColOut(colName: String, orig: NamedExpression) extends Out
  /** `count(DISTINCT <group cols>)`: the state holds one row per
    * distinct group-column combination (with multiplicity `n`, which
    * DISTINCT ignores), so a distinct count over group columns is
    * answered EXACTLY by the same distinct count over the state —
    * for any queried subset grouping, including the global one. */
  private case class DistinctCountOut(
      colNames: Seq[String], orig: NamedExpression) extends Out

  private def classifyAgg(
      ae: AggregateExpression,
      orig: NamedExpression,
      groupByExprId: Map[Long, String],
      sumByExprId: Map[Long, String],
      extByExprId: Map[Long, String]): Option[Out] = {
    if (ae.filter.nonEmpty || ae.mode != Complete) return None
    if (ae.isDistinct) {
      ae.aggregateFunction match {
        case Count(children) if children.nonEmpty && children.forall {
            case ar: AttributeReference => groupByExprId.contains(ar.exprId.id)
            case _ => false
          } =>
          return Some(DistinctCountOut(children.map {
            case ar: AttributeReference => groupByExprId(ar.exprId.id)
          }, orig))
        case _ => return None
      }
    }
    // both aggState and extremaState carry `nn_<c>` for their value
    // columns, so count(c) serves from either family
    val nnByExprId = sumByExprId ++ extByExprId
    ae.aggregateFunction match {
      case Count(Seq(Literal(v, _))) if v != null => Some(CountStarOut(orig))
      case Count(Seq(ar: AttributeReference)) if nnByExprId.contains(ar.exprId.id) =>
        Some(CountColOut(nnByExprId(ar.exprId.id), orig))
      case s: Sum => s.child match {
        case ar: AttributeReference if sumByExprId.contains(ar.exprId.id) =>
          Some(SumColOut(sumByExprId(ar.exprId.id), orig))
        case _ => None
      }
      case a: Average => a.child match {
        case ar: AttributeReference if sumByExprId.contains(ar.exprId.id) &&
            (ar.dataType match {
              case ByteType | ShortType | IntegerType | LongType => true
              case _ => false
            }) =>
          Some(AvgColOut(sumByExprId(ar.exprId.id), orig))
        case _ => None
      }
      case m: Min => m.child match {
        case ar: AttributeReference if extByExprId.contains(ar.exprId.id) =>
          Some(MinColOut(extByExprId(ar.exprId.id), orig))
        case _ => None
      }
      case m: Max => m.child match {
        case ar: AttributeReference if extByExprId.contains(ar.exprId.id) =>
          Some(MaxColOut(extByExprId(ar.exprId.id), orig))
        case _ => None
      }
      case _ => None
    }
  }

  /** Filters must be deterministic, subquery-free, and reference
    * only the view's group columns (σ on group columns commutes with
    * γ); returns the referenced column names. */
  private def filterCols(
      filters: List[Expression],
      baseRefName: Map[Long, String]): Option[Set[String]] =
    if (filters.exists(c => !c.deterministic || SubqueryExpression.hasSubquery(c) ||
        !c.references.forall(a => baseRefName.contains(a.exprId.id)))) None
    else Some(filters.flatMap(_.references.map(a => baseRefName(a.exprId.id))).toSet)

  /** The registered grouping set to answer a branch from: the
    * SMALLEST registered superset of (branch groups ∪ filter
    * columns) — any superset rolls up exactly (counts/sums are
    * associative; the filter applies before the roll-up, mirroring
    * the base-side σ-before-γ), the smallest scans the fewest state
    * rows. */
  private def chooseSet(mv: MvDef, need: Set[String]): Option[Int] = {
    val cands = mv.sets.zipWithIndex.filter { case (s, _) => need.subsetOf(s.toSet) }
    if (cands.isEmpty) None else Some(cands.minBy(_._1.size)._2)
  }

  // ──────────────────────────────────────────────────────────────────
  // Plain Aggregate → [Project|Filter]* → base relation
  // ──────────────────────────────────────────────────────────────────

  private def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
    val (lr, filters) = strip(agg.child, Nil) match {
      case Some(x) => x
      case None => return None
    }
    val mv = lookupMv(lr) match {
      case Some(m) => m
      case None => return None
    }

    // base attribute ids -> view column names (post-pruning the
    // relation still binds the original names)
    val groupByExprId = lr.output
      .filter(a => mv.groupCols.contains(a.name))
      .map(a => a.exprId.id -> a.name).toMap
    val sumByExprId = lr.output
      .filter(a => mv.sumCols.contains(a.name))
      .map(a => a.exprId.id -> a.name).toMap
    val extByExprId =
      if (mv.sets.nonEmpty) Map.empty[Long, String]
      else lr.output
        .filter(a => mv.extremaCols.contains(a.name))
        .map(a => a.exprId.id -> a.name).toMap

    val fCols = filterCols(filters, groupByExprId) match {
      case Some(cs) => cs
      case None => return None
    }

    // grouping: bare group-column attributes
    val queriedGroups = agg.groupingExpressions.map {
      case ar: AttributeReference if groupByExprId.contains(ar.exprId.id) =>
        groupByExprId(ar.exprId.id)
      case _ => return None
    }

    val outs: Seq[Out] = agg.aggregateExpressions.map { ne =>
      classifyOut(ne, groupByExprId, None, sumByExprId, extByExprId) match {
        case Some(o) => o
        case None => return None
      }
    }

    // a lattice-registered state answers a plain aggregate from the
    // smallest registered superset's slice; a plain state serves all
    val distinctCols = outs.flatMap {
      case DistinctCountOut(cs, _) => cs
      case _ => Nil
    }.toSet
    val gidIndex =
      if (mv.sets.isEmpty) None
      else chooseSet(mv, queriedGroups.toSet ++ fCols ++ distinctCols) match {
        case Some(i) => Some(i)
        case None => return None
      }

    buildBranch(mv, branchGroups = queriedGroups, gidIndex = gidIndex,
      groupByGid = false, gidOutValue = None, filters = filters,
      baseRefName = groupByExprId, groupRefName = groupByExprId,
      gidRefId = None, outs = outs, keepExprIds = true)
  }

  // ──────────────────────────────────────────────────────────────────
  // Aggregate → [Project|Filter]* → Join(inner, on) → two relations
  // ──────────────────────────────────────────────────────────────────

  private def stripToJoin(
      p: LogicalPlan,
      filters: List[Expression]): Option[(logical.Join, List[Expression])] =
    p match {
      case f: Filter => stripToJoin(f.child, f.condition :: filters)
      case pr: Project if pr.projectList.forall(_.isInstanceOf[AttributeReference]) =>
        stripToJoin(pr.child, filters)
      case j: logical.Join => Some((j, filters))
      case _ => None
    }

  private def relRoot(lr: LogicalRelation): Option[String] = {
    val roots = lr.relation match {
      case h: HadoopFsRelation => h.location.rootPaths
      case _ => return None
    }
    if (roots.length == 1) Some(roots.head.toString) else None
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** A query that aggregates an inner OR left-outer equi-join of a
    * registered pair is answered from the join view's counting state
    * (the registered [[JoinMvDef.joinType]] must equal the query's —
    * and a left registration only matches in declared order). Filters
    * may sit above OR below the join (the optimizer pushes them down
    * before this rule runs) — for INNER views both positions commute
    * when they touch only group columns; for LEFT views below-right
    * filters do not commute through the outer join and reject (see
    * [[JoinMvDef.joinType]]). The value mapping is [[buildBranch]]'s,
    * identical to the scalar-base rewrite. */
  private def tryRewriteJoin(agg: Aggregate): Option[LogicalPlan] = {
    val (join, aboveFilters) = stripToJoin(agg.child, Nil) match {
      case Some(x) => x
      case None => return None
    }
    val queryType = join.joinType match {
      case org.apache.spark.sql.catalyst.plans.Inner => "inner"
      case org.apache.spark.sql.catalyst.plans.LeftOuter => "left"
      case _ => return None
    }
    val cond = join.condition match {
      case Some(c) => c
      case None => return None
    }
    val (llr, lFilters) = strip(join.left, Nil) match {
      case Some(x) => x
      case None => return None
    }
    val (rlr, rFilters) = strip(join.right, Nil) match {
      case Some(x) => x
      case None => return None
    }
    val (lPath, rPath) = (relRoot(llr), relRoot(rlr)) match {
      case (Some(a), Some(b)) => (a, b)
      case _ => return None
    }
    val mv = MvCatalog.lookupJoin(lPath, rPath) match {
      case Some(m) => m
      case None => return None
    }
    // the registered view type must BE the query's join type: an
    // inner state undercounts a left query (no extensions), a left
    // state overcounts an inner one
    if (mv.joinType != queryType) return None
    // freshness pins, both sides (lookupJoin returned them in query
    // order)
    if (!MvCatalog.fresh(mv.leftSignature, llr) || !MvCatalog.fresh(mv.rightSignature, rlr))
      return None

    // the join condition must be exactly the registered key
    // equalities: one name-preserving attr = attr conjunct per key,
    // one side from each relation, covering the key set exactly
    val lIds = llr.output.map(_.exprId).toSet
    val rIds = rlr.output.map(_.exprId).toSet
    val eqPairs = conjuncts(cond).map {
      case org.apache.spark.sql.catalyst.expressions.EqualTo(
          a: AttributeReference, b: AttributeReference)
        if a.name == b.name &&
          ((lIds.contains(a.exprId) && rIds.contains(b.exprId)) ||
            (rIds.contains(a.exprId) && lIds.contains(b.exprId))) =>
        (a.name, Seq(a.exprId, b.exprId))
      case _ => return None
    }
    val eqNames = eqPairs.map(_._1)
    if (eqNames.toSet != mv.on.toSet || eqNames.distinct.length != eqNames.length)
      return None
    val keyIds = eqPairs.flatMap(_._2).toSet

    // attribute maps span BOTH relations; the shared key columns map
    // from whichever side the query referenced — equal under an INNER
    // join. Under a LEFT join they are NOT equal: on extension rows
    // the right-side key is NULL while the state's key column carries
    // the left value, so right-side KEY attributes must not map (a
    // query grouping by the right key falls back). Right-side NON-key
    // attributes are fine — the state holds their NULLs for
    // extensions exactly as the view does.
    val bothOut = llr.output ++ rlr.output
    val mappableOut =
      if (queryType == "left")
        llr.output ++ rlr.output.filterNot(a => keyIds.contains(a.exprId))
      else bothOut
    val groupByExprId = mappableOut
      .filter(a => mv.groupCols.contains(a.name))
      .map(a => a.exprId.id -> a.name).toMap
    val sumByExprId = mappableOut
      .filter(a => mv.sumCols.contains(a.name))
      .map(a => a.exprId.id -> a.name).toMap

    // `isnotnull(<join key>)` conjuncts are the optimizer's own
    // constraint inference — implied by the join, hence no-ops
    // relative to the state; drop them rather than reject the query
    // over them. An INNER join implies non-null keys on BOTH sides in
    // EVERY position. A LEFT join implies it ONLY for the inference
    // the optimizer pushes into the RIGHT input (unmatched right rows
    // never surface): a user's isnotnull(right key) ABOVE the join is
    // exactly the predicate that removes extension rows and must NOT
    // be dropped (it stays in viewPred and rejects), and null-keyed
    // LEFT rows are real extension rows so isnotnull(left key) never
    // drops anywhere.
    val rKeyIds = eqPairs.flatMap(_._2).filter(rIds.contains).toSet
    def dropKeyNotNull(es: Seq[Expression], ids: Set[
        org.apache.spark.sql.catalyst.expressions.ExprId]): Seq[Expression] =
      es.flatMap(conjuncts).filterNot {
        case org.apache.spark.sql.catalyst.expressions.IsNotNull(
            ar: AttributeReference) => ids.contains(ar.exprId)
        case _ => false
      }
    // filters BELOW the join on the RIGHT side do not commute through
    // an OUTER join (they turn removals into null-extensions, which
    // the state does not reflect) — for a left view, anything beyond
    // the right-input inference there keeps the query on its join
    val allConjuncts = (
      if (queryType == "inner")
        dropKeyNotNull(aboveFilters ++ lFilters ++ rFilters, keyIds)
      else {
        if (dropKeyNotNull(rFilters, rKeyIds).nonEmpty) return None
        (aboveFilters ++ lFilters).flatMap(conjuncts)
      }).toList
    // Split: group-column-only conjuncts commute and apply to the
    // state; everything else must BE the registered view predicate
    // (σ in the SPJA class) — matched semantically below — or the
    // query keeps its join.
    val (groupOnly, viewPred) = allConjuncts.partition(c =>
      c.deterministic && !SubqueryExpression.hasSubquery(c) &&
        c.references.forall(a => groupByExprId.contains(a.exprId.id)))
    mv.filterSql match {
      case None =>
        if (viewPred.nonEmpty) return None
      case Some(sql) =>
        // Bind the registered predicate's bare column names to the
        // QUERY's base attributes, then run the analyzer over a
        // LocalRelation carrying those same attributes — type
        // coercion/casts land exactly as they did in the user query's
        // own filter, so semanticEquals compares like with like.
        val resolver = session.sessionState.analyzer.resolver
        def bindByName(name: String): Option[Attribute] =
          bothOut.find(a => resolver(a.name, name))
        val parsed =
          try session.sessionState.sqlParser.parseExpression(sql)
          catch { case _: Exception => return None }
        var bindable = true
        val bound = parsed.transformUp {
          case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            if (ua.nameParts.length != 1) { bindable = false; ua }
            else bindByName(ua.nameParts.head) match {
              case Some(a) => a
              case None => bindable = false; ua
            }
        }
        if (!bindable) return None
        // analyze for type coercion, then fold constants/casts the
        // same way the main optimizer already folded the query's own
        // filter (the query side arrives here post-optimization, so
        // like must compare with like)
        val resolved =
          try {
            val analyzed = session.sessionState.analyzer.execute(
              Filter(bound, logical.LocalRelation(bothOut.map(_.toAttribute))))
            val folded =
              org.apache.spark.sql.catalyst.optimizer.ConstantFolding(
                org.apache.spark.sql.catalyst.optimizer.SimplifyCasts(analyzed))
            folded match {
              case Filter(cond, _) => cond
              case _ => return None
            }
          } catch { case _: Exception => return None }
        // a LEFT view's σ is σ_p(left) ⟕ right: p must bind only
        // LEFT-side columns — a right-side σ does not commute
        // through the outer join
        if (queryType == "left" &&
            resolved.references.exists(a => rIds.contains(a.exprId)))
          return None
        // every registered conjunct must be consumed by a query
        // conjunct; leftovers must be null-rejection inferences the
        // predicate itself implies (isnotnull on a column p filters)
        val remaining = scala.collection.mutable.Buffer(viewPred: _*)
        for (pc <- conjuncts(resolved)) {
          val i = remaining.indexWhere(_.semanticEquals(pc))
          if (i < 0) return None
          remaining.remove(i)
        }
        val pRefs = conjuncts(resolved).flatMap(_.references).map(_.exprId).toSet
        val onlyImplied = remaining.forall {
          case org.apache.spark.sql.catalyst.expressions.IsNotNull(
              ar: AttributeReference) => pRefs.contains(ar.exprId)
          case _ => false
        }
        if (!onlyImplied) return None
    }
    val filters = groupOnly
    val fCols = filterCols(filters, groupByExprId) match {
      case Some(cs) => cs
      case None => return None
    }

    val queriedGroups = agg.groupingExpressions.map {
      case ar: AttributeReference if groupByExprId.contains(ar.exprId.id) =>
        groupByExprId(ar.exprId.id)
      case _ => return None
    }
    val outs: Seq[Out] = agg.aggregateExpressions.map { ne =>
      classifyOut(ne, groupByExprId, None, sumByExprId) match {
        case Some(o) => o
        case None => return None
      }
    }
    val _ = fCols
    buildBranch(MvDef(mv.groupCols, mv.sumCols, mv.statePath),
      branchGroups = queriedGroups, gidIndex = None,
      groupByGid = false, gidOutValue = None, filters = filters,
      baseRefName = groupByExprId, groupRefName = groupByExprId,
      gidRefId = None, outs = outs, keepExprIds = true)
  }

  // ──────────────────────────────────────────────────────────────────
  // Aggregate → Expand (ROLLUP / CUBE / GROUPING SETS) → … → relation
  // ──────────────────────────────────────────────────────────────────

  private def tryRewriteGroupingSets(agg: Aggregate): Option[LogicalPlan] = {
    val expand = agg.child match {
      case e: Expand => e
      case _ => return None
    }
    val (lr, filters) = strip(expand.child, Nil) match {
      case Some(x) => x
      case None => return None
    }
    val mv = lookupMv(lr) match {
      case Some(m) if m.sets.nonEmpty => m
      case _ => return None
    }

    // the grouping-id output: named spark_grouping_id, a literal in
    // every projection (this is what distinguishes the grouping-sets
    // Expand from e.g. the distinct-aggregate one)
    val gidPos = expand.output.indexWhere(
      _.name == org.apache.spark.sql.catalyst.expressions.VirtualColumn.groupingIdName)
    if (gidPos < 0) return None
    val gidAttr = expand.output(gidPos)
    val gidValues: Seq[Long] = expand.projections.map(_(gidPos)).map {
      case Literal(v: Long, _) => v
      case Literal(v: Int, _) => v.toLong
      case _ => return None
    }
    if (!agg.groupingExpressions.exists {
      case ar: AttributeReference => ar.exprId == gidAttr.exprId
      case _ => false
    }) return None

    // classify the other output positions: passthrough (the output
    // attr IS the projected base attr in every set — aggregate
    // inputs) vs grouping (a fresh output attr fed the base group
    // attr where the set keeps the column, null where it rolls away)
    val groupPosName = scala.collection.mutable.LinkedHashMap.empty[Int, String]
    for (p <- expand.output.indices if p != gidPos) {
      val out = expand.output(p)
      val entries = expand.projections.map(_(p))
      val passthrough = entries.forall {
        case ar: AttributeReference => ar.exprId == out.exprId
        case _ => false
      }
      if (!passthrough) {
        val attrs = entries.collect { case ar: AttributeReference => ar }
        val nulls = entries.count {
          case Literal(null, _) => true
          case _ => false
        }
        if (attrs.isEmpty || attrs.map(_.exprId).distinct.length != 1 ||
            attrs.length + nulls != entries.length ||
            !mv.groupCols.contains(attrs.head.name)) return None
        groupPosName(p) = attrs.head.name
      }
    }

    // one query grouping set per projection: the group positions
    // whose entry is the attribute (not the null literal)
    val querySets: Seq[Set[String]] = expand.projections.map { proj =>
      groupPosName.collect {
        case (p, name) if proj(p).isInstanceOf[AttributeReference] => name
      }.toSet
    }

    // grouping expressions must be exactly bare output attrs + gid
    val groupRefName: Map[Long, String] =
      groupPosName.map { case (p, name) => expand.output(p).exprId.id -> name }.toMap
    agg.groupingExpressions.foreach {
      case ar: AttributeReference
        if ar.exprId == gidAttr.exprId || groupRefName.contains(ar.exprId.id) => ()
      case _ => return None
    }

    val baseRefName = lr.output
      .filter(a => mv.groupCols.contains(a.name))
      .map(a => a.exprId.id -> a.name).toMap
    val sumByExprId = lr.output
      .filter(a => mv.sumCols.contains(a.name))
      .map(a => a.exprId.id -> a.name).toMap
    val fCols = filterCols(filters, baseRefName) match {
      case Some(cs) => cs
      case None => return None
    }

    val outs: Seq[Out] = agg.aggregateExpressions.map { ne =>
      classifyOut(ne, groupRefName, Some(gidAttr.exprId.id), sumByExprId) match {
        case Some(o) => o
        case None => return None
      }
    }

    // one branch per grouping set, each answered from the smallest
    // registered superset's state slice; keepExprIds on the FIRST
    // branch only — Union takes its output from the first child, so
    // the original Aggregate's output ids survive for any consumer
    val distinctCols = outs.flatMap {
      case DistinctCountOut(cs, _) => cs
      case _ => Nil
    }.toSet
    val branches = querySets.zipWithIndex.map { case (qs, i) =>
      val gidIndex = chooseSet(mv, qs ++ fCols ++ distinctCols) match {
        case Some(g) => g
        case None => return None
      }
      buildBranch(mv, branchGroups = qs.toSeq, gidIndex = Some(gidIndex),
        groupByGid = true, gidOutValue = Some(gidValues(i)), filters = filters,
        baseRefName = baseRefName, groupRefName = groupRefName,
        gidRefId = Some(gidAttr.exprId.id), outs = outs,
        keepExprIds = i == 0) match {
        case Some(b) => b
        case None => return None
      }
    }
    Some(if (branches.length == 1) branches.head else Union(branches))
  }

  /** Non-aggregate outputs over group attrs / the gid attr pass
    * through (per-branch substitution); aggregate outputs must be
    * the classifiable count/sum family. */
  private def classifyOut(
      ne: NamedExpression,
      groupByExprId: Map[Long, String],
      gidRefId: Option[Long],
      sumByExprId: Map[Long, String],
      extByExprId: Map[Long, String] = Map.empty): Option[Out] = ne match {
    case al @ Alias(ae: AggregateExpression, _) =>
      classifyAgg(ae, al, groupByExprId, sumByExprId, extByExprId)
    case _ if ne.deterministic &&
        !ne.exists(_.isInstanceOf[AggregateExpression]) &&
        ne.references.forall(a =>
          groupByExprId.contains(a.exprId.id) || gidRefId.contains(a.exprId.id)) =>
      Some(PassOut(ne))
    case _ => None
  }

  /** One Aggregate-over-state plan answering one grouping set.
    *
    *  - `gidIndex`: the `__gid` slice to serve from (None = plain
    *    aggState table),
    *  - `groupByGid`: grouping-sets branches also group by the
    *    (constant within the slice) `__gid` so an EMPTY slice yields
    *    ZERO rows — matching ROLLUP-over-empty-input semantics; the
    *    plain global aggregate keeps empty grouping so
    *    count-over-empty stays one row of 0,
    *  - `gidOutValue`: literal substituted for grouping-id
    *    references in outputs (grouping()/grouping_id() arithmetic
    *    folds per branch),
    *  - `keepExprIds`: the branch whose aliases carry the original
    *    output ids (the first Union child / the single branch). */
  private def buildBranch(
      mv: MvDef,
      branchGroups: Seq[String],
      gidIndex: Option[Int],
      groupByGid: Boolean,
      gidOutValue: Option[Long],
      filters: List[Expression],
      baseRefName: Map[Long, String],
      groupRefName: Map[Long, String],
      gidRefId: Option[Long],
      outs: Seq[Out],
      keepExprIds: Boolean): Option[LogicalPlan] = {
    val stateRel = session.read.parquet(mv.statePath).queryExecution.analyzed
    val st: Map[String, Attribute] = stateRel.output.map(a => a.name -> a).toMap
    // the state must actually carry the expected shape; a mismatched
    // table under statePath is a registration error — fail loudly,
    // never silently return wrong results
    val expected = mv.groupCols ++
      (if (mv.sets.nonEmpty) Seq("__gid") else Nil) ++ Seq("n") ++
      mv.sumCols.flatMap(c => Seq(s"nn_$c", s"sum_$c")) ++
      mv.extremaCols.flatMap(c => Seq(s"nn_$c", s"min_$c", s"max_$c"))
    require(expected.forall(st.contains),
      s"state table ${mv.statePath} lacks columns " +
        s"${expected.filterNot(st.contains).mkString(", ")} — build it with " +
        s"Cdc.${if (mv.sets.nonEmpty) "cubeState"
          else if (mv.extremaCols.nonEmpty) "extremaState" else "aggState"}")

    val present = branchGroups.toSet

    // explicit column pruning for the state scan: this rule runs
    // after the main optimizer batches, so nothing will prune for us
    // (FileSourceStrategy derives the scan schema from this Project)
    val usedState = scala.collection.mutable.LinkedHashSet[Attribute]()
    branchGroups.foreach(g => usedState += st(g))
    if (gidIndex.isDefined) usedState += st("__gid")
    filters.foreach(_.references.foreach(a =>
      usedState += st(baseRefName(a.exprId.id))))
    outs.foreach {
      case PassOut(orig) => orig.references.foreach { a =>
        groupRefName.get(a.exprId.id)
          .foreach(c => if (present(c)) usedState += st(c))
      }
      case CountStarOut(_) => usedState += st("n")
      case CountColOut(c, _) => usedState += st(s"nn_$c")
      case SumColOut(c, _) => usedState += st(s"sum_$c")
      case AvgColOut(c, _) =>
        usedState += st(s"sum_$c"); usedState += st(s"nn_$c")
      case MinColOut(c, _) => usedState += st(s"min_$c")
      case MaxColOut(c, _) => usedState += st(s"max_$c")
      case DistinctCountOut(cs, _) => cs.foreach(c => usedState += st(c))
    }
    val pruned = Project(usedState.toSeq, stateRel)

    val conds = gidIndex.map(i =>
        org.apache.spark.sql.catalyst.expressions.EqualTo(
          st("__gid"), Literal(i)): Expression).toList ++
      filters.map(_.transform {
        case ar: AttributeReference => st(baseRefName(ar.exprId.id))
      })
    val filtered = conds.foldLeft(pruned: LogicalPlan)((p, c) => Filter(c, p))

    def rollup(stCol: String): Expression =
      AggregateExpression(Sum(st(stCol)), Complete, isDistinct = false)
    def longRollup(stCol: String): Expression =
      Coalesce(Seq(Cast(rollup(stCol), LongType), Literal(0L)))

    def subst(e: Expression): Expression = e.transform {
      case ar: AttributeReference if gidRefId.contains(ar.exprId.id) =>
        // the literal's VALUE class must match the attribute's type:
        // a legacy integer grouping-id attribute (IntegerType) given
        // a Long-boxed Literal would ClassCastException at eval
        ar.dataType match {
          case IntegerType => Literal(gidOutValue.get.toInt, IntegerType)
          case dt => Literal(gidOutValue.get, dt)
        }
      case ar: AttributeReference if groupRefName.contains(ar.exprId.id) =>
        val c = groupRefName(ar.exprId.id)
        if (present(c)) st(c) else Literal(null, ar.dataType)
    }
    def mkAlias(child: Expression, orig: NamedExpression): NamedExpression =
      if (keepExprIds)
        Alias(child, orig.name)(exprId = orig.exprId, qualifier = orig.qualifier)
      else Alias(child, orig.name)()

    val newAggExprs: Seq[NamedExpression] = outs.map {
      case PassOut(orig) =>
        val body = orig match {
          case Alias(child, _) => child
          case other => other
        }
        mkAlias(subst(body), orig)
      case CountStarOut(orig) => mkAlias(longRollup("n"), orig)
      case CountColOut(c, orig) => mkAlias(longRollup(s"nn_$c"), orig)
      case SumColOut(c, orig) => mkAlias(Cast(rollup(s"sum_$c"), orig.dataType), orig)
      // double(exact decimal sum) / double(count), LEGACY division —
      // the same two doubles base Average evaluates (see AvgColOut)
      case AvgColOut(c, orig) => mkAlias(
        Divide(Cast(rollup(s"sum_$c"), DoubleType),
          Cast(rollup(s"nn_$c"), DoubleType),
          NumericEvalContext(EvalMode.LEGACY)), orig)
      // min of group-mins / max of group-maxes — exact for any
      // subset rollup; nulls skip identically on both paths
      case MinColOut(c, orig) => mkAlias(
        AggregateExpression(Min(st(s"min_$c")), Complete, isDistinct = false), orig)
      case MaxColOut(c, orig) => mkAlias(
        AggregateExpression(Max(st(s"max_$c")), Complete, isDistinct = false), orig)
      case DistinctCountOut(cs, orig) => mkAlias(
        AggregateExpression(Count(cs.map(st(_))), Complete, isDistinct = true),
        orig)
    }
    val groupExprs: Seq[Expression] = branchGroups.map(st(_)) ++
      (if (groupByGid) Seq(st("__gid")) else Nil)

    // return the fragment as constructed — re-running the full
    // optimizer over it would let RemoveRedundantAliases strip the
    // exprId-preserving group aliases and orphan downstream
    // references; the aliases keep the original output ids exactly
    Some(Aggregate(groupExprs, newAggExprs, filtered))
  }
}
