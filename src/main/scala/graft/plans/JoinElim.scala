package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{
  AttributeReference, EqualTo, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.LeftOuter
import org.apache.spark.sql.catalyst.plans.logical.{
  Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.JOIN
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Left-join elimination over registered UNIQUE keys — the
  * informational-constraint optimization (SQL `PRIMARY KEY ...
  * RELY`) Spark has no surface for: a LEFT OUTER join against a
  * table whose join key is unique preserves every left row exactly
  * once, so when nothing downstream reads the right side's columns,
  * the join — and the entire right-side scan — can be dropped.
  * Generated queries hit this shape constantly (a view joins every
  * dimension; a given query reads two), and at 100 TB the eliminated
  * dimension scan + its build/shuffle is the whole win.
  *
  * Soundness needs ONLY key uniqueness (no referential integrity):
  *  - unique key ⇒ at most one match per left row ⇒ no duplication,
  *  - LEFT OUTER ⇒ an unmatched left row survives (null-padded) ⇒
  *    no loss — and the padding columns are exactly the ones proven
  *    unused. A Filter over the registered table only shrinks the
  *    match set — a subset of a unique key set is still unique — so
  *    filtered dimension reads eliminate too. INNER joins are NOT
  *    eliminated: they also filter the left side, which needs
  *    referential integrity + a non-null FK to prove away.
  *
  * Uniqueness is declared per table path via [[ConstraintCatalog]];
  * `registerUnique(..., verify = true)` checks the claim with one
  * aggregate before trusting it. Like every informational
  * constraint, a FALSE declaration yields wrong results — the
  * verify flag and the spec's poisoned-table case make the contract
  * explicit. Disable per-session with `spark.graft.join.elim=false`.
  */
object ConstraintCatalog {
  final case class UniqueDef(cols: Seq[String], baseSignature: Option[String])

  private val uniques =
    new java.util.concurrent.ConcurrentHashMap[String, UniqueDef]()

  /** Declares `cols` unique in the table at `path`. With
    * `verify = true` (recommended), proves it first with one
    * distinct-count aggregate — O(table) once, at registration.
    * NOTE: verification proves uniqueness only for the file set at
    * registration time — a later append can silently break the key
    * and wrong results follow. [[registerUniqueFresh]] pins the file
    * set so drift falls back to executing the join instead. */
  def registerUnique(
      spark: SparkSession,
      path: String,
      cols: Seq[String],
      verify: Boolean = false): Unit =
    doRegister(spark, path, cols, verify, pinned = false)

  /** [[registerUnique]] with the CURRENT base file set pinned (the
    * same freshness discipline as [[MvCatalog.registerFresh]]): the
    * elimination fires only while the dimension is bit-identical to
    * the verified snapshot; any append/rewrite/delete under the path
    * makes queries silently FALL BACK to the real join (correct,
    * unaccelerated) until the constraint is re-verified and
    * re-registered. */
  def registerUniqueFresh(
      spark: SparkSession,
      path: String,
      cols: Seq[String],
      verify: Boolean = true): Unit =
    doRegister(spark, path, cols, verify, pinned = true)

  private def doRegister(
      spark: SparkSession,
      path: String,
      cols: Seq[String],
      verify: Boolean,
      pinned: Boolean): Unit = {
    require(cols.nonEmpty, "registerUnique needs key columns")
    if (verify) {
      import org.apache.spark.sql.functions._
      val df = spark.read.parquet(path)
      val r = df.agg(count(lit(1)).as("n"),
        count_distinct(struct(cols.map(col): _*)).as("d")).head()
      require(r.getLong(0) == r.getLong(1),
        s"registerUnique: (${cols.mkString(", ")}) is NOT unique in $path " +
          s"(${r.getLong(0)} rows, ${r.getLong(1)} distinct)")
    }
    val sig = if (pinned) Some(MvCatalog.signature(spark, path)) else None
    uniques.put(MvCatalog.normalize(path), UniqueDef(cols, sig))
    ()
  }
  def unregister(path: String): Unit = {
    uniques.remove(MvCatalog.normalize(path)); ()
  }
  def clear(): Unit = uniques.clear()
  def uniqueKey(path: String): Option[UniqueDef] =
    Option(uniques.get(MvCatalog.normalize(path)))
  def isEmpty: Boolean = uniques.isEmpty
}

class JoinElimRule(session: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (ConstraintCatalog.isEmpty ||
        session.sessionState.conf.getConfString(
          "spark.graft.join.elim", "true") != "true") plan
    else plan.transformUpWithPruning(_.containsPattern(JOIN)) {
      case p @ Project(projectList,
          j @ Join(left, right, LeftOuter, Some(cond), _))
          if projectList.forall(_.references.subsetOf(left.outputSet)) &&
            eliminable(left, right, cond) =>
        Project(projectList, left)
    }

  /** The join drops iff every conjunct is an equi-pair between the
    * left side and the registered table's DECLARED unique key, and
    * every key column is covered (a partial-key join may match many
    * rows). */
  private def eliminable(
      left: LogicalPlan, right: LogicalPlan, cond: Expression): Boolean = {
    val (lr, path) = relationPath(right) match {
      case Some(p) => p
      case None => return false
    }
    val keyCols = ConstraintCatalog.uniqueKey(path) match {
      // freshness-pinned constraints only hold for the verified file
      // set — a drifted dimension executes the real join
      case Some(d) if MvCatalog.fresh(d.baseSignature, lr) => d.cols
      case _ => return false
    }
    // resolve declared names against the right side's visible output
    val keyExprIds = right.output.filter(a => keyCols.contains(a.name)).map(_.exprId)
    if (keyExprIds.length != keyCols.length) return false
    val covered = scala.collection.mutable.Set.empty[Long]
    splitConjunctivePredicates(cond).foreach {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if a.references.subsetOf(left.outputSet) && keyExprIds.contains(b.exprId) =>
        covered += b.exprId.id
      case EqualTo(b: AttributeReference, a: AttributeReference)
          if a.references.subsetOf(left.outputSet) && keyExprIds.contains(b.exprId) =>
        covered += b.exprId.id
      case _ => return false
    }
    covered.size == keyExprIds.length
  }

  /** Root path of the right side: the registered relation under any
    * attribute-only Projects and Filters (a filtered unique key stays
    * unique — subsets preserve uniqueness). */
  private def relationPath(p: LogicalPlan): Option[(LogicalRelation, String)] = p match {
    case f: Filter => relationPath(f.child)
    case pr: Project if pr.projectList.forall(_.isInstanceOf[AttributeReference]) =>
      relationPath(pr.child)
    case lr: LogicalRelation => lr.relation match {
      case h: HadoopFsRelation if h.location.rootPaths.length == 1 =>
        Some((lr, h.location.rootPaths.head.toString))
      case _ => None
    }
    case _ => None
  }
}
