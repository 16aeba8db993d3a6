package graft.plans

import graft.core.Jobs
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, AttributeReference, AttributeSet, Descending, JoinedRow,
  SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftglue.ColumnGlue
import org.apache.spark.sql.types.LongType
import scala.jdk.CollectionConverters._

/** Per-query top-k, ranked where the rows are produced: the operator
  * every ANN probe ends with. For each `q_id` it keeps the best `k`
  * rows by `score` descending (Spark's default nulls-last for a
  * descending key, NaN above every number), ties to the lower
  * `neighbor_id` (ascending, nulls first), and numbers them from 1 as
  * `rank` — row for row what
  * `row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id)`
  * filtered to `rank <= k` returns, without that window's shuffle.
  *
  * Each scan task keeps a bounded top-k per `q_id`; the driver merges
  * the task results with the same bounded reduce as they arrive, so
  * driver memory is O(queries × k) whatever the partition count.
  * `q_id` keys group as the window's `partitionBy` groups them (NaN
  * and -0.0 normalized). [[RankTopKExec.executeCollect]] returns the
  * merged rows, so collecting a probe is ONE Spark job, labelled
  * `label`; `doExecute` hands the same rows on as a one-partition RDD,
  * so the frame composes with any other operator. */
case class RankTopK(
    k: Int,
    label: String,
    qId: Attribute,
    neighborId: Attribute,
    score: Attribute,
    rank: Attribute,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = Seq(qId, neighborId, rank)
  override def producedAttributes: AttributeSet = AttributeSet(rank)
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

object RankTopK {
  /** The ranked `(q_id, neighbor_id, rank)` frame over `scored`'s
    * `(q_id, neighbor_id, cos)` columns. Lazy: nothing runs until the
    * frame is executed. */
  def frame(scored: DataFrame, k: Int, label: String): DataFrame = {
    val child = scored.select("q_id", "neighbor_id", "cos").queryExecution.analyzed
    val Seq(q, n, s) = child.output
    ColumnGlue.frame(scored.sparkSession, RankTopK(k, label, q, n, s,
      AttributeReference("rank", LongType, nullable = false)(), child))
  }
}

object RankTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case RankTopK(k, label, q, n, s, r, child) =>
      RankTopKExec(k, label, q, n, s, r, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class RankTopKExec(
    k: Int,
    label: String,
    qId: Attribute,
    neighborId: Attribute,
    score: Attribute,
    rank: Attribute,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = Seq(qId, neighborId, rank)
  override def outputPartitioning: Partitioning = SinglePartition

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)

  /** The compact rows both reduces keep: (q_id, neighbor_id, score). */
  private def kept: Seq[Attribute] = Seq(qId, neighborId, score)

  override def executeCollect(): Array[InternalRow] = {
    val (n, childOut, keptOut) = (k, child.output, kept)
    val ord = new LazilyGeneratedOrdering(
      Seq(SortOrder(score, Descending), SortOrder(neighborId, Ascending)), keptOut)
    val key = ColumnGlue.groupingKey(qId)
    val topK = () => new RankTopKExec.PerQuery(n, ord, UnsafeProjection.create(Seq(key), keptOut))
    val merged = topK()
    val rdd = child.execute()
    if (n > 0 && rdd.getNumPartitions > 0) Jobs.described(session, label) {
      sparkContext.runJob(rdd, (rows: Iterator[InternalRow]) => {
        val local = topK()
        val project = UnsafeProjection.create(keptOut, childOut)
        rows.foreach(r => local.offer(project(r)))
        local.rows.toArray
      }, (_: Int, rows: Array[InternalRow]) => rows.foreach(merged.offer))
    }
    val ranked = UnsafeProjection.create(output, keptOut :+ rank)
    merged.ranked.map { case (row, r) =>
      ranked(new JoinedRow(row, InternalRow(r))).copy(): InternalRow
    }.toArray
  }

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(executeCollect().toSeq, 1)
}

object RankTopKExec {
  /** The best `k` rows per `q_id` key under `ord`, each key's rows in
    * a heap whose head is its worst kept row. Offered rows may be
    * reused buffers: a row is copied only when it is kept. */
  final class PerQuery(k: Int, ord: Ordering[InternalRow], key: UnsafeProjection) {
    private val heaps =
      new java.util.LinkedHashMap[InternalRow, java.util.PriorityQueue[InternalRow]]()

    def offer(row: InternalRow): Unit = {
      val id = key(row)
      var heap = heaps.get(id)
      if (heap == null) {
        heap = new java.util.PriorityQueue[InternalRow](ord.reverse)
        heaps.put(id.copy(), heap)
      }
      if (heap.size < k) heap.add(row.copy())
      else if (ord.lt(row, heap.peek())) { heap.poll(); heap.add(row.copy()) }
    }

    def rows: Iterator[InternalRow] = heaps.values.asScala.iterator.flatMap(_.asScala)

    /** Each key's kept rows best first, numbered from 1. */
    def ranked: Iterator[(InternalRow, Long)] = heaps.values.asScala.iterator.flatMap(heap =>
      heap.asScala.toArray.sorted(ord).iterator.zipWithIndex.map { case (r, i) => (r, i + 1L) })
  }
}
