package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Persistent aggregate state for streaming incremental view
  * maintenance: [[graft.operators.Cdc.maintainAgg]] applied per
  * micro-batch of a signed-delta stream, behind the same
  * staging/swap protocol as K2.
  *
  * Unlike the CDC apply (where replaying a batch re-lands identical
  * rows), maintenance is NOT idempotent — re-applying a delta batch
  * double-counts it. Exactly-once therefore needs a transactional
  * guard, not just idempotence: each swap commits the applied batch
  * id ATOMICALLY with the state (a `_graft_applied_batch` marker
  * written into the staging directory before the [[DirSwap]] seal —
  * the same rename that publishes the data publishes the marker, and
  * a staging directory missing either is unsealed, so recovery
  * discards it and the replayed batch applies exactly once). A batch
  * re-delivered after a crash-between-swap-and-checkpoint-commit
  * finds its own id already recorded and skips; the marker's
  * underscore prefix keeps every parquet reader blind to it. This is
  * the streaming-sink half of the classic IVM transaction: (state,
  * last-applied-batch) move together or not at all.
  *
  * 100 TB posture: identical to batch maintenance — each batch costs
  * one union of |groups| state rows with |churn| delta rows and a
  * single exchange; the base table is never consulted. The state
  * table rewrite per batch is |groups|-sized, which for any sane
  * grouping is orders of magnitude below the base data rate.
  */
object AggStateSink {

  private[sinks] val BatchMarker = "_graft_applied_batch"

  /** The state swap's seal. Not the parquet `_SUCCESS`: the batch
    * marker is written after the data job, so `_SUCCESS` alone would
    * seal a staging directory that lacks its batch id. */
  private val Swap = DirSwap("__staging", "__prev", "_GRAFT_STATE_READY")

  /** The batch id recorded by the last completed swap, if any. */
  def appliedBatch(spark: SparkSession, statePath: String): Option[Long] = {
    val fs = new Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(statePath, BatchMarker)
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      try {
        val r = new java.io.BufferedReader(
          new java.io.InputStreamReader(in, "UTF-8"))
        Option(r.readLine()).map(_.trim).flatMap(_.toLongOption)
      } finally in.close()
    }
  }

  /** Fold one signed-delta batch into the stored state. Returns true
    * if the batch was applied, false if `batchId` was already
    * recorded (a replay — skipped without reading the delta).
    * Bootstraps from the empty state when no table exists yet, so a
    * `+1`-signed snapshot load IS the state bootstrap (zero state
    * plus the snapshot's multiset equals `Cdc.aggState` of it). */
  def maintainInto(
      spark: SparkSession,
      statePath: String,
      delta: DataFrame,
      groupCols: Seq[String],
      sumCols: Seq[String],
      batchId: Long): Boolean = {
    val fs = new Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = new Path(statePath)
    Swap.recover(fs, statePath)

    if (appliedBatch(spark, statePath).exists(_ >= batchId)) return false

    // the stored state's schema IS the aggState schema for this shape
    // (maintainAgg's output equals it exactly — CdcSpec law), so the
    // per-micro-batch read takes it explicitly instead of paying a
    // schema-inference job every batch (guide §5)
    val emptyState = graft.operators.Cdc.aggState(
      delta.drop("__sign").limit(0), groupCols, sumCols)
    val state =
      if (fs.exists(target))
ParquetMemo.readContract(spark, statePath, emptyState.schema)
      else emptyState
    val next = graft.operators.Cdc.maintainAgg(
      state, delta, groupCols, sumCols)

    commitState(fs, statePath, next, batchId)
    true
  }

  /** Extrema-state variant of [[maintainInto]]: the same
    * transactional swap around
    * [[graft.operators.Cdc.maintainExtrema]]. `baseAfter` must be
    * the POST-batch table content — passed LAZILY (e.g. the apply's
    * own `appliedChanges(pre, batch)` plan), it is evaluated during
    * the state write, which the caller must order BEFORE the table
    * swap; only endangered groups' rows actually flow, and an
    * append-only batch skips the base entirely (empty-relation
    * propagation). */
  def maintainExtremaInto(
      spark: SparkSession,
      statePath: String,
      delta: DataFrame,
      baseAfter: DataFrame,
      groupCols: Seq[String],
      extCols: Seq[String],
      batchId: Long): Boolean = {
    val fs = new Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = new Path(statePath)
    Swap.recover(fs, statePath)

    if (appliedBatch(spark, statePath).exists(_ >= batchId)) return false

    // explicit stored-state schema — same per-batch inference-job
    // elimination as [[maintainInto]]
    val emptyState = graft.operators.Cdc.extremaState(
      delta.drop("__sign").limit(0), groupCols, extCols)
    val state =
      if (fs.exists(target))
ParquetMemo.readContract(spark, statePath, emptyState.schema)
      else emptyState
    val next = graft.operators.Cdc.maintainExtrema(
      state, delta, baseAfter, groupCols, extCols)

    commitState(fs, statePath, next, batchId)
    true
  }

  /** Shared tail of the transaction: stage the next state, write the
    * batch-id marker INTO the staging dir, and let one sealed swap
    * publish both. */
  private def commitState(
      fs: org.apache.hadoop.fs.FileSystem,
      statePath: String,
      next: DataFrame,
      batchId: Long): Unit = {
    val staging = Swap.staging(statePath)
    next.write.mode(SaveMode.Overwrite).parquet(staging)
    val out = fs.create(new Path(staging, BatchMarker), true)
    try out.write(batchId.toString.getBytes("UTF-8")) finally out.close()
    Swap.commit(fs, statePath)
  }
}
