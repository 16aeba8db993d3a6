package graft.app

import graft.core.{Clock, Coerce, DatasetRef, Jobs, LakePaths, LakeStorage}
import graft.ingest.{IngestLoop, StatusReporter}
import graft.operators.Promote
import graft.planner._
import graft.planner.Intervals.Interval
import graft.sinks.{MergeUpsert, ParquetAppend}
import graft.sources.{JdbcSource, MongoLikeSource}
import java.time.LocalDate
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max}

/** §3 entry points — the four resync flows of the reference plus the
  * promote flow, as one parameterized job.
  *
  * Reference archetypes: `resync_date/etls/carga_date.py` (JDBC +
  * date pc), `resync_int/etls/carga_int.py` (JDBC + int pc), the two
  * `mongodb_carga` scripts (document source, retry without checkpoint
  * recovery), and the promote path
  * `shared_etls/etls/utils.py:754-819` + `cloud_utils.py:478-532`.
  * Unlike the reference, chunks are extracted concurrently (`ingest`).
  */
object ResyncJob {

  /** Range-extraction boundary semantics per source family:
    *  - JDBC pushes half-open `[start, end)` SQL (S1);
    *  - document sources filter INCLUSIVE `between` (S4), so with the
    *    P6 end+1 compensation consecutive chunks overlap at the
    *    boundary — expected, healed by T4 dedup at promote
    *    (SURVEY.md §2.5 P6).
    */
  trait RangedSource {
    def readRange(spark: SparkSession, pc: String, startIncl: String, endExcl: String): DataFrame
    def minValue(spark: SparkSession, pc: String): Any
    def maxIntWithMargin(spark: SparkSession, pc: String): Long
  }

  final case class JdbcRanged(src: JdbcSource, dataset: String) extends RangedSource {
    def readRange(spark: SparkSession, pc: String, startIncl: String, endExcl: String): DataFrame =
      src.readRange(spark, dataset, pc, startIncl, endExcl)
    def minValue(spark: SparkSession, pc: String): Any = src.minValue(spark, dataset, pc)
    def maxIntWithMargin(spark: SparkSession, pc: String): Long =
      src.maxIntWithMargin(spark, dataset, pc)
  }

  /** Document-store semantics ([[graft.sources.DocumentRanges]]): the
    * inclusive upper bound is `endExcl` itself (P6 already extended
    * it), reproducing the reference's boundary overlap.
    *
    * `schema` carries the §1.4 three-tier resolution result (the
    * reference resolves it BEFORE boundary queries,
    * `mongodb_carga_date.py:102-110`): when present, inference is
    * disabled on every ranged read — at 100 TB an inference pass is a
    * full extra collection scan. */
  sealed abstract class DocumentRanged(
      src: graft.sources.DocumentRanges,
      schema: Option[org.apache.spark.sql.types.StructType]) extends RangedSource {
    def readRange(spark: SparkSession, pc: String, startIncl: String, endExcl: String): DataFrame =
      src.readRange(spark, pc, startIncl, endExcl, schema)
    def minValue(spark: SparkSession, pc: String): Any = src.minValue(spark, pc, schema)
    def maxIntWithMargin(spark: SparkSession, pc: String): Long =
      src.maxIntWithMargin(spark, pc, schema)
  }

  /** Over the parquet-backed stand-in. */
  final case class MongoRanged(
      src: MongoLikeSource,
      schema: Option[org.apache.spark.sql.types.StructType] = None)
    extends DocumentRanged(src, schema)

  /** Over the adapter seam: whatever [[graft.sources.DocStoreAdapters]]
    * has registered for the URI's scheme — the real mongo-spark
    * connector in production, the parquet stand-in here. */
  final case class DocRanged(
      src: graft.sources.DocStoreSource,
      schema: Option[org.apache.spark.sql.types.StructType] = None)
    extends DocumentRanged(src, schema)

  /** §1.4 resolution for the document flows: registry file → existing
    * trusted schema → None (infer). */
  def resolveSchema(
      spark: SparkSession,
      lake: LakePaths,
      ref: DatasetRef,
      registryDir: Option[String]): Option[org.apache.spark.sql.types.StructType] = {
    val tiers = registryDir.map(graft.schema.JsonFileRegistry).toSeq :+
      graft.schema.ExistingTableRegistry(spark,
        (ns, ds) => lake.trusted(ref.copy(namespace = ns, dataset = ds)))
    graft.schema.ChainedRegistry(tiers: _*).resolve(ref.namespace, ref.dataset)
  }

  /** Date-partitioned resync (carga_date flow, steps §3.1 1-9). */
  def runDate(
      spark: SparkSession,
      source: RangedSource,
      pc: String,
      ref: DatasetRef,
      lake: LakePaths,
      cliStart: Option[LocalDate] = None,
      cliEnd: Option[LocalDate] = None,
      estimatedRows: Long,
      truncateFirst: Boolean = true,
      withRecovery: Boolean = true,
      reporter: StatusReporter = StatusReporter.Noop,
      idRequest: Option[String] = None,
      sleep: Long => Unit = Thread.sleep): Unit = {
    if (truncateFirst) truncateWork(spark, lake.work(ref)) // K3 destructive init (§3.1 step 3)

    // P4 boundary resolution (§3.1 step 4)
    val bounds = Boundaries.resolveDates(
      cliStart, cliEnd,
      sourceMin = Coerce.toLocalDate(source.minValue(spark, pc)),
      today = LocalDate.now())

    // P1 width + P3 intervals (§3.1 step 5)
    val span = java.time.temporal.ChronoUnit.DAYS.between(bounds.start, bounds.end)
    val width = ChunkWidth.dateChunkDays(estimatedRows, span)
    ingest[LocalDate](spark, source, pc, ref, lake,
      plan = Intervals.dates(bounds.start, bounds.end, width),
      halfOpen = Intervals.halfOpenDates, // P6 (§3.1 step 7)
      checkpoint = Coerce.toLocalDate,
      replan = cp => Intervals.dates(cp, bounds.end, width),
      withRecovery, reporter, idRequest, sleep)
  }

  /** Integer-partitioned resync (carga_int flow, §3.2). P4 boundaries
    * (note the margin round-trip — `maxIntWithMargin` already adds the
    * +300000 margin the resolver re-applies, so it is subtracted here
    * once) + P2 width + P3 intervals. */
  def runInt(
      spark: SparkSession,
      source: RangedSource,
      pc: String,
      ref: DatasetRef,
      lake: LakePaths,
      cliStart: Option[Long] = None,
      cliEnd: Option[Long] = None,
      estimatedRows: Long,
      truncateFirst: Boolean = true,
      withRecovery: Boolean = true,
      reporter: StatusReporter = StatusReporter.Noop,
      idRequest: Option[String] = None,
      sleep: Long => Unit = Thread.sleep): Unit = {
    if (truncateFirst) truncateWork(spark, lake.work(ref))

    val bounds = Boundaries.resolveInts(
      cliStart, cliEnd,
      sourceMin = Coerce.toLong(source.minValue(spark, pc)),
      sourceMax = source.maxIntWithMargin(spark, pc) - Boundaries.SecurityMargin)
    val width = ChunkWidth.intChunkWidth(estimatedRows)
    ingest[Long](spark, source, pc, ref, lake,
      plan = Intervals.ints(bounds.start, bounds.end, width),
      halfOpen = Intervals.halfOpenInts,
      checkpoint = Coerce.toLong,
      replan = cp => Intervals.ints(cp, bounds.end, width),
      withRecovery, reporter, idRequest, sleep)
  }

  /** Staged chunks live in `<work>__chunks/<run>/<seq>`, never inside
    * WORK, which readers list recursively. K3 truncates both. */
  private def chunksRoot(workPath: String): String = workPath.stripSuffix("/") + "__chunks"
  private def truncateWork(spark: SparkSession, workPath: String): Unit = {
    LakeStorage(spark).clearOrCreate(workPath)
    LakeStorage(spark).truncate(chunksRoot(workPath))
  }

  /** Both flows' chunk loop, P5 in its staged form: each chunk's
    * `readRange` is written by one Spark job into its own staging dir,
    * `min(plan size, defaultParallelism)` at once (one source cursor per
    * executor slot, as `JdbcSource.readChunksParallel`), and published
    * into WORK in plan order by moving each file not yet there, with a
    * fresh mtime so WORK's mtimes keep plan order for
    * `IncrementalPromote`. One resync per dataset at a time, as K3
    * already requires: a run removes the whole chunk root when done. */
  private def ingest[T](
      spark: SparkSession,
      source: RangedSource,
      pc: String,
      ref: DatasetRef,
      lake: LakePaths,
      plan: List[Interval[T]],
      halfOpen: Interval[T] => (T, T),
      checkpoint: Any => T,
      replan: T => List[Interval[T]],
      withRecovery: Boolean, reporter: StatusReporter, idRequest: Option[String],
      sleep: Long => Unit): Unit = {
    val name = s"${ref.namespace}.${ref.dataset}"
    val workPath = lake.work(ref)
    val work = new Path(workPath)
    val fs = work.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new Path(chunksRoot(workPath))
    val runDir = new Path(root, java.util.UUID.randomUUID().toString)
    val seq = new java.util.concurrent.atomic.AtomicInteger

    def stage(iv: Interval[T]): Path = {
      val (s, e) = halfOpen(iv)
      val dir = new Path(runDir, seq.getAndIncrement().toString)
      Jobs.described(spark, s"resync $name: chunk [$s, $e)") {
        ParquetAppend.write(source.readRange(spark, pc, s.toString, e.toString), dir.toString) // K1
      }
      dir
    }

    def publish(dir: Path): Unit = {
      fs.mkdirs(work)
      fs.listStatus(dir).foreach { st =>
        val dst = new Path(work, st.getPath.getName)
        if (!fs.exists(dst)) {
          if (!fs.rename(st.getPath, dst)) throw new java.io.IOException(s"could not move ${st.getPath} to $dst")
          fs.setTimes(dst, System.currentTimeMillis(), -1)
        }
      }
      fs.delete(dir, true); ()
    }

    val recover: Option[() => Option[T]] = // P5: probe WORK for max(pc), replan (§3.1 step 8)
      if (withRecovery) Some(() =>
        if (!LakeStorage(spark).exists(workPath)) None
        else Jobs.described(spark, s"resync $name: checkpoint probe") {
          spark.read.parquet(workPath).select(max(col(pc))).head().get(0)
        } match {
          case null => None
          case v => Some(checkpoint(v))
        })
      else None

    try new IngestLoop[T](reporter = reporter, sleep = sleep).runStaged[Path](
      // the reference's explicit request id (`carga_date.py:43`,
      // `utils.py:14-27`); namespace.dataset when no scheduler sets one
      idRequest = idRequest.getOrElse(name),
      plan = plan,
      ahead = math.max(1, math.min(plan.size, spark.sparkContext.defaultParallelism)),
      stage = stage,
      publish = publish,
      discard = dir => { fs.delete(dir, true); () },
      recover = recover,
      replan = replan)
    finally { fs.delete(root, true); () }
  }

  /** Promote flow (§3.4): WORK → T1 sk → T2 → T3 → T4 → K2 MERGE. */
  def promote(
      spark: SparkSession,
      ref: DatasetRef,
      lake: LakePaths,
      skIds: Seq[String],
      hyphen: Boolean = false,
      clock: Clock = Clock.System,
      deterministic: Boolean = true): Unit = {
    val work = spark.read.parquet(lake.work(ref)) // S7
    val curated = Promote.transform(work, skIds, hyphen, clock, deterministic)
    MergeUpsert.mergeInto(spark, lake.trusted(ref), curated) // K2
  }
}
