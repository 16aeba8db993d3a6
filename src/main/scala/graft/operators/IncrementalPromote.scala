package graft.operators

import graft.core.{Clock, DatasetRef, LakePaths}
import graft.sinks.MergeUpsert
import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftglue.ListedParquet

/** Incremental WORK → TRUSTED promotion: process only the WORK files
  * that appeared since the last promote, not the whole zone.
  *
  * The full-zone promote (reference behavior, `utils.py:754-819`)
  * re-reads and re-transforms ALL staged data on every run — fine
  * for a one-shot resync, O(zone) for a continuously-fed lake. This
  * variant tracks a high-water mark (max file modification time
  * already promoted, stored next to the trusted table) and feeds the
  * promote chain only files above it: each run costs O(new data),
  * which is the difference between minutes and hours on a
  * continuously-staged 100 TB zone. K2's upsert makes re-processing
  * safe, so the failure mode of a lost watermark is wasted work,
  * never wrong data.
  *
  * Boundary semantics: files with mtime equal to the stored watermark
  * are considered already promoted. A writer still appending when the
  * listing runs can produce a file with an older mtime that the NEXT
  * run then skips — run promotes against quiesced ingest (the
  * resync-then-promote flow of the reference) or partition the WORK
  * zone by batch for stronger guarantees.
  */
object IncrementalPromote {

  final case class Result(filesProcessed: Int, rowsMerged: Long, newWatermark: Long)

  private def watermarkPath(lake: LakePaths, ref: DatasetRef): Path =
    new Path(lake.trusted(ref) + "__promote_watermark")

  /** Watermark state: the max promoted mtime plus the NAMES of the
    * files at exactly that tick. mtime alone cannot draw an exact
    * boundary — `>` loses same-tick late files, `>=` reprocesses the
    * boundary forever; mtime + boundary names is exact. */
  private final case class Watermark(mtime: Long, boundaryFiles: Set[String])
  private val NoWatermark = Watermark(Long.MinValue, Set.empty)

  /** Hidden siblings of the watermark file `p` used while it is
    * replaced: the new version before its rename, the old one beside
    * it. */
  private def tmpOf(p: Path) = new Path(p.getParent, s".${p.getName}.tmp")
  private def asideOf(p: Path) = new Path(p.getParent, s".${p.getName}.prev")

  private def readWatermark(spark: SparkSession, p: Path): Watermark = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // without `p`, a write died between its two renames: the old
    // watermark is still whole beside it
    Seq(p, asideOf(p)).find(fs.exists) match {
      case None => NoWatermark
      case Some(src) =>
        val in = fs.open(src)
        val raw = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        finally in.close()
        val lines = raw.split("\n").toList
        // An unreadable watermark (one torn by an older, in-place
        // writer, or edited by hand) must degrade to reprocessing —
        // idempotent by K2 — not brick every future promote with a
        // parse error.
        lines.headOption.flatMap(_.trim.toLongOption) match {
          case Some(wm) => Watermark(wm, lines.drop(1).map(_.trim).filter(_.nonEmpty).toSet)
          case None =>
            System.err.println(s"[promote] unreadable watermark at $src — reprocessing")
            NoWatermark
        }
    }
  }

  /** Replace the watermark so that a crash leaves the old version or
    * the new one, never a torn file (which would cost an O(zone)
    * reprocess): write the new version to a hidden temp sibling, move
    * the old one aside, rename the new one in, drop the old. Between
    * the two renames [[readWatermark]] reads the aside copy. Plain
    * renames only, because a Hadoop rename does not replace an
    * existing file; it must be atomic, as the filesystem contract on
    * [[graft.sinks.DirSwap]] requires. */
  private def writeWatermark(spark: SparkSession, p: Path, wm: Watermark): Unit = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (tmp, aside) = (tmpOf(p), asideOf(p))
    val out = fs.create(tmp, true)
    try out.write((wm.mtime.toString +: wm.boundaryFiles.toSeq.sorted)
      .mkString("\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(p)) {
      fs.delete(aside, false) // older than `p`: left by a crash before its delete
      if (!fs.rename(p, aside)) sys.error(s"watermark write failed: could not move $p aside")
    }
    if (!fs.rename(tmp, p)) sys.error(s"watermark write failed: could not rename $tmp")
    fs.delete(aside, false)
    ()
  }

  def run(
      spark: SparkSession,
      ref: DatasetRef,
      lake: LakePaths,
      skIds: Seq[String],
      hyphen: Boolean = false,
      clock: Clock = Clock.System,
      deterministic: Boolean = true): Result = {
    val workPath = new Path(lake.work(ref))
    val fs = workPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val wmPath = watermarkPath(lake, ref)
    // A watermark without a trusted table is stale state from a
    // rebuilt/truncated table — honoring it would skip the whole zone.
    val trustedExists = fs.exists(new Path(lake.trusted(ref)))
    val wm = if (trustedExists) readWatermark(spark, wmPath) else NoWatermark

    // recursive listing: WORK may be hive-partitioned (writePartitioned)
    val newFiles = {
      val it = fs.listFiles(workPath, true)
      val buf = Seq.newBuilder[org.apache.hadoop.fs.LocatedFileStatus]
      while (it.hasNext) {
        val st = it.next()
        val t = st.getModificationTime
        // same-tick files not yet promoted are included (two batches
        // can share an mtime on coarse-granularity stores); already-
        // promoted boundary files are excluded by name — exact, no
        // lost rows and no perpetual reprocessing.
        val fresh = t > wm.mtime ||
          (t == wm.mtime && !wm.boundaryFiles.contains(st.getPath.getName))
        if (st.getPath.getName.endsWith(".parquet") && fresh) buf += st
      }
      buf.result()
    }
    if (newFiles.isEmpty) return Result(0, 0L, wm.mtime)

    val batch = ListedParquet.read(spark, newFiles, None, None)
    val curated =
      Promote.transform(batch, skIds, hyphen, clock, deterministic).persist()
    try {
      val rows = curated.count() // materializes the cache the merge reuses
      MergeUpsert.mergeInto(spark, lake.trusted(ref), curated)
      val newMtime = newFiles.map(_.getModificationTime).max
      val boundary = newFiles.filter(_.getModificationTime == newMtime)
        .map(_.getPath.getName).toSet ++
        (if (newMtime == wm.mtime) wm.boundaryFiles else Set.empty)
      writeWatermark(spark, wmPath, Watermark(newMtime, boundary))
      Result(newFiles.length, rows, newMtime)
    } finally {
      curated.unpersist()
      ()
    }
  }
}
