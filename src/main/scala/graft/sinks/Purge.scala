package graft.sinks

import graft.functions.BloomSketch
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.ListedParquet

/** Targeted key deletion ("right to be forgotten") with MINIMAL file
  * rewrite — the lakehouse delete, without a metadata-log format:
  * given a deletion key list, rewrite ONLY the data files that
  * actually contain a doomed row, leave every other file untouched
  * byte-for-byte, and leave the sidecar indexes maintainable by their
  * existing file-set arithmetic (a rewritten file is a vanished file
  * plus a fresh one — exactly the delta [[InvertedIndex.refresh]] /
  * [[BloomIndex.refresh]] / [[StatsIndex]] already handle).
  *
  * File location is staged cheapest-index-first:
  *  1. if a [[StatsIndex]] covers the key column, per-file [min, max]
  *     intervals prune against the broadcast key set — a KB-sized
  *     read, near-exact on tables CLUSTERED by the deletion key (the
  *     deletion-workload layout; the 10× ScaleCheck measures purge
  *     FLAT there);
  *  2. if a [[BloomIndex]] exists, per-file blooms stream
  *     EXECUTOR-side against the literal key-hash set
  *     ([[graft.functions.BloomAnyContain]]) — consulted only when
  *     stats pruned less than 4× (blooms share the table-cardinality
  *     geometry, so on an already-pruned table their sidecar scan
  *     costs more than it saves; on a hash-scattered table they are
  *     the only thing that prunes). A miss is definitive — the file
  *     is never opened;
  *  3. candidate files are scanned with a broadcast semi-join to drop
  *     index false positives (an FP file would be rewritten
  *     IDENTICALLY — correct but wasted I/O, so it is worth one
  *     candidate-sliver scan to avoid); with NEITHER index this
  *     degrades to the one full broadcast-semi scan;
  *  4. only files with ≥1 actual hit are rewritten (anti-join against
  *     the broadcast keys), one replacement file per rewritten input,
  *     under the table's partition directories on a hive-partitioned
  *     table.
  *
  * Crash contract: the replacements and the originals they replace
  * are one [[FileDelta]] commit (staging `.purge-staging`, journal
  * `_purge_journal`), the same commit the per-partition TRUSTED
  * writers make; [[recover]], run on entry, is the TRUSTED table's
  * one recovery, so a purge crashed at any point is healed by the
  * next purge or merge alike.
  *
  * Deletion keys are a broadcast-sized list by contract (a GDPR/
  * takedown list, not a table) — they ride every join as a broadcast
  * and their hashes are collected once for the bloom probe.
  *
  * 100 TB posture: cost is (bloom-index rows) + (candidate files
  * scanned once) + (hit files rewritten once). A delete touching 10
  * of 100k files reads 10 files' worth of bloom rows plus ~10 files
  * twice — the table itself is never scanned. Without a bloom index
  * the locate step degrades to ONE full scan (still no shuffle: the
  * semi-join is broadcast).
  */
object Purge {

  final case class Report(
      nDataFiles: Int,
      nCandidateFiles: Int,
      nRewrittenFiles: Int,
      nRowsDeleted: Long)

  /** Delete every row of `table` whose `column` matches a value in
    * `keys`' `keyCol` (NULL keys are dropped — NULL never equals a
    * stored value, SQL semantics). Returns what was touched. */
  def purge(
      spark: SparkSession,
      table: String,
      keys: DataFrame,
      keyCol: String,
      column: String): Report = {
    val fs = new Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    MergeUpsert.recoverTrusted(fs, table)

    val files = BloomIndex.dataFilePaths(spark, table)
    require(files.nonEmpty, s"no data files under $table")
    // every read below is the one explicit-file read: no schema job,
    // and the table's partition columns discovered under `table`
    val tableDf = ParquetMemo.readFiles(spark, table, files)
    val tableCols = tableDf.columns
    require(tableCols.contains(column), s"no column $column in $table")
    Seq("__key", "__file").foreach(r => require(!tableCols.contains(r),
      s"table column $r collides with purge's internal names"))
    // deletion keys are broadcast-sized by contract — collect them
    // once and re-join as a LocalRelation, so the several broadcast
    // joins below build driver-side without a per-broadcast job (the
    // old localCheckpoint shape paid one build job per broadcast)
    val keyPlan = keys.select(col(keyCol).as("__key"))
      .where(col("__key").isNotNull).distinct()
    val keyRows = keyPlan.collect()
    val keyVals = spark.createDataFrame(
      java.util.Arrays.asList(keyRows: _*), keyPlan.schema)

    // ── locate, cheapest index first ──────────────────────────────
    // 1. `_stats` range pruning: KB-sized read, near-exact on tables
    //    CLUSTERED by the key (z-order / range layout) — the common
    //    deletion-workload layout.
    // 2. `_bloom` membership: per-file blooms streamed EXECUTOR-side
    //    (BloomAnyContain against the literal key-hash set — pulling
    //    table-cardinality-geometry blooms to the driver measured
    //    ~30 s at 160 × 7 MB). Consulted only when stats pruned less
    //    than 4× — on a clustered table the bloom sidecar scan would
    //    cost more than it saves; on a hash-scattered table it is
    //    the only thing that prunes.
    // 3. Neither index → ONE broadcast-semi scan of the table.
    val statsIdx = new Path(StatsIndex.indexPath(table))
    val statsCands: Option[Seq[String]] =
      if (!fs.exists(statsIdx)) None
      else {
        val st = ParquetMemo.readDir(spark, statsIdx.toString)
        if (!st.columns.contains(s"min_$column")) None
        else Some(st.join(broadcast(keyVals),
            col(s"min_$column") <= col("__key") &&
              col("__key") <= col(s"max_$column"), "left_semi")
          .select("file").collect().map(_.getString(0)).toSeq.sorted)
      }
    val bloomIdx = new Path(BloomIndex.indexPath(table))
    def bloomCands(): Seq[String] = {
      val hashes = keyVals
        .select(xxhash64(col("__key")).as("h")).collect().map(_.getLong(0))
      import org.apache.spark.sql.graftglue.ColumnGlue
      val anyHit = ColumnGlue.column(
        graft.functions.BloomAnyContain(
          ColumnGlue.expression(col("bloom")),
          org.apache.spark.sql.catalyst.expressions.Literal
            .create(hashes, org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.LongType))))
      ParquetMemo.readDir(spark, bloomIdx.toString)
        .where(anyHit).select("file")
        .collect().map(_.getString(0)).toSeq.sorted
    }
    val candidates: Seq[String] = (statsCands, fs.exists(bloomIdx)) match {
      case (Some(sc), true) if sc.size * 4 <= files.size => sc
      case (Some(sc), true) => bloomCands().filter(sc.toSet)
      case (Some(sc), false) => sc
      case (None, true) => bloomCands()
      case (None, false) =>
        tableDf.select(col("_metadata.file_path").as("__file"), col(column))
          .join(broadcast(keyVals), col(column) === col("__key"), "left_semi")
          .select("__file").distinct().collect().map(_.getString(0))
          .toSeq.sorted
    }
    if (candidates.isEmpty) return Report(files.size, 0, 0, 0L)

    // ── verify: drop bloom false positives (candidate sliver only) ─
    val touched = ParquetMemo.readFiles(spark, table, candidates)
      .select(col("_metadata.file_path").as("__file"), col(column))
      .join(broadcast(keyVals), col(column) === col("__key"), "left_semi")
      .select("__file").distinct().collect().map(_.getString(0)).toSeq.sorted
    if (touched.isEmpty) return Report(files.size, candidates.size, 0, 0L)

    // ── rewrite: survivors of the touched files, one file each, laid
    //    out under the table's partition directories ──────────────
    val touchedDf = ParquetMemo.readFiles(spark, table, touched)
    val survivors = touchedDf
      .join(broadcast(keyVals), col(column) === col("__key"), "left_anti")
    val staging = MergeUpsert.Delta.staging(table)
    survivors.coalesce(touched.size)
      .write.mode(SaveMode.Overwrite)
      .partitionBy(ListedParquet.partitionSchema(touchedDf).fieldNames.toIndexedSeq: _*)
      .parquet(staging.toString)
    // deleted-row accounting from parquet FOOTER record counts
    // (driver-side, exact) — the old shape paid one full count job
    // over the touched files and a second read+count job over the
    // staging it had just written; touched is a handful of files by
    // design, so O(touched) footer opens replace both jobs
    val conf = spark.sparkContext.hadoopConfiguration
    def footerRows(paths: Seq[String]): Long =
      paths.map(p => ParquetMemo.footerRows(conf, new Path(p))).sum
    val nBefore = footerRows(touched)
    val nAfter = footerRows(SidecarMaintenance.dataFiles(spark, staging.toString))
    MergeUpsert.Delta.commit(fs, table, touched)
    Report(files.size, candidates.size, touched.size, nBefore - nAfter)
  }

  /** Completes or rolls back an interrupted [[purge]] — or whole-table
    * merge, or per-partition write — of `table`. */
  def recover(spark: SparkSession, table: String): Unit =
    MergeUpsert.recoverTrusted(
      new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration), table)
}
