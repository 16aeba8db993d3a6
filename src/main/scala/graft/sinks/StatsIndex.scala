package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-file min/max statistics index for a lake table — the
  * metadata layer that turns "scan 100 TB and filter" into "read the
  * 0.1% of files whose value range can contain a match", the same
  * add-file-stats design Delta Lake and Iceberg manifests use,
  * re-expressed over plain parquet directories.
  *
  * The index is one tiny parquet table at `<table>/_stats` (the
  * leading underscore makes Spark's file index ignore it, exactly
  * like `_spark_metadata` / `_SUCCESS`, so plain reads of the table
  * are untouched — spec-asserted): one row per data file with its
  * row count and, per indexed column, the non-null count and exact
  * min/max. Because lake files are IMMUTABLE (every writer in this
  * engine creates new files and swaps directories), a file's stats
  * row never goes stale — maintenance is purely set arithmetic on
  * file names, which is what [[refresh]] does.
  *
  * Why not parquet footer stats? Footers hold the same min/max, but
  * reading 100k footers is 100k round-trips at plan time — the
  * engine-side index is ONE small parquet read, and survives on
  * object stores where footer seeks dominate. (The footers still
  * serve row-group-level skipping inside each file the index lets
  * through; the two layers compose.)
  *
  * 100 TB posture: [[collect]] is one full scan (the bootstrap you
  * pay once); [[refresh]] scans ONLY files not yet indexed — an
  * append-heavy table pays O(new files) per cycle, proven by the
  * poisoned-row spec. [[prunedRead]]'s driver-side work is a filter
  * over the stats table collected to a file list — the same
  * O(#files) listing any parquet read already does. File-level
  * pruning is conservative (interval overlap), and the row-level
  * predicate is re-applied after the read, so false positives cost
  * I/O, never correctness.
  */
object StatsIndex {

  /** Underscore prefix: invisible to table scans, like `_spark_metadata`. */
  private[graft] def indexPath(table: String): String = s"$table/_stats"

  /** The stats frame for the given files (read directly so
    * `_metadata.file_path` tags each row's source file). */
  private def statsOf(
      spark: SparkSession,
      table: String,
      paths: Seq[String],
      cols: Seq[String]): DataFrame =
    // basePath keeps hive partition columns resolvable when files sit
    // one directory level down — a partition column is then indexable
    // like any other (min == max per file).
    spark.read.option("basePath", table).parquet(paths: _*)
      .select(col("_metadata.file_path").as("file") +: cols.map(col): _*)
      .groupBy("file")
      .agg(
        count(lit(1)).as("rows"),
        cols.flatMap(c => Seq(
          count(col(c)).as(s"nn_$c"),
          min(col(c)).as(s"min_$c"),
          max(col(c)).as(s"max_$c"))): _*)

  /** Full (re)build of the index: one scan of the table, published
    * through the recoverable swap of [[SidecarMaintenance.rebuild]]. */
  def collect(spark: SparkSession, table: String, cols: Seq[String]): Unit =
    SidecarMaintenance.rebuildPerFile(spark, table, indexPath(table), refresh = false)(
      (files, _) => statsOf(spark, table, files, cols))

  /** Incremental maintenance: stats are collected ONLY for files not
    * yet in the index; rows for vanished files (compaction, merge
    * swap) are dropped; surviving rows are carried verbatim — file
    * immutability makes that sound, and the poisoned-row spec proves
    * no old file is rescanned. Cost is O(new files) + one tiny index
    * rewrite ([[SidecarMaintenance.rebuildPerFile]]). Without an
    * index it is [[collect]]. */
  def refresh(spark: SparkSession, table: String, cols: Seq[String]): Unit =
    SidecarMaintenance.rebuildPerFile(spark, table, indexPath(table), refresh = true)(
      (files, _) => statsOf(spark, table, files, cols))

  /** Files whose `[min, max]` interval for `column` can intersect
    * `[lo, hi]` — all-null files (`min`/`max` NULL) are pruned, which
    * is exact for any null-rejecting range predicate. Returned as a
    * driver-side list because that is what a read needs. */
  private[graft] def candidateFiles(
      spark: SparkSession,
      table: String,
      column: String,
      lo: Column,
      hi: Column): Seq[String] =
    spark.read.parquet(indexPath(table))
      .where(col(s"max_$column") >= lo && col(s"min_$column") <= hi)
      .select("file").collect().map(_.getString(0)).toSeq

  /** Range read through the index: scan only files whose stats
    * interval overlaps `[lo, hi]`, then re-apply the row-level
    * predicate (file-level pruning is conservative; rows outside the
    * range inside a candidate file must still drop). An empty
    * candidate set short-circuits to an empty frame with the table's
    * schema. Identity contract: equals the full table filtered by
    * the same BETWEEN — spec- and oracle-graded. */
  def prunedRead(
      spark: SparkSession,
      table: String,
      column: String,
      lo: Column,
      hi: Column): DataFrame = {
    val files = candidateFiles(spark, table, column, lo, hi)
    val schema = spark.read.parquet(table).schema
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else
      spark.read.option("basePath", table).schema(schema).parquet(files: _*)
        .where(col(column) >= lo && col(column) <= hi)
  }
}
