package graft.sinks

import graft.functions.BloomSketch
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted per-file bloom index for a lake table column — the
  * membership-side sibling of [[StatsIndex]]: where stats answer
  * range questions ("which files can hold values in [a,b]"), the
  * bloom answers membership ("is this key anywhere in the table")
  * without scanning it. The payoff surface is
  * [[graft.operators.BloomJoin.antiJoin]]'s dedup-delta-vs-corpus
  * shape: probe a daily delta against the corpus bloom and only the
  * maybe-present fraction pays a join — with the bloom PERSISTED
  * here, the corpus is not even scanned for the build.
  *
  * Layout: one row per data file at `<table>/_bloom` (underscore →
  * invisible to table scans), each carrying that file's bloom over
  * the indexed column. ALL file blooms share one (m, k) — fixed at
  * [[collect]] time from the expected TABLE cardinality — because
  * bloom bit-OR is only meaningful across identical geometry; that
  * is what makes the index MERGEABLE: [[mergedBloom]] ORs the file
  * blooms into the table bloom, bit-identical to a from-scratch
  * build (spec-pinned), and [[refresh]] is pure file-set arithmetic
  * (new files get per-file blooms, vanished files' rows drop, old
  * rows carry verbatim — file immutability again).
  *
  * 100 TB posture: collect is the one bootstrap scan; refresh scans
  * only new files (poisoned-row spec); mergedBloom is a driver-side
  * OR over |files| × (m/8) bytes — for a 12 MB bloom and 10k files
  * that is a 120 GB pull, so at that scale OR the file blooms in an
  * executor reduce instead: the stored geometry already permits it
  * (`binaryOr` is an associative reduce); the current driver OR is
  * the |files| ≤ thousands regime.
  */
object BloomIndex {

  private[graft] def indexPath(table: String): String = s"$table/_bloom"

  private[sinks] def dataFilePaths(spark: SparkSession, table: String): Seq[String] = {
    val dir = new Path(table)
    // shares SidecarMaintenance's opt-in walk counter so specs can
    // pin "this refresh never listed the corpus" (the planAppend
    // path); a no-op unless a spec registered this root
    SidecarMaintenance.countWalk(dir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def visible(p: Path): Boolean =
      !p.getName.startsWith("_") && !p.getName.startsWith(".")
    fs.listStatus(dir).toSeq.filter(s => visible(s.getPath)).flatMap { s =>
      if (s.isDirectory)
        fs.listStatus(s.getPath).toSeq
          .filter(f => f.isFile && visible(f.getPath))
          .map(_.getPath.toString)
      else Seq(s.getPath.toString)
    }.sorted
  }

  private def bloomsOf(
      spark: SparkSession,
      table: String,
      paths: Seq[String],
      column: String,
      numBits: Int,
      numHashes: Int): DataFrame =
    ParquetMemo.readFiles(spark, table, paths)
      .select(col("_metadata.file_path").as("file"),
        when(col(column).isNotNull, xxhash64(col(column))).as("__h"))
      .groupBy("file")
      .agg(BloomSketch.sketch(col("__h"), numBits, numHashes).as("bloom"))

  /** Full (re)build: per-file blooms sized once for the TABLE's
    * expected cardinality — every file shares the geometry so the
    * index stays OR-mergeable. */
  def collect(
      spark: SparkSession,
      table: String,
      column: String,
      expectedItems: Long,
      fpp: Double = 0.01): Unit = {
    val (m, k) = BloomSketch.sized(expectedItems, fpp)
    SidecarMaintenance.rebuildPerFile(spark, table, indexPath(table), refresh = false)(
      (files, _) => bloomsOf(spark, table, files, column, m, k))
  }

  /** Incremental maintenance: new files gain per-file blooms at the
    * EXISTING geometry (read off a stored row, so collect-time sizing
    * is sticky), vanished files' rows drop, old rows carry verbatim.
    * The new index publishes through the same recoverable swap as the
    * ANN sidecars ([[SidecarMaintenance.rebuildPerFile]]), healed on
    * entry. */
  def refresh(spark: SparkSession, table: String, column: String): Unit = {
    val idx = indexPath(table)
    SidecarMaintenance.rebuildPerFile(spark, table, idx, refresh = true,
      missing = Some(s"no bloom index at $idx — bootstrap with collect() (sizing lives there)")) {
      (files, existing) =>
        val sample = existing.get.select("bloom").head().getAs[Array[Byte]](0)
        val (k, words) = BloomSketch.fromBytes(sample)
        bloomsOf(spark, table, files, column, words.length * 64, k)
    }
  }

  /** The table bloom: bit-OR of every file bloom — bit-identical to
    * a from-scratch build at the same geometry, because OR is the
    * sketch's merge. Driver-side fold over one row per file. */
  def mergedBloom(spark: SparkSession, table: String): Array[Byte] = {
    val rows = spark.read.parquet(indexPath(table))
      .select("bloom").collect().map(_.getAs[Array[Byte]](0))
    require(rows.nonEmpty, s"empty bloom index under $table")
    val (k0, acc) = BloomSketch.fromBytes(rows.head)
    rows.tail.foreach { b =>
      val (k, words) = BloomSketch.fromBytes(b)
      require(k == k0 && words.length == acc.length,
        "bloom index geometry drift — rebuild with collect()")
      var i = 0
      while (i < acc.length) { acc(i) |= words(i); i += 1 }
    }
    BloomSketch.toBytes(acc, k0)
  }
}
