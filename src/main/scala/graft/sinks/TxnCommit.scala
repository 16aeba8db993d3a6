package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Cross-table atomic commit: N staged table versions become visible
  * all-or-nothing. The single-table swap ([[DirSwap]]) keeps ONE
  * table crash-consistent; pipelines routinely move several stores in
  * one logical step — a fact table and its maintained aggregate
  * state, a split written as clean + quarantine, a promote touching
  * two zones — where a crash between per-table swaps would leave
  * readers a MIXED version set. This is the lake-level analogue of a
  * multi-table transaction log commit (what Delta/Iceberg do inside
  * one table's log, lifted across tables), built on the per-table
  * [[DirSwap]] plus one journal.
  *
  * Protocol (journaled two-phase):
  *
  *  1. PREPARE — every result writes to `<table>__txstage`
  *     (overwrite; `_SUCCESS` marks each staging complete). Nothing
  *     visible changes; a crash here leaves only dead stagings.
  *  2. COMMIT POINT — the table list is journaled at
  *     `<journalDir>/txn.journal`, then `<journalDir>/txn.commit` is
  *     created. The marker create is the atomic instant: before it
  *     the transaction rolls back, after it it rolls forward.
  *  3. APPLY — per table, a [[DirSwap]] commit (live aside at
  *     `<table>__txprev`, staging promoted, aside dropped).
  *  4. CLEANUP — the marker and the journal are removed.
  *
  * Each staging's `_SUCCESS` is its [[DirSwap]] seal, but the journal
  * marker, not the single-table swap, decides whether it is
  * honoured. [[recover]] (idempotent; also run at the head of every
  * [[commitAll]]) heals any predecessor: journal with marker → every
  * table still staged finishes its [[DirSwap]] commit, whether or not
  * its live version was already moved aside, and every other table's
  * recovery drops a finished swap's aside copy; journal without
  * marker → every staging is deleted FIRST, then the same recovery
  * can only restore or drop the aside copy.
  *
  * Readers see the same brief per-table unavailability window the
  * single-table swap has (a rename pair), but never a committed
  * partial SET of tables. Writers must serialize externally (one
  * committer per journalDir) — same contract as every sink here.
  * The filesystem contract is [[DirSwap]]'s; it adds that every table
  * lives on the SAME filesystem as the journal, which [[commitAll]]
  * and [[recover]] enforce by URI.
  */
object TxnCommit {

  private val Swap = DirSwap("__txstage", "__txprev", "_SUCCESS")

  private def journalPath(dir: String) = new Path(dir, "txn.journal")
  private def markerPath(dir: String) = new Path(dir, "txn.commit")

  private def fsOf(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Renames cannot cross filesystems, and the commit-point ordering
    * only means something when journal and tables share one: resolve
    * every table's filesystem and require it IS the journal's. */
  private def requireOneFilesystem(
      spark: SparkSession,
      journalFs: FileSystem,
      journalDir: String,
      tables: Seq[String]): Unit =
    tables.foreach { t =>
      val tfs = fsOf(spark, t)
      require(tfs.getUri == journalFs.getUri,
        s"txn table $t resolves to filesystem ${tfs.getUri}, but the " +
          s"journal at $journalDir is on ${journalFs.getUri} — the " +
          "two-phase swap's renames must all run on ONE rename-atomic " +
          "filesystem")
    }

  /** Writes every (result, tablePath) pair and swaps them in
    * all-or-nothing. `journalDir` must be stable across runs — it is
    * where a successor finds the evidence to heal a crash. */
  def commitAll(
      spark: SparkSession,
      staged: Seq[(DataFrame, String)],
      journalDir: String): Unit = {
    require(staged.nonEmpty, "commitAll needs at least one table")
    require(staged.map(_._2).distinct.length == staged.length,
      "commitAll: duplicate table path in one transaction")
    recover(spark, journalDir)
    val fs = fsOf(spark, journalDir)
    requireOneFilesystem(spark, fs, journalDir, staged.map(_._2))

    // PREPARE: all stagings complete before anything becomes visible
    staged.foreach { case (df, table) =>
      df.write.mode(SaveMode.Overwrite).parquet(Swap.staging(table))
    }

    // COMMIT POINT
    fs.mkdirs(new Path(journalDir))
    val j = fs.create(journalPath(journalDir), true)
    try j.write(staged.map(_._2).mkString("\n").getBytes("UTF-8"))
    finally j.close()
    fs.create(markerPath(journalDir), false).close()

    staged.foreach { case (_, table) => Swap.commit(fs, table) }
    fs.delete(markerPath(journalDir), false)
    fs.delete(journalPath(journalDir), false)
  }

  /** Heals a crashed transaction at `journalDir`: no journal → no-op;
    * journal without the commit marker → ROLL BACK (every table
    * restored from its prev if its swap had started, stagings
    * dropped); journal + marker → ROLL FORWARD (finish every swap).
    * Safe to call any number of times. */
  def recover(spark: SparkSession, journalDir: String): Unit = {
    val fs = fsOf(spark, journalDir)
    val jp = journalPath(journalDir)
    if (!fs.exists(jp)) return
    val in = fs.open(jp)
    val tables =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim).filter(_.nonEmpty).toList
      finally in.close()
    requireOneFilesystem(spark, fs, journalDir, tables)
    val committed = fs.exists(markerPath(journalDir))
    tables.foreach { table =>
      val staged = fs.exists(new Path(Swap.staging(table)))
      if (committed && staged) Swap.commit(fs, table)
      else {
        if (staged) fs.delete(new Path(Swap.staging(table)), true)
        Swap.recover(fs, table)
      }
    }
    if (committed) fs.delete(markerPath(journalDir), false)
    fs.delete(jp, false)
    ()
  }
}
