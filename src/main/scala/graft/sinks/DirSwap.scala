package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}

/** The whole-directory commit primitive every sink here publishes
  * through: a writer fills a STAGING sibling of the live directory,
  * then [[commit]] swaps it in; [[recover]], run on entry by every
  * writer, heals whatever a crash left behind. K2's write-new-then-
  * swap (the Delta MERGE stand-in, reference `cloud_utils.py:478-532`),
  * state maintenance, compaction, index publishes and each table of
  * a [[TxnCommit]] are all this one protocol, differing only in the
  * on-disk names each caller passes in:
  *
  *  - `<live><stagingSuffix>` — the new version, filled by the caller;
  *  - `<live><asideSuffix>` — the old version while the swap runs;
  *  - `seal` — a file inside staging marking it COMPLETE: an unsealed
  *    staging directory is a torn build that recovery discards. A
  *    seal is either Spark's own `_SUCCESS` (the data job writes it,
  *    and the promoted directory keeps it, as any parquet output
  *    does) or a graft marker that [[commit]] creates and the
  *    promote removes again.
  *
  * [[commit]]: seal staging (last write into it), move live aside,
  * promote staging, then delete the aside copy or rename it to a
  * retained snapshot. Moving live aside is the COMMIT POINT. The
  * reachable crash states and [[recover]]'s one move for each:
  *
  *  - live missing, staging sealed: roll forward (promote it);
  *  - live missing, otherwise: delete staging, restore any aside copy;
  *  - live present: delete the leftovers. A sealed staging beside a
  *    live directory was built from a live version that another writer
  *    (a purge, a streaming append — writers that do not run this
  *    recovery) may have moved on since; promoting it would undo that
  *    writer's change.
  *
  * `rollForwardOverLive` moves the commit point to the seal for
  * layouts whose every writer runs [[recover]] on entry (the published
  * sidecar indexes): there live cannot have changed since the seal,
  * so a sealed staging is promoted over a live directory too.
  *
  * After [[recover]] returns, only the live directory (or nothing, for
  * a table never written) remains, so a writer may fill staging
  * without clearing it first. A staging directory belongs to exactly
  * one layout; where two layouts share names on one path (the
  * whole-table and per-partition TRUSTED swaps), their writers tell
  * the leftovers apart before calling [[recover]].
  *
  * FILESYSTEM CONTRACT — the one place it is stated: the protocol's
  * atomicity rests on (1) atomic directory rename, (2) atomic
  * marker-file create, and (3) live, staging and aside on ONE
  * filesystem (renames cannot cross filesystems). HDFS, the local FS
  * and Azure ABFS qualify. On object stores whose "rename" is
  * copy+delete (plain S3/GCS) the crash states above stop being the
  * only reachable ones and the recovery reasoning does not hold —
  * keep the lake on a rename-atomic store, or an atomic layer over
  * one, there. Writers serialize externally (one writer per live
  * directory); readers see a brief unavailability window between the
  * two renames, never a torn directory.
  */
private[graft] final case class DirSwap(
    stagingSuffix: String,
    asideSuffix: String,
    seal: String,
    rollForwardOverLive: Boolean = false) {

  def staging(live: String): String = live + stagingSuffix

  /** The data job's own completion marker seals without help. */
  private def jobSealed = seal == "_SUCCESS"

  /** Publish the filled `staging(live)` over `live`. With `retainAs`,
    * the replaced version survives at that path instead of being
    * deleted (a crash before that last rename loses only the
    * snapshot — recovery deletes the aside copy). Also finishes a
    * swap whose commit point an outer protocol already decided
    * ([[TxnCommit]]'s journal marker), from any crash state. */
  def commit(fs: FileSystem, live: String, retainAs: Option[String] = None): Unit = {
    val st = new Path(staging(live))
    require(fs.exists(st), s"nothing staged at $st to publish")
    if (!jobSealed) fs.create(new Path(st, seal), true).close()
    promote(fs, live, retainAs)
  }

  /** Heal any interrupted [[commit]] around `live` (see the class doc
    * for the states). Returns whether anything was left to heal — so
    * callers holding in-memory views of `live` know to drop them.
    * Two existence checks when nothing needs healing. */
  def recover(fs: FileSystem, live: String): Boolean = {
    val st = new Path(staging(live))
    val aside = new Path(live + asideSuffix)
    val staged = fs.exists(st)
    val parked = fs.exists(aside)
    if (staged || parked) {
      val hasLive = fs.exists(new Path(live))
      if (staged && (!hasLive || rollForwardOverLive) && fs.exists(new Path(st, seal)))
        promote(fs, live, None)
      else {
        if (staged) fs.delete(st, true)
        if (parked) {
          if (hasLive) fs.delete(aside, true)
          else rename(fs, aside, new Path(live), "restore")
        }
      }
    }
    staged || parked
  }

  private def promote(fs: FileSystem, live: String, retainAs: Option[String]): Unit = {
    val target = new Path(live)
    val aside = new Path(live + asideSuffix)
    val hadLive = fs.exists(target)
    if (hadLive) {
      fs.delete(aside, true) // debris of an earlier swap, never the old version
      rename(fs, target, aside, "move aside")
    }
    rename(fs, new Path(staging(live)), target, "promote")
    if (!jobSealed) fs.delete(new Path(target, seal), false)
    retainAs match {
      case Some(snap) if hadLive => rename(fs, aside, new Path(snap), "retain")
      case _ => fs.delete(aside, true)
    }
  }

  private def rename(fs: FileSystem, from: Path, to: Path, step: String): Unit =
    if (!fs.rename(from, to))
      sys.error(s"directory swap failed: could not $step $from -> $to")
}
