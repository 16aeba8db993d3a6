package graft.sinks

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

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
  * one layout. Commits that replace some FILES of a directory rather
  * than the whole directory go through the file-level sibling,
  * [[FileDelta]].
  *
  * FILESYSTEM CONTRACT — the one place it is stated, for this
  * protocol and [[FileDelta]]: atomicity rests on (1) atomic
  * directory and file rename, (2) atomic marker-file create, and
  * (3) live, staging and aside on ONE filesystem (renames cannot
  * cross filesystems). HDFS, the local FS
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
    * for the states). Two existence checks when nothing needs
    * healing. */
  def recover(fs: FileSystem, live: String): Unit = {
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

/** The file-level sibling of [[DirSwap]]: add files to a directory
  * and delete others as ONE commit, leaving every other file in place.
  * [[Purge]]'s rewrite, the per-partition TRUSTED writers and
  * [[SidecarMaintenance.commitDelta]] are all this protocol, differing
  * only in the names each passes in:
  *
  *  - `<dir>/<stagingName>` — hidden staging, filled by the caller
  *    with the new files laid out as they land: data files at their
  *    partition-relative paths, log entries inside a hidden directory
  *    (a staged `_coverage/delta-7` lands as `<dir>/_coverage/delta-7`);
  *  - `<dir>/<journalName>` — the doomed files, one path a line;
  *  - `marker` — created inside staging; its create is the COMMIT POINT.
  *
  * [[commit]] writes the journal, creates the marker, then finishes:
  * (1) staged data files move in, (2) staged log entries move in,
  * (3) doomed files are deleted, (4) journal, then staging, go. Each
  * step is move-if-absent or delete-if-present, so a replayed finish
  * does nothing twice. The order is snapshot isolation for readers
  * that resolve their file set from a log kept in the directory
  * ([[SidecarMaintenance.snapshotRead]]): until (2) the logged files
  * are all present and the new ones unreferenced; after it the new
  * set is complete, and only then do doomed files go.
  *
  * [[recover]], run on entry by every writer of the directory:
  *  - journal and marker: finish the commit;
  *  - journal, no marker: roll back — nothing was moved or deleted
  *    before the marker, and the journal (a multi-byte write, so not
  *    atomic) was written before it, so a torn journal never rolls
  *    forward;
  *  - staging alone: drop it.
  * Two existence checks when nothing needs healing. The
  * [[DirSwap]] FILESYSTEM CONTRACT applies; writers serialize
  * externally, and readers listing the directory see a torn view
  * only while step (1)-(3) runs.
  */
private[graft] final case class FileDelta(
    stagingName: String,
    journalName: String,
    marker: String) {

  def staging(dir: String): Path = new Path(dir, stagingName)
  def journal(dir: String): Path = new Path(dir, journalName)

  /** Commit the filled staging of `dir`, deleting `doomed` (absolute
    * file paths). `atCommitPoint` runs once the marker exists, before
    * anything moves. */
  def commit(
      fs: FileSystem,
      dir: String,
      doomed: Seq[String],
      atCommitPoint: () => Unit = () => ()): Unit = {
    val out = fs.create(journal(dir))
    out.write(doomed.mkString("\n").getBytes("UTF-8"))
    out.close()
    fs.create(new Path(staging(dir), marker)).close()
    atCommitPoint()
    finish(fs, dir, doomed)
  }

  /** Heal an interrupted [[commit]] in `dir` (see the class doc).
    * `beforeRollForward` gets the staging directory of a committed
    * commit before it is finished. */
  def recover(
      fs: FileSystem,
      dir: String,
      beforeRollForward: Path => Unit = _ => ()): Unit = {
    val j = journal(dir)
    val st = staging(dir)
    if (fs.exists(j)) {
      if (fs.exists(new Path(st, marker))) {
        beforeRollForward(st)
        val in = fs.open(j)
        val doomed =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            .split("\n").filter(_.nonEmpty).toSeq
          finally in.close()
        finish(fs, dir, doomed)
      } else {
        fs.delete(st, true)
        fs.delete(j, false)
      }
    } else if (fs.exists(st)) fs.delete(st, true)
  }

  private def finish(fs: FileSystem, dir: String, doomed: Seq[String]): Unit = {
    val st = staging(dir)
    val root = new Path(dir)
    // top-level hidden FILES (the marker, the job's `_SUCCESS`) stay
    val (data, logs) = fs.listStatus(st).toSeq.partition(s => FileDelta.visible(s.getPath))
    data.foreach(moveIn(fs, _, root))
    logs.filter(_.isDirectory).foreach(moveIn(fs, _, root))
    doomed.foreach { f =>
      val p = new Path(f)
      if (fs.exists(p)) fs.delete(p, false)
    }
    fs.delete(journal(dir), false)
    fs.delete(st, true)
  }

  /** Move the staged `src` (a file, or a directory of them) to the
    * same name under `destDir`. */
  private def moveIn(fs: FileSystem, src: FileStatus, destDir: Path): Unit = {
    val dest = new Path(destDir, src.getPath.getName)
    if (src.isDirectory) {
      fs.mkdirs(dest)
      fs.listStatus(src.getPath).filter(s => FileDelta.visible(s.getPath))
        .foreach(moveIn(fs, _, dest))
    } else if (!fs.exists(dest) && !fs.rename(src.getPath, dest))
      sys.error(s"file delta failed: could not move ${src.getPath} -> $dest")
  }
}

private[graft] object FileDelta {

  /** Spark's hidden-path rule: `_`- and `.`-prefixed names are hidden,
    * except partition directories (names containing `=`, e.g. `__cell=3`). */
  def visible(p: Path): Boolean = {
    val n = p.getName
    n.contains("=") || (!n.startsWith("_") && !n.startsWith("."))
  }
}
