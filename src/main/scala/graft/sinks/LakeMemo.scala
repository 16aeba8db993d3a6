package graft.sinks

import org.apache.hadoop.fs.FileStatus

/** The one in-JVM memo of the lake's read paths, with one trust rule:
  * a value is served only for the exact listing it was computed from.
  *
  * Its only lookup is (slot, directory, signature) → value, where the
  * signature is the sorted path:length:mtime of the file statuses the
  * read has ALREADY listed for its own planning ([[signature]]). A
  * lookup therefore makes no filesystem call of its own, and nothing
  * ever has to be invalidated: a publish, a commit, a purge or an
  * out-of-band rewrite that changes a file's name, length or mtime
  * changes the signature, and the next read misses. Each (slot,
  * directory) keeps only its latest entry, so the memo is bounded by
  * the directories read, not by the generations they went through.
  *
  * What is memoized, and under which listing:
  *  - a parquet footer's Spark schema ([[ParquetMemo]]), under the
  *    status of the footer file inference touches, taken from the
  *    read's own file index;
  *  - an index metadata table's rows, under the listing of its
  *    directory read;
  *  - a sidecar's coverage records, validated against the sidecar
  *    listing or not ([[SidecarMaintenance]]), under the listing of
  *    its `_coverage` log.
  *
  * The one adversary this cannot see is an out-of-band rewrite that
  * keeps a file's name, length AND mtime — the same adversary that
  * defeats any manifest-based table format.
  */
private[graft] object LakeMemo {

  /** A kind of value; one entry per directory per slot. */
  final class Slot[V]

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(Slot[_], String), (String, Any)]()

  /** Sorted path:length:mtime of `statuses` — the identity of what a
    * listing saw. */
  def signature(statuses: Iterable[FileStatus]): String =
    statuses.iterator
      .map(s => s"${s.getPath}:${s.getLen}:${s.getModificationTime}")
      .toSeq.sorted.mkString("\n")

  /** The value stored for `dir` in `slot` under exactly `sig`. */
  def get[V](slot: Slot[V], dir: String, sig: String): Option[V] =
    Option(entries.get((slot, dir))).collect { case (`sig`, v) => v.asInstanceOf[V] }

  /** Store `v` for `dir` in `slot` under `sig`, replacing any older
    * entry; returns `v`. */
  def put[V](slot: Slot[V], dir: String, sig: String, v: V): V = {
    entries.put((slot, dir), (sig, v))
    v
  }

  /** [[get]], else `compute` stored under `sig`. */
  def apply[V](slot: Slot[V], dir: String, sig: String)(compute: => V): V =
    get(slot, dir, sig).getOrElse(put(slot, dir, sig, compute))

  /** Test hook: simulate a fresh driver JVM. */
  private[graft] def clear(): Unit = entries.clear()
}
