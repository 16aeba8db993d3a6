package graft

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Crash injection for the commit protocols: the local filesystem
  * under its own `faultfs` scheme (modelled on ScaleCheck's
  * `CountingFs`) that throws on the k-th mutating call — `rename`,
  * `create` or `delete` — touching a path below an armed root. A
  * call that throws never reached the disk, so the state left behind
  * is exactly the state of a writer killed between two calls.
  *
  * Calls inside Spark's `_temporary` task-attempt dirs are not
  * counted: they are the parquet commit protocol's own business, and
  * a staging write that dies there is the same crash state as one
  * that dies on its `_SUCCESS` create, which IS counted.
  *
  * Register with `fs.faultfs.impl`; state is JVM-global because
  * Hadoop caches one instance per scheme. */
class FaultFs extends RawLocalFileSystem {
  override def getScheme: String = "faultfs"
  override def getUri: java.net.URI = java.net.URI.create("faultfs:///")

  // plain statuses: the local ones load their permissions lazily
  // through a `file:` URI, which fails under this scheme (`listFiles`)
  override def listStatus(p: Path): Array[FileStatus] =
    super.listStatus(p).map(s => new FileStatus(s.getLen, s.isDirectory,
      s.getReplication, s.getBlockSize, s.getModificationTime, s.getPath))

  override def rename(src: Path, dst: Path): Boolean = {
    FaultFs.tick("rename", src, dst); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    FaultFs.tick("delete", p); super.delete(p, recursive)
  }
  override def create(p: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FaultFs.tick("create", p)
    super.create(p, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(p: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    FaultFs.tick("create", p)
    super.create(p, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(p: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    FaultFs.tick("create", p)
    super.createNonRecursive(p, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
}

object FaultFs {
  @volatile private var root: String = null
  @volatile private var failAt = Long.MaxValue
  @volatile private var only: String => Boolean = _ => true
  private val seen = new java.util.concurrent.atomic.AtomicLong
  private val log = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Count mutating calls below the local directory `localRoot` and
    * fail the `k`-th. With `filter`, only the calls whose [[calls]]
    * entry it accepts are counted. */
  def arm(localRoot: String, k: Long, filter: String => Boolean = _ => true): Unit = {
    seen.set(0); log.clear(); failAt = k; only = filter; root = localRoot.stripSuffix("/") + "/"
  }

  /** Stop counting and injecting. */
  def disarm(): Unit = { root = null; failAt = Long.MaxValue }

  /** Calls counted since the last [[arm]]. */
  def counted: Long = seen.get

  /** The counted calls since the last [[arm]], in order, each as
    * `op path` or `rename src -> dst` (local paths). */
  def calls: Seq[String] = {
    import scala.jdk.CollectionConverters._
    log.asScala.toSeq
  }

  private def tick(op: String, paths: Path*): Unit = {
    val r = root
    val local = paths.map(p => Option(p.toUri.getPath).getOrElse("") + "/")
    val call = s"$op ${local.map(_.stripSuffix("/")).mkString(" -> ")}"
    if (r != null && local.exists(_.startsWith(r)) &&
        !local.exists(_.contains("/_temporary")) && only(call)) {
      log.add(call)
      if (seen.incrementAndGet() == failAt)
        throw new java.io.IOException(s"injected fault at call #$failAt: $op ${paths.mkString(" -> ")}")
    }
  }
}
