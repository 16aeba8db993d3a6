package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. */
object SparkTestSession {
  lazy val spark: SparkSession = graft.core.Sessions.local(4)

  /** The one directory the specs' scratch directories live under,
    * removed when the (forked) test JVM exits. It is named by pid, not
    * by a random suffix, so spec paths stay as short as a plain temp
    * directory's: a plan prints at most 100 characters of a scan's
    * location. */
  private lazy val root: Path = {
    val r = Paths.get(sys.props("java.io.tmpdir"), s"graft-specs-${ProcessHandle.current.pid}")
    FileUtils.deleteQuietly(r.toFile) // left by a killed JVM that had this pid
    Files.createDirectory(r)
    sys.addShutdownHook(FileUtils.deleteQuietly(r.toFile))
    r
  }
  private val made = new AtomicInteger

  /** A fresh scratch directory named `name-<n>` under [[root]]. */
  def tmp(name: String): Path = Files.createDirectory(root.resolve(s"$name-${made.incrementAndGet()}"))
}
