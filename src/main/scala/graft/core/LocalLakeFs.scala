package graft.core

import java.io.{DataOutput, File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, NoSuchFileException, Paths}
import java.nio.file.attribute.{BasicFileAttributes, GroupPrincipal, PosixFilePermissions, UserPrincipal}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's checksummed filesystem for `file:` (`fs.file.impl`).
  *
  * Without libhadoop, Hadoop's `RawLocalFileSystem` forks a process
  * for every `chmod` (each create, its `.crc`, each `mkdirs`), for the
  * permission, owner and group of every status that is asked for them
  * (`ls -ld`: each file a `listFiles` returns) and for every link
  * check of a FileContext rename (`readlink`). [[LocalLakeFs.Raw]]
  * makes the same system calls in-process; bytes on disk, `.crc`
  * files, permission bits and rename semantics stay as they are. */
class LocalLakeFs extends LocalFileSystem(new LocalLakeFs.Raw)

object LocalLakeFs {

  /** `RawLocalFileSystem` without the forks:
    *  - `setPermission` is one `chmod(2)` with the same mode bits. A
    *    sticky bit, a path whose current mode has a setuid, setgid or
    *    sticky bit (`chmod 0755` keeps a directory's setgid bit, a
    *    plain `chmod(2)` would clear it) or a store without POSIX
    *    attributes goes to `super`.
    *  - `getFileStatus` and `listStatus` stat once and return a
    *    [[Status]] whose permission, owner and group load lazily.
    *  - `getFileLinkStatus` asks `Files.isSymbolicLink` about the file
    *    `super` would hand `readlink`; only a real link goes to
    *    `super`. */
  class Raw extends RawLocalFileSystem {
    private var blockSize = 0L

    override def initialize(uri: URI, conf: Configuration): Unit = {
      super.initialize(uri, conf)
      blockSize = getDefaultBlockSize(new Path(uri))
    }

    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val f = pathToFile(p).toPath
      // 0x1ff = 0777, 0xe00 = 07000 (setuid, setgid, sticky)
      val mode = try Some(Files.getAttribute(f, "unix:mode").asInstanceOf[Int])
        catch { case _: UnsupportedOperationException | _: IllegalArgumentException => None }
      // without a sticky bit the symbolic form is the nine rwx bits
      if ((permission.toShort & ~0x1ff) == 0 && mode.exists(m => (m & 0xe00) == 0))
        Files.setPosixFilePermissions(f, PosixFilePermissions.fromString(permission.toString))
      else super.setPermission(p, permission)
    }

    override def getFileStatus(p: Path): FileStatus = {
      val f = pathToFile(p)
      val a =
        try Files.readAttributes(f.toPath, classOf[BasicFileAttributes])
        catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $p does not exist") }
      new Status(a.size, a.isDirectory, blockSize, a.lastModifiedTime.toMillis,
        a.lastAccessTime.toMillis, new Path(f.getPath).makeQualified(getUri, getWorkingDirectory))
    }

    // a directory's children already come through getFileStatus
    override def listStatus(p: Path): Array[FileStatus] = {
      val f = pathToFile(p)
      if (f.exists && !f.isDirectory) Array(getFileStatus(p)) else super.listStatus(p)
    }

    override def getFileLinkStatus(p: Path): FileStatus =
      if (Files.isSymbolicLink(new File(p.toString).toPath)) super.getFileLinkStatus(p)
      else getFileStatus(p)
  }

  /** A local status whose permission, owner and group load on first
    * use from one `stat` of the path, as the stock status reports
    * them: `ls -ld` of the path's canonical form (links resolved),
    * mode with the sticky bit, names or numeric ids. Serializable; a
    * status shipped before its first use loads where it is used. */
  final class Status(len: Long, dir: Boolean, blockSize: Long, mtime: Long, atime: Long, path: Path)
      extends FileStatus(len, dir, 1, blockSize, mtime, atime, null, null, null, path) {
    @volatile private var loaded = false

    private def load(): Unit = synchronized {
      if (!loaded) {
        try {
          // the posix view drops the sticky bit, the unix view keeps it
          val a = Files.readAttributes(Paths.get(getPath.toUri), "unix:mode,owner,group")
          setPermission(new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort)) // 01777
          setOwner(a.get("owner").asInstanceOf[UserPrincipal].getName)
          setGroup(a.get("group").asInstanceOf[GroupPrincipal].getName)
        } catch {
          case e: IOException =>
            throw new RuntimeException(s"Error while reading the permissions of $getPath", e)
        }
        loaded = true
      }
    }

    override def getPermission: FsPermission = { if (!loaded) load(); super.getPermission }
    override def getOwner: String = { if (!loaded) load(); super.getOwner }
    override def getGroup: String = { if (!loaded) load(); super.getGroup }
    override def write(out: DataOutput): Unit = { if (!loaded) load(); super.write(out) }
  }

  /** FileContext's `file:` (`fs.AbstractFileSystem.file.impl`, which
    * FileContext reads instead of `fs.file.impl`): Hadoop's `LocalFs`
    * over [[Raw]]. */
  class Afs(uri: URI, conf: Configuration) extends ChecksumFs(new RawAfs(conf))

  /** Hadoop's `RawLocalFs` (package-private constructors) over [[Raw]]. */
  class RawAfs(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new Raw, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
