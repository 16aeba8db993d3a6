package graft

import graft.core.{Clock, DatasetRef, LakePaths, LocalLakeFs, ProcessStarts}
import graft.operators.IncrementalPromote
import graft.sinks.{IvfIndex, MergeUpsert}
import graft.streaming.StreamingOps
import java.net.URI
import java.nio.file.{Files, LinkOption, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The engine's `file:` filesystem answers every call exactly as
  * Hadoop's stock local filesystem does, is the one the session
  * uses, and starts no process on the engine's write, stream,
  * promote and refresh paths. */
class LocalLakeFsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val fileUri = URI.create("file:///")

  /** (stock, engine) checksummed local filesystems, uncached. */
  private def pair(): (FileSystem, FileSystem) = {
    val conf = new Configuration()
    val stock = new LocalFileSystem()
    val engine = new LocalLakeFs()
    stock.initialize(fileUri, conf)
    engine.initialize(fileUri, conf)
    (stock, engine)
  }

  private def tmp(tag: String): String =
    SparkTestSession.tmp(s"llfs-$tag").toString

  /** Every mode bit (setuid, setgid and sticky included) of each
    * entry below `dir`, by relative name. */
  private def modes(dir: String): Map[String, Int] = {
    val root = Paths.get(dir)
    Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString ->
        Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int]
    }.toMap
  }

  /** Everything a status reports, its path relative to `root`. */
  private def view(root: String, s: FileStatus) = (
    s.getPath.toUri.getPath.stripPrefix(root), s.getLen, s.isDirectory, s.isSymlink,
    if (s.isSymlink) s.getSymlink.toString else "", s.getReplication, s.getBlockSize,
    s.getModificationTime, s.getAccessTime, s.getPermission, s.getOwner, s.getGroup)

  /** Runs `build` against a fresh directory for each filesystem and
    * requires the same modes on disk, then `check(stock, engine)`
    * reads both trees. */
  private def sameTree(tag: String)(build: (FileSystem, String) => Unit)(
      check: (FileSystem, String, FileSystem, String) => Unit = (_, _, _, _) => ()): Unit = {
    val (stock, engine) = pair()
    val (a, b) = (tmp(s"$tag-stock"), tmp(s"$tag-engine"))
    build(stock, a)
    build(engine, b)
    assert(modes(b) === modes(a))
    check(stock, a, engine, b)
  }

  test("create and mkdirs leave the stock modes: default and explicit, sticky and setgid") {
    sameTree("modes") { (fs, d) =>
      def put(rel: String, perm: Option[FsPermission]): Unit = {
        val p = new Path(s"$d/$rel")
        val out = perm match {
          case Some(pm) => fs.create(p, pm, false, 4096, 1.toShort, 1L << 20, null)
          case None => fs.create(p)
        }
        out.write(rel.getBytes("UTF-8")); out.close()
      }
      put("default.bin", None)
      Seq("700", "755", "640").foreach(m => put(s"f$m.bin", Some(new FsPermission(m))))
      put("f644.bin", Some(new FsPermission("644")))
      assert(fs.mkdirs(new Path(s"$d/dir/default/nested")))
      Seq("700", "755", "640").foreach(m =>
        assert(fs.mkdirs(new Path(s"$d/dir/m$m"), new FsPermission(m))))
      // the fallback: a sticky mode (the umask a mkdirs applies drops
      // it), and a setgid parent whose new child inherits the bit that
      // `chmod 0755` keeps
      assert(fs.mkdirs(new Path(s"$d/sticky")))
      fs.setPermission(new Path(s"$d/sticky"), new FsPermission(Integer.parseInt("1777", 8).toShort))
      Files.createDirectory(Paths.get(s"$d/setgid"))
      Files.setAttribute(Paths.get(s"$d/setgid"), "unix:mode", Integer.parseInt("2775", 8))
      assert(fs.mkdirs(new Path(s"$d/setgid/child"), new FsPermission("755")))
      put("setgid/child/file.bin", Some(new FsPermission("640")))
      fs.setPermission(new Path(s"$d/setgid/child"), new FsPermission("750"))
    } { (stock, a, engine, b) =>
      assert(modes(b)("sticky") === Integer.parseInt("41777", 8))
      assert((modes(b)("setgid/child") & Integer.parseInt("2000", 8)) != 0)
      assert(modes(b).keySet.count(_.endsWith(".crc")) === 6)
      // statuses through getFileStatus, listStatus and listFiles
      def statuses(fs: FileSystem, d: String) = {
        val root = new Path(d)
        val all = fs.listFiles(root, true)
        val listed = Iterator.continually(all).takeWhile(_.hasNext).map(_.next()).toSeq
        (fs.listStatus(root).toSeq ++ fs.listStatus(new Path(s"$d/setgid/child")) ++
          listed ++ Seq("dir", "sticky", "f700.bin", "setgid/child/file.bin")
            .map(r => fs.getFileStatus(new Path(s"$d/$r"))) :+
          fs.listStatus(new Path(s"$d/f640.bin")).head).map(view(d, _))
      }
      val (got, want) = (statuses(engine, b), statuses(stock, a))
      assert(got.map(_._1) === want.map(_._1))
      // times differ between the two trees, and a listing may move a
      // directory's atime; all else agrees
      def strip(v: Seq[(String, Long, Boolean, Boolean, String, Short, Long, Long, Long,
          FsPermission, String, String)], mtime: Boolean) =
        v.map(t => t.copy(_8 = if (mtime) t._8 else 0L, _9 = 0L))
      assert(strip(got, mtime = false) === strip(want, mtime = false))
      assert(got.exists(_._10.getStickyBit))
      // and each status matches the same tree read by the stock filesystem
      assert(strip(statuses(stock, b), mtime = true) === strip(got, mtime = true))
      // a status serialized before its first use loads where it is used
      val f700 = new Path(s"$b/f700.bin")
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(engine.getFileStatus(f700)); out.close()
      val shipped = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes.toByteArray))
        .readObject().asInstanceOf[FileStatus]
      assert(view(b, shipped) === view(b, stock.getFileStatus(f700)))
    }
  }

  test("getFileLinkStatus: a regular file and a symlink, bare and qualified") {
    val (stock, engine) = pair()
    val d = tmp("links")
    Files.write(Paths.get(s"$d/file.txt"), "x".getBytes("UTF-8"))
    Files.createSymbolicLink(Paths.get(s"$d/link"), Paths.get(s"$d/file.txt"))
    Files.createSymbolicLink(Paths.get(s"$d/dangling"), Paths.get(s"$d/missing"))
    for (rel <- Seq("file.txt", "link", "dangling"); q <- Seq("", "file://")) {
      val p = new Path(s"$q$d/$rel")
      def get(fs: FileSystem) =
        try Right(view(d, fs.getFileLinkStatus(p))) catch { case e: java.io.IOException => Left(e.getClass) }
      assert(get(engine) === get(stock), s"$q$d/$rel")
    }
    assert(engine.getFileLinkStatus(new Path(s"$d/link")).isSymlink)
    intercept[java.io.FileNotFoundException](engine.getFileLinkStatus(new Path(s"$d/missing")))
  }

  test("FileContext rename with and without OVERWRITE behaves as the stock LocalFs") {
    def fc(engineFs: Boolean) = {
      val conf = new Configuration()
      if (engineFs) conf.set("fs.AbstractFileSystem.file.impl", classOf[LocalLakeFs.Afs].getName)
      FileContext.getFileContext(fileUri, conf)
    }
    def scenario(c: FileContext, d: String): Seq[Any] = {
      def put(rel: String, body: String): Unit = {
        val out = c.create(new Path(s"$d/$rel"),
          java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE), Options.CreateOpts.createParent())
        out.write(body.getBytes("UTF-8")); out.close()
      }
      def outcome(src: String, dst: String, opts: Options.Rename*): String =
        try { c.rename(new Path(s"$d/$src"), new Path(s"$d/$dst"), opts: _*); "ok" }
        catch { case e: java.io.IOException => e.getClass.getSimpleName }
      put("a", "A"); put("b", "B"); put("c", "C")
      c.mkdir(new Path(s"$d/sub"), FsPermission.getDirDefault, true)
      Seq(
        outcome("a", "a2"),
        outcome("a2", "b"),
        outcome("a2", "b", Options.Rename.OVERWRITE),
        outcome("c", "sub"),
        outcome("c", "sub/c"),
        outcome("missing", "x"),
        modes(d).keySet.toSeq.sorted,
        new String(Files.readAllBytes(Paths.get(s"$d/b")), "UTF-8"))
    }
    val (a, b) = (tmp("fc-stock"), tmp("fc-engine"))
    val engineCtx = fc(engineFs = true)
    assert(engineCtx.getDefaultFileSystem.getClass === classOf[LocalLakeFs.Afs])
    val want = scenario(fc(engineFs = false), a)
    assert(scenario(engineCtx, b) === want)
    assert(modes(b) === modes(a))
    assert(want.last === "A")
  }

  test("the session's file: filesystem is the engine's (the FileSystem cache keys on scheme)") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(fileUri, conf).getClass === classOf[LocalLakeFs])
    assert(new Path(tmp("session")).getFileSystem(spark.sessionState.newHadoopConf())
      .getClass === classOf[LocalLakeFs])
    assert(FileSystem.getLocal(conf).getRaw.getClass === classOf[LocalLakeFs.Raw])
    assert(FileContext.getFileContext(fileUri, conf).getDefaultFileSystem.getClass ===
      classOf[LocalLakeFs.Afs])
  }

  test("no Hadoop filesystem call starts a process on the merge, stream, promote and refresh paths") {
    val root = tmp("census")
    val trusted = s"$root/trusted"
    val rows = (0 until 40).map(i => (i.toLong, s"v$i")).toDF("sk", "v")
    rows.write.parquet(trusted)
    val lake = LakePaths(s"$root/lake")
    val ref = DatasetRef("spec", "census", "events")
    val (landing, ckpt) = (s"$root/landing", s"$root/ckpt")
    def land(lo: Long) = graft.sinks.ParquetAppend.write(
      (lo until lo + 4).map(i => (i, s"e$i")).toDF("event_id", "payload"), landing)
    land(0)
    val schema = spark.read.parquet(landing).schema
    StreamingOps.streamIngestToWork(spark, landing, schema, lake.work(ref), ckpt)
    IncrementalPromote.run(spark, ref, lake, skIds = Seq("event_id"), clock = Clock.ForOracle)
    val vectors = s"$root/vectors"
    def embeddings(lo: Long, hi: Long) = spark.range(lo, hi).select(col("id").as("vec_id"),
      array((1 to 8).map(i => sin(col("id") * i).cast("float")): _*).as("embedding"))
    embeddings(0, 120).repartition(2).write.parquet(vectors)
    IvfIndex.collect(spark, vectors, nCells = 4)
    land(2)

    val (_, starts) = ProcessStarts.during {
      MergeUpsert.mergeInto(spark, trusted, (30 until 50).map(i => (i.toLong, s"w$i")).toDF("sk", "v"))
      StreamingOps.streamIngestToWork(spark, landing, schema, lake.work(ref), ckpt)
      IncrementalPromote.run(spark, ref, lake, skIds = Seq("event_id"), clock = Clock.ForOracle)
      embeddings(120, 160).coalesce(1).write.mode("append").parquet(vectors)
      IvfIndex.refresh(spark, vectors)
    }
    val forks = starts.filter(_.hadoopFs)
    assert(forks.isEmpty, forks.map(s =>
      s"${s.command} <- ${s.frames.find(_.startsWith("org.apache.hadoop.fs.")).get}").mkString("\n"))
    // the paths ran: the merge, the second batch and the refresh landed
    assert(spark.read.parquet(trusted).count() === 50L)
    assert(spark.read.parquet(lake.trusted(ref)).count() === 6L)
    assert(spark.read.parquet(IvfIndex.cellsPath(vectors)).count() === 160L)
  }
}
