package graft

import graft.operators.Cdc
import graft.sinks.{AggStateSink, BloomIndex, Compaction, IvfIndex, MergeUpsert, Purge, SidecarMaintenance, StatsIndex, TxnCommit}
import graft.sources.ZstdCorpus
import graft.streaming.StreamingOps
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Try
import scala.util.control.NonFatal

/** Crash-injection matrix over every caller of the whole-directory
  * swap ([[graft.sinks.DirSwap]]) and of its file-level sibling
  * ([[graft.sinks.FileDelta]]). For each caller and every k up to
  * the number of filesystem mutations its operation makes, the k-th
  * mutation fails ([[FaultFs]]) — the writer dies right there — and
  * then the caller's normal entry point runs. Readers must then see
  * exactly the old version or the new one, and no swap debris may
  * remain. Further rows run another writer between the crash and
  * that entry (a purge, a streaming append, the TRUSTED table's other
  * swap layout). The last tests pin two concrete crash states: an
  * AggStateSink bootstrap killed before its batch marker, and a
  * Bloom/Stats index refresh killed between its two renames. */
class DirSwapCrashMatrixSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration

  private def fs = {
    conf.set("fs.faultfs.impl", classOf[FaultFs].getName)
    new Path("faultfs:///").getFileSystem(conf)
  }

  private def exists(p: String): Boolean = fs.exists(new Path(p))

  /** One caller. Paths are under the `faultfs` root `r`: `setup`
    * builds the old version, `op` commits the new one, `entry` is the
    * caller's normal entry point run after a crash, `read` is what a
    * reader sees, `debris` the swap paths that must be gone. */
  private case class Caller(
      name: String,
      setup: String => Unit,
      op: String => Unit,
      entry: String => Unit,
      read: String => Any,
      debris: String => Seq[String])

  private def withRoot[T](f: (String, String) => T): T = {
    fs // registers the scheme, so a test runs on its own too
    val local = SparkTestSession.tmp("swapmatrix").toString
    try f(local, s"faultfs://$local")
    finally FileUtil.fullyDelete(new java.io.File(local))
  }

  /** Runs `op` once unfaulted to count its filesystem mutations and
    * to read the old and new versions, then, for every k up to that
    * count, on a fresh root: `setup`, `op` killed at its k-th
    * mutation, then `after(root, old, new, where)`. */
  private def eachCrash[T](
      name: String,
      setup: String => Unit,
      op: String => Unit,
      read: String => T)(after: (String, T, T, String) => Unit): Unit = {
    val (old, fresh, calls) = withRoot { (local, r) =>
      setup(r)
      val old = read(r)
      FaultFs.arm(local, Long.MaxValue)
      try op(r) finally FaultFs.disarm()
      (old, read(r), FaultFs.counted)
    }
    assert(old != fresh, s"$name: the operation must change what readers see")
    assert(calls > 0, s"$name: no filesystem mutation counted")
    (1L to calls).foreach { k =>
      withRoot { (local, r) =>
        setup(r)
        FaultFs.arm(local, k)
        try op(r) catch { case NonFatal(_) => () }
        finally FaultFs.disarm()
        after(r, old, fresh, s"$name, fault at mutation $k of $calls")
      }
    }
  }

  private def runMatrix(c: Caller): Unit =
    eachCrash(c.name, c.setup, c.op, c.read) { (r, old, fresh, at) =>
      c.entry(r)
      val seen = c.read(r)
      assert(seen == old || seen == fresh, s"$at: readers see $seen; old $old, new $fresh")
      noDebris(at, c.debris(r))
    }

  private def noDebris(at: String, paths: Seq[String]): Unit =
    paths.foreach(d => assert(!exists(d), s"$at: $d left behind"))

  private def rows(path: String): Set[(String, Int)] =
    if (!exists(path)) Set.empty
    else spark.read.parquet(path).select("sk", "v").as[(String, Int)].collect().toSet

  private def kv(pairs: (String, Int)*): DataFrame = pairs.toDF("sk", "v")

  private def swapDebris(t: String, staging: String, aside: String) =
    Seq(t + staging, t + aside)

  test("crash matrix: MergeUpsert.mergeInto bootstrap") {
    runMatrix(Caller("mergeInto bootstrap",
      setup = _ => (),
      op = r => MergeUpsert.mergeInto(spark, s"$r/t", kv(("a", 1), ("b", 2))),
      entry = r => MergeUpsert.mergeInto(spark, s"$r/t", kv()),
      read = r => rows(s"$r/t"),
      debris = r => swapDebris(s"$r/t", "__staging", "__prev")))
  }

  test("crash matrix: MergeUpsert.mergeInto retained upsert") {
    runMatrix(Caller("mergeInto retained",
      setup = r => MergeUpsert.mergeInto(spark, s"$r/t", kv(("a", 1), ("b", 2)),
        retainPrevHours = Some(72.0)),
      op = r => MergeUpsert.mergeInto(spark, s"$r/t", kv(("b", 20), ("c", 3)),
        retainPrevHours = Some(72.0)),
      entry = r => MergeUpsert.mergeInto(spark, s"$r/t", kv()),
      read = r => rows(s"$r/t"),
      debris = r => swapDebris(s"$r/t", "__staging", "__prev")))
  }

  test("crash matrix: MergeUpsert.applyChangesInto") {
    def log(rs: (String, Int, String, Int)*) = rs.toDF("sk", "seq", "op", "v")
    runMatrix(Caller("applyChangesInto",
      setup = r => MergeUpsert.applyChangesInto(spark, s"$r/t",
        log(("a", 1, "I", 1), ("b", 1, "I", 2))),
      op = r => MergeUpsert.applyChangesInto(spark, s"$r/t",
        log(("a", 2, "D", 0), ("c", 2, "I", 3))),
      entry = r => MergeUpsert.applyChangesInto(spark, s"$r/t", log()),
      read = r => rows(s"$r/t"),
      debris = r => swapDebris(s"$r/t", "__staging", "__prev")))
  }

  test("crash matrix: MergeUpsert.rollbackToPrev") {
    runMatrix(Caller("rollbackToPrev",
      setup = { r =>
        MergeUpsert.mergeInto(spark, s"$r/t", kv(("a", 1)), retainPrevHours = Some(72.0))
        MergeUpsert.mergeInto(spark, s"$r/t", kv(("a", -9)), retainPrevHours = Some(72.0))
      },
      op = r => MergeUpsert.rollbackToPrev(spark, s"$r/t"),
      entry = r => MergeUpsert.mergeInto(spark, s"$r/t", kv()),
      read = r => rows(s"$r/t"),
      debris = r => swapDebris(s"$r/t", "__staging", "__prev")))
  }

  private def delta(rs: (Int, String, Option[Int])*): DataFrame =
    rs.toDF("__sign", "g", "v")

  private def aggState(path: String): Map[String, (Long, Long, Option[String])] =
    if (!exists(path)) Map.empty
    else spark.read.parquet(path).collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2),
        Option(r.getDecimal(3)).map(_.toPlainString)))).toMap

  private val b0 = Seq((1, "a", Some(10)), (1, "a", Some(20)), (1, "b", None))

  // the entry replays the crashed batch, as a restarted stream would:
  // the old state is unreachable and a double-applied batch is caught
  test("crash matrix: AggStateSink.maintainInto bootstrap (replayed batch applies once)") {
    runMatrix(Caller("maintainInto bootstrap",
      setup = _ => (),
      op = r => AggStateSink.maintainInto(spark, s"$r/s", delta(b0: _*), Seq("g"), Seq("v"), 0L),
      entry = r => AggStateSink.maintainInto(spark, s"$r/s", delta(b0: _*), Seq("g"), Seq("v"), 0L),
      read = r => aggState(s"$r/s"),
      debris = r => swapDebris(s"$r/s", "__staging", "__prev")))
  }

  test("crash matrix: AggStateSink.maintainInto next batch") {
    val b1 = Seq((-1, "a", Some(10)), (1, "c", Some(5)))
    runMatrix(Caller("maintainInto next batch",
      setup = r => AggStateSink.maintainInto(spark, s"$r/s", delta(b0: _*), Seq("g"), Seq("v"), 0L),
      op = r => AggStateSink.maintainInto(spark, s"$r/s", delta(b1: _*), Seq("g"), Seq("v"), 1L),
      entry = r => AggStateSink.maintainInto(spark, s"$r/s", delta(b1: _*), Seq("g"), Seq("v"), 1L),
      read = r => aggState(s"$r/s"),
      debris = r => swapDebris(s"$r/s", "__staging", "__prev")))
  }

  test("crash matrix: Compaction.compactWork") {
    runMatrix(Caller("compactWork",
      setup = r => (1 to 40).map(i => (s"k$i", i)).toDF("sk", "v")
        .repartition(4).write.parquet(s"$r/w"),
      op = r => Compaction.compactWork(spark, s"$r/w"),
      entry = r => Compaction.compactWork(spark, s"$r/w"),
      // same rows either way; the file count tells the versions apart
      read = r => (rows(s"$r/w"),
        fs.listStatus(new Path(s"$r/w")).count(_.getPath.getName.endsWith(".parquet")) == 1),
      debris = r => swapDebris(s"$r/w", "__cstaging", "__cprev")))
  }

  test("crash matrix: SidecarMaintenance.publishDir via IvfIndex.collect") {
    runMatrix(Caller("IvfIndex.collect publish",
      setup = { r =>
        spark.range(120).select(col("id").as("vec_id"),
          array((1 to 8).map(j => sin(col("id") * j).cast("float")): _*).as("embedding"))
          .repartition(2).write.parquet(s"$r/v")
        IvfIndex.collect(spark, s"$r/v", nCells = 4)
      },
      op = r => IvfIndex.collect(spark, s"$r/v", nCells = 6),
      entry = r => IvfIndex.refresh(spark, s"$r/v"),
      read = r => spark.read.parquet(IvfIndex.centroidsPath(s"$r/v")).count(),
      debris = r => swapDebris(IvfIndex.cellsPath(s"$r/v"), ".next", ".old")))
  }

  /** Two indexed files, then a third appended: the refresh indexes it. */
  private def appendedTable(t: String)(index: String => Unit): Unit = {
    (1 to 20).map(i => (s"k$i", i)).toDF("sk", "v").repartition(2).write.parquet(t)
    index(t)
    (21 to 30).map(i => (s"k$i", i)).toDF("sk", "v").coalesce(1)
      .write.mode("append").parquet(t)
  }

  private def indexedFiles(idx: String): Long =
    if (!exists(idx)) 0L else spark.read.parquet(idx).count()

  test("crash matrix: BloomIndex.refresh") {
    runMatrix(Caller("BloomIndex.refresh",
      setup = r => appendedTable(s"$r/t")(BloomIndex.collect(spark, _, "sk", 100L)),
      op = r => BloomIndex.refresh(spark, s"$r/t", "sk"),
      entry = r => BloomIndex.refresh(spark, s"$r/t", "sk"),
      read = r => indexedFiles(s"$r/t/_bloom"),
      debris = r => swapDebris(s"$r/t/_bloom", ".next", ".old")))
  }

  test("crash matrix: StatsIndex.refresh") {
    runMatrix(Caller("StatsIndex.refresh",
      setup = r => appendedTable(s"$r/t")(StatsIndex.collect(spark, _, Seq("v"))),
      op = r => StatsIndex.refresh(spark, s"$r/t", Seq("v")),
      entry = r => StatsIndex.refresh(spark, s"$r/t", Seq("v")),
      read = r => indexedFiles(s"$r/t/_stats"),
      debris = r => swapDebris(s"$r/t/_stats", ".next", ".old")))
  }

  test("crash matrix: TxnCommit.commitAll") {
    def v(version: Int) = Seq(version).toDF("version")
    def version(t: String) =
      if (!exists(t)) -1 else spark.read.parquet(t).head().getInt(0)
    runMatrix(Caller("TxnCommit.commitAll",
      setup = r => TxnCommit.commitAll(spark, Seq((v(1), s"$r/a"), (v(1), s"$r/b")), s"$r/txn"),
      op = r => TxnCommit.commitAll(spark, Seq((v(2), s"$r/a"), (v(2), s"$r/b")), s"$r/txn"),
      entry = r => TxnCommit.recover(spark, s"$r/txn"),
      read = r => (version(s"$r/a"), version(s"$r/b")),
      // a staging written before the journal is dead until the next
      // commitAll overwrites it; recovery only owes the swap's aside
      debris = r => Seq(s"$r/a__txprev", s"$r/b__txprev", s"$r/txn/txn.journal")))
  }

  test("crash matrix: AggStateSink.maintainExtremaInto next batch") {
    val s0 = Seq(("a", "g", 1), ("b", "g", 9), ("c", "h", 3)).toDF("k", "g", "v")
    val s1 = Seq(("a", "g", 1), ("c", "h", 3), ("d", "h", 7)).toDF("k", "g", "v")
    def maintain(r: String, before: DataFrame, after: DataFrame, batch: Long): Unit =
      AggStateSink.maintainExtremaInto(spark, s"$r/s",
        Cdc.signedDelta(before, after, Seq("k")), after, Seq("g"), Seq("v"), batch)
    def state(path: String): Set[String] =
      if (!exists(path)) Set.empty
      else spark.read.parquet(path).collect().map(_.toSeq.mkString(",")).toSet
    runMatrix(Caller("maintainExtremaInto next batch",
      setup = r => maintain(r, s0.limit(0), s0, 0L),
      op = r => maintain(r, s0, s1, 1L),
      entry = r => maintain(r, s0, s1, 1L),
      read = r => state(s"$r/s"),
      debris = r => swapDebris(s"$r/s", "__staging", "__prev")))
  }

  test("crash matrix: Compaction.compactCorpusTier") {
    val docs = (1 to 400).map(i => (i.toLong,
      s"document $i: the ${i % 13} lakes feed ${i % 7} rivers and ${i * 31 % 97} streams"))
      .toDF("doc_id", "text")
    val dict = ZstdCorpus.trainDict(docs, dictBytes = 1024)
    def dataFiles(z: String): Int =
      fs.listStatus(new Path(z)).count(st => st.isFile && !st.getPath.getName.startsWith("_"))
    runMatrix(Caller("compactCorpusTier",
      setup = r => ZstdCorpus.writeCompressed(spark, docs.repartition(4), s"$r/z", dict = Some(dict)),
      op = r => Compaction.compactCorpusTier(spark, s"$r/z", graduateAtBytes = Long.MaxValue),
      entry = r => Compaction.compactCorpusTier(spark, s"$r/z", graduateAtBytes = Long.MaxValue),
      // same documents either way; the file count tells the versions apart
      read = r => (ZstdCorpus.readCompressed(spark, s"$r/z").select("doc_id", "text")
        .as[(Long, String)].collect().toSet, dataFiles(s"$r/z")),
      debris = r => swapDebris(s"$r/z", "__cstaging", "__cprev")))
  }

  // File-level commits ([[graft.sinks.FileDelta]]): the debris is the
  // delta's staging and journal inside the directory, beside the
  // whole-table swap's siblings where the directory is a TRUSTED table.

  private def deltaDebris(dir: String, staging: String, journal: String) =
    Seq(s"$dir/$staging", s"$dir/$journal")

  private def trustedDebris(t: String) =
    swapDebris(t, "__staging", "__prev") ++ deltaDebris(t, ".purge-staging", "_purge_journal")

  /** 40 keys in 4 files, as a merge leaves them. */
  private def mergedTable(t: String): Unit =
    MergeUpsert.mergeInto(spark, t, (1 to 40).map(i => (s"k$i", i)).toDF("sk", "v").repartition(4))

  private def purge(t: String, keys: String*): Unit =
    Purge.purge(spark, t, keys.toDF("key"), "key", "sk")

  test("crash matrix: Purge.purge") {
    runMatrix(Caller("Purge.purge",
      setup = r => mergedTable(s"$r/t"),
      op = r => purge(s"$r/t", "k1", "k22"),
      entry = r => purge(s"$r/t", "absent"),
      read = r => rows(s"$r/t"),
      debris = r => trustedDebris(s"$r/t")))
  }

  test("crash matrix: SidecarMaintenance.commitDelta via IvfIndex.refresh over an appended corpus") {
    def vectors(from: Long, until: Long): DataFrame =
      spark.range(from, until).select(col("id").as("vec_id"),
        array((1 to 8).map(j => sin(col("id") * j).cast("float")): _*).as("embedding"))
    runMatrix(Caller("IvfIndex.refresh commitDelta",
      setup = { r =>
        vectors(0, 120).repartition(2).write.parquet(s"$r/v")
        IvfIndex.collect(spark, s"$r/v", nCells = 4)
        vectors(120, 150).coalesce(1).write.mode("append").parquet(s"$r/v")
      },
      op = r => IvfIndex.refresh(spark, s"$r/v"),
      entry = r => IvfIndex.refresh(spark, s"$r/v"),
      read = r => spark.read.parquet(IvfIndex.cellsPath(s"$r/v"))
        .select("vec_id").as[Long].collect().sorted.toSeq,
      debris = r => deltaDebris(IvfIndex.cellsPath(s"$r/v"), ".maint-staging", "_maint_journal")))
  }

  test("crash matrix: MergeUpsert.mergeIntoPartitioned") {
    runMatrix(Caller("mergeIntoPartitioned",
      setup = r => MergeUpsert.mergeIntoPartitioned(spark, s"$r/t",
        pkv(("a", 1, "p1"), ("b", 2, "p2"), ("c", 3, "p3"))),
      op = r => MergeUpsert.mergeIntoPartitioned(spark, s"$r/t",
        pkv(("a", 10, "p1"), ("b", 20, "p2"), ("d", 4, "p2"))),
      entry = r => MergeUpsert.mergeIntoPartitioned(spark, s"$r/t", pkv()),
      read = r => byPart(s"$r/t"),
      debris = r => trustedDebris(s"$r/t")))
  }

  test("crash matrix: MergeUpsert.applyChangesIntoPartitioned, a batch that empties a partition") {
    def log(rs: (String, Int, String, String, Int)*) = rs.toDF("sk", "v", "part", "op", "seq")
    eachCrash("applyChangesIntoPartitioned",
      setup = r => MergeUpsert.applyChangesIntoPartitioned(spark, s"$r/t",
        log(("a", 1, "p1", "I", 1), ("b", 2, "p2", "I", 1), ("c", 3, "p3", "I", 1))),
      op = r => MergeUpsert.applyChangesIntoPartitioned(spark, s"$r/t",
        log(("b", 0, "p2", "D", 2), ("a", 10, "p1", "U", 2))),
      read = r => byPart(s"$r/t")) { (r, old, fresh, at) =>
      assert(old.contains("p2") && !fresh.contains("p2"), s"$at: the batch must empty p2")
      MergeUpsert.applyChangesIntoPartitioned(spark, s"$r/t", log())
      val seen = byPart(s"$r/t")
      assert(seen == old || seen == fresh, s"$at: readers see $seen; old $old, new $fresh")
      noDebris(at, trustedDebris(s"$r/t"))
    }
  }

  // A purge crashed mid-commit, then a whole-table merge before any
  // purge recovery: the merge's entry must finish or roll back the
  // purge first, or its swap discards the purge's journal and staged
  // survivors together with the half-purged table it rewrote.
  test("crash matrix: Purge.purge, then a mergeInto before the purge's recovery (no row lost)") {
    eachCrash("purge then mergeInto",
      setup = r => mergedTable(s"$r/t"),
      op = r => purge(s"$r/t", "k1", "k22"),
      read = r => rows(s"$r/t")) { (r, old, fresh, at) =>
      MergeUpsert.mergeInto(spark, s"$r/t", kv())
      Purge.recover(spark, s"$r/t")
      val seen = rows(s"$r/t")
      assert(seen == old || seen == fresh,
        s"$at: readers see ${seen.size} rows; old ${old.size}, purged ${fresh.size}")
      noDebris(at, trustedDebris(s"$r/t"))
    }
  }

  // The rows below put a writer that does NOT run the swap's recovery
  // between the crash and the next entry: a sealed staging directory
  // left beside a live one was built from a version that writer may
  // since have changed, so recovery must not promote it.

  test("crash matrix: mergeInto, then a purge before the next merge (purged rows stay gone)") {
    eachCrash[Set[(String, Int)]]("mergeInto then purge",
      setup = r => MergeUpsert.mergeInto(spark, s"$r/t", kv(("a", 1), ("b", 2))),
      op = r => MergeUpsert.mergeInto(spark, s"$r/t", kv(("b", 20), ("c", 3))),
      read = r => rows(s"$r/t")) { (r, old, fresh, at) =>
      // the purge deletes from whatever table is live, and fails when
      // the crash left the table parked aside
      val purged = Try(Purge.purge(spark, s"$r/t", Seq("a").toDF("key"), "key", "sk")).isSuccess
      MergeUpsert.mergeInto(spark, s"$r/t", kv())
      val seen = rows(s"$r/t")
      val allowed = Seq(old, fresh).map(v => if (purged) v.filterNot(_._1 == "a") else v)
      assert(allowed.contains(seen), s"$at: purge ran = $purged, readers see $seen; allowed $allowed")
      noDebris(at, swapDebris(s"$r/t", "__staging", "__prev"))
    }
  }

  test("crash matrix: compactWork, then a streaming append before the next compaction (no row lost)") {
    val schema = kv().schema
    def land(r: String, from: Int, to: Int): Unit =
      (from to to).map(i => (s"k$i", i)).toDF("sk", "v").coalesce(1)
        .write.mode("append").parquet(s"$r/landing")
    def ingest(r: String): Unit = StreamingOps.streamIngestToWork(
      spark, s"$r/landing", schema, s"$r/w", s"$r/ckpt")
    def sorted(path: String) =
      spark.read.parquet(path).select("sk", "v").as[(String, Int)].collect().toSeq.sorted
    eachCrash("compactWork then ingest",
      setup = { r => land(r, 1, 10); land(r, 11, 20); ingest(r) },
      op = r => Compaction.compactWork(spark, s"$r/w"),
      read = r => (rows(s"$r/w"),
        fs.listStatus(new Path(s"$r/w")).count(_.getPath.getName.endsWith(".parquet")))) {
      (r, _, _, at) =>
        land(r, 21, 30)
        ingest(r)
        Compaction.compactWork(spark, s"$r/w")
        assert(sorted(s"$r/w") == (1 to 30).map(i => (s"k$i", i)).sorted,
          s"$at: every ingested row exactly once")
        noDebris(at, swapDebris(s"$r/w", "__cstaging", "__cprev"))
    }
  }

  private def pkv(rs: (String, Int, String)*): DataFrame = rs.toDF("sk", "v", "part")

  private def byPart(path: String): Map[String, Set[(String, Int)]] =
    if (!exists(path)) Map.empty
    else spark.read.parquet(path).select("sk", "v", "part").as[(String, Int, String)]
      .collect().groupBy(_._3).map { case (p, rs) => p -> rs.map(x => (x._1, x._2)).toSet }

  test("crash matrix: mergeIntoPartitioned, then a whole-table mergeInto (no partition lost)") {
    eachCrash("mergeIntoPartitioned then mergeInto",
      setup = r => MergeUpsert.mergeIntoPartitioned(spark, s"$r/t",
        pkv(("a", 1, "p1"), ("b", 2, "p2"), ("c", 3, "p3"))),
      op = r => MergeUpsert.mergeIntoPartitioned(spark, s"$r/t",
        pkv(("a", 10, "p1"), ("b", 20, "p2"), ("d", 4, "p2"))),
      read = r => byPart(s"$r/t")) { (r, old, fresh, at) =>
      MergeUpsert.mergeInto(spark, s"$r/t", pkv())
      val seen = byPart(s"$r/t")
      // the per-partition swap is atomic per partition, not per table
      assert(seen.keySet == old.keySet, s"$at: partitions ${seen.keySet}, want ${old.keySet}")
      seen.foreach { case (p, rs) =>
        assert(old.get(p).contains(rs) || fresh.get(p).contains(rs),
          s"$at: partition $p reads $rs; old ${old.get(p)}, new ${fresh.get(p)}")
      }
      noDebris(at, swapDebris(s"$r/t", "__staging", "__prev"))
    }
  }

  test("crash matrix: mergeInto, then a mergeIntoPartitioned entry") {
    eachCrash("mergeInto then mergeIntoPartitioned",
      setup = r => MergeUpsert.mergeInto(spark, s"$r/t", pkv(("a", 1, "p1"), ("b", 2, "p2"))),
      op = r => MergeUpsert.mergeInto(spark, s"$r/t", pkv(("b", 20, "p2"), ("c", 3, "p1"))),
      read = r => rows(s"$r/t")) { (r, old, fresh, at) =>
      MergeUpsert.mergeIntoPartitioned(spark, s"$r/t", pkv())
      val seen = rows(s"$r/t")
      assert(seen == old || seen == fresh, s"$at: readers see $seen; old $old, new $fresh")
      noDebris(at, swapDebris(s"$r/t", "__staging", "__prev"))
    }
  }

  test("DirSwap: a promoted table keeps its parquet _SUCCESS; a graft seal does not linger") {
    withRoot { (_, r) =>
      MergeUpsert.mergeInto(spark, s"$r/t", kv(("a", 1)))
      MergeUpsert.mergeInto(spark, s"$r/t", kv(("b", 2)))
      assert(exists(s"$r/t/_SUCCESS"))
      AggStateSink.maintainInto(spark, s"$r/s", delta(b0: _*), Seq("g"), Seq("v"), 0L)
      assert(exists(s"$r/s/_SUCCESS") && !exists(s"$r/s/_GRAFT_STATE_READY"))
    }
  }

  test("AggStateSink: a bootstrap staging dir without its batch marker is discarded, the replay applies once") {
    withRoot { (_, r) =>
      val once = s"$r/once"
      val sp = s"$r/state"
      assert(AggStateSink.maintainInto(spark, once, delta(b0: _*), Seq("g"), Seq("v"), 0L))
      val applied = aggState(once)
      // the crash state: first batch, no live state, the staged state
      // complete with its parquet `_SUCCESS` but killed before the
      // batch-id marker was written
      FileUtil.copy(fs, new Path(once), fs, new Path(s"${sp}__staging"), false, conf)
      fs.delete(new Path(s"${sp}__staging", "_graft_applied_batch"), false)
      assert(exists(s"${sp}__staging/_SUCCESS"))
      assert(!exists(sp))
      assert(AggStateSink.maintainInto(spark, sp, delta(b0: _*), Seq("g"), Seq("v"), 0L))
      assert(aggState(sp) == applied, "the replayed batch must be counted exactly once")
      assert(AggStateSink.appliedBatch(spark, sp).contains(0L))
      assert(!exists(s"${sp}__staging"))
    }
  }

  /** The between-renames state of an index refresh: the old index
    * parked at `.old`, the new one complete and sealed at `.next`,
    * nothing serving. Built from real artifacts: the old index is a
    * collect over two files, the new one a collect after a third. */
  private def parkedRefresh(t: String, idx: String)(collect: String => Unit): Unit = {
    appendedTable(t)(collect)
    assert(fs.rename(new Path(idx), new Path(s"$idx.old")))
    collect(t)
    assert(fs.rename(new Path(idx), new Path(s"$idx.next")))
    fs.create(new Path(s"$idx.next", SidecarMaintenance.PublishMarker)).close()
  }

  test("BloomIndex.refresh: a crash between the publish renames heals to the new index") {
    withRoot { (_, r) =>
      val t = s"$r/t"
      val idx = s"$t/_bloom"
      parkedRefresh(t, idx)(BloomIndex.collect(spark, _, "sk", 100L))
      BloomIndex.refresh(spark, t, "sk")
      assert(indexedFiles(idx) == 3, "the refresh must serve the new three-file index")
      assert(!exists(s"$idx.next") && !exists(s"$idx.old"))
      val bloom = BloomIndex.mergedBloom(spark, t)
      assert(bloom.nonEmpty)
    }
  }

  test("StatsIndex.refresh: a crash between the publish renames heals to the new index") {
    withRoot { (_, r) =>
      val t = s"$r/t"
      val idx = s"$t/_stats"
      parkedRefresh(t, idx)(StatsIndex.collect(spark, _, Seq("v")))
      StatsIndex.refresh(spark, t, Seq("v"))
      assert(indexedFiles(idx) == 3, "the refresh must serve the new three-file index")
      assert(!exists(s"$idx.next") && !exists(s"$idx.old"))
      val hits = StatsIndex.prunedRead(spark, t, "v", lit(25), lit(30))
        .select("v").as[Int].collect().toSet
      assert(hits == (25 to 30).toSet)
    }
  }
}
