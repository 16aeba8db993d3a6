package graft

import graft.core.{LakeStorage, Meter}
import graft.sinks.{MergeUpsert, ParquetAppend}
import java.nio.file.Files
import org.apache.spark.sql.functions.{col, input_file_name, lit, max, min}
import org.scalatest.funsuite.AnyFunSuite

class MergeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def collectAll(path: String) =
    spark.read.parquet(path).collect()
      .map(r => (r.getAs[String]("sk"), r.getAs[Int]("v"))).toSet

  // K2 semantics (cloud_utils.py:515-524): matched rows fully
  // replaced, unmatched trusted rows survive, new rows inserted.
  test("K2 merged: replace / survive / insert") {
    val trusted = Seq(("a", 1), ("b", 2)).toDF("sk", "v")
    val updates = Seq(("b", 20), ("c", 30)).toDF("sk", "v")
    val out = MergeUpsert.merged(trusted, updates).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(out == Set(("a", 1), ("b", 20), ("c", 30)))
  }

  test("K2 merge is idempotent: merge(merge(t,u),u) == merge(t,u)") {
    val trusted = Seq(("a", 1), ("b", 2)).toDF("sk", "v")
    val updates = Seq(("b", 20), ("c", 30)).toDF("sk", "v")
    val once = MergeUpsert.merged(trusted, updates)
    val twice = MergeUpsert.merged(once, updates)
    val s1 = once.collect().map(r => (r.getString(0), r.getInt(1))).toSet
    val s2 = twice.collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(s1 == s2)
  }

  test("schema evolution: new column widens, missing column NULL-fills, type drift rejects") {
    val trusted = Seq(("a", 1), ("b", 2)).toDF("sk", "v")
    // updates carry a NEW column tier
    val upd = Seq(("b", 20, "gold"), ("c", 30, "bronze")).toDF("sk", "v", "tier")
    val out = MergeUpsert.mergedEvolved(trusted, upd)
    assert(out.columns.toSeq == Seq("sk", "v", "tier"))
    val rows = out.collect()
      .map(r => (r.getString(0), r.getInt(1), Option(r.getString(2)))).toSet
    assert(rows == Set(("a", 1, None), ("b", 20, Some("gold")),
      ("c", 30, Some("bronze"))))
    // a batch that predates tier upserts NULL into it
    val late = MergeUpsert.mergedEvolved(out, Seq(("b", 200)).toDF("sk", "v"))
    assert(late.columns.toSeq == Seq("sk", "v", "tier"))
    val lrows = late.collect()
      .map(r => (r.getString(0), r.getInt(1), Option(r.getString(2)))).toSet
    assert(lrows == Set(("a", 1, None), ("b", 200, None), ("c", 30, Some("bronze"))))
    // shared column changing type is a loud error, never a cast
    intercept[IllegalArgumentException] {
      MergeUpsert.mergedEvolved(trusted, Seq(("b", "20")).toDF("sk", "v"))
    }
  }

  test("mergeInto(evolveSchema=true): the stored table widens across merges") {
    val dir = SparkTestSession.tmp("evolve").toString
    val trustedPath = s"$dir/trusted"
    MergeUpsert.mergeInto(spark, trustedPath,
      Seq(("a", 1), ("b", 2)).toDF("sk", "v"))
    MergeUpsert.mergeInto(spark, trustedPath,
      Seq(("b", 20, "gold")).toDF("sk", "v", "tier"), evolveSchema = true)
    val back = spark.read.parquet(trustedPath)
    assert(back.columns.sorted.toSeq == Seq("sk", "tier", "v"))
    val rows = back.collect()
      .map(r => (r.getAs[String]("sk"), r.getAs[Int]("v"),
        Option(r.getAs[String]("tier")))).toSet
    assert(rows == Set(("a", 1, None), ("b", 20, Some("gold"))))
  }

  test("snapshotAsOf: merge-granular time travel across the retention window") {
    val dir = SparkTestSession.tmp("asof").toString
    val trustedPath = s"$dir/trusted"
    def state(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[String]("sk"), r.getAs[Int]("v"))).toSet
    MergeUpsert.mergeInto(spark, trustedPath, Seq(("a", 1)).toDF("sk", "v"))
    val t1 = System.currentTimeMillis()
    Thread.sleep(5)
    MergeUpsert.mergeInto(spark, trustedPath, Seq(("b", 2)).toDF("sk", "v"),
      retainPrevHours = Some(72.0))
    val t2 = System.currentTimeMillis()
    Thread.sleep(5)
    MergeUpsert.mergeInto(spark, trustedPath, Seq(("a", 10)).toDF("sk", "v"),
      retainPrevHours = Some(72.0))
    // between bootstrap and merge 2 → pre-merge-2 snapshot
    assert(state(MergeUpsert.snapshotAsOf(spark, trustedPath, t1)) ==
      Set(("a", 1)))
    // between merge 2 and merge 3 → pre-merge-3 snapshot
    assert(state(MergeUpsert.snapshotAsOf(spark, trustedPath, t2)) ==
      Set(("a", 1), ("b", 2)))
    // after every merge → the live table
    assert(state(MergeUpsert.snapshotAsOf(
      spark, trustedPath, System.currentTimeMillis())) ==
      Set(("a", 10), ("b", 2)))
    // before everything on record → oldest surviving state
    assert(state(MergeUpsert.snapshotAsOf(spark, trustedPath, 0L)) ==
      Set(("a", 1)))
  }

  test("K2 mergeInto: bootstrap, upsert, swap leaves no staging debris") {
    val dir = SparkTestSession.tmp("merge").toString
    val trustedPath = s"$dir/trusted"
    // bootstrap: no trusted yet → updates become the table
    MergeUpsert.mergeInto(spark, trustedPath, Seq(("a", 1), ("b", 2)).toDF("sk", "v"))
    assert(collectAll(trustedPath) == Set(("a", 1), ("b", 2)))
    // upsert
    MergeUpsert.mergeInto(spark, trustedPath, Seq(("b", 20), ("c", 30)).toDF("sk", "v"))
    assert(collectAll(trustedPath) == Set(("a", 1), ("b", 20), ("c", 30)))
    // swap protocol cleaned up after itself
    assert(!Files.exists(java.nio.file.Paths.get(trustedPath + "__staging")))
    assert(!Files.exists(java.nio.file.Paths.get(trustedPath + "__prev")))
  }

  test("swap recovery: a crash between the renames does not lose the table") {
    val dir = SparkTestSession.tmp("crash").toString
    val trustedPath = s"$dir/trusted"
    MergeUpsert.mergeInto(spark, trustedPath, Seq(("a", 1), ("b", 2)).toDF("sk", "v"))
    // simulate a crash after `rename(target, prev)`: table gone,
    // only the aside copy remains
    java.nio.file.Files.move(
      java.nio.file.Paths.get(trustedPath),
      java.nio.file.Paths.get(trustedPath + "__prev"))
    // next merge must restore the old table first — NOT treat the
    // update batch as the whole dataset
    MergeUpsert.mergeInto(spark, trustedPath, Seq(("b", 20), ("c", 30)).toDF("sk", "v"))
    assert(collectAll(trustedPath) == Set(("a", 1), ("b", 20), ("c", 30)))
  }

  test("swap recovery: a committed staging dir is promoted, a half-written one discarded") {
    val dir = SparkTestSession.tmp("crash2").toString
    val trustedPath = s"$dir/trusted"
    MergeUpsert.mergeInto(spark, trustedPath, Seq(("a", 1)).toDF("sk", "v"))
    // crash after staging write + target moved aside, before promote
    Seq(("a", 1), ("z", 9)).toDF("sk", "v").write.parquet(trustedPath + "__staging")
    java.nio.file.Files.move(
      java.nio.file.Paths.get(trustedPath),
      java.nio.file.Paths.get(trustedPath + "__prev"))
    MergeUpsert.mergeInto(spark, trustedPath, Seq(("b", 2)).toDF("sk", "v"))
    // staged (committed) result was completed, then the new batch merged
    assert(collectAll(trustedPath) == Set(("a", 1), ("z", 9), ("b", 2)))
  }

  test("partition delta recovery finishes a committed replacement whose originals are already deleted") {
    val dir = SparkTestSession.tmp("pcrash").toString
    val trustedPath = s"$dir/trusted"
    val init = Seq(("a", 1, "p1"), ("b", 2, "p2")).toDF("sk", "v", "part")
    MergeUpsert.mergeIntoPartitioned(spark, trustedPath, init, partitionCol = "part")
    // simulate a crash mid-commit: journal and marker committed, p2's
    // replacement staged, p2's originals already deleted
    val fs = new org.apache.hadoop.fs.Path(trustedPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(trustedPath, ".purge-staging")
    val journal = new org.apache.hadoop.fs.Path(trustedPath, "_purge_journal")
    val originals = fs.listStatus(new org.apache.hadoop.fs.Path(trustedPath, "part=p2"))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).toSeq
    originals.foreach(p => org.apache.hadoop.fs.FileUtil.copy(fs, p, fs,
      new org.apache.hadoop.fs.Path(staging, s"part=p2/replacement-${p.getName}"), false,
      spark.sparkContext.hadoopConfiguration))
    val out0 = fs.create(journal)
    out0.write(originals.mkString("\n").getBytes("UTF-8")); out0.close()
    fs.create(new org.apache.hadoop.fs.Path(staging, "_GRAFT_PURGE_COMMIT")).close()
    originals.foreach(fs.delete(_, false))
    MergeUpsert.mergeIntoPartitioned(spark, trustedPath,
      Seq(("a", 10, "p1")).toDF("sk", "v", "part"), partitionCol = "part")
    val out = spark.read.parquet(trustedPath)
      .collect().map(r => (r.getAs[String]("sk"), r.getAs[Int]("v"))).toSet
    assert(out == Set(("a", 10), ("b", 2)))
    assert(!fs.exists(staging) && !fs.exists(journal))
  }

  test("partitioned merge hive-escapes partition values") {
    val dir = SparkTestSession.tmp("pesc").toString
    val trustedPath = s"$dir/trusted"
    val init = Seq(("a", 1, "2024-01-01 00:00:00")).toDF("sk", "v", "part")
    MergeUpsert.mergeIntoPartitioned(spark, trustedPath, init, partitionCol = "part")
    MergeUpsert.mergeIntoPartitioned(spark, trustedPath,
      Seq(("a", 5, "2024-01-01 00:00:00")).toDF("sk", "v", "part"), partitionCol = "part")
    val out = spark.read.parquet(trustedPath)
      .collect().map(r => (r.getAs[String]("sk"), r.getAs[Int]("v"))).toSet
    assert(out == Set(("a", 5)))
  }

  test("partition-aware merge rewrites only affected partitions") {
    val dir = SparkTestSession.tmp("pmerge").toString
    val trustedPath = s"$dir/trusted"
    val init = Seq(
      ("a", 1, "p1"), ("b", 2, "p1"),
      ("c", 3, "p2"),
      ("d", 4, "p3")).toDF("sk", "v", "part")
    MergeUpsert.mergeIntoPartitioned(spark, trustedPath, init, partitionCol = "part")

    def fileOf(part: String) = {
      val d = new java.io.File(s"$trustedPath/part=$part")
      d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).sorted.toSeq
    }
    val p3FilesBefore = fileOf("p3")

    // update touches p1 (replace b) and p2 (insert e); p3 untouched
    val updates = Seq(("b", 20, "p1"), ("e", 50, "p2")).toDF("sk", "v", "part")
    MergeUpsert.mergeIntoPartitioned(spark, trustedPath, updates, partitionCol = "part")

    val out = spark.read.parquet(trustedPath)
      .collect().map(r => (r.getAs[String]("sk"), r.getAs[Int]("v"))).toSet
    assert(out == Set(("a", 1), ("b", 20), ("c", 3), ("e", 50), ("d", 4)))
    // p3's physical files must be byte-identical survivors
    assert(fileOf("p3") == p3FilesBefore, "untouched partition must not be rewritten")
    assert(!Files.exists(java.nio.file.Paths.get(trustedPath + "__staging")))
  }

  test("partitioned apply: deletes land, only touched partitions rewrite, emptied partition drops") {
    val dir = SparkTestSession.tmp("papply").toString
    val trustedPath = s"$dir/trusted"
    val init = Seq(
      ("a", 1, "p1", "I", 1), ("b", 2, "p1", "I", 1),
      ("c", 3, "p2", "I", 1),
      ("d", 4, "p3", "I", 1)).toDF("sk", "v", "part", "op", "seq")
    MergeUpsert.applyChangesIntoPartitioned(
      spark, trustedPath, init, partitionCol = "part")

    def fileOf(part: String) = {
      val d = new java.io.File(s"$trustedPath/part=$part")
      if (!d.exists()) Seq.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(_.getName).sorted.toSeq
    }
    val p3Before = fileOf("p3")
    assert(p3Before.nonEmpty)

    // batch: delete b (p1), update c (p2), DELETE-EMPTY p2's other
    // rows... p2 has only c — deleting c must drop the whole
    // partition directory; p3 untouched
    val changes = Seq(
      ("b", 0, "p1", "D", 2), ("c", 0, "p2", "D", 2),
      ("e", 50, "p1", "I", 2)).toDF("sk", "v", "part", "op", "seq")
    MergeUpsert.applyChangesIntoPartitioned(
      spark, trustedPath, changes, partitionCol = "part")

    val out = spark.read.parquet(trustedPath)
      .collect().map(r => (r.getAs[String]("sk"), r.getAs[Int]("v"))).toSet
    assert(out == Set(("a", 1), ("e", 50), ("d", 4)))
    assert(fileOf("p2").isEmpty, "fully-deleted partition must vanish")
    assert(fileOf("p3") == p3Before, "untouched partition must not be rewritten")
    // replay is safe (idempotent winners) and leaves no debris
    MergeUpsert.applyChangesIntoPartitioned(
      spark, trustedPath, changes, partitionCol = "part")
    assert(spark.read.parquet(trustedPath)
      .collect().map(r => (r.getAs[String]("sk"), r.getAs[Int]("v"))).toSet == out)
    assert(!Files.exists(java.nio.file.Paths.get(trustedPath + "__staging")))
    assert(!Files.exists(java.nio.file.Paths.get(trustedPath + "__prev")))
  }

  test("partitioned merge with zorderBy clusters within partitions, content identical") {
    val dir = SparkTestSession.tmp("pzmerge").toString
    val trustedPath = s"$dir/trusted"
    // two partitions, x/y grid payload inside each
    val init = spark.range(8000).selectExpr(
      "concat('k', id) AS sk",
      "CAST(id * 7919 % 10000 AS LONG) AS x",
      "CAST(id * 104729 % 10000 AS LONG) AS y",
      "CASE WHEN id % 2 = 0 THEN 'p1' ELSE 'p2' END AS part")
    MergeUpsert.mergeIntoPartitioned(spark, trustedPath, init,
      partitionCol = "part", zorderBy = Seq("x", "y"), zorderFiles = 16)
    val upd = init.where(col("x") % 3 === 0).withColumn("y", col("y"))
    MergeUpsert.mergeIntoPartitioned(spark, trustedPath, upd,
      partitionCol = "part", zorderBy = Seq("x", "y"), zorderFiles = 16)

    val back = spark.read.parquet(trustedPath)
    assert(back.count() == 8000)
    // spans within ONE partition directory narrow on both columns
    for (c <- Seq("x", "y")) {
      val spans = spark.read.parquet(s"$trustedPath/part=p1")
        .groupBy(input_file_name())
        .agg((max(col(c)) - min(col(c))).as("span"))
        .select("span").as[Long].collect()
      val mean = spans.sum.toDouble / spans.length
      assert(mean < 0.75 * 10000,
        s"$c within-partition mean span $mean not narrowed")
    }
  }

  // K1 (cloud_utils.py:438-475): append accumulates
  // Merge retention (reference delta_retention_hours=72,
  // cloud_utils.py:523): the pre-merge table survives as a
  // timestamped snapshot; rollback undoes a bad merge; GC drops
  // snapshots past the window.
  test("retained merge keeps a rollback window; rollback undoes a bad merge") {
    val dir = SparkTestSession.tmp("retain").toString
    val trustedPath = s"$dir/trusted"
    val fs = new org.apache.hadoop.fs.Path(trustedPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    MergeUpsert.mergeInto(spark, trustedPath,
      Seq(("a", 1), ("b", 2)).toDF("sk", "v"), retainPrevHours = Some(72.0))
    // bootstrap has no pre-state to snapshot
    assert(MergeUpsert.prevSnapshots(fs, trustedPath).isEmpty)
    // a "bad" merge clobbers b
    MergeUpsert.mergeInto(spark, trustedPath,
      Seq(("b", -999)).toDF("sk", "v"), retainPrevHours = Some(72.0))
    assert(collectAll(trustedPath) == Set(("a", 1), ("b", -999)))
    assert(MergeUpsert.prevSnapshots(fs, trustedPath).size == 1)
    // rollback restores the pre-merge table…
    MergeUpsert.rollbackToPrev(spark, trustedPath)
    assert(collectAll(trustedPath) == Set(("a", 1), ("b", 2)))
    // …and retains the rolled-back-FROM state, so rollback is undoable
    assert(MergeUpsert.prevSnapshots(fs, trustedPath).size == 1)
    MergeUpsert.rollbackToPrev(spark, trustedPath)
    assert(collectAll(trustedPath) == Set(("a", 1), ("b", -999)))
  }

  test("retention GC drops snapshots older than the window, keeps recent ones") {
    val dir = SparkTestSession.tmp("retain-gc").toString
    val trustedPath = s"$dir/trusted"
    val fs = new org.apache.hadoop.fs.Path(trustedPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    MergeUpsert.mergeInto(spark, trustedPath,
      Seq(("a", 1)).toDF("sk", "v"), retainPrevHours = Some(72.0))
    MergeUpsert.mergeInto(spark, trustedPath,
      Seq(("a", 2)).toDF("sk", "v"), retainPrevHours = Some(72.0))
    // plant an ancient snapshot (epoch 1000) beside the fresh one
    val ancient = new org.apache.hadoop.fs.Path(
      trustedPath + MergeUpsert.PrevSnapshotInfix + "1000")
    fs.mkdirs(ancient)
    assert(MergeUpsert.prevSnapshots(fs, trustedPath).size == 2)
    MergeUpsert.mergeInto(spark, trustedPath,
      Seq(("a", 3)).toDF("sk", "v"), retainPrevHours = Some(72.0))
    val left = MergeUpsert.prevSnapshots(fs, trustedPath)
    assert(!left.exists(_._1 == 1000L), "ancient snapshot must be GC'd")
    assert(left.size == 2, "both in-window snapshots must survive")
    // unretained merges never snapshot (and never GC others' snapshots)
    MergeUpsert.mergeInto(spark, trustedPath, Seq(("a", 4)).toDF("sk", "v"))
    assert(MergeUpsert.prevSnapshots(fs, trustedPath).size == 2)
  }

  test("K1 parquet append accumulates batches") {
    val dir = SparkTestSession.tmp("append").toString + "/work"
    ParquetAppend.write(Seq(("a", 1)).toDF("sk", "v"), dir)
    ParquetAppend.write(Seq(("b", 2)).toDF("sk", "v"), dir)
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("applyChangesInto: bootstrap, delete-aware apply, idempotent replay") {
    val dir = SparkTestSession.tmp("apply").toString + "/trusted"
    def table() = spark.read.parquet(dir).collect()
      .map(r => (r.getAs[String]("sk"), r.getAs[Int]("v"))).toSet
    // bootstrap from a log that already contains a delete
    val log1 = Seq(("a", 1, "I", 1), ("b", 1, "I", 2), ("b", 2, "D", 0))
      .toDF("sk", "seq", "op", "v")
    MergeUpsert.applyChangesInto(spark, dir, log1)
    assert(table() == Set(("a", 1)))
    // second batch: update a, insert c, delete then reinsert d
    val log2 = Seq(
      ("a", 3, "U", 10), ("c", 3, "I", 3), ("d", 3, "D", 0), ("d", 4, "I", 4))
      .toDF("sk", "seq", "op", "v")
    MergeUpsert.applyChangesInto(spark, dir, log2)
    assert(table() == Set(("a", 10), ("c", 3), ("d", 4)))
    // replaying the same batch lands the same state (at-least-once
    // delivery safe), and the swap leaves no staging debris
    MergeUpsert.applyChangesInto(spark, dir, log2)
    assert(table() == Set(("a", 10), ("c", 3), ("d", 4)))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "__staging")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "__prev")))
  }

  test("applyChangesInto: a non-nullable nested payload field keeps the stored table's nulls") {
    val dir = SparkTestSession.tmp("applynest").toString + "/t"
    def log(sk: String, seq: Int, a: org.apache.spark.sql.Column) =
      Seq((sk, seq, "I")).toDF("sk", "seq", "op")
        .withColumn("s", org.apache.spark.sql.functions.struct(a.as("a")))
    // stored row with a NULL nested field
    MergeUpsert.applyChangesInto(spark, dir,
      log("a", 1, org.apache.spark.sql.functions.lit(null).cast("int")))
    // the next batch's payload declares s.a NOT NULL, as a literal
    // struct does; the stored table is read back through that schema
    val batch = log("b", 2, org.apache.spark.sql.functions.lit(7))
    assert(!batch.schema("s").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]("a").nullable)
    MergeUpsert.applyChangesInto(spark, dir, batch)
    val got = spark.read.parquet(dir).select("sk", "s.a").collect()
      .map(r => (r.getString(0), Option(r.get(1)))).toSet
    assert(got === Set(("a", None), ("b", Some(7))),
      "the stored row's NULL must survive, not read back as a default")
  }

  // ---- whole-table rewrite file sizing (MergeUpsert "Scale posture")

  /** A session whose `openCostInBytes` is small enough that a 2 MB
    * table spans several cores' splits, as a 16 MB+ one does at the
    * default; the shared session is left alone. */
  private def smallSplitSession() = {
    val s = spark.newSession()
    s.conf.set("spark.sql.files.openCostInBytes", (128 * 1024).toString)
    s
  }

  /** One-file, one-row-group stored table of `n` rows over
    * (sk, v, n): `v` is a hash, so the file does not compress away. */
  private def oneFileTable(s: org.apache.spark.sql.SparkSession, dir: String, n: Int) = {
    s.range(n).selectExpr("cast(id as string) as sk",
        "sha2(cast(id as string), 256) as v", "id as n")
      .coalesce(1).write.parquet(dir)
    val files = parquetFiles(dir)
    assert(files.size == 1)
    val in = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(files.head.toString), spark.sparkContext.hadoopConfiguration))
    try assert(in.getRowGroups.size == 1) finally in.close()
    files.head
  }

  private def parquetFiles(dir: String) =
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).toSeq

  private def rowsPerFile(s: org.apache.spark.sql.SparkSession, dir: String): Seq[Long] =
    s.read.parquet(dir).groupBy(input_file_name()).count().collect().map(_.getLong(1)).toSeq

  /** Per-task input rows of the stage that wrote output during
    * `body`: the file-scan tasks of the rewrite (tasks over the
    * in-memory update batch read no input rows and are left out). */
  private def writeStageReads(body: => Unit): Seq[Long] = {
    val writes = Meter.during(spark)(body)._2.tasks.groupBy(_.stage)
      .filter(_._2.exists(_.outputRecords > 0))
    assert(writes.size == 1, s"one write stage expected, got ${writes.keys}")
    writes.head._2.map(_.inputRecords).filter(_ > 0)
  }

  /** The cap on a rewrite of one stored file of `len` bytes and
    * `rows` rows: one core's split, clamped to Spark's split bounds. */
  private def capOf(s: org.apache.spark.sql.SparkSession, len: Long, rows: Long): Long = {
    val conf = s.sessionState.conf
    val target = math.min(conf.filesMaxPartitionBytes,
      math.max(conf.filesOpenCostInBytes, len / spark.sparkContext.defaultParallelism))
    rows * target / len
  }

  private def assertSpread(reads: Seq[Long], what: String): Unit = {
    val cores = spark.sparkContext.defaultParallelism
    assert(reads.size >= cores, s"$what: ${reads.size} scan tasks on $cores cores")
    val mean = reads.sum.toDouble / reads.size
    assert(reads.max <= 2 * mean,
      s"$what: largest task read ${reads.max} rows, mean $mean (${reads.sorted.reverse})")
  }

  test("mergeInto over a one-file table leaves core-sized files; the next merge runs on every core") {
    val s = smallSplitSession()
    import s.implicits._
    val dir = SparkTestSession.tmp("msize").toString + "/t"
    val n = 40000
    val file = oneFileTable(s, dir, n)
    assert(file.length / spark.sparkContext.defaultParallelism >=
      s.sessionState.conf.filesOpenCostInBytes, "fixture must span several splits")
    val cap = capOf(s, file.length, n)
    val u1 = (0 until 400).map(i => ((i * 97).toString, "u1", -i.toLong)).toDF("sk", "v", "n")
    val u2 = (0 until 400).map(i => ((i * 89 + 7).toString, "u2", i.toLong)).toDF("sk", "v", "n")
      .union(Seq(("new", "u2", 0L)).toDF("sk", "v", "n"))
    val base = s.read.parquet(dir).localCheckpoint() // the merges replace the stored files

    MergeUpsert.mergeInto(s, dir, u1)
    val sizes = rowsPerFile(s, dir)
    assert(sizes.max <= cap, s"files of $sizes rows, cap $cap")
    assert(sizes.count(_ > u1.count()) >= spark.sparkContext.defaultParallelism,
      s"the stored rows must leave at least one file per core: $sizes")

    assertSpread(writeStageReads(MergeUpsert.mergeInto(s, dir, u2)), "second mergeInto")
    val want = MergeUpsert.merged(MergeUpsert.merged(base, u1), u2)
    assert(s.read.parquet(dir).select("sk", "v", "n").as[(String, String, Long)].collect().toSet ==
      want.as[(String, String, Long)].collect().toSet)
  }

  test("applyChangesInto over a one-file table leaves core-sized files; the next apply runs on every core") {
    val s = smallSplitSession()
    import s.implicits._
    val dir = SparkTestSession.tmp("asize").toString + "/t"
    val n = 40000
    val file = oneFileTable(s, dir, n)
    val cap = capOf(s, file.length, n)
    def log(seq: Int, rows: Seq[(String, String, Long, String)]) =
      rows.map { case (k, v, x, op) => (k, v, x, op, seq) }.toDF("sk", "v", "n", "op", "seq")
    val c1 = log(1, (0 until 400).map(i => ((i * 97).toString, "c1", 1L, if (i % 4 == 0) "D" else "U")))
    val c2 = log(2, (0 until 400).map(i => ((i * 89 + 7).toString, "c2", 2L, if (i % 5 == 0) "D" else "U")) :+
      (("new", "c2", 2L, "I")))
    val base = s.read.parquet(dir).localCheckpoint() // the merges replace the stored files

    MergeUpsert.applyChangesInto(s, dir, c1)
    val sizes = rowsPerFile(s, dir)
    assert(sizes.max <= cap, s"files of $sizes rows, cap $cap")
    assert(sizes.count(_ > c1.count()) >= spark.sparkContext.defaultParallelism,
      s"the stored rows must leave at least one file per core: $sizes")

    assertSpread(writeStageReads(MergeUpsert.applyChangesInto(s, dir, c2)), "second applyChangesInto")
    val want = MergeUpsert.appliedChanges(MergeUpsert.appliedChanges(base, c1), c2)
    assert(s.read.parquet(dir).select("sk", "v", "n").as[(String, String, Long)].collect().toSet ==
      want.select("sk", "v", "n").as[(String, String, Long)].collect().toSet)
  }

  test("mergeInto and applyChangesInto keep TRUSTED's column order across merges") {
    val dir = SparkTestSession.tmp("morder").toString
    val (merged, applied) = (s"$dir/merged", s"$dir/applied")
    def batch(v: Int) = Seq(("k1", v, "a"), ("k2", v, "b")).toDF("k", "v", "sk")
    MergeUpsert.mergeInto(spark, merged, batch(1))
    val stored = spark.read.parquet(merged).columns.toSeq
    assert(stored === Seq("k", "v", "sk"))
    Seq(2, 3).foreach { v =>
      MergeUpsert.mergeInto(spark, merged, batch(v))
      assert(spark.read.parquet(merged).columns.toSeq === stored)
    }
    assert(spark.read.parquet(merged).where(col("v") =!= 3).isEmpty)
    def changes(v: Int) = batch(v).withColumn("seq", lit(v.toLong)).withColumn("op", lit("U"))
    MergeUpsert.applyChangesInto(spark, applied, changes(1))
    Seq(2, 3).foreach { v =>
      MergeUpsert.applyChangesInto(spark, applied, changes(v))
      assert(spark.read.parquet(applied).columns.toSeq === stored)
    }
  }

  test("mergeInto over a table below openCostInBytes keeps its stored rows in one file") {
    val dir = SparkTestSession.tmp("msmall").toString + "/t"
    oneFileTable(spark, dir, 2000)
    MergeUpsert.mergeInto(spark, dir, Seq(("5", "u", 0L), ("new", "u", 0L)).toDF("sk", "v", "n"))
    val survivors = spark.read.parquet(dir).where(col("v") =!= "u")
    assert(survivors.count() == 1999)
    assert(survivors.select(input_file_name()).distinct().count() == 1,
      "a table below openCostInBytes must not be split")
  }

  // K3 (cloud_utils.py:172-247): recursive truncate + clearOrCreate
  test("K3 truncate and clearOrCreate") {
    val storage = LakeStorage(spark)
    val dir = SparkTestSession.tmp("trunc").toString + "/ds"
    ParquetAppend.write(Seq(("a", 1)).toDF("sk", "v"), dir)
    assert(storage.exists(dir))
    storage.truncate(dir)
    assert(!storage.exists(dir))
    storage.clearOrCreate(dir)
    assert(storage.exists(dir))
  }
}
