package graft

import graft.sinks.{IvfIndex, LakeMemo, MergeUpsert, ParquetMemo, SidecarMaintenance}
import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The one lake memo's trust rule: a value is served only for the
  * listing it was computed from. Each memoized path is rewritten out
  * of band twice — once under new file names, once under the SAME
  * names and mtimes with new lengths — and the next read must see the
  * new state or fail loudly, never serve the old one. */
class LakeMemoSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(name: String) = Files.createTempDirectory(s"graft-$name").toString + "/t"

  private def fsOf(path: String) = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def parquetFiles(dir: String): Seq[String] =
    fsOf(dir).listStatus(new Path(dir)).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted

  private def jobsDuring(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet(); ()
    }
    spark.sparkContext.addSparkListener(l)
    try { body; org.apache.spark.graftglue.SparkGlue.flushListeners(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    n.get
  }

  /** Replace the one-file parquet table at `dir` by `df`: under new
    * file names, or (`sameNames`) as the same file, name and mtime
    * kept, length changed. */
  private def rewrite(dir: String, df: DataFrame, sameNames: Boolean): Unit = {
    val fs = fsOf(dir)
    if (!sameNames) {
      fs.delete(new Path(dir), true)
      df.coalesce(1).write.parquet(dir)
    } else {
      val Seq(old) = parquetFiles(dir).map(new Path(_))
      val before = fs.getFileStatus(old)
      val w = tmp("lakememo-rewrite")
      df.coalesce(1).write.parquet(w)
      val Seq(written) = parquetFiles(w).map(new Path(_))
      assert(fs.getFileStatus(written).getLen != before.getLen, "fixture: the length must change")
      fs.delete(old, false)
      assert(fs.rename(written, old))
      fs.setTimes(old, before.getModificationTime, -1)
    }
  }

  /** Overwrite the text file `p` with `text`, keeping its mtime. */
  private def rewriteText(p: Path, text: String): Unit = {
    val fs = fsOf(p.toString)
    val mtime = fs.getFileStatus(p).getModificationTime
    val out = fs.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    fs.setTimes(p, mtime, -1)
  }

  private def readText(p: Path): String = {
    val in = fsOf(p.toString).open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  for (sameNames <- Seq(false, true)) {
    val how = if (sameNames) "same names, new lengths" else "new names"

    test(s"corpus directory rewritten out of band ($how): directory and file reads see it") {
      val dir = tmp("lakememo-corpus")
      Seq((1L, "a")).toDF("id", "s").coalesce(1).write.parquet(dir)
      assert(ParquetMemo.readDir(spark, dir).columns.toSeq == Seq("id", "s"))
      assert(ParquetMemo.readFiles(spark, dir, parquetFiles(dir)).count() == 1)
      rewrite(dir, Seq((2L, "bb", 7), (3L, "cc", 8)).toDF("id", "s", "n"), sameNames)
      Seq(ParquetMemo.readDir(spark, dir), ParquetMemo.readFiles(spark, dir, parquetFiles(dir)))
        .foreach { df =>
          assert(df.columns.toSeq == Seq("id", "s", "n"))
          assert(df.as[(Long, String, Int)].collect().toSet == Set((2L, "bb", 7), (3L, "cc", 8)))
        }
    }

    test(s"index meta directory rewritten out of band ($how): metaRows sees it") {
      val meta = tmp("lakememo-meta")
      Seq((3, 42L)).toDF("planes", "seed").coalesce(1).write.parquet(meta)
      assert(ParquetMemo.metaRows(spark, meta)._2.toSeq == Seq(Row(3, 42L)))
      rewrite(meta, Seq((5, 7L), (6, 8L)).toDF("planes", "seed"), sameNames)
      assert(ParquetMemo.metaRows(spark, meta)._2.toSet == Set(Row(5, 7L), Row(6, 8L)))
    }

    test(s"TRUSTED widened out of band ($how): readContract fails naming the column") {
      val dir = tmp("lakememo-trusted")
      val contract = StructType(Seq(StructField("sk", StringType), StructField("v", IntegerType)))
      Seq(("a", 1)).toDF("sk", "v").coalesce(1).write.parquet(dir)
      assert(ParquetMemo.readContract(spark, dir, contract).count() == 1)
      rewrite(dir, Seq(("a", 1, "kept")).toDF("sk", "v", "note"), sameNames)
      val e = intercept[IllegalStateException](ParquetMemo.readContract(spark, dir, contract))
      assert(e.getMessage.contains("note"), e.getMessage)
    }

    test(s"sidecar _coverage rewritten out of band ($how): snapshotRead and planDelta see it") {
      val side = tmp("lakememo-sidecar")
      SidecarMaintenance.commitDelta(spark, side,
        Some(Seq(("a.parquet", 1L), ("a.parquet", 2L)).toDF("file", "vec_id")), Nil, Nil)
      SidecarMaintenance.commitDelta(spark, side,
        Some(Seq(("bb.parquet", 3L)).toDF("file", "vec_id")), Nil, Nil)
      // the first plan heals the delta-only log into a base
      assert(SidecarMaintenance.planDelta(spark, side, Set("a.parquet", "bb.parquet")).isEmpty)
      val cov = SidecarMaintenance.coveragePath(side)
      val Seq(base) = fsOf(side).listStatus(cov).toSeq.map(_.getPath)
        .filter(_.getName.startsWith("base-"))
      val full = readText(base)
      val lines = full.split("\n").toSeq
      val aLines = lines.filter(_.startsWith("a.parquet\t")).mkString("\n")
      def snapshotIds = SidecarMaintenance.snapshotRead(spark, side)
        .select("vec_id").as[Long].collect().toSet
      // each rewrite below first warms the memo on the current log
      def rewriteLog(text: String): Unit =
        if (sameNames) rewriteText(base, text)
        else {
          val fs = fsOf(side)
          val names = fs.listStatus(cov).toSeq.map(_.getPath).filter(_.getName.startsWith("base-"))
          val seq = names.map(_.getName.stripPrefix("base-").toLong).max + 1
          val out = fs.create(new Path(cov, f"base-$seq%09d"))
          try out.write(text.getBytes("UTF-8")) finally out.close()
          names.foreach(fs.delete(_, false))
        }

      assert(snapshotIds == Set(1L, 2L, 3L))
      rewriteLog(aLines) // the log now covers only a.parquet's sidecar files
      assert(snapshotIds == Set(1L, 2L))

      rewriteLog(full)
      assert(SidecarMaintenance.planDelta(spark, side, Set("a.parquet", "bb.parquet")).isEmpty)
      // a valid log naming another corpus file for the same sidecar file
      rewriteLog(full.replace("a.parquet\t", "aa.parquet\t"))
      val plan = SidecarMaintenance.planDelta(spark, side, Set("a.parquet", "bb.parquet"))
      assert(plan.vanished == Set("aa.parquet") && plan.fresh == Seq("a.parquet"))
    }
  }

  test("a committed crash state with no staged coverage delta: recovery drops the log, the next plan heals it") {
    val side = tmp("lakememo-recover")
    SidecarMaintenance.commitDelta(spark, side,
      Some(Seq(("a.parquet", 1L), ("a.parquet", 2L)).toDF("file", "vec_id").coalesce(1)), Nil, Nil)
    SidecarMaintenance.commitDelta(spark, side,
      Some(Seq(("bb.parquet", 3L)).toDF("file", "vec_id").coalesce(1)), Nil, Nil)
    assert(SidecarMaintenance.planDelta(spark, side, Set("a.parquet", "bb.parquet")).isEmpty)
    val fs = fsOf(side)
    val doomed = spark.read.parquet(side).where(col("file") === "bb.parquet")
      .select(org.apache.spark.sql.functions.input_file_name()).as[String].collect().distinct
    // a commit replacing bb.parquet's sidecar file by cc.parquet's,
    // sealed and journaled, without the coverage delta a commit stages
    val staging = SidecarMaintenance.stagingPath(side)
    Seq(("cc.parquet", 4L)).toDF("file", "vec_id").coalesce(1).write.parquet(staging.toString)
    fs.create(new Path(staging, SidecarMaintenance.CommitMarker)).close()
    val j = fs.create(SidecarMaintenance.journalPath(side))
    try j.write(doomed.mkString("\n").getBytes("UTF-8")) finally j.close()
    SidecarMaintenance.recover(spark, side)
    assert(SidecarMaintenance.snapshotRead(spark, side).select("vec_id").as[Long]
      .collect().toSet == Set(1L, 2L, 4L))
    assert(SidecarMaintenance.planDelta(spark, side, Set("a.parquet", "cc.parquet")).isEmpty)
  }

  test("applyChangesInto twice in one JVM over a TRUSTED widened in between fails naming the column") {
    val dir = tmp("lakememo-apply")
    Seq(("a", 1)).toDF("sk", "v").write.parquet(dir)
    MergeUpsert.applyChangesInto(spark, dir, Seq(("b", 2, "I", 1)).toDF("sk", "v", "op", "seq"))
    MergeUpsert.mergeInto(spark, dir, Seq(("c", 3, "n")).toDF("sk", "v", "note"), evolveSchema = true)
    val e = intercept[IllegalStateException](
      MergeUpsert.applyChangesInto(spark, dir, Seq(("d", 4, "I", 2)).toDF("sk", "v", "op", "seq")))
    assert(e.getMessage.contains("note"), e.getMessage)
    val stored = spark.read.parquet(dir)
    assert(stored.columns.contains("note"))
    assert(stored.select("sk").as[String].collect().toSet == Set("a", "b", "c"))
  }

  test("in a cleared memo the probe-path reads run no inference job; a metaRows miss runs one") {
    val root = Files.createTempDirectory("graft-lakememo-jobs").toString
    val path = s"$root/vectors"
    graft.queries.Fixtures.tbl(spark, "/root/testdata/sf0.001", "embeddings")
      .where(col("vec_id") < 200).repartition(3).write.parquet(path)
    IvfIndex.collect(spark, path, nCells = 4)
    IvfIndex.refresh(spark, path) // heals the coverage log
    val cells = IvfIndex.cellsPath(path)
    val corpus = parquetFiles(path)

    LakeMemo.clear()
    assert(jobsDuring(SidecarMaintenance.snapshotRead(spark, cells)) == 0)
    LakeMemo.clear()
    assert(jobsDuring(SidecarMaintenance.readCandidateFiles(spark, path, corpus)) == 0)
    LakeMemo.clear()
    val plan = SidecarMaintenance.planDelta(spark, cells, corpus.toSet)
    LakeMemo.clear()
    assert(jobsDuring(SidecarMaintenance.keptRows(spark, cells, plan)) == 0)

    val centroids = s"$cells/_centroids"
    LakeMemo.clear()
    assert(jobsDuring(ParquetMemo.metaRows(spark, centroids)) == 1) // the collect
    assert(jobsDuring(ParquetMemo.metaRows(spark, centroids)) == 0)
    new graft.core.LakeStorage(spark.sparkContext.hadoopConfiguration).truncate(root)
  }
}
