package graft

import graft.sinks.{BloomIndex, InvertedIndex, IvfIndex, SidecarMaintenance, StatsIndex}
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The journaled rebuild-publish protocol
  * ([[SidecarMaintenance.publishDir]] / `recoverPublish`): the r14
  * form (`delete(dest); rename(next, dest)`) had one bad crash point
  * — between the two calls NO index existed at all. Every crash
  * point of the new dance must land in one of three states: the old
  * index serving, the new one serving, or a parked state the NEXT
  * maintenance entry rolls forward to a serving index. Each test
  * fabricates one crash state on disk with real artifacts and drives
  * recovery through the normal entry (refresh), then grades probes
  * against brute force. */
class PublishRecoverySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def withTable(f: String => Unit): Unit = {
    val root = SparkTestSession.tmp("pub").toString
    val path = s"$root/vectors"
    graft.queries.Fixtures.tbl(spark, sf, "embeddings")
      .where(col("vec_id") < 200).repartition(3)
      .write.parquet(path)
    try f(path)
    finally new graft.core.LakeStorage(
      spark.sparkContext.hadoopConfiguration).truncate(root)
  }

  private def fsOf(path: String) = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def copyDir(src: String, dst: String): Unit = {
    val fs = fsOf(src)
    FileUtil.copy(fs, new Path(src), fs, new Path(dst), false,
      spark.sparkContext.hadoopConfiguration)
  }

  private def ranks(df: DataFrame): Set[(Long, Long, Long)] =
    df.as[(Long, Long, Long)].collect().toSet

  private def brute(path: String): Set[(Long, Long, Long)] = {
    val corpus = spark.read.parquet(path)
    ranks(graft.ext.SimilaritySearch.bruteForceTopK(
      corpus.where(col("vec_id") < 5), corpus, k = 10))
  }

  private def probe(path: String): Set[(Long, Long, Long)] =
    ranks(IvfIndex.topK(spark, path,
      spark.read.parquet(path).where(col("vec_id") < 5), k = 10, nProbe = 8))

  test("crash BETWEEN the publish renames (old aside, sealed .next, no dest): next entry restores the NEW index") {
    withTable { path =>
      IvfIndex.collect(spark, path, nCells = 8)
      val dest = IvfIndex.cellsPath(path)
      val fs = fsOf(dest)
      // the new index the crashed rebuild had fully built and
      // sealed: a real copy of the serving one (content provenance
      // is irrelevant to the protocol; being a complete, guard-passed
      // index is what matters)
      copyDir(dest, s"$dest.next")
      fs.create(new Path(s"$dest.next",
        SidecarMaintenance.PublishMarker)).close()
      // the exact between-renames state: old moved aside, next not
      // yet in — the r14 window where NO index existed
      assert(fs.rename(new Path(dest), new Path(s"$dest.old")))
      assert(!fs.exists(new Path(dest)))
      val truth = brute(path)
      IvfIndex.refresh(spark, path) // the next maintenance entry
      assert(fs.exists(new Path(dest)), "recovery must restore a serving index")
      assert(!fs.exists(new Path(s"$dest.next")) &&
        !fs.exists(new Path(s"$dest.old")), "publish leftovers must be gone")
      assert(probe(path) === truth)
    }
  }

  test("crash right AFTER the seal (marker present, dest untouched): next entry rolls the publish forward") {
    withTable { path =>
      IvfIndex.collect(spark, path, nCells = 8)
      val dest = IvfIndex.cellsPath(path)
      val fs = fsOf(dest)
      copyDir(dest, s"$dest.next")
      // plant a sentinel so we can PROVE dest was replaced by next
      fs.create(new Path(s"$dest.next", "_from_next")).close()
      fs.create(new Path(s"$dest.next",
        SidecarMaintenance.PublishMarker)).close()
      val truth = brute(path)
      IvfIndex.refresh(spark, path)
      assert(fs.exists(new Path(dest, "_from_next")),
        "a SEALED next is committed — recovery must roll it IN")
      assert(!fs.exists(new Path(s"$dest.next")) &&
        !fs.exists(new Path(s"$dest.old")))
      assert(!fs.exists(new Path(dest, SidecarMaintenance.PublishMarker)),
        "the marker must not linger in the serving index")
      assert(probe(path) === truth)
    }
  }

  test("crash MID-BUILD (unsealed .next): rolled back, old index byte-identical") {
    withTable { path =>
      IvfIndex.collect(spark, path, nCells = 8)
      val dest = IvfIndex.cellsPath(path)
      val fs = fsOf(dest)
      val before = SidecarMaintenance.dataFiles(spark, dest)
        .map(f => f -> fs.getFileStatus(new Path(f)).getLen).toMap
      copyDir(dest, s"$dest.next") // no marker — the build died
      val truth = brute(path)
      IvfIndex.refresh(spark, path)
      assert(!fs.exists(new Path(s"$dest.next")),
        "an UNSEALED next is garbage — recovery must discard it")
      val after = SidecarMaintenance.dataFiles(spark, dest)
        .map(f => f -> fs.getFileStatus(new Path(f)).getLen).toMap
      assert(after === before, "the old index must be untouched")
      assert(probe(path) === truth)
    }
  }

  test("dest missing, only .old present (external interference): recovery restores the OLD index") {
    withTable { path =>
      IvfIndex.collect(spark, path, nCells = 8)
      val dest = IvfIndex.cellsPath(path)
      val fs = fsOf(dest)
      assert(fs.rename(new Path(dest), new Path(s"$dest.old")))
      val truth = brute(path)
      IvfIndex.refresh(spark, path)
      assert(fs.exists(new Path(dest)) && !fs.exists(new Path(s"$dest.old")),
        "recovery must restore .old as the serving index")
      assert(probe(path) === truth)
    }
  }

  test("inverted index shares the dance: between-renames crash heals through refresh") {
    val root = SparkTestSession.tmp("pubinv").toString
    val path = s"$root/docs"
    try {
      graft.queries.Fixtures.tbl(spark, sf, "documents")
        .select("doc_id", "text").repartition(2).write.parquet(path)
      InvertedIndex.collect(spark, path, "text", "doc_id")
      val dest = InvertedIndex.indexPath(path)
      val fs = fsOf(dest)
      copyDir(dest, s"$dest.next")
      fs.create(new Path(s"$dest.next",
        SidecarMaintenance.PublishMarker)).close()
      assert(fs.rename(new Path(dest), new Path(s"$dest.old")))
      InvertedIndex.refresh(spark, path, "text", "doc_id")
      assert(fs.exists(new Path(dest)) &&
        !fs.exists(new Path(s"$dest.next")) &&
        !fs.exists(new Path(s"$dest.old")))
      // the recovered index answers: phrase search through the
      // index equals the corpus-scan predicate
      val viaIdx = InvertedIndex
        .phraseSearch(spark, path, "text", "doc_id", "the")
        .select("doc_id").as[Long].collect().toSet
      val direct = spark.read.parquet(path)
        .where(instr(concat(lit(" "),
          graft.functions.TextFunctions.normalized(col("text")),
          lit(" ")), " the ") > 0)
        .select("doc_id").as[Long].collect().toSet
      assert(viaIdx.nonEmpty && viaIdx === direct)
    } finally new graft.core.LakeStorage(
      spark.sparkContext.hadoopConfiguration).truncate(root)
  }

  test("a crash during a stats or bloom re-collect leaves the old index readable") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.faultfs.impl", classOf[FaultFs].getName)
    val local = SparkTestSession.tmp("recollect").toString
    val t = s"faultfs://$local/t"
    (1 to 20).map(i => (s"k$i", i)).toDF("sk", "v").repartition(2).write.parquet(t)
    StatsIndex.collect(spark, t, Seq("v"))
    BloomIndex.collect(spark, t, "sk", 100L)
    (21 to 30).map(i => (s"k$i", i)).toDF("sk", "v").coalesce(1)
      .write.mode("append").parquet(t)
    Seq[(String, () => Unit)](
      StatsIndex.indexPath(t) -> (() => StatsIndex.collect(spark, t, Seq("v"))),
      BloomIndex.indexPath(t) -> (() => BloomIndex.collect(spark, t, "sk", 100L))
    ).foreach { case (idx, recollect) =>
      // the writer dies at its first file create: the rebuilt index's
      // job-commit marker, every data file already written
      FaultFs.arm(local, 1, _.startsWith("create"))
      try intercept[Exception](recollect()) finally FaultFs.disarm()
      assert(spark.read.parquet(idx).count() === 2L,
        s"$idx: the old index (one row per original file) must still serve")
    }
  }
}
