package graft

import graft.sinks.{IvfIndex, SidecarMaintenance}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r18 footer-derived maintenance statistics: the staged-stats
  * aggregation job and the refresh guard's bounds aggregation were
  * replaced by driver-side parquet-footer reads wherever the footers
  * are provably exact. These tests pin the equivalence contract: the
  * footer forms either return EXACTLY what the aggregation computed,
  * or None (fall back) — never a different answer. */
class FooterStatsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def stagedStatuses(staging: String) = {
    val fs = fsOf(staging)
    def walk(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap { s =>
        val n = s.getPath.getName
        if (s.isDirectory) walk(s.getPath)
        else if (n.startsWith("_") || n.startsWith(".")) Nil
        else Seq(s)
      }
    walk(new Path(staging))
  }

  /** The aggregation the old commitDelta ran — the reference truth
    * footerCovRecs must match where it claims applicability. */
  private def aggRecs(staging: String, statsCol: Option[String])
      : Set[(String, String, Long, Long, Long)] = {
    val base = spark.read.option("basePath", staging)
      .parquet(stagedStatuses(staging).map(_.getPath.toString): _*)
    def rel(f: String) = {
      val b = new Path(staging).toUri.getPath.stripSuffix("/")
      new Path(f).toUri.getPath.stripPrefix(b).stripPrefix("/")
    }
    statsCol match {
      case Some(sc) =>
        base.groupBy(col("file"),
            col("_metadata.file_path").as("__sfile"),
            col("_metadata.file_size").as("__slen"))
          .agg(min(col(sc).cast("long")).as("__lo"),
            max(col(sc).cast("long")).as("__hi"),
            sum(when(col(sc).cast("long").isNull, 1L).otherwise(0L))
              .as("__nulls"))
          .as[(String, String, Long, Option[Long], Option[Long], Long)]
          .collect()
          .map { case (c, sf, len, lo, hi, nulls) =>
            if (nulls > 0 || lo.isEmpty)
              (c, rel(sf), len, Long.MinValue, Long.MaxValue)
            else (c, rel(sf), len, lo.get, hi.get)
          }.toSet
      case None =>
        base.select(col("file"), col("_metadata.file_path").as("__sfile"),
            col("_metadata.file_size").as("__slen"))
          .distinct().as[(String, String, Long)].collect()
          .map { case (c, sf, len) =>
            (c, rel(sf), len, Long.MinValue, Long.MaxValue) }.toSet
    }
  }

  private def footerRecs(staging: String, statsCol: Option[String]) =
    SidecarMaintenance.footerCovRecs(spark, new Path(staging),
      stagedStatuses(staging), statsCol)
      .map(_.map(r => (r.corpus, r.rel, r.len, r.lo, r.hi)).toSet)

  test("footerCovRecs == staged-stats aggregation on single-corpus-file stages") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-footercov").toString
    try {
      // two corpus files, staged one-per-commit like a refresh does
      Seq(1L, 2L, 3L).toDF("vec_id").coalesce(1)
        .write.parquet(s"$root/corpus")
      val corpusFile = fsOf(s"$root/corpus")
        .listStatus(new Path(s"$root/corpus"))
        .map(_.getPath.toString).filter(_.endsWith(".parquet")).head
      val staged = Seq(1L, 2L, 3L).toDF("vec_id")
        .withColumn("file", lit(corpusFile))
        .withColumn("__cell", pmod(col("vec_id"), lit(2)).cast("int"))
      staged.repartition(col("__cell"))
        .write.partitionBy("__cell").parquet(s"$root/staging")
      val f = footerRecs(s"$root/staging", Some("vec_id"))
      assert(f.isDefined, "footer path must apply to single-corpus stages")
      assert(f.get === aggRecs(s"$root/staging", Some("vec_id")))
      // statsCol = None form too
      val f2 = footerRecs(s"$root/staging", None)
      assert(f2.isDefined && f2.get === aggRecs(s"$root/staging", None))
    } finally new graft.core.LakeStorage(
      spark.sparkContext.hadoopConfiguration).truncate(root)
  }

  test("footerCovRecs: nulls in the stats column degrade to the sentinel, exactly like the aggregation") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-footernull").toString
    try {
      Seq(Some(5L), None, Some(9L)).toDF("vec_id")
        .withColumn("file", lit("file:/corpus/a.parquet"))
        .coalesce(1).write.parquet(s"$root/staging")
      val f = footerRecs(s"$root/staging", Some("vec_id"))
      assert(f.isDefined)
      assert(f.get === aggRecs(s"$root/staging", Some("vec_id")))
      assert(f.get.head._4 === Long.MinValue && f.get.head._5 === Long.MaxValue,
        "a null id must force the full-range sentinel")
    } finally new graft.core.LakeStorage(
      spark.sparkContext.hadoopConfiguration).truncate(root)
  }

  test("footerCovRecs returns None (fallback) when a staged file mixes corpus files or the id is non-integral") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-footermix").toString
    try {
      Seq((1L, "file:/corpus/a.parquet"), (2L, "file:/corpus/b.parquet"))
        .toDF("vec_id", "file").coalesce(1).write.parquet(s"$root/mixed")
      assert(footerRecs(s"$root/mixed", Some("vec_id")).isEmpty,
        "two corpus files in one staged file must fall back")
      Seq(("x1", "file:/corpus/a.parquet")).toDF("vec_id", "file")
        .coalesce(1).write.parquet(s"$root/strid")
      assert(footerRecs(s"$root/strid", Some("vec_id")).isEmpty,
        "a non-integral stats column must fall back (its cast-to-long " +
          "bounds are not derivable from binary footer stats)")
    } finally new graft.core.LakeStorage(
      spark.sparkContext.hadoopConfiguration).truncate(root)
  }

  test("footerIdRange == idRangeOf on integral ids; None on nulls/strings") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-footerrange").toString
    try {
      Seq(7L, 3L, 11L).toDF("vec_id").coalesce(1)
        .write.parquet(s"$root/ints")
      val files = fsOf(s"$root/ints").listStatus(new Path(s"$root/ints"))
        .map(_.getPath.toString).filter(_.endsWith(".parquet")).toSeq
      assert(SidecarMaintenance.footerIdRange(spark, files, "vec_id") ===
        SidecarMaintenance.idRangeOf(
          spark.read.parquet(s"$root/ints"), "vec_id"))
      assert(SidecarMaintenance.footerIdRange(spark, files, "vec_id") ===
        Some((3L, 11L)))
      Seq(Some(1L), None).toDF("vec_id").coalesce(1)
        .write.parquet(s"$root/nulls")
      val nf = fsOf(s"$root/nulls").listStatus(new Path(s"$root/nulls"))
        .map(_.getPath.toString).filter(_.endsWith(".parquet")).toSeq
      assert(SidecarMaintenance.footerIdRange(spark, nf, "vec_id").isEmpty,
        "any null id disables pruning — same rule as idRangeOf")
      Seq("a").toDF("vec_id").coalesce(1).write.parquet(s"$root/str")
      val sf2 = fsOf(s"$root/str").listStatus(new Path(s"$root/str"))
        .map(_.getPath.toString).filter(_.endsWith(".parquet")).toSeq
      assert(SidecarMaintenance.footerIdRange(spark, sf2, "vec_id").isEmpty)
    } finally new graft.core.LakeStorage(
      spark.sparkContext.hadoopConfiguration).truncate(root)
  }

  test("fused one-job guard: same trips and passes as the aggregation form") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-fusedguard").toString
    val table = s"$root/vectors"
    try {
      val e = graft.queries.Fixtures.tbl(spark, "/root/testdata/sf0.001", "embeddings")
      e.where(col("vec_id") % 2 === 0).coalesce(1).write.parquet(table)
      IvfIndex.collect(spark, table, nCells = 4)
      // disjoint fresh ids: refresh must pass through the fused guard
      e.where(col("vec_id") % 2 === 1).coalesce(1)
        .write.mode("append").parquet(table)
      IvfIndex.refresh(spark, table)
      // a clash (re-appending ids already kept) must trip it with the
      // same message as the aggregation form
      e.where(col("vec_id") % 2 === 1).coalesce(1)
        .write.mode("append").parquet(table)
      val ex = intercept[IllegalArgumentException] {
        IvfIndex.refresh(spark, table)
      }
      assert(ex.getMessage.contains("vectors indexed more than once"))
    } finally new graft.core.LakeStorage(
      spark.sparkContext.hadoopConfiguration).truncate(root)
  }
}
