package graft

import graft.sinks.StatsIndex
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** File-skipping stats index: identity under pruning, real pruning
  * (candidate files strictly fewer than data files), incremental
  * refresh that provably never rescans an already-indexed file
  * (poisoned-row construction), vanished-file cleanup, all-null-file
  * skipping, and invisibility of `_stats` to plain table reads. */
class StatsIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(): String =
    SparkTestSession.tmp("statsidx").toString

  /** 10 files, each holding one contiguous band of k: file i covers
    * [i*100, i*100+99] — tight ranges so a band predicate prunes. */
  private def bandedTable(path: String, files: Int = 10): Unit =
    spark.range(files * 100L)
      .select(col("id").as("k"), (col("id") * 3).as("v"))
      .repartitionByRange(files, col("k"))
      .write.mode("overwrite").parquet(path)

  private def counted(df: DataFrame) =
    df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap

  test("prunedRead == full filter, and actually prunes files") {
    val t = tmp()
    bandedTable(t)
    StatsIndex.collect(spark, t, Seq("k"))
    val lo = lit(250L); val hi = lit(449L)
    val pruned = StatsIndex.prunedRead(spark, t, "k", lo, hi)
    val full = spark.read.parquet(t).where(col("k") >= 250L && col("k") <= 449L)
    assert(counted(pruned) == counted(full))
    val candidates = StatsIndex.candidateFiles(spark, t, "k", lo, hi)
    val all = spark.read.parquet(t).inputFiles.length
    assert(candidates.nonEmpty && candidates.size < all,
      s"expected real pruning: ${candidates.size} of $all files")
    // the band spans 3 of the 10 100-wide files
    assert(candidates.size <= 3)
  }

  test("_stats dir is invisible to plain reads of the table") {
    val t = tmp()
    bandedTable(t, files = 4)
    val before = counted(spark.read.parquet(t))
    StatsIndex.collect(spark, t, Seq("k"))
    assert(counted(spark.read.parquet(t)) == before)
  }

  test("refresh scans only new files (poisoned row survives), drops vanished") {
    val t = tmp()
    bandedTable(t, files = 4)
    StatsIndex.collect(spark, t, Seq("k"))
    val idx = StatsIndex.indexPath(t)

    // poison one indexed row: if refresh rescanned old files the
    // true stats would replace the poison
    val poisoned = spark.read.parquet(idx).localCheckpoint(true)
      .withColumn("min_k",
        when(col("min_k") === 0L, lit(-12345L)).otherwise(col("min_k")))
    poisoned.coalesce(1).write.mode("overwrite").parquet(s"$idx.p")
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(idx), true)
    fs.rename(new Path(s"$idx.p"), new Path(idx))

    // drop one data file, append a new band
    val victim = spark.read.parquet(t).inputFiles.sorted.last
    fs.delete(new Path(victim), false)
    spark.range(1000L, 1100L)
      .select(col("id").as("k"), (col("id") * 3).as("v"))
      .coalesce(1).write.mode("append").parquet(t)

    StatsIndex.refresh(spark, t, Seq("k"))
    val after = spark.read.parquet(idx).localCheckpoint(true)
    assert(after.where(col("min_k") === -12345L).count() == 1,
      "poisoned row must survive refresh — old files are not rescanned")
    assert(after.where(col("file") === victim).count() == 0,
      "vanished file's stats row must drop")
    assert(after.where(col("min_k") === 1000L).count() == 1,
      "new file must gain a stats row")
    // and the index still prunes/reads correctly over the new band
    val got = StatsIndex.prunedRead(spark, t, "k", lit(1000L), lit(1099L))
    assert(got.count() == 100)
  }

  test("all-null files are pruned yet the result stays exact") {
    val t = tmp()
    spark.range(100L)
      .select(col("id").as("k"), (col("id") * 3).as("v"))
      .coalesce(1).write.mode("overwrite").parquet(t)
    spark.range(100L)
      .select(lit(null).cast("long").as("k"), col("id").as("v"))
      .coalesce(1).write.mode("append").parquet(t)
    StatsIndex.collect(spark, t, Seq("k"))
    val pruned = StatsIndex.prunedRead(spark, t, "k", lit(10L), lit(20L))
    val full = spark.read.parquet(t).where(col("k") >= 10L && col("k") <= 20L)
    assert(counted(pruned) == counted(full))
    assert(StatsIndex.candidateFiles(spark, t, "k", lit(10L), lit(20L)).size == 1,
      "the all-null file must be pruned")
  }

  test("pruned read still pushes the range predicate to the scan") {
    // the two skipping layers compose: the index prunes FILES, and
    // the re-applied predicate reaches the parquet reader for
    // row-group skipping inside each candidate file
    val t = tmp()
    bandedTable(t)
    StatsIndex.collect(spark, t, Seq("k"))
    val plan = StatsIndex.prunedRead(spark, t, "k", lit(250L), lit(449L))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(k), GreaterThanOrEqual(k,250), LessThanOrEqual(k,449)]"),
      s"range must reach the scan:\n$plan")
  }

  test("empty candidate set yields an empty frame with the table schema") {
    val t = tmp()
    bandedTable(t, files = 3)
    StatsIndex.collect(spark, t, Seq("k"))
    val out = StatsIndex.prunedRead(spark, t, "k", lit(99999L), lit(99999L))
    assert(out.count() == 0)
    assert(out.schema == spark.read.parquet(t).schema)
  }

  test("composes with partition-scoped CDC apply: refresh is O(touched partitions)") {
    // applyChangesIntoPartitioned rewrites only partitions the batch
    // touches, so a post-apply refresh rescans only THOSE partitions'
    // files — the poisoned row on the untouched partition proves it
    val root = tmp()
    val t = s"$root/trusted"
    val base = spark.range(400L).select(
      col("id").as("k"),
      (col("id") % 4).cast("int").as("p"),
      (col("id") * 3).as("v"),
      lit(1).as("seq"), lit("I").as("op"))
    graft.sinks.MergeUpsert.applyChangesIntoPartitioned(
      spark, t, base, key = "k", partitionCol = "p")
    StatsIndex.collect(spark, t, Seq("v"))
    val idx = StatsIndex.indexPath(t)

    // poison the stats of every p=3 (soon-untouched) file
    val poisoned = spark.read.parquet(idx).localCheckpoint(true)
      .withColumn("min_v",
        when(col("file").contains("p=3"), lit(-777L)).otherwise(col("min_v")))
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    poisoned.coalesce(1).write.mode("overwrite").parquet(s"$idx.p")
    fs.delete(new Path(idx), true)
    fs.rename(new Path(s"$idx.p"), new Path(idx))

    // batch touches only partitions 0 and 1
    val batch = spark.range(0L, 100L).select(
      col("id").as("k"),
      (col("id") % 2).cast("int").as("p"),
      (col("id") * 7 + 100000).as("v"),
      lit(2).as("seq"), lit("U").as("op"))
    graft.sinks.MergeUpsert.applyChangesIntoPartitioned(
      spark, t, batch, key = "k", partitionCol = "p")
    StatsIndex.refresh(spark, t, Seq("v"))

    val after = spark.read.parquet(idx).localCheckpoint(true)
    assert(after.where(col("min_v") === -777L).count() > 0,
      "untouched partition's poisoned stats must survive — not rescanned")
    // the rewritten partitions' new files are indexed and usable
    val got = counted(StatsIndex.prunedRead(spark, t, "v", lit(100000L), lit(101000L)))
    val full = counted(
      spark.read.parquet(t).where(col("v") >= 100000L && col("v") <= 101000L))
    assert(got == full && full.nonEmpty)
  }

  test("composes with z-ordered TRUSTED: narrow ranges on BOTH clustered columns prune") {
    // the layout layer (mergeInto(zorderBy)) gives each file a tight
    // span on both clustered columns; the metadata layer turns those
    // spans into skipped files — together they make "range query on
    // a maintained table" a few-file read on either column
    val t = s"${tmp()}/trusted"
    val grid = spark.range(20000L).select(
      col("id").as("sk"),
      (col("id") * 7919 % 10000).as("x"),
      (col("id") * 104729 % 10000).as("y"))
    graft.sinks.MergeUpsert.mergeInto(spark, t, grid, key = "sk",
      zorderBy = Seq("x", "y"), zorderFiles = 16)
    StatsIndex.collect(spark, t, Seq("x", "y"))
    val total = spark.read.parquet(t).inputFiles.length
    for (c <- Seq("x", "y")) {
      val cand = StatsIndex.candidateFiles(spark, t, c, lit(1000L), lit(1999L))
      assert(cand.nonEmpty && cand.size <= total / 2,
        s"10% band on $c should skip most z-ordered files: ${cand.size} of $total")
      val got = counted(StatsIndex.prunedRead(spark, t, c, lit(1000L), lit(1999L)))
      val full = counted(
        spark.read.parquet(t).where(col(c) >= 1000L && col(c) <= 1999L))
      assert(got == full)
    }
  }

  test("hive-partitioned layout: partition column indexable, files nested") {
    val t = tmp()
    spark.range(400L)
      .select((col("id") % 4).cast("int").as("p"),
        col("id").as("k"), (col("id") * 3).as("v"))
      .repartition(col("p"))
      .write.partitionBy("p").mode("overwrite").parquet(t)
    StatsIndex.collect(spark, t, Seq("k", "p"))
    val pruned = StatsIndex.prunedRead(spark, t, "k", lit(50L), lit(99L))
    val full = spark.read.parquet(t).where(col("k") >= 50L && col("k") <= 99L)
    assert(counted(pruned.select("k", "v", "p")) == counted(full.select("k", "v", "p")))
  }
}
