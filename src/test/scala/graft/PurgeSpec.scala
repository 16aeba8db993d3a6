package graft

import graft.core.Meter
import graft.sinks.{BloomIndex, InvertedIndex, MergeUpsert, Purge}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PurgeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fs = new Path("/tmp")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** 4 files × 25 rows, ids partition-aligned so each file holds one
    * id century. */
  private def freshTable(): String = {
    val root = SparkTestSession.tmp("purge").toString
    val table = s"$root/t"
    (0 until 4).foreach { f =>
      (0L until 25L).map(i => (f * 100L + i, s"doc $f $i payload"))
        .toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(table)
    }
    table
  }

  private def dataFiles(table: String): Set[String] =
    fs.listStatus(new Path(table)).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath.getName).toSet

  test("purge removes exactly the keyed rows; untouched files survive as-is") {
    val table = freshTable()
    val before = dataFiles(table)
    val keys = Seq(101L, 102L, 303L).toDF("id")
    val r = Purge.purge(spark, table, keys, "id", "doc_id")
    assert(r.nDataFiles == 4 && r.nRewrittenFiles == 2 && r.nRowsDeleted == 3)
    val got = spark.read.parquet(table).select("doc_id")
      .as[Long].collect().toSet
    val want = (0 until 4).flatMap(f => (0L until 25L).map(f * 100L + _))
      .toSet -- Set(101L, 102L, 303L)
    assert(got == want)
    // the two files holding no doomed rows are the SAME files
    val after = dataFiles(table)
    assert(before.intersect(after).size == 2,
      s"exactly the two untouched files must carry over: $before vs $after")
  }

  test("purge with a bloom index opens only candidate files") {
    val table = freshTable()
    BloomIndex.collect(spark, table, "doc_id", expectedItems = 1000)
    val r = Purge.purge(spark, table, Seq(205L).toDF("id"), "id", "doc_id")
    // the bloom prunes non-candidate files driver-side; FP files (if
    // any) die at the verify sliver — rewritten is exactly one
    assert(r.nCandidateFiles <= 2 && r.nRewrittenFiles == 1 &&
      r.nRowsDeleted == 1)
    assert(spark.read.parquet(table).where(col("doc_id") === 205L).count() == 0)
    assert(spark.read.parquet(table).count() == 99)
  }

  test("purging every row of a file drops the file") {
    val table = freshTable()
    val keys = (300L until 325L).toDF("id") // the whole 4th file
    val r = Purge.purge(spark, table, keys, "id", "doc_id")
    assert(r.nRowsDeleted == 25)
    assert(spark.read.parquet(table).count() == 75)
    assert(spark.read.parquet(table)
      .where(col("doc_id") >= 300L).count() == 0)
  }

  test("absent keys and null keys purge nothing, zero rewrites") {
    val table = freshTable()
    val keys = Seq(Some(99999L), None).toDF("id")
    val r = Purge.purge(spark, table, keys, "id", "doc_id")
    assert(r.nRewrittenFiles == 0 && r.nRowsDeleted == 0)
    assert(spark.read.parquet(table).count() == 100)
  }

  test("recover: committed journal finishes the swap exactly-once") {
    val table = freshTable()
    // stage a replacement for file-1 manually: survivors of century 1
    // minus id 101, committed, journaled — then "crash" before swap
    val century1 = spark.read.parquet(table)
      .where(col("doc_id") >= 100L && col("doc_id") < 200L)
    val origFile = century1.select(col("_metadata.file_path"))
      .head().getString(0)
    val staging = new Path(table, ".purge-staging")
    century1.where(col("doc_id") =!= 101L)
      .coalesce(1).write.parquet(staging.toString)
    fs.create(new Path(staging, "_GRAFT_PURGE_COMMIT")).close()
    val out = fs.create(new Path(table, "_purge_journal"))
    out.write(origFile.getBytes("UTF-8")); out.close()

    Purge.recover(spark, table)
    assert(!fs.exists(new Path(table, "_purge_journal")))
    assert(!fs.exists(staging))
    val ids = spark.read.parquet(table).select("doc_id").as[Long].collect()
    assert(ids.length == 99 && !ids.contains(101L),
      "recovery must finish the journaled delete without duplicating rows")
    // idempotent: a second recover is a no-op
    Purge.recover(spark, table)
    assert(spark.read.parquet(table).count() == 99)
  }

  test("recover: uncommitted staging rolls back, originals intact") {
    val table = freshTable()
    val staging = new Path(table, ".purge-staging")
    spark.range(5).toDF("doc_id").withColumn("text", lit("junk"))
      .coalesce(1).write.parquet(staging.toString)
    // no commit marker, but a journal (crash between staging start
    // and commit cannot journal — model the conservative branch:
    // journal without marker rolls back too)
    val out = fs.create(new Path(table, "_purge_journal"))
    out.write("bogus".getBytes("UTF-8")); out.close()
    Purge.recover(spark, table)
    assert(!fs.exists(staging) && !fs.exists(new Path(table, "_purge_journal")))
    assert(spark.read.parquet(table).count() == 100)
  }

  test("purge leaves sidecar indexes one refresh away from consistent") {
    val table = freshTable()
    InvertedIndex.collect(spark, table, "text", "doc_id")
    BloomIndex.collect(spark, table, "doc_id", expectedItems = 1000)
    Purge.purge(spark, table, Seq(101L).toDF("id"), "id", "doc_id")
    // rewritten file = vanished + fresh — exactly the file-set delta
    // the refreshers handle
    InvertedIndex.refresh(spark, table, "text", "doc_id")
    BloomIndex.refresh(spark, table, "doc_id")
    val hits = InvertedIndex.phraseSearch(
      spark, table, "text", "doc_id", "doc 1 1 payload")
    assert(hits.count() == 0, "purged doc must be unfindable post-refresh")
    val alive = InvertedIndex.phraseSearch(
      spark, table, "text", "doc_id", "doc 1 2 payload")
    assert(alive.select("doc_id").as[Long].collect().toSeq == Seq(102L))
  }

  private def jobsDuring(body: => Unit): Int = Meter.during(spark)(body)._2.jobs.size

  test("purge infers the table schema from a footer on the driver: no schema job") {
    val table = freshTable()
    val keys = Seq(101L, 303L).toDF("id")
    // the key collect, the locate and verify scans and the survivors
    // write, with their broadcasts; inferring the schema in a Spark
    // job would make it 11
    assert(jobsDuring(Purge.purge(spark, table, keys, "id", "doc_id")) == 10)
    assert(spark.read.parquet(table).count() == 98)
  }

  test("purge heals a TRUSTED table parked mid-swap, then deletes the keyed rows") {
    val root = SparkTestSession.tmp("purge-parked").toString
    val table = s"$root/t"
    MergeUpsert.mergeInto(spark, table,
      (0L until 20L).map(i => (i, s"doc $i")).toDF("doc_id", "text").repartition(2))
    // a whole-table swap killed after moving the live table aside
    assert(fs.rename(new Path(table), new Path(s"${table}__prev")))
    val r = Purge.purge(spark, table, Seq(3L, 7L).toDF("id"), "id", "doc_id")
    assert(r.nRowsDeleted == 2)
    assert(spark.read.parquet(table).select("doc_id").as[Long].collect().toSet ==
      (0L until 20L).toSet -- Set(3L, 7L))
    assert(!fs.exists(new Path(s"${table}__prev")) && !fs.exists(new Path(s"${table}__staging")))
  }

  test("purge on a hive-partitioned table rewrites inside the partitions; a partitioned merge then replaces the survivors") {
    val root = SparkTestSession.tmp("purge-partitioned").toString
    val table = s"$root/t"
    def part(i: Long) = if (i < 6) "p1" else "p2"
    MergeUpsert.mergeIntoPartitioned(spark, table,
      (0L until 12L).map(i => (i, s"doc $i", part(i))).toDF("doc_id", "text", "part").repartition(2),
      key = "doc_id")
    val r = Purge.purge(spark, table, Seq(2L, 8L).toDF("id"), "id", "doc_id")
    assert(r.nRowsDeleted == 2)
    assert(dataFiles(table).isEmpty, "no data file may land at the table root")
    val survivors = (0L until 12L).filterNot(Set(2L, 8L))
    assert(spark.read.parquet(table).select("doc_id", "part").as[(Long, String)].collect().toSet ==
      survivors.map(i => (i, part(i))).toSet)
    MergeUpsert.mergeIntoPartitioned(spark, table,
      Seq((0L, "new 0", "p1")).toDF("doc_id", "text", "part"), key = "doc_id")
    val after = spark.read.parquet(table).select("doc_id", "text", "part")
      .as[(Long, String, String)].collect().toSeq
    assert(after.sortBy(_._1) == survivors.map(i => (i, if (i == 0L) "new 0" else s"doc $i", part(i))))
    assert(dataFiles(table).isEmpty)
  }
}
