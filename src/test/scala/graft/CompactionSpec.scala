package graft

import graft.sinks.Compaction
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Event
import java.sql.Timestamp
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

class CompactionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fs = new Path("/tmp")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dataFiles(dir: String): Seq[String] =
    fs.listStatus(new Path(dir)).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(_.getPath.getName)

  private def ev(id: Long) =
    Event(id, Timestamp.valueOf("2024-01-01 00:01:00"), id % 3, "click", id.toDouble)

  test("streamed zone: compaction shrinks files, keeps rows, and the stream resumes") {
    val root = SparkTestSession.tmp("compact").toString
    val landing = s"$root/landing"
    val work = s"$root/work"
    val ckpt = s"$root/ckpt"
    // 12 single-row landed files → 12 micro-batches → sink-log batches
    // 0..11: the latest positional compact boundary (batch 9 at the
    // default interval 10) is exercised, not just the batch-0 fallback
    (1L to 12L).foreach(i => graft.sinks.ParquetAppend.write(Seq(ev(i)).toDF(), landing))
    val schema = spark.read.parquet(landing).schema
    StreamingOps.streamIngestToWork(spark, landing, schema, work, ckpt)
    assert(dataFiles(work).size == 12)
    assert(spark.read.parquet(work).count() == 12)

    val n = Compaction.compactWork(spark, work)
    assert(n == 1)
    assert(dataFiles(work).size == 1)
    // the batch reader goes THROUGH the rewritten sink log: 12 rows
    // visible proves the log lists exactly the compacted files
    val back = spark.read.parquet(work)
    assert(back.count() == 12)
    assert(back.select("event_id").as[Long].collect().toSet == (1L to 12L).toSet)

    // resume the SAME checkpoint: new landed files must append as
    // batches 12+ and become visible ALONGSIDE the compacted rows
    (13L to 14L).foreach(i => graft.sinks.ParquetAppend.write(Seq(ev(i)).toDF(), landing))
    StreamingOps.streamIngestToWork(spark, landing, schema, work, ckpt)
    val resumed = spark.read.parquet(work)
    assert(resumed.count() == 14)
    assert(resumed.select("event_id").as[Long].collect().toSet == (1L to 14L).toSet)
    assert(dataFiles(work).size == 3) // 1 compacted + 2 new micro-batch files

    // second compaction over the mixed zone
    assert(Compaction.compactWork(spark, work) == 1)
    assert(spark.read.parquet(work).select("event_id")
      .as[Long].collect().toSet == (1L to 14L).toSet)
  }

  test("plain zone: bin-packs to the requested target size") {
    val root = SparkTestSession.tmp("compact2").toString
    val work = s"$root/work"
    (0L until 600L).map(ev).toDF().repartition(6).write.parquet(work)
    assert(dataFiles(work).size == 6)
    val total = fs.listStatus(new Path(work)).filter(_.isFile)
      .filter(st => !st.getPath.getName.startsWith("_")).map(_.getLen).sum
    // target = just over half the zone → exactly 2 output files
    val n = Compaction.compactWork(spark, work, targetBytes = total / 2 + 1)
    assert(n == 2)
    assert(dataFiles(work).size == 2)
    assert(spark.read.parquet(work).count() == 600)
  }

  test("crash between staging commit and swap: recovery finishes the promote") {
    val root = SparkTestSession.tmp("compact3").toString
    val work = s"$root/work"
    (1L to 4L).map(ev).toDF().repartition(4).write.parquet(work)
    // simulate the crash window: staging fully committed (marker
    // present), target already moved aside, second rename never ran
    (1L to 4L).map(ev).toDF().coalesce(1).write.parquet(s"${work}__cstaging")
    fs.create(new Path(s"${work}__cstaging/_GRAFT_COMPACTED"), true).close()
    assert(fs.rename(new Path(work), new Path(s"${work}__cprev")))
    // next compaction run recovers first: staged zone promoted, aside
    // copy dropped, then the compaction itself proceeds normally
    val n = Compaction.compactWork(spark, work)
    assert(n == 1)
    assert(spark.read.parquet(work).count() == 4)
    assert(!fs.exists(new Path(s"${work}__cstaging")))
    assert(!fs.exists(new Path(s"${work}__cprev")))
  }

  test("crash before staging commit: recovery restores the original zone") {
    val root = SparkTestSession.tmp("compact4").toString
    val work = s"$root/work"
    (1L to 4L).map(ev).toDF().repartition(4).write.parquet(work)
    // uncommitted staging (no marker — half-written), target aside
    (1L to 2L).map(ev).toDF().coalesce(1).write.parquet(s"${work}__cstaging")
    assert(fs.rename(new Path(work), new Path(s"${work}__cprev")))
    val n = Compaction.compactWork(spark, work)
    assert(n == 1)
    // the original 4 rows survived — the torn staging was discarded
    assert(spark.read.parquet(work).count() == 4)
  }

  test("partitioned zones are rejected with the contract") {
    val root = SparkTestSession.tmp("compact5").toString
    val work = s"$root/work"
    (1L to 4L).map(ev).toDF().withColumn("p", $"event_id" % 2)
      .write.partitionBy("p").parquet(work)
    val err = intercept[IllegalArgumentException] {
      Compaction.compactWork(spark, work)
    }
    assert(err.getMessage.contains("partitioned"))
  }
}
