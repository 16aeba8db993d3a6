package graft

import graft.core.{Clock, DatasetRef, LakePaths}
import graft.operators.IncrementalPromote
import graft.sinks.ParquetAppend
import org.apache.hadoop.fs.{FileUtil, Path}
import org.scalatest.funsuite.AnyFunSuite
import scala.util.control.NonFatal

/** Crash injection ([[FaultFs]]) on the incremental promote's
  * watermark write: it must replace the watermark atomically, so a
  * writer killed at any of its filesystem calls leaves the old
  * watermark or the new one, and the rerun promotes exactly what a
  * run without the crash promotes. */
class WatermarkCrashSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val ref = DatasetRef("test", "db", "wm")
  private val sk = Seq("id")

  private def fs = {
    spark.sparkContext.hadoopConfiguration.set("fs.faultfs.impl", classOf[FaultFs].getName)
    new Path("faultfs:///").getFileSystem(spark.sparkContext.hadoopConfiguration)
  }

  private def withLake[T](f: (String, LakePaths) => T): T = {
    val local = SparkTestSession.tmp("wmcrash").toString
    fs // registers the faultfs scheme
    try f(local, LakePaths(s"faultfs://$local"))
    finally FileUtil.fullyDelete(new java.io.File(local))
  }

  private def trusted(lake: LakePaths): Set[(Long, String)] =
    spark.read.parquet(lake.trusted(ref)).select("id", "name").as[(Long, String)].collect().toSet

  private def promote(lake: LakePaths) =
    IncrementalPromote.run(spark, ref, lake, sk, clock = Clock.ForOracle)

  /** Batch 1 promoted (the old watermark), batch 2 landed in WORK. */
  private def setup(lake: LakePaths): Unit = {
    ParquetAppend.write((1L to 50L).map(i => (i, s"a$i")).toDF("id", "name"), lake.work(ref))
    promote(lake)
    Thread.sleep(20) // batch 2 gets a later mtime
    ParquetAppend.write((40L to 80L).map(i => (i, s"b$i")).toDF("id", "name"), lake.work(ref))
  }

  test("IncrementalPromote: a crash at any watermark call leaves the old or the new watermark") {
    val (reference, batch2Files, calls, wmPath) = withLake { (local, lake) =>
      setup(lake)
      FaultFs.arm(local, Long.MaxValue)
      val r = try promote(lake) finally FaultFs.disarm()
      (trusted(lake), r.filesProcessed, FaultFs.calls,
        new Path(lake.trusted(ref) + "__promote_watermark").toUri.getPath)
    }
    // published by renaming a finished sibling, never written in place
    assert(!calls.contains(s"create $wmPath"), s"in-place watermark write: $calls")
    assert(calls.exists(c => c.startsWith("rename ") && c.endsWith(s" -> $wmPath")), calls)
    val wmCalls = calls.zipWithIndex.filter(_._1.contains(new Path(wmPath).getName))

    wmCalls.foreach { case (call, i) =>
      withLake { (local, lake) =>
        setup(lake)
        FaultFs.arm(local, i + 1L)
        try promote(lake) catch { case NonFatal(_) => () }
        finally FaultFs.disarm()
        // the old watermark reprocesses batch 2 only, the new one
        // nothing; a lost or torn one would reprocess the whole zone
        val rerun = promote(lake).filesProcessed
        assert(rerun == batch2Files || rerun == 0, s"after a crash at '$call': rerun promoted $rerun files")
        assert(trusted(lake) == reference, s"after a crash at '$call' and a rerun")
        assert(promote(lake).filesProcessed == 0, s"after a crash at '$call': the rerun's watermark")
        // a stale aside copy may outlive a crash at the last delete
        // (the reader prefers the live file); the next write drops it
        ParquetAppend.write(Seq((81L, "c81")).toDF("id", "name"), lake.work(ref))
        assert(promote(lake).filesProcessed > 0)
        val zone = new Path(lake.trusted(ref)).getParent
        val left = fs.listStatus(zone).map(_.getPath.getName).filter(_.startsWith("."))
        assert(left.isEmpty, s"after a crash at '$call': ${left.toSeq} left behind")
      }
    }
  }
}
