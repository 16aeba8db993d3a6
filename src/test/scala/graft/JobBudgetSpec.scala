package graft

import graft.core.{Clock, DatasetRef, LakePaths, Meter}
import graft.operators.IncrementalPromote
import graft.sinks.MergeUpsert
import org.scalatest.funsuite.AnyFunSuite

/** The job budget: the exact number of Spark jobs a public engine
  * entry submits on a small fixture, counted by [[Meter]]. A change
  * that adds a job fails here with the jobs' labels; a change that
  * removes one updates its row. */
class JobBudgetSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def assertJobs(r: Meter.Reading, expected: Int): Unit =
    assert(r.jobs.size === expected, r.labels.mkString("\n"))

  test("IncrementalPromote.run merging one new WORK file into a stored TRUSTED") {
    val lake = LakePaths(SparkTestSession.tmp("budget-promote").toString)
    val ref = DatasetRef("spec", "budget", "events")
    def land(lo: Long): Unit = (lo until lo + 20).map(i => (i, s"e$i"))
      .toDF("event_id", "payload").coalesce(1).write.mode("append").parquet(lake.work(ref))
    land(0)
    IncrementalPromote.run(spark, ref, lake, Seq("event_id"), clock = Clock.ForOracle)
    land(10)
    val (res, r) = Meter.during(spark)(
      IncrementalPromote.run(spark, ref, lake, Seq("event_id"), clock = Clock.ForOracle))
    assert(res.filesProcessed === 1 && res.rowsMerged === 20L)
    assert(spark.read.parquet(lake.trusted(ref)).count() === 30L)
    assertJobs(r, 5)
  }

  test("MergeUpsert.mergeInto over a stored table") {
    val trusted = SparkTestSession.tmp("budget-merge").toString + "/t"
    (0L until 40L).map(i => (i, s"v$i")).toDF("sk", "v").write.parquet(trusted)
    val (_, r) = Meter.during(spark)(
      MergeUpsert.mergeInto(spark, trusted, (30L until 50L).map(i => (i, s"w$i")).toDF("sk", "v")))
    assert(spark.read.parquet(trusted).count() === 50L)
    assertJobs(r, 2)
  }
}
