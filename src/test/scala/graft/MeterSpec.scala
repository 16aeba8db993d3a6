package graft

import graft.core.{Jobs, Meter}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** [[Meter]] readings are whole the moment `during` returns: no
  * caller drains the listener bus itself. */
class MeterSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private def count(label: String, parts: Int): Long =
    Jobs.described(spark, label)(spark.sparkContext.parallelize(1 to 100, parts).count())

  test("a 4-partition job: its end, its 4 tasks and its label") {
    val (n, r) = Meter.during(spark)(count("meter: four parts", 4))
    assert(n === 100L)
    assert(r.jobs.size === 1)
    val j = r.jobs.head
    assert(j.completed >= j.submitted && j.completed > 0L)
    assert(j.description === Some("meter: four parts"))
    assert(r.labels.head.startsWith("meter: four parts | "))
    assert(r.tasks.size === 4)
    assert(r.of(j).tasks.size === 4)
  }

  test("nested calls each see the jobs of their own block") {
    val (inner, outer) = Meter.during(spark) {
      count("meter: outer", 2)
      Meter.during(spark)(count("meter: inner", 1))._2
    }
    assert(inner.jobs.flatMap(_.description) === Seq("meter: inner"))
    assert(inner.tasks.size === 1)
    assert(outer.jobs.flatMap(_.description) === Seq("meter: outer", "meter: inner"))
    assert(outer.tasks.size === 3)
  }

  test("every progress event of an AvailableNow stream") {
    val root = SparkTestSession.tmp("meter").toString
    spark.range(0, 30).repartition(3).write.parquet(s"$root/landing")
    val schema = spark.read.parquet(s"$root/landing").schema
    val (q, r) = Meter.during(spark) {
      val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(s"$root/landing").writeStream.format("noop")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q
    }
    assert(r.progress.map(_.batchId) === q.recentProgress.toSeq.map(_.batchId))
    assert(r.progress.map(_.batchId).take(3) === Seq(0L, 1L, 2L))
    assert(r.progress.map(_.numInputRows).sum === 30L)
  }
}
