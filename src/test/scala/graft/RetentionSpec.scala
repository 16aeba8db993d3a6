package graft

import graft.sinks.Retention
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** Partition-drop retention must be strictly-below-the-cutoff, leave
  * every surviving byte untouched, skip the null partition, and fail
  * loudly on a layout mismatch.
  */
class RetentionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  private def fixture(tag: String, withNull: Boolean = false): String = {
    val root = SparkTestSession.tmp(s"ret-$tag").toString
    val rows = Seq(
      ("2024-01", 1L), ("2024-01", 2L),
      ("2024-02", 3L), ("2024-03", 4L), ("2024-04", 5L)) ++
      (if (withNull) Seq((null.asInstanceOf[String], 6L)) else Nil)
    rows.toDF("ym", "id").write.mode("overwrite")
      .partitionBy("ym").parquet(root)
    root
  }

  test("strictly-below drop: the cutoff partition survives, values returned sorted") {
    val root = fixture("basic")
    val dropped = Retention.dropPartitionsBelow(spark, root, "ym", "2024-03")
    assert(dropped === Seq("2024-01", "2024-02"))
    val left = spark.read.parquet(root)
    assert(left.select("id").as[Long].collect().sorted.toSeq === Seq(4L, 5L))
    assert(left.select("ym").distinct().as[String].collect().sorted.toSeq ===
      Seq("2024-03", "2024-04"))
  }

  test("surviving partitions carry byte-for-byte; idempotent re-run drops nothing") {
    val root = fixture("bytes")
    def files() = fs.listStatus(new Path(s"$root/ym=2024-04"))
      .map(s => (s.getPath.getName, s.getLen, s.getModificationTime)).toSet
    val before = files()
    Retention.dropPartitionsBelow(spark, root, "ym", "2024-03")
    assert(files() === before, "surviving partition files must be untouched")
    assert(Retention.dropPartitionsBelow(spark, root, "ym", "2024-03") === Seq.empty)
  }

  test("the null partition has no age and never drops") {
    val root = fixture("nulls", withNull = true)
    val dropped = Retention.dropPartitionsBelow(spark, root, "ym", "9999-99")
    assert(!dropped.contains("__HIVE_DEFAULT_PARTITION__"))
    // every dated partition dropped; the null row survives
    assert(spark.read.parquet(root).select("id").as[Long].collect().toSeq === Seq(6L))
  }

  test("layout mismatch fails loudly instead of silently retaining everything") {
    val root = fixture("mismatch")
    val e = intercept[IllegalArgumentException] {
      Retention.dropPartitionsBelow(spark, root, "dt", "2024-03")
    }
    assert(e.getMessage.contains("hive partitions"))
  }
}
