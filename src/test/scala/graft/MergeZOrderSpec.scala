package graft

import graft.sinks.MergeUpsert
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** TRUSTED maintenance with in-merge z-order clustering
  * (`mergeInto(zorderBy = …)`): the clustering must change LAYOUT
  * only — content identical to the plain merge — and the maintained
  * table's parquet footer stats must actually skip on a non-leading
  * clustered column (the operational payoff flow_compact_zorder
  * measures for WORK, here on the table K2 maintains). */
class MergeZOrderSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // same independent-coordinates grid as ZOrderSpec, plus a payload
  // column so updates touch neither clustered column
  private def grid(n: Int): DataFrame =
    spark.range(n).select(
      (col("id") * 7919 % 10000).as("x"),
      (col("id") * 104729 % 10000).as("y"),
      col("id"),
      (col("id") * 3).as("v"))

  private def counted(df: DataFrame) =
    df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap

  test("mergeInto(zorderBy): content == plain merge; maintained table skips on y") {
    val root = SparkTestSession.tmp("mzorder").toString
    val trustedPath = s"$root/trusted"
    val all = grid(20000)
    val boot = all.where(col("id") % 2 === 0)
    val upd = all.where(col("id") % 3 === 0)
      .withColumn("v", col("v") + 1000000)

    MergeUpsert.mergeInto(spark, trustedPath, boot, key = "id",
      zorderBy = Seq("x", "y"), zorderFiles = 16)
    MergeUpsert.mergeInto(spark, trustedPath, upd, key = "id",
      zorderBy = Seq("x", "y"), zorderFiles = 16)

    val back = spark.read.parquet(trustedPath)
    assert(counted(back) == counted(MergeUpsert.merged(boot, upd, key = "id")),
      "clustered merge must be content-identical to the plain merge")

    // layout: per-file spans narrowed on BOTH clustered columns
    // (16 files ~ 2 high curve bits per column; 0.55 = sampling slack)
    for (c <- Seq("x", "y")) {
      val spans = back.groupBy(input_file_name())
        .agg((max(col(c)) - min(col(c))).as("span"))
        .select("span").as[Long].collect()
      val mean = spans.sum.toDouble / spans.length
      assert(mean < 0.55 * 10000,
        s"$c mean per-file span $mean not narrowed (full range 10000)")
    }

    // payoff: a selective predicate on y (NON-leading column) decodes
    // a minority of rows — footer-stats pruning at work on the table
    // the merge maintains
    val q = spark.read.parquet(trustedPath).where(col("y").between(100, 300))
    q.collect()
    val decoded = q.queryExecution.executedPlan.collectLeaves()
      .head.metrics("numOutputRows").value
    val total = back.count()
    assert(decoded < total / 2,
      s"maintained layout decoded $decoded of $total rows on a 2% y-range")

    new graft.core.LakeStorage(spark.sparkContext.hadoopConfiguration)
      .truncate(root)
  }

  test("zorderFiles=0 derives file count from session shuffle parallelism") {
    val root = SparkTestSession.tmp("mzorder0").toString
    val trustedPath = s"$root/trusted"
    MergeUpsert.mergeInto(spark, trustedPath, grid(2000), key = "id",
      zorderBy = Seq("x"))
    val files = new java.io.File(trustedPath)
      .listFiles().count(_.getName.endsWith(".parquet"))
    val expected = spark.sessionState.conf.numShufflePartitions
    assert(files <= expected && files >= 1,
      s"$files files vs shuffle parallelism $expected")
    new graft.core.LakeStorage(spark.sparkContext.hadoopConfiguration)
      .truncate(root)
  }
}
