package graft

import graft.sinks.{Compaction, ZOrder}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ZOrderSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // two roughly-uniform, independent coordinates over 0..9999
  private def grid(n: Int): DataFrame =
    spark.range(n).select(
      (col("id") * 7919 % 10000).as("x"),
      (col("id") * 104729 % 10000).as("y"),
      col("id"))

  private def fileSpans(df: DataFrame, c: String): Seq[Long] = {
    val root = SparkTestSession.tmp("zspan").toString
    df.write.parquet(s"$root/t")
    val spans = spark.read.parquet(s"$root/t")
      .groupBy(input_file_name())
      .agg((max(col(c)) - min(col(c))).as("span"))
      .select("span").as[Long].collect().toSeq
    new graft.core.LakeStorage(spark.sparkContext.hadoopConfiguration)
      .truncate(root)
    spans
  }

  test("interleave puts bit j of bucket i at curve position j*n + i") {
    // b0 = 0b10, b1 = 0b01, 2 bits -> z = 0b0110 = 6
    val z = Seq((2L, 1L)).toDF("b0", "b1")
      .select(ZOrder.interleave(Seq(col("b0"), col("b1")), bits = 2).as("z"))
      .head().getLong(0)
    assert(z == 6L)
    // one column degenerates to the identity on the low bits
    val zid = Seq(Tuple1(13L)).toDF("b")
      .select(ZOrder.interleave(Seq(col("b")), bits = 4).as("z"))
      .head().getLong(0)
    assert(zid == 13L)
  }

  test("cluster is content-identical and narrows per-file spans on BOTH columns") {
    val df = grid(20000)
    val clustered = ZOrder.cluster(df, Seq("x", "y"), numFiles = 16)
    assert(clustered.columns.toSeq == df.columns.toSeq)
    assert(clustered.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap ==
      df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap)
    // 16 files eat ~4 curve bits = ~2 high bits per column: expected
    // span ~1/4 of the range on EACH column; a random layout gives
    // ~the full range in every file. 0.55 leaves sampling slack.
    for (c <- Seq("x", "y")) {
      val spans = fileSpans(clustered, c)
      val mean = spans.sum.toDouble / spans.size
      assert(mean < 0.55 * 10000,
        s"$c mean per-file span $mean not narrowed (full range 10000)")
    }
    // control: the unclustered layout shows no narrowing
    val ctl = fileSpans(df.repartition(16), "x")
    assert(ctl.sum.toDouble / ctl.size > 0.9 * 10000)
  }

  test("cluster handles nulls, constant columns, dates and strings") {
    val df = Seq(
      (Some(1L), "a", java.sql.Date.valueOf("2024-01-01"), 5L),
      (None, "b", java.sql.Date.valueOf("2024-06-01"), 5L),
      (Some(9L), "a", java.sql.Date.valueOf("2024-12-31"), 5L)
    ).toDF("n", "s", "d", "const")
    val out = ZOrder.cluster(df, Seq("n", "s", "d", "const"), numFiles = 2)
    assert(out.count() == 3)
    assert(out.where(col("n").isNull).count() == 1)
    intercept[IllegalArgumentException] {
      ZOrder.cluster(df.withColumn("arr", array(lit(1))), Seq("arr"), 1)
    }
    intercept[IllegalArgumentException] {
      ZOrder.cluster(df.withColumn(ZOrder.ZCol, lit(0L)), Seq("n"), 1)
    }
  }

  test("z-order makes footer stats selective: scan skips row groups on the SECOND column") {
    // The runtime payoff, measured: a selective predicate on y (the
    // NON-leading column, where a plain sort gives nothing) must let
    // parquet row-group pruning skip most of the data. The scan
    // node's row-count metric counts rows actually decoded after
    // footer-stats pruning — files whose y-range misses the
    // predicate contribute zero.
    val root = SparkTestSession.tmp("zskip").toString
    ZOrder.cluster(grid(20000), Seq("x", "y"), numFiles = 16)
      .write.parquet(s"$root/z")
    grid(20000).repartition(16).write.parquet(s"$root/r")
    def decodedRows(path: String): Long = {
      val df = spark.read.parquet(path).where(col("y").between(100, 300))
      df.collect()
      df.queryExecution.executedPlan.collectLeaves()
        .head.metrics("numOutputRows").value
    }
    val rand = decodedRows(s"$root/r")
    val z = decodedRows(s"$root/z")
    assert(rand > 18000, s"control layout unexpectedly pruned ($rand rows decoded)")
    assert(z < rand / 2,
      s"z-ordered scan decoded $z rows vs $rand random — footer stats not selective on y")
    new graft.core.LakeStorage(spark.sparkContext.hadoopConfiguration)
      .truncate(root)
  }

  test("compactWork with zorderBy keeps rows, hits the file target, and clusters") {
    val root = SparkTestSession.tmp("zcompact").toString
    val work = s"$root/work"
    grid(20000).repartition(32).write.parquet(work)
    val bytes = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(new org.apache.hadoop.fs.Path(work)).getLength
    val n = Compaction.compactWork(spark, work,
      targetBytes = math.max(1L, bytes / 8), zorderBy = Seq("x", "y"))
    assert(n >= 2 && n <= 16, s"unexpected compacted file count $n")
    val back = spark.read.parquet(work)
    assert(back.count() == 20000)
    val spans = back.groupBy(input_file_name())
      .agg((max(col("x")) - min(col("x"))).as("span"))
      .select("span").as[Long].collect()
    assert(spans.sum.toDouble / spans.length < 0.8 * 10000,
      "z-ordered compaction left x unclustered")
    new graft.core.LakeStorage(spark.sparkContext.hadoopConfiguration)
      .truncate(root)
  }
}
