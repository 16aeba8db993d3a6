package graft

import graft.functions.VectorFunctions
import graft.plans.RankTopK
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** [[RankTopK]] against the `row_number()` window it replaced, row for
  * row and with the same output schema, on adversarial scored frames. */
class RankTopKSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** The window every ANN probe ranked with before [[RankTopK]] — kept
    * as the reference its rows must equal. */
  private def windowRank(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.select(col("q_id"), col("neighbor_id"), col("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("q_id"), col("neighbor_id"), col("rank"))
  }

  // NaN != NaN under Row equality: compare rendered rows
  private def rendered(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def assertSameAsWindow(scored: DataFrame, clue: String): Unit =
    for (k <- Seq(0, 1, 2, 3, 5, 1000)) {
      val got = RankTopK.frame(scored, k, "spec")
      val want = windowRank(scored, k)
      assert(got.schema === want.schema, s"$clue k=$k")
      assert(rendered(got) === rendered(want), s"$clue k=$k")
    }

  private def scored(idType: DataType, rows: Seq[Row], partitions: Int = 1): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, partitions), StructType(Seq(
      StructField("q_id", idType), StructField("neighbor_id", LongType),
      StructField("cos", DoubleType))))

  test("cos ties go to the lower neighbor id; NaN ranks first, null last; duplicate and null q_ids group") {
    val nan = Double.NaN
    val rows = Seq(
      Row(1L, 10L, 0.5), Row(1L, 11L, 0.5), Row(1L, 12L, 0.9), Row(1L, 13L, nan),
      Row(1L, 14L, null), Row(1L, null, 0.5), Row(1L, 15L, -1.0), Row(1L, 16L, null),
      Row(1L, 17L, 0.0), Row(1L, 9L, -0.0),
      // a second query row with id 1: ranked with the first
      Row(1L, 10L, 0.7), Row(1L, 18L, nan),
      Row(2L, 10L, nan), Row(2L, 11L, nan), Row(2L, 12L, 0.1),
      Row(null, 10L, 0.3), Row(null, 11L, 0.3), Row(null, 12L, null))
    for (partitions <- Seq(1, 3)) assertSameAsWindow(scored(LongType, rows, partitions), s"partitions=$partitions")
  }

  test("NaN and -0.0 q_ids group as partitionBy groups them, double and float") {
    val nan2 = java.lang.Double.longBitsToDouble(0x7ff8000000000123L)
    val doubles = Seq(
      Row(0.0, 1L, 0.9), Row(0.0, 2L, 0.8), Row(-0.0, 1L, 0.85), Row(-0.0, 3L, 0.95),
      Row(Double.NaN, 1L, 0.2), Row(nan2, 2L, 0.3), Row(nan2, 3L, 0.25), Row(7.5, 1L, 0.1))
    for (partitions <- Seq(1, 4)) {
      assertSameAsWindow(scored(DoubleType, doubles, partitions), s"double partitions=$partitions")
      val floats = doubles.map(r => Row(r.getDouble(0).toFloat, r.get(1), r.get(2)))
      assertSameAsWindow(scored(FloatType, floats, partitions), s"float partitions=$partitions")
    }
  }

  test("probe-shaped frames: float and double vectors, self-matches excluded, across partitions") {
    val vecs = Seq(
      Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(1.0, 1.0), Seq(1.0, 0.0), Seq(2.0, 2.0),
      Seq(Double.NaN, 1.0), null, Seq(-1.0, 0.5), Seq(0.3, -0.7), Seq(0.5, 0.5))
    val corpus = spark.createDataFrame(
      spark.sparkContext.parallelize(vecs.zipWithIndex.map { case (v, i) => Row(i.toLong, v) }, 3),
      StructType(Seq(StructField("vec_id", LongType), StructField("embedding", ArrayType(DoubleType)))))
    for (vecType <- Seq("array<double>", "array<float>")) {
      val c = corpus.withColumn("embedding", col("embedding").cast(vecType))
      val q = c.where(col("vec_id") < 4 || col("vec_id") === 6)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val pairs = q.crossJoin(c.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_vec")))
        .where(col("q_id") =!= col("neighbor_id"))
        .withColumn("cos", VectorFunctions.cosine(col("q_vec"), col("c_vec")))
      assertSameAsWindow(pairs, vecType)
      assert(RankTopK.frame(pairs, 1000, "spec").where(col("q_id") === col("neighbor_id")).isEmpty)
      // composes with other operators: one partition, grouped like any frame
      assert(rendered(RankTopK.frame(pairs, 3, "spec").groupBy("q_id").count()) ===
        rendered(windowRank(pairs, 3).groupBy("q_id").count()), vecType)
    }
  }

  test("an empty probe set ranks to no rows, with the window's schema") {
    assertSameAsWindow(scored(LongType, Nil), "empty")
    assertSameAsWindow(scored(LongType, Seq(Row(1L, 2L, 0.5))).limit(0), "limit 0")
  }
}
