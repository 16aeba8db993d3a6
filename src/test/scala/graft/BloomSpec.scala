package graft

import graft.functions.BloomSketch
import graft.operators.BloomJoin
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bloom build/probe: zero false negatives (the correctness half),
  * false-positive rate within sizing bounds (the efficiency half),
  * partition-split build determinism, null semantics on both sides,
  * codegen/interpreted agreement, and the prefiltered join's
  * identity with the plain join. */
class BloomSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def buildBytes(keys: Seq[Long], parts: Int): Array[Byte] =
    spark.createDataset(keys).toDF("k").repartition(parts)
      .select(BloomSketch.buildFor(col("k"), keys.size.toLong.max(1), 0.01).as("bf"))
      .head().getAs[Array[Byte]](0)

  test("no false negatives, and the build is partition-split deterministic") {
    val keys = (0L until 5000L).map(_ * 7919L)
    val one = buildBytes(keys, 1)
    val eight = buildBytes(keys, 8)
    assert(java.util.Arrays.equals(one, eight),
      "bitset OR across partial buffers must equal the single-partition build")
    val probed = spark.createDataset(keys).toDF("k")
      .where(BloomSketch.mightContain(one, col("k"))).count()
    assert(probed == keys.size, "a bloom can never reject a member")
  }

  test("false-positive rate honors the sizing math") {
    val keys = (0L until 5000L).map(_ * 7919L)
    val bf = buildBytes(keys, 4)
    val outside = (1L to 20000L).map(_ * 104729L + 13L)
    val fp = spark.createDataset(outside).toDF("k")
      .where(BloomSketch.mightContain(bf, col("k"))).count()
    val rate = fp.toDouble / outside.size
    assert(rate < 0.03, s"fpp sized for 1%, measured $rate")
  }

  test("nulls: never admitted to the build, probe false, filter drops them") {
    val bf = spark.createDataset(Seq[Option[Long]](Some(1L), None, Some(2L)))
      .toDF("k")
      .select(BloomSketch.buildFor(col("k"), 2, 0.01).as("bf"))
      .head().getAs[Array[Byte]](0)
    val probed = spark.createDataset(Seq[Option[Long]](Some(1L), None, Some(99L)))
      .toDF("k").where(BloomSketch.mightContain(bf, col("k")))
      .collect().map(_.get(0))
    assert(probed.toSeq == Seq(1L), "member passes, null and non-member drop")
  }

  test("interpreted eval agrees with the codegen path") {
    val keys = (0L until 500L).map(_ * 31L)
    val bf = buildBytes(keys, 2)
    val (k, words) = BloomSketch.fromBytes(bf)
    val df = spark.range(0L, 20000L).toDF("k")
    val viaPlan = df.where(BloomSketch.mightContain(bf, col("k")))
      .collect().map(_.getLong(0)).toSet
    val viaScala = (0L until 20000L).filter { v =>
      // mirror of mightContain's null-preserving xxhash64 on a
      // non-null input
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(v, org.apache.spark.sql.types.LongType, 42L)
      BloomSketch.contains(words, h, k)
    }.toSet
    assert(viaPlan == viaScala)
  }

  test("prefiltered join == plain join, with real fact-side reduction") {
    val fact = spark.range(0L, 20000L)
      .select(col("id").as("fk"), (col("id") * 3).as("payload"))
    val dim = spark.range(0L, 20000L).where(col("id") % 50 === 0)
      .select(col("id").as("dk"), (col("id") % 7).as("attr"))
    val plain = fact.join(dim, col("fk") === col("dk"), "inner")
      .collect().map(_.toSeq).toSet
    val bloomed = BloomJoin.join(fact, "fk", dim, "dk", 400, 0.01)
      .collect().map(_.toSeq).toSet
    assert(bloomed == plain)
    val surviving = BloomJoin.prefilter(fact, "fk", dim, "dk", 400, 0.01).count()
    assert(surviving < 1000,
      s"2%-selective dim must cut the fact side hard, kept $surviving of 20000")
  }

  test("antiJoin == plain anti join; misses skip the join entirely") {
    val fact = spark.createDataset(
      Seq[Option[Long]](Some(1L), Some(2L), Some(50L), Some(999L), None))
      .toDF("k").withColumn("payload", col("k") * 2)
    val dim = spark.range(0L, 100L).where(col("id") % 50 === 0)
      .select(col("id").as("dk"))
    val plain = fact.join(dim, col("k") === col("dk"), "left_anti")
      .collect().map(_.toSeq).toSet
    val bloomed = BloomJoin.antiJoin(fact, "k", dim, "dk", 2, 0.01)
      .collect().map(_.toSeq).toSet
    assert(bloomed == plain)
    // NULL key kept (LEFT ANTI semantics), member 50 dropped
    assert(plain.exists(_.head == null) && !plain.exists(_.head == 50L))
  }

  test("bloom index: merged == direct build bit-identical; refresh scans only new files") {
    import graft.sinks.BloomIndex
    val t = SparkTestSession.tmp("bloomidx").toString + "/corpus"
    spark.range(0L, 4000L).select(col("id").as("k"))
      .repartition(4).write.parquet(t)
    BloomIndex.collect(spark, t, "k", expectedItems = 5000, fpp = 0.01)

    // merged file blooms must equal the from-scratch table build at
    // the same geometry — OR is the sketch's merge
    val (m, k) = BloomSketch.sized(5000, 0.01)
    val direct = spark.read.parquet(t)
      .select(BloomSketch.sketch(
        when(col("k").isNotNull, xxhash64(col("k"))), m, k).as("bf"))
      .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(BloomIndex.mergedBloom(spark, t), direct))

    // poison one row's bloom to all-zero bits: refresh must carry it
    // verbatim (old files are never rescanned)
    val idx = BloomIndex.indexPath(t)
    val poisonFile = spark.read.parquet(idx)
      .select("file").head().getString(0)
    val zero = BloomSketch.toBytes(new Array[Long](m / 64), k)
    val poisoned = spark.read.parquet(idx).localCheckpoint(true)
      .withColumn("bloom",
        when(col("file") === poisonFile, lit(zero)).otherwise(col("bloom")))
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    poisoned.coalesce(1).write.mode("overwrite").parquet(s"$idx.p")
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$idx.p"),
      new org.apache.hadoop.fs.Path(idx))

    val victim = spark.read.parquet(t).inputFiles.sorted.last
    fs.delete(new org.apache.hadoop.fs.Path(victim), false)
    spark.range(9000L, 9100L).select(col("id").as("k"))
      .coalesce(1).write.mode("append").parquet(t)
    BloomIndex.refresh(spark, t, "k")
    val after = spark.read.parquet(idx).localCheckpoint(true)
    assert(after.where(col("file") === poisonFile).count() == 1)
    val carried = after.where(col("file") === poisonFile)
      .head().getAs[Array[Byte]]("bloom")
    assert(java.util.Arrays.equals(carried, zero),
      "poisoned bloom must survive refresh — old files are not rescanned")
    assert(after.where(col("file") === victim).count() == 0)
    // new keys are findable through the refreshed merged bloom
    val merged = BloomIndex.mergedBloom(spark, t)
    val found = spark.range(9000L, 9100L).toDF("k")
      .where(BloomSketch.mightContain(merged, col("k"))).count()
    assert(found == 100)
  }

  test("sizing: optimal m/k, word-aligned, clamped") {
    val (m1, k1) = BloomSketch.sized(1000, 0.01)
    assert(m1 % 64 == 0 && m1 >= 9000 && m1 <= 10240) // ~9.59 bits/key
    assert(k1 >= 6 && k1 <= 8)                        // ~6.6 hashes
    intercept[IllegalArgumentException](BloomSketch.sized(0, 0.01))
    intercept[IllegalArgumentException](BloomSketch.sized(10, 1.5))
  }
}
