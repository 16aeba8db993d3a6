package graft

import graft.ext.{PqSearch, SimilaritySearch}
import graft.sinks.PqIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted PQ sidecar: value-identical to the in-memory build
  * at the exact configuration, frozen-codebook refresh by file-set
  * arithmetic, the codes-only scan shape (the ADC pass must never
  * read embeddings), and the duplicate-vector layout guard. */
class PqIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def withTable(n: Int = 200)(f: String => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft-pqidx").toString
    val path = s"$root/vectors"
    graft.queries.Fixtures.tbl(spark, sf, "embeddings")
      .where(col("vec_id") < n).repartition(3)
      .write.parquet(path)
    try f(path)
    finally new graft.core.LakeStorage(
      spark.sparkContext.hadoopConfiguration).truncate(root)
  }

  private def ranks(df: DataFrame): Set[(Long, Long, Long)] =
    df.as[(Long, Long, Long)].collect().toSet

  test("exact-config topK off the sidecar equals the in-memory build and brute force") {
    withTable() { path =>
      PqIndex.collect(spark, path, m = 8, ks = 16)
      val queries = spark.read.parquet(path).where(col("vec_id") < 5)
      val persisted = ranks(PqIndex.topK(spark, path, queries,
        k = 10, candidateK = Int.MaxValue))
      val inMemory = ranks(PqSearch.topK(queries,
        PqSearch.buildIndex(spark.read.parquet(path), m = 8, ks = 16),
        k = 10, candidateK = Int.MaxValue))
      assert(persisted === inMemory)
      val brute = ranks(SimilaritySearch.bruteForceTopK(
        queries, spark.read.parquet(path), k = 10))
      assert(persisted === brute)
    }
  }

  test("the ADC pass reads codes, never embeddings; re-rank corpus pass is column-pruned") {
    withTable() { path =>
      PqIndex.collect(spark, path)
      val queries = spark.read.parquet(path).where(col("vec_id") < 3)
        .localCheckpoint(true)
      val plan = PqIndex.topK(spark, path, queries, k = 5, candidateK = 20)
        .queryExecution.executedPlan.toString
      // the codes-sidecar scan: __codes in its schema, embedding not
      val codesScans = plan.linesIterator.filter(l =>
        l.contains("_pq_codes") && l.contains("ReadSchema")).toSeq
      assert(codesScans.nonEmpty, s"no codes scan found:\n$plan")
      codesScans.foreach(l => assert(!l.contains("embedding"),
        s"ADC scan must not read embeddings: $l"))
      // the corpus re-rank scan reads (vec_id, embedding) only —
      // label and friends are pruned
      val corpusScans = plan.linesIterator.filter(l =>
        l.contains("ReadSchema") && l.contains("embedding") &&
          !l.contains("_pq_codes")).toSeq
      assert(corpusScans.nonEmpty)
      corpusScans.foreach(l => assert(!l.contains("label"),
        s"re-rank scan must prune non-vector columns: $l"))
    }
  }

  test("refresh: fresh files encoded with FROZEN codebooks, vanished files drop") {
    withTable() { path =>
      PqIndex.collect(spark, path, m = 8, ks = 16)
      val cbBefore = PqIndex.readCodebooks(spark, path)
      graft.queries.Fixtures.tbl(spark, sf, "embeddings")
        .where(col("vec_id") >= 200 && col("vec_id") < 240)
        .coalesce(1).write.mode("append").parquet(path)
      PqIndex.refresh(spark, path)
      val cbAfter = PqIndex.readCodebooks(spark, path)
      assert((cbAfter.m, cbAfter.ks, cbAfter.dsub) ===
        ((cbBefore.m, cbBefore.ks, cbBefore.dsub)))
      assert(cbAfter.flat.toSeq === cbBefore.flat.toSeq)
      // appended vectors present exactly once, codes match a direct
      // encode under the same codebooks
      val appended = spark.read.parquet(PqIndex.codesPath(path))
        .where(col("vec_id") >= 200)
        .select(col("vec_id").cast("long"), col("__codes"))
        .as[(Long, Seq[Int])].collect().toMap
      assert(appended.size === 40)
      val direct = spark.read.parquet(path).where(col("vec_id") >= 200)
        .select(col("vec_id").cast("long"),
          graft.functions.PqEncode(col("embedding"), cbBefore).as("__codes"))
        .as[(Long, Seq[Int])].collect().toMap
      assert(appended === direct)
      // exact-config search over the refreshed index = brute force
      // over the grown corpus
      val queries = spark.read.parquet(path).where(col("vec_id") < 3)
      val got = ranks(PqIndex.topK(spark, path, queries,
        k = 5, candidateK = Int.MaxValue))
      val brute = ranks(SimilaritySearch.bruteForceTopK(
        queries, spark.read.parquet(path), k = 5))
      assert(got === brute)
      // vanished file -> its codes leave on the next refresh
      val victim = spark.read.parquet(PqIndex.codesPath(path))
        .select("file").as[String].head()
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(victim), false)
      PqIndex.refresh(spark, path)
      val files = spark.read.parquet(PqIndex.codesPath(path))
        .select("file").distinct().as[String].collect().toSet
      assert(!files.contains(victim))
    }
  }

  test("one-row-per-vector layout is enforced before any swap") {
    withTable() { path =>
      PqIndex.collect(spark, path)
      spark.read.parquet(path).where(col("vec_id") === 7)
        .coalesce(1).write.mode("append").parquet(path)
      val e = intercept[IllegalArgumentException] {
        PqIndex.refresh(spark, path)
      }
      assert(e.getMessage.contains("indexed more than once"))
      // live index still serves the exact config
      val queries = spark.read.parquet(path)
        .where(col("vec_id") < 2).dropDuplicates("vec_id")
      assert(PqIndex.topK(spark, path, queries,
        k = 3, candidateK = Int.MaxValue).count() === 6L)
    }
  }
}
