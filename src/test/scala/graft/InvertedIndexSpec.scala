package graft

import graft.functions.TextFunctions
import graft.sinks.InvertedIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class InvertedIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fullScanTruth(table: String, phrase: String): Set[Long] = {
    val norm = phrase.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).mkString(" ")
    spark.read.parquet(table)
      .where(instr(concat(lit(" "),
        TextFunctions.normalized(col("text")), lit(" ")), s" $norm ") > 0)
      .select("doc_id").as[Long].collect().toSet
  }

  private def searchIds(table: String, phrase: String): Set[Long] =
    InvertedIndex.phraseSearch(spark, table, "text", "doc_id", phrase)
      .select("doc_id").as[Long].collect().toSet

  private def freshCorpus(rows: Seq[(Long, String)]): String = {
    val dir = SparkTestSession.tmp("invidx").toString + "/docs"
    rows.toDF("doc_id", "text").repartition(2).write.parquet(dir)
    dir
  }

  test("phrase search equals the full-scan word-boundary truth") {
    val table = freshCorpus(Seq(
      (1L, "the fast key order sort"),
      (2L, "fast  Key   ORDER again"),          // case + whitespace normalize
      (3L, "key order fast"),                   // words present, phrase absent for 'fast key'
      (4L, "breakfast key order"),              // 'fast' only as a word SUFFIX — must not match 'fast key order'
      (5L, "fast key"),                         // prefix of the phrase only
      (6L, "unrelated text entirely")
    ))
    InvertedIndex.collect(spark, table, "text", "doc_id")
    for (phrase <- Seq("fast key order", "key order", "fast", "absent words here")) {
      assert(searchIds(table, phrase) == fullScanTruth(table, phrase),
        s"phrase '$phrase' diverges from the scan truth")
    }
    // the word-boundary case pinned explicitly: 'breakfast' ⊅ 'fast'
    assert(searchIds(table, "fast key order") == Set(1L, 2L))
  }

  test("repeated-word phrase verifies the full sequence, not the token set") {
    val table = freshCorpus(Seq(
      (1L, "go stop go now"),
      (2L, "go stop now")   // has both words but not the 'go stop go' sequence
    ))
    InvertedIndex.collect(spark, table, "text", "doc_id")
    assert(searchIds(table, "go stop go") == Set(1L))
  }

  test("refresh indexes only new files (poisoned-posting isolation) and finds new docs") {
    val table = freshCorpus(Seq((1L, "alpha beta"), (2L, "beta gamma")))
    InvertedIndex.collect(spark, table, "text", "doc_id")
    // poison: strip every 'beta' posting from the index. A refresh
    // that rescans old files would resurrect them.
    val idx = InvertedIndex.indexPath(table)
    val pruned = spark.read.parquet(idx).where(col("token") =!= "beta")
      .localCheckpoint(true)
    pruned.write.mode("overwrite").parquet(idx)
    // second wave
    Seq((3L, "beta delta")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(table)
    InvertedIndex.refresh(spark, table, "text", "doc_id")
    // new doc's postings exist; old files' beta postings stay gone
    val betaIds = spark.read.parquet(idx).where(col("token") === "beta")
      .select("id").as[Long].collect().toSet
    assert(betaIds == Set(3L),
      s"refresh must scan only unindexed files, got beta postings for $betaIds")
    assert(searchIds(table, "delta") == Set(3L))
  }

  test("vanished data files' postings drop on refresh") {
    // one row per file (range split), so deleting doc 1's file keeps doc 2
    val dir = SparkTestSession.tmp("invidx").toString + "/docs"
    Seq((1L, "solo posting"), (2L, "other words")).toDF("doc_id", "text")
      .repartitionByRange(2, col("doc_id")).write.parquet(dir)
    val table = dir
    InvertedIndex.collect(spark, table, "text", "doc_id")
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // drop the file holding doc 1
    val idx = InvertedIndex.indexPath(table)
    val fileOf1 = spark.read.parquet(idx).where(col("token") === "solo")
      .select("file").head().getString(0)
    fs.delete(new org.apache.hadoop.fs.Path(fileOf1), false)
    InvertedIndex.refresh(spark, table, "text", "doc_id")
    val files = spark.read.parquet(idx).select("file").distinct()
      .as[String].collect().toSet
    assert(!files.contains(fileOf1), "vanished file's postings must drop")
    assert(searchIds(table, "other words") == Set(2L))
  }

  test("streaming maintenance: checkpointed resume refreshes only new batches' files") {
    val root = SparkTestSession.tmp("invidx-stream").toString
    val landing = s"$root/landing"
    val corpus = s"$root/corpus"
    val schema = Seq((0L, "")).toDF("doc_id", "text").schema
    Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
      .repartitionByRange(2, col("doc_id")).write.parquet(landing)
    graft.streaming.StreamingOps.streamIngestWithInvertedIndex(
      spark, landing, schema, corpus, s"$root/ckpt", maxFilesPerTrigger = 2)
    assert(searchIds(corpus, "beta") == Set(1L, 2L))
    // poison: strip the wave-1 'beta' postings; a rescan would
    // resurrect them on the next run
    val idx = InvertedIndex.indexPath(corpus)
    val pruned = spark.read.parquet(idx).where(col("token") =!= "beta")
      .localCheckpoint(true)
    pruned.write.mode("overwrite").parquet(idx)
    // second wave into the SAME checkpointed stream — the source log
    // skips wave 1; only the new file's postings are built
    Seq((3L, "beta delta")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(landing)
    graft.streaming.StreamingOps.streamIngestWithInvertedIndex(
      spark, landing, schema, corpus, s"$root/ckpt", maxFilesPerTrigger = 2)
    val betaIds = spark.read.parquet(idx).where(col("token") === "beta")
      .select("id").as[Long].collect().toSet
    assert(betaIds == Set(3L),
      s"resume must refresh only the new batch's files, got beta postings $betaIds")
    assert(searchIds(corpus, "delta") == Set(3L))
    // a third run with nothing new is a no-op
    graft.streaming.StreamingOps.streamIngestWithInvertedIndex(
      spark, landing, schema, corpus, s"$root/ckpt", maxFilesPerTrigger = 2)
    assert(spark.read.parquet(idx).where(col("token") === "beta")
      .select("id").as[Long].collect().toSet == Set(3L))
  }

  test("index-only positional phrase search equals the corpus-verified form") {
    val table = freshCorpus(Seq(
      (1L, "the fast key order sort"),
      (2L, "fast  Key   ORDER again"),
      (3L, "key order fast"),
      (4L, "breakfast key order"),
      (5L, "fast key"),
      (6L, "go stop go now"),
      (7L, "go stop now"),
      (8L, "fast fast key key order")   // repeated tokens, phrase present
    ))
    InvertedIndex.collect(spark, table, "text", "doc_id")
    for (phrase <- Seq("fast key order", "key order", "fast", "go stop go",
        "absent words", "order sort")) {
      val viaIndex = InvertedIndex.phraseSearchIndexOnly(spark, table, phrase)
        .as[Long].collect().toSet
      val viaScan = fullScanTruth(table, phrase)
      assert(viaIndex == viaScan, s"phrase '$phrase': $viaIndex vs scan $viaScan")
    }
  }

  test("search reads the index with the token filter pushed to the scan") {
    val table = freshCorpus(Seq((1L, "push down filters"), (2L, "no match")))
    InvertedIndex.collect(spark, table, "text", "doc_id")
    val plan = InvertedIndex.candidates(spark, table, "push down")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(token"),
      s"token IN filter must reach the index scan:\n$plan")
  }

  test("collect rejects a document split across two data files — loudly") {
    // two appends carrying the SAME doc id plant the split the df/dl
    // sidecar statistics cannot survive; the build must refuse, and
    // must not leave a half-trusted index behind
    val dir = SparkTestSession.tmp("invidx").toString + "/docs"
    Seq((1L, "first half of the doc")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(dir)
    Seq((1L, "second half elsewhere"), (2L, "clean doc")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      InvertedIndex.collect(spark, dir, "text", "doc_id")
    }
    assert(e.getMessage.contains("MORE THAN ONE data file"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      InvertedIndex.indexPath(dir))),
      "a rejected build must not leave a layout-violating index on disk")
  }

  test("refresh rejects a split-introducing append and keeps the live index valid") {
    val table = freshCorpus(Seq((1L, "alpha beta"), (2L, "beta gamma")))
    InvertedIndex.collect(spark, table, "text", "doc_id")
    // the append re-introduces doc 1 in a NEW file → refresh must
    // refuse the swap and the pre-append index must keep answering
    Seq((1L, "duplicate of doc one")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(table)
    val e = intercept[IllegalArgumentException] {
      InvertedIndex.refresh(spark, table, "text", "doc_id")
    }
    assert(e.getMessage.contains("MORE THAN ONE data file"))
    assert(searchIds(table, "alpha beta") == Set(1L),
      "the pre-refresh index must stay live after a rejected refresh")
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      InvertedIndex.indexPath(table) + ".next")),
      "the rejected staging index must be cleaned up")
  }

  test("every index-serving read path refuses a torn maintenance journal") {
    import graft.sinks.SidecarMaintenance
    val table = freshCorpus(Seq((1L, "alpha beta"), (2L, "beta gamma")))
    InvertedIndex.collect(spark, table, "text", "doc_id")
    InvertedIndex.buildRetrievalStats(spark, table)
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a crashed refresh leaves a journal at the index root — every
    // query path must refuse loudly rather than serve partial postings
    val journal = SidecarMaintenance.journalPath(InvertedIndex.indexPath(table))
    fs.create(journal).close()
    def refuses(body: => Any): Unit = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains("interrupted maintenance journal"))
    }
    refuses(InvertedIndex.candidates(spark, table, "alpha").collect())
    refuses(InvertedIndex.phraseSearchIndexOnly(spark, table, "alpha beta").collect())
    refuses(InvertedIndex.bm25StatsFromIndex(spark, table, "alpha").collect())
    refuses(InvertedIndex.bm25TopKPruned(spark, table, "alpha beta", 2))
    fs.delete(journal, false)
    // a torn STATS sidecar blocks the paths that read it, too
    val dlJournal = SidecarMaintenance.journalPath(InvertedIndex.docLenPath(table))
    fs.create(dlJournal).close()
    refuses(InvertedIndex.bm25StatsFromIndex(spark, table, "alpha").collect())
    refuses(InvertedIndex.bm25TopKPruned(spark, table, "alpha beta", 2))
    fs.delete(dlJournal, false)
    assert(searchIds(table, "alpha beta") == Set(1L),
      "clean journal-free reads serve normally again")
  }
}
