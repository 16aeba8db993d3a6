package graft

import graft.ext.SimilaritySearch
import graft.sinks.LshIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted LSH sidecar: exhaustive-radius equality with the
  * in-memory form and brute force, model-free refresh by file-set
  * arithmetic, the records-read pruning witness for the
  * bucket-partitioned layout, and the duplicate-vector guard. */
class LshIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def withTable(n: Int = 200)(f: String => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft-lshidx").toString
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

  test("exhaustive-radius topK off the sidecar equals the in-memory form and brute force") {
    withTable() { path =>
      LshIndex.collect(spark, path, planes = 4)
      val queries = spark.read.parquet(path).where(col("vec_id") < 5)
      val persisted = ranks(LshIndex.topK(spark, path, queries,
        k = 10, probeRadius = 4))
      val inMemory = ranks(SimilaritySearch.lshTopK(queries,
        spark.read.parquet(path), k = 10, planes = 4, probeRadius = 4))
      assert(persisted === inMemory)
      val brute = ranks(SimilaritySearch.bruteForceTopK(
        queries, spark.read.parquet(path), k = 10))
      assert(persisted === brute)
    }
  }

  test("refresh: new files signed off the metadata row alone, vanished files drop") {
    withTable() { path =>
      LshIndex.collect(spark, path, planes = 4, seed = 3L)
      graft.queries.Fixtures.tbl(spark, sf, "embeddings")
        .where(col("vec_id") >= 200 && col("vec_id") < 240)
        .coalesce(1).write.mode("append").parquet(path)
      LshIndex.refresh(spark, path)
      assert(LshIndex.readMeta(spark, path) === ((4, 3L)))
      // appended vectors present once, bucket = the codegen'd
      // signature under the SAME (planes, seed)
      val got = spark.read.parquet(LshIndex.bucketsPath(path))
        .where(col("vec_id") >= 200)
        .select(col("vec_id").cast("long"), col("bucket").cast("long"))
        .as[(Long, Long)].collect().toMap
      assert(got.size === 40)
      val want = spark.read.parquet(path).where(col("vec_id") >= 200)
        .select(col("vec_id").cast("long"),
          graft.functions.VectorFunctions
            .hyperplaneSignature(col("embedding"), 4, 3L).as("b"))
        .as[(Long, Long)].collect().toMap
      assert(got === want)
      // exhaustive search over the refreshed index = brute force
      val queries = spark.read.parquet(path).where(col("vec_id") < 3)
      assert(ranks(LshIndex.topK(spark, path, queries, k = 5, probeRadius = 4))
        === ranks(SimilaritySearch.bruteForceTopK(
          queries, spark.read.parquet(path), k = 5)))
      // vanished file drops
      val victim = spark.read.parquet(LshIndex.bucketsPath(path))
        .select("file").as[String].head()
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(victim), false)
      LshIndex.refresh(spark, path)
      assert(!spark.read.parquet(LshIndex.bucketsPath(path))
        .select("file").distinct().as[String].collect().toSet
        .contains(victim))
    }
  }

  test("narrow probes read fewer index rows than the exhaustive ball") {
    withTable() { path =>
      LshIndex.collect(spark, path, planes = 4)
      val queries = spark.read.parquet(path).where(col("vec_id") < 2)
        .localCheckpoint(true)
      def inputRecords(f: => Unit): Long = {
        val acc = new java.util.concurrent.atomic.AtomicLong
        val l = new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            if (t.taskMetrics != null)
              acc.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
        }
        spark.sparkContext.addSparkListener(l)
        try {
          f
          org.apache.spark.graftglue.SparkGlue
            .flushListeners(spark.sparkContext)
        } finally spark.sparkContext.removeSparkListener(l)
        acc.get
      }
      val home = inputRecords {
        LshIndex.topK(spark, path, queries, k = 3, probeRadius = 0).count() }
      val full = inputRecords {
        LshIndex.topK(spark, path, queries, k = 3, probeRadius = 4).count() }
      assert(home < full,
        s"radius-0 read $home records vs exhaustive $full — pruning is dead")
      assert(home.toDouble < full * 0.7,
        s"radius-0 should skip most bucket directories: $home vs $full")
    }
  }

  test("one-row-per-vector layout is enforced before any swap") {
    withTable() { path =>
      LshIndex.collect(spark, path, planes = 4)
      spark.read.parquet(path).where(col("vec_id") === 7)
        .coalesce(1).write.mode("append").parquet(path)
      val e = intercept[IllegalArgumentException] {
        LshIndex.refresh(spark, path)
      }
      assert(e.getMessage.contains("indexed more than once"))
      val queries = spark.read.parquet(path)
        .where(col("vec_id") < 2).dropDuplicates("vec_id")
      assert(LshIndex.topK(spark, path, queries, k = 3, probeRadius = 4)
        .count() === 6L)
    }
  }

  // ── embedding-free refs variant ─────────────────────────────────

  test("refs variant: exhaustive-radius topKRefs equals brute force after build + refresh") {
    withTable() { path =>
      LshIndex.collectRefs(spark, path, planes = 4)
      graft.queries.Fixtures.tbl(spark, sf, "embeddings")
        .where(col("vec_id") >= 200 && col("vec_id") < 240)
        .coalesce(1).write.mode("append").parquet(path)
      LshIndex.refreshRefs(spark, path)
      val queries = spark.read.parquet(path).where(col("vec_id") < 5)
      val refs = ranks(LshIndex.topKRefs(spark, path, queries,
        k = 10, probeRadius = 4))
      val brute = ranks(SimilaritySearch.bruteForceTopK(
        queries, spark.read.parquet(path), k = 10))
      assert(refs === brute)
    }
  }

  test("refs sidecar stores NO embeddings: a small fraction of the buckets form's bytes") {
    withTable() { path =>
      LshIndex.collect(spark, path, planes = 4)
      LshIndex.collectRefs(spark, path, planes = 4)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def bytes(p: String): Long = fs.getContentSummary(
        new org.apache.hadoop.fs.Path(p)).getLength
      val buckets = bytes(LshIndex.bucketsPath(path))
      val refs = bytes(LshIndex.refsPath(path))
      assert(refs * 2 < buckets,
        s"refs ($refs B) should be well under half the buckets form ($buckets B)")
      // same schema minus the vector column
      assert(!spark.read.parquet(LshIndex.refsPath(path))
        .columns.contains("embedding"))
      // and both answer identically
      val queries = spark.read.parquet(path).where(col("vec_id") < 5)
      assert(
        ranks(LshIndex.topKRefs(spark, path, queries, k = 10, probeRadius = 4))
          === ranks(LshIndex.topK(spark, path, queries, k = 10, probeRadius = 4)))
    }
  }

  test("refs probe: exception-driven staleness — zero corpus listings steady-state, ONE on an actual vanish") {
    withTable() { path =>
      LshIndex.collectRefs(spark, path, planes = 4)
      import graft.sinks.SidecarMaintenance
      SidecarMaintenance.trackWalks(path)
      def walks: Long = {
        val v = SidecarMaintenance.walkCounts
          .get(new org.apache.hadoop.fs.Path(path).toString)
        if (v == null) 0L else v.longValue()
      }
      val queries = spark.read.parquet(path).where(col("vec_id") < 5)
        .localCheckpoint(true)
      val w0 = walks
      LshIndex.topKRefs(spark, path, queries, k = 10, probeRadius = 4).count()
      assert(walks === w0,
        "steady-state refs probe must not list the corpus")
      val victim = new org.apache.hadoop.fs.Path(SidecarMaintenance
        .dataFiles(spark, path).filterNot(_.contains("_lsh_refs")).min)
      victim.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(victim, false)
      val survivors = spark.read.parquet(path).where(col("vec_id") < 5)
        .localCheckpoint(true)
      val w1 = walks
      val res = ranks(LshIndex.topKRefs(spark, path, survivors,
        k = 10, probeRadius = 4))
      assert(walks === w1 + 1,
        "a stale probe reconciles with exactly ONE batched corpus listing")
      assert(res === ranks(SimilaritySearch.bruteForceTopK(
        survivors, spark.read.parquet(path), k = 10)),
        "stale refs probe must equal brute force over the surviving corpus")
    }
  }

  test("refs probes prune by bucket partition AND column-prune the re-rank corpus scan") {
    withTable() { path =>
      LshIndex.collectRefs(spark, path, planes = 4)
      val queries = spark.read.parquet(path).where(col("vec_id") < 2)
        .localCheckpoint(true)
      val res = LshIndex.topKRefs(spark, path, queries, k = 3, probeRadius = 0)
      val plan = res.queryExecution.executedPlan.toString
      assert(plan.linesIterator.exists(l =>
        l.contains("PartitionFilters: [") &&
          !l.replace(" ", "").contains("PartitionFilters:[]") &&
          l.contains("bucket")),
        "the refs scan must push the probed buckets as a partition filter")
      assert(plan.linesIterator.exists(l =>
        l.contains("ReadSchema:") && l.contains("embedding") &&
          !l.contains("label")),
        "the corpus re-rank scan must not read unused columns")
    }
  }

  test("clusterCorpus: bucket-contiguous layout, every row and column survives, probes exact") {
    withTable() { path =>
      val dest = s"${new org.apache.hadoop.fs.Path(path).getParent}/clustered"
      LshIndex.clusterCorpus(spark, path, dest, planes = 3, filesPerBucket = 2)
      val raw = spark.read.parquet(path)
      val clus = spark.read.parquet(dest)
      assert(clus.count() === raw.count(), "no row may be lost or duplicated")
      assert(clus.columns.sorted === raw.columns.sorted,
        "every corpus column must survive the re-layout verbatim")
      // the layout claim: each file hosts a CONTIGUOUS slice of one
      // (bucket, id) range, so (file, bucket) incidences are bounded
      // by files + buckets — a random layout would be ~files ×
      // buckets. The refs sidecar recomputes the SAME pure-function
      // signatures, so its (file, bucket) pairs measure the layout.
      val refs = spark.read.parquet(LshIndex.refsPath(dest))
      val pairs = refs.select("file", "bucket").distinct().count()
      val nFiles = refs.select("file").distinct().count()
      assert(nFiles > 8, "fixture: more files than buckets, else trivial")
      assert(pairs <= nFiles + 8,
        s"bucket-clustered layout must be contiguous: $pairs (file, bucket) " +
          s"incidences over $nFiles files + 8 buckets")
      // partial-radius probes now prune FILES: any single bucket's
      // candidate file set is a strict minority of the corpus files
      val perBucket = refs.groupBy("bucket")
        .agg(countDistinct(col("file")).as("nf"))
        .agg(max(col("nf"))).head().getLong(0)
      assert(perBucket * 2 < nFiles,
        s"one bucket's candidates span $perBucket of $nFiles files — " +
          "partial probes must read a corpus fraction in FILES")
      // and the machinery stays exact at exhaustive radius
      val q = clus.where(col("vec_id") < 5)
      assert(ranks(LshIndex.topKRefs(spark, dest, q, k = 10, probeRadius = 3))
        === ranks(SimilaritySearch.bruteForceTopK(q, clus, k = 10)))
    }
  }

  test("clusterAppend lands a batch bucket-contiguously: layout bound holds, probes stay exact") {
    withTable(150) { path =>
      val dest = s"${new org.apache.hadoop.fs.Path(path).getParent}/clustered"
      LshIndex.clusterCorpus(spark, path, dest, planes = 3, filesPerBucket = 2)
      val batch = graft.queries.Fixtures.tbl(spark, sf, "embeddings")
        .where(col("vec_id") >= 150 && col("vec_id") < 220)
        .localCheckpoint(true)
      LshIndex.clusterAppend(spark, dest, batch, filesPerBucket = 1)
      val clus = spark.read.parquet(dest)
      assert(clus.count() === 220L, "append must add exactly the batch")
      val refs = spark.read.parquet(LshIndex.refsPath(dest))
      assert(refs.count() === 220L, "refresh must index the appended rows")
      // each generation is bucket-contiguous under the SAME pure
      // (planes, seed) function, so incidences stay bounded by files
      // + one 2^planes term per generation
      val pairs = refs.select("file", "bucket").distinct().count()
      val nFiles = refs.select("file").distinct().count()
      assert(pairs <= nFiles + 2 * 8,
        s"appended layout must stay bucket-contiguous per generation: " +
          s"$pairs (file, bucket) incidences over $nFiles files")
      val perBucket = refs.groupBy("bucket")
        .agg(countDistinct(col("file")).as("nf"))
        .agg(max(col("nf"))).head().getLong(0)
      assert(perBucket * 2 < nFiles,
        s"one bucket's candidates span $perBucket of $nFiles files — " +
          "file pruning must survive the append")
      val q = clus.where(col("vec_id") < 3 || col("vec_id") >= 218)
      assert(ranks(LshIndex.topKRefs(spark, dest, q, k = 10, probeRadius = 3))
        === ranks(SimilaritySearch.bruteForceTopK(q, clus, k = 10)))
    }
  }
}
