package graft

import graft.ext.IvfSearch
import graft.functions.VectorFunctions
import graft.sinks.{IvfIndex, SidecarMaintenance}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted IVF sidecar must be value-identical to the
  * in-memory build at exhaustive probes (where IVF is exact by
  * construction), maintain itself by file-set arithmetic with FROZEN
  * centroids, enforce the one-file-per-vector layout, and actually
  * READ less when probing fewer cells (the records-read witness for
  * the directory-partitioned layout). */
class IvfIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def withTable(n: Int = 200)(f: String => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft-ivfidx").toString
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

  test("exhaustive-probe topK off the sidecar equals the in-memory build and brute force") {
    withTable() { path =>
      IvfIndex.collect(spark, path, nCells = 8)
      val queries = spark.read.parquet(path).where(col("vec_id") < 5)
      val persisted = ranks(IvfIndex.topK(spark, path, queries, k = 10, nProbe = 8))
      val inMemory = ranks(IvfSearch.topK(queries,
        IvfSearch.buildIndex(spark.read.parquet(path), nCells = 8), k = 10, nProbe = 8))
      assert(persisted === inMemory)
      // brute force truth — exhaustive probes make IVF exact
      val brute = ranks(graft.ext.SimilaritySearch.bruteForceTopK(
        queries, spark.read.parquet(path), k = 10))
      assert(persisted === brute)
    }
  }

  test("refresh: fresh files assigned to FROZEN centroids, vanished files drop") {
    withTable() { path =>
      IvfIndex.collect(spark, path, nCells = 4)
      val centsBefore = spark.read.parquet(IvfIndex.centroidsPath(path))
        .as[(Int, Array[Double])].collect().toMap
      // append new vectors in a fresh file
      graft.queries.Fixtures.tbl(spark, sf, "embeddings")
        .where(col("vec_id") >= 200 && col("vec_id") < 240)
        .coalesce(1).write.mode("append").parquet(path)
      IvfIndex.refresh(spark, path)
      // centroids untouched
      val centsAfter = spark.read.parquet(IvfIndex.centroidsPath(path))
        .as[(Int, Array[Double])].collect().toMap
      assert(centsAfter.keySet === centsBefore.keySet)
      centsAfter.foreach { case (c, v) =>
        assert(v.toSeq === centsBefore(c).toSeq) }
      // every appended vector present, assigned to its true argmin cell
      val cells = spark.read.parquet(IvfIndex.cellsPath(path))
        .select(col("vec_id").cast("long"), col("__cell").cast("int"),
          col("embedding"))
        .as[(Long, Int, Array[Float])].collect()
      val appended = cells.filter(_._1 >= 200)
      assert(appended.length === 40)
      def argmin(v: Array[Float]): Int =
        centsBefore.toSeq.map { case (c, cent) =>
          val d = v.zip(cent).map { case (a, b) => (a - b) * (a - b) }.sum
          (d, c)
        }.minBy(identity)._2
      appended.foreach { case (id, cell, v) =>
        assert(cell === argmin(v), s"vec $id assigned to $cell") }
      // exhaustive topK over the refreshed index equals brute force
      // over the grown corpus — the refresh path is query-equivalent
      val queries = spark.read.parquet(path).where(col("vec_id") < 3)
      val got = ranks(IvfIndex.topK(spark, path, queries, k = 5, nProbe = 4))
      val brute = ranks(graft.ext.SimilaritySearch.bruteForceTopK(
        queries, spark.read.parquet(path), k = 5))
      assert(got === brute)
      // purge-shaped deletion: drop one corpus file -> its vectors
      // leave the index on the next refresh
      val victim = spark.read.parquet(IvfIndex.cellsPath(path))
        .select("file").as[String].head()
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(victim), false)
      IvfIndex.refresh(spark, path)
      val files = spark.read.parquet(IvfIndex.cellsPath(path))
        .select("file").distinct().as[String].collect().toSet
      assert(!files.contains(victim))
    }
  }

  test("probing fewer cells reads fewer index rows (partition-pruned scan)") {
    withTable() { path =>
      IvfIndex.collect(spark, path, nCells = 8)
      // pin the query frame OUTSIDE the measured windows so the only
      // differing input-records term is the cells scan itself
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
      val narrow = inputRecords {
        IvfIndex.topK(spark, path, queries, k = 3, nProbe = 1).count() }
      val full = inputRecords {
        IvfIndex.topK(spark, path, queries, k = 3, nProbe = 8).count() }
      // both runs pay the same query/centroid reads; the cells scan
      // is where they must separate — 2 queries x 1 probe covers at
      // most 2 of 8 cell directories
      assert(narrow < full,
        s"1-probe read $narrow records vs exhaustive $full — partition pruning is dead")
      assert(narrow.toDouble < full * 0.7,
        s"1-probe should skip most cell directories: $narrow vs $full")
    }
  }

  test("one-file-per-vector layout is enforced before any swap") {
    withTable() { path =>
      IvfIndex.collect(spark, path, nCells = 4)
      // duplicate an existing vec_id into a NEW file, then refresh:
      // the guard must reject and the LIVE index must stay valid
      spark.read.parquet(path).where(col("vec_id") === 7)
        .coalesce(1).write.mode("append").parquet(path)
      val e = intercept[IllegalArgumentException] {
        IvfIndex.refresh(spark, path)
      }
      assert(e.getMessage.contains("indexed more than once"))
      // live index still serves exhaustive-exact results
      val queries = spark.read.parquet(path)
        .where(col("vec_id") < 2).dropDuplicates("vec_id")
      assert(IvfIndex.topK(spark, path, queries, k = 3, nProbe = 4)
        .count() === 6L)
    }
  }

  test("refs variant: exhaustive-probe topKRefs equals brute force after build + refresh") {
    withTable() { path =>
      IvfIndex.collectRefs(spark, path, nCells = 4)
      graft.queries.Fixtures.tbl(spark, sf, "embeddings")
        .where(col("vec_id") >= 200 && col("vec_id") < 240)
        .coalesce(1).write.mode("append").parquet(path)
      IvfIndex.refreshRefs(spark, path)
      val queries = spark.read.parquet(path).where(col("vec_id") < 5)
      val refs = ranks(IvfIndex.topKRefs(spark, path, queries,
        k = 10, nProbe = 4))
      val brute = ranks(graft.ext.SimilaritySearch.bruteForceTopK(
        queries, spark.read.parquet(path), k = 10))
      assert(refs === brute)
    }
  }

  test("refs sidecar stores NO embeddings: a small fraction of the cells form's bytes") {
    withTable() { path =>
      IvfIndex.collect(spark, path, nCells = 4)
      IvfIndex.collectRefs(spark, path, nCells = 4)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def bytes(p: String): Long = fs.getContentSummary(
        new org.apache.hadoop.fs.Path(p)).getLength
      val cells = bytes(IvfIndex.cellsPath(path))
      val refs = bytes(IvfIndex.refsPath(path))
      assert(refs * 2 < cells,
        s"refs ($refs B) should be well under half the cells form ($cells B)")
      assert(!spark.read.parquet(IvfIndex.refsPath(path))
        .columns.contains("embedding"))
      // and both answer identically
      val queries = spark.read.parquet(path).where(col("vec_id") < 5)
      assert(
        ranks(IvfIndex.topKRefs(spark, path, queries, k = 10, nProbe = 4))
          === ranks(IvfIndex.topK(spark, path, queries, k = 10, nProbe = 4)))
    }
  }

  test("refs probe stays serving when a corpus file vanished before refreshRefs") {
    withTable() { path =>
      IvfIndex.collectRefs(spark, path, nCells = 4)
      // staleness reconciliation is EXCEPTION-DRIVEN: the steady
      // state (nothing vanished) must issue NO corpus listing and no
      // per-file existence probes — the r15 per-file fs.exists loop
      // was O(candidate-file-count) serial driver RPCs per probe
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
      IvfIndex.topKRefs(spark, path, queries, k = 10, nProbe = 4).count()
      assert(walks === w0,
        "a steady-state refs probe must not list the corpus — " +
          "reconciliation is exception-driven, not eager")
      // delete one corpus data file OUT OF BAND (a purge between
      // maintenance entries); the refs index still names it
      val dataFiles = SidecarMaintenance.dataFiles(spark, path)
        .filterNot(_.contains("_ivf_refs"))
      val victim = new org.apache.hadoop.fs.Path(dataFiles.min)
      victim.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(victim, false)
      val survivors = spark.read.parquet(path).where(col("vec_id") < 5)
        .localCheckpoint(true)
      // the probe must SERVE (vanished candidates score absent, as
      // the full-table read served them) — not throw PATH_NOT_FOUND
      val w1 = walks
      val res = ranks(IvfIndex.topKRefs(spark, path, survivors,
        k = 10, nProbe = 4))
      assert(walks === w1 + 1,
        "an actually-stale probe reconciles with exactly ONE batched " +
          "corpus listing, never per-file round trips")
      val brute = ranks(graft.ext.SimilaritySearch.bruteForceTopK(
        survivors, spark.read.parquet(path), k = 10))
      assert(res === brute,
        "stale refs probe must equal brute force over the surviving corpus")
    }
  }

  test("clusterCorpus: cell-contiguous layout, every row and column survives, probes exact") {
    withTable() { path =>
      val dest = s"${new org.apache.hadoop.fs.Path(path).getParent}/clustered"
      IvfIndex.clusterCorpus(spark, path, dest, nCells = 8, filesPerCell = 2)
      val raw = spark.read.parquet(path)
      val clus = spark.read.parquet(dest)
      assert(clus.count() === raw.count(), "no row may be lost or duplicated")
      assert(clus.columns.sorted === raw.columns.sorted,
        "every corpus column must survive the re-layout verbatim")
      // the layout claim: each file hosts a CONTIGUOUS slice of one
      // (cell, id) range, so (file, cell) incidences are bounded by
      // files + cells — a random layout would be ~files × cells.
      // The refs sidecar is assigned against the SAME quantizer that
      // produced the layout, so its (file, __cell) pairs measure it.
      val refs = spark.read.parquet(IvfIndex.refsPath(dest))
      val pairs = refs.select("file", "__cell").distinct().count()
      val nFiles = refs.select("file").distinct().count()
      assert(nFiles > 8, "fixture: more files than cells, else trivial")
      assert(pairs <= nFiles + 8,
        s"cell-clustered layout must be contiguous: $pairs (file, cell) " +
          s"incidences over $nFiles files + 8 cells")
      // partial probes now prune FILES: any single cell's candidate
      // file set is a strict minority of the corpus files
      val perCell = refs.groupBy("__cell")
        .agg(countDistinct(col("file")).as("nf"))
        .agg(max(col("nf"))).head().getLong(0)
      assert(perCell * 2 < nFiles,
        s"one cell's candidates span $perCell of $nFiles files — " +
          "partial probes must read a corpus fraction in FILES")
      // and the machinery stays exact at exhaustive probes
      val q = clus.where(col("vec_id") < 5)
      assert(ranks(IvfIndex.topKRefs(spark, dest, q, k = 10, nProbe = 8))
        === ranks(graft.ext.SimilaritySearch.bruteForceTopK(q, clus, k = 10)))
    }
  }

  test("clusterAppend lands a batch cell-contiguously: layout bound holds, probes stay exact") {
    withTable(150) { path =>
      val dest = s"${new org.apache.hadoop.fs.Path(path).getParent}/clustered"
      IvfIndex.clusterCorpus(spark, path, dest, nCells = 8, filesPerCell = 2)
      val batch = graft.queries.Fixtures.tbl(spark, sf, "embeddings")
        .where(col("vec_id") >= 150 && col("vec_id") < 220)
        .localCheckpoint(true)
      IvfIndex.clusterAppend(spark, dest, batch, filesPerCell = 1)
      val clus = spark.read.parquet(dest)
      assert(clus.count() === 220L, "append must add exactly the batch")
      // the refs sidecar covers BOTH generations against one frozen
      // quantizer; each generation is cell-contiguous, so incidences
      // stay bounded by files + one nCells term per generation —
      // never the random-layout files × cells
      val refs = spark.read.parquet(IvfIndex.refsPath(dest))
      assert(refs.count() === 220L, "refresh must index the appended rows")
      val pairs = refs.select("file", "__cell").distinct().count()
      val nFiles = refs.select("file").distinct().count()
      assert(pairs <= nFiles + 2 * 8,
        s"appended layout must stay cell-contiguous per generation: " +
          s"$pairs (file, cell) incidences over $nFiles files")
      val perCell = refs.groupBy("__cell")
        .agg(countDistinct(col("file")).as("nf"))
        .agg(max(col("nf"))).head().getLong(0)
      assert(perCell * 2 < nFiles,
        s"one cell's candidates span $perCell of $nFiles files — file " +
          "pruning must survive the append")
      // probes stay exact over the union at exhaustive probes
      val q = clus.where(col("vec_id") < 3 || col("vec_id") >= 218)
      assert(ranks(IvfIndex.topKRefs(spark, dest, q, k = 10, nProbe = 8))
        === ranks(graft.ext.SimilaritySearch.bruteForceTopK(q, clus, k = 10)))
    }
  }

  test("clusterAppend rejects a duplicate-id batch BEFORE the corpus mutates") {
    withTable(100) { path =>
      val dest = s"${new org.apache.hadoop.fs.Path(path).getParent}/cludup"
      IvfIndex.clusterCorpus(spark, path, dest, nCells = 4)
      val before = spark.read.parquet(dest).count()
      // ids 50-99 already live in the clustered corpus — the append
      // is un-journaled (nondeterministic part names, no undo), so
      // the clash must trip BEFORE any bytes land, not after
      // refreshRefs finds the damage
      val dup = graft.queries.Fixtures.tbl(spark, sf, "embeddings")
        .where(col("vec_id") >= 50 && col("vec_id") < 70)
        .localCheckpoint(true)
      val e = intercept[IllegalArgumentException] {
        IvfIndex.clusterAppend(spark, dest, dup)
      }
      assert(e.getMessage.contains("indexed more than once"))
      assert(spark.read.parquet(dest).count() === before,
        "a tripped guard must leave the corpus copy byte-untouched")
      // and the index still serves the pre-trip truth
      val q = spark.read.parquet(dest).where(col("vec_id") < 3)
      assert(ranks(IvfIndex.topKRefs(spark, dest, q, k = 5, nProbe = 4))
        === ranks(graft.ext.SimilaritySearch.bruteForceTopK(
          q, spark.read.parquet(dest), k = 5)))
    }
  }

  test("clusterAppend accepts re-ingest of a purge-rewritten file's ids (vanish-aware pre-check)") {
    withTable(100) { path =>
      val dest = s"${new org.apache.hadoop.fs.Path(path).getParent}/clupurge"
      IvfIndex.clusterCorpus(spark, path, dest, nCells = 4)
      // purge shape: one corpus data file vanishes out-of-band; the
      // refs sidecar still carries its rows until a refresh runs
      val victim = spark.read.parquet(IvfIndex.refsPath(dest))
        .select("file").as[String].head()
      val victimIds = spark.read.parquet(IvfIndex.refsPath(dest))
        .where(col("file") === victim)
        .select("vec_id").as[Long].collect().toSet
      assert(victimIds.nonEmpty, "fixture: victim file must carry rows")
      new org.apache.hadoop.fs.Path(victim)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(victim), false)
      // re-ingest exactly those ids: the pre-append clash check must
      // NOT count the vanished file's stale refs rows (the keptRows
      // rule) — a raw-snapshot check would falsely reject this batch
      val reingest = graft.queries.Fixtures.tbl(spark, sf, "embeddings")
        .where(col("vec_id").isin(victimIds.toSeq: _*))
        .localCheckpoint(true)
      IvfIndex.clusterAppend(spark, dest, reingest)
      val clus = spark.read.parquet(dest)
      assert(clus.count() === 100L, "every id lives exactly once again")
      // index heals and serves the exact truth over the union
      val q = clus.where(col("vec_id") < 3)
      assert(ranks(IvfIndex.topKRefs(spark, dest, q, k = 5, nProbe = 4))
        === ranks(graft.ext.SimilaritySearch.bruteForceTopK(q, clus, k = 5)))
    }
  }

  test("clusterCorpus rejects a single-cell layout loudly (KMeans needs k >= 2)") {
    withTable(40) { path =>
      val dest = s"${new org.apache.hadoop.fs.Path(path).getParent}/clu1"
      val e = intercept[IllegalArgumentException] {
        IvfIndex.clusterCorpus(spark, path, dest, nCells = 1)
      }
      assert(e.getMessage.contains("nCells >= 2"))
      // clusterAppend itself tolerates a 2-row quantizer's smallest
      // legal form (the least() fold needs the 1-vs-many branch only
      // for defense; the materializer can't produce a 1-cell layout)
      IvfIndex.clusterCorpus(spark, path, dest, nCells = 2)
      val batch = graft.queries.Fixtures.tbl(spark, sf, "embeddings")
        .where(col("vec_id") >= 40 && col("vec_id") < 60)
        .localCheckpoint(true)
      IvfIndex.clusterAppend(spark, dest, batch)
      assert(spark.read.parquet(dest).count() === 60L)
      assert(spark.read.parquet(IvfIndex.refsPath(dest)).count() === 60L)
    }
  }

  test("refs probes prune by cell partition AND column-prune the re-rank corpus scan") {
    withTable() { path =>
      IvfIndex.collectRefs(spark, path, nCells = 8)
      val queries = spark.read.parquet(path).where(col("vec_id") < 2)
        .localCheckpoint(true)
      val res = IvfIndex.topKRefs(spark, path, queries, k = 3, nProbe = 1)
      val plan = res.queryExecution.executedPlan.toString
      assert(plan.linesIterator.exists(l =>
        l.contains("PartitionFilters: [") &&
          !l.replace(" ", "").contains("PartitionFilters:[]") &&
          l.contains("__cell")),
        "the refs scan must push the probed cells as a partition filter")
      assert(plan.linesIterator.exists(l =>
        l.contains("ReadSchema:") && l.contains("embedding") &&
          !l.contains("label")),
        "the corpus re-rank scan must not read unused columns")
    }
  }

  /** The Spark window plan that ranked probe cells before
    * [[IvfIndex.probeSet]] moved the ranking to the driver — kept as
    * the reference the driver-side ranking must equal bit for bit. */
  private def windowProbes(q: DataFrame, cents: DataFrame, nProbe: Int): DataFrame = {
    val cellRank = Window.partitionBy(col("q_id"))
      .orderBy(col("__cdist").asc, col("__cell").asc)
    q.crossJoin(broadcast(cents))
      .withColumn("__cdist", VectorFunctions.l2Sq(col("q_vec"), col("__centroid")))
      .withColumn("__cr", row_number().over(cellRank))
      .where(col("__cr") <= nProbe)
      .select(col("q_id"), col("q_vec"), col("__cell"))
  }

  test("driver-side probe ranking equals the Spark window plan bit for bit") {
    val nan = Double.NaN
    val centSchema = StructType(Seq(
      StructField("__cell", IntegerType),
      StructField("__centroid", ArrayType(DoubleType))))
    // cells 1 and 3 coincide, 1 and 4 mirror around the origin, cell
    // 5 sits at NaN distance from every query and cell 6 at a null one
    val centRows = Array(
      Row(0, Seq(0.0, 0.0)), Row(1, Seq(2.0, 0.0)), Row(2, Seq(0.0, 2.0)),
      Row(3, Seq(2.0, 0.0)), Row(4, Seq(-2.0, 0.0)), Row(5, Seq(nan, 1.0)),
      Row(6, Seq(null, 0.0)))
    val cents = spark.createDataFrame(java.util.Arrays.asList(centRows: _*), centSchema)
    val qSchema = StructType(Seq(
      StructField("q_id", LongType),
      StructField("q_vec", ArrayType(DoubleType))))
    val qRows = Seq(
      Row(1L, Seq(0.0, 0.0)),           // four cells tie at 4.0
      Row(2L, Seq(1.0, 0.0)),           // ties across cells 0, 1, 3
      Row(3L, null),                    // null vector: every distance null
      Row(4L, Seq(1.0, null)),          // null element
      Row(5L, Seq(nan, 0.0)),           // NaN element: every distance NaN
      Row(6L, Seq(1.0, 2.0, 3.0)),      // wrong dimension
      Row(7L, Seq(0.5, 0.5)),           // duplicate q_id, ranked jointly
      Row(7L, Seq(1.9, 0.1)),
      Row(null, Seq(0.1, 1.8)),         // null q_id, also duplicated
      Row(null, Seq(-1.5, 0.2)),
      Row(8L, Seq(Double.PositiveInfinity, 0.0)),
      Row(9L, Seq(-0.0, 1.0)))
    def asQuery(rows: Seq[Row]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), qSchema)
    // NaN != NaN under Row equality: compare rendered rows
    def rendered(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    for {
      rows <- Seq(qRows, Seq.empty[Row])
      floats <- Seq(false, true)
      nProbe <- Seq(1, 2, 3, 6, 7, 10)
    } {
      val q0 = asQuery(rows)
      val q = if (floats) q0.withColumn("q_vec", col("q_vec").cast("array<float>")) else q0
      val want = windowProbes(q, cents, nProbe)
      val (got, cells) = IvfIndex.probeSet(spark, q, (centSchema, centRows), nProbe)
      val clue = s"rows=${rows.size} floats=$floats nProbe=$nProbe"
      assert(got.schema === want.schema, clue)
      assert(rendered(got) === rendered(want), clue)
      assert(cells.toSet === want.select("__cell").collect().map(_.get(0)).toSet, clue)
    }
    // floating-point ids: NaN ids rank together, and so do 0.0 and -0.0
    val dSchema = StructType(Seq(
      StructField("q_id", DoubleType), StructField("q_vec", ArrayType(DoubleType))))
    val dq = spark.createDataFrame(java.util.Arrays.asList(
      Row(0.0, Seq(0.1, 0.1)), Row(-0.0, Seq(1.8, 0.3)),
      Row(nan, Seq(0.2, 1.7)), Row(nan, Seq(-1.6, -0.1))), dSchema)
    for (nProbe <- Seq(1, 2, 3)) {
      val (got, _) = IvfIndex.probeSet(spark, dq, (centSchema, centRows), nProbe)
      assert(rendered(got) === rendered(windowProbes(dq, cents, nProbe)), s"nProbe=$nProbe")
    }
  }

  test("a steady-state topK over a local query set runs no listing job and no probe-ranking job") {
    withTable() { path =>
      IvfIndex.collect(spark, path, nCells = 4, writeSalt = 8)
      IvfIndex.refresh(spark, path) // heal coverage → a committed generation
      // grow the committed sidecar past the 32 explicit paths that
      // Spark's reader lists without a job
      val cellsDir = IvfIndex.cellsPath(path)
      var next = 200
      while (SidecarMaintenance.dataFiles(spark, cellsDir).size <= 32 && next < 500) {
        graft.queries.Fixtures.tbl(spark, sf, "embeddings")
          .where(col("vec_id") >= next && col("vec_id") < next + 30)
          .coalesce(1).write.mode("append").parquet(path)
        IvfIndex.refresh(spark, path, writeSalt = 8)
        next += 30
      }
      val nFiles = SidecarMaintenance.dataFiles(spark, cellsDir).size
      assert(nFiles > 32, s"fixture: the sidecar holds only $nFiles files")
      val corpus = spark.read.parquet(path)
      val queries = spark.createDataFrame(java.util.Arrays.asList(
        corpus.where(col("vec_id") < 4).collect(): _*), corpus.schema)
      // the first probe of a directory pays its schema and centroid reads
      IvfIndex.topK(spark, path, queries, k = 5, nProbe = 2).collect()
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.add(Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse(j.stageInfos.map(_.name).mkString(";")))
      }
      def jobsNow(): List[String] = {
        org.apache.spark.graftglue.SparkGlue.flushListeners(spark.sparkContext)
        scala.jdk.CollectionConverters.IteratorHasAsScala(jobs.iterator).asScala.toList
      }
      spark.sparkContext.addSparkListener(l)
      val (planning, all, got) = try {
        val df = IvfIndex.topK(spark, path, queries, k = 5, nProbe = 2)
        val planning = jobsNow()
        val got = ranks(df)
        (planning, jobsNow(), got)
      } finally spark.sparkContext.removeSparkListener(l)
      assert(planning.isEmpty,
        s"building the probe must submit no job (listing, probe ranking): $planning")
      assert(!all.exists(_.contains("Listing leaf files")), all.mkString("\n"))
      // the exhaustive probe still equals brute force over the grown corpus
      assert(ranks(IvfIndex.topK(spark, path, queries, k = 5, nProbe = 4)) ===
        ranks(graft.ext.SimilaritySearch.bruteForceTopK(queries, corpus, k = 5)))
      assert(got.nonEmpty)
    }
  }
}
