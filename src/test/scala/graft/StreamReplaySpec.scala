package graft

import graft.sinks.{IvfIndex, SidecarMaintenance}
import graft.streaming.StreamingOps
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Crash-replay behavior of the streaming index-maintenance flows:
  * foreachBatch gives AT-LEAST-ONCE batch delivery, so the corpus
  * append must be IDEMPOTENT — a replayed batch has to converge to
  * the same corpus file set instead of landing the same vec_ids in
  * new files (which would trip every subsequent refresh's
  * one-row-per-vector guard and wedge the stream). */
class StreamReplaySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def fsOf(path: String) = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def ranks(df: DataFrame): Set[(Long, Long, Long)] =
    df.as[(Long, Long, Long)].collect().toSet

  test("idempotentBatchAppend: re-delivering a batch republishes the SAME files, no duplicates") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-idemp-append").toString
    val corpus = s"$root/corpus"
    try {
      val batch = graft.queries.Fixtures.tbl(spark, sf, "embeddings")
        .where(col("vec_id") < 50).repartition(2).localCheckpoint(true)
      StreamingOps.idempotentBatchAppend(spark, batch, corpus, batchId = 0L,
        targetRowsPerFile = 16)
      val firstFiles = SidecarMaintenance.dataFiles(spark, corpus)
      assert(firstFiles.size > 1, "fixture must exercise a multi-file publish")
      assert(spark.read.parquet(corpus).count() === 50L)
      val firstBinding = spark.read.parquet(corpus)
        .select(col("_metadata.file_path").as("f"), col("vec_id"))
        .as[(String, Long)].collect().toSet
      // index the first publish, then re-deliver the SAME batch —
      // the crash-between-append-and-checkpoint-commit scenario.
      // The replayed delivery arrives with DIFFERENT incoming
      // partitioning (a restart on different parallelism re-packs
      // file splits): the publish must still bind the same rows to
      // the same file names, because coverage is name-keyed.
      IvfIndex.collect(spark, corpus, nCells = 4)
      StreamingOps.idempotentBatchAppend(
        spark, batch.repartition(7), corpus, batchId = 0L,
        targetRowsPerFile = 16)
      assert(SidecarMaintenance.dataFiles(spark, corpus) === firstFiles,
        "replay must republish the same deterministic file names")
      assert(spark.read.parquet(corpus).count() === 50L)
      assert(spark.read.parquet(corpus)
        .select(col("_metadata.file_path").as("f"), col("vec_id"))
        .as[(String, Long)].collect().toSet === firstBinding,
        "row→file binding must not depend on the incoming partitioning")
      // and the refresh that follows the replayed batch must NOT
      // wedge: the file set is already covered, so it no-ops
      IvfIndex.refresh(spark, corpus)
      val q = spark.read.parquet(corpus).where(col("vec_id") < 3)
      assert(ranks(IvfIndex.topK(spark, corpus, q, k = 5, nProbe = 4))
        === ranks(graft.ext.SimilaritySearch.bruteForceTopK(
          q, spark.read.parquet(corpus), k = 5)))
      // a DIFFERENT batch id appends rather than replaces
      val batch2 = graft.queries.Fixtures.tbl(spark, sf, "embeddings")
        .where(col("vec_id") >= 50 && col("vec_id") < 80)
        .localCheckpoint(true)
      StreamingOps.idempotentBatchAppend(spark, batch2, corpus, batchId = 1L)
      assert(spark.read.parquet(corpus).count() === 80L)
    } finally new graft.core.LakeStorage(
      spark.sparkContext.hadoopConfiguration).truncate(root)
  }

  test("pre-namespace checkpoint migration: the owning stream sweeps legacy names on replay; a fresh stream never does") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-legacy-mig").toString
    val corpus = s"$root/corpus"
    val oldCkpt = s"$root/oldckpt"
    val freshCkpt = s"$root/freshckpt"
    try {
      val batch = graft.queries.Fixtures.tbl(spark, sf, "embeddings")
        .where(col("vec_id") < 40).localCheckpoint(true)
      // a pre-namespace stream's artifacts: un-namespaced batch-0
      // files in the corpus, a checkpoint with a committed batch and
      // NO run-id marker
      StreamingOps.idempotentBatchAppend(spark, batch, corpus, batchId = 0L)
      val legacyFiles = SidecarMaintenance.dataFiles(spark, corpus)
      assert(legacyFiles.forall(_.contains("ingest-b0-")),
        "fixture: legacy names carry no run-id namespace")
      val fs = fsOf(oldCkpt)
      fs.mkdirs(new Path(oldCkpt, "commits"))
      fs.create(new Path(s"$oldCkpt/commits/0")).close()
      // the MIGRATED checkpoint owns the legacy files: replaying its
      // batch 0 under the new code must sweep them (else every row
      // duplicates and the duplicate guard wedges the stream)
      val runId = StreamingOps.ingestRunId(spark, oldCkpt)
      assert(StreamingOps.ingestOwnsLegacy(spark, oldCkpt),
        "a checkpoint with committed batches and no marker predates namespacing")
      StreamingOps.idempotentBatchAppend(spark, batch, corpus, batchId = 0L,
        runId = runId, sweepLegacy = true)
      assert(spark.read.parquet(corpus).count() === 40L,
        "the migrated replay must not duplicate the batch")
      assert(SidecarMaintenance.dataFiles(spark, corpus)
        .forall(_.contains(s"ingest-r$runId-b0-")),
        "legacy names must be swept, namespaced names published")
      // a FRESH checkpoint does NOT own foreign legacy files: its
      // batch 0 lands alongside them untouched (the clobber fix)
      StreamingOps.idempotentBatchAppend(spark, batch, corpus, batchId = 0L)
      val before = SidecarMaintenance.dataFiles(spark, corpus)
        .filter(_.contains("ingest-b0-"))
      assert(before.nonEmpty, "fixture: legacy-named files present again")
      val freshId = StreamingOps.ingestRunId(spark, freshCkpt)
      assert(!StreamingOps.ingestOwnsLegacy(spark, freshCkpt),
        "a fresh checkpoint never owns legacy files")
      val other = batch.withColumn("vec_id", col("vec_id") + 1000)
        .localCheckpoint(true)
      StreamingOps.idempotentBatchAppend(spark, other, corpus, batchId = 0L,
        runId = freshId, sweepLegacy = false)
      assert(SidecarMaintenance.dataFiles(spark, corpus)
        .filter(_.contains("ingest-b0-")).toSet === before.toSet,
        "a fresh stream's batch 0 must leave foreign legacy files alone")
    } finally new graft.core.LakeStorage(
      spark.sparkContext.hadoopConfiguration).truncate(root)
  }

  test("file-backed batches publish in ONE executor pass: nParts from input-file bytes, no count() job") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-onepass").toString
    val corpus = s"$root/corpus"
    val landing = s"$root/landing"
    try {
      graft.queries.Fixtures.tbl(spark, sf, "embeddings")
        .where(col("vec_id") < 60).coalesce(1).write.parquet(landing)
      def jobsDuring(f: => Unit): Long = {
        val n = new java.util.concurrent.atomic.AtomicLong
        val l = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            n.incrementAndGet()
        }
        spark.sparkContext.addSparkListener(l)
        try {
          f
          org.apache.spark.graftglue.SparkGlue
            .flushListeners(spark.sparkContext)
        } finally spark.sparkContext.removeSparkListener(l)
        n.get
      }
      // the r15 form paid a count() job ON TOP of the shuffle+write;
      // with byte-derived nParts the publish runs exactly the jobs
      // the bare write costs (the pin is NO EXTRA PASS, not an
      // absolute). Since r18 a single-part batch stages via
      // coalesce(1) — no exchange at all — so the write-only baseline
      // is the same shuffle-free shape.
      val batch = spark.read.parquet(landing)
      val writeOnly = jobsDuring(
        batch.coalesce(1)
          .write.mode("overwrite").parquet(s"$root/scratch"))
      val jobs = jobsDuring(
        StreamingOps.idempotentBatchAppend(spark, batch, corpus, 0L))
      assert(jobs === writeOnly,
        s"a file-backed batch must publish with no executor pass beyond " +
          s"the shuffle+write itself (saw $jobs vs $writeOnly write-only " +
          "jobs) — nParts comes from input-file bytes, not a count() job")
      assert(spark.read.parquet(corpus).count() === 60L)
      // byte-derived multi-part binding is replay-deterministic: the
      // same trigger file list re-derives the same nParts and the
      // same row→file hash binding, whatever the incoming parallelism
      val (pub1, _) = StreamingOps.idempotentBatchAppend(spark,
        spark.read.parquet(landing), corpus, 1L, targetBytesPerFile = 4096)
      assert(pub1.size > 1, "fixture must exercise a multi-file publish")
      val binding = spark.read.parquet(pub1: _*)
        .select(col("_metadata.file_path").as("f"), col("vec_id"))
        .as[(String, Long)].collect().toSet
      val (pub2, rep2) = StreamingOps.idempotentBatchAppend(spark,
        spark.read.parquet(landing).repartition(7), corpus, 1L,
        targetBytesPerFile = 4096)
      assert(pub2 === pub1 && rep2 === pub1.toSet)
      assert(spark.read.parquet(pub2: _*)
        .select(col("_metadata.file_path").as("f"), col("vec_id"))
        .as[(String, Long)].collect().toSet === binding,
        "byte-derived row→file binding must not depend on incoming partitioning")
      assert(spark.read.parquet(corpus).count() === 120L)
    } finally new graft.core.LakeStorage(
      spark.sparkContext.hadoopConfiguration).truncate(root)
  }

  test("a pre-namespace checkpoint that STARTED but never committed a batch still owns its legacy files") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-legacy-offsets").toString
    try {
      // the crash shape the commits-only detection missed: a
      // pre-namespace run published batch 0's un-namespaced corpus
      // files and wrote offsets/0, then died BEFORE its first commit
      // record — offsets non-empty, commits empty (or absent). Its
      // replay under the new code must still sweep the legacy names,
      // or every row of the batch duplicates.
      val ckpt = s"$root/ckpt"
      val fs = fsOf(ckpt)
      fs.mkdirs(new Path(ckpt, "offsets"))
      fs.create(new Path(s"$ckpt/offsets/0")).close()
      StreamingOps.ingestRunId(spark, ckpt)
      assert(StreamingOps.ingestOwnsLegacy(spark, ckpt),
        "a checkpoint with a started (offsets-recorded) batch and no " +
          "run-id marker predates namespacing even when commits is empty")
      // and a checkpoint with only non-batch files in offsets (e.g.
      // a temp file) is NOT treated as started
      val ckpt2 = s"$root/ckpt2"
      fs.mkdirs(new Path(ckpt2, "offsets"))
      fs.create(new Path(s"$ckpt2/offsets/.0.tmp")).close()
      StreamingOps.ingestRunId(spark, ckpt2)
      assert(!StreamingOps.ingestOwnsLegacy(spark, ckpt2),
        "only digit-named offset records mark a started batch")
    } finally new graft.core.LakeStorage(
      spark.sparkContext.hadoopConfiguration).truncate(root)
  }

  test("config-changed replay re-indexes republished names: the index must not serve the stale binding") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-replaced-reindex").toString
    val corpus = s"$root/corpus"
    try {
      // the ADVICE r15 scenario: delivery 1 lands 3 parts and the
      // index covers them; the replay (changed target) republishes
      // p0 with DIFFERENT content (all 48 rows instead of a third)
      // and sweeps p1/p2. A name-keyed planAppend alone would no-op
      // (p0 "already covered") and the eventual full reconcile would
      // drop p1/p2's sidecar rows while never re-indexing the changed
      // p0 — silently losing every row that moved into p0.
      val batch = graft.queries.Fixtures.tbl(spark, sf, "embeddings")
        .where(col("vec_id") < 48).localCheckpoint(true)
      val (pub1, rep1) = StreamingOps.idempotentBatchAppend(
        spark, batch, corpus, batchId = 0L, targetRowsPerFile = 16)
      assert(rep1.isEmpty, "a first delivery replaces nothing")
      IvfIndex.collect(spark, corpus, nCells = 4)
      IvfIndex.refresh(spark, corpus) // heal coverage: warm steady state
      val (pub2, rep2) = StreamingOps.idempotentBatchAppend(
        spark, batch, corpus, batchId = 0L, targetRowsPerFile = 1000)
      assert(pub2.size === 1)
      assert(rep2 === pub1.toSet,
        "the sweep must report every prior-delivery name it deleted")
      // the per-batch refresh with the replaced set: p0's stale
      // binding AND the swept siblings' ghost rows vanish in the same
      // commit the republished p0 indexes in
      IvfIndex.refresh(spark, corpus, appendedOnly = Some(pub2.toSet),
        replaced = rep2)
      assert(spark.read.parquet(IvfIndex.cellsPath(corpus)).count() === 48L,
        "every row of the republished batch must be indexed exactly once")
      val q = spark.read.parquet(corpus).where(col("vec_id") < 3)
      assert(ranks(IvfIndex.topK(spark, corpus, q, k = 5, nProbe = 4))
        === ranks(graft.ext.SimilaritySearch.bruteForceTopK(
          q, spark.read.parquet(corpus), k = 5)))
      // WITHOUT the replaced set the stale binding survives the
      // no-op plan — the failure mode this guards against (the
      // duplicate guard can't see it: plan.fresh is empty)
      // and a plain replay (same config) replaces-then-reindexes the
      // same names idempotently: same file set, same index content
      val (pub3, rep3) = StreamingOps.idempotentBatchAppend(
        spark, batch, corpus, batchId = 0L, targetRowsPerFile = 1000)
      assert(rep3 === pub3.toSet)
      IvfIndex.refresh(spark, corpus, appendedOnly = Some(pub3.toSet),
        replaced = rep3)
      assert(spark.read.parquet(IvfIndex.cellsPath(corpus)).count() === 48L)
    } finally new graft.core.LakeStorage(
      spark.sparkContext.hadoopConfiguration).truncate(root)
  }

  test("replay whose PRIOR attempt crashed between publish and refresh: prefixes vanish what the sweep can no longer see") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-amnesia").toString
    val corpus = s"$root/corpus"
    try {
      // delivery 1: 3 parts, indexed
      val batch = graft.queries.Fixtures.tbl(spark, sf, "embeddings")
        .where(col("vec_id") < 48).localCheckpoint(true)
      val (pub1, _) = StreamingOps.idempotentBatchAppend(
        spark, batch, corpus, batchId = 0L, targetRowsPerFile = 16)
      assert(pub1.size === 3)
      IvfIndex.collect(spark, corpus, nCells = 4)
      IvfIndex.refresh(spark, corpus) // heal coverage
      // attempt 1 of a config-changed replay: sweeps all three names
      // and republishes ONE part — then CRASHES before its refresh
      // (its replaced report dies with it)
      StreamingOps.idempotentBatchAppend(
        spark, batch, corpus, batchId = 0L, targetRowsPerFile = 1000)
      // attempt 2: the sweep can only see (and report) the one name
      // still on disk — p1/p2 were deleted by the crashed attempt
      val (pub2, rep2) = StreamingOps.idempotentBatchAppend(
        spark, batch, corpus, batchId = 0L, targetRowsPerFile = 1000)
      assert(pub2.size === 1 && rep2 === pub2.toSet,
        "fixture: attempt 2's sweep must under-report the crashed " +
          "attempt's deletions (that amnesia is what prefixes close)")
      // without the prefix, the under-reported plan wedges: fresh p0's
      // 48 ids clash with the ghost rows of the never-vanished p1/p2
      intercept[Exception] {
        IvfIndex.refresh(spark, corpus, appendedOnly = Some(pub2.toSet),
          replaced = rep2)
      }
      // the batch's deterministic name prefix vanishes every covered
      // entry ANY attempt produced — ghosts and stale binding in the
      // same commit the republished content indexes in
      IvfIndex.refresh(spark, corpus, appendedOnly = Some(pub2.toSet),
        replaced = rep2, replacedPrefixes = Seq("ingest-b0-"))
      assert(spark.read.parquet(IvfIndex.cellsPath(corpus)).count() === 48L,
        "every row of the republished batch must be indexed exactly once")
      val q = spark.read.parquet(corpus).where(col("vec_id") < 3)
      assert(ranks(IvfIndex.topK(spark, corpus, q, k = 5, nProbe = 4))
        === ranks(graft.ext.SimilaritySearch.bruteForceTopK(
          q, spark.read.parquet(corpus), k = 5)))
    } finally new graft.core.LakeStorage(
      spark.sparkContext.hadoopConfiguration).truncate(root)
  }

  test("replay whose PRIOR attempt crashed between sweep and publish: prefixes re-index the republished name the sweep reported nothing for") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-amnesia2").toString
    val corpus = s"$root/corpus"
    try {
      val batch = graft.queries.Fixtures.tbl(spark, sf, "embeddings")
        .where(col("vec_id") < 48).localCheckpoint(true)
      val (pub1, _) = StreamingOps.idempotentBatchAppend(
        spark, batch, corpus, batchId = 0L, targetRowsPerFile = 16)
      IvfIndex.collect(spark, corpus, nCells = 4)
      IvfIndex.refresh(spark, corpus)
      // attempt 1 crashed AFTER its sweep deleted every prior name
      // but BEFORE the staged files moved in: corpus empty of the
      // batch, coverage still carries all three names
      pub1.foreach(f => fsOf(corpus).delete(new Path(f), false))
      // attempt 2: nothing on disk to sweep → replaced is EMPTY; the
      // republished p0 reuses a covered name with different content
      val (pub2, rep2) = StreamingOps.idempotentBatchAppend(
        spark, batch, corpus, batchId = 0L, targetRowsPerFile = 1000)
      assert(pub2.size === 1 && rep2.isEmpty,
        "fixture: the sweep must report nothing (the silent-loss shape)")
      // without prefixes this no-ops (p0 'already covered') and the
      // eventual reconcile would drop p1/p2 without re-indexing p0 —
      // permanent loss of the rows that moved into p0. With them the
      // whole batch re-indexes:
      IvfIndex.refresh(spark, corpus, appendedOnly = Some(pub2.toSet),
        replaced = rep2, replacedPrefixes = Seq("ingest-b0-"))
      val cells = spark.read.parquet(IvfIndex.cellsPath(corpus))
      assert(cells.count() === 48L)
      assert(cells.select("file").distinct().count() === 1L,
        "every indexed row must bind to the republished file, no ghosts")
      val q = spark.read.parquet(corpus).where(col("vec_id") < 3)
      assert(ranks(IvfIndex.topK(spark, corpus, q, k = 5, nProbe = 4))
        === ranks(graft.ext.SimilaritySearch.bruteForceTopK(
          q, spark.read.parquet(corpus), k = 5)))
    } finally new graft.core.LakeStorage(
      spark.sparkContext.hadoopConfiguration).truncate(root)
  }

  test("config-changed replay propagates to the retrieval-stats sidecars: BM25 keeps every moved-in doc") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-replaced-stats").toString
    val corpus = s"$root/corpus"
    try {
      import graft.sinks.InvertedIndex
      // same shape as the IVF replaced-reindex spec, one layer down:
      // the postings re-index correctly, but the dl/term-stats
      // sidecars key coverage on the same file NAMES — without the
      // replaced propagation they no-op on the republished p0 and
      // BM25's dl inner-join silently drops every doc that moved in
      val batch = graft.queries.Fixtures.tbl(spark, sf, "documents")
        .where(col("doc_id") < 48).select("doc_id", "text")
        .localCheckpoint(true)
      StreamingOps.idempotentBatchAppend(spark, batch, corpus,
        batchId = 0L, targetRowsPerFile = 16)
      InvertedIndex.collect(spark, corpus, "text", "doc_id")
      InvertedIndex.buildRetrievalStats(spark, corpus)
      InvertedIndex.refresh(spark, corpus, "text", "doc_id") // heal coverage
      val (pub, rep) = StreamingOps.idempotentBatchAppend(spark, batch,
        corpus, batchId = 0L, targetRowsPerFile = 1000)
      assert(pub.size === 1 && rep.size === 3)
      InvertedIndex.refresh(spark, corpus, "text", "doc_id",
        appendedOnly = Some(pub.toSet), replaced = rep)
      val dl = spark.read.parquet(InvertedIndex.docLenPath(corpus))
      assert(dl.count() === 48L && dl.select("id").distinct().count() === 48L,
        "every doc of the republished batch must keep exactly one dl row")
      assert(spark.read.parquet(InvertedIndex.termStatsPath(corpus))
        .select("file").distinct().count() === 1L,
        "term-stats partials must all re-home to the republished file")
    } finally new graft.core.LakeStorage(
      spark.sparkContext.hadoopConfiguration).truncate(root)
  }

  test("replayed delivery with FEWER parts (config changed) still sweeps the larger prior delivery") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-resweep").toString
    val corpus = s"$root/corpus"
    try {
      val batch = graft.queries.Fixtures.tbl(spark, sf, "embeddings")
        .where(col("vec_id") < 48).localCheckpoint(true)
      // first delivery: small target → several part files
      StreamingOps.idempotentBatchAppend(spark, batch, corpus, batchId = 0L,
        targetRowsPerFile = 16)
      assert(SidecarMaintenance.dataFiles(spark, corpus).size === 3)
      // replayed delivery after a restart with a LARGER target →
      // fewer constructed names than the prior delivery published.
      // The O(1) existence probe past the new range must detect the
      // leftovers and fall back to the prefix-listing sweep — the
      // constructed-name deletes alone would strand p1/p2 and
      // silently duplicate every row they carry.
      StreamingOps.idempotentBatchAppend(spark, batch, corpus, batchId = 0L,
        targetRowsPerFile = 1000)
      assert(SidecarMaintenance.dataFiles(spark, corpus).size === 1,
        "stale parts of the larger prior delivery must be swept")
      assert(spark.read.parquet(corpus).count() === 48L,
        "no duplicate rows after the config-changed replay")
    } finally new graft.core.LakeStorage(
      spark.sparkContext.hadoopConfiguration).truncate(root)
  }

  test("appended-only refresh plans without LISTING the corpus; result equals the full-diff form") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-append-only").toString
    val corpus = s"$root/corpus"
    try {
      val batch = graft.queries.Fixtures.tbl(spark, sf, "embeddings")
        .where(col("vec_id") < 60).localCheckpoint(true)
      StreamingOps.idempotentBatchAppend(spark, batch, corpus, batchId = 0L)
      IvfIndex.collect(spark, corpus, nCells = 4)
      IvfIndex.refresh(spark, corpus) // full form: heals + warms coverage
      val batch2 = graft.queries.Fixtures.tbl(spark, sf, "embeddings")
        .where(col("vec_id") >= 60 && col("vec_id") < 90)
        .localCheckpoint(true)
      val (published, _) = StreamingOps.idempotentBatchAppend(
        spark, batch2, corpus, batchId = 1L)
      SidecarMaintenance.trackWalks(corpus) // opt-in counting
      def corpusListings: Long = {
        val v = SidecarMaintenance.walkCounts.get(new Path(corpus).toString)
        if (v == null) 0L else v.longValue()
      }
      val c0 = corpusListings
      IvfIndex.refresh(spark, corpus, appendedOnly = Some(published.toSet))
      assert(corpusListings === c0,
        "appendedOnly refresh must not list the corpus — at a million " +
          "corpus files that listing is O(file-count) driver work per batch")
      // the published form matches the coverage log's corpus-path form:
      // everything indexed exactly once, probes equal brute force
      assert(spark.read.parquet(IvfIndex.cellsPath(corpus)).count() === 90L)
      val q = spark.read.parquet(corpus).where(col("vec_id") < 3)
      assert(ranks(IvfIndex.topK(spark, corpus, q, k = 5, nProbe = 4))
        === ranks(graft.ext.SimilaritySearch.bruteForceTopK(
          q, spark.read.parquet(corpus), k = 5)))
      // a replayed (already-covered) batch no-ops under appendedOnly too
      IvfIndex.refresh(spark, corpus, appendedOnly = Some(published.toSet))
      assert(spark.read.parquet(IvfIndex.cellsPath(corpus)).count() === 90L)
    } finally new graft.core.LakeStorage(
      spark.sparkContext.hadoopConfiguration).truncate(root)
  }

  test("IVF stream: replaying the last committed batch after a 'crash' keeps the stream green") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-replay-ivf").toString
    try {
      val landing = s"$root/landing"
      val corpus = s"$root/vectors"
      val ckpt = s"$root/ckpt"
      graft.queries.Fixtures.tbl(spark, sf, "embeddings").repartition(4)
        .write.parquet(landing)
      val schema = spark.read.parquet(landing).schema
      StreamingOps.streamIngestWithIvfIndex(
        spark, landing, schema, corpus, ckpt, nCells = 8,
        maxFilesPerTrigger = 2)
      val countAfter = spark.read.parquet(corpus).count()
      val filesAfter = SidecarMaintenance.dataFiles(spark, corpus)
      // simulate a crash between the batch's effects and its
      // checkpoint commit: drop the LAST commit record, so the
      // restarted stream re-delivers that batch
      val fs = fsOf(ckpt)
      val commits = fs.listStatus(new Path(ckpt, "commits"))
        .map(_.getPath).filter(p => p.getName.forall(_.isDigit))
      val last = commits.maxBy(_.getName.toInt)
      fs.delete(last, false)
      StreamingOps.streamIngestWithIvfIndex(
        spark, landing, schema, corpus, ckpt, nCells = 8,
        maxFilesPerTrigger = 2)
      // replay converged: same corpus, no duplicate rows, index sane
      assert(spark.read.parquet(corpus).count() === countAfter)
      assert(SidecarMaintenance.dataFiles(spark, corpus) === filesAfter)
      val q = spark.read.parquet(corpus).where(col("vec_id") < 5)
      assert(ranks(IvfIndex.topK(spark, corpus, q, k = 10, nProbe = 8))
        === ranks(graft.ext.SimilaritySearch.bruteForceTopK(
          q, spark.read.parquet(corpus), k = 10)))
      // and the stream keeps ingesting NEW data afterwards
      graft.queries.Fixtures.tbl(spark, sf, "embeddings")
        .withColumn("vec_id", col("vec_id") + 1000)
        .limit(20).coalesce(1).write.mode("append").parquet(landing)
      StreamingOps.streamIngestWithIvfIndex(
        spark, landing, schema, corpus, ckpt, nCells = 8,
        maxFilesPerTrigger = 2)
      assert(spark.read.parquet(corpus).count() === countAfter + 20)
      assert(spark.read.parquet(IvfIndex.cellsPath(corpus)).count()
        === countAfter + 20)
    } finally new graft.core.LakeStorage(
      spark.sparkContext.hadoopConfiguration).truncate(root)
  }

  test("inverted-index stream: replaying the last committed batch keeps search exact, no duplicate docs") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-replay-inv").toString
    try {
      val landing = s"$root/landing"
      val corpus = s"$root/corpus"
      val ckpt = s"$root/ckpt"
      graft.queries.Fixtures.tbl(spark, sf, "documents")
        .select("doc_id", "lang", "text").repartition(4)
        .write.parquet(landing)
      val schema = spark.read.parquet(landing).schema
      StreamingOps.streamIngestWithInvertedIndex(
        spark, landing, schema, corpus, ckpt, maxFilesPerTrigger = 2)
      val nDocs = spark.read.parquet(corpus).count()
      val served = graft.sinks.InvertedIndex
        .phraseSearchIndexOnly(spark, corpus, "key order")
        .as[Long].collect().toSet
      val fs = fsOf(ckpt)
      val commits = fs.listStatus(new Path(ckpt, "commits"))
        .map(_.getPath).filter(p => p.getName.forall(_.isDigit))
      fs.delete(commits.maxBy(_.getName.toInt), false)
      StreamingOps.streamIngestWithInvertedIndex(
        spark, landing, schema, corpus, ckpt, maxFilesPerTrigger = 2)
      assert(spark.read.parquet(corpus).count() === nDocs,
        "replay must not duplicate corpus rows")
      assert(graft.sinks.InvertedIndex
        .phraseSearchIndexOnly(spark, corpus, "key order")
        .as[Long].collect().toSet === served)
      // one-file-per-doc layout survived replay: a fresh stats build
      // (which enforces it via the index) still succeeds
      graft.sinks.InvertedIndex.buildRetrievalStats(spark, corpus)
      assert(spark.read.parquet(
        graft.sinks.InvertedIndex.docLenPath(corpus))
        .groupBy("id").count().where(col("count") > 1).count() === 0L)
    } finally new graft.core.LakeStorage(
      spark.sparkContext.hadoopConfiguration).truncate(root)
  }

  test("streaming compaction cadence repacks the sidecar without changing answers") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-stream-compact-ann").toString
    try {
      val landing = s"$root/landing"
      val corpus = s"$root/vectors"
      // 8 landing files at 1 file/trigger -> batches 0..7; cadence 4
      // compacts at batch 4 — so the final sidecar file count is far
      // below the one-commit-per-batch accumulation
      graft.queries.Fixtures.tbl(spark, sf, "embeddings")
        .where(col("vec_id") < 160).repartition(8)
        .write.parquet(landing)
      val schema = spark.read.parquet(landing).schema
      StreamingOps.streamIngestWithIvfIndex(
        spark, landing, schema, corpus, s"$root/ckpt", nCells = 4,
        maxFilesPerTrigger = 1, compactEvery = 4)
      val q = spark.read.parquet(corpus).where(col("vec_id") < 3)
      assert(ranks(IvfIndex.topK(spark, corpus, q, k = 5, nProbe = 4))
        === ranks(graft.ext.SimilaritySearch.bruteForceTopK(
          q, spark.read.parquet(corpus), k = 5)))
      assert(spark.read.parquet(IvfIndex.cellsPath(corpus)).count() === 160L)
    } finally new graft.core.LakeStorage(
      spark.sparkContext.hadoopConfiguration).truncate(root)
  }

  // ── run-id namespacing: a fresh checkpoint must not clobber ─────

  test("ingestRunId: stable across the checkpoint's lifetime, fresh after a checkpoint reset") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-runid").toString
    try {
      val ckpt = s"$root/ckpt"
      val id1 = StreamingOps.ingestRunId(spark, ckpt)
      assert(id1.nonEmpty)
      assert(StreamingOps.ingestRunId(spark, ckpt) === id1,
        "same checkpoint must read the same run id back (replay contract)")
      // checkpoint reset: the id file dies with the checkpoint
      fsOf(ckpt).delete(new Path(ckpt), true)
      val id2 = StreamingOps.ingestRunId(spark, ckpt)
      assert(id2 !== id1,
        "a reset checkpoint restarts batch ids at 0 — it MUST get a new namespace")
    } finally new graft.core.LakeStorage(
      spark.sparkContext.hadoopConfiguration).truncate(root)
  }

  test("a NEW stream's batch 0 must not delete a previous run's batch-0 corpus files") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-runid-clobber").toString
    val corpus = s"$root/corpus"
    try {
      // run A lands its batch 0
      val batchA = graft.queries.Fixtures.tbl(spark, sf, "embeddings")
        .where(col("vec_id") < 50).localCheckpoint(true)
      StreamingOps.idempotentBatchAppend(spark, batchA, corpus,
        batchId = 0L, runId = "runa")
      val aFiles = SidecarMaintenance.dataFiles(spark, corpus)
      assert(spark.read.parquet(corpus).count() === 50L)
      // a NEW stream (fresh checkpoint → new run id) points at the
      // SAME corpus; Spark restarts its batch ids at 0. Before the
      // namespace fix, this delivery deleted runa's ingest-b0 files
      // and silently replaced 50 rows with 30.
      val batchB = graft.queries.Fixtures.tbl(spark, sf, "embeddings")
        .where(col("vec_id") >= 50 && col("vec_id") < 80)
        .localCheckpoint(true)
      StreamingOps.idempotentBatchAppend(spark, batchB, corpus,
        batchId = 0L, runId = "runb")
      val after = SidecarMaintenance.dataFiles(spark, corpus)
      assert(aFiles.forall(after.contains),
        "run A's files must survive run B's batch 0 — foreign namespaces are never touched")
      assert(spark.read.parquet(corpus).count() === 80L,
        "both runs' rows must coexist")
      // run B replaying ITS OWN batch 0 still converges (same names)
      StreamingOps.idempotentBatchAppend(spark, batchB.repartition(5), corpus,
        batchId = 0L, runId = "runb")
      assert(SidecarMaintenance.dataFiles(spark, corpus).toSet === after.toSet,
        "replay within one run must republish the same file set")
      assert(spark.read.parquet(corpus).count() === 80L)
    } finally new graft.core.LakeStorage(
      spark.sparkContext.hadoopConfiguration).truncate(root)
  }
}
