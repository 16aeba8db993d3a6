package graft.sinks

import graft.core.Jobs
import graft.functions.VectorFunctions
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED hyperplane-LSH ANN index — the third member of the
  * persisted ANN family ([[IvfIndex]] data-adaptive cells,
  * [[PqIndex]] compressed codes, this one TRAINING-FREE buckets):
  *
  *  - `_lsh_buckets`: (file, vec_id, embedding, bucket),
  *    DIRECTORY-PARTITIONED BY BUCKET (2^planes directories) — a
  *    probe pushes its bucket set as a static partition filter and
  *    reads only the probed directories.
  *  - `_lsh_buckets/_meta`: one row (planes, seed) — the whole
  *    "model". The hyperplanes derive deterministically from
  *    (planes, seed) inside the codegen'd signature expression, so
  *    refresh carries NO learned state at all: any machine can
  *    extend the index from the metadata row alone. Stored INSIDE
  *    the buckets dir (underscore-prefixed, invisible to bucket
  *    reads) so [[collect]]'s journaled publish moves model and
  *    buckets together — no crash point can pair a new (planes,
  *    seed) with old signatures.
  *
  * [[refresh]] is file-set arithmetic at O(delta) write I/O
  * ([[SidecarMaintenance.commitDelta]]): new corpus files' vectors
  * get their signature in one codegen'd pass and APPEND as fresh
  * sidecar files inside the bucket directories; vanished corpus
  * files' rows drop by rewriting only the sidecar files that carried
  * them — the untouched remainder is never rewritten. The
  * one-row-per-vector guard runs BEFORE any mutation; [[compact]]
  * repacks refresh-accumulated small files.
  *
  * Exactness contract matches [[graft.ext.SimilaritySearch.lshTopK]]:
  * `probeRadius = planes` probes every bucket of the partition, so
  * top-k is exact brute force evaluated through the LSH machinery —
  * the declared queries grade build and refresh at that setting;
  * partial-radius recall is the approximate regime. */
object LshIndex {

  private[graft] def bucketsPath(table: String): String = s"$table/_lsh_buckets"
  private[graft] def metaPath(table: String): String =
    s"${bucketsPath(table)}/_meta"

  /** Spread the `bucket=` partition-dir write across `writeSalt`
    * tasks per bucket ([[SidecarMaintenance.saltedByPartition]]). */
  private def salted(rows: DataFrame, writeSalt: Int): DataFrame =
    SidecarMaintenance.saltedByPartition(rows, "bucket",
      Seq("file", "vec_id", "embedding", "bucket"), writeSalt)

  /** Bootstrap / rebuild: one signature pass; buckets and the
    * (planes, seed) row are built under `_lsh_buckets.next` and
    * published by the crash-recoverable [[DirSwap]]
    * ([[SidecarMaintenance.rebuild]]). */
  def collect(
      spark: SparkSession,
      table: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      planes: Int = 4,
      seed: Long = 0L,
      writeSalt: Int = 1): Unit =
    build(spark, table, bucketsPath(table), idCol, vecCol, planes, seed)(
      salted(_, writeSalt))

  /** The (whole-corpus) rebuild of a buckets or refs sidecar at
    * `dest`: one signature pass, `shape`d, and the (planes, seed)
    * row. */
  private def build(
      spark: SparkSession, table: String, dest: String,
      idCol: String, vecCol: String, planes: Int, seed: Long)(
      shape: DataFrame => DataFrame): Unit = {
    import spark.implicits._
    requirePlanes(planes)
    SidecarMaintenance.rebuild(spark, dest) { next =>
      IvfIndex.fillVectors(spark, next, shape(signFiles(spark, table,
        BloomIndex.dataFilePaths(spark, table), idCol, vecCol, planes, seed)),
        Seq("bucket"), "_meta", Seq((planes, seed)).toDF("planes", "seed"))
    }
  }

  private def requirePlanes(planes: Int): Unit =
    require(planes >= 1 && planes <= 12,
      s"bucket directories number 2^planes; planes=$planes")

  private[graft] def readMeta(spark: SparkSession, table: String): (Int, Long) =
    modelAt(spark, metaPath(table))

  /** The (planes, seed) row at `dir` — listing-signature memo, zero
    * Spark jobs in the steady state (the old head() shape paid a
    * schema-inference job + a fetch job on every refresh and every
    * probe) — [[ParquetMemo.metaHead]]. */
  private def modelAt(spark: SparkSession, dir: String): (Int, Long) = {
    val r = ParquetMemo.metaHead(spark, dir)
    (r.getAs[Int]("planes"), r.getAs[Long]("seed"))
  }

  /** Incremental maintenance — pure file-set arithmetic at O(delta)
    * write I/O; the "model" is the (planes, seed) metadata row.
    * `appendedOnly` as in [[IvfIndex.refresh]]: plan from exactly
    * those candidates, no corpus listing, no vanish detection. */
  def refresh(
      spark: SparkSession,
      table: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      writeSalt: Int = 1,
      appendedOnly: Option[Set[String]] = None,
      replaced: Set[String] = Set.empty,
      replacedPrefixes: Seq[String] = Nil): Unit =
    SidecarMaintenance.refreshDelta(spark, table, bucketsPath(table),
      Seq(metaPath(table), bucketsPath(table)), "LSH index", "collect()",
      idCol, "vec_id", Seq("bucket"), salted(_, writeSalt),
      appendedOnly, replaced, replacedPrefixes)({
      val (planes, seed) = readMeta(spark, table)
      signFiles(spark, table, _, idCol, vecCol, planes, seed)
    })(IvfIndex.vectorGuard(spark, bucketsPath(table)))

  /** Repack the WHOLE buckets sidecar — explicit offline op; the
    * streaming-cadence amortizer is [[compactSmall]]. */
  def compact(spark: SparkSession, table: String, writeSalt: Int = 1): Unit =
    SidecarMaintenance.compact(spark, bucketsPath(table), Seq("bucket"),
      statsCol = Some("vec_id"))(salted(_, writeSalt))

  /** Size-tiered repack of SMALL bucket files only — O(accumulated
    * deltas), never O(sidecar); the buckets sidecar carries full
    * embeddings, so the distinction is corpus-sized. Merge always
    * UNSALTED (one file per bucket) — a salted merge re-splits the
    * tier below its own size class and churns forever; see
    * [[IvfIndex.compactSmall]]. */
  def compactSmall(
      spark: SparkSession,
      table: String,
      smallBytes: Long = 32L << 20): Unit =
    SidecarMaintenance.compactSmall(
      spark, bucketsPath(table), Seq("bucket"), smallBytes,
      statsCol = Some("vec_id"))(salted(_, 1))

  private def signFiles(
      spark: SparkSession,
      table: String,
      paths: Seq[String],
      idCol: String,
      vecCol: String,
      planes: Int,
      seed: Long): DataFrame =
    ParquetMemo.readFiles(spark, table, paths)
      .select(col("_metadata.file_path").as("file"),
        col(idCol).as("vec_id"), col(vecCol).as("embedding"),
        VectorFunctions.hyperplaneSignature(col(vecCol), planes, seed)
          .as("bucket"))

  // ── embedding-free REFS variant ─────────────────────────────────
  // `_lsh_buckets` duplicates every embedding into the bucket layout
  // — 2× corpus storage. The `_lsh_refs` sidecar stores only
  // (file, vec_id, bucket): index storage shrinks to id+bucket scale
  // (a few % of corpus), at the cost of one column-pruned corpus
  // join per probe to re-read the candidate vectors. Same partition
  // layout, same (planes, seed) model, same O(delta) maintenance
  // through the shared delta-commit; pick per deployment — buckets
  // when probes dominate, refs when storage does.

  private[graft] def refsPath(table: String): String = s"$table/_lsh_refs"
  private[graft] def refsMetaPath(table: String): String =
    s"${refsPath(table)}/_meta"

  private def saltedRefs(rows: DataFrame, writeSalt: Int): DataFrame =
    SidecarMaintenance.saltedByPartition(rows, "bucket",
      Seq("file", "vec_id", "bucket"), writeSalt)

  /** Bootstrap / rebuild of the refs sidecar — [[collect]] minus the
    * embedding column, same journaled publish. */
  def collectRefs(
      spark: SparkSession,
      table: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      planes: Int = 4,
      seed: Long = 0L,
      writeSalt: Int = 1): Unit =
    build(spark, table, refsPath(table), idCol, vecCol, planes, seed)(
      rows => saltedRefs(rows.drop("embedding"), writeSalt))

  /** O(delta) maintenance of the refs sidecar — [[refresh]] on the
    * embedding-free rows. */
  def refreshRefs(
      spark: SparkSession,
      table: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      writeSalt: Int = 1): Unit =
    SidecarMaintenance.refreshDelta(spark, table, refsPath(table),
      Seq(refsMetaPath(table), refsPath(table)), "LSH refs index",
      "collectRefs()", idCol, "vec_id", Seq("bucket"), saltedRefs(_, writeSalt))({
      val (planes, seed) = modelAt(spark, refsMetaPath(table))
      signFiles(spark, table, _, idCol, vecCol, planes, seed).drop("embedding")
    })(IvfIndex.vectorGuard(spark, refsPath(table)))

  /** Size-tiered amortizer for the refs sidecar (unsalted merge —
    * see [[compactSmall]]). */
  def compactSmallRefs(
      spark: SparkSession,
      table: String,
      smallBytes: Long = 32L << 20): Unit =
    SidecarMaintenance.compactSmall(
      spark, refsPath(table), Seq("bucket"), smallBytes,
      statsCol = Some("vec_id"))(saltedRefs(_, 1))

  /** Materialize a BUCKET-CLUSTERED copy of the vector table at
    * `dest` — [[IvfIndex.clusterCorpus]]'s shape for the
    * training-free index: [[topKRefs]]' re-rank reads the candidate
    * FILES of the probed buckets, and on a randomly-laid-out corpus
    * every file hosts every bucket, so a partial-radius probe prunes
    * columns but still opens every file. Clustering writes each
    * bucket's vectors into contiguous files (one codegen'd signature
    * pass + one range exchange on (bucket, id); every column
    * survives verbatim), so a probe of b-of-2^planes buckets reads
    * ≈ that fraction of the corpus in FILES too. Simpler than the
    * IVF form: the bucket is a PURE FUNCTION of (planes, seed), so
    * [[collectRefs]] on the clustered copy recomputes the identical
    * signatures — refs buckets and file layout share one geometry by
    * construction, with no quantizer to thread through.
    * `filesPerBucket` sizes output files (pick ≈ corpusBytes /
    * (2^planes × 128 MB) in production). An explicit materialization
    * to a NEW directory — no in-place swap, the source table is
    * never touched. */
  def clusterCorpus(
      spark: SparkSession,
      table: String,
      dest: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      planes: Int = 4,
      seed: Long = 0L,
      filesPerBucket: Int = 1): Unit = {
    require(filesPerBucket >= 1,
      s"filesPerBucket ($filesPerBucket) must be >= 1")
    requirePlanes(planes)
    IvfIndex.writeClustered(spark.read.parquet(table)
      .withColumn("__bucket",
        VectorFunctions.hyperplaneSignature(col(vecCol), planes, seed)),
      "__bucket", idCol, (1 << planes) * filesPerBucket, dest, SaveMode.Overwrite)
    collectRefs(spark, dest, idCol, vecCol, planes, seed)
  }

  /** Append a batch to a [[clusterCorpus]]-materialized copy WITHOUT
    * degrading its bucket-clustered layout ([[IvfIndex.clusterAppend]]'s
    * shape for the training-free index): the batch's buckets come
    * from the SAME (planes, seed) pure function recorded in the refs
    * meta, rows range-exchange on (bucket, id) into bucket-contiguous
    * files, land as an append, and the refs sidecar refreshes
    * O(delta). Each appended batch adds at most 2^planes − 1 extra
    * (file, bucket) incidences, so partial-radius probes keep
    * reading ≈ the probed fraction of every batch generation in
    * FILES. */
  def clusterAppend(
      spark: SparkSession,
      dest: String,
      batch: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      filesPerBucket: Int = 1): Unit = {
    require(filesPerBucket >= 1,
      s"filesPerBucket ($filesPerBucket) must be >= 1")
    val (planes, seed) = modelAt(spark, refsMetaPath(dest))
    // Reject duplicate-id batches BEFORE the (un-journaled,
    // nondeterministically-named) corpus append mutates dest — see
    // [[IvfIndex.clusterAppend]]'s pre-check for the rationale,
    // including the vanish-aware kept side (a purge-rewritten file's
    // ids legitimately reappear fresh).
    IvfIndex.requireNewIds(spark, dest, refsPath(dest), batch, idCol)
    IvfIndex.writeClustered(batch
      .withColumn("__bucket",
        VectorFunctions.hyperplaneSignature(col(vecCol), planes, seed)),
      "__bucket", idCol, (1 << planes) * filesPerBucket, dest, SaveMode.Append)
    refreshRefs(spark, dest, idCol, vecCol)
  }

  /** Multi-probe search off the REFS sidecar: the probed bucket set
    * pushes as a static partition filter exactly as in [[topK]], but
    * the probe yields candidate IDS only — their vectors come from
    * ONE column-pruned corpus pass joined on vec_id. The refs rows
    * carry their corpus `file`, so that pass reads ONLY the
    * candidate files (vec_id + embedding of a file subset reach the
    * parquet scan, nothing else). That join is the storage-for-I/O
    * trade: candidates are the probed buckets' rows, a corpus
    * FRACTION at partial radius in both files and columns, so the
    * re-rank reads scale with the probe, not the corpus. */
  def topKRefs(
      spark: SparkSession,
      table: String,
      queries: DataFrame,
      k: Int,
      probeRadius: Int = 1,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // ONE committed-snapshot resolution serves both refs reads
    // ([[SidecarMaintenance.snapshotRead]]): the probe runs THROUGH a
    // live refresh's commit window on the pre-commit truth
    val refsSnap = SidecarMaintenance.snapshotRead(spark, refsPath(table))
    val probes = Jobs.described(spark, s"ann: lsh refs queries $table")(probeSet(
      queries, modelAt(spark, refsMetaPath(table)), probeRadius, idCol, vecCol))
    IvfIndex.probeTopK(spark, table, refsSnap, "bucket", probes, k, "lsh", refs = true,
      idCol, vecCol)
  }

  /** Multi-probe search off the persisted buckets: each query probes
    * every bucket within Hamming radius `probeRadius` of its home
    * signature; the probed bucket set (bounded by queries × the
    * Hamming-ball size) pushes as a STATIC partition filter. */
  def topK(
      spark: SparkSession,
      table: String,
      queries: DataFrame,
      k: Int,
      probeRadius: Int = 1,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // committed-snapshot read: serves through a live commit window
    // ([[SidecarMaintenance.snapshotRead]])
    val bucketsSnap = SidecarMaintenance.snapshotRead(spark, bucketsPath(table))
    val probes = Jobs.described(spark, s"ann: lsh queries $table")(probeSet(
      queries, readMeta(spark, table), probeRadius, idCol, vecCol))
    IvfIndex.probeTopK(spark, table, bucketsSnap, "bucket", probes, k, "lsh", refs = false,
      idCol, vecCol)
  }

  /** The probe set of a query batch: every query (q_id, q_vec) with
    * each bucket within Hamming radius `probeRadius` of its home
    * signature under `model` (planes, seed). Collected ONCE
    * (driver-bounded by contract: queries × Hamming ball). The
    * buckets are INTEGER, the type partition inference reads
    * `bucket=N` directories back as: a long literal would wrap the
    * partition column in a cast and kill the pruning. */
  private def probeSet(
      queries: DataFrame,
      model: (Int, Long),
      probeRadius: Int,
      idCol: String,
      vecCol: String): IvfIndex.Probes = {
    val (planes, seed) = model
    require(probeRadius >= 0 && probeRadius <= planes,
      s"probeRadius ($probeRadius) must be in [0, planes=$planes]")
    val masks = (0 until (1 << planes))
      .filter(m => java.lang.Integer.bitCount(m) <= probeRadius)
    val probes = expr(
      s"transform(array(${masks.mkString(",")}), m -> sig0 ^ CAST(m AS BIGINT))")
    val qPlan = queries
      .withColumn("sig0",
        VectorFunctions.hyperplaneSignature(col(vecCol), planes, seed))
      .withColumn("bucket", explode(probes))
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
        col("bucket").cast("int").as("bucket"))
    IvfIndex.Probes(qPlan.schema, qPlan.collect())
  }
}
