package graft.sinks

import graft.functions.VectorFunctions
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
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
    * ([[SidecarMaintenance.publishDir]]). */
  def collect(
      spark: SparkSession,
      table: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      planes: Int = 4,
      seed: Long = 0L,
      writeSalt: Int = 1): Unit = {
    import spark.implicits._
    require(planes >= 1 && planes <= 12,
      s"bucket directories number 2^planes; planes=$planes")
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dest = bucketsPath(table)
    SidecarMaintenance.recoverPublish(spark, dest)
    val next = s"$dest.next"
    fs.delete(new Path(next), true)
    val rows = salted(signFiles(spark, table,
      BloomIndex.dataFilePaths(spark, table), idCol, vecCol, planes, seed),
      writeSalt)
    rows.write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(next)
    Seq((planes, seed)).toDF("planes", "seed").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$next/_meta")
    IvfIndex.requireOneRowPerVector(
      ParquetMemo.readDir(spark, next),
      onTrip = { fs.delete(new Path(next), true) })
    SidecarMaintenance.publishDir(spark, dest)
  }

  private[graft] def readMeta(spark: SparkSession, table: String): (Int, Long) = {
    // listing-signature memo: zero Spark jobs in the steady state
    // (the old head() shape paid a schema-inference job + a fetch job
    // on every refresh and every probe) — [[ParquetMemo.metaHead]]
    val r = ParquetMemo.metaHead(spark, metaPath(table))
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
      replacedPrefixes: Seq[String] = Nil): Unit = {
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    SidecarMaintenance.recoverPublish(spark, bucketsPath(table))
    Seq(metaPath(table), bucketsPath(table)).foreach(p =>
      require(fs.exists(new Path(p)),
        s"no LSH index at $p — bootstrap with collect()"))
    val (planes, seed) = readMeta(spark, table)
    val plan = appendedOnly match {
      case Some(c) => SidecarMaintenance.planAppend(spark, bucketsPath(table),
        c, replaced, replacedPrefixes)
      case None => SidecarMaintenance.planDelta(spark, bucketsPath(table),
        BloomIndex.dataFilePaths(spark, table).toSet)
    }
    val freshSigned =
      if (plan.fresh.isEmpty) None
      else {
        val hint = SidecarMaintenance.footerIdRange(spark, plan.fresh, idCol)
        val fa0 = signFiles(spark, table, plan.fresh, idCol, vecCol, planes, seed)
        val fa = if (hint.isDefined) fa0 else fa0.localCheckpoint(true)
        IvfIndex.guardFreshAgainstKept(spark, fa, bucketsPath(table), plan, hint)
        Some(fa)
      }
    SidecarMaintenance.applyDelta(spark, bucketsPath(table), plan,
      freshSigned, Seq("bucket"), salted(_, writeSalt),
      statsCol = Some("vec_id"))
  }

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
      writeSalt: Int = 1): Unit = {
    import spark.implicits._
    require(planes >= 1 && planes <= 12,
      s"bucket directories number 2^planes; planes=$planes")
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dest = refsPath(table)
    SidecarMaintenance.recoverPublish(spark, dest)
    val next = s"$dest.next"
    fs.delete(new Path(next), true)
    val rows = saltedRefs(signFiles(spark, table,
      BloomIndex.dataFilePaths(spark, table), idCol, vecCol, planes, seed)
      .drop("embedding"), writeSalt)
    rows.write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(next)
    Seq((planes, seed)).toDF("planes", "seed").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$next/_meta")
    IvfIndex.requireOneRowPerVector(
      ParquetMemo.readDir(spark, next),
      onTrip = { fs.delete(new Path(next), true) })
    SidecarMaintenance.publishDir(spark, dest)
  }

  private[graft] def readRefsMeta(
      spark: SparkSession, table: String): (Int, Long) = {
    val r = ParquetMemo.metaHead(spark, refsMetaPath(table))
    (r.getAs[Int]("planes"), r.getAs[Long]("seed"))
  }

  /** O(delta) maintenance of the refs sidecar — [[refresh]] on the
    * embedding-free rows. */
  def refreshRefs(
      spark: SparkSession,
      table: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      writeSalt: Int = 1): Unit = {
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    SidecarMaintenance.recoverPublish(spark, refsPath(table))
    Seq(refsMetaPath(table), refsPath(table)).foreach(p =>
      require(fs.exists(new Path(p)),
        s"no LSH refs index at $p — bootstrap with collectRefs()"))
    val (planes, seed) = readRefsMeta(spark, table)
    val plan = SidecarMaintenance.planDelta(spark, refsPath(table),
      BloomIndex.dataFilePaths(spark, table).toSet)
    val freshSigned =
      if (plan.fresh.isEmpty) None
      else {
        val hint = SidecarMaintenance.footerIdRange(spark, plan.fresh, idCol)
        val fa0 = signFiles(spark, table, plan.fresh, idCol, vecCol,
            planes, seed).drop("embedding")
        val fa = if (hint.isDefined) fa0 else fa0.localCheckpoint(true)
        IvfIndex.guardFreshAgainstKept(spark, fa, refsPath(table), plan, hint)
        Some(fa)
      }
    SidecarMaintenance.applyDelta(spark, refsPath(table), plan,
      freshSigned, Seq("bucket"), saltedRefs(_, writeSalt),
      statsCol = Some("vec_id"))
  }

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
    require(planes >= 1 && planes <= 12,
      s"bucket directories number 2^planes; planes=$planes")
    spark.read.parquet(table)
      .withColumn("__bucket",
        VectorFunctions.hyperplaneSignature(col(vecCol), planes, seed))
      .repartitionByRange((1 << planes) * filesPerBucket,
        col("__bucket"), col(idCol))
      .sortWithinPartitions(col("__bucket"), col(idCol))
      .drop("__bucket")
      .write.mode(SaveMode.Overwrite).parquet(dest)
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
    val (planes, seed) = readRefsMeta(spark, dest)
    // Reject duplicate-id batches BEFORE the (un-journaled,
    // nondeterministically-named) corpus append mutates dest — see
    // [[IvfIndex.clusterAppend]]'s pre-check for the rationale,
    // including the vanish-aware kept side (a purge-rewritten file's
    // ids legitimately reappear fresh).
    IvfIndex.requireNoVectorClash(
      batch.select(col(idCol).as("vec_id")),
      Some(IvfIndex.clusterAppendKeptRefs(spark, dest, refsPath(dest))))
    batch
      .withColumn("__bucket",
        VectorFunctions.hyperplaneSignature(col(vecCol), planes, seed))
      .repartitionByRange((1 << planes) * filesPerBucket,
        col("__bucket"), col(idCol))
      .sortWithinPartitions(col("__bucket"), col(idCol))
      .drop("__bucket")
      .write.mode(SaveMode.Append).parquet(dest)
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
    import spark.implicits._
    // ONE committed-snapshot resolution serves both refs reads below
    // ([[SidecarMaintenance.snapshotRead]]): the probe runs THROUGH a
    // live refresh's commit window on the pre-commit truth
    val refsSnap = SidecarMaintenance.snapshotRead(spark, refsPath(table))
    val (planes, seed) = readRefsMeta(spark, table)
    require(probeRadius >= 0 && probeRadius <= planes,
      s"probeRadius ($probeRadius) must be in [0, planes=$planes]")
    val masks = (0 until (1 << planes))
      .filter(m => java.lang.Integer.bitCount(m) <= probeRadius)
    val probes = expr(
      s"transform(array(${masks.mkString(",")}), m -> sig0 ^ CAST(m AS BIGINT))")
    // probe set collected ONCE (driver-bounded by contract: queries ×
    // Hamming ball) and re-joined as a LocalRelation — replaces the
    // localCheckpoint + distinct-collect + broadcast-build jobs
    val qPlan = queries
      .withColumn("sig0",
        VectorFunctions.hyperplaneSignature(col(vecCol), planes, seed))
      .withColumn("bucket", explode(probes))
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"), col("bucket"))
    val qRows = qPlan.collect()
    val q = spark.createDataFrame(
      java.util.Arrays.asList(qRows: _*), qPlan.schema)
    val probedBuckets = qRows.map(_.getLong(2).toInt).distinct
    val candidates = refsSnap
      .where(col("bucket").isin(probedBuckets: _*))
      .select(col("vec_id").as("neighbor_id"), col("bucket"))
      .join(broadcast(q), Seq("bucket"))
      .where(col("q_id") =!= col("neighbor_id"))
      .select("q_id", "q_vec", "neighbor_id")
    // file set from its own partition-pruned refs scan (keeps the
    // bucket PartitionFilters visible in the candidates plan).
    // Vanished corpus files a stale refs index still names are
    // reconciled EXCEPTION-DRIVEN
    // ([[SidecarMaintenance.readCandidateFiles]]): zero extra
    // metadata RPCs in the steady state, one batched corpus listing
    // + retry only when a path actually vanished. Dropped files'
    // candidates score absent, exactly as the full-table read served
    // them.
    val candFiles = refsSnap
      .where(col("bucket").isin(probedBuckets: _*))
      .select("file").distinct().as[String]
      .collect().toSeq.sorted
    val corpusRead =
      SidecarMaintenance.readCandidateFiles(spark, table, candFiles)
    if (corpusRead.isEmpty)
      // same schema as the non-empty path, zero rows
      return q.select(col("q_id"), col("q_id").as("neighbor_id"))
        .withColumn("rank", lit(0L)).limit(0)
    val corpus = corpusRead.get
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val scored = candidates.join(corpus, Seq("neighbor_id"))
      .withColumn("cos", VectorFunctions.cosine(col("q_vec"), col("c_vec")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored
      .select(col("q_id"), col("neighbor_id"), col("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("q_id"), col("neighbor_id"), col("rank"))
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
    val (planes, seed) = readMeta(spark, table)
    require(probeRadius >= 0 && probeRadius <= planes,
      s"probeRadius ($probeRadius) must be in [0, planes=$planes]")
    val masks = (0 until (1 << planes))
      .filter(m => java.lang.Integer.bitCount(m) <= probeRadius)
    val probes = expr(
      s"transform(array(${masks.mkString(",")}), m -> sig0 ^ CAST(m AS BIGINT))")
    // probe set collected ONCE and re-joined as a LocalRelation —
    // replaces the localCheckpoint + distinct-collect +
    // broadcast-build jobs (see [[topKRefs]])
    val qPlan = queries
      .withColumn("sig0",
        VectorFunctions.hyperplaneSignature(col(vecCol), planes, seed))
      .withColumn("bucket", explode(probes))
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"), col("bucket"))
    val qRows = qPlan.collect()
    val q = spark.createDataFrame(
      java.util.Arrays.asList(qRows: _*), qPlan.schema)
    // partition-column type inference reads `bucket=N` directories
    // back as INTEGER; the probe literals must match that type or the
    // implicit cast wraps the partition column and kills the pruning
    val probedBuckets = qRows.map(_.getLong(2).toInt).distinct
    val scored = bucketsSnap
      .where(col("bucket").isin(probedBuckets: _*))
      .select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_vec"), col("bucket"))
      .join(broadcast(q), Seq("bucket"))
      .where(col("q_id") =!= col("neighbor_id"))
      .withColumn("cos", VectorFunctions.cosine(col("q_vec"), col("c_vec")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored
      .select(col("q_id"), col("neighbor_id"), col("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("q_id"), col("neighbor_id"), col("rank"))
  }
}
