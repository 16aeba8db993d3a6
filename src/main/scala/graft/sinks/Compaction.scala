package graft.sinks

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.sinks.{FileStreamSink, FileStreamSinkLog, SinkFileStatus}

/** Small-file compaction for the WORK zone.
  *
  * [[graft.streaming.StreamingOps.streamIngestToWork]] commits one
  * parquet file per micro-batch — correct (the sink's
  * `_spark_metadata` log makes the commits atomic) but a file-count
  * death spiral on a long-running ingest: at 100 TB, millions of
  * KB-sized files turn every scan into a listing/open-cost problem
  * long before bytes matter. `compactWork` bin-packs the zone's data
  * files into `targetBytes`-sized outputs with the same atomic
  * write-new-then-swap discipline K2 uses ([[DirSwap]]), so a crash
  * at any point leaves the table recoverable and readers always see
  * a complete zone.
  *
  * Streaming-sink awareness (the part naive compactors get wrong):
  * when the zone carries a `_spark_metadata` FileStreamSink log, that
  * log — not the directory listing — is what readers trust, and a
  * paused ingest stream will RESUME appending batches to it. So the
  * staged zone gets a REWRITTEN log describing exactly the compacted
  * files, laid out so every consumer stays correct:
  *
  *  - the full compacted file list lands at the latest
  *    positionally-valid compaction batch id `C <= L` (L = the old
  *    log's latest batch id; Spark's `CompactibleFileStreamLog`
  *    derives compact-batch positions arithmetically from
  *    `compactInterval`, so the id cannot be chosen freely), or at
  *    batch 0 when L predates the first compaction boundary;
  *  - every other id in `0..L` gets an EMPTY delta, so log readers —
  *    which require every batch file in `(latest compact)..latest` to
  *    exist — reconstruct exactly the compacted file list;
  *  - a resumed sink continues at `L+1` (its skip-already-committed
  *    check compares against the log's latest id, which is unchanged),
  *    appending new files that readers see alongside the compacted
  *    ones. Exactly-once survives the compaction: the upstream
  *    file-source checkpoint never replays ingested landing files,
  *    and the rewritten sink log never loses committed rows.
  *
  * Orphan hygiene falls out for free: data files from micro-batches
  * that died mid-write sit in the directory but not in the log;
  * compaction reads THROUGH the log, so orphans are dropped from the
  * staged zone instead of resurrecting.
  *
  * Reprocessing note: compacted files carry fresh mtimes, so an
  * [[graft.operators.IncrementalPromote]] watermark taken before the
  * compaction reprocesses the zone once — wasted work bounded by one
  * promote, never wrong data (K2 upsert is idempotent). Compact
  * between ingest and promote (the natural order) and the question
  * doesn't arise.
  *
  * Layout contract: a flat (unpartitioned) zone, the layout every
  * streaming ingest here produces. Hive-partitioned zones compact per
  * partition directory.
  */
object Compaction {

  /** The compaction swap, sealed by its own marker: the parquet
    * `_SUCCESS` cannot seal here — the sink-log rewrite (or the
    * `_zdict` copy) happens after the data write, so a staging dir
    * can hold committed parquet and a half-written log. */
  private val Swap = DirSwap("__cstaging", "__cprev", "_GRAFT_COMPACTED")

  /** Heal an interrupted compaction swap of the zone at `workPath`.
    * Run on entry by [[compactWork]] and by the streaming ingest into
    * the zone, so an ingest never appends into a zone parked mid-swap
    * (it would start a fresh sink log there). */
  private[graft] def recover(fs: FileSystem, workPath: String): Unit =
    Swap.recover(fs, workPath)

  private def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

  /** Compact the zone at `workPath` into ~`targetBytes` files.
    * Returns the number of data files in the compacted zone.
    *
    * `zorderBy` non-empty additionally clusters rows along the
    * z-curve over those columns ([[ZOrder.cluster]]) — that variant
    * shuffles (one range exchange; the point of the rewrite), where
    * plain compaction never does. Same swap, same log rewrite, same
    * crash recovery either way.
    *
    * The ingest writer must be quiesced (between AvailableNow runs —
    * the reference's resync-then-promote rhythm); concurrent BATCH
    * readers are as safe as for every other swap here (the table is
    * complete before and after each rename). */
  def compactWork(
      spark: SparkSession,
      workPath: String,
      targetBytes: Long = 128L * 1024 * 1024,
      zorderBy: Seq[String] = Nil): Int = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val target = new Path(workPath)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(Swap.staging(workPath))
    recover(fs, workPath)
    require(fs.exists(target), s"no zone to compact at $workPath")
    require(!fs.listStatus(target).exists(st =>
      st.isDirectory && st.getPath.getName != FileStreamSink.metadataDir),
      s"$workPath is partitioned — compact each partition directory")

    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val hasLog = FileStreamSink.hasMetadata(
      Seq(workPath), hadoopConf, spark.sessionState.conf)
    // byte totals come from what readers actually see: the sink log
    // when present (excludes dead-batch orphans), the listing otherwise
    val totalBytes =
      if (hasLog) {
        val log = new FileStreamSinkLog(FileStreamSinkLog.VERSION, spark,
          new Path(target, FileStreamSink.metadataDir).toString)
        log.allFiles().map(_.size).sum
      } else dataFiles(fs, target).map(_.getLen).sum
    val numFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt

    // coalesce, not repartition: compaction must never shuffle the
    // zone. The scan itself does the bin-packing — maxPartitionBytes
    // is pinned to the target for this one read so splits track the
    // requested size (the session default tracks query parallelism,
    // not compaction granularity) — and coalesce caps the stragglers
    // (openCostInBytes makes tiny files over-count toward the bins).
    val mpbKey = "spark.sql.files.maxPartitionBytes"
    val mpbPrev = spark.conf.get(mpbKey)
    try {
      spark.conf.set(mpbKey, targetBytes.toString)
      val packed =
        if (zorderBy.isEmpty) spark.read.parquet(workPath).coalesce(numFiles)
        else ZOrder.cluster(spark.read.parquet(workPath), zorderBy, numFiles)
      packed.write.parquet(staging.toString)
    } finally spark.conf.set(mpbKey, mpbPrev)

    if (hasLog) rewriteSinkLog(spark, fs, target, staging)
    Swap.commit(fs, workPath)
    dataFiles(fs, target).size
  }

  /** Tier state of a [[graft.sources.ZstdCorpus]] zone after a
    * [[compactCorpusTier]] pass. */
  sealed trait CorpusTierState
  /** Still dictionary-compressed: files merged, frames untouched,
    * `_zdict` sidecar carried forward. */
  case object DictTier extends CorpusTierState
  /** Graduated to the parquet page codec (now or on a previous pass):
    * plaintext text column, zstd pages, no `_zdict` dependency. */
  case object PageTier extends CorpusTierState

  /** Corpus-tier compaction with AUTOMATIC GRADUATION — the
    * scheduling seam [[graft.sources.ZstdCorpus.graduate]]'s doc
    * promises: call this on the maintenance cadence and the zone
    * flips itself from dict frames to the page codec at the size
    * boundary where the dictionary loses.
    *
    * The measured economics (`ZstdCorpusSpec`, ScaleCheck
    * `zstd_dict`): dict frames win the micro-batch-file regime
    * (0.89–0.94× of page-codec bytes — small files give the page
    * codec no history), and LOSE once compacted (1.26–1.39× — a big
    * column chunk gives the page codec the whole corpus as history).
    * So while the zone's data is under `graduateAtBytes` it stays a
    * dict tier — files merge WITHOUT touching frames (per-row frames
    * survive file concatenation; no decompress/recompress, the
    * `_zdict` sidecar is carried into the staged zone) — and once it
    * crosses, the pass decompresses once and rewrites as a compacted
    * page-codec table: plain parquet any reader understands, no
    * sidecar. A zone with no `_zdict` is already graduated — the
    * pass is a no-op returning [[PageTier]], so the call is
    * idempotent on a cadence.
    *
    * Same staged write → sealed [[DirSwap]] and crash recovery as
    * [[compactWork]]. Flat (unpartitioned) zones
    * without a streaming sink log — the shape
    * [[graft.sources.ZstdCorpus.writeCompressed]] produces. */
  def compactCorpusTier(
      spark: SparkSession,
      dir: String,
      textCol: String = "text",
      graduateAtBytes: Long = 32L << 20,
      targetBytes: Long = 128L * 1024 * 1024,
      targetRowsPerFile: Long = 1L << 20): CorpusTierState = {
    require(graduateAtBytes >= 0, s"graduateAtBytes must be >= 0")
    require(targetBytes > 0 && targetRowsPerFile > 0,
      "targetBytes and targetRowsPerFile must be positive")
    val target = new Path(dir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(Swap.staging(dir))
    recover(fs, dir)
    require(fs.exists(target), s"no corpus zone at $dir")
    require(!fs.listStatus(target).exists(_.isDirectory),
      s"$dir is partitioned or stream-logged — compactCorpusTier " +
        "handles the flat zones ZstdCorpus.writeCompressed produces")
    val dictP = graft.sources.ZstdCorpus.dictPath(dir)
    if (!fs.exists(dictP)) return PageTier // already graduated

    val totalBytes = dataFiles(fs, target).map(_.getLen).sum
    val graduated = totalBytes >= graduateAtBytes
    if (!graduated) {
      // dict tier: merge small files, frames pass through opaque —
      // same no-shuffle coalesce bin-packing as compactWork, file
      // codec stays off (the frames are already high-entropy)
      val numFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
      spark.read.parquet(dir).coalesce(numFiles)
        .write.option("compression", "uncompressed").parquet(staging.toString)
      val dict = graft.sources.ZstdCorpus.readDictBytes(fs, dictP)
      val out = fs.create(graft.sources.ZstdCorpus.dictPath(staging.toString), true)
      try out.write(dict) finally out.close()
    } else {
      // graduation: ZstdCorpus.graduate owns the decompress-once →
      // compacted page-codec rewrite (one exchange, sized by rows);
      // staging it here adds only the swap discipline around it
      graft.sources.ZstdCorpus.graduate(
        spark, dir, staging.toString, textCol, targetRowsPerFile)
    }
    Swap.commit(fs, dir)
    if (graduated) PageTier else DictTier
  }

  /** Stage a `_spark_metadata` log listing exactly the staged data
    * files (addressed at their POST-swap paths), shaped as documented
    * on [[compactWork]]. */
  private def rewriteSinkLog(
      spark: SparkSession,
      fs: FileSystem,
      target: Path,
      staging: Path): Unit = {
    val oldLog = new FileStreamSinkLog(FileStreamSinkLog.VERSION, spark,
      new Path(target, FileStreamSink.metadataDir).toString)
    val latest = oldLog.getLatest().map(_._1).getOrElse(0L)
    val newLog = new FileStreamSinkLog(FileStreamSinkLog.VERSION, spark,
      new Path(staging, FileStreamSink.metadataDir).toString)
    val interval = spark.conf
      .get("spark.sql.streaming.fileSink.log.compactInterval", "10").toLong
    // entries carry the post-swap location: the staged file's name
    // under the table path, qualified like the old entries
    val entries = dataFiles(fs, staging).map { st =>
      SinkFileStatus(
        fs.makeQualified(new Path(target, st.getPath.getName)).toString,
        st.getLen, false, st.getModificationTime,
        st.getReplication.toInt, st.getBlockSize, FileStreamSinkLog.ADD_ACTION)
    }.toArray
    // latest positionally-valid compact id <= latest ((id+1) % interval
    // == 0), or batch 0 when the stream died before its first boundary
    val fullAt = ((latest + 1) / interval) * interval - 1 match {
      case c if c >= 0 => c
      case _ => 0L
    }
    (0L to latest).foreach { id =>
      val payload = if (id == fullAt) entries else Array.empty[SinkFileStatus]
      if (!newLog.add(id, payload))
        sys.error(s"compaction log rewrite failed at batch $id")
    }
  }
}
