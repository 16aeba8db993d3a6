package graft.sinks

import graft.core.LakeStorage
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.ListedParquet

/** K1 — parquet append to WORK (reference
  * `shared_etls/etls/cloud_utils.py:438-475`). Plain append-mode
  * parquet write; failures surface (the reference wraps in
  * try/raise ValueError — we let the Spark exception propagate).
  */
object ParquetAppend {
  def write(df: DataFrame, workPath: String): Unit =
    df.write.mode(SaveMode.Append).parquet(workPath)

  /** Hive-style partitioned append (SURVEY.md §4: optional WORK
    * layout) — downstream reads that filter on the partition columns
    * (the promote incremental path, the P5 recovery probe) then
    * prune directories instead of scanning the zone. */
  def writePartitioned(df: DataFrame, workPath: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Append).partitionBy(partitionCols: _*).parquet(workPath)
}

/** K2 — MERGE into TRUSTED (reference `cloud_utils.py:478-532`):
  * Delta-style `lake.sk = df.sk` upsert —
  * `.whenMatchedUpdateAll().whenNotMatchedInsertAll()`.
  *
  * No Delta jar ships in this environment, so the merge is realized
  * as `trusted ANTI-JOIN updates ON sk  UNION ALL  updates`, written
  * atomically (write-new-then-swap): matched rows are fully replaced
  * by the update row, unmatched trusted rows survive, new rows
  * insert. Precondition (guaranteed by T4 upstream): `updates` has
  * unique sk.
  *
  * Scale posture (100 TB): the only shuffle is the anti-join on sk.
  * By default no join hint is given — AQE picks a broadcast anti-join
  * at runtime when the update batch is small (the common incremental
  * case: shuffle-free map-side filter over the trusted scan) and a
  * shuffled hash join when it isn't (a full-resync promote where
  * `updates` IS the dataset — force-broadcasting that would OOM the
  * cluster). Set `broadcastUpdates = true` only when the caller
  * KNOWS the batch is small and wants to skip AQE's first shuffle.
  *
  * The whole-table rewrite scans the stored table and writes the
  * result in the same tasks, so it can run on no more cores than the
  * stored files split into. A row group is the smallest unit a scan
  * splits at, so a one-file, one-row-group table is read by ONE task,
  * and that task writes it back as one file: every later merge stays
  * on one core. So over a stored table the rewrite caps each output
  * file at about one core's split of it: stored bytes / the
  * parallelism `maxSplitBytes` divides by (`files.minPartitionNum`,
  * else the leaf-node default parallelism), clamped to Spark's own
  * `[openCostInBytes, maxPartitionBytes]` and converted to rows with
  * the largest stored file's footer row count. The cap is derived
  * from the table on every rewrite, not set as a writer option (a
  * smaller `parquet.block.size` would also split the scan, but for
  * every write of the session). That adds no shuffle and no setting: a first merge over a
  * one-file table still runs in one task but leaves at least as many
  * files as cores, and every later merge scans and writes on all of
  * them. A table below `openCostInBytes` stays one file; at scale the
  * cap is Spark's 128 MB split. The bootstrap write, the z-order path
  * (`zorderFiles` sets its file count) and the per-partition writers
  * are not capped.
  */
object MergeUpsert {

  /** Pure merge semantics on DataFrames (oracle-testable). */
  def merged(
      trusted: DataFrame,
      updates: DataFrame,
      key: String = "sk",
      broadcastUpdates: Boolean = false): DataFrame = {
    val upd = if (broadcastUpdates) broadcast(updates) else updates
    inOrderOf(trusted, trusted.join(upd.select(col(key)), Seq(key), "left_anti"))
      .unionByName(updates)
  }

  /** `df`'s columns in `stored`'s order: a `USING` join moves its key
    * to the front, and a merge must store the table's columns where
    * the bootstrap write put them. */
  private def inOrderOf(stored: DataFrame, df: DataFrame): DataFrame =
    df.select(stored.columns.toIndexedSeq.map(c => col(s"`${c.replace("`", "``")}`")): _*)

  /** Schema-evolution merge: like [[merged]], but the sides may
    * disagree on columns. The output schema is the union — trusted's
    * columns in their order, then updates-only columns appended in
    * update order — with the missing side filled by typed NULLs:
    * rows not in this batch get NULL for a newly-added column, and a
    * batch that predates a column upserts NULL into it. Columns
    * EVOLVE by addition only: a column present on both sides must
    * have the identical type — silent coercion on a 100 TB table is
    * how upstream type drift corrupts years of data, so type change
    * is a loud error, never a cast.
    *
    * The widening is a projection on each side (zero extra shuffles
    * — the plan under it is exactly [[merged]]'s anti-join). */
  def mergedEvolved(
      trusted: DataFrame,
      updates: DataFrame,
      key: String = "sk",
      broadcastUpdates: Boolean = false): DataFrame = {
    require(trusted.columns.contains(key) && updates.columns.contains(key),
      s"merge key $key must exist on both sides")
    trusted.schema.filter(f => updates.columns.contains(f.name)).foreach { f =>
      val u = updates.schema(f.name).dataType
      require(u == f.dataType,
        s"column ${f.name}: trusted ${f.dataType.simpleString} vs updates " +
          s"${u.simpleString} — schema evolution adds columns, never changes types")
    }
    val added = updates.schema.filterNot(f => trusted.columns.contains(f.name))
    val widenedTrusted = added.foldLeft(trusted)((df, f) =>
      df.withColumn(f.name, lit(null).cast(f.dataType)))
    val missing = trusted.schema.filterNot(f => updates.columns.contains(f.name))
    val widenedUpdates = missing.foldLeft(updates)((df, f) =>
        df.withColumn(f.name, lit(null).cast(f.dataType)))
      .select(widenedTrusted.columns.toIndexedSeq.map(col): _*)
    merged(widenedTrusted, widenedUpdates, key, broadcastUpdates)
  }

  /** Partition-aware K2 for a hive-partitioned TRUSTED table: only
    * the partitions an update batch actually touches are read,
    * merged, and replaced — the rest of the table is never scanned or
    * rewritten. This is the difference between an O(batch) and an
    * O(table) merge at 100 TB: a daily upsert touching 3 of 3000
    * date-partitions does 0.1% of the full-rewrite work.
    *
    * Protocol: compute the merged rows for the affected partitions
    * into the table's delta staging (`<part>=v/…` inside it), then
    * replace every file listed under those partitions with the
    * staged ones as ONE [[FileDelta]] commit — the same commit
    * [[Purge]] makes. Unaffected partition directories are untouched
    * (their files keep their identity).
    *
    * Precondition: rows never move between partitions on update
    * (the partition column is part of the row identity) — same
    * assumption hive-style partitioned upserts make everywhere.
    */
  def mergeIntoPartitioned(
      spark: SparkSession,
      trustedPath: String,
      updates: DataFrame,
      key: String = "sk",
      partitionCol: String = "part",
      zorderBy: Seq[String] = Nil,
      zorderFiles: Int = 0): Unit = {
    val storage = LakeStorage(spark)
    val fs = new Path(trustedPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverTrusted(fs, trustedPath)

    if (!storage.exists(trustedPath)) {
      clusteredForPartitions(updates, partitionCol, zorderBy, zorderFiles)
        .write.partitionBy(partitionCol).parquet(trustedPath)
      return
    }

    val affected = updates.select(col(partitionCol)).distinct()
      .collect().map(_.get(0)).toSeq
    require(!affected.contains(null),
      s"null $partitionCol in update batch: partitioned merge requires non-null partition values")
    if (affected.isEmpty) return

    val trustedAffected = spark.read.parquet(trustedPath)
      .where(col(partitionCol).isin(affected: _*)) // partition pruning
    val mergedRows = merged(trustedAffected, updates, key)
    commitPartitions(fs, trustedPath, trustedAffected, mergedRows, affected,
      partitionCol, zorderBy, zorderFiles)
  }

  /** Delete-aware partition-bound apply: [[appliedChanges]] scoped to
    * only the partitions the change batch touches — the composition
    * of the CDC apply with the O(batch)-not-O(table) discipline of
    * [[mergeIntoPartitioned]]. At 100 TB this is the operator a
    * change-log consumer actually runs: a daily log touching 3 of
    * 3000 date-partitions reads, rewrites, and replaces 0.1% of the
    * table; deletes land because the anti-join removes every touched
    * key before surviving upserts union back in.
    *
    * Preconditions: change payload carries `partitionCol`, rows never
    * move between partitions (a 'D' must carry the partition the key
    * lives in — it addresses the row), and the payload schema matches
    * the table. Bootstrapping applies the log to an empty side, so
    * winning deletes simply don't land. */
  def applyChangesIntoPartitioned(
      spark: SparkSession,
      trustedPath: String,
      changes: DataFrame,
      key: String = "sk",
      seqCols: Seq[String] = Seq("seq"),
      opCol: String = "op",
      partitionCol: String = "part"): Unit = {
    val storage = LakeStorage(spark)
    val fs = new Path(trustedPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverTrusted(fs, trustedPath)

    if (!storage.exists(trustedPath)) {
      val payload = changes.drop((opCol +: seqCols): _*)
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], payload.schema)
      appliedChanges(empty, changes, key, seqCols, opCol)
        .write.partitionBy(partitionCol).parquet(trustedPath)
      return
    }

    val affected = changes.select(col(partitionCol)).distinct()
      .collect().map(_.get(0)).toSeq
    require(!affected.contains(null),
      s"null $partitionCol in change batch: partitioned apply requires non-null partition values")
    if (affected.isEmpty) return

    val trustedAffected = spark.read.parquet(trustedPath)
      .where(col(partitionCol).isin(affected: _*)) // partition pruning
    val applied = appliedChanges(trustedAffected, changes, key, seqCols, opCol)
    commitPartitions(fs, trustedPath, trustedAffected, applied, affected,
      partitionCol, Nil, 0)
  }

  private def clusteredForPartitions(
      rows: DataFrame,
      partitionCol: String,
      zorderBy: Seq[String],
      zorderFiles: Int): DataFrame =
    if (zorderBy.isEmpty) rows
    else {
      val n =
        if (zorderFiles > 0) zorderFiles
        else rows.sparkSession.sessionState.conf.numShufflePartitions
      ZOrder.clusterPartitioned(rows, partitionCol, zorderBy, n)
    }

  /** Shared tail of the partition-scoped writers: stage the computed
    * rows hive-partitioned (optionally z-clustered within each
    * partition) in the table's delta staging, then commit them in
    * place of every data file `read` listed under the affected
    * partitions. A partition the batch emptied keeps no file, so
    * readers see it absent. */
  private def commitPartitions(
      fs: org.apache.hadoop.fs.FileSystem,
      trustedPath: String,
      read: DataFrame,
      rows: DataFrame,
      affected: Seq[Any],
      partitionCol: String,
      zorderBy: Seq[String],
      zorderFiles: Int): Unit = {
    // Hive-escapes the value exactly as the parquet writer did —
    // spaces/colons/slashes in partition values map to %xx on disk.
    val dirs = affected.map(v => org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .getPartitionPathString(partitionCol, v.toString)).toSet
    val doomed = ListedParquet.dataFiles(read)
      .map(_.getPath).filter(p => dirs(p.getParent.getName)).map(_.toString)
    clusteredForPartitions(rows, partitionCol, zorderBy, zorderFiles)
      .write.partitionBy(partitionCol).parquet(Delta.staging(trustedPath).toString)
    Delta.commit(fs, trustedPath, doomed)
  }

  /** Entry recovery for every writer of a TRUSTED table, and for
    * [[Purge.purge]]: heal an interrupted whole-table swap first (it
    * may have parked the table aside), then any file-level commit
    * inside the table. Four existence checks when nothing needs
    * healing. */
  private[sinks] def recoverTrusted(
      fs: org.apache.hadoop.fs.FileSystem, trustedPath: String): Unit = {
    Swap.recover(fs, trustedPath)
    Delta.recover(fs, trustedPath)
  }

  /** Suffix infix for retained pre-merge snapshots:
    * `<trusted>__prev_<epochMillis>`. Like `__staging`/`__prev`, these
    * are SIBLINGS of the table directory, never inside it. */
  val PrevSnapshotInfix = "__prev_"

  /** The K2 swap layout: `<trusted>__staging` sealed by the parquet
    * write's own `_SUCCESS`, the live table aside at `<trusted>__prev`
    * during the swap. */
  private val Swap = DirSwap("__staging", "__prev", "_SUCCESS")

  /** The file-level commit inside a TRUSTED table: the per-partition
    * writers and [[Purge]] replace files of the table through it,
    * under Purge's names. */
  private[sinks] val Delta = FileDelta(".purge-staging", "_purge_journal", "_GRAFT_PURGE_COMMIT")

  private def newSnapshot(trustedPath: String): String =
    trustedPath + PrevSnapshotInfix + System.currentTimeMillis()

  /** Full K2: read trusted (if present), merge, write-new-then-swap.
    *
    * Atomicity protocol (SURVEY.md §7.5 #3): write the merged result
    * to `<trusted>__staging` and publish it with [[DirSwap]], the old
    * data preserved at `<trusted>__prev` until the swap completes.
    * Every call starts with the swap's recovery, which finishes or
    * rolls back an interrupted swap — so a crash at any rename
    * boundary leaves the table recoverable and the NEXT merge sees a
    * complete table, never an empty target that would make it
    * mistake the update batch for the whole dataset.
    *
    * Retention (reference `cloud_utils.py:523`,
    * `delta_retention_hours=72`): with `retainPrevHours` set, the
    * pre-merge table survives the swap as a timestamped
    * `<trusted>__prev_<millis>` snapshot instead of being deleted —
    * a rollback window after a bad merge ([[rollbackToPrev]]).
    * Snapshots older than the window are GC'd at the start of the
    * next retained merge. A crash between the promote and the
    * snapshot rename loses only that one snapshot (recovery deletes
    * a stale `__prev` once the target exists) — never table data.
    *
    * `evolveSchema=true` routes through [[mergedEvolved]]: an update
    * batch may carry new columns (table widens, absent rows NULL) or
    * miss recent ones (NULL upserted) — type changes still reject.
    *
    * `zorderBy` clusters the merged table along the z-curve over the
    * given columns INSIDE the staging write the merge already pays
    * for — one extra range exchange + sort on the z-value, never a
    * second full rewrite (running [[Compaction.compactWork]] after
    * the swap would read and write the table twice). The swap
    * protocol is unchanged, so the maintained layout is exactly as
    * crash-recoverable as the unclustered one. At 100 TB this is how
    * TRUSTED stays queryable as it grows: every merge re-tightens
    * the parquet footer ranges on the query columns, and point/range
    * predicates on ANY clustered column keep skipping most files
    * ([[ZOrder]] doc for the stats math). `zorderFiles` caps the
    * output file count; 0 derives it from the session's shuffle
    * parallelism.
    */
  def mergeInto(
      spark: SparkSession,
      trustedPath: String,
      updates: DataFrame,
      key: String = "sk",
      broadcastUpdates: Boolean = false,
      retainPrevHours: Option[Double] = None,
      evolveSchema: Boolean = false,
      zorderBy: Seq[String] = Nil,
      zorderFiles: Int = 0): Unit = {
    val storage = LakeStorage(spark)
    val fs = new Path(trustedPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    recoverTrusted(fs, trustedPath)
    retainPrevHours.foreach(gcPrevSnapshots(fs, trustedPath, _))

    val stored =
      if (storage.exists(trustedPath)) Some(ListedParquet.readDir(spark, trustedPath, None))
      else None
    val result = stored.fold(updates) { trusted =>
      if (evolveSchema) mergedEvolved(trusted, updates, key, broadcastUpdates)
      else merged(trusted, updates, key, broadcastUpdates)
    }
    if (zorderBy.isEmpty) writeStaging(result, trustedPath, stored)
    else {
      val n =
        if (zorderFiles > 0) zorderFiles
        else result.sparkSession.sessionState.conf.numShufflePartitions
      ZOrder.cluster(result, zorderBy, n)
        .write.mode(SaveMode.Overwrite).parquet(Swap.staging(trustedPath))
    }
    Swap.commit(fs, trustedPath, retainPrevHours.map(_ => newSnapshot(trustedPath)))
  }

  /** Delete-aware merge semantics: fold an ordered I/U/D change log
    * ([[graft.operators.Cdc.latestPerKey]] — each key's LAST change
    * wins), then apply the winners to `trusted`: a winning 'D'
    * removes the key, a winning I/U replaces its row, untouched
    * trusted rows survive. The read direction of K2 extended with
    * the delete semantics [[merged]] can't express — `changes` here
    * is exactly what [[graft.operators.Cdc.changeFeed]] emits (plus
    * a sequence column), so a table is replicable from another
    * table's feeds.
    *
    * Same plan shape as [[merged]] plus the fold's one key shuffle:
    * the anti-join is on ALL touched keys (delete AND upsert
    * winners — one join, not two), then surviving upsert payloads
    * union in.
    */
  def appliedChanges(
      trusted: DataFrame,
      changes: DataFrame,
      key: String = "sk",
      seqCols: Seq[String] = Seq("seq"),
      opCol: String = "op"): DataFrame = {
    val latest = graft.operators.Cdc.latestPerKey(changes, Seq(key), seqCols)
    val upserts = latest.where(col(opCol) =!= "D").drop((opCol +: seqCols): _*)
    inOrderOf(trusted, trusted.join(latest.select(col(key)), Seq(key), "left_anti"))
      .unionByName(upserts)
  }

  /** [[appliedChanges]] against the stored TRUSTED table, behind the
    * identical staging/swap/retention discipline as [[mergeInto]].
    * Bootstrapping (no table yet) applies the log to an empty
    * trusted side: winners that are deletes simply don't land.
    * Change payload schema must match the table (schema evolution is
    * [[mergeInto]]'s `evolveSchema` concern; a changelog that also
    * evolves schema should bootstrap through that path first).
    */
  def applyChangesInto(
      spark: SparkSession,
      trustedPath: String,
      changes: DataFrame,
      key: String = "sk",
      seqCols: Seq[String] = Seq("seq"),
      opCol: String = "op",
      retainPrevHours: Option[Double] = None): Unit = {
    val storage = LakeStorage(spark)
    val fs = new Path(trustedPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverTrusted(fs, trustedPath)
    retainPrevHours.foreach(gcPrevSnapshots(fs, trustedPath, _))

    // change payload schema == table schema by contract (scaladoc
    // above), so the table read takes it EXPLICITLY, checked against
    // the stored footer on every read — this is the
    // per-micro-batch hot path of the streaming CDC apply, and the
    // schema-inference job the bare read pays per batch is pure
    // overhead (guide §5: no driver-side jobs for known metadata)
    val payload = changes.drop((opCol +: seqCols): _*)
    val stored =
      if (storage.exists(trustedPath))
        Some(ParquetMemo.readContract(spark, trustedPath, payload.schema))
      else None
    val trusted = stored.getOrElse(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], payload.schema))
    writeStaging(appliedChanges(trusted, changes, key, seqCols, opCol), trustedPath, stored)
    Swap.commit(fs, trustedPath, retainPrevHours.map(_ => newSnapshot(trustedPath)))
  }

  /** The staging write of a whole-table rewrite ([[mergeInto]]
    * without z-order, [[applyChangesInto]]). Over a `stored` table it
    * caps the rows per output file at about one core's split of that
    * table (the "Scale posture" rule in the object doc). Rows per
    * file come from the largest stored file's footer, read on the
    * driver; the files come from the stored read's own file index. */
  private def writeStaging(
      rows: DataFrame, trustedPath: String, stored: Option[DataFrame]): Unit = {
    val w = rows.write.mode(SaveMode.Overwrite)
    stored.flatMap(rowsPerSplit).fold(w)(n => w.option("maxRecordsPerFile", n))
      .parquet(Swap.staging(trustedPath))
  }

  private def rowsPerSplit(stored: DataFrame): Option[Long] = {
    val spark = stored.sparkSession
    val conf = spark.sessionState.conf
    val files = ListedParquet.dataFiles(stored)
    files.maxByOption(_.getLen).filter(_.getLen > 0).flatMap { largest =>
      val rows = ParquetMemo.footerRows(spark.sparkContext.hadoopConfiguration, largest.getPath)
      val perCore = files.map(_.getLen).sum / ListedParquet.splitParallelism(spark)
      val target = math.min(conf.filesMaxPartitionBytes,
        math.max(conf.filesOpenCostInBytes, perCore))
      val n = math.max(1L, (BigInt(rows) * target / largest.getLen).toLong)
      Option.when(rows > 0)(
        if (conf.maxRecordsPerFile > 0) math.min(n, conf.maxRecordsPerFile) else n)
    }
  }

  /** (epochMillis, path) of retained pre-merge snapshots, newest
    * first. */
  def prevSnapshots(
      fs: org.apache.hadoop.fs.FileSystem,
      trustedPath: String): Seq[(Long, Path)] = {
    val table = new Path(trustedPath)
    val parent = table.getParent
    val prefix = table.getName + PrevSnapshotInfix
    if (parent == null || !fs.exists(parent)) Seq.empty
    else fs.listStatus(parent).toSeq
      .filter(_.getPath.getName.startsWith(prefix))
      .flatMap { st =>
        st.getPath.getName.stripPrefix(prefix).toLongOption
          .map(ts => (ts, st.getPath))
      }
      .sortBy(-_._1)
  }

  private def gcPrevSnapshots(
      fs: org.apache.hadoop.fs.FileSystem,
      trustedPath: String,
      retainHours: Double): Unit = {
    val cutoff = System.currentTimeMillis() - (retainHours * 3600 * 1000).toLong
    prevSnapshots(fs, trustedPath)
      .filter(_._1 < cutoff)
      .foreach { case (_, p) => fs.delete(p, true) }
  }

  /** Time-travel read: the table as it stood at `epochMillis`.
    *
    * Each retained merge snapshots the PRE-merge table at swap time
    * (`__prev_<swapMillis>`), so the state at time t is the snapshot
    * of the FIRST merge that completed after t — or the live table
    * if no merge has completed since. Resolution is merge-granular
    * and the horizon is the retention window: a t older than the
    * oldest surviving snapshot resolves to that oldest snapshot (the
    * earliest state still on disk), loudly — callers wanting an
    * error instead should check [[prevSnapshots]] bounds themselves.
    * Snapshots are immutable completed tables (whole former live
    * versions, moved aside by the swap), so the read needs no lock
    * against concurrent merges. */
  def snapshotAsOf(
      spark: SparkSession,
      trustedPath: String,
      epochMillis: Long): DataFrame = {
    val fs = new Path(trustedPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val later = prevSnapshots(fs, trustedPath) // newest first
      .filter(_._1 > epochMillis)
    later.lastOption match {
      case Some((_, p)) => spark.read.parquet(p.toString)
      case None => spark.read.parquet(trustedPath)
    }
  }

  /** Roll the table back to its newest retained pre-merge snapshot
    * (undo of the last bad merge). The snapshot directory itself is
    * the staging side of the same [[DirSwap]] the merge uses, so every
    * crash point recovers like a merge's: before the promote the
    * snapshot stays a snapshot and the table is untouched; after it
    * the rollback has happened. The rolled-back-FROM state is itself
    * retained as a new snapshot, so a mistaken rollback is also
    * undoable (a crash before that last rename loses only it). */
  def rollbackToPrev(spark: SparkSession, trustedPath: String): Unit = {
    val fs = new Path(trustedPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverTrusted(fs, trustedPath)
    val snaps = prevSnapshots(fs, trustedPath)
    require(snaps.nonEmpty, s"no retained __prev_ snapshot beside $trustedPath")
    val (_, newest) = snaps.head
    Swap.copy(stagingSuffix = newest.getName.stripPrefix(new Path(trustedPath).getName))
      .commit(fs, trustedPath, Some(newSnapshot(trustedPath)))
  }
}
