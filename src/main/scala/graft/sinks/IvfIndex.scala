package graft.sinks

import graft.core.Jobs
import graft.ext.IvfSearch
import graft.functions.VectorFunctions
import graft.plans.RankTopK
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.ColumnGlue
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** PERSISTED IVF ANN index — [[graft.ext.IvfSearch]]'s in-memory
  * build promoted to a lake sidecar with the index family's
  * maintenance discipline (`_stats` / `_bloom` / `_invindex`
  * siblings): build once, query many, refresh by file-set
  * arithmetic.
  *
  * Layout, next to the vector table:
  *  - `_ivf_cells`: (file, vec_id, embedding, \_\_cell), written
  *    DIRECTORY-PARTITIONED BY CELL — this is what makes the
  *    persisted form an actual inverted file: a query that probes
  *    `nProbe` of `nCells` cells pushes a static partition filter
  *    and READS only those cells' files (`IvfIndexSpec` pins the
  *    records-read separation), instead of filtering a full scan.
  *  - `_ivf_cells/_centroids`: (\_\_cell, \_\_centroid) — the frozen
  *    coarse quantizer, nCells rows, stored INSIDE the cells dir
  *    (underscore-prefixed, so cells reads never see it) so
  *    [[collect]]'s journaled publish moves quantizer and
  *    assignments together: no crash point can pair new centroids
  *    with old cells or vice versa.
  *
  * [[refresh]] keeps the centroids FROZEN (the production IVF
  * maintenance model — assignment is cheap, re-clustering is a
  * rebuild) and is O(delta) in write I/O via
  * [[SidecarMaintenance.commitDelta]]: new corpus files' vectors are
  * read, argmin-assigned and APPENDED as fresh sidecar files inside
  * the cell directories; vanished corpus files' rows drop by
  * rewriting ONLY the sidecar files that carried them. The untouched
  * remainder of the sidecar — at 100 TB, essentially all of it — is
  * never rewritten (the per-file-partial discipline of
  * [[InvertedIndex]]'s `_termstats`/`_doclen`, applied to the vector
  * family). Assignment uses the same squared-euclidean argmin
  * (ties → lowest cell id) as the KMeans transform that built the
  * index, windowed per (file, vec_id) so an id duplicated across
  * fresh files SURVIVES to the one-row-per-vector guard and fails
  * loudly instead of silently collapsing. The guard runs BEFORE any
  * mutation; small-file accumulation from repeated refreshes is
  * repacked by [[compact]].
  *
  * Exactness contract mirrors IvfSearch: `nProbe = nCells` probes
  * every cell, so top-k is EXACT regardless of the clustering —
  * the declared queries grade the whole persisted path (build →
  * refresh → probe) against the brute-force oracle at that setting;
  * partial-probe recall is the approximate regime, bounded by the
  * same cell geometry as the in-memory form. */
object IvfIndex {

  private[graft] def cellsPath(table: String): String = s"$table/_ivf_cells"
  private[graft] def centroidsPath(table: String): String =
    s"${cellsPath(table)}/_centroids"
  private[graft] def refsPath(table: String): String = s"$table/_ivf_refs"
  private[graft] def refsCentroidsPath(table: String): String =
    s"${refsPath(table)}/_centroids"

  /** Spread the `__cell=` partition-dir write across `writeSalt`
    * tasks per cell ([[SidecarMaintenance.saltedByPartition]]). */
  private def salted(rows: DataFrame, writeSalt: Int): DataFrame =
    SidecarMaintenance.saltedByPartition(rows, "__cell",
      Seq("file", "vec_id", "embedding", "__cell"), writeSalt)

  /** Bootstrap / rebuild: sampled seeded KMeans over the table (via
    * [[IvfSearch.buildIndex]]), both sidecars built under
    * `_ivf_cells.next` and published by the sealed [[DirSwap]]
    * ([[SidecarMaintenance.rebuild]]) — a crash anywhere
    * before the seal (including a layout-guard trip) leaves the
    * previous index fully consistent and serving; a crash anywhere
    * after it is rolled forward by the next maintenance entry, so
    * no crash point leaves the table without a serving index. */
  def collect(
      spark: SparkSession,
      table: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      nCells: Int = 16,
      seed: Long = 42L,
      writeSalt: Int = 1): Unit =
    SidecarMaintenance.rebuild(spark, cellsPath(table)) { next =>
      val idx = IvfSearch.buildIndex(corpusOf(spark, table, idCol, vecCol), nCells, seed)
      fillVectors(spark, next, salted(idx.assigned, writeSalt), Seq("__cell"),
        "_centroids", idx.centroids)
    }

  /** Every vector of `table` as (file, vec_id, embedding). */
  private[sinks] def corpusOf(
      spark: SparkSession, table: String, idCol: String, vecCol: String): DataFrame =
    ParquetMemo.readDir(spark, table)
      .select(col("_metadata.file_path").as("file"),
        col(idCol).as("vec_id"), col(vecCol).as("embedding"))

  /** Fill a vector sidecar's rebuild directory `next`: `rows`
    * (directory-partitioned by `partCols`), the model table (IVF
    * centroids, LSH (planes, seed), PQ codebooks) as ONE file under
    * `next/<model>`, then the one-row-per-vector guard over what was
    * written. */
  private[sinks] def fillVectors(
      spark: SparkSession,
      next: String,
      rows: DataFrame,
      partCols: Seq[String],
      model: String,
      modelRows: DataFrame): Unit = {
    val w = rows.write.mode(SaveMode.Overwrite)
    (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w).parquet(next)
    modelRows.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$next/$model")
    requireOneRowPerVector(ParquetMemo.readDir(spark, next))
  }

  /** Incremental maintenance, pure file-set arithmetic over the
    * FROZEN centroids — O(delta) write I/O: appends new files' rows,
    * rewrites only the sidecar files holding vanished files' rows.
    * `appendedOnly = Some(files)` plans from exactly those candidate
    * corpus files with no corpus listing and no vanish detection
    * ([[SidecarMaintenance.planAppend]] — the O(batch) form for
    * streaming cadences that know what they just published); None
    * is the full diff against the listed corpus. `replaced` (only
    * meaningful with `appendedOnly`) names corpus files an
    * idempotent replay republished under a prior delivery's names —
    * their covered bindings are stale and plan vanished+fresh
    * ([[SidecarMaintenance.planAppend]]). */
  def refresh(
      spark: SparkSession,
      table: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      writeSalt: Int = 1,
      appendedOnly: Option[Set[String]] = None,
      replaced: Set[String] = Set.empty,
      replacedPrefixes: Seq[String] = Nil): Unit =
    SidecarMaintenance.refreshDelta(spark, table, cellsPath(table),
      Seq(centroidsPath(table), cellsPath(table)), "IVF index", "collect()",
      idCol, "vec_id", Seq("__cell"), salted(_, writeSalt),
      appendedOnly, replaced, replacedPrefixes)(
      assignFiles(spark, table, _, idCol, vecCol,
        ParquetMemo.metaDF(spark, centroidsPath(table))))(
      vectorGuard(spark, cellsPath(table)))

  /** Repack the WHOLE cells sidecar (one journaled rewrite) —
    * O(sidecar) by design, an explicit offline layout reset. The
    * scheduled amortizer on streaming cadences is [[compactSmall]]. */
  def compact(spark: SparkSession, table: String, writeSalt: Int = 1): Unit =
    SidecarMaintenance.compact(spark, cellsPath(table), Seq("__cell"),
      statsCol = Some("vec_id"))(salted(_, writeSalt))

  /** Size-tiered repack of refresh-accumulated SMALL sidecar files
    * only ([[SidecarMaintenance.compactSmall]]) — O(accumulated
    * deltas), never O(sidecar): the cells sidecar carries full
    * embeddings (corpus-scale), so this is what a streaming cadence
    * may schedule without a periodic corpus rewrite. The merged tier
    * always lands UNSALTED (one file per cell): a salted merge would
    * re-split each tier into writeSalt sub-threshold files that land
    * back in the same size class — perpetual re-merge churn instead
    * of graduation. Refresh keeps its salt; the merge must not. */
  def compactSmall(
      spark: SparkSession,
      table: String,
      smallBytes: Long = 32L << 20): Unit =
    SidecarMaintenance.compactSmall(
      spark, cellsPath(table), Seq("__cell"), smallBytes,
      statsCol = Some("vec_id"))(salted(_, 1))

  /** Per-row nearest-centroid argmin as a Column: ONE
    * `least()` fold over the collected centroids — no join, no
    * window, no exchange. `least` over `struct(d, c)` compares d
    * first then c, so ties go to the lowest cell id — the same rule
    * KMeans transform applies at build time. Shared by
    * [[assignFiles]] (refresh path) and [[clusterAppend]]. */
  private[graft] def nearestCellCol(
      centRows: Array[org.apache.spark.sql.Row],
      vecCol: String): org.apache.spark.sql.Column = {
    require(centRows.nonEmpty, "nearestCellCol needs >= 1 centroid")
    val cands = centRows.map { r =>
      struct(
        VectorFunctions.l2Sq(col(vecCol),
          lit(r.getAs[Seq[Double]]("__centroid").toArray)).as("d"),
        lit(r.getAs[Int]("__cell")).as("c"))
    }.toIndexedSeq
    // least() needs >= 2 args; an nCells = 1 geometry is legal and
    // its single centroid needs no comparison at all
    (if (cands.length == 1) cands.head else least(cands: _*)).getField("c")
  }

  /** Nearest-centroid assignment for specific corpus files: each new
    * vector folds over the nCells collected centroids with the
    * codegen'd [[nearestCellCol]] argmin — narrow, map-side-only,
    * never materializing the delta-rows × nCells product (the prior
    * shape cross-joined broadcast centroids and ran a
    * `row_number()` window over (file, vec_id), a full shuffle of
    * the product and the refresh path's biggest avoidable constant).
    * Per-row, so an id appearing twice — in two fresh files OR twice
    * inside one file — keeps BOTH rows here, and the layout guard
    * sees and rejects it. */
  private[graft] def assignFiles(
      spark: SparkSession,
      table: String,
      paths: Seq[String],
      idCol: String,
      vecCol: String,
      centroids: DataFrame): DataFrame = {
    val centRows = centroids.collect()
    ParquetMemo.readFiles(spark, table, paths)
      .select(col("_metadata.file_path").as("file"),
        col(idCol).as("vec_id"), col(vecCol).as("embedding"))
      .withColumn("__cell", nearestCellCol(centRows, "embedding"))
      .select("file", "vec_id", "embedding", "__cell")
  }

  /** The family's layout contract, stated once: a vector's row must
    * live in ONE corpus data file. Fails naming up to five `ids`
    * indexed more than once. */
  private def requireNoneTwice(ids: Array[Row]): Unit =
    require(ids.isEmpty,
      s"vectors indexed more than once: ids " +
        s"${ids.map(_.get(0)).mkString(", ")} — a vector's row " +
        "must live in ONE corpus data file (append new ids, " +
        "purge-rewrite whole files); compact, then rebuild")

  /** The build-time form of the contract, over every row written. */
  private def requireOneRowPerVector(rows: DataFrame): Unit =
    requireNoneTwice(rows.groupBy("vec_id").agg(count(lit(1)).as("__n"))
      .where(col("__n") > 1).limit(5).collect())

  /** The vector sidecars' refresh guard for [[SidecarMaintenance.refreshDelta]]:
    * fresh rows against the sidecar rows the delta KEEPS
    * ([[SidecarMaintenance.keptRows]] — rows of vanished files don't
    * count, a purge-rewritten file's ids legitimately reappear fresh). */
  private[sinks] def vectorGuard(spark: SparkSession, dir: String)
      : (DataFrame, SidecarMaintenance.DeltaPlan, Option[(Long, Long)]) => Unit =
    (rows, plan, bounds) => guardFreshAgainstKept(spark, rows,
      SidecarMaintenance.keptRows(spark, dir, plan, _), bounds)

  /** The one pre-append duplicate-id guard: the `fresh` ids must be
    * duplicate-free within themselves and against the rows `kept`
    * returns for the fresh id range (None: nothing kept to clash
    * with). A clash id lies inside the fresh batch's [min, max] by
    * definition, so that range prunes the kept side — by file list
    * ([[SidecarMaintenance.keptRows]]) and by a pushed filter that
    * parquet row-group stats answer — and monotonic ingest ids make
    * the guard read ~nothing of the kept side.
    *
    * With the fresh bounds known (`freshIdRange`, from the corpus
    * files' footers, [[SidecarMaintenance.footerIdRange]]) the
    * in-batch duplicate check and the fresh-vs-kept clash check
    * collapse into ONE per-id aggregation: an id trips when it occurs
    * twice on the fresh side, or on both sides. Without them one
    * aggregation over the fresh ids yields the duplicate count and
    * the bounds, then the pruned clash probe runs. Null ids only trip
    * as fresh duplicates (equality joins never match them). */
  private[sinks] def guardFreshAgainstKept(
      spark: SparkSession,
      fresh: DataFrame,
      kept: Option[(Long, Long)] => Option[DataFrame],
      freshIdRange: Option[(Long, Long)]): Unit = freshIdRange match {
    case Some((lo, hi)) =>
      val freshSide = fresh.select(col("vec_id"))
        .withColumn("__fresh", lit(1L))
      val both = kept(freshIdRange) match {
        case Some(k) => freshSide.unionByName(
          k.select(col("vec_id"))
            .where(col("vec_id").between(lit(lo), lit(hi)))
            .withColumn("__fresh", lit(0L)))
        case None => freshSide
      }
      requireNoneTwice(both.groupBy("vec_id")
        .agg(sum(col("__fresh")).as("__nf"),
          sum(lit(1L) - col("__fresh")).as("__nk"))
        .where(col("__nf") > 1L ||
          (col("__nf") >= 1L && col("__nk") >= 1L && col("vec_id").isNotNull))
        .limit(5).collect())
    case None =>
      val g = fresh.groupBy("vec_id").agg(count(lit(1)).as("__n"))
      val Array(st) = g.agg(
        sum(when(col("__n") > 1, 1L).otherwise(0L)).as("dups"),
        count(lit(1)).as("n"),
        min(col("vec_id")).as("lo"), max(col("vec_id")).as("hi"),
        min(col("vec_id").cast("long")).as("llo"),
        max(col("vec_id").cast("long")).as("lhi"),
        sum(when(col("vec_id").cast("long").isNull, 1L).otherwise(0L))
          .as("badcast"))
        .collect()
      // the offenders' ids come from re-running the per-id count
      if (st.getLong(0) > 0L) requireOneRowPerVector(fresh)
      if (st.getLong(1) == 0L) return // empty fresh batch: nothing to clash
      // a non-long id is invisible to the long range: no pruning then
      val idRange =
        if (st.getLong(6) > 0L || st.isNullAt(4)) None
        else Some((st.getLong(4), st.getLong(5)))
      val k = kept(idRange)
      if (k.isEmpty || st.isNullAt(2)) return
      requireNoneTwice(k.get.select("vec_id")
        .where(col("vec_id").between(lit(st.get(2)), lit(st.get(3))))
        .join(broadcast(fresh.select("vec_id").distinct()),
          Seq("vec_id"), "left_semi")
        .limit(5).collect())
  }

  /** [[clusterAppend]]'s pre-append guard (shared with
    * [[LshIndex.clusterAppend]]): the batch's ids against the
    * committed refs rows at `refsDir` still BACKED by a live corpus
    * file of `dest` — rows of vanished corpus files drop via one
    * broadcast semi-join on the current file list, the vanish-aware
    * rule [[SidecarMaintenance.keptRows]] applies on the refresh
    * path. */
  private[sinks] def requireNewIds(
      spark: SparkSession, dest: String, refsDir: String,
      batch: DataFrame, idCol: String): Unit = {
    import spark.implicits._
    guardFreshAgainstKept(spark, batch.select(col(idCol).as("vec_id")), _ => {
      val current = BloomIndex.dataFilePaths(spark, dest)
      Some(SidecarMaintenance.snapshotRead(spark, refsDir)
        .join(broadcast(current.toDF("file")), Seq("file"), "left_semi"))
    }, None)
  }

  /** Write `rows` to `dest` clustered by the `part` column: ONE range
    * exchange on (part, id) into `n` files, each sorted, `part`
    * dropped — the layout [[clusterCorpus]] and [[clusterAppend]]
    * (and their LSH forms) keep, each partition's rows in contiguous
    * files. */
  private[sinks] def writeClustered(
      rows: DataFrame, part: String, idCol: String, n: Int,
      dest: String, mode: SaveMode): Unit =
    rows.repartitionByRange(n, col(part), col(idCol))
      .sortWithinPartitions(col(part), col(idCol))
      .drop(part)
      .write.mode(mode).parquet(dest)

  // ── embedding-free REFS variant ─────────────────────────────────
  // `_ivf_cells` duplicates every embedding (the sidecar IS the
  // corpus, re-shaped — ~1× corpus storage). `_ivf_refs` stores
  // (file, vec_id, __cell) only — a few percent of corpus bytes —
  // and [[topKRefs]] re-reads candidate vectors from the corpus
  // through ONE column-pruned join per probe. Same maintenance
  // discipline (journaled publish, O(delta) refresh, tiered
  // compaction); the storage-for-I/O trade mirrors
  // [[LshIndex.collectRefs]].

  private def saltedRefs(rows: DataFrame, writeSalt: Int): DataFrame =
    SidecarMaintenance.saltedByPartition(rows, "__cell",
      Seq("file", "vec_id", "__cell"), writeSalt)

  /** Bootstrap / rebuild of the refs sidecar — [[collect]] minus the
    * embedding column, same journaled publish. `centroids`, when
    * given, SKIPS the KMeans train and assigns against the provided
    * quantizer (nCells/seed ignored) — what [[clusterCorpus]] uses so
    * the refs cells and the file layout are the SAME geometry, not
    * two independently-trained quantizers that merely resemble each
    * other. */
  def collectRefs(
      spark: SparkSession,
      table: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      nCells: Int = 16,
      seed: Long = 42L,
      writeSalt: Int = 1,
      centroids: Option[DataFrame] = None): Unit =
    SidecarMaintenance.rebuild(spark, refsPath(table)) { next =>
      val (cents, rows) = centroids match {
        case Some(c) =>
          (c, assignFiles(spark, table,
            BloomIndex.dataFilePaths(spark, table), idCol, vecCol, c)
            .drop("embedding"))
        case None =>
          val idx = IvfSearch.buildIndex(corpusOf(spark, table, idCol, vecCol), nCells, seed)
          (idx.centroids, idx.assigned.drop("embedding"))
      }
      fillVectors(spark, next, saltedRefs(rows, writeSalt), Seq("__cell"), "_centroids", cents)
    }

  /** O(delta) maintenance of the refs sidecar — [[refresh]] on the
    * embedding-free rows, frozen centroids. */
  def refreshRefs(
      spark: SparkSession,
      table: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      writeSalt: Int = 1): Unit =
    SidecarMaintenance.refreshDelta(spark, table, refsPath(table),
      Seq(refsCentroidsPath(table), refsPath(table)), "IVF refs index",
      "collectRefs()", idCol, "vec_id", Seq("__cell"), saltedRefs(_, writeSalt))(
      assignFiles(spark, table, _, idCol, vecCol,
        ParquetMemo.metaDF(spark, refsCentroidsPath(table))).drop("embedding"))(
      vectorGuard(spark, refsPath(table)))

  /** Size-tiered amortizer for the refs sidecar (unsalted merge —
    * see [[compactSmall]]). */
  def compactSmallRefs(
      spark: SparkSession,
      table: String,
      smallBytes: Long = 32L << 20): Unit =
    SidecarMaintenance.compactSmall(
      spark, refsPath(table), Seq("__cell"), smallBytes,
      statsCol = Some("vec_id"))(saltedRefs(_, 1))

  /** Materialize a CELL-CLUSTERED copy of the vector table at `dest`
    * — the layout operation that makes the refs variant's partial-
    * probe economics real: [[topKRefs]]' re-rank reads the candidate
    * FILES of the probed cells, and on a randomly-laid-out corpus
    * every file hosts every cell, so the "probed fraction" prunes
    * columns but not files. Clustering writes each cell's vectors
    * into contiguous files (range exchange on (cell, id), the
    * Z-ORDER-for-ANN analogue of [[Compaction]]'s z-order pass), so
    * a probe of nProbe/nCells cells reads ≈ that fraction of the
    * corpus in FILES too — at 100 TB the difference between a
    * probe-scaled read and a full-width one. One sampled-KMeans
    * train + ONE shuffle over the table; every column survives
    * verbatim. `filesPerCell` sizes output files (pick
    * ≈ corpusBytes / (nCells × 128 MB) in production). Builds the
    * `_ivf_refs` sidecar on the clustered copy against the SAME
    * trained quantizer, so refs cells and file layout share one
    * geometry by construction. An explicit
    * materialization to a NEW directory — no in-place swap, the
    * source table is never touched. */
  def clusterCorpus(
      spark: SparkSession,
      table: String,
      dest: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      nCells: Int = 16,
      seed: Long = 42L,
      filesPerCell: Int = 1): Unit = {
    require(filesPerCell >= 1, s"filesPerCell ($filesPerCell) must be >= 1")
    require(nCells >= 2, // KMeans itself rejects k=1, loudly and early
      s"a clustered layout needs nCells >= 2, got $nCells")
    val corpus = spark.read.parquet(table)
    // one KMeans transform over the FULL row (every column survives;
    // no join, so duplicate ids can neither drop nor multiply rows —
    // the refs build's one-row-per-vector guard still vets them)
    val renamed =
      if (vecCol == "embedding") corpus
      else corpus.withColumnRenamed(vecCol, "embedding")
    val idx = IvfSearch.buildIndex(renamed, nCells, seed)
    val back =
      if (vecCol == "embedding") idx.assigned
      else idx.assigned.withColumnRenamed("embedding", vecCol)
    writeClustered(back, "__cell", idCol, nCells * filesPerCell, dest, SaveMode.Overwrite)
    // the refs build reuses THIS quantizer: refs cells and the file
    // layout are the same geometry by construction, not two
    // independently-trained lookalikes
    collectRefs(spark, dest, idCol, vecCol, nCells, seed,
      centroids = Some(idx.centroids))
  }

  /** Append a batch to a [[clusterCorpus]]-materialized copy WITHOUT
    * degrading its cell-clustered layout — the maintenance story
    * that keeps the partial-probe file pruning real under ingest:
    * the batch's rows assign against dest's FROZEN refs quantizer
    * (the same geometry the layout and the sidecar share), range-
    * exchange on (cell, id) into ≤ nCells × `filesPerCell`
    * cell-contiguous files, land as an append, and the refs sidecar
    * refreshes O(delta) against the same centroids. Each appended
    * batch adds at most nCells−1 extra (file, cell) incidences, so a
    * probe's candidate files stay ≈ the probed fraction of EVERY
    * batch generation — never the random-layout files × cells. The
    * per-row cell is ONE least() fold over the collected
    * centroids (nCells rows by contract — no join, no window, safe
    * under duplicate ids, which the pre-append clash check rejects
    * before the CORPUS mutates — the corpus append is un-journaled,
    * so a post-append guard alone would leave the duplicate parts
    * permanent; [[refreshRefs]]' guard still runs after as the
    * sidecar-side belt-and-braces). */
  def clusterAppend(
      spark: SparkSession,
      dest: String,
      batch: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      filesPerCell: Int = 1): Unit = {
    require(filesPerCell >= 1,
      s"filesPerCell ($filesPerCell) must be >= 1")
    val centRows = ParquetMemo.metaRows(spark, refsCentroidsPath(dest))._2
    require(centRows.nonEmpty, s"no refs quantizer at " +
      s"${refsCentroidsPath(dest)} — materialize with clusterCorpus()")
    // The corpus append is NOT journaled (nondeterministic part
    // names, no undo), so a duplicate-id batch must be rejected
    // BEFORE dest mutates — refreshRefs' guard alone would trip only
    // after the appended parts are already a permanent layout
    // violation with no idempotent sweep path. Check the batch
    // against the committed refs sidecar first, restricted to rows
    // whose corpus file still EXISTS — a purge-rewritten file's ids
    // legitimately reappear fresh (the same vanish-aware rule
    // refreshRefs' keptRows applies; the raw snapshot would falsely
    // reject them until a refresh ran). The corpus listing this
    // costs is one refreshRefs (below) pays anyway; the batch
    // id-range still pushes onto the refs scan.
    requireNewIds(spark, dest, refsPath(dest), batch, idCol)
    writeClustered(batch.withColumn("__cell", nearestCellCol(centRows, vecCol)),
      "__cell", idCol, centRows.length * filesPerCell, dest, SaveMode.Append)
    refreshRefs(spark, dest, idCol, vecCol)
  }

  /** The probe set of a query batch: every `(q_id, q_vec)` row of `q`
    * paired with each of its `nProbe` nearest cells. Ranked on the
    * driver over the memoized centroid rows, so a local query set
    * costs no Spark job (any other costs its collect). The
    * answer is bit-identical to the `row_number()` window over
    * `partitionBy(q_id).orderBy(l2Sq asc, __cell asc)` on the query ×
    * centroid cross join that it replaces:
    *  - distance is [[VectorFunctions.l2Sq]]'s arithmetic: elements
    *    cast to double, squared differences folded left from 0.0, null
    *    when either vector is null, holds a null, or the lengths
    *    differ;
    *  - order is the window's: null distances first, NaN above every
    *    number (`SQLOrderingUtil.compareDoubles`), ties to the lowest
    *    cell, rows that share a `q_id` (NaN and -0.0 normalized, as
    *    Spark does for partition keys) ranked together.
    * Vector elements must be integral, float or double. */
  private[graft] def probeSet(
      q: DataFrame,
      centroids: (StructType, Array[Row]),
      nProbe: Int): Probes = {
    val (centSchema, centRows) = centroids
    Seq(q.schema(1), centSchema("__centroid")).foreach(f => f.dataType match {
      case ArrayType(ByteType | ShortType | IntegerType | LongType |
          FloatType | DoubleType, _) =>
      case t => throw new IllegalArgumentException(
        s"IVF probe vector `${f.name}` must be an array of integral, " +
          s"float or double elements, got ${t.simpleString}")
    })
    def doubles(v: scala.collection.Seq[Any]): Array[Double] =
      if (v == null || v.contains(null)) null
      else v.iterator.map(_.asInstanceOf[Number].doubleValue).toArray
    def l2Sq(a: Array[Double], b: Array[Double]): java.lang.Double =
      if (a == null || b == null || a.length != b.length) null
      else {
        var acc = 0.0
        var i = 0
        while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
        acc
      }
    val (cellAt, centAt) = (centSchema.fieldIndex("__cell"), centSchema.fieldIndex("__centroid"))
    val cells = centRows.map(_.getInt(cellAt))
    val cents = centRows.map(r => doubles(r.getAs[scala.collection.Seq[Any]](centAt)))
    val nearestFirst: Ordering[(java.lang.Double, Int)] = (x, y) => {
      val byDist =
        if (x._1 == null) { if (y._1 == null) 0 else -1 }
        else if (y._1 == null) 1
        else SQLOrderingUtil.compareDoubles(x._1, y._1)
      if (byDist != 0) byDist else Integer.compare(x._2, y._2)
    }
    // java map: key equality is equals(), under which NaN == NaN
    val byId = new java.util.LinkedHashMap[Any, mutable.ArrayBuffer[Row]]()
    q.collect().foreach { r =>
      val id = r.get(0) match {
        case d: Double if d == 0.0 => 0.0
        case f: Float if f == 0.0f => 0.0f
        case b: Array[Byte] => b.toSeq
        case v => v
      }
      byId.computeIfAbsent(id, _ => mutable.ArrayBuffer.empty) += r
    }
    val rows = byId.values.asScala.iterator.flatMap { group =>
      group.iterator.flatMap { r =>
        val v = doubles(r.getAs[scala.collection.Seq[Any]](1))
        cents.indices.iterator.map(c => (r, l2Sq(v, cents(c)), cells(c)))
      }.toArray.sortBy(p => (p._2, p._3))(nearestFirst).iterator
        .take(nProbe).map { case (r, _, cell) => Row(r.get(0), r.get(1), cell) }
    }.toArray
    Probes(StructType(q.schema.fields :+ centSchema("__cell")), rows)
  }

  /** A query batch's probe set, held on the driver: `(q_id, q_vec,
    * part)` rows, one per query and cell or bucket it probes. */
  private[graft] final case class Probes(schema: StructType, rows: Array[Row]) {
    /** The distinct probed cells or buckets. */
    def parts: Seq[Any] = rows.map(_.get(2)).distinct.toSeq
  }

  /** Probe off the REFS sidecar: the probed cell set pushes as a
    * static partition filter exactly as in [[topK]], but the probe
    * yields candidate IDS only — their vectors come from ONE
    * column-pruned corpus pass joined on vec_id. The refs rows carry
    * their corpus `file`, so that pass reads ONLY the candidate
    * files (vec_id + embedding of a file subset reach the parquet
    * scan, nothing else) — at partial nProbe a corpus fraction in
    * both files and columns, so the re-rank reads scale with the
    * probe, not the corpus; the trade buys back the cells sidecar's
    * ~1× corpus storage duplication. */
  def topKRefs(
      spark: SparkSession,
      table: String,
      queries: DataFrame,
      k: Int,
      nProbe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // ONE committed-snapshot resolution serves both refs reads of
    // [[probeTopK]]: the probe runs THROUGH a live refresh's commit
    // window on the pre-commit truth instead of refusing for its whole
    // duration ([[SidecarMaintenance.snapshotRead]])
    val refsSnap = SidecarMaintenance.snapshotRead(spark, refsPath(table))
    // cells ranked on the driver over the memoized centroids
    // ([[probeSet]]): a local query set pays no job before the probe
    val probes = Jobs.described(spark, s"ann: ivf refs queries $table")(probeSet(
      queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec")),
      ParquetMemo.metaRows(spark, refsCentroidsPath(table)), nProbe))
    probeTopK(spark, table, refsSnap, "__cell", probes, k, "ivf", refs = true,
      idCol, vecCol)
  }

  /** Probe the persisted index: rank cells per query against the
    * memoized centroids on the driver, push the probed cell set as a
    * STATIC partition filter (the probed set is bounded by queries ×
    * nProbe — query sets are small by contract, so the collect is
    * bounded), exact cosine top-k inside the probed cells only. */
  def topK(
      spark: SparkSession,
      table: String,
      queries: DataFrame,
      k: Int,
      nProbe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // committed-snapshot read: serves through a live commit window on
    // the pre-commit truth ([[SidecarMaintenance.snapshotRead]])
    val cellsSnap = SidecarMaintenance.snapshotRead(spark, cellsPath(table))
    // driver-side cell ranking, as in [[topKRefs]]
    val probes = Jobs.described(spark, s"ann: ivf queries $table")(probeSet(
      queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec")),
      ParquetMemo.metaRows(spark, centroidsPath(table)), nProbe))
    probeTopK(spark, table, cellsSnap, "__cell", probes, k, "ivf", refs = false,
      idCol, vecCol)
  }

  /** The probe tail of the IVF and LSH indexes, lazy: the rows of the
    * sidecar snapshot `snap` in the probed partitions (`part` in the
    * probed set, a STATIC partition filter) pair with the queries that
    * probe them, a query never with itself. The pairing is a narrow
    * generator over a literal of the driver-side probe set, so the
    * cells or buckets sidecar plan has no exchange (no broadcast job,
    * no adaptive re-plan). Every probe ends in the exact cosine top-k
    * [[RankTopK]], ranked inside the tasks that score the candidates:
    * no rank shuffle, and collecting a cells or buckets probe is ONE
    * Spark job, labelled `ann: <family> [refs] probe <table>`.
    * Candidate vectors come from the sidecar's `embedding` column, or
    * for a refs sidecar (`refs`) from ONE corpus read of just the
    * candidate FILES, column-pruned to (id, vector) — at partial
    * probes a corpus fraction in both files and columns, so re-rank
    * reads scale with the probe, not the corpus. That file set comes
    * from its own partition-pruned scan, so the candidates plan keeps
    * its PartitionFilters. A refs index stale w.r.t. a corpus
    * DELETION may still name vanished files, reconciled
    * EXCEPTION-DRIVEN ([[SidecarMaintenance.readCandidateFiles]]):
    * zero extra metadata RPCs in the steady state, one batched corpus
    * listing + retry only when a path vanished; dropped files'
    * candidates score absent. */
  private[sinks] def probeTopK(
      spark: SparkSession,
      table: String,
      snap: DataFrame,
      part: String,
      probes: Probes,
      k: Int,
      family: String,
      refs: Boolean,
      idCol: String,
      vecCol: String): DataFrame = {
    import spark.implicits._
    val inProbed = snap.where(col(part).isin(probes.parts: _*))
    val byPart = probes.rows.groupBy(_.get(2)).map { case (p, rs) =>
      p -> rs.map(r => Row(r.get(0), r.get(1))).toSeq }
    val queriesOf = ColumnGlue.column(Literal.create(byPart, MapType(
      probes.schema(2).dataType, ArrayType(StructType(probes.schema.take(2))))))
    def paired(cands: DataFrame): DataFrame =
      cands.select(col("*"), inline(element_at(queriesOf, col(part))))
        .where(col("q_id") =!= col("neighbor_id"))
    val kind = if (refs) s"$family refs" else family
    val label = s"ann: $kind probe $table"
    if (!refs) return RankTopK.frame(paired(inProbed
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_vec"), col(part)))
      .withColumn("cos", VectorFunctions.cosine(col("q_vec"), col("c_vec"))), k, label)
    val candidates = paired(inProbed.select(col("vec_id").as("neighbor_id"), col(part)))
    val candFiles = Jobs.described(spark, s"ann: $kind files $table")(
      inProbed.select("file").distinct().as[String].collect().toSeq.sorted)
    val scored = SidecarMaintenance.readCandidateFiles(spark, table, candFiles) match {
      case Some(corpus) => candidates
        .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")),
          Seq("neighbor_id"))
        .withColumn("cos", VectorFunctions.cosine(col("q_vec"), col("c_vec")))
      // no candidate file survives: nothing to score
      case None => candidates.withColumn("cos", lit(null).cast("double")).limit(0)
    }
    RankTopK.frame(scored, k, label)
  }
}
