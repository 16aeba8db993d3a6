package graft.sinks

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.ListedParquet

/** The index family's shared DELTA-COMMIT protocol: mutate a parquet
  * sidecar directory by ADDING a batch of new rows (written as fresh
  * parquet files, preserving any partition-directory layout) and
  * DELETING a named set of existing sidecar files — without ever
  * rewriting the untouched remainder. This is what makes persisted
  * index maintenance O(delta): a refresh appends the new corpus
  * files' rows and rewrites ONLY the sidecar files that carried a
  * vanished corpus file's rows ([[Purge]]'s minimal-rewrite
  * discipline, generalized from the data table to its sidecars — and
  * the same per-file-partial layout [[InvertedIndex]]'s
  * `_termstats`/`_doclen` pioneered).
  *
  * Crash contract: each commit is one [[FileDelta]] (staging
  * `.maint-staging`, journal `_maint_journal`), run under a lease
  * that makes the single-writer assumption loud; [[recover]] heals it
  * on entry to every maintenance operation. The commit's COVERAGE
  * DELTA is a staged log entry of that same commit, so the coverage
  * log always matches the sidecar. [[requireClean]] lets directory
  * read paths refuse loudly while a maintenance journal is present.
  *
  * 100 TB posture: bytes written per commit = staged batch +
  * survivors of the doomed files. A refresh that appends 1 GB to a
  * 100 TB corpus writes ~1 GB of sidecar, whatever the corpus size —
  * the O(corpus) rewrite this protocol replaces is the difference
  * between "refresh per micro-batch" being a design and a disaster.
  * The cost shifted to: small sidecar files accumulate per commit —
  * [[compactSmall]] repacks ONLY that accumulation (files below a
  * size threshold) through the same journaled protocol, so the
  * periodic amortizer is O(accumulated deltas), never O(sidecar);
  * [[compact]] (the full repack) stays available as an explicit
  * offline operation.
  */
object SidecarMaintenance {

  private val Delta = FileDelta(".maint-staging", "_maint_journal", "_GRAFT_MAINT_COMMIT")
  private[graft] val CommitMarker = Delta.marker
  private[graft] def stagingPath(dir: String) = Delta.staging(dir)
  private[graft] def journalPath(dir: String) = Delta.journal(dir)
  private[graft] def leasePath(dir: String) = new Path(dir, "_maint_lease")

  /** Single-writer DETECTION for [[commitDelta]]: an atomic
    * create-if-absent lease held for the commit's duration, so a
    * second maintainer whose commit overlaps a live one fails LOUDLY
    * at its own commit entry instead of interleaving staging/journal
    * writes and corrupting the protocol — the family's standing
    * single-writer contract, now checked instead of assumed. A lease
    * with NO staging and NO journal behind it AND older than the
    * grace window is an orphan (a hard kill inside the commit's
    * bookkeeping edges): broken and re-taken, so crashed runs
    * self-heal without an operator step. The grace window covers the
    * live holder's lease-to-first-staging-write gap (a Spark job
    * setup can take seconds; without the age check a concurrent
    * maintainer probing inside that gap would misclassify the LIVE
    * lease as orphaned and break it — the exact interleaving the
    * lease exists to make loud). A lease that outlives the grace
    * with no window behind it can also be a holder past its swap
    * doing post-commit bookkeeping — breaking it then is harmless,
    * the sidecar is already consistent. Entry-level races (a second
    * maintainer's recover() healing state a live writer is still
    * producing) remain outside the contract — this guard makes the
    * commit overlap, the corruption vector, loud. */
  private[graft] var leaseGraceMs: Long = 60000L
  private[graft] def acquireLease(
      fs: FileSystem,
      dir: String,
      owner: String = java.util.UUID.randomUUID().toString): Unit = {
    val lease = leasePath(dir)
    val ownerBytes = owner.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def localFile(p: Path): Option[java.io.File] = fs match {
      case l: org.apache.hadoop.fs.LocalFileSystem => Some(l.pathToFile(p))
      case r: org.apache.hadoop.fs.RawLocalFileSystem => Some(r.pathToFile(p))
      case _ => None
    }
    // `src` moved to `dst` unless `dst` exists. The local filesystems'
    // rename REPLACES an existing target, so there the move is a hard
    // link, which the kernel refuses atomically when `dst` exists, then
    // an unlink of `src`; HDFS and object stores refuse a rename onto
    // an existing path themselves.
    def moveNoReplace(src: Path, dst: Path): Boolean =
      (localFile(src), localFile(dst)) match {
        case (Some(s), Some(d)) =>
          try {
            java.nio.file.Files.createLink(d.toPath, s.toPath)
            java.nio.file.Files.delete(s.toPath)
            true
          } catch { case _: java.io.IOException => false }
        case _ =>
          try fs.rename(src, dst)
          catch { case _: java.io.IOException => false }
      }
    // EXCLUSIVE create is the mutex, and the lease is born holding its
    // owner id. HDFS and object stores make fs.create(path,
    // overwrite=false) atomic server-side; the LOCAL filesystems'
    // implementation is check-then-act, which under two racing
    // acquirers can succeed TWICE — there the id is written to a
    // unique sibling and published with [[moveNoReplace]]'s link.
    def create(): Unit = {
      fs.mkdirs(new Path(dir))
      localFile(lease) match {
        case Some(_) =>
          val tmp = new Path(dir, s"_maint_lease.new-${java.util.UUID.randomUUID()}")
          java.nio.file.Files.write(localFile(tmp).get.toPath, ownerBytes)
          if (!moveNoReplace(tmp, lease)) {
            java.nio.file.Files.deleteIfExists(localFile(tmp).get.toPath)
            throw new java.io.IOException(s"lease exists: $lease")
          }
        case None =>
          val out = fs.create(lease, false)
          try out.write(ownerBytes)
          finally out.close()
      }
    }
    def inFlight: Boolean =
      fs.exists(journalPath(dir)) || fs.exists(stagingPath(dir))
    def young: Boolean =
      try System.currentTimeMillis() -
        fs.getFileStatus(lease).getModificationTime < leaseGraceMs
      catch { case _: java.io.FileNotFoundException => false } // released
    def ownerOf(p: Path): String =
      try {
        val in = fs.open(p)
        val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
        if (s.isEmpty) "<unrecorded>" else s
      } catch { case _: java.io.IOException => "<unrecorded>" }
    def holder: String = ownerOf(lease)
    try create()
    catch {
      case _: java.io.IOException =>
        // The holder's OWNER ID is read BEFORE the expiry check on
        // purpose: it is the claim-identity anchor below (owner ids
        // are unique per acquirer), and the read-then-verify order
        // closes both race interleavings — a lease swapped in AFTER
        // this read fails the expiry check right here (it is young),
        // and one swapped in after the expiry check fails the owner
        // comparison at claim time. Unlike mtime, the owner survives
        // copy-based renames (object stores re-stamp modification
        // time on rename).
        val orphanOwner = holder
        require(!inFlight && !young,
          s"another maintainer ($holder) holds the commit lease at " +
            s"$lease — sidecar maintenance is single-writer: serialize " +
            "maintainers (a crashed run heals through recover(), which " +
            "consumes its journal and staging first; its lease expires " +
            "after the grace window)")
        // Orphan: CLAIM it with an atomic rename to a unique name.
        // Two breakers racing the old check-then-delete-then-create
        // sequence could BOTH win (B's delete removed A's fresh
        // lease); a rename succeeds for exactly one of them — the
        // loser's source is gone and it must not proceed.
        val claim = new Path(dir, s"_maint_lease.broken-$owner")
        val claimed =
          try fs.rename(lease, claim)
          catch { case _: java.io.IOException => false }
        // The rename can succeed against the WRONG file: if this
        // breaker stalls between the `young` check and the rename, a
        // concurrent breaker can complete its whole claim → delete →
        // create sequence, and the delayed rename then claims the
        // winner's FRESH lease — both maintainers would proceed.
        // Validate the claimed file really is the expired orphan:
        // primarily by owner identity (rename-proof everywhere); for
        // owner-less leases (pre-owner-id writers, bare fixtures) fall
        // back to mtime, which rename preserves on real filesystems —
        // there a young claim is someone's live lease. Either failure
        // puts the file back and refuses.
        if (claimed) {
          val claimAge =
            try System.currentTimeMillis() -
              fs.getFileStatus(claim).getModificationTime
            catch { case _: java.io.FileNotFoundException => Long.MaxValue }
          val isOrphan =
            if (orphanOwner != "<unrecorded>") ownerOf(claim) == orphanOwner
            else claimAge >= leaseGraceMs
          if (!isOrphan) {
            val restored = moveNoReplace(claim, lease)
            require(requirement = false,
              s"another maintainer ($holder) " +
                s"re-acquired the commit lease at $lease during our orphan " +
                "takeover — sidecar maintenance is single-writer; let the " +
                "winner's commit finish" +
                (if (restored) ""
                 else s" (could not restore its lease from $claim — a third " +
                   "acquirer raced the restore; resolve the claim file " +
                   "manually before the next maintenance run)"))
          }
        }
        if (!claimed) {
          // Two ways the source can be gone: (a) another orphan
          // breaker won the claim race — its fresh lease reappears
          // within moments (claim → delete → create is three local
          // metadata ops); (b) the live holder RELEASED it between
          // our failed create and the rename — the lease stays
          // absent. Wait out (a) FIRST, so the breaker that won the
          // claim is the one that re-creates the lease.
          var waited = 0
          while (!fs.exists(lease) && waited < 20) {
            Thread.sleep(100); waited += 1
          }
          require(!fs.exists(lease),
            s"another maintainer ($holder) won the orphan takeover " +
              s"of the commit lease at $lease — sidecar maintenance " +
              "is single-writer; let the winner's commit finish")
          // released: the lease is free — same exclusive create as
          // the front door, loud if yet another acquirer slips in
          try create()
          catch {
            case _: java.io.IOException =>
              require(requirement = false,
                s"another maintainer ($holder) took the commit " +
                  s"lease at $lease after its holder released it — " +
                  "sidecar maintenance is single-writer")
          }
          return
        }
        fs.delete(claim, false)
        // Between our claim and this create a THIRD acquirer can slip
        // in (it sees no lease at all); the exclusive create keeps
        // the winner unique, and a failure here is the same loud
        // single-writer refusal.
        try create()
        catch {
          case _: java.io.IOException =>
            require(requirement = false,
              s"another maintainer ($holder) took the commit lease at " +
                s"$lease between our orphan claim and re-create — " +
                "sidecar maintenance is single-writer")
        }
    }
  }

  private def fsFor(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // test hook: per-root counter of recursive walks / corpus listings,
  // so specs can pin "this operation never lists the sidecar (or
  // corpus)" — the steady-state contract of [[planDelta]],
  // [[planAppend]] and [[compactSmall]]. OPT-IN: only roots a spec
  // registered with [[trackWalks]] are counted (computeIfPresent), so
  // production paths never grow this map.
  private[graft] val walkCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Register `dir` for walk counting (test/witness hook). */
  private[graft] def trackWalks(dir: String): Unit =
    walkCounts.putIfAbsent(new Path(dir).toString, 0L)

  private[graft] def countWalk(root: Path): Unit =
    walkCounts.computeIfPresent(root.toString, (_, v) => v + 1)

  private def walkStatuses(fs: FileSystem, root: Path): Seq[FileStatus] = {
    countWalk(root)
    def walk(p: Path): Seq[FileStatus] =
      fs.listStatus(p).toSeq.filter(s => FileDelta.visible(s.getPath)).flatMap { s =>
        if (s.isDirectory) walk(s.getPath) else Seq(s)
      }
    walk(root)
  }

  /** Every visible data file under `dir`, any partition depth. */
  def dataFiles(spark: SparkSession, dir: String): Seq[String] =
    walkStatuses(fsFor(spark, dir), new Path(dir))
      .map(_.getPath.toString).sorted

  /** (path, length) of every visible data file under `dir` — the
    * FALLBACK size-tier selector for [[compactSmall]] (steady state
    * reads sizes from the coverage log instead). */
  def dataFileSizes(spark: SparkSession, dir: String): Seq[(String, Long)] =
    walkStatuses(fsFor(spark, dir), new Path(dir))
      .map(s => (s.getPath.toString, s.getLen)).sortBy(_._1)

  /** Add `newRows` (laid out under `partCols` directories) and drop
    * `doomed` (absolute sidecar file paths) as ONE recoverable
    * commit. Caller shapes `newRows`' partitioning/order (salting,
    * range-sort) before the call; rows must carry `partCols` and the
    * covered-corpus `file` column (every family sidecar does — it is
    * what the coverage log records). */
  def commitDelta(
      spark: SparkSession,
      dir: String,
      newRows: Option[DataFrame],
      doomed: Seq[String],
      partCols: Seq[String],
      statsCol: Option[String] = None): Unit = {
    import spark.implicits._
    if (newRows.isEmpty && doomed.isEmpty) return
    val fs = fsFor(spark, dir)
    acquireLease(fs, dir)
    try commitDeltaLocked(spark, fs, dir, newRows, doomed, partCols, statsCol)
    finally fs.delete(leasePath(dir), false)
  }

  private def commitDeltaLocked(
      spark: SparkSession,
      fs: FileSystem,
      dir: String,
      newRows: Option[DataFrame],
      doomed: Seq[String],
      partCols: Seq[String],
      statsCol: Option[String]): Unit = {
    import spark.implicits._
    val staging = stagingPath(dir)
    fs.delete(staging, true)
    newRows match {
      case Some(rows) => graft.core.Jobs.described(spark,
        s"sidecar: stage delta ${new Path(dir).getName}") {
        val w = rows.write.mode(SaveMode.Overwrite)
        (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
          .parquet(staging.toString)
      }
      case None => fs.mkdirs(staging)
    }
    // The commit's coverage delta — computed from the STAGED files
    // (a delta-sized read) BEFORE the commit point and staged as a
    // log entry of the same commit, so the coverage log can never
    // drift from the sidecar: rollback discards it with the staging
    // dir, roll-forward moves it into `_coverage` after the data
    // files it describes. With `statsCol` the
    // record also carries each pair's id min/max — what lets
    // [[keptRows]] prune the clash guard's file list driver-side.
    val doomedRel = doomed.map(relPath(dir, _))
    val stagedStatuses = walkStatuses(fs, staging)
      .filterNot(_.getPath.getName == CommitMarker)
    val stagedFiles = stagedStatuses.map(_.getPath.toString)
    val stagedRecs: Array[CovRec] =
      if (stagedFiles.isEmpty) Array.empty
      else footerCovRecs(spark, staging, stagedStatuses, statsCol)
        .getOrElse(graft.core.Jobs.described(spark,
          s"sidecar: staged stats ${new Path(dir).getName}") {
        // explicit schema (what we just wrote, nullable to match the
        // parquet round trip) — skips the read's schema-inference
        // job; partition columns are pruned by the projections below,
        // so their dir-parsed type is irrelevant
        val stagedSchema = newRows.map(r => ListedParquet.asNullable(r.schema))
        val rdr = spark.read.option("basePath", staging.toString)
        val base = stagedSchema.fold(rdr)(rdr.schema)
          .parquet(stagedFiles: _*)
        statsCol match {
          case Some(sc) =>
            // a row whose id does NOT cast to long is invisible to
            // min/max — record the SENTINEL for any pair carrying
            // one, so range pruning can never hide it from the guard
            base.groupBy(col("file"),
                col("_metadata.file_path").as("__sfile"),
                col("_metadata.file_size").as("__slen"))
              .agg(min(col(sc).cast("long")).as("__lo"),
                max(col(sc).cast("long")).as("__hi"),
                sum(when(col(sc).cast("long").isNull, 1L).otherwise(0L))
                  .as("__nulls"))
              .as[(String, String, Long, Option[Long], Option[Long], Long)]
              .collect()
              .map { case (c, sf, len, lo, hi, nulls) =>
                if (nulls > 0 || lo.isEmpty)
                  CovRec(c, relPath(staging.toString, sf), len,
                    Long.MinValue, Long.MaxValue)
                else CovRec(c, relPath(staging.toString, sf), len,
                  lo.get, hi.get) }
          case None =>
            base.select(col("file"),
                col("_metadata.file_path").as("__sfile"),
                col("_metadata.file_size").as("__slen"))
              .distinct().as[(String, String, Long)].collect()
              .map { case (c, sf, len) =>
                CovRec(c, relPath(staging.toString, sf), len,
                  Long.MinValue, Long.MaxValue) }
        }
      })
    val logBefore = covRecords(fs, dir)
    val seq = (logBefore.map(_._1) :+ 0L).max + 1
    val covOut = fs.create(new Path(coveragePath(staging.toString), f"delta-$seq%09d"))
    covOut.write((
      doomedRel.map(r => s"-\t$r") ++
        stagedRecs.map(rec => "+\t" + rec.line))
      .mkString("\n").getBytes("UTF-8"))
    covOut.close()
    // at the commit point the swap has not yet run — the live-window
    // state snapshot readers must serve through (test/witness hook)
    Delta.commit(fs, dir, doomed, () => {
      val hook = onCommitPoint
      if (hook != null) hook(dir)
    })
    advanceMemo(spark, fs, dir, covSignature(logBefore), doomedRel.toSet, stagedRecs)
  }

  /** One column chunk's footer statistics where they equal Spark's
    * cast-to-long: a plain signed INT32/INT64 column (no logical type,
    * or a signed int annotation) with statistics and a known null
    * count. Returns (null count, [min, max] of the non-null values, if
    * any); None for anything else — fall back, never guess. Each
    * caller keeps its own rule for nulls. */
  private def footerLongStats(
      cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData)
      : Option[(Long, Option[(Long, Long)])] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val pt = cc.getPrimitiveType
    val okType = pt.getPrimitiveTypeName match {
      case PrimitiveTypeName.INT64 | PrimitiveTypeName.INT32 =>
        pt.getLogicalTypeAnnotation match {
          case null => true
          case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
          case _ => false
        }
      case _ => false
    }
    val cst = cc.getStatistics
    if (!okType || cst == null || cst.isEmpty || !cst.isNumNullsSet) None
    else if (!cst.hasNonNullValue) Some((cst.getNumNulls, None))
    else (cst.genericGetMin, cst.genericGetMax) match {
      case (a: java.lang.Long, b: java.lang.Long) =>
        Some((cst.getNumNulls, Some((a.longValue, b.longValue))))
      case (a: java.lang.Integer, b: java.lang.Integer) =>
        Some((cst.getNumNulls, Some((a.longValue, b.longValue))))
      case _ => None
    }
  }

  /** Driver-side derivation of a commit's coverage records from the
    * staged parquet FOOTERS — zero Spark jobs (r18, guide §5: the
    * driver does metadata work, not data work — but footer metadata
    * IS the cheap exact answer here). Applicable exactly when every
    * staged file provably covers ONE corpus file (footer min == max on
    * the `file` column) and the stats column's bounds are footer-exact
    * (plain signed INT32/INT64 physical type, so Spark's cast-to-long
    * equals the footer min/max; any nulls degrade that pair to the
    * full-range sentinel, exactly as the aggregation does). The
    * streaming / refresh cadence stages one corpus file's rows per
    * commit, so the steady state never pays the staged-stats Spark
    * job; rewrites that interleave many corpus files per staged file
    * (compaction, vanish-survivor rewrites) return None and keep the
    * aggregation. Any surprise — missing or truncated statistics (a
    * truncated binary max no longer equals its min, and a truncated
    * min loses its ".parquet" suffix), unexpected physical/logical
    * type, unset null counts — also returns None: fall back, never
    * guess. At 100 TB this is one footer RPC per staged file instead
    * of a scheduled job re-reading the staged bytes. */
  private[graft] def footerCovRecs(
      spark: SparkSession,
      staging: Path,
      staged: Seq[FileStatus],
      statsCol: Option[String]): Option[Array[CovRec]] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val out = Array.newBuilder[CovRec]
    staged.foreach { st =>
      val footer =
        try ParquetMemo.footer(conf, st.getPath)
        catch { case _: java.io.IOException => return None }
      val bs = footer.getBlocks.asScala.filter(_.getRowCount > 0)
      if (bs.nonEmpty) {
        var corpus: String = null
        var lo = Long.MaxValue
        var hi = Long.MinValue
        var nulls = 0L
        var nonNull = false
        for (b <- bs) {
          val cols = b.getColumns.asScala
          val fc = cols.find(_.getPath.toDotString == "file")
            .getOrElse(return None)
          if (fc.getPrimitiveType.getPrimitiveTypeName !=
              PrimitiveTypeName.BINARY) return None
          val fst = fc.getStatistics
          if (fst == null || fst.isEmpty || !fst.isNumNullsSet ||
              fst.getNumNulls != 0 || !fst.hasNonNullValue) return None
          val mn = fst.genericGetMin
            .asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
          val mx = fst.genericGetMax
            .asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
          if (mn != mx || !mn.endsWith(".parquet")) return None
          if (corpus == null) corpus = mn
          else if (corpus != mn) return None
          statsCol.foreach { sc =>
            val cc = cols.find(_.getPath.toDotString == sc)
              .getOrElse(return None)
            val (n, range) = footerLongStats(cc).getOrElse(return None)
            // nulls degrade the pair to the full-range sentinel below
            nulls += n
            range.foreach { case (bLo, bHi) =>
              nonNull = true
              if (bLo < lo) lo = bLo
              if (bHi > hi) hi = bHi
            }
          }
        }
        val rel = relPath(staging.toString, st.getPath.toString)
        out += (statsCol match {
          case Some(_) if nulls == 0 && nonNull =>
            CovRec(corpus, rel, st.getLen, lo, hi)
          case _ =>
            CovRec(corpus, rel, st.getLen, Long.MinValue, Long.MaxValue)
        })
      }
    }
    Some(out.result())
  }

  /** One coverage-log entry: a (covered corpus file → sidecar file)
    * pair with the sidecar file's byte length and the pair's id
    * range under the family's stats column ([lo, hi]; the full-range
    * sentinel when the commit recorded no stats — conservative
    * "could contain anything"). */
  private[graft] final case class CovRec(
      corpus: String, rel: String, len: Long, lo: Long, hi: Long) {
    def statless: Boolean = lo == Long.MinValue && hi == Long.MaxValue
    /** Serialized record tail (after the `+\t` on delta lines). */
    def line: String =
      if (statless) s"$corpus\t$rel\t$len"
      else s"$corpus\t$rel\t$len\t$lo\t$hi"
  }

  private[graft] object CovRec {
    /** Parse a base line / the tail of a `+` delta line; None = torn. */
    def parse(fields: Array[String]): Option[CovRec] = fields match {
      case Array(c, r, len) =>
        len.toLongOption.map(CovRec(c, r, _, Long.MinValue, Long.MaxValue))
      case Array(c, r, len, lo, hi) =>
        for {
          l <- len.toLongOption
          a <- lo.toLongOption
          b <- hi.toLongOption
        } yield CovRec(c, r, l, a, b)
      case _ => None
    }
  }

  /** A refresh's file-set arithmetic, shared by every index family
    * member (IVF cells, LSH buckets, PQ codes, inverted postings,
    * retrieval stats): which corpus files the sidecar covers, which
    * SIDECAR files carry each (the rewrite-targeting map), diffed
    * against the corpus' current file set. Built by [[planDelta]]
    * from the coverage log (or one column-pruned scan); consumed by
    * [[applyDelta]]. */
  final case class DeltaPlan(
      pairs: Array[(String, String)],
      vanished: Set[String],
      fresh: Seq[String],
      stats: Map[String, (Long, Long)] = Map.empty) {
    def isEmpty: Boolean = fresh.isEmpty && vanished.isEmpty
    /** Sidecar files that carry a vanished corpus file's rows — the
      * ONLY sidecar files the delta rewrites. */
    def doomed: Seq[String] =
      pairs.filter(p => vanished(p._1)).map(_._2).distinct.sorted
  }

  /** Heals any interrupted commit, then plans the delta between the
    * sidecar's covered file set and `current`. The coverage map
    * comes from the `_coverage` log when it reconstructs cleanly
    * (steady state: one small directory listing against the in-JVM
    * memo — no corpus-file-count work at all), else from one
    * column-pruned scan that re-checkpoints the log. `replaced` as
    * in [[planAppend]]: covered names whose binding is known stale
    * (an idempotent replay republished them) plan vanished+fresh
    * even though the name is present in `current`. */
  def planDelta(
      spark: SparkSession,
      dir: String,
      current: Set[String],
      replaced: Set[String] = Set.empty,
      replacedPrefixes: Seq[String] = Nil): DeltaPlan = {
    recover(spark, dir)
    val v = planView(spark, dir)
    val vanish = (v.indexed -- current) ++ replaced.filter(v.indexed) ++
      prefixMatches(v.indexed, replacedPrefixes)
    DeltaPlan(v.pairsAbs, vanish,
      (current -- (v.indexed -- vanish)).toSeq.sorted, v.stats)
  }

  /** Covered names whose BASENAME starts with any of `prefixes` —
    * the crash-durable form of `replaced`: a replay attempt's sweep
    * can only report names that still EXIST on disk, so siblings a
    * PRIOR crashed attempt already deleted (publish landed, refresh
    * didn't commit) are invisible to it — but the batch's
    * deterministic name prefix identifies every coverage entry any
    * attempt of that batch ever produced, whatever this attempt's
    * sweep observed. Empty prefixes (every non-replay call) cost
    * nothing. */
  private def prefixMatches(
      indexed: Set[String], prefixes: Seq[String]): Set[String] =
    if (prefixes.isEmpty) Set.empty
    else {
      // Prefix shape guard: a bare basename startsWith would turn a
      // caller's 'ingest-b1' into a match for b1 AND b10..b19 —
      // vanishing unrelated batches' coverage (broad re-indexing, or
      // dropped coverage until the slow reconcile when combined with
      // a partial appendedOnly set). Internal producers always emit
      // trailing-delimiter prefixes ('ingest-b7-'); require the same
      // of the public refresh() APIs that forward user input.
      prefixes.foreach { p =>
        require(p.nonEmpty && !p.contains('/') && !p.last.isLetterOrDigit,
          s"replaced-name prefix '$p' must be a bare file-NAME prefix " +
            "ending in a non-alphanumeric delimiter (e.g. 'ingest-b7-'): " +
            "without one, 'ingest-b1' also matches ingest-b10..b19 and " +
            "silently vanishes unrelated batches' coverage")
      }
      indexed.filter { n =>
        val base = n.substring(n.lastIndexOf('/') + 1)
        prefixes.exists(base.startsWith)
      }
    }

  /** The coverage map's records with their planning view —
    * absolute-path pairs, the covered-corpus-file Set and the
    * per-sidecar-file id-range stats. Memoized under the `_coverage`
    * listing it was read (and validated) at, and advanced
    * INCREMENTALLY by this JVM's own append-only commits, so a
    * streaming cadence's per-batch [[planAppend]] does O(batch)
    * driver work instead of rebuilding an O(covered-file-count)
    * array and Set every micro-batch. */
  private final case class CovView(
      recs: Array[CovRec],
      pairsAbs: Array[(String, String)],
      indexed: Set[String],
      stats: Map[String, (Long, Long)]) {
    def appended(dir: String, staged: Array[CovRec]): CovView =
      CovView(recs ++ staged,
        pairsAbs ++ staged.map(r => (r.corpus, s"$dir/${r.rel}")),
        indexed ++ staged.iterator.map(_.corpus),
        stats ++ foldStats(dir, staged))
  }

  private object CovView {
    def apply(dir: String, recs: Array[CovRec]): CovView = {
      val pairs = recs.map(rec => (rec.corpus, s"$dir/${rec.rel}"))
      CovView(recs, pairs, pairs.map(_._1).toSet, foldStats(dir, recs))
    }
  }

  /** Fold per-pair records into per-sidecar-file [lo, hi] ranges —
    * statless records poison their file to the full-range sentinel
    * (absent from the map = "could contain anything" = never
    * pruned). */
  private def foldStats(
      dir: String, recs: Array[CovRec]): Map[String, (Long, Long)] = {
    val m = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
    val poisoned = scala.collection.mutable.HashSet.empty[String]
    recs.foreach { rec =>
      val f = s"$dir/${rec.rel}"
      if (rec.statless) { poisoned += f; m.remove(f) }
      else if (!poisoned(f)) {
        val cur = m.get(f)
        m.put(f, cur.fold((rec.lo, rec.hi))(c =>
          (math.min(c._1, rec.lo), math.max(c._2, rec.hi))))
      }
    }
    m.toMap
  }

  /** The planning view, healing the log with one scan when absent,
    * torn or stale — LAZILY: bootstrap and out-of-band rewrites don't
    * pay an extra scan, the first refresh after them does this one
    * fallback scan and every refresh from then on plans for free. */
  private def planView(spark: SparkSession, dir: String): CovView =
    readCoverage(spark, dir)
      .getOrElse(checkpointCoverage(spark, dir, scanPairs(spark, dir)))

  /** Corpus files the sidecar currently covers, from the coverage
    * log (memoized — no sidecar scan, no corpus listing); None when
    * the log is absent/torn (caller falls back to its own source of
    * truth, which also heals the log on the next refresh). */
  def coveredFiles(spark: SparkSession, dir: String): Option[Set[String]] =
    readCoverage(spark, dir).map(_.indexed)

  /** APPEND-ONLY plan: `candidates` (fully-qualified corpus file
    * paths — e.g. the files a streaming micro-batch just published)
    * minus what the sidecar already covers. No vanish detection and
    * NO corpus listing — where [[planDelta]]'s `current` costs an
    * O(corpus-file-count) directory walk per call, this plans a
    * per-batch refresh in O(batch) driver work off the memoized
    * coverage map. The contract: deletions are reconciled by a full
    * [[planDelta]]-based refresh on a slower cadence (the streaming
    * drivers run one at their compaction interval); until then a
    * vanished file's rows are simply still served, exactly as they
    * would be between any two full refreshes.
    *
    * `replaced` names corpus files whose COVERED BINDING is known
    * stale even though the name may still exist: an idempotent
    * replay swept a prior delivery and republished the same names
    * with possibly different content (a config-changed replay
    * re-packs the same rows across a different part count — see
    * [[graft.streaming.StreamingOps.idempotentBatchAppend]]). The
    * coverage map keys purely on file NAME, so without this a
    * republished name no-ops as "already covered" and the index
    * silently serves the old row set forever (and the eventual full
    * reconcile drops the removed siblings' rows without ever
    * re-indexing the changed survivor). Covered `replaced` names are
    * planned vanished+fresh: their old sidecar rows rewrite away and
    * the republished content (those of them in `candidates`) indexes
    * fresh — O(replaced), and replaced is empty on every
    * first-delivery batch, so the streaming steady state pays
    * nothing. `replacedPrefixes` is the CRASH-DURABLE complement
    * (see [[prefixMatches]]): the sweep can only report names still
    * on disk, so a replay whose PRIOR attempt crashed between its
    * sweep/publish and its refresh commit would under-report — the
    * batch's deterministic name prefix vanishes every covered entry
    * any attempt of the batch produced, whatever this attempt
    * observed. */
  private def planAppend(
      spark: SparkSession,
      dir: String,
      candidates: Set[String],
      replaced: Set[String] = Set.empty,
      replacedPrefixes: Seq[String] = Nil): DeltaPlan = {
    recover(spark, dir)
    val v = planView(spark, dir)
    val vanish = replaced.filter(v.indexed) ++
      prefixMatches(v.indexed, replacedPrefixes)
    DeltaPlan(v.pairsAbs, vanish,
      (candidates -- (v.indexed -- vanish)).toSeq.sorted, v.stats)
  }

  // ── coverage log ────────────────────────────────────────────────
  // planDelta's (corpus file → sidecar file) map, persisted at the
  // sidecar root as a LOG-STRUCTURED manifest so a refresh PLANS
  // from delta-sized reads instead of scanning the sidecar's `file`
  // column — and so each COMMIT appends one O(commit) delta record
  // instead of rewriting an O(corpus-file-count) manifest (the r14
  // form's residual driver term). Records also carry each sidecar
  // file's BYTE LENGTH, so [[compactSmall]]'s size-tier victim
  // selection reads the (memoized) map instead of a recursive
  // listing — the cadence path does zero O(file-count) driver work.
  // Layout under `_coverage/`:
  //   base-<seq>   full snapshot of the map as of commit <seq>,
  //                lines `<corpus>\t<sidecarRel>\t<bytes>`
  //   delta-<seq>  one commit's record: `-\t<sidecarRel>` drops
  //                every pair carried by that sidecar file,
  //                `+\t<corpus>\t<sidecarRel>\t<bytes>` adds a pair
  // Current map = latest base + every delta with seq > its seq, in
  // order. Delta records ride INSIDE the journaled commit window
  // (staged log entries of the [[FileDelta]] commit), so under the
  // single-writer contract the log is exactly consistent with the
  // sidecar at every recovered crash point — which is what lets the
  // steady state trust it without a full recursive listing. The
  // listing-based validation still runs whenever the log is loaded
  // from DISK (fresh JVM, or a [[LakeMemo]] miss on the `_coverage`
  // listing — one listing, O(commits since checkpoint), whose
  // path:length:mtime signature changes with any commit, checkpoint,
  // republish or out-of-band rewrite of the log): any out-of-band
  // mutation, torn record, or parse failure fails that check and
  // planDelta falls back to the scan, healing the log in place.
  // PLANNING correctness never
  // depends on the log: a stale-missing entry re-indexes a file and
  // trips the duplicate guard loudly; the disk-load validation
  // catches the rest. The one thing that TRUSTS the log is the
  // guard's file-list pruning off the recorded id ranges
  // ([[keptRows]]) — the table-format trust model (Delta/Iceberg
  // manifest min/max stats are trusted the same way): the ranges are
  // written inside the same journaled commit as the data files they
  // describe and guarded by the (name, length) listing validation,
  // so only an out-of-band rewrite that preserves BOTH a file's name
  // and its exact byte length could plant a wrong range — the same
  // adversary defeats any manifest system. Every ~CheckpointEvery
  // deltas the log is folded into a fresh base (amortized
  // O(file-count / CheckpointEvery) per commit).
  //
  // Memory posture: the memoized view holds one (corpus path,
  // sidecar-relative path, length) triple per corpus file — the
  // manifest-in-driver model every table format uses (~100 MB at a
  // million files, well inside a production driver). The log layout
  // deliberately supports the scale-out escape hatch — base and
  // delta records are line-oriented and can be folded as a Dataset
  // on executors — but at the file counts where that matters the
  // lake belongs in a real table format anyway, so the in-driver
  // fold stays the implemented path.

  private[graft] def coveragePath(dir: String) = new Path(dir, "_coverage")
  private val CheckpointEvery = 64

  private def relPath(dir: String, f: String): String = {
    val base = new Path(dir).toUri.getPath.stripSuffix("/")
    new Path(f).toUri.getPath.stripPrefix(base).stripPrefix("/")
  }

  // The family-agnostic heal scan records no id stats (it cannot
  // know the family's stats column) — healed entries carry the
  // full-range sentinel until a later commit/compaction rewrites
  // their files with stats. Conservative: unpruned, never wrong.
  private def scanPairs(
      spark: SparkSession, dir: String): Array[CovRec] = {
    import spark.implicits._
    val files = dataFiles(spark, dir)
    if (files.isEmpty) return Array.empty
    ParquetMemo.readFiles(spark, dir, files)
      .select(col("file"), col("_metadata.file_path").as("__sfile"),
        col("_metadata.file_size").as("__slen"))
      .distinct().as[(String, String, Long)].collect()
      .map { case (c, sf, len) =>
        CovRec(c, relPath(dir, sf), len, Long.MinValue, Long.MaxValue) }
  }

  /** The coverage log's records: (seq, isBase, status), sorted by seq. */
  private def covRecords(
      fs: FileSystem, dir: String): Seq[(Long, Boolean, FileStatus)] = {
    val cp = coveragePath(dir)
    if (!fs.exists(cp)) return Seq.empty
    fs.listStatus(cp).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("base-"))
        n.stripPrefix("base-").toLongOption.map((_, true, st))
      else if (n.startsWith("delta-"))
        n.stripPrefix("delta-").toLongOption.map((_, false, st))
      else None
    }.sortBy(_._1)
  }

  /** The log listing's [[LakeMemo]] signature. */
  private def covSignature(recs: Seq[(Long, Boolean, FileStatus)]): String =
    LakeMemo.signature(recs.map(_._3))

  // The coverage memos, both keyed by the `_coverage` directory and
  // its listing signature: the listing-VALIDATED planning view, and
  // the parsed but unvalidated records snapshot readers resolve. They
  // stay apart because a snapshot hit must never imply validation.
  private val Planned = new LakeMemo.Slot[CovView]
  private val Committed = new LakeMemo.Slot[Array[CovRec]]
  private def covKey(dir: String): String = coveragePath(dir).toString

  /** Carry the planning view across this JVM's own commit: the view
    * held under the pre-commit log listing `sigBefore`, less the
    * doomed files' records plus the staged ones (appended in place
    * for an APPEND-ONLY commit — the streaming hot path, O(batch)),
    * stored under the post-commit listing. Without such a view the
    * next plan loads and validates from disk. */
  private def advanceMemo(
      spark: SparkSession,
      fs: FileSystem,
      dir: String,
      sigBefore: String,
      doomedRel: Set[String],
      stagedRecs: Array[CovRec]): Unit =
    LakeMemo.get(Planned, covKey(dir), sigBefore).foreach { view =>
      val next =
        if (doomedRel.isEmpty) view.appended(dir, stagedRecs)
        else CovView(dir, view.recs.filterNot(p => doomedRel(p.rel)) ++ stagedRecs)
      val after = covRecords(fs, dir)
      if (after.count(!_._2) > CheckpointEvery) checkpointCoverage(spark, dir, next.recs)
      else LakeMemo.put(Planned, covKey(dir), covSignature(after), next)
    }

  /** Fold the log's base + deltas into the record array — the pure
    * parse, shared by the validated planning load ([[readCoverage]])
    * and the snapshot readers ([[committedRecords]]). None when the
    * log is torn or has no base. */
  private def parseCoverage(
      fs: FileSystem,
      recs: Seq[(Long, Boolean, FileStatus)]): Option[Array[CovRec]] = {
    val bases = recs.filter(_._2)
    if (bases.isEmpty) return None
    val (baseSeq, _, base) = bases.last
    def lines(p: Path): Array[String] = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.split("\n")
        .filter(_.nonEmpty)
      finally in.close()
    }
    try {
      var pairs = scala.collection.mutable.LinkedHashSet.empty[CovRec]
      lines(base.getPath).foreach { l =>
        CovRec.parse(l.split("\t")) match {
          case Some(rec) => pairs += rec
          case None => return None // torn base
        }
      }
      recs.filter(r => !r._2 && r._1 > baseSeq).foreach { case (_, _, st) =>
        lines(st.getPath).foreach { l =>
          val fields = l.split("\t")
          fields match {
            case Array("-", r) => pairs = pairs.filterNot(_.rel == r)
            case _ if fields.headOption.contains("+") =>
              CovRec.parse(fields.drop(1)) match {
                case Some(rec) => pairs += rec
                case None => return None // torn delta
              }
            case _ => return None // torn delta
          }
        }
      }
      Some(pairs.toArray)
    } catch { case _: java.io.IOException => None }
  }

  /** The validated coverage map, or None when the log is
    * absent/torn/stale (caller heals with a scan). */
  private def readCoverage(spark: SparkSession, dir: String): Option[CovView] = {
    val fs = fsFor(spark, dir)
    val recs = covRecords(fs, dir)
    if (recs.isEmpty) return None
    val sig = covSignature(recs)
    // disk load on a miss: fold base + deltas, then validate the
    // resulting sidecar file set against the actual listing — the one
    // place the full listing still runs (once per JVM per log
    // generation this JVM did not write itself). Validation is by
    // sidecar file SET and LENGTHS both (an out-of-band rewrite that
    // kept a name but changed bytes also invalidates).
    LakeMemo.get(Planned, covKey(dir), sig).orElse {
      parseCoverage(fs, recs).filter { arr =>
        val actual = dataFileSizes(spark, dir)
          .map { case (f, len) => (relPath(dir, f), len) }.toSet
        arr.map(t => (t.rel, t.len)).toSet == actual
      }.map(arr => LakeMemo.put(Planned, covKey(dir), sig, CovView(dir, arr)))
    }
  }

  /** Fold the map into a fresh `base-<seq>` snapshot and drop the
    * records it supersedes — the amortizer that bounds the log at
    * ~[[CheckpointEvery]] records. Also the fallback-scan healer:
    * O(file-count), paid once per heal / per CheckpointEvery
    * commits, never per refresh. `pairs` carry RELATIVE or absolute
    * sidecar paths (normalized here). Returns the view of `pairs`,
    * memoized under the new log listing once the base landed. */
  private def checkpointCoverage(
      spark: SparkSession, dir: String,
      pairs: Array[CovRec]): CovView = {
    val fs = fsFor(spark, dir)
    val view = CovView(dir, pairs.map(p => p.copy(rel = relPath(dir, p.rel))))
    val recs = covRecords(fs, dir)
    val seqNow = (recs.map(_._1) :+ 0L).max
    val cp = coveragePath(dir)
    fs.mkdirs(cp)
    val tmp = new Path(cp, f".base-$seqNow%09d.tmp")
    val out = fs.create(tmp, true)
    out.write(view.recs.map(_.line).mkString("\n").getBytes("UTF-8"))
    out.close()
    val dest = new Path(cp, f"base-$seqNow%09d")
    fs.delete(dest, false)
    if (fs.rename(tmp, dest)) {
      // superseded records go; a crash mid-cleanup is harmless (the
      // reader takes the max base and ignores deltas at or below it)
      recs.foreach { case (s, isBase, st) =>
        if ((isBase && s < seqNow) || (!isBase && s <= seqNow))
          fs.delete(st.getPath, false)
      }
      LakeMemo.put(Planned, covKey(dir), covSignature(covRecords(fs, dir)), view)
    } else fs.delete(tmp, false)
    view
  }

  /** True when `t` is Spark's load-time missing-path failure — the
    * signal an explicit-path read gives when a listed file vanished
    * before the read planned (the staleness the refs probes
    * reconcile exception-driven). */
  private[graft] def isPathNotFound(t: Throwable): Boolean = t match {
    case st: org.apache.spark.SparkThrowable
        if st.getCondition == "PATH_NOT_FOUND" => true
    case _ => Option(t.getMessage).exists(m =>
      m.contains("PATH_NOT_FOUND") || m.contains("Path does not exist"))
  }

  /** Explicit-path corpus read for probe re-ranks, with
    * EXCEPTION-DRIVEN staleness reconciliation: attempt the read as
    * given — the overwhelmingly common nothing-vanished case costs
    * ZERO extra metadata RPCs — and only when the load reports a
    * missing path take ONE batched corpus listing
    * ([[BloomIndex.dataFilePaths]], O(directories) LIST calls),
    * intersect driver-side, and retry once. This replaces the r15
    * per-file `fs.exists` filter that issued O(candidate-file-count)
    * SERIAL driver round trips on every probe — ~250k namenode/S3
    * calls per probe at a million-file corpus and nProbe/nCells=1/4,
    * paid even when nothing had vanished. Races BETWEEN the retry's
    * plan and its tasks are covered by `ignoreMissingFiles`, exactly
    * as a directory-listed read covers its listing→read window.
    * None when no candidate survives. */
  private[graft] def readCandidateFiles(
      spark: SparkSession,
      table: String,
      files: Seq[String]): Option[DataFrame] = {
    if (files.isEmpty) return None
    def read(fs: Seq[String]): DataFrame =
      ParquetMemo.readFiles(spark, table, fs, ignoreMissing = true)
    try Some(read(files))
    catch {
      case t: Throwable if isPathNotFound(t) =>
        val alive = BloomIndex.dataFilePaths(spark, table).toSet
        val survivors = files.filter(alive)
        if (survivors.isEmpty) None else Some(read(survivors))
    }
  }

  // ── snapshot-isolated sidecar reads ─────────────────────────────
  // Probes used to refuse ([[requireClean]]) for the WHOLE live
  // commit window of every refresh — at streaming cadence an external
  // reader spent a fixed fraction of wall-clock locked out. Instead,
  // a probe resolves its file list from the last COMMITTED coverage
  // generation and reads those files by explicit path: under
  // [[FileDelta]]'s move-staged → flip-coverage → delete-doomed
  // order, that list is fully on disk at every instant of the window,
  // so a probe racing a commit returns the pre-commit truth (or, past
  // the flip, the post-commit truth) — never a torn view and never a
  // spurious refusal. The refusal survives where it belongs: a
  // CRASHED run whose journal persists surfaces through the
  // missing-path → requireClean path below, and sidecars with no
  // committed coverage yet fall back to the directory read guarded
  // exactly as before.

  /** Test/witness hook: invoked with the sidecar dir at the COMMIT
    * POINT of every [[commitDelta]] — marker created, swap not yet
    * run — so specs and graded queries can run a probe strictly
    * inside a real commit window. */
  @volatile private[graft] var onCommitPoint: String => Unit = null

  /** The last COMMITTED coverage generation's records — the memoized
    * planning view or parse when either is held under the log's
    * current listing, else one parse of the log (no listing
    * validation: a snapshot reader trusts the journaled commit
    * protocol exactly as far as the files it then reads by explicit
    * path — a stale record surfaces loudly as a missing-path read,
    * never as wrong rows). None when the log is absent or torn. The
    * parse memoizes in its OWN slot (unvalidated records must never
    * pass for the listing-validated planning view), so a reader-only
    * JVM — the external-prober use case snapshot isolation serves —
    * pays the O(covered-files) log parse once per generation, not per
    * query: the steady-state probe resolves with one `_coverage`
    * listing. */
  private[graft] def committedRecords(
      spark: SparkSession, dir: String): Option[Array[CovRec]] = {
    val fs = fsFor(spark, dir)
    val recs = covRecords(fs, dir)
    if (recs.isEmpty) return None
    val (key, sig) = (covKey(dir), covSignature(recs))
    LakeMemo.get(Planned, key, sig).map(_.recs)
      .orElse(LakeMemo.get(Committed, key, sig))
      .orElse(parseCoverage(fs, recs).map(LakeMemo.put(Committed, key, sig, _)))
  }

  /** Read the sidecar's last-committed snapshot: explicit file list
    * from [[committedRecords]], so the read serves THROUGH a live
    * commit window (see the section note). Falls back to the
    * directory read behind [[requireClean]] when no committed
    * coverage exists (fresh rebuild, never-committed sidecar) — the
    * pre-snapshot behavior. A missing file under the snapshot read
    * means either a crashed run (journal persists → the same loud
    * refusal requireClean always gave) or an out-of-band deletion
    * (surfaced, not swallowed).
    *
    * COST: the relation is planned from the committed file list
    * ([[ParquetMemo.readFiles]]) with no Spark job, on the first read
    * in a JVM as on every later one — one `_coverage` listing to
    * resolve the generation (its log is parsed once per generation per
    * JVM), one listing per distinct parent directory of the committed
    * files (nCells for a cell-partitioned sidecar; a listing job only
    * above `parallelPartitionDiscovery.threshold` directories) and the
    * `basePath` directory check. The schema is one footer read on the
    * driver, memoized under that footer file's status, so it is paid
    * again only when the file it was read from changed. No filesystem
    * round trip is made per file: HDFS returns block locations with
    * the listing, other filesystems derive them from the file status.
    *
    * SCOPE of the in-method retry: PLANNING time checks that every
    * committed file is present in its directory's listing; a missing
    * one fails with `PATH_NOT_FOUND`, and the retry re-resolves the
    * generation once. The returned DataFrame is lazy; a commit that
    * deletes a file AFTER this returns surfaces at the caller's
    * ACTION as a raw missing-path failure. A caller whose action
    * races live maintenance wraps the whole resolve-and-act sequence
    * (probe construction AND its action) in [[retryOnSnapshotMiss]],
    * which re-runs the body once against the newly committed
    * generation — one retry closes the race because commits are
    * serialized by the lease. */
  /** Test hook: invoked with the sidecar dir between a
    * [[snapshotRead]]'s generation RESOLUTION and its read — the gap
    * a later commit's doomed deletions race (specs interleave a real
    * refresh here to drive the retry path deterministically). */
  @volatile private[graft] var onSnapshotResolve: String => Unit = null

  def snapshotRead(spark: SparkSession, dir: String): DataFrame = {
    def resolve(): Option[Seq[String]] =
      committedRecords(spark, dir)
        .map(_.map(r => s"$dir/${r.rel}").distinct.toSeq.sorted)
        .filter(_.nonEmpty)
    resolve() match {
      case Some(files) =>
        val hook = onSnapshotResolve
        if (hook != null) hook(dir)
        try ParquetMemo.readFiles(spark, dir, files, byDirectory = true)
        catch {
          case t: Throwable if isPathNotFound(t) =>
            requireClean(spark, dir) // crashed run → loud refusal
            // a LATER commit's doomed deletions can outrun a reader
            // that resolved the prior generation (the resolve→read
            // gap races one whole commit window): re-resolve the
            // now-committed generation ONCE and retry — the
            // exception-driven pattern of [[readCandidateFiles]],
            // zero cost in the no-race steady state. A second miss
            // means an out-of-band deletion: surface it.
            resolve() match {
              case Some(fresh) if fresh != files =>
                ParquetMemo.readFiles(spark, dir, fresh, byDirectory = true)
              case _ => throw t
            }
        }
      case None =>
        requireClean(spark, dir)
        ParquetMemo.readDir(spark, dir)
    }
  }

  /** ACTION-time companion to [[snapshotRead]]'s planning-time
    * retry: run `body` (a full resolve-and-act sequence — construct
    * the probe off a snapshot AND drive its action) and, if a live
    * commit's doomed deletions outran the resolved generation
    * mid-action, re-run it ONCE — the fresh run re-resolves the
    * now-committed generation. Zero cost in the no-race steady
    * state; a second miss means an out-of-band deletion and
    * surfaces. */
  def retryOnSnapshotMiss[T](body: => T): T =
    try body
    catch { case t: Throwable if isSnapshotMiss(t) => body }

  /** Action-time misses wear different clothes than planning-time
    * ones: a task reading a deleted file fails with
    * FAILED_READ_FILE wrapping a FileNotFoundException (often buried
    * under a SparkException job-failure layer), where the planning
    * path throws PATH_NOT_FOUND directly — walk the cause chain and
    * accept either. FAILED_READ_FILE alone is NOT enough: that error
    * class also wraps corrupt footers, permission failures, and
    * transient IO, and [[retryOnSnapshotMiss]] re-executes a possibly
    * side-effecting body — so the wrapper only counts when a
    * file-not-found actually appears beneath it (as a typed cause, or
    * named in a message when remote serialization flattened the
    * chain). */
  private[graft] def isSnapshotMiss(t: Throwable): Boolean = {
    var cur = t
    var depth = 0
    while (cur != null && depth < 10) {
      if (isPathNotFound(cur) ||
          cur.isInstanceOf[java.io.FileNotFoundException] ||
          Option(cur.getMessage).exists(m =>
            m.contains("FAILED_READ_FILE") &&
              (m.contains("FileNotFoundException") ||
                m.contains("PATH_NOT_FOUND"))))
        return true
      cur = cur.getCause
      depth += 1
    }
    false
  }

  /** The sidecar rows the delta KEEPS (everything but vanished
    * files' rows) — what pre-mutation layout guards check the fresh
    * rows against. None when the sidecar holds no data files at all
    * (every corpus file vanished — nothing to clash with), or when
    * `idRange` prunes every kept file.
    *
    * `idRange` = the fresh batch's [min, max] under the family's
    * stats column: any clash id lies inside it by definition, so
    * kept files whose coverage-recorded id range doesn't overlap are
    * dropped from the FILE LIST here, driver-side — with monotonic
    * ingest ids the guard then constructs a scan over ~no files at
    * all, instead of a scan over every sidecar file that each task
    * re-prunes via parquet footers (O(file-count) footer opens per
    * refresh at scale). Files without recorded stats (healed
    * entries, pre-stats commits) are conservatively kept. */
  def keptRows(
      spark: SparkSession, dir: String, plan: DeltaPlan,
      idRange: Option[(Long, Long)] = None): Option[DataFrame] = {
    import spark.implicits._
    // file list from the plan's coverage pairs (every sidecar data
    // file carries some corpus file, so the pairs' sidecar side IS
    // the data-file set) — no directory listing on the refresh path
    val all = plan.pairs.map(_._2).distinct.toSeq
    val files = idRange match {
      case Some((lo, hi)) => all.filter(f =>
        plan.stats.get(f).forall { case (flo, fhi) => fhi >= lo && flo <= hi })
      case None => all
    }
    if (files.isEmpty) None
    else Some(ParquetMemo.readFiles(spark, dir, files).join(
      broadcast(plan.vanished.toSeq.toDF("file")), Seq("file"), "left_anti"))
  }

  /** [min, max] of column `c` over the given parquet files, derived
    * ENTIRELY from their footers — zero Spark jobs (r18). This is the
    * refresh guard's fresh-bounds probe: the files are the corpus
    * files the batch just appended, so their footers are fresh and
    * exact. None (callers fall back to the aggregation form) unless
    * every file carries usable stats: plain signed INT32/INT64
    * physical type (footer min/max then equals Spark's cast-to-long),
    * known null counts, and ZERO nulls — the same any-null-disables-
    * pruning rule as [[idRangeOf]]. Row-less files contribute
    * nothing; no rows at all => None. */
  def footerIdRange(
      spark: SparkSession, paths: Seq[String], c: String): Option[(Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    var lo = Long.MaxValue
    var hi = Long.MinValue
    var any = false
    paths.foreach { p =>
      val footer =
        try ParquetMemo.footer(conf, new Path(p))
        catch { case _: java.io.IOException => return None }
      for (b <- footer.getBlocks.asScala if b.getRowCount > 0) {
        val cc = b.getColumns.asScala.find(_.getPath.toDotString == c)
          .getOrElse(return None)
        val (n, range) = footerLongStats(cc).getOrElse(return None)
        // any null disables the range
        if (n > 0) return None
        range.foreach { case (bLo, bHi) =>
          any = true
          if (bLo < lo) lo = bLo
          if (bHi > hi) hi = bHi
        }
      }
    }
    if (any) Some((lo, hi)) else None
  }

  /** [min, max] of `c` (cast to long) over `df` — the fresh batch's
    * id range callers hand to [[keptRows]]; None when the batch is
    * empty, or when ANY id fails the cast (a null-cast id is
    * invisible to min/max, so pruning on the visible range could
    * hide its clash from the guard — None disables pruning,
    * conservative and correct). */
  def idRangeOf(df: DataFrame, c: String): Option[(Long, Long)] = {
    val Array(b) = df
      .agg(min(col(c).cast("long")).as("lo"), max(col(c).cast("long")).as("hi"),
        sum(when(col(c).cast("long").isNull, 1L).otherwise(0L)).as("nulls"),
        count(lit(1)).as("n"))
      .collect()
    if (b.getLong(3) == 0L || b.getLong(2) > 0L || b.isNullAt(0)) None
    else Some((b.getLong(0), b.getLong(1)))
  }

  /** Executes a [[planDelta]]: survivor rows of the doomed sidecar
    * files (read by explicit path list — delta-sized, never the
    * whole sidecar) union the caller's fresh rows, shaped by
    * `layout`, and commit with the doomed deletions as ONE
    * recoverable delta. No-op on an empty plan. */
  def applyDelta(
      spark: SparkSession,
      dir: String,
      plan: DeltaPlan,
      freshRows: Option[DataFrame],
      partCols: Seq[String],
      layout: DataFrame => DataFrame,
      statsCol: Option[String] = None): Unit = {
    import spark.implicits._
    if (plan.isEmpty) return
    val doomed = plan.doomed
    val survivors =
      if (doomed.isEmpty) None
      else Some(ParquetMemo.readFiles(spark, dir, doomed)
        .join(broadcast(plan.vanished.toSeq.toDF("file")),
          Seq("file"), "left_anti"))
    val newRows = (survivors.toSeq ++ freshRows.toSeq)
      .reduceOption(_.unionByName(_)).map(layout)
    commitDelta(spark, dir, newRows, doomed, partCols, statsCol)
  }

  /** The one refresh of a delta-maintained index (IVF cells and refs,
    * LSH buckets and refs, PQ codes, inverted postings), in one order:
    *  1. heal an interrupted rebuild publish, so a parked index is
    *     restored instead of failing the next check;
    *  2. require every `required` path (the index `dir` and the model
    *     its fresh rows are built from), naming the `index` and its
    *     `bootstrap` call;
    *  3. plan the delta: exactly the `appendedOnly` candidates through
    *     [[planAppend]] (no corpus listing, no vanish detection), else
    *     the listed corpus through [[planDelta]];
    *  4. take the fresh corpus files' `idCol` bounds from their
    *     footers ([[footerIdRange]], no job);
    *  5. build the fresh rows with `fresh` (evaluated once, after step
    *     2, so a model read fails as "no index" when there is none),
    *     checkpointed only without footer bounds: the guard's
    *     aggregation form reads them several times, its one-job form
    *     once, and the staging write then re-derives them cheaply;
    *  6. `guard(rows, plan, bounds)` before any mutation — a trip
    *     leaves the live index untouched;
    *  7. [[applyDelta]] with `partCols`, `layout` and `statsCol`.
    * Each phase's jobs run as `sidecar: plan|guard|apply <dir>`. */
  def refreshDelta(
      spark: SparkSession,
      table: String,
      dir: String,
      required: Seq[String],
      index: String,
      bootstrap: String,
      idCol: String,
      statsCol: String,
      partCols: Seq[String],
      layout: DataFrame => DataFrame,
      appendedOnly: Option[Set[String]] = None,
      replaced: Set[String] = Set.empty,
      replacedPrefixes: Seq[String] = Nil)(
      fresh: => Seq[String] => DataFrame)(
      guard: (DataFrame, DeltaPlan, Option[(Long, Long)]) => Unit): Unit = {
    def phase[T](name: String)(body: => T): T =
      graft.core.Jobs.described(spark, s"sidecar: $name ${new Path(dir).getName}")(body)
    val (plan, build) = phase("plan") {
      recoverPublish(spark, dir)
      val fs = fsFor(spark, dir)
      required.foreach(p => require(fs.exists(new Path(p)),
        s"no $index at $p — bootstrap with $bootstrap"))
      val build = fresh
      (appendedOnly match {
        case Some(c) => planAppend(spark, dir, c, replaced, replacedPrefixes)
        case None => planDelta(spark, dir, BloomIndex.dataFilePaths(spark, table).toSet)
      }, build)
    }
    val rows =
      if (plan.fresh.isEmpty) None
      else phase("guard") {
        val bounds = footerIdRange(spark, plan.fresh, idCol)
        val built = build(plan.fresh)
        val rows = if (bounds.isDefined) built else built.localCheckpoint(true)
        guard(rows, plan, bounds)
        Some(rows)
      }
    phase("apply")(applyDelta(spark, dir, plan, rows, partCols, layout, Some(statsCol)))
  }

  /** Rebuild, through [[rebuild]], an index of one row per corpus data
    * file of `table` (`_stats`, `_bloom`): `rowsOf(files, index)`
    * builds the rows of `files`. A `refresh` over an existing index
    * carries the rows of files still present verbatim (file
    * immutability makes that sound), drops vanished files' rows and
    * builds rows only for the files it lacks, passing the current
    * index; anything else builds every file's rows with `index` None.
    * A refresh that finds no index fails with `missing` when given. */
  private[sinks] def rebuildPerFile(
      spark: SparkSession,
      table: String,
      dest: String,
      refresh: Boolean,
      missing: Option[String] = None)(
      rowsOf: (Seq[String], Option[DataFrame]) => DataFrame): Unit =
    rebuild(spark, dest) { next =>
      import spark.implicits._
      val indexed = refresh && fsFor(spark, dest).exists(new Path(dest))
      for (m <- missing if refresh && !indexed) require(requirement = false, m)
      val files = BloomIndex.dataFilePaths(spark, table)
      val rows =
        if (!indexed) {
          require(files.nonEmpty, s"no data files under $table")
          rowsOf(files, None)
        } else {
          // bounded collect: one row per data file — the same
          // O(#files) scale as the directory listing itself
          val existing = spark.read.parquet(dest).localCheckpoint(true)
          val have = existing.select("file").collect().map(_.getString(0)).toSet
          val current = files.toSet
          val fresh = (current -- have).toSeq.sorted
          // anti-join on the (small) vanished set — never a
          // file-count-sized IN expression
          val kept = existing.join(
            broadcast((have -- current).toSeq.toDF("file")), Seq("file"), "left_anti")
          if (fresh.isEmpty) kept else kept.unionByName(rowsOf(fresh, Some(existing)))
        }
      rows.coalesce(1).write.mode(SaveMode.Overwrite).parquet(next)
    }

  /** Spread a partition-dir write across `writeSalt` tasks PER
    * partition value while keeping the `part=` directory layout —
    * without the salt, write parallelism is capped at the
    * partition-value count (nCells / 2^planes tasks). */
  private[sinks] def saltedByPartition(
      rows: DataFrame,
      partCol: String,
      cols: Seq[String],
      writeSalt: Int,
      saltCol: String = "vec_id"): DataFrame = {
    val sel = rows.select(cols.map(col): _*)
    val parts =
      if (writeSalt <= 1) sel.repartition(col(partCol))
      else sel.repartition( // explicit count — AQE must not re-coalesce
        sel.sparkSession.sessionState.conf.numShufflePartitions,
        col(partCol), pmod(xxhash64(col(saltCol)), lit(writeSalt.toLong)))
    // id-sorted within each written file so parquet row-group stats
    // stay tight on the id column even after compaction repacks many
    // batches — the refresh guard's kept-side range filter prunes on
    // those stats. partCol leads the sort: the partitionBy writer
    // requires partition-column order and would otherwise re-sort,
    // discarding the id order.
    parts.sortWithinPartitions(col(partCol), col(saltCol))
  }

  /** Completes or rolls back an interrupted [[commitDelta]] (or
    * [[rebuild]] publish). Publish healing runs first: a rebuild crash can
    * leave the sidecar itself renamed aside, and the journal (if any)
    * rode along inside it. */
  def recover(spark: SparkSession, dir: String): Unit = {
    val fs = fsFor(spark, dir)
    recoverPublish(spark, dir)
    // Every commit stages its coverage delta. A committed crash state
    // without one (built by hand, or by a binary that staged it
    // elsewhere) would leave the log naming the files this roll-forward
    // deletes, under an unchanged listing: drop the log, and the next
    // plan heals it with one scan.
    if (fs.exists(new Path(dir))) Delta.recover(fs, dir, staged =>
      if (!fs.exists(coveragePath(staged.toString))) fs.delete(coveragePath(dir), true))
  }

  /** DIRECTORY read paths' loud-failure guard: a maintenance journal
    * means a commit is (or was) in flight and the directory view may
    * be torn — refuse rather than serve partial rows. The ANN probes
    * no longer need this in the steady state: they resolve a
    * committed snapshot ([[snapshotRead]]) and serve THROUGH live
    * commit windows; this guard remains for reads with no committed
    * coverage to resolve (fresh rebuilds, the inverted/stats
    * directory readers) and as the crashed-run refusal the snapshot
    * path falls back to when its files are missing. A journal that
    * PERSISTS identifies a crashed run needing [[recover]]. */
  def requireClean(spark: SparkSession, dir: String): Unit =
    require(!fsFor(spark, dir).exists(journalPath(dir)),
      s"interrupted maintenance journal at ${journalPath(dir)} — " +
        "run refresh (or recover) before querying")

  /** [[requireClean]] for readers that may legitimately RACE an
    * external maintainer: a live commit window (journal present)
    * is treated as transient — poll with backoff until it closes —
    * and only a journal that OUTLIVES `timeoutMs` surfaces as the
    * hard failure, since a persisting journal is what identifies a
    * crashed run needing [[recover]]. The single-writer drivers
    * never need this (they serialize refresh and probe); it exists
    * so a separate reader process doesn't take spurious failures on
    * every routine per-batch commit. */
  def awaitClean(
      spark: SparkSession, dir: String, timeoutMs: Long = 30000): Unit = {
    val fs = fsFor(spark, dir)
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var backoff = 50L
    while (true) {
      // return on an OBSERVED-clean check (the same instant-in-time
      // guarantee requireClean gives) rather than re-checking after
      // the loop — a re-check could race a NEW commit window opening
      // and fail spuriously, the exact mode this helper exists to
      // avoid
      if (!fs.exists(journalPath(dir))) return
      val remainMs = (deadline - System.nanoTime()) / 1000000L
      if (remainMs <= 0)
        return requireClean(spark, dir) // timed out: surface the state
      Thread.sleep(math.min(backoff, remainMs))
      backoff = math.min(backoff * 2, 1000L)
    }
  }

  /** Repack the sidecar's ENTIRE current content (shaped by
    * `layout`) through the journaled commit. O(sidecar) by design —
    * an explicit offline operation for layout resets (e.g. global
    * re-clustering); the scheduled amortizer on streaming cadences
    * is [[compactSmall]]. */
  def compact(
      spark: SparkSession,
      dir: String,
      partCols: Seq[String],
      statsCol: Option[String] = None)(
      layout: DataFrame => DataFrame): Unit = {
    recover(spark, dir)
    val files = dataFiles(spark, dir)
    if (files.isEmpty) return
    val all = ParquetMemo.readFiles(spark, dir, files)
    commitDelta(spark, dir, Some(layout(all)), files, partCols, statsCol)
  }

  /** SIZE-TIERED compaction — the scheduled amortizer for
    * [[commitDelta]]'s small-file growth: repack ONLY sidecar files
    * below `smallBytes` (the accumulation of recent delta commits),
    * through the same journaled commit; files that have graduated
    * past the threshold are never touched again. Cost is
    * O(accumulated small files), NOT O(sidecar) — on a corpus-scale
    * sidecar (IVF cells / LSH buckets carry full embeddings) that is
    * the difference between a streaming cadence and a scheduled
    * corpus rewrite.
    *
    * Within the small set, files merge by GEOMETRIC SIZE CLASS
    * (factor-2 buckets on the byte length, the LSM discipline),
    * grouped PER PARTITION DIRECTORY — the layout writes merged rows
    * back one file per partition value, so only same-directory peers
    * actually combine into one output file. A (dir, class) group is
    * repacked only once it holds `minFiles` (≥ 2) files; merging n ≥
    * 2 files of class i (each ≥ 2^i bytes) yields ≥ 2^(i+1) — AT
    * LEAST one class up, guaranteed — so each byte is re-merged only
    * O(log(threshold / commit-size)) times before graduating, not
    * O(threshold / commit-size) as a flat re-merge-everything-small
    * rule would cost. A sub-threshold merged file with no same-class
    * same-dir peers just WAITS; it is never churned solo. Production
    * sizing: `smallBytes` ≈ a quarter of the target sidecar file
    * size.
    *
    * Driver cost: victim selection reads file sizes from the
    * (memoized) coverage log — O(commits since the last checkpoint)
    * of `_coverage` listing, no recursive sidecar walk — so the
    * streaming cadence never pays O(file-count) driver work even on
    * a million-file sidecar. */
  def compactSmall(
      spark: SparkSession,
      dir: String,
      partCols: Seq[String],
      smallBytes: Long = 32L << 20,
      minFiles: Int = 2,
      statsCol: Option[String] = None)(
      layout: DataFrame => DataFrame): Unit = {
    recover(spark, dir)
    if (!fsFor(spark, dir).exists(new Path(dir))) return
    require(minFiles >= 2, s"minFiles ($minFiles) must be >= 2 — the " +
      "class-promotion guarantee needs at least two same-class inputs")
    // factor-2 size class: floor(log2(len)); promotion-safe with
    // minFiles >= 2 (two class-i files sum past the class boundary)
    def sizeClass(len: Long): Int =
      63 - java.lang.Long.numberOfLeadingZeros(math.max(1L, len))
    // sizes come from the coverage log (memoized — ZERO listing work
    // on the steady-state cadence path); a recursive walk only when
    // the log is absent/stale (e.g. right after a full rebuild),
    // which the first refresh heals
    val sizes = readCoverage(spark, dir)
      .map(_.recs.map(rec => (s"$dir/${rec.rel}", rec.len))
        .distinct.toSeq.sortBy(_._1))
      .getOrElse(dataFileSizes(spark, dir))
    val victims = sizes
      .filter(_._2 < smallBytes)
      .groupBy { case (f, len) =>
        (new Path(f).getParent.toString, sizeClass(len)) }
      .values.filter(_.size >= minFiles)
      .flatten.map(_._1).toSeq.sorted
    if (victims.isEmpty) return
    val rows = ParquetMemo.readFiles(spark, dir, victims)
    commitDelta(spark, dir, Some(layout(rows)), victims, partCols, statsCol)
  }

  // ── recoverable rebuild publish ─────────────────────────────────
  // A full rebuild ([[IvfIndex.collect]] and siblings) builds the
  // whole index under `<dest>.next` and publishes it with [[DirSwap]]:
  // every crash point leaves either the old index serving, the new
  // one serving, or a state [[recoverPublish]] (called on entry by
  // every maintenance operation) rolls to one of them, where a bare
  // `delete(dest); rename(next, dest)` leaves NO serving index
  // between its two calls.

  private[graft] val PublishMarker = "_GRAFT_PUBLISH_READY"

  // every writer of an index directory heals through [[recover]] or
  // [[recoverPublish]] first, so a sealed `.next` is committed as is
  private val Publish =
    DirSwap(".next", ".old", PublishMarker, rollForwardOverLive = true)

  /** The one full rebuild of an index directory: heal an interrupted
    * publish, drop a stale `<dest>.next`, `fill` it (the fill's jobs
    * run as `sidecar: build <dest>`), and publish it over `dest`. A
    * fill that throws — a failed job or a layout-guard trip — deletes
    * `.next` and rethrows, so the previous index keeps serving and
    * nothing unchecked can be rolled forward. */
  def rebuild(spark: SparkSession, dest: String)(fill: String => Unit): Unit = {
    val fs = fsFor(spark, dest)
    val next = Publish.staging(dest)
    recoverPublish(spark, dest)
    fs.delete(new Path(next), true)
    try graft.core.Jobs.described(spark, s"sidecar: build ${new Path(dest).getName}")(fill(next))
    catch { case e: Throwable => fs.delete(new Path(next), true); throw e }
    Publish.commit(fs, dest)
  }

  /** Heal any interrupted [[rebuild]] publish around `dest` — called
    * on entry by every maintenance operation (refresh / compact /
    * collect), so "the next maintenance entry restores a serving
    * index" holds for every crash point of a rebuild. */
  private def recoverPublish(spark: SparkSession, dest: String): Unit =
    Publish.recover(fsFor(spark, dest), dest)
}
