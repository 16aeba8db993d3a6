package graft

import graft.core.Meter
import graft.sinks.{IvfIndex, LshIndex, PqIndex, SidecarMaintenance}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted-index family's O(delta) maintenance contract:
  * refresh APPENDS new corpus files' rows as fresh sidecar files and
  * rewrites ONLY the sidecar files that carried a vanished corpus
  * file's rows — the untouched remainder stays byte-identical on
  * disk. Plus the crash protocol (journaled delta-commit: every
  * crash point recovers to old-or-new, reads refuse a torn journal),
  * the intra-batch duplicate guard, the atomic single-rename
  * rebuild, salted write parallelism, and compaction. */
class SidecarMaintenanceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def withTable(n: Int = 200)(f: String => Unit): Unit = {
    val root = SparkTestSession.tmp("maint").toString
    val path = s"$root/vectors"
    graft.queries.Fixtures.tbl(spark, sf, "embeddings")
      .where(col("vec_id") < n).repartition(3)
      .write.parquet(path)
    try f(path)
    finally new graft.core.LakeStorage(
      spark.sparkContext.hadoopConfiguration).truncate(root)
  }

  private def fsOf(path: String) = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (path -> length) of every visible sidecar data file. */
  private def fileSig(dir: String): Map[String, Long] = {
    val fs = fsOf(dir)
    SidecarMaintenance.dataFiles(spark, dir)
      .map(f => f -> fs.getFileStatus(new Path(f)).getLen).toMap
  }

  private def ranks(df: DataFrame): Set[(Long, Long, Long)] =
    df.as[(Long, Long, Long)].collect().toSet

  // ── O(delta) write I/O ──────────────────────────────────────────

  test("IVF refresh appends new files' rows without rewriting any pre-existing sidecar file") {
    withTable() { path =>
      IvfIndex.collect(spark, path, nCells = 4)
      val before = fileSig(IvfIndex.cellsPath(path))
      graft.queries.Fixtures.tbl(spark, sf, "embeddings")
        .where(col("vec_id") >= 200 && col("vec_id") < 240)
        .coalesce(1).write.mode("append").parquet(path)
      IvfIndex.refresh(spark, path)
      val after = fileSig(IvfIndex.cellsPath(path))
      // every pre-existing sidecar file survives byte-identical...
      before.foreach { case (f, len) =>
        assert(after.get(f).contains(len), s"pre-existing $f was rewritten") }
      // ...and the delta landed as strictly new files
      assert(after.size > before.size)
      val appended = spark.read.parquet(IvfIndex.cellsPath(path))
        .where(col("vec_id") >= 200)
      assert(appended.count() === 40L)
    }
  }

  test("IVF refresh after a vanished corpus file rewrites ONLY the sidecar files that carried it") {
    withTable() { path =>
      IvfIndex.collect(spark, path, nCells = 4)
      // two refresh-appended corpus files: each lands in its OWN
      // sidecar commit, so each has a carrier set disjoint from the
      // bootstrap's files — the layout that makes a later vanish a
      // targeted rewrite instead of a sidecar-wide one
      val e = graft.queries.Fixtures.tbl(spark, sf, "embeddings")
      e.where(col("vec_id") >= 200 && col("vec_id") < 240)
        .coalesce(1).write.mode("append").parquet(path)
      IvfIndex.refresh(spark, path)
      e.where(col("vec_id") >= 240 && col("vec_id") < 280)
        .coalesce(1).write.mode("append").parquet(path)
      IvfIndex.refresh(spark, path)
      val cellsDir = IvfIndex.cellsPath(path)
      // victim: the FIRST appended corpus file; carriers: the sidecar
      // files holding its rows (its refresh commit's files only)
      val victim = spark.read.parquet(cellsDir)
        .where(col("vec_id") >= 200 && col("vec_id") < 240)
        .select("file").as[String].head()
      val carriers = spark.read.parquet(cellsDir)
        .select(col("_metadata.file_path").as("sf"), col("file"))
        .where(col("file") === victim)
        .select("sf").distinct().as[String].collect().toSet
      val before = fileSig(cellsDir)
      assert(carriers.nonEmpty && carriers.size < before.size,
        "fixture needs untouched sidecar files to witness the non-rewrite")
      fsOf(path).delete(new Path(victim), false)
      IvfIndex.refresh(spark, path)
      val after = fileSig(cellsDir)
      // non-carriers byte-identical, carriers gone
      before.foreach { case (f, len) =>
        if (carriers(f)) assert(!after.contains(f), s"carrier $f not dropped")
        else assert(after.get(f).contains(len), s"non-carrier $f rewritten")
      }
      // and no victim rows survive anywhere
      assert(spark.read.parquet(cellsDir)
        .where(col("file") === victim).count() === 0L)
    }
  }

  test("PQ and LSH refresh share the append-don't-rewrite discipline") {
    withTable() { path =>
      PqIndex.collect(spark, path, m = 8, ks = 16)
      LshIndex.collect(spark, path, planes = 4)
      val beforePq = fileSig(PqIndex.codesPath(path))
      val beforeLsh = fileSig(LshIndex.bucketsPath(path))
      graft.queries.Fixtures.tbl(spark, sf, "embeddings")
        .where(col("vec_id") >= 200 && col("vec_id") < 240)
        .coalesce(1).write.mode("append").parquet(path)
      PqIndex.refresh(spark, path)
      LshIndex.refresh(spark, path)
      beforePq.foreach { case (f, len) =>
        assert(fileSig(PqIndex.codesPath(path)).get(f).contains(len)) }
      beforeLsh.foreach { case (f, len) =>
        assert(fileSig(LshIndex.bucketsPath(path)).get(f).contains(len)) }
      assert(spark.read.parquet(PqIndex.codesPath(path)).count() === 240L)
      assert(spark.read.parquet(LshIndex.bucketsPath(path)).count() === 240L)
    }
  }

  test("inverted-index refresh (postings + retrieval stats) appends without rewriting pre-existing sidecar files") {
    import graft.sinks.InvertedIndex
    val root = SparkTestSession.tmp("maint-inv").toString
    val table = s"$root/docs"
    try {
      Seq((1L, "alpha beta gamma"), (2L, "beta gamma delta"))
        .toDF("doc_id", "text").coalesce(1).write.parquet(table)
      InvertedIndex.collect(spark, table, "text", "doc_id")
      InvertedIndex.buildRetrievalStats(spark, table)
      val idxDir = InvertedIndex.indexPath(table)
      val tsDir = InvertedIndex.termStatsPath(table)
      val dlDir = InvertedIndex.docLenPath(table)
      val before = Seq(idxDir, tsDir, dlDir).map(fileSig)
      Seq((3L, "delta epsilon"), (4L, "epsilon zeta"))
        .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(table)
      InvertedIndex.refresh(spark, table, "text", "doc_id")
      Seq(idxDir, tsDir, dlDir).zip(before).foreach { case (dir, sig) =>
        val after = fileSig(dir)
        sig.foreach { case (f, len) =>
          assert(after.get(f).contains(len), s"pre-existing $f in $dir rewritten") }
        assert(after.size > sig.size, s"$dir gained no delta files")
      }
      // the refreshed index answers over the whole corpus, stats served
      val hits = InvertedIndex.phraseSearchIndexOnly(spark, table, "delta epsilon")
        .as[Long].collect().toSet
      assert(hits === Set(3L))
      assert(InvertedIndex.bm25StatsFromIndex(spark, table, "epsilon")
        .count() === 2L)
      // vanish path: purge-delete doc 1's corpus file -> only carrier
      // sidecar files rewrite; the bootstrap commit carried docs 1+2,
      // so its files go, the delta commit's files stay byte-identical
      val victim = spark.read.parquet(idxDir)
        .where(col("id") === 1L).select("file").as[String].head()
      fsOf(table).delete(new Path(victim), false)
      val deltaSig = fileSig(idxDir).filter { case (f, _) =>
        !before.head.contains(f) }
      InvertedIndex.refresh(spark, table, "text", "doc_id")
      deltaSig.foreach { case (f, len) =>
        assert(fileSig(idxDir).get(f).contains(len),
          s"non-carrier delta file $f rewritten on vanish") }
      assert(spark.read.parquet(idxDir).where(col("id") === 1L).count() === 0L)
      assert(spark.read.parquet(dlDir).where(col("id") === 1L).count() === 0L)
    } finally new graft.core.LakeStorage(
      spark.sparkContext.hadoopConfiguration).truncate(root)
  }

  // ── the intra-batch duplicate guard (the (file, vec_id) window) ─

  test("a vec_id arriving in TWO fresh files within one refresh trips the guard, index untouched") {
    withTable() { path =>
      IvfIndex.collect(spark, path, nCells = 4)
      val before = fileSig(IvfIndex.cellsPath(path))
      // the same NEW vector lands twice, in two separate fresh files
      val dup = graft.queries.Fixtures.tbl(spark, sf, "embeddings")
        .where(col("vec_id") === 450)
      dup.coalesce(1).write.mode("append").parquet(path)
      dup.coalesce(1).write.mode("append").parquet(path)
      val e = intercept[IllegalArgumentException] {
        IvfIndex.refresh(spark, path)
      }
      assert(e.getMessage.contains("indexed more than once"))
      // nothing appended, nothing dropped — the guard ran pre-mutation
      assert(fileSig(IvfIndex.cellsPath(path)) === before)
    }
  }

  // ── atomic rebuild: aborted collect leaves the OLD index serving ─

  test("an aborted IVF rebuild (guard trip) leaves old centroids AND old cells consistent") {
    withTable() { path =>
      IvfIndex.collect(spark, path, nCells = 4)
      val queries = spark.read.parquet(path).where(col("vec_id") < 3)
        .localCheckpoint(true)
      val served = ranks(IvfIndex.topK(spark, path, queries, k = 5, nProbe = 4))
      val centsBefore = spark.read.parquet(IvfIndex.centroidsPath(path))
        .as[(Int, Array[Double])].collect().toMap
      // corrupt the corpus so the rebuild's layout guard trips
      spark.read.parquet(path).where(col("vec_id") === 7)
        .coalesce(1).write.mode("append").parquet(path)
      val e = intercept[IllegalArgumentException] {
        IvfIndex.collect(spark, path, nCells = 8)
      }
      assert(e.getMessage.contains("indexed more than once"))
      // BOTH sidecars are the old pair: same centroids, same answers —
      // the single-rename publish means no crash point can tear them
      val centsAfter = spark.read.parquet(IvfIndex.centroidsPath(path))
        .as[(Int, Array[Double])].collect().toMap
      assert(centsAfter.keySet === centsBefore.keySet)
      centsAfter.foreach { case (c, v) =>
        assert(v.toSeq === centsBefore(c).toSeq) }
      assert(ranks(IvfIndex.topK(spark, path, queries, k = 5, nProbe = 4))
        === served)
    }
  }

  test("aborted LSH and PQ rebuilds leave model+rows consistent (single-rename publish)") {
    withTable() { path =>
      LshIndex.collect(spark, path, planes = 4, seed = 0L)
      PqIndex.collect(spark, path, m = 8, ks = 16)
      val queries = spark.read.parquet(path).where(col("vec_id") < 3)
        .localCheckpoint(true)
      val lshServed = ranks(LshIndex.topK(spark, path, queries, k = 5, probeRadius = 4))
      val pqServed = ranks(PqIndex.topK(spark, path, queries, k = 5,
        candidateK = Int.MaxValue))
      // corrupt the corpus: rebuilds must trip the guard...
      spark.read.parquet(path).where(col("vec_id") === 7)
        .coalesce(1).write.mode("append").parquet(path)
      // ...even when the attempted rebuild changes the MODEL (new
      // seed / different codebook geometry) — the old (model, rows)
      // pair must keep serving as a unit
      assert(intercept[IllegalArgumentException] {
        LshIndex.collect(spark, path, planes = 4, seed = 99L)
      }.getMessage.contains("indexed more than once"))
      assert(intercept[IllegalArgumentException] {
        PqIndex.collect(spark, path, m = 4, ks = 8)
      }.getMessage.contains("indexed more than once"))
      assert(LshIndex.readMeta(spark, path) === ((4, 0L)),
        "aborted rebuild must not replace the (planes, seed) model row")
      val cb = PqIndex.readCodebooks(spark, path)
      assert(cb.m === 8 && cb.ks === 16,
        "aborted rebuild must not replace the codebooks")
      assert(ranks(LshIndex.topK(spark, path, queries, k = 5, probeRadius = 4))
        === lshServed)
      assert(ranks(PqIndex.topK(spark, path, queries, k = 5,
        candidateK = Int.MaxValue)) === pqServed)
    }
  }

  // ── crash protocol: journaled delta-commit recovers old-or-new ──

  test("a journal WITHOUT a commit marker rolls back; WITH one completes — and reads refuse a torn journal") {
    withTable() { path =>
      IvfIndex.collect(spark, path, nCells = 4)
      val cellsDir = IvfIndex.cellsPath(path)
      val fs = fsOf(path)
      val before = fileSig(cellsDir)
      val queries = spark.read.parquet(path).where(col("vec_id") < 3)
        .localCheckpoint(true)
      val served = ranks(IvfIndex.topK(spark, path, queries, k = 5, nProbe = 4))

      // crash point A: staging written, NO marker, journal present —
      // an uncommitted delta must roll back wholesale
      val staging = SidecarMaintenance.stagingPath(cellsDir)
      fs.mkdirs(staging)
      val out = fs.create(SidecarMaintenance.journalPath(cellsDir))
      out.write(before.keys.head.getBytes("UTF-8")) // journaled a doomed file
      out.close()
      // reads refuse while the journal is live
      val torn = intercept[IllegalArgumentException] {
        IvfIndex.topK(spark, path, queries, k = 5, nProbe = 4).count()
      }
      assert(torn.getMessage.contains("interrupted maintenance"))
      SidecarMaintenance.recover(spark, cellsDir)
      assert(fileSig(cellsDir) === before, "rollback must keep every original")
      assert(!fs.exists(SidecarMaintenance.journalPath(cellsDir)))

      // crash point B: staging sealed WITH marker + journal — recovery
      // must COMPLETE the swap (doomed file out, staged rows in)
      val doomed = before.keys.head
      val doomedRows = spark.read.option("basePath", cellsDir)
        .parquet(doomed).localCheckpoint(true)
      doomedRows.write.partitionBy("__cell").parquet(staging.toString)
      fs.create(new Path(staging, SidecarMaintenance.CommitMarker)).close()
      val out2 = fs.create(SidecarMaintenance.journalPath(cellsDir))
      out2.write(doomed.getBytes("UTF-8"))
      out2.close()
      SidecarMaintenance.recover(spark, cellsDir)
      assert(!fs.exists(new Path(doomed)), "doomed file must be deleted")
      assert(!fs.exists(staging) &&
        !fs.exists(SidecarMaintenance.journalPath(cellsDir)))
      // content unchanged (the staged rows WERE the doomed rows) —
      // probes serve identical answers through the completed swap
      assert(ranks(IvfIndex.topK(spark, path, queries, k = 5, nProbe = 4))
        === served)
    }
  }

  test("mid-swap crash states (doomed already deleted; staged partially moved) roll FORWARD") {
    withTable() { path =>
      IvfIndex.collect(spark, path, nCells = 4)
      val cellsDir = IvfIndex.cellsPath(path)
      val fs = fsOf(cellsDir)
      val staging = SidecarMaintenance.stagingPath(cellsDir)
      val queries = spark.read.parquet(path).where(col("vec_id") < 3)
        .localCheckpoint(true)
      val served = ranks(IvfIndex.topK(spark, path, queries, k = 5, nProbe = 4))

      // Stage a committed swap whose staged rows ARE the doomed
      // file's rows, so every crash state must converge to the same
      // served answers — then wind the swap to each crash point by
      // hand and let recover finish from there.
      def stageCommittedSwap(): String = {
        val doomed = fileSig(cellsDir).keys.min
        spark.read.option("basePath", cellsDir).parquet(doomed)
          .localCheckpoint(true)
          .write.partitionBy("__cell").parquet(staging.toString)
        fs.create(new Path(staging, SidecarMaintenance.CommitMarker)).close()
        val out = fs.create(SidecarMaintenance.journalPath(cellsDir))
        out.write(doomed.getBytes("UTF-8")); out.close()
        doomed
      }

      // crash point C: finishSwap died AFTER deleting the doomed file
      // (journal + marker still present, nothing moved in yet)
      val doomedC = stageCommittedSwap()
      fs.delete(new Path(doomedC), false)
      SidecarMaintenance.recover(spark, cellsDir)
      assert(!fs.exists(staging) &&
        !fs.exists(SidecarMaintenance.journalPath(cellsDir)))
      assert(ranks(IvfIndex.topK(spark, path, queries, k = 5, nProbe = 4))
        === served, "crash after doomed-delete must complete to the new index")

      // crash point D: finishSwap died mid-move — doomed gone AND one
      // staged file already renamed into its destination
      val doomedD = stageCommittedSwap()
      fs.delete(new Path(doomedD), false)
      val movedOne = SidecarMaintenance.dataFiles(spark, staging.toString).min
      // dataFiles returns scheme-qualified paths; compare scheme-free
      val rel = new Path(movedOne).toUri.getPath
        .stripPrefix(staging.toUri.getPath).stripPrefix("/")
      val dest = new Path(cellsDir, rel)
      fs.mkdirs(dest.getParent)
      fs.rename(new Path(movedOne), dest)
      SidecarMaintenance.recover(spark, cellsDir)
      assert(!fs.exists(staging) &&
        !fs.exists(SidecarMaintenance.journalPath(cellsDir)))
      assert(ranks(IvfIndex.topK(spark, path, queries, k = 5, nProbe = 4))
        === served, "crash mid-move must complete without double-moving rows")
    }
  }

  // ── coverage cache: O(delta) refresh PLANNING ───────────────────

  private def recordsRead(f: => Unit): Long = Meter.during(spark)(f)._2.inputRecords

  test("refresh plans from the coverage cache: the first plan heals it, every later no-op reads ZERO") {
    withTable() { path =>
      IvfIndex.collect(spark, path, nCells = 4)
      // bootstrap writes no cache — the FIRST plan pays one scan
      // and heals it in place...
      assert(recordsRead(IvfIndex.refresh(spark, path)) > 0L)
      // ...after which an unchanged corpus plans entirely from
      // _coverage + the file listing — no sidecar scan, no corpus
      // scan, no Spark job at all
      assert(recordsRead(IvfIndex.refresh(spark, path)) === 0L)
      // and the zero-read plan survives a driver restart: with the
      // in-JVM memo gone, the on-disk manifest alone serves it
      graft.sinks.LakeMemo.clear()
      assert(recordsRead(IvfIndex.refresh(spark, path)) === 0L)
    }
  }

  test("a mutating refresh reads O(delta) records; a torn cache falls back and heals") {
    withTable() { path =>
      IvfIndex.collect(spark, path, nCells = 4)
      IvfIndex.refresh(spark, path) // no-op: warms the coverage cache
      val cellsDir = IvfIndex.cellsPath(path)
      val fs = fsOf(cellsDir)
      // delta of 40 ids far above the corpus range: the clash
      // guard's range filter must prune every kept sidecar file
      val delta = graft.queries.Fixtures.tbl(spark, sf, "embeddings")
        .where(col("vec_id") < 40)
        .withColumn("vec_id", col("vec_id") + lit(1000000L))
        .localCheckpoint(true)
      delta.coalesce(1).write.mode("append").parquet(path)
      val read = recordsRead(IvfIndex.refresh(spark, path))
      // every read is delta-sized: the assign pass, the cached
      // delta's re-reads (block-manager reads count as input
      // records), the cache-advance scan of created sidecar files —
      // while the 200-row kept sidecar contributes ZERO (coverage
      // cache replaces the pairs scan; footer stats prune the
      // guard). 8x delta bounds the multiplicity with slack; the
      // old code's two 200-row scans would blow through it.
      assert(read <= 8 * 40,
        s"mutating refresh read $read records — should be O(delta)")
      // torn log: a garbage record in the coverage log must be
      // detected and bypassed. Clear the in-JVM memo first — this
      // models a NEW driver process finding only the corrupt
      // on-disk log.
      val out = fs.create(
        new Path(SidecarMaintenance.coveragePath(cellsDir), "delta-000000999"),
        true)
      out.write("garbage with no tabs\nand\ttwo\tmany\n".getBytes("UTF-8"))
      out.close()
      graft.sinks.LakeMemo.clear()
      val delta2 = delta.withColumn("vec_id", col("vec_id") + lit(1000000L))
      delta2.coalesce(1).write.mode("append").parquet(path)
      IvfIndex.refresh(spark, path)
      val ids = spark.read.parquet(cellsDir).select("vec_id")
        .as[Long].collect().toSet
      assert(ids.count(_ >= 2000000L) === 40 && ids.count(_ < 1000L) === 200,
        "fallback refresh must still index the delta correctly")
      // and the commit healed the cache: the next no-op plans free
      assert(recordsRead(IvfIndex.refresh(spark, path)) === 0L,
        "the commit must rewrite a valid cache")
    }
  }

  // ── salted write parallelism (#6) and compaction ────────────────

  test("writeSalt spreads a cell's sidecar write across >1 file per cell, layout unchanged") {
    withTable() { path =>
      IvfIndex.collect(spark, path, nCells = 2, writeSalt = 8)
      val cellsDir = IvfIndex.cellsPath(path)
      val files = SidecarMaintenance.dataFiles(spark, cellsDir)
      // 2 cells, salt 8: the write must not be capped at nCells tasks
      assert(files.size > 2,
        s"expected >2 sidecar files from a salted build, got ${files.size}")
      // directory layout is still one dir per cell — pruning intact
      val dirs = files.map(f => new Path(f).getParent.getName).toSet
      assert(dirs.forall(_.startsWith("__cell=")) && dirs.size === 2)
      val queries = spark.read.parquet(path).where(col("vec_id") < 3)
      val brute = ranks(graft.ext.SimilaritySearch.bruteForceTopK(
        queries, spark.read.parquet(path), k = 5))
      assert(ranks(IvfIndex.topK(spark, path, queries, k = 5, nProbe = 2))
        === brute)
    }
  }

  test("compact repacks refresh-accumulated small files; answers unchanged") {
    withTable(120) { path =>
      IvfIndex.collect(spark, path, nCells = 2)
      // five single-file refresh rounds -> small-file accumulation
      (0 until 5).foreach { i =>
        graft.queries.Fixtures.tbl(spark, sf, "embeddings")
          .where(col("vec_id") >= 200 + i * 10 && col("vec_id") < 210 + i * 10)
          .coalesce(1).write.mode("append").parquet(path)
        IvfIndex.refresh(spark, path)
      }
      val cellsDir = IvfIndex.cellsPath(path)
      val queries = spark.read.parquet(path).where(col("vec_id") < 3)
        .localCheckpoint(true)
      val served = ranks(IvfIndex.topK(spark, path, queries, k = 5, nProbe = 2))
      val nBefore = SidecarMaintenance.dataFiles(spark, cellsDir).size
      IvfIndex.compact(spark, path)
      val nAfter = SidecarMaintenance.dataFiles(spark, cellsDir).size
      assert(nAfter < nBefore,
        s"compaction must shrink the file count ($nBefore -> $nAfter)")
      assert(spark.read.parquet(cellsDir).count() === 170L)
      assert(ranks(IvfIndex.topK(spark, path, queries, k = 5, nProbe = 2))
        === served)
      // and the NEXT refresh still works off the compacted layout
      graft.queries.Fixtures.tbl(spark, sf, "embeddings")
        .where(col("vec_id") >= 300 && col("vec_id") < 310)
        .coalesce(1).write.mode("append").parquet(path)
      IvfIndex.refresh(spark, path)
      assert(spark.read.parquet(cellsDir).count() === 180L)
    }
  }

  test("compactSmall repacks ONLY sub-threshold files; graduated files stay byte-identical") {
    withTable() { path =>
      IvfIndex.collect(spark, path, nCells = 2)
      val cellsDir = IvfIndex.cellsPath(path)
      val fs = fsOf(cellsDir)
      val bootstrap = fileSig(cellsDir)
      // threshold right below the smallest bootstrap file: bootstrap
      // files are GRADUATED tiers, the delta accumulation is not
      val threshold = bootstrap.values.min
      (0 until 4).foreach { i =>
        graft.queries.Fixtures.tbl(spark, sf, "embeddings")
          .where(col("vec_id") >= 200 + i * 10 && col("vec_id") < 210 + i * 10)
          .coalesce(1).write.mode("append").parquet(path)
        IvfIndex.refresh(spark, path)
      }
      val accumulated = fileSig(cellsDir)
      assert(accumulated.filterNot(kv => bootstrap.contains(kv._1))
        .values.forall(_ < threshold),
        "fixture: the delta accumulation must sit below the threshold")
      val queries = spark.read.parquet(path).where(col("vec_id") < 3)
        .localCheckpoint(true)
      val served = ranks(IvfIndex.topK(spark, path, queries, k = 5, nProbe = 2))
      IvfIndex.compactSmall(spark, path, smallBytes = threshold)
      val after = fileSig(cellsDir)
      // graduated files: untouched, byte-identical, same paths
      bootstrap.foreach { case (f, len) =>
        assert(after.get(f).contains(len),
          s"graduated (above-threshold) file $f was rewritten") }
      // the accumulation: merged away
      assert(after.size < accumulated.size,
        "the small tier must have been merged")
      assert(accumulated.filterNot(kv => bootstrap.contains(kv._1))
        .keys.forall(!after.contains(_)),
        "pre-merge small files must be gone")
      assert(spark.read.parquet(cellsDir).count() === 240L)
      assert(ranks(IvfIndex.topK(spark, path, queries, k = 5, nProbe = 2))
        === served)
      // below minFiles the tiered compact is a no-op (nothing worth
      // merging) — the cadence can call it unconditionally
      val sig = fileSig(cellsDir)
      SidecarMaintenance.compactSmall(spark, cellsDir, Seq("__cell"),
        smallBytes = threshold, minFiles = 1000)(identity)
      assert(fileSig(cellsDir) === sig)
      // NO-CHURN: immediately re-running the tiered compact with the
      // default settings must also no-op — each cell's merged file is
      // the only member of its (dir, class) group, and the LSM rule
      // never repacks a solo file. Without this property the cadence
      // rewrites the same sub-threshold bytes every interval.
      IvfIndex.compactSmall(spark, path, smallBytes = threshold)
      assert(fileSig(cellsDir) === sig,
        "re-running compactSmall with no new deltas must be a no-op")
    }
  }

  test("compactSmall merges UNSALTED even when refreshes wrote salted: the tier graduates, no churn") {
    withTable() { path =>
      IvfIndex.collect(spark, path, nCells = 2, writeSalt = 4)
      val cellsDir = IvfIndex.cellsPath(path)
      val threshold = 1L << 20 // everything at fixture scale is "small"
      (0 until 3).foreach { i =>
        graft.queries.Fixtures.tbl(spark, sf, "embeddings")
          .where(col("vec_id") >= 200 + i * 10 && col("vec_id") < 210 + i * 10)
          .coalesce(1).write.mode("append").parquet(path)
        IvfIndex.refresh(spark, path, writeSalt = 4) // salted small files
      }
      val nBefore = SidecarMaintenance.dataFiles(spark, cellsDir).size
      IvfIndex.compactSmall(spark, path, smallBytes = threshold)
      // the merged tier lands UNSALTED (one file per cell per commit)
      // — a salted merge would re-split it into 4 sub-class files
      // that re-merge every cadence forever
      assert(SidecarMaintenance.dataFiles(spark, cellsDir).size < nBefore,
        "the salted accumulation must have merged down")
      // the cadence CONVERGES (graduation, not churn) — THE pin: an
      // unsalted merge promotes at least one size class per pass, so
      // a fixed point arrives within a few passes; a salted merge
      // re-splits each tier back into its own class and never stops
      val converged = (0 until 4).exists { _ =>
        val sig = fileSig(cellsDir)
        IvfIndex.compactSmall(spark, path, smallBytes = threshold)
        fileSig(cellsDir) === sig
      }
      assert(converged,
        "the tiered compact must reach a fixed point — endless re-merge churn")
      assert(spark.read.parquet(cellsDir).count() === 230L)
    }
  }

  test("steady-state compactSmall selects victims from the coverage log — ZERO sidecar listings") {
    withTable() { path =>
      IvfIndex.collect(spark, path, nCells = 2)
      val cellsDir = IvfIndex.cellsPath(path)
      val threshold = fileSig(cellsDir).values.min
      (0 until 3).foreach { i =>
        graft.queries.Fixtures.tbl(spark, sf, "embeddings")
          .where(col("vec_id") >= 200 + i * 10 && col("vec_id") < 210 + i * 10)
          .coalesce(1).write.mode("append").parquet(path)
        IvfIndex.refresh(spark, path) // commits keep the coverage memo warm
      }
      val nBefore = SidecarMaintenance.dataFiles(spark, cellsDir).size
      SidecarMaintenance.trackWalks(cellsDir) // opt-in counting
      def walks: Long = {
        val v = SidecarMaintenance.walkCounts.get(cellsDir)
        if (v == null) 0L else v.longValue()
      }
      val w0 = walks
      IvfIndex.compactSmall(spark, path, smallBytes = threshold)
      val w1 = walks
      // the compact MERGED something...
      assert(SidecarMaintenance.dataFiles(spark, cellsDir).size < nBefore,
        "fixture: the tiered compact must have had small files to merge")
      // ...yet never recursively listed the sidecar: sizes came from
      // the memoized coverage log. On a million-file sidecar this is
      // the difference between an O(commits) and an O(file-count)
      // cadence tick (staging-dir walks key separately and are
      // delta-sized).
      assert(w1 === w0,
        s"compactSmall listed the sidecar dir ${w1 - w0} times — " +
          "victim selection must come from the coverage log")
    }
  }

  test("guard file list prunes by coverage id-ranges: a disjoint-range delta reads NO kept file") {
    withTable() { path =>
      IvfIndex.collect(spark, path, nCells = 4)
      val cellsDir = IvfIndex.cellsPath(path)
      // two stats-bearing commits with disjoint id ranges (the
      // bootstrap's healed entries are statless = never pruned, so
      // rebuild coverage through a compact that records stats)
      IvfIndex.refresh(spark, path) // heals coverage (statless entries)
      IvfIndex.compact(spark, path) // whole-sidecar rewrite WITH stats
      (0 until 2).foreach { i =>
        graft.queries.Fixtures.tbl(spark, sf, "embeddings")
          .where(col("vec_id") >= 200 + i * 10 && col("vec_id") < 210 + i * 10)
          .coalesce(1).write.mode("append").parquet(path)
        IvfIndex.refresh(spark, path)
      }
      val plan = SidecarMaintenance.planDelta(spark, cellsDir,
        spark.read.parquet(path).select(col("_metadata.file_path"))
          .distinct().as[String].collect().toSet)
      assert(plan.stats.nonEmpty, "commits must have recorded id ranges")
      // a range beyond every indexed id prunes EVERY kept file — the
      // monotonic-ingest steady state: the clash guard constructs no
      // kept-side scan at all (zero footer opens, zero reads)
      assert(SidecarMaintenance.keptRows(spark, cellsDir, plan,
        Some((1000000L, 1000040L))).isEmpty,
        "disjoint range must prune the whole kept file list")
      // an overlapping range keeps only the files whose recorded
      // range intersects — here the [200, 210) commit, not [210, 220)
      val kept = SidecarMaintenance.keptRows(spark, cellsDir, plan,
        Some((205L, 207L)))
      assert(kept.nonEmpty)
      val ids = kept.get.select("vec_id").as[Long].collect().toSet
      assert(ids.exists(i => i >= 200 && i < 210),
        "overlapping commit's file must stay in the guard's list")
      assert(!ids.exists(i => i >= 210 && i < 220),
        "non-overlapping commit's file must be pruned from the list")
      // and the pruning is conservative where stats are absent: a
      // statless plan (None range) keeps everything
      assert(SidecarMaintenance.keptRows(spark, cellsDir, plan, None)
        .get.count() === 220L)
    }
  }

  test("replaced-name prefixes without a trailing delimiter are rejected loudly") {
    withTable() { path =>
      IvfIndex.collect(spark, path, nCells = 4)
      val cellsDir = IvfIndex.cellsPath(path)
      IvfIndex.refresh(spark, path) // heal coverage so planning sees names
      // 'ingest-b1' would also match ingest-b10..b19 — a typo that
      // silently vanishes unrelated batches' coverage; the planner
      // must refuse the shape, not guess
      val e = intercept[IllegalArgumentException] {
        SidecarMaintenance.planDelta(spark, cellsDir,
          spark.read.parquet(path).inputFiles.toSet,
          replacedPrefixes = Seq("ingest-b1"))
      }
      assert(e.getMessage.contains("delimiter"),
        s"refusal must explain the shape rule: ${e.getMessage}")
      // the internal producers' trailing-dash shape passes (empty
      // match on a corpus with no such names — a no-op, not an error;
      // the corpus-name URI form is the planner's own concern, so
      // only the prefix machinery is under test here)
      val plan = SidecarMaintenance.planDelta(spark, cellsDir,
        spark.read.parquet(path).inputFiles.toSet,
        replacedPrefixes = Seq("ingest-b1-"))
      assert(!plan.vanished.exists(_.contains("ingest-b1")),
        "a non-matching valid prefix must vanish nothing")
    }
  }

  test("retryOnSnapshotMiss: one re-run on a missing-path failure, other errors propagate") {
    var calls = 0
    val out = SidecarMaintenance.retryOnSnapshotMiss {
      calls += 1
      if (calls == 1)
        throw new java.io.FileNotFoundException("part-0000.parquet vanished")
      42
    }
    assert(out === 42 && calls === 2,
      "a single action-time miss must re-resolve and succeed")
    var other = 0
    val boom = intercept[IllegalStateException] {
      SidecarMaintenance.retryOnSnapshotMiss {
        other += 1
        throw new IllegalStateException("not a path miss")
      }
    }
    assert(boom.getMessage.contains("not a path miss") && other === 1,
      "non-path failures must surface unretried")
    // a PERSISTENT miss (out-of-band deletion) surfaces after ONE retry
    var gone = 0
    intercept[java.io.FileNotFoundException] {
      SidecarMaintenance.retryOnSnapshotMiss {
        gone += 1
        throw new java.io.FileNotFoundException("really gone")
      }
    }
    assert(gone === 2, "exactly one retry, then surface")
  }

  test("two racing orphan-lease takeovers: exactly one wins, the loser's error names the winner") {
    withTable() { path =>
      IvfIndex.collect(spark, path, nCells = 4)
      val cellsDir = IvfIndex.cellsPath(path)
      val fs = fsOf(cellsDir)
      // an ORPHAN: lease present, no staging/journal, older than grace
      fs.create(SidecarMaintenance.leasePath(cellsDir), false).close()
      fs.setTimes(SidecarMaintenance.leasePath(cellsDir),
        System.currentTimeMillis() - 10 * 60 * 1000L, -1)
      val gate = new java.util.concurrent.CyclicBarrier(2)
      val errs = new java.util.concurrent.ConcurrentHashMap[String, Throwable]()
      val threads = Seq("maint-A", "maint-B").map { who =>
        val t = new Thread(() => {
          gate.await()
          try SidecarMaintenance.acquireLease(fs, cellsDir, owner = who)
          catch { case e: Throwable => errs.put(who, e): Unit }
        })
        t.start(); t
      }
      threads.foreach(_.join(30000))
      assert(errs.size === 1,
        s"exactly one taker must lose the race (losers: ${errs.keySet()})")
      val (loser, err) = {
        val k = errs.keys().nextElement(); (k, errs.get(k))
      }
      val winner = if (loser == "maint-A") "maint-B" else "maint-A"
      assert(err.isInstanceOf[IllegalArgumentException], s"loud refusal, got $err")
      assert(err.getMessage.contains(winner),
        s"the loser's error must name the winner ($winner): ${err.getMessage}")
      // the winner's lease is up and carries its owner id
      val in = fs.open(SidecarMaintenance.leasePath(cellsDir))
      val held = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      assert(held === winner, s"the surviving lease must be the winner's: $held")
      fs.delete(SidecarMaintenance.leasePath(cellsDir), false)
    }
  }

  test("a lease is never seen without its owner id") {
    val dir = SparkTestSession.tmp("lease").toString
    val fs = fsOf(dir)
    val lease = java.nio.file.Paths.get(dir, "_maint_lease")
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val (seen, empty) = (new java.util.concurrent.atomic.AtomicLong,
      new java.util.concurrent.atomic.AtomicLong)
    val reader = new Thread(() => while (!done.get) {
      try {
        val bytes = java.nio.file.Files.readAllBytes(lease)
        seen.incrementAndGet()
        if (bytes.isEmpty) empty.incrementAndGet()
      } catch { case _: java.io.IOException => () } // released
    })
    reader.start()
    try (1 to 200).foreach { i =>
      SidecarMaintenance.acquireLease(fs, dir, owner = s"maint-$i")
      fs.delete(SidecarMaintenance.leasePath(dir), false)
    } finally { done.set(true); reader.join() }
    assert(seen.get > 0, "the reader never caught a held lease")
    assert(empty.get === 0L, s"${empty.get} of ${seen.get} reads saw an empty lease")
  }

  test("a second maintainer whose commit overlaps a live one fails loudly at the lease") {
    withTable() { path =>
      IvfIndex.collect(spark, path, nCells = 4)
      val cellsDir = IvfIndex.cellsPath(path)
      val fs = fsOf(cellsDir)
      // a LIVE writer's window: lease held, staging in flight
      fs.create(SidecarMaintenance.leasePath(cellsDir), false).close()
      fs.mkdirs(SidecarMaintenance.stagingPath(cellsDir))
      val rows = spark.read.parquet(cellsDir).limit(5).localCheckpoint(true)
      val e = intercept[IllegalArgumentException] {
        SidecarMaintenance.commitDelta(spark, cellsDir, Some(rows),
          Seq.empty, Seq("__cell"), statsCol = Some("vec_id"))
      }
      assert(e.getMessage.contains("commit lease"),
        "an overlapping commit must fail loudly, not interleave")
      // a YOUNG lease with no window behind it is still treated as
      // live (the holder may be between lease creation and its
      // staging job's first write — breaking it there would let two
      // commits interleave), so it fails loudly within the grace
      fs.delete(SidecarMaintenance.stagingPath(cellsDir), true)
      val e2 = intercept[IllegalArgumentException] {
        SidecarMaintenance.commitDelta(spark, cellsDir, Some(rows),
          Seq.empty, Seq("__cell"), statsCol = Some("vec_id"))
      }
      assert(e2.getMessage.contains("commit lease"),
        "a young lease must be honored even without staging/journal")
      // an ORPHAN lease (hard kill at the window's bookkeeping edges:
      // no staging, no journal, older than the grace) self-heals:
      // broken, taken, and released after the commit
      fs.setTimes(SidecarMaintenance.leasePath(cellsDir),
        System.currentTimeMillis() - 10 * 60 * 1000L, -1)
      val before = spark.read.parquet(cellsDir).count()
      graft.queries.Fixtures.tbl(spark, sf, "embeddings")
        .where(col("vec_id") >= 200 && col("vec_id") < 210)
        .coalesce(1).write.mode("append").parquet(path)
      IvfIndex.refresh(spark, path)
      assert(spark.read.parquet(cellsDir).count() === before + 10,
        "an orphan lease must not wedge maintenance")
      assert(!fs.exists(SidecarMaintenance.leasePath(cellsDir)),
        "the lease must be released after the commit")
    }
  }

  test("probes serve THROUGH a live commit window: pre-commit truth during, post-commit truth after") {
    withTable() { path =>
      IvfIndex.collect(spark, path, nCells = 4)
      IvfIndex.refresh(spark, path) // heal coverage → a committed generation
      val queries = spark.read.parquet(path).where(col("vec_id") < 3)
        .localCheckpoint(true)
      val before = ranks(IvfIndex.topK(spark, path, queries, k = 5, nProbe = 4))
      // the next refresh's commit both APPENDS (a fresh corpus file)
      // and DOOMS (sidecar carriers of a vanished corpus file) — the
      // worst window shape: rows moving in AND out in one swap.
      // Pick the victim from the PRE-append file set (an appended
      // file's uuid name can sort below the originals).
      val victim = SidecarMaintenance.dataFiles(spark, path)
        .filterNot(_.contains("_ivf_cells")).min
      graft.queries.Fixtures.tbl(spark, sf, "embeddings")
        .where(col("vec_id") >= 200 && col("vec_id") < 240)
        .coalesce(1).write.mode("append").parquet(path)
      fsOf(path).delete(new Path(victim), false)
      val cellsDir = IvfIndex.cellsPath(path)
      var during: Set[(Long, Long, Long)] = null
      var journalSeen = false
      SidecarMaintenance.onCommitPoint = dir =>
        if (dir == cellsDir && during == null) {
          journalSeen = fsOf(cellsDir)
            .exists(SidecarMaintenance.journalPath(cellsDir))
          during = ranks(IvfIndex.topK(spark, path, queries, k = 5, nProbe = 4))
        }
      try IvfIndex.refresh(spark, path)
      finally SidecarMaintenance.onCommitPoint = null
      assert(journalSeen, "fixture: the probe must have run INSIDE the window")
      assert(during === before,
        "a probe inside a live commit window must serve the committed " +
          "PRE-commit truth — not refuse, not see a torn view")
      // after the window closes, the probe serves the new generation
      val after = ranks(IvfIndex.topK(spark, path, queries, k = 5, nProbe = 4))
      assert(after === ranks(graft.ext.SimilaritySearch.bruteForceTopK(
        queries, spark.read.parquet(path), k = 5)),
        "post-commit probes must serve the new truth exactly")
      assert(after !== before, "fixture: the commit must have changed answers")
    }
  }

  test("a snapshot reader outrun by a COMPLETED later commit retries onto the new generation; out-of-band deletions still surface") {
    withTable() { path =>
      IvfIndex.collect(spark, path, nCells = 4)
      IvfIndex.refresh(spark, path) // heal coverage → a committed generation
      val cellsDir = IvfIndex.cellsPath(path)
      // the race: a reader resolves the current generation, and a
      // later commit's doomed deletions land BEFORE its read plans —
      // interleaved deterministically through the resolve hook
      val victim = SidecarMaintenance.dataFiles(spark, path)
        .filterNot(_.contains("_ivf_cells")).min
      var fired = false
      SidecarMaintenance.onSnapshotResolve = d =>
        if (d == cellsDir && !fired) {
          fired = true
          fsOf(path).delete(new Path(victim), false)
          IvfIndex.refresh(spark, path) // rewrites carriers, deletes doomed
        }
      val got =
        try SidecarMaintenance.snapshotRead(spark, cellsDir)
          .select("vec_id").as[Long].collect().toSet
        finally SidecarMaintenance.onSnapshotResolve = null
      assert(fired, "fixture: the racing commit must have interleaved")
      val want = spark.read.parquet(cellsDir)
        .select("vec_id").as[Long].collect().toSet
      assert(got === want,
        "a reader whose resolved generation was deleted by a COMPLETED " +
          "later commit must re-resolve and serve the new truth, not fail")
      // out-of-band deletion (no commit wrote a new generation): the
      // retry re-resolves the SAME list — surfaced, never swallowed
      val gone = SidecarMaintenance.dataFiles(spark, cellsDir).min
      fsOf(cellsDir).delete(new Path(gone), false)
      val e = intercept[Exception] {
        SidecarMaintenance.snapshotRead(spark, cellsDir).count()
      }
      assert(SidecarMaintenance.isPathNotFound(e) ||
        e.getMessage.contains("PATH_NOT_FOUND"),
        s"an out-of-band deletion must surface as a missing-path read, got: $e")
    }
  }

  test("awaitClean outlasts a transient commit window but still refuses a crashed journal") {
    withTable() { path =>
      IvfIndex.collect(spark, path, nCells = 2)
      val cellsDir = IvfIndex.cellsPath(path)
      val fs = fsOf(cellsDir)
      val journal = SidecarMaintenance.journalPath(cellsDir)
      // transient window: a "maintainer" removes the journal shortly
      // after the reader starts waiting — awaitClean must ride it out
      val out = fs.create(journal)
      out.write("".getBytes("UTF-8")); out.close()
      val t = new Thread(() => { Thread.sleep(300); fs.delete(journal, false) })
      t.start()
      SidecarMaintenance.awaitClean(spark, cellsDir, timeoutMs = 5000)
      t.join()
      // crashed journal (nobody removes it): surfaces as the same
      // hard failure requireClean gives, after the timeout
      val out2 = fs.create(journal)
      out2.write("".getBytes("UTF-8")); out2.close()
      val e = intercept[IllegalArgumentException] {
        SidecarMaintenance.awaitClean(spark, cellsDir, timeoutMs = 400)
      }
      assert(e.getMessage.contains("interrupted maintenance journal"))
      fs.delete(journal, false)
    }
  }

  // ── coverage log: O(commit) manifest maintenance (#2 r15) ───────

  test("a delta commit APPENDS one O(commit) coverage record; existing log records are untouched") {
    withTable() { path =>
      IvfIndex.collect(spark, path, nCells = 4)
      IvfIndex.refresh(spark, path) // heals -> base snapshot written
      val cellsDir = IvfIndex.cellsPath(path)
      val fs = fsOf(cellsDir)
      val covDir = SidecarMaintenance.coveragePath(cellsDir)
      def logRecs: Map[String, Long] =
        fs.listStatus(covDir).map(s => s.getPath.getName -> s.getLen).toMap
      val before = logRecs
      assert(before.keys.exists(_.startsWith("base-")), "heal writes a base")
      // one fixed small delta commit
      graft.queries.Fixtures.tbl(spark, sf, "embeddings")
        .where(col("vec_id") >= 200 && col("vec_id") < 210)
        .coalesce(1).write.mode("append").parquet(path)
      IvfIndex.refresh(spark, path)
      val after = logRecs
      before.foreach { case (n, len) =>
        assert(after.get(n).contains(len),
          s"commit rewrote pre-existing log record $n — must be append-only") }
      val added = after.keySet -- before.keySet
      assert(added.size === 1 && added.head.startsWith("delta-"),
        s"one delta record expected, got $added")
      // O(commit): a 10-vector / <=4-cell commit is a handful of
      // lines, regardless of how many corpus files the sidecar
      // covers — the r14 form rewrote the full corpus-file-count
      // manifest here
      assert(after(added.head) < 2048,
        s"coverage record is ${after(added.head)}B — not O(commit)")
      // and the log still plans exactly: the next no-op refresh
      // reads zero records
      IvfIndex.refresh(spark, path)
      assert(spark.read.parquet(cellsDir).count() === 210L)
    }
  }

  test("coverage log folds into a fresh base at the checkpoint cadence; plans survive a fresh JVM") {
    withTable() { path =>
      IvfIndex.collect(spark, path, nCells = 4)
      IvfIndex.refresh(spark, path)
      val cellsDir = IvfIndex.cellsPath(path)
      val fs = fsOf(cellsDir)
      // several delta commits accumulate delta records
      (0 until 3).foreach { i =>
        graft.queries.Fixtures.tbl(spark, sf, "embeddings")
          .where(col("vec_id") >= 200 + i * 10 && col("vec_id") < 210 + i * 10)
          .coalesce(1).write.mode("append").parquet(path)
        IvfIndex.refresh(spark, path)
      }
      // fresh JVM: only the on-disk log to go on — the disk load
      // must fold base+deltas and validate against the real listing
      graft.sinks.LakeMemo.clear()
      graft.queries.Fixtures.tbl(spark, sf, "embeddings")
        .where(col("vec_id") >= 300 && col("vec_id") < 310)
        .coalesce(1).write.mode("append").parquet(path)
      IvfIndex.refresh(spark, path)
      assert(spark.read.parquet(cellsDir).count() === 240L)
      val queries = spark.read.parquet(path).where(col("vec_id") < 3)
      val brute = ranks(graft.ext.SimilaritySearch.bruteForceTopK(
        queries, spark.read.parquet(path), k = 5))
      assert(ranks(IvfIndex.topK(spark, path, queries, k = 5, nProbe = 4))
        === brute)
    }
  }
}
