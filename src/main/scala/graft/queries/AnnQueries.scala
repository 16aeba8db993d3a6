package graft
package queries

import graft.ext._
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Fixtures._

/** Vector search (`ext_ann_*`): exact and approximate top-k, and the
  * LSH, IVF and PQ persisted-index lifecycles (build, refresh, purge,
  * compaction, crash recovery) over a staged embeddings corpus.
  */
object AnnQueries {

  val specs: Seq[QuerySpec] = Seq(
    // Brute-force cosine top-k (exact ANN baseline)
    QuerySpec("ext_ann_bruteforce", (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      SimilaritySearch.bruteForceTopK(e.where(col("vec_id") < 5), e, k = 10)
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE q_id != neighbor_id)
        |SELECT q_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 10""".stripMargin),

    // LSH-bucketed ANN (scale path; approximate-mode recall is
    // driver-graded by ext_ann_lsh_bound below, via the directed
    // probe variant). Declared here with probeRadius = planes —
    // the full Hamming ball, i.e. every bucket of the partition — so
    // the result is EXACT by construction and the oracle verifies the
    // whole bucket/probe/re-rank machinery loses and duplicates
    // nothing. (The fixture embeddings are near-isotropic: no partial
    // probe set can reach recall 1.0 on them, so the exhaustive probe
    // is the only honest oracle-equal configuration.)
    QuerySpec("ext_ann_lsh", (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      SimilaritySearch.lshTopK(e.where(col("vec_id") < 5), e, k = 10,
        planes = 2, probeRadius = 2)
    },
      // Exhaustive-probe configurations (probeRadius = planes; nProbe =
      // nCells) are exact by construction: same truth as brute force.
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE q_id != neighbor_id)
        |SELECT q_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 10""".stripMargin),

    // IVF ANN (KMeans cells + probed exact re-rank; seeded,
    // sample-fit index build — rebuilt inside the query, so the bench
    // number includes the build). nProbe = nCells probes every cell:
    // exact by partition-of-corpus construction, and the oracle gates
    // the cell-assignment + re-rank plumbing end-to-end; partial-probe
    // recall is ScalaTest-gated.
    QuerySpec("ext_ann_ivf", (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      IvfSearch.topK(e.where(col("vec_id") < 5),
        IvfSearch.buildIndex(e, nCells = 8), k = 10, nProbe = 8)
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE q_id != neighbor_id)
        |SELECT q_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 10""".stripMargin),

    // PERSISTED IVF index (build-once-query-many, the index-family
    // discipline): centroids + cell-partitioned vector sidecars on
    // the lake, probes push a STATIC partition filter so nProbe of
    // nCells directories are all a query reads (IvfIndexSpec pins
    // the records-read separation; the in-query REQUIRE pins the
    // partition filter on the cells scan). Declared at exhaustive
    // probes — exact regardless of clustering — against the same
    // brute-force oracle as the in-memory form.
    QuerySpec.scratch("ext_ann_ivf_indexed", (s, dir, root) => {
      val path = s"$root/vectors"
      stagedCorpus(s, dir, "emb-rep3", path)(p =>
        tbl(s, dir, "embeddings").repartition(3).write.parquet(p))
      graft.sinks.IvfIndex.collect(s, path, nCells = 8)
      val q = s.read.parquet(path).where(col("vec_id") < 5)
      val res = graft.sinks.IvfIndex.topK(s, path, q, k = 10, nProbe = 8)
      // a NON-EMPTY PartitionFilters naming __cell on the cells scan
      // (the scan line prints `PartitionFilters: [__cell IN (...)]`;
      // an unpruned read prints `PartitionFilters: []`)
      val plan = res.queryExecution.executedPlan.toString
      require(plan.linesIterator.exists(l =>
        l.contains("PartitionFilters: [") &&
          !l.replace(" ", "").contains("PartitionFilters:[]") &&
          l.contains("__cell")),
        "the cells scan must carry a __cell partition filter (pruned inverted file)")
      res
    },
      // the persisted-index forms carry the SAME exhaustive-probe
      // exactness contract, so both grade against the identical
      // brute-force truth (the delta form over the full corpus: its
      // refresh must leave no vector stale or missing)
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE q_id != neighbor_id)
        |SELECT q_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 10""".stripMargin),

    // EMBEDDING-FREE refs variant of the persisted IVF index (the
    // `ext_ann_lsh_indexed_refs` trade on the cell-partitioned
    // layout): `_ivf_cells` duplicates every embedding (~1x corpus
    // storage); `_ivf_refs` stores (file, vec_id, __cell) only and
    // re-reads candidate vectors from the corpus through ONE
    // column-pruned join per probe. Build-refresh-probe end-to-end
    // at exhaustive nProbe against the brute-force oracle; in-query
    // REQUIREs pin the three claims — refs sidecar a small fraction
    // of corpus bytes, the probe still pushes the __cell partition
    // filter, the re-rank corpus scan column-pruned to id+vector.
    QuerySpec.scratch("ext_ann_ivf_indexed_refs", (s, dir, root) => {
      import graft.sinks.IvfIndex
      val path = s"$root/vectors"
      val e = tbl(s, dir, "embeddings")
      stagedCorpus(s, dir, "emb-nm5-rep2", path)(p =>
        tbl(s, dir, "embeddings").where(col("vec_id") % 5 =!= 0)
          .repartition(2).write.parquet(p))
      IvfIndex.collectRefs(s, path, nCells = 8)
      e.where(col("vec_id") % 5 === 0).coalesce(1)
        .write.mode("append").parquet(path)
      IvfIndex.refreshRefs(s, path)
      def dirBytes(p: String): Long = {
        val fs = new org.apache.hadoop.fs.Path(p)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength
      }
      val refsBytes = dirBytes(IvfIndex.refsPath(path))
      val corpusBytes = dirBytes(path) - refsBytes
      require(refsBytes * 2 < corpusBytes,
        s"refs sidecar ($refsBytes B) must be a small fraction of the " +
          s"corpus ($corpusBytes B) — the cells form would be ~1x")
      val q = s.read.parquet(path).where(col("vec_id") < 5)
      val res = IvfIndex.topKRefs(s, path, q, k = 10, nProbe = 8)
      val plan = res.queryExecution.executedPlan.toString
      require(plan.linesIterator.exists(l =>
        l.contains("PartitionFilters: [") &&
          !l.replace(" ", "").contains("PartitionFilters:[]") &&
          l.contains("__cell")),
        "the refs scan must carry a __cell partition filter")
      require(plan.linesIterator.exists(l =>
        l.contains("ReadSchema:") && l.contains("embedding") &&
          !l.contains("label")),
        "the re-rank corpus scan must be column-pruned to id+vector")
      res
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE q_id != neighbor_id)
        |SELECT q_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 10""".stripMargin),

    // The SALTED-WRITE path, hash-graded (r14 left writeSalt
    // spec-only): build AND refresh with writeSalt = 4, so every
    // sidecar commit spreads each cell's write across multiple
    // tasks — at 100 TB the unsalted form caps write parallelism at
    // nCells tasks and each bears ~corpus/nCells rows. The in-query
    // REQUIREs pin that the salt REALLY spread files (> nCells data
    // files) while the cell-directory layout (and so partition
    // pruning) survived; exhaustive probes against the brute-force
    // oracle then grade that salting changed bytes-on-disk layout
    // only, never results.
    QuerySpec.scratch("ext_ann_ivf_indexed_salted", (s, dir, root) => {
      import graft.sinks.{IvfIndex, SidecarMaintenance}
      val path = s"$root/vectors"
      val e = tbl(s, dir, "embeddings")
      stagedCorpus(s, dir, "emb-nm5-rep2", path)(p =>
        tbl(s, dir, "embeddings").where(col("vec_id") % 5 =!= 0)
          .repartition(2).write.parquet(p))
      IvfIndex.collect(s, path, nCells = 8, writeSalt = 4)
      e.where(col("vec_id") % 5 === 0).coalesce(1)
        .write.mode("append").parquet(path)
      IvfIndex.refresh(s, path, writeSalt = 4)
      val cellsDir = IvfIndex.cellsPath(path)
      val files = SidecarMaintenance.dataFiles(s, cellsDir)
      require(files.size > 8,
        s"salted build+refresh must spread past nCells write tasks " +
          s"(got ${files.size} files for 8 cells)")
      val dirs = files.map(f =>
        new org.apache.hadoop.fs.Path(f).getParent.getName).toSet
      require(dirs.forall(_.startsWith("__cell=")) && dirs.size == 8,
        "salting must not disturb the cell-directory layout")
      val q = s.read.parquet(path).where(col("vec_id") < 5)
      val res = IvfIndex.topK(s, path, q, k = 10, nProbe = 8)
      val plan = res.queryExecution.executedPlan.toString
      require(plan.linesIterator.exists(l =>
        l.contains("PartitionFilters: [") &&
          !l.replace(" ", "").contains("PartitionFilters:[]") &&
          l.contains("__cell")),
        "salted layout must still prune by __cell partition filter")
      res
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE q_id != neighbor_id)
        |SELECT q_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 10""".stripMargin),

    // APPROXIMATE regime off the PERSISTED index (the
    // ext_ann_ivf_bound epistemics, moved onto the sidecar path):
    // partial probes (8 of 16 cells) against the in-engine exact
    // truth, oracle states the per-query verdicts — a probe,
    // assignment, partition-pruning, or refresh regression that
    // degrades recall below the floor fails the hash.
    QuerySpec.scratch("ext_ann_ivf_indexed_bound", (s, dir, root) => {
      val path = s"$root/vectors"
      stagedCorpus(s, dir, "emb-rep3", path)(p =>
        tbl(s, dir, "embeddings").repartition(3).write.parquet(p))
      graft.sinks.IvfIndex.collect(s, path, nCells = 16)
      val q = s.read.parquet(path).where(col("vec_id") < 5)
        .localCheckpoint(true)
      val ivf = graft.sinks.IvfIndex.topK(s, path, q, k = 10, nProbe = 8)
      val exact = SimilaritySearch.bruteForceTopK(q, s.read.parquet(path), k = 10)
      val perQ = exact
        .join(ivf.select(col("q_id"), col("neighbor_id"))
          .withColumn("__hit", lit(1)), Seq("q_id", "neighbor_id"), "left")
        .groupBy("q_id")
        .agg(count(lit(1)).as("n_exact"), count(col("__hit")).as("__hits"))
      val returned = ivf.groupBy("q_id").agg(count(lit(1)).as("__n_ret"))
      perQ.join(returned, Seq("q_id"))
        .select(col("q_id"), col("n_exact"),
          (col("__n_ret") === col("n_exact")).as("returned_ok"),
          (col("__hits") >= 6).as("recall_ok"))
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE q_id != neighbor_id),
        |t AS (SELECT q_id, neighbor_id,
        |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
        |      FROM s QUALIFY rank <= 10)
        |SELECT q_id, CAST(count(*) AS BIGINT) AS n_exact,
        |  TRUE AS returned_ok, TRUE AS recall_ok
        |FROM t GROUP BY q_id""".stripMargin),

    // The REFRESH path end-to-end: index bootstrapped on 4/5 of the
    // corpus, the remaining fifth appended as new files, file-set
    // refresh assigns ONLY those vectors to the frozen centroids —
    // then exhaustive probes must equal the brute-force truth over
    // the FULL corpus (stale or dropped vectors would break the
    // hash).
    QuerySpec.scratch("ext_ann_ivf_indexed_delta", (s, dir, root) => {
      val path = s"$root/vectors"
      val e = tbl(s, dir, "embeddings")
      stagedCorpus(s, dir, "emb-nm5-rep2", path)(p =>
        tbl(s, dir, "embeddings").where(col("vec_id") % 5 =!= 0)
          .repartition(2).write.parquet(p))
      graft.sinks.IvfIndex.collect(s, path, nCells = 8)
      e.where(col("vec_id") % 5 === 0).coalesce(1)
        .write.mode("append").parquet(path)
      graft.sinks.IvfIndex.refresh(s, path)
      val q = s.read.parquet(path).where(col("vec_id") < 5)
      graft.sinks.IvfIndex
        .topK(s, path, q, k = 10, nProbe = 8)
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE q_id != neighbor_id)
        |SELECT q_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 10""".stripMargin),

    // The PURGE-SHAPED maintenance path end-to-end, hash-graded:
    // bootstrap over a corpus laid out in two DETERMINISTIC files
    // (vec_id % 5 split), delete one whole corpus file — the delta a
    // GDPR purge-rewrite or retention drop produces — then the
    // O(delta) refresh rewrites ONLY the sidecar files that carried
    // it (SidecarMaintenanceSpec pins the byte-identity of the
    // rest). Exhaustive probes must equal the brute-force truth over
    // the SURVIVING slice: a stale carried row (deleted vector still
    // indexed) or an over-dropped survivor breaks the hash. The
    // oracle can state the survivor set exactly BECAUSE the file
    // split is deterministic (vec_id % 5 != 0).
    QuerySpec.scratch("ext_ann_ivf_indexed_purge", (s, dir, root) => {
      val path = s"$root/vectors"
      val e = tbl(s, dir, "embeddings")
      stagedCorpus(s, dir, "emb-nm5-c1", path)(p =>
        tbl(s, dir, "embeddings").where(col("vec_id") % 5 =!= 0)
          .coalesce(1).write.parquet(p))
      e.where(col("vec_id") % 5 === 0).coalesce(1)
        .write.mode("append").parquet(path)
      graft.sinks.IvfIndex.collect(s, path, nCells = 8)
      // locate and delete the %5==0 corpus file via the index itself
      val victim = s.read.parquet(graft.sinks.IvfIndex.cellsPath(path))
        .where(col("vec_id") % 5 === 0)
        .select("file").distinct().collect().map(_.getString(0))
      require(victim.length == 1, s"fixture wrote ${victim.length} victim files")
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(victim.head), false)
      graft.sinks.IvfIndex.refresh(s, path)
      val q = s.read.parquet(path).where(col("vec_id") < 5)
      graft.sinks.IvfIndex
        .topK(s, path, q, k = 10, nProbe = 8)
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5 AND vec_id % 5 != 0),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings WHERE vec_id % 5 != 0),
        |s AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE q_id != neighbor_id)
        |SELECT q_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 10""".stripMargin),

    // CRASH-RECOVERY of index maintenance, hash-graded: the exact
    // on-disk state a crash mid-swap leaves — staging sealed with
    // the commit marker, the doomed-file journal at the sidecar
    // root, the doomed file already deleted — is constructed
    // in-query. A direct probe must REFUSE the torn journal loudly;
    // the next maintenance entry must roll the commit FORWARD; and
    // the exhaustive probes after recovery must equal the
    // brute-force truth over the whole corpus (no lost rows, no
    // duplicated neighbors). The staged rows re-home one sidecar
    // file's rows, so recovery changes file layout but not content —
    // which is exactly what the hash grade checks.
    QuerySpec.scratch("ext_ann_ivf_indexed_recover", (s, dir, root) => {
      import graft.sinks.{IvfIndex, SidecarMaintenance}
      val path = s"$root/vectors"
      stagedCorpus(s, dir, "emb-rep3", path)(p =>
        tbl(s, dir, "embeddings").repartition(3).write.parquet(p))
      IvfIndex.collect(s, path, nCells = 8)
      val cellsDir = IvfIndex.cellsPath(path)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val doomed = SidecarMaintenance.dataFiles(s, cellsDir).min
      val staging = SidecarMaintenance.stagingPath(cellsDir)
      s.read.option("basePath", cellsDir).parquet(doomed)
        .localCheckpoint(true)
        .write.partitionBy("__cell").parquet(staging.toString)
      fs.create(new org.apache.hadoop.fs.Path(
        staging, SidecarMaintenance.CommitMarker)).close()
      val jr = fs.create(SidecarMaintenance.journalPath(cellsDir))
      jr.write(doomed.getBytes("UTF-8")); jr.close()
      fs.delete(new org.apache.hadoop.fs.Path(doomed), false)
      val q = s.read.parquet(path).where(col("vec_id") < 5)
        .localCheckpoint(true)
      val refused =
        try { IvfIndex.topK(s, path, q, k = 10, nProbe = 8).count(); false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("interrupted maintenance journal") }
      require(refused,
        "a probe against a crashed maintenance journal must refuse loudly")
      IvfIndex.refresh(s, path) // entry recover() rolls the commit forward
      IvfIndex.topK(s, path, q, k = 10, nProbe = 8)
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE q_id != neighbor_id)
        |SELECT q_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 10""".stripMargin),

    // CRASH MID-COMPACT, hash-graded — the recover shape at its
    // worst case: a compaction's commit stages the ENTIRE merged
    // tier and dooms EVERY file it repacks, so its mid-swap crash
    // state has the largest staging set and doomed list the protocol
    // ever produces. Constructed here for real: refresh-accumulated
    // small files, then the full tiered-compact commit fabricated at
    // the crash point (all small files journaled doomed, half
    // already deleted, merged staging sealed). The torn-journal
    // probe must refuse; the next maintenance entry must roll the
    // WHOLE repack forward; exhaustive probes after recovery must
    // equal brute force over the full corpus — any lost or
    // double-committed row in the all-files swap breaks the hash.
    QuerySpec.scratch("ext_ann_ivf_indexed_compact_recover", (s, dir, root) => {
      import graft.sinks.{IvfIndex, SidecarMaintenance}
      val path = s"$root/vectors"
      val e = tbl(s, dir, "embeddings")
      stagedCorpus(s, dir, "emb-nm5-rep2", path)(p =>
        tbl(s, dir, "embeddings").where(col("vec_id") % 5 =!= 0)
          .repartition(2).write.parquet(p))
      IvfIndex.collect(s, path, nCells = 8)
      e.where(col("vec_id") % 5 === 0).coalesce(1)
        .write.mode("append").parquet(path)
      IvfIndex.refresh(s, path)
      val cellsDir = IvfIndex.cellsPath(path)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      // the compact commit at its crash point: every data file
      // doomed, the whole merged tier staged and sealed
      val doomed = SidecarMaintenance.dataFiles(s, cellsDir)
      val staging = SidecarMaintenance.stagingPath(cellsDir)
      s.read.option("basePath", cellsDir).parquet(doomed: _*)
        .repartition(col("__cell"))
        .sortWithinPartitions("__cell", "vec_id")
        .localCheckpoint(true)
        .write.partitionBy("__cell").parquet(staging.toString)
      fs.create(new org.apache.hadoop.fs.Path(
        staging, SidecarMaintenance.CommitMarker)).close()
      val jr = fs.create(SidecarMaintenance.journalPath(cellsDir))
      jr.write(doomed.mkString("\n").getBytes("UTF-8")); jr.close()
      // the crash interrupted the doomed deletions halfway
      doomed.take(doomed.size / 2).foreach(f =>
        fs.delete(new org.apache.hadoop.fs.Path(f), false))
      val q = s.read.parquet(path).where(col("vec_id") < 5)
        .localCheckpoint(true)
      val refused =
        try { IvfIndex.topK(s, path, q, k = 10, nProbe = 8).count(); false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("interrupted maintenance journal") }
      require(refused,
        "a probe against a crashed compaction journal must refuse loudly")
      IvfIndex.refresh(s, path) // entry recover() finishes the repack
      IvfIndex.topK(s, path, q, k = 10, nProbe = 8)
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE q_id != neighbor_id)
        |SELECT q_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 10""".stripMargin),

    // CRASH MID-PUBLISH of a full REBUILD, hash-graded: the r14
    // publish (`delete(dest); rename(next, dest)`) had a window
    // where NO index existed at all. The journaled publish's exact
    // between-renames state — old index parked at `.old`, fully
    // built new index sealed at `.next`, nothing serving — is
    // constructed on disk; the next maintenance entry must roll the
    // sealed build IN and probes must equal brute force over the
    // full corpus. The `.next` is a REAL full rebuild (collect into
    // a scratch table over the same corpus files), so the grade
    // covers content, not just the directory dance.
    QuerySpec.scratch("ext_ann_ivf_indexed_publish_recover", (s, dir, root) => {
      import graft.sinks.{IvfIndex, SidecarMaintenance}
      val path = s"$root/vectors"
      val e = tbl(s, dir, "embeddings")
      stagedCorpus(s, dir, "emb-nm5-rep2", path)(p =>
        tbl(s, dir, "embeddings").where(col("vec_id") % 5 =!= 0)
          .repartition(2).write.parquet(p))
      IvfIndex.collect(s, path, nCells = 8)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val dest = IvfIndex.cellsPath(path)
      // stash the v1 index: it becomes the `.old` of the fabricated
      // crash state (both sides of the dance are REAL indexes)
      val stash = new org.apache.hadoop.fs.Path(s"$root/v1-stash")
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(dest), fs, stash, false,
        s.sparkContext.hadoopConfiguration)
      // the corpus grew and a full REBUILD ran (v2, covers all
      // files, stale-centroid refresh retired)...
      e.where(col("vec_id") % 5 === 0).coalesce(1)
        .write.mode("append").parquet(path)
      IvfIndex.collect(s, path, nCells = 8)
      // ...and crashed BETWEEN the publish renames: v1 parked at
      // `.old`, v2 fully built and SEALED at `.next`, NOTHING
      // serving — the exact window where the r14 delete-then-rename
      // publish lost the index entirely.
      require(fs.rename(new org.apache.hadoop.fs.Path(dest),
        new org.apache.hadoop.fs.Path(s"$dest.next")))
      fs.create(new org.apache.hadoop.fs.Path(s"$dest.next",
        SidecarMaintenance.PublishMarker)).close()
      require(fs.rename(stash, new org.apache.hadoop.fs.Path(s"$dest.old")))
      require(!fs.exists(new org.apache.hadoop.fs.Path(dest)),
        "fixture: the no-serving-index window must be real")
      IvfIndex.refresh(s, path) // heals the publish, then no-op delta
      require(!fs.exists(new org.apache.hadoop.fs.Path(s"$dest.next")) &&
        !fs.exists(new org.apache.hadoop.fs.Path(s"$dest.old")),
        "recovery must consume the publish leftovers")
      // if recovery wrongly restored v1 (`.old`), the delta slice is
      // unindexed and the full-corpus brute-force oracle breaks the
      // hash; rolling the SEALED v2 forward is the only passing path
      val q = s.read.parquet(path).where(col("vec_id") < 5)
        .localCheckpoint(true)
      IvfIndex.topK(s, path, q, k = 10, nProbe = 8)
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE q_id != neighbor_id)
        |SELECT q_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 10""".stripMargin),

    // CRASHED CONFIG-CHANGED REPLAY, hash-graded: a streaming replay
    // whose PRIOR attempt crashed between its corpus publish and its
    // index-refresh commit leaves the coverage carrying names the
    // next attempt's sweep can no longer see (they were deleted by
    // the crashed attempt) — the under-reported plan either wedges
    // on the clash guard or silently serves a stale binding. The
    // query constructs exactly that state through the real ingest
    // path (delivery → index → crashed 3-parts→1-part replay →
    // second attempt), REQUIREs the sweep under-reported AND that
    // the prefix-less refresh refuses loudly, then heals through the
    // batch's crash-durable NAME PREFIX (planAppend replacedPrefixes)
    // in ONE commit — exhaustive probes hash-graded against the
    // brute-force oracle over the full corpus.
    QuerySpec.scratch("ext_ann_ivf_indexed_replay_recover", (s, dir, root) => {
      import graft.sinks.IvfIndex
      import graft.streaming.StreamingOps
      val corpus = s"$root/vectors"
      val batch = tbl(s, dir, "embeddings").localCheckpoint(true)
      val n = batch.count()
      // delivery 1: three parts, indexed
      StreamingOps.idempotentBatchAppend(s, batch, corpus, 0L,
        targetRowsPerFile = n / 3 + 1)
      IvfIndex.collect(s, corpus, nCells = 8)
      IvfIndex.refresh(s, corpus) // heal coverage
      // config-changed replay attempt 1: sweeps all three names,
      // republishes ONE — crashes before its refresh (its replaced
      // report dies with it)
      StreamingOps.idempotentBatchAppend(s, batch, corpus, 0L,
        targetRowsPerFile = n)
      // attempt 2: the sweep can only report the one surviving name
      val (pub2, rep2) = StreamingOps.idempotentBatchAppend(
        s, batch, corpus, 0L, targetRowsPerFile = n)
      require(pub2.size == 1 && rep2 == pub2.toSet,
        "fixture: attempt 2's sweep must under-report the crashed " +
          "attempt's deletions — the amnesia the prefixes close")
      val wedged =
        try { IvfIndex.refresh(s, corpus, appendedOnly = Some(pub2.toSet),
          replaced = rep2); false }
        catch { case _: IllegalArgumentException => true }
      require(wedged,
        "the under-reported plan must clash loudly, never index twice")
      IvfIndex.refresh(s, corpus, appendedOnly = Some(pub2.toSet),
        replaced = rep2, replacedPrefixes = Seq("ingest-b0-"))
      require(s.read.parquet(IvfIndex.cellsPath(corpus)).count() == n,
        "every row of the republished batch must be indexed exactly once")
      val q = s.read.parquet(corpus).where(col("vec_id") < 5)
        .localCheckpoint(true)
      IvfIndex.topK(s, corpus, q, k = 10, nProbe = 8)
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE q_id != neighbor_id)
        |SELECT q_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 10""".stripMargin),

    // CELL-CLUSTERED corpus materialization — the layout operation
    // that makes the refs variant's partial-probe economics real: on
    // a randomly-laid-out corpus every file hosts every cell, so a
    // partial probe's re-rank prunes COLUMNS but reads every FILE;
    // clusterCorpus rewrites the table with each cell's vectors in
    // contiguous files (one KMeans train + one range exchange, every
    // column verbatim) and builds the refs sidecar against the SAME
    // quantizer. In-query REQUIREs pin the layout claims — (file,
    // cell) incidences bounded by files + cells (a random layout is
    // ~files × cells), any one cell's candidate files a strict
    // minority of the corpus, rows and columns preserved — and the
    // exhaustive-probe result is hash-graded against brute force.
    QuerySpec.scratch("ext_ann_ivf_refs_clustered", (s, dir, root) => {
      import graft.sinks.IvfIndex
      val raw = s"$root/raw"
      val path = s"$root/vectors"
      stagedCorpus(s, dir, "emb-rep3", raw)(p =>
        tbl(s, dir, "embeddings").repartition(3).write.parquet(p))
      IvfIndex.clusterCorpus(s, raw, path, nCells = 8, filesPerCell = 2)
      require(s.read.parquet(path).count() == s.read.parquet(raw).count(),
        "the re-layout must preserve every row")
      val refs = s.read.parquet(IvfIndex.refsPath(path))
      val pairs = refs.select("file", "__cell").distinct().count()
      val nFiles = refs.select("file").distinct().count()
      require(nFiles > 8 && pairs <= nFiles + 8,
        s"cell-clustered layout must be contiguous: $pairs (file, cell) " +
          s"incidences over $nFiles files + 8 cells")
      val perCell = refs.groupBy("__cell")
        .agg(count_distinct(col("file")).as("nf"))
        .agg(max(col("nf"))).head().getLong(0)
      require(perCell * 2 < nFiles,
        s"one cell's candidates span $perCell of $nFiles files — partial " +
          "probes must read a corpus fraction in FILES, not just columns")
      val q = s.read.parquet(path).where(col("vec_id") < 5)
      val res = IvfIndex.topKRefs(s, path, q, k = 10, nProbe = 8)
      val plan = res.queryExecution.executedPlan.toString
      require(plan.linesIterator.exists(l =>
        l.contains("PartitionFilters: [") &&
          !l.replace(" ", "").contains("PartitionFilters:[]") &&
          l.contains("__cell")),
        "the refs scan must carry a __cell partition filter")
      res
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE q_id != neighbor_id)
        |SELECT q_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 10""".stripMargin),

    // SNAPSHOT-ISOLATED probes, hash-graded: a probe running
    // CONCURRENTLY with a live maintenance commit — strictly inside
    // the window (journal present, marker sealed, swap not yet run;
    // REQUIREd in-query) — must return the committed PRE-commit
    // truth, not refuse and not see a torn view. The window is a
    // REAL refresh commit (the delta that indexes the %5==0 slice),
    // entered through the maintenance protocol's commit-point hook;
    // the probe after the window must serve the full-corpus truth.
    // Both phases are hash-graded against their brute-force oracles
    // (pre-commit = the %5!=0 slice, post-commit = the full corpus),
    // so a probe that leaked mid-swap rows, served the new
    // generation early, or dropped doomed-file rows breaks the hash.
    QuerySpec.scratch("ext_ann_ivf_indexed_snapshot", (s, dir, root) => {
      import graft.sinks.{IvfIndex, SidecarMaintenance}
      val path = s"$root/vectors"
      val e = tbl(s, dir, "embeddings")
      stagedCorpus(s, dir, "emb-nm5-rep2", path)(p =>
        tbl(s, dir, "embeddings").where(col("vec_id") % 5 =!= 0)
          .repartition(2).write.parquet(p))
      IvfIndex.collect(s, path, nCells = 8)
      IvfIndex.refresh(s, path) // heal coverage → a committed generation
      val q = s.read.parquet(path)
        .where(col("vec_id") < 5 && col("vec_id") % 5 =!= 0)
        .localCheckpoint(true)
      e.where(col("vec_id") % 5 === 0).coalesce(1)
        .write.mode("append").parquet(path)
      val cellsDir = IvfIndex.cellsPath(path)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      var during: org.apache.spark.sql.DataFrame = null
      var inWindow = false
      SidecarMaintenance.onCommitPoint = d =>
        if (d == cellsDir && during == null) {
          inWindow = fs.exists(SidecarMaintenance.journalPath(cellsDir))
          during = IvfIndex.topK(s, path, q, k = 10, nProbe = 8)
            .localCheckpoint(true)
        }
      try IvfIndex.refresh(s, path)
      finally SidecarMaintenance.onCommitPoint = null
      require(during != null && inWindow,
        "the probe must have run INSIDE a live commit window " +
          "(journal present, commit marker sealed)")
      val after = IvfIndex.topK(s, path, q, k = 10, nProbe = 8)
      during.withColumn("phase", lit("during"))
        .unionByName(after.withColumn("phase", lit("after")))
        .select("phase", "q_id", "neighbor_id", "rank")
    },
      // two phases, two truths: the in-window probe must equal brute
      // force over the PRE-commit slice (%5 != 0 — what the committed
      // coverage generation served), the post-commit probe brute force
      // over the full corpus
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5 AND vec_id % 5 != 0),
        |ca AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |       FROM embeddings WHERE vec_id % 5 != 0),
        |cf AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |       FROM embeddings),
        |sa AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |       FROM q, ca WHERE q_id != neighbor_id),
        |sf AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |       FROM q, cf WHERE q_id != neighbor_id),
        |ta AS (SELECT 'during' AS phase, q_id, neighbor_id,
        |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |       FROM sa QUALIFY rank <= 10),
        |tf AS (SELECT 'after' AS phase, q_id, neighbor_id,
        |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |       FROM sf QUALIFY rank <= 10)
        |SELECT * FROM ta UNION ALL SELECT * FROM tf""".stripMargin),

    // The ext_ann_ivf_indexed_snapshot shape on the LSH family's
    // buckets sidecar: same snapshotRead protocol, now with its own
    // graded in-window row (r16 carried IVF + BM25 only).
    QuerySpec.scratch("ext_ann_lsh_indexed_snapshot", (s, dir, root) => {
      import graft.sinks.{LshIndex, SidecarMaintenance}
      val path = s"$root/vectors"
      val e = tbl(s, dir, "embeddings")
      stagedCorpus(s, dir, "emb-nm5-rep2", path)(p =>
        tbl(s, dir, "embeddings").where(col("vec_id") % 5 =!= 0)
          .repartition(2).write.parquet(p))
      LshIndex.collect(s, path, planes = 4)
      LshIndex.refresh(s, path) // heal coverage → a committed generation
      val q = s.read.parquet(path)
        .where(col("vec_id") < 5 && col("vec_id") % 5 =!= 0)
        .localCheckpoint(true)
      e.where(col("vec_id") % 5 === 0).coalesce(1)
        .write.mode("append").parquet(path)
      val bucketsDir = LshIndex.bucketsPath(path)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      var during: org.apache.spark.sql.DataFrame = null
      var inWindow = false
      SidecarMaintenance.onCommitPoint = d =>
        if (d == bucketsDir && during == null) {
          inWindow = fs.exists(SidecarMaintenance.journalPath(bucketsDir))
          during = LshIndex.topK(s, path, q, k = 10, probeRadius = 4)
            .localCheckpoint(true)
        }
      try LshIndex.refresh(s, path)
      finally SidecarMaintenance.onCommitPoint = null
      require(during != null && inWindow,
        "the probe must have run INSIDE a live commit window " +
          "(journal present, commit marker sealed)")
      val after = LshIndex.topK(s, path, q, k = 10, probeRadius = 4)
      during.withColumn("phase", lit("during"))
        .unionByName(after.withColumn("phase", lit("after")))
        .select("phase", "q_id", "neighbor_id", "rank")
    },
      // same two-phase truth for the LSH buckets sidecar (exhaustive
      // radius) and the PQ codes sidecar (candidateK = MaxValue): the
      // in-window probe equals brute force over the pre-commit slice,
      // the post-commit probe brute force over the full corpus
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5 AND vec_id % 5 != 0),
        |ca AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |       FROM embeddings WHERE vec_id % 5 != 0),
        |cf AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |       FROM embeddings),
        |sa AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |       FROM q, ca WHERE q_id != neighbor_id),
        |sf AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |       FROM q, cf WHERE q_id != neighbor_id),
        |ta AS (SELECT 'during' AS phase, q_id, neighbor_id,
        |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |       FROM sa QUALIFY rank <= 10),
        |tf AS (SELECT 'after' AS phase, q_id, neighbor_id,
        |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |       FROM sf QUALIFY rank <= 10)
        |SELECT * FROM ta UNION ALL SELECT * FROM tf""".stripMargin),

    // The ext_ann_ivf_indexed_snapshot shape on the PQ family's
    // codes sidecar (no partition dirs — the snapshot protocol's
    // file-list read is the whole story here): frozen codebooks from
    // the bootstrap slice, exact at candidateK = MaxValue in both
    // phases.
    QuerySpec.scratch("ext_ann_pq_indexed_snapshot", (s, dir, root) => {
      import graft.sinks.{PqIndex, SidecarMaintenance}
      val path = s"$root/vectors"
      val e = tbl(s, dir, "embeddings")
      stagedCorpus(s, dir, "emb-nm5-rep2", path)(p =>
        tbl(s, dir, "embeddings").where(col("vec_id") % 5 =!= 0)
          .repartition(2).write.parquet(p))
      PqIndex.collect(s, path, m = 8, ks = 16)
      PqIndex.refresh(s, path) // heal coverage → a committed generation
      val q = s.read.parquet(path)
        .where(col("vec_id") < 5 && col("vec_id") % 5 =!= 0)
        .localCheckpoint(true)
      e.where(col("vec_id") % 5 === 0).coalesce(1)
        .write.mode("append").parquet(path)
      val codesDir = PqIndex.codesPath(path)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      var during: org.apache.spark.sql.DataFrame = null
      var inWindow = false
      SidecarMaintenance.onCommitPoint = d =>
        if (d == codesDir && during == null) {
          inWindow = fs.exists(SidecarMaintenance.journalPath(codesDir))
          during = PqIndex
            .topK(s, path, q, k = 10, candidateK = Int.MaxValue)
            .localCheckpoint(true)
        }
      try PqIndex.refresh(s, path)
      finally SidecarMaintenance.onCommitPoint = null
      require(during != null && inWindow,
        "the probe must have run INSIDE a live commit window " +
          "(journal present, commit marker sealed)")
      val after = PqIndex.topK(s, path, q, k = 10, candidateK = Int.MaxValue)
      during.withColumn("phase", lit("during"))
        .unionByName(after.withColumn("phase", lit("after")))
        .select("phase", "q_id", "neighbor_id", "rank")
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5 AND vec_id % 5 != 0),
        |ca AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |       FROM embeddings WHERE vec_id % 5 != 0),
        |cf AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |       FROM embeddings),
        |sa AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |       FROM q, ca WHERE q_id != neighbor_id),
        |sf AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |       FROM q, cf WHERE q_id != neighbor_id),
        |ta AS (SELECT 'during' AS phase, q_id, neighbor_id,
        |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |       FROM sa QUALIFY rank <= 10),
        |tf AS (SELECT 'after' AS phase, q_id, neighbor_id,
        |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |       FROM sf QUALIFY rank <= 10)
        |SELECT * FROM ta UNION ALL SELECT * FROM tf""".stripMargin),

    // PQ ANN (codebook train + codegen encode + ADC-scored candidates
    // + exact re-rank; index built inside the query, so the bench
    // number includes codebook training). candidateK = MaxValue
    // considers every corpus vector: exact by construction — the same
    // epistemics as ext_ann_lsh's exhaustive probe and ext_ann_ivf's
    // nProbe = nCells — and the oracle gates that the encode → LUT →
    // ADC → re-rank machinery loses and fabricates nothing.
    // Partial-candidateK recall is ScalaTest-gated.
    QuerySpec("ext_ann_pq", (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      PqSearch.topK(e.where(col("vec_id") < 5),
        PqSearch.buildIndex(e, m = 8, ks = 16), k = 10,
        candidateK = Int.MaxValue)
    },
      // candidateK = corpus (exhaustive) config: same truth as brute
      // force — the exact re-rank sees every vector.
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE q_id != neighbor_id)
        |SELECT q_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 10""".stripMargin),

    // PERSISTED LSH index — the training-free member of the
    // persisted ANN family: the whole "model" is one (planes, seed)
    // metadata row (hyperplanes derive deterministically inside the
    // codegen'd signature expression), buckets are
    // directory-partitioned and the multi-probe Hamming ball pushes
    // as a static partition filter (REQUIREd in-query). Declared at
    // radius = planes — probes every bucket of the partition, exact
    // brute force through the LSH machinery.
    QuerySpec.scratch("ext_ann_lsh_indexed", (s, dir, root) => {
      val path = s"$root/vectors"
      stagedCorpus(s, dir, "emb-rep3", path)(p =>
        tbl(s, dir, "embeddings").repartition(3).write.parquet(p))
      graft.sinks.LshIndex.collect(s, path, planes = 4)
      val q = s.read.parquet(path).where(col("vec_id") < 5)
      val res = graft.sinks.LshIndex.topK(s, path, q, k = 10, probeRadius = 4)
      val plan = res.queryExecution.executedPlan.toString
      require(plan.linesIterator.exists(l =>
        l.contains("PartitionFilters: [") &&
          !l.replace(" ", "").contains("PartitionFilters:[]") &&
          l.contains("bucket")),
        "the buckets scan must carry a bucket partition filter")
      res
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE q_id != neighbor_id)
        |SELECT q_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 10""".stripMargin),

    // The LSH refresh path end-to-end: bootstrap on 4/5, append,
    // metadata-only file-set refresh — exhaustive radius must equal
    // the brute-force truth over the full corpus.
    QuerySpec.scratch("ext_ann_lsh_indexed_delta", (s, dir, root) => {
      val path = s"$root/vectors"
      val e = tbl(s, dir, "embeddings")
      stagedCorpus(s, dir, "emb-nm5-rep2", path)(p =>
        tbl(s, dir, "embeddings").where(col("vec_id") % 5 =!= 0)
          .repartition(2).write.parquet(p))
      graft.sinks.LshIndex.collect(s, path, planes = 4)
      e.where(col("vec_id") % 5 === 0).coalesce(1)
        .write.mode("append").parquet(path)
      graft.sinks.LshIndex.refresh(s, path)
      val q = s.read.parquet(path).where(col("vec_id") < 5)
      graft.sinks.LshIndex
        .topK(s, path, q, k = 10, probeRadius = 4)
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE q_id != neighbor_id)
        |SELECT q_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 10""".stripMargin),

    // EMBEDDING-FREE refs variant of the persisted LSH index:
    // `_lsh_buckets` duplicates every embedding (2× corpus storage);
    // `_lsh_refs` stores (file, vec_id, bucket) only and re-reads
    // candidate vectors from the corpus through ONE column-pruned
    // join per probe. Build-refresh-probe end-to-end at exhaustive
    // radius against the brute-force oracle; in-query REQUIREs pin
    // the three claims — the refs sidecar is a small fraction of the
    // corpus bytes, the probe still pushes the bucket partition
    // filter, and the re-rank corpus scan reads ONLY the id+vector
    // columns (`label` pruned out of its ReadSchema).
    QuerySpec.scratch("ext_ann_lsh_indexed_refs", (s, dir, root) => {
      import graft.sinks.LshIndex
      val path = s"$root/vectors"
      val e = tbl(s, dir, "embeddings")
      stagedCorpus(s, dir, "emb-nm5-rep2", path)(p =>
        tbl(s, dir, "embeddings").where(col("vec_id") % 5 =!= 0)
          .repartition(2).write.parquet(p))
      LshIndex.collectRefs(s, path, planes = 4)
      e.where(col("vec_id") % 5 === 0).coalesce(1)
        .write.mode("append").parquet(path)
      LshIndex.refreshRefs(s, path)
      def dirBytes(p: String): Long = {
        val fs = new org.apache.hadoop.fs.Path(p)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength
      }
      val refsBytes = dirBytes(LshIndex.refsPath(path))
      val corpusBytes = dirBytes(path) - refsBytes
      require(refsBytes * 2 < corpusBytes,
        s"refs sidecar ($refsBytes B) must be a small fraction of the " +
          s"corpus ($corpusBytes B) — the buckets form would be ~1x")
      val q = s.read.parquet(path).where(col("vec_id") < 5)
      val res = LshIndex.topKRefs(s, path, q, k = 10, probeRadius = 4)
      val plan = res.queryExecution.executedPlan.toString
      require(plan.linesIterator.exists(l =>
        l.contains("PartitionFilters: [") &&
          !l.replace(" ", "").contains("PartitionFilters:[]") &&
          l.contains("bucket")),
        "the refs scan must carry a bucket partition filter")
      require(plan.linesIterator.exists(l =>
        l.contains("ReadSchema:") && l.contains("embedding") &&
          !l.contains("label")),
        "the re-rank corpus scan must be column-pruned to id+vector")
      res
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE q_id != neighbor_id)
        |SELECT q_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 10""".stripMargin),

    // BUCKET-CLUSTERED corpus for LSH refs probes
    // (IvfIndex.clusterCorpus's shape for the training-free index):
    // on a randomly-laid-out corpus every file hosts every bucket,
    // so a partial-radius probe's re-rank prunes COLUMNS but reads
    // every FILE; clusterCorpus rewrites the table with each
    // bucket's vectors in contiguous files (one codegen'd signature
    // pass + one range exchange, every column verbatim) and builds
    // the refs sidecar on the copy — the bucket is a pure function
    // of (planes, seed), so refs buckets and file layout share one
    // geometry by construction. In-query REQUIREs pin the layout
    // claims — (file, bucket) incidences bounded by files + buckets
    // (a random layout is ~files × buckets), any one bucket's
    // candidate files a strict minority of the corpus, rows
    // preserved — and the exhaustive-radius result is hash-graded
    // against brute force.
    QuerySpec.scratch("ext_ann_lsh_refs_clustered", (s, dir, root) => {
      import graft.sinks.LshIndex
      val raw = s"$root/raw"
      val path = s"$root/vectors"
      stagedCorpus(s, dir, "emb-rep3", raw)(p =>
        tbl(s, dir, "embeddings").repartition(3).write.parquet(p))
      LshIndex.clusterCorpus(s, raw, path, planes = 3, filesPerBucket = 2)
      require(s.read.parquet(path).count() == s.read.parquet(raw).count(),
        "the re-layout must preserve every row")
      val refs = s.read.parquet(LshIndex.refsPath(path))
      val pairs = refs.select("file", "bucket").distinct().count()
      val nFiles = refs.select("file").distinct().count()
      require(nFiles > 8 && pairs <= nFiles + 8,
        s"bucket-clustered layout must be contiguous: $pairs (file, bucket) " +
          s"incidences over $nFiles files + 8 buckets")
      val perBucket = refs.groupBy("bucket")
        .agg(count_distinct(col("file")).as("nf"))
        .agg(max(col("nf"))).head().getLong(0)
      require(perBucket * 2 < nFiles,
        s"one bucket's candidates span $perBucket of $nFiles files — " +
          "partial probes must read a corpus fraction in FILES, not just " +
          "columns")
      val q = s.read.parquet(path).where(col("vec_id") < 5)
      val res = LshIndex.topKRefs(s, path, q, k = 10, probeRadius = 3)
      val plan = res.queryExecution.executedPlan.toString
      require(plan.linesIterator.exists(l =>
        l.contains("PartitionFilters: [") &&
          !l.replace(" ", "").contains("PartitionFilters:[]") &&
          l.contains("bucket")),
        "the refs scan must carry a bucket partition filter")
      res
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE q_id != neighbor_id)
        |SELECT q_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 10""".stripMargin),

    // LSH crash-recovery, hash-graded (the ext_ann_ivf_indexed_recover
    // shape on the bucket-partitioned sidecar): mid-swap crash state
    // constructed on disk, torn-journal probe refusal REQUIREd,
    // recovery through the normal maintenance entry, exhaustive-radius
    // probes graded against the brute-force truth.
    QuerySpec.scratch("ext_ann_lsh_indexed_recover", (s, dir, root) => {
      import graft.sinks.{LshIndex, SidecarMaintenance}
      val path = s"$root/vectors"
      stagedCorpus(s, dir, "emb-rep3", path)(p =>
        tbl(s, dir, "embeddings").repartition(3).write.parquet(p))
      LshIndex.collect(s, path, planes = 4)
      val bucketsDir = LshIndex.bucketsPath(path)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val doomed = SidecarMaintenance.dataFiles(s, bucketsDir).min
      val staging = SidecarMaintenance.stagingPath(bucketsDir)
      s.read.option("basePath", bucketsDir).parquet(doomed)
        .localCheckpoint(true)
        .write.partitionBy("bucket").parquet(staging.toString)
      fs.create(new org.apache.hadoop.fs.Path(
        staging, SidecarMaintenance.CommitMarker)).close()
      val jr = fs.create(SidecarMaintenance.journalPath(bucketsDir))
      jr.write(doomed.getBytes("UTF-8")); jr.close()
      fs.delete(new org.apache.hadoop.fs.Path(doomed), false)
      val q = s.read.parquet(path).where(col("vec_id") < 5)
        .localCheckpoint(true)
      val refused =
        try { LshIndex.topK(s, path, q, k = 10, probeRadius = 4).count(); false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("interrupted maintenance journal") }
      require(refused,
        "a probe against a crashed maintenance journal must refuse loudly")
      LshIndex.refresh(s, path)
      LshIndex.topK(s, path, q, k = 10, probeRadius = 4)
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE q_id != neighbor_id)
        |SELECT q_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 10""".stripMargin),

    // LSH crash-grade symmetry with IVF's compact_recover (the
    // shared SidecarMaintenance protocol witnessed on the
    // bucket-partitioned sidecar): the tiered compact's worst-case
    // mid-swap crash — EVERY data file doomed, merged tier staged
    // and sealed, deletions interrupted halfway — must refuse direct
    // probes, roll forward through the next maintenance entry, and
    // serve exhaustive-radius probes equal to brute force after.
    QuerySpec.scratch("ext_ann_lsh_indexed_compact_recover", (s, dir, root) => {
      import graft.sinks.{LshIndex, SidecarMaintenance}
      val path = s"$root/vectors"
      val e = tbl(s, dir, "embeddings")
      stagedCorpus(s, dir, "emb-nm5-rep2", path)(p =>
        tbl(s, dir, "embeddings").where(col("vec_id") % 5 =!= 0)
          .repartition(2).write.parquet(p))
      LshIndex.collect(s, path, planes = 4)
      e.where(col("vec_id") % 5 === 0).coalesce(1)
        .write.mode("append").parquet(path)
      LshIndex.refresh(s, path)
      val bucketsDir = LshIndex.bucketsPath(path)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val doomed = SidecarMaintenance.dataFiles(s, bucketsDir)
      val staging = SidecarMaintenance.stagingPath(bucketsDir)
      s.read.option("basePath", bucketsDir).parquet(doomed: _*)
        .repartition(col("bucket"))
        .sortWithinPartitions("bucket", "vec_id")
        .localCheckpoint(true)
        .write.partitionBy("bucket").parquet(staging.toString)
      fs.create(new org.apache.hadoop.fs.Path(
        staging, SidecarMaintenance.CommitMarker)).close()
      val jr = fs.create(SidecarMaintenance.journalPath(bucketsDir))
      jr.write(doomed.mkString("\n").getBytes("UTF-8")); jr.close()
      doomed.take(doomed.size / 2).foreach(f =>
        fs.delete(new org.apache.hadoop.fs.Path(f), false))
      val q = s.read.parquet(path).where(col("vec_id") < 5)
        .localCheckpoint(true)
      val refused =
        try { LshIndex.topK(s, path, q, k = 10, probeRadius = 4).count(); false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("interrupted maintenance journal") }
      require(refused,
        "a probe against a crashed compaction journal must refuse loudly")
      LshIndex.refresh(s, path) // entry recover() finishes the repack
      LshIndex.topK(s, path, q, k = 10, probeRadius = 4)
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE q_id != neighbor_id)
        |SELECT q_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 10""".stripMargin),

    // LSH crash-grade symmetry with IVF's publish_recover: the
    // between-renames crash of a full REBUILD publish (old index
    // parked at `.old`, sealed v2 at `.next`, NOTHING serving) must
    // roll the sealed build in through the next maintenance entry.
    QuerySpec.scratch("ext_ann_lsh_indexed_publish_recover", (s, dir, root) => {
      import graft.sinks.{LshIndex, SidecarMaintenance}
      val path = s"$root/vectors"
      val e = tbl(s, dir, "embeddings")
      stagedCorpus(s, dir, "emb-nm5-rep2", path)(p =>
        tbl(s, dir, "embeddings").where(col("vec_id") % 5 =!= 0)
          .repartition(2).write.parquet(p))
      LshIndex.collect(s, path, planes = 4)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val dest = LshIndex.bucketsPath(path)
      val stash = new org.apache.hadoop.fs.Path(s"$root/v1-stash")
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(dest), fs, stash, false,
        s.sparkContext.hadoopConfiguration)
      e.where(col("vec_id") % 5 === 0).coalesce(1)
        .write.mode("append").parquet(path)
      LshIndex.collect(s, path, planes = 4)
      require(fs.rename(new org.apache.hadoop.fs.Path(dest),
        new org.apache.hadoop.fs.Path(s"$dest.next")))
      fs.create(new org.apache.hadoop.fs.Path(s"$dest.next",
        SidecarMaintenance.PublishMarker)).close()
      require(fs.rename(stash, new org.apache.hadoop.fs.Path(s"$dest.old")))
      require(!fs.exists(new org.apache.hadoop.fs.Path(dest)),
        "fixture: the no-serving-index window must be real")
      LshIndex.refresh(s, path) // heals the publish, then no-op delta
      require(!fs.exists(new org.apache.hadoop.fs.Path(s"$dest.next")) &&
        !fs.exists(new org.apache.hadoop.fs.Path(s"$dest.old")),
        "recovery must consume the publish leftovers")
      val q = s.read.parquet(path).where(col("vec_id") < 5)
        .localCheckpoint(true)
      LshIndex.topK(s, path, q, k = 10, probeRadius = 4)
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE q_id != neighbor_id)
        |SELECT q_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 10""".stripMargin),

    // PERSISTED PQ index — the one ANN sidecar SMALLER than its
    // corpus (m bytes per vector): the scan that touches every row
    // reads the codes sidecar only (PqIndexSpec pins embeddings out
    // of its ReadSchema), the exact re-rank broadcast-joins
    // candidates back into a column-pruned corpus pass. Declared at
    // the exact configuration (candidateK >= corpus) against the
    // same brute-force oracle as the in-memory form.
    QuerySpec.scratch("ext_ann_pq_indexed", (s, dir, root) => {
      val path = s"$root/vectors"
      stagedCorpus(s, dir, "emb-rep3", path)(p =>
        tbl(s, dir, "embeddings").repartition(3).write.parquet(p))
      graft.sinks.PqIndex.collect(s, path, m = 8, ks = 16)
      val q = s.read.parquet(path).where(col("vec_id") < 5)
      graft.sinks.PqIndex
        .topK(s, path, q, k = 10, candidateK = Int.MaxValue)
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE q_id != neighbor_id)
        |SELECT q_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 10""".stripMargin),

    // The PQ refresh path end-to-end (the ext_ann_ivf_indexed_delta
    // shape): bootstrap on 4/5 of the corpus, append the rest,
    // file-set refresh encodes ONLY the new files with the frozen
    // codebooks — exact-config search must equal the brute-force
    // truth over the full corpus.
    QuerySpec.scratch("ext_ann_pq_indexed_delta", (s, dir, root) => {
      val path = s"$root/vectors"
      val e = tbl(s, dir, "embeddings")
      stagedCorpus(s, dir, "emb-nm5-rep2", path)(p =>
        tbl(s, dir, "embeddings").where(col("vec_id") % 5 =!= 0)
          .repartition(2).write.parquet(p))
      graft.sinks.PqIndex.collect(s, path, m = 8, ks = 16)
      e.where(col("vec_id") % 5 === 0).coalesce(1)
        .write.mode("append").parquet(path)
      graft.sinks.PqIndex.refresh(s, path)
      val q = s.read.parquet(path).where(col("vec_id") < 5)
      graft.sinks.PqIndex
        .topK(s, path, q, k = 10, candidateK = Int.MaxValue)
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE q_id != neighbor_id)
        |SELECT q_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 10""".stripMargin),

    // PQ crash-recovery, hash-graded (the ext_ann_ivf_indexed_recover
    // shape on the codes-only sidecar — no partition dirs, the staged
    // rows are the doomed file's codes): torn-journal probe refusal
    // REQUIREd, recovery through the normal maintenance entry,
    // exact-config search graded against the brute-force truth.
    QuerySpec.scratch("ext_ann_pq_indexed_recover", (s, dir, root) => {
      import graft.sinks.{PqIndex, SidecarMaintenance}
      val path = s"$root/vectors"
      stagedCorpus(s, dir, "emb-rep3", path)(p =>
        tbl(s, dir, "embeddings").repartition(3).write.parquet(p))
      PqIndex.collect(s, path, m = 8, ks = 16)
      val codesDir = PqIndex.codesPath(path)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val doomed = SidecarMaintenance.dataFiles(s, codesDir).min
      val staging = SidecarMaintenance.stagingPath(codesDir)
      s.read.option("basePath", codesDir).parquet(doomed)
        .localCheckpoint(true)
        .write.parquet(staging.toString)
      fs.create(new org.apache.hadoop.fs.Path(
        staging, SidecarMaintenance.CommitMarker)).close()
      val jr = fs.create(SidecarMaintenance.journalPath(codesDir))
      jr.write(doomed.getBytes("UTF-8")); jr.close()
      fs.delete(new org.apache.hadoop.fs.Path(doomed), false)
      val q = s.read.parquet(path).where(col("vec_id") < 5)
        .localCheckpoint(true)
      val refused =
        try {
          PqIndex.topK(s, path, q, k = 10, candidateK = Int.MaxValue).count()
          false
        } catch { case e: IllegalArgumentException =>
          e.getMessage.contains("interrupted maintenance journal") }
      require(refused,
        "a probe against a crashed maintenance journal must refuse loudly")
      PqIndex.refresh(s, path)
      PqIndex
        .topK(s, path, q, k = 10, candidateK = Int.MaxValue)
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE q_id != neighbor_id)
        |SELECT q_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 10""".stripMargin),

    // PQ crash-grade symmetry with IVF's compact_recover, on the
    // codes-only sidecar (no partition dirs — the staged merged tier
    // is one flat id-clustered file set): every data file doomed,
    // deletions interrupted halfway, refusal + forward-roll +
    // exact-config search graded against brute force.
    QuerySpec.scratch("ext_ann_pq_indexed_compact_recover", (s, dir, root) => {
      import graft.sinks.{PqIndex, SidecarMaintenance}
      val path = s"$root/vectors"
      val e = tbl(s, dir, "embeddings")
      stagedCorpus(s, dir, "emb-nm5-rep2", path)(p =>
        tbl(s, dir, "embeddings").where(col("vec_id") % 5 =!= 0)
          .repartition(2).write.parquet(p))
      PqIndex.collect(s, path, m = 8, ks = 16)
      e.where(col("vec_id") % 5 === 0).coalesce(1)
        .write.mode("append").parquet(path)
      PqIndex.refresh(s, path)
      val codesDir = PqIndex.codesPath(path)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val doomed = SidecarMaintenance.dataFiles(s, codesDir)
      val staging = SidecarMaintenance.stagingPath(codesDir)
      s.read.option("basePath", codesDir).parquet(doomed: _*)
        .repartitionByRange(1, col("vec_id"))
        .sortWithinPartitions("vec_id")
        .localCheckpoint(true)
        .write.parquet(staging.toString)
      fs.create(new org.apache.hadoop.fs.Path(
        staging, SidecarMaintenance.CommitMarker)).close()
      val jr = fs.create(SidecarMaintenance.journalPath(codesDir))
      jr.write(doomed.mkString("\n").getBytes("UTF-8")); jr.close()
      doomed.take(doomed.size / 2).foreach(f =>
        fs.delete(new org.apache.hadoop.fs.Path(f), false))
      val q = s.read.parquet(path).where(col("vec_id") < 5)
        .localCheckpoint(true)
      val refused =
        try {
          PqIndex.topK(s, path, q, k = 10, candidateK = Int.MaxValue).count()
          false
        } catch { case e: IllegalArgumentException =>
          e.getMessage.contains("interrupted maintenance journal") }
      require(refused,
        "a probe against a crashed compaction journal must refuse loudly")
      PqIndex.refresh(s, path) // entry recover() finishes the repack
      PqIndex.topK(s, path, q, k = 10, candidateK = Int.MaxValue)
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE q_id != neighbor_id)
        |SELECT q_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 10""".stripMargin),

    // PQ crash-grade symmetry with IVF's publish_recover: sealed v2
    // at `.next`, v1 parked at `.old`, nothing serving — the next
    // maintenance entry must roll the sealed rebuild in (codebooks
    // travel INSIDE the codes dir, so quantizer and codes flip
    // together at every crash point).
    QuerySpec.scratch("ext_ann_pq_indexed_publish_recover", (s, dir, root) => {
      import graft.sinks.{PqIndex, SidecarMaintenance}
      val path = s"$root/vectors"
      val e = tbl(s, dir, "embeddings")
      stagedCorpus(s, dir, "emb-nm5-rep2", path)(p =>
        tbl(s, dir, "embeddings").where(col("vec_id") % 5 =!= 0)
          .repartition(2).write.parquet(p))
      PqIndex.collect(s, path, m = 8, ks = 16)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val dest = PqIndex.codesPath(path)
      val stash = new org.apache.hadoop.fs.Path(s"$root/v1-stash")
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(dest), fs, stash, false,
        s.sparkContext.hadoopConfiguration)
      e.where(col("vec_id") % 5 === 0).coalesce(1)
        .write.mode("append").parquet(path)
      PqIndex.collect(s, path, m = 8, ks = 16)
      require(fs.rename(new org.apache.hadoop.fs.Path(dest),
        new org.apache.hadoop.fs.Path(s"$dest.next")))
      fs.create(new org.apache.hadoop.fs.Path(s"$dest.next",
        SidecarMaintenance.PublishMarker)).close()
      require(fs.rename(stash, new org.apache.hadoop.fs.Path(s"$dest.old")))
      require(!fs.exists(new org.apache.hadoop.fs.Path(dest)),
        "fixture: the no-serving-index window must be real")
      PqIndex.refresh(s, path) // heals the publish, then no-op delta
      require(!fs.exists(new org.apache.hadoop.fs.Path(s"$dest.next")) &&
        !fs.exists(new org.apache.hadoop.fs.Path(s"$dest.old")),
        "recovery must consume the publish leftovers")
      val q = s.read.parquet(path).where(col("vec_id") < 5)
        .localCheckpoint(true)
      PqIndex.topK(s, path, q, k = 10, candidateK = Int.MaxValue)
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE q_id != neighbor_id)
        |SELECT q_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 10""".stripMargin),

    // APPROXIMATE regime off the PERSISTED LSH sidecar — the
    // ext_ann_ivf_indexed_bound epistemics for the training-free
    // member: partial-radius probes (Hamming ball r=2 of planes=4,
    // 11 of 16 bucket dirs) against the in-engine exact truth,
    // oracle states the per-query verdicts. At 4 planes the ball
    // covers most of the partition, so the floor (>= 5; measured
    // mins 7/7/7 at sf0.001/0.01/0.1) gates the MACHINERY of the
    // persisted path — meta-row signature derivation, ball
    // enumeration, partition-pruned scan, cosine ranking: lost or
    // fabricated rows flip returned_ok, an empty/misrouted probe
    // craters recall_ok — while the sharper geometry separation
    // lives in ext_ann_lsh_bound's planes=6 in-memory form.
    QuerySpec.scratch("ext_ann_lsh_indexed_bound", (s, dir, root) => {
      val path = s"$root/vectors"
      stagedCorpus(s, dir, "emb-rep3", path)(p =>
        tbl(s, dir, "embeddings").repartition(3).write.parquet(p))
      graft.sinks.LshIndex.collect(s, path, planes = 4)
      val q = s.read.parquet(path).where(col("vec_id") < 5)
        .localCheckpoint(true)
      val lsh = graft.sinks.LshIndex.topK(s, path, q, k = 10, probeRadius = 2)
      val exact = SimilaritySearch.bruteForceTopK(q, s.read.parquet(path), k = 10)
      val perQ = exact
        .join(lsh.select(col("q_id"), col("neighbor_id"))
          .withColumn("__hit", lit(1)), Seq("q_id", "neighbor_id"), "left")
        .groupBy("q_id")
        .agg(count(lit(1)).as("n_exact"), count(col("__hit")).as("__hits"))
      val returned = lsh.groupBy("q_id").agg(count(lit(1)).as("__n_ret"))
      perQ.join(returned, Seq("q_id"))
        .select(col("q_id"), col("n_exact"),
          (col("__n_ret") === col("n_exact")).as("returned_ok"),
          (col("__hits") >= 5).as("recall_ok"))
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE q_id != neighbor_id),
        |t AS (SELECT q_id, neighbor_id,
        |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
        |      FROM s QUALIFY rank <= 10)
        |SELECT q_id, CAST(count(*) AS BIGINT) AS n_exact,
        |  TRUE AS returned_ok, TRUE AS recall_ok
        |FROM t GROUP BY q_id""".stripMargin),

    // APPROXIMATE regime off the PERSISTED PQ sidecar — partial
    // candidateK = 50 (the exact declared config is candidateK >=
    // corpus), the ext_ann_pq_bound verdicts moved onto the sidecar
    // path: the ADC scan reads the persisted codes (never
    // embeddings), the candidate cut happens in the compressed
    // domain, and the exact re-rank joins back into the corpus.
    // Verdicts: (a) exactly n_exact rows per query, (b) per-query
    // hit floor >= 1 (measured mins 5/7/1 at sf0.001/0.01/0.1), (c)
    // aggregate quantization lift >= 12 of 50 total hits (measured
    // 34/41/18) — where BLIND candidate selection expects
    // k·candidateK/n total hits: ~5 at n=500 and ~0.05 at n=50000,
    // so the lift verdict flips if the persisted codebooks, code
    // layout, LUT, or ADC ranking regress to noise.
    QuerySpec.scratch("ext_ann_pq_indexed_bound", (s, dir, root) => {
      val path = s"$root/vectors"
      stagedCorpus(s, dir, "emb-rep3", path)(p =>
        tbl(s, dir, "embeddings").repartition(3).write.parquet(p))
      graft.sinks.PqIndex.collect(s, path, m = 8, ks = 16)
      val q = s.read.parquet(path).where(col("vec_id") < 5)
        .localCheckpoint(true)
      val pq = graft.sinks.PqIndex.topK(s, path, q, k = 10, candidateK = 50)
      val exact = SimilaritySearch.bruteForceTopK(q, s.read.parquet(path), k = 10)
      val perQ = exact
        .join(pq.select(col("q_id"), col("neighbor_id"))
          .withColumn("__hit", lit(1)), Seq("q_id", "neighbor_id"), "left")
        .groupBy("q_id")
        .agg(count(lit(1)).as("n_exact"), count(col("__hit")).as("__hits"))
      val returned = pq.groupBy("q_id").agg(count(lit(1)).as("__n_ret"))
      perQ.join(returned, Seq("q_id"))
        .withColumn("__total", sum(col("__hits"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy()))
        .select(col("q_id"), col("n_exact"),
          (col("__n_ret") === col("n_exact")).as("returned_ok"),
          (col("__hits") >= 1).as("floor_ok"),
          (col("__total") >= 12).as("lift_ok"))
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE q_id != neighbor_id),
        |t AS (SELECT q_id, neighbor_id,
        |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
        |      FROM s QUALIFY rank <= 10)
        |SELECT q_id, CAST(count(*) AS BIGINT) AS n_exact,
        |  TRUE AS returned_ok, TRUE AS floor_ok, TRUE AS lift_ok
        |FROM t GROUP BY q_id""".stripMargin),

    // IVF in its APPROXIMATE regime (nProbe = 8 of 16 cells), driver-
    // graded against the engine's own exact brute-force truth — the
    // ext_quantiles_bound pattern for the ANN family: the engine joins
    // its partial-probe top-k to the exact top-k, counts per-query
    // hits, and declares (a) exactly n_exact rows came back per query
    // (the bucket machinery loses and fabricates nothing) and (b)
    // recall@10 >= 0.6 per query. The oracle states the query ids, the
    // exact-side counts, and the expected verdicts — all TRUE — so a
    // regression in cell assignment, centroid ranking, or probe
    // selection flips a boolean and fails the hash compare. The bound:
    // probing half the cells blind would land ~0.5 recall on the
    // near-isotropic fixture; centroid-ranked probes measure 0.7–1.0
    // per query at sf0.001/0.01/0.1 (min 7 hits), so >= 6 separates
    // the geometry-aware regime from a broken probe order at every
    // verified scale. Everything is seeded/deterministic, so the
    // verdicts are stable for any partition or merge order.
    QuerySpec("ext_ann_ivf_bound", (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 5)
      val ivf = IvfSearch.topK(q,
        IvfSearch.buildIndex(e, nCells = 16), k = 10, nProbe = 8)
      val exact = SimilaritySearch.bruteForceTopK(q, e, k = 10)
      val perQ = exact
        .join(ivf.select(col("q_id"), col("neighbor_id"))
          .withColumn("__hit", lit(1)), Seq("q_id", "neighbor_id"), "left")
        .groupBy("q_id")
        .agg(count(lit(1)).as("n_exact"), count(col("__hit")).as("__hits"))
      val returned = ivf.groupBy("q_id").agg(count(lit(1)).as("__n_ret"))
      perQ.join(returned, Seq("q_id"))
        .select(col("q_id"), col("n_exact"),
          (col("__n_ret") === col("n_exact")).as("returned_ok"),
          (col("__hits") >= 6).as("recall_ok"))
    },
      // Approximate-regime verdicts: the oracle derives the exact-side
      // counts from the same brute-force truth and states the expected
      // booleans; the engine side computes them from its partial-probe
      // run, so a probe/assignment regression fails the hash.
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE q_id != neighbor_id),
        |t AS (SELECT q_id, neighbor_id,
        |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
        |      FROM s QUALIFY rank <= 10)
        |SELECT q_id, CAST(count(*) AS BIGINT) AS n_exact,
        |  TRUE AS returned_ok, TRUE AS recall_ok
        |FROM t GROUP BY q_id""".stripMargin),

    // LSH in its APPROXIMATE regime — query-DIRECTED multi-probe
    // (lshTopKDirected) at a quarter of the buckets (nProbe = 16 of
    // 64), completing the bound-verdict family: sketches, IVF, and
    // now LSH are all driver-graded off their exact configs. Same
    // epistemics as ext_ann_ivf_bound: the engine joins its
    // partial-probe top-k to its own exact brute-force truth and
    // declares (a) exactly n_exact rows returned per query, (b) a
    // per-query hit floor (>= 2; measured min 3 at sf0.001/0.01/0.1),
    // and (c) the aggregate margin-directed lift: >= 16 of 50 total
    // hits, where BLIND 16-of-64 probing expects 12.5 and the
    // measured totals are 26/19/20 — the verdict that flips if probe
    // ranking stops following the margins (home-bucket-only scores
    // single digits; inverted cost ranking scores below blind).
    // Per-query recall on the near-isotropic fixture is inherently
    // noisy (unlike IVF's centroid-ranked probes, a hyperplane
    // partition has no geometry-adaptive cells), which is why the
    // discriminating bound is the aggregate, not the floor — the
    // honest shape for this family. Deterministic: signatures,
    // margins, and tie-breaks are all hash-seeded.
    QuerySpec("ext_ann_lsh_bound", (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 5)
      val lsh = SimilaritySearch.lshTopKDirected(q, e, k = 10,
        planes = 6, nProbe = 16)
      val exact = SimilaritySearch.bruteForceTopK(q, e, k = 10)
      val perQ = exact
        .join(lsh.select(col("q_id"), col("neighbor_id"))
          .withColumn("__hit", lit(1)), Seq("q_id", "neighbor_id"), "left")
        .groupBy("q_id")
        .agg(count(lit(1)).as("n_exact"), count(col("__hit")).as("__hits"))
      val returned = lsh.groupBy("q_id").agg(count(lit(1)).as("__n_ret"))
      perQ.join(returned, Seq("q_id"))
        .withColumn("__total", sum(col("__hits"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy()))
        .select(col("q_id"), col("n_exact"),
          (col("__n_ret") === col("n_exact")).as("returned_ok"),
          (col("__hits") >= 2).as("floor_ok"),
          (col("__total") >= 16).as("lift_ok"))
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE q_id != neighbor_id),
        |t AS (SELECT q_id, neighbor_id,
        |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
        |      FROM s QUALIFY rank <= 10)
        |SELECT q_id, CAST(count(*) AS BIGINT) AS n_exact,
        |  TRUE AS returned_ok, TRUE AS floor_ok, TRUE AS lift_ok
        |FROM t GROUP BY q_id""".stripMargin),

    // PQ in its APPROXIMATE regime — candidateK = 50 (10% of the
    // gate-scale corpus; the exact declared config is candidateK =
    // corpus), completing the ANN bound-verdict family: IVF, LSH,
    // and now PQ are all driver-graded off their exact configs. The
    // engine joins its partial-candidate top-k to its own exact
    // brute-force truth and declares (a) exactly n_exact rows
    // returned per query, (b) a per-query hit floor (>= 2; measured
    // mins 4/4/2 at sf0.001/0.01/0.1), and (c) the aggregate
    // quantization lift: >= 12 of 50 total hits, where BLIND
    // candidate selection expects k·candidateK/n = 5 (n=500) and the
    // measured totals are 31/39/16 — the verdict that flips if the
    // codebook fit or the PQ distance ranking regresses to noise.
    QuerySpec("ext_ann_pq_bound", (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 5)
      val pq = PqSearch.topK(q, PqSearch.buildIndex(e, m = 8, ks = 16),
        k = 10, candidateK = 50)
      val exact = SimilaritySearch.bruteForceTopK(q, e, k = 10)
      val perQ = exact
        .join(pq.select(col("q_id"), col("neighbor_id"))
          .withColumn("__hit", lit(1)), Seq("q_id", "neighbor_id"), "left")
        .groupBy("q_id")
        .agg(count(lit(1)).as("n_exact"), count(col("__hit")).as("__hits"))
      val returned = pq.groupBy("q_id").agg(count(lit(1)).as("__n_ret"))
      perQ.join(returned, Seq("q_id"))
        .withColumn("__total", sum(col("__hits"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy()))
        .select(col("q_id"), col("n_exact"),
          (col("__n_ret") === col("n_exact")).as("returned_ok"),
          (col("__hits") >= 2).as("floor_ok"),
          (col("__total") >= 12).as("lift_ok"))
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE q_id != neighbor_id),
        |t AS (SELECT q_id, neighbor_id,
        |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
        |      FROM s QUALIFY rank <= 10)
        |SELECT q_id, CAST(count(*) AS BIGINT) AS n_exact,
        |  TRUE AS returned_ok, TRUE AS floor_ok, TRUE AS lift_ok
        |FROM t GROUP BY q_id""".stripMargin),
  )
}
