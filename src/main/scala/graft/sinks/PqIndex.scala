package graft.sinks

import graft.ext.PqSearch
import graft.functions.{PqAdcScore, PqCodebooks, PqEncode, PqLut, VectorFunctions}
import graft.plans.RankTopK
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** PERSISTED product-quantization ANN index — [[PqSearch]] promoted
  * to lake sidecars with the index family's discipline, and the one
  * member of the ANN family whose index is SMALLER than the corpus:
  *
  *  - `_pq_codes`: (file, vec_id, \_\_codes) — m bytes per vector
  *    (64 float dims → 8 ids at m=8, a ~32× I/O reduction against
  *    re-scanning embeddings), range-clustered by vec_id per commit.
  *  - `_pq_codes/_codebooks`: one row (m, ks, dsub, flat) — the
  *    frozen driver-trained sub-space codebooks, stored INSIDE the
  *    codes dir (underscore-prefixed, invisible to codes reads) so
  *    [[collect]]'s journaled publish moves codebooks and codes
  *    together — no crash point can pair new codebooks with codes
  *    encoded under old ones.
  *
  * Unlike [[IvfIndex]] (which stores vectors cell-partitioned,
  * because cells are what it prunes by), the codes sidecar
  * deliberately does NOT duplicate the embeddings — compression is
  * the point of PQ. Query = one ADC scan over the codes sidecar
  * (whole-stage codegen'd table lookups, map-side top-candidateK
  * below the one candidate exchange), then the exact re-rank
  * broadcast-joins the candidate ids back into a corpus pass that is
  * COLUMN-PRUNED to (id, vector). That trades one extra
  * candidate-sized exchange against [[PqSearch.topK]]'s
  * carry-vectors-through-the-shuffle plan, and in exchange the scan
  * that touches every row reads 8-byte codes, not vectors — the
  * trade a 100 TB corpus wants.
  *
  * [[refresh]] keeps the codebooks FROZEN (assignment is one
  * codegen'd encode pass; retraining is a rebuild) and is O(delta)
  * in write I/O ([[SidecarMaintenance.commitDelta]]): new corpus
  * files' vectors are encoded and APPENDED as fresh code files;
  * vanished files' codes drop by rewriting only the sidecar files
  * that carried them. The one-row-per-vector guard runs BEFORE any
  * mutation; [[compact]] repacks per-commit small files.
  *
  * Exactness contract matches [[PqSearch]]: `candidateK` at or above
  * the corpus size degenerates to exact brute force evaluated
  * through the full compressed-domain machinery — the declared
  * queries grade build and refresh at that setting. */
object PqIndex {

  private[graft] def codesPath(table: String): String = s"$table/_pq_codes"
  private[graft] def codebooksPath(table: String): String =
    s"${codesPath(table)}/_codebooks"

  /** Range-cluster a commit's codes by vec_id (compression locality;
    * the ADC scan reads everything regardless). */
  private def clustered(rows: DataFrame, buckets: Int): DataFrame =
    rows.select("file", "vec_id", "__codes")
      .repartitionByRange(buckets, col("vec_id"))
      .sortWithinPartitions("vec_id")

  /** Bootstrap / rebuild: driver-trained codebooks on a bounded
    * no-count sample (via [[PqSearch.buildIndex]]), one codegen'd
    * encode pass; codes and codebooks built under `_pq_codes.next`
    * and published by the crash-recoverable [[DirSwap]]
    * ([[SidecarMaintenance.rebuild]]). */
  def collect(
      spark: SparkSession,
      table: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      m: Int = 8,
      ks: Int = 16,
      iters: Int = 10,
      seed: Long = 42L,
      buckets: Int = 4): Unit =
    SidecarMaintenance.rebuild(spark, codesPath(table)) { next =>
      import spark.implicits._
      val idx = PqSearch.buildIndex(IvfIndex.corpusOf(spark, table, idCol, vecCol),
        m, ks, iters, seed)
      val cb = idx.codebooks
      IvfIndex.fillVectors(spark, next, clustered(idx.encoded, buckets), Nil,
        "_codebooks", Seq((cb.m, cb.ks, cb.dsub, cb.flat)).toDF("m", "ks", "dsub", "flat"))
    }

  private[graft] def readCodebooks(spark: SparkSession, table: String): PqCodebooks = {
    // listing-signature memo — zero Spark jobs in the steady state
    // (was: schema-inference + head() fetch per refresh AND per probe)
    val r = ParquetMemo.metaHead(spark, codebooksPath(table))
    PqCodebooks(r.getAs[Int]("m"), r.getAs[Int]("ks"), r.getAs[Int]("dsub"),
      r.getAs[Seq[Double]]("flat").toArray)
  }

  /** Incremental maintenance, pure file-set arithmetic over the
    * FROZEN codebooks — O(delta) write I/O. `appendedOnly` as in
    * [[IvfIndex.refresh]]: plan from exactly those candidates, no
    * corpus listing, no vanish detection. */
  def refresh(
      spark: SparkSession,
      table: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      buckets: Int = 4,
      appendedOnly: Option[Set[String]] = None,
      replaced: Set[String] = Set.empty,
      replacedPrefixes: Seq[String] = Nil): Unit =
    SidecarMaintenance.refreshDelta(spark, table, codesPath(table),
      Seq(codebooksPath(table), codesPath(table)), "PQ index", "collect()",
      idCol, "vec_id", Nil, clustered(_, buckets),
      appendedOnly, replaced, replacedPrefixes)({ fresh =>
      val cb = readCodebooks(spark, table)
      ParquetMemo.readFiles(spark, table, fresh)
        .select(col("_metadata.file_path").as("file"),
          col(idCol).as("vec_id"),
          PqEncode(col(vecCol), cb).as("__codes"))
    })(IvfIndex.vectorGuard(spark, codesPath(table)))

  /** Repack the WHOLE codes sidecar — explicit offline op; the
    * streaming-cadence amortizer is [[compactSmall]]. */
  def compact(spark: SparkSession, table: String, buckets: Int = 4): Unit =
    SidecarMaintenance.compact(spark, codesPath(table), Seq.empty,
      statsCol = Some("vec_id"))(clustered(_, buckets))

  /** Size-tiered repack of SMALL code files only — the merged tier
    * lands as ONE id-sorted file (row-group stats stay tight) so it
    * graduates past the threshold instead of churning. */
  def compactSmall(
      spark: SparkSession,
      table: String,
      smallBytes: Long = 32L << 20): Unit =
    SidecarMaintenance.compactSmall(
      spark, codesPath(table), Seq.empty, smallBytes,
      statsCol = Some("vec_id"))(clustered(_, 1))

  /** ADC over the codes sidecar, exact re-rank against the
    * column-pruned corpus. Output (q_id, neighbor_id, rank) —
    * identical contract to [[PqSearch.topK]]. */
  def topK(
      spark: SparkSession,
      table: String,
      queries: DataFrame,
      k: Int,
      candidateK: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(candidateK >= k, s"candidateK ($candidateK) must be >= k ($k)")
    // committed-snapshot read: serves through a live commit window
    // ([[SidecarMaintenance.snapshotRead]])
    val codesSnap = SidecarMaintenance.snapshotRead(spark, codesPath(table))
    val cb = readCodebooks(spark, table)
    val qLut = broadcast(queries.select(
      col(idCol).as("q_id"), PqLut(col(vecCol), cb).as("__lut")))
    val qVec = broadcast(queries.select(
      col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      VectorFunctions.norm(col(vecCol)).as("q_nrm")))
    // the scan that touches EVERY corpus row reads m bytes per
    // vector — never the embeddings
    val codes = codesSnap
      .select(col("vec_id").as("neighbor_id"), col("__codes"))
    val wAdc = Window.partitionBy(col("q_id"))
      .orderBy(col("__adc").desc, col("neighbor_id").asc)
    val cands = codes.crossJoin(qLut)
      .where(col("q_id") =!= col("neighbor_id"))
      .withColumn("__adc", PqAdcScore(col("__codes"), col("__lut"), cb.ks))
      .select(col("q_id"), col("neighbor_id"), col("__adc"))
      .withColumn("__ar", row_number().over(wAdc))
      .where(col("__ar") <= candidateK)
      .select(col("q_id"), col("neighbor_id"))
    // candidates (queries × candidateK, small by contract) broadcast
    // INTO the corpus pass, which is column-pruned to (id, vector)
    val corpusVecs = ParquetMemo.readDir(spark, table)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
        VectorFunctions.norm(col(vecCol)).as("c_nrm"))
    RankTopK.frame(corpusVecs.join(broadcast(cands), Seq("neighbor_id"))
      .join(qVec, Seq("q_id"))
      .withColumn("cos",
        VectorFunctions.dot(col("q_vec"), col("c_vec"))
          / (col("q_nrm") * col("c_nrm"))), k, s"ann: pq probe $table")
  }
}
