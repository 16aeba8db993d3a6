package graft.sinks

import graft.functions.TextFunctions
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted inverted token index for a lake text column — the
  * search-side sibling of [[StatsIndex]] (range questions) and
  * [[BloomIndex]] (membership questions): posting lists answering
  * "which documents contain these words" without scanning the
  * corpus. The 100 TB payoff is word-phrase search: candidates come
  * from the posting lists of the QUERY's tokens only (a pushed
  * `token IN (…)` read against a token-range-clustered index), and
  * just that candidate sliver pays the exact containment verify —
  * the corpus itself is only ever touched for the candidates.
  *
  * Layout: `(file, token, doc id, positions)` rows at
  * `<table>/_invindex`
  * (underscore → invisible to table scans, like `_stats`/`_bloom`),
  * one POSITIONAL posting per distinct (document, token) pair — the
  * sorted word positions enable index-only phrase adjacency
  * ([[phraseSearchIndexOnly]]) and read off tf as `size(positions)`
  * — carrying the
  * source data file so maintenance is the same file-set arithmetic
  * as the sibling indexes: [[refresh]] scans ONLY files not yet
  * indexed (file immutability makes carried postings sound), drops
  * postings of vanished files verbatim, and never revisits an old
  * file. The index is written range-clustered on `token`, so a
  * search's `IN` filter prunes whole row groups by footer stats.
  *
  * Tokenization is [[TextFunctions.words]] over
  * [[TextFunctions.normalized]] — the engine's one canonical text
  * split, shared with every text-analysis oracle, so search results
  * are SQL-mirrorable in DuckDB.
  *
  * Scale posture: the build is one scan + one token-range exchange
  * of the postings (corpus-linear, output index-sized); refresh is
  * O(new files' postings) + an index-sized rewrite (the index is
  * ~tokens-per-doc × docs rows of a few dozen bytes — orders below
  * the corpus); search moves only the query tokens' posting lists
  * plus candidate rows. A hot token ("the") inflates one posting
  * list — range clustering spreads tokens, not occurrences, so pair
  * stop-word-heavy query workloads with a stopword drop at query
  * time (the candidate intersection makes rare tokens do the
  * pruning work anyway).
  */
object InvertedIndex {

  private[graft] def indexPath(table: String): String = s"$table/_invindex"

  private def postingsOf(
      spark: SparkSession,
      table: String,
      paths: Seq[String],
      textCol: String,
      idCol: String): DataFrame =
    ParquetMemo.readFiles(spark, table, paths)
      .select(col("_metadata.file_path").as("file"), col(idCol).as("id"),
        posexplode(
          TextFunctions.words(TextFunctions.normalized(col(textCol)))))
      .groupBy("file", "id", "col")
      .agg(sort_array(collect_list(col("pos"))).as("positions"))
      .select(col("file"), col("col").as("token"), col("id"), col("positions"))

  /** Range-cluster postings on (token, id) into `buckets` files. */
  private def clustered(postings: DataFrame, buckets: Int): DataFrame =
    postings.select("file", "token", "id", "positions")
      .repartitionByRange(buckets, col("token"), col("id"))
      .sortWithinPartitions("token", "id")

  /** The family's layout contract, stated once: a document's rows
    * live in ONE data file. Fails naming up to five offending `ids`. */
  private def requireOneFile(ids: Array[org.apache.spark.sql.Row]): Unit =
    require(ids.isEmpty,
      s"documents present in MORE THAN ONE data file: ids " +
        s"${ids.map(_.get(0)).mkString(", ")}${if (ids.length == 5) ", …" else ""} — " +
        "the index family's df/dl statistics assume one file per document " +
        "(append new ids, purge-rewrite whole files); compact the table so " +
        "each document's rows live in a single file, then rebuild")

  /** The index family's layout assumption, ENFORCED at build time: a
    * document's rows live in ONE data file (appends add new ids,
    * purge rewrites whole files). The df partials in `_termstats`
    * and the one-row-per-id `_doclen` read both lean on it — a
    * document split across files would double-count df and dl. The
    * check is an index-sized two-column aggregate over the just-
    * written postings (never the corpus); violations fail LOUDLY
    * before the index becomes (or replaces) the live one. */
  private def requireOneFilePerDoc(spark: SparkSession, idxDir: String): Unit =
    requireOneFile(spark.read.parquet(idxDir)
      .groupBy("id").agg(count_distinct(col("file")).as("__nf"))
      .where(col("__nf") > 1).limit(5).collect())

  /** Full (re)build, staged under `.next` and published by the
    * sealed [[DirSwap]] ([[SidecarMaintenance.rebuild]]) — an aborted
    * rebuild (including a layout-guard trip) leaves any previous
    * index serving, and a crash mid-publish is rolled forward by
    * the next maintenance entry. `buckets` sizes the index
    * file count — at test scale a handful; at corpus scale pick
    * ~index-bytes / 128 MB. */
  def collect(
      spark: SparkSession,
      table: String,
      textCol: String,
      idCol: String,
      buckets: Int = 4): Unit = {
    val files = BloomIndex.dataFilePaths(spark, table)
    require(files.nonEmpty, s"no data files under $table")
    SidecarMaintenance.rebuild(spark, indexPath(table)) { next =>
      clustered(postingsOf(spark, table, files, textCol, idCol), buckets)
        .write.mode(SaveMode.Overwrite).parquet(next)
      requireOneFilePerDoc(spark, next)
    }
  }

  /** Repack the WHOLE index into `buckets` GLOBALLY token-range-
    * clustered files (one journaled whole-index rewrite), plus the
    * retrieval-stats sidecars when present. O(index) by design —
    * an explicit offline layout reset (global re-clustering); the
    * streaming-cadence amortizer is [[compactSmall]]. */
  def compact(
      spark: SparkSession,
      table: String,
      buckets: Int = 4): Unit = {
    SidecarMaintenance.compact(spark, indexPath(table), Seq.empty,
      statsCol = Some("id"))(clustered(_, buckets))
    val fs = new Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(termStatsPath(table), docLenPath(table)).foreach { p =>
      if (fs.exists(new Path(p)))
        SidecarMaintenance.compact(spark, p, Seq.empty)(
          _.repartitionByRange(1, col("file")).sortWithinPartitions("file"))
    }
  }

  /** Size-tiered repack of refresh-accumulated SMALL index files
    * only ([[SidecarMaintenance.compactSmall]]) — O(accumulated
    * deltas), never O(index): postings are text-scale, so the whole-
    * index form is a scheduled corpus-sized rewrite a streaming
    * cadence must not pay. The merged tier lands as ONE token-
    * clustered file (clustered within the tier, not globally — probe
    * correctness never depends on global clustering, only file-skip
    * efficiency, and graduated tiers keep their clustering). */
  def compactSmall(
      spark: SparkSession,
      table: String,
      smallBytes: Long = 32L << 20): Unit = {
    SidecarMaintenance.compactSmall(
      spark, indexPath(table), Seq.empty, smallBytes,
      statsCol = Some("id"))(clustered(_, 1))
    val fs = new Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(termStatsPath(table), docLenPath(table)).foreach { p =>
      if (fs.exists(new Path(p)))
        SidecarMaintenance.compactSmall(spark, p, Seq.empty, smallBytes)(
          _.repartitionByRange(1, col("file")).sortWithinPartitions("file"))
    }
  }

  /** The pre-mutation layout guard of [[refresh]]: the fresh files'
    * documents must not split a document across files within the
    * delta, nor re-introduce an id the kept index already carries.
    *
    * With the fresh id bounds known from the corpus files' parquet
    * footers ([[SidecarMaintenance.footerIdRange]]) it is ONE job and
    * tokenization-free (r18): the fresh side is read at DOC level
    * straight from the corpus (id column only — no posting explode,
    * no tokenizer), and the more-than-one-file check and the
    * fresh-vs-kept clash check collapse into a single per-id
    * aggregation. One deliberate tightening over the posting-level
    * form: a token-less (empty-text) document was invisible to it; the
    * doc-level read sees it, so a violation involving an empty
    * document now rejects too. Without the bounds, one aggregation
    * over the (checkpointed) fresh postings yields the per-id file
    * count and the id range for kept-file pruning
    * ([[SidecarMaintenance.idRangeOf]] semantics), then the clash
    * probe runs; offender collection (error path only) re-runs the
    * per-id count for the message. Null ids only trip as fresh-side
    * multi-file documents (an equality clash join never matches
    * them). */
  private def guardDeltaOneFilePerDoc(
      spark: SparkSession, table: String, idCol: String, idxDir: String)(
      freshPost: DataFrame, plan: SidecarMaintenance.DeltaPlan,
      bounds: Option[(Long, Long)]): Unit = bounds match {
    case Some((lo, hi)) =>
      val freshDocs = ParquetMemo.readFiles(spark, table, plan.fresh)
        .select(col(idCol).as("id"), col("_metadata.file_path").as("file"))
        .withColumn("__fresh", lit(1L))
      val both = SidecarMaintenance.keptRows(spark, idxDir, plan, bounds) match {
        case Some(k) => freshDocs.unionByName(
          k.select(col("id"))
            .where(col("id").between(lit(lo), lit(hi)))
            .withColumn("file", lit(null).cast("string"))
            .withColumn("__fresh", lit(0L)))
        case None => freshDocs
      }
      requireOneFile(both.groupBy("id")
        .agg(count_distinct(when(col("__fresh") === 1L, col("file")))
            .as("__nf"),
          sum(lit(1L) - col("__fresh")).as("__nk"))
        .where(col("__nf") > 1L ||
          (col("__nf") >= 1L && col("__nk") >= 1L && col("id").isNotNull))
        .limit(5).collect())
    case None =>
      val g = freshPost.groupBy("id")
        .agg(count_distinct(col("file")).as("__nf"))
      val Array(st) = g.agg(
        sum(when(col("__nf") > 1, 1L).otherwise(0L)).as("dups"),
        count(lit(1)).as("n"),
        min(col("id")).as("lo"), max(col("id")).as("hi"),
        min(col("id").cast("long")).as("llo"),
        max(col("id").cast("long")).as("lhi"),
        sum(when(col("id").cast("long").isNull, 1L).otherwise(0L))
          .as("badcast"))
        .collect()
      if (st.getLong(0) > 0L)
        requireOneFile(g.where(col("__nf") > 1).limit(5).collect())
      if (st.getLong(1) == 0L) return
      val idRange =
        if (st.getLong(6) > 0L || st.isNullAt(4)) None
        else Some((st.getLong(4), st.getLong(5)))
      val kept = SidecarMaintenance.keptRows(spark, idxDir, plan, idRange)
      if (kept.isEmpty || st.isNullAt(2)) return
      requireOneFile(kept.get.select("id")
        .where(col("id").between(lit(st.get(2)), lit(st.get(3))))
        .join(broadcast(freshPost.select("id").distinct()), Seq("id"), "left_semi")
        .limit(5).collect())
  }

  /** Incremental maintenance at O(delta) WRITE I/O
    * ([[SidecarMaintenance.commitDelta]], the same journaled
    * delta-commit as the ANN sidecars): postings for files not yet
    * indexed are built (the ONLY corpus reads) and APPENDED as fresh
    * index files — token-range-clustered within the commit, so the
    * pushed `token IN` read still prunes row groups per commit;
    * vanished files' postings drop by rewriting only the index files
    * that carried them. The layout guard runs BEFORE any mutation,
    * so a violating refresh (e.g. an append that re-introduces an
    * already-indexed id in a new file) rejects loudly with the
    * CURRENT index untouched. */
  def refresh(
      spark: SparkSession,
      table: String,
      textCol: String,
      idCol: String,
      buckets: Int = 4,
      appendedOnly: Option[Set[String]] = None,
      replaced: Set[String] = Set.empty,
      replacedPrefixes: Seq[String] = Nil): Unit = {
    val idx = indexPath(table)
    // footer bounds → the one-job doc-level guard and no checkpoint:
    // the postings build then runs exactly once, inside the staging
    // write. Unusable footers (non-integral ids, nulls) keep the
    // checkpointed aggregation form.
    SidecarMaintenance.refreshDelta(spark, table, idx, Seq(idx),
      "inverted index", "collect()", idCol, "id", Nil, clustered(_, buckets),
      appendedOnly, replaced, replacedPrefixes)(
      postingsOf(spark, table, _, textCol, idCol))(
      guardDeltaOneFilePerDoc(spark, table, idCol, idx))
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Sidecar freshness is COUPLED to the index (ADVICE r10): if the
    // retrieval-stats sidecars exist, a refresh that left them stale
    // would silently drop refreshed-in documents from BM25 (dl is
    // inner-joined on id in bm25StatsFromIndex) and serve stale dl
    // for survivors — correctness by caller discipline. The
    // incremental refresher is O(changed files' index slice), so the
    // coupling costs only the delta the refresh itself just built.
    if (fs.exists(new Path(docLenPath(table))) ||
      fs.exists(new Path(termStatsPath(table))))
      refreshRetrievalStats(spark, table, replaced, replacedPrefixes)
  }

  /** Canonical word sequence of a query phrase (order and repeats
    * preserved — this is what [[phraseSearch]] verifies). */
  private[graft] def phraseWords(phrase: String): Seq[String] =
    phrase.toLowerCase.trim.split("\\s+").toSeq.filter(_.nonEmpty)

  /** Distinct tokens — a repeated word constrains candidates once. */
  private[graft] def phraseTokens(phrase: String): Seq[String] =
    phraseWords(phrase).distinct

  /** Ids of documents whose token set covers the phrase's — the
    * index-pruned candidate superset (every true phrase match is a
    * word-boundary match, so all its words hold postings; word order
    * and adjacency are verified by [[phraseSearch]]). */
  def candidates(spark: SparkSession, table: String, phrase: String): DataFrame = {
    val toks = phraseTokens(phrase)
    require(toks.nonEmpty, "empty search phrase")
    SidecarMaintenance.snapshotRead(spark, indexPath(table))
      .where(col("token").isin(toks: _*))
      .groupBy("id")
      .agg(count(lit(1)).as("__hits")) // (token, id) unique → count == distinct
      .where(col("__hits") === toks.length)
      .select("id")
  }

  /** Exact word-phrase search WITHOUT touching the corpus: the
    * postings are POSITIONAL (per (document, token): the sorted word
    * positions — the classic IR index design), so adjacency verifies
    * inside the index. The first token's positions seed the viable
    * phrase-start set; each subsequent token intersects it with its
    * own positions shifted back — (n−1) joins on the document id
    * over the query tokens' posting lists only. Word-boundary
    * semantics are identical to [[phraseSearch]] (consecutive word
    * positions ⟺ padded containment in the normalized text); the
    * declared query grades the whole index path against the
    * full-scan predicate. Returns the matching document ids.
    *
    * 100 TB posture: this path never opens a corpus file — search
    * cost is the query tokens' posting lists (pushed `IN` read)
    * joined id-keyed. [[phraseSearch]] stays as the corpus-verified
    * form (useful when the caller wants the document rows anyway).
    */
  def phraseSearchIndexOnly(
      spark: SparkSession,
      table: String,
      phrase: String): DataFrame = {
    val ws = phraseWords(phrase)
    require(ws.nonEmpty, "empty search phrase")
    val idx = SidecarMaintenance.snapshotRead(spark, indexPath(table))
    def postings(t: String): DataFrame =
      idx.where(col("token") === t).select(col("id"), col("positions"))
    var cur = postings(ws.head)
      .select(col("id"), col("positions").as("__starts"))
    ws.tail.zipWithIndex.foreach { case (w, i) =>
      val off = i + 1
      val nxt = postings(w).select(col("id"), col("positions").as("__next"))
      cur = cur.join(nxt, "id")
        .withColumn("__starts",
          filter(col("__starts"), s => array_contains(col("__next"), s + off)))
        .where(size(col("__starts")) > 0)
        .select(col("id"), col("__starts"))
    }
    cur.select(col("id"))
  }

  /** BM25 sufficient statistics served ENTIRELY from the index — no
    * corpus scan at query time: tf reads off `size(positions)`, df
    * counts each query token's posting list, and dl comes from the
    * `_doclen` sidecar when [[buildRetrievalStats]] has run — a
    * plain O(docs) two-column scan, one row per id under the
    * enforced one-file-per-doc layout, joined against the (small,
    * usually broadcast) query-token tf rows. Without the sidecar the
    * dl falls back to an id-keyed fold of the WHOLE index — correct,
    * but an index-sized shuffle per query (the exact hazard the
    * sidecar exists to kill; Bm25Spec pins the shuffle gap): build
    * the sidecars for the scale path. Output schema and values match
    * [[graft.ext.TextAnalysis.bm25Stats]] exactly (same oracle
    * grades both): (doc id, token, tf, df, dl) for documents hitting
    * ≥1 query token. */
  def bm25StatsFromIndex(
      spark: SparkSession,
      table: String,
      query: String,
      idOut: String = "doc_id"): DataFrame = {
    val qtoks = phraseTokens(query)
    require(qtoks.nonEmpty, "empty query")
    val idx = SidecarMaintenance.snapshotRead(spark, indexPath(table))
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dl =
      if (fs.exists(new Path(docLenPath(table))))
        SidecarMaintenance.snapshotRead(spark, docLenPath(table))
          .select(col("id"), col("dl"))
      else idx.groupBy("id")
        .agg(sum(size(col("positions"))).cast("long").as("dl"))
    val tf = idx.where(col("token").isin(qtoks: _*))
      .select(col("id"), col("token"),
        size(col("positions")).cast("long").as("tf"))
    import org.apache.spark.sql.expressions.Window
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("token"))))
      .join(dl, "id")
      .select(col("id").as(idOut), col("token"), col("tf"), col("df"), col("dl"))
  }

  private[graft] def termStatsPath(table: String): String = s"$table/_termstats"
  private[graft] def docLenPath(table: String): String = s"$table/_doclen"

  /** Retrieval-stats sidecars, built from the INDEX (never the
    * corpus) as PER-FILE PARTIALS so maintenance is the same file-set
    * arithmetic as every other sidecar: `_termstats` holds
    * `(file, token, df, max_tf, min_dl)` — each statistic is
    * mergeable (df sums, max_tf maxes, min_dl mins), so the query
    * side folds the q tokens' partial rows in a pushed-`IN` read —
    * and `_doclen` holds `(file, id, dl)` (per-doc word length; a
    * document split across files sums, matching the postings'
    * per-file layout). [[refreshRetrievalStats]] drops vanished
    * files' rows and aggregates ONLY new files' postings —
    * O(new files' index slice), no corpus read, no full recompute —
    * which is exactly the delta a [[Purge]] rewrite or a streaming
    * append produces.
    *
    * df partials assume a document's rows live in ONE data file (the
    * corpus append/purge model throughout the index family — the
    * same assumption [[bm25StatsFromIndex]] makes): a doc split
    * across files would double-count df. [[collect]]/[[refresh]]
    * ENFORCE the layout (`requireOneFilePerDoc`), so an index these
    * sidecars are built from has already proven it. */
  def buildRetrievalStats(spark: SparkSession, table: String): Unit = {
    val idx = ParquetMemo.readDir(spark, indexPath(table))
    writeStatsPartials(spark, table, idx, SaveMode.Overwrite)
  }

  private def writeStatsPartials(
      spark: SparkSession,
      table: String,
      postings: DataFrame,
      mode: SaveMode): Unit = {
    val dl = postings.groupBy("file", "id")
      .agg(sum(size(col("positions"))).cast("long").as("dl"))
      .localCheckpoint(true)
    dl.write.mode(mode).parquet(docLenPath(table))
    postings.select(col("file"), col("id"), col("token"),
        size(col("positions")).cast("long").as("tf"))
      .join(dl, Seq("file", "id"))
      .groupBy("file", "token")
      .agg(count(lit(1)).as("df"), max(col("tf")).as("max_tf"),
        min(col("dl")).as("min_dl"))
      .write.mode(mode).parquet(termStatsPath(table))
  }

  /** Incremental sidecar maintenance, pure file-set arithmetic at
    * O(delta) WRITE I/O ([[SidecarMaintenance.commitDelta]], each
    * sidecar its own recoverable commit): partial rows of vanished
    * data files drop by rewriting only the sidecar files carrying
    * them, files already covered stay byte-identical on disk, and
    * only files newly present in the INDEX get their postings
    * aggregated (an index-sized read, a delta-sized write). Call
    * after [[refresh]] (the index is the source of truth for which
    * files exist); the two sidecars are diffed independently, so a
    * crash between their commits heals on the next call. `replaced`
    * (threaded from [[refresh]]) names corpus files an idempotent
    * replay republished: the stats sidecars key coverage on file
    * NAME exactly as the index does, so without it a republished
    * name's dl/term-stats partials would no-op as already covered
    * and serve the stale binding — the moved-in documents would
    * silently vanish from BM25 (dl inner-joins on id) while the
    * postings themselves were correctly re-indexed. */
  def refreshRetrievalStats(
      spark: SparkSession,
      table: String,
      replaced: Set[String] = Set.empty,
      replacedPrefixes: Seq[String] = Nil): Unit = {
    import spark.implicits._
    val fs = new Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(termStatsPath(table), docLenPath(table)).foreach(p =>
      require(fs.exists(new Path(p)),
        s"no retrieval stats at $p — bootstrap with buildRetrievalStats()"))
    val idx = ParquetMemo.readDir(spark, indexPath(table))
    // the postings index's coverage log already records which corpus
    // files it covers — the memoized read replaces an O(index-rows)
    // `file`-column scan per refresh; the scan remains as the heal
    // path when the log is absent
    val current = SidecarMaintenance.coveredFiles(spark, indexPath(table))
      .getOrElse(idx.select("file").distinct().as[String].collect().toSet)
    // postings slice of the given index files -> (dl, ts) partials
    def partialsOf(files: Seq[String]): (DataFrame, DataFrame) = {
      val post = idx.join(broadcast(files.toDF("file")), Seq("file"), "left_semi")
      val dl = post.groupBy("file", "id")
        .agg(sum(size(col("positions"))).cast("long").as("dl"))
        .localCheckpoint(true)
      val ts = post.select(col("file"), col("id"), col("token"),
          size(col("positions")).cast("long").as("tf"))
        .join(dl, Seq("file", "id"))
        .groupBy("file", "token")
        .agg(count(lit(1)).as("df"), max(col("tf")).as("max_tf"),
          min(col("dl")).as("min_dl"))
      (dl, ts)
    }
    val dlPlan = SidecarMaintenance.planDelta(spark, docLenPath(table),
      current, replaced, replacedPrefixes)
    val tsPlan = SidecarMaintenance.planDelta(spark, termStatsPath(table),
      current, replaced, replacedPrefixes)
    // the eagerly-executed dl aggregation (partialsOf checkpoints it)
    // runs ONCE for the union of the two sidecars' fresh sets — they
    // are identical except after a crash between the two commits,
    // where each sidecar still gets exactly its own missing slice
    val unionFresh = (dlPlan.fresh ++ tsPlan.fresh).distinct.sorted
    lazy val partials = partialsOf(unionFresh)
    def sliceOf(all: => DataFrame, fresh: Seq[String]): Option[DataFrame] =
      if (fresh.isEmpty) None
      else if (fresh == unionFresh) Some(all)
      else Some(all.join(broadcast(fresh.toDF("file")), Seq("file"), "left_semi"))
    SidecarMaintenance.applyDelta(spark, docLenPath(table), dlPlan,
      sliceOf(partials._1, dlPlan.fresh), Seq.empty, identity)
    SidecarMaintenance.applyDelta(spark, termStatsPath(table), tsPlan,
      sliceOf(partials._2, tsPlan.fresh), Seq.empty, identity)
  }

  /** Result of [[bm25TopKPruned]]: the top-k rows, how many terms the
    * pruning needed to treat as essential, and whether the MaxScore
    * bound certifies the result equals unpruned scoring (always true
    * on return — the loop widens the essential set until it holds;
    * exactness is up to float ties at the k-th score boundary). */
  final case class PrunedTopK(
      topK: DataFrame,
      nEssential: Int,
      nTerms: Int,
      boundVerified: Boolean)

  /** MaxScore-pruned BM25 top-k served from the index (Turtle &
    * Flood's MaxScore, re-expressed as set-at-a-time dataflow): each
    * query term's EXACT score upper bound comes from `_termstats`
    * (BM25's tf-part is increasing in tf and decreasing in dl, so
    * `idf · tfpart(max_tf, min_dl)` dominates every posting). Terms
    * sort by bound; only the ESSENTIAL prefix generates candidates —
    * a document matching none of them scores at most the
    * non-essential bound sum, so once the k-th candidate score
    * reaches that sum the result provably equals scoring everything.
    * The loop starts with one essential term and widens until the
    * certificate holds (worst case: all terms essential = unpruned).
    *
    * 100 TB posture: candidate generation reads ONLY the essential
    * terms' posting lists; the scoring join touches the other lists'
    * candidate rows alone, and the aggregate + top-k sort move
    * |candidates| rows instead of every matched document — on
    * realistic skewed-idf queries the rare terms are essential and
    * the stop-word-sized lists never enter an exchange unfiltered.
    * The per-term metadata read is q rows off a pushed `IN`.
    * `pruned = false` scores every matched document (the in-engine
    * truth the pruned path is graded against).
    *
    * Corpus scalars (N, avgdl) derive from `_doclen`, i.e. from
    * INDEXED documents — identical to the corpus-path scalars
    * whenever every document tokenizes non-empty (Bm25Spec pins the
    * parity); self-consistent between pruned and unpruned paths
    * always. */
  def bm25TopKPruned(
      spark: SparkSession,
      table: String,
      query: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      idOut: String = "doc_id",
      pruned: Boolean = true): PrunedTopK = {
    require(k >= 1, s"top-k needs k >= 1, got $k")
    val qtoks = phraseTokens(query).distinct
    require(qtoks.nonEmpty, "empty query")
    // committed-snapshot reads across all three sidecars: the query
    // serves through a live maintenance commit window on the
    // pre-commit truth ([[SidecarMaintenance.snapshotRead]]). The
    // three sidecars commit in sequence (index, then stats — the
    // refresh coupling), so a reader inside one window can pair
    // sidecar generations one commit apart — the bounded skew any
    // non-atomic multi-sidecar refresh admits, gone when the window
    // closes; a reader needing strict cross-sidecar consistency can
    // still gate on [[SidecarMaintenance.requireClean]] over all
    // three paths (the pre-r16 refusal mode).
    // fold the per-file partials for just the q tokens (pushed IN):
    // df sums, max_tf maxes, min_dl mins — the merge that makes the
    // sidecar file-set-refreshable
    val stats = SidecarMaintenance.snapshotRead(spark, termStatsPath(table))
      .where(col("token").isin(qtoks: _*))
      .groupBy("token")
      .agg(sum(col("df")).cast("long").as("df"),
        max(col("max_tf")).as("max_tf"), min(col("min_dl")).as("min_dl"))
      .select("token", "df", "max_tf", "min_dl").collect()
    // one-file-per-doc layout (ENFORCED at index build by
    // requireOneFilePerDoc) → the (file, id) partials are already
    // one row per id; folding them here would shuffle every doc on
    // every query (the shuffle-metrics spec caught exactly that)
    val doclen = SidecarMaintenance.snapshotRead(spark, docLenPath(table))
      .select("id", "dl")
    val scal = doclen.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl")).head()
    val n = scal.getLong(0)
    val avgdl = if (scal.isNullAt(1)) 1.0 else scal.getDouble(1)
    def idfOf(df: Long): Double = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    def tfPart(tf: Long, dl: Long): Double =
      tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
    val idfMap = stats.map(r => r.getString(0) -> idfOf(r.getLong(1))).toMap
    val ubs = stats
      .map(r => r.getString(0) -> (idfOf(r.getLong(1)) * tfPart(r.getLong(2), r.getLong(3))))
      .sortBy { case (t, ub) => (-ub, t) }

    val post = SidecarMaintenance.snapshotRead(spark, indexPath(table))
      .where(col("token").isin(qtoks: _*))
      .select(col("id"), col("token"),
        size(col("positions")).cast("long").as("tf"))
    val score = element_at(typedLit(idfMap), col("token")) *
      col("tf") * (k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / avgdl))
    def topOf(cands: Option[DataFrame]): DataFrame =
      cands.map(c => post.join(c, "id")).getOrElse(post)
        .join(doclen, "id")
        .withColumn("__s", score)
        .groupBy("id").agg(sum(col("__s")).as("score"))
        .orderBy(col("score").desc, col("id").asc)
        .limit(k)
        .withColumnRenamed("id", idOut)

    if (!pruned || ubs.length <= 1)
      return PrunedTopK(topOf(None).localCheckpoint(true),
        ubs.length, ubs.length, boundVerified = true)

    var e = 1
    while (true) {
      val suffix = ubs.drop(e).map(_._2).sum
      val cands = post
        .where(col("token").isin(ubs.take(e).map(_._1).toSeq: _*))
        .select("id").distinct()
      // the top-k rows are k-bounded by construction — collect ONCE
      // (the same limit-probed contract the cluster operators use)
      // and hand them back as a LocalRelation: the old shape paid a
      // localCheckpoint job AND a collect job per widening round
      val topPlan = topOf(Some(cands))
      val rows = topPlan.collect()
      val top = spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), topPlan.schema)
      val verified = suffix == 0.0 ||
        (rows.length == k && rows.last.getDouble(1) >= suffix)
      if (verified) return PrunedTopK(top, e, ubs.length, boundVerified = true)
      e += 1
      if (e >= ubs.length)
        return PrunedTopK(topOf(None).localCheckpoint(true),
          ubs.length, ubs.length, boundVerified = true)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Exact word-phrase search: the phrase matches on word boundaries
    * in the normalized text (`" phrase "` within `" norm "` — the
    * same padded-containment form the text oracles use). Only index
    * candidates are verified; result equals the full-scan predicate
    * by construction. Returns matching rows of `table`. */
  def phraseSearch(
      spark: SparkSession,
      table: String,
      textCol: String,
      idCol: String,
      phrase: String): DataFrame = {
    val norm = phraseWords(phrase).mkString(" ")
    require(norm.nonEmpty, "empty search phrase")
    val docs = ParquetMemo.readDir(spark, table)
    docs.join(broadcast(candidates(spark, table, phrase)),
        docs(idCol) === col("id"), "left_semi")
      .where(instr(
        concat(lit(" "), TextFunctions.normalized(col(textCol)), lit(" ")),
        s" $norm ") > 0)
  }
}
