package graft
package queries

import graft.ext._
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Fixtures._

/** The training-text pipeline: statistics, quality and language
  * signals, BM25 and inverted indexes, BPE, tokens, chunking,
  * packing and decontamination.
  */
object TextQueries {

  // ── DuckDB fragments mirroring TextFunctions bit-exactly ─────────
  // (DuckDB regexp_replace needs the 'g' flag; Spark's is global by
  // default. Counts are BIGINT on both sides.)
  private[queries] val normSql = "regexp_replace(lower(text), '\\s+', ' ', 'g')"
  private[queries] val wordsSql = "list_filter(regexp_split_to_array(text, '\\s+'), w -> w != '')"
  private val wordsNormSql = s"list_filter(regexp_split_to_array($normSql, ' '), w -> w != '')"
  private val paddedSql = s"(' ' || $normSql || ' ')"

  private def occSql(w: String): String =
    s"CAST((length($paddedSql) - length(replace($paddedSql, ' $w ', ' '))) / ${w.length + 1} AS BIGINT)"

  private def hitsSql(lang: String): String =
    graft.functions.TextFunctions.StopwordMarkers(lang).map(occSql).mkString("(", " + ", ")")

  // DuckDB list_reduce has no initial accumulator and ERRORS on an
  // empty list — the prepended 0 seeds the fold exactly like Spark's
  // aggregate(…, 0L, …), so empty/whitespace-only docs yield 0 on
  // both sides instead of crashing the oracle.
  private val rollingSql =
    s"""list_reduce(
       |  list_prepend(CAST(0 AS BIGINT), list_transform(
       |    list_filter(regexp_split_to_array($normSql, ' '), w -> w != ''),
       |    w -> CAST(length(w) * ascii(substring(w, 1, 1)) AS BIGINT))),
       |  (acc, x) -> (acc * 31 + x) % 1000000007)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // Inverted-index word-phrase search, end to end: the corpus
    // lands in two waves (collect, then an append + O(new files)
    // refresh — InvertedIndexSpec's poisoned-posting case proves old
    // files are never rescanned), and the search intersects ONLY the
    // query tokens' posting lists (pushed token-IN read against the
    // token-range-clustered index) before the exact word-boundary
    // verify touches just the candidate docs. Result must equal the
    // full-scan padded-containment predicate — the oracle. The
    // in-query require proves the index pruned below the corpus;
    // the margin is modest HERE because the synthetic vocabulary is
    // ~100 words so every common token posts in most docs — a real
    // Zipfian corpus makes the intersection, and the win, sharper.
    QuerySpec.scratch("ext_inverted_search", (s, dir, root) => {
      val docs = tbl(s, dir, "documents").select("doc_id", "lang", "text")
      val corpusPath = s"$root/corpus"
      stagedCorpus(s, dir, "docs-lang-m2-rep2", corpusPath)(p =>
        tbl(s, dir, "documents").select("doc_id", "lang", "text")
          .where(col("doc_id") % 2 === 0).repartition(2).write.parquet(p))
      graft.sinks.InvertedIndex.collect(s, corpusPath, "text", "doc_id")
      docs.where(col("doc_id") % 2 =!= 0)
        .coalesce(1).write.mode("append").parquet(corpusPath)
      graft.sinks.InvertedIndex.refresh(s, corpusPath, "text", "doc_id")
      val phrase = "key order"
      val cand = graft.sinks.InvertedIndex
        .candidates(s, corpusPath, phrase).count()
      val total = docs.count()
      require(cand < total,
        s"posting intersection must prune below the corpus: $cand of $total")
      graft.sinks.InvertedIndex
        .phraseSearch(s, corpusPath, "text", "doc_id", phrase)
        .select("doc_id", "lang")
    },
      """SELECT doc_id, lang FROM documents
        |WHERE contains(
        |  ' ' || regexp_replace(lower(text), '\s+', ' ', 'g') || ' ',
        |  ' key order ')""".stripMargin),

    // BM25 statistics served ENTIRELY from the positional index (tf
    // = size(positions), df = posting-list length, dl read off the
    // _doclen sidecar — one O(docs) two-column scan, never an
    // index-wide fold per query): ranking never scans the corpus.
    // Build-once-query-many is the production shape, so the build
    // includes the retrieval-stats sidecars. Graded by the SAME
    // DuckDB recompute as ext_bm25_stats — the index path must be
    // value-identical to the corpus path.
    QuerySpec.scratch("ext_bm25_indexed", (s, dir, root) => {
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val corpusPath = s"$root/corpus"
      stagedCorpus(s, dir, "docs-rep2", corpusPath)(p =>
        tbl(s, dir, "documents").select("doc_id", "text")
          .repartition(2).write.parquet(p))
      graft.sinks.InvertedIndex.collect(s, corpusPath, "text", "doc_id")
      graft.sinks.InvertedIndex.buildRetrievalStats(s, corpusPath)
      graft.sinks.InvertedIndex
        .bm25StatsFromIndex(s, corpusPath, "fast key order")
    },
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    len($wordsNormSql) AS dl,
         |    unnest($wordsNormSql) AS token
         |  FROM documents
         |), tf AS (
         |  SELECT doc_id, dl, token, count(*) AS tf FROM toks
         |  WHERE token IN ('fast', 'key', 'order')
         |  GROUP BY doc_id, dl, token
         |), dfreq AS (
         |  SELECT token, count(*) AS df FROM tf GROUP BY token
         |)
         |SELECT tf.doc_id, tf.token, tf.tf, dfreq.df, tf.dl
         |FROM tf JOIN dfreq USING (token)""".stripMargin),

    // SNAPSHOT-ISOLATED text retrieval, hash-graded (the
    // ext_ann_ivf_indexed_snapshot shape on the inverted index's
    // sidecars): a BM25 stats query running CONCURRENTLY with the
    // index sidecar's live maintenance commit — strictly inside the
    // window (journal present, marker sealed, swap not yet run;
    // REQUIREd in-query) — must serve the committed PRE-commit truth
    // (stats over the %5 != 0 corpus slice), not refuse and not see
    // a torn view; the post-refresh query must serve the full
    // corpus. Both phases hash-graded against the DuckDB stats
    // recompute over their slice, so a query that leaked mid-swap
    // postings, paired a new index generation with old doc lengths
    // early, or dropped rows breaks the hash.
    QuerySpec.scratch("ext_bm25_indexed_snapshot", (s, dir, root) => {
      import graft.sinks.{InvertedIndex, SidecarMaintenance}
      val corpusPath = s"$root/corpus"
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      stagedCorpus(s, dir, "docs-nm5-rep2", corpusPath)(p =>
        tbl(s, dir, "documents").select("doc_id", "text")
          .where(col("doc_id") % 5 =!= 0).repartition(2).write.parquet(p))
      InvertedIndex.collect(s, corpusPath, "text", "doc_id")
      InvertedIndex.buildRetrievalStats(s, corpusPath)
      // heal coverage → a committed generation for all three sidecars
      InvertedIndex.refresh(s, corpusPath, "text", "doc_id")
      docs.where(col("doc_id") % 5 === 0).coalesce(1)
        .write.mode("append").parquet(corpusPath)
      val idxDir = InvertedIndex.indexPath(corpusPath)
      val fs = new org.apache.hadoop.fs.Path(corpusPath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      var during: org.apache.spark.sql.DataFrame = null
      var inWindow = false
      SidecarMaintenance.onCommitPoint = d =>
        if (d == idxDir && during == null) {
          inWindow = fs.exists(SidecarMaintenance.journalPath(idxDir))
          during = InvertedIndex
            .bm25StatsFromIndex(s, corpusPath, "fast key order")
            .localCheckpoint(true)
        }
      try InvertedIndex.refresh(s, corpusPath, "text", "doc_id")
      finally SidecarMaintenance.onCommitPoint = null
      require(during != null && inWindow,
        "the query must have run INSIDE a live index commit window " +
          "(journal present, commit marker sealed)")
      val after = InvertedIndex
        .bm25StatsFromIndex(s, corpusPath, "fast key order")
      during.withColumn("phase", lit("during"))
        .unionByName(after.withColumn("phase", lit("after")))
        .select("phase", "doc_id", "token", "tf", "df", "dl")
    },
      // two phases, two truths: the in-window stats must equal the
      // recompute over the PRE-commit corpus slice (doc_id % 5 != 0 —
      // what the committed coverage generations served), the
      // post-refresh stats the recompute over the full corpus
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    len($wordsNormSql) AS dl,
         |    unnest($wordsNormSql) AS token
         |  FROM documents
         |), tfa AS (
         |  SELECT doc_id, dl, token, count(*) AS tf FROM toks
         |  WHERE token IN ('fast', 'key', 'order') AND doc_id % 5 != 0
         |  GROUP BY doc_id, dl, token
         |), dfa AS (
         |  SELECT token, count(*) AS df FROM tfa GROUP BY token
         |), tff AS (
         |  SELECT doc_id, dl, token, count(*) AS tf FROM toks
         |  WHERE token IN ('fast', 'key', 'order')
         |  GROUP BY doc_id, dl, token
         |), dff AS (
         |  SELECT token, count(*) AS df FROM tff GROUP BY token
         |)
         |SELECT 'during' AS phase, tfa.doc_id, tfa.token, tfa.tf, dfa.df, tfa.dl
         |FROM tfa JOIN dfa USING (token)
         |UNION ALL
         |SELECT 'after' AS phase, tff.doc_id, tff.token, tff.tf, dff.df, tff.dl
         |FROM tff JOIN dff USING (token)""".stripMargin),

    // MaxScore-pruned BM25 top-k off the index: per-term exact upper
    // bounds from the _termstats sidecar, essential-prefix candidate
    // generation, certificate kth-score ≥ Σ non-essential bounds —
    // graded as a verdict against the in-engine unpruned scoring
    // (same index, same scalars): the pruned top-k id set must equal
    // scoring every matched document, and the certificate must hold.
    // The oracle states the expected verdicts (ext_ann_*_bound
    // epistemics); Bm25Spec pins scores against a from-scratch
    // reference and the early-stop behavior on skewed idf
    QuerySpec.scratch("ext_bm25_pruned", (s, dir, root) => {
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val corpusPath = s"$root/corpus"
      stagedCorpus(s, dir, "docs-rep2", corpusPath)(p =>
        tbl(s, dir, "documents").select("doc_id", "text")
          .repartition(2).write.parquet(p))
      graft.sinks.InvertedIndex.collect(s, corpusPath, "text", "doc_id")
      graft.sinks.InvertedIndex.buildRetrievalStats(s, corpusPath)
      val pruned = graft.sinks.InvertedIndex
        .bm25TopKPruned(s, corpusPath, "fast key order", k = 10)
      val full = graft.sinks.InvertedIndex
        .bm25TopKPruned(s, corpusPath, "fast key order", k = 10,
          pruned = false)
      val pIds = pruned.topK.collect().map(_.getLong(0)).toSet
      val fIds = full.topK.collect().map(_.getLong(0)).toSet
      s.range(1).select(
        lit(10).as("k"),
        lit(pruned.nTerms).as("n_terms"),
        lit(pIds == fIds).as("pruned_matches_full"),
        lit(pruned.boundVerified).as("bound_verified"))
    },
      // verdict epistemics (ext_ann_*_bound pattern): the engine
      // compares its pruned top-k against its own unpruned scoring and
      // reports booleans; the oracle states the expected verdicts
      """SELECT 10 AS k, 3 AS n_terms,
        |  TRUE AS pruned_matches_full, TRUE AS bound_verified""".stripMargin),

    // Index-ONLY positional phrase search: adjacency verifies inside
    // the posting lists (consecutive word positions), so the corpus
    // is never opened — the search reads the two query tokens'
    // postings and joins them id-keyed. Graded against the full-scan
    // word-boundary predicate: the whole positional pipeline
    // (posexplode → per-doc sorted positions → shifted intersection)
    // must land exactly the scan truth.
    QuerySpec.scratch("ext_inverted_phrase_pos", (s, dir, root) => {
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val corpusPath = s"$root/corpus"
      stagedCorpus(s, dir, "docs-rep2", corpusPath)(p =>
        tbl(s, dir, "documents").select("doc_id", "text")
          .repartition(2).write.parquet(p))
      graft.sinks.InvertedIndex.collect(s, corpusPath, "text", "doc_id")
      graft.sinks.InvertedIndex
        .phraseSearchIndexOnly(s, corpusPath, "table scan")
        .withColumnRenamed("id", "doc_id")
    },
      """SELECT doc_id FROM documents
        |WHERE contains(
        |  ' ' || regexp_replace(lower(text), '\s+', ' ', 'g') || ' ',
        |  ' table scan ')""".stripMargin),

    // Text analysis: sizes, token counts, punctuation, fingerprints
    QuerySpec("ext_text_stats", (s, dir) =>
      TextAnalysis.stats(tbl(s, dir, "documents")),
      s"""SELECT doc_id,
         |  length(text) AS n_chars_calc,
         |  len($wordsSql) AS n_words,
         |  len(regexp_extract_all(text, '[a-z]+|[A-Z]+|[0-9]|[^A-Za-z0-9\\s]')) AS n_tokens,
         |  length(regexp_replace($normSql, '[a-z0-9 ]', '', 'g')) AS n_punct,
         |  md5($normSql) AS fp,
         |  $rollingSql AS rolling_fp
         |FROM documents""".stripMargin),

    // Quality scoring: density / punctuation / stopword ratios
    QuerySpec("ext_text_quality", (s, dir) =>
      TextAnalysis.qualityScore(tbl(s, dir, "documents")),
      s"""SELECT doc_id,
         |  length(text) AS n_chars_calc,
         |  len($wordsSql) AS n_words,
         |  CAST(len($wordsSql) AS DOUBLE) / CAST(length(text) AS DOUBLE) AS word_density,
         |  CAST(length(regexp_replace($normSql, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
         |    / CAST(length(text) AS DOUBLE) AS punct_ratio,
         |  CAST(${hitsSql("en")} AS DOUBLE) / CAST(len($wordsSql) AS DOUBLE) AS stopword_ratio
         |FROM documents""".stripMargin),

    // Language-ID heuristic: stopword-marker counting + CJK detection
    QuerySpec("ext_lang_id", (s, dir) =>
      TextAnalysis.languageId(tbl(s, dir, "documents")),
      s"""SELECT doc_id, hits_en, hits_es, hits_fr, hits_de, cjk,
         |  CASE WHEN cjk > 0 THEN 'zh'
         |       WHEN greatest(hits_en, hits_es, hits_fr, hits_de) = 0 THEN 'und'
         |       WHEN hits_en = greatest(hits_en, hits_es, hits_fr, hits_de) THEN 'en'
         |       WHEN hits_es = greatest(hits_en, hits_es, hits_fr, hits_de) THEN 'es'
         |       WHEN hits_fr = greatest(hits_en, hits_es, hits_fr, hits_de) THEN 'fr'
         |       ELSE 'de' END AS lang_guess
         |FROM (SELECT doc_id,
         |  ${hitsSql("en")} AS hits_en, ${hitsSql("es")} AS hits_es,
         |  ${hitsSql("fr")} AS hits_fr, ${hitsSql("de")} AS hits_de,
         |  length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS cjk
         |FROM documents)""".stripMargin),

    // Corpus-frequency boilerplate line removal (CCNet-style)
    QuerySpec("ext_text_boilerplate", (s, dir) =>
      TextAnalysis.removeBoilerplateLines(tbl(s, dir, "documents"), maxDocs = 1),
      """WITH lines AS (
        |  SELECT doc_id, unnest(l) AS line, generate_subscripts(l, 1) AS pos
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM documents)),
        |common AS (
        |  SELECT line FROM lines GROUP BY line HAVING count(DISTINCT doc_id) > 1),
        |rebuilt AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_cleaned
        |  FROM lines WHERE line NOT IN (SELECT line FROM common)
        |  GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(r.text_cleaned, '') AS text_cleaned
        |FROM documents d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id""".stripMargin),

    // Corpus vocabulary (tokenizer prep): top-100 tokens by frequency
    QuerySpec("ext_text_vocab", (s, dir) =>
      TextAnalysis.vocabulary(tbl(s, dir, "documents"), topK = 100),
      s"""SELECT token, count(*) AS n FROM (
         |  SELECT unnest(list_filter(
         |    regexp_split_to_array($normSql, ' '), w -> w != '')) AS token
         |  FROM documents)
         |GROUP BY token ORDER BY n DESC, token ASC LIMIT 100""".stripMargin),

    // BM25 sufficient statistics (ranked retrieval): per (doc, query
    // token) tf/df/dl, all BIGINT — the distributed pipeline (doc
    // lengths map-side before the explode, ONE (id, token) shuffle
    // for tf, df reduced off the tf table and broadcast back) is
    // graded hash-exact; the scalar k1-b scoring over these stats is
    // bm25Rank, pinned against a from-scratch reference in Bm25Spec
    // (cross-engine ln() is not bit-stable, sufficient statistics
    // are).
    QuerySpec("ext_bm25_stats", (s, dir) =>
      TextAnalysis.bm25Stats(tbl(s, dir, "documents"), "fast key order"),
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    len($wordsNormSql) AS dl,
         |    unnest($wordsNormSql) AS token
         |  FROM documents
         |), tf AS (
         |  SELECT doc_id, dl, token, count(*) AS tf FROM toks
         |  WHERE token IN ('fast', 'key', 'order')
         |  GROUP BY doc_id, dl, token
         |), dfreq AS (
         |  SELECT token, count(*) AS df FROM tf GROUP BY token
         |)
         |SELECT tf.doc_id, tf.token, tf.tf, dfreq.df, tf.dl
         |FROM tf JOIN dfreq USING (token)""".stripMargin),

    // PII scrub: email/phone patterns → typed placeholders + audit counts
    QuerySpec("ext_text_scrub", (s, dir) =>
      TextAnalysis.scrubPii(tbl(s, dir, "documents")),
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+?[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g') AS text_scrubbed,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(
        |    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+?[0-9][0-9()\- ]{7,}[0-9]')) AS n_phones
        |FROM documents""".stripMargin),

    // Quality filter: the corpus keep/drop decision
    QuerySpec("ext_text_filter", (s, dir) =>
      TextAnalysis.qualityFilter(tbl(s, dir, "documents")),
      s"""SELECT * FROM documents
         |WHERE len($wordsSql) >= 5 AND len($wordsSql) <= 100000
         |  AND CAST(length(regexp_replace($normSql, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
         |    / CAST(length(text) AS DOUBLE) <= 0.3""".stripMargin),

    // Repetition-quality signals (Gopher-rule family): dup-line /
    // dup-word fractions + top-word concentration
    QuerySpec("ext_text_repetition", (s, dir) =>
      TextAnalysis.repetitionStats(tbl(s, dir, "documents")),
      s"""WITH wc AS (
         |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words, count(*) AS n_distinct_words,
         |    max(cnt) AS max_word_freq
         |  FROM (
         |    SELECT doc_id, w, count(*) AS cnt
         |    FROM (SELECT doc_id, unnest($wordsNormSql) AS w FROM documents)
         |    GROUP BY doc_id, w)
         |  GROUP BY doc_id),
         |l AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
         |    CAST(len(list_distinct(string_split(text, chr(10)))) AS BIGINT) AS n_distinct_lines
         |  FROM documents)
         |SELECT l.doc_id, n_lines, n_distinct_lines, n_words, n_distinct_words,
         |  max_word_freq,
         |  CAST(n_lines - n_distinct_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) AS dup_line_ratio,
         |  CAST(n_words - n_distinct_words AS DOUBLE) / CAST(n_words AS DOUBLE) AS dup_word_ratio,
         |  CAST(max_word_freq AS DOUBLE) / CAST(n_words AS DOUBLE) AS top_word_ratio
         |FROM l JOIN wc ON l.doc_id = wc.doc_id""".stripMargin),

    // Per-doc top-k terms with corpus document frequency (the integer
    // core of TF-IDF), float-free total order
    QuerySpec("ext_text_top_terms", (s, dir) =>
      TextAnalysis.topTerms(tbl(s, dir, "documents"), k = 5),
      s"""WITH tf AS (
         |  SELECT doc_id, w AS term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest($wordsNormSql) AS w FROM documents)
         |  GROUP BY doc_id, w),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
         |SELECT doc_id, term, tf, df, rank FROM (
         |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         |    CAST(row_number() OVER (PARTITION BY tf.doc_id
         |      ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS BIGINT) AS rank
         |  FROM tf JOIN df ON tf.term = df.term)
         |WHERE rank <= 5""".stripMargin),

    // Vocabulary id-encoding: token sequences → integer ids against
    // the corpus top-100 vocabulary (0 = OOV, per-doc OOV audit) —
    // one vocab aggregation, then a shuffle-free codegen'd encode.
    // The id array leaves the query CSV-serialized (lossless for
    // longs): the driver's pandas harness cannot sort/hash array
    // cells; the encode path itself is unchanged.
    QuerySpec("ext_encode_ids", (s, dir) =>
      TextAnalysis.encodeIds(tbl(s, dir, "documents"), vocabSize = 100)
        .select(col("doc_id"),
          array_join(col("ids").cast("array<string>"), ",").as("ids"),
          col("n_oov")),
      s"""WITH vocab AS (
         |  SELECT token,
         |    CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS BIGINT) AS id
         |  FROM (
         |    SELECT token, count(*) AS n FROM (
         |      SELECT unnest($wordsNormSql) AS token FROM documents)
         |    GROUP BY token ORDER BY n DESC, token ASC LIMIT 100)),
         |toks AS (
         |  SELECT doc_id, unnest($wordsNormSql) AS token,
         |    generate_subscripts($wordsNormSql, 1) AS pos
         |  FROM documents),
         |enc AS (
         |  SELECT t.doc_id, t.pos, coalesce(v.id, 0) AS id
         |  FROM toks t LEFT JOIN vocab v USING (token)),
         |agg AS (
         |  SELECT doc_id, list(id ORDER BY pos) AS ids
         |  FROM enc GROUP BY doc_id)
         |SELECT d.doc_id,
         |  coalesce(array_to_string(a.ids, ','), '') AS ids,
         |  CAST(len(list_filter(coalesce(a.ids, CAST([] AS BIGINT[])),
         |    x -> x = 0)) AS BIGINT) AS n_oov
         |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin),

    // Fixed-window training chunks with overlap (window 64, stride
    // 48): long documents split into training sequences — the
    // inverse-shaped sibling of ext_pack_sequences. Shuffle-free
    // projection; every boundary is integer arithmetic the oracle
    // replays (trailing chunk runs short, coverage is complete by
    // the ceil((n-w)/s) start count).
    QuerySpec("ext_chunk_documents", (s, dir) =>
      TextAnalysis.chunkDocuments(
        tbl(s, dir, "documents"), window = 64, stride = 48),
      // identical window arithmetic: starts every 48, width-64 slices
      // clamp at the end; list_slice is 1-based inclusive like Spark's
      // slice(arr, start, length) with the same overrun clamping
      s"""WITH d AS (
         |  SELECT doc_id, $wordsNormSql AS toks FROM documents
         |), nz AS (
         |  SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0
         |), idx AS (
         |  SELECT doc_id, toks,
         |    unnest(range(0, 1 + greatest(0,
         |      CAST(ceil((n - 64) / 48.0) AS BIGINT)))) AS i
         |  FROM nz
         |)
         |SELECT doc_id, i AS chunk_idx,
         |  CAST(len(list_slice(toks, i*48 + 1, i*48 + 64)) AS BIGINT) AS n_tokens,
         |  array_to_string(list_slice(toks, i*48 + 1, i*48 + 64), ' ') AS chunk_text
         |FROM idx""".stripMargin),

    // Hash-trick linear quality scorer (fastText-style inference):
    // tokens hash to 1024 buckets via the portable md5 hash, the doc
    // score is the buckets' weight sum with multiplicity — one
    // shuffle-free integer projection, the deploy shape of a trained
    // quality classifier at corpus scale (weights here are a
    // deterministic surrogate so the oracle replays the whole path).
    QuerySpec("ext_quality_classifier", (s, dir) =>
      TextAnalysis.hashedLinearScore(tbl(s, dir, "documents"), dims = 1024),
      // same portable md5 bucket, same integer surrogate weights, same
      // null-free sum; docs with no tokens score 0 via the LEFT join
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($wordsNormSql) AS w FROM documents
         |), f AS (
         |  SELECT doc_id,
         |    (('0x' || substring(md5(w), 1, 15))::UBIGINT % 1024)::BIGINT AS b
         |  FROM toks
         |), sc AS (
         |  SELECT doc_id, CAST(sum((b * 37 + 11) % 17 - 8) AS BIGINT) AS score
         |  FROM f GROUP BY doc_id
         |)
         |SELECT d.doc_id, coalesce(sc.score, 0) AS score,
         |  coalesce(sc.score, 0) > 0 AS keep
         |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin),

    // Shard-local greedy sequence packing (concat-and-chunk token
    // budgeting; per-shard running-sum window — shards-way parallel)
    QuerySpec("ext_pack_sequences", (s, dir) =>
      Sampling.packSequences(
        tbl(s, dir, "documents").withColumn(
          "n_tokens", graft.functions.TextFunctions.wordCount(col("text"))),
        capacity = 256, shards = 8),
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CAST(len($wordsSql) AS BIGINT) AS n_toks,
         |    ('0x' || substring(md5('graft-pack:' || CAST(doc_id AS VARCHAR)), 1, 15))
         |      ::UBIGINT::BIGINT % 8 AS shard
         |  FROM documents)
         |SELECT doc_id, shard, n_toks,
         |  CAST(sum(n_toks) OVER w - n_toks AS BIGINT) AS toks_before,
         |  CAST(floor((sum(n_toks) OVER w - n_toks) / 256) AS BIGINT) AS pack_id
         |FROM d
         |WINDOW w AS (PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING)""".stripMargin),

    // Train/eval decontamination: training docs sharing any 13-token
    // n-gram with the (deterministic doc_id % 97 subset) eval set.
    // Eval shingles broadcast; the corpus never shuffles.
    QuerySpec("ext_decontaminate", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      Decontaminate.contamination(docs, docs.where(col("doc_id") % 97 === 0))
    },
      // 13-gram shingle CTE mirrors the minhash oracle's 3-gram one,
      // including the short-doc whole-text shingle rule. The train side
      // is additionally shingled at each distinct token length of a
      // short (< 13 tokens) eval doc, so a short benchmark answer
      // quoted verbatim inside a long training doc still collides —
      // same lens set the engine computes on the driver.
      s"""WITH t AS (
         |  SELECT doc_id, list_filter(regexp_split_to_array($normSql, ' '), w -> w != '') AS toks
         |  FROM documents),
         |lens AS (
         |  SELECT 13 AS l
         |  UNION SELECT DISTINCT len(toks) FROM t
         |  WHERE doc_id % 97 = 0 AND len(toks) > 0 AND len(toks) < 13),
         |tr AS (
         |  SELECT DISTINCT doc_id, sh FROM (
         |    SELECT t.doc_id, unnest(CASE
         |      WHEN len(toks) = 0 THEN []
         |      WHEN len(toks) <= l THEN [array_to_string(toks, ' ')]
         |      ELSE list_transform(range(1, len(toks) - l + 2),
         |        i -> array_to_string(toks[i:i+l-1], ' ')) END) AS sh
         |    FROM t CROSS JOIN lens)),
         |ev AS (
         |  SELECT DISTINCT doc_id AS eval_id, unnest(CASE
         |    WHEN len(toks) = 0 THEN []
         |    WHEN len(toks) <= 13 THEN [array_to_string(toks, ' ')]
         |    ELSE list_transform(range(1, len(toks) - 11),
         |      i -> concat_ws(' ', ${(0 until 13).map(j => s"toks[i+$j]").mkString(", ")})) END) AS sh
         |  FROM t WHERE doc_id % 97 = 0)
         |SELECT tr.doc_id, count(DISTINCT tr.sh) AS n_hits,
         |  count(DISTINCT ev.eval_id) AS n_eval_docs
         |FROM tr JOIN ev ON tr.sh = ev.sh
         |GROUP BY tr.doc_id""".stripMargin),

    // Repeated-span detection (exact-substring-dedup approximation):
    // 20-token spans occurring in 2+ documents, counted per doc
    QuerySpec("ext_span_dedup", (s, dir) =>
      DedupOps.repeatedSpans(tbl(s, dir, "documents"), n = 20),
      // 20-gram span CTE (same construction as ext_decontaminate's):
      // spans in 2+ docs, counted per doc
      s"""WITH t AS (
         |  SELECT doc_id, list_filter(regexp_split_to_array($normSql, ' '), w -> w != '') AS toks
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, list_distinct(CASE
         |    WHEN len(toks) = 0 THEN []
         |    WHEN len(toks) <= 20 THEN [array_to_string(toks, ' ')]
         |    ELSE list_transform(range(1, len(toks) - 18),
         |      i -> concat_ws(' ', ${(0 until 20).map(j => s"toks[i+$j]").mkString(", ")})) END) AS sset
         |  FROM t),
         |spans AS (SELECT doc_id, unnest(sset) AS sh FROM s),
         |shared AS (SELECT sh FROM spans GROUP BY sh HAVING count(DISTINCT doc_id) >= 2)
         |SELECT doc_id, count(*) AS n_repeated_spans
         |FROM spans JOIN shared USING (sh)
         |GROUP BY doc_id""".stripMargin),

    // Corpus card: per-source volume/language rollup
    QuerySpec("ext_corpus_stats", (s, dir) =>
      TextAnalysis.corpusStats(tbl(s, dir, "documents")),
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(sum(len($wordsSql)) AS BIGINT) AS n_tokens,
         |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
         |FROM documents GROUP BY source""".stripMargin),

    // N-gram LM scoring statistics (CCNet-style quality signal): a
    // word-bigram model counted over the reference third of the
    // corpus, every other document scored against it — per doc the
    // bigram total, how many the model knows, and the summed model
    // counts, all integers (the caller's smoothing/log-prob math
    // never crosses the engine boundary). One model aggregate + one
    // bigram-keyed LEFT join; minModelCount prunes the Zipf tail
    // until the model broadcasts
    QuerySpec("ext_lm_bigram", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      TextAnalysis.lmBigramStats(
        docs.where(col("doc_id") % 3 =!= 0),
        docs.where(col("doc_id") % 3 === 0))
    },
      // identical tokenization and bigram windows; the model CTE is the
      // reference third, the LEFT join preserves per-occurrence
      // multiplicity (model bigrams are unique)
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'),
        |                w -> length(w) > 0) AS a
        |  FROM documents
        |), idx AS (
        |  SELECT doc_id, a, unnest(range(1, len(a))) AS i FROM d
        |), dbg AS (
        |  SELECT doc_id, a[i] || ' ' || a[i + 1] AS bg FROM idx
        |), model AS (
        |  SELECT bg, count(*) AS model_n FROM dbg
        |  WHERE doc_id % 3 = 0 GROUP BY bg
        |)
        |SELECT s.doc_id, count(*) AS n_bigrams,
        |  count(m.model_n) AS n_known,
        |  CAST(coalesce(sum(m.model_n), 0) AS BIGINT) AS sum_model_n
        |FROM dbg s LEFT JOIN model m USING (bg)
        |WHERE s.doc_id % 3 <> 0
        |GROUP BY s.doc_id""".stripMargin),

    // BPE training statistics — adjacent-character pair counts over
    // the (distinct word, corpus count) table: the corpus reduces
    // once to distinct words (the only token-sized shuffle), every
    // 2-char window then weighs in at its word's frequency. This is
    // iteration 0 of Bpe.learn, whose argmax IS the first merge —
    // the full loop is BpeSpec-graded against a local reference
    // implementation
    QuerySpec("ext_bpe_pairs", (s, dir) =>
      graft.ext.Bpe.pairStats(tbl(s, dir, "documents"), "text"),
      // the same two-stage reduction: distinct words with corpus
      // counts, then every 2-char window weighted by its word's count
      """WITH words AS (
        |  SELECT unnest(regexp_split_to_array(text, '\s+')) AS w
        |  FROM documents
        |), wc AS (
        |  SELECT w, count(*) AS c FROM words WHERE length(w) >= 2
        |  GROUP BY w
        |), idx AS (
        |  SELECT w, c, unnest(range(1, length(w))) AS i FROM wc
        |)
        |SELECT substr(w, i, 2) AS pair, CAST(sum(c) AS BIGINT) AS n
        |FROM idx GROUP BY 1""".stripMargin),

    // BPE tokenizer APPLICATION — train on the corpus (8 merges, the
    // deterministic loop BpeSpec pins against a from-scratch
    // reference), then encode the WHOLE corpus as a shuffle-free
    // projection (frozen merge list = foldable literal — how a
    // trained tokenizer deploys at 100 TB). Graded verdict-row style
    // (the ext_bm25_pruned pattern): word/char totals replay in SQL
    // (they pin the tokenization boundary), `lossless` is the
    // in-engine proof that every document's tokens concatenate back
    // to its whitespace-stripped text, `compressed` that the merges
    // actually shortened the token stream.
    QuerySpec("ext_bpe_encode", (s, dir) => {
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val merges = graft.ext.Bpe.learn(docs, numMerges = 8)
      require(merges.nonEmpty, "corpus must yield at least one merge")
      // the vocabulary-scale path (single codegen'd apply-loop node;
      // BpeSpec pins it value-identical to Bpe.encode's regex chain)
      val enc = graft.ext.Bpe.encodeRank(docs, merges)
        .select(
          expr("size(filter(split(text, '\\\\s+'), w -> length(w) > 0))")
            .cast("long").as("__w"),
          length(regexp_replace(col("text"), "\\s+", ""))
            .cast("long").as("__c"),
          size(col("bpe_tokens")).cast("long").as("__t"),
          (concat_ws("", col("bpe_tokens")) ===
            regexp_replace(col("text"), "\\s+", "")).as("__ok"))
      enc.agg(
        count(lit(1)).as("n_docs"),
        sum(col("__w")).as("n_words"),
        sum(col("__c")).as("n_chars"),
        min(col("__ok")).as("lossless"),
        (sum(col("__t")) < sum(col("__c"))).as("compressed"))
        .localCheckpoint(true)
    },
      // word/char totals pin the tokenization boundary in SQL; the
      // booleans are the engine's own losslessness and compression
      // proofs (the verdict-row pattern of ext_bm25_pruned)
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(list_filter(regexp_split_to_array(text, '\s+'),
        |    w -> length(w) > 0))) AS BIGINT) AS n_words,
        |  CAST(sum(length(regexp_replace(text, '\s+', '', 'g'))) AS BIGINT)
        |    AS n_chars,
        |  true AS lossless, true AS compressed
        |FROM documents""".stripMargin),
  )
}
