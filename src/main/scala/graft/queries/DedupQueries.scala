package graft
package queries

import graft.ext._
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Fixtures._
import TextQueries.{normSql, wordsSql}

/** Corpus dedup (`ext_dedup_*`): exact, delta, MinHash, SimHash,
  * n-gram and clustered near-duplicate detection over the documents.
  */
object DedupQueries {

  /** Shared ngram-Jaccard pair CTEs — used by both the ext_dedup_ngram
    * oracle and the ext_dedup_clusters oracle (the Spark side shares
    * DedupOps.ngramJaccard the same way; two hand-kept SQL copies
    * would drift). The `uni > 0` guard mirrors the token-join
    * engine formulation, which can never pair two zero-token docs
    * (0 ≥ 0 would otherwise pass the threshold in SQL). */
  private val ngramPairCtes =
    s"""prep AS (
       |  SELECT doc_id, source,
       |    CAST(floor(n_chars / 100) AS BIGINT) AS len_bucket,
       |    list_distinct($wordsSql) AS toks
       |  FROM documents),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    len(list_intersect(a.toks, b.toks)) AS inter,
       |    len(list_distinct(list_concat(a.toks, b.toks))) AS uni
       |  FROM prep a JOIN prep b
       |    ON a.source = b.source AND a.len_bucket = b.len_bucket
       |    AND a.doc_id < b.doc_id
       |  WHERE len(list_intersect(a.toks, b.toks)) * 3
       |     >= len(list_distinct(list_concat(a.toks, b.toks))) * 1
       |    AND len(list_distinct(list_concat(a.toks, b.toks))) > 0)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // Incremental EXACT dedup, delta-vs-corpus through the persisted
    // bloom index: the corpus lands in two waves (collect, then an
    // append + O(new files) refresh — BloomSpec's poisoned row proves
    // old files are never rescanned), its per-file blooms OR-merge
    // into the table bloom WITHOUT a scan, and the daily delta anti-
    // joins through it — a bloom MISS is definitive (no false
    // negatives), so brand-new documents skip the join entirely and
    // only the maybe-present fraction (true dups + fpp) pays the
    // shuffle. Result must equal the plain anti join — the oracle.
    QuerySpec.scratch("ext_dedup_exact_delta", (s, dir, root) => {
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val corpus = docs.where(col("doc_id") % 97 =!= 0)
      val corpusPath = s"$root/corpus"
      stagedCorpus(s, dir, "docs-nm97-m2-rep2", corpusPath)(p =>
        tbl(s, dir, "documents").select("doc_id", "text")
          .where(col("doc_id") % 97 =!= 0 && col("doc_id") % 2 === 0)
          .repartition(2).write.parquet(p))
      graft.sinks.BloomIndex.collect(
        s, corpusPath, "text", expectedItems = 1000, fpp = 0.01)
      corpus.where(col("doc_id") % 2 =!= 0)
        .coalesce(1).write.mode("append").parquet(corpusPath)
      graft.sinks.BloomIndex.refresh(s, corpusPath, "text")
      val bloom = graft.sinks.BloomIndex.mergedBloom(s, corpusPath)
      val delta = docs.where(col("doc_id") % 97 === 0)
        .withColumn("doc_id", col("doc_id") + 2000000000L)
        .unionByName(docs
          .where(col("doc_id") % 13 === 0 && col("doc_id") % 97 =!= 0)
          .withColumn("doc_id", col("doc_id") + 3000000000L))
      val corpusTable = s.read.parquet(corpusPath)
      graft.operators.BloomJoin.antiJoin(
          delta, "text", corpusTable, "text",
          expectedItems = 1000, bloomBytes = Some(bloom))
        .select("doc_id")
    },
      """WITH corpus AS (
        |  SELECT text FROM documents WHERE doc_id % 97 <> 0
        |), delta AS (
        |  SELECT doc_id + 2000000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 97 = 0
        |  UNION ALL
        |  SELECT doc_id + 3000000000, text FROM documents
        |  WHERE doc_id % 13 = 0 AND doc_id % 97 <> 0
        |)
        |SELECT d.doc_id FROM delta d
        |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.text = d.text)""".stripMargin),

    // Exact dedup: hash-groupBy on the canonical-text fingerprint
    QuerySpec("ext_dedup_exact", (s, dir) =>
      DedupOps.exact(tbl(s, dir, "documents")),
      s"""SELECT min(doc_id) AS doc_id, fp, count(*) AS n_copies
         |FROM (SELECT doc_id, md5($normSql) AS fp FROM documents)
         |GROUP BY fp""".stripMargin),

    // Exact dedup again via the two-phase SALTED aggregation (the
    // hot-key-safe physical strategy) — result-identical to the
    // plain groupBy, same oracle
    QuerySpec("ext_dedup_exact_salted", (s, dir) =>
      graft.operators.Skew.saltedDupCounts(
        tbl(s, dir, "documents").withColumn(
          "fp", graft.functions.TextFunctions.fingerprint(col("text"))),
        col("fp"), salts = 16),
      s"""SELECT min(doc_id) AS doc_id, fp, count(*) AS n_copies
         |FROM (SELECT doc_id, md5($normSql) AS fp FROM documents)
         |GROUP BY fp""".stripMargin),

    // N-gram token-set Jaccard near-dup (blocked all-pairs, integer
    // threshold arithmetic)
    QuerySpec("ext_dedup_ngram", (s, dir) =>
      DedupOps.ngramJaccard(tbl(s, dir, "documents"), numOverDen = (1, 3)),
      s"""WITH $ngramPairCtes
         |SELECT doc_a, doc_b, inter, uni FROM pairs""".stripMargin),

    // Edit-distance near-dup: prefix-blocked candidate pairs (one
    // equality shuffle, no all-pairs) + the length bound edit
    // distance implies, verified by THRESHOLD-bounded Levenshtein
    // over a 256-char window (early-exit: O(window·maxEdits) per
    // pair). Fixture text is pure ASCII, so char-based Spark and
    // DuckDB distances agree byte-for-byte.
    QuerySpec("ext_dedup_edit", (s, dir) =>
      DedupOps.editDistanceNearDup(tbl(s, dir, "documents")),
      // same prefix block, length bound, and windowed distance; the
      // fixtures are ASCII so the engines' Levenshtein semantics align
      """WITH d AS (
        |  SELECT doc_id, substr(text, 1, 256) AS w,
        |    substr(text, 1, 8) AS pfx, length(substr(text, 1, 256)) AS len
        |  FROM documents
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.w, b.w) AS INTEGER) AS dist
        |FROM d a JOIN d b ON a.pfx = b.pfx
        |WHERE a.doc_id < b.doc_id AND abs(a.len - b.len) <= 3
        |  AND levenshtein(a.w, b.w) <= 3""".stripMargin),

    // Near-dup clustering: connected components over the (oracle-
    // checked) ngram pair list via min-label propagation; oracle is a
    // recursive CTE computing true components
    QuerySpec("ext_dedup_clusters", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      // driver union-find + broadcast labels: pairs ≪ corpus here (and
      // in any sane dedup run); exact for any graph diameter, where
      // the iterative propagation pays O(diameter) shuffle rounds
      DedupClusters.clustersLocal(docs, DedupOps.ngramJaccard(docs, numOverDen = (1, 3)))
    },
      s"""WITH RECURSIVE $ngramPairCtes,
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT doc_id AS node, doc_id AS root FROM documents
         |  UNION
         |  SELECT e.b AS node, r.root FROM reach r JOIN edges e ON e.a = r.node)
         |SELECT node AS doc_id, min(root) AS cluster_id FROM reach GROUP BY node""".stripMargin),

    // The edit-distance pair detector composed with the clustering
    // keep-one machinery: transitively-linked near-identical docs
    // collapse to components — the full fuzzy-dedup pipeline
    // (detector → components) on a second pair family, sharing the
    // recursive-CTE component oracle shape.
    QuerySpec("ext_dedup_edit_clusters", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      DedupClusters.clustersLocal(docs,
        DedupOps.editDistanceNearDup(docs),
        aCol = "id_a", bCol = "id_b")
    },
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, substr(text, 1, 256) AS w,
        |    substr(text, 1, 8) AS pfx, length(substr(text, 1, 256)) AS len
        |  FROM documents
        |), pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM d a JOIN d b ON a.pfx = b.pfx
        |  WHERE a.doc_id < b.doc_id AND abs(a.len - b.len) <= 3
        |    AND levenshtein(a.w, b.w) <= 3
        |), edges AS (
        |  SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs
        |), reach AS (
        |  SELECT doc_id AS node, doc_id AS root FROM documents
        |  UNION
        |  SELECT e.b AS node, r.root FROM reach r JOIN edges e ON e.a = r.node
        |)
        |SELECT node AS doc_id, min(root) AS cluster_id
        |FROM reach GROUP BY node""".stripMargin),

    // The SAME component truth through the distributed alternating
    // large-star/small-star contraction (keepOnePerCluster's
    // above-cap path — O(log² n) rounds on any topology, no driver
    // collect): must hash-match the recursive-CTE exact components.
    QuerySpec("ext_dedup_clusters_star", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      DedupClusters.clustersAlternating(
        docs, DedupOps.ngramJaccard(docs, numOverDen = (1, 3)))
    },
      s"""WITH RECURSIVE $ngramPairCtes,
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT doc_id AS node, doc_id AS root FROM documents
         |  UNION
         |  SELECT e.b AS node, r.root FROM reach r JOIN edges e ON e.a = r.node)
         |SELECT node AS doc_id, min(root) AS cluster_id FROM reach GROUP BY node""".stripMargin),

    // MinHash+LSH near-dup (shingle→minhash→band→bucket-join→verify).
    // The exact-Jaccard verification stage makes the output ⊆ the
    // true shingle-Jaccard pair set; 128 hashes / 32 bands gives
    // recall 1.0 on the fixture corpus (verified at sf0.001 and
    // sf0.01), so the full pipeline is oracle-equal to the exact
    // all-pairs SQL. The ScalaTest recall spec guards the approximate
    // regime independently.
    QuerySpec("ext_dedup_minhash", (s, dir) =>
      MinHashLSH.nearDupPairs(tbl(s, dir, "documents"), jaccard = (1, 3)),
      // Exact 3-word-shingle Jaccard all-pairs — the semantic spec the
      // MinHash+LSH pipeline approximates; at fixture banding recall is
      // 1.0, so the pipeline output equals this exactly. Short docs
      // (< shingleSize words) contribute one shingle of all their
      // words; empty docs none (the uni > 0 guard mirrors that no
      // candidate pair can involve a shingle-less doc).
      s"""WITH t AS (
         |  SELECT doc_id, list_filter(regexp_split_to_array($normSql, ' '), w -> w != '') AS toks
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, list_distinct(CASE
         |    WHEN len(toks) = 0 THEN []
         |    WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
         |    ELSE list_transform(range(1, len(toks) - 1),
         |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) END) AS sset
         |  FROM t)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  len(list_intersect(a.sset, b.sset)) AS inter,
         |  len(list_distinct(list_concat(a.sset, b.sset))) AS uni
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE len(list_intersect(a.sset, b.sset)) * 3
         |    >= len(list_distinct(list_concat(a.sset, b.sset))) * 1
         |  AND len(list_distinct(list_concat(a.sset, b.sset))) > 0""".stripMargin),

    // INCREMENTAL near-dup (delta vs corpus, cross-side pairs only —
    // the daily-ingest shape; corpus self-pairs never generated).
    // Delta = every 7th document re-ingested under a new id: each
    // delta doc has an exact twin in the corpus (J = 1), plus
    // whatever organic cross-side near-dups the fixture carries; the
    // oracle is the exact all-pairs delta×corpus Jaccard SQL, same
    // recall-1.0-on-fixture epistemics as ext_dedup_minhash above.
    QuerySpec("ext_dedup_minhash_delta", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val delta = docs.where(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000))
      MinHashLSH.nearDupPairsAgainst(delta, docs, jaccard = (1, 3))
    },
      // exact delta×corpus cross-pairs at the same threshold — the
      // incremental operator must find exactly these
      s"""WITH t AS (
         |  SELECT doc_id, list_filter(regexp_split_to_array($normSql, ' '), w -> w != '') AS toks
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, list_distinct(CASE
         |    WHEN len(toks) = 0 THEN []
         |    WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
         |    ELSE list_transform(range(1, len(toks) - 1),
         |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) END) AS sset
         |  FROM t),
         |d AS (SELECT doc_id + 1000000 AS doc_id, sset FROM s WHERE doc_id % 7 = 0)
         |SELECT d.doc_id AS delta_id, c.doc_id AS corpus_id,
         |  len(list_intersect(d.sset, c.sset)) AS inter,
         |  len(list_distinct(list_concat(d.sset, c.sset))) AS uni
         |FROM d JOIN s c ON true
         |WHERE len(list_intersect(d.sset, c.sset)) * 3
         |    >= len(list_distinct(list_concat(d.sset, c.sset))) * 1
         |  AND len(list_distinct(list_concat(d.sset, c.sset))) > 0""".stripMargin),

    // SimHash near-dup (pigeonhole block join). Declared with the
    // engine-portable md5-derived 60-bit token hash so the whole
    // pipeline is oracle-exact against an all-pairs DuckDB rebuild
    // (the pigeonhole blocking is lossless for hamming ≤ 3 by
    // construction, so blocked Spark == all-pairs SQL). The xxhash64
    // default stays the fast path for library users.
    QuerySpec("ext_dedup_simhash", (s, dir) =>
      SimHash.nearDupPairs(tbl(s, dir, "documents"), maxHamming = 3,
        bits = 60, tokenHash = SimHash.portableTokenHash),
      // Portable-hash simhash rebuilt in pure SQL: per-token 60-bit
      // md5-derived hash, per-bit ±1 votes with multiplicity, sign →
      // signature bit; pairs = all-pairs hamming ≤ 3 (the Spark side's
      // pigeonhole blocking is lossless at that distance).
      {
      val voteBit = (b: Int) =>
        s"(CASE WHEN sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) > 0 " +
          s"THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END)"
      val sigExpr = (0 until 60).map(voteBit).mkString(" +\n    ")
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_filter(
         |    regexp_split_to_array($normSql, ' '), w -> w != '')) AS t
         |  FROM documents),
         |h AS (
         |  SELECT doc_id,
         |    ('0x' || substring(md5(t), 1, 15))::UBIGINT::BIGINT AS h
         |  FROM toks),
         |sig AS (
         |  SELECT doc_id, $sigExpr AS simhash
         |  FROM h GROUP BY doc_id)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin
    }),

    // Embedding-cosine near-dup pairs above a threshold
    QuerySpec("ext_dedup_embedding", (s, dir) =>
      DedupOps.embeddingNearDup(tbl(s, dir, "embeddings"), threshold = 0.4),
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.4""".stripMargin),

    // LSH-bucketed embedding near-dup (sub-quadratic scale path) at a
    // REALISTIC dedup threshold (0.9): the fixture's max natural
    // pairwise cosine is 0.60, so the true ≥0.9 pair set is exactly
    // the planted duplicates — each vector unioned back in under
    // vec_id+1e6. Identical vectors get identical signatures in EVERY
    // table, so recall is 1.0 by construction at ANY plane count and
    // the oracle checks the bucket/candidate/verify machinery loses
    // and fabricates nothing (natural pairs that share a bucket are
    // candidates and must die at the exact-cosine verify). planes=12 →
    // 4096 buckets/table scales the bucket count with the corpus
    // (SimilaritySearch.planesFor) instead of round 2's constant-4-
    // bucket config whose candidate volume was Θ(n²). Approximate-
    // regime recall on perturbed near-dups is ScalaTest-gated.
    QuerySpec("ext_dedup_embedding_lsh", (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val planted = e.unionByName(
        e.withColumn("vec_id", col("vec_id") + lit(1000000)))
      SimilaritySearch.lshNearDupPairs(planted, threshold = 0.9,
        planes = 12, tables = 2)
    },
      // Planted-duplicate corpus at a realistic 0.9 threshold: identical
      // vectors collide in every LSH table (recall 1.0 by construction),
      // so the bucketed pipeline equals this all-pairs truth exactly.
      """WITH u AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, embedding FROM embeddings),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM u)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.9""".stripMargin),

    // Incremental embedding near-dup (delta vs corpus, cross-side
    // only — nearDupPairsAgainst's shape on the embedding column):
    // every 11th vector re-ingested under a new id; oracle is the
    // exact delta×corpus cosine SQL. Same recall epistemics as
    // ext_dedup_embedding_lsh: the fixture's only ≥0.9 pairs are the
    // planted exact twins (cos = 1 → same signature in every table).
    QuerySpec("ext_dedup_embedding_delta", (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val delta = e.where(col("vec_id") % 11 === 0)
        .withColumn("vec_id", col("vec_id") + lit(1000000))
      SimilaritySearch.lshNearDupPairsAgainst(delta, e, threshold = 0.9,
        planes = 12, tables = 2)
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |d AS (SELECT vec_id + 1000000 AS vec_id, v FROM e WHERE vec_id % 11 = 0)
        |SELECT d.vec_id AS delta_id, c.vec_id AS corpus_id
        |FROM d JOIN e c ON true
        |WHERE list_cosine_similarity(d.v, c.v) >= 0.9""".stripMargin),

    // Perceptual-hash image near-dup (aHash + pigeonhole Hamming
    // blocking — the multimodal sibling of SimHash): the engine
    // BUILDS deterministic 60-byte synthetic images (doc_id-derived
    // pixel grid, group = doc_id/16; non-anchor members get one byte
    // flipped hard across the mean), hashes the RAW BYTES with the
    // sampling aHash (integer mean test — no float threshold crosses
    // the engine boundary), and pairs through the 4-chunk pigeonhole
    // block join — never all-pairs (the in-query REQUIRE pins the
    // equi-join plan). bits = 60 keeps the fingerprint ANSI-safe in
    // a signed BIGINT, so DuckDB replays the whole arithmetic and
    // grades the blocked path against the TRUE all-pairs join:
    // pigeonhole losslessness is part of what the hash compares.
    QuerySpec("ext_dedup_images", (s, dir) => {
      val pix = transform(sequence(lit(0), lit(59)), i => {
        val base = (floor(col("doc_id") / 16) + 1) * (i + 7) * 13
        val v = when(
          col("doc_id") % 16 =!= 0 && i.cast("long") === col("doc_id") % 60,
          (base + 128) % 256).otherwise(base % 256)
        lpad(hex(v.cast("long")), 2, "0")
      })
      val media = tbl(s, dir, "documents").select(
        col("doc_id"), unhex(array_join(pix, "")).as("media"))
      val hashes = graft.ext.ImageDedup.aHashes(s, media, bits = 60).toDF()
      val out = graft.ext.ImageDedup
        .nearDupPairs(hashes, maxHamming = 3, bits = 60)
      val bad = out.queryExecution.executedPlan.collect {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
        case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
      }
      require(bad.isEmpty,
        "image near-dup must plan blocked (equi join), not all-pairs")
      out
    },
      // replays the synthetic pixel grid, the integer mean test, the
      // bit packing, and — critically — the TRUE all-pairs Hamming
      // join the engine's pigeonhole blocking must equal exactly
      """WITH px AS (
        |  SELECT doc_id, i,
        |    CASE WHEN doc_id % 16 <> 0 AND i = doc_id % 60
        |         THEN (((doc_id // 16) + 1) * (i + 7) * 13 + 128) % 256
        |         ELSE (((doc_id // 16) + 1) * (i + 7) * 13) % 256 END AS v
        |  FROM documents, range(60) t(i)
        |), tot AS (
        |  SELECT doc_id, sum(v) AS total FROM px GROUP BY doc_id
        |), h AS (
        |  SELECT px.doc_id,
        |    CAST(sum(CASE WHEN v * 60 > total
        |             THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS phash
        |  FROM px JOIN tot USING (doc_id) GROUP BY px.doc_id
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
        |FROM h a JOIN h b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 3""".stripMargin),

    // Incremental image near-dup — the daily-batch shape: the #1
    // member of each synthetic group arrives as the DELTA and pairs
    // against the already-deduplicated corpus through the same
    // pigeonhole blocking, delta side broadcast so the corpus chunks
    // never shuffle and never self-pair. Oracle: the TRUE all-pairs
    // delta x corpus Hamming join over replayed hashes.
    QuerySpec("ext_dedup_images_delta", (s, dir) => {
      val pix = transform(sequence(lit(0), lit(59)), i => {
        val base = (floor(col("doc_id") / 16) + 1) * (i + 7) * 13
        val v = when(
          col("doc_id") % 16 =!= 0 && i.cast("long") === col("doc_id") % 60,
          (base + 128) % 256).otherwise(base % 256)
        lpad(hex(v.cast("long")), 2, "0")
      })
      val media = tbl(s, dir, "documents").select(
        col("doc_id"), unhex(array_join(pix, "")).as("media"))
      val hashes = graft.ext.ImageDedup.aHashes(s, media, bits = 60).toDF()
        .localCheckpoint(true)
      val out = graft.ext.ImageDedup.nearDupPairsAgainst(
        hashes.where(col("doc_id") % 16 === 1),
        hashes.where(col("doc_id") % 16 =!= 1),
        maxHamming = 3, bits = 60)
      val bad = out.queryExecution.executedPlan.collect {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
        case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
      }
      require(bad.isEmpty,
        "incremental image near-dup must plan blocked, not all-pairs")
      out
    },
      // the delta x corpus truth — no corpus self-pairs by construction
      """WITH px AS (
        |  SELECT doc_id, i,
        |    CASE WHEN doc_id % 16 <> 0 AND i = doc_id % 60
        |         THEN (((doc_id // 16) + 1) * (i + 7) * 13 + 128) % 256
        |         ELSE (((doc_id // 16) + 1) * (i + 7) * 13) % 256 END AS v
        |  FROM documents, range(60) t(i)
        |), tot AS (
        |  SELECT doc_id, sum(v) AS total FROM px GROUP BY doc_id
        |), h AS (
        |  SELECT px.doc_id,
        |    CAST(sum(CASE WHEN v * 60 > total
        |             THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS phash
        |  FROM px JOIN tot USING (doc_id) GROUP BY px.doc_id
        |)
        |SELECT a.doc_id AS delta_id, b.doc_id AS corpus_id,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
        |FROM h a JOIN h b ON a.doc_id % 16 = 1 AND b.doc_id % 16 <> 1
        |WHERE bit_count(xor(a.phash, b.phash)) <= 3""".stripMargin),

    // Audio near-dup completes the multimodal dedup family: the
    // engine WRITES real RIFF/WAV containers (PCM16 LE mono, samples
    // from doc_id arithmetic in 16-doc families — member k != 0
    // gain-shifts one window), the energy-profile fingerprint reads
    // back out of the raw bytes (WavParser chunk walk + the
    // pcmEnergy sample arithmetic + the aHash integer mean test over
    // per-window energies), and candidate pairs come from the SAME
    // 4-chunk pigeonhole join as images (HammingBlocking — lossless
    // <= 3, REQUIREd blocked in-query). Oracle: the TRUE all-pairs
    // Hamming join over hashes replayed from the sample arithmetic.
    // 240 samples, window 4 -> 60 windows = 60 hash bits, identity
    // sampling — every stage integer-exact on both sides.
    QuerySpec("ext_dedup_audio", (s, dir) => {
      import s.implicits._
      val media = tbl(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val fam = id / 16 + 1
          val samples = Array.tabulate[Short](240) { j =>
            val p = if (id % 16 != 0 && j / 4 == id % 60) 1024L else 0L
            ((fam * (j * 7 + 11) + p) % 4096 - 2048).toShort
          }
          graft.ext.Multimodal.MediaRow(
            id, graft.ext.Multimodal.buildPcm16Wav(samples))
        }).toDF()
      val hashes = graft.ext.AudioDedup
        .energyHashes(s, media, window = 4, bits = 60).toDF()
      val out = graft.ext.AudioDedup
        .nearDupPairs(hashes, maxHamming = 3, bits = 60)
      val bad = out.queryExecution.executedPlan.collect {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
        case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
      }
      require(bad.isEmpty,
        "audio near-dup must plan blocked (equi join), not all-pairs")
      out
    },
      // replays the PCM sample arithmetic the engine wrote into real
      // WAV bytes, the per-window integer energies, the aHash mean
      // test over energies, and the TRUE all-pairs Hamming join the
      // pigeonhole blocking must equal exactly
      """WITH s AS (
        |  SELECT doc_id, j,
        |    ((((doc_id // 16) + 1) * (j * 7 + 11)
        |      + CASE WHEN doc_id % 16 <> 0 AND j // 4 = doc_id % 60
        |             THEN 1024 ELSE 0 END) % 4096) - 2048 AS v
        |  FROM documents, range(240) t(j)
        |), e AS (
        |  SELECT doc_id, j // 4 AS w, sum(v * v) AS energy
        |  FROM s GROUP BY doc_id, j // 4
        |), tot AS (
        |  SELECT doc_id, sum(energy) AS total FROM e GROUP BY doc_id
        |), h AS (
        |  SELECT e.doc_id,
        |    CAST(sum(CASE WHEN energy * 60 > total
        |             THEN (1::BIGINT << w) ELSE 0 END) AS BIGINT) AS phash
        |  FROM e JOIN tot USING (doc_id) GROUP BY e.doc_id
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
        |FROM h a JOIN h b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 3""".stripMargin),

    // Incremental audio near-dup — the daily-batch delta shape shared
    // with images/minhash/embeddings: member-1 recordings are the
    // delta, everything else the already-deduplicated corpus; the
    // delta side broadcasts so corpus chunks never shuffle and never
    // self-pair. Oracle: the TRUE delta x corpus Hamming join.
    QuerySpec("ext_dedup_audio_delta", (s, dir) => {
      import s.implicits._
      val media = tbl(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val fam = id / 16 + 1
          val samples = Array.tabulate[Short](240) { j =>
            val p = if (id % 16 != 0 && j / 4 == id % 60) 1024L else 0L
            ((fam * (j * 7 + 11) + p) % 4096 - 2048).toShort
          }
          graft.ext.Multimodal.MediaRow(
            id, graft.ext.Multimodal.buildPcm16Wav(samples))
        }).toDF()
      val hashes = graft.ext.AudioDedup
        .energyHashes(s, media, window = 4, bits = 60).toDF()
        .localCheckpoint(true)
      val out = graft.ext.AudioDedup.nearDupPairsAgainst(
        hashes.where(col("doc_id") % 16 === 1),
        hashes.where(col("doc_id") % 16 =!= 1),
        maxHamming = 3, bits = 60)
      val bad = out.queryExecution.executedPlan.collect {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
        case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
      }
      require(bad.isEmpty,
        "incremental audio near-dup must plan blocked, not all-pairs")
      out
    },
      // the delta x corpus audio truth — no corpus self-pairs
      """WITH s AS (
        |  SELECT doc_id, j,
        |    ((((doc_id // 16) + 1) * (j * 7 + 11)
        |      + CASE WHEN doc_id % 16 <> 0 AND j // 4 = doc_id % 60
        |             THEN 1024 ELSE 0 END) % 4096) - 2048 AS v
        |  FROM documents, range(240) t(j)
        |), e AS (
        |  SELECT doc_id, j // 4 AS w, sum(v * v) AS energy
        |  FROM s GROUP BY doc_id, j // 4
        |), tot AS (
        |  SELECT doc_id, sum(energy) AS total FROM e GROUP BY doc_id
        |), h AS (
        |  SELECT e.doc_id,
        |    CAST(sum(CASE WHEN energy * 60 > total
        |             THEN (1::BIGINT << w) ELSE 0 END) AS BIGINT) AS phash
        |  FROM e JOIN tot USING (doc_id) GROUP BY e.doc_id
        |)
        |SELECT a.doc_id AS delta_id, b.doc_id AS corpus_id,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
        |FROM h a JOIN h b ON a.doc_id % 16 = 1 AND b.doc_id % 16 <> 1
        |WHERE bit_count(xor(a.phash, b.phash)) <= 3""".stripMargin),

    // Near-dup recordings → connected components: the SAME generic
    // cluster machinery that serves text detectors (alternating
    // large-star/small-star contraction — O(log² n) rounds on any
    // topology, no driver collect) consumes the audio Hamming pairs;
    // downstream keep-one-per-cluster is then modality-blind. Oracle:
    // exact components via recursive-CTE reachability over the
    // replayed pair set.
    QuerySpec("ext_dedup_audio_clusters", (s, dir) => {
      import s.implicits._
      val docs = tbl(s, dir, "documents")
      val media = docs.select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val fam = id / 16 + 1
          val samples = Array.tabulate[Short](240) { j =>
            val p = if (id % 16 != 0 && j / 4 == id % 60) 1024L else 0L
            ((fam * (j * 7 + 11) + p) % 4096 - 2048).toShort
          }
          graft.ext.Multimodal.MediaRow(
            id, graft.ext.Multimodal.buildPcm16Wav(samples))
        }).toDF()
      val hashes = graft.ext.AudioDedup
        .energyHashes(s, media, window = 4, bits = 60).toDF()
      val pairs = graft.ext.AudioDedup
        .nearDupPairs(hashes, maxHamming = 3, bits = 60)
      DedupClusters.clustersAlternating(docs, pairs)
    },
      // exact connected components over the replayed audio pair set
      """WITH RECURSIVE s AS (
        |  SELECT doc_id, j,
        |    ((((doc_id // 16) + 1) * (j * 7 + 11)
        |      + CASE WHEN doc_id % 16 <> 0 AND j // 4 = doc_id % 60
        |             THEN 1024 ELSE 0 END) % 4096) - 2048 AS v
        |  FROM documents, range(240) t(j)
        |), e AS (
        |  SELECT doc_id, j // 4 AS w, sum(v * v) AS energy
        |  FROM s GROUP BY doc_id, j // 4
        |), tot AS (
        |  SELECT doc_id, sum(energy) AS total FROM e GROUP BY doc_id
        |), h AS (
        |  SELECT e.doc_id,
        |    CAST(sum(CASE WHEN energy * 60 > total
        |             THEN (1::BIGINT << w) ELSE 0 END) AS BIGINT) AS phash
        |  FROM e JOIN tot USING (doc_id) GROUP BY e.doc_id
        |), pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM h a JOIN h b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.phash, b.phash)) <= 3
        |), edges AS (
        |  SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs
        |), reach AS (
        |  SELECT doc_id AS node, doc_id AS root FROM documents
        |  UNION
        |  SELECT e2.b AS node, r.root FROM reach r JOIN edges e2 ON e2.a = r.node
        |)
        |SELECT node AS doc_id, min(root) AS cluster_id
        |FROM reach GROUP BY node""".stripMargin),
  )
}
