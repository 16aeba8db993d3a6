package graft

import graft.ext._
import graft.functions.{TextFunctions, VectorFunctions}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def docs = graft.queries.Fixtures.tbl(spark, sf, "documents")
  private def embeddings = graft.queries.Fixtures.tbl(spark, sf, "embeddings")

  test("codegen dot product is bit-identical to the HOF fold") {
    val e = embeddings.limit(200)
    val a = e.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val pairs = a.crossJoin(b).where(col("ia") < col("ib"))
    val diff = pairs.select(
      VectorFunctions.dot(col("va"), col("vb")).as("fast"),
      VectorFunctions.dotHof(col("va"), col("vb")).as("ref"))
      .where(col("fast") =!= col("ref"))
    assert(diff.count() == 0)
  }

  test("codegen hyperplane signature is bit-identical to the HOF fold") {
    val e = embeddings.limit(200)
    for ((planes, seed) <- Seq((2, 0L), (12, 0L), (12, 1L), (20, 7L))) {
      val diff = e.select(
        VectorFunctions.hyperplaneSignature(col("embedding"), planes, seed).as("fast"),
        VectorFunctions.hyperplaneSignatureHof("embedding", planes, seed).as("ref"))
        .where(col("fast") =!= col("ref"))
      assert(diff.count() == 0, s"planes=$planes seed=$seed")
    }
  }

  test("decontamination flags planted 13-gram overlap and nothing else") {
    val words13 = (1 to 13).map(i => s"tok$i").mkString(" ")
    val train = Seq(
      (1L, s"leading filler words here $words13 trailing filler", "en", "web", 0L),
      (2L, "completely unrelated text with no overlap at all whatsoever in any window", "en", "web", 0L),
      (3L, words13, "en", "web", 0L) // verbatim short doc
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val eval = Seq((100L, s"$words13", "en", "bench", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val flagged = Decontaminate.contamination(train, eval)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(flagged.keySet == Set(1L, 3L), s"got $flagged")
    assert(flagged(1L) == (1L, 1L)) // exactly the planted shingle, one eval doc
  }

  test("repeated spans count cross-document 20-token repeats, nothing else") {
    val span20 = (1 to 20).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, s"$span20 unique tail one", "en", "web", 0L),
      (2L, s"prefix words then $span20", "en", "web", 0L),
      (3L, "totally different content with no twenty token window repeated anywhere at all", "en", "web", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = DedupOps.repeatedSpans(df, n = 20).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // docs 1 and 2 share exactly the planted w1..w20 span; doc 3 clean
    assert(out == Map(1L -> 1L, 2L -> 1L), s"got $out")
  }

  test("decontamination flags a SHORT eval doc quoted inside a long train doc") {
    // an eval doc with fewer than n tokens emits one whole-text
    // shingle; the train side must be shingled at that length too or
    // the quote is invisible (round-5 advisor finding)
    val quote = "the quick brown fox jumps" // 5 tokens < 13
    val train = Seq(
      (1L, s"lots of leading context here so this doc is long $quote and trailing words follow after it too", "en", "web", 0L),
      (2L, "entirely unrelated content with no overlap at all in any window of any length", "en", "web", 0L),
      (3L, "the quick brown dog jumps", "en", "web", 0L) // near miss, one token off
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val eval = Seq((100L, quote, "en", "bench", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val flagged = Decontaminate.contamination(train, eval)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(flagged.keySet == Set(1L), s"got $flagged")
    assert(flagged(1L) == (1L, 1L)) // exactly the quoted whole-text shingle
  }

  test("decontamination always flags eval docs present in the corpus") {
    // eval ⊂ train: every eval doc with at least one token must flag
    // itself (the short-doc whole-text shingle rule guarantees a
    // shingle exists)
    val eval = docs.where(col("doc_id") % 97 === 0)
    val evalWithTokens = eval
      .where(size(graft.functions.TextFunctions.words(graft.functions.TextFunctions.normalized(col("text")))) > 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val flagged = Decontaminate.contamination(docs, eval)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(evalWithTokens.subsetOf(flagged),
      s"unflagged eval docs: ${evalWithTokens -- flagged}")
  }

  test("lsh near-dup candidate volume stays near-linear at the declared config") {
    // Round 2's planes=2/tables=16 config had 4 buckets per table —
    // Θ(n²) candidates through a 64-value join key. The declared
    // round-3 config (planes=12, tables=2, planted-duplicate corpus)
    // must keep bucket count scaling with the corpus: candidate pairs
    // ≤ c·n and join-key cardinality well beyond the table count.
    val planted = embeddings.unionByName(
      embeddings.withColumn("vec_id", col("vec_id") + lit(1000000)))
    val n = planted.count()
    val buckets = (0 until 2).map(t =>
      planted.select(lit(t).as("t"),
        VectorFunctions.hyperplaneSignature(col("embedding"), 12, t.toLong).as("b")))
      .reduce(_ unionByName _)
      .groupBy("t", "b").count()
    val stats = buckets.agg(
      sum(col("count") * (col("count") - 1) / 2).as("cands"),
      count(lit(1)).as("keys")).head()
    val (cands, keys) = (stats.getDouble(0).toLong, stats.getLong(1))
    assert(cands <= 20 * n, s"candidate pairs $cands vs n=$n — quadratic blow-up")
    assert(keys > 64, s"join-key cardinality $keys caps shuffle parallelism")
  }

  test("planesFor scales bucket count with the corpus") {
    assert(SimilaritySearch.planesFor(1000L, 1L) == 10)
    assert(SimilaritySearch.planesFor(1L << 40, 1024L) == 20) // clamp
    assert(SimilaritySearch.planesFor(10L, 1024L) == 1)
    // candidate volume target: buckets ≈ n / targetBucketSize
    assert(SimilaritySearch.planesFor(1L << 20, 1024L) == 10)
  }

  test("vector functions: cosine identities") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (3L, Array(3.0f, 4.0f), Array(3.0f, 4.0f))
    ).toDF("id", "a", "b")
    val out = df.select(col("id"), VectorFunctions.cosine(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(out(1L) - 1.0) < 1e-12)
    assert(math.abs(out(2L)) < 1e-12)
    assert(math.abs(out(3L) - 1.0) < 1e-12)
  }

  test("text functions: word occurrence counting edges") {
    val df = Seq(
      (1L, "the cat and the dog"),
      (2L, "the the the"),
      (3L, "threshold theory"), // substrings must not count
      (4L, "  the   cat  ")     // whitespace collapse
    ).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      TextFunctions.wordOccurrences(col("text"), "the").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 2)
    // adjacent repeats: non-overlapping replace counts 2 of 3 — the
    // documented cross-engine-stable behavior, not linguistic truth
    assert(out(2L) == 2)
    assert(out(3L) == 0)
    assert(out(4L) == 1)
  }

  test("repetition stats flag duplicate lines and repeated words") {
    val df = Seq(
      (1L, "buy now\nbuy now\nbuy now"),          // 3 lines, 1 distinct
      (2L, "the cat sat on the mat"),              // 'the' twice
      (3L, "all unique words here")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 3 && out(1L).getLong(2) == 1)  // lines
    assert(out(1L).getDouble(6) == 2.0 / 3.0)                   // dup_line_ratio
    assert(out(2L).getLong(3) == 6 && out(2L).getLong(4) == 5)  // words
    assert(out(2L).getLong(5) == 2)                             // max freq: 'the'
    assert(out(2L).getDouble(7) == 1.0 / 6.0)                   // dup_word_ratio
    assert(out(3L).getDouble(8) == 0.25)                        // top_word_ratio
  }

  test("top terms rank by (tf desc, df asc, term asc) with df from the corpus") {
    val df = Seq(
      (1L, "alpha alpha beta common"),
      (2L, "beta beta common gamma")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.topTerms(df, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(4)) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out((1L, 1L)) == ("alpha", 2L, 1L)) // tf 2 wins
    assert(out((2L, 1L)) == ("beta", 2L, 2L))
    // doc 1 rank 2: beta vs common both tf=1 df=2 → term asc picks beta
    assert(out((1L, 2L)) == ("beta", 1L, 2L))
  }

  test("split assignment is deterministic, stable under corpus growth, and complete") {
    val base = docs.select("doc_id")
    val a = Sampling.assignSplit(base).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // same ids re-assigned identically even with extra rows present
    val grown = Sampling.assignSplit(
      base.unionByName(Seq(999999L).toDF("doc_id"))).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(a.forall { case (id, v) => grown(id) == v })
    assert(a.values.forall { case (b, s) =>
      b >= 0 && b < 100 &&
        s == (if (b < 90) "train" else if (b < 95) "val" else "test") })
    // all three splits materialize on 500 docs (sanity of the spread)
    assert(a.values.map(_._2).toSet == Set("train", "val", "test"))
    // different salt → different assignment for at least one doc
    val salted = Sampling.assignSplit(base, salt = "other").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a.exists { case (id, (b, _)) => salted(id) != b })
  }

  test("source-weighted mixing drops exactly the weighted fraction class, stably") {
    val out = Sampling.sampleBySourceWeight(docs,
      Map("src0" -> 0.0, "src1" -> 0.5)).collect()
    val bySrc = out.groupBy(_.getAs[String]("source")).view.mapValues(_.length).toMap
    assert(!bySrc.contains("src0"), "weight 0.0 must drop the whole source")
    assert(bySrc("src1") > 0 && bySrc("src1") < 25, "weight 0.5 keeps a strict subset")
    assert(bySrc("src2") == 25, "unlisted sources keep everything")
    // survivors are a stable subset: same ids survive on the doubled corpus
    val ids = out.map(_.getLong(0)).toSet
    val grownIds = Sampling.sampleBySourceWeight(
      docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 1000000)),
      Map("src0" -> 0.0, "src1" -> 0.5))
      .collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(grownIds))
  }

  test("temperature resample: τ=1 is the identity, τ<1 rebalances toward uniform") {
    // skewed domains: 40 'big', 5 'small'
    val df = ((1L to 40L).map(i => (i, "big")) ++ (41L to 45L).map(i => (i, "small")))
      .toDF("doc_id", "dom")
    val id = Sampling.temperatureResample(df, "dom", tau = 1.0)
      .select("doc_id", "copy_id").as[(Long, Long)].collect()
    assert(id.map(_._2).forall(_ == 0L) && id.map(_._1).sorted.toSeq == (1L to 45L),
      "τ=1 must keep every doc exactly once")
    val out = Sampling.temperatureResample(df, "dom", tau = 0.5)
      .groupBy("dom").count().as[(String, Long)].collect().toMap
    // τ=0.5 shares: p ∝ √n → big 40→~33, small 5→~12 of 45
    assert(out("big") < 40 && out("small") > 5,
      s"τ<1 must shrink the big domain and repeat the small one: $out")
    // repetition carries distinct copy ids, never duplicate rows
    val rows = Sampling.temperatureResample(df, "dom", tau = 0.5)
      .select("doc_id", "copy_id").as[(Long, Long)].collect()
    assert(rows.distinct.length == rows.length)
    // deterministic: a second run is identical
    val again = Sampling.temperatureResample(df, "dom", tau = 0.5)
      .select("doc_id", "copy_id").as[(Long, Long)].collect()
    assert(rows.sorted.toSeq == again.sorted.toSeq)
  }

  test("temperature resample matches a from-scratch rate computation") {
    val df = ((1L to 40L).map(i => (i, "big")) ++ (41L to 45L).map(i => (i, "small")))
      .toDF("doc_id", "dom")
    val tau = 0.5
    val n = Map("big" -> 40.0, "small" -> 5.0)
    val z = n.values.map(math.pow(_, tau)).sum // two terms — order-safe
    val rate = n.map { case (d, c) => d -> math.pow(c, tau) / z * 45.0 / c }
    def bucket(id: Long): Long = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(s"graft-temp:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md5.take(15), 16) % 10000
    }
    val want = (1L to 45L).flatMap { i =>
      val d = if (i <= 40) "big" else "small"
      val r = rate(d)
      (0L to r.toLong).collect {
        case c if c < r.floor.toLong ||
          bucket(i) < math.round((r - r.floor) * 10000) => (i, c)
      }
    }.toSet
    val got = Sampling.temperatureResample(df, "dom", tau)
      .select("doc_id", "copy_id").as[(Long, Long)].collect().toSet
    assert(got == want)
  }

  test("sequence packing: per-shard running budget, packs chunk at capacity") {
    val df = Seq(
      (1L, 100L), (2L, 100L), (3L, 100L), (4L, 100L), (5L, 100L)
    ).toDF("doc_id", "n_tokens")
    // one shard → a single running sum; capacity 256 chops at doc 3 and 5
    val out = Sampling.packSequences(df, capacity = 256, shards = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(out(1L) == (0L, 0L) && out(2L) == (100L, 0L) && out(3L) == (200L, 0L))
    assert(out(4L) == (300L, 1L) && out(5L) == (400L, 1L))
    // sharded: toks_before is the id-ordered prefix sum within each shard
    val sharded = Sampling.packSequences(df, capacity = 256, shards = 4).collect()
    val byShard = sharded.groupBy(_.getLong(1))
    byShard.values.foreach { rows =>
      val sorted = rows.sortBy(_.getLong(0))
      var run = 0L
      sorted.foreach { r =>
        assert(r.getLong(3) == run); run += r.getLong(2)
      }
    }
  }

  test("exact dedup groups planted duplicates") {
    val df = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha  beta   gamma"), // same canonical form
      (3L, "different text here")
    ).toDF("doc_id", "text")
    val out = DedupOps.exact(df).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out == Map(1L -> 2L, 3L -> 1L))
  }

  test("codegen shingleRows matches the HOF shingling spec") {
    val fast = MinHashLSH.shingleRows(docs)
      .groupBy("doc_id").agg(collect_set(col("__sh")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val spec = MinHashLSH.withShingles(docs)
      .select(col("doc_id"), col("__shingles"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(fast == spec)
  }

  test("minhash LSH finds the planted near-dup pairs with full recall here") {
    // ground truth: exact shingle-set Jaccard >= 1/3 over all pairs
    val sets = MinHashLSH.withShingles(docs)
      .select(col("doc_id"), array_distinct(col("__shingles")).as("s"))
    val a = sets.select(col("doc_id").as("doc_a"), col("s").as("sa"))
    val b = sets.select(col("doc_id").as("doc_b"), col("s").as("sb"))
    val truth = a.crossJoin(b).where(col("doc_a") < col("doc_b"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("uni", size(array_union(col("sa"), col("sb"))))
      .where(col("inter") * 3 >= col("uni"))
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val found = MinHashLSH.nearDupPairs(docs, jaccard = (1, 3))
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(found.subsetOf(truth), "verification stage must kill false positives")
    assert(truth.nonEmpty, "fixture should contain planted near-dups")
    val recall = found.size.toDouble / truth.size
    assert(recall >= 0.9, s"recall $recall (found ${found.size} of ${truth.size})")
  }

  test("incremental near-dup emits cross-side pairs only") {
    // corpus holds its OWN near-dup pair (20/21): the incremental
    // operator must not re-discover it — only delta↔corpus pairs
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      (10L, s"$base lambda mu", "en", "t", 0L),
      (20L, s"$base nu xi omicron", "en", "t", 0L),
      (21L, s"$base nu xi pi", "en", "t", 0L),
      (30L, "completely different words about an unrelated topic entirely here", "en", "t", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val delta = Seq(
      (100L, s"$base lambda mu", "en", "t", 0L), // twin of 10
      (101L, "nothing in common with anything stored so far at all", "en", "t", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val found = MinHashLSH.nearDupPairsAgainst(delta, corpus, jaccard = (1, 3))
      .select("delta_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.contains((100L, 10L)), s"planted twin not found: $found")
    assert(found.forall(_._1 >= 100L),
      s"corpus-side ids leaked into the delta column: $found")
    assert(!found.exists(p => Set(20L, 21L).contains(p._1)),
      s"corpus self-pair re-discovered: $found")
    // 100 is also a near-dup of 20/21 (shared base prefix) — allowed;
    // what is forbidden is any pair not anchored in the delta
    assert(found.forall(p => p._1 == 100L || p._1 == 101L), s"$found")
    assert(!found.exists(_._1 == 101L), s"unrelated delta doc paired: $found")
  }

  test("simhash finds near-dups within the hamming bound") {
    val out = SimHash.nearDupPairs(docs, maxHamming = 3).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Long]("hamming") <= 3))
    // deterministic across runs
    val again = SimHash.nearDupPairs(docs, maxHamming = 3).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      again.map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("incremental embedding near-dup emits cross-side pairs only") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.02f, 0.01f, 0.0f)),
      (2L, Array(1.0f, 0.03f, 0.0f, 0.01f)), // corpus self near-dup of 1
      (3L, Array(0.0f, 0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val delta = Seq(
      (100L, Array(1.0f, 0.02f, 0.01f, 0.0f)), // twin of 1 (and near 2)
      (101L, Array(0.0f, 1.0f, 0.0f, 0.0f))    // matches nothing
    ).toDF("vec_id", "embedding")
    val found = SimilaritySearch
      .lshNearDupPairsAgainst(delta, corpus, threshold = 0.9, planes = 4, tables = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.contains((100L, 1L)), s"planted twin not found: $found")
    assert(found.forall(_._1 >= 100L),
      s"corpus-side ids leaked into the delta column: $found")
    assert(!found.exists(_._1 == 101L), s"unrelated delta vector paired: $found")
  }

  test("hyperplane margins carry the signature: sign(margins[p]) == bit p") {
    val e = embeddings.limit(200)
    for ((planes, seed) <- Seq((4, 0L), (6, 0L), (12, 3L))) {
      val sigFromMargins = expr(
        s"""aggregate(sequence(0, ${planes - 1}), 0L,
           |  (acc, p) -> acc + shiftleft(CASE WHEN mg[p] > 0.0D
           |                              THEN 1L ELSE 0L END, p))""".stripMargin)
      val diff = e.select(
        VectorFunctions.hyperplaneMargins(col("embedding"), planes, seed).as("mg"),
        VectorFunctions.hyperplaneSignature(col("embedding"), planes, seed).as("sig"))
        .where(sigFromMargins =!= col("sig"))
      assert(diff.count() == 0, s"planes=$planes seed=$seed")
    }
  }

  test("directed LSH at nProbe = 2^planes is exact brute force") {
    val q = embeddings.where(col("vec_id") < 5)
    val exact = SimilaritySearch.bruteForceTopK(q, embeddings, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val full = SimilaritySearch.lshTopKDirected(q, embeddings, 10,
      planes = 4, nProbe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full == exact)
  }

  test("directed LSH recall is monotone in nProbe (probe sets are nested)") {
    // the probe list is a prefix slice of one cost-sorted mask array,
    // so a bigger budget probes a superset of buckets: per-query hits
    // vs the exact top-k can only grow
    val q = embeddings.where(col("vec_id") < 5)
    val exact = SimilaritySearch.bruteForceTopK(q, embeddings, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def hits(nProbe: Int): Map[Long, Int] =
      SimilaritySearch.lshTopKDirected(q, embeddings, 10, planes = 6, nProbe = nProbe)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .filter(exact.contains).groupBy(_._1).view.mapValues(_.length).toMap
        .withDefaultValue(0)
    val (small, big) = (hits(8), hits(32))
    for (qid <- 0L until 5L)
      assert(small(qid) <= big(qid), s"q=$qid: ${small(qid)} > ${big(qid)}")
  }

  test("LSH ANN approximates brute-force top-k with decent recall") {
    val q = embeddings.where(col("vec_id") < 5)
    val exact = SimilaritySearch.bruteForceTopK(q, embeddings, 10)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = SimilaritySearch.lshTopK(q, embeddings, 10)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"LSH recall $recall too low")
  }

  test("exactKeepRows keeps the full min-id row per fingerprint") {
    val df = Seq(
      (2L, "same  text", "x"),
      (1L, "same text", "y"), // same canonical form, lower id wins
      (3L, "other", "z")
    ).toDF("doc_id", "text", "extra")
    val out = DedupOps.exactKeepRows(df).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("extra"))).toSet
    assert(out == Set((1L, "y"), (3L, "z")))
  }

  test("cluster labels propagate transitively and keep singletons") {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L)
    val dist = DedupClusters.clusters(nodes, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == expected)
    val local = DedupClusters.clustersLocal(nodes, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == expected)
  }

  test("local and distributed clustering agree on a real pair graph") {
    val pairs = DedupOps.ngramJaccard(docs, numOverDen = (1, 3))
    val a = DedupClusters.clusters(docs, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = DedupClusters.clustersLocal(docs, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
    val c = DedupClusters.clustersAlternating(docs, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c == b)
  }

  test("star contraction clusters a diameter-200 chain where propagation's bound can't") {
    // a 201-node path: label propagation needs ~200 rounds (its
    // maxIterations contract); the alternating star moves collapse it
    // in O(log² n)
    val n = 201L
    val nodes = (0L until n).toDF("doc_id")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = DedupClusters.clustersAlternating(nodes, pairs, maxIterations = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.values.forall(_ == 0L), "one component labeled by its minimum")
    val local = DedupClusters.clustersLocal(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == local)
  }

  test("star contraction: singletons, empty pair list, transitive merge") {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val out = DedupClusters.clustersAlternating(nodes, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 9L -> 9L))
    val none = DedupClusters.clustersAlternating(
        nodes, Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(none == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 5L, 9L -> 9L))
  }

  test("keepOnePerCluster collapses planted near-dup clusters") {
    val pairs = MinHashLSH.nearDupPairs(docs, jaccard = (1, 3))
    val nPairs = pairs.count()
    assert(nPairs > 0)
    val kept = DedupClusters.keepOnePerCluster(docs, pairs)
    // each pair collapses its cluster; kept = docs - (clusterSize-1) per cluster
    assert(kept.count() < docs.count())
    assert(kept.count() >= docs.count() - 2 * nPairs)
    assert(kept.columns.toSeq == docs.columns.toSeq)
  }

  test("keepOnePerCluster routes past the driver-collect path when pairs exceed the cap") {
    val docs5 = Seq(1L, 2L, 3L, 4L, 5L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // chain graph: diameter 4, one component — exercises the iterative
    // propagation the fallback must use
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("doc_a", "doc_b")
    val viaLocal = DedupClusters.keepOnePerCluster(docs5, chain)
      .collect().map(_.getLong(0)).toSet
    // 4 pairs > cap 1 → distributed label propagation; same answer
    val viaDist = DedupClusters.keepOnePerCluster(docs5, chain, localPairLimit = 1)
      .collect().map(_.getLong(0)).toSet
    assert(viaLocal == Set(1L))
    assert(viaDist == viaLocal)
  }

  test("LSH near-dup pairs find planted true near-duplicates") {
    // The fixture corpus has no true near-dups (max cosine ~0.5), so
    // plant some: 60 base vectors, 20 perturbed copies (cos > 0.99).
    val rnd = new scala.util.Random(42)
    def vec() = Array.fill(16)(rnd.nextGaussian().toFloat)
    val base = (0 until 60).map(i => (i.toLong, vec()))
    val dups = base.take(20).map { case (i, v) =>
      (1000L + i, v.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")

    val exact = DedupOps.embeddingNearDup(df, 0.95).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 20, "planting must create near-dup pairs")
    val lsh = SimilaritySearch.lshNearDupPairs(df, 0.95, planes = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "bucketing must not create false pairs")
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.6, s"LSH near-dup recall $recall")
  }

  test("embeddingNearDup refuses a corpus above the all-pairs cap") {
    // The O(n²) baseline must fail loudly above its row cap and point
    // the caller at the bucketed scale path, not silently build the
    // cross join. spark.range keeps the oversize input cheap: the
    // guard's count() runs, the n² stage never does.
    val over = spark.range(DedupOps.EmbeddingAllPairsMaxRows + 1)
      .select(col("id").as("vec_id"),
        array(lit(1.0f)).as("embedding"))
    val err = intercept[IllegalArgumentException] {
      DedupOps.embeddingNearDup(over, 0.9)
    }
    assert(err.getMessage.contains("lshNearDupPairs"),
      s"guard message must name the scale path: ${err.getMessage}")
  }

  test("IVF ANN beats LSH recall at comparable probe cost") {
    val q = embeddings.where(col("vec_id") < 5)
    val exact = SimilaritySearch.bruteForceTopK(q, embeddings, 10)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val index = IvfSearch.buildIndex(embeddings, nCells = 8)
    val ivf = IvfSearch.topK(q, index, 10, nProbe = 4)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall too low")
  }

  test("multimodal decode: real plumbing, deterministic stub values") {
    val media = Multimodal.asMedia(docs)
    assert(media.schema("media").dataType ==
      org.apache.spark.sql.types.BinaryType)
    val meta = Multimodal.decodeMeta(spark, media).collect()
      .map(m => m.doc_id -> m).toMap
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    texts.take(10).foreach { case (id, text) =>
      val n = text.getBytes("UTF-8").length.toLong
      val m = meta(id)
      assert(m.n_bytes == n)
      assert(m.width == 64 + n % 640)
      assert(m.height == 64 + (n * 31) % 480)
      assert(m.n_frames == n % 16)
    }
  }

  test("SQL registration exposes custom expressions to spark.sql") {
    graft.functions.GraftFunctions.registerAll(spark)
    val r = spark.sql(
      "SELECT vec_dot(array(CAST(1.0 AS DOUBLE), 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0)
    assert(r == 11.0)
    val sig = spark.sql(
      "SELECT minhash_sketch(h, 8) AS sig FROM (SELECT xxhash64(x) AS h FROM VALUES ('a'), ('b'), ('c') AS t(x))")
      .head().getSeq[Long](0)
    assert(sig.length == 8)
    val sh = spark.sql(
      "SELECT word_shingles(array('a', 'b', 'c', 'd'), 3) AS s")
      .head().getSeq[String](0)
    assert(sh == Seq("a b c", "b c d"))
    val bf = spark.sql(
      "SELECT bloom_build(xxhash64(x), 1024, 5) AS bf FROM VALUES ('a'), ('b') AS t(x)")
      .head().getAs[Array[Byte]](0)
    val hits = spark.sql(
      s"SELECT x FROM VALUES ('a'), ('b'), ('zq') AS t(x) " +
        "WHERE might_contain(X'" +
        bf.map("%02x".format(_)).mkString + "', xxhash64(x))")
      .collect().map(_.getString(0)).toSet
    assert(hits.contains("a") && hits.contains("b"))
  }

  test("frame sampling emits every Nth frame with stub geometry") {
    val media = Multimodal.asMedia(docs.limit(50))
    val frames = Multimodal.sampleFrames(spark, media, everyN = 2).collect()
    val metas = Multimodal.decodeMeta(spark, media).collect()
      .map(m => m.doc_id -> m.n_frames).toMap
    val byDoc = frames.groupBy(_.doc_id)
    metas.foreach { case (id, n) =>
      val expected = (0L until n by 2L).toSeq
      val got = byDoc.getOrElse(id, Array.empty).map(_.frame_idx).sorted.toSeq
      assert(got == expected, s"doc $id")
    }
    frames.foreach(f => assert(f.byte_offset == f.frame_idx * 4096))
  }

  test("boilerplate line removal drops cross-document lines, keeps order") {
    val df = Seq(
      (1L, "unique one\nCOPYRIGHT FOOTER\nunique two"),
      (2L, "other text\nCOPYRIGHT FOOTER"),
      (3L, "standalone doc")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.removeBoilerplateLines(df, maxDocs = 1).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "unique one\nunique two")
    assert(out(2L) == "other text")
    assert(out(3L) == "standalone doc")
  }

  test("vocabulary ranks tokens by corpus frequency with a total order") {
    val df = Seq((1L, "a b b c c c"), (2L, "c b")).toDF("doc_id", "text")
    val out = TextAnalysis.vocabulary(df, topK = 2).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("c", 4L), ("b", 3L)))
  }

  test("PII scrub replaces emails and phone numbers with typed placeholders") {
    val df = Seq(
      (1L, "contact bob@example.com or +1 (555) 123-4567 today"),
      (2L, "no pii here at all")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.scrubPii(df).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    val (scrubbed, emails, phones) = out(1L)
    assert(scrubbed == "contact <EMAIL> or <PHONE> today")
    assert(emails == 1 && phones == 1)
    assert(out(2L) == (("no pii here at all", 0L, 0L)))
  }

  test("encodeIds: frequency-ordered ids, OOV zeros, shuffle-free encode") {
    val df = Seq(
      (1L, "red red red blue blue green"),
      (2L, "blue zebra red"),
      (3L, ""))
      .toDF("doc_id", "text")
    // vocab (size 2) by (n desc, token asc): red (4) → 1, blue (3) →
    // 2; green/zebra fall outside → OOV id 0
    val out = TextAnalysis.encodeIds(df, vocabSize = 2).collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Long](1), r.getLong(2)))).toMap
    assert(out(1L) == ((Seq(1L, 1L, 1L, 2L, 2L, 0L), 1L)))
    assert(out(2L) == ((Seq(2L, 0L, 1L), 1L)))
    assert(out(3L) == ((Seq.empty[Long], 0L)))
    // encode adds no exchange beyond the driver-collected vocab
    val plan = TextAnalysis.encodeIds(df, vocabSize = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"encode must be a pure projection:\n$plan")
  }

  test("quality filter drops short docs and punctuation soup") {
    val df = Seq(
      (1L, "this is a perfectly reasonable document with enough words"),
      (2L, "too short"),
      (3L, "a b c d e !!!! ???? ;;;; %%%% &&&& #### @@@@ ^^^^ ****")
    ).toDF("doc_id", "text")
    val kept = TextAnalysis.qualityFilter(df).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L))
  }

  test("language-id picks argmax with fixed tie-break") {
    val df = Seq(
      (1L, "the cat and the dog is a pet"),
      (2L, "el perro y la casa de que y el"),
      (3L, "xyz qrs")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.languageId(df).select("doc_id", "lang_guess")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en")
    assert(out(2L) == "es")
    assert(out(3L) == "und")
  }
  test("lmBigramStats: hand-checked model counts, OOV, short docs absent") {
    val ref = Seq(
      (100L, "the cat sat"),        // bigrams: "the cat", "cat sat"
      (101L, "the cat ran"),        // "the cat", "cat ran"
      (102L, "x")                   // no bigrams
    ).toDF("doc_id", "text")
    val scored = Seq(
      (1L, "the cat sat down"),     // the-cat(2) cat-sat(1) sat-down(OOV)
      (2L, "dogs bark"),            // dogs-bark(OOV)
      (3L, "hi"),                   // < 2 tokens: no row
      (4L, "")                      // empty: no row
    ).toDF("doc_id", "text")
    val out = graft.ext.TextAnalysis.lmBigramStats(scored, ref)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (k, a, b, c) => k -> ((a, b, c)) }.toMap
    assert(out === Map(
      1L -> ((3L, 2L, 3L)),         // 3 bigrams, 2 known, counts 2+1
      2L -> ((1L, 0L, 0L))))
    // frequency pruning drops the count-1 tail: only "the cat" stays
    val pruned = graft.ext.TextAnalysis.lmBigramStats(
        scored, ref, minModelCount = 2L)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (k, a, b, c) => k -> ((a, b, c)) }.toMap
    assert(pruned(1L) === ((3L, 1L, 2L)))
  }
  test("editDistanceNearDup: windowed threshold verify on prefix blocks") {
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "the quick brown fox jumped"),   // dist 2 vs doc 1 ("s" -> "ed")
      (3L, "the quick brown cat jumps"),    // dist 3 vs doc 1 (fox -> cat); 5 vs doc 2
      (4L, "THE quick brown fox jumps"),    // prefix differs: never a candidate
      (5L, "the quick brown fox leaps far away then rests")  // too far: > 3 edits
    ).toDF("doc_id", "text")
    val out = graft.ext.DedupOps.editDistanceNearDup(docs, maxEdits = 3, prefixLen = 8)
      .as[(Long, Long, Int)].collect().toSet
    assert(out === Set((1L, 2L, 2), (1L, 3L, 3)))
  }
  test("HeaderParser: real PNG/GIF/JPEG byte walks, unknown on garbage") {
    import graft.ext.Multimodal.{HeaderParser, HeaderMeta}
    def png(w: Int, h: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(33)
      bb.put(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a))
      bb.putInt(13).put("IHDR".getBytes("US-ASCII")).putInt(w).putInt(h)
      bb.put(Array[Byte](8, 6, 0, 0, 0)).array()
    }
    assert(HeaderParser.parse(1L, png(800, 600)) === HeaderMeta(1L, "png", 800L, 600L))
    // dims above 2^15 must not go negative (unsigned reads)
    assert(HeaderParser.parse(2L, png(70000, 40000)) === HeaderMeta(2L, "png", 70000L, 40000L))

    val gif = "GIF89a".getBytes("US-ASCII") ++
      Array[Byte](0x40, 0x01, 0xf0.toByte, 0x00) // 320 x 240 little-endian
    assert(HeaderParser.parse(3L, gif) === HeaderMeta(3L, "gif", 320L, 240L))

    // JPEG: SOI, APP0 (length 4), COM (length 6), then SOF0 1024 x 768
    val jpeg = Array[Byte](
      0xff.toByte, 0xd8.toByte,
      0xff.toByte, 0xe0.toByte, 0x00, 0x04, 0x4a, 0x46,
      0xff.toByte, 0xfe.toByte, 0x00, 0x06, 1, 2, 3, 4,
      0xff.toByte, 0xc0.toByte, 0x00, 0x11, 0x08,
      0x03, 0x00, // height 768
      0x04, 0x00, // width 1024
      0x03, 1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1)
    assert(HeaderParser.parse(4L, jpeg) === HeaderMeta(4L, "jpeg", 1024L, 768L))
    // progressive (SOF2) parses the same frame header
    val prog = jpeg.updated(17, 0xc2.toByte)
    assert(HeaderParser.parse(5L, prog) === HeaderMeta(5L, "jpeg", 1024L, 768L))

    // truncated signature, arbitrary text, DHT-only jpeg, null: audit rows
    assert(HeaderParser.parse(6L, png(1, 1).take(20)).format === "unknown")
    assert(HeaderParser.parse(7L, "hello world".getBytes).format === "unknown")
    assert(HeaderParser.parse(8L, Array[Byte](0xff.toByte, 0xd8.toByte,
      0xff.toByte, 0xc4.toByte, 0x00, 0x04, 0, 0)).format === "unknown")
    assert(HeaderParser.parse(9L, null).format === "unknown")
  }
  test("clustersLocal: live-keySet iteration regression — every union survives labeling") {
    // the exact 12-edge topology that lost 4 of 11 labels when find()'s
    // path-compression writes ran against a LIVE keys view (fixed by
    // snapshotting keys before the label map)
    val edges = Seq((8L,245L),(45L,413L),(45L,267L),(58L,293L),(61L,185L),
      (70L,447L),(98L,290L),(166L,323L),(267L,413L),(285L,301L),
      (393L,420L),(458L,462L))
    val nodes = (edges.flatMap(e => Seq(e._1, e._2)).distinct ++ Seq(999L))
      .toDF("doc_id")
    val pairs = edges.toDF("doc_a", "doc_b")
    val out = graft.ext.DedupClusters.clustersLocal(nodes, pairs)
      .as[(Long, Long)].collect().toMap
    for ((a, b) <- edges)
      assert(out(b) === out(a), s"edge ($a,$b) must share a cluster")
    assert(out(999L) === 999L)
    assert(out(413L) === 45L && out(185L) === 61L && out(245L) === 8L && out(447L) === 70L)
  }

  test("chunkDocuments: window/stride boundaries, clamped tail, full coverage") {
    import spark.implicits._
    def doc(n: Int): String = (1 to n).map(i => s"t$i").mkString(" ")
    val df = Seq(
      (0L, ""),               // no tokens -> no chunks
      (1L, "solo"),           // 1 token -> one short chunk
      (4L, doc(4)),           // n == window -> exactly one chunk
      (5L, doc(5)),           // n == window + 1 -> second chunk of 3
      (10L, doc(10))          // starts at 0, 2, 4, 6: ceil((10-4)/2)=3
    ).toDF("doc_id", "text")
    val out = graft.ext.TextAnalysis
      .chunkDocuments(df, window = 4, stride = 2)
      .as[(Long, Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq).toMap
    assert(!out.contains(0L))
    assert(out(1L) === Seq((1L, 0L, 1L, "solo")))
    assert(out(4L) === Seq((4L, 0L, 4L, "t1 t2 t3 t4")))
    assert(out(5L) === Seq(
      (5L, 0L, 4L, "t1 t2 t3 t4"), (5L, 1L, 3L, "t3 t4 t5")))
    assert(out(10L).map(_._2) === Seq(0L, 1L, 2L, 3L))
    assert(out(10L).last === ((10L, 3L, 4L, "t7 t8 t9 t10")))
    // coverage property: every token of every doc appears in >= 1
    // chunk, and consecutive chunks overlap by window - stride
    for (n <- Seq(1, 3, 4, 7, 9, 23, 24, 25)) {
      val chunks = graft.ext.TextAnalysis
        .chunkDocuments(Seq((99L, doc(n))).toDF("doc_id", "text"),
          window = 8, stride = 5)
        .as[(Long, Long, Long, String)].collect().sortBy(_._2)
      val covered = chunks.flatMap(_._4.split(" ")).toSet
      assert(covered === (1 to n).map(i => s"t$i").toSet, s"n=$n coverage")
      chunks.sliding(2).foreach {
        case Array(a, b) =>
          val overlap = a._4.split(" ").toSet intersect b._4.split(" ").toSet
          assert(overlap.size == math.min(8 - 5, a._4.split(" ").length),
            s"n=$n overlap between chunk ${a._2} and ${b._2}")
        case _ => ()
      }
    }
  }

  test("hashedLinearScore: integer, deterministic, zero on empty docs") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta alpha"),
      (2L, "ALPHA  beta\talpha"),  // normalizes to the same tokens
      (3L, ""),
      (4L, "gamma")
    ).toDF("doc_id", "text")
    val out = graft.ext.TextAnalysis.hashedLinearScore(df, dims = 64)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) === out(2L), "normalization must make scores identical")
    assert(out(3L)._1 === 0L && !out(3L)._2)
    assert(out(1L)._2 === (out(1L)._1 > 0))
    // multiplicity: doubling a token moves the score by its weight
    val single = graft.ext.TextAnalysis
      .hashedLinearScore(Seq((9L, "alpha")).toDF("doc_id", "text"), dims = 64)
      .as[(Long, Long, Boolean)].head()._2
    val double = graft.ext.TextAnalysis
      .hashedLinearScore(Seq((9L, "alpha alpha")).toDF("doc_id", "text"), dims = 64)
      .as[(Long, Long, Boolean)].head()._2
    assert(double === 2 * single)
    // shuffle-free plan: a pure projection, no exchange
    val plan = graft.ext.TextAnalysis.hashedLinearScore(df, dims = 64)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"scorer must not shuffle:\n$plan")
  }
}
