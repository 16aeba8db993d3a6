package graft

import graft.core.Meter
import graft.ext.TextAnalysis
import org.scalatest.funsuite.AnyFunSuite

/** bm25Rank's scalar scoring over the oracle-graded sufficient
  * statistics, pinned against a from-scratch single-machine BM25 —
  * same formula, independent code path (plain Scala over collected
  * text, no Spark expressions). */
class Bm25Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "fast key order fast fast"),          // tf-heavy for 'fast'
    (2L, "key order key order key order"),     // tf-heavy for the pair, longer
    (3L, "fast unrelated filler words here to stretch the document length out"),
    (4L, "key"),                               // short doc, single rare-ish hit
    (5L, "nothing relevant at all"),
    (6L, "fast key")                           // short doc, two hits
  )

  private def referenceBm25(query: String, k1: Double, b: Double): Map[Long, Double] = {
    val toks = docs.map { case (id, t) =>
      id -> t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq }
    val n = toks.size.toDouble
    val avgdl = toks.map(_._2.size).sum / n
    val q = query.split("\\s+").filter(_.nonEmpty).distinct
    toks.map { case (id, ws) =>
      val dl = ws.size.toDouble
      val score = q.map { t =>
        val tf = ws.count(_ == t).toDouble
        if (tf == 0) 0.0
        else {
          val df = toks.count(_._2.contains(t)).toDouble
          val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
          idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
        }
      }.sum
      id -> score
    }.filter(_._2 > 0).toMap
  }

  test("bm25Rank matches the from-scratch reference, order and score") {
    val df = docs.toDF("doc_id", "text")
    val got = TextAnalysis.bm25Rank(df, "fast key", k = 10)
      .as[(Long, Double)].collect()
    val want = referenceBm25("fast key", 1.2, 0.75)
    assert(got.map(_._1).toSeq ==
      want.toSeq.sortBy { case (id, s) => (-s, id) }.map(_._1),
      s"rank order diverges: got ${got.toSeq} want $want")
    got.foreach { case (id, s) =>
      assert(math.abs(s - want(id)) < 1e-9, s"score for doc $id: $s vs ${want(id)}")
    }
  }

  test("bm25Stats: tf counts occurrences, df counts docs, dl is the word length") {
    val df = docs.toDF("doc_id", "text")
    val stats = TextAnalysis.bm25Stats(df, "fast key")
      .as[(Long, String, Long, Long, Long)].collect()
      .map { case (id, tok, tf, dfq, dl) => (id, tok) -> ((tf, dfq, dl)) }.toMap
    assert(stats((1L, "fast")) == ((3L, 3L, 5L)))
    assert(stats((2L, "key")) == ((3L, 4L, 6L)))
    assert(stats((4L, "key")) == ((1L, 4L, 1L)))
    assert(!stats.contains((5L, "fast")) && !stats.contains((5L, "key")))
  }

  test("index-served statistics are value-identical to the corpus path") {
    val dir = SparkTestSession.tmp("bm25spec").toString + "/docs"
    docs.toDF("doc_id", "text").repartition(2).write.parquet(dir)
    graft.sinks.InvertedIndex.collect(spark, dir, "text", "doc_id")
    val fromCorpus = TextAnalysis.bm25Stats(spark.read.parquet(dir), "fast key")
      .as[(Long, String, Long, Long, Long)].collect().toSet
    // no sidecar yet → the fallback index fold must still be exact
    val fromIndex = graft.sinks.InvertedIndex
      .bm25StatsFromIndex(spark, dir, "fast key")
      .as[(Long, String, Long, Long, Long)].collect().toSet
    assert(fromIndex == fromCorpus)
    // sidecar built → the _doclen read must be value-identical too
    graft.sinks.InvertedIndex.buildRetrievalStats(spark, dir)
    val fromSidecar = graft.sinks.InvertedIndex
      .bm25StatsFromIndex(spark, dir, "fast key")
      .as[(Long, String, Long, Long, Long)].collect().toSet
    assert(fromSidecar == fromCorpus)
  }

  test("stats: the _doclen sidecar kills the per-query index-wide dl fold") {
    // many tokens per doc make the index an order larger than the doc
    // count: the sidecar path reads one dl row per doc (and usually
    // broadcasts the query-token tf rows), while the fallback folds
    // the WHOLE index id-keyed on every query. Shuffle READ records
    // are the deterministic witness, same protocol as the MaxScore
    // pin below.
    val n = 2000L
    val corpus = (0L until n).map { i =>
      (i, (0 until 12).map(j => s"w${i}_$j").mkString(" "))
    } ++ Seq((n + 1, "zzneedle first"), (n + 2, "zzneedle second"),
      (n + 3, "zzneedle third"))
    withIndexedCorpus(corpus) { path =>
      def shuffledRecords(f: => Unit): Long =
        Meter.during(spark)(f)._2.shuffleReadRecords
      val viaSidecar = shuffledRecords {
        graft.sinks.InvertedIndex
          .bm25StatsFromIndex(spark, path, "zzneedle").count()
      }
      // deleting the sidecar forces the documented fallback
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.rename(
        new org.apache.hadoop.fs.Path(graft.sinks.InvertedIndex.docLenPath(path)),
        new org.apache.hadoop.fs.Path(s"$path/_doclen.aside"))
      val viaFold = shuffledRecords {
        graft.sinks.InvertedIndex
          .bm25StatsFromIndex(spark, path, "zzneedle").count()
      }
      fs.rename(
        new org.apache.hadoop.fs.Path(s"$path/_doclen.aside"),
        new org.apache.hadoop.fs.Path(graft.sinks.InvertedIndex.docLenPath(path)))
      // the fold's shuffle floor is (#index partitions × #docs) even
      // with map-side combine; the sidecar path moves only the rare
      // token's tf rows (dl rides a broadcast-joined plain scan)
      assert(viaFold > n,
        s"fallback must fold the whole index id-keyed: $viaFold")
      assert(viaSidecar * 20 < viaFold,
        s"sidecar path must shuffle far below the index fold: " +
          s"$viaSidecar vs $viaFold")
    }
  }

  test("top-k truncates with the deterministic id tie-break") {
    val df = docs.toDF("doc_id", "text")
    val top2 = TextAnalysis.bm25Rank(df, "fast key", k = 2)
      .as[(Long, Double)].collect().map(_._1).toSeq
    val all = TextAnalysis.bm25Rank(df, "fast key", k = 10)
      .as[(Long, Double)].collect().map(_._1).toSeq
    assert(top2 == all.take(2))
  }

  // ── MaxScore-pruned top-k off the index ─────────────────────────

  private def withIndexedCorpus(rows: Seq[(Long, String)])(f: String => Unit): Unit = {
    val root = SparkTestSession.tmp("maxscore").toString
    val path = s"$root/corpus"
    rows.toDF("doc_id", "text").repartition(2).write.parquet(path)
    graft.sinks.InvertedIndex.collect(spark, path, "text", "doc_id")
    graft.sinks.InvertedIndex.buildRetrievalStats(spark, path)
    try f(path)
    finally new graft.core.LakeStorage(
      spark.sparkContext.hadoopConfiguration).truncate(root)
  }

  test("maxscore: pruned equals unpruned equals corpus bm25Rank") {
    withIndexedCorpus(docs) { path =>
      val pruned = graft.sinks.InvertedIndex
        .bm25TopKPruned(spark, path, "fast key", k = 4)
      val full = graft.sinks.InvertedIndex
        .bm25TopKPruned(spark, path, "fast key", k = 4, pruned = false)
      assert(pruned.boundVerified)
      val pIds = pruned.topK.as[(Long, Double)].collect()
      val fIds = full.topK.as[(Long, Double)].collect()
      assert(pIds.map(_._1).toSeq == fIds.map(_._1).toSeq)
      // every doc tokenizes non-empty, so index scalars == corpus
      // scalars and the from-scratch reference scores match exactly
      val want = referenceBm25("fast key", 1.2, 0.75)
      pIds.foreach { case (id, s) =>
        assert(math.abs(s - want(id)) < 1e-9, s"doc $id: $s vs ${want(id)}")
      }
    }
  }

  test("maxscore: skewed idf needs only the rare term as essential") {
    val common = (100L until 140L).map(i => (i, "the filler common words here"))
    val rare = Seq(
      (1L, "zebra the filler"), (2L, "zebra zebra the"), (3L, "zebra words"))
    withIndexedCorpus(common ++ rare) { path =>
      val r = graft.sinks.InvertedIndex
        .bm25TopKPruned(spark, path, "zebra the", k = 2)
      assert(r.boundVerified && r.nTerms == 2)
      assert(r.nEssential == 1,
        s"rare high-idf term should certify alone, needed ${r.nEssential}")
      val full = graft.sinks.InvertedIndex
        .bm25TopKPruned(spark, path, "zebra the", k = 2, pruned = false)
      assert(r.topK.as[(Long, Double)].collect().map(_._1).toSeq ==
        full.topK.as[(Long, Double)].collect().map(_._1).toSeq)
    }
  }

  test("maxscore: absent query tokens yield an empty, certified result") {
    withIndexedCorpus(docs) { path =>
      val r = graft.sinks.InvertedIndex
        .bm25TopKPruned(spark, path, "qqqq zzzz", k = 3)
      assert(r.boundVerified && r.nTerms == 0 && r.topK.count() == 0)
    }
  }

  test("maxscore: pruning shrinks shuffled score rows by orders of magnitude") {
    // the regime MaxScore exists for: a stop-word-like token in EVERY
    // document, the discriminative token in three. Unpruned scoring
    // must move every matched document through the score aggregate;
    // pruned moves the three candidates. Wall-clock at spec scale is
    // scheduler noise — shuffle RECORDS are the deterministic witness.
    val n = 5000L
    val corpus = (0L until n).map(i => (i, s"w$i zzcommon filler text")) ++
      Seq((n + 1, "zzzrare zzcommon first hit"),
        (n + 2, "zzzrare zzcommon second hit"),
        (n + 3, "zzzrare zzcommon third hit"))
    withIndexedCorpus(corpus) { path =>
      def shuffledRecords(f: => Unit): Long =
        Meter.during(spark)(f)._2.shuffleReadRecords
      val full = shuffledRecords {
        graft.sinks.InvertedIndex
          .bm25TopKPruned(spark, path, "zzzrare zzcommon", k = 2,
            pruned = false).topK.count()
      }
      val pruned = shuffledRecords {
        val r = graft.sinks.InvertedIndex
          .bm25TopKPruned(spark, path, "zzzrare zzcommon", k = 2)
        assert(r.nEssential == 1 && r.boundVerified)
        r.topK.count()
      }
      assert(full > n,
        s"unpruned must move every matched doc through the aggregate: $full")
      assert(pruned * 10 < full,
        s"pruned shuffle should be orders below unpruned: $pruned vs $full")
    }
  }

  test("maxscore: stats refresh is file-set arithmetic, equal to rebuild") {
    withIndexedCorpus(docs) { path =>
      def snap(): (Set[(String, Long, Long, Long)], Set[(Long, Long)]) = (
        spark.read.parquet(graft.sinks.InvertedIndex.termStatsPath(path))
          .groupBy("token").agg(
            org.apache.spark.sql.functions.sum("df").cast("long").as("df"),
            org.apache.spark.sql.functions.max("max_tf").as("m"),
            org.apache.spark.sql.functions.min("min_dl").as("d"))
          .as[(String, Long, Long, Long)].collect().toSet,
        spark.read.parquet(graft.sinks.InvertedIndex.docLenPath(path))
          .groupBy("id").agg(
            org.apache.spark.sql.functions.sum("dl").cast("long").as("dl"))
          .as[(Long, Long)].collect().toSet)

      // append a new file → index refresh → INCREMENTAL stats refresh
      Seq((100L, "fresh zebra content"), (101L, "more fresh key text"))
        .toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(path)
      graft.sinks.InvertedIndex.refresh(spark, path, "text", "doc_id")
      graft.sinks.InvertedIndex.refreshRetrievalStats(spark, path)
      val incremental = snap()
      graft.sinks.InvertedIndex.buildRetrievalStats(spark, path)
      assert(incremental == snap(),
        "append-refresh must equal the from-scratch rebuild")

      // purge a doc (file rewrite = vanished + fresh) → both
      // refreshers re-sync → equality again, and search forgets it
      graft.sinks.Purge.purge(spark, path, Seq(1L).toDF("id"),
        "id", "doc_id")
      graft.sinks.InvertedIndex.refresh(spark, path, "text", "doc_id")
      graft.sinks.InvertedIndex.refreshRetrievalStats(spark, path)
      val postPurge = snap()
      graft.sinks.InvertedIndex.buildRetrievalStats(spark, path)
      assert(postPurge == snap(),
        "purge-refresh must equal the from-scratch rebuild")
      val top = graft.sinks.InvertedIndex
        .bm25TopKPruned(spark, path, "fast key", k = 10)
        .topK.as[(Long, Double)].collect().map(_._1)
      assert(!top.contains(1L), "purged doc must be unrankable")
      assert(top.nonEmpty)
    }
  }

  test("refresh alone keeps the _doclen sidecar fresh — no caller discipline") {
    // ADVICE r10: bm25StatsFromIndex prefers the sidecar whenever the
    // file exists, but refresh() used to update only the index —
    // documents appended after buildRetrievalStats silently vanished
    // from BM25 (dl inner-joins on id) unless the caller remembered
    // refreshRetrievalStats. refresh() now couples the two.
    withIndexedCorpus(docs) { path =>
      Seq((200L, "fast key appended later"), (201L, "key only here"))
        .toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(path)
      // refresh WITHOUT an explicit refreshRetrievalStats call
      graft.sinks.InvertedIndex.refresh(spark, path, "text", "doc_id")
      val fromIndex = graft.sinks.InvertedIndex
        .bm25StatsFromIndex(spark, path, "fast key")
        .as[(Long, String, Long, Long, Long)].collect().toSet
      val truth = TextAnalysis.bm25Stats(spark.read.parquet(path), "fast key")
        .as[(Long, String, Long, Long, Long)].collect().toSet
      assert(fromIndex == truth,
        "refreshed-in docs must be visible through the sidecar path")
      assert(fromIndex.exists(_._1 == 200L) && fromIndex.exists(_._1 == 201L))
    }
  }

  test("maxscore: termstats sidecar carries exact df/max_tf/min_dl") {
    withIndexedCorpus(docs) { path =>
      val ts = spark.read
        .parquet(graft.sinks.InvertedIndex.termStatsPath(path))
        .groupBy("token").agg(
          org.apache.spark.sql.functions.sum("df").cast("long").as("df"),
          org.apache.spark.sql.functions.max("max_tf").as("max_tf"),
          org.apache.spark.sql.functions.min("min_dl").as("min_dl"))
        .as[(String, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      // 'fast': docs 1 (tf 3, dl 5), 3 (tf 1, dl 11), 6 (tf 1, dl 2)
      assert(ts("fast") == ((3L, 3L, 2L)))
      // 'key': docs 1 (tf 1), 2 (tf 3), 4 (tf 1, dl 1), 6 (tf 1)
      assert(ts("key") == ((4L, 3L, 1L)))
    }
  }
}
