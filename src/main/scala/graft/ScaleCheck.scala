package graft

import graft.core.Clock
import graft.ext._
import graft.operators.Promote
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev harness: empirical scaling check. Self-unions the sf0.1
  * fixtures `k`× (with disjoint id spaces) and times representative
  * operators at 1× and k×, reporting the wall-clock ratio — the
  * README's "no super-linear shuffle terms" evidence.
  *
  * Near-dup operators over replicated corpora inflate their TRUE pair
  * sets quadratically in k (every document gains k−1 planted twins),
  * so their ratios bound worst-case behavior, not typical growth.
  *
  * `runMain graft.ScaleCheck [k] [sfDir] [cpus] [op1,op2,...]`
  * (the optional 4th arg restricts to named operators, so a deep —
  * e.g. 30× — run can target just the scale-marketed paths without
  * paying for the whole suite at that multiple)
  */
/** Local filesystem under a `cfs://` scheme that counts metadata RPCs
  * (getFileStatus / listStatus — what exists() and directory walks
  * cost on a namenode or object store) PER THREAD — the refs_probe
  * witness mounts the corpus on it and reads the PROBE THREAD's count,
  * so the "no serial driver-side metadata round trips during topKRefs"
  * claim is measured, not asserted from code reading. (Parallel /
  * distributed listing by Spark's own explicit-path machinery lands on
  * pool or executor threads and is the engineered alternative to the
  * serial driver stall; the per-thread split is what separates the
  * two.) A listing counts once: `RawLocalFileSystem.listStatus`
  * stats each child through `getFileStatus`, which it does not count. */
class CountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "cfs"
  override def getUri: java.net.URI = java.net.URI.create("cfs:///")
  override def getFileStatus(
      f: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileStatus = {
    if (!CountingFs.listing.get) CountingFs.record(); super.getFileStatus(f)
  }
  override def listStatus(
      f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    CountingFs.record(); CountingFs.listing.set(true)
    try super.listStatus(f) finally CountingFs.listing.set(false)
  }
}

object CountingFs {
  private val listing = ThreadLocal.withInitial[Boolean](() => false)
  private val perThread = new java.util.concurrent.ConcurrentHashMap[
    Long, java.util.concurrent.atomic.AtomicLong]()
  private[graft] def record(): Unit =
    perThread.computeIfAbsent(Thread.currentThread().getId,
      _ => new java.util.concurrent.atomic.AtomicLong).incrementAndGet()
  private[graft] def of(tid: Long): Long = {
    val v = perThread.get(tid)
    if (v == null) 0L else v.get()
  }
}

object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val k = if (args.length > 0) args(0).toInt else 10
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = if (args.length > 2) args(2).toInt else 32
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").map(_.trim).toSet) else None
    val spark = graft.core.Sessions.local(cpus)
    spark.range(1000000L).selectExpr("sum(id)").collect()

    def grow(df: DataFrame, idCol: String): DataFrame =
      (0 until k).map(i =>
        df.withColumn(idCol, col(idCol) + lit(i * 100000000L)))
        .reduce(_ unionByName _)

    val lineitem = graft.queries.Fixtures.tbl(spark, sfDir, "lineitem")
    val docs = graft.queries.Fixtures.tbl(spark, sfDir, "documents")
    val embs = graft.queries.Fixtures.tbl(spark, sfDir, "embeddings")
    val events = graft.queries.Fixtures.tbl(spark, sfDir, "events")
    val orders = graft.queries.Fixtures.tbl(spark, sfDir, "orders")
    val customer = graft.queries.Fixtures.tbl(spark, sfDir, "customer")
    // synthetic node set for the clustering-fallback case: ids in
    // decade blocks so `% 10` chain edges survive grow()'s 1e8 offsets
    val chainNodes = spark.range(300000L).toDF("doc_id")

    def timed(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }

    // trained once OUTSIDE the timed windows (the deployment
    // posture: frozen tokenizer, growing corpus) — and only when the
    // bpe_encode case is actually selected
    val bpeMerges: Seq[(String, String)] =
      if (only.forall(_.contains("bpe_encode"))) Bpe.learn(docs, numMerges = 32)
      else Nil

    val cases: Seq[(String, DataFrame => Long, DataFrame, String)] = Seq(
      ("promote_t1_t5", (df: DataFrame) =>
        Promote.transform(df, Seq("l_orderkey", "l_linenumber"), hyphen = true,
          clock = Clock.ForOracle, deterministic = true).count(),
        lineitem, "l_orderkey"),
      ("minhash_neardup", (df: DataFrame) =>
        MinHashLSH.nearDupPairs(df, jaccard = (1, 3)).count(),
        docs, "doc_id"),
      ("embedding_lsh", (df: DataFrame) =>
        SimilaritySearch.lshNearDupPairs(df, threshold = 0.9,
          planes = 12, tables = 2).count(),
        embs, "vec_id"),
      // fixed query set, growing corpus; candidateK held at 256 so the
      // ADC cut (not the exact re-rank) is what scales
      ("ann_pq", (df: DataFrame) =>
        PqSearch.topK(df.where(col("vec_id") < 5),
          PqSearch.buildIndex(df, m = 8, ks = 16), k = 10,
          candidateK = 256).count(),
        embs, "vec_id"),
      // fixed query set, growing corpus; nProbe fixed at 4 of 16
      // cells so the probed re-rank (not an exhaustive scan) is what
      // scales — the linear terms are assignment + the sampled index
      // build, the probe side shrinks relatively as the corpus grows
      ("ann_ivf", (df: DataFrame) =>
        IvfSearch.topK(df.where(col("vec_id") < 5),
          IvfSearch.buildIndex(df, nCells = 16), k = 10,
          nProbe = 4).count(),
        embs, "vec_id"),
      // fixed query set, growing corpus; directed probes at a fixed
      // quarter of the buckets — one codegen signature per corpus
      // vector is the linear term, mask ranking stays on the tiny
      // broadcast query side
      ("ann_lsh_directed", (df: DataFrame) =>
        SimilaritySearch.lshTopKDirected(df.where(col("vec_id") < 5),
          df, k = 10, planes = 6, nProbe = 16).count(),
        embs, "vec_id"),
      // eval set fixed (a benchmark doesn't grow with the corpus);
      // corpus grows k× — the scan+shingle term is the scale path
      ("decontaminate", (df: DataFrame) =>
        Decontaminate.contamination(df,
          docs.where(col("doc_id") % 97 === 0)).count(),
        docs, "doc_id"),
      // incremental near-dup: the daily batch is FIXED while the
      // already-deduped corpus grows k× — the corpus term is one
      // signature scan + broadcast-probe (no corpus shuffle, no
      // corpus self-pairs); emitted pairs grow k× by construction
      // (every replica twins each delta doc)
      ("minhash_delta", (df: DataFrame) =>
        MinHashLSH.nearDupPairsAgainst(
          docs.where(col("doc_id") % 97 === 0)
            .withColumn("doc_id", col("doc_id") + lit(2000000000L)),
          df, jaccard = (1, 3)).count(),
        docs, "doc_id"),
      // embedding form of the incremental shape: delta fixed, corpus
      // grows k× — the corpus term is one codegen signature scan +
      // broadcast bucket-probe; corpus vectors surface only behind
      // the candidate-id semi-join
      ("embedding_delta", (df: DataFrame) =>
        SimilaritySearch.lshNearDupPairsAgainst(
          embs.where(col("vec_id") % 97 === 0)
            .withColumn("vec_id", col("vec_id") + lit(2000000000L)),
          df, threshold = 0.9, planes = 12, tables = 2).count(),
        embs, "vec_id"),
      // perceptual-hash image dedup: synthetic payloads regrow with
      // the corpus (grow()'s id offsets land every replica in fresh
      // groups), hashing is a shuffle-free byte loop, and the
      // pigeonhole block join shuffles 4 fixed-width rows per image —
      // corpus-linear; true pairs grow ~k (within-group only)
      ("image_dedup", (df: DataFrame) => {
        val pix = transform(sequence(lit(0), lit(59)), i => {
          val base = (floor(col("doc_id") / 16) + 1) * (i + 7) * 13
          val v = when(
            col("doc_id") % 16 =!= 0 && i.cast("long") === col("doc_id") % 60,
            (base + 128) % 256).otherwise(base % 256)
          lpad(hex(v.cast("long")), 2, "0")
        })
        val media = df.select(col("doc_id"), unhex(array_join(pix, "")).as("media"))
        val hashes = ImageDedup.aHashes(spark, media, bits = 60).toDF()
        ImageDedup.nearDupPairs(hashes, maxHamming = 3, bits = 60).count()
      }, docs, "doc_id"),
      // energy-fingerprint audio dedup: real WAV containers regrow
      // with the corpus; hashing is a shuffle-free byte loop over
      // the raw bytes, pairing the same 4-rows-per-recording
      // pigeonhole join as images — corpus-linear; replicas plant
      // real twins so the TRUE pair set inflates super-linearly and
      // the ratio bounds worst-case, output-bound behavior
      ("audio_dedup", (df: DataFrame) => {
        import spark.implicits._
        val media = df.select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            val fam = id / 16 + 1
            val samples = Array.tabulate[Short](240) { j =>
              val p = if (id % 16 != 0 && j / 4 == id % 60) 1024L else 0L
              ((fam * (j * 7 + 11) + p) % 4096 - 2048).toShort
            }
            Multimodal.MediaRow(id, Multimodal.buildPcm16Wav(samples))
          }).toDF()
        val hashes = AudioDedup.energyHashes(spark, media,
          window = 4, bits = 60).toDF()
        AudioDedup.nearDupPairs(hashes, maxHamming = 3, bits = 60).count()
      }, docs, "doc_id"),
      ("top_terms", (df: DataFrame) =>
        TextAnalysis.topTerms(df, k = 5).count(),
        docs, "doc_id"),
      ("repetition_stats", (df: DataFrame) =>
        TextAnalysis.repetitionStats(df).count(),
        docs, "doc_id"),
      ("pack_sequences", (df: DataFrame) =>
        Sampling.packSequences(
          df.withColumn("n_tokens",
            graft.functions.TextFunctions.wordCount(col("text"))),
          capacity = 2048, shards = 64).count(),
        docs, "doc_id"),
      // frozen-tokenizer deployment: the merge table is trained ONCE
      // on the base corpus (bpeMerges, outside the timed window), the
      // corpus grows k× — encodeRank is one codegen'd projection
      // node, so the only scale term is the row scan itself (the
      // per-thread word memo keeps repeated words at hash-probe cost)
      ("bpe_encode", (df: DataFrame) =>
        Bpe.encodeRank(df, bpeMerges)
          .selectExpr("count(*)", "sum(size(bpe_tokens))")
          .head().getLong(0),
        docs, "doc_id"),
      // key space fixed (150 users) while rows-per-key grow k× — the
      // worst case for the per-key window sort, so the ratio bounds
      // hot-key behavior; the right side collapses under the
      // (user, ts) pre-reduce (replicas share timestamps)
      ("asof_join", (df: DataFrame) => {
        val p = df.where(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts", "value")
        val c = df.where(col("event_type") === "click")
          .groupBy("user_id", "ts")
          .agg(max_by(col("value"), col("event_id")).as("click_value"))
          .withColumnRenamed("ts", "click_ts")
        Temporal.asOfJoin(p, c, Seq("user_id"), "ts", "click_ts").count()
      }, events, "event_id"),
      // the SAME workload through the native Catalyst operator
      // (AsOfJoinExec): directly comparable to asof_join above —
      // identical input shapes, identical truth, different physical
      // plan (co-partitioned O(1)-state merge vs union-and-carry
      // window)
      ("asof_native", (df: DataFrame) => {
        val p = df.where(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts", "value")
        val c = df.where(col("event_type") === "click")
          .groupBy("user_id", "ts")
          .agg(max_by(col("value"), col("event_id")).as("click_value"))
          .withColumnRenamed("ts", "click_ts")
        graft.plans.NativeAsOf.join(p, c, Seq("user_id"), "ts", "click_ts").count()
      }, events, "event_id"),
      // audit intervals fixed, point stream grows k× — the honest
      // scaling dimension (growing BOTH sides k× inflates true pairs
      // k², which is output growth, not plan growth)
      ("range_join", (df: DataFrame) => {
        val iv = orders.where(col("o_orderkey") % 8 === 0)
          .select(col("o_orderkey"), col("o_orderdate"),
            (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("o_end"))
        Temporal.rangeJoinBinned(iv, df.select("l_orderkey", "l_shipdate"),
          "o_orderdate", "o_end", "l_shipdate", binSeconds = 7L * 86400)
          .groupBy("o_orderkey").count().count()
      }, lineitem, "l_orderkey"),
      // ONE key holds the whole stream (the skew worst case): the
      // epoch-split variant parallelizes it across (key, epoch)
      // partitions where the plain window serializes — compare
      // against asof_join_hot below
      ("asof_epochs_hot", (df: DataFrame) => {
        val one = df.withColumn("user_id", lit(7L))
        val p = one.where(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts", "value")
        val c = one.where(col("event_type") === "click")
          .groupBy("user_id", "ts")
          .agg(max_by(col("value"), col("event_id")).as("click_value"))
          .withColumnRenamed("ts", "click_ts")
        Temporal.asOfJoinEpochs(p, c, Seq("user_id"), "ts", "click_ts",
          epochSeconds = 3600).count()
      }, events, "event_id"),
      ("asof_join_hot", (df: DataFrame) => {
        val one = df.withColumn("user_id", lit(7L))
        val p = one.where(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts", "value")
        val c = one.where(col("event_type") === "click")
          .groupBy("user_id", "ts")
          .agg(max_by(col("value"), col("event_id")).as("click_value"))
          .withColumnRenamed("ts", "click_ts")
        Temporal.asOfJoin(p, c, Seq("user_id"), "ts", "click_ts").count()
      }, events, "event_id"),
      // audit intervals fixed, b-side interval stream grows k×
      ("interval_join", (df: DataFrame) => {
        val a = orders.where(col("o_orderkey") % 8 === 0)
          .select(col("o_orderkey"), col("o_orderdate").as("s"),
            (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("e"))
        val b = df.select(col("l_orderkey"), col("l_shipdate").as("s2"),
          (col("l_shipdate") + expr("INTERVAL 3 DAYS")).as("e2"))
        Temporal.intervalOverlapJoin(a, b, "s", "e", "s2", "e2",
          binSeconds = 7L * 86400)
          .groupBy("o_orderkey").count().count()
      }, lineitem, "l_orderkey"),
      ("sessionize", (df: DataFrame) =>
        Temporal.sessionize(df, "user_id", "ts", "event_id",
          gapSeconds = 7200)
          .groupBy("user_id", "session_id").count().count(),
        events, "event_id"),
      // uniform-key growth of the epoch escape hatches (their
      // absolute overhead vs the plain forms is in BENCH_BASELINE;
      // this pins that the DECOMPOSITION itself scales linearly)
      ("sessionize_epochs", (df: DataFrame) =>
        Temporal.sessionizeEpochs(df, "user_id", "ts", "event_id",
          gapSeconds = 7200, epochSeconds = 3600)
          .groupBy("user_id", "session_id").count().count(),
        events, "event_id"),
      ("scd2_epochs", (df: DataFrame) =>
        graft.operators.Scd2.historizeEpochs(
          df.select("user_id", "event_id", "ts", "event_type"),
          "user_id", "ts", "event_id", Seq("event_type"),
          epochSeconds = 86400).count(),
        events, "event_id"),
      ("rolling_epochs", (df: DataFrame) =>
        Temporal.rollingEpochs(df, "user_id", "ts", "event_id",
          lookback = 6, epochSeconds = 86400)(w =>
          Seq(avg(col("value")).over(w).as("avg7")))
          .agg(count(lit(1))).collect().head.getLong(0),
        events, "event_id"),
      // ONE key holds the whole stream: the plain per-key window
      // serializes; the epoch split parallelizes across (key, epoch)
      ("sessionize_hot", (df: DataFrame) =>
        Temporal.sessionize(df.withColumn("user_id", lit(7L)),
          "user_id", "ts", "event_id", gapSeconds = 7200)
          .groupBy("user_id", "session_id").count().count(),
        events, "event_id"),
      ("sessionize_epochs_hot", (df: DataFrame) =>
        Temporal.sessionizeEpochs(df.withColumn("user_id", lit(7L)),
          "user_id", "ts", "event_id", gapSeconds = 7200,
          epochSeconds = 3600)
          .groupBy("user_id", "session_id").count().count(),
        events, "event_id"),
      ("scd2_hot", (df: DataFrame) =>
        graft.operators.Scd2.historize(
          df.withColumn("user_id", lit(7L))
            .select("user_id", "event_id", "ts", "event_type"),
          "user_id", "ts", "event_id", Seq("event_type")).count(),
        events, "event_id"),
      ("scd2_epochs_hot", (df: DataFrame) =>
        graft.operators.Scd2.historizeEpochs(
          df.withColumn("user_id", lit(7L))
            .select("user_id", "event_id", "ts", "event_type"),
          "user_id", "ts", "event_id", Seq("event_type"),
          epochSeconds = 3600).count(),
        events, "event_id"),
      // cap_rolling's shape — bounded ROWS frame per key — under the
      // same one-key stress, plain vs last-W-context epoch split
      ("rolling_hot", (df: DataFrame) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
          .rowsBetween(-6, 0)
        df.withColumn("user_id", lit(7L))
          .withColumn("avg7", avg(col("value")).over(w))
          .agg(count(lit(1))).collect().head.getLong(0)
      }, events, "event_id"),
      ("rolling_epochs_hot", (df: DataFrame) =>
        Temporal.rollingEpochs(df.withColumn("user_id", lit(7L)),
          "user_id", "ts", "event_id", lookback = 6,
          epochSeconds = 3600)(w => Seq(avg(col("value")).over(w).as("avg7")))
          .agg(count(lit(1))).collect().head.getLong(0),
        events, "event_id"),
      // distinct count fixed while rows grow k× — the sketch's state
      // stays ≤ k longs per group, so this should be ~scan-linear
      ("kmv_distinct", (df: DataFrame) =>
        df.groupBy("event_type")
          .agg(graft.functions.KmvSketch
            .approxCountDistinct(col("user_id"), k = 1024).as("d"))
          .count(),
        events, "event_id"),
      // the distributed clustering FALLBACK (label propagation) on its
      // worst topology: chains at the convergence bound (length 10 →
      // diameter 9 → exactly maxIterations rounds incl. the no-change
      // confirmation). This is the path keepOnePerCluster takes when
      // the pair list exceeds LocalPairLimit (2M) — at 10× the edge
      // list is 2.7M, past the cap — so its growth is measured on
      // exactly the volumes that force it. Rounds are fixed by
      // diameter, each round is a linear join, so growth should be
      // ~linear; rounds print on stderr ([clusters] line).
      ("cluster_chain", (df: DataFrame) => {
        val pairs = df.where(col("doc_id") % 10 =!= 9)
          .select(col("doc_id").as("doc_a"), (col("doc_id") + 1).as("doc_b"))
        val labels = DedupClusters.clusters(df, pairs, "doc_id")
        val n = labels.agg(countDistinct(col("cluster_id"))).head().getLong(0)
        labels.unpersist()
        n
      }, chainNodes, "doc_id"),
      // the SAME chain workload through the alternating-star
      // contraction — keepOnePerCluster's new above-cap path: rounds
      // are O(log² n) instead of diameter-bound, so this also holds
      // where the chain outgrows clusters()' maxIterations entirely
      ("cluster_chain_star", (df: DataFrame) => {
        val pairs = df.where(col("doc_id") % 10 =!= 9)
          .select(col("doc_id").as("doc_a"), (col("doc_id") + 1).as("doc_b"))
        DedupClusters.clustersAlternating(df, pairs, "doc_id")
          .agg(countDistinct(col("cluster_id"))).head().getLong(0)
      }, chainNodes, "doc_id"),
      // inverted-index lifecycle (land → positional collect → index-
      // only phrase search) at 10× the corpus: build is one scan +
      // one token-range exchange of index-sized postings, search is
      // the two query tokens' posting lists joined id-keyed — both
      // corpus-linear, no quadratic term anywhere
      ("inverted_index", (df: DataFrame) => {
        val root = java.nio.file.Files
          .createTempDirectory("graft-scale-inv").toString
        val corpus = s"$root/corpus"
        df.select("doc_id", "text").repartition(8).write.parquet(corpus)
        graft.sinks.InvertedIndex.collect(spark, corpus, "text", "doc_id")
        val n = graft.sinks.InvertedIndex
          .phraseSearchIndexOnly(spark, corpus, "table scan").count()
        new graft.core.LakeStorage(spark.sparkContext.hadoopConfiguration)
          .truncate(root)
        n
      }, docs, "doc_id"),
      // BM25 sufficient statistics at 10× the corpus: dl map-side,
      // one (id, token) tf shuffle, df window over the tf table —
      // token-linear
      ("bm25_stats", (df: DataFrame) =>
        graft.ext.TextAnalysis.bm25Stats(df, "fast key order").count(),
        docs, "doc_id"),
      // z-order rewrite cost: one range exchange on the interleaved
      // curve value plus a per-partition sort plus the write — the
      // one-time layout cost the skipping amortizes. Stats pass is a
      // 1-row aggregate; growth should be ~scan-linear (sort depth
      // adds the log term). Written out because a bare count() would
      // let RemoveRedundantSorts delete the thing being measured.
      ("zorder_rewrite", (df: DataFrame) => {
        val root = java.nio.file.Files
          .createTempDirectory("graft-zscale").toString
        graft.sinks.ZOrder.cluster(
          df.select("l_orderkey", "l_partkey", "l_shipdate", "l_quantity"),
          Seq("l_shipdate", "l_orderkey"), numFiles = 32)
          .write.parquet(s"$root/z")
        val n = spark.read.parquet(s"$root/z").count()
        new graft.core.LakeStorage(spark.sparkContext.hadoopConfiguration)
          .truncate(root)
        n
      }, lineitem, "l_orderkey"),
      // CDC snapshot diff: both snapshots grow k×, churn is a fixed
      // fraction of the keys, so the feed's output grows k× too —
      // the full-outer SMJ's two sorts add the log term, everything
      // else (filters, image selection) is scan-linear.
      ("cdc_feed", (df: DataFrame) => {
        val o = df.select("o_orderkey", "o_custkey", "o_totalprice")
        val before = o.where(col("o_orderkey") % 7 =!= 0)
        val after = o.where(col("o_orderkey") % 5 =!= 0)
          .withColumn("o_totalprice",
            when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 100.0)
              .otherwise(col("o_totalprice")))
        graft.operators.Cdc.changeFeed(before, after, Seq("o_orderkey"))
          .count()
      }, orders, "o_orderkey"),
      // IVM maintenance: state bootstrapped once from the UNGROWN
      // orders (the operational precondition — state already exists),
      // churn grows k×. The measured object is maintainAgg itself:
      // delta projection + union + ONE exchange — the base table
      // appears nowhere in its inputs, so cost is O(state + churn) by
      // construction and the ratio here isolates the churn-linear
      // term (the fixed state bootstrap is identical in both runs,
      // making the observed ratio a k-sublinear upper bound on it).
      ("ivm_maintain", (df: DataFrame) => {
        def shaped(o: DataFrame) = o.select(
          col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("decimal(12,2)").as("v"))
        val state = graft.operators.Cdc.aggState(
          shaped(orders), Seq("o_orderstatus"), Seq("v"))
        val delta = shaped(df).where(col("o_orderkey") % 11 === 0)
          .withColumn("__sign", lit(1))
        graft.operators.Cdc.maintainAgg(
          state, delta, Seq("o_orderstatus"), Seq("v")).count()
      }, orders, "o_orderkey"),
      // Join-view IVM end-to-end at k×: the fact side (orders) and
      // its churn both grow k×, the dimension (customer) is fixed —
      // the view fans out k× per customer. The delta terms keep the
      // churn on the broadcastable side, so growth should track the
      // snapshot scans + churn-sized joins, not a k×-view reshuffle.
      ("ivm_join", (df: DataFrame) => {
        val cdc = graft.operators.Cdc
        val aOld = df.select(
          col("o_orderkey"), col("o_custkey").as("custkey"),
          col("o_totalprice").cast("decimal(12,2)").as("price"))
        val aNew = aOld.where(col("o_orderkey") % 5 =!= 0)
          .withColumn("price",
            when(col("o_orderkey") % 3 === 0, col("price") + 100)
              .otherwise(col("price")).cast("decimal(12,2)"))
        val bOld = customer.select(
          col("c_custkey").as("custkey"), col("c_mktsegment"))
        val bNew = bOld.where(col("custkey") % 9 =!= 0)
          .withColumn("c_mktsegment",
            when(col("custkey") % 4 === 0, lit("SEG"))
              .otherwise(col("c_mktsegment")))
        cdc.maintainAgg(
          cdc.aggState(aOld.join(bOld, Seq("custkey"), "inner"),
            Seq("c_mktsegment"), Seq("price")),
          cdc.joinDelta(
            cdc.signedDelta(aOld, aNew, Seq("o_orderkey")), aOld,
            cdc.signedDelta(bOld, bNew, Seq("custkey")), bOld,
            Seq("custkey")),
          Seq("c_mktsegment"), Seq("price")).count()
      }, orders, "o_orderkey"),
      // LEFT-outer-join-view IVM at k×: ivm_join's shape plus the
      // anti-extension machinery — unmatched facts (dim drops
      // custkey % 7 = 0) live in the view as null-extensions, and the
      // two-sided churn crosses zero in both directions. The extra
      // term costs one aggregate over ΔB's keys and two
      // BROADCAST-key probes of the old snapshots, so growth should
      // stay snapshot-scan-linear with churn-sized shuffles — never
      // a k×-view reshuffle, and B_new is never materialized.
      ("ivm_leftjoin", (df: DataFrame) => {
        val cdc = graft.operators.Cdc
        val aOld = df.select(
          col("o_orderkey"), col("o_custkey").as("custkey"),
          col("o_totalprice").cast("decimal(12,2)").as("price"))
        val aNew = aOld.where(col("o_orderkey") % 5 =!= 0)
          .withColumn("price",
            when(col("o_orderkey") % 3 === 0, col("price") + 100)
              .otherwise(col("price")).cast("decimal(12,2)"))
        val cust = customer.select(
          col("c_custkey").as("custkey"), col("c_mktsegment"))
        val bOld = cust.where(col("custkey") % 7 =!= 0)
        val bNew = cust.where(col("custkey") % 9 =!= 0)
          .withColumn("c_mktsegment",
            when(col("custkey") % 4 === 0, lit("SEG"))
              .otherwise(col("c_mktsegment")))
        cdc.maintainAgg(
          cdc.aggState(aOld.join(bOld, Seq("custkey"), "left"),
            Seq("c_mktsegment"), Seq("price")),
          cdc.leftJoinDelta(
            cdc.signedDelta(aOld, aNew, Seq("o_orderkey")), aOld,
            cdc.signedDelta(bOld, bNew, Seq("custkey")), bOld,
            Seq("custkey")),
          Seq("c_mktsegment"), Seq("price")).count()
      }, orders, "o_orderkey"),
      // Extrema IVM fold path — the common append-heavy batch: state
      // bootstrapped once from the UNGROWN orders, insert-only churn
      // grows k×. Insertions fold with pure delta arithmetic, the
      // endangered-key set is EMPTY, and AQE's empty-relation
      // propagation collapses the recompute semi-join — so the base
      // snapshot is never scanned and cost is O(state + churn), the
      // same isolation argument as ivm_maintain above.
      ("ivm_minmax", (df: DataFrame) => {
        def shaped(o: DataFrame) = o.select(
          col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("decimal(12,2)").as("v"))
        val state = graft.operators.Cdc.extremaState(
          shaped(orders), Seq("o_orderstatus"), Seq("v"))
        val delta = shaped(df).where(col("o_orderkey") % 11 === 0)
          .withColumn("__sign", lit(1))
        graft.operators.Cdc.maintainExtrema(
          state, delta, shaped(orders),
          Seq("o_orderstatus"), Seq("v")).count()
      }, orders, "o_orderkey"),
      // Grouping-sets lattice maintenance: state bootstrapped once
      // from the UNGROWN orders, churn grows k× and fans out through
      // |sets| = 3 expansion branches into ONE maintainAgg exchange —
      // cost O(state + |sets|·churn), base never rescanned for any
      // level.
      ("ivm_cube", (df: DataFrame) => {
        val cdc = graft.operators.Cdc
        val sets = Seq(Seq("o_orderstatus", "o_orderpriority"),
          Seq("o_orderstatus"), Seq.empty[String])
        def shaped(o: DataFrame) = o.select(
          col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
          col("o_totalprice").cast("decimal(12,2)").as("v"))
        val state = cdc.cubeState(
          shaped(orders), Seq("o_orderstatus", "o_orderpriority"),
          sets, Seq("v"))
        val delta = shaped(df).where(col("o_orderkey") % 11 === 0)
          .withColumn("__sign", lit(1))
        cdc.maintainCube(state, delta,
          Seq("o_orderstatus", "o_orderpriority"), sets, Seq("v")).count()
      }, orders, "o_orderkey"),
      // Bloom-prefiltered join: dim fixed (20%-selective orders cut),
      // fact grows k×. The probe is a codegen'd scalar on the fact
      // scan, so growth tracks the scan plus the REDUCED join — the
      // shuffle carries ~selectivity × fact instead of all of it.
      ("bloom_join", (df: DataFrame) => {
        val dim = orders.where(col("o_totalprice") > 400000)
          .select(col("o_orderkey").as("dk"), col("o_orderstatus"))
        graft.operators.BloomJoin.join(
          df.select("l_orderkey", "l_quantity"), "l_orderkey",
          dim, "dk", expectedItems = 30000, fpp = 0.01).count()
      }, lineitem, "l_orderkey"),
      // HOT BIN worst case for the bin-bucketed joins: binSeconds far
      // wider than the data's span puts every interval and point in
      // ONE bin, so the bin equi-join degenerates to a single shuffle
      // partition — the case AQE's skew split must parallelize.
      // Broadcast is disabled to model the both-sides-large regime (a
      // broadcastable side makes bin skew irrelevant — the planner's
      // first defense), and the skew thresholds are dropped to engage
      // the split at harness volumes (production defaults are 256MB).
      // Fixed audit intervals, points grow k×: the hot partition
      // grows k× and the split must keep wall-clock ~linear.
      ("range_join_hotbin", (df: DataFrame) => {
        val keys = Seq(
          "spark.sql.autoBroadcastJoinThreshold",
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes")
        val saved = keys.map(key => key -> spark.conf.get(key))
        try {
          spark.conf.set(keys(0), "-1")
          spark.conf.set(keys(1), "4MB")
          spark.conf.set(keys(2), "4MB")
          val iv = orders.where(col("o_orderkey") % 8 === 0)
            .select(col("o_orderkey"), col("o_orderdate"),
              (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("o_end"))
          Temporal.rangeJoinBinned(iv, df.select("l_orderkey", "l_shipdate"),
            "o_orderdate", "o_end", "l_shipdate",
            binSeconds = 400L * 365 * 86400)
            .groupBy("o_orderkey").count().count()
        } finally saved.foreach { case (key, v) => spark.conf.set(key, v) }
      }, lineitem, "l_orderkey"),
      // Exact profiler: one scan + the (value, gid) distinct shuffle —
      // rows shuffled are distinct values, which here grow with k on
      // the key column only; expect ~scan-linear
      ("profile_exact", (df: DataFrame) =>
        Profiling.profile(df, Seq("l_orderkey", "l_linenumber",
          "l_returnflag", "l_linestatus", "l_shipdate")).count(),
        lineitem, "l_orderkey"),
      // Theta set algebra: rows grow k× but the user space is FIXED,
      // so sketch state is constant — cost is the one scan's update
      // path, the exchange moves two O(k_sketch) values
      ("theta_setops", (df: DataFrame) => {
        val T = graft.functions.ThetaOps
        df.agg(
            T.sketchState(when(col("event_type") === "click",
              col("user_id")), 8192).as("sa"),
            T.sketchState(when(col("event_type") === "purchase",
              col("user_id")), 8192).as("sb"))
          .select(T.union(col("sa"), col("sb")).as("u"),
            T.intersect(col("sa"), col("sb")).as("i"),
            T.diff(col("sa"), col("sb")).as("d"))
          .count()
      }, events, "event_id"),
      // BPE training: the corpus reduces once to DISTINCT words —
      // replication grows rows k× but the distinct-word table not at
      // all, so the per-iteration pair counts are flat and only the
      // initial reduce scales; expect strongly sublinear
      ("bpe_learn", (df: DataFrame) =>
        Bpe.learn(df, "text", numMerges = 4).length.toLong,
        docs, "doc_id"),
      // Edit-distance near-dup: prefix-blocked join — replica twins
      // share prefixes, so like every near-dup here the TRUE pair set
      // inflates quadratically in k and the ratio bounds worst-case
      // behavior, not typical growth
      ("edit_dedup", (df: DataFrame) =>
        DedupOps.editDistanceNearDup(df).count(),
        docs, "doc_id"),
      // Bigram LM scoring: one model aggregate + one bigram-keyed
      // LEFT join; replicated text grows both sides' rows k× but the
      // model's DISTINCT bigrams not at all — expect ~scan-linear
      ("lm_bigram", (df: DataFrame) =>
        TextAnalysis.lmBigramStats(
          df.where(col("doc_id") % 3 =!= 0),
          df.where(col("doc_id") % 3 === 0)).count(),
        docs, "doc_id"),
      // Count-Min sketch: rows grow k× over a FIXED vocabulary, so
      // the state stays depth·width longs and the exchange moves one
      // matrix per partition — expect scan-linear update cost
      ("cm_sketch", (df: DataFrame) => {
        val st = df.select(explode(split(col("text"), "\\s+")).as("t"))
          .where(length(col("t")) > 0)
          .agg(graft.functions.CmSketch.state(col("t"), 5, 4096))
          .head().getSeq[Long](0)
        st.length.toLong
      }, docs, "doc_id"),
      // Expectation suite: scalar rules share one scan; uniqueness is
      // one keyed exchange; RI is a broadcast anti against the FIXED
      // customer dim — expect ~scan-linear
      ("expectations", (df: DataFrame) => {
        import graft.ext.Expectations._
        graft.ext.Expectations.check(df, Seq(
          ExpectNotNull("o_custkey"),
          ExpectRange("o_totalprice", lit(0.0), lit(150000.0)),
          ExpectInSet("o_orderstatus", Seq("O", "F", "P")),
          ExpectRowCount(1L, 100000000L),
          ExpectUnique(Seq("o_orderkey")),
          ExpectRefIntegrity("o_custkey", customer, "c_custkey"))).count()
      }, orders, "o_orderkey"),
    )

    println(f"${"operator"}%-18s ${"t_1x"}%8s ${"t_${k}x"}%8s ${"ratio"}%7s  rows_1x -> rows_kx")
    cases.filter(c => only.forall(_.contains(c._1))).foreach {
      case (name, run, base, idCol) =>
        val (t1, n1) = timed(run(base))
        graft.core.Sessions.settle(spark)
        val (tk, nk) = timed(run(grow(base, idCol)))
        graft.core.Sessions.settle(spark)
        println(f"$name%-18s $t1%8.2f $tk%8.2f ${tk / t1}%7.2f  $n1 -> $nk")
    }

    // Purge needs its own shape too (it MUTATES the table, so each
    // (scale, layout) gets a fresh prepared copy; bloom built untimed
    // — a production index already exists). The doomed keys are FIXED
    // and live in the un-offset replica only. The pair of layouts is
    // the point: HASH-distributed rows smear 20 keys across most
    // files (rewrite grows with the table — the anti-pattern), while
    // a table RANGE-CLUSTERED on the deletion key confines them to
    // ~1 file at any scale (flat — the reason TRUSTED zones cluster
    // by sk / z-order before a deletion-heavy workload).
    if (only.exists(_.contains("purge"))) {
      val root = java.nio.file.Files
        .createTempDirectory("graft-scale-purge").toString
      def prep(d: DataFrame, tag: String, files: Int, items: Long,
          clustered: Boolean): String = {
        val p = s"$root/$tag"
        val laid =
          if (clustered) d.repartitionByRange(files, col("l_orderkey"))
          else d.repartition(files)
        laid.write.parquet(p)
        graft.sinks.BloomIndex.collect(spark, p, "l_orderkey",
          expectedItems = items)
        graft.sinks.StatsIndex.collect(spark, p, Seq("l_orderkey"))
        p
      }
      val keys = lineitem.select(col("l_orderkey"))
        .distinct().orderBy(col("l_orderkey")).limit(20)
        .withColumnRenamed("l_orderkey", "key")
      val big = grow(lineitem, "l_orderkey")
      val cases = Seq(
        ("purge_hash_1x", prep(lineitem, "h1", 16, 600000L, clustered = false)),
        (s"purge_hash_${k}x", prep(big, "hk", 16 * k, 600000L * k, clustered = false)),
        ("purge_clust_1x", prep(lineitem, "c1", 16, 600000L, clustered = true)),
        (s"purge_clust_${k}x", prep(big, "ck", 16 * k, 600000L * k, clustered = true)))
      cases.foreach { case (tag, p) =>
        val t0 = System.nanoTime()
        val r = graft.sinks.Purge.purge(spark, p, keys, "key", "l_orderkey")
        val t = (System.nanoTime() - t0) / 1e9
        graft.core.Sessions.settle(spark)
        println(f"$tag%-18s $t%8.2f  rewrote ${r.nRewrittenFiles} of " +
          f"${r.nDataFiles} files, ${r.nRowsDeleted} rows")
      }
      new graft.core.LakeStorage(spark.sparkContext.hadoopConfiguration)
        .truncate(root)
    }

    // MaxScore retrieval needs a DIFFERENT harness shape: the index +
    // sidecars are the amortized build (untimed — a production index
    // already exists at query time); the timed object is query-time
    // search, pruned vs unpruned, at 1x and kx. Three planted rare
    // docs give a genuinely skewed-idf query (replication keeps
    // fixture idfs constant: df and N grow together).
    if (only.exists(_.contains("bm25_pruned"))) {
      val root = java.nio.file.Files
        .createTempDirectory("graft-scale-bm25").toString
      // every doc gets a planted stop-word-like token (zzcommon, df =
      // N) and three docs a rare one — the regime MaxScore exists
      // for: unpruned scoring must aggregate EVERY document, pruning
      // scores three candidates
      def plant(d: DataFrame): DataFrame =
        d.select(col("doc_id"),
            concat(col("text"), lit(" zzcommon")).as("text"))
          .unionByName(
            spark.range(3).select((col("id") + 900000000L).as("doc_id"),
              concat(lit("zzzrare relevant zzcommon result number "),
                col("id").cast("string")).as("text")))
      def prep(d: DataFrame, tag: String): String = {
        val p = s"$root/$tag"
        plant(d).repartition(8).write.parquet(p)
        graft.sinks.InvertedIndex.collect(spark, p, "text", "doc_id",
          buckets = 8)
        graft.sinks.InvertedIndex.buildRetrievalStats(spark, p)
        p
      }
      val p1 = prep(docs, "c1")
      val pk = prep(grow(docs, "doc_id"), "ck")
      val queries = Seq(
        // fixture-vocabulary mid-frequency terms: overheads dominate,
        // ratio is the statement
        ("bm25_mixed", "fast key order", 10),
        // rare certifies alone (k ≤ planted docs); the zzcommon
        // posting list (every doc) never reaches the aggregate
        ("bm25_rare", "zzzrare zzcommon", 2))
      queries.foreach { case (tag, q, topk) =>
        Seq(("pruned", true), ("full", false)).foreach { case (mode, pr) =>
          def run(p: String): Long = {
            val r = graft.sinks.InvertedIndex
              .bm25TopKPruned(spark, p, q, k = topk, pruned = pr)
            r.topK.count()
          }
          val (t1, n1) = timed(run(p1))
          graft.core.Sessions.settle(spark)
          val (tk, nk) = timed(run(pk))
          graft.core.Sessions.settle(spark)
          println(f"${s"${tag}_$mode"}%-18s $t1%8.2f $tk%8.2f ${tk / t1}%7.2f  $n1 -> $nk")
        }
      }
      new graft.core.LakeStorage(spark.sparkContext.hadoopConfiguration)
        .truncate(root)
    }

    // ZSTD-DICT corpus compression witness: bytes-on-disk delta for
    // the documents corpus in the SMALL-FILE streaming regime (the
    // posture the pass exists for — O(batch) micro-batches land
    // ~150-row files, so the parquet page codec's history collapses
    // to those rows while every dict frame carries the corpus-trained
    // context). Reports, at 1x and kx: page-zstd bytes, dict-frame
    // bytes (incl. the fixed 64 KB sidecar), their ratio, and the
    // dict TRAIN time — which must stay FLAT (bounded sample) while
    // write bytes grow ~kx.
    if (only.exists(_.contains("zstd_dict"))) {
      import graft.functions.ZstdDictCodec
      import graft.sources.ZstdCorpus
      val root = java.nio.file.Files
        .createTempDirectory("graft-scale-zstd").toString
      val storage = new graft.core.LakeStorage(
        spark.sparkContext.hadoopConfiguration)
      def dirBytes(dir: String): Long = storage.dirBytes(dir)
      // two file-size regimes, because the answer flips and the
      // OPERATIONAL guidance is the crossover: dict frames win while
      // per-file row counts are micro-batch-small (the page codec's
      // history is only the co-located rows), the page codec wins
      // once compaction has built real chunks — i.e. run the dict
      // pass on the hot ingest tier, let compactSmall's rewrite flip
      // the graduated tier to the page codec.
      def measure(d: DataFrame, tag: String, rowsPerFile: Long): (Long, Long, Double) = {
        val n = d.count()
        val shards = math.max(4L, n / rowsPerFile).toInt
        d.repartition(shards).write.option("compression", "zstd")
          .parquet(s"$root/$tag-plain")
        val t0 = System.nanoTime()
        val dict = ZstdCorpus.trainDict(d)
        val trainSecs = (System.nanoTime() - t0) / 1e9
        d.repartition(shards)
          .withColumn("text_z", ZstdDictCodec.compressCol(col("text"), dict, 3))
          .drop("text")
          .write.option("compression", "uncompressed")
          .parquet(s"$root/$tag-dict")
        graft.core.Sessions.settle(spark)
        (dirBytes(s"$root/$tag-plain"),
          dirBytes(s"$root/$tag-dict") + dict.length, trainSecs)
      }
      val dk = grow(docs, "doc_id")
      Seq(("microbatch", 15L), ("compacted", 150L)).foreach {
        case (regime, rpf) =>
          val (p1, d1, tr1) = measure(docs, s"z1-$regime", rpf)
          val (pK, dK, trK) = measure(dk, s"zk-$regime", rpf)
          println(f"zstd_dict_${regime}_1x    plain $p1%12d B  dict $d1%12d B  dict/plain ${d1.toDouble / p1}%5.2f  train $tr1%6.2f s")
          println(f"zstd_dict_${regime}_${k}x   plain $pK%12d B  dict $dK%12d B  dict/plain ${dK.toDouble / pK}%5.2f  train $trK%6.2f s")
          println(f"zstd_dict_${regime}_grow  plain ${pK.toDouble / p1}%5.2fx  dict ${dK.toDouble / d1}%5.2fx  train ${trK / tr1}%5.2fx (train bounded by the fixed sample budget, not corpus size)")
      }
      new graft.core.LakeStorage(spark.sparkContext.hadoopConfiguration)
        .truncate(root)
    }

    // MV rewrite wants the read/maintain separation: the statement is
    // the READ path — the state-served aggregate stays FLAT as the
    // base grows (the state is group-sized: 12 groups at any k here)
    // while the rule-off plan pays the base scan. The state build is
    // untimed: production states are maintained incrementally
    // (maintainAgg / the delta stream), never rebuilt per query.
    if (only.exists(_.contains("mv_rewrite"))) {
      val root = java.nio.file.Files
        .createTempDirectory("graft-scale-mv").toString
      def prep(d: DataFrame, tag: String): String = {
        val basePath = s"$root/$tag/base"
        val statePath = s"$root/$tag/state"
        d.select(col("o_orderkey"), col("o_orderstatus"),
            (col("o_orderkey") % 4).as("b"),
            col("o_totalprice").cast("decimal(12,2)").as("v"))
          .write.parquet(basePath)
        graft.operators.Cdc.aggState(spark.read.parquet(basePath),
          Seq("o_orderstatus", "b"), Seq("v")).write.parquet(statePath)
        graft.plans.MvCatalog.register(basePath,
          graft.plans.MvDef(Seq("o_orderstatus", "b"), Seq("v"), statePath))
        basePath
      }
      val p1 = prep(orders, "x1")
      val pk = prep(grow(orders, "o_orderkey"), "xk")
      def q(path: String) = spark.read.parquet(path)
        .where(col("b") =!= 2).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"))
      def bench(path: String, rewrite: Boolean): Double = {
        spark.conf.set("spark.graft.mv.rewrite", rewrite.toString)
        val (t, _) = timed(q(path).count())
        graft.core.Sessions.settle(spark)
        t
      }
      val r1 = bench(p1, rewrite = true)
      val rk = bench(pk, rewrite = true)
      val b1 = bench(p1, rewrite = false)
      val bk = bench(pk, rewrite = false)
      println(f"mv_read           $r1%8.2f $rk%8.2f ${rk / r1}%7.2f  state-served (flat is the statement)")
      println(f"mv_base_agg       $b1%8.2f $bk%8.2f ${bk / b1}%7.2f  rule-off base scan (pays k)")
      spark.conf.set("spark.graft.mv.rewrite", "true")
      graft.plans.MvCatalog.clear()
      new graft.core.LakeStorage(spark.sparkContext.hadoopConfiguration)
        .truncate(root)
    }

    // Lattice form: a ROLLUP answered from the cubeState stays flat
    // (|groups| x |sets| state rows at any k) while the rule-off plan
    // pays the base scan THROUGH the Expand — i.e. |sets| x base rows
    // into the aggregate. The avoided work grows faster than the
    // plain-MV case by the |sets| factor.
    if (only.exists(_.contains("mv_cube"))) {
      val root = java.nio.file.Files
        .createTempDirectory("graft-scale-mvcube").toString
      val sets = Seq(Seq("o_orderstatus", "b"), Seq("o_orderstatus"),
        Seq.empty[String])
      def prep(d: DataFrame, tag: String): String = {
        val basePath = s"$root/$tag/base"
        val statePath = s"$root/$tag/state"
        d.select(col("o_orderkey"), col("o_orderstatus"),
            (col("o_orderkey") % 4).cast("string").as("b"),
            col("o_totalprice").cast("decimal(12,2)").as("v"))
          .write.parquet(basePath)
        graft.operators.Cdc.cubeState(spark.read.parquet(basePath),
          Seq("o_orderstatus", "b"), sets, Seq("v")).write.parquet(statePath)
        graft.plans.MvCatalog.register(basePath,
          graft.plans.MvDef(Seq("o_orderstatus", "b"), Seq("v"), statePath,
            sets = sets))
        basePath
      }
      val p1 = prep(orders, "x1")
      val pk = prep(grow(orders, "o_orderkey"), "xk")
      def q(path: String) = spark.read.parquet(path)
        .rollup("o_orderstatus", "b")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"))
      // wall-clock cannot resolve the gap at fixture scale (a 4.5M-row
      // scan aggregates in half a second on 32 threads) — INPUT ROWS
      // READ is the deterministic witness: the lattice answer reads
      // |groups| x |sets| state rows at ANY k, the rule-off plan reads
      // the whole base through the Expand
      def bench(path: String, rewrite: Boolean): (Double, Long) = {
        spark.conf.set("spark.graft.mv.rewrite", rewrite.toString)
        val acc = new java.util.concurrent.atomic.AtomicLong
        val l = new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            if (t.taskMetrics != null)
              acc.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
        }
        spark.sparkContext.addSparkListener(l)
        val (t, _) =
          try { val r = timed(q(path).count())
            org.apache.spark.graftglue.SparkGlue.flushListeners(spark.sparkContext)
            r }
          finally spark.sparkContext.removeSparkListener(l)
        graft.core.Sessions.settle(spark)
        (t, acc.get)
      }
      val (r1, rr1) = bench(p1, rewrite = true)
      val (rk, rrk) = bench(pk, rewrite = true)
      val (b1, br1) = bench(p1, rewrite = false)
      val (bk, brk) = bench(pk, rewrite = false)
      println(f"mv_cube_read      $r1%8.2f $rk%8.2f ${rk / r1}%7.2f  rows read $rr1 -> $rrk (state-sized, flat)")
      println(f"mv_cube_base      $b1%8.2f $bk%8.2f ${bk / b1}%7.2f  rows read $br1 -> $brk (whole base, pays k)")
      spark.conf.set("spark.graft.mv.rewrite", "true")
      graft.plans.MvCatalog.clear()
      new graft.core.LakeStorage(spark.sparkContext.hadoopConfiguration)
        .truncate(root)
    }

    // Persisted ANN probes: the statement is the PRUNED READ — a
    // probe reads ~nProbe/nCells of the cells sidecar at ANY corpus
    // scale (the probed FRACTION is the invariant; absolute rows
    // grow with the corpus, as they must — the probed cells hold
    // k× the vectors). Index builds are untimed: production indexes
    // are built once and maintained by refresh(), never rebuilt per
    // query. Wall-clock at fixture scale is overhead-bound, so
    // rows-read is the witness (the mv_cube protocol).
    if (only.exists(_.contains("ann_indexed"))) {
      val root = java.nio.file.Files
        .createTempDirectory("graft-scale-annidx").toString
      def prep(d: DataFrame, tag: String): String = {
        val p = s"$root/$tag"
        d.repartition(8).write.parquet(p)
        graft.sinks.IvfIndex.collect(spark, p, nCells = 16)
        p
      }
      val p1 = prep(embs, "v1")
      val pk = prep(grow(embs, "vec_id"), "vk")
      def recordsRead(f: => Unit): Long = {
        val acc = new java.util.concurrent.atomic.AtomicLong
        val l = new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            if (t.taskMetrics != null)
              acc.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
        }
        spark.sparkContext.addSparkListener(l)
        try {
          f
          org.apache.spark.graftglue.SparkGlue.flushListeners(spark.sparkContext)
        } finally spark.sparkContext.removeSparkListener(l)
        // no settle() here: it would drop the localCheckpoint blocks
        // of the pinned query frames between measurements
        acc.get
      }
      // replica 0 of grow() keeps original ids, so the same query
      // set exists at both scales; the READ covers the UNION of the
      // batch's probed cells, so a small batch keeps the fraction
      // statement sharp (2 queries x 1 probe <= 2 of 16 directories)
      val q1 = spark.read.parquet(p1).where(col("vec_id") < 2)
        .localCheckpoint(true)
      val qk = spark.read.parquet(pk).where(col("vec_id") < 2)
        .localCheckpoint(true)
      Seq(("ivfidx_probe1", 1), ("ivfidx_full", 16)).foreach { case (tag, np) =>
        val r1 = recordsRead {
          graft.sinks.IvfIndex.topK(spark, p1, q1, k = 10, nProbe = np).count() }
        val rk = recordsRead {
          graft.sinks.IvfIndex.topK(spark, pk, qk, k = 10, nProbe = np).count() }
        println(f"$tag%-18s rows read $r1 -> $rk (x${rk.toDouble / r1}%.2f)")
      }
      new graft.core.LakeStorage(spark.sparkContext.hadoopConfiguration)
        .truncate(root)
    }

    // Persisted-index MAINTENANCE: the statement is O(delta) refresh
    // I/O on BOTH sides — a FIXED delta writes the same sidecar bytes
    // whatever the corpus size (the delta lands as fresh sidecar
    // files, nothing else is rewritten — the journaled delta-commit)
    // AND reads a delta-sized record count (the _coverage cache
    // replaces the sidecar `file`-column scan; the clash guard's
    // kept-side range filter prunes non-overlapping files by parquet
    // footer stats). Before round 14 the write ratio here was ~k:
    // refresh rewrote the whole corpus-sized sidecar through an
    // overwrite-swap; mid-round-14 the read side still scanned the
    // sidecar per refresh.
    if (only.exists(_.contains("ann_refresh"))) {
      val root = java.nio.file.Files
        .createTempDirectory("graft-scale-annref").toString
      def prep(d: DataFrame, tag: String): String = {
        val p = s"$root/$tag"
        d.repartition(8).write.parquet(p)
        graft.sinks.IvfIndex.collect(spark, p, nCells = 16)
        graft.sinks.LshIndex.collect(spark, p, planes = 4)
        graft.sinks.PqIndex.collect(spark, p, m = 8, ks = 16)
        // warm the coverage caches: the measured refresh below is
        // the steady-state one (streaming batch N), not the single
        // post-bootstrap heal
        graft.sinks.IvfIndex.refresh(spark, p)
        graft.sinks.LshIndex.refresh(spark, p)
        graft.sinks.PqIndex.refresh(spark, p)
        p
      }
      val p1 = prep(embs, "v1")
      val pk = prep(grow(embs, "vec_id"), "vk")
      // (bytes written, records read) per refresh: written is the
      // O(delta) COMMIT witness; read is the O(delta) PLANNING
      // witness — the coverage cache replaces the sidecar `file`
      // scan and the guard's kept-side range filter prunes whole
      // files by footer stats, so neither side scales with corpus
      def refreshIo(f: => Unit): (Long, Long) = {
        val w = new java.util.concurrent.atomic.AtomicLong
        val r = new java.util.concurrent.atomic.AtomicLong
        val l = new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            if (t.taskMetrics != null) {
              w.addAndGet(t.taskMetrics.outputMetrics.bytesWritten)
              r.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
            }
        }
        spark.sparkContext.addSparkListener(l)
        try {
          f
          org.apache.spark.graftglue.SparkGlue.flushListeners(spark.sparkContext)
        } finally spark.sparkContext.removeSparkListener(l)
        (w.get, r.get)
      }
      def bytesWritten(f: => Unit): Long = refreshIo(f)._1
      // the FIXED delta: 500 fresh vectors, ids disjoint from every
      // grow() replica, appended identically to both corpora
      val delta = embs.limit(500)
        .withColumn("vec_id", col("vec_id") + lit(1000000000000L))
        .localCheckpoint(true)
      delta.coalesce(1).write.mode("append").parquet(p1)
      delta.coalesce(1).write.mode("append").parquet(pk)
      Seq[(String, String => Unit)](
        ("ivfidx_refresh", p => graft.sinks.IvfIndex.refresh(spark, p)),
        ("lshidx_refresh", p => graft.sinks.LshIndex.refresh(spark, p)),
        ("pqidx_refresh", p => graft.sinks.PqIndex.refresh(spark, p))
      ).foreach { case (tag, go) =>
        val (b1, r1) = refreshIo(go(p1))
        val (bk, rk) = refreshIo(go(pk))
        println(f"$tag%-18s bytes written $b1 -> $bk (x${bk.toDouble / b1}%.2f, O(delta) iff ~1)")
        println(f"$tag%-18s records read  $r1 -> $rk (x${rk.toDouble / math.max(1L, r1)}%.2f, O(delta) iff ~1)")
      }
      // the text-index family shares the delta-commit: postings +
      // BOTH retrieval-stats sidecars refresh on a fixed doc delta
      def prepDocs(d: DataFrame, tag: String): String = {
        val p = s"$root/$tag"
        d.select("doc_id", "text").repartition(8).write.parquet(p)
        graft.sinks.InvertedIndex.collect(spark, p, "text", "doc_id")
        graft.sinks.InvertedIndex.buildRetrievalStats(spark, p)
        graft.sinks.InvertedIndex.refresh(spark, p, "text", "doc_id")
        p
      }
      val d1 = prepDocs(docs, "d1")
      val dk = prepDocs(grow(docs, "doc_id"), "dk")
      val docDelta = docs.limit(500)
        .withColumn("doc_id", col("doc_id") + lit(1000000000000L))
        .select("doc_id", "text").localCheckpoint(true)
      docDelta.coalesce(1).write.mode("append").parquet(d1)
      docDelta.coalesce(1).write.mode("append").parquet(dk)
      val i1 = bytesWritten(
        graft.sinks.InvertedIndex.refresh(spark, d1, "text", "doc_id"))
      val ik = bytesWritten(
        graft.sinks.InvertedIndex.refresh(spark, dk, "text", "doc_id"))
      println(f"invidx_refresh     bytes written $i1 -> $ik (x${ik.toDouble / i1}%.2f, O(delta) iff ~1)")
      new graft.core.LakeStorage(spark.sparkContext.hadoopConfiguration)
        .truncate(root)
    }

    // ── sf1 TIER: the four load-bearing flows at ~one-order-deeper
    // scale (k=10 over sf0.1 ⇒ ~6M-row lineitem, ~1.5M orders,
    // ~100k vectors) with HARD require()s, not printed ratios — a
    // violated invariant crashes the run. The invariants are the
    // structural flat-cost claims (bytes written, records read,
    // files rewritten), which are weather-independent; wall-clock is
    // printed for the record alongside bracketing canary samples so
    // a reader can judge the window. Run:
    //   runMain graft.ScaleCheck 10 /root/testdata/sf0.1 32 sf1
    if (only.exists(_.contains("sf1"))) {
      require(k >= 10, s"the sf1 tier needs k >= 10 over sf0.1 (got $k)")
      val root = java.nio.file.Files
        .createTempDirectory("graft-scale-sf1").toString
      def io(f: => Unit): (Long, Long, Long) = {
        val w = new java.util.concurrent.atomic.AtomicLong
        val r = new java.util.concurrent.atomic.AtomicLong
        val sh = new java.util.concurrent.atomic.AtomicLong
        val l = new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            if (t.taskMetrics != null) {
              w.addAndGet(t.taskMetrics.outputMetrics.bytesWritten)
              r.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
              sh.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
            }
        }
        spark.sparkContext.addSparkListener(l)
        try {
          f
          org.apache.spark.graftglue.SparkGlue.flushListeners(spark.sparkContext)
        } finally spark.sparkContext.removeSparkListener(l)
        (w.get, r.get, sh.get)
      }
      val cBefore = Bench.canary(spark)

      // (1) d7 PROMOTE at sf1 — LINEAR witness: records read and
      // shuffle bytes must both scale ~k (no super-linear term in
      // T1–T5's one exchange), and the dedup result must be exact.
      // NB: no localCheckpoint on anything used across sections —
      // Sessions.settle (the between-measurements hygiene) unpersists
      // every persistent RDD, which truncated-lineage checkpoints
      // cannot survive; sf1-scale inputs stay lazy plans.
      val sf1Li = grow(lineitem, "l_orderkey")
      def promoteCount(df: DataFrame): Long =
        Promote.transform(df, Seq("l_orderkey", "l_linenumber"),
          hyphen = true, clock = Clock.ForOracle, deterministic = true).count()
      var n1 = 0L; var nk = 0L
      val t1p = System.nanoTime()
      val (_, pr1, ps1) = io { n1 = promoteCount(lineitem) }
      val t2p = System.nanoTime()
      val (_, prk, psk) = io { nk = promoteCount(sf1Li) }
      val t3p = System.nanoTime()
      graft.core.Sessions.settle(spark)
      require(nk == k * n1, s"sf1 promote row drift: $n1 x$k -> $nk")
      require(prk <= pr1 * k * 1.3 && psk <= math.max(ps1, 1L) * k * 1.3,
        f"sf1 promote super-linear: records $pr1 -> $prk, " +
          f"shuffle bytes $ps1 -> $psk (allowed ~${k}x)")
      println(f"sf1_promote        rows $n1 -> $nk, records x${prk.toDouble / pr1}%.2f, " +
        f"shuffle x${psk.toDouble / math.max(ps1, 1L)}%.2f, " +
        f"wall ${(t2p - t1p) / 1e9}%.2f -> ${(t3p - t2p) / 1e9}%.2f s (linear = ~${k}x)")

      // (2) d8 MERGE at sf1, partition-confined — FLAT witness: the
      // trusted table is hive-partitioned on the grow() block (1
      // partition at 1x, k at sf1); the update batch touches ONLY
      // block 0, so mergeIntoPartitioned's bytes written must stay
      // FLAT as the table grows 10x around it.
      val ordCols = orders.select("o_orderkey", "o_custkey", "o_totalprice")
      def withPt(df: DataFrame) =
        df.withColumn("pt", floor(col("o_orderkey") / 100000000L))
      def prepMerge(df: DataFrame, tag: String): String = {
        val p = s"$root/merge-$tag"
        withPt(df).write.partitionBy("pt").parquet(p)
        p
      }
      val m1 = prepMerge(ordCols, "1x")
      val mk = prepMerge(grow(ordCols, "o_orderkey"), "kx")
      // SENTINEL price: no fixture row carries a negative total, so
      // "every updated row reads -1.0 and only those" is a non-vacuous
      // applied-check (a threshold against shifted real prices would
      // pass on a no-op merge — all fixture prices exceed it)
      val updates = withPt(ordCols.where(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", lit(-1.0)))
        .localCheckpoint(true)
      val nUpdates = updates.count()
      val (mb1, _, _) = io(graft.sinks.MergeUpsert.mergeIntoPartitioned(
        spark, m1, updates, key = "o_orderkey", partitionCol = "pt"))
      val (mbk, _, _) = io(graft.sinks.MergeUpsert.mergeIntoPartitioned(
        spark, mk, updates, key = "o_orderkey", partitionCol = "pt"))
      graft.core.Sessions.settle(spark)
      require(mbk <= (mb1 * 1.5).toLong && mbk > 0,
        f"sf1 merge not partition-confined: bytes $mb1 -> $mbk " +
          f"(x${mbk.toDouble / mb1}%.2f; flat AND non-zero expected)")
      val sentinels = spark.read.parquet(mk)
        .where(col("o_totalprice") === -1.0)
      require(sentinels.count() == nUpdates &&
          sentinels.where(col("pt") =!= 0 ||
            col("o_orderkey") % 3 =!= 0).isEmpty,
        "sf1 merge must have applied exactly the block-0 update rows")
      println(f"sf1_merge          bytes written $mb1 -> $mbk " +
        f"(x${mbk.toDouble / mb1}%.2f, flat = merge pays the touched partition, not the table)")

      // (3) ANN O(delta) REFRESH at the sf1 corpus — FLAT witness:
      // a fixed 500-vector delta against the 10x corpus must cost
      // the same commit bytes and planning reads as against 1x.
      def prepAnn(df: DataFrame, tag: String): String = {
        val p = s"$root/ann-$tag"
        df.repartition(8).write.parquet(p)
        graft.sinks.IvfIndex.collect(spark, p, nCells = 16)
        graft.sinks.IvfIndex.refresh(spark, p) // warm the coverage cache
        p
      }
      val a1 = prepAnn(embs, "1x")
      val ak = prepAnn(grow(embs, "vec_id"), "kx")
      val annDelta = embs.limit(500)
        .withColumn("vec_id", col("vec_id") + lit(1000000000000L))
        .localCheckpoint(true)
      annDelta.coalesce(1).write.mode("append").parquet(a1)
      annDelta.coalesce(1).write.mode("append").parquet(ak)
      val (ab1, ar1, _) = io(graft.sinks.IvfIndex.refresh(spark, a1))
      val (abk, ark, _) = io(graft.sinks.IvfIndex.refresh(spark, ak))
      graft.core.Sessions.settle(spark)
      require(abk <= (ab1 * 1.5).toLong && ark <= (math.max(ar1, 1L) * 1.5).toLong,
        f"sf1 ANN refresh not O(delta): bytes $ab1 -> $abk, records $ar1 -> $ark")
      println(f"sf1_ann_refresh    bytes written $ab1 -> $abk " +
        f"(x${abk.toDouble / ab1}%.2f), records read $ar1 -> $ark " +
        f"(x${ark.toDouble / math.max(ar1, 1L)}%.2f, flat = O(delta) commit + planning)")

      // (4) PURGE at sf1, range-clustered — FLAT witness: 20 fixed
      // doomed keys confined by clustering; the rewrite set must not
      // grow with the table (10x files, same hit files).
      def prepPurge(df: DataFrame, tag: String, files: Int, items: Long): String = {
        val p = s"$root/purge-$tag"
        df.repartitionByRange(files, col("l_orderkey")).write.parquet(p)
        graft.sinks.BloomIndex.collect(spark, p, "l_orderkey", expectedItems = items)
        graft.sinks.StatsIndex.collect(spark, p, Seq("l_orderkey"))
        p
      }
      val keys = lineitem.select(col("l_orderkey"))
        .distinct().orderBy(col("l_orderkey")).limit(20)
        .withColumnRenamed("l_orderkey", "key")
      val pu1 = prepPurge(lineitem, "1x", 16, 600000L)
      val puk = prepPurge(sf1Li, "kx", 16 * k, 600000L * k)
      val r1p = graft.sinks.Purge.purge(spark, pu1, keys, "key", "l_orderkey")
      graft.core.Sessions.settle(spark)
      val rkp = graft.sinks.Purge.purge(spark, puk, keys, "key", "l_orderkey")
      graft.core.Sessions.settle(spark)
      require(rkp.nRowsDeleted == r1p.nRowsDeleted,
        s"sf1 purge row drift: ${r1p.nRowsDeleted} -> ${rkp.nRowsDeleted}")
      require(rkp.nRewrittenFiles <= r1p.nRewrittenFiles + 1,
        s"sf1 purge rewrite set grew with the table: " +
          s"${r1p.nRewrittenFiles} of ${r1p.nDataFiles} files -> " +
          s"${rkp.nRewrittenFiles} of ${rkp.nDataFiles}")
      println(f"sf1_purge          rewrote ${r1p.nRewrittenFiles} of ${r1p.nDataFiles} " +
        f"-> ${rkp.nRewrittenFiles} of ${rkp.nDataFiles} files, " +
        f"${r1p.nRowsDeleted} rows both (flat = purge pays hit files, not the table)")

      // (5) LEFT-JOIN-VIEW IVM at sf1 — BOUNDED-SHUFFLE witness: a
      // FIXED two-sided churn maintained against the k×-grown fact.
      // Deltas arrive materialized (the production shape — logDelta /
      // stream batches are churn-sized by construction), so the
      // measured work is leftJoinDelta's bilinear terms, the
      // anti-extension probes, and ONE maintainAgg exchange. The
      // snapshots are SCANNED (records read ~k, linear — broadcast
      // probes never shuffle them); shuffle bytes stay churn-bounded:
      // the only k-sensitive shuffle contribution is the anti term's
      // count-aggregate partials (maps × |touched keys| rows), which
      // an absolute slack covers — a plan that reshuffled the fact or
      // the k×-view would blow the bound by orders of magnitude.
      // Parity is HARD: the maintained k× state must equal the
      // from-scratch recompute of the churned outer join.
      {
        val cdc = graft.operators.Cdc
        def factShape(o: DataFrame) = o.select(col("o_orderkey"),
          col("o_custkey").as("custkey"),
          col("o_totalprice").cast("decimal(12,2)").as("price"))
        val fact1 = factShape(orders)
        val factK = factShape(grow(orders, "o_orderkey"))
        val custS = customer.select(
          col("c_custkey").as("custkey"), col("c_mktsegment"))
        val dimB = custS.where(col("custkey") % 7 =!= 0)
        // fixed SMALL dim churn with a deletion (extensions appear)
        // and a re-segmentation (groups move)
        val dimA = dimB.where(col("custkey") % 2003 =!= 0)
          .withColumn("c_mktsegment",
            when(col("custkey") % 1500 === 0, lit("SEG"))
              .otherwise(col("c_mktsegment")))
        // fixed fact churn: block-0 keys only — identical at both
        // scales (grown copies' keys sit at +i·1e8)
        val updBase = fact1.where(col("o_orderkey") % 997 === 0)
        val fDeltaPath = s"$root/ljd-fact-delta"
        updBase.withColumn("__sign", lit(-1))
          .unionByName(updBase
            .withColumn("price", (col("price") + 50).cast("decimal(12,2)"))
            .withColumn("__sign", lit(1)))
          .write.parquet(fDeltaPath)
        val dDeltaPath = s"$root/ljd-dim-delta"
        cdc.signedDelta(dimB, dimA, Seq("custkey")).write.parquet(dDeltaPath)
        val fDelta = spark.read.parquet(fDeltaPath)
        val dDelta = spark.read.parquet(dDeltaPath)
        def prepState(fact: DataFrame, tag: String): String = {
          val p = s"$root/ljd-state-$tag"
          cdc.aggState(fact.join(dimB, Seq("custkey"), "left"),
            Seq("c_mktsegment"), Seq("price")).write.parquet(p)
          p
        }
        val st1 = prepState(fact1, "1x")
        val stK = prepState(factK, "kx")
        graft.core.Sessions.settle(spark)
        def maintain(statePath: String, fact: DataFrame) =
          cdc.maintainAgg(spark.read.parquet(statePath),
            cdc.leftJoinDelta(fDelta, fact, dDelta, dimB, Seq("custkey"),
              materialize = false),
            Seq("c_mktsegment"), Seq("price")).collect()
        var out1: Array[org.apache.spark.sql.Row] = null
        var outK: Array[org.apache.spark.sql.Row] = null
        val tl1 = System.nanoTime()
        val (_, lr1, ls1) = io { out1 = maintain(st1, fact1) }
        val tl2 = System.nanoTime()
        val (_, lrk, lsk) = io { outK = maintain(stK, factK) }
        val tl3 = System.nanoTime()
        graft.core.Sessions.settle(spark)
        require(lrk <= lr1 * k * 1.3,
          f"sf1 leftjoin IVM records super-linear: $lr1 -> $lrk (allowed ~${k}x)")
        require(lsk <= ls1 * 1.5 + 2000000L,
          f"sf1 leftjoin IVM shuffle not churn-bounded: bytes $ls1 -> $lsk")
        // HARD parity at k×: churned fact = grown minus block-0
        // repriced keys plus their new images, against the churned dim
        val factKNew = factK
          .where(!(col("o_orderkey") % 997 === 0 &&
            col("o_orderkey") < 100000000L))
          .unionByName(updBase
            .withColumn("price", (col("price") + 50).cast("decimal(12,2)")))
        val recomputedK = cdc.aggState(
          factKNew.join(dimA, Seq("custkey"), "left"),
          Seq("c_mktsegment"), Seq("price")).collect()
        require(outK.map(_.toSeq).toSet == recomputedK.map(_.toSeq).toSet,
          "sf1 leftjoin IVM maintained state != from-scratch outer-join recompute")
        require(out1 != null && outK != null)
        println(f"sf1_leftjoin_ivm   records x${lrk.toDouble / math.max(lr1, 1L)}%.2f " +
          f"(linear scan), shuffle bytes $ls1 -> $lsk (churn-bounded), " +
          f"maintained == recompute at k×; " +
          f"${(tl2 - tl1) / 1e9}%.2f s -> ${(tl3 - tl2) / 1e9}%.2f s")
      }

      val cAfter = Bench.canary(spark)
      println(f"sf1_window         canary $cBefore%.3f / $cAfter%.3f s " +
        f"(quiet ref ~0.45; structural invariants above are window-independent)")
      println("sf1_tier           ALL INVARIANTS HELD")
      new graft.core.LakeStorage(spark.sparkContext.hadoopConfiguration)
        .truncate(root)
    }

    // SIZE-TIERED compaction: the statement is that the scheduled
    // amortizer (compactSmall — what the streaming cadences call) is
    // O(accumulated delta), never O(sidecar). Protocol: bootstrap the
    // index at 1× and k× corpus, apply the SAME sequence of fixed
    // delta refreshes to both (identical small-file accumulation),
    // then measure bytes written by the tiered compact. Flat (~×1)
    // means the bootstrap-scale sidecar files GRADUATED past the size
    // threshold and are never repacked — only the accumulated delta
    // tier is; the r14 whole-sidecar compact measured ~×k here (it
    // repacked the corpus-scale sidecar every 16 streaming batches).
    // The threshold is scaled to the fixture (bootstrap cell files
    // must sit above it, per-delta files below) — production sizing
    // is ~1/4 target file size; the ASYMPTOTICS are threshold-free.
    if (only.exists(_.contains("compact_tiered"))) {
      val root = java.nio.file.Files
        .createTempDirectory("graft-scale-tiered").toString
      def compactIo(f: => Unit): (Long, Long) = {
        val w = new java.util.concurrent.atomic.AtomicLong
        val r = new java.util.concurrent.atomic.AtomicLong
        val l = new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            if (t.taskMetrics != null) {
              w.addAndGet(t.taskMetrics.outputMetrics.bytesWritten)
              r.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
            }
        }
        spark.sparkContext.addSparkListener(l)
        try {
          f
          org.apache.spark.graftglue.SparkGlue.flushListeners(spark.sparkContext)
        } finally spark.sparkContext.removeSparkListener(l)
        (w.get, r.get)
      }
      def ioBytes(f: => Unit): Long = compactIo(f)._1
      def deltaAt(i: Int): DataFrame = embs.limit(500)
        .withColumn("vec_id", col("vec_id") + lit((i + 1) * 1000000000000L))
      def prepVec(d: DataFrame, tag: String): String = {
        val p = s"$root/$tag"
        d.repartition(8).write.parquet(p)
        graft.sinks.IvfIndex.collect(spark, p, nCells = 8)
        graft.sinks.LshIndex.collect(spark, p, planes = 3)
        (0 until 4).foreach { i =>
          deltaAt(i).coalesce(1).write.mode("append").parquet(p)
          graft.sinks.IvfIndex.refresh(spark, p)
          graft.sinks.LshIndex.refresh(spark, p)
        }
        p
      }
      val v1 = prepVec(embs, "v1")
      val vk = prepVec(grow(embs, "vec_id"), "vk")
      val small = 48L << 10 // fixture-scaled graduation threshold
      Seq[(String, String => Unit)](
        ("ivfidx_compact", p =>
          graft.sinks.IvfIndex.compactSmall(spark, p, smallBytes = small)),
        ("lshidx_compact", p =>
          graft.sinks.LshIndex.compactSmall(spark, p, smallBytes = small))
      ).foreach { case (tag, go) =>
        val (b1, r1) = compactIo(go(v1))
        val (bk, rk) = compactIo(go(vk))
        println(f"$tag%-18s bytes written $b1 -> $bk (x${bk.toDouble / math.max(1L, b1)}%.2f, O(accumulated delta) iff ~1)")
        println(f"$tag%-18s records read  $r1 -> $rk (x${rk.toDouble / math.max(1L, r1)}%.2f, O(accumulated delta) iff ~1)")
      }
      // text family: postings sidecar with the same tiered amortizer
      def prepDocsT(d: DataFrame, tag: String): String = {
        val p = s"$root/$tag"
        d.select("doc_id", "text").repartition(8).write.parquet(p)
        graft.sinks.InvertedIndex.collect(spark, p, "text", "doc_id")
        (0 until 4).foreach { i =>
          docs.limit(300)
            .withColumn("doc_id", col("doc_id") + lit((i + 1) * 1000000000000L))
            .select("doc_id", "text")
            .coalesce(1).write.mode("append").parquet(p)
          graft.sinks.InvertedIndex.refresh(spark, p, "text", "doc_id")
        }
        p
      }
      val t1 = prepDocsT(docs, "t1")
      val tk = prepDocsT(grow(docs, "doc_id"), "tk")
      val ib1 = ioBytes(
        graft.sinks.InvertedIndex.compactSmall(spark, t1, smallBytes = 96L << 10))
      val ibk = ioBytes(
        graft.sinks.InvertedIndex.compactSmall(spark, tk, smallBytes = 96L << 10))
      println(f"invidx_compact     bytes written $ib1 -> $ibk (x${ibk.toDouble / math.max(1L, ib1)}%.2f, O(accumulated delta) iff ~1)")
      new graft.core.LakeStorage(spark.sparkContext.hadoopConfiguration)
        .truncate(root)
    }

    // The same statement measured THROUGH the streaming driver: land
    // a fixed delta batch into the landing dir, resume the
    // checkpointed stream (AvailableNow picks it up as one
    // micro-batch), and measure everything the resumed run does —
    // idempotent corpus append + O(delta) index refresh + checkpoint
    // bookkeeping. Flat between 1× and 10× corpus means per-batch
    // streaming maintenance is O(batch), which is what lets the
    // flows call refresh EVERY micro-batch.
    if (only.exists(_.contains("stream_refresh"))) {
      val root = java.nio.file.Files
        .createTempDirectory("graft-scale-streamref").toString
      def refreshIo(f: => Unit): (Long, Long) = {
        val w = new java.util.concurrent.atomic.AtomicLong
        val r = new java.util.concurrent.atomic.AtomicLong
        val l = new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            if (t.taskMetrics != null) {
              w.addAndGet(t.taskMetrics.outputMetrics.bytesWritten)
              r.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
            }
        }
        spark.sparkContext.addSparkListener(l)
        try {
          f
          org.apache.spark.graftglue.SparkGlue.flushListeners(spark.sparkContext)
        } finally spark.sparkContext.removeSparkListener(l)
        (w.get, r.get)
      }
      def prep(d: DataFrame, tag: String): (String, String, String) = {
        val landing = s"$root/$tag/landing"
        val corpus = s"$root/$tag/vectors"
        val ckpt = s"$root/$tag/ckpt"
        d.repartition(8).write.parquet(landing)
        graft.streaming.StreamingOps.streamIngestWithIvfIndex(
          spark, landing, spark.read.parquet(landing).schema, corpus,
          ckpt, nCells = 16, maxFilesPerTrigger = 8)
        // steady state: the coverage cache is warm before measuring
        graft.sinks.IvfIndex.refresh(spark, corpus)
        (landing, corpus, ckpt)
      }
      val (l1, c1, k1) = prep(embs, "s1")
      val (lk, ck, kk) = prep(grow(embs, "vec_id"), "sk")
      val delta = embs.limit(500)
        .withColumn("vec_id", col("vec_id") + lit(1000000000000L))
        .localCheckpoint(true)
      delta.coalesce(1).write.mode("append").parquet(l1)
      delta.coalesce(1).write.mode("append").parquet(lk)
      def resume(landing: String, corpus: String, ckpt: String): Unit =
        graft.streaming.StreamingOps.streamIngestWithIvfIndex(
          spark, landing, spark.read.parquet(landing).schema, corpus,
          ckpt, nCells = 16, maxFilesPerTrigger = 8)
      // driver-side listing witness: the resumed batch's refresh
      // must plan WITHOUT walking the corpus directory (planAppend
      // off the published file names) — task metrics can't see
      // driver listings, so count them directly
      def listingsOf(corpus: String): Long = {
        val v = graft.sinks.SidecarMaintenance.walkCounts
          .get(new org.apache.hadoop.fs.Path(corpus).toString)
        if (v == null) 0L else v.longValue()
      }
      graft.sinks.SidecarMaintenance.trackWalks(c1) // opt-in counting
      graft.sinks.SidecarMaintenance.trackWalks(ck)
      val (l01, l0k) = (listingsOf(c1), listingsOf(ck))
      val (w1, r1) = refreshIo(resume(l1, c1, k1))
      val (wk, rk) = refreshIo(resume(lk, ck, kk))
      println(f"stream_refresh     bytes written $w1 -> $wk (x${wk.toDouble / math.max(1L, w1)}%.2f, O(batch) iff ~1)")
      println(f"stream_refresh     records read  $r1 -> $rk (x${rk.toDouble / math.max(1L, r1)}%.2f, O(batch) iff ~1)")
      println(s"stream_refresh     corpus listings during resumed batch: " +
        s"${listingsOf(c1) - l01} (1x) / ${listingsOf(ck) - l0k} (10x) " +
        "(0 = per-batch plan never walks the corpus)")
      new graft.core.LakeStorage(spark.sparkContext.hadoopConfiguration)
        .truncate(root)
    }
    // REFS-PROBE economics at 1× vs k× corpus FILE COUNT: (a) the
    // probe thread issues a FLAT (constant-ish) number of metadata
    // RPCs — the r15 per-file fs.exists loop was O(candidate files)
    // SERIAL driver round trips per probe, gone since reconciliation
    // went exception-driven; (b) the re-rank reads ≈ the PROBED
    // FRACTION of corpus bytes (nProbe/nCells plus cell-boundary
    // spill) at both scales — the probe's read volume scales with the
    // probe, not the corpus; (c) zero graft-driver corpus listings in
    // the steady state, exactly ONE batched listing when a candidate
    // actually vanished. The corpus is mounted on the counting
    // cfs:// filesystem and written CELL-CLUSTERED across 16·k files
    // so candidate-file count really grows k× with the corpus.
    if (only.exists(_.contains("refs_probe"))) {
      spark.sparkContext.hadoopConfiguration
        .set("fs.cfs.impl", classOf[CountingFs].getName)
      val rootLocal = java.nio.file.Files
        .createTempDirectory("graft-scale-refsprobe").toString
      val root = s"cfs://$rootLocal"
      val nCells = 16
      val nProbe = 4
      def probeIo(f: => Unit): Long = {
        val r = new java.util.concurrent.atomic.AtomicLong
        val l = new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            if (t.taskMetrics != null)
              r.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
        }
        spark.sparkContext.addSparkListener(l)
        try {
          f
          org.apache.spark.graftglue.SparkGlue.flushListeners(spark.sparkContext)
        } finally spark.sparkContext.removeSparkListener(l)
        r.get
      }
      def prep(d: DataFrame, tag: String, files: Int): String = {
        val raw = s"$root/$tag-raw"
        val p = s"$root/$tag"
        d.write.parquet(raw)
        // the REAL layout API: clusterCorpus threads ONE trained
        // quantizer through both the file layout and the refs
        // sidecar. (An independent collectRefs retrain can converge
        // to different centroids at the grown scale — each refs cell
        // would span many files and the probed-fraction economics
        // this witness exists to measure would quietly report the
        // wrong geometry.)
        graft.sinks.IvfIndex.clusterCorpus(spark, raw, p,
          nCells = nCells, filesPerCell = files / nCells)
        graft.sinks.IvfIndex.refreshRefs(spark, p) // heal+warm coverage
        p
      }
      val p1 = prep(embs, "v1", nCells)
      val pk = prep(grow(embs, "vec_id"), "vk", nCells * k)
      def corpusBytes(p: String): Long = {
        val fs = new org.apache.hadoop.fs.Path(p)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength -
          fs.getContentSummary(new org.apache.hadoop.fs.Path(
            graft.sinks.IvfIndex.refsPath(p))).getLength
      }
      def listingsOf(p: String): Long = {
        val v = graft.sinks.SidecarMaintenance.walkCounts
          .get(new org.apache.hadoop.fs.Path(p).toString)
        if (v == null) 0L else v.longValue()
      }
      graft.sinks.SidecarMaintenance.trackWalks(p1)
      graft.sinks.SidecarMaintenance.trackWalks(pk)
      val tid = Thread.currentThread().getId
      def probe(p: String): (Long, Long, Long, Double) = {
        val q = spark.read.parquet(p).where(col("vec_id") < 5)
          .localCheckpoint(true)
        val (rpc0, w0) = (CountingFs.of(tid), listingsOf(p))
        var bytes = 0L
        val (sec, _) = timed {
          bytes = probeIo(graft.sinks.IvfIndex
            .topKRefs(spark, p, q, k = 10, nProbe = nProbe).count())
          1L
        }
        (CountingFs.of(tid) - rpc0, listingsOf(p) - w0, bytes, sec)
      }
      val (rpc1, walks1, bytes1, t1) = probe(p1)
      val (rpck, walksk, bytesk, tk) = probe(pk)
      val (cb1, cbk) = (corpusBytes(p1), corpusBytes(pk))
      println(f"refs_probe         probe-thread metadata RPCs $rpc1 -> $rpck " +
        f"(x${rpck.toDouble / math.max(1L, rpc1)}%.2f at x$k corpus FILES; " +
        "flat = no serial per-file driver round trips)")
      println(s"refs_probe         graft corpus listings during probe: " +
        s"$walks1 (1x) / $walksk (${k}x) (0 = steady state never lists)")
      println(f"refs_probe         re-rank bytes read ${bytes1} of ${cb1} corpus " +
        f"(${100.0 * bytes1 / cb1}%.1f%%) -> ${bytesk} of ${cbk} " +
        f"(${100.0 * bytesk / cbk}%.1f%%); probed fraction $nProbe/$nCells = " +
        f"${100.0 * nProbe / nCells}%.1f%% — flat fraction = probe-scaled reads")
      println(f"refs_probe         wall $t1%.2f s -> $tk%.2f s")
      // staleness branch: ONE batched listing, not per-file probes
      val fs1 = new org.apache.hadoop.fs.Path(p1)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val victim = graft.sinks.SidecarMaintenance.dataFiles(spark, p1)
        .filterNot(_.contains("_ivf_refs")).min
      fs1.delete(new org.apache.hadoop.fs.Path(victim), false)
      val (_, walksStale, _, _) = probe(p1)
      println(s"refs_probe         listings on an ACTUAL vanish: $walksStale " +
        "(1 = one batched reconcile, never O(candidate-files) round trips)")
      new graft.core.LakeStorage(spark.sparkContext.hadoopConfiguration)
        .truncate(rootLocal)
    }
    spark.stop()
  }
}
