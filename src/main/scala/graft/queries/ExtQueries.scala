package graft
package queries

import graft.ext._
import graft.operators._
import graft.sinks.MergeUpsert
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Fixtures._
import DeclaredQueries.dedupBaseSql

/** The remaining extension operators: CDC, merge evolution and time
  * travel, temporal joins, sessions and SCD2, sketches, sampling,
  * profiling and expectations, file-format round trips and
  * multimodal metadata.
  */
object ExtQueries {

  /** Shared by ext_cdc_apply / flow_stream_cdc_apply: the batch fold
    * of the I/U/D log and its streamed, checkpointed application
    * must land the identical table, so they share one truth. */
  private[queries] val cdcApplyOracleSql: String =
    """WITH changes AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |    1 AS seq, 'I' AS op FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |    o_totalprice + 100.0, 2, 'U' FROM orders
      |  WHERE o_orderkey % 3 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |    3, 'D' FROM orders WHERE o_orderkey % 5 = 0
      |), latest AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
      |  FROM changes
      |)
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM latest WHERE rn = 1 AND op <> 'D'""".stripMargin

  /** Shared by ext_sessionize / ext_sessionize_epochs — the plain
    * and epoch-split engine formulations must produce the same
    * truth, so they share one oracle. */
  private val sessionizeOracleSql: String =
    """WITH g AS (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 7200000000
      |    THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), s AS (
      |  SELECT *, CAST(sum(new_s) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM g
      |)
      |SELECT user_id, session_id,
      |  min(ts) AS session_start, max(ts) AS session_end,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      |FROM s GROUP BY user_id, session_id""".stripMargin

  /** Shared by ext_scd2 / ext_scd2_epochs, same rationale. */
  private val scd2OracleSql: String =
    """WITH c AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    lag(event_type) OVER w AS prev_type
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), comp AS (
      |  SELECT user_id, event_id, ts, event_type FROM c
      |  WHERE prev_type IS NULL OR event_type IS DISTINCT FROM prev_type
      |)
      |SELECT user_id, event_type AS state, ts AS valid_from,
      |  coalesce(lead(ts) OVER w2, TIMESTAMP '9999-12-31') AS valid_to,
      |  lead(ts) OVER w2 IS NULL AS is_current
      |FROM comp
      |WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin

  /** Shared by ext_asof_join / ext_asof_join_epochs — the two engine
    * formulations (union-and-carry; epoch-split) must produce the
    * same truth, so they share one oracle. */
  private val asofOracleSql: String =
    """WITH clicks AS (
      |  SELECT user_id, ts AS click_ts,
      |    max_by(value, event_id) AS click_value
      |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
      |), p AS (
      |  SELECT event_id, user_id, ts, value FROM events
      |  WHERE event_type = 'purchase'
      |)
      |SELECT p.event_id, p.user_id, p.ts, p.value,
      |  coalesce(c.click_ts, TIMESTAMP '1900-01-01') AS click_ts,
      |  c.click_value
      |FROM p ASOF LEFT JOIN clicks c
      |  ON p.user_id = c.user_id AND p.ts >= c.click_ts""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // Schema-evolution merge: the d8 update batch arrives carrying a
    // column the trusted table has never seen (l_batch). The table
    // widens — union schema, surviving trusted rows NULL in the new
    // column, upserts populated — and shared-column types must still
    // match exactly (addition-only evolution; type drift rejects).
    QuerySpec("ext_merge_evolve", (s, dir) => {
      val base = dedupBaseM(s, dir)
      val trusted = base.where(col("l_orderkey") % 2 === 0)
      val updates = base.where(col("l_orderkey") % 3 === 0)
        .withColumn("l_quantity", col("l_quantity") + 1000)
        .withColumn("l_batch", lit("b7"))
      MergeUpsert.mergedEvolved(trusted, updates)
    },
      // evolution: same merge, updates carry a new l_batch column —
      // survivors NULL, upserts populated
      s"""WITH base AS ($dedupBaseSql),
         |t AS (SELECT * FROM base WHERE l_orderkey % 2 = 0),
         |u AS (SELECT * REPLACE (l_quantity + 1000 AS l_quantity), 'b7' AS l_batch
         |      FROM base WHERE l_orderkey % 3 = 0)
         |SELECT t.*, CAST(NULL AS VARCHAR) AS l_batch FROM t
         |WHERE NOT EXISTS (SELECT 1 FROM u WHERE u.sk = t.sk)
         |UNION ALL SELECT * FROM u""".stripMargin),

    // Time travel over the retention window: bootstrap the trusted
    // table, take a timestamp, run a retained merge on top, then
    // read the table "as of" the timestamp — snapshotAsOf must
    // resolve to the pre-merge snapshot, i.e. the bootstrap state,
    // bit-for-bit (oracle: the un-merged t side).
    QuerySpec.scratch("ext_merge_timetravel", (s, dir, root) => {
      val base = dedupBaseM(s, dir)
      val trustedPath = s"$root/trusted"
      graft.sinks.MergeUpsert.mergeInto(
        s, trustedPath, base.where(col("l_orderkey") % 2 === 0))
      val t0 = System.currentTimeMillis()
      graft.sinks.MergeUpsert.mergeInto(s, trustedPath,
        base.where(col("l_orderkey") % 3 === 0)
          .withColumn("l_quantity", col("l_quantity") + 1000),
        retainPrevHours = Some(72.0))
      graft.sinks.MergeUpsert.snapshotAsOf(s, trustedPath, t0)
    },
      // as-of read between bootstrap and merge = the bootstrap state
      s"""WITH base AS ($dedupBaseSql)
         |SELECT * FROM base WHERE l_orderkey % 2 = 0""".stripMargin),

    // CDC apply: an ordered I/U/D change log over orders (insert
    // everything at seq 1, re-price every 3rd key at seq 2, delete
    // every 5th at seq 3) folded to the current snapshot with
    // latest-writer-wins + delete semantics — the write direction
    // K2's upsert-only MERGE can't express. Map-side
    // WindowGroupLimit keeps the pre-shuffle volume at one
    // candidate row per (partition, key).
    QuerySpec("ext_cdc_apply", (s, dir) => {
      val o = tbl(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val log = o
        .withColumn("seq", lit(1)).withColumn("op", lit("I"))
        .unionByName(o.where(col("o_orderkey") % 3 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 100.0)
          .withColumn("seq", lit(2)).withColumn("op", lit("U")))
        .unionByName(o.where(col("o_orderkey") % 5 === 0)
          .withColumn("seq", lit(3)).withColumn("op", lit("D")))
      graft.operators.Cdc.applyLog(log,
        keyCols = Seq("o_orderkey"), seqCols = Seq("seq"))
    },
      // independent truth: the same I/U/D log folded by a window
      // rank, deletes dropped last
      cdcApplyOracleSql),

    // CDC read direction: diff two snapshots of orders (after drops
    // every 5th key, re-prices every 3rd, and gains the every-7th
    // keys the before side lacks) into an I/U/D feed — after-image
    // payload for I/U, before-image for D, unchanged rows silent.
    // One full-outer sort-merge join, two exchanges, churn-sized
    // output.
    QuerySpec("ext_cdc_feed", (s, dir) => {
      val o = tbl(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val before = o.where(col("o_orderkey") % 7 =!= 0)
      val after = o.where(col("o_orderkey") % 5 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 100.0)
            .otherwise(col("o_totalprice")))
      graft.operators.Cdc.changeFeed(before, after,
        keyCols = Seq("o_orderkey"))
    },
      // independent truth: FULL JOIN diff with IS DISTINCT FROM
      // payload comparison
      """WITH b AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 7 <> 0
        |), a AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 100.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 5 <> 0
        |)
        |SELECT
        |  CASE WHEN a.o_orderkey IS NULL THEN b.o_orderkey
        |       ELSE a.o_orderkey END AS o_orderkey,
        |  CASE WHEN b.o_orderkey IS NULL THEN 'I'
        |       WHEN a.o_orderkey IS NULL THEN 'D'
        |       ELSE 'U' END AS op,
        |  CASE WHEN a.o_orderkey IS NULL THEN b.o_custkey
        |       ELSE a.o_custkey END AS o_custkey,
        |  CASE WHEN a.o_orderkey IS NULL THEN b.o_totalprice
        |       ELSE a.o_totalprice END AS o_totalprice
        |FROM b FULL JOIN a ON b.o_orderkey = a.o_orderkey
        |WHERE b.o_orderkey IS NULL OR a.o_orderkey IS NULL
        |   OR a.o_custkey IS DISTINCT FROM b.o_custkey
        |   OR a.o_totalprice IS DISTINCT FROM b.o_totalprice""".stripMargin),

    // REAL audio-container round-trip: the engine WRITES canonical
    // RIFF/WAV bytes (PCM16 LE mono, samples from doc_id arithmetic),
    // the chunk-walking WavParser locates the data chunk in the raw
    // container, and pcmEnergy reads exact integer Σ sample² per
    // 64-sample window out of the bytes — no codec, nothing stubbed;
    // the oracle replays the arithmetic the bytes encoded (the
    // ext_multimodal_headers pattern, extended to audio). Shuffle-
    // free partition loop; the trailing window runs short (8 of 200).
    QuerySpec("ext_multimodal_audio", (s, dir) => {
      import s.implicits._
      val media = tbl(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val samples = Array.tabulate[Short](200)(j =>
            (((id * 31 + j * 17) % 4096) - 2048).toShort)
          graft.ext.Multimodal.MediaRow(
            id, graft.ext.Multimodal.buildPcm16Wav(samples))
        }).toDF()
      graft.ext.Multimodal.pcmEnergy(s, media, window = 64).toDF()
    },
      // the sample arithmetic the engine encoded into real WAV bytes
      // and read back per window — integer sums of squares, exact
      """WITH w AS (
        |  SELECT doc_id, i // 64 AS window_idx,
        |    ((doc_id * 31 + i * 17) % 4096 - 2048) AS v
        |  FROM documents, range(200) t(i)
        |)
        |SELECT doc_id, window_idx,
        |  CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(sum(v * v) AS BIGINT) AS energy
        |FROM w GROUP BY doc_id, window_idx""".stripMargin),

    // Bloom-prefiltered join: the semi-join reduction for dims too
    // big to broadcast as a hash relation but whose key set fits in
    // bloom bits. The 20%-selective dim (orders > 400k) builds its
    // bloom in one map-side aggregate; the fact scan probes it as a
    // codegen'd literal and sheds ~80% of its rows BEFORE the join
    // shuffle (the in-query require proves the reduction at fpp=1%).
    // False positives die in the real join, so the result must equal
    // the plain join — the oracle. At 100 TB the win is shuffled
    // bytes: ~selectivity × fact volume instead of all of it.
    QuerySpec("ext_bloom_join", (s, dir) => {
      val li = tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
      val dim = tbl(s, dir, "orders")
        .where(col("o_totalprice") > 400000)
        .select("o_orderkey", "o_orderstatus")
      // size the bloom from the actual dim cardinality (a production
      // build counts the side it scans anyway) — a fixed guess sized
      // for one SF saturates at 10x and the fpp explodes
      val pre = graft.operators.BloomJoin.prefilter(
        li, "l_orderkey", dim, "o_orderkey",
        expectedItems = dim.count(), fpp = 0.01)
      val (kept, total) = (pre.count(), li.count())
      require(kept < total * 2 / 5,
        s"bloom must shed the non-joining fact side: kept $kept of $total")
      pre.join(dim, col("l_orderkey") === col("o_orderkey"), "inner")
        .select("l_orderkey", "l_linenumber", "l_quantity", "o_orderstatus")
    },
      """SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, o.o_orderstatus
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_totalprice > 400000""".stripMargin),

    // ── §7.4 training-data pipeline extensions ──────────────────────

    // JSONL corpus round-trip: the documents table exported to
    // gzipped JSONL (the interchange format corpora arrive in) and
    // read back through the schema-enforced, quarantine-not-crash
    // reader — must hash-match the parquet truth exactly (JSON
    // string escaping, unicode, BIGINT fidelity, null fields).
    // Zstd-dict corpus compression round-trip, hash-graded as an
    // IDENTITY (the ext_jsonl_roundtrip pattern): write the documents
    // corpus with the text column dict-compressed (frames trained on
    // a bounded corpus sample, _zdict sidecar), read it back through
    // the decompressing projection — every byte of every document
    // must survive. In-query REQUIREs pin the storage claims: the
    // compressed table carries text_z binary + the sidecar, never a
    // plaintext text column.
    QuerySpec.scratch("ext_zstd_roundtrip", (s, dir, root) => {
      import graft.sources.ZstdCorpus
      val docs = tbl(s, dir, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
      ZstdCorpus.writeCompressed(s, docs.repartition(4), s"$root/docs")
      val stored = s.read.parquet(s"$root/docs")
      require(stored.columns.contains("text_z") &&
        !stored.columns.contains("text"),
        "compressed table must store frames, not plaintext")
      require(stored.schema("text_z").dataType ==
        org.apache.spark.sql.types.BinaryType,
        "frames must be a plain parquet binary column")
      ZstdCorpus.readCompressed(s, s"$root/docs")
        .select("doc_id", "text", "lang", "source", "n_chars")
    },
      // dict-compressed storage must be an exact identity on read-back
      "SELECT doc_id, text, lang, source, n_chars FROM documents"),

    QuerySpec.scratch("ext_jsonl_roundtrip", (s, dir, root) => {
      val docs = tbl(s, dir, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
      graft.sources.CorpusIO.writeJsonl(docs.repartition(4), s"$root/docs")
      graft.sources.CorpusIO.clean(
        graft.sources.CorpusIO.readJsonl(s, s"$root/docs", docs.schema))
    },
      "SELECT doc_id, text, lang, source, n_chars FROM documents"),

    // CSV tabular round-trip: the full lineitem table exported to
    // gzipped CSV and read back through the schema-enforced reader —
    // must hash-match the parquet truth (quoting, \N null sentinel,
    // double shortest-round-trip repr, NTZ timestamp format).
    QuerySpec.scratch("ext_csv_roundtrip", (s, dir, root) => {
      val li = tbl(s, dir, "lineitem")
      graft.sources.CorpusIO.writeCsv(li.repartition(4), s"$root/li")
      graft.sources.CorpusIO.clean(
        graft.sources.CorpusIO.readCsv(s, s"$root/li", li.schema))
    },
      "SELECT * FROM lineitem"),

    // ORC lake-format interop: the other columnar format a migrating
    // lake holds data in (the ORC jars ship with the runtime; Avro's
    // connector module does not). Full lineitem written to ORC and
    // read back with the explicit schema must hash-match the parquet
    // truth — NTZ timestamps, doubles, decimals-as-doubles.
    QuerySpec.scratch("ext_orc_roundtrip", (s, dir, root) => {
      val li = tbl(s, dir, "lineitem")
      li.repartition(4).write.orc(s"$root/li")
      s.read.schema(li.schema).orc(s"$root/li")
    },
      "SELECT * FROM lineitem"),

    // Deterministic hash-bucket train/val/test split — stable under
    // corpus growth, shuffle-free, portable arithmetic
    QuerySpec("ext_split_assign", (s, dir) =>
      Sampling.assignSplit(
        tbl(s, dir, "documents").select("doc_id", "source")),
      """SELECT doc_id, source, bucket,
        |  CASE WHEN bucket < 90 THEN 'train'
        |       WHEN bucket < 95 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id, source,
        |    ('0x' || substring(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |      ::UBIGINT::BIGINT % 100 AS bucket
        |  FROM documents)""".stripMargin),

    // Deterministic source-weighted corpus mixing (shuffle-free,
    // growth-stable downsampling)
    QuerySpec("ext_mix_sources", (s, dir) =>
      Sampling.sampleBySourceWeight(tbl(s, dir, "documents"),
        weights = Map("src0" -> 0.0, "src1" -> 0.5, "src2" -> 0.25)),
      """SELECT * FROM documents
        |WHERE ('0x' || substring(md5('graft-mix:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |    ::UBIGINT::BIGINT % 10000
        |  < CASE source WHEN 'src0' THEN 0 WHEN 'src1' THEN 5000
        |                WHEN 'src2' THEN 2500 ELSE 10000 END""".stripMargin),

    // Per-row weighted Bernoulli keep: quality-weighted downsampling
    // (here w = min(1, n_chars/1000) — longer docs sampled more),
    // deterministic md5 draw, shuffle-free, SQL-replayable
    QuerySpec("ext_weighted_sample", (s, dir) =>
      Sampling.weightedBernoulli(
        tbl(s, dir, "documents")
          .withColumn("w", least(lit(1.0), col("n_chars") / lit(1000.0))),
        weightCol = "w"),
      """SELECT * FROM (
        |  SELECT *, least(CAST(1.0 AS DOUBLE),
        |    n_chars / CAST(1000.0 AS DOUBLE)) AS w FROM documents)
        |WHERE ('0x' || substring(md5('graft-wsample:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |    ::UBIGINT::BIGINT % 10000
        |  < CAST(floor(greatest(CAST(0.0 AS DOUBLE),
        |      least(CAST(1.0 AS DOUBLE), w)) * 10000) AS BIGINT)""".stripMargin),

    // Temperature-based domain rebalancing (τ = 0.7 between
    // proportional and uniform): over-represented languages
    // deterministically downsample, under-represented ones repeat
    // (whole copies + an md5-bucket fractional last copy) — the
    // pretraining mixing knob, materialized exactly. Rates derive
    // from a tiny broadcast aggregate; Σ n^τ crosses the decimal-sum
    // boundary so the total is partial-agg-order-independent.
    QuerySpec("ext_temp_resample", (s, dir) =>
      Sampling.temperatureResample(
          tbl(s, dir, "documents").select("doc_id", "lang"),
          domainCol = "lang", tau = 0.7)
        .select("doc_id", "lang", "copy_id"),
      // Same arithmetic in the same order (pow → decimal-sum → double,
      // least, floor, round·10⁴ integer bucket test) — see
      // temperatureResample's cross-engine note. The copy filter runs
      // INSIDE list_filter before the unnest: DuckDB's binder cannot
      // consume a WHERE over an unnest alias through a CTE (internal
      // binder error, observed), and the pre-filtered-list form is
      // semantically identical.
      """WITH counts AS (
        |  SELECT lang, count(*) AS n FROM documents GROUP BY lang
        |), tot AS (
        |  SELECT sum(n) AS s,
        |    CAST(sum(CAST(pow(n, 0.7) AS DECIMAL(38,15))) AS DOUBLE) AS z
        |  FROM counts
        |), rates AS (
        |  SELECT lang, least(pow(n, 0.7) / z * s / n, 100.0) AS rate
        |  FROM counts, tot
        |)
        |SELECT doc_id, lang,
        |  unnest(list_filter(generate_series(0, CAST(floor(r.rate) AS BIGINT)),
        |    c -> c < floor(r.rate)
        |      OR ('0x' || substring(md5('graft-temp:' || CAST(d.doc_id AS VARCHAR)), 1, 15))
        |           ::UBIGINT::BIGINT % 10000
        |         < round((r.rate - floor(r.rate)) * 10000))) AS copy_id
        |FROM documents d JOIN rates r USING (lang)""".stripMargin),

    // Multimodal: binary payload column + partition-batched decode
    // (deterministic stub decoder; real plumbing)
    QuerySpec("ext_multimodal_meta", (s, dir) =>
      Multimodal.decodeMeta(s, Multimodal.asMedia(tbl(s, dir, "documents"))).toDF(),
      """SELECT doc_id,
        |  strlen(text) AS n_bytes,
        |  64 + strlen(text) % 640 AS width,
        |  64 + (strlen(text) * 31) % 480 AS height,
        |  strlen(text) % 16 AS n_frames
        |FROM documents""".stripMargin),

    // Multimodal frame sampling: one-to-many typed flatMap (the real
    // video-extractor shape), arithmetic-replayable stub geometry
    QuerySpec("ext_multimodal_frames", (s, dir) =>
      Multimodal.sampleFrames(s, Multimodal.asMedia(tbl(s, dir, "documents")), everyN = 2).toDF(),
      """SELECT doc_id, f AS frame_idx, f * 4096 AS byte_offset
        |FROM documents, UNNEST(range(0, CAST(strlen(text) % 16 AS BIGINT), 2)) AS t(f)""".stripMargin),

    // As-of join (union-and-carry, one shuffle): each purchase picks
    // up the most recent click by the same user at-or-before it. The
    // right side is pre-reduced per (user, ts) — max_by(event_id) —
    // so the match is deterministic; the oracle is DuckDB's native
    // ASOF LEFT JOIN, an entirely independent formulation.
    QuerySpec("ext_asof_join", (s, dir) => {
      val e = tbl(s, dir, "events")
      val purchases = e.where(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      // payload is (click_ts, click_value) only: a nullable BIGINT id
      // column would degrade to float64 on the oracle's pandas fetch
      // path (LEFT ASOF misses → NULLs) and hash-mismatch on the tag
      val clicks = e.where(col("event_type") === "click")
        .groupBy("user_id", "ts")
        .agg(max_by(col("value"), col("event_id")).as("click_value"))
        .withColumnRenamed("ts", "click_ts")
      // no-match sentinel: a NULL timestamp would come back as pandas
      // NaT on the oracle fetch path, which canonicalizes as a
      // datetime ('t:NaT'), not as null — coalesce on BOTH sides so
      // the declared column stays hash-comparable
      Temporal.asOfJoin(purchases, clicks,
        keys = Seq("user_id"), leftTime = "ts", rightTime = "click_ts")
        .withColumn("click_ts",
          expr("coalesce(click_ts, TIMESTAMP_NTZ '1900-01-01 00:00:00')"))
    },
      // DuckDB's native ASOF LEFT JOIN — independent of the engine's
      // union-and-carry formulation (inclusive: p.ts >= c.ts)
      asofOracleSql),

    // Same truth through the skew-robust epoch-split as-of (same
    // DuckDB ASOF oracle): hot keys parallelize across (key, epoch)
    // partitions, with an epoch-summary carry pass for cross-epoch
    // matches — the oracle gates that the three passes compose to
    // exactly as-of semantics
    QuerySpec("ext_asof_join_epochs", (s, dir) => {
      val e = tbl(s, dir, "events")
      val purchases = e.where(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val clicks = e.where(col("event_type") === "click")
        .groupBy("user_id", "ts")
        .agg(max_by(col("value"), col("event_id")).as("click_value"))
        .withColumnRenamed("ts", "click_ts")
      Temporal.asOfJoinEpochs(purchases, clicks,
        keys = Seq("user_id"), leftTime = "ts", rightTime = "click_ts",
        epochSeconds = 86400)
        .withColumn("click_ts",
          expr("coalesce(click_ts, TIMESTAMP_NTZ '1900-01-01 00:00:00')"))
    },
      // identical truth: the epoch-split variant must compose to
      // exactly as-of semantics
      asofOracleSql),

    // Same truth a third way — the native Catalyst operator path
    // (AsOfMark → RewriteAsOfJoin → AsOfJoinStrategy → AsOfJoinExec,
    // installed via SparkSessionExtensions): a purpose-built
    // co-partitioned merge exec, one hash exchange per side, O(1)
    // carried state per partition. The DuckDB ASOF oracle gates that
    // the whole custom-plan pipeline (marker through physical merge)
    // lands exactly as-of semantics.
    QuerySpec("ext_asof_native", (s, dir) => {
      val e = tbl(s, dir, "events")
      val purchases = e.where(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val clicks = e.where(col("event_type") === "click")
        .groupBy("user_id", "ts")
        .agg(max_by(col("value"), col("event_id")).as("click_value"))
        .withColumnRenamed("ts", "click_ts")
      graft.plans.NativeAsOf.join(purchases, clicks,
        keys = Seq("user_id"), leftTime = "ts", rightTime = "click_ts")
        .withColumn("click_ts",
          expr("coalesce(click_ts, TIMESTAMP_NTZ '1900-01-01 00:00:00')"))
    },
      asofOracleSql),

    // Range join with NO equi-key (bin-bucketed interval join):
    // shipping activity during each sampled order's first week —
    // lineitems (any order's) shipped in [o_orderdate, +7d). The
    // orderkey sample keeps the true pair count ~interval_len·|points|
    // /8; counts stay integer-exact, max is order-insensitive.
    QuerySpec("ext_range_join", (s, dir) => {
      val o = tbl(s, dir, "orders")
        .where(col("o_orderkey") % 8 === 0)
        .select(col("o_orderkey"), col("o_orderdate"),
          (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("o_end"))
      val li = tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_shipdate")
      val agg = Temporal
        .rangeJoinBinned(o, li, "o_orderdate", "o_end", "l_shipdate",
          binSeconds = 7L * 86400)
        .groupBy("o_orderkey")
        .agg(count(col("l_orderkey")).as("n_ship"),
          max(col("l_extendedprice")).as("max_price"))
      o.select("o_orderkey").join(agg, Seq("o_orderkey"), "left")
        .select(col("o_orderkey"),
          coalesce(col("n_ship"), lit(0L)).as("n_ship"), col("max_price"))
    },
      // plain θ-join — DuckDB plans it as an IEJoin; the engine side
      // must reproduce it through the bin-bucketed equi-join
      """SELECT o.o_orderkey,
        |  count(l.l_orderkey) AS n_ship,
        |  max(l.l_extendedprice) AS max_price
        |FROM orders o LEFT JOIN lineitem l
        |  ON l.l_shipdate >= o.o_orderdate
        | AND l.l_shipdate < o.o_orderdate + INTERVAL 7 DAY
        |WHERE o.o_orderkey % 8 = 0
        |GROUP BY o.o_orderkey""".stripMargin),

    // Interval×interval overlap join, no equi-key: order week-windows
    // vs ship+3d windows. Both sides multi-bin, so the emit-at-first-
    // shared-bin rule (not a distinct) is what the oracle's plain
    // θ-join grades: any double- or zero-emission shifts a count.
    QuerySpec("ext_interval_join", (s, dir) => {
      val a = tbl(s, dir, "orders")
        .where(col("o_orderkey") % 8 === 0)
        .select(col("o_orderkey"), col("o_orderdate").as("s"),
          (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("e"))
      val b = tbl(s, dir, "lineitem")
        .where(col("l_orderkey") % 4 === 0)
        .select(col("l_orderkey"), col("l_extendedprice"),
          col("l_shipdate").as("s2"),
          (col("l_shipdate") + expr("INTERVAL 3 DAYS")).as("e2"))
      val agg = Temporal
        .intervalOverlapJoin(a, b, "s", "e", "s2", "e2",
          binSeconds = 7L * 86400)
        .groupBy("o_orderkey")
        .agg(count(col("l_orderkey")).as("n_overlap"),
          max(col("l_extendedprice")).as("max_price"))
      a.select("o_orderkey").join(agg, Seq("o_orderkey"), "left")
        .select(col("o_orderkey"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
          col("max_price"))
    },
      """SELECT a.o_orderkey,
        |  count(b.l_orderkey) AS n_overlap,
        |  max(b.l_extendedprice) AS max_price
        |FROM (SELECT o_orderkey, o_orderdate AS s,
        |        o_orderdate + INTERVAL 7 DAY AS e
        |      FROM orders WHERE o_orderkey % 8 = 0) a
        |LEFT JOIN (SELECT l_orderkey, l_extendedprice, l_shipdate AS s2,
        |             l_shipdate + INTERVAL 3 DAY AS e2
        |           FROM lineitem WHERE l_orderkey % 4 = 0) b
        |  ON a.s < b.e2 AND b.s2 < a.e
        |GROUP BY a.o_orderkey""".stripMargin),

    // Gap sessionization (2h inactivity cut per user) + session
    // rollup; decimal-accumulate / double-emit for the value sum
    // (same rationale as cap_events_hourly)
    QuerySpec("ext_sessionize", (s, dir) =>
      Temporal.sessionize(
        tbl(s, dir, "events"), keyCol = "user_id", tsCol = "ts",
        tieCol = "event_id", gapSeconds = 7200)
        .groupBy("user_id", "session_id")
        .agg(min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("total_value")),
      sessionizeOracleSql),

    // Same truth through the skew-robust epoch-split sessionization
    // (same lag+running-sum oracle): hot keys parallelize across
    // (key, epoch); epoch width 3600s < the 7200s gap, so sessions
    // legitimately span EMPTY epochs and the boundary-merge carry is
    // exercised for real — the oracle gates that local sessionize +
    // summary merge + renumber compose to exactly gap semantics
    QuerySpec("ext_sessionize_epochs", (s, dir) =>
      Temporal.sessionizeEpochs(
        tbl(s, dir, "events"), keyCol = "user_id", tsCol = "ts",
        tieCol = "event_id", gapSeconds = 7200, epochSeconds = 3600)
        .groupBy("user_id", "session_id")
        .agg(min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("total_value")),
      // the epoch-split engine formulation must land on the same truth
      sessionizeOracleSql),

    // KLL quantile sketch with capacity 65536 > any event_type group
    // (20k at sf0.1): zero compactions fire, every item sits at
    // level 0, so the selected element is the exact discrete
    // quantile and DuckDB's quantile_disc gates the full
    // update → merge → rank machinery. Approximate-regime rank error
    // is ScalaTest-gated.
    QuerySpec("ext_quantiles", (s, dir) =>
      tbl(s, dir, "events").groupBy("event_type")
        .agg(
          graft.functions.KllSketch.quantile(col("value"), 0.5, 65536).as("p50"),
          graft.functions.KllSketch.quantile(col("value"), 0.9, 65536).as("p90")),
      // capacity 65536 > group sizes: exact discrete-quantile regime
      """SELECT event_type,
        |  quantile_disc(value, 0.5) AS p50,
        |  quantile_disc(value, 0.9) AS p90
        |FROM events GROUP BY event_type""".stripMargin),

    // KLL in its APPROXIMATE regime, driver-graded against the
    // sketch's bound: capacity 256 sits far below the event_type
    // group sizes (2k rows at sf0.01, 20k at sf0.1), so compactions
    // fire and the estimate is inexact AND merge-order-dependent —
    // the engine therefore measures the TRUE rank of its own
    // estimate with a second exact pass and declares whether the
    // rank error is within 5% (comfortable for k=256; the ScalaTest
    // regime test uses the same margin at 100k rows). The oracle
    // states the group keys, exact counts, and the expected verdict:
    // a compactor regression past the bound flips a boolean and
    // fails the hash compare, for ANY merge order the cluster
    // happens to pick. Complements ext_quantiles' exact-config gate.
    QuerySpec("ext_quantiles_bound", (s, dir) => {
      val e = tbl(s, dir, "events").select(col("event_type"), col("value"))
      val est = e.groupBy("event_type").agg(
        graft.functions.KllSketch.quantile(col("value"), 0.5, 256).as("est50"),
        graft.functions.KllSketch.quantile(col("value"), 0.9, 256).as("est90"))
      e.join(broadcast(est), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") <= col("est50"), 1L).otherwise(0L)).as("r50"),
          sum(when(col("value") <= col("est90"), 1L).otherwise(0L)).as("r90"))
        .select(col("event_type"), col("n"),
          (abs(col("r50") / col("n") - 0.5) <= 0.05).as("ok50"),
          (abs(col("r90") / col("n") - 0.9) <= 0.05).as("ok90"))
    },
      // approximate regime (capacity 256 << group sizes): the engine
      // measures its own estimate's true rank exactly and reports the
      // bound verdict; the oracle states the expected verdict — TRUE
      // per group — so a compactor regression past the 5% rank bound
      // hash-mismatches, independent of merge order
      """SELECT event_type, count(*) AS n,
        |  TRUE AS ok50, TRUE AS ok90
        |FROM events GROUP BY event_type""".stripMargin),

    // SCD2 historization: the events stream read as a per-user state
    // change log → compressed validity intervals (K2's MERGE keeps
    // only latest-per-sk; this keeps history queryable by as-of
    // time). Sentinel for the open interval's valid_to — nullable
    // timestamps NaT-drift on the oracle fetch path
    QuerySpec("ext_scd2", (s, dir) =>
      graft.operators.Scd2.historize(
        tbl(s, dir, "events").select("user_id", "event_id", "ts", "event_type"),
        keyCol = "user_id", tsCol = "ts", tieCol = "event_id",
        stateCols = Seq("event_type"))
        .select(col("user_id"), col("event_type").as("state"),
          col("valid_from"),
          coalesce(col("valid_to"),
            expr("TIMESTAMP_NTZ '9999-12-31 00:00:00'")).as("valid_to"),
          col("is_current")),
      scd2OracleSql),

    // Same truth through the skew-robust epoch-split SCD2 (same
    // lag-compress + lead-interval oracle): hot keys parallelize
    // across (key, epoch), with carried last-state for cross-epoch
    // no-op compression and a reverse carry for cross-epoch valid_to
    QuerySpec("ext_scd2_epochs", (s, dir) =>
      graft.operators.Scd2.historizeEpochs(
        tbl(s, dir, "events").select("user_id", "event_id", "ts", "event_type"),
        keyCol = "user_id", tsCol = "ts", tieCol = "event_id",
        stateCols = Seq("event_type"), epochSeconds = 86400)
        .select(col("user_id"), col("event_type").as("state"),
          col("valid_from"),
          coalesce(col("valid_to"),
            expr("TIMESTAMP_NTZ '9999-12-31 00:00:00'")).as("valid_to"),
          col("is_current")),
      // the epoch-split engine formulation must land on the same truth
      scd2OracleSql),

    // SCD2 × as-of composite — the documented Scd2 contract ("joins
    // to facts ... directly via asOfJoin on valid_from"): purchases
    // enriched with the as-of dimension state from the SCD2 history
    // built over the user's non-purchase activity. Zero-length audit
    // rows are dropped first so the history is unique per
    // (user, valid_from) — the as-of right-side contract; the
    // instant's tie winner keeps its non-zero interval. Sentinels on
    // the nullable match columns for the oracle fetch path.
    QuerySpec("ext_scd2_enrich", (s, dir) => {
      val e = tbl(s, dir, "events")
      val dimLog = e.where(col("event_type") =!= "purchase")
        .select("user_id", "event_id", "ts", "event_type")
      val hist = graft.operators.Scd2.historize(
        dimLog, keyCol = "user_id", tsCol = "ts", tieCol = "event_id",
        stateCols = Seq("event_type"))
        .where(col("valid_to").isNull || col("valid_to") > col("valid_from"))
        .select(col("user_id"), col("valid_from"),
          col("event_type").as("state"))
      val purchases = e.where(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      Temporal.asOfJoin(purchases, hist,
        keys = Seq("user_id"), leftTime = "ts", rightTime = "valid_from")
        .withColumn("valid_from",
          expr("coalesce(valid_from, TIMESTAMP_NTZ '1900-01-01 00:00:00')"))
        .withColumn("state", coalesce(col("state"), lit("none")))
    },
      // independent composite truth: the scd2 CTE rebuilt over the
      // non-purchase log, joined to purchases via DuckDB's NATIVE ASOF
      // LEFT JOIN — both halves of the composition graded at once
      """WITH c AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    lag(event_type) OVER w AS prev_type
        |  FROM events WHERE event_type <> 'purchase'
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), comp AS (
        |  SELECT user_id, event_id, ts, event_type FROM c
        |  WHERE prev_type IS NULL OR event_type IS DISTINCT FROM prev_type
        |), hist AS (
        |  SELECT user_id, ts AS valid_from, event_type AS state,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS valid_to
        |  FROM comp
        |), h AS (
        |  SELECT user_id, valid_from, state FROM hist
        |  WHERE valid_to IS NULL OR valid_to > valid_from
        |), p AS (
        |  SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_type = 'purchase'
        |)
        |SELECT p.event_id, p.user_id, p.ts, p.value,
        |  coalesce(h.valid_from, TIMESTAMP '1900-01-01') AS valid_from,
        |  coalesce(h.state, 'none') AS state
        |FROM p ASOF LEFT JOIN h
        |  ON p.user_id = h.user_id AND p.ts >= h.valid_from""".stripMargin),

    // Stratified sample: 10 docs per source by portable md5 order —
    // deterministic uniform draw, map-side rank-limited
    QuerySpec("ext_stratified_sample", (s, dir) =>
      Sampling.stratifiedSample(
        tbl(s, dir, "documents").select("doc_id", "source", "n_chars"),
        strataCol = "source", idCol = "doc_id", n = 10),
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars, row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY md5('graft-sample:' || CAST(doc_id AS VARCHAR)), doc_id
        |  ) AS rk FROM documents
        |) WHERE rk <= 10""".stripMargin),

    // Misra-Gries in its APPROXIMATE regime (k = 8 << 20 sources, so
    // decrements fire), graded against the sketch's own guarantees:
    // the engine joins its summary to the exact per-source counts and
    // reports (a) every source with frequency > n/(k+1) survived and
    // (b) every kept counter undercounts by at most n/(k+1); the
    // oracle states the exact total and the expected verdicts — TRUE
    // — so a decrement-logic regression past either bound flips a
    // boolean and fails the hash compare, for any merge order.
    // Same pattern as ext_quantiles_bound.
    QuerySpec("ext_heavy_hitters_bound", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val hh = docs
        .agg(graft.functions.MgSketch.topK(col("source"), k = 8).as("hh"))
        .select(explode(col("hh")).as("h"))
        .select(col("h.item").as("source"), col("h.cnt").as("mg_cnt"))
      val exact = docs.groupBy("source").agg(count(lit(1)).as("cnt"))
      val tot = docs.agg(count(lit(1)).as("n"))
      exact.join(hh, Seq("source"), "left").crossJoin(broadcast(tot))
        .agg(
          max(col("n")).as("n"),
          // integer forms of cnt > n/9 and diff <= n/9 (k+1 = 9)
          coalesce(min(when(col("cnt") * 9 > col("n"),
            col("mg_cnt").isNotNull)), lit(true)).as("all_frequent_kept"),
          coalesce(min(when(col("mg_cnt").isNotNull,
            col("cnt") - col("mg_cnt") >= 0 &&
              (col("cnt") - col("mg_cnt")) * 9 <= col("n"))), lit(true))
            .as("counts_within_bound"))
    },
      // approximate-regime MG: oracle states the exact total and the
      // expected bound verdicts (see engine-side comment)
      """SELECT count(*) AS n,
        |  TRUE AS all_frequent_kept, TRUE AS counts_within_bound
        |FROM documents""".stripMargin),

    // Count-Min point-frequency sketch over the corpus token stream:
    // depth×width counters, exact elementwise merge (bit-identical
    // under any partitioning — CmSketchSpec), answering "how often is
    // THIS token" in depth·width longs where a GROUP BY ships every
    // distinct token. Verdicts over the top-200 tokens (bounded
    // deterministic collect): the NO-UNDERCOUNT direction is a
    // deterministic law (counters only over-count); the ε-overcount
    // direction (≤ truth + ceil(e/width·N)) is per-item
    // probabilistic, deterministic HERE because the fixed-seed hashes
    // and fixtures are — same epistemics as the ANN bound verdicts.
    // N itself reads off the sketch (matrix total = depth·N).
    QuerySpec("ext_countmin", (s, dir) => {
      import s.implicits._
      val depth = 5
      val width = 4096
      val toks = tbl(s, dir, "documents")
        .select(explode(split(col("text"), "\\s+")).as("t"))
        .where(length(col("t")) > 0)
      val state = toks
        .agg(graft.functions.CmSketch.state(col("t"), depth, width))
        .head().getSeq[Long](0).toArray
      val n = state.sum / depth
      val bound = math.ceil(math.E / width * n).toLong
      val probes = toks.groupBy("t").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("t")).limit(200)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val ests = probes.map { case (t, c) =>
        (c, graft.functions.CmSketch.estimate(state, t, depth, width))
      }
      Seq((probes.length.toLong,
        ests.forall { case (c, e) => e >= c },
        ests.forall { case (c, e) => e <= c + bound }))
        .toDF("n_probes", "all_lower_ok", "all_upper_ok")
    },
      // the oracle states the probe cardinality and the verdicts the
      // engine's own exact counts must produce under fixed-seed hashing
      """WITH t AS (
        |  SELECT unnest(regexp_split_to_array(text, '\s+')) AS t
        |  FROM documents
        |), tt AS (SELECT t FROM t WHERE length(t) > 0)
        |SELECT CAST(least(count(DISTINCT t), 200) AS BIGINT) AS n_probes,
        |  TRUE AS all_lower_ok, TRUE AS all_upper_ok
        |FROM tt""".stripMargin),

    // Misra-Gries heavy hitters at k = 64 > |langs| (5): below
    // capacity no decrement ever fires, so the sketch IS the exact
    // GROUP BY histogram and the oracle gates the full
    // update → merge → eval machinery; approximate-regime guarantees
    // are ScalaTest-gated
    QuerySpec("ext_heavy_hitters", (s, dir) =>
      tbl(s, dir, "documents")
        .agg(graft.functions.MgSketch.topK(col("lang"), k = 64).as("hh"))
        .select(explode(col("hh")).as("h"))
        .select(col("h.item").as("item"), col("h.cnt").as("cnt")),
      // k = 64 > 5 distinct langs: exact histogram regime
      """SELECT lang AS item, count(*) AS cnt
        |FROM documents GROUP BY lang""".stripMargin),

    // KMV distinct sketch at k = 8192 > |user space| (150 at sf0.01,
    // 1500 at sf0.1 — k = 1024 silently saturated at sf0.1 and
    // estimated 1492, a lesson in checking the exact-config bound at
    // EVERY verified scale): below saturation the buffer IS the
    // distinct hash set, so the COUNT(DISTINCT) oracle gates the
    // full update → merge → eval machinery — same
    // provably-exact-config epistemics as ext_ann_ivf / ext_ann_pq.
    // Approximate regime is ScalaTest-gated.
    QuerySpec("ext_distinct_kmv", (s, dir) =>
      tbl(s, dir, "events").groupBy("event_type")
        .agg(graft.functions.KmvSketch
          .approxCountDistinct(col("user_id"), k = 8192)
          .as("distinct_users")),
      // k = 8192 > distinct users at every verified scale: the sketch is
      // below saturation, so exact COUNT(DISTINCT) is the right truth
      // for the full sketch pipeline
      """SELECT event_type, count(DISTINCT user_id) AS distinct_users
        |FROM events GROUP BY event_type""".stripMargin),

    // Theta-sketch set algebra (KMV states + union/intersect/diff
    // estimators): cohort-overlap distinct counts off ONE scan and two
    // O(k) sketch values — no key co-shuffle, composable across
    // tables/days without rescanning either side. k = 8192 ≫ distinct
    // users at every verified scale, so both sketches stay below
    // saturation and all five estimators are provably EXACT — the
    // DuckDB INTERSECT/EXCEPT oracle gates the full update → merge →
    // set-algebra machinery (ext_distinct_kmv epistemics); the
    // approximate regime is ThetaSketchSpec-gated
    QuerySpec("ext_distinct_theta", (s, dir) => {
      import graft.functions.ThetaOps
      val st = tbl(s, dir, "events").agg(
        ThetaOps.sketchState(
          when(col("event_type") === "click", col("user_id")), k = 8192).as("sa"),
        ThetaOps.sketchState(
          when(col("event_type") === "purchase", col("user_id")), k = 8192).as("sb"))
      st.select(
        ThetaOps.estimate(col("sa")).as("n_click"),
        ThetaOps.estimate(col("sb")).as("n_purchase"),
        ThetaOps.union(col("sa"), col("sb")).as("n_union"),
        ThetaOps.intersect(col("sa"), col("sb")).as("n_both"),
        ThetaOps.diff(col("sa"), col("sb")).as("n_click_only"))
    },
      """SELECT
        |  (SELECT count(DISTINCT user_id) FROM events
        |   WHERE event_type = 'click') AS n_click,
        |  (SELECT count(DISTINCT user_id) FROM events
        |   WHERE event_type = 'purchase') AS n_purchase,
        |  (SELECT count(DISTINCT user_id) FROM events
        |   WHERE event_type IN ('click', 'purchase')) AS n_union,
        |  (SELECT count(*) FROM (
        |     SELECT DISTINCT user_id FROM events
        |     WHERE event_type = 'click' AND user_id IS NOT NULL
        |     INTERSECT
        |     SELECT DISTINCT user_id FROM events
        |     WHERE event_type = 'purchase' AND user_id IS NOT NULL)) AS n_both,
        |  (SELECT count(*) FROM (
        |     SELECT DISTINCT user_id FROM events
        |     WHERE event_type = 'click' AND user_id IS NOT NULL
        |     EXCEPT
        |     SELECT DISTINCT user_id FROM events
        |     WHERE event_type = 'purchase' AND user_id IS NOT NULL)) AS n_click_only""".stripMargin),

    // ── Data profiling / expectations (pre-promote audit surface) ──

    // Single-pass column profiler: per column n/nulls/distinct/min/max
    // folded into ONE hash aggregate over ONE scan (exact distinct is
    // the standard Expand — |cols|+1 projections of the same scan;
    // exact=false swaps in approx_count_distinct and drops it at scale)
    QuerySpec("ext_profile", (s, dir) =>
      Profiling.profile(tbl(s, dir, "lineitem"),
        Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus",
          "l_shipdate")),
      Seq(
      "l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus",
      "l_shipdate")
      .map(c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  count(*) - count($c) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_s,
           |  CAST(max($c) AS VARCHAR) AS max_s
           |FROM lineitem""".stripMargin)
      .mkString("\nUNION ALL\n")),

    // Declarative expectations: every scalar rule shares one
    // conditional-sum aggregate (one fact scan total), each uniqueness
    // rule is its own keyed groupBy, referential integrity is a
    // broadcast LEFT ANTI — verdicts as (rule, target, n_violations,
    // pass) rows. o_custkey uniqueness is the deliberately-failing
    // rule (customers repeat), so nonzero violation counting is graded
    QuerySpec("ext_expect", (s, dir) =>
      Expectations.check(tbl(s, dir, "orders"), Seq(
        Expectations.ExpectNotNull("o_custkey"),
        Expectations.ExpectRange("o_totalprice", lit(0.0), lit(150000.0)),
        Expectations.ExpectInSet("o_orderstatus", Seq("O", "F", "P")),
        Expectations.ExpectRowCount(1L, 10000000L),
        Expectations.ExpectUnique(Seq("o_orderkey")),
        Expectations.ExpectUnique(Seq("o_custkey")),
        Expectations.ExpectRefIntegrity("o_custkey",
          tbl(s, dir, "customer"), "c_custkey"))),
      """SELECT rule, target, n_violations, n_violations = 0 AS pass FROM (
        |  SELECT 'not_null' AS rule, 'o_custkey' AS target,
        |    count(CASE WHEN o_custkey IS NULL THEN 1 END) AS n_violations
        |  FROM orders
        |  UNION ALL
        |  SELECT 'range', 'o_totalprice',
        |    count(CASE WHEN o_totalprice IS NOT NULL
        |      AND (o_totalprice < 0.0 OR o_totalprice > 150000.0) THEN 1 END)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'in_set', 'o_orderstatus',
        |    count(CASE WHEN o_orderstatus IS NOT NULL
        |      AND o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 END)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'row_count', '*',
        |    greatest(1 - count(*), count(*) - 10000000, 0)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'unique', 'o_orderkey',
        |    CAST(coalesce(sum(cnt - 1), 0) AS BIGINT)
        |  FROM (SELECT count(*) AS cnt FROM orders GROUP BY o_orderkey)
        |  UNION ALL
        |  SELECT 'unique', 'o_custkey',
        |    CAST(coalesce(sum(cnt - 1), 0) AS BIGINT)
        |  FROM (SELECT count(*) AS cnt FROM orders GROUP BY o_custkey)
        |  UNION ALL
        |  SELECT 'ref_integrity', 'o_custkey->c_custkey', count(*)
        |  FROM orders o WHERE o.o_custkey IS NOT NULL AND NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |)""".stripMargin),

    // Row-level rule evaluation: every row gains the comma-joined
    // labels of the rules it breaks (declaration order; empty =
    // clean) — the audit column the quarantine flow routes on.
    // Scalar rules are pure projections, uniqueness one count
    // window, referential integrity one broadcast LEFT marker
    QuerySpec("ext_expect_rows", (s, dir) =>
      Expectations.flagViolations(tbl(s, dir, "orders"), Seq(
        Expectations.ExpectNotNull("o_custkey"),
        Expectations.ExpectRange("o_totalprice", lit(0.0), lit(150000.0)),
        Expectations.ExpectInSet("o_orderstatus", Seq("O", "F", "P")),
        Expectations.ExpectUnique(Seq("o_custkey")),
        Expectations.ExpectRefIntegrity("o_custkey",
          tbl(s, dir, "customer"), "c_custkey"))),
      """SELECT o.*, concat_ws(',',
        |  CASE WHEN o_custkey IS NULL THEN 'not_null:o_custkey' END,
        |  CASE WHEN o_totalprice IS NOT NULL
        |    AND (o_totalprice < 0.0 OR o_totalprice > 150000.0)
        |    THEN 'range:o_totalprice' END,
        |  CASE WHEN o_orderstatus IS NOT NULL
        |    AND o_orderstatus NOT IN ('O', 'F', 'P')
        |    THEN 'in_set:o_orderstatus' END,
        |  CASE WHEN count(*) OVER (PARTITION BY o_custkey) > 1
        |    THEN 'unique:o_custkey' END,
        |  CASE WHEN o_custkey IS NOT NULL AND c.c_custkey IS NULL
        |    THEN 'ref_integrity:o_custkey->c_custkey' END
        |) AS violations
        |FROM orders o
        |LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |  ON o.o_custkey = c.c_custkey""".stripMargin),

    // Tukey-fence outlier docs per source: exact discrete quantiles
    // (percentile_disc — actual data elements, no floats cross the
    // engine boundary) + integer fence arithmetic; group-sized
    // quantile table broadcast back over the corpus
    QuerySpec("ext_outlier_docs", (s, dir) =>
      Profiling.iqrOutliers(
        tbl(s, dir, "documents").select("doc_id", "source", "lang", "n_chars"),
        valueCol = "n_chars", groupCols = Seq("source", "lang")),
      """WITH q AS (
        |  SELECT source, lang,
        |    CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars)
        |      AS BIGINT) AS q1,
        |    CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY n_chars)
        |      AS BIGINT) AS q3
        |  FROM documents GROUP BY source, lang)
        |SELECT d.doc_id, d.source, d.lang, d.n_chars, q.q1, q.q3
        |FROM documents d JOIN q USING (source, lang)
        |WHERE d.n_chars * 2 < q.q1 * 5 - q.q3 * 3
        |   OR d.n_chars * 2 > q.q3 * 5 - q.q1 * 3""".stripMargin),

    // Equi-width histogram of document lengths: bin edges in EXACT
    // integer arithmetic (bin = (v-lo)*k div range — no float edge
    // crosses the engine boundary); one 1-row range aggregate + one
    // binned count whose shuffle carries at most nBins rows per map
    // partition
    QuerySpec("ext_histogram", (s, dir) =>
      Profiling.histogram(
        tbl(s, dir, "documents").select(length(col("text")).cast("long").as("doc_len")),
        "doc_len", 16),
      // same integer bin arithmetic (// is floor division; operands are
      // non-negative, so it matches Spark's div truncation)
      """WITH v AS (
        |  SELECT CAST(length(text) AS BIGINT) AS v FROM documents
        |  WHERE text IS NOT NULL
        |), r AS (
        |  SELECT min(v) AS lo, max(v) AS hi FROM v
        |)
        |SELECT ((v - lo) * 16) // (hi - lo + 1) AS bin,
        |  count(*) AS n, lo, hi
        |FROM v, r GROUP BY 1, lo, hi""".stripMargin),

    // REAL container-header parsing, oracle-graded through a binary
    // round-trip: the engine BUILDS valid PNG byte streams (signature
    // + IHDR with big-endian dimensions derived from doc_id), then
    // the byte-walking HeaderParser reads the dimensions back out of
    // the raw bytes — no codec library, no stub; the oracle replays
    // the arithmetic the bytes encoded. Shuffle-free map partition.
    QuerySpec("ext_multimodal_headers", (s, dir) => {
      def be32(c: org.apache.spark.sql.Column) = unhex(lpad(hex(c), 8, "0"))
      val pngSig = lit(Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47,
        0x0d, 0x0a, 0x1a, 0x0a))
      val media = tbl(s, dir, "documents").select(
        col("doc_id"),
        concat(pngSig,
          be32(lit(13)), lit("IHDR".getBytes("US-ASCII")),
          be32(col("doc_id") % 1000 + 1),
          be32(col("doc_id") % 700 + 1),
          lit(Array[Byte](8, 6, 0, 0, 0))).as("media"))
      graft.ext.Multimodal.parseHeaders(s, media).toDF()
    },
      // the arithmetic the engine encoded into real PNG bytes and
      // parsed back — the byte round-trip happens engine-side
      """SELECT doc_id, 'png' AS format,
        |  doc_id % 1000 + 1 AS width, doc_id % 700 + 1 AS height
        |FROM documents""".stripMargin),
  )
}
