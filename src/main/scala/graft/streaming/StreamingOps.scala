package graft.streaming

import graft.operators.{DateQuality, IngestTimestamp, SurrogateKey}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Structured Streaming surface (SURVEY.md §2.8 notes the reference
  * has NO streaming — `timestamp_kafka` only nods at an upstream CDC
  * feed. These operators are the engine's forward-looking streaming
  * analogs of the batch flows, built on the standard
  * readStream → transform → writeStream shape.)
  *
  * Scale posture: all stateful operators are keyed (state partitions
  * by the grouping key), watermarks bound state size, and the
  * transforms reuse the exact batch expressions (T1-T3 are pure
  * column operations — identical semantics batch or streaming).
  */
object StreamingOps {

  /** Streaming variant of the promote transform chain: T1 sk →
    * T2 ingest timestamp → T3 quality repair → watermarked streaming
    * dedup on sk.
    *
    * The watermark MUST ride on a real event-time column from the
    * data (`eventTimeCol`) — watermarking on the batch-constant
    * ingest stamp would pin the watermark forever and grow dedup
    * state without bound. `dropDuplicatesWithinWatermark` then keeps
    * per-sk state only inside the watermark horizon: bounded state at
    * any throughput. The ingest stamp itself uses
    * `current_timestamp()` (evaluated per micro-batch, the streaming
    * analog of the reference's per-batch wall-clock literal) rather
    * than the injectable batch clock, which is fixed at plan time. */
  def streamingPromote(
      stream: DataFrame,
      skIds: Seq[String],
      eventTimeCol: String,
      hyphen: Boolean = false,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val withSk = SurrogateKey.addSk(stream, skIds, hyphen)
    val stamped = withSk.withColumn(IngestTimestamp.ColumnName,
      date_trunc("second", current_timestamp()))
    val repaired = DateQuality.repair(stamped)
    repaired
      .withWatermark(eventTimeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("sk")
  }

  /** Event-time windowed aggregation with late-data handling:
    * tumbling or sliding counts/sums per event type. */
  def windowedEventStats(
      events: DataFrame,
      windowLength: String = "5 minutes",
      slide: Option[String] = None,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val w = slide.fold(window(col("ts"), windowLength))(s =>
      window(col("ts"), windowLength, s))
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(w.as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
  }

  /** Declared-query harness for the streaming surface: run
    * [[windowedEventStats]] over a static parquet directory as an
    * `AvailableNow` stream into a memory sink and return the final
    * table, so the driver's DuckDB oracle grades the STREAMING
    * engine's answer against the equivalent batch SQL — the other
    * streaming operators are spec-tested, this one is oracle-graded.
    *
    * Choices that make the result batch-identical:
    *  - complete output mode: a bounded input never advances the
    *    watermark past its own last event, so append mode would hold
    *    back the final windows forever;
    *  - `value` pre-cast to DECIMAL(18,6): sum stays
    *    order-insensitive across micro-batch/task orderings (double
    *    emission at the end, the engine-wide convention);
    *  - 1-hour tumbling windows are epoch-aligned, so `win.start`
    *    equals the oracle's `date_trunc('hour', ts)`.
    *
    * The memory sink collects to the driver — correct for the
    * declared-query harness (windows × types rows, not events); a
    * production deployment points the same writeStream at a lake
    * sink. */
  /** Events fixture as an event-timed stream — the shared front of
    * every events-replay harness below. The streaming file source
    * only monitors DIRECTORIES; the fixture is a single file, so
    * stream its parent with a glob filter pinned to it (a production
    * deployment points at the landing directory and drops the
    * filter). The watermark clock only accepts TIMESTAMP (LTZ) —
    * stream in LTZ (session is UTC, so values are identical); rebuild
    * the event-time clock ONLY when the fixture stores ts as a nanos
    * long (same guard as the batch tbl() helper) — a fixture written
    * with a real parquet timestamp passes through unchanged. */
  /** Run `body` with `spark.sql.shuffle.partitions` temporarily set
    * to `n`, restoring the prior value after. Streaming state stores
    * instantiate ONE store per shuffle partition per stateful
    * operator, and every micro-batch commits a delta file per store —
    * so a bounded fixture replay at the session's batch-tuned 32
    * partitions pays 32× state-store commit fixed costs per batch for
    * single-digit-MB state. The graded replay harnesses pin a small
    * documented state parallelism instead; production streams size
    * this to the cluster — it is a config, not a code shape, and the
    * graded values are partition-count-invariant (each harness's
    * oracle equality is the proof). */
  private def withShufflePartitions[T](
      spark: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prior)
  }

  private def timedEventStream(spark: SparkSession, eventsPath: String): DataFrame = {
    val schema = spark.read.parquet(eventsPath).schema
    val p = new org.apache.hadoop.fs.Path(eventsPath)
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", p.getName)
      .parquet(p.getParent.toString)
    if (schema.fields.exists(f => f.name == "ts" &&
        f.dataType == org.apache.spark.sql.types.LongType))
      raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else raw.withColumn("ts", col("ts").cast("timestamp"))
  }

  def availableNowHourly(spark: SparkSession, eventsPath: String): DataFrame =
    withShufflePartitions(spark, 8) {
    // LTZ window edges cast back to NTZ on the way out, the same
    // LTZ→NTZ exit cast the batch cap_events_hourly query uses
    val stream = timedEventStream(spark, eventsPath)
      .withColumn("value", col("value").cast("decimal(18,6)"))
    val agg = windowedEventStats(stream, windowLength = "1 hour")
    val sink = s"stream_hourly_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = agg.writeStream.format("memory").queryName(sink)
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    drainMemorySink(spark, sink) { t =>
      t.select(
        col("win.start").cast("timestamp_ntz").as("win"), col("event_type"),
        col("n"), col("total_value").cast("double").as("total"))
    }
  }

  /** Collect a memory-sink table into a local DataFrame and DROP the
    * temp view: the memory sink registers a session-lifetime temp
    * table per query, so a long-lived session (a Bench/Verify sweep)
    * would otherwise accumulate every collected result in the driver
    * for the session's lifetime. The result is bounded by contract:
    * aggregates (windows × types rows, not events) for the agg
    * harnesses, attribution-window matches for the join one. */
  private def drainMemorySink(spark: SparkSession, sink: String)(
      shape: DataFrame => DataFrame): DataFrame = {
    val shaped = shape(spark.table(sink))
    val rows = shaped.collect()
    val out = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), shaped.schema)
    spark.catalog.dropTempView(sink)
    out
  }

  /** Second oracle-graded streaming harness, covering the DEDUP path
    * ([[streamingPromote]]'s `dropDuplicatesWithinWatermark`): replay
    * the lineitem fixture as an `AvailableNow` stream through the
    * promote chain with sk over `l_orderkey` alone (the d5
    * convention — real duplicates, one sk per order across its
    * lineitems) and return the surviving-row count. WHICH duplicate
    * survives is arrival-order-dependent, so the graded value is the
    * count — equal to the distinct-sk count whenever every duplicate
    * pair coexists in state, which the 3650-day watermark horizon
    * guarantees for any batching the file source picks (an unbounded
    * horizon is also the honest config for an exactness harness; a
    * production stream tightens it to bound state). */
  def availableNowDedupCount(spark: SparkSession, lineitemPath: String): DataFrame =
    withShufflePartitions(spark, 8) {
    val schema = spark.read.parquet(lineitemPath).schema
    val p = new org.apache.hadoop.fs.Path(lineitemPath)
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", p.getName)
      .parquet(p.getParent.toString)
      // event-time clock for the watermark: ship date cast to LTZ
      .withColumn("__evt", col("l_shipdate").cast("timestamp"))
    val deduped = streamingPromote(stream, skIds = Seq("l_orderkey"),
      eventTimeCol = "__evt", hyphen = true, watermarkDelay = "3650 days")
    // Aggregate INSIDE the streamed pipeline: each micro-batch reduces
    // to one Long on the executors (`batch.count()` is a distributed
    // aggregate) and only that scalar crosses to the driver. The
    // previous shape streamed the FULL deduped table into a memory
    // sink and collected every row driver-side before counting — a
    // driver OOM by construction at corpus scale and this harness's
    // dominant cost even at sf0.1. Counts keyed by batchId,
    // last-write-wins: foreachBatch's contract allows an epoch to be
    // re-invoked on recovery/retry, and a bare accumulator would
    // double-count the replayed batch — the same idempotent-sink
    // discipline the durable foreachBatch sinks below follow.
    val counts = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val q = deduped.writeStream
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        counts.put(batchId, batch.count()): Unit
      }
      .start()
    q.awaitTermination()
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    Seq(counts.values.asScala.foldLeft(0L)(_ + _)).toDF("n_unique")
  }

  /** Third oracle-graded streaming harness, covering SESSION-WINDOW
    * state: replay the events fixture as an `AvailableNow` stream
    * through `session_window(ts, gap)` and roll the final table up
    * to per-user session/event counts — the DuckDB oracle computes
    * the same truth from the batch sessionization SQL (lag +
    * running-sum windows), so the streaming session-merge machinery
    * is graded against an independent formulation.
    *
    * Batch parity holds AT the threshold too: `session_window`'s
    * [ts, ts+gap) windows merge only on strict overlap (same session
    * iff delta < gap) where the batch operator's strict-`>` cut
    * keeps a delta == gap pair together (same session iff
    * delta ≤ gap) — so the streaming gap is widened by exactly one
    * microsecond, which for integral-microsecond timestamps makes
    * `delta < gap + 1 µs` coincide with `delta ≤ gap`. Without the
    * widening, any upstream that quantizes timestamps to the gap
    * (hourly-bucketed events with a 1 h gap) would diverge from the
    * batch truth deterministically. Complete output mode for the
    * same reason as [[availableNowHourly]]: bounded replay never
    * advances the watermark past its last event. */
  def availableNowSessions(
      spark: SparkSession,
      eventsPath: String,
      gapSeconds: Long = 7200L): DataFrame =
    withShufflePartitions(spark, 8) {
    require(gapSeconds > 0, s"gapSeconds must be positive, got $gapSeconds")
    val gap = s"$gapSeconds seconds 1 microsecond"
    val agg = timedEventStream(spark, eventsPath)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"))
    val sink = s"stream_sessions_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = agg.writeStream.format("memory").queryName(sink)
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    drainMemorySink(spark, sink) { t =>
      t.groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), sum(col("n")).as("n_events"))
    }
  }

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long, event_type: String, value: Double)
  final case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

  /** Custom keyed state via mapGroupsWithState: per-user running
    * aggregate surviving across micro-batches (the
    * `KeyValueGroupedDataset` state API the batch engine can't
    * express). State is keyed, so it partitions across executors; a
    * production deployment would add an event-time timeout to evict
    * idle keys (processing-time timeouts force continuous empty
    * micro-batches, which also makes synchronous testing impossible). */
  def runningUserStats(
      spark: SparkSession,
      events: Dataset[Event]): Dataset[UserRunning] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](
        GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(userId, 0L, 0.0))
          val (n, v) = batch.foldLeft((prev.n_events, prev.total_value)) {
            case ((cn, cv), e) => (cn + 1, cv + e.value)
          }
          val next = UserRunning(userId, n, v)
          state.update(next)
          next
      }
  }

  /** Fourth oracle-graded streaming harness, covering CUSTOM KEYED
    * STATE ([[runningUserStats]]'s `mapGroupsWithState`): replay the
    * events fixture as an `AvailableNow` stream through the running
    * per-user aggregate and grade the FINAL state — update mode
    * emits one row per (user, micro-batch the user appears in), and
    * the running counter is monotone, so `max(n_events)` per user is
    * the final state regardless of how the source batches the
    * replay. Counts are the graded value (the running double sum is
    * arrival-order-dependent in representation; the count is not) —
    * oracle: plain `GROUP BY user_id` counts. */
  def availableNowRunningCounts(spark: SparkSession, eventsPath: String): DataFrame =
    withShufflePartitions(spark, 8) {
    import spark.implicits._
    val stats = runningUserStats(spark,
      timedEventStream(spark, eventsPath)
        .select("event_id", "ts", "user_id", "event_type", "value").as[Event])
    val sink = s"stream_state_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = stats.toDF().writeStream.format("memory").queryName(sink)
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    drainMemorySink(spark, sink) { t =>
      t.groupBy("user_id").agg(max(col("n_events")).as("n_events"))
    }
  }

  /** Fifth oracle-graded streaming harness, covering STREAM-STREAM
    * JOIN — the one stateful streaming family the others don't touch:
    * click→purchase attribution, every (click, purchase) pair of the
    * same user with the purchase inside `[click_ts, click_ts +
    * attribution]`, as a watermarked inner join of two INDEPENDENT
    * event streams (the real impression/conversion topology — two
    * sources, not a self-join alias).
    *
    * Both sides buffer in keyed state stores partitioned by user_id;
    * the time-range predicate plus the watermarks tell Spark when a
    * buffered row can no longer match and is evictable — at 100 TB
    * the watermark horizon IS the state bound, so a production
    * deployment sets it to the attribution window plus allowed
    * lateness. This harness runs the exactness configuration instead
    * (horizon watermark, nothing evicted before its match can
    * arrive — the same honest posture as the dedup harness): an inner
    * join's output is then arrival-order-independent, which is what
    * lets a DuckDB batch join grade it row-for-row.
    *
    * Timestamps are graded as epoch MICROS (`epoch_us` on the oracle
    * side): integer equality, no timezone/precision ambiguity. */
  def availableNowClickAttribution(
      spark: SparkSession,
      eventsPath: String,
      attribution: String = "2 hours"): DataFrame = {
    // a stream-stream join keeps FOUR state stores per shuffle
    // partition (two sides × key-to-count + keyed values), and every
    // micro-batch commits each of them — at the session default of 32
    // partitions that is 128 state-store commits per batch for a
    // fixture-sized state, and commit fsync noise dominated the
    // harness's wall-clock (measured 5-27s at 32 partitions vs 2.6-3s
    // at 8, same result). State-store partitioning is fixed by the
    // FIRST run against a checkpoint, so the override binds cleanly
    // to this query's throwaway checkpoint; a production deployment
    // sizes it to state volume / executor count instead. The same
    // [[withShufflePartitions]] pinning covers every bounded-replay
    // harness in this file (r17: hourly/dedup/sessions/state too).
    withShufflePartitions(spark, 8) {
      availableNowClickAttributionInner(spark, eventsPath, attribution)
    }
  }

  private def availableNowClickAttributionInner(
      spark: SparkSession,
      eventsPath: String,
      attribution: String): DataFrame = {
    val clicks = timedEventStream(spark, eventsPath)
      .where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "3650 days")
    val purchases = timedEventStream(spark, eventsPath)
      .where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "3650 days")
    val joined = clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $attribution"))
    val sink = s"stream_join_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = joined.writeStream.format("memory").queryName(sink)
      .outputMode("append") // the only mode stream-stream joins support
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    drainMemorySink(spark, sink) { t =>
      t.select(col("click_id"), col("purchase_id"), col("user_id"),
        unix_micros(col("click_ts")).as("click_us"),
        unix_micros(col("purchase_ts")).as("purchase_us"))
    }
  }

  /** K1 as a STREAMING WRITE: an `AvailableNow` file stream over a
    * landing directory appended into the WORK zone as parquet, with a
    * checkpoint. Heals an interrupted [[graft.sinks.Compaction]] swap
    * of the zone first. Exactly-once across restarts and crashes: the
    * checkpoint's file-source log skips inputs committed by any prior
    * run, and the parquet sink's `_spark_metadata` log commits output
    * files atomically per micro-batch (readers ignore orphans from a
    * batch that died mid-write). `maxFilesPerTrigger` bounds a
    * micro-batch, so recovery after downtime is paced instead of one
    * giant batch. Returns once every currently-available file is
    * committed; the caller then promotes WORK → TRUSTED (e.g.
    * [[graft.operators.IncrementalPromote]], whose K2 upsert makes
    * the promote leg idempotent too). */
  def streamIngestToWork(
      spark: SparkSession,
      landingDir: String,
      schema: org.apache.spark.sql.types.StructType,
      workPath: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 1): Unit = {
    graft.sinks.Compaction.recover(new org.apache.hadoop.fs.Path(workPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), workPath)
    val q = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(landingDir)
      .writeStream
      .format("parquet")
      .option("path", workPath)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** The stream's stable run identity, persisted as
    * `_graft_run_id` INSIDE the checkpoint dir — so it shares the
    * checkpoint's fate exactly: a crash/replay through the same
    * checkpoint reads the same id back ([[idempotentBatchAppend]]'s
    * republish-the-same-files contract holds), while a fresh or
    * deleted-and-recreated checkpoint mints a NEW id, putting its
    * batches in a new file namespace instead of clobbering files an
    * earlier run published under the restarted batch ids. Created
    * once, before the query starts (foreachBatch never races it). */
  private[graft] def ingestRunId(
      spark: SparkSession, checkpointDir: String): String = {
    val marker = new org.apache.hadoop.fs.Path(checkpointDir, "_graft_run_id")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      fs.mkdirs(marker.getParent)
      // MIGRATION: a checkpoint that already STARTED a batch but has
      // no run-id marker predates the namespacing — that stream OWNS
      // the un-namespaced `ingest-b<id>-*` files it published, and
      // its replayed batches must sweep them or duplicate rows.
      // Record that ownership (before the run-id marker, so a crash
      // between the two re-detects it) for [[ingestOwnsLegacy]].
      // "Started" means a non-empty `offsets` dir, not only a
      // non-empty `commits` dir: a pre-namespace run that crashed
      // AFTER publishing batch 0's un-namespaced corpus files but
      // BEFORE its first commit record left offsets/0 and an empty
      // commits dir — treating that as a fresh run would replay the
      // batch into the new namespace alongside the stale legacy
      // files, duplicating every row of the batch.
      val started = Seq("commits", "offsets").exists { d =>
        val p = new org.apache.hadoop.fs.Path(checkpointDir, d)
        fs.exists(p) && fs.listStatus(p)
          .exists(st => st.getPath.getName.forall(_.isDigit))
      }
      if (started)
        fs.create(new org.apache.hadoop.fs.Path(
          checkpointDir, "_graft_legacy_ns")).close()
      val tmp = new org.apache.hadoop.fs.Path(
        checkpointDir, s"._graft_run_id.${java.util.UUID.randomUUID}.tmp")
      val out = fs.create(tmp, true)
      out.write(java.util.UUID.randomUUID.toString
        .replace("-", "").take(12).getBytes("UTF-8"))
      out.close()
      // rename-if-absent: two racing drivers (misconfigured, but
      // cheap to defend) agree on whichever landed first
      if (!fs.rename(tmp, marker)) fs.delete(tmp, false)
    }
    val in = fs.open(marker)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
  }

  /** True when this checkpoint predates run-id namespacing (it
    * committed batches under the un-namespaced file scheme): its
    * replayed batches must sweep BOTH namespaces. A fresh checkpoint
    * never owns legacy files — that is the clobber protection. */
  private[graft] def ingestOwnsLegacy(
      spark: SparkSession, checkpointDir: String): Boolean =
    new org.apache.hadoop.fs.Path(checkpointDir, "_graft_legacy_ns")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(checkpointDir, "_graft_legacy_ns"))

  /** IDEMPOTENT corpus append for foreachBatch ingest: the batch is
    * staged under a hidden dir, then published as data files with
    * BATCH-ID-DERIVED DETERMINISTIC NAMES (`ingest-b<id>-p<i>`),
    * deleting any files a prior delivery of the same batch left
    * behind. A replayed batch therefore converges to the SAME file
    * set with the same contents instead of appending duplicates —
    * which is what keeps the sidecar indexes' one-row-per-key layout
    * guards satisfied across crash/replay: a plain `mode("append")`
    * would re-land the same ids in new files and wedge every
    * subsequent refresh on the duplicate guard.
    *
    * Crash points: staging is invisible to corpus reads (dot
    * prefix); the delete-then-rename publish is re-run from scratch
    * by the replay that follows any crash inside it. The row→file
    * binding must NOT depend on runtime parallelism (a restart on a
    * different core count re-packs file splits differently, and a
    * replayed publish would then put different rows under the SAME
    * already-indexed file names — rows silently skipped or
    * double-indexed), so the batch is hash-repartitioned on its own
    * columns with an EXPLICIT partition count derived from the
    * batch's row count: same rows → same hash → same file, whatever
    * the cluster looks like on replay. (Explicit numPartitions also
    * keeps AQE from re-coalescing the exchange.) The index's
    * file-set arithmetic then sees an already-indexed batch as
    * fully covered and does nothing.
    *
    * File names are NAMESPACED BY STREAM RUN (`runId`, from
    * [[ingestRunId]]): "delete any files a prior delivery left
    * behind" must mean THIS stream's prior delivery. Batch ids
    * restart at 0 under a fresh or reset checkpoint, so without the
    * namespace a new stream pointed at an already-populated corpus
    * would silently delete another run's `ingest-b0-*` data and
    * replace it with its own — silent data loss where plain append
    * merely duplicates. With the namespace, foreign runs' files are
    * never touched: a re-ingest of the same rows lands as NEW files
    * and the index layout guards trip LOUDLY on the duplicate ids
    * instead. */
  /** @return `(published, replaced)`: the published files'
    *         fully-qualified paths (the same form corpus listings and
    *         `_metadata.file_path` produce) — what the caller hands
    *         to the index refreshes' `appendedOnly` so per-batch
    *         maintenance plans without listing the corpus — and the
    *         PRIOR-DELIVERY file names the sweep actually deleted.
    *         `replaced` is the poison-pill set for name-keyed index
    *         coverage: a swept prior delivery either republished a
    *         name with possibly-DIFFERENT content (a config change
    *         re-packed the same rows across a different part count)
    *         or removed it outright — either way the index rows its
    *         coverage carries for those names are stale and must be
    *         vanished before the refresh, or the name-keyed
    *         `planAppend` silently serves the old binding (see its
    *         `replaced` parameter). Empty on every first delivery —
    *         the streaming steady state. */
  private[graft] def idempotentBatchAppend(
      spark: SparkSession,
      batch: DataFrame,
      corpusDir: String,
      batchId: Long,
      targetRowsPerFile: Long = 1L << 20,
      runId: String = "",
      sweepLegacy: Boolean = false,
      targetBytesPerFile: Long = 128L << 20): (Seq[String], Set[String]) = {
    val dir = new org.apache.hadoop.fs.Path(corpusDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ns = if (runId.isEmpty) "" else s"r$runId-"
    val staging = new org.apache.hadoop.fs.Path(
      corpusDir, s".ingest-staging-${ns}b$batchId")
    fs.delete(staging, true)
    // ONE pass over the batch: nParts derives from the batch's INPUT
    // FILE BYTES — driver-side getFileStatus over the trigger's file
    // list, O(batch files), no Spark job — so the shuffle+write is
    // the only executor pass (the r15 form paid an extra count()
    // pass per micro-batch). Deterministic across replay: the same
    // trigger re-reads the same landing files, so sizes — and with
    // them the row→file binding — repeat whatever the cluster looks
    // like. Batches with no file lineage (a localCheckpointed frame
    // in a spec, a non-file source) fall back to the count() pass
    // under targetRowsPerFile; a config or derivation change across
    // a restart is the replaced-names case the sweep already reports
    // and planAppend re-indexes.
    val inputs = graft.core.Jobs.described(spark, "ingest: input files") {
      batch.inputFiles }
    val nParts = math.max(1L,
      if (inputs.nonEmpty) {
        // Per parent directory: a SMALL slice sizes via per-file
        // getFileStatus (k RPCs, and a vanished input throws
        // FileNotFoundException LOUDLY — the signal we must keep,
        // since a silent 0-byte contribution would shift nParts and
        // the row→file binding across a replay); a larger batch pays
        // ONE listStatus instead of k round trips — listStatus is
        // O(parent-dir entries), so it only wins when the slice
        // isn't tiny relative to the landing dir — with an explicit
        // every-input-found check standing in for the lost
        // per-file exception.
        val bytes = inputs.groupBy(f =>
          new org.apache.hadoop.fs.Path(f).getParent).iterator.map {
          case (parent, files) =>
            val pfs = parent.getFileSystem(
              spark.sparkContext.hadoopConfiguration)
            if (files.length <= 8)
              files.iterator.map(f => pfs.getFileStatus(
                new org.apache.hadoop.fs.Path(f)).getLen).sum
            else {
              val names = files.map(f =>
                new org.apache.hadoop.fs.Path(f).getName).toSet
              val found = pfs.listStatus(parent).iterator
                .filter(st => names(st.getPath.getName))
                .map(st => st.getPath.getName -> st.getLen).toMap
              val missing = names -- found.keySet
              require(missing.isEmpty,
                s"batch input files vanished from $parent before " +
                  s"sizing: ${missing.take(3).mkString(", ")} — the " +
                  "byte-derived nParts (and the row→file binding) " +
                  "would silently shift across a replay")
              found.values.sum
            }
        }.sum
        (bytes + targetBytesPerFile - 1) / targetBytesPerFile
      } else (batch.count() + targetRowsPerFile - 1) / targetRowsPerFile
    ).toInt
    // nParts == 1: every row lands in the single p0 file, so the
    // row→file binding is deterministic WITHOUT the column-hash
    // shuffle — coalesce merges the input partitions shuffle-free
    // (one job instead of an exchange pair, guide §2.4). Multi-part
    // batches keep the hash repartition: there the binding must not
    // depend on input split order.
    graft.core.Jobs.described(spark, "ingest: stage batch") {
      (if (nParts == 1) batch.coalesce(1)
       else batch.repartition(nParts, batch.columns.map(col): _*))
        .write.mode("overwrite").parquet(staging.toString)
    }
    val prefix = s"ingest-${ns}b$batchId-"
    // sweep a prior delivery of this batch WITHOUT listing the corpus
    // (O(corpus-file-count) per batch at scale): the row→file binding
    // is deterministic, so a prior delivery of the same rows+config
    // used the SAME nParts and its names are constructible — delete
    // them by name (no-op where absent). A prior CRASHED publish has
    // a subset of those names. Part indices are contiguous from p0,
    // so ONE existence probe past the current range detects the only
    // uncovered case — a prior delivery with MORE parts (e.g.
    // targetRowsPerFile changed across a restart) — and falls back
    // to the prefix-listing sweep for exactly that delivery.
    // every name the sweep DELETES is recorded: those are files of a
    // prior delivery, and any index coverage keyed on them is stale
    // (the replaced-names contract in the scaladoc above)
    val replaced = scala.collection.mutable.HashSet.empty[String]
    def del(p: org.apache.hadoop.fs.Path): Unit =
      if (fs.delete(p, false)) replaced += fs.makeQualified(p).toString
    def sweep(pfx: String): Unit = {
      (0 until nParts).foreach(i => del(
        new org.apache.hadoop.fs.Path(dir, s"${pfx}p$i.parquet")))
      val sentinel = new org.apache.hadoop.fs.Path(
        dir, s"${pfx}p$nParts.parquet")
      if (fs.exists(sentinel)) {
        // sweep the rest FIRST, the sentinel LAST: a crash mid-sweep
        // then always leaves the sentinel in place, so the next
        // replay's probe re-triggers this fallback instead of
        // missing the surviving stale parts
        fs.listStatus(dir).filter(_.getPath.getName.startsWith(pfx))
          .filterNot(_.getPath.getName == sentinel.getName)
          .foreach(st => del(st.getPath))
        del(sentinel)
      }
    }
    sweep(prefix)
    // MIGRATION sweep: a checkpoint that predates run-id namespacing
    // ([[ingestOwnsLegacy]]) published this batch under the old
    // un-namespaced names — a replay must sweep those too, or the
    // republished batch silently duplicates every row. Only the
    // owning (pre-namespace) checkpoint gets this: a fresh stream
    // must never touch another run's legacy files.
    if (sweepLegacy && ns.nonEmpty) sweep(s"ingest-b$batchId-")
    val parts = fs.listStatus(staging)
      .filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      .sortBy(_.getPath.getName)
    val published = parts.zipWithIndex.map { case (st, i) =>
      val dest = new org.apache.hadoop.fs.Path(dir, s"${prefix}p$i.parquet")
      fs.rename(st.getPath, dest)
      fs.makeQualified(dest).toString
    }
    fs.delete(staging, true)
    (published.toSeq, replaced.toSet)
  }

  /** Streaming corpus ingest with LIVE inverted-index maintenance:
    * each checkpointed micro-batch appends to the corpus
    * (idempotently — [[idempotentBatchAppend]]) and then runs the
    * index's file-set arithmetic
    * ([[graft.sinks.InvertedIndex.collect]] on first contact,
    * [[graft.sinks.InvertedIndex.refresh]] after) — so search is
    * index-served the moment a batch lands, and maintenance cost per
    * batch is O(batch files), never a corpus rescan
    * (`InvertedIndexSpec` proves the no-rescan property with a
    * poisoned posting across a checkpointed restart).
    *
    * Crash posture: a replayed batch republishes the SAME corpus
    * files (deterministic names), so the index cannot diverge from
    * the corpus and the one-file-per-doc layout survives replay —
    * refresh derives purely from the file set on disk. */
  def streamIngestWithInvertedIndex(
      spark: SparkSession,
      landingDir: String,
      schema: org.apache.spark.sql.types.StructType,
      corpusDir: String,
      checkpointDir: String,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxFilesPerTrigger: Int = 1,
      compactEvery: Int = 16): Unit = {
    import graft.sinks.InvertedIndex
    streamIngestMaintaining(spark, landingDir, schema, corpusDir,
      checkpointDir, InvertedIndex.indexPath(corpusDir), maxFilesPerTrigger,
      compactEvery)(
      bootstrap = InvertedIndex.collect(spark, corpusDir, textCol, idCol),
      refresh = (files, replaced, prefixes) => InvertedIndex.refresh(spark,
        corpusDir, textCol, idCol, appendedOnly = Some(files.toSet),
        replaced = replaced, replacedPrefixes = prefixes),
      reconcile = InvertedIndex.refresh(spark, corpusDir, textCol, idCol),
      compact = InvertedIndex.compactSmall(spark, corpusDir))
  }

  /** Streaming vector ingest with LIVE ANN-index maintenance — the
    * IVF analogue of [[streamIngestWithInvertedIndex]]: each
    * checkpointed micro-batch appends to the vector table and runs
    * the persisted index's file-set arithmetic
    * ([[graft.sinks.IvfIndex.collect]] on first contact — the
    * centroids train on that batch and stay FROZEN —
    * [[graft.sinks.IvfIndex.refresh]] after: only the batch's files
    * are read and argmin-assigned). Probes are index-served the
    * moment a batch lands; at exhaustive probes results are exact
    * regardless of which prefix of the stream trained the
    * quantizer. Same replay-proof crash posture: refresh derives
    * purely from the file set on disk. */
  def streamIngestWithIvfIndex(
      spark: SparkSession,
      landingDir: String,
      schema: org.apache.spark.sql.types.StructType,
      corpusDir: String,
      checkpointDir: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      nCells: Int = 16,
      maxFilesPerTrigger: Int = 1,
      compactEvery: Int = 16): Unit = {
    import graft.sinks.IvfIndex
    streamIngestMaintaining(spark, landingDir, schema, corpusDir,
      checkpointDir, IvfIndex.cellsPath(corpusDir), maxFilesPerTrigger,
      compactEvery)(
      bootstrap = IvfIndex.collect(spark, corpusDir, idCol, vecCol, nCells),
      refresh = (files, replaced, prefixes) => IvfIndex.refresh(spark,
        corpusDir, idCol, vecCol, appendedOnly = Some(files.toSet),
        replaced = replaced, replacedPrefixes = prefixes),
      reconcile = IvfIndex.refresh(spark, corpusDir, idCol, vecCol),
      compact = IvfIndex.compactSmall(spark, corpusDir))
  }

  /** PQ sibling of [[streamIngestWithIvfIndex]]: the first batch
    * trains the frozen codebooks, every later micro-batch encodes
    * only its own files. */
  def streamIngestWithPqIndex(
      spark: SparkSession,
      landingDir: String,
      schema: org.apache.spark.sql.types.StructType,
      corpusDir: String,
      checkpointDir: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      m: Int = 8,
      ks: Int = 16,
      maxFilesPerTrigger: Int = 1,
      compactEvery: Int = 16): Unit = {
    import graft.sinks.PqIndex
    streamIngestMaintaining(spark, landingDir, schema, corpusDir,
      checkpointDir, PqIndex.codesPath(corpusDir), maxFilesPerTrigger,
      compactEvery)(
      bootstrap = PqIndex.collect(spark, corpusDir, idCol, vecCol, m, ks),
      refresh = (files, replaced, prefixes) => PqIndex.refresh(spark,
        corpusDir, idCol, vecCol, appendedOnly = Some(files.toSet),
        replaced = replaced, replacedPrefixes = prefixes),
      reconcile = PqIndex.refresh(spark, corpusDir, idCol, vecCol),
      compact = PqIndex.compactSmall(spark, corpusDir))
  }

  /** LSH sibling — the training-free one: maintenance needs only the
    * (planes, seed) metadata row. */
  def streamIngestWithLshIndex(
      spark: SparkSession,
      landingDir: String,
      schema: org.apache.spark.sql.types.StructType,
      corpusDir: String,
      checkpointDir: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      planes: Int = 4,
      maxFilesPerTrigger: Int = 1,
      compactEvery: Int = 16): Unit = {
    import graft.sinks.LshIndex
    streamIngestMaintaining(spark, landingDir, schema, corpusDir,
      checkpointDir, LshIndex.bucketsPath(corpusDir), maxFilesPerTrigger,
      compactEvery)(
      bootstrap = LshIndex.collect(spark, corpusDir, idCol, vecCol, planes),
      refresh = (files, replaced, prefixes) => LshIndex.refresh(spark,
        corpusDir, idCol, vecCol, appendedOnly = Some(files.toSet),
        replaced = replaced, replacedPrefixes = prefixes),
      reconcile = LshIndex.refresh(spark, corpusDir, idCol, vecCol),
      compact = LshIndex.compactSmall(spark, corpusDir))
  }

  /** The shared streaming-maintenance driver behind the three index
    * flows: each checkpointed micro-batch appends to the corpus
    * IDEMPOTENTLY ([[idempotentBatchAppend]] — a replayed batch
    * republishes the same deterministic file names instead of
    * duplicating rows), then bootstraps the index on first contact
    * (`indexMarker` absent) or runs its O(delta) file-set refresh in
    * APPEND-ONLY form: the plan derives from the files the batch
    * just published against the memoized coverage map
    * ([[graft.sinks.SidecarMaintenance.planAppend]]) — no corpus
    * directory listing, so per-batch driver work is O(batch) even
    * over a million-file corpus. Out-of-band deletions (a purge
    * between batches) are reconciled by the FULL-diff `reconcile`
    * refresh on the compaction cadence — until then a vanished
    * file's rows are served exactly as they would be between any two
    * full refreshes. Replay-proof by construction: maintenance
    * derives purely from the file set on disk, and replay converges
    * to the same file set — so a batch re-delivered after any crash
    * point is either already covered (refresh no-ops) or indexed
    * like any other.
    *
    * Every `compactEvery`-th batch additionally runs the SIZE-TIERED
    * compaction ([[graft.sinks.SidecarMaintenance.compactSmall]]):
    * only the per-refresh small-file accumulation is repacked —
    * O(accumulated deltas) per cadence, never O(sidecar), so on
    * corpus-scale sidecars (IVF cells / LSH buckets carry full
    * embeddings; postings are text-scale) the cadence never
    * schedules a corpus rewrite. BatchId-keyed, so the cadence is
    * itself stable under replay; the whole-sidecar `compact` stays
    * available as an explicit offline layout reset. */
  private def streamIngestMaintaining(
      spark: SparkSession,
      landingDir: String,
      schema: org.apache.spark.sql.types.StructType,
      corpusDir: String,
      checkpointDir: String,
      indexMarker: String,
      maxFilesPerTrigger: Int,
      compactEvery: Int)(
      bootstrap: => Unit,
      refresh: (Seq[String], Set[String], Seq[String]) => Unit,
      reconcile: => Unit,
      compact: => Unit): Unit = {
    val runId = ingestRunId(spark, checkpointDir)
    val ownsLegacy = ingestOwnsLegacy(spark, checkpointDir)
    val q = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(landingDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val (published, replaced) = graft.core.Jobs.described(spark,
          s"stream: append b$batchId") {
          idempotentBatchAppend(spark,
            batch.toDF(), corpusDir, batchId, runId = runId,
            sweepLegacy = ownsLegacy)
        }
        val marker = new org.apache.hadoop.fs.Path(indexMarker)
        val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // per-batch: APPEND-ONLY refresh planned from the files this
        // batch just published — no corpus listing, no vanish diff
        // (O(batch) driver work; see planAppend). `replaced` carries
        // the prior-delivery names the replay swept: their coverage
        // entries are stale bindings (possibly different content
        // under the same name after a config-changed replay, possibly
        // gone outright) and the refresh vanishes them before
        // indexing the republished content — without it the
        // name-keyed plan would no-op on a republished name and
        // silently serve the old row set. The batch's deterministic
        // NAME PREFIXES are the crash-durable complement: the sweep
        // can only report names still on disk, so a replay whose
        // prior attempt crashed between publish and refresh commit
        // would under-report — covered entries matching the prefix
        // vanish regardless of what this attempt's sweep observed
        // (empty match on every first delivery, so the steady state
        // pays nothing). The slow cadence below reconciles
        // out-of-band deletions with a full diff.
        val prefixes =
          Seq(s"ingest-${if (runId.isEmpty) "" else s"r$runId-"}b$batchId-") ++
            (if (ownsLegacy && runId.nonEmpty) Seq(s"ingest-b$batchId-")
             else Nil)
        if (fs.exists(marker)) graft.core.Jobs.described(spark,
          s"stream: refresh b$batchId") { refresh(published, replaced, prefixes) }
        else graft.core.Jobs.described(spark,
          s"stream: bootstrap b$batchId") { bootstrap }
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0) {
          graft.core.Jobs.described(spark, s"stream: reconcile b$batchId") {
            reconcile }
          graft.core.Jobs.described(spark, s"stream: compact b$batchId") {
            compact }
        }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming delete-aware CDC apply: each micro-batch of an
    * ordered I/U/D change-log stream is folded (latest change per
    * key within the batch) and applied into the TRUSTED table behind
    * the K2 staging swap — the delete-aware analogue of the
    * foreachBatch merge in `flow_stream_merge`, composing
    * [[graft.sinks.MergeUpsert.applyChangesInto]] with the
    * checkpointed file source.
    *
    * Exactly-once effect across restarts and crashes: the
    * checkpoint's source log skips files a prior run committed, and
    * a batch re-delivered after a crash-between-apply-and-commit
    * re-applies IDENTICAL winners — upserts replace with the same
    * row, deletes of an absent key are no-ops — so replay converges
    * to the same table (idempotent apply, the same story as the
    * streaming merge).
    *
    * Ordering contract (inherited from sequential application):
    * across micro-batches a key's changes must arrive in
    * non-decreasing `seqCols` order — i.e. the change-log files land
    * in log order, which the file source preserves (oldest
    * modification time first). WITHIN a batch any mix is fine (the
    * fold orders by `seqCols`). A log that interleaves a key's
    * changes across out-of-order files needs a boundedly-late
    * reorder buffer upstream — same contract every log-shipping
    * consumer has.
    *
    * Plan per batch: one map-side-limited fold shuffle + one
    * anti-join against trusted — O(batch + table-rewrite), with the
    * partition-aware merge as the 100 TB mitigation (see
    * `flow_stream_merge`'s audit note). */
  /** Streaming rules-based quarantine routing: each checkpointed
    * micro-batch is evaluated against the declarative expectation
    * rules ([[graft.ext.Expectations.flagViolations]]) and routed —
    * clean rows to `cleanDir`, violating rows (with their
    * `violations` audit column) to `quarantineDir`. The
    * quarantine-not-crash posture of the corpus reader, for
    * STRUCTURED rules on a live stream.
    *
    * Exactly-once: each batch writes to its own `batch_id=<n>`
    * subdirectory with OVERWRITE — a replayed batch rewrites the
    * same directory with the same rows, so restarts never duplicate
    * (the standard foreachBatch idempotent-sink discipline; the
    * spec re-routes a batch id directly to prove it). Read the
    * routed tables back with [[readRouted]].
    *
    * Rule semantics are batch-local: scalar rules are row-local
    * anyway; a uniqueness rule would flag duplicates WITHIN a batch
    * only (cross-batch uniqueness is keyed-state territory —
    * [[availableNowDedupCount]]'s job, not a row audit's), and an RI
    * dimension is read fresh per batch. */
  def streamValidateRoute(
      spark: SparkSession,
      landingDir: String,
      schema: org.apache.spark.sql.types.StructType,
      cleanDir: String,
      quarantineDir: String,
      checkpointDir: String,
      rules: Seq[graft.ext.Expectations.Expectation],
      maxFilesPerTrigger: Int = 1): Unit = {
    val q = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(landingDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        routeBatch(batch, rules, cleanDir, quarantineDir, id)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  private[graft] def routeBatch(
      batch: Dataset[org.apache.spark.sql.Row],
      rules: Seq[graft.ext.Expectations.Expectation],
      cleanDir: String,
      quarantineDir: String,
      id: Long): Unit = {
    // flags computed once (eager pin), then two filtered writes
    val flagged = graft.ext.Expectations.flagViolations(batch.toDF(), rules)
      .localCheckpoint(true)
    flagged.where(col("violations") === "").drop("violations")
      .write.mode("overwrite").parquet(s"$cleanDir/batch_id=$id")
    flagged.where(col("violations") =!= "")
      .write.mode("overwrite").parquet(s"$quarantineDir/batch_id=$id")
  }

  /** Reads a [[streamValidateRoute]] output table (the explicit
    * schema keeps the read alive when every batch routed to the
    * OTHER side and this one holds only empty batch dirs). */
  def readRouted(
      spark: SparkSession,
      dir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).parquet(dir).drop("batch_id")

  def streamApplyChanges(
      spark: SparkSession,
      changeLogDir: String,
      schema: org.apache.spark.sql.types.StructType,
      trustedPath: String,
      checkpointDir: String,
      key: String,
      seqCols: Seq[String] = Seq("seq"),
      opCol: String = "op",
      maxFilesPerTrigger: Int = 1): Unit = {
    val q = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(changeLogDir)
      .writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.sinks.MergeUpsert.applyChangesInto(
          spark, trustedPath, batch, key, seqCols, opCol)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming incremental view maintenance: a signed-delta stream
    * ([[graft.operators.Cdc.signedDelta]] shape — `__sign` ±1 rows)
    * folded per micro-batch into a persistent aggregate state table
    * via [[graft.sinks.AggStateSink.maintainInto]]. The counting
    * algorithm as a streaming sink: state after batch k feeds batch
    * k+1, the base table is never consulted, and each batch costs
    * one |state|+|churn| union with a single exchange.
    *
    * Exactly-once is TRANSACTIONAL here, not idempotent — replaying
    * a delta double-counts — so the sink commits the applied batch
    * id atomically with each state swap and skips re-delivered
    * batches (see [[graft.sinks.AggStateSink]]). Signed deltas
    * commute (the fold is a sum), so the ordering contract is weaker
    * than [[streamApplyChanges]]'s: any tiling works as long as each
    * PREFIX of the batch sequence is a valid multiset difference
    * against the current state — a retraction must not arrive before
    * the insertion it cancels (maintained counts would go negative
    * transiently, and the n>0 group drop makes that lossy). Within
    * that contract retractions and additions may land in separate
    * batches in either order.
    *
    * A `+1`-signed load of the initial snapshot bootstraps the state
    * through the same path (zero state + snapshot multiset ==
    * `aggState` of the snapshot), so bootstrap and maintenance are
    * one code path. */
  def streamMaintainAgg(
      spark: SparkSession,
      deltaDir: String,
      schema: org.apache.spark.sql.types.StructType,
      statePath: String,
      checkpointDir: String,
      groupCols: Seq[String],
      sumCols: Seq[String],
      maxFilesPerTrigger: Int = 1): Unit = {
    val q = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(deltaDir)
      .writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        graft.sinks.AggStateSink.maintainInto(
          spark, statePath, batch, groupCols, sumCols, id)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming CDC apply WITH piggybacked IVM: each I/U/D micro-batch
    * folds into TRUSTED (delete-aware, idempotent) AND into a
    * maintained aggregate state — the state's delta comes from
    * [[graft.operators.Cdc.logDelta]] (before-images probed from the
    * PRE-batch table by the batch's broadcast keys, after-images from
    * the log fold), so neither path ever rescans the table.
    *
    * Crash-consistency across the TWO stores orders the writes:
    * the state (transactional — [[graft.sinks.AggStateSink]]'s
    * batch-id marker rides the swap) commits FIRST, the table apply
    * (idempotent) second. Any replay then lands safely: state
    * already applied → guard skips it, table re-applies the same
    * batch onto the same pre-image; state not applied → the table is
    * also untouched, so the recomputed before-images are still
    * correct. The reverse order would be wrong: a crash between a
    * table apply and the state commit would recompute before-images
    * from the POST-apply table and lose the change. The delta is
    * pinned eagerly for the same reason — its lazy plan reads the
    * table the apply is about to swap out.
    */
  def streamApplyChangesWithAgg(
      spark: SparkSession,
      changeLogDir: String,
      schema: org.apache.spark.sql.types.StructType,
      trustedPath: String,
      statePath: String,
      checkpointDir: String,
      key: String,
      groupCols: Seq[String],
      sumCols: Seq[String],
      seqCols: Seq[String] = Seq("seq"),
      opCol: String = "op",
      maxFilesPerTrigger: Int = 1): Unit = {
    val q = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(changeLogDir)
      .writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val storage = graft.core.LakeStorage(spark)
        val alreadyMaintained = graft.sinks.AggStateSink
          .appliedBatch(spark, statePath).exists(_ >= id)
        if (!alreadyMaintained) {
          val payload = batch.drop((opCol +: seqCols): _*)
          // payload schema == table schema by contract; explicit
          // schema skips the per-micro-batch inference job (guide §5)
          val pre =
            if (storage.exists(trustedPath))
              graft.sinks.ParquetMemo.readContract(spark, trustedPath, payload.schema)
            else spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              payload.schema)
          val delta = graft.operators.Cdc
            .logDelta(pre, batch.toDF(), Seq(key), seqCols, opCol)
            .localCheckpoint(true)
          graft.sinks.AggStateSink.maintainInto(
            spark, statePath, delta, groupCols, sumCols, id)
        }
        graft.sinks.MergeUpsert.applyChangesInto(
          spark, trustedPath, batch, key, seqCols, opCol)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** [[streamApplyChangesWithAgg]]'s JOIN-VIEW sibling: the
    * maintained state aggregates over `fact ⋈/⟕ dim` with the
    * DIMENSION FROZEN for the stream's lifetime (a churning dimension
    * needs the two-sided [[graft.operators.Cdc.joinDelta]] /
    * `leftJoinDelta` batch path). With ΔB = 0 the outer-join delta
    * algebra degenerates to joining the fact's signed delta itself:
    * Δ(A ⟕ B) = ΔA ⟕ B — matched delta rows pair with their dim rows,
    * unmatched ones null-extend, each carrying its own ±sign;
    * leftJoinDelta's zero-crossing transition term is identically
    * empty because the dim's match counts never change. (And
    * Δ(A ⋈ B) = ΔA ⋈ B for the inner flavor.)
    *
    * Per batch the cost is one churn-sized join against the dim (AQE
    * broadcasts the delta side); the fact table, the dim, and the
    * view are never rescanned. Same crash-consistency write order as
    * the aggregate sibling: transactional state first, idempotent
    * table apply second. */
  def streamApplyChangesWithJoinAgg(
      spark: SparkSession,
      changeLogDir: String,
      schema: org.apache.spark.sql.types.StructType,
      trustedPath: String,
      dimPath: String,
      statePath: String,
      checkpointDir: String,
      key: String,
      on: Seq[String],
      groupCols: Seq[String],
      sumCols: Seq[String],
      joinType: String = "left",
      seqCols: Seq[String] = Seq("seq"),
      opCol: String = "op",
      maxFilesPerTrigger: Int = 1): Unit = {
    require(Seq("inner", "left").contains(joinType),
      s"join-view maintenance supports inner or left, got $joinType")
    // the dim is FROZEN by contract, so load and pin it ONCE — the
    // per-batch body must not pay a dim scan (or even a footer read)
    // per micro-batch
    val dim = spark.read.parquet(dimPath)
      .localCheckpoint(true)
    val clash = dim.columns.filterNot(on.contains)
    val q = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(changeLogDir)
      .writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val storage = graft.core.LakeStorage(spark)
        val alreadyMaintained = graft.sinks.AggStateSink
          .appliedBatch(spark, statePath).exists(_ >= id)
        if (!alreadyMaintained) {
          val payload = batch.drop((opCol +: seqCols): _*)
          // payload schema == table schema by contract; explicit
          // schema skips the per-micro-batch inference job (guide §5)
          val pre =
            if (storage.exists(trustedPath))
              graft.sinks.ParquetMemo.readContract(spark, trustedPath, payload.schema)
            else spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              payload.schema)
          val factDelta = graft.operators.Cdc
            .logDelta(pre, batch.toDF(), Seq(key), seqCols, opCol)
            .localCheckpoint(true)
          val dimClash = clash.intersect(factDelta.columns)
          require(dimClash.isEmpty,
            s"dim non-key columns ${dimClash.mkString(", ")} collide with " +
              "the fact payload — rename them; the view needs one column " +
              "per name")
          val viewDelta = factDelta.join(dim, on.toSeq, joinType)
          graft.sinks.AggStateSink.maintainInto(
            spark, statePath, viewDelta, groupCols, sumCols, id)
        }
        graft.sinks.MergeUpsert.applyChangesInto(
          spark, trustedPath, batch, key, seqCols, opCol)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** [[streamApplyChangesWithAgg]]'s extrema sibling: the maintained
    * state is MIN/MAX ([[graft.operators.Cdc.maintainExtrema]]),
    * whose recompute path needs the POST-batch table — supplied
    * LAZILY as the apply's own `appliedChanges(pre, batch)` plan and
    * evaluated during the state write, which runs BEFORE the table
    * swap (same state-first crash-consistency order, same
    * transactional guard). An append-only batch folds without
    * touching that plan at all (empty endangered-key set →
    * empty-relation propagation); a batch that retracts an extremum
    * pays one pass of it for the endangered groups.
    */
  def streamApplyChangesWithExtrema(
      spark: SparkSession,
      changeLogDir: String,
      schema: org.apache.spark.sql.types.StructType,
      trustedPath: String,
      statePath: String,
      checkpointDir: String,
      key: String,
      groupCols: Seq[String],
      extCols: Seq[String],
      seqCols: Seq[String] = Seq("seq"),
      opCol: String = "op",
      maxFilesPerTrigger: Int = 1): Unit = {
    val q = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(changeLogDir)
      .writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val storage = graft.core.LakeStorage(spark)
        val alreadyMaintained = graft.sinks.AggStateSink
          .appliedBatch(spark, statePath).exists(_ >= id)
        if (!alreadyMaintained) {
          val payload = batch.drop((opCol +: seqCols): _*)
          // payload schema == table schema by contract; explicit
          // schema skips the per-micro-batch inference job (guide §5)
          val pre =
            if (storage.exists(trustedPath))
              graft.sinks.ParquetMemo.readContract(spark, trustedPath, payload.schema)
            else spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              payload.schema)
          val delta = graft.operators.Cdc
            .logDelta(pre, batch.toDF(), Seq(key), seqCols, opCol)
            .localCheckpoint(true)
          val baseAfter = graft.sinks.MergeUpsert
            .appliedChanges(pre, batch.toDF(), key, seqCols, opCol)
          graft.sinks.AggStateSink.maintainExtremaInto(
            spark, statePath, delta, baseAfter, groupCols, extCols, id)
        }
        graft.sinks.MergeUpsert.applyChangesInto(
          spark, trustedPath, batch, key, seqCols, opCol)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming WORK-zone ingestion: the K1 append flow as a stream —
    * files landing in the WORK directory are discovered incrementally
    * (`maxFilesPerTrigger` paces recovery after downtime). */
  def workStream(
      spark: SparkSession,
      workPath: String,
      schema: org.apache.spark.sql.types.StructType,
      maxFilesPerTrigger: Int = 100): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(workPath)
}
