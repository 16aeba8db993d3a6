package graft

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Event
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ev(id: Long, t: String, user: Long, typ: String, v: Double) =
    Event(id, Timestamp.valueOf(t), user, typ, v)

  test("windowed event stats aggregate by event-time window") {
    val input = MemoryStream[Event](spark)
    input.addData(
      ev(1, "2024-01-01 00:01:00", 1, "click", 1.0),
      ev(2, "2024-01-01 00:02:00", 1, "click", 2.0),
      ev(3, "2024-01-01 00:07:00", 2, "view", 5.0))
    val q = StreamingOps.windowedEventStats(input.toDF())
      .writeStream.format("memory").queryName("win_stats")
      .outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("win_stats")
        .selectExpr("win.start", "event_type", "n", "total_value")
        .collect().map(r => (r.getAs[Any](0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(rows.exists { case (w, t, n, v) => t == "click" && n == 2 && v == 3.0 })
      assert(rows.exists { case (w, t, n, v) => t == "view" && n == 1 && v == 5.0 })
    } finally q.stop()
  }

  test("streaming promote dedups by sk within the watermark") {
    val input = MemoryStream[Event](spark)
    input.addData(
      ev(1, "2024-01-01 00:01:00", 1, "click", 1.0),
      ev(1, "2024-01-01 00:01:00", 1, "click", 1.0), // exact dup in-batch
      ev(2, "2024-01-01 00:02:00", 2, "view", 2.0))
    val q = StreamingOps.streamingPromote(
      input.toDF(), skIds = Seq("event_id"), eventTimeCol = "ts")
      .writeStream.format("memory").queryName("spromote")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val out = spark.table("spromote")
      assert(out.count() == 2)
      assert(out.columns.contains("sk") && out.columns.contains("timestamp_kafka"))
    } finally q.stop()
  }

  test("workStream discovers WORK files incrementally and feeds streaming promote") {
    val workDir = java.nio.file.Files.createTempDirectory("graft-workstream").toString + "/work"
    val batch1 = Seq(ev(1, "2024-01-01 00:01:00", 1, "click", 1.0),
      ev(2, "2024-01-01 00:02:00", 1, "view", 2.0)).toDF()
    graft.sinks.ParquetAppend.write(batch1, workDir)

    val stream = StreamingOps.workStream(spark, workDir, batch1.schema)
    val q = StreamingOps.streamingPromote(stream, skIds = Seq("event_id"), eventTimeCol = "ts")
      .writeStream.format("memory").queryName("workstream_out")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(spark.table("workstream_out").count() == 2)
      // a second file landing in WORK is picked up incrementally
      val batch2 = Seq(ev(3, "2024-01-01 00:03:00", 2, "click", 3.0)).toDF()
      graft.sinks.ParquetAppend.write(batch2, workDir)
      q.processAllAvailable()
      assert(spark.table("workstream_out").count() == 3)
      assert(spark.table("workstream_out").select("sk").distinct().count() == 3)
    } finally q.stop()
  }

  test("stateful running user stats accumulate across micro-batches") {
    val input = MemoryStream[Event](spark)
    val q = StreamingOps.runningUserStats(spark, input.toDS())
      .writeStream.format("memory").queryName("running")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(ev(1, "2024-01-01 00:01:00", 7, "click", 1.0))
      q.processAllAvailable()
      input.addData(ev(2, "2024-01-01 00:02:00", 7, "click", 4.0))
      q.processAllAvailable()
      val latest = spark.table("running")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(latest.contains((7L, 2L, 5.0)))
    } finally q.stop()
  }

  test("streaming lake ingest: checkpoint restart processes each landed file exactly once") {
    import graft.core.{Clock, DatasetRef, LakePaths}
    import graft.operators.IncrementalPromote
    import graft.streaming.StreamingOps
    val root = java.nio.file.Files
      .createTempDirectory("graft-streamflow").toString
    val lake = LakePaths(s"$root/lake")
    val ref = DatasetRef("spec", "stream", "events")
    val landing = s"$root/landing"
    val ckpt = s"$root/ckpt"

    val batch1 = Seq(
      ev(1, "2024-01-01 00:01:00", 1, "click", 1.0),
      ev(2, "2024-01-01 00:02:00", 1, "view", 2.0)).toDF()
    graft.sinks.ParquetAppend.write(batch1, landing)
    StreamingOps.streamIngestToWork(
      spark, landing, batch1.schema, lake.work(ref), ckpt)
    val r1 = IncrementalPromote.run(spark, ref, lake,
      skIds = Seq("event_id"), clock = Clock.ForOracle)
    assert(r1.rowsMerged == 2)
    assert(spark.read.parquet(lake.trusted(ref)).count() == 2)

    // "crash": the first streaming query is gone. New files land; a
    // NEW query on the SAME checkpoint must pick up only the unseen
    // file — batch1's file is in the checkpoint's source log — and
    // the K2 upsert replaces the overlapping sk instead of duplicating
    val batch2 = Seq(
      ev(2, "2024-01-01 00:02:00", 1, "view", 99.0), // same sk, new value
      ev(3, "2024-01-01 00:03:00", 2, "click", 3.0)).toDF()
    graft.sinks.ParquetAppend.write(batch2, landing)
    StreamingOps.streamIngestToWork(
      spark, landing, batch1.schema, lake.work(ref), ckpt)
    val r2 = IncrementalPromote.run(spark, ref, lake,
      skIds = Seq("event_id"), clock = Clock.ForOracle)
    assert(r2.rowsMerged == 2) // only batch2's rows re-promoted
    val trusted = spark.read.parquet(lake.trusted(ref))
    assert(trusted.count() == 3) // no duplicate of event 2
    assert(trusted.where($"event_id" === 2).select("value")
      .as[Double].head() == 99.0) // upsert took the newer row
    // WORK holds each landed row exactly once (no batch1 re-ingest)
    assert(spark.read.parquet(lake.work(ref)).count() == 4)
  }

  test("streaming CDC apply: restart resumes mid-log, final table == batch apply truth") {
    import graft.streaming.StreamingOps
    val root = java.nio.file.Files
      .createTempDirectory("graft-streamcdc").toString
    val landing = s"$root/changes"
    val trusted = s"$root/trusted"
    val ckpt = s"$root/ckpt"

    def chg(rows: (Long, String, Int, String)*) =
      rows.toDF("k", "payload", "seq", "op")
    // log tier 1: insert a,b,c (keys 1,2,3)
    val tier1 = chg((1L, "a", 1, "I"), (2L, "b", 1, "I"), (3L, "c", 1, "I"))
    tier1.coalesce(1).write.parquet(landing)
    StreamingOps.streamApplyChanges(
      spark, landing, tier1.schema, trusted, ckpt, key = "k")
    assert(spark.read.parquet(trusted).count() == 3)

    // "crash": that query is gone. Tier 2 (update k=2, delete k=3)
    // and tier 3 (re-insert k=3) land; a NEW query on the SAME
    // checkpoint must apply only the unseen files, in landed order.
    chg((2L, "B", 2, "U"), (3L, "c", 2, "D")).coalesce(1)
      .write.mode("append").parquet(landing)
    chg((3L, "C2", 3, "I")).coalesce(1)
      .write.mode("append").parquet(landing)
    StreamingOps.streamApplyChanges(
      spark, landing, tier1.schema, trusted, ckpt, key = "k")

    val log = spark.read.parquet(landing)
    val truth = graft.sinks.MergeUpsert.appliedChanges(
      chg().drop("seq", "op"), log, key = "k")
    val got = spark.read.parquet(trusted).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == truth.collect().map(r => (r.getLong(0), r.getString(1))).toSet)
    assert(got == Set((1L, "a"), (2L, "B"), (3L, "C2")),
      "delete-then-reinsert must keep the reinsert; update must replace")

    // exactly-once: a third run with NO new files changes nothing —
    // the checkpoint's source log holds every committed file
    StreamingOps.streamApplyChanges(
      spark, landing, tier1.schema, trusted, ckpt, key = "k")
    assert(spark.read.parquet(trusted).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == got)

    new graft.core.LakeStorage(spark.sparkContext.hadoopConfiguration)
      .truncate(root)
  }

  test("streaming IVM: replayed batch skipped (transactional guard), restart resumes") {
    import graft.sinks.AggStateSink
    import graft.streaming.StreamingOps
    val root = java.nio.file.Files
      .createTempDirectory("graft-streamivm").toString
    def d(rows: (Int, String, Option[Int])*) =
      rows.toDF("__sign", "g", "v")
    def state(path: String): Map[String, (Long, Long, Option[String])] =
      spark.read.parquet(path).collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2),
          Option(r.getDecimal(3)).map(_.toPlainString)))).toMap

    // direct sink: bootstrap is batch 0 at +1
    val sp = s"$root/state"
    val b0 = d((1, "a", Some(10)), (1, "a", Some(20)), (1, "b", None))
    assert(AggStateSink.maintainInto(spark, sp, b0, Seq("g"), Seq("v"), 0L))
    val s0 = state(sp)
    assert(s0("a")._1 == 2 && s0("b") == ((1L, 0L, None)))
    // REPLAY of batch 0 (crash between swap and checkpoint commit):
    // the recorded id makes it a no-op — maintenance would otherwise
    // double-count
    assert(!AggStateSink.maintainInto(spark, sp, b0, Seq("g"), Seq("v"), 0L))
    assert(state(sp) == s0)
    // a NEW batch id applies
    assert(AggStateSink.maintainInto(
      spark, sp, d((-1, "a", Some(10))), Seq("g"), Seq("v"), 1L))
    val s1 = state(sp)
    assert(s1("a")._1 == 1 && s1("a")._3.exists(_.startsWith("20")))

    // streaming end-to-end with restart across landed delta files
    val landing = s"$root/deltas"
    val sp2 = s"$root/state2"
    val ckpt = s"$root/ckpt"
    val t0 = d((1, "g", Some(1)), (1, "g", Some(2)), (1, "h", Some(5)))
    t0.coalesce(1).write.parquet(landing)
    StreamingOps.streamMaintainAgg(
      spark, landing, t0.schema, sp2, ckpt, Seq("g"), Seq("v"))
    assert(state(sp2)("g")._1 == 2 && state(sp2)("h")._1 == 1)

    // "crash"; more deltas land: h fully retracted (group must
    // vanish), g gains a NULL row. New query, same checkpoint.
    d((-1, "h", Some(5))).coalesce(1).write.mode("append").parquet(landing)
    d((1, "g", None)).coalesce(1).write.mode("append").parquet(landing)
    StreamingOps.streamMaintainAgg(
      spark, landing, t0.schema, sp2, ckpt, Seq("g"), Seq("v"))
    val s2 = state(sp2)
    assert(!s2.contains("h"), "fully retracted group must vanish")
    assert(s2("g") == ((3L, 2L, Some("3.000000"))))

    // no new files: a third run must change nothing
    StreamingOps.streamMaintainAgg(
      spark, landing, t0.schema, sp2, ckpt, Seq("g"), Seq("v"))
    assert(state(sp2) == s2)

    new graft.core.LakeStorage(spark.sparkContext.hadoopConfiguration)
      .truncate(root)
  }

  test("CDC apply with piggybacked IVM: state tracks the table across restart") {
    import graft.streaming.StreamingOps
    val root = java.nio.file.Files
      .createTempDirectory("graft-streamcdcivm").toString
    val landing = s"$root/changes"
    val trusted = s"$root/trusted"
    val statePath = s"$root/state"
    val ckpt = s"$root/ckpt"
    def chg(rows: (Long, String, Option[java.math.BigDecimal], Int, String)*) =
      rows.toDF("k", "g", "v", "seq", "op")
        .withColumn("v",
          org.apache.spark.sql.functions.col("v").cast("decimal(12,2)"))
    def dec(s: String) = Some(new java.math.BigDecimal(s))
    def run(): Unit = StreamingOps.streamApplyChangesWithAgg(
      spark, landing, spark.read.parquet(landing).schema,
      trusted, statePath, ckpt,
      key = "k", groupCols = Seq("g"), sumCols = Seq("v"))
    def state(): Map[String, (Long, Long, Option[String])] =
      spark.read.parquet(statePath).collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2),
          Option(r.getDecimal(3)).map(_.toPlainString)))).toMap

    chg((1L, "a", dec("10"), 1, "I"), (2L, "a", dec("20"), 1, "I"),
      (3L, "b", None, 1, "I")).coalesce(1).write.parquet(landing)
    run()
    assert(state()("a") == ((2L, 2L, Some("30.000000"))))
    assert(state()("b") == ((1L, 0L, None)))

    // "crash"; tier 2: update k=1 (value change), delete k=2 (group a
    // shrinks), delete k=3 (group b vanishes), insert k=4 new group
    chg((1L, "a", dec("15"), 2, "U"), (2L, "a", dec("20"), 2, "D"),
      (3L, "b", None, 2, "D"), (4L, "c", dec("7"), 2, "I"))
      .coalesce(1).write.mode("append").parquet(landing)
    run()
    val s2 = state()
    assert(s2("a") == ((1L, 1L, Some("15.000000"))))
    assert(!s2.contains("b"), "fully deleted group must vanish from the state")
    assert(s2("c") == ((1L, 1L, Some("7.000000"))))
    // state must equal a recompute over the final table, always
    val recomputed = graft.operators.Cdc.aggState(
      spark.read.parquet(trusted).select("g", "v"), Seq("g"), Seq("v"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2),
          Option(r.getDecimal(3)).map(_.toPlainString)))).toMap
    assert(s2 == recomputed)

    // no new files: a third run changes neither store
    run()
    assert(state() == s2)

    new graft.core.LakeStorage(spark.sparkContext.hadoopConfiguration)
      .truncate(root)
  }

  test("CDC apply with piggybacked JOIN-view IVM: state == recompute over table ⟕ dim across restart") {
    import graft.streaming.StreamingOps
    val root = java.nio.file.Files
      .createTempDirectory("graft-streamjoinivm").toString
    val landing = s"$root/changes"
    val trusted = s"$root/trusted"
    val dimPath = s"$root/dim"
    val statePath = s"$root/state"
    val ckpt = s"$root/ckpt"
    // frozen dimension; fact kd = 99 and NULL never match (extensions)
    Seq((10L, "A"), (20L, "B")).toDF("kd", "seg")
      .coalesce(1).write.parquet(dimPath)
    def chg(rows: (Long, Option[Long], Option[Long], Int, String)*) =
      rows.toDF("k", "kd", "v", "seq", "op")
    def run(): Unit = StreamingOps.streamApplyChangesWithJoinAgg(
      spark, landing, spark.read.parquet(landing).schema,
      trusted, dimPath, statePath, ckpt,
      key = "k", on = Seq("kd"), groupCols = Seq("seg"), sumCols = Seq("v"))
    def state(): Map[Option[String], (Long, Long, Option[String])] =
      spark.read.parquet(statePath).collect()
        .map(r => Option(r.getString(0)) ->
          ((r.getLong(1), r.getLong(2),
            Option(r.getDecimal(3)).map(_.toPlainString)))).toMap

    chg((1L, Some(10L), Some(5L), 1, "I"), (2L, Some(20L), Some(7L), 1, "I"),
      (3L, Some(99L), Some(11L), 1, "I")).coalesce(1).write.parquet(landing)
    run()
    assert(state()(Some("A")) == ((1L, 1L, Some("5.000000"))))
    assert(state()(Some("B")) == ((1L, 1L, Some("7.000000"))))
    assert(state()(None) == ((1L, 1L, Some("11.000000"))),
      "unmatched fact must aggregate in the NULL-extension group")

    // "crash"; tier 2: re-value k=1, delete k=2 (B empties), insert a
    // NULL-key fact, and MOVE k=3 from unmatched (99) to matched (20)
    // — its −image retracts the extension, its +image lands in B
    chg((1L, Some(10L), Some(6L), 2, "U"), (2L, Some(20L), Some(7L), 2, "D"),
      (4L, None, Some(3L), 2, "I"), (3L, Some(20L), Some(11L), 2, "U"))
      .coalesce(1).write.mode("append").parquet(landing)
    run()
    val s2 = state()
    assert(s2(Some("A")) == ((1L, 1L, Some("6.000000"))))
    assert(s2(Some("B")) == ((1L, 1L, Some("11.000000"))))
    assert(s2(None) == ((1L, 1L, Some("3.000000"))))
    // the law: state == aggState over the final table's LEFT join
    val recomputed = graft.operators.Cdc.aggState(
      spark.read.parquet(trusted)
        .join(spark.read.parquet(dimPath), Seq("kd"), "left")
        .select("seg", "v"),
      Seq("seg"), Seq("v"))
      .collect().map(r => Option(r.getString(0)) ->
        ((r.getLong(1), r.getLong(2),
          Option(r.getDecimal(3)).map(_.toPlainString)))).toMap
    assert(s2 == recomputed)

    // no new files: a third run changes neither store
    run()
    assert(state() == s2)

    new graft.core.LakeStorage(spark.sparkContext.hadoopConfiguration)
      .truncate(root)
  }

  test("CDC apply with piggybacked EXTREMA: state tracks the table across restart") {
    import graft.streaming.StreamingOps
    val root = java.nio.file.Files
      .createTempDirectory("graft-streamcdcext").toString
    val landing = s"$root/changes"
    val trusted = s"$root/trusted"
    val statePath = s"$root/state"
    val ckpt = s"$root/ckpt"
    def chg(rows: (Long, String, Option[Int], Int, String)*) =
      rows.toDF("k", "g", "v", "seq", "op")
    def run(): Unit = StreamingOps.streamApplyChangesWithExtrema(
      spark, landing, spark.read.parquet(landing).schema,
      trusted, statePath, ckpt,
      key = "k", groupCols = Seq("g"), extCols = Seq("v"))
    def state(): Map[String, (Long, Long, Option[Int], Option[Int])] =
      spark.read.parquet(statePath).collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getInt(3)),
          if (r.isNullAt(4)) None else Some(r.getInt(4))))).toMap

    chg((1L, "a", Some(10), 1, "I"), (2L, "a", Some(30), 1, "I"),
      (3L, "b", None, 1, "I")).coalesce(1).write.parquet(landing)
    run()
    assert(state()("a") == ((2L, 2L, Some(10), Some(30))))
    assert(state()("b") == ((1L, 0L, None, None)))

    // "crash"; tier 2: delete the max of a (endangered -> recompute
    // against the post-batch content), insert a new min, delete all
    // of b (vanish)
    chg((2L, "a", Some(30), 2, "D"), (4L, "a", Some(1), 2, "I"),
      (3L, "b", None, 2, "D")).coalesce(1).write.mode("append").parquet(landing)
    run()
    val s2 = state()
    assert(s2("a") == ((2L, 2L, Some(1), Some(10))),
      "retracted max must fall back to the runner-up; new min folds in")
    assert(!s2.contains("b"))
    // state must equal an extrema recompute over the final table
    val recomputed = graft.operators.Cdc.extremaState(
      spark.read.parquet(trusted).select("g", "v"), Seq("g"), Seq("v"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getInt(3)),
          if (r.isNullAt(4)) None else Some(r.getInt(4))))).toMap
    assert(s2 == recomputed)

    // no new files: a third run changes nothing
    run()
    assert(state() == s2)

    new graft.core.LakeStorage(spark.sparkContext.hadoopConfiguration)
      .truncate(root)
  }

  test("streaming sessions agree with batch sessionize at gap == threshold exactly") {
    // timestamps quantized to the gap — the boundary case where
    // session_window's strict-overlap merge (delta < gap) and the
    // batch cut (delta <= gap) disagree unless the streaming gap is
    // widened by 1 µs. Batch truth: 10:00/11:00/12:00 are ONE session
    // (each delta == gap, not > gap); 14:00 starts a second.
    val dir = java.nio.file.Files.createTempDirectory("graft-sessboundary")
    // the harness glob-filters on the fixture FILE name — write a
    // single-file parquet like the testdata fixtures, not a directory
    val stage = s"$dir/stage"
    Seq(
      (1L, 7L, Timestamp.valueOf("2024-01-01 10:00:00")),
      (2L, 7L, Timestamp.valueOf("2024-01-01 11:00:00")),
      (3L, 7L, Timestamp.valueOf("2024-01-01 12:00:00")),
      (4L, 7L, Timestamp.valueOf("2024-01-01 14:00:00")),
      (5L, 9L, Timestamp.valueOf("2024-01-01 10:00:00"))
    ).toDF("event_id", "user_id", "ts").coalesce(1).write.parquet(stage)
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    val path = s"$dir/events.parquet"
    java.nio.file.Files.move(part, java.nio.file.Paths.get(path))
    val streamed = StreamingOps.availableNowSessions(spark, path, gapSeconds = 3600L)
      .as[(Long, Long, Long)].collect().toSet
    val batch = graft.ext.Temporal
      .sessionize(spark.read.parquet(path), "user_id", "ts", "event_id",
        gapSeconds = 3600L)
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.countDistinct("session_id"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)))
      .as[(Long, Long, Long)].collect().toSet
    assert(batch == Set((7L, 2L, 4L), (9L, 1L, 1L)))
    assert(streamed == batch)
  }

  test("availableNow hourly stream equals the batch aggregation bit-for-bit") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val streamed = StreamingOps.availableNowHourly(spark, s"$sf/events.parquet")
      .collect().map(r => (r.getAs[Any](0).toString, r.getString(1),
        r.getLong(2), java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    val batch = graft.queries.Fixtures.tbl(spark, sf, "events")
      .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("win"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total"))
      .collect().map(r => (r.getAs[Any](0).toString, r.getString(1),
        r.getLong(2), java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    assert(streamed == batch,
      s"streaming result diverged from batch: ${streamed.size} vs ${batch.size} rows")
  }

  test("stream-stream attribution join equals the batch join row-for-row") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val streamed = StreamingOps
      .availableNowClickAttribution(spark, s"$sf/events.parquet", attribution = "6 hours")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val e = graft.queries.Fixtures.tbl(spark, sf, "events")
    val clicks = e.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("purchase_ts"))
    val batch = clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 6 HOURS"))
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        // tbl() yields NTZ; the session is UTC so the LTZ cast is
        // value-identical and unix_micros accepts it
        unix_micros(col("click_ts").cast("timestamp")).as("click_us"),
        unix_micros(col("purchase_ts").cast("timestamp")).as("purchase_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(streamed.nonEmpty, "attribution window produced no pairs — widen it")
    assert(streamed == batch,
      s"streaming join diverged from batch: ${streamed.size} vs ${batch.size} rows")
  }

  test("streamValidateRoute: routes per rules, restarts append-only, replays idempotently") {
    import graft.ext.Expectations._
    import org.apache.spark.sql.functions.lit
    val root = java.nio.file.Files
      .createTempDirectory("graft-route").toString
    val landing = s"$root/landing"
    val rows1 = Seq(
      (Some(1L), 10.0, "O"), (Some(2L), -5.0, "O"),   // -5 → range
      (None, 3.0, "F"),                                // null → not_null
      (Some(4L), 7.0, "X"))                            // X → in_set
    rows1.toDF("fk", "amt", "st").coalesce(1).write.parquet(landing)
    val schema = spark.read.parquet(landing).schema
    val rules = Seq(
      ExpectNotNull("fk"),
      ExpectRange("amt", lit(0.0), lit(100.0)),
      ExpectInSet("st", Seq("O", "F")))
    def run(): Unit = StreamingOps.streamValidateRoute(
      spark, landing, schema, s"$root/clean", s"$root/bad", s"$root/ckpt",
      rules, maxFilesPerTrigger = 1)
    run()
    val clean1 = StreamingOps.readRouted(spark, s"$root/clean", schema)
    assert(clean1.select("fk").as[Long].collect().toSet == Set(1L))
    val badSchema = schema.add("violations", "string")
    val bad1 = StreamingOps.readRouted(spark, s"$root/bad", badSchema)
      .select("amt", "violations").as[(Double, String)].collect().toMap
    assert(bad1(-5.0) == "range:amt" && bad1(3.0) == "not_null:fk" &&
      bad1(7.0) == "in_set:st")

    // restart with more landed data: same checkpoint → only the new
    // batch is processed and appended
    Seq((Some(9L), 1.0, "F"), (Some(10L), 999.0, "O"))
      .toDF("fk", "amt", "st").coalesce(1).write.mode("append").parquet(landing)
    run()
    val clean2 = StreamingOps.readRouted(spark, s"$root/clean", schema)
    assert(clean2.select("fk").as[Long].collect().toSet == Set(1L, 9L))
    assert(StreamingOps.readRouted(spark, s"$root/bad", badSchema)
      .count() == 4)

    // replay a batch id directly: the overwrite dir makes it a no-op
    StreamingOps.routeBatch(rows1.toDF("fk", "amt", "st"), rules,
      s"$root/clean", s"$root/bad", 0L)
    assert(StreamingOps.readRouted(spark, s"$root/clean", schema)
      .count() == 2)
    assert(StreamingOps.readRouted(spark, s"$root/bad", badSchema)
      .count() == 4)
    new graft.core.LakeStorage(
      spark.sparkContext.hadoopConfiguration).truncate(root)
  }

  test("streamValidateRoute: all-clean stream leaves a readable empty quarantine") {
    import graft.ext.Expectations._
    import org.apache.spark.sql.functions.lit
    val root = java.nio.file.Files
      .createTempDirectory("graft-route-clean").toString
    val landing = s"$root/landing"
    Seq((1L, 1.0), (2L, 2.0)).toDF("fk", "amt")
      .coalesce(1).write.parquet(landing)
    val schema = spark.read.parquet(landing).schema
    StreamingOps.streamValidateRoute(
      spark, landing, schema, s"$root/clean", s"$root/bad", s"$root/ckpt",
      Seq(ExpectRange("amt", lit(0.0), lit(100.0))))
    assert(StreamingOps.readRouted(spark, s"$root/clean", schema).count() == 2)
    assert(StreamingOps.readRouted(spark, s"$root/bad",
      schema.add("violations", "string")).count() == 0)
    new graft.core.LakeStorage(
      spark.sparkContext.hadoopConfiguration).truncate(root)
  }
}
