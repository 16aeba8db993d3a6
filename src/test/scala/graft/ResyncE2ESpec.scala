package graft

import graft.app.ResyncJob
import graft.core.{Clock, DatasetRef, LakePaths}
import graft.sources.{JdbcSource, MongoLikeSource}
import java.sql.DriverManager
import java.time.LocalDate
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** §7.2 minimum slice, end-to-end: source → planner-chunked extract →
  * WORK (K1) → promote T1-T5 → TRUSTED (K2), including mid-run
  * failure + checkpoint recovery. The document-source path overlaps
  * chunk boundaries by design (P6 + inclusive between) — the test
  * asserts the overlap exists in WORK and is healed in TRUSTED.
  */
class ResyncE2ESpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val sf = "/root/testdata/sf0.001"
  private def freshLake() =
    LakePaths(SparkTestSession.tmp("lake").toString)
  private val ref = DatasetRef("test", "tpch", "orders")

  private def sourceRows: Long =
    spark.read.parquet(s"$sf/orders.parquet").count()

  // Date windows keep the chunk count small (~8 jobs, not ~160 over
  // the full multi-year span) while exercising the same code paths.
  private val winStart = LocalDate.parse("1995-01-01")
  private val winEnd = LocalDate.parse("1995-04-30")
  /** Expected rows for the DOCUMENT-source path: P6 extends the last
    * inclusive interval end to winEnd+1, and S4's `between` is
    * inclusive — so rows stamped exactly at midnight of winEnd+1 are
    * extracted too (the reference's documented over-extraction,
    * SURVEY.md §2.5 P6). */
  private def rowsInWindow: Long = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"$sf/orders.parquet")
      .where(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf(s"$winStart 00:00:00")) &&
        col("o_orderdate") <= lit(java.sql.Timestamp.valueOf("1995-05-01 00:00:00")))
      .count()
  }

  test("date resync over a document source, then promote, heals boundary overlap") {
    val lake = freshLake()
    val expected = rowsInWindow
    // --id_request threading: the explicit id must reach every status
    // report (reference carga_date.py:43 → utils.py:14-27)
    var reported = List.empty[(String, String)]
    val recorder = new graft.ingest.StatusReporter {
      def report(id: String, process: String, value: String): Unit =
        reported ::= (id, value)
    }
    ResyncJob.runDate(
      spark,
      ResyncJob.MongoRanged(MongoLikeSource(s"$sf/orders.parquet")),
      pc = "o_orderdate",
      ref = ref, lake = lake,
      cliStart = Some(winStart), cliEnd = Some(winEnd),
      estimatedRows = sourceRows,
      withRecovery = false,
      reporter = recorder,
      idRequest = Some("req-42"),
      sleep = _ => ())
    assert(reported == List(("req-42", "success")))

    val work = spark.read.parquet(lake.work(ref))
    assert(work.count() >= expected,
      "WORK must contain every source row (boundary rows may duplicate)")

    ResyncJob.promote(spark, ref, lake, skIds = Seq("o_orderkey"),
      clock = Clock.ForOracle)
    val trusted = spark.read.parquet(lake.trusted(ref))
    assert(trusted.count() == expected)
    assert(trusted.select("sk").distinct().count() == expected)
  }

  test("int resync with mid-run failure recovers from the WORK checkpoint") {
    val lake = freshLake()
    val inner = ResyncJob.MongoRanged(MongoLikeSource(s"$sf/orders.parquet"))
    val keys = spark.read.parquet(s"$sf/orders.parquet")
      .agg(org.apache.spark.sql.functions.min("o_orderkey"),
        org.apache.spark.sql.functions.max("o_orderkey")).head()
    val maxKey = keys.getLong(1)
    // fail once, on the second chunk, after the first chunk's write:
    // chunks are extracted concurrently, so the fault is keyed on the
    // chunk, and the counters are atomic
    val second = graft.planner.Intervals.ints(keys.getLong(0), maxKey,
      graft.planner.ChunkWidth.intChunkWidth(sourceRows))(1).start
    val failsLeft = new java.util.concurrent.atomic.AtomicInteger(1)
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val flaky = new ResyncJob.RangedSource {
      def readRange(s: SparkSession, pc: String, a: String, b: String) = {
        calls.incrementAndGet()
        if (a.toLong == second && failsLeft.compareAndSet(1, 0)) sys.error("transient source outage")
        inner.readRange(s, pc, a, b)
      }
      def minValue(s: SparkSession, pc: String) = inner.minValue(s, pc)
      def maxIntWithMargin(s: SparkSession, pc: String) = inner.maxIntWithMargin(s, pc)
    }

    ResyncJob.runInt(
      spark, flaky, pc = "o_orderkey",
      ref = ref, lake = lake,
      cliEnd = Some(maxKey), // bound the plan (skip the +300000 margin tail)
      estimatedRows = sourceRows,
      withRecovery = true,
      sleep = _ => ())

    assert(failsLeft.get == 0, s"the injected outage must fire (${calls.get} reads)")

    ResyncJob.promote(spark, ref, lake, skIds = Seq("o_orderkey"),
      clock = Clock.ForOracle)
    assert(spark.read.parquet(lake.trusted(ref)).count() == sourceRows)
  }

  test("promote is idempotent and merges updates by sk") {
    val lake = freshLake()
    ResyncJob.runDate(
      spark,
      ResyncJob.MongoRanged(MongoLikeSource(s"$sf/orders.parquet")),
      pc = "o_orderdate", ref = ref, lake = lake,
      cliStart = Some(winStart), cliEnd = Some(winEnd),
      estimatedRows = sourceRows, withRecovery = false, sleep = _ => ())

    ResyncJob.promote(spark, ref, lake, Seq("o_orderkey"), clock = Clock.ForOracle)
    val v1 = spark.read.parquet(lake.trusted(ref))
    val count1 = v1.count()

    // re-promote the same WORK: K2 upsert must not duplicate
    ResyncJob.promote(spark, ref, lake, Seq("o_orderkey"), clock = Clock.ForOracle)
    assert(spark.read.parquet(lake.trusted(ref)).count() == count1)

    // stage an update batch for some in-window orders and promote again
    import org.apache.spark.sql.functions._
    val updates = spark.read.parquet(s"$sf/orders.parquet")
      .where(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf(s"$winStart 00:00:00")) &&
        col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1995-05-01 00:00:00")))
      .where(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", lit(-1.0))
    graft.sinks.ParquetAppend.write(updates, lake.work(ref))
    ResyncJob.promote(spark, ref, lake, Seq("o_orderkey"), clock = Clock.ForOracle)

    val after = spark.read.parquet(lake.trusted(ref))
    assert(after.count() == count1, "upsert must replace, not append")
    val replaced = after.where(col("o_totalprice") === -1.0).count()
    assert(replaced == updates.count(), "updated rows must win the merge")
  }

  test("parallel JDBC resync matches the sequential loop's result") {
    val url = "jdbc:derby:memory:graftpar2;create=true"
    val conn = DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE par2_t (id INT NOT NULL, payload VARCHAR(20))")
    val ins = conn.prepareStatement("INSERT INTO par2_t VALUES (?, ?)")
    for (i <- 1 to 3000) { ins.setInt(1, i); ins.setString(2, s"p$i"); ins.executeUpdate() }
    conn.close()

    val lake = freshLake()
    val pref = DatasetRef("test", "db", "par2_t")
    ResyncJob.runInt(
      spark,
      ResyncJob.JdbcRanged(
        JdbcSource(url, "", "", Some("org.apache.derby.iapi.jdbc.AutoloadedDriver")),
        "par2_t"),
      pc = "id", ref = pref, lake = lake,
      cliEnd = Some(3000L), estimatedRows = 3000)
    val work = spark.read.parquet(lake.work(pref))
    assert(work.count() == 3000)
    assert(work.select("ID").distinct().count() == 3000)
  }

  test("incremental promote processes only new WORK files") {
    import org.apache.spark.sql.functions._
    val lake = freshLake()
    val iref = DatasetRef("test", "tpch", "orders_inc")
    val orders = spark.read.parquet(s"$sf/orders.parquet")

    val batch1 = orders.where(col("o_orderkey") % 2 === 0)
    graft.sinks.ParquetAppend.write(batch1, lake.work(iref))
    val r1 = graft.operators.IncrementalPromote.run(
      spark, iref, lake, Seq("o_orderkey"), clock = Clock.ForOracle)
    assert(r1.filesProcessed > 0)
    assert(spark.read.parquet(lake.trusted(iref)).count() == batch1.count())

    Thread.sleep(20) // distinct mtimes for the second batch
    val batch2 = orders.where(col("o_orderkey") % 2 === 1)
    graft.sinks.ParquetAppend.write(batch2, lake.work(iref))
    val allFiles = new java.io.File(lake.work(iref))
      .listFiles().count(_.getName.endsWith(".parquet"))
    val r2 = graft.operators.IncrementalPromote.run(
      spark, iref, lake, Seq("o_orderkey"), clock = Clock.ForOracle)
    assert(r2.filesProcessed > 0 && r2.filesProcessed < allFiles,
      s"second promote must touch only batch-2 files (${r2.filesProcessed} of $allFiles)")
    assert(spark.read.parquet(lake.trusted(iref)).count() == orders.count())

    // nothing new → no-op
    val r3 = graft.operators.IncrementalPromote.run(
      spark, iref, lake, Seq("o_orderkey"), clock = Clock.ForOracle)
    assert(r3.filesProcessed == 0)
  }

  test("incremental promote: same-mtime-tick batches are neither lost nor reprocessed") {
    import org.apache.spark.sql.functions._
    val lake = freshLake()
    val iref = DatasetRef("test", "tpch", "orders_tick")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    def setAllMtimes(t: Long): Unit =
      new java.io.File(lake.work(iref)).listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach(_.setLastModified(t))

    val tick = (System.currentTimeMillis() / 1000) * 1000
    graft.sinks.ParquetAppend.write(orders.where(col("o_orderkey") % 2 === 0), lake.work(iref))
    setAllMtimes(tick)
    val r1 = graft.operators.IncrementalPromote.run(
      spark, iref, lake, Seq("o_orderkey"), clock = Clock.ForOracle)
    assert(r1.filesProcessed > 0)

    // a second batch lands with the SAME mtime tick (coarse store)
    val before = new java.io.File(lake.work(iref)).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    graft.sinks.ParquetAppend.write(orders.where(col("o_orderkey") % 2 === 1), lake.work(iref))
    setAllMtimes(tick)
    val added = new java.io.File(lake.work(iref)).listFiles()
      .filter(_.getName.endsWith(".parquet")).count(f => !before(f.getName))
    val r2 = graft.operators.IncrementalPromote.run(
      spark, iref, lake, Seq("o_orderkey"), clock = Clock.ForOracle)
    assert(r2.filesProcessed == added, "same-tick late files must be promoted exactly once")
    assert(spark.read.parquet(lake.trusted(iref)).count() == orders.count())

    val r3 = graft.operators.IncrementalPromote.run(
      spark, iref, lake, Seq("o_orderkey"), clock = Clock.ForOracle)
    assert(r3.filesProcessed == 0, "boundary files must not reprocess forever")
  }

  test("incremental promote: rebuilt trusted table invalidates the stale watermark") {
    import org.apache.spark.sql.functions._
    val lake = freshLake()
    val iref = DatasetRef("test", "tpch", "orders_rebuild")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    graft.sinks.ParquetAppend.write(orders, lake.work(iref))
    val r1 = graft.operators.IncrementalPromote.run(
      spark, iref, lake, Seq("o_orderkey"), clock = Clock.ForOracle)
    assert(r1.rowsMerged > 0)
    // operator wipes TRUSTED for a rebuild; the watermark file survives
    graft.core.LakeStorage(spark).truncate(lake.trusted(iref))
    val r2 = graft.operators.IncrementalPromote.run(
      spark, iref, lake, Seq("o_orderkey"), clock = Clock.ForOracle)
    assert(r2.filesProcessed > 0, "stale watermark must not starve the rebuild")
    assert(spark.read.parquet(lake.trusted(iref)).count() ==
      orders.select("o_orderkey").distinct().count())
  }

  test("JDBC resync end-to-end against embedded Derby") {
    val url = "jdbc:derby:memory:graftresync;create=true"
    val conn = DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE src_t (id INT NOT NULL, payload VARCHAR(20))")
    val ins = conn.prepareStatement("INSERT INTO src_t VALUES (?, ?)")
    for (i <- 1 to 2500) { ins.setInt(1, i); ins.setString(2, s"p$i"); ins.executeUpdate() }
    conn.close()

    val lake = freshLake()
    val jref = DatasetRef("test", "db", "src_t")
    ResyncJob.runInt(
      spark,
      ResyncJob.JdbcRanged(
        JdbcSource(url, "", "", Some("org.apache.derby.iapi.jdbc.AutoloadedDriver")),
        "src_t"),
      pc = "id", ref = jref, lake = lake,
      cliEnd = Some(2500L),
      estimatedRows = 2500, sleep = _ => ())

    // half-open JDBC chunks must tile exactly: no dupes even pre-dedup
    val work = spark.read.parquet(lake.work(jref))
    assert(work.count() == 2500)
    assert(work.select("ID").distinct().count() == 2500)

    ResyncJob.promote(spark, jref, lake, Seq("ID"), clock = Clock.ForOracle)
    assert(spark.read.parquet(lake.trusted(jref)).count() == 2500)
  }
}
