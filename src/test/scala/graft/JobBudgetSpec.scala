package graft

import graft.core.{Clock, DatasetRef, LakePaths, Meter}
import graft.operators.IncrementalPromote
import graft.queries.Fixtures
import graft.sinks.{BloomIndex, InvertedIndex, IvfIndex, LshIndex, MergeUpsert, PqIndex, StatsIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The job budget: the exact number of Spark jobs a public engine
  * entry submits on a small fixture, counted by [[Meter]]. A change
  * that adds a job fails here with the jobs' labels; a change that
  * removes one updates its row. */
class JobBudgetSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def assertJobs(r: Meter.Reading, expected: Int): Unit =
    assert(r.jobs.size === expected, r.labels.mkString("\n"))

  /** A build, refresh or labelled probe: `expected` jobs, each with a
    * description. */
  private def assertLabelled(r: Meter.Reading, expected: Int): Unit = {
    assertJobs(r, expected)
    assert(r.jobs.forall(_.description.nonEmpty), r.labels.mkString("\n"))
  }

  test("IncrementalPromote.run merging one new WORK file into a stored TRUSTED") {
    val lake = LakePaths(SparkTestSession.tmp("budget-promote").toString)
    val ref = DatasetRef("spec", "budget", "events")
    def land(lo: Long): Unit = (lo until lo + 20).map(i => (i, s"e$i"))
      .toDF("event_id", "payload").coalesce(1).write.mode("append").parquet(lake.work(ref))
    land(0)
    IncrementalPromote.run(spark, ref, lake, Seq("event_id"), clock = Clock.ForOracle)
    land(10)
    val (res, r) = Meter.during(spark)(
      IncrementalPromote.run(spark, ref, lake, Seq("event_id"), clock = Clock.ForOracle))
    assert(res.filesProcessed === 1 && res.rowsMerged === 20L)
    assert(spark.read.parquet(lake.trusted(ref)).count() === 30L)
    assertJobs(r, 5)
  }

  test("MergeUpsert.mergeInto over a stored table") {
    val trusted = SparkTestSession.tmp("budget-merge").toString + "/t"
    (0L until 40L).map(i => (i, s"v$i")).toDF("sk", "v").write.parquet(trusted)
    val (_, r) = Meter.during(spark)(
      MergeUpsert.mergeInto(spark, trusted, (30L until 50L).map(i => (i, s"w$i")).toDF("sk", "v")))
    assert(spark.read.parquet(trusted).count() === 50L)
    assertJobs(r, 2)
  }

  // ── sidecar-index entries ─────────────────────────────────────────
  // One small vector table (200 ids in 3 files) or document table,
  // indexed, then one file appended where a refresh is counted.

  private def vectors(name: String): String = {
    val path = SparkTestSession.tmp(name).toString + "/v"
    Fixtures.tbl(spark, sf, "embeddings").where(col("vec_id") < 200)
      .repartition(3).write.parquet(path)
    path
  }

  private def appendVectors(path: String): Unit =
    Fixtures.tbl(spark, sf, "embeddings")
      .where(col("vec_id") >= 200 && col("vec_id") < 210)
      .coalesce(1).write.mode("append").parquet(path)

  /** The probe queries, planned before the count starts. */
  private def queries(path: String): DataFrame =
    spark.read.parquet(path).where(col("vec_id") < 5)

  /** The jobs of building and collecting `probe` once more after a
    * warm-up run: the probe's steady state. */
  private def steady(probe: => DataFrame): Meter.Reading = {
    probe.collect()
    Meter.during(spark)(probe.collect())._2
  }

  /** The bytes the calling thread reads from `file:` filesystems
    * while `f` runs. */
  private def driverBytesRead(f: => Unit): Long = {
    def read = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getThreadStatistics.getBytesRead).sum
    val before = read
    f
    read - before
  }

  /** The jobs of `refresh` over one appended file after `index`. */
  private def refreshed(index: String => Unit)(refresh: String => Unit): Meter.Reading = {
    val path = vectors("budget-idx")
    index(path)
    appendVectors(path)
    Meter.during(spark)(refresh(path))._2
  }

  test("IvfIndex.collect") {
    val path = vectors("budget-ivf")
    assertLabelled(Meter.during(spark)(IvfIndex.collect(spark, path, nCells = 4))._2, 24)
  }

  test("IvfIndex.refresh over one appended file") {
    assertLabelled(refreshed(IvfIndex.collect(spark, _, nCells = 4))(IvfIndex.refresh(spark, _)), 7)
  }

  // The probes below collect a non-local query set (one job), then
  // run the probe. The cells and buckets probes have no exchange: the
  // probe is one job, labelled. The refs and PQ probes join the corpus,
  // and adaptive execution submits those stages under the caller's
  // label, here none.

  test("IvfIndex.topK collect, steady state") {
    val path = vectors("budget-ivf-probe")
    IvfIndex.collect(spark, path, nCells = 4)
    val q = queries(path)
    assertLabelled(steady(IvfIndex.topK(spark, path, q, k = 5, nProbe = 2)), 2)
  }

  test("IvfIndex.topK over no queries after a refresh: no job, the metadata reads paid") {
    val path = vectors("budget-ivf-reopen")
    IvfIndex.collect(spark, path, nCells = 4)
    val q = spark.createDataFrame(queries(path).collectAsList(), queries(path).schema)
    IvfIndex.topK(spark, path, q, k = 5, nProbe = 2).collect()
    appendVectors(path)
    IvfIndex.refresh(spark, path)
    assertJobs(Meter.during(spark)(
      IvfIndex.topK(spark, path, q.limit(0), k = 5, nProbe = 2))._2, 0)
    // the empty probe resolved the new snapshot and the centroids: the
    // next probe's build reads no byte of the lake on the driver
    assert(driverBytesRead(IvfIndex.topK(spark, path, q, k = 5, nProbe = 2)) === 0L)
  }

  test("IvfIndex.topKRefs collect, steady state") {
    val path = vectors("budget-ivf-refs-probe")
    IvfIndex.collectRefs(spark, path, nCells = 4)
    val q = queries(path)
    assertJobs(steady(IvfIndex.topKRefs(spark, path, q, k = 5, nProbe = 2)), 5)
  }

  test("IvfIndex.refreshRefs over one appended file") {
    assertLabelled(refreshed(IvfIndex.collectRefs(spark, _, nCells = 4))(IvfIndex.refreshRefs(spark, _)), 7)
  }

  test("LshIndex.refreshRefs over one appended file") {
    assertLabelled(refreshed(LshIndex.collectRefs(spark, _, planes = 3))(LshIndex.refreshRefs(spark, _)), 7)
  }

  test("LshIndex.refresh over one appended file") {
    assertLabelled(refreshed(LshIndex.collect(spark, _, planes = 3))(LshIndex.refresh(spark, _)), 7)
  }

  test("LshIndex.topK collect, steady state") {
    val path = vectors("budget-lsh-probe")
    LshIndex.collect(spark, path, planes = 3)
    val q = queries(path)
    assertLabelled(steady(LshIndex.topK(spark, path, q, k = 5, probeRadius = 1)), 2)
  }

  test("LshIndex.topKRefs collect, steady state") {
    val path = vectors("budget-lsh-refs-probe")
    LshIndex.collectRefs(spark, path, planes = 3)
    val q = queries(path)
    assertJobs(steady(LshIndex.topKRefs(spark, path, q, k = 5, probeRadius = 1)), 5)
  }

  test("PqIndex.refresh over one appended file") {
    assertLabelled(refreshed(PqIndex.collect(spark, _, m = 8, ks = 16))(PqIndex.refresh(spark, _)), 8)
  }

  test("PqIndex.topK collect, steady state") {
    val path = vectors("budget-pq-probe")
    PqIndex.collect(spark, path, m = 8, ks = 16)
    val q = queries(path)
    assertJobs(steady(PqIndex.topK(spark, path, q, k = 5, candidateK = 20)), 5)
  }

  test("InvertedIndex.refresh over one appended file") {
    val path = SparkTestSession.tmp("budget-inv").toString + "/d"
    Fixtures.tbl(spark, sf, "documents").where(col("doc_id") < 40)
      .select("doc_id", "text").repartition(2).write.parquet(path)
    InvertedIndex.collect(spark, path, "text", "doc_id")
    Fixtures.tbl(spark, sf, "documents").where(col("doc_id") >= 40 && col("doc_id") < 50)
      .select("doc_id", "text").coalesce(1).write.mode("append").parquet(path)
    assertLabelled(Meter.during(spark)(InvertedIndex.refresh(spark, path, "text", "doc_id"))._2, 9)
  }

  /** Two files of (sk, v), indexed, then a third appended. */
  private def keyed(name: String)(index: String => Unit): String = {
    val path = SparkTestSession.tmp(name).toString + "/t"
    (1 to 20).map(i => (s"k$i", i)).toDF("sk", "v").repartition(2).write.parquet(path)
    index(path)
    (21 to 30).map(i => (s"k$i", i)).toDF("sk", "v").coalesce(1)
      .write.mode("append").parquet(path)
    path
  }

  test("StatsIndex.refresh over one appended file") {
    val path = keyed("budget-stats")(StatsIndex.collect(spark, _, Seq("v")))
    assertLabelled(Meter.during(spark)(StatsIndex.refresh(spark, path, Seq("v")))._2, 6)
  }

  test("BloomIndex.refresh over one appended file") {
    val path = keyed("budget-bloom")(BloomIndex.collect(spark, _, "sk", 100L))
    assertLabelled(Meter.during(spark)(BloomIndex.refresh(spark, path, "sk"))._2, 6)
  }
}
