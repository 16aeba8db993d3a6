package graft

import graft.app.ResyncJob
import graft.core.{Clock, DatasetRef, LakePaths, Meter}
import graft.sources.JdbcSource
import java.sql.DriverManager
import java.time.LocalDate
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The resync's staged chunk loop: chunks are extracted concurrently
  * into `<work>__chunks` and published into WORK in plan order. A
  * publish that fails part-way is retried on the same staged files,
  * and the run still submits one Spark job per chunk. */
class ResyncStagedSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def conf = spark.sparkContext.hadoopConfiguration

  private def withRoot[T](f: (String, String) => T): T = {
    conf.set("fs.faultfs.impl", classOf[FaultFs].getName)
    val local = SparkTestSession.tmp("resyncstaged").toString
    try f(local, s"faultfs://$local")
    finally FileUtil.fullyDelete(new java.io.File(local))
  }

  private val ref = DatasetRef("test", "db", "staged_t")

  /** Keys 0..2999 as three 1000-key chunks, each written as three files. */
  private object ThreeFileChunks extends ResyncJob.RangedSource {
    def readRange(s: SparkSession, pc: String, a: String, b: String): DataFrame =
      s.range(a.toLong, b.toLong, 1, 3).select(col("id").as(pc), (col("id") % 7).as("v"))
    def minValue(s: SparkSession, pc: String): Any = 0L
    def maxIntWithMargin(s: SparkSession, pc: String): Long = sys.error("cliEnd bounds the plan")
  }

  /** Rows with the columns in name order: a merge into an existing
    * TRUSTED may store them in another order than the bootstrap write. */
  private def rows(dir: String): List[String] = {
    val df = spark.read.parquet(dir)
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect().map(_.toString).sorted.toList
  }

  private def resync(lake: LakePaths): Unit = {
    ResyncJob.runInt(spark, ThreeFileChunks, pc = "k", ref = ref, lake = lake,
      cliEnd = Some(2999L), estimatedRows = 3000, sleep = _ => ())
    ResyncJob.promote(spark, ref, lake, Seq("k"), clock = Clock.ForOracle)
  }

  test("a failed publish rename, at every k, is retried: WORK and TRUSTED equal a crash-free run") {
    val publishRename = (call: String) => call.startsWith("rename ") && call.contains("__chunks/")
    val (work, trusted, renames) = withRoot { (local, r) =>
      val lake = LakePaths(r)
      FaultFs.arm(local, Long.MaxValue, publishRename)
      try resync(lake) finally FaultFs.disarm()
      (rows(lake.work(ref)), rows(lake.trusted(ref)), FaultFs.counted)
    }
    assert(work.size == 3000)
    assert(renames == 3 * 3 + 1, "three files per chunk, and the first chunk's _SUCCESS")
    (1L to renames).foreach { k =>
      withRoot { (local, r) =>
        val lake = LakePaths(r)
        FaultFs.arm(local, k, publishRename)
        try resync(lake) finally FaultFs.disarm()
        assert(FaultFs.counted == renames + 1, s"k=$k: the fault fires once and its rename is retried")
        assert(rows(lake.work(ref)) == work, s"k=$k: WORK")
        assert(rows(lake.trusted(ref)) == trusted, s"k=$k: TRUSTED")
        assert(!new java.io.File(s"$local/${lake.work(ref).stripPrefix(r)}__chunks").exists,
          s"k=$k: staged chunks left behind")
        resync(lake) // the rerun truncates WORK and lands the same state
        assert(rows(lake.work(ref)) == work, s"k=$k: WORK after the rerun")
        assert(rows(lake.trusted(ref)) == trusted, s"k=$k: TRUSTED after the rerun")
      }
    }
  }

  test("runDate over a Derby table submits one boundary job and exactly one job per chunk") {
    val url = "jdbc:derby:memory:graftstagedjobs;create=true"
    val conn = DriverManager.getConnection(url)
    conn.createStatement().execute("CREATE TABLE jobs_t (id INT NOT NULL, d DATE NOT NULL)")
    val ins = conn.prepareStatement("INSERT INTO jobs_t VALUES (?, ?)")
    val start = LocalDate.parse("2020-01-01")
    for (i <- 0 until 600) { // 10 rows/day over a 60-day span
      ins.setInt(1, i)
      ins.setDate(2, java.sql.Date.valueOf(start.plusDays(i / 10)))
      ins.executeUpdate()
    }
    conn.close()

    val lake = LakePaths(SparkTestSession.tmp("stagedjobs").toString)
    val (_, r) = Meter.during(spark) {
      ResyncJob.runDate(spark,
        ResyncJob.JdbcRanged(
          JdbcSource(url, "", "", Some("org.apache.derby.iapi.jdbc.AutoloadedDriver")), "jobs_t"),
        pc = "d", ref = ref, lake = lake,
        cliEnd = Some(start.plusDays(60)), estimatedRows = 600) // starts at the source's min(d)
    }
    val labels = r.labels
    val (chunks, others) = labels.partition(_.startsWith("resync db.staged_t: chunk ["))
    // 60 days at P1 width 15: four full chunks and the P6 end sliver
    assert(chunks.size == 5, labels)
    assert(chunks.distinct.size == 5, "one job per chunk")
    assert(others.size == 1, s"one boundary job: $labels")
    assert(spark.read.parquet(lake.work(ref)).count() == 600)
  }
}
