package graft

import graft.core.Meter
import graft.queries.QueryRegistry
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import scala.jdk.CollectionConverters._

/** Dev harness (not part of the bench contract): look at one declared
  * query at a time.
  *
  * Usage: runMain graft.Profile <mode> <args…>
  *   - `jobs <query> [sfDir] [cpus]`: run it under [[Meter]] and print
  *     where the wall clock goes — per-Spark-job duration,
  *     task count, task time, the longest task (ms and input rows),
  *     shuffle bytes — plus the gaps BETWEEN jobs (driver-side work:
  *     FS calls, planning, collects). A job whose longest task is most
  *     of its duration is held by one skewed task, not by its task
  *     count; a query whose time is 40 jobs of 80 ms is a job-count
  *     problem, not a plan problem. Last, the OS processes the
  *     measured pass started, by command, and how many of them a
  *     Hadoop filesystem call started.
  *   - `stream <query> [sfDir] [cpus]`: run it under [[Meter]] and
  *     print every micro-batch's
  *     `durationMs` breakdown (triggerExecution, latestOffset,
  *     getBatch, queryPlanning, walCommit, commitOffsets, addBatch):
  *     what the streaming ENGINE spent the gaps between jobs on versus
  *     the foreachBatch body (addBatch).
  *   - `time <query> [sfDir] [cpus] [reps]`: warm the session the way
  *     Bench does, then report per-rep elapsed seconds between two
  *     window canaries.
  *   - `plan <query…>`: print each query's formatted physical plan
  *     (filter/column pushdown into scans, broadcast vs shuffle joins,
  *     whole-stage codegen coverage) at `SPARK_GRAFT_SF_DIR` (default
  *     sf0.01) on `SPARK_GRAFT_CPUS` cores (default 8). A query may
  *     do setup work (write a corpus, build an index) before it
  *     returns its DataFrame, so a plan costs about one untimed run.
  *   - `probes <outDir> <suffix>`: the formatted plans of the probe
  *     operators themselves (LSH and IVF `topK`/`topKRefs`, PQ
  *     `topK`, `bm25TopKPruned`'s result) over indexes built once at
  *     `SPARK_GRAFT_SF_DIR`, written to `probe_<name>_<suffix>.txt`.
  *     Most index-lifecycle queries return a localCheckpoint'd union,
  *     whose plan is just a ScanExistingRDD.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val rest = args.drop(1)
    args.headOption match {
      case Some("plan") => plan(rest)
      case Some("probes") => probes(rest(0), rest(1))
      case Some(mode @ ("jobs" | "stream" | "time")) =>
        val name = rest(0)
        val sfDir = if (rest.length > 1) rest(1) else "/root/testdata/sf0.1"
        val cpus = if (rest.length > 2) rest(2).toInt else 32
        val spark = graft.core.Sessions.local(cpus)
        spark.range(1000000L).selectExpr("sum(id)").collect()
        val fn = () => QueryRegistry(name).run(spark, sfDir).count()
        mode match {
          case "jobs" => jobs(spark, name, sfDir, fn)
          case "stream" => stream(spark, name, sfDir, fn)
          case _ => time(spark, name, fn, if (rest.length > 3) rest(3).toInt else 1)
        }
        spark.stop()
      case _ =>
        System.err.println("usage: graft.Profile <jobs|stream|time|plan> <query…> | probes <outDir> <suffix>")
        sys.exit(2)
    }
  }

  /** Page cache and codegen warm, as Bench's pass 1 leaves them. */
  private def warm(spark: SparkSession, sfDir: String, fn: () => Long): Unit = {
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    fn()
    graft.core.Sessions.settle(spark)
  }

  private def jobs(spark: SparkSession, name: String, sfDir: String, fn: () => Long): Unit = {
    warm(spark, sfDir, fn)
    val (((n, total), starts), r) = Meter.during(spark) {
      graft.core.ProcessStarts.during {
        val t0 = System.nanoTime()
        val n = fn()
        (n, (System.nanoTime() - t0) / 1e9)
      }
    }

    println(f"PROFILE $name rows=$n total=$total%.3f s  jobs=${r.jobs.size}")
    var prevEnd = 0L
    var jobSum = 0.0
    var gapSum = 0.0
    r.jobs.foreach { j =>
      val t = r.of(j)
      // the longest task: one task holding a job's critical path
      val (maxMs, maxRows) = t.tasks.filter(_.runMs > 0).maxByOption(_.runMs)
        .fold((0L, 0L))(m => (m.runMs, m.inputRecords))
      val dur = (j.completed - j.submitted) / 1e3
      val gap = if (prevEnd == 0) 0.0 else (j.submitted - prevEnd) / 1e3
      if (prevEnd != 0 && gap > 0) gapSum += gap
      jobSum += dur
      prevEnd = math.max(prevEnd, j.completed)
      println(f"  job=${j.id}%3d dur=$dur%7.3f gapBefore=$gap%7.3f tasks=${t.tasks.size}%4d " +
        f"taskTime=${t.runMs}%6d ms maxTask=$maxMs%5d ms/$maxRows%7d rows shufR=${t.shuffleReadBytes}%8d shufW=${t.shuffleWriteBytes}%8d  ${j.label.take(110)}")
    }
    println(f"PROFILE_SUM jobs=${r.jobs.size} jobTime=$jobSum%.3f s gaps=$gapSum%.3f s total=$total%.3f s")
    // a shell-out per file (a chmod, an `ls -ld`) is driver time no job shows
    val byCommand = starts.groupBy(_.command.takeWhile(_ != ' ')).map { case (c, s) => s"$c=${s.size}" }
    println(s"PROFILE_PROCS started=${starts.size} hadoopFs=${starts.count(_.hadoopFs)} " +
      byCommand.toSeq.sorted.mkString(" "))
  }

  private def stream(spark: SparkSession, name: String, sfDir: String, fn: () => Long): Unit = {
    warm(spark, sfDir, fn)
    val ((n, total), r) = Meter.during(spark) {
      val t0 = System.nanoTime()
      val n = fn()
      (n, (System.nanoTime() - t0) / 1e9)
    }
    println(f"STREAMPROFILE $name rows=$n total=$total%.3f s batches=${r.progress.size}")
    r.progress.foreach { p =>
      val d = p.durationMs.asScala.toSeq.sortBy(-_._2).map {
        case (k, v) => f"$k=$v%d" }.mkString(" ")
      println(f"BATCH ${p.batchId}%3d rows=${p.numInputRows}%7d  $d")
    }
  }

  private def time(spark: SparkSession, name: String, fn: () => Long, reps: Int): Unit = {
    // window canary (see Bench.canary): compare against the committed
    // canary_ref in BENCH_BASELINE.json — a hot sample means this
    // window's timings are weather, not code
    println(f"TIMEQ_CANARY secs=${Bench.canary(spark)}%.3f")
    (1 to reps).foreach { r =>
      val t0 = System.nanoTime()
      val n = fn()
      println(f"TIMEQ $name rep=$r rows=$n secs=${(System.nanoTime() - t0) / 1e9}%.3f")
    }
    println(f"TIMEQ_CANARY secs=${Bench.canary(spark)}%.3f")
  }

  private def plan(names: Seq[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = graft.core.Sessions.local(cpus)
    names.foreach { name =>
      try {
        val df = QueryRegistry(name).run(spark, sfDir)
        println(s"\n========== $name ==========")
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } catch {
        case e: Throwable =>
          System.err.println(s"[profile] $name failed: ${e.getMessage}")
      } finally graft.core.Sessions.settle(spark)
    }
    spark.stop()
  }

  private def probes(outDir: String, suffix: String): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.core.Sessions.local(8)
    Files.createDirectories(Paths.get(outDir))
    def dump(name: String, df: DataFrame): Unit = {
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/probe_${name}_$suffix.txt"), plan)
      println(s"[probeplans] wrote $name")
    }
    val root = Files.createTempDirectory("graft-probeplans").toString
    val droot = Files.createTempDirectory("graft-probeplans-docs").toString
    try {
      val path = s"$root/vectors"
      graft.queries.Fixtures.tbl(spark, sfDir, "embeddings").repartition(3).write.parquet(path)
      val q = spark.read.parquet(path).where(col("vec_id") < 5)

      graft.sinks.LshIndex.collect(spark, path, planes = 4)
      dump("lsh_topk",
        graft.sinks.LshIndex.topK(spark, path, q, k = 10, probeRadius = 4))
      graft.sinks.LshIndex.collectRefs(spark, path, planes = 4)
      dump("lsh_topkrefs",
        graft.sinks.LshIndex.topKRefs(spark, path, q, k = 10, probeRadius = 4))
      graft.sinks.IvfIndex.collect(spark, path, nCells = 8)
      dump("ivf_topk",
        graft.sinks.IvfIndex.topK(spark, path, q, k = 10, nProbe = 8))
      graft.sinks.IvfIndex.collectRefs(spark, path, nCells = 8)
      dump("ivf_topkrefs",
        graft.sinks.IvfIndex.topKRefs(spark, path, q, k = 10, nProbe = 8))
      graft.sinks.PqIndex.collect(spark, path, m = 8, ks = 16)
      dump("pq_topk",
        graft.sinks.PqIndex.topK(spark, path, q, k = 10,
          candidateK = Int.MaxValue))

      val dpath = s"$droot/docs"
      spark.read.parquet(s"$sfDir/documents.parquet").write.parquet(dpath)
      graft.sinks.InvertedIndex.collect(spark, dpath, "text", "doc_id")
      graft.sinks.InvertedIndex.buildRetrievalStats(spark, dpath)
      dump("bm25_pruned",
        graft.sinks.InvertedIndex
          .bm25TopKPruned(spark, dpath, "the quick brown fox", k = 5).topK)
    } finally {
      val storage = new graft.core.LakeStorage(spark.sparkContext.hadoopConfiguration)
      storage.truncate(root)
      storage.truncate(droot)
      spark.stop()
    }
  }
}
