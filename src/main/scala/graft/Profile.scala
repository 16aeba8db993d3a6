package graft

import graft.queries.QueryRegistry
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev harness (not part of the bench contract): look at one declared
  * query at a time.
  *
  * Usage: runMain graft.Profile <mode> <args…>
  *   - `jobs <query> [sfDir] [cpus]`: run it with a job-level listener
  *     and print where the wall clock goes — per-Spark-job duration,
  *     task count, task time, the longest task (ms and input rows),
  *     shuffle bytes — plus the gaps BETWEEN jobs (driver-side work:
  *     FS calls, planning, collects). A job whose longest task is most
  *     of its duration is held by one skewed task, not by its task
  *     count; a query whose time is 40 jobs of 80 ms is a job-count
  *     problem, not a plan problem. Last, the OS processes the
  *     measured pass started, by command, and how many of them a
  *     Hadoop filesystem call started.
  *   - `stream <query> [sfDir] [cpus]`: run it with a
  *     [[StreamingQueryListener]] and print every micro-batch's
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
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val rest = args.drop(1)
    args.headOption match {
      case Some("plan") => plan(rest)
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
        System.err.println("usage: graft.Profile <jobs|stream|time|plan> <query…>")
        sys.exit(2)
    }
  }

  /** Page cache and codegen warm, as Bench's pass 1 leaves them. */
  private def warm(spark: SparkSession, sfDir: String, fn: () => Long): Unit = {
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    fn()
    graft.core.Sessions.settle(spark)
  }

  private case class JobRec(
      id: Int, desc: String, submitted: Long, var completed: Long = 0L,
      var tasks: Int = 0, var taskTimeMs: Long = 0L,
      var shuffleRead: Long = 0L, var shuffleWrite: Long = 0L,
      var maxTaskMs: Long = 0L, var maxTaskRows: Long = 0L)

  private def jobs(spark: SparkSession, name: String, sfDir: String, fn: () => Long): Unit = {
    warm(spark, sfDir, fn)
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stageToJob = mutable.Map.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        // job-property callsite first (survives streaming-thread jobs
        // whose stage names are empty), then stage names as fallback
        val fromProps = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
        val site = fromProps.getOrElse(
          e.stageInfos.map(_.name).filter(_.nonEmpty).distinct.mkString(" <- "))
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .map(d => s"$d | $site").getOrElse(site)
        jobs(e.jobId) = JobRec(e.jobId, desc, e.time)
        e.stageIds.foreach(s => stageToJob(s) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.completed = e.time)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
        for (j <- stageToJob.get(e.stageId); r <- jobs.get(j)) {
          r.tasks += 1
          val m = e.taskMetrics
          if (m != null) {
            r.taskTimeMs += m.executorRunTime
            r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            // the longest task: one task holding a job's critical path
            if (m.executorRunTime > r.maxTaskMs) {
              r.maxTaskMs = m.executorRunTime
              r.maxTaskRows = m.inputMetrics.recordsRead
            }
          }
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val ((n, total), starts) = graft.core.ProcessStarts.during {
      val t0 = System.nanoTime()
      val n = fn()
      (n, (System.nanoTime() - t0) / 1e9)
    }
    spark.sparkContext.removeSparkListener(listener)

    println(f"PROFILE $name rows=$n total=$total%.3f s  jobs=${jobs.size}")
    var prevEnd = 0L
    var jobSum = 0.0
    var gapSum = 0.0
    jobs.values.foreach { r =>
      val dur = (r.completed - r.submitted) / 1e3
      val gap = if (prevEnd == 0) 0.0 else (r.submitted - prevEnd) / 1e3
      if (prevEnd != 0 && gap > 0) gapSum += gap
      jobSum += dur
      prevEnd = math.max(prevEnd, r.completed)
      println(f"  job=${r.id}%3d dur=$dur%7.3f gapBefore=$gap%7.3f tasks=${r.tasks}%4d " +
        f"taskTime=${r.taskTimeMs}%6d ms maxTask=${r.maxTaskMs}%5d ms/${r.maxTaskRows}%7d rows shufR=${r.shuffleRead}%8d shufW=${r.shuffleWrite}%8d  ${r.desc.take(110)}")
    }
    println(f"PROFILE_SUM jobs=${jobs.size} jobTime=$jobSum%.3f s gaps=$gapSum%.3f s total=$total%.3f s")
    // a shell-out per file (a chmod, an `ls -ld`) is driver time no job shows
    val byCommand = starts.groupBy(_.command.takeWhile(_ != ' ')).map { case (c, s) => s"$c=${s.size}" }
    println(s"PROFILE_PROCS started=${starts.size} hadoopFs=${starts.count(_.hadoopFs)} " +
      byCommand.toSeq.sorted.mkString(" "))
  }

  private def stream(spark: SparkSession, name: String, sfDir: String, fn: () => Long): Unit = {
    warm(spark, sfDir, fn)
    val lines = mutable.ArrayBuffer.empty[String]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        lines.synchronized {
          val p = e.progress
          import scala.jdk.CollectionConverters._
          val d = p.durationMs.asScala.toSeq.sortBy(-_._2).map {
            case (k, v) => f"$k=$v%d" }.mkString(" ")
          lines += f"BATCH ${p.batchId}%3d rows=${p.numInputRows}%7d  $d"
        }
    }
    spark.streams.addListener(listener)
    val t0 = System.nanoTime()
    val n = fn()
    val total = (System.nanoTime() - t0) / 1e9
    spark.streams.removeListener(listener)
    println(f"STREAMPROFILE $name rows=$n total=$total%.3f s batches=${lines.size}")
    lines.foreach(println)
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
}
