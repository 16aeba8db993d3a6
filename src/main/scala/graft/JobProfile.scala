package graft

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Dev harness (not part of the bench contract): run one declared
  * query with a job-level listener and print where the wall clock
  * goes — per-Spark-job duration, task count, task time, the
  * longest task (ms and input rows), shuffle bytes — plus the gaps
  * BETWEEN jobs (driver-side work: FS calls, planning, collects).
  * A job whose longest task is most of its duration is held by one
  * skewed task, not by its task count. Guides optimization: a query whose time is
  * 40 jobs of 80 ms is a job-count problem, not a plan problem. Last,
  * the OS processes the measured pass started, by command, and how
  * many of them a Hadoop filesystem call started.
  *
  * Usage: runMain graft.JobProfile <queryName> [sfDir] [cpus]
  */
object JobProfile {
  private case class JobRec(
      id: Int, desc: String, submitted: Long, var completed: Long = 0L,
      var tasks: Int = 0, var taskTimeMs: Long = 0L,
      var shuffleRead: Long = 0L, var shuffleWrite: Long = 0L,
      var maxTaskMs: Long = 0L, var maxTaskRows: Long = 0L)

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = if (args.length > 2) args(2).toInt else 32
    val spark = graft.core.Sessions.local(cpus)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    val fn = SparkEntry.queries(name)

    // warm pass (page cache, codegen) — mirrors Bench's pass-1 role
    fn(spark, sfDir).count()
    graft.core.Sessions.settle(spark)

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
      val n = fn(spark, sfDir).count()
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
    spark.stop()
  }
}
