package graft.core

import org.apache.spark.graftglue.SparkGlue
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import scala.collection.mutable

/** The one way the repo counts what Spark did while a block ran: its
  * jobs, their tasks' metrics and the stream progress events, from a
  * SparkListener and a StreamingQueryListener that live only for the
  * block. The listener bus is drained before they are removed, so
  * every event the block caused is in the reading when [[during]]
  * returns. Calls nest: each sees the events of its own block. */
object Meter {

  /** One job: its `spark.job.description` and `callSite.short` local
    * properties, its stage names, and submit/end times in epoch ms
    * (`completed` is 0 if the end was never seen). */
  final case class Job(
      id: Int, description: Option[String], callSite: Option[String],
      stages: Seq[String], submitted: Long, completed: Long) {
    /** The description, then the call site. The call-site property
      * survives streaming-thread jobs whose stage names are empty; the
      * stage names stand in where it is not set. */
    def label: String = {
      val site = callSite.getOrElse(stages.filter(_.nonEmpty).distinct.mkString(" <- "))
      description.fold(site)(d => s"$d | $site")
    }
  }

  /** One finished task; its job is -1 if the job started before the
    * block. A task whose metrics are null counts, with zeros. */
  final case class Task(
      stage: Int, job: Int, runMs: Long,
      inputRecords: Long, inputBytes: Long,
      outputRecords: Long, outputBytes: Long,
      shuffleReadRecords: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long)

  final case class Reading(
      jobs: Seq[Job], tasks: Seq[Task], progress: Seq[StreamingQueryProgress]) {
    /** The same reading, cut down to one job's tasks. */
    def of(job: Job): Reading = Reading(Seq(job), tasks.filter(_.job == job.id), Nil)
    def labels: Seq[String] = jobs.map(_.label)
    def runMs: Long = tasks.map(_.runMs).sum
    def inputRecords: Long = tasks.map(_.inputRecords).sum
    def inputBytes: Long = tasks.map(_.inputBytes).sum
    def outputBytes: Long = tasks.map(_.outputBytes).sum
    def shuffleReadRecords: Long = tasks.map(_.shuffleReadRecords).sum
    def shuffleReadBytes: Long = tasks.map(_.shuffleReadBytes).sum
    def shuffleWriteBytes: Long = tasks.map(_.shuffleWriteBytes).sum
  }

  def during[T](spark: SparkSession)(body: => T): (T, Reading) = {
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val stageToJob = mutable.Map.empty[Int, Int]
    val tasks = mutable.ArrayBuffer.empty[Task]
    val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        jobs(e.jobId) = Job(e.jobId, prop("spark.job.description"),
          prop("callSite.short"), e.stageInfos.map(_.name), e.time, 0L)
        e.stageIds.foreach(s => stageToJob(s) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(completed = e.time))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
        val job = stageToJob.getOrElse(e.stageId, -1)
        tasks += Option(e.taskMetrics).fold(Task(e.stageId, job, 0, 0, 0, 0, 0, 0, 0, 0)) { m =>
          Task(e.stageId, job, m.executorRunTime,
            m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
            m.outputMetrics.recordsWritten, m.outputMetrics.bytesWritten,
            m.shuffleReadMetrics.recordsRead, m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten)
        }
      }
    }
    val streams = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        jobs.synchronized { progress += e.progress }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    spark.streams.addListener(streams)
    val out = try {
      val out = body
      SparkGlue.flushListeners(sc)
      out
    } finally {
      spark.streams.removeListener(streams)
      sc.removeSparkListener(listener)
    }
    jobs.synchronized((out, Reading(jobs.values.toSeq, tasks.toSeq, progress.toSeq)))
  }
}
