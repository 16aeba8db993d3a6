package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** One span: a call into an engine layer made by the benchmark. Times
  * are epoch milliseconds (to line up with listener event times) plus
  * a nanosecond duration for the span itself. */
final case class Span(
    id: Int, name: String, layer: String, parent: Int, step: Int,
    startMs: Long, var endMs: Long = 0L, var nanos: Long = 0L)

/** Per-job record assembled from listener events. */
final class JobRec(val jobId: Int, val spanId: Int, val execId: Long, val startMs: Long) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var recordsRead = 0L
  var bytesWritten = 0L
  var recordsWritten = 0L
}

final case class ExecRec(id: Long, startMs: Long, isWrite: Boolean, var endMs: Long = 0L)

final case class Progress(batchId: Long, startMs: Long, triggerMs: Long, addBatchMs: Long, rows: Long)

object Tracer {
  val SpanProp = "graftbench.span"
}

/** Span recorder. Disabled, it only runs the body: the untimed and the
  * untraced phases call through it at zero cost. Enabled, it stamps the
  * innermost open span id into a job-local property, so every Spark job
  * submitted inside is attributed to that span. Spans stay in memory
  * until the run ends. */
final class Tracer(sc: SparkContext) {
  var enabled = false
  var step = -1
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.length, name, layer, stack.headOption.map(_.id).getOrElse(-1),
        step, System.currentTimeMillis())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        s.nanos = System.nanoTime() - t0
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProp, stack.headOption.map(_.id.toString).orNull)
      }
    }
}

/** Listener of a traced run: per-job metrics, SQL execution
  * kinds (a write is an `InsertIntoHadoopFsRelationCommand`), and
  * streaming progress. */
final class TraceListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stageJob = mutable.HashMap.empty[Int, Int]
  val execs = mutable.HashMap.empty[Long, ExecRec]
  val progress = mutable.ArrayBuffer.empty[Progress]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val span = p.flatMap(x => Option(x.getProperty(Tracer.SpanProp))).map(_.toInt).getOrElse(-1)
    val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = new JobRec(e.jobId, span, exec, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    for (j <- stageJob.get(info.stageId); r <- jobs.get(j)) {
      r.stages += 1
      r.tasks += info.numTasks
      val m = info.taskMetrics
      if (m != null) {
        r.runMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.spill += m.diskBytesSpilled + m.memoryBytesSpilled
        r.recordsRead += m.inputMetrics.recordsRead
        r.bytesWritten += m.outputMetrics.bytesWritten
        r.recordsWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = ExecRec(s.executionId, s.time,
        s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand"))
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execs.get(s.executionId).foreach(_.endMs = s.time)
    }
    case _ =>
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      // AvailableNow ends with an empty progress report; only batches
      // that ran a body count as micro-batches
      if (e.progress.numInputRows > 0 || ms("addBatch") > 0)
        TraceListener.this.synchronized {
          progress += Progress(e.progress.batchId,
            java.time.Instant.parse(e.progress.timestamp).toEpochMilli,
            ms("triggerExecution"), ms("addBatch"), e.progress.numInputRows)
        }
    }
  }
}

/** Interval arithmetic for driver gaps: the part of [a, b] covered by
  * no job. */
object Gaps {
  def uncovered(a: Long, b: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    math.max(0L, (b - a) - covered)
  }
}
