package graft.core

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import jdk.jfr.consumer.RecordingStream
import scala.jdk.CollectionConverters._

/** The OS processes this JVM starts while a block runs, from JFR's
  * `jdk.ProcessStart` events read by an in-process `RecordingStream`
  * (no agent, no JVM flag, no machine setting). A fork per file is a
  * metadata cost a job table does not show. */
object ProcessStarts {

  /** One process start: its command line, the starting thread and
    * its stack, innermost frame first, as `class.method`. */
  final case class Start(command: String, thread: String, frames: Seq[String]) {
    /** Started by a Hadoop filesystem call (a shell-out). */
    def hadoopFs: Boolean = frames.exists(_.startsWith("org.apache.hadoop.fs."))
  }

  @jdk.jfr.Name("graft.ProcessStartsMark")
  @jdk.jfr.StackTrace(false)
  private[core] class Mark extends jdk.jfr.Event

  /** `body`'s result and the processes started while it ran. The
    * stream delivers about once a second, so this waits for an end
    * mark committed after `body`; every start committed before it is
    * delivered before it. */
  def during[A](body: => A): (A, Seq[Start]) = {
    val seen = new ConcurrentLinkedQueue[Start]
    val end = new CountDownLatch(1)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.enable(classOf[Mark])
      rs.onEvent("jdk.ProcessStart", e => seen.add(Start(
        e.getString("command"),
        Option(e.getThread).map(_.getJavaName).orNull,
        Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
          .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}"))))
      rs.onEvent("graft.ProcessStartsMark", _ => end.countDown())
      rs.startAsync()
      val out = body
      new Mark().commit()
      require(end.await(60, TimeUnit.SECONDS), "JFR stream never delivered its end mark")
      (out, seen.asScala.toSeq)
    } finally rs.close()
  }
}
