package graft.ingest

import graft.planner.Intervals.Interval
import java.util.concurrent.{Callable, ExecutionException, Executors}
import scala.annotation.tailrec
import scala.collection.mutable
import scala.util.control.NonFatal

/** Status callback surface (reference `shared_etls/etls/utils.py:14-27`:
  * HTTP POST `{id_request, process, value}`). Default no-op; an HTTP
  * implementation is deployment wiring, not engine semantics.
  */
trait StatusReporter {
  def report(idRequest: String, process: String, value: String): Unit
}
object StatusReporter {
  object Noop extends StatusReporter {
    def report(idRequest: String, process: String, value: String): Unit = ()
  }
}

/** P5 — per-interval retry + checkpoint recovery (reference
  * `resync_date/etls/carga_date.py:151-228`,
  * `resync_int/etls/carga_int.py:140-215`).
  *
  * Per interval: up to `maxAttempts` tries. On failure after at least
  * one successful write, probe the WORK zone for `max(pc)` and restart
  * planning from that checkpoint (re-chunks the remaining range and
  * resets the attempt counter); before any successful write, sleep and
  * retry the same interval. Final failure → report "failed" and throw.
  *
  * The recovery probe can re-extract the checkpoint unit → duplicate
  * rows in WORK are EXPECTED and healed by T4 dedup + K2 merge at
  * promote time (reference behavior, SURVEY.md §2.5 P5).
  *
  * The Mongo entry points retry but have NO checkpoint recovery
  * (`mongodb_carga_date.py:160-200`) — model that with
  * `recover = None`.
  *
  * Staged form ([[runStaged]]): up to `ahead` chunks are `stage`d
  * (extracted out of WORK's sight) concurrently, one source cursor
  * each, and `publish`ed into WORK on the caller's thread strictly in
  * plan order, so WORK only ever holds a prefix of the plan and the
  * `max(pc)` probe and replan stay exact. A stage's failure is acted
  * on at the head: every in-flight stage is awaited and `discard`ed,
  * then the decision above runs unchanged. A publish that throws is
  * retried on the same staged value (publishes are move-if-absent).
  * [[run]] is `ahead = 1`: the stage runs inline, publish is a no-op.
  *
  * Pluggable effects keep this pure-testable (`sleep` is injectable;
  * tests pass a no-op).
  */
final class IngestLoop[T](
    maxAttempts: Int = 4,
    sleepMillis: Long = 60000L,
    sleep: Long => Unit = Thread.sleep,
    reporter: StatusReporter = StatusReporter.Noop) {

  def run(
      idRequest: String,
      plan: List[Interval[T]],
      extract: Interval[T] => Unit,
      recover: Option[() => Option[T]] = None,
      replan: T => List[Interval[T]] = (_: T) => Nil): Unit =
    runStaged[Unit](idRequest, plan, ahead = 1, extract, _ => (), _ => (), recover, replan)

  def runStaged[S](
      idRequest: String,
      plan: List[Interval[T]],
      ahead: Int,
      stage: Interval[T] => S,
      publish: S => Unit,
      discard: S => Unit,
      recover: Option[() => Option[T]] = None,
      replan: T => List[Interval[T]] = (_: T) => Nil): Unit = {
    // created per call, so its threads inherit the caller's
    // inheritable thread-locals (Spark's local properties)
    val pool = if (ahead == 1) None else Some(Executors.newFixedThreadPool(ahead))
    // one await per stage, in plan order, for the head of `remaining`
    val inflight = mutable.Queue.empty[() => Either[Throwable, S]]

    def launch(iv: Interval[T]): () => Either[Throwable, S] = pool match {
      case None =>
        val r = try Right(stage(iv)) catch { case NonFatal(e) => Left(e) }
        () => r
      case Some(p) =>
        val f = p.submit(new Callable[S] { def call(): S = stage(iv) })
        () => try Right(f.get()) catch { case e: ExecutionException => Left(e.getCause) }
    }

    // await every in-flight stage before discarding any of them
    def drain(): Unit = {
      val done = inflight.toList.map(_.apply())
      inflight.clear()
      done.foreach(_.foreach(discard))
    }

    @tailrec
    def publishRetrying(s: S, attempt: Int): Unit = {
      val ok = try { publish(s); true } catch { case NonFatal(_) if attempt < maxAttempts => false }
      if (!ok) { sleep(sleepMillis); publishRetrying(s, attempt + 1) }
    }

    @tailrec
    def loop(remaining: List[Interval[T]], attempt: Int, wroteAny: Boolean): Unit = {
      remaining.slice(inflight.size, ahead).foreach(iv => inflight.enqueue(launch(iv)))
      remaining match {
        case Nil =>
          reporter.report(idRequest, "resync", "success")
        case _ :: rest =>
          inflight.dequeue().apply() match {
            case Right(s) =>
              try publishRetrying(s, 1)
              catch { case e: Throwable => discard(s); throw e }
              loop(rest, 1, wroteAny = true)
            case Left(e) =>
              drain()
              if (!NonFatal(e) || attempt >= maxAttempts) throw e
              // Reference recovery (carga_date.py:188-216): only after a
              // successful write does the WORK max(pc) probe exist to
              // restart from; otherwise back off and retry in place.
              val checkpoint = if (wroteAny) recover.flatMap(_.apply()) else None
              checkpoint match {
                case Some(cp) =>
                  // Back off, and reset wroteAny: if the replanned first
                  // interval also fails, the NEXT failures take the
                  // bounded sleep-retry path instead of replanning
                  // forever (the reference resets its write counter
                  // after a replan for the same reason —
                  // carga_date.py:209-211). A later successful write
                  // re-arms recovery.
                  sleep(sleepMillis)
                  loop(replan(cp), 1, wroteAny = false)
                case None =>
                  sleep(sleepMillis)
                  loop(remaining, attempt + 1, wroteAny)
              }
          }
      }
    }

    try loop(plan, 1, wroteAny = false)
    catch {
      case e: Throwable =>
        try drain() catch { case NonFatal(d) => e.addSuppressed(d) }
        reporter.report(idRequest, "resync", "failed")
        throw e
    } finally pool.foreach(_.shutdown())
  }
}
