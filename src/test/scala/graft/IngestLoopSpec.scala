package graft

import graft.ingest.{IngestLoop, StatusReporter}
import graft.planner.Intervals.Interval
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

class IngestLoopSpec extends AnyFunSuite {

  private class Recorder extends StatusReporter {
    val statuses = mutable.Buffer[String]()
    def report(id: String, process: String, value: String): Unit =
      statuses += value
  }

  private def plan(n: Int): List[Interval[Long]] =
    (0 until n).map(i => Interval(i * 10L, i * 10L + 9)).toList

  test("happy path extracts every interval once, reports success") {
    val rec = new Recorder
    val seen = mutable.Buffer[Interval[Long]]()
    new IngestLoop[Long](reporter = rec, sleep = _ => ())
      .run("id", plan(3), iv => { seen += iv; () })
    assert(seen.toList == plan(3))
    assert(rec.statuses.toList == List("success"))
  }

  // P5 (carga_date.py:151-228): transient failure before any write →
  // sleep + retry same interval.
  test("transient failure retries the same interval") {
    val rec = new Recorder
    var fails = 2
    val seen = mutable.Buffer[Long]()
    new IngestLoop[Long](reporter = rec, sleep = _ => ())
      .run("id", plan(2), iv => {
        seen += iv.start
        if (iv.start == 0 && fails > 0) { fails -= 1; sys.error("boom") }
      })
    assert(seen.toList == List(0L, 0L, 0L, 10L))
    assert(rec.statuses.toList == List("success"))
  }

  test("exhausted retries report failed and rethrow") {
    val rec = new Recorder
    val ex = intercept[RuntimeException] {
      new IngestLoop[Long](maxAttempts = 3, reporter = rec, sleep = _ => ())
        .run("id", plan(1), _ => sys.error("always"))
    }
    assert(ex.getMessage == "always")
    assert(rec.statuses.toList == List("failed"))
  }

  // P5 checkpoint recovery (carga_date.py:188-216): failure after a
  // successful write replans from the WORK max(pc) probe.
  test("failure after a write triggers checkpoint replan") {
    val rec = new Recorder
    val seen = mutable.Buffer[Long]()
    var failedOnce = false
    val loop = new IngestLoop[Long](reporter = rec, sleep = _ => ())
    loop.run(
      "id",
      plan(3), // [0,9] [10,19] [20,29]
      iv => {
        seen += iv.start
        if (iv.start == 10 && !failedOnce) { failedOnce = true; sys.error("mid") }
      },
      recover = Some(() => Some(9L)), // WORK max(pc) after chunk 1
      replan = cp => List(Interval(cp, 19L), Interval(20L, 29L)))
    // chunk0 ok, chunk1 fails → replan from checkpoint 9 (overlap is
    // expected, healed by T4 downstream), then completes.
    assert(seen.toList == List(0L, 10L, 9L, 20L))
    assert(rec.statuses.toList == List("success"))
  }

  // Mongo variants (mongodb_carga_date.py:160-200): no recovery —
  // retry in place even after successful writes.
  test("without recovery, retries in place after a write") {
    val rec = new Recorder
    val seen = mutable.Buffer[Long]()
    var failed = false
    new IngestLoop[Long](reporter = rec, sleep = _ => ())
      .run("id", plan(2), iv => {
        seen += iv.start
        if (iv.start == 10 && !failed) { failed = true; sys.error("x") }
      })
    assert(seen.toList == List(0L, 10L, 10L))
  }

  // ---- staged form (runStaged): concurrent stages, in-order publish

  test("staged: stages that complete out of order still publish in plan order") {
    val rec = new Recorder
    val n = 4
    val done = (0 until n).map(_ => new java.util.concurrent.CountDownLatch(1))
    val finished = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val published = mutable.Buffer[Long]()
    new IngestLoop[Long](reporter = rec, sleep = _ => ()).runStaged[Long](
      "id", plan(n), ahead = n,
      stage = iv => {
        val i = (iv.start / 10).toInt
        // each stage waits for the next one: they finish last to first
        if (i + 1 < n) assert(done(i + 1).await(30, java.util.concurrent.TimeUnit.SECONDS))
        finished.add(iv.start)
        done(i).countDown()
        iv.start
      },
      publish = s => { published += s; () },
      discard = _ => fail("nothing may be discarded"))
    import scala.jdk.CollectionConverters._
    assert(finished.asScala.toList == List(30L, 20L, 10L, 0L))
    assert(published.toList == List(0L, 10L, 20L, 30L))
    assert(rec.statuses.toList == List("success"))
  }

  test("staged: a failed head discards every in-flight stage, none is published") {
    val rec = new Recorder
    val staged = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val discarded = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val published = mutable.Buffer[Long]()
    val ex = intercept[RuntimeException] {
      new IngestLoop[Long](maxAttempts = 2, reporter = rec, sleep = _ => ()).runStaged[Long](
        "id", plan(4), ahead = 4,
        stage = iv => {
          if (iv.start == 0) sys.error("head down")
          Thread.sleep(50) // still running when the head fails
          staged.add(iv.start)
          iv.start
        },
        publish = s => { published += s; () },
        discard = s => { discarded.add(s); () })
    }
    assert(ex.getMessage == "head down")
    import scala.jdk.CollectionConverters._
    // two attempts, each staging intervals 10..30 ahead of the head
    assert(staged.asScala.toList.sorted == List(10L, 10L, 20L, 20L, 30L, 30L))
    assert(discarded.asScala.toList.sorted == staged.asScala.toList.sorted,
      "every stage that finished is awaited and discarded")
    assert(published.isEmpty)
    assert(rec.statuses.toList == List("failed"))
  }

  /** Runs one scenario through `run` and through `runStaged` with four
    * stages ahead: the published sequence, the sleeps, the statuses
    * and the outcome must agree. `fails(start, n)` says whether the
    * n-th extract (from 1) of the interval starting at `start` fails. */
  private def sameAsRun(
      n: Int,
      fails: (Long, Int) => Boolean,
      maxAttempts: Int = 4,
      recover: Option[() => Option[Long]] = None,
      replan: Long => List[Interval[Long]] = _ => Nil): List[Long] = {
    def once(staged: Boolean): (List[Long], Int, List[String], Option[String]) = {
      val rec = new Recorder
      val tries = new java.util.concurrent.ConcurrentHashMap[Long, Int]()
      val published = mutable.Buffer[Long]()
      var sleeps = 0
      val loop = new IngestLoop[Long](maxAttempts = maxAttempts, reporter = rec,
        sleep = _ => sleeps += 1)
      def extract(iv: Interval[Long]): Long = {
        if (fails(iv.start, tries.merge(iv.start, 1, _ + _))) sys.error(s"fail ${iv.start}")
        iv.start
      }
      val outcome = scala.util.Try {
        if (staged) loop.runStaged[Long]("id", plan(n), ahead = 4, extract,
          s => { published += s; () }, _ => (), recover, replan)
        else loop.run("id", plan(n), iv => { published += extract(iv); () }, recover, replan)
      }
      (published.toList, sleeps, rec.statuses.toList, outcome.failed.toOption.map(_.getMessage))
    }
    val sequential = once(staged = false)
    assert(once(staged = true) == sequential)
    sequential._1
  }

  test("staged, 4 ahead: retry in place publishes what run publishes") {
    assert(sameAsRun(6, (start, n) => start == 20 && n <= 2) ==
      List(0L, 10L, 20L, 30L, 40L, 50L))
  }

  test("staged, 4 ahead: exhausted retries fail as run fails") {
    assert(sameAsRun(6, (start, _) => start == 20, maxAttempts = 3) == List(0L, 10L))
  }

  test("staged, 4 ahead: a failure after a write replans from the checkpoint as run does") {
    assert(sameAsRun(5, (start, n) => start == 20 && n == 1,
      recover = Some(() => Some(15L)),
      replan = cp => List(Interval(cp, 29L), Interval(30L, 39L), Interval(40L, 49L))) ==
      List(0L, 10L, 15L, 30L, 40L))
  }
}
