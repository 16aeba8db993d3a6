package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One closed-loop step: its kind, named wall times in seconds, and
  * any workload-specific values (bytes, counts). */
final case class StepRec(kind: String, times: Map[String, Double], values: Map[String, Double] = Map.empty)

/** A step as run: its phase (warm, A untraced, B traced), index and wall
  * interval in epoch milliseconds. */
final case class Done(phase: String, i: Int, rec: StepRec, startMs: Long, endMs: Long)

final case class Ctx(
    spark: SparkSession,
    tracer: Tracer,
    dir: Path,
    params: Map[String, Any]) {
  def input(rel: String): String = dir.resolve("input").resolve(rel).toString
  def lake(rel: String): String = dir.resolve("lake").resolve(rel).toString
  def out(rel: String): String = dir.resolve("out").resolve(rel).toString
  def num(k: String): Long = params(k).toString.toDouble.toLong
  def str(k: String): String = params(k).toString
}

/** A workload: set-up once, then a closed loop of steps. `step` returns
  * None when its pre-generated inputs are used up. */
trait Workload {
  def warmupSteps: Int
  /** Measured steps a run takes however long they last: enough for one
    * step of every kind the workload's summary needs. */
  def minSteps: Int = 3
  def setup(): Unit
  /** `repeat`: the second step of a traced pair, which should redo the
    * first one's operation on the same state where the workload can. */
  def step(i: Int, repeat: Boolean): Option[StepRec]
  /** Untimed counting pass of the traced run: counts that need extra
    * Spark actions, never taken inside a timed or traced step. */
  def counts(): Map[String, Double] = Map.empty
  /** What the checker needs to find and judge the outputs. */
  def outputs(): Map[String, Any]
  /** Per-layer metrics from the traced steps. */
  def layers(t: TraceView): Map[String, Double]
}

object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dir = Paths.get(opts("dir")).toAbsolutePath
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cpus = opts("cpus").toInt
    val params = JsonIn.parseObject(
      new String(Files.readAllBytes(dir.resolve("input/params.json")), StandardCharsets.UTF_8))
    Files.createDirectories(dir.resolve("lake"))
    Files.createDirectories(dir.resolve("out"))

    val t0 = System.nanoTime()
    val spark = graft.core.Sessions.local(cpus)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark.sparkContext)
    val ctx = Ctx(spark, tracer, dir, params)
    val w: Workload = opts("workload") match {
      case "backfill_jdbc_date" => new Backfill(ctx)
      case "upsert_stream" => new UpsertStream(ctx)
      case "corpus_dedup" => new CorpusDedup(ctx)
      case "ann_serve" => new AnnServe(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    val steps = mutable.ArrayBuffer.empty[Done]
    val errors = mutable.ArrayBuffer.empty[String]
    var i = 0
    def runStep(phase: String, repeat: Boolean = false): Boolean = {
      tracer.step = i
      tracer.enabled = phase == "B"
      val s0 = System.currentTimeMillis()
      val r =
        try w.step(i, repeat)
        catch {
          case e: Throwable =>
            errors += s"$phase step $i: ${e.getClass.getName}: ${e.getMessage}"
            None
        }
      tracer.enabled = false
      r.foreach(s => steps += Done(phase, i, s, s0, System.currentTimeMillis()))
      i += 1
      r.isDefined
    }

    val t1 = System.nanoTime()
    w.setup()
    val loadS = (System.nanoTime() - t1) / 1e9
    val t2 = System.nanoTime()
    (0 until w.warmupSteps).foreach(_ => runStep("warm"))
    val warmS = (System.nanoTime() - t2) / 1e9
    val setupEndMs = System.currentTimeMillis()

    // The measured loop. With --trace 1 untraced (A) and traced (B) steps
    // alternate under one listener, so both halves see the same warm-up
    // state; jobs of A steps carry no span id.
    val listener = new TraceListener
    if (trace) {
      spark.sparkContext.addSparkListener(listener)
      spark.streams.addListener(listener.streaming)
    }
    val tA = System.nanoTime()
    val first = i
    // a traced run needs minSteps of each half
    val least = w.minSteps * (if (trace) 2 else 1)
    def more = errors.isEmpty && ((System.nanoTime() - tA) / 1e9 < seconds || i - first < least)
    if (!trace) while (more && runStep("A")) ()
    else {
      // pairs alternate their order, so neither half always runs second
      var pair = 0
      while (more && runStep(if (pair % 2 == 0) "A" else "B") &&
        runStep(if (pair % 2 == 0) "B" else "A", repeat = true)) pair += 1
    }

    val result = mutable.LinkedHashMap[String, Any](
      "env" -> Map(
        "spark" -> spark.version, "jdk" -> System.getProperty("java.version"),
        "master" -> spark.sparkContext.master, "cpus" -> cpus,
        "jvm_cpus" -> Runtime.getRuntime.availableProcessors,
        "driver_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20)),
      "setup" -> Map("session_s" -> sessionS, "load_s" -> loadS, "warm_s" -> warmS,
        "setup_end_ms" -> setupEndMs))

    var stepJobs = Map.empty[Int, Int]
    if (trace && errors.isEmpty) {
      org.apache.spark.graftbench.BusShim.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      spark.streams.removeListener(listener.streaming)
      val stepsA = steps.filter(_.phase == "A").toSeq
      val stepsB = steps.filter(_.phase == "B").toSeq
      val view = new TraceView(tracer, listener, stepsB)
      // Spark jobs per step: untraced ones carry no span id and start
      // inside the step; traced ones belong to a span of the step
      val spanStep = tracer.spans.map(s => s.id -> s.step).toMap
      val traced = view.jobs.groupBy(j => spanStep(j.spanId)).map { case (k, v) => k -> v.size }
      val untraced = (d: Done) =>
        listener.jobs.values.count(j => j.spanId < 0 && j.startMs >= d.startMs && j.startMs <= d.endMs)
      val byKind = (ss: Seq[Done], jobs: Done => Int) =>
        ss.groupBy(_.rec.kind).map { case (k, xs) => k -> (xs.size, xs.map(jobs).sum) }
      val kindA = byKind(stepsA, untraced)
      val kindB = byKind(stepsB, d => traced.getOrElse(d.i, 0))
      // traced minus untraced jobs, compared per step kind; a kind the
      // untraced half never ran cannot be compared (NaN), and a traced
      // step's job without a span counts as extra
      val extra = kindB.map { case (k, (nB, jB)) =>
        kindA.get(k).map { case (nA, jA) => jB - nB * jA.toDouble / nA }.getOrElse(Double.NaN)
      }.sum + stepsB.map(untraced).sum
      stepJobs = (stepsA.map(d => d.i -> untraced(d)) ++ stepsB.map(d => d.i -> traced.getOrElse(d.i, 0))).toMap
      val stepMedian = (ss: Seq[Done]) => median(ss.flatMap(_.rec.times.get("step_s")))
      result("trace") = Map(
        "untraced_jobs" -> kindA.values.map(_._2).sum, "traced_jobs" -> view.jobs.size,
        "untraced_steps" -> stepsA.size, "traced_steps" -> stepsB.size,
        "extra_jobs" -> extra,
        "overhead_ratio" -> stepMedian(stepsB) / stepMedian(stepsA))
      result("layers") = view.core() ++ w.layers(view) ++ w.counts()
      result("spans") = tracer.spans.map { s =>
        val js = view.selfJobs(s)
        Map(
          "id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
          "step" -> s.step, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_s" -> s.nanos / 1e9,
          "self_s" -> view.selfSeconds(s), "jobs" -> js.size, "stages" -> js.map(_.stages).sum,
          "tasks" -> js.map(_.tasks).sum, "executor_cpu_s" -> js.map(_.cpuNs).sum / 1e9,
          "shuffle_write_bytes" -> js.map(_.shuffleWrite).sum,
          "bytes_written" -> js.map(_.bytesWritten).sum)
      }.toSeq
    }

    result("steps") = steps.map(d =>
      Map("phase" -> d.phase, "i" -> d.i, "kind" -> d.rec.kind, "t" -> d.rec.times, "v" -> d.rec.values,
        "jobs" -> stepJobs.getOrElse(d.i, -1))).toSeq
    result("errors") = errors.toSeq
    result("outputs") = if (errors.isEmpty) w.outputs() else Map.empty
    result("peak_rss_mb") = peakRssMb()
    Files.write(dir.resolve("out/result.json"), JsonOut(result.toMap).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Median; 0 for no samples (a layer the workload does not use). */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** The JVM's resident-set high-water mark (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val it = scala.io.Source.fromFile("/proc/self/status")
    try it.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)
    finally it.close()
  }
}

/** Read-side views over the traced half: spans, the jobs attributed
  * to them, and the whole-phase core counters. */
final class TraceView(tracer: Tracer, val l: TraceListener, traced: Seq[Done]) {
  val stepsB: Seq[StepRec] = traced.map(_.rec)
  private val intervals = traced.map(d => (d.startMs, d.endMs))
  val jobs: Seq[JobRec] = l.jobs.values.filter(_.spanId >= 0).toSeq
  private def inB(t: Long) = intervals.exists { case (a, b) => t >= a && t <= b }
  val progress: Seq[Progress] = l.progress.filter(p => inB(p.startMs)).toSeq
  private val bySpan = jobs.groupBy(_.spanId)
  private val children = tracer.spans.groupBy(_.parent)
  val nSteps: Double = math.max(1, stepsB.size).toDouble

  def spans(name: String): Seq[Span] = tracer.spans.filter(_.name == name).toSeq
  def spansIn(layer: String): Seq[Span] = tracer.spans.filter(_.layer == layer).toSeq

  /** Jobs attributed to `s` or any span nested in it. */
  def jobsOf(s: Span): Seq[JobRec] =
    bySpan.getOrElse(s.id, Nil) ++ children.getOrElse(s.id, Nil).flatMap(jobsOf)

  def jobsOf(ss: Seq[Span]): Seq[JobRec] = ss.flatMap(jobsOf)

  /** Jobs attributed to `s` itself, not to a span nested in it. */
  def selfJobs(s: Span): Seq[JobRec] = bySpan.getOrElse(s.id, Nil)

  def seconds(ss: Seq[Span]): Double = ss.map(_.nanos).sum / 1e9

  /** Span duration minus the part its child spans cover. */
  def selfSeconds(s: Span): Double =
    (s.nanos - children.getOrElse(s.id, Nil).map(_.nanos).sum) / 1e9

  /** Wall time inside the spans with no Spark job running. */
  def driverGap(ss: Seq[Span]): Double =
    ss.map(s => Gaps.uncovered(s.startMs, s.endMs, jobsOf(s).map(j => (j.startMs, j.endMs)))).sum / 1e3

  def isWrite(j: JobRec): Boolean = l.execs.get(j.execId).exists(_.isWrite)

  /** Wall time of the write executions among `js` (the sink's share of
    * a call that also plans or counts). */
  def writeSeconds(js: Seq[JobRec]): Double =
    js.filter(isWrite).map(_.execId).distinct.flatMap(l.execs.get)
      .map(e => math.max(0L, e.endMs - e.startMs)).sum / 1e3

  def perStep(x: Double): Double = x / nSteps

  def core(): Map[String, Double] = Map(
    "core.jobs" -> perStep(jobs.size.toDouble),
    "core.stages" -> perStep(jobs.map(_.stages).sum.toDouble),
    "core.tasks" -> perStep(jobs.map(_.tasks).sum.toDouble),
    "core.driver_gap_s" -> perStep(intervals.map { case (a, b) =>
      Gaps.uncovered(a, b, jobs.map(j => (j.startMs, j.endMs))) }.sum / 1e3),
    "core.executor_run_s" -> perStep(jobs.map(_.runMs).sum / 1e3),
    "core.executor_cpu_s" -> perStep(jobs.map(_.cpuNs).sum / 1e9),
    "core.gc_s" -> perStep(jobs.map(_.gcMs).sum / 1e3),
    "core.shuffle_read_bytes" -> perStep(jobs.map(_.shuffleRead).sum.toDouble),
    "core.shuffle_write_bytes" -> perStep(jobs.map(_.shuffleWrite).sum.toDouble),
    "core.spill_bytes" -> perStep(jobs.map(_.spill).sum.toDouble))
}

/** Flat JSON reader for params.json (string, number and number-list
  * values only) and a writer for nested maps, sequences and numbers. */
object JsonIn {
  def parseObject(s: String): Map[String, Any] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(s, classOf[java.util.Map[String, Object]])
    import scala.jdk.CollectionConverters._
    m.asScala.toMap.map {
      case (k, v: java.util.List[_]) => k -> v.asScala.map(_.toString.toDouble).toSeq
      case (k, v) => k -> v
    }
  }
}

object JsonOut {
  def apply(v: Any): String = v match {
    case null => "null"
    case m: Map[_, _] =>
      m.map { case (k, x) => graft.core.Json.quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case x => graft.core.Json.quote(x.toString)
  }
}
