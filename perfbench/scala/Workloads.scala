package graftbench

import graft.app.ResyncJob
import graft.core.{Clock, Coerce, DatasetRef, LakePaths, LakeStorage}
import graft.ext.{DedupClusters, DedupOps, MinHashLSH}
import graft.ingest.IngestLoop
import graft.operators.{IncrementalPromote, Promote}
import graft.planner.{Boundaries, ChunkWidth, Intervals}
import graft.sinks.{IvfIndex, MergeUpsert, ParquetAppend}
import graft.sources.JdbcSource
import graft.streaming.StreamingOps
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, max}
import scala.collection.mutable

object Fs {
  /** Bytes and data-file count under a directory (Hadoop checksum
    * shadows excluded). */
  def du(dir: String): (Long, Int) = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) (0L, 0)
    else {
      val s = Files.walk(root)
      try {
        var bytes = 0L
        var files = 0
        s.filter(p => Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc"))
          .forEach { p =>
            bytes += Files.size(p)
            if (p.getFileName.toString.endsWith(".parquet")) files += 1
          }
        (bytes, files)
      } finally s.close()
    }
  }

  def rm(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally s.close()
    }
  }

  def move(from: String, to: String): Unit = {
    Files.createDirectories(Paths.get(to).getParent)
    Files.move(Paths.get(from), Paths.get(to), StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Land a file atomically: copy under a hidden name, then rename. */
  def land(src: String, dir: String, name: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    val tmp = Paths.get(dir, s".$name.tmp")
    Files.copy(Paths.get(src), tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

// ------------------------------------------------------------ backfill

/** JDBC backfill: `ResyncJob.runDate` over a date window of an in-memory
  * Derby `orders` table, then `ResyncJob.promote` into an empty TRUSTED. */
final class Backfill(ctx: Ctx) extends Workload {
  import ctx.{spark, tracer => tr}
  // ~1 s steps keep getting faster for about eight steps (JIT of the
  // driver-side planning path); measuring earlier makes the median depend
  // on how far the warm-up got
  val warmupSteps = 8
  private val url = s"jdbc:derby:memory:orders${ProcessHandle.current().pid()};create=true"
  private val src = JdbcSource(url, "", "", driver = Some("org.apache.derby.iapi.jdbc.AutoloadedDriver"))
  private val jdbc = ResyncJob.JdbcRanged(src, "ORDERS")
  private val lake = LakePaths(ctx.lake("zones"))
  private val ref = DatasetRef("bench", "tpch", "orders")
  private val pc = "o_orderdate"
  private val end = LocalDate.parse(ctx.str("window_end"))
  private val rows = ctx.num("rows")
  private val noSleep = (_: Long) => ()
  private val reps = mutable.ArrayBuffer.empty[String]
  private var planned = 0

  def setup(): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("""create table ORDERS (o_orderkey bigint, o_custkey bigint,
        o_orderstatus varchar(1), o_totalprice double, o_orderdate date,
        o_orderpriority varchar(15))""")
      st.execute(s"call SYSCS_UTIL.SYSCS_IMPORT_TABLE(null, 'ORDERS', '${ctx.input("orders.csv")}', null, null, null, 0)")
      st.execute("create index orders_date on ORDERS (o_orderdate)")
      st.close()
    } finally conn.close()
  }

  /** `ResyncJob.runDate` rebuilt from the public calls it makes, with a
    * span around each: the same WORK rows, the same Spark jobs. */
  private def tracedRunDate(): Unit = tr.span("ingest.run_date", "ingest") {
    val workPath = lake.work(ref)
    val storage = LakeStorage(spark)
    storage.clearOrCreate(workPath)
    val bounds = Boundaries.resolveDates(None, Some(end),
      sourceMin = tr.span("sources.boundary", "sources") {
        Coerce.toLocalDate(jdbc.minValue(spark, pc)) },
      today = LocalDate.now())
    val (width, plan) = tr.span("planner.plan", "planner") {
      val span = java.time.temporal.ChronoUnit.DAYS.between(bounds.start, bounds.end)
      val w = ChunkWidth.dateChunkDays(rows, span)
      (w, Intervals.dates(bounds.start, bounds.end, w))
    }
    planned += plan.size
    new IngestLoop[LocalDate](sleep = noSleep).run(
      idRequest = s"${ref.namespace}.${ref.dataset}",
      plan = plan,
      extract = iv => tr.span("ingest.chunk", "ingest") {
        val (s, e) = Intervals.halfOpenDates(iv)
        val df = tr.span("sources.read", "sources") { jdbc.readRange(spark, pc, s.toString, e.toString) }
        tr.span("sinks.append", "sinks") { ParquetAppend.write(df, workPath) }
      },
      recover = Some(() =>
        if (!storage.exists(workPath)) None
        else spark.read.parquet(workPath).select(max(col(pc))).head().get(0) match {
          case null => None
          case v => Some(Coerce.toLocalDate(v))
        }),
      replan = cp => Intervals.dates(cp, bounds.end, width))
  }

  private def tracedPromote(): Unit = {
    val work = tr.span("sources.read_work", "sources") { spark.read.parquet(lake.work(ref)) }
    val curated = tr.span("operators.transform", "operators") {
      Promote.transform(work, Seq("o_orderkey"), hyphen = false, Clock.ForOracle, deterministic = true) }
    tr.span("sinks.merge", "sinks") { MergeUpsert.mergeInto(spark, lake.trusted(ref), curated) }
  }

  def step(i: Int, repeat: Boolean): Option[StepRec] = {
    Fs.rm(lake.trusted(ref)) // every step promotes into an empty TRUSTED
    val t0 = System.nanoTime()
    if (tr.enabled) tracedRunDate()
    else ResyncJob.runDate(spark, jdbc, pc, ref, lake, cliEnd = Some(end),
      estimatedRows = rows, sleep = noSleep)
    val ingest = Fs.secs(t0)
    val t1 = System.nanoTime()
    if (tr.enabled) tracedPromote()
    else ResyncJob.promote(spark, ref, lake, Seq("o_orderkey"), clock = Clock.ForOracle)
    val promote = Fs.secs(t1)
    val (wb, wf) = Fs.du(lake.work(ref))
    val (tb, tf) = Fs.du(lake.trusted(ref))
    val rep = ctx.out(s"reps/$i")
    Fs.move(lake.work(ref), s"$rep/work")
    Fs.move(lake.trusted(ref), s"$rep/trusted")
    reps += rep
    Some(StepRec("resync", Map("step_s" -> (ingest + promote), "ingest_s" -> ingest,
      "promote_s" -> promote), Map("lake_bytes" -> (wb + tb).toDouble,
      "input_bytes" -> ctx.num("input_bytes").toDouble,
      "work_bytes" -> wb.toDouble, "work_files" -> wf.toDouble,
      "trusted_bytes" -> tb.toDouble, "trusted_files" -> tf.toDouble)))
  }

  def outputs(): Map[String, Any] = Map("reps" -> reps.toSeq)

  def layers(t: TraceView): Map[String, Double] = {
    // chunk-time percentiles come from the exported spans (run.py)
    val chunks = t.spans("ingest.chunk")
    val appendJobs = t.jobsOf(t.spans("sinks.append"))
    val landed = appendJobs.map(_.recordsWritten).sum.toDouble
    val read = appendJobs.map(_.recordsRead).sum.toDouble
    val mergeJobs = t.jobsOf(t.spans("sinks.merge"))
    val v = (k: String) => t.stepsB.map(_.values(k)).sum
    val plan = t.spans("planner.plan")
    Map(
      "planner.chunks" -> t.perStep(chunks.size.toDouble),
      "planner.plan_s" -> t.perStep(t.seconds(plan)),
      "sources.boundary_s" -> t.perStep(t.seconds(t.spans("sources.boundary"))),
      "sources.boundary_jobs" -> t.perStep(t.jobsOf(t.spans("sources.boundary")).size.toDouble),
      "sources.rows_read" -> t.perStep(read),
      "sources.read_amp" -> (if (landed > 0) read / landed else 0.0),
      "ingest.jobs_per_chunk" -> t.jobsOf(chunks).size.toDouble / math.max(1, chunks.size),
      "ingest.driver_gap_s" -> t.perStep(t.driverGap(t.spans("ingest.run_date"))),
      "ingest.retries" -> t.perStep((chunks.size - planned).toDouble),
      "operators.rows_in" -> t.perStep(landed),
      "operators.rows_out" -> t.perStep(mergeJobs.map(_.recordsWritten).sum.toDouble),
      "operators.dedup_ratio" -> (if (landed > 0) mergeJobs.map(_.recordsWritten).sum / landed else 0.0),
      "operators.shuffle_write_bytes" -> t.perStep(mergeJobs.map(_.shuffleWrite).sum.toDouble),
      "operators.jobs" -> t.perStep(t.jobsOf(t.spans("operators.transform")).size.toDouble),
      "sinks.append_files" -> t.perStep(v("work_files")),
      "sinks.append_bytes" -> t.perStep(appendJobs.map(_.bytesWritten).sum.toDouble),
      "sinks.merge_s" -> t.perStep(t.writeSeconds(mergeJobs)),
      "sinks.merge_jobs" -> t.perStep(mergeJobs.size.toDouble),
      "sinks.merge_bytes_written" -> t.perStep(mergeJobs.map(_.bytesWritten).sum.toDouble),
      "sinks.write_amp" -> v("trusted_bytes") / math.max(1.0, v("work_bytes")),
      "sinks.trusted_files" -> t.perStep(v("trusted_files")))
  }
}

// ------------------------------------------------------- upsert stream

/** Continuously-fed lake: each cycle lands one change batch, runs the
  * AvailableNow stream into WORK, then `IncrementalPromote.run` into the
  * ~300k-row TRUSTED. The next batch lands only after the promote. */
final class UpsertStream(ctx: Ctx) extends Workload {
  import ctx.{spark, tracer => tr}
  // cycles keep getting faster for about five cycles (2.6 s down to
  // 2.0 s on 4 cores); measuring earlier makes the median depend on how
  // far the warm-up got
  val warmupSteps = 5
  private val lake = LakePaths(ctx.lake("zones"))
  private val ref = DatasetRef("bench", "tpch", "lineitem")
  private val landing = ctx.lake("landing")
  private val ckpt = ctx.lake("checkpoint")
  private val sk = Seq("l_orderkey", "l_linenumber")
  private val batches = ctx.params("batch_rows").asInstanceOf[Seq[Double]].length
  private var applied = 0
  private var landedBytes = 0L
  private var schema: org.apache.spark.sql.types.StructType = _

  private def cycle(file: String, name: String): (Double, Double, Double, IncrementalPromote.Result) = {
    Fs.land(file, landing, name)
    val t0 = System.nanoTime()
    tr.span("streaming.ingest_to_work", "streaming") {
      StreamingOps.streamIngestToWork(spark, landing, schema, lake.work(ref), ckpt) }
    val ingest = Fs.secs(t0)
    val t1 = System.nanoTime()
    val r = tr.span("operators.incremental_promote", "operators") {
      IncrementalPromote.run(spark, ref, lake, sk, clock = Clock.ForOracle) }
    (Fs.secs(t0), ingest, Fs.secs(t1), r)
  }

  def setup(): Unit = {
    schema = spark.read.parquet(ctx.input("batches/b000.parquet")).schema
    Fs.land(ctx.input("trusted_base/part-0.parquet"), lake.trusted(ref), "part-00000.parquet")
  }

  def step(i: Int, repeat: Boolean): Option[StepRec] =
    if (applied >= batches) None
    else {
      val name = f"b$applied%03d.parquet"
      val workBefore = Fs.du(lake.work(ref))
      val (fresh, ingest, promote, r) = cycle(ctx.input(s"batches/$name"), name)
      applied += 1
      landedBytes += Files.size(Paths.get(ctx.input(s"batches/$name")))
      val workAfter = Fs.du(lake.work(ref))
      val (tb, tf) = Fs.du(lake.trusted(ref))
      val (cb, _) = Fs.du(ckpt)
      Some(StepRec("cycle", Map("step_s" -> fresh, "ingest_s" -> ingest, "promote_s" -> promote),
        Map("lake_bytes" -> (workAfter._1 + tb + cb).toDouble,
          "input_bytes" -> (ctx.num("input_bytes") + landedBytes).toDouble,
          "batch_bytes" -> Files.size(Paths.get(ctx.input(s"batches/$name"))).toDouble,
          "batch_rows" -> ctx.params("batch_rows").asInstanceOf[Seq[Double]](applied - 1),
          "append_files" -> (workAfter._2 - workBefore._2).toDouble,
          "append_bytes" -> (workAfter._1 - workBefore._1).toDouble,
          "rows_merged" -> r.rowsMerged.toDouble,
          "trusted_bytes" -> tb.toDouble, "trusted_files" -> tf.toDouble)))
    }

  def outputs(): Map[String, Any] =
    Map("trusted" -> lake.trusted(ref), "batches_applied" -> applied)

  def layers(t: TraceView): Map[String, Double] = {
    val stream = t.spans("streaming.ingest_to_work")
    val promote = t.spans("operators.incremental_promote")
    val pJobs = t.jobsOf(promote)
    val (writes, others) = pJobs.partition(t.isWrite)
    val v = (k: String) => t.stepsB.map(_.values(k)).sum
    val prog = t.progress
    val rowsIn = v("batch_rows")
    Map(
      "streaming.microbatches" -> t.perStep(prog.size.toDouble),
      "streaming.trigger_ms" -> Main.median(prog.map(_.triggerMs.toDouble)),
      "streaming.addbatch_ms" -> Main.median(prog.map(_.addBatchMs.toDouble)),
      "streaming.overhead_ms" -> Main.median(prog.map(p => (p.triggerMs - p.addBatchMs).toDouble)),
      "streaming.jobs" -> t.perStep(t.jobsOf(stream).size.toDouble),
      "operators.rows_in" -> t.perStep(rowsIn),
      "operators.rows_out" -> t.perStep(v("rows_merged")),
      "operators.dedup_ratio" -> v("rows_merged") / math.max(1.0, rowsIn),
      "operators.shuffle_write_bytes" -> t.perStep(pJobs.map(_.shuffleWrite).sum.toDouble),
      "operators.jobs" -> t.perStep(others.size.toDouble),
      "sinks.append_files" -> t.perStep(v("append_files")),
      "sinks.append_bytes" -> t.perStep(v("append_bytes")),
      "sinks.merge_s" -> t.perStep(t.writeSeconds(writes)),
      "sinks.merge_jobs" -> t.perStep(writes.size.toDouble),
      "sinks.merge_bytes_written" -> t.perStep(writes.map(_.bytesWritten).sum.toDouble),
      "sinks.write_amp" -> writes.map(_.bytesWritten).sum / math.max(1.0, v("batch_bytes")),
      "sinks.trusted_files" -> t.perStep(v("trusted_files")))
  }
}

// -------------------------------------------------------- corpus dedup

/** LLM-data path: exact dedup, MinHash-LSH near-dup pairs, one survivor
  * per cluster, parquet write. */
final class CorpusDedup(ctx: Ctx) extends Workload {
  import ctx.{spark, tracer => tr}
  val warmupSteps = 2
  private val corpus = ctx.input("corpus")
  private val outDir = ctx.lake("deduped")
  private val reps = mutable.ArrayBuffer.empty[String]

  private def exact(): DataFrame = {
    val docs = tr.span("sources.read_corpus", "sources") { spark.read.parquet(corpus) }
    tr.span("ext.exact_keep_rows", "ext") { DedupOps.exactKeepRows(docs).drop("fp") }
  }

  def setup(): Unit = ()

  def step(i: Int, repeat: Boolean): Option[StepRec] = {
    Fs.rm(outDir)
    val t0 = System.nanoTime()
    val kept0 = exact()
    val pairs = tr.span("ext.near_dup_pairs", "ext") { MinHashLSH.nearDupPairs(kept0) }
    val kept = tr.span("ext.keep_one_per_cluster", "ext") { DedupClusters.keepOnePerCluster(kept0, pairs) }
    tr.span("sinks.write", "sinks") { ParquetAppend.write(kept, outDir) }
    val s = Fs.secs(t0)
    val (b, _) = Fs.du(outDir)
    val rep = ctx.out(s"reps/$i")
    Fs.move(outDir, rep)
    reps += rep
    Some(StepRec("dedup", Map("step_s" -> s),
      Map("lake_bytes" -> b.toDouble, "input_bytes" -> Fs.du(corpus)._1.toDouble)))
  }

  override def counts(): Map[String, Double] = {
    val docs = DedupOps.exactKeepRows(spark.read.parquet(corpus)).drop("fp")
    val cands = MinHashLSH.candidatePairs(MinHashLSH.signatures(docs)).count().toDouble
    val verified = MinHashLSH.nearDupPairs(docs).count().toDouble
    Map("ext.candidate_pairs" -> cands, "ext.verified_pairs" -> verified,
      "ext.verify_yield" -> (if (cands > 0) verified / cands else 0.0))
  }

  def outputs(): Map[String, Any] = Map("reps" -> reps.toSeq)

  def layers(t: TraceView): Map[String, Double] = {
    val js = t.jobs
    Map(
      "ext.dedup_jobs" -> t.perStep(js.size.toDouble),
      "ext.shuffle_write_bytes" -> t.perStep(js.map(_.shuffleWrite).sum.toDouble),
      "ext.executor_cpu_s" -> t.perStep(js.map(_.cpuNs).sum / 1e9),
      "sinks.append_bytes" -> t.perStep(t.jobsOf(t.spans("sinks.write")).map(_.bytesWritten).sum.toDouble))
  }
}

// ----------------------------------------------------------- ANN serve

/** Read-dominated serving: closed loop of `IvfIndex.topK` query batches;
  * every `RefreshEvery`-th step appends a vector file and runs
  * `IvfIndex.refresh` instead. */
final class AnnServe(ctx: Ctx) extends Workload {
  import ctx.{spark, tracer => tr}
  // the warm-up includes two refreshes: the first refresh of a new index
  // submits a different job mix from every later one, and queries settle
  // at their steady cost only after the second
  val warmupSteps = 10
  val RefreshEvery = 5
  // the warm-up ends on a refresh, so the measured steps hold a refresh
  // (which step_p50_s needs) from the fifth on
  override val minSteps = RefreshEvery
  val K = 10
  val NProbe = 4
  val NCells = 16
  private val table = ctx.lake("vectors")
  private val qSize = ctx.num("q_size").toInt
  private val nAppends = ctx.num("appends").toInt
  private var queries: Array[Row] = _
  private var qSchema: org.apache.spark.sql.types.StructType = _
  private var queries0: DataFrame = _
  private var nextQuery = 0
  private var nextAppend = 0
  private var inputBytes = 0L
  // (step, appends applied before it, q_id, neighbor_id, rank)
  private val results = mutable.ArrayBuffer.empty[(Int, Int, Long, Long, Long)]
  private val probed = mutable.ArrayBuffer.empty[Array[Row]]

  def setup(): Unit = {
    Fs.land(ctx.input("vectors/part-base.parquet"), table, "part-base.parquet")
    inputBytes = Fs.du(table)._1
    val q = spark.read.parquet(ctx.input("queries.parquet")).select("vec_id", "embedding")
    qSchema = q.schema
    queries = q.collect()
    queries0 = spark.createDataFrame(java.util.Collections.emptyList[Row](), qSchema)
    IvfIndex.collect(spark, table, nCells = NCells)
  }

  // the schedule position: a traced pair's second step repeats the
  // first one's kind (a query pair probes the same batch twice)
  private var n = -1
  private var batch: Array[Row] = _

  def step(i: Int, repeat: Boolean): Option[StepRec] = {
    if (!repeat) n += 1
    if (n % RefreshEvery == RefreshEvery - 1) {
      if (nextAppend >= nAppends) None
      else {
        val name = f"part-a$nextAppend%03d.parquet"
        val t0 = System.nanoTime()
        tr.span("sinks.append_vectors", "sinks") { Fs.land(ctx.input(f"appends/a$nextAppend%03d.parquet"), table, name) }
        tr.span("sinks.ivf_refresh", "sinks") { IvfIndex.refresh(spark, table) }
        // reopen the refreshed index for serving: an empty probe re-reads
        // its metadata, so no query pays the first read after a refresh
        tr.span("ext.ivf_reopen", "ext") { IvfIndex.topK(spark, table, queries0, K, NProbe) }
        val s = Fs.secs(t0)
        nextAppend += 1
        inputBytes += Files.size(Paths.get(table, name))
        Some(StepRec("refresh", Map("refresh_s" -> s), lakeValues()))
      }
    } else {
      if (!repeat || batch == null) {
        if ((nextQuery + 1) * qSize > queries.length) return None
        batch = queries.slice(nextQuery * qSize, (nextQuery + 1) * qSize)
        nextQuery += 1
      }
      val qdf = spark.createDataFrame(java.util.Arrays.asList(batch: _*), qSchema)
      val t0 = System.nanoTime()
      val res = tr.span("ext.ivf_top_k", "ext") { IvfIndex.topK(spark, table, qdf, K, NProbe).collect() }
      val s = Fs.secs(t0)
      res.foreach(r => results += ((i, nextAppend, r.getLong(0), r.getLong(1), r.getLong(2))))
      if (tr.enabled) probed += batch
      Some(StepRec("query", Map("step_s" -> s), lakeValues()))
    }
  }

  private def lakeValues(): Map[String, Double] =
    Map("lake_bytes" -> Fs.du(table)._1.toDouble, "input_bytes" -> inputBytes.toDouble)

  /** Cells probed and rows scored, recomputed on the driver from the
    * stored centroids and per-cell sizes — extra actions, untimed. */
  override def counts(): Map[String, Double] = {
    val cents = spark.read.parquet(s"$table/_ivf_cells/_centroids").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
    val sizes = spark.read.parquet(s"$table/_ivf_cells").groupBy("__cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    def l2(a: Array[Double], b: Seq[Float]): Double = a.indices.map { j => val d = a(j) - b(j); d * d }.sum
    val perBatch = probed.toSeq.map { batch =>
      val cells = batch.toSeq.map { q =>
        val v = q.getSeq[Float](1)
        cents.sortBy { case (c, cv) => (l2(cv, v), c) }.take(NProbe).map(_._1).toSeq
      }
      (cells.flatten.distinct.size.toDouble, cells.map(_.map(c => sizes.getOrElse(c, 0L)).sum.toDouble))
    }
    Map(
      "ext.ann_cells_probed" -> Main.median(perBatch.map(_._1)),
      "ext.ann_rows_scored_per_query" -> Main.median(perBatch.flatMap(_._2)))
  }

  def outputs(): Map[String, Any] = {
    val f = ctx.out("ann_results.csv")
    val sb = new StringBuilder
    results.foreach { case (s, a, q, n, r) => sb ++= s"$s,$a,$q,$n,$r\n" }
    Files.write(Paths.get(f), sb.toString.getBytes("UTF-8"))
    Map("results" -> f, "k" -> K, "appends_applied" -> nextAppend, "refresh_every" -> RefreshEvery)
  }

  def layers(t: TraceView): Map[String, Double] = {
    val q = t.spans("ext.ivf_top_k")
    val r = t.spans("sinks.ivf_refresh")
    Map(
      "ext.ann_jobs_per_query" -> t.jobsOf(q).size.toDouble / math.max(1, q.size),
      "ext.ann_driver_gap_s" -> t.driverGap(q) / math.max(1, q.size),
      "ext.shuffle_write_bytes" -> t.perStep(t.jobsOf(q).map(_.shuffleWrite).sum.toDouble),
      "ext.executor_cpu_s" -> t.perStep(t.jobsOf(q).map(_.cpuNs).sum / 1e9),
      "sinks.refresh_s" -> t.seconds(r) / math.max(1, r.size),
      "sinks.refresh_bytes_written" -> t.jobsOf(r).map(_.bytesWritten).sum.toDouble / math.max(1, r.size))
  }
}
