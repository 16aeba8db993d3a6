package graft
import org.apache.spark.sql.SparkSession
import graft.queries.QueryRegistry

object Bench {

  /** Fixed-cost WINDOW CANARY: a CPU-bound distributed job whose cost
    * depends only on the host's available compute — no file I/O (page
    * cache can't flatter it), no shuffle (disk/fsync noise can't
    * inflate it), constant work (2e9 modular reductions across 32
    * tasks). A capture window where even the BEST canary sample reads
    * far above its committed quiet-window reference is measuring the
    * host's weather, not the code — r15/r16 shipped official captures
    * whose totals spanned 1.7× on identical code, which made every
    * per-query ratio unfalsifiable. The gate (tools/bench_gate.py)
    * REFUSES such a capture (exit 2, "window invalid, re-run")
    * instead of reporting phantom regressions. */
  @volatile private var canaryWarmed = false
  def canary(spark: SparkSession): Double = {
    def job(): Unit = spark.range(0L, 2000000000L, 1L, 32)
      .selectExpr("sum(id % 1000007)").collect()
    // first call in a JVM pays codegen/JIT compile (~2s measured) —
    // that is session warmth, not window load; burn it untimed
    if (!canaryWarmed) { job(); canaryWarmed = true }
    val t0 = System.nanoTime()
    job()
    (System.nanoTime() - t0) / 1e9
  }

  /** Must track CANARY_MAX in tools/bench_gate.py: a canary sample
    * above ref×this factor means the host was loaded at that moment. */
  val CanaryMax = 1.3

  /** The committed quiet-window reference, read from the SAME file the
    * gate reads (BENCH_BASELINE.json in the working directory), so the
    * capture self-heals against exactly the threshold it will later be
    * graded by. Absent file / field → None → no in-run retries (first
    * capture on a new machine), but canaries are still recorded. */
  def canaryRef(): Option[Double] = {
    val p = java.nio.file.Paths.get("BENCH_BASELINE.json")
    if (!java.nio.file.Files.exists(p)) return None
    val txt = java.nio.file.Files.readString(p)
    val m = """"canary_ref"\s*:\s*([0-9.]+)""".r.findFirstMatchIn(txt)
    m.map(_.group(1).toDouble)
  }

  /** One measurement part: a named slice of the query list (or the
    * BASELINE.md flow pair), run with bracketing canaries. */
  private case class PartRun(
      times: Seq[(String, Double)],
      canaryBefore: Double,
      canaryAfter: Double,
      attempts: Int) {
    def bestBracket: Double = math.min(canaryBefore, canaryAfter)
  }

  /** Queries that persist/localCheckpoint intermediates release their
    * handles, but the blocks stay in the block manager until the
    * ContextCleaner GCs the RDD object; over a long sweep sharing one
    * session that accumulation caused 4x slowdowns on later
    * memory-hungry queries (round-3 minhash: 43s in-sweep vs 2s
    * isolated). Each query is an independent job in production, so
    * [[graft.core.Sessions.settle]] drops orphaned blocks BLOCKING
    * before the next timer starts. A failed query reports -1, never a
    * plausible elapsed time. */
  private def runQueries(spark: SparkSession, sfDir: String,
                         names: Seq[String]): Seq[(String, Double)] =
    names.map { name =>
      val fn = QueryRegistry(name).run
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
      }
      val secs = (System.nanoTime() - t0) / 1e9
      graft.core.Sessions.settle(spark)
      name -> (if (ok) secs else -1.0)
    }

  /** BASELINE.md protocol items (a)+(b): full chunked ingest of
    * lineitem into WORK staging, then promote T1-T5 + K2 merge. */
  private def runFlow(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import graft.app.ResyncJob
    import graft.core.{Clock, DatasetRef, LakePaths}
    val lakeRoot = java.nio.file.Files.createTempDirectory("graft-bench-lake")
    val lake = LakePaths(lakeRoot.toString)
    val ref = DatasetRef("bench", "tpch", "lineitem")
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime()
      try { f; (System.nanoTime() - t0) / 1e9 } catch {
        case e: Throwable =>
          System.err.println(s"[bench] flow failed: ${e.getMessage}"); -1.0
      } finally graft.core.Sessions.settle(spark)
    }
    val stats = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.max("l_orderkey")).head()
    val (rows, maxKey) = (stats.getLong(0), stats.getLong(1))
    val ingest = timed {
      ResyncJob.runInt(
        spark,
        ResyncJob.MongoRanged(graft.sources.MongoLikeSource(s"$sfDir/lineitem.parquet")),
        pc = "l_orderkey", ref = ref, lake = lake,
        cliEnd = Some(maxKey),
        estimatedRows = rows, withRecovery = false, sleep = _ => ())
    }
    val promote = timed {
      ResyncJob.promote(spark, ref, lake,
        skIds = Seq("l_orderkey", "l_linenumber"), hyphen = true,
        clock = Clock.ForOracle)
    }
    // repeated bench runs must not accumulate staged copies in /tmp
    new graft.core.LakeStorage(spark.sparkContext.hadoopConfiguration)
      .truncate(lakeRoot.toString)
    Seq("flow_ingest_lineitem" -> ingest, "flow_promote_merge" -> promote)
  }

  /** SELF-HEALING part runner. The r16/r17 driver captures both failed
    * the repo's own window gate — the host was loaded during the
    * official run, so the graded per-query numbers measured weather.
    * Instead of discovering that after the fact, each part now checks
    * its OWN window while capturing: bracket the part with canary
    * samples, and if neither bracket is quiet
    * (min > canary_ref × CanaryMax), pause (10s, then 30s) and re-run
    * the part — bounded per part (3 attempts) AND globally
    * (`retryBudget`, so a fully-loaded host degrades to roughly the
    * old single-shot cost plus waits rather than 3× everything). The
    * accepted attempt is the first quiet one, else the attempt with
    * the quietest bracket; only ITS timings are reported, so every
    * graded number corresponds to the canary window recorded next to
    * it. Failures stay sticky across attempts: a query that crashed in
    * a rejected attempt must not hide behind a retry that happened to
    * pass. */
  private def runPartHealed(
      spark: SparkSession, label: String,
      ref: Option[Double], retryBudget: java.util.concurrent.atomic.AtomicInteger,
      body: () => Seq[(String, Double)]): PartRun = {
    val maxAttempts = 3
    val waitsMs = Seq(10000L, 30000L)
    var attempts = Vector.empty[PartRun]
    var done = false
    while (!done) {
      val cb = canary(spark)
      val times = body()
      val ca = canary(spark)
      val run = PartRun(times, cb, ca, attempts.length + 1)
      attempts :+= run
      val quiet = ref.forall(r => run.bestBracket <= r * CanaryMax)
      if (quiet || attempts.length >= maxAttempts ||
          retryBudget.getAndDecrement() <= 0) done = true
      else {
        val wait = waitsMs(math.min(attempts.length - 1, waitsMs.length - 1))
        System.err.println(
          f"[bench] $label attempt ${attempts.length}: loaded window " +
          f"(canaries ${run.canaryBefore}%.3f/${run.canaryAfter}%.3f > " +
          f"${CanaryMax}x ref ${ref.get}%.3f) — waiting ${wait / 1000}s, retrying part")
        Thread.sleep(wait)
      }
    }
    val accepted = attempts.minBy(_.bestBracket)
    // sticky failures: -1 anywhere in any attempt poisons the query
    val failed = attempts.flatMap(_.times).collect { case (n, t) if t < 0 => n }.toSet
    val times = accepted.times.map { case (n, t) => n -> (if (failed(n)) -1.0 else t) }
    accepted.copy(times = times, attempts = attempts.length)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.core.Sessions.local(cpus)
    // Warm the JVM/codegen/parquet-footer paths so the first timed
    // query doesn't absorb session cold-start.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()

    val ref = canaryRef()
    // Pre-run quiet-wait: a canary is ~0.45s, so probing for a quiet
    // start is nearly free, and the START matters most — captures
    // that begin loaded tend to stay loaded (r17's driver window ran
    // another workload for its whole first half). Bounded: 8 probes,
    // 30s apart (~4 min max), costing nothing on a quiet host.
    ref.foreach { r =>
      var probes = 0
      while (probes < 8 && canary(spark) > r * CanaryMax) {
        probes += 1
        System.err.println(s"[bench] host loaded before sweep 1 (probe $probes/8), waiting 30s")
        Thread.sleep(30000L)
      }
    }

    // Measurement parts: slices of ~20 queries plus the flow pair.
    // These are also the stdout reassembly parts, so each part line
    // carries the canary brackets its own numbers were captured under.
    val names = QueryRegistry.names
    val slices: Seq[(String, () => Seq[(String, Double)])] =
      names.grouped(20).zipWithIndex.map { case (g, i) =>
        s"part${i + 1}" -> (() => runQueries(spark, sfDir, g))
      }.toSeq :+ ("flow" -> (() => runFlow(spark, sfDir)))

    // TWO full sweeps, per-query MINIMUM of the ACCEPTED attempts.
    // local[32] shares its host; single-shot timings carried 5-9x
    // bursts on individual queries (round 5: ext_ann_ivf 32.3s in the
    // driver's one-shot sweep vs 3.6s isolated). The minimum of two
    // temporally-separated sweeps estimates the cost of the CODE, and
    // the first pass pins the page-cache state so the measured
    // condition is "hot data, independent query". The global retry
    // budget bounds worst-case wall clock on a host that never goes
    // quiet (where exit-2 is the correct final verdict anyway).
    val retryBudget = new java.util.concurrent.atomic.AtomicInteger(12)
    def sweepHealed(tag: String): Seq[PartRun] =
      slices.map { case (label, body) =>
        runPartHealed(spark, s"$tag/$label", ref, retryBudget, body)
      }
    val pass1 = sweepHealed("sweep1")
    val pass2 = sweepHealed("sweep2")

    val all = pass1.flatMap(_.times).zip(pass2.flatMap(_.times)).map {
      case ((n1, t1), (n2, t2)) =>
        require(n1 == n2, s"sweep order mismatch: $n1 vs $n2")
        n1 -> (if (t1 < 0 || t2 < 0) -1.0 else math.min(t1, t2))
    }
    def fmt(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString

    // Window summary. `canary` keeps the historical shape (min /
    // median / max over every accepted bracket sample) so
    // rebaseline.py's min(canary) semantic is unchanged.
    // `canary_worst_part` is the gate's per-part verdict in ONE float:
    // the worst part's BEST bracket — if even that is quiet, every
    // graded row came from a validated window; it survives the
    // driver's 2 KB stdout tail where early part lines scroll out.
    val partPairs = pass1.zip(pass2)
    val allSamples = partPairs.flatMap { case (a, b) =>
      Seq(a.canaryBefore, a.canaryAfter, b.canaryBefore, b.canaryAfter) }.sorted
    val canarySummary = Seq(allSamples.head,
      allSamples(allSamples.length / 2), allSamples.last)
    val worstPart = partPairs.map { case (a, b) =>
      math.min(a.bestBracket, b.bestBracket) }.max
    val canaries = canarySummary.map(fmt).mkString("[", ",", "]")
    val refJson = ref.map(fmt).getOrElse("null")

    val qs = all.map { case (k, v) => graft.core.Json.quote(k) + ":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = all.collect { case (_, v) if v >= 0 => v }.sum
    // the driver's ~2 KB stdout tail can only ever hold the LAST
    // couple of part lines, so per-query failure visibility cannot
    // ride the parts: the final line carries the failed-row count,
    // and the gate fails a partial-tail capture on n_failed > 0 (or
    // an n_queries shrink) instead of guessing which rows scrolled
    val nFailed = all.count(_._2 < 0)
    val partDetail = partPairs.zip(slices).map { case ((a, b), (label, _)) =>
      s"""{"part":${graft.core.Json.quote(label)},"canary":[${fmt(a.canaryBefore)},${fmt(a.canaryAfter)},${fmt(b.canaryBefore)},${fmt(b.canaryAfter)}],"attempts":[${a.attempts},${b.attempts}]}"""
    }.mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","passes":2,"agg":"min","n_queries":${all.length},"n_failed":$nFailed,"canary":$canaries,"canary_worst_part":${fmt(worstPart)},"canary_ref_used":$refJson,"part_canaries":$partDetail}"""
    // The full single-line record goes to a stable file for the local
    // gate (tools/bench_gate.py) and any reader with unbounded input.
    java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_out.json"), line + "\n")
    spark.stop()
    // Stdout is read through a BOUNDED (~2 KB) tail buffer by the
    // driver — at 150+ queries the full ms-precision map can NEVER
    // fit it. The tail-facing contract: small {"bench_part":k,...}
    // lines first (each <=1 KB, reassembling the full map for any
    // unbounded reader, now each carrying ITS OWN canary brackets and
    // attempt counts), then ONE final line carrying every contract
    // field INCLUDING a compact "queries" map — the headline set
    // (d1-d9 + the two BASELINE.md flow items) — plus the window
    // summary (canary min/median/max, canary_worst_part), which is
    // what fits a 2 KB tail with room to spare. The complete map
    // always lands in bench_out.json.
    val perPartTimes = {
      var idx = 0
      partPairs.map { case (a, _) => val n = a.times.length
        val slice = all.slice(idx, idx + n); idx += n; slice }
    }
    val nParts = perPartTimes.length
    perPartTimes.zipWithIndex.foreach { case (slice, i) =>
      val (a, b) = partPairs(i)
      val entries = slice.map { case (k, v) => graft.core.Json.quote(k) + ":" + fmt(v) }
        .mkString(",")
      val pc = s"[${fmt(a.canaryBefore)},${fmt(a.canaryAfter)},${fmt(b.canaryBefore)},${fmt(b.canaryAfter)}]"
      println(s"""{"bench_part":${i + 1},"of":$nParts,"canary":$pc,"attempts":[${a.attempts},${b.attempts}],"queries":{$entries}}""")
    }
    // r19 (verdict item: restore per-query driver visibility): the
    // driver's PERF auto-compare reads the FINAL line's queries map,
    // and its stdout capture is a bounded ~2 KB tail — rounds 5-10
    // proved a full-207-row final line head-truncates there and the
    // driver then parses NOTHING (BENCH_r05..r10 carry parsed:{}).
    // So the final line carries the contract's headline set (d1-d9 +
    // the BASELINE.md flow pair — never removed) PLUS as many of the
    // most expensive remaining rows as fit a 1800-char line:
    // regression visibility concentrates where the seconds are (the
    // gate's MIN_DELTA is 2 s — sub-0.1 s rows cannot trip it), and
    // the complete map still rides the bench_part lines above and
    // bench_out.json. Membership is deterministic given the
    // measurements: mandatory rows first, then descending cost until
    // the rendered line would exceed the budget. "partial" says the
    // map is a subset, so a reader judges completeness by n_queries.
    val mandatory = all.filter { case (k, _) =>
      k.matches("d[0-9].*") || k.startsWith("flow_ingest") || k.startsWith("flow_promote")
    }
    val mandatoryNames = mandatory.map(_._1).toSet
    def render(entries: Seq[(String, Double)]): String = {
      val qmap = entries.sortBy(_._1)
        .map { case (k, v) => graft.core.Json.quote(k) + ":" + fmt(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qmap,"partial":${entries.length < all.length},"sf":"$sfDir","passes":2,"agg":"min","n_queries":${all.length},"n_failed":$nFailed,"bench_parts":$nParts,"canary":$canaries,"canary_worst_part":${fmt(worstPart)},"canary_ref_used":$refJson,"full":"bench_out.json"}"""
    }
    val lineBudget = 1800 // leaves tail room for the trailing newline
    val selected = scala.collection.mutable.ArrayBuffer(mandatory: _*)
    val rest = all.filterNot(e => mandatoryNames(e._1)).sortBy(-_._2).iterator
    var finalLine = render(selected.toSeq)
    var full = true
    while (rest.hasNext && full) {
      val e = rest.next()
      val cand = render((selected :+ e).toSeq)
      if (cand.length <= lineBudget) { selected += e; finalLine = cand }
      else full = false
    }
    println(finalLine)
    System.out.flush()
  }
}
