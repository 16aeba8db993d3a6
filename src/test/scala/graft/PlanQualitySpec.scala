package graft

import org.scalatest.funsuite.AnyFunSuite

/** Scale-readiness regression tests: the physical plans the engine
  * promises (SURVEY.md §4, README design principles) — filters
  * reaching the parquet scan, column pruning, whole-stage codegen —
  * asserted so a refactor can't silently regress them.
  */
class PlanQualitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  // The INITIAL physical plan (pre-AQE-execution) — the assertions
  // below target properties visible there (pushed filters, codegen
  // star markers, exchange count). Post-AQE-final-plan assertions
  // would need the plan from an executed QueryExecution instead.
  private def planOf(name: String): String =
    graft.queries.QueryRegistry(name).run(spark, sf).queryExecution.executedPlan.toString

  test("d1: range predicate is pushed into the parquet scan") {
    val plan = planOf("d1_ranged_extract")
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual"),
      s"filters must reach the scan:\n$plan")
  }

  test("projection prunes the read schema to selected columns") {
    import org.apache.spark.sql.functions._
    val df = graft.queries.Fixtures.tbl(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
      .where(col("l_quantity") > 30)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"scan must read only the two projected columns:\n$plan")
  }

  test("d1 executes inside whole-stage codegen") {
    // the '*(n)' prefix marks WholeStageCodegen spans in plan strings
    val plan = planOf("d1_ranged_extract")
    assert(plan.contains("*(1)"), s"no codegen span found:\n$plan")
  }

  test("d7 promote shuffles exactly once (hash partition on sk)") {
    val plan = planOf("d7_promote")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"promote should shuffle exactly once (on sk):\n$plan")
  }

  test("schema-evolution merge adds no exchange over the plain merge") {
    // the widening is projections on each side — the physical plan
    // under it must be exactly the plain merge's anti-join shape
    def exchanges(name: String): Int = {
      val plan = planOf(name)
      "Exchange".r.findAllIn(plan).length
    }
    assert(exchanges("ext_merge_evolve") == exchanges("d8_merge"),
      "mergedEvolved must not introduce shuffles beyond merged's anti-join")
  }

  test("deterministic dedup limits rows map-side before the shuffle") {
    // r19: the window+WindowGroupLimit shape became a min_by
    // aggregation — the stronger map-side property now is PARTIAL
    // aggregation below a single exchange (duplicates collapse to one
    // row per key per map partition before any bytes shuffle)
    val plan = planOf("d5_dedup_deterministic")
    assert(plan.contains("partial_min_by"),
      s"map-side partial min_by aggregation missing:\n$plan")
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"deterministic dedup needs exactly one exchange:\n$plan")
  }

  test("d9 chunk lookup is a hash join on the arithmetic chunk id, not a BNLJ") {
    val plan = planOf("d9_chunk_invariance")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"chunk-interval lookup degenerated to O(rows × chunks):\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected an equi-join on the computed chunk id:\n$plan")
  }

  test("exact dedup aggregates map-side before the shuffle") {
    val plan = planOf("ext_dedup_exact")
    // partial aggregation appears as two HashAggregate nodes around
    // the exchange
    val aggs = "HashAggregate".r.findAllIn(plan).length
    assert(aggs >= 2, s"expected partial+final hash aggregation:\n$plan")
  }

  test("top terms scan the corpus exactly once and prune the rank window map-side") {
    val plan = planOf("ext_text_top_terms")
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1,
      s"df-via-window must not recompute the token aggregation from a second scan:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"rank-limit pushdown missing:\n$plan")
  }

  test("split assignment is a shuffle-free codegen'd projection") {
    val plan = planOf("ext_split_assign")
    assert(!plan.contains("Exchange"), s"split must not shuffle:\n$plan")
    assert(plan.contains("*(1)"), s"split must stay in whole-stage codegen:\n$plan")
  }

  test("brute-force ANN shuffles once, rank-limited map-side") {
    val plan = planOf("ext_ann_bruteforce")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"top-k must plan as ONE rank-limited window exchange:\n$plan")
    // partial (below the exchange) + final WindowGroupLimit
    val limits = "WindowGroupLimit".r.findAllIn(plan).length
    assert(limits == 2,
      s"map-side partial rank limit missing — the shuffle would move all pairs:\n$plan")
  }

  test("PQ ANN: one exchange, broadcast re-rank join, no vectors from the query side in the shuffle") {
    val plan = planOf("ext_ann_pq")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"ADC cut + re-rank must reuse one q_id partitioning:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"q_vec must rejoin from the broadcast query side, not ride the shuffle:\n$plan")
  }

  test("PQ ANN partial candidateK prunes map-side before the shuffle") {
    import graft.ext.PqSearch
    import org.apache.spark.sql.functions.col
    val e = graft.queries.Fixtures.tbl(spark, sf, "embeddings")
    val plan = PqSearch.topK(e.where(col("vec_id") < 5),
      PqSearch.buildIndex(e, m = 8, ks = 16), k = 10, candidateK = 50)
      .queryExecution.executedPlan.toString
    // adc-cut partial + adc-cut final + top-k limits
    val limits = "WindowGroupLimit".r.findAllIn(plan).length
    assert(limits >= 3,
      s"candidateK cut must get a map-side WindowGroupLimit (only $limits found):\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"still one exchange with pruning on:\n$plan")
  }

  test("directed LSH: probe side broadcasts; corpus vectors never shuffle") {
    // the mask ranking (2^planes structs) is computed on the tiny
    // query side only; the corpus computes one signature per vector
    // and meets the probes in a broadcast bucket join. After the
    // cosine projection only narrow (q_id, neighbor_id, cos) rows
    // shuffle (distinct + top-k window) — the embedding arrays stay
    // where they were read.
    import org.apache.spark.sql.functions.col
    val e = graft.queries.Fixtures.tbl(spark, sf, "embeddings")
    val plan = graft.ext.SimilaritySearch
      .lshTopKDirected(e.where(col("vec_id") < 5), e, k = 10, planes = 6, nProbe = 16)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"probe side must broadcast into the bucket join:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 2,
      s"only the narrow distinct + window rows may shuffle (got $exchanges exchanges):\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"top-k must rank-limit, not sort whole partitions:\n$plan")
  }

  test("as-of join: one window exchange + the right pre-reduce, no join operator at all") {
    val plan = planOf("ext_asof_join")
    // union-and-carry compiles to Union → Exchange → Sort → Window;
    // a join-then-argmax formulation would show a Join + per-left-row
    // candidate blowup instead
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("SortMergeJoin"),
      s"as-of must not plan a candidate-pair join:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 2, // window on key + right-side (key, ts) pre-reduce
      s"expected window exchange + pre-reduce exchange only:\n$plan")
    assert("Window \\[last".r.findAllIn(plan).nonEmpty,
      s"running last(ignoreNulls) window missing:\n$plan")
  }

  test("range join: bin equi-join, never a nested-loop theta join") {
    val plan = planOf("ext_range_join")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"range join must stay a bin equi-join (theta-join = |iv|*|pt| pairs):\n$plan")
    // the containment predicate rides the hash join as its condition,
    // and the per-order rollup is partially aggregated map-side
    assert(plan.contains("HashJoin"), s"bin join missing:\n$plan")
    assert(plan.contains("partial_count"),
      s"rollup must partial-aggregate before the shuffle:\n$plan")
  }

  test("degenerate one-bin range join: AQE splits the hot bin (skew=true)") {
    // binSeconds far wider than the data's span → every interval and
    // point in ONE bin → one shuffle partition holds the whole join.
    // With broadcast disabled (the both-sides-large regime a
    // broadcastable dimension side would make moot) and the skew
    // thresholds at harness scale, AQE's OptimizeSkewedJoin must
    // split that partition — the runtime defense rangeJoinBinned's
    // doc promises for hot bins.
    import org.apache.spark.sql.functions._
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val saved = keys.map(k => k -> spark.conf.get(k))
    try {
      spark.conf.set(keys(0), "-1")
      spark.conf.set(keys(1), "64KB")
      spark.conf.set(keys(2), "64KB")
      val dir = "/root/testdata/sf0.01"
      // realistic MAP parallelism: AQE splits a skewed reduce
      // partition along map-output boundaries, so a single-map-task
      // shuffle (what a one-file sf0.01 scan produces) has nothing to
      // split — at production scale the map side is thousands of tasks
      val iv = graft.queries.Fixtures.tbl(spark, dir, "orders").repartition(16)
        .select(col("o_orderkey"), col("o_orderdate"),
          (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("o_end"))
      val out = graft.ext.Temporal.rangeJoinBinned(
        iv, graft.queries.Fixtures.tbl(spark, dir, "lineitem")
          .select("l_orderkey", "l_shipdate").repartition(16),
        "o_orderdate", "o_end", "l_shipdate",
        binSeconds = 400L * 365 * 86400)
      val qe = out.queryExecution
      qe.toRdd.count() // execute THIS plan so AQE finalizes it
      val plan = qe.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"hot bin was not skew-split by AQE:\n$plan")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("interval overlap join: bin equi-join with first-shared-bin dedup, no distinct") {
    val plan = planOf("ext_interval_join")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"overlap join must stay a bin equi-join:\n$plan")
    // dedup is the greatest(sbin_a, sbin_b) predicate, not a
    // re-shuffling Aggregate over the emitted pair set
    assert(plan.contains("greatest("),
      s"first-shared-bin emit rule missing:\n$plan")
  }

  test("sessionize: both windows and the rollup share ONE exchange") {
    val plan = planOf("ext_sessionize")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"lag-window, sum-window and session rollup all align on user_id:\n$plan")
  }

  test("scd2: compression and interval windows share ONE exchange") {
    val plan = planOf("ext_scd2")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"lag-compress and lead-interval windows both align on the key:\n$plan")
  }

  // The epoch-split pins target the serialization hazard itself: a
  // window over the EVENT STREAM partitioned by the bare key and
  // ordered by event time (windowspecdefinition(user_id, ts …)) is
  // exactly the shape that pins a hot key's whole history to one
  // task. The epoch forms may window on user_id alone only over the
  // per-(key, epoch) SUMMARIES, which order by __epoch, never ts.
  private def assertNoBareKeyTimeWindow(name: String): Unit = {
    val plan = planOf(name)
    assert(!"windowspecdefinition\\(user_id#\\d+L, ts#".r
      .findFirstIn(plan).isDefined,
      s"full-data window on the bare key defeats the epoch split:\n$plan")
    assert(plan.contains("__epoch"),
      s"(key, epoch) partitioning missing:\n$plan")
  }

  test("sessionize epochs: no event-stream window on the bare key") {
    assertNoBareKeyTimeWindow("ext_sessionize_epochs")
  }

  test("scd2 epochs: no event-stream window on the bare key") {
    assertNoBareKeyTimeWindow("ext_scd2_epochs")
  }

  test("scd2 enrich composite: no candidate-pair join (union-and-carry as-of)") {
    val plan = planOf("ext_scd2_enrich")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"as-of enrichment must stay the union-and-carry window form:\n$plan")
    assert(plan.contains("Union"), s"union-and-carry missing:\n$plan")
  }

  test("rolling epochs: frame window carries __epoch; candidate cut is rank-limited") {
    val plan = planOf("cap_rolling_epochs")
    // the frame evaluation over the full data must partition by
    // (key, epoch); the only bare-key ts-ordered window allowed is
    // the candidate index, whose input the planner prunes to the
    // last W rows per (key, epoch) map-side
    assert(plan.contains("WindowGroupLimit"),
      s"last-W candidate cut must rank-limit map-side:\n$plan")
    assert("windowspecdefinition\\(user_id#\\d+L, __epoch#\\d+L, ts#".r
      .findFirstIn(plan).isDefined,
      s"frame window must partition on (key, epoch):\n$plan")
  }

  test("stratified sample rank-limits map-side before the shuffle") {
    val plan = planOf("ext_stratified_sample")
    val limits = "WindowGroupLimit".r.findAllIn(plan).length
    assert(limits == 2, // partial below the exchange + final above it
      s"rank filter must prune per-task before shuffling:\n$plan")
  }

  test("cdc apply: map-side rank limit, one hash shuffle on the key") {
    val plan = planOf("ext_cdc_apply")
    assert(plan.contains("WindowGroupLimit"),
      s"latest-per-key must prune to one candidate per (task, key) pre-shuffle:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"apply should shuffle exactly once (on the key):\n$plan")
  }

  test("cdc feed: one sort-merge full-outer join, no BNLJ") {
    val plan = planOf("ext_cdc_feed")
    assert(plan.contains("SortMergeJoin") && plan.contains("FullOuter"),
      s"snapshot diff must be a full-outer SMJ:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"null-safe key equality must stay a hash-partitionable join:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 2,
      s"exactly one exchange per snapshot side expected:\n$plan")
  }

  test("ivm maintain: ONE exchange for the union + re-aggregate, partial map-side") {
    import org.apache.spark.sql.functions._
    import graft.operators.Cdc
    val o = graft.queries.Fixtures.tbl(spark, sf, "orders").select(
      col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice").cast("decimal(12,2)").as("v"))
    // checkpoint both inputs so the pin counts ONLY the maintenance
    // plan, not the bootstrap aggregate or the diff join that
    // produced them (state after batch k arrives materialized anyway)
    val state = Cdc.aggState(o, Seq("o_orderstatus"), Seq("v"))
      .localCheckpoint(true)
    val delta = o.where(col("o_orderkey") % 100 === 0)
      .withColumn("__sign", lit(-1)).localCheckpoint(true)
    val plan = Cdc.maintainAgg(state, delta, Seq("o_orderstatus"), Seq("v"))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"maintenance must be ONE shuffle on the group keys:\n$plan")
    assert(plan.contains("partial_sum"),
      s"re-aggregate must combine map-side below the exchange:\n$plan")
  }

  test("join-view IVM: deltas computed once (no diff re-runs), churn sides broadcast at runtime") {
    // Pin on the AQE FINAL plan (the claim is a runtime property:
    // the delta terms' churn sides are size-unknown statically, AQE
    // discovers they're small and broadcasts). The executed plan's
    // string carries both sections — cut at the Initial Plan marker.
    val df = graft.queries.QueryRegistry("ext_ivm_join_agg").run(spark, sf)
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    val cut = full.indexOf("== Initial Plan ==")
    val plan = if (cut >= 0) full.substring(0, cut) else full
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"joinDelta degenerated to a nested-loop join:\n$plan")
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(bhj >= 3,
      s"the three delta terms should broadcast their churn side (saw $bhj):\n$plan")
    // each snapshot diff ran ONCE inside joinDelta's materialization;
    // a full-outer join in the maintain plan means a delta plan is
    // being re-derived per term (the double-diff regression)
    val fullOuterJoins = plan.linesIterator
      .count(l => l.contains("SortMergeJoin") && l.contains("FullOuter"))
    assert(fullOuterJoins == 0,
      s"deltas must be materialized once, not re-diffed per term (saw $fullOuterJoins):\n$plan")
  }

  test("left-join-view IVM: anti-extension probes broadcast, no nested loop, no re-diffs") {
    // Same runtime-pin discipline as the join-view case: churn sides
    // are size-unknown statically, so assert on the AQE final plan.
    // Beyond joinDelta's three broadcast terms, the anti-extension
    // term adds the B_old count probe (broadcast touched keys), the
    // ΔA unmatched probe (broadcast match-count table), and the
    // transition probe of A_old (broadcast transition keys) — all
    // explicit broadcast() hints, so the snapshots are scanned,
    // never shuffled.
    val df = graft.queries.QueryRegistry("ext_ivm_left_join").run(spark, sf)
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    val cut = full.indexOf("== Initial Plan ==")
    val plan = if (cut >= 0) full.substring(0, cut) else full
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"leftJoinDelta degenerated to a nested-loop join:\n$plan")
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(bhj >= 4,
      s"delta terms + anti-extension probes should broadcast (saw $bhj):\n$plan")
    val fullOuterJoins = plan.linesIterator
      .count(l => l.contains("SortMergeJoin") && l.contains("FullOuter"))
    assert(fullOuterJoins == 0,
      s"deltas must be materialized once, not re-diffed per term (saw $fullOuterJoins):\n$plan")
    // the maintained outer join must not re-run: the only LeftOuter
    // allowed is the anti term's broadcast match-count probe — a
    // sort-merge LeftOuter means the bases are being re-joined
    val smjLeft = plan.linesIterator
      .count(l => l.contains("SortMergeJoin") && l.contains("LeftOuter"))
    assert(smjLeft == 0,
      s"the maintained plan must never re-run the outer join (saw $smjLeft):\n$plan")
  }

  test("extrema IVM: endangered-key recompute is a broadcast semi, base never shuffled") {
    import org.apache.spark.sql.functions._
    import graft.operators.Cdc
    val o = graft.queries.Fixtures.tbl(spark, sf, "orders").select(
      col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice").cast("decimal(12,2)").as("v"))
    val after = o.where(col("o_orderkey") % 10 =!= 0)
    val state = Cdc.extremaState(o, Seq("o_orderstatus"), Seq("v"))
      .localCheckpoint(true)
    val delta = Cdc.signedDelta(o, after, Seq("o_orderkey"))
      .localCheckpoint(true)
    val plan = Cdc.maintainExtrema(
        state, delta, after, Seq("o_orderstatus"), Seq("v"))
      .queryExecution.executedPlan.toString
    val semis = plan.linesIterator
      .filter(_.contains("LeftSemi")).toSeq
    assert(semis.nonEmpty && semis.forall(_.contains("BroadcastHashJoin")),
      s"endangered-key probe must broadcast, never shuffle the base:\n$plan")
  }

  test("cube IVM: bootstrap scans the base ONCE; maintenance keeps one exchange") {
    import org.apache.spark.sql.functions._
    import graft.operators.Cdc
    val sets = Seq(Seq("o_orderstatus", "o_orderpriority"),
      Seq("o_orderstatus"), Seq.empty[String])
    val o = graft.queries.Fixtures.tbl(spark, sf, "orders").select(
      col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
      col("o_totalprice").cast("decimal(12,2)").as("v"))
    val bootstrapPlan = Cdc.cubeState(
        o, Seq("o_orderstatus", "o_orderpriority"), sets, Seq("v"))
      .queryExecution.executedPlan.toString
    // the finest state is materialized eagerly (ONE base scan inside
    // the checkpoint), so the lattice rollup's own plan must contain
    // ZERO base scans — the first cut re-scanned the base once per
    // set through the union branches, which this pin caught
    val scans = "Scan parquet".r.findAllIn(bootstrapPlan).length
    assert(scans == 0,
      s"the lattice rollup must read the pinned finest state, not rescan per set:\n$bootstrapPlan")
    assert("Exchange hashpartitioning".r.findAllIn(bootstrapPlan).length == 1,
      s"one stacked rollup exchange expected:\n$bootstrapPlan")
    val state = Cdc.cubeState(
        o, Seq("o_orderstatus", "o_orderpriority"), sets, Seq("v"))
      .localCheckpoint(true)
    val delta = o.where(col("o_orderkey") % 100 === 0)
      .withColumn("__sign", lit(-1)).localCheckpoint(true)
    val maintainPlan = Cdc.maintainCube(
        state, delta, Seq("o_orderstatus", "o_orderpriority"), sets, Seq("v"))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(maintainPlan).length
    assert(exchanges == 1,
      s"one maintainAgg exchange must serve every lattice level:\n$maintainPlan")
  }

  test("bloom join: might_contain filters the fact scan stage, below the join exchange") {
    import org.apache.spark.sql.functions._
    import graft.operators.BloomJoin
    val li = graft.queries.Fixtures.tbl(spark, sf, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity")
    val dim = graft.queries.Fixtures.tbl(spark, sf, "orders")
      .where(col("o_totalprice") > 400000)
      .select("o_orderkey", "o_orderstatus")
    val plan = BloomJoin
      .join(li, "l_orderkey", dim, "o_orderkey", 3000, 0.01)
      .queryExecution.executedPlan.toString
    val filterIdx = plan.indexOf("might_contain")
    val factScanIdx = plan.indexOf("Scan parquet", filterIdx)
    assert(filterIdx >= 0, s"bloom probe missing from the plan:\n$plan")
    assert(factScanIdx >= 0 &&
      !plan.substring(filterIdx, factScanIdx).contains("Exchange"),
      // plan strings print top-down: the probe must sit directly on
      // the fact scan's stage, with no shuffle between them — rows
      // drop BEFORE paying the exchange
      s"might_contain must prefilter below the join exchange:\n$plan")
  }

  test("kmv distinct: map-side partial sketch below the exchange") {
    val plan = planOf("ext_distinct_kmv")
    val partialIdx = plan.indexOf("partial_kmv_distinct")
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning")
    assert(partialIdx >= 0 && exchangeIdx >= 0 && partialIdx > exchangeIdx,
      // plan strings print top-down, so the map-side partial must
      // appear BELOW (after) the exchange line
      s"partial sketch must merge map-side (COUNT DISTINCT would Expand + reshuffle rows):\n$plan")
  }

  test("bm25 stats: one corpus explode, tf exchange + small token window exchange only") {
    val plan = planOf("ext_bm25_stats")
    // a join-based df would duplicate the scan+explode subtree — the
    // window form keeps the corpus read single
    val explodes = "Generate explode".r.findAllIn(plan).length
    assert(explodes == 1, s"corpus must be tokenized exactly once:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 2,
      s"expected the (id, token) tf exchange plus the tf-sized token window exchange:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"df must come from a window over tf, not a self-join:\n$plan")
  }

  test("temperature resample: broadcast rate recipe, no corpus shuffle") {
    val plan = planOf("ext_temp_resample")
    // the rate table is a collected driver recipe joined broadcast —
    // the corpus itself is never exchanged
    assert("Exchange hashpartitioning".r.findAllIn(plan).isEmpty,
      s"resample output must not shuffle the corpus:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"rates must join broadcast:\n$plan")
    assert(plan.contains("Generate explode"),
      s"repetition must be the map-side sequence explode:\n$plan")
  }
  test("mv rewrite: state-served plan is one exchange over the pruned state scan") {
    import org.apache.spark.sql.functions._
    val root = SparkTestSession.tmp("pq-mv").toString
    val base = graft.queries.Fixtures.tbl(spark, sf, "orders").select(
      col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice").cast("decimal(12,2)").as("v"))
    base.write.parquet(s"$root/base")
    graft.operators.Cdc.aggState(base, Seq("o_orderstatus"), Seq("v"))
      .write.parquet(s"$root/state")
    graft.plans.MvCatalog.register(s"$root/base",
      graft.plans.MvDef(Seq("o_orderstatus"), Seq("v"), s"$root/state"))
    try {
      val plan = spark.read.parquet(s"$root/base")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
        .queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 1,
        s"state rollup must be one group-key shuffle:\n$plan")
      // explicit pruning Project: the scan reads only the columns the
      // rollup needs (group col, n, sum_v), not the whole state row
      assert(plan.contains("ReadSchema: struct<o_orderstatus:string,n:bigint,sum_v:decimal(38,6)>"),
        s"state scan must prune to the used columns:\n$plan")
    } finally {
      graft.plans.MvCatalog.clear()
      new graft.core.LakeStorage(spark.sparkContext.hadoopConfiguration)
        .truncate(root)
    }
  }

  test("IVF refresh assignment: per-row least() fold, no exchange, no window") {
    // assignFiles' nearest-centroid argmin is a codegen'd fold over
    // the collected centroids — the r16 shape (crossJoin × nCells +
    // row_number window over the product) paid a full shuffle of
    // delta-rows × nCells per refresh. Pin the narrow plan so a
    // refactor can't reintroduce it.
    import org.apache.spark.sql.functions._
    val root = SparkTestSession.tmp("planq-ivf").toString
    try {
      graft.queries.Fixtures.tbl(spark, sf, "embeddings").limit(50)
        .write.parquet(s"$root/vectors")
      graft.sinks.IvfIndex.collect(spark, s"$root/vectors", nCells = 4)
      val paths = spark.read.parquet(s"$root/vectors").inputFiles.toSeq
      val assigned = graft.sinks.IvfIndex.assignFiles(
        spark, s"$root/vectors", paths, "vec_id", "embedding",
        spark.read.parquet(
          graft.sinks.IvfIndex.centroidsPath(s"$root/vectors")))
      val plan = assigned.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"assignment must be map-side only:\n$plan")
      assert(!plan.contains("Window") && !plan.contains("Join"),
        s"assignment is a per-row fold, not a window over a product:\n$plan")
      // (the fold itself uses aggregate/zip_with higher-order
      // functions, which evaluate outside whole-stage codegen — the
      // properties that matter at scale are the two above: narrow,
      // map-side-only, never materializing the rows × cells product)
      // and it still computes the argmin truth
      val byFold = assigned.select("vec_id", "__cell").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val cents = spark.read.parquet(
        graft.sinks.IvfIndex.centroidsPath(s"$root/vectors")).collect()
        .map(r => r.getInt(0) -> r.getAs[Seq[Double]](1).toArray).toMap
      val vecs = spark.read.parquet(s"$root/vectors")
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getAs[Seq[Float]](1).toArray)
      vecs.foreach { case (id, v) =>
        val best = cents.toSeq.map { case (c, ct) =>
          (c, v.zip(ct).map { case (a, b) => (a - b) * (a - b) }.sum)
        }.minBy { case (c, d) => (d, c) }._1
        assert(byFold(id) == best, s"vec $id: fold says ${byFold(id)}, truth $best")
      }
    } finally new graft.core.LakeStorage(
      spark.sparkContext.hadoopConfiguration).truncate(root)
  }

  test("join-view MV rewrite: the served plan has NO join and exactly one group-by exchange") {
    import org.apache.spark.sql.functions._
    val root = SparkTestSession.tmp("pq-jmv").toString
    try {
      val a = spark.range(100).select(col("id").as("k"),
        (col("id") % 7).cast("long").as("w"))
      val b = spark.range(50).select(col("id").as("k"),
        concat(lit("g"), col("id") % 3).as("g"))
      val (aPath, bPath, statePath) = (s"$root/a", s"$root/b", s"$root/state")
      a.write.parquet(aPath)
      b.write.parquet(bPath)
      graft.operators.Cdc.aggState(
          a.join(b, Seq("k"), "inner"), Seq("g"), Seq("w"))
        .write.parquet(statePath)
      graft.plans.MvCatalog.registerJoin(graft.plans.JoinMvDef(
        aPath, bPath, Seq("k"), Seq("g"), Seq("w"), statePath))
      try {
        val q = spark.read.parquet(aPath)
          .join(spark.read.parquet(bPath), Seq("k"), "inner")
          .groupBy("g").agg(count(lit(1)).as("n"), sum(col("w")).as("s"))
        val plan = q.queryExecution.executedPlan.toString
        assert(!plan.contains("Join"),
          s"the join must be GONE from the served plan:\n$plan")
        val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
        assert(exchanges == 1,
          s"state rollup is one group-by exchange, nothing more:\n$plan")
        assert(plan.contains("partial_sum"),
          s"the rollup must combine map-side:\n$plan")
      } finally graft.plans.MvCatalog.unregisterJoin(aPath, bPath)
    } finally new graft.core.LakeStorage(
      spark.sparkContext.hadoopConfiguration).truncate(root)
  }

  test("bpe pair stats: two exchanges (word reduce, pair reduce), map-side partials") {
    val plan = graft.ext.Bpe.pairStats(
      graft.queries.Fixtures.tbl(spark, sf, "documents"), "text")
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 2,
      s"pair stats is word-reduce + pair-reduce, nothing more:\n$plan")
    assert(plan.contains("partial_count") && plan.contains("partial_sum"),
      s"both reduces must combine map-side:\n$plan")
  }
}
