package graft
package queries

import graft.ext._
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Fixtures._

/** Views (`ext_mv_*`, `ext_ivm_*`, `ext_join_elim`): materialized
  * views, incremental view maintenance, and the optimizer rewrites
  * that serve a query from a view or drop a join it does not need.
  */
object ViewQueries {

  /** Shared by ext_mv_rewrite / flow_stream_mv: whether the state was
    * maintained by a batch fold or a checkpointed delta stream, the
    * rewrite-served rollup must equal the same from-scratch
    * recompute. */
  private[queries] val mvRewriteOracleSql: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderstatus, o_orderkey % 4 AS b,
      |    CAST(CASE WHEN o_orderkey % 11 = 0 THEN NULL
      |              ELSE o_totalprice END AS DECIMAL(12,2)) AS v
      |  FROM orders
      |), aft AS (
      |  SELECT o_orderkey, o_orderstatus, b,
      |    CAST(CASE WHEN o_orderstatus = 'F' THEN NULL
      |              WHEN o_orderkey % 3 = 0 THEN v + 100
      |              ELSE v END AS DECIMAL(12,2)) AS v
      |  FROM base WHERE o_orderstatus <> 'P'
      |)
      |SELECT o_orderstatus, count(*) AS n, count(v) AS nn_v,
      |  CAST(CAST(sum(CAST(v AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_v
      |FROM aft WHERE b <> 2 GROUP BY o_orderstatus""".stripMargin

  /** Shared by ext_ivm_maintain / flow_stream_ivm: the batch fold
    * and the streamed, transactionally-checkpointed maintenance must
    * land the identical state, so they share one from-scratch
    * recompute truth. */
  private[queries] val ivmMaintainOracleSql: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CAST(CASE WHEN o_orderkey % 11 = 0 THEN NULL
      |              ELSE o_totalprice END AS DECIMAL(12,2)) AS v
      |  FROM orders
      |), aft AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CAST(CASE WHEN o_orderstatus = 'F' THEN NULL
      |              WHEN o_orderkey % 3 = 0 THEN v + 100
      |              ELSE v END AS DECIMAL(12,2)) AS v
      |  FROM base WHERE o_orderstatus <> 'P'
      |)
      |SELECT o_orderstatus, count(*) AS n, count(v) AS nn_v,
      |  CAST(CAST(sum(CAST(v AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_v
      |FROM aft GROUP BY o_orderstatus""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // Join-view IVM: maintain the materialized orders⋈customer view
    // through churn on BOTH sides without re-running the join — the
    // bilinear delta rule Δ(A⋈B) = ΔA⋈B + A⋈ΔB + ΔA⋈ΔB feeding the
    // counting state (groupCols = every view column, n = row
    // multiplicity). Orders lose every 5th key and re-status every
    // 3rd; customers lose every 9th and re-segment every 4th — so
    // deletes fan out through the join, updates overlap (the cross
    // term), and the maintained multiset must equal the from-scratch
    // join recompute. Snapshot sides of the delta joins broadcast
    // the churn, never shuffle the snapshot.
    QuerySpec("ext_ivm_join", (s, dir) => {
      val cdc = graft.operators.Cdc
      val aOld = tbl(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey").as("custkey"),
        col("o_orderstatus"))
      val aNew = aOld.where(col("o_orderkey") % 5 =!= 0)
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 3 === 0, lit("X"))
            .otherwise(col("o_orderstatus")))
      val bOld = tbl(s, dir, "customer").select(
        col("c_custkey").as("custkey"), col("c_mktsegment"))
      val bNew = bOld.where(col("custkey") % 9 =!= 0)
        .withColumn("c_mktsegment",
          when(col("custkey") % 4 === 0, lit("SEG"))
            .otherwise(col("c_mktsegment")))
      val cols = Seq("custkey", "o_orderkey", "o_orderstatus", "c_mktsegment")
      val state0 = cdc.aggState(
        aOld.join(bOld, Seq("custkey"), "inner"), cols, Nil)
      val delta = cdc.joinDelta(
        cdc.signedDelta(aOld, aNew, Seq("o_orderkey")), aOld,
        cdc.signedDelta(bOld, bNew, Seq("custkey")), bOld,
        on = Seq("custkey"))
      cdc.maintainAgg(state0, delta, cols, Nil)
    },
      // independent truth for the maintained JOIN view: recompute the
      // join of the churned snapshots and count row multiplicities
      """WITH a0 AS (
        |  SELECT o_orderkey, o_custkey AS custkey, o_orderstatus FROM orders
        |), an AS (
        |  SELECT o_orderkey, custkey,
        |    CASE WHEN o_orderkey % 3 = 0 THEN 'X'
        |         ELSE o_orderstatus END AS o_orderstatus
        |  FROM a0 WHERE o_orderkey % 5 <> 0
        |), b0 AS (
        |  SELECT c_custkey AS custkey, c_mktsegment FROM customer
        |), bn AS (
        |  SELECT custkey,
        |    CASE WHEN custkey % 4 = 0 THEN 'SEG'
        |         ELSE c_mktsegment END AS c_mktsegment
        |  FROM b0 WHERE custkey % 9 <> 0
        |)
        |SELECT custkey, o_orderkey, o_orderstatus, c_mktsegment,
        |  count(*) AS n
        |FROM an JOIN bn USING (custkey)
        |GROUP BY custkey, o_orderkey, o_orderstatus, c_mktsegment""".stripMargin),

    // Aggregate-over-join IVM — the materialized-view headline:
    // revenue by market segment over orders⋈customer, maintained
    // through churn on both sides WITHOUT re-running join or
    // aggregate. joinDelta's signed view-delta feeds maintainAgg
    // with real sum columns; a customer's segment flip moves its
    // whole order revenue between groups purely via ±-signed rows.
    QuerySpec("ext_ivm_join_agg", (s, dir) => {
      val cdc = graft.operators.Cdc
      val aOld = tbl(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey").as("custkey"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
      val aNew = aOld.where(col("o_orderkey") % 5 =!= 0)
        .withColumn("price",
          when(col("o_orderkey") % 3 === 0, col("price") + 100)
            .otherwise(col("price")).cast("decimal(12,2)"))
      val bOld = tbl(s, dir, "customer").select(
        col("c_custkey").as("custkey"), col("c_mktsegment"))
      val bNew = bOld.where(col("custkey") % 9 =!= 0)
        .withColumn("c_mktsegment",
          when(col("custkey") % 4 === 0, lit("SEG"))
            .otherwise(col("c_mktsegment")))
      val state0 = cdc.aggState(
        aOld.join(bOld, Seq("custkey"), "inner"),
        Seq("c_mktsegment"), Seq("price"))
      val delta = cdc.joinDelta(
        cdc.signedDelta(aOld, aNew, Seq("o_orderkey")), aOld,
        cdc.signedDelta(bOld, bNew, Seq("custkey")), bOld,
        on = Seq("custkey"))
      cdc.maintainAgg(state0, delta, Seq("c_mktsegment"), Seq("price"))
        .withColumn("sum_price", col("sum_price").cast("double"))
    },
      // independent truth for the maintained aggregate-over-join:
      // recompute the churned join and aggregate from scratch
      """WITH a0 AS (
        |  SELECT o_orderkey, o_custkey AS custkey,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price
        |  FROM orders
        |), an AS (
        |  SELECT o_orderkey, custkey,
        |    CAST(CASE WHEN o_orderkey % 3 = 0 THEN price + 100
        |              ELSE price END AS DECIMAL(12,2)) AS price
        |  FROM a0 WHERE o_orderkey % 5 <> 0
        |), b0 AS (
        |  SELECT c_custkey AS custkey, c_mktsegment FROM customer
        |), bn AS (
        |  SELECT custkey,
        |    CASE WHEN custkey % 4 = 0 THEN 'SEG'
        |         ELSE c_mktsegment END AS c_mktsegment
        |  FROM b0 WHERE custkey % 9 <> 0
        |)
        |SELECT c_mktsegment, count(*) AS n, count(price) AS nn_price,
        |  CAST(CAST(sum(CAST(price AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_price
        |FROM an JOIN bn USING (custkey)
        |GROUP BY c_mktsegment""".stripMargin),

    // LEFT OUTER join view maintained incrementally — the one join
    // class that is NOT bilinear: the null-extended rows carry a
    // [no-match] indicator, so Cdc.leftJoinDelta adds two terms to
    // the inner bilinear rule — ΔA rows unmatched under B_new, and
    // ±null-extensions of OLD A rows for keys whose B match count
    // crosses zero. The churn exercises both crossings at corpus
    // scale: customers with custkey % 7 = 0 are absent from the OLD
    // dimension (their orders start null-extended) and appear in the
    // NEW one (extensions retract, matches appear); custkey % 9 = 0
    // customers are deleted (their orders' matches retract,
    // extensions appear); % 63 stay unmatched throughout. The NULL
    // segment group in the aggregate is exactly the surviving
    // unmatched-order population. 100 TB posture: beyond joinDelta's
    // broadcast-churn terms, one aggregate over ΔB's keys and two
    // broadcast-key probes of the old snapshots — the join never
    // re-runs, neither base rescans.
    QuerySpec("ext_ivm_left_join", (s, dir) => {
      val cdc = graft.operators.Cdc
      val aOld = tbl(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey").as("custkey"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
      val aNew = aOld.where(col("o_orderkey") % 5 =!= 0)
        .withColumn("price",
          when(col("o_orderkey") % 3 === 0, col("price") + 100)
            .otherwise(col("price")).cast("decimal(12,2)"))
      val cust = tbl(s, dir, "customer").select(
        col("c_custkey").as("custkey"), col("c_mktsegment"))
      val bOld = cust.where(col("custkey") % 7 =!= 0)
      val bNew = cust.where(col("custkey") % 9 =!= 0)
        .withColumn("c_mktsegment",
          when(col("custkey") % 4 === 0, lit("SEG"))
            .otherwise(col("c_mktsegment")))
      val state0 = cdc.aggState(
        aOld.join(bOld, Seq("custkey"), "left"),
        Seq("c_mktsegment"), Seq("price"))
      val delta = cdc.leftJoinDelta(
        cdc.signedDelta(aOld, aNew, Seq("o_orderkey")), aOld,
        cdc.signedDelta(bOld, bNew, Seq("custkey")), bOld,
        on = Seq("custkey"))
      cdc.maintainAgg(state0, delta, Seq("c_mktsegment"), Seq("price"))
        .withColumn("sum_price", col("sum_price").cast("double"))
    },
      // independent truth for the maintained LEFT-join aggregate:
      // recompute the churned outer join from scratch — the NULL
      // segment group is the surviving unmatched-order population
      """WITH a0 AS (
        |  SELECT o_orderkey, o_custkey AS custkey,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price
        |  FROM orders
        |), an AS (
        |  SELECT o_orderkey, custkey,
        |    CAST(CASE WHEN o_orderkey % 3 = 0 THEN price + 100
        |              ELSE price END AS DECIMAL(12,2)) AS price
        |  FROM a0 WHERE o_orderkey % 5 <> 0
        |), bn AS (
        |  SELECT c_custkey AS custkey,
        |    CASE WHEN c_custkey % 4 = 0 THEN 'SEG'
        |         ELSE c_mktsegment END AS c_mktsegment
        |  FROM customer WHERE c_custkey % 9 <> 0
        |)
        |SELECT c_mktsegment, count(*) AS n, count(price) AS nn_price,
        |  CAST(CAST(sum(CAST(price AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_price
        |FROM an LEFT JOIN bn USING (custkey)
        |GROUP BY c_mktsegment""".stripMargin),

    // FULL OUTER join view maintained incrementally: both unmatched
    // populations carry indicators, so Cdc.fullJoinDelta runs the
    // anti-extension delta in BOTH directions on top of the inner
    // bilinear terms. The same two-sided churn as ext_ivm_left_join
    // ALSO moves the customer side's unmatched population: TPC-H
    // customers without orders aggregate with NULL price (counted by
    // n, skipped by sum/nn), and order deletions (%5) empty some
    // customers' match sets in-batch — the B-side zero-crossing
    // driven by ΔA. Neither base rescans; the probes ride broadcast
    // churn keys.
    QuerySpec("ext_ivm_full_join", (s, dir) => {
      val cdc = graft.operators.Cdc
      val aOld = tbl(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey").as("custkey"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
      val aNew = aOld.where(col("o_orderkey") % 5 =!= 0)
        .withColumn("price",
          when(col("o_orderkey") % 3 === 0, col("price") + 100)
            .otherwise(col("price")).cast("decimal(12,2)"))
      val cust = tbl(s, dir, "customer").select(
        col("c_custkey").as("custkey"), col("c_mktsegment"))
      val bOld = cust.where(col("custkey") % 7 =!= 0)
      val bNew = cust.where(col("custkey") % 9 =!= 0)
        .withColumn("c_mktsegment",
          when(col("custkey") % 4 === 0, lit("SEG"))
            .otherwise(col("c_mktsegment")))
      val state0 = cdc.aggState(
        aOld.join(bOld, Seq("custkey"), "outer"),
        Seq("c_mktsegment"), Seq("price"))
      val delta = cdc.fullJoinDelta(
        cdc.signedDelta(aOld, aNew, Seq("o_orderkey")), aOld,
        cdc.signedDelta(bOld, bNew, Seq("custkey")), bOld,
        on = Seq("custkey"))
      cdc.maintainAgg(state0, delta, Seq("c_mktsegment"), Seq("price"))
        .withColumn("sum_price", col("sum_price").cast("double"))
    },
      // independent truth for the maintained FULL-OUTER-join aggregate:
      // the NULL-price contribution is the surviving customer-without-
      // orders population, the NULL segment group the unmatched orders
      """WITH a0 AS (
        |  SELECT o_orderkey, o_custkey AS custkey,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price
        |  FROM orders
        |), an AS (
        |  SELECT o_orderkey, custkey,
        |    CAST(CASE WHEN o_orderkey % 3 = 0 THEN price + 100
        |              ELSE price END AS DECIMAL(12,2)) AS price
        |  FROM a0 WHERE o_orderkey % 5 <> 0
        |), bn AS (
        |  SELECT c_custkey AS custkey,
        |    CASE WHEN c_custkey % 4 = 0 THEN 'SEG'
        |         ELSE c_mktsegment END AS c_mktsegment
        |  FROM customer WHERE c_custkey % 9 <> 0
        |)
        |SELECT c_mktsegment, count(*) AS n, count(price) AS nn_price,
        |  CAST(CAST(sum(CAST(price AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_price
        |FROM an FULL JOIN bn USING (custkey)
        |GROUP BY c_mktsegment""".stripMargin),

    // Full SPJA view maintained incrementally — σ (price > 1000) →
    // join → aggregate, the classic select-project-join-aggregate
    // class of incremental view maintenance. σ is LINEAR over signed
    // multisets, so the fact delta just filters (a re-price crossing
    // the predicate boundary correctly becomes a view insert/delete:
    // only one of its ± images survives σ); the filtered delta then
    // flows through joinDelta → maintainAgg unchanged. Nothing —
    // filter, join, or aggregate — re-runs over the base tables.
    QuerySpec("ext_ivm_spja", (s, dir) => {
      val cdc = graft.operators.Cdc
      val aOld = tbl(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey").as("custkey"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
      val aNew = aOld.where(col("o_orderkey") % 5 =!= 0)
        .withColumn("price",
          when(col("o_orderkey") % 3 === 0, col("price") + 100)
            .otherwise(col("price")).cast("decimal(12,2)"))
      val bOld = tbl(s, dir, "customer").select(
        col("c_custkey").as("custkey"), col("c_mktsegment"))
      val bNew = bOld.where(col("custkey") % 9 =!= 0)
        .withColumn("c_mktsegment",
          when(col("custkey") % 4 === 0, lit("SEG"))
            .otherwise(col("c_mktsegment")))
      val pred = col("price") > 1000
      val state0 = cdc.aggState(
        aOld.where(pred).join(bOld, Seq("custkey"), "inner"),
        Seq("c_mktsegment"), Seq("price"))
      val delta = cdc.joinDelta(
        cdc.signedDelta(aOld, aNew, Seq("o_orderkey")).where(pred),
        aOld.where(pred),
        cdc.signedDelta(bOld, bNew, Seq("custkey")), bOld,
        on = Seq("custkey"))
      cdc.maintainAgg(state0, delta, Seq("c_mktsegment"), Seq("price"))
        .withColumn("sum_price", col("sum_price").cast("double"))
    },
      // independent truth for the maintained SPJA view: from-scratch
      // filter + join + aggregate over the churned snapshots
      """WITH a0 AS (
        |  SELECT o_orderkey, o_custkey AS custkey,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price
        |  FROM orders
        |), an AS (
        |  SELECT o_orderkey, custkey,
        |    CAST(CASE WHEN o_orderkey % 3 = 0 THEN price + 100
        |              ELSE price END AS DECIMAL(12,2)) AS price
        |  FROM a0 WHERE o_orderkey % 5 <> 0
        |), b0 AS (
        |  SELECT c_custkey AS custkey, c_mktsegment FROM customer
        |), bn AS (
        |  SELECT custkey,
        |    CASE WHEN custkey % 4 = 0 THEN 'SEG'
        |         ELSE c_mktsegment END AS c_mktsegment
        |  FROM b0 WHERE custkey % 9 <> 0
        |)
        |SELECT c_mktsegment, count(*) AS n, count(price) AS nn_price,
        |  CAST(CAST(sum(CAST(price AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_price
        |FROM an JOIN bn USING (custkey)
        |WHERE price > 1000
        |GROUP BY c_mktsegment""".stripMargin),

    // Join elimination over a registered (and runtime-VERIFIED)
    // unique key: the query left-joins every order to its customer —
    // the generated-view shape — but reads no customer column, so
    // the injected rule drops the join and the whole dimension scan
    // (unique key ⇒ no duplication; LEFT ⇒ no loss). The in-query
    // REQUIREs prove the optimized plan has NO join and never scans
    // the customer table; the oracle EXECUTES the join — elimination
    // must be invisible in values.
    QuerySpec("ext_join_elim", (s, dir) => {
      val dimPath = s"$dir/customer.parquet"
      graft.plans.ConstraintCatalog.registerUnique(
        s, dimPath, Seq("c_custkey"), verify = true)
      try {
        val o = tbl(s, dir, "orders")
        val q = o.join(s.read.parquet(dimPath),
            o("o_custkey") === col("c_custkey"), "left")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(col("o_orderkey")).as("sum_key"))
        val plan = q.queryExecution.optimizedPlan
        require(plan.collectFirst {
            case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
          }.isEmpty, s"join was not eliminated:\n$plan")
        val scanned = plan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location.rootPaths.map(_.toUri.getPath)
              case _ => Seq.empty[String]
            }
        }.flatten
        require(!scanned.exists(_.contains("customer")),
          s"dimension must not be scanned: ${scanned.mkString(", ")}")
        q
      } finally graft.plans.ConstraintCatalog.unregister(dimPath)
    },
      // independent truth for the MAINTAINED state: a from-scratch
      // aggregate recompute over the churned (after) snapshot — the
      // incremental counting-algorithm result must hash-match it,
      // vanished group absent, all-NULL group's sum NULL
      // the oracle RUNS the join the engine eliminated — semantic
      // equality is the whole claim
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |GROUP BY o_orderstatus""".stripMargin),

    // IVM: bootstrap aggregate state over orders, churn the snapshot
    // (delete ALL of status 'P' so that group's count reaches zero
    // and it vanishes; NULL-out every 'F' value so that group's sum
    // retracts back to NULL; re-price every 3rd remaining key), feed
    // the churn through signedDelta -> maintainAgg, and grade the
    // MAINTAINED state against the oracle's from-scratch recompute
    // on the after snapshot — the counting algorithm's contract:
    // incremental == recompute, without ever rescanning the base.
    // Plan: one full-outer diff join + ONE exchange for the
    // union+re-aggregate, O(|state| + |churn|).
    QuerySpec("ext_ivm_maintain", (s, dir) => {
      val base = tbl(s, dir, "orders").select(
        col("o_orderkey"),
        col("o_orderstatus"),
        when(col("o_orderkey") % 11 === 0, lit(null))
          .otherwise(col("o_totalprice")).cast("decimal(12,2)").as("v"))
      val after = base
        .where(col("o_orderstatus") =!= "P")
        .withColumn("v",
          when(col("o_orderstatus") === "F", lit(null))
            .when(col("o_orderkey") % 3 === 0, col("v") + 100)
            .otherwise(col("v"))
            .cast("decimal(12,2)"))
      val state = graft.operators.Cdc.aggState(
        base, Seq("o_orderstatus"), Seq("v"))
      val delta = graft.operators.Cdc.signedDelta(
        base, after, Seq("o_orderkey"))
      graft.operators.Cdc.maintainAgg(
          state, delta, Seq("o_orderstatus"), Seq("v"))
        // exact decimal state internally; DOUBLE at the compare
        // boundary (the oracle's pandas fetch degrades decimals —
        // same convention as cap_events_hourly)
        .withColumn("sum_v", col("sum_v").cast("double"))
    },
      ivmMaintainOracleSql),

    // Materialized-view rewrite: the READ side of the IVM loop. The
    // churned orders snapshot is the stored base table; its aggregate
    // state — bootstrapped on the BEFORE snapshot and maintained
    // through signedDelta, never recomputed — is registered as a
    // materialized view over the base path. The user query then
    // aggregates the BASE (rollup to a coarser group + a filter on a
    // group column), and the injected optimizer rule answers it from
    // the state: the in-query REQUIRE proves the optimized plan scans
    // the state table and never the base, while the oracle recomputes
    // the truth from scratch — the rewrite must be invisible in
    // values. 100 TB posture: the base scan this avoids is the 100 TB
    // one; what remains is a scan of the group-sized state.
    QuerySpec.scratch("ext_mv_rewrite", (s, dir, root) => {
      val before = tbl(s, dir, "orders").select(
        col("o_orderkey"),
        col("o_orderstatus"),
        (col("o_orderkey") % 4).as("b"),
        when(col("o_orderkey") % 11 === 0, lit(null))
          .otherwise(col("o_totalprice")).cast("decimal(12,2)").as("v"))
      val after = before
        .where(col("o_orderstatus") =!= "P")
        .withColumn("v",
          when(col("o_orderstatus") === "F", lit(null))
            .when(col("o_orderkey") % 3 === 0, col("v") + 100)
            .otherwise(col("v"))
            .cast("decimal(12,2)"))
      // churned-base INPUT staged once per (sf dir, JVM) — pure input
      // staging (the landingFor discipline, r19): the maintained-state
      // build, the rewrite probe, and the oracle all stay live. Keyed
      // per query: the base is registered in MvCatalog, and a path
      // shared with flow_stream_mv would alias the two registrations
      val basePath = memoFixture(s"$dir|mv-base-vb|ext_mv_rewrite")(after.write.parquet(_))
      val statePath = s"$root/state"
      graft.operators.Cdc.maintainAgg(
          graft.operators.Cdc.aggState(before, Seq("o_orderstatus", "b"), Seq("v")),
          graft.operators.Cdc.signedDelta(before, after, Seq("o_orderkey")),
          Seq("o_orderstatus", "b"), Seq("v"))
        .write.parquet(statePath)
      graft.plans.MvCatalog.register(basePath,
        graft.plans.MvDef(Seq("o_orderstatus", "b"), Seq("v"), statePath))
      val out = try {
        val q = s.read.parquet(basePath)
          .where(col("b") =!= 2)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), count(col("v")).as("nn_v"),
            sum(col("v")).as("sum_v"))
        val scanned = q.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location.rootPaths.map(_.toUri.getPath)
              case _ => Seq.empty[String]
            }
        }.flatten
        require(scanned.exists(_.startsWith(statePath)) &&
          !scanned.exists(_.startsWith(basePath)),
          s"MV rewrite did not fire; scans: ${scanned.mkString(", ")}")
        q.withColumn("sum_v", col("sum_v").cast("double"))
          .localCheckpoint(true)
      } finally graft.plans.MvCatalog.unregister(basePath)
      out
    },
      // same churn derivation as ext_ivm_maintain plus the b bucket;
      // the rewrite answers from the maintained state, the oracle
      // recomputes from scratch — values must match exactly
      mvRewriteOracleSql),

    // AVG served from the maintained state: avg(q) for an INTEGRAL
    // column rewrites to the double division of the state's exact
    // decimal sum by the non-null-count rollup — the same two doubles
    // base Average evaluates (exact while |Σq| ≤ 2^53). The churn
    // nulls one whole status's values, so a served group with nn = 0
    // must surface as SQL's avg-over-no-values NULL. The in-query
    // REQUIRE proves the state is scanned and the base never — avg
    // was the blocking aggregate before this serve existed (one
    // unclassifiable output keeps the whole query on the base).
    QuerySpec.scratch("ext_mv_rewrite_avg", (s, dir, root) => {
      val before = tbl(s, dir, "orders").select(
        col("o_orderkey"),
        col("o_orderstatus"),
        (col("o_orderkey") % 4).as("b"),
        when(col("o_orderkey") % 7 === 0, lit(null))
          .otherwise(col("o_orderkey") % 997).cast("long").as("q"))
      val after = before
        .where(col("o_orderstatus") =!= "P")
        .withColumn("q",
          when(col("o_orderstatus") === "F", lit(null))
            .when(col("o_orderkey") % 3 === 0, col("q") + 50)
            .otherwise(col("q"))
            .cast("long"))
      // churned-base INPUT staged once per (sf dir, JVM) — pure input
      // staging (the landingFor discipline, r19): the maintained-state
      // build, the rewrite probe, and the oracle all stay live
      val basePath = memoFixture(s"$dir|mv-base-q7")(after.write.parquet(_))
      val statePath = s"$root/state"
      graft.operators.Cdc.maintainAgg(
          graft.operators.Cdc.aggState(before, Seq("o_orderstatus", "b"), Seq("q")),
          graft.operators.Cdc.signedDelta(before, after, Seq("o_orderkey")),
          Seq("o_orderstatus", "b"), Seq("q"))
        .write.parquet(statePath)
      graft.plans.MvCatalog.register(basePath,
        graft.plans.MvDef(Seq("o_orderstatus", "b"), Seq("q"), statePath))
      val out = try {
        val q = s.read.parquet(basePath)
          .where(col("b") =!= 2)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), count(col("q")).as("nn_q"),
            avg(col("q")).as("avg_q"))
        val scanned = q.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location.rootPaths.map(_.toUri.getPath)
              case _ => Seq.empty[String]
            }
        }.flatten
        require(scanned.exists(_.startsWith(statePath)) &&
          !scanned.exists(_.startsWith(basePath)),
          s"MV avg rewrite did not fire; scans: ${scanned.mkString(", ")}")
        q.localCheckpoint(true)
      } finally graft.plans.MvCatalog.unregister(basePath)
      out
    },
      // from-scratch recompute of the avg-served rollup: the exact
      // integer sum cast to double, divided by the non-null count —
      // the same two doubles the engine's serve (and base Average)
      // produces; the all-null 'F' group is NULL on both paths
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_orderkey % 4 AS b,
        |    CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |         ELSE o_orderkey % 997 END AS q
        |  FROM orders
        |), aft AS (
        |  SELECT o_orderkey, o_orderstatus, b,
        |    CASE WHEN o_orderstatus = 'F' THEN NULL
        |         WHEN o_orderkey % 3 = 0 THEN q + 50
        |         ELSE q END AS q
        |  FROM base WHERE o_orderstatus <> 'P'
        |)
        |SELECT o_orderstatus, count(*) AS n, count(q) AS nn_q,
        |  CAST(sum(q) AS DOUBLE) / CAST(count(q) AS DOUBLE) AS avg_q
        |FROM aft WHERE b <> 2 GROUP BY o_orderstatus""".stripMargin),

    // count(DISTINCT <value col>) served from a MAINTAINED two-level
    // counting state: Cdc.distinctCount's write side keeps the
    // (group…, value) multiset self-maintainable under deletion;
    // registering THAT state as the view (value column as a state
    // group column) lets the optimizer rewrite serve the distinct
    // count exactly — the DistinctCountOut path over state rows that
    // are distinct (group, value) combos by construction. The churn
    // nulls one status's values (count(DISTINCT) must report 0-ish
    // semantics: nulls don't count) and collapses value sets; the
    // REQUIRE pins the state scan. 100 TB posture: the avoided scan
    // is the base; what remains is |distinct (group, value) pairs|.
    QuerySpec.scratch("ext_mv_rewrite_distinct", (s, dir, root) => {
      val before = tbl(s, dir, "orders").select(
        col("o_orderkey"),
        col("o_orderstatus"),
        (col("o_orderkey") % 4).as("b"),
        when(col("o_orderkey") % 13 === 0, lit(null))
          .otherwise(col("o_orderkey") % 50).cast("long").as("q"))
      val after = before
        .where(col("o_orderstatus") =!= "P")
        .withColumn("q",
          when(col("o_orderstatus") === "F", lit(null))
            .when(col("o_orderkey") % 3 === 0, col("q") + 1)
            .otherwise(col("q"))
            .cast("long"))
      // churned-base INPUT staged once per (sf dir, JVM) — pure input
      // staging (the landingFor discipline, r19): the maintained-state
      // build, the rewrite probe, and the oracle all stay live
      val basePath = memoFixture(s"$dir|mv-base-q13")(after.write.parquet(_))
      val statePath = s"$root/state"
      graft.operators.Cdc.maintainAgg(
          graft.operators.Cdc.aggState(
            before, Seq("o_orderstatus", "b", "q"), Nil),
          graft.operators.Cdc.signedDelta(before, after, Seq("o_orderkey")),
          Seq("o_orderstatus", "b", "q"), Nil)
        .write.parquet(statePath)
      graft.plans.MvCatalog.register(basePath,
        graft.plans.MvDef(Seq("o_orderstatus", "b", "q"), Nil, statePath))
      val out = try {
        val q = s.read.parquet(basePath)
          .where(col("b") =!= 2)
          .groupBy("o_orderstatus")
          .agg(countDistinct(col("q")).as("nd_q"), count(lit(1)).as("n"))
        val scanned = q.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location.rootPaths.map(_.toUri.getPath)
              case _ => Seq.empty[String]
            }
        }.flatten
        require(scanned.exists(_.startsWith(statePath)) &&
          !scanned.exists(_.startsWith(basePath)),
          s"MV distinct rewrite did not fire; scans: ${scanned.mkString(", ")}")
        q.localCheckpoint(true)
      } finally graft.plans.MvCatalog.unregister(basePath)
      out
    },
      // from-scratch recompute of the distinct-count-served rollup:
      // NULLed values never count, the all-null 'F' group reports 0
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_orderkey % 4 AS b,
        |    CASE WHEN o_orderkey % 13 = 0 THEN NULL
        |         ELSE o_orderkey % 50 END AS q
        |  FROM orders
        |), aft AS (
        |  SELECT o_orderkey, o_orderstatus, b,
        |    CASE WHEN o_orderstatus = 'F' THEN NULL
        |         WHEN o_orderkey % 3 = 0 THEN q + 1
        |         ELSE q END AS q
        |  FROM base WHERE o_orderstatus <> 'P'
        |)
        |SELECT o_orderstatus, count(DISTINCT q) AS nd_q, count(*) AS n
        |FROM aft WHERE b <> 2 GROUP BY o_orderstatus""".stripMargin),

    // MV rewrite over the GROUPING-SETS LATTICE: the same churned
    // orders base, but the state is a Cdc.cubeState — every rollup
    // level maintained in ONE pass, __gid-discriminated — and the
    // user query is a ROLLUP whose Expand form the optimizer rule
    // answers per grouping set from the matching (or finer) state
    // slice; grouping_id() folds to a per-branch literal. The
    // in-query REQUIRE proves the optimized plan scans ONLY the
    // state; the oracle recomputes the rollup from scratch. 100 TB
    // posture: the avoided scan is |sets| x base — the lattice
    // answer costs |groups| state rows per level.
    QuerySpec.scratch("ext_mv_rewrite_cube", (s, dir, root) => {
      val before = tbl(s, dir, "orders").select(
        col("o_orderkey"),
        col("o_orderstatus"),
        // string-typed bucket: a NULLABLE int group column degrades
        // to float64 in the harness's pandas fetch of the oracle
        (col("o_orderkey") % 4).cast("string").as("b"),
        when(col("o_orderkey") % 11 === 0, lit(null))
          .otherwise(col("o_totalprice")).cast("decimal(12,2)").as("v"))
      val after = before
        .where(col("o_orderstatus") =!= "P")
        .withColumn("v",
          when(col("o_orderstatus") === "F", lit(null))
            .when(col("o_orderkey") % 3 === 0, col("v") + 100)
            .otherwise(col("v"))
            .cast("decimal(12,2)"))
      // churned-base INPUT staged once per (sf dir, JVM) — pure input
      // staging (the landingFor discipline, r19): the maintained-state
      // build, the rewrite probe, and the oracle all stay live
      val basePath = memoFixture(s"$dir|mv-base-vbs")(after.write.parquet(_))
      val statePath = s"$root/state"
      val sets = Seq(
        Seq("o_orderstatus", "b"), Seq("o_orderstatus"), Seq.empty[String])
      graft.operators.Cdc.maintainCube(
          graft.operators.Cdc.cubeState(
            before, Seq("o_orderstatus", "b"), sets, Seq("v")),
          graft.operators.Cdc.signedDelta(before, after, Seq("o_orderkey")),
          Seq("o_orderstatus", "b"), sets, Seq("v"))
        .write.parquet(statePath)
      graft.plans.MvCatalog.register(basePath,
        graft.plans.MvDef(Seq("o_orderstatus", "b"), Seq("v"), statePath,
          sets = sets))
      val out = try {
        val q = s.read.parquet(basePath)
          .rollup("o_orderstatus", "b")
          .agg(count(lit(1)).as("n"), count(col("v")).as("nn_v"),
            sum(col("v")).as("sum_v"), grouping_id().as("gid"))
        val scanned = q.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location.rootPaths.map(_.toUri.getPath)
              case _ => Seq.empty[String]
            }
        }.flatten
        require(scanned.exists(_.startsWith(statePath)) &&
          !scanned.exists(_.startsWith(basePath)),
          s"lattice MV rewrite did not fire; scans: ${scanned.mkString(", ")}")
        q.withColumn("sum_v", col("sum_v").cast("double"))
          .localCheckpoint(true)
      } finally graft.plans.MvCatalog.unregister(basePath)
      out
    },
      // from-scratch ROLLUP recompute; DuckDB's GROUPING(a, b) bitmask
      // matches Spark's grouping_id() convention (0 finest … 3 total)
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(o_orderkey % 4 AS VARCHAR) AS b,
        |    CAST(CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |              ELSE o_totalprice END AS DECIMAL(12,2)) AS v
        |  FROM orders
        |), aft AS (
        |  SELECT o_orderkey, o_orderstatus, b,
        |    CAST(CASE WHEN o_orderstatus = 'F' THEN NULL
        |              WHEN o_orderkey % 3 = 0 THEN v + 100
        |              ELSE v END AS DECIMAL(12,2)) AS v
        |  FROM base WHERE o_orderstatus <> 'P'
        |)
        |SELECT o_orderstatus, b, count(*) AS n, count(v) AS nn_v,
        |  CAST(CAST(sum(CAST(v AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_v,
        |  CAST(GROUPING(o_orderstatus, b) AS BIGINT) AS gid
        |FROM aft GROUP BY ROLLUP(o_orderstatus, b)""".stripMargin),

    // MV rewrite over an EXTREMA view — MIN/MAX, the aggregate family
    // that is NOT self-maintainable under deletion (a retracted
    // extremum says nothing about the runner-up): the write side is
    // maintainExtrema's fold/recompute split, and this row closes its
    // READ side. The churn deliberately ENDANGERS extrema (the 'P'
    // rows vanish — groups disappear; 'F' rows null out — non-null
    // counts fall; repriced rows raise maxes), the state is maintained
    // through that churn, and the user query's min/max/count over the
    // base answers from the group-sized state: the in-query REQUIRE
    // pins the state-only scan, the oracle recomputes from scratch.
    QuerySpec.scratch("ext_mv_rewrite_extrema", (s, dir, root) => {
      val cdc = graft.operators.Cdc
      val before = tbl(s, dir, "orders").select(
        col("o_orderkey"),
        col("o_orderstatus"),
        when(col("o_orderkey") % 11 === 0, lit(null))
          .otherwise(col("o_totalprice")).cast("decimal(12,2)").as("v"))
      val after = before
        .where(col("o_orderstatus") =!= "P")
        .withColumn("v",
          when(col("o_orderstatus") === "F", lit(null))
            .when(col("o_orderkey") % 3 === 0, col("v") + 100)
            .otherwise(col("v"))
            .cast("decimal(12,2)"))
      // churned-base INPUT staged once per (sf dir, JVM) — pure input
      // staging (the landingFor discipline, r19): the maintained-state
      // build, the rewrite probe, and the oracle all stay live
      val basePath = memoFixture(s"$dir|mv-base-vx")(after.write.parquet(_))
      val statePath = s"$root/state"
      cdc.maintainExtrema(
          cdc.extremaState(before, Seq("o_orderstatus"), Seq("v")),
          cdc.signedDelta(before, after, Seq("o_orderkey")),
          after, Seq("o_orderstatus"), Seq("v"))
        .write.parquet(statePath)
      graft.plans.MvCatalog.register(basePath,
        graft.plans.MvDef(Seq("o_orderstatus"), Nil, statePath,
          extremaCols = Seq("v")))
      val out = try {
        val q = s.read.parquet(basePath)
          .groupBy("o_orderstatus")
          .agg(min(col("v")).as("min_v"), max(col("v")).as("max_v"),
            count(col("v")).as("nn_v"), count(lit(1)).as("n_rows"))
        val scanned = q.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location.rootPaths.map(_.toUri.getPath)
              case _ => Seq.empty[String]
            }
        }.flatten
        require(scanned.exists(_.startsWith(statePath)) &&
          !scanned.exists(_.startsWith(basePath)),
          s"extrema MV rewrite did not fire; scans: ${scanned.mkString(", ")}")
        q.withColumn("min_v", col("min_v").cast("double"))
          .withColumn("max_v", col("max_v").cast("double"))
          .localCheckpoint(true)
      } finally graft.plans.MvCatalog.unregister(basePath)
      out
    },
      // from-scratch MIN/MAX recompute of the churned snapshot; the
      // engine answers from the extremaState maintained THROUGH the
      // extremum-retracting churn, never scanning the base
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |              ELSE o_totalprice END AS DECIMAL(12,2)) AS v
        |  FROM orders
        |), aft AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(CASE WHEN o_orderstatus = 'F' THEN NULL
        |              WHEN o_orderkey % 3 = 0 THEN v + 100
        |              ELSE v END AS DECIMAL(12,2)) AS v
        |  FROM base WHERE o_orderstatus <> 'P'
        |)
        |SELECT o_orderstatus,
        |  CAST(min(v) AS DOUBLE) AS min_v,
        |  CAST(max(v) AS DOUBLE) AS max_v,
        |  count(v) AS nn_v, count(*) AS n_rows
        |FROM aft GROUP BY o_orderstatus""".stripMargin),

    // MV rewrite over a JOIN VIEW — the read side of the joinDelta
    // loop. The churned orders/customer snapshots are the stored
    // base tables; the join view's counting state — bootstrapped on
    // the BEFORE join and maintained through joinDelta → maintainAgg
    // (never re-joined) — is registered for the base-path PAIR. The
    // user query then JOINS THE BASES and aggregates; the optimizer
    // rule recognizes the inner equi-join of the registered pair and
    // answers from the state. The in-query REQUIRE proves the plan
    // scans the state and NEITHER base; the oracle recomputes the
    // join + aggregate from scratch. 100 TB posture: the avoided
    // work is the fact-scan AND the join shuffle — what remains is a
    // scan of the group-sized state.
    QuerySpec.scratch("ext_mv_rewrite_join", (s, dir, root) => {
      val cdc = graft.operators.Cdc
      val aOld = tbl(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey").as("custkey"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
      val aNew = aOld.where(col("o_orderkey") % 5 =!= 0)
        .withColumn("price",
          when(col("o_orderkey") % 3 === 0, col("price") + 100)
            .otherwise(col("price")).cast("decimal(12,2)"))
      val bOld = tbl(s, dir, "customer").select(
        col("c_custkey").as("custkey"), col("c_mktsegment"))
      val bNew = bOld.where(col("custkey") % 9 =!= 0)
        .withColumn("c_mktsegment",
          when(col("custkey") % 4 === 0, lit("SEG"))
            .otherwise(col("c_mktsegment")))
      // churned-base INPUTS staged once per (sf dir, JVM) — input
      // staging only; state build, rewrite probe and oracle stay live
      val aPath = memoFixture(s"$dir|mvj-a")(aNew.write.parquet(_))
      val bPath = memoFixture(s"$dir|mvj-b")(bNew.write.parquet(_))
      val statePath = s"$root/state"
      cdc.maintainAgg(
          cdc.aggState(aOld.join(bOld, Seq("custkey"), "inner"),
            Seq("c_mktsegment"), Seq("price")),
          cdc.joinDelta(
            cdc.signedDelta(aOld, aNew, Seq("o_orderkey")), aOld,
            cdc.signedDelta(bOld, bNew, Seq("custkey")), bOld,
            on = Seq("custkey")),
          Seq("c_mktsegment"), Seq("price"))
        .write.parquet(statePath)
      graft.plans.MvCatalog.registerJoin(graft.plans.JoinMvDef(
        aPath, bPath, Seq("custkey"), Seq("c_mktsegment"), Seq("price"),
        statePath))
      val out = try {
        val q = s.read.parquet(aPath)
          .join(s.read.parquet(bPath), Seq("custkey"), "inner")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_rows"), count(col("price")).as("nn_price"),
            sum(col("price")).as("sum_price"))
        val scanned = q.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location.rootPaths.map(_.toUri.getPath)
              case _ => Seq.empty[String]
            }
        }.flatten
        require(scanned.exists(_.startsWith(statePath)) &&
          !scanned.exists(_.startsWith(aPath)) &&
          !scanned.exists(_.startsWith(bPath)),
          s"join MV rewrite did not fire; scans: ${scanned.mkString(", ")}")
        q.withColumn("sum_price", col("sum_price").cast("double"))
          .localCheckpoint(true)
      } finally graft.plans.MvCatalog.unregisterJoin(aPath, bPath)
      out
    },
      // from-scratch join + aggregate recompute of the same two-sided
      // churn; the engine answers it from the joinDelta-maintained
      // state without scanning either base or re-running the join
      """WITH a AS (
        |  SELECT o_orderkey, o_custkey AS custkey,
        |    CAST(CASE WHEN o_orderkey % 3 = 0
        |              THEN CAST(o_totalprice AS DECIMAL(12,2)) + 100
        |              ELSE CAST(o_totalprice AS DECIMAL(12,2))
        |         END AS DECIMAL(12,2)) AS price
        |  FROM orders WHERE o_orderkey % 5 <> 0
        |), b AS (
        |  SELECT c_custkey AS custkey,
        |    CASE WHEN c_custkey % 4 = 0 THEN 'SEG'
        |         ELSE c_mktsegment END AS c_mktsegment
        |  FROM customer WHERE c_custkey % 9 <> 0
        |)
        |SELECT c_mktsegment, count(*) AS n_rows, count(price) AS nn_price,
        |  CAST(CAST(sum(CAST(price AS DECIMAL(38,6))) AS DECIMAL(38,6))
        |       AS DOUBLE) AS sum_price
        |FROM a JOIN b USING (custkey)
        |GROUP BY c_mktsegment""".stripMargin),

    // MV rewrite over a LEFT-OUTER join view — the read side of the
    // leftJoinDelta loop. The state is aggState(orders ⟕ customers)
    // maintained through two-sided churn whose match counts cross
    // zero in both directions (ext_ivm_left_join's arithmetic), and
    // is registered with joinType = "left": a LEFT query over the
    // registered pair — IN ORDER; outer joins do not commute — is
    // served from the state including the null-extension rows (the
    // NULL segment group IS the unmatched-order population). An
    // inner query over the same pair must keep its join (the left
    // state would overcount it by the extensions) — MvRewriteSpec
    // pins that and the below-right-filter rejection. In-query
    // REQUIRE: state scanned, neither base. 100 TB posture: the
    // avoided work is both scans AND the outer-join shuffle.
    QuerySpec.scratch("ext_mv_rewrite_left_join", (s, dir, root) => {
      val cdc = graft.operators.Cdc
      val aOld = tbl(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey").as("custkey"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
      val aNew = aOld.where(col("o_orderkey") % 5 =!= 0)
        .withColumn("price",
          when(col("o_orderkey") % 3 === 0, col("price") + 100)
            .otherwise(col("price")).cast("decimal(12,2)"))
      val cust = tbl(s, dir, "customer").select(
        col("c_custkey").as("custkey"), col("c_mktsegment"))
      val bOld = cust.where(col("custkey") % 7 =!= 0)
      val bNew = cust.where(col("custkey") % 9 =!= 0)
        .withColumn("c_mktsegment",
          when(col("custkey") % 4 === 0, lit("SEG"))
            .otherwise(col("c_mktsegment")))
      // churned-base INPUTS staged once per (sf dir, JVM) — input
      // staging only; state build, rewrite probe and oracle stay live
      val aPath = memoFixture(s"$dir|mvj-a")(aNew.write.parquet(_))
      val bPath = memoFixture(s"$dir|mvj-b")(bNew.write.parquet(_))
      val statePath = s"$root/state"
      cdc.maintainAgg(
          cdc.aggState(aOld.join(bOld, Seq("custkey"), "left"),
            Seq("c_mktsegment"), Seq("price")),
          cdc.leftJoinDelta(
            cdc.signedDelta(aOld, aNew, Seq("o_orderkey")), aOld,
            cdc.signedDelta(bOld, bNew, Seq("custkey")), bOld,
            on = Seq("custkey")),
          Seq("c_mktsegment"), Seq("price"))
        .write.parquet(statePath)
      graft.plans.MvCatalog.registerJoin(graft.plans.JoinMvDef(
        aPath, bPath, Seq("custkey"), Seq("c_mktsegment"), Seq("price"),
        statePath, joinType = "left"))
      val out = try {
        val q = s.read.parquet(aPath)
          .join(s.read.parquet(bPath), Seq("custkey"), "left")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_rows"), count(col("price")).as("nn_price"),
            sum(col("price")).as("sum_price"))
        val scanned = q.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location.rootPaths.map(_.toUri.getPath)
              case _ => Seq.empty[String]
            }
        }.flatten
        require(scanned.exists(_.startsWith(statePath)) &&
          !scanned.exists(_.startsWith(aPath)) &&
          !scanned.exists(_.startsWith(bPath)),
          s"left-join MV rewrite did not fire; scans: ${scanned.mkString(", ")}")
        q.withColumn("sum_price", col("sum_price").cast("double"))
          .localCheckpoint(true)
      } finally graft.plans.MvCatalog.unregisterJoin(aPath, bPath)
      out
    },
      // the left-join read side shares ext_ivm_left_join's churn: one
      // from-scratch LEFT JOIN recompute grades the rewrite-served
      // aggregate (the in-query REQUIRE already pinned the state scan)
      """WITH a0 AS (
        |  SELECT o_orderkey, o_custkey AS custkey,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price
        |  FROM orders
        |), an AS (
        |  SELECT o_orderkey, custkey,
        |    CAST(CASE WHEN o_orderkey % 3 = 0 THEN price + 100
        |              ELSE price END AS DECIMAL(12,2)) AS price
        |  FROM a0 WHERE o_orderkey % 5 <> 0
        |), bn AS (
        |  SELECT c_custkey AS custkey,
        |    CASE WHEN c_custkey % 4 = 0 THEN 'SEG'
        |         ELSE c_mktsegment END AS c_mktsegment
        |  FROM customer WHERE c_custkey % 9 <> 0
        |)
        |SELECT c_mktsegment, count(*) AS n_rows, count(price) AS nn_price,
        |  CAST(CAST(sum(CAST(price AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_price
        |FROM an LEFT JOIN bn USING (custkey)
        |GROUP BY c_mktsegment""".stripMargin),

    // MV rewrite over the FULL SPJA view — σ(price > 1000) → join →
    // aggregate, the classic select-project-join-aggregate class,
    // read side. The state (bootstrapped on the filtered BEFORE join,
    // maintained through the σ-filtered joinDelta — σ is linear over
    // signed multisets) is registered with the view predicate; the
    // user query joins the bases WITH the same WHERE, and the rule
    // matches the predicate SEMANTICALLY (post-pushdown, inferred
    // null-rejections and all) before serving. A query without the
    // predicate keeps its join — the σ-state would undercount it
    // (MvRewriteSpec pins the near-miss fallbacks). In-query REQUIRE:
    // state scanned, neither base. 100 TB posture: the avoided work
    // is scan + filter + join shuffle of the fact side.
    QuerySpec.scratch("ext_mv_rewrite_spja", (s, dir, root) => {
      val cdc = graft.operators.Cdc
      val aOld = tbl(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey").as("custkey"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
      val aNew = aOld.where(col("o_orderkey") % 5 =!= 0)
        .withColumn("price",
          when(col("o_orderkey") % 3 === 0, col("price") + 100)
            .otherwise(col("price")).cast("decimal(12,2)"))
      val bOld = tbl(s, dir, "customer").select(
        col("c_custkey").as("custkey"), col("c_mktsegment"))
      val bNew = bOld.where(col("custkey") % 9 =!= 0)
        .withColumn("c_mktsegment",
          when(col("custkey") % 4 === 0, lit("SEG"))
            .otherwise(col("c_mktsegment")))
      val pred = col("price") > 1000
      // churned-base INPUTS staged once per (sf dir, JVM) — input
      // staging only; state build, rewrite probe and oracle stay live
      val aPath = memoFixture(s"$dir|mvj-a")(aNew.write.parquet(_))
      val bPath = memoFixture(s"$dir|mvj-b")(bNew.write.parquet(_))
      val statePath = s"$root/state"
      cdc.maintainAgg(
          cdc.aggState(aOld.where(pred).join(bOld, Seq("custkey"), "inner"),
            Seq("c_mktsegment"), Seq("price")),
          cdc.joinDelta(
            cdc.signedDelta(aOld, aNew, Seq("o_orderkey")).where(pred),
            aOld.where(pred),
            cdc.signedDelta(bOld, bNew, Seq("custkey")), bOld,
            on = Seq("custkey")),
          Seq("c_mktsegment"), Seq("price"))
        .write.parquet(statePath)
      graft.plans.MvCatalog.registerJoin(graft.plans.JoinMvDef(
        aPath, bPath, Seq("custkey"), Seq("c_mktsegment"), Seq("price"),
        statePath, filterSql = Some("price > 1000")))
      val out = try {
        val q = s.read.parquet(aPath)
          .join(s.read.parquet(bPath), Seq("custkey"), "inner")
          .where(col("price") > 1000)
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_rows"), count(col("price")).as("nn_price"),
            sum(col("price")).as("sum_price"))
        val scanned = q.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location.rootPaths.map(_.toUri.getPath)
              case _ => Seq.empty[String]
            }
        }.flatten
        require(scanned.exists(_.startsWith(statePath)) &&
          !scanned.exists(_.startsWith(aPath)) &&
          !scanned.exists(_.startsWith(bPath)),
          s"SPJA MV rewrite did not fire; scans: ${scanned.mkString(", ")}")
        q.withColumn("sum_price", col("sum_price").cast("double"))
          .localCheckpoint(true)
      } finally graft.plans.MvCatalog.unregisterJoin(aPath, bPath)
      out
    },
      // from-scratch σ + join + aggregate recompute of the same
      // two-sided churn; the engine answers from the σ-filtered
      // joinDelta-maintained state without touching either base
      """WITH a AS (
        |  SELECT o_orderkey, o_custkey AS custkey,
        |    CAST(CASE WHEN o_orderkey % 3 = 0
        |              THEN CAST(o_totalprice AS DECIMAL(12,2)) + 100
        |              ELSE CAST(o_totalprice AS DECIMAL(12,2))
        |         END AS DECIMAL(12,2)) AS price
        |  FROM orders WHERE o_orderkey % 5 <> 0
        |), b AS (
        |  SELECT c_custkey AS custkey,
        |    CASE WHEN c_custkey % 4 = 0 THEN 'SEG'
        |         ELSE c_mktsegment END AS c_mktsegment
        |  FROM customer WHERE c_custkey % 9 <> 0
        |)
        |SELECT c_mktsegment, count(*) AS n_rows, count(price) AS nn_price,
        |  CAST(CAST(sum(CAST(price AS DECIMAL(38,6))) AS DECIMAL(38,6))
        |       AS DOUBLE) AS sum_price
        |FROM a JOIN b USING (custkey)
        |WHERE price > 1000
        |GROUP BY c_mktsegment""".stripMargin),

    // Extrema IVM: MIN/MAX are not self-maintainable under deletion
    // (a retracted extremum says nothing about the runner-up), so
    // maintainExtrema splits per group — insertions and interior
    // deletes FOLD with pure delta arithmetic; only groups whose
    // retractions tie/cross a current extremum re-aggregate, via a
    // broadcast LEFT SEMI of the churn-bounded endangered keys
    // against the after snapshot. The churn here exercises every
    // path: 'P' vanishes wholesale, 'F' retracts all its values to
    // NULL (extrema back to NULL via recompute), every 7th key
    // deletes (some hit extrema -> recompute, most are interior ->
    // fold), every 3rd re-prices +100000 (new maxes fold in).
    // Maintained state must equal the from-scratch recompute.
    QuerySpec("ext_ivm_minmax", (s, dir) => {
      val base = tbl(s, dir, "orders").select(
        col("o_orderkey"),
        col("o_orderstatus"),
        when(col("o_orderkey") % 11 === 0, lit(null))
          .otherwise(col("o_totalprice")).cast("decimal(12,2)").as("v"))
      val after = base
        .where(col("o_orderstatus") =!= "P")
        .where(col("o_orderkey") % 7 =!= 0)
        .withColumn("v",
          when(col("o_orderstatus") === "F", lit(null))
            .when(col("o_orderkey") % 3 === 0, col("v") + 100000)
            .otherwise(col("v"))
            .cast("decimal(12,2)"))
      val state = graft.operators.Cdc.extremaState(
        base, Seq("o_orderstatus"), Seq("v"))
      val delta = graft.operators.Cdc.signedDelta(
        base, after, Seq("o_orderkey"))
      graft.operators.Cdc.maintainExtrema(
          state, delta, after, Seq("o_orderstatus"), Seq("v"))
        .withColumn("min_v", col("min_v").cast("double"))
        .withColumn("max_v", col("max_v").cast("double"))
    },
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |              ELSE o_totalprice END AS DECIMAL(12,2)) AS v
        |  FROM orders
        |), aft AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(CASE WHEN o_orderstatus = 'F' THEN NULL
        |              WHEN o_orderkey % 3 = 0 THEN v + 100000
        |              ELSE v END AS DECIMAL(12,2)) AS v
        |  FROM base WHERE o_orderstatus <> 'P' AND o_orderkey % 7 <> 0
        |)
        |SELECT o_orderstatus, count(*) AS n, count(v) AS nn_v,
        |  CAST(min(v) AS DOUBLE) AS min_v,
        |  CAST(max(v) AS DOUBLE) AS max_v
        |FROM aft GROUP BY o_orderstatus""".stripMargin),

    // Distinct-count IVM: COUNT(DISTINCT) is also not delta-
    // maintainable directly, but the (group, value) multiset IS —
    // the standard two-level counting reduction. The inner aggState
    // keyed by (status, value) maintains through churn with plain
    // maintainAgg (a value's count hitting zero drops its row), and
    // distinctCount reads the view off with one more hash aggregate:
    // n = Σ multiplicities, nd_v = surviving distinct non-null
    // values. The base table is never rescanned — the delta-only
    // property extrema maintenance can't have.
    QuerySpec("ext_ivm_distinct", (s, dir) => {
      val cdc = graft.operators.Cdc
      val base = tbl(s, dir, "orders").select(
        col("o_orderkey"),
        col("o_orderstatus"),
        when(col("o_custkey") % 13 === 0, lit(null))
          .otherwise(col("o_custkey") % 100).as("v"))
      val after = base
        .where(col("o_orderkey") % 5 =!= 0)
        .withColumn("v",
          when(col("o_orderkey") % 3 === 0, (col("v") + 1) % 100)
            .otherwise(col("v")))
      val inner0 = cdc.aggState(base, Seq("o_orderstatus", "v"), Nil)
      val inner1 = cdc.maintainAgg(
        inner0, cdc.signedDelta(base, after, Seq("o_orderkey")),
        Seq("o_orderstatus", "v"), Nil)
      cdc.distinctCount(inner1, Seq("o_orderstatus"), "v")
    },
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_custkey % 13 = 0 THEN NULL
        |         ELSE o_custkey % 100 END AS v
        |  FROM orders
        |), aft AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 3 = 0 THEN (v + 1) % 100
        |         ELSE v END AS v
        |  FROM base WHERE o_orderkey % 5 <> 0
        |)
        |SELECT o_orderstatus, count(*) AS n, count(DISTINCT v) AS nd_v
        |FROM aft GROUP BY o_orderstatus""".stripMargin),

    // Maintained exact top-k: the same two-level counting state as
    // ext_ivm_distinct, read off with a rank window — exact under
    // the deletions that insert-only sketch heavy-hitters (MG) can
    // only bound. The churn deletes every 5th key and re-buckets
    // every 3rd, demoting/promoting values across the k boundary;
    // the maintained ranking must equal the recompute's.
    QuerySpec("ext_ivm_topk", (s, dir) => {
      val cdc = graft.operators.Cdc
      val base = tbl(s, dir, "orders").select(
        col("o_orderkey"),
        col("o_orderstatus"),
        (col("o_custkey") % 50).as("v"))
      val after = base
        .where(col("o_orderkey") % 5 =!= 0)
        .withColumn("v",
          when(col("o_orderkey") % 3 === 0, (col("v") + 1) % 50)
            .otherwise(col("v")))
      val inner = cdc.maintainAgg(
        cdc.aggState(base, Seq("o_orderstatus", "v"), Nil),
        cdc.signedDelta(base, after, Seq("o_orderkey")),
        Seq("o_orderstatus", "v"), Nil)
      cdc.topKByCount(inner, Seq("o_orderstatus"), "v", k = 5)
    },
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_custkey % 50 AS v
        |  FROM orders
        |), aft AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 3 = 0 THEN (v + 1) % 50 ELSE v END AS v
        |  FROM base WHERE o_orderkey % 5 <> 0
        |), m AS (
        |  SELECT o_orderstatus, v, count(*) AS n FROM aft GROUP BY 1, 2
        |), r AS (
        |  SELECT o_orderstatus, v, n, CAST(row_number() OVER (
        |    PARTITION BY o_orderstatus ORDER BY n DESC, v ASC) AS INT) AS rank
        |  FROM m
        |)
        |SELECT o_orderstatus, v, n, rank FROM r WHERE rank <= 5""".stripMargin),

    // Exact maintained MEDIAN: the third read-off over the same
    // maintained (group, value) multiset — cumulative-multiplicity
    // walk to ceil(q·total), exact under the deletions KLL-style
    // quantile sketches cannot retract (ext_quantiles bounds those;
    // this one is exact because the state is).
    QuerySpec("ext_ivm_median", (s, dir) => {
      val cdc = graft.operators.Cdc
      val base = tbl(s, dir, "orders").select(
        col("o_orderkey"),
        col("o_orderstatus"),
        (col("o_custkey") % 1000).as("v"))
      val after = base
        .where(col("o_orderkey") % 5 =!= 0)
        .withColumn("v",
          when(col("o_orderkey") % 3 === 0, (col("v") + 7) % 1000)
            .otherwise(col("v")))
      val inner = cdc.maintainAgg(
        cdc.aggState(base, Seq("o_orderstatus", "v"), Nil),
        cdc.signedDelta(base, after, Seq("o_orderkey")),
        Seq("o_orderstatus", "v"), Nil)
      cdc.quantileByCount(inner, Seq("o_orderstatus"), "v", q = 0.5)
    },
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_custkey % 1000 AS v
        |  FROM orders
        |), aft AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 3 = 0 THEN (v + 7) % 1000 ELSE v END AS v
        |  FROM base WHERE o_orderkey % 5 <> 0
        |), m AS (
        |  SELECT o_orderstatus, v, count(*) AS n FROM aft
        |  WHERE v IS NOT NULL GROUP BY 1, 2
        |), c AS (
        |  SELECT o_orderstatus, v, n,
        |    sum(n) OVER (PARTITION BY o_orderstatus ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(n) OVER (PARTITION BY o_orderstatus) AS tot
        |  FROM m
        |)
        |SELECT o_orderstatus, v AS q_v FROM c
        |WHERE cum >= CAST(ceiling(0.5 * tot) AS BIGINT)
        |  AND cum - n < CAST(ceiling(0.5 * tot) AS BIGINT)""".stripMargin),

    // Maintained grouping-sets lattice: cubeState bootstraps every
    // level from ONE base scan (finest state rolled up in state
    // space), and maintainCube pushes one signed delta through all
    // levels in a single maintainAgg pass — deleting all of status
    // 'P' vanishes its groups at the finest AND status level while
    // the grand total just shrinks. __gid disambiguates a NULL
    // group value from a rollup NULL, which is what makes the raw
    // cube output unmaintainable and this state maintainable.
    QuerySpec("ext_ivm_cube", (s, dir) => {
      val cdc = graft.operators.Cdc
      val sets = Seq(
        Seq("o_orderstatus", "o_orderpriority"),
        Seq("o_orderstatus"),
        Seq.empty[String])
      val base = tbl(s, dir, "orders").select(
        col("o_orderkey"),
        col("o_orderstatus"),
        col("o_orderpriority"),
        when(col("o_orderkey") % 11 === 0, lit(null))
          .otherwise(col("o_totalprice")).cast("decimal(12,2)").as("v"))
      val after = base
        .where(col("o_orderstatus") =!= "P")
        .withColumn("v",
          when(col("o_orderkey") % 3 === 0, col("v") + 100)
            .otherwise(col("v"))
            .cast("decimal(12,2)"))
      val state = cdc.cubeState(
        base, Seq("o_orderstatus", "o_orderpriority"), sets, Seq("v"))
      cdc.maintainCube(
          state, cdc.signedDelta(base, after, Seq("o_orderkey")),
          Seq("o_orderstatus", "o_orderpriority"), sets, Seq("v"))
        .withColumn("sum_v", col("sum_v").cast("double"))
    },
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_orderpriority,
        |    CAST(CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |              ELSE o_totalprice END AS DECIMAL(12,2)) AS v
        |  FROM orders
        |), aft AS (
        |  SELECT o_orderkey, o_orderstatus, o_orderpriority,
        |    CAST(CASE WHEN o_orderkey % 3 = 0 THEN v + 100
        |              ELSE v END AS DECIMAL(12,2)) AS v
        |  FROM base WHERE o_orderstatus <> 'P'
        |)
        |SELECT o_orderstatus, o_orderpriority, 0 AS __gid,
        |  count(*) AS n, count(v) AS nn_v,
        |  CAST(CAST(sum(CAST(v AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_v
        |FROM aft GROUP BY o_orderstatus, o_orderpriority
        |UNION ALL
        |SELECT o_orderstatus, NULL, 1, count(*), count(v),
        |  CAST(CAST(sum(CAST(v AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS DOUBLE)
        |FROM aft GROUP BY o_orderstatus
        |UNION ALL
        |SELECT NULL, NULL, 2, count(*), count(v),
        |  CAST(CAST(sum(CAST(v AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS DOUBLE)
        |FROM aft""".stripMargin),
  )
}
