package graft
package queries

import graft.core.Clock
import graft.ext._
import graft.operators._
import graft.sinks.MergeUpsert
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Fixtures._
import DeclaredQueries.{dedupBaseSql, mergeOracleSql, promoteOracleSql}
import ExtQueries.cdcApplyOracleSql
import ViewQueries.{ivmMaintainOracleSql, mvRewriteOracleSql}

/** End-to-end lake flows (`flow_*`): streams, merges, purges,
  * compaction, indexes and commits composed over a scratch lake, each
  * graded against the batch truth of the operators it composes.
  */
object FlowQueries {

  val specs: Seq[QuerySpec] = Seq(
    // Streaming lake flow e2e: the lineitem fixture lands as files in
    // a source directory → checkpointed AvailableNow file stream
    // appends them into WORK (K1 as a streaming write, one file per
    // micro-batch) → IncrementalPromote merges WORK into TRUSTED —
    // and the final TRUSTED table must equal the BATCH promote of the
    // same fixture (d7's oracle): the stream changes how rows arrive,
    // never what the promote computes. The registry detaches the
    // result from the scratch lake so the sweep can reclaim the disk.
    QuerySpec.scratch("flow_stream_ingest", (s, dir, root) => {
      import graft.core.{Clock, DatasetRef, LakePaths}
      val lake = LakePaths(s"$root/lake")
      val ref = DatasetRef("stream", "tpch", "lineitem")
      val landing = landingFor(s, dir, "lineitem", 4)
      graft.streaming.StreamingOps.streamIngestToWork(
        s, landing, landingSchema(s, landing),
        lake.work(ref), s"$root/ckpt")
      graft.operators.IncrementalPromote.run(
        s, ref, lake, skIds = Seq("l_orderkey", "l_linenumber"),
        hyphen = true, clock = Clock.ForOracle)
      s.read.parquet(lake.trusted(ref))
    },
      // the streaming K1 staging must land the batch promote's truth
      promoteOracleSql),

    // Streaming lake flow WITH small-file compaction: the same landing
    // → checkpointed stream → WORK leg as flow_stream_ingest, but the
    // per-micro-batch small files are bin-packed by
    // [[graft.sinks.Compaction.compactWork]] (sink-log-aware atomic
    // swap) BEFORE the promote — the operational order a long-running
    // 100 TB ingest needs. The promote over the compacted zone must
    // still equal the batch d7 truth: compaction moves bytes between
    // files, never rows between results. maxFilesPerTrigger=2 over 8
    // landed files exercises multi-batch sink-log rewriting.
    QuerySpec.scratch("flow_stream_compact", (s, dir, root) => {
      import graft.core.{Clock, DatasetRef, LakePaths}
      val lake = LakePaths(s"$root/lake")
      val ref = DatasetRef("stream", "tpch", "lineitem")
      val landing = landingFor(s, dir, "lineitem", 8)
      graft.streaming.StreamingOps.streamIngestToWork(
        s, landing, landingSchema(s, landing),
        lake.work(ref), s"$root/ckpt", maxFilesPerTrigger = 2)
      val nFiles = graft.sinks.Compaction.compactWork(s, lake.work(ref))
      require(nFiles >= 1, "compaction produced no files")
      graft.operators.IncrementalPromote.run(
        s, ref, lake, skIds = Seq("l_orderkey", "l_linenumber"),
        hyphen = true, clock = Clock.ForOracle)
      s.read.parquet(lake.trusted(ref))
    },
      // compaction is a byte-layout operation: the stream-ingested,
      // compacted, promoted table equals the same batch d7 truth
      promoteOracleSql),

    // Cross-table atomic commit: the merged fact AND its aggregate
    // state move in ONE journaled transaction (TxnCommit two-phase:
    // stage both, marker = commit point, swap both; TxnCommitSpec
    // proves every crash window rolls the PAIR back or forward, never
    // a mixed version set). Flow: v1 = pre-merge snapshot + state,
    // v2 = K2-merged table + recomputed state, committed atomically;
    // the in-query REQUIRE cross-checks the pair (state row total ==
    // fact row count) and the graded output is the state, against the
    // oracle's from-scratch recompute of the merge truth's aggregate.
    QuerySpec.scratch("flow_multi_commit", (s, dir, root) => {
      // each commit consumes its inputs TWICE (fact write + state
      // recompute) — materialize the shared dedup chain once instead
      // of re-running the scan+window per consumer
      val base = dedupBaseM(s, dir)
      val trusted = base.where(col("l_orderkey") % 2 === 0)
      val updates = base.where(col("l_orderkey") % 3 === 0)
        .withColumn("l_quantity", col("l_quantity") + 1000)
      val factPath = s"$root/fact"
      val statePath = s"$root/state"
      def stateOf(df: DataFrame) = graft.operators.Cdc.aggState(
        df.select(col("l_returnflag"),
          col("l_quantity").cast("decimal(12,2)").as("q")),
        Seq("l_returnflag"), Seq("q"))
      graft.sinks.TxnCommit.commitAll(s,
        Seq((trusted, factPath), (stateOf(trusted), statePath)), s"$root/txn")
      val merged = MergeUpsert.merged(s.read.parquet(factPath), updates)
        .localCheckpoint(true)
      graft.sinks.TxnCommit.commitAll(s,
        Seq((merged, factPath), (stateOf(merged), statePath)), s"$root/txn")
      val factN = s.read.parquet(factPath).count()
      val st = s.read.parquet(statePath)
      val stateN = st.agg(sum("n")).head().getLong(0)
      require(factN == stateN,
        s"cross-table pair out of sync: fact $factN rows vs state total $stateN")
      st.withColumn("sum_q", col("sum_q").cast("double"))
    },
      // the atomically-committed state must equal the from-scratch
      // aggregate of the same merge truth d8 grades
      s"""WITH base AS ($dedupBaseSql),
         |t AS (SELECT * FROM base WHERE l_orderkey % 2 = 0),
         |u AS (SELECT * REPLACE (l_quantity + 1000 AS l_quantity) FROM base WHERE l_orderkey % 3 = 0),
         |m AS (
         |  SELECT * FROM t WHERE NOT EXISTS (SELECT 1 FROM u WHERE u.sk = t.sk)
         |  UNION ALL SELECT * FROM u
         |)
         |SELECT l_returnflag, count(*) AS n, count(q) AS nn_q,
         |  CAST(CAST(sum(CAST(q AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_q
         |FROM (SELECT l_returnflag, CAST(l_quantity AS DECIMAL(12,2)) AS q FROM m)
         |GROUP BY l_returnflag""".stripMargin),

    // Purge composed with the K2 lake: bootstrap TRUSTED via the
    // merge machinery, then delete by SURROGATE KEY (the GDPR shape —
    // the doomed sk list is broadcast-sized) with the minimal-rewrite
    // bloom-guided purge; the final table must equal the anti-joined
    // bootstrap truth
    QuerySpec.scratch("flow_purge_trusted", (s, dir, root) => {
      val base = dedupBaseM(s, dir)
      val trustedPath = s"$root/trusted"
      graft.sinks.MergeUpsert.mergeInto(
        s, trustedPath, base.where(col("l_orderkey") % 2 === 0))
      graft.sinks.BloomIndex.collect(s, trustedPath, "sk",
        expectedItems = 1000000)
      val doomed = base.where(col("l_orderkey") % 10 === 0)
        .select(col("sk").as("key")).distinct()
      graft.sinks.Purge.purge(s, trustedPath, doomed, "key", "sk")
      s.read.parquet(trustedPath)
    },
      s"""SELECT * FROM ($dedupBaseSql)
         |WHERE l_orderkey % 2 = 0 AND l_orderkey % 10 <> 0""".stripMargin),

    // TRUSTED maintenance flow: K2 merge with z-order clustering
    // applied INSIDE the staging write (zorderBy on mergeInto) — the
    // operational form of flow_compact_zorder: every merge re-lays
    // the table along the curve over its query columns with one
    // extra range exchange, no second rewrite, same atomic swap. The
    // oracle is d8's merge truth: clustering must change layout ONLY
    // (MergeZOrderSpec measures the footer-stats skipping payoff on
    // the same maintained table).
    QuerySpec.scratch("flow_merge_zorder", (s, dir, root) => {
      val base = dedupBaseM(s, dir)
      val trustedPath = s"$root/trusted"
      // bootstrap plain; the MAINTENANCE merge is the clustered step
      // under grade (promote → cluster)
      graft.sinks.MergeUpsert.mergeInto(
        s, trustedPath, base.where(col("l_orderkey") % 2 === 0))
      graft.sinks.MergeUpsert.mergeInto(s, trustedPath,
        base.where(col("l_orderkey") % 3 === 0)
          .withColumn("l_quantity", col("l_quantity") + 1000),
        zorderBy = Seq("l_orderkey", "l_partkey"), zorderFiles = 8)
      s.read.parquet(trustedPath)
    },
      // clustering changes layout only: the maintained z-ordered
      // trusted table must hash-match the plain merge truth
      mergeOracleSql),

    // Streaming CDC apply: ext_cdc_apply's I/U/D change log replayed
    // as a checkpointed file stream — tiers land in log order
    // (sequential appends; the file source consumes oldest-first),
    // each micro-batch folded and applied delete-aware into TRUSTED
    // behind the K2 swap. Final table must equal the batch apply
    // truth (ext_cdc_apply's oracle). StreamingSpec's restart case
    // covers the crash/resume exactly-once story.
    // CDC apply with PIGGYBACKED IVM: the same checkpointed I/U/D
    // stream folds into TRUSTED and, in the same micro-batch, into a
    // maintained revenue-by-status state — the state's signed delta
    // comes from Cdc.logDelta (before-images probed from the
    // pre-batch table by the batch's broadcast keys), so neither
    // path rescans the table. State commits first (transactional
    // batch-id marker), table second (idempotent) — any replay lands
    // safely. The maintained state must equal the aggregate of the
    // whole-log fold truth.
    QuerySpec.scratch("flow_stream_cdc_ivm", (s, dir, root) => {
      val o = tbl(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        when(col("o_orderkey") % 11 === 0, lit(null))
          .otherwise(col("o_totalprice")).cast("decimal(12,2)").as("v"))
      val landing = memoFixture(s"$dir|cdc-ivm-changes") { lp =>
        o.withColumn("seq", lit(1)).withColumn("op", lit("I"))
          .coalesce(1).write.parquet(lp)
        // ^ ONE bootstrap batch (r17): the second +1/I file bought a
        // redundant micro-batch — the accumulate-across-batches
        // semantics are already under grade via the later batches, so
        // the replay is 3 batches (bootstrap, then each delta phase),
        // not 4; the graded fold truth is file-layout-invariant
        o.where(col("o_orderkey") % 3 === 0)
          .withColumn("v", (col("v") + 100).cast("decimal(12,2)"))
          .withColumn("seq", lit(2)).withColumn("op", lit("U"))
          .coalesce(1).write.mode("append").parquet(lp)
        o.where(col("o_orderkey") % 5 === 0)
          .withColumn("seq", lit(3)).withColumn("op", lit("D"))
          .coalesce(1).write.mode("append").parquet(lp)
      }
      graft.streaming.StreamingOps.streamApplyChangesWithAgg(
        s, landing, landingSchema(s, landing),
        s"$root/trusted", s"$root/state", s"$root/ckpt",
        key = "o_orderkey",
        groupCols = Seq("o_orderstatus"), sumCols = Seq("v"))
      s.read.parquet(s"$root/state")
        .withColumn("sum_v", col("sum_v").cast("double"))
    },
      // the aggregate of the whole-log fold truth — the piggybacked
      // state must land exactly what a recompute over the applied
      // table would
      """WITH changes AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |              ELSE o_totalprice END AS DECIMAL(12,2)) AS v,
        |    1 AS seq, 'I' AS op FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |              ELSE o_totalprice END AS DECIMAL(12,2)) + 100, 2, 'U'
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |              ELSE o_totalprice END AS DECIMAL(12,2)), 3, 'D'
        |  FROM orders WHERE o_orderkey % 5 = 0
        |), latest AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
        |  FROM changes
        |), applied AS (
        |  SELECT o_orderstatus, CAST(v AS DECIMAL(12,2)) AS v
        |  FROM latest WHERE rn = 1 AND op <> 'D'
        |)
        |SELECT o_orderstatus, count(*) AS n, count(v) AS nn_v,
        |  CAST(CAST(sum(CAST(v AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_v
        |FROM applied GROUP BY o_orderstatus""".stripMargin),

    // The JOIN-VIEW sibling of flow_stream_cdc_ivm: the I/U/D stream
    // maintains a revenue-by-SEGMENT state — an aggregate over
    // fact ⟕ customers — alongside the TRUSTED apply. The dimension
    // is frozen, so each micro-batch's view delta is just the fact's
    // signed logDelta LEFT-joined to the dim (Δ(A⟕B) = ΔA⟕B when
    // ΔB = 0): matched delta rows pair, unmatched ones (custkey % 7
    // = 0 — absent from the dim) null-extend into the NULL segment
    // group, each with its own ±sign. Neither the fact table, the
    // dim, nor the view is ever rescanned; state commits first
    // (transactional), table second (idempotent).
    QuerySpec.scratch("flow_stream_join_ivm", (s, dir, root) => {
      val o = tbl(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey").as("custkey"),
        when(col("o_orderkey") % 11 === 0, lit(null))
          .otherwise(col("o_totalprice")).cast("decimal(12,2)").as("v"))
      val dimPath = s"$root/dim"
      tbl(s, dir, "customer")
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
        .where(col("custkey") % 7 =!= 0)
        .write.parquet(dimPath)
      val landing = memoFixture(s"$dir|join-ivm-changes") { lp =>
        o.withColumn("seq", lit(1)).withColumn("op", lit("I"))
          .coalesce(1).write.parquet(lp)
        o.where(col("o_orderkey") % 3 === 0)
          .withColumn("v", (col("v") + 100).cast("decimal(12,2)"))
          .withColumn("seq", lit(2)).withColumn("op", lit("U"))
          .coalesce(1).write.mode("append").parquet(lp)
        o.where(col("o_orderkey") % 5 === 0)
          .withColumn("seq", lit(3)).withColumn("op", lit("D"))
          .coalesce(1).write.mode("append").parquet(lp)
      }
      graft.streaming.StreamingOps.streamApplyChangesWithJoinAgg(
        s, landing, landingSchema(s, landing),
        s"$root/trusted", dimPath, s"$root/state", s"$root/ckpt",
        key = "o_orderkey", on = Seq("custkey"),
        groupCols = Seq("c_mktsegment"), sumCols = Seq("v"))
      s.read.parquet(s"$root/state")
        .withColumn("sum_v", col("sum_v").cast("double"))
    },
      // the whole-log fold truth LEFT-joined to the frozen dim and
      // aggregated — the piggybacked join-view state must land exactly
      // this; the NULL segment group is the unmatched-fact population
      """WITH changes AS (
        |  SELECT o_orderkey, o_custkey AS custkey,
        |    CAST(CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |              ELSE o_totalprice END AS DECIMAL(12,2)) AS v,
        |    1 AS seq, 'I' AS op FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey,
        |    CAST(CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |              ELSE o_totalprice END AS DECIMAL(12,2)) + 100, 2, 'U'
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey,
        |    CAST(CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |              ELSE o_totalprice END AS DECIMAL(12,2)), 3, 'D'
        |  FROM orders WHERE o_orderkey % 5 = 0
        |), latest AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
        |  FROM changes
        |), applied AS (
        |  SELECT custkey, CAST(v AS DECIMAL(12,2)) AS v
        |  FROM latest WHERE rn = 1 AND op <> 'D'
        |), dim AS (
        |  SELECT c_custkey AS custkey, c_mktsegment FROM customer
        |  WHERE c_custkey % 7 <> 0
        |)
        |SELECT c_mktsegment, count(*) AS n, count(v) AS nn_v,
        |  CAST(CAST(sum(CAST(v AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_v
        |FROM applied LEFT JOIN dim USING (custkey)
        |GROUP BY c_mktsegment""".stripMargin),

    // The extrema sibling of flow_stream_cdc_ivm: the same I/U/D
    // stream maintains a MIN/MAX state alongside the TRUSTED apply.
    // The recompute path's baseAfter is the apply's own
    // appliedChanges(pre, batch) plan, evaluated lazily during the
    // state write (before the table swap) — append batches skip it,
    // the delete batch that retracts per-status extrema pays one
    // endangered-group pass. State must equal the min/max recompute
    // over the whole-log fold truth.
    QuerySpec.scratch("flow_stream_extrema", (s, dir, root) => {
      val o = tbl(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        when(col("o_orderkey") % 11 === 0, lit(null))
          .otherwise(col("o_totalprice")).cast("decimal(12,2)").as("v"))
      val landing = memoFixture(s"$dir|extrema-changes") { lp =>
        o.withColumn("seq", lit(1)).withColumn("op", lit("I"))
          .coalesce(1).write.parquet(lp)
        // ^ ONE bootstrap batch (r17): the second +1/I file bought a
        // redundant micro-batch — the accumulate-across-batches
        // semantics are already under grade via the later batches, so
        // the replay is 3 batches (bootstrap, then each delta phase),
        // not 4; the graded fold truth is file-layout-invariant
        o.where(col("o_orderkey") % 3 === 0)
          .withColumn("v", (col("v") + 100).cast("decimal(12,2)"))
          .withColumn("seq", lit(2)).withColumn("op", lit("U"))
          .coalesce(1).write.mode("append").parquet(lp)
        o.where(col("o_orderkey") % 5 === 0)
          .withColumn("seq", lit(3)).withColumn("op", lit("D"))
          .coalesce(1).write.mode("append").parquet(lp)
      }
      graft.streaming.StreamingOps.streamApplyChangesWithExtrema(
        s, landing, landingSchema(s, landing),
        s"$root/trusted", s"$root/state", s"$root/ckpt",
        key = "o_orderkey",
        groupCols = Seq("o_orderstatus"), extCols = Seq("v"))
      s.read.parquet(s"$root/state")
        .withColumn("min_v", col("min_v").cast("double"))
        .withColumn("max_v", col("max_v").cast("double"))
    },
      """WITH changes AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |              ELSE o_totalprice END AS DECIMAL(12,2)) AS v,
        |    1 AS seq, 'I' AS op FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |              ELSE o_totalprice END AS DECIMAL(12,2)) + 100, 2, 'U'
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |              ELSE o_totalprice END AS DECIMAL(12,2)), 3, 'D'
        |  FROM orders WHERE o_orderkey % 5 = 0
        |), latest AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
        |  FROM changes
        |), applied AS (
        |  SELECT o_orderstatus, CAST(v AS DECIMAL(12,2)) AS v
        |  FROM latest WHERE rn = 1 AND op <> 'D'
        |)
        |SELECT o_orderstatus, count(*) AS n, count(v) AS nn_v,
        |  CAST(min(v) AS DOUBLE) AS min_v,
        |  CAST(max(v) AS DOUBLE) AS max_v
        |FROM applied GROUP BY o_orderstatus""".stripMargin),

    QuerySpec.scratch("flow_stream_cdc_apply", (s, dir, root) => {
      val o = tbl(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val landing = memoFixture(s"$dir|cdc-apply-changes") { lp =>
        o.withColumn("seq", lit(1)).withColumn("op", lit("I"))
          .coalesce(1).write.parquet(lp)
        // ^ ONE bootstrap batch (r17): the second +1/I file bought a
        // redundant micro-batch — the accumulate-across-batches
        // semantics are already under grade via the later batches, so
        // the replay is 3 batches (bootstrap, then each delta phase),
        // not 4; the graded fold truth is file-layout-invariant
        o.where(col("o_orderkey") % 3 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 100.0)
          .withColumn("seq", lit(2)).withColumn("op", lit("U"))
          .repartition(1).write.mode("append").parquet(lp)
        o.where(col("o_orderkey") % 5 === 0)
          .withColumn("seq", lit(3)).withColumn("op", lit("D"))
          .repartition(1).write.mode("append").parquet(lp)
      }
      graft.streaming.StreamingOps.streamApplyChanges(
        s, landing, landingSchema(s, landing),
        s"$root/trusted", s"$root/ckpt", key = "o_orderkey")
      s.read.parquet(s"$root/trusted")
    },
      // streamed application of the SAME log must land the same table
      cdcApplyOracleSql),

    // Partition-scoped CDC apply: the same I/U/D log folded into a
    // TRUSTED table hive-partitioned by o_orderstatus via
    // applyChangesIntoPartitioned — only partitions the batch
    // touches are read, rewritten, and swapped (MergeSpec proves the
    // untouched-partition file identity and the emptied-partition
    // drop; at 100 TB this is O(batch), not O(table)). Final table
    // must equal the whole-log fold truth.
    QuerySpec.scratch("flow_partitioned_apply", (s, dir, root) => {
      val o = tbl(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val t = s"$root/trusted"
      graft.sinks.MergeUpsert.applyChangesIntoPartitioned(s, t,
        o.withColumn("seq", lit(1)).withColumn("op", lit("I")),
        key = "o_orderkey", partitionCol = "o_orderstatus")
      val batch = o.where(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 100.0)
        .withColumn("seq", lit(2)).withColumn("op", lit("U"))
        .unionByName(o.where(col("o_orderkey") % 5 === 0)
          .withColumn("seq", lit(3)).withColumn("op", lit("D")))
      graft.sinks.MergeUpsert.applyChangesIntoPartitioned(s, t, batch,
        key = "o_orderkey", partitionCol = "o_orderstatus")
      s.read.parquet(t)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    },
      // partition-scoped application of the SAME log, ditto
      cdcApplyOracleSql),

    // Streaming IVM: the ext_ivm_maintain fold as a checkpointed
    // signed-delta stream. Batch 1+2 carry the base snapshot at +1
    // (zero state + snapshot == bootstrap); the churn's retractions
    // and additions then land as SEPARATE batches (valid-prefix
    // tiling — signed deltas commute under it). The maintained state
    // table must equal the same from-scratch recompute oracle.
    // Exactly-once is transactional: AggStateSink commits the applied
    // batch id atomically with each state swap (replaying a delta
    // would double-count; StreamingSpec covers replay + restart).
    QuerySpec.scratch("flow_stream_ivm", (s, dir, root) => {
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
      val shape = Seq(col("__sign"), col("o_orderkey"),
        col("o_orderstatus"), col("v"))
      val landing = memoFixture(s"$dir|ivm-deltas") { lp =>
        base.withColumn("__sign", lit(1)).select(shape: _*)
          .coalesce(1).write.parquet(lp)
        // ^ ONE bootstrap batch (r17): the second +1/I file bought a
        // redundant micro-batch — the accumulate-across-batches
        // semantics are already under grade via the later batches, so
        // the replay is 3 batches (bootstrap, then each delta phase),
        // not 4; the graded fold truth is file-layout-invariant
        val delta = graft.operators.Cdc.signedDelta(
          base, after, Seq("o_orderkey")).localCheckpoint(true)
        delta.where(col("__sign") === -1).select(shape: _*)
          .coalesce(1).write.mode("append").parquet(lp)
        delta.where(col("__sign") === 1).select(shape: _*)
          .coalesce(1).write.mode("append").parquet(lp)
      }
      graft.streaming.StreamingOps.streamMaintainAgg(
        s, landing, landingSchema(s, landing),
        s"$root/state", s"$root/ckpt",
        Seq("o_orderstatus"), Seq("v"))
      s.read.parquet(s"$root/state")
        .withColumn("sum_v", col("sum_v").cast("double"))
    },
      // the streamed, checkpointed maintenance must land the same state
      ivmMaintainOracleSql),

    // Streaming IVM × MV rewrite — the full loop closed online: the
    // aggregate state is maintained by a CHECKPOINTED signed-delta
    // stream (AggStateSink's transactional exactly-once; base snapshot
    // at +1, then the churn's retractions and additions as separate
    // batches — valid-prefix tiling), and the maintained state then
    // serves USER QUERIES through the injected optimizer rule: the
    // rollup aggregate over the churned base path is answered from
    // the stream-built state without ever scanning the base (in-query
    // REQUIRE), and must equal the oracle's from-scratch recompute.
    // This is the production MV shape: writes maintain, reads rewrite,
    // the base is scanned by neither.
    QuerySpec.scratch("flow_stream_mv", (s, dir, root) => {
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
      // shared with ext_mv_rewrite would alias the two registrations
      val basePath = memoFixture(s"$dir|mv-base-vb|flow_stream_mv")(after.write.parquet(_))
      val statePath = s"$root/state"
      val shape = Seq(col("__sign"), col("o_orderkey"),
        col("o_orderstatus"), col("b"), col("v"))
      val landing = memoFixture(s"$dir|mv-deltas") { lp =>
        before.withColumn("__sign", lit(1)).select(shape: _*)
          .coalesce(1).write.parquet(lp)
        // ^ ONE bootstrap batch (r17): the second +1/I file bought a
        // redundant micro-batch — the accumulate-across-batches
        // semantics are already under grade via the later batches, so
        // the replay is 3 batches (bootstrap, then each delta phase),
        // not 4; the graded fold truth is file-layout-invariant
        val delta = graft.operators.Cdc.signedDelta(
          before, after, Seq("o_orderkey")).localCheckpoint(true)
        delta.where(col("__sign") === -1).select(shape: _*)
          .coalesce(1).write.mode("append").parquet(lp)
        delta.where(col("__sign") === 1).select(shape: _*)
          .coalesce(1).write.mode("append").parquet(lp)
      }
      graft.streaming.StreamingOps.streamMaintainAgg(
        s, landing, landingSchema(s, landing),
        statePath, s"$root/ckpt",
        Seq("o_orderstatus", "b"), Seq("v"))
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
      // the STREAM-maintained state must serve the identical rollup
      // through the rewrite — one truth for batch and streaming MV
      mvRewriteOracleSql),

    // Streaming ingest with LIVE index maintenance: the corpus lands
    // as a checkpointed file stream (2 files per micro-batch) and
    // every batch refreshes the inverted index through the same
    // file-set arithmetic — search is index-served the moment a
    // batch lands, maintenance is O(batch), and the final search
    // must equal the full-scan truth (the ext_inverted_search
    // oracle). The index-corpus consistency is replay-proof: refresh
    // derives from the file set on disk.
    QuerySpec.scratch("flow_stream_index", (s, dir, root) => {
      val landing = landingFor(s, dir, "documents", 4,
        cols = Seq("doc_id", "lang", "text"))
      val corpus = s"$root/corpus"
      // single-file batches with compactEvery = 2: the graded run
      // exercises the in-stream size-tiered postings compaction
      graft.streaming.StreamingOps.streamIngestWithInvertedIndex(
        s, landing, landingSchema(s, landing), corpus,
        s"$root/ckpt", maxFilesPerTrigger = 1, compactEvery = 2)
      graft.sinks.InvertedIndex
        .phraseSearch(s, corpus, "text", "doc_id", "key order")
        .select("doc_id", "lang")
    },
      // The index is a pruning layer only — the truth is the word-
      // boundary containment predicate over the whole corpus. The
      // streamed flow shares it: any file→batch split must land the
      // same search result.
      """SELECT doc_id, lang FROM documents
        |WHERE contains(
        |  ' ' || regexp_replace(lower(text), '\s+', ' ', 'g') || ' ',
        |  ' key order ')""".stripMargin),

    // Streaming vector ingest with LIVE ANN-index maintenance (the
    // IVF analogue of flow_stream_index): vectors land as a
    // checkpointed file stream (2 files per micro-batch), the first
    // batch trains the frozen quantizer, every later batch refreshes
    // by file-set arithmetic — probes are index-served per batch and
    // the final exhaustive-probe search must equal the brute-force
    // truth over everything that landed.
    QuerySpec.scratch("flow_stream_ivf", (s, dir, root) => {
      val landing = landingFor(s, dir, "embeddings", 4)
      val corpus = s"$root/vectors"
      // 4 single-file micro-batches with compactEvery = 2, so the
      // graded run EXERCISES the size-tiered compaction cadence
      // (batch 2 repacks the accumulated tier mid-stream) instead of
      // never reaching it — the post-compact index must still equal
      // brute force over everything that landed
      graft.streaming.StreamingOps.streamIngestWithIvfIndex(
        s, landing, landingSchema(s, landing), corpus,
        s"$root/ckpt", nCells = 8, maxFilesPerTrigger = 1,
        compactEvery = 2)
      val q = s.read.parquet(corpus).where(col("vec_id") < 5)
      graft.sinks.IvfIndex
        .topK(s, corpus, q, k = 10, nProbe = 8)
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE q_id != neighbor_id)
        |SELECT q_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 10""".stripMargin),

    // PQ and LSH streaming maintenance (the flow_stream_ivf shape
    // through the shared streaming-maintenance driver): first batch
    // trains/derives the frozen model, later batches refresh by
    // file-set arithmetic; the final exact-config search must equal
    // the brute-force truth over everything that landed.
    QuerySpec.scratch("flow_stream_pq", (s, dir, root) => {
      val landing = landingFor(s, dir, "embeddings", 4)
      val corpus = s"$root/vectors"
      graft.streaming.StreamingOps.streamIngestWithPqIndex(
        s, landing, landingSchema(s, landing), corpus,
        s"$root/ckpt", m = 8, ks = 16, maxFilesPerTrigger = 1,
        compactEvery = 2)
      val q = s.read.parquet(corpus).where(col("vec_id") < 5)
      graft.sinks.PqIndex
        .topK(s, corpus, q, k = 10, candidateK = Int.MaxValue)
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE q_id != neighbor_id)
        |SELECT q_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 10""".stripMargin),

    QuerySpec.scratch("flow_stream_lsh", (s, dir, root) => {
      val landing = landingFor(s, dir, "embeddings", 4)
      val corpus = s"$root/vectors"
      // same in-stream compaction-cadence coverage as flow_stream_ivf
      graft.streaming.StreamingOps.streamIngestWithLshIndex(
        s, landing, landingSchema(s, landing), corpus,
        s"$root/ckpt", planes = 4, maxFilesPerTrigger = 1,
        compactEvery = 2)
      val q = s.read.parquet(corpus).where(col("vec_id") < 5)
      graft.sinks.LshIndex
        .topK(s, corpus, q, k = 10, probeRadius = 4)
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE q_id != neighbor_id)
        |SELECT q_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 10""".stripMargin),

    // CRASH-REPLAY of the streaming index flow, hash-graded: after
    // the stream drains, the last batch's checkpoint COMMIT RECORD
    // is deleted — exactly the on-disk state a crash between the
    // batch's effects and its commit leaves — and the stream is
    // restarted, re-delivering that batch. The idempotent
    // batchId-named corpus append converges to the same file set
    // (a plain mode-append here would duplicate the batch's vectors
    // and wedge the refresh guard), so the exhaustive-probe search
    // must STILL equal the brute-force truth over the corpus, with
    // no duplicated neighbors and no wedged stream. The oracle is
    // the same truth as flow_stream_ivf — replay must be invisible.
    QuerySpec.scratch("flow_stream_ivf_replay", (s, dir, root) => {
      val landing = landingFor(s, dir, "embeddings", 4)
      val corpus = s"$root/vectors"
      val ckpt = s"$root/ckpt"
      val schema = landingSchema(s, landing)
      graft.streaming.StreamingOps.streamIngestWithIvfIndex(
        s, landing, schema, corpus, ckpt, nCells = 8, maxFilesPerTrigger = 2)
      // crash injection: drop the LAST commit record, restart
      val cfs = new org.apache.hadoop.fs.Path(ckpt)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val commits = cfs.listStatus(
          new org.apache.hadoop.fs.Path(ckpt, "commits"))
        .map(_.getPath).filter(_.getName.forall(_.isDigit))
      cfs.delete(commits.maxBy(_.getName.toInt), false)
      graft.streaming.StreamingOps.streamIngestWithIvfIndex(
        s, landing, schema, corpus, ckpt, nCells = 8, maxFilesPerTrigger = 2)
      val q = s.read.parquet(corpus).where(col("vec_id") < 5)
      graft.sinks.IvfIndex
        .topK(s, corpus, q, k = 10, nProbe = 8)
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT q_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE q_id != neighbor_id)
        |SELECT q_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |FROM s QUALIFY rank <= 10""".stripMargin),

    // File-skipping stats index, end to end: land lineitem range-
    // clustered on l_shipdate (tight per-file ranges are what give
    // stats their teeth), bootstrap the per-file min/max index, then
    // APPEND a second wave and refresh INCREMENTALLY (only the new
    // files are scanned — StatsIndexSpec proves it with a poisoned
    // row), and range-read through the index. The in-query require
    // proves real file-level pruning; the row-level predicate
    // re-applies after the read, so the result must equal the plain
    // BETWEEN filter — the oracle. At 100 TB this is the difference
    // between a full scan and reading the 1% of files whose range
    // can match, with index maintenance costing O(new files).
    QuerySpec.scratch("flow_stats_prune", (s, dir, root) => {
      val t = s"$root/lineitem"
      val li = tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
      val split = lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00"))
      li.where(col("l_shipdate") < split)
        .repartitionByRange(8, col("l_shipdate"))
        .write.parquet(t)
      graft.sinks.StatsIndex.collect(s, t, Seq("l_shipdate"))
      li.where(col("l_shipdate") >= split)
        .repartitionByRange(4, col("l_shipdate"))
        .write.mode("append").parquet(t)
      graft.sinks.StatsIndex.refresh(s, t, Seq("l_shipdate"))
      val lo = lit(java.sql.Timestamp.valueOf("1995-06-01 00:00:00"))
      val hi = lit(java.sql.Timestamp.valueOf("1996-06-30 00:00:00"))
      val candidates = graft.sinks.StatsIndex.candidateFiles(
        s, t, "l_shipdate", lo, hi)
      val total = s.read.parquet(t).inputFiles.length
      require(candidates.nonEmpty && candidates.size < total,
        s"stats index must prune: ${candidates.size} of $total files")
      graft.sinks.StatsIndex
        .prunedRead(s, t, "l_shipdate", lo, hi)
    },
      """SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1995-06-01 00:00:00'
        |  AND TIMESTAMP '1996-06-30 00:00:00'""".stripMargin),

    // Streaming MERGE into TRUSTED (foreachBatch): d8's update set
    // replayed as a checkpointed multi-micro-batch stream, each batch
    // K2-upserted into the trusted table — the final table must equal
    // the batch merge truth (d8's oracle). Update sks are unique, so
    // any file→batch split lands the same final state, and a
    // re-delivered batch re-upserts identical rows (idempotent) —
    // the exactly-once story a streaming CDC apply needs.
    QuerySpec.scratch("flow_stream_merge", (s, dir, root) => {
      val base = dedupBaseM(s, dir)
      val trustedPath = s"$root/trusted"
      graft.sinks.MergeUpsert.mergeInto(
        s, trustedPath, base.where(col("l_orderkey") % 2 === 0))
      val landing = memoFixture(s"$dir|stream-merge-landing") { lp =>
        base.where(col("l_orderkey") % 3 === 0)
          .withColumn("l_quantity", col("l_quantity") + 1000)
          .repartition(3).write.parquet(lp)
      }
      val q = s.readStream.schema(landingSchema(s, landing))
        .option("maxFilesPerTrigger", 1).parquet(landing)
        .writeStream
        .foreachBatch((batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          graft.sinks.MergeUpsert.mergeInto(s, trustedPath, batch))
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(trustedPath)
    },
      // the streaming foreachBatch merge must land the batch K2 truth
      mergeOracleSql),

    // Corpus tier GRADUATION on the compaction cadence: the documents
    // corpus lands dict-compressed in micro-batch-sized files (the
    // regime the dictionary wins), a first compactCorpusTier pass
    // under the graduation boundary merges files while KEEPING the
    // frames + `_zdict` (DictTier), and a second pass over the
    // boundary flips the zone to a compacted page-codec table
    // (PageTier): plaintext column, no sidecar, plain parquet any
    // reader understands. In-flow REQUIREs pin each tier's physical
    // shape and that the flip never inflates the zone; the oracle
    // grades read-back identity across the whole ingest→compact→
    // graduate life cycle. 100 TB posture: each pass is one bounded
    // rewrite of ONE zone (no shuffle in the dict-tier merge, one
    // row-sized exchange at graduation), and the verdict is computed
    // from file listings, never a scan.
    QuerySpec.scratch("flow_zstd_graduate", (s, dir, root) => {
      import graft.sinks.Compaction
      import graft.sources.ZstdCorpus
      val zone = s"$root/docs"
      val docs = tbl(s, dir, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
      ZstdCorpus.writeCompressed(s, docs.repartition(8), zone)
      val fs = new org.apache.hadoop.fs.Path(zone)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      def files() = fs.listStatus(new org.apache.hadoop.fs.Path(zone))
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
      def zoneBytes() = files().map(_.getLen).sum
      def hasDict = fs.exists(ZstdCorpus.dictPath(zone))
      require(files().length >= 8 && hasDict,
        "fixture must start as a small-file dict tier")
      // pass 1: under the boundary — merge, stay dict
      val t1 = Compaction.compactCorpusTier(s, zone,
        graduateAtBytes = Long.MaxValue)
      require(t1 == Compaction.DictTier && hasDict && files().length < 8,
        s"dict-tier pass must merge files and keep the sidecar " +
          s"(tier $t1, ${files().length} files, dict=$hasDict)")
      require(s.read.parquet(zone).columns.contains("text_z"),
        "dict tier must still store frames")
      val dictBytes = zoneBytes()
      // pass 2: over the boundary — graduate to the page codec
      val t2 = Compaction.compactCorpusTier(s, zone, graduateAtBytes = 1L)
      require(t2 == Compaction.PageTier && !hasDict,
        s"graduation must drop the `_zdict` dependency (tier $t2)")
      val grad = s.read.parquet(zone)
      require(grad.columns.contains("text") && !grad.columns.contains("text_z"),
        "graduated tier must be plaintext under the page codec")
      require(zoneBytes() <= (dictBytes * 1.15).toLong,
        s"graduation must not inflate the zone: $dictBytes B dict-tier " +
          s"-> ${zoneBytes()} B page-tier")
      // pass 3: idempotent on the cadence — already graduated
      require(Compaction.compactCorpusTier(s, zone) == Compaction.PageTier,
        "a graduated zone must no-op as PageTier")
      grad
        .select("doc_id", "text", "lang", "source", "n_chars")
    },
      // identity across the whole dict-ingest → compact → graduate life
      // cycle: whatever tier the zone is in, reads must equal the corpus
      "SELECT doc_id, text, lang, source, n_chars FROM documents"),

    // Quarantine persistence flow — the CorpusIO read contract's
    // "callers split and persist the quarantine next to the table",
    // actually done: the documents corpus exported to JSONL, seven
    // deterministic garbage lines planted among the shards, then
    // quarantineSplit lands parsed rows at WORK and the malformed
    // full rows at the __quarantine sibling. The flow REQUIREs the
    // persisted quarantine to hold exactly the planted raw lines (a
    // lost or mangled line fails the query, not just a count); the
    // oracle grades the clean side against the parquet truth — one
    // bad line in a corpus must cost an audit row, never a row of
    // good data.
    // Bucketed co-located join: orders and customer written as
    // bucketed zones on their join key (8 buckets, one shuffle each,
    // paid at write), then joined AND aggregated on that key with
    // broadcast disabled — the whole read-side plan must contain
    // ZERO exchanges (bucket-aligned SMJ + bucket-local agg),
    // pinned by an in-query require. The repeated-join shape every
    // promote cycle runs, with the shuffle moved to storage.
    QuerySpec.scratch("flow_bucketed_join", (s, dir, root) => {
      val o = tbl(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
      val c = tbl(s, dir, "customer").select("c_custkey", "c_mktsegment")
      graft.sinks.Bucketed.write(o, "graft_bkt_orders",
        s"$root/orders", Seq("o_custkey"), buckets = 8)
      graft.sinks.Bucketed.write(c, "graft_bkt_customer",
        s"$root/customer", Seq("c_custkey"), buckets = 8)
      val saved = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val out =
        try {
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          val j = graft.sinks.Bucketed.table(s, "graft_bkt_orders")
            .join(graft.sinks.Bucketed.table(s, "graft_bkt_customer"),
              col("o_custkey") === col("c_custkey"))
            .groupBy("o_custkey")
            .agg(count(lit(1)).as("n_orders"),
              sum(col("o_totalprice")).as("revenue"),
              max(col("c_mktsegment")).as("segment"))
          val plan = j.queryExecution.executedPlan.toString
          require(!plan.contains("Exchange"),
            s"bucketed join+agg must plan exchange-free:\n$plan")
          j.localCheckpoint(true)
        } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      graft.sinks.Bucketed.drop(s, "graft_bkt_orders")
      graft.sinks.Bucketed.drop(s, "graft_bkt_customer")
      out
    },
      // independent truth for the zero-exchange bucketed join+agg:
      // the same join computed the plain way
      """SELECT o_custkey, count(*) AS n_orders,
        |  sum(o_totalprice) AS revenue,
        |  max(c_mktsegment) AS segment
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY o_custkey""".stripMargin),

    QuerySpec.scratch("flow_quarantine", (s, dir, root) => {
      val docs = tbl(s, dir, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
      graft.sources.CorpusIO.writeJsonl(docs.repartition(4), s"$root/raw")
      val planted = (1 to 7).map(i => s"<<not json line $i>>")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/raw/planted-garbage.txt"),
        planted.mkString("", "\n", "\n").getBytes("UTF-8"))
      val (_, nBad) = graft.sources.CorpusIO.quarantineSplit(
        s, s"$root/raw", docs.schema,
        cleanPath = s"$root/work", quarantinePath = s"$root/work__quarantine")
      require(nBad == planted.size, s"quarantined $nBad of ${planted.size} planted lines")
      val kept = s.read.parquet(s"$root/work__quarantine")
        .select(col(graft.sources.CorpusIO.CorruptColumn))
        .collect().map(_.getString(0)).toSet // bounded: |planted| rows
      require(kept == planted.toSet,
        s"quarantine did not preserve the planted raw lines: $kept")
      s.read.parquet(s"$root/work")
    },
      // the clean side of the quarantine split must be exactly the
      // corpus truth — the planted garbage costs audit rows, never data
      // (the quarantine side is gated by in-flow REQUIREs on the raw
      // planted lines)
      "SELECT doc_id, text, lang, source, n_chars FROM documents"),

    // Z-order clustered compaction: a many-file WORK zone rewritten
    // along the Morton curve over (l_shipdate, l_orderkey) — the
    // layout that makes parquet footer min/max stats selective on
    // both columns at once, so range predicates on either skip whole
    // files. Layout moves bytes between files, never rows between
    // results: the re-read must hash-match the table identically
    // (full SELECT * oracle). File-count + span narrowing are pinned
    // in ZOrderSpec; this entry grades losslessness.
    QuerySpec.scratch("flow_compact_zorder", (s, dir, root) => {
      val li = tbl(s, dir, "lineitem")
      li.repartition(8).write.parquet(s"$root/work")
      val n = graft.sinks.Compaction.compactWork(s, s"$root/work",
        targetBytes = 1L * 1024 * 1024,
        zorderBy = Seq("l_shipdate", "l_orderkey"))
      require(n >= 1, "z-order compaction produced no files")
      s.read.parquet(s"$root/work")
    },
      "SELECT * FROM lineitem"),

    // TTL retention as metadata: the month-partitioned fact expires
    // everything before 1997-01 by DELETING partition directories —
    // no data file opened, decoded, or rewritten; O(partitions
    // dropped) at any table size, the reason time-organized lakes
    // partition by date. The oracle filters the unpartitioned fixture
    // — directory drops must equal row-level predicate semantics.
    QuerySpec.scratch("flow_retention", (s, dir, root) => {
      tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
        .write.partitionBy("ym").parquet(s"$root/fact")
      val dropped = graft.sinks.Retention.dropPartitionsBelow(
        s, s"$root/fact", "ym", "1997-01")
      require(dropped.nonEmpty && dropped.forall(_ < "1997-01"),
        s"retention dropped the wrong partitions: ${dropped.mkString(", ")}")
      s.read.parquet(s"$root/fact")
        .groupBy("ym")
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_key"))
    },
      // row-level filter semantics the directory drops must reproduce
      """SELECT strftime(o_orderdate, '%Y-%m') AS ym, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders
        |WHERE strftime(o_orderdate, '%Y-%m') >= '1997-01'
        |GROUP BY 1""".stripMargin),

    // Streaming rules-based quarantine: the orders fixture lands as a
    // checkpointed file stream, every micro-batch is evaluated
    // against the declarative rules and routed clean-vs-quarantine
    // (idempotent batch_id=<n> overwrite dirs — replay-safe). The
    // CLEAN side must equal the batch rule filter; the quarantine
    // side is spec-graded (labels, restart, idempotence)
    QuerySpec.scratch("flow_stream_quarantine", (s, dir, root) => {
      val landing = landingFor(s, dir, "orders", 4)
      val schema = landingSchema(s, landing)
      graft.streaming.StreamingOps.streamValidateRoute(
        s, landing, schema, s"$root/clean", s"$root/bad", s"$root/ckpt",
        Seq(
          Expectations.ExpectNotNull("o_custkey"),
          Expectations.ExpectRange("o_totalprice", lit(0.0), lit(150000.0)),
          Expectations.ExpectInSet("o_orderstatus", Seq("O", "F", "P"))),
        maxFilesPerTrigger = 2)
      graft.streaming.StreamingOps
        .readRouted(s, s"$root/clean", schema)
    },
      """SELECT * FROM orders
        |WHERE o_custkey IS NOT NULL
        |  AND NOT (o_totalprice IS NOT NULL
        |    AND (o_totalprice < 0.0 OR o_totalprice > 150000.0))
        |  AND NOT (o_orderstatus IS NOT NULL
        |    AND o_orderstatus NOT IN ('O', 'F', 'P'))""".stripMargin),

    // Targeted key deletion (right-to-be-forgotten) with minimal file
    // rewrite: per-file blooms locate candidate files driver-side (a
    // miss never opens the file), a candidate-sliver semi-join drops
    // bloom FPs, only files with real hits rewrite — journaled
    // crash-recoverable swap, untouched files carry byte-for-byte.
    // Graded against the plain anti-join truth
    QuerySpec.scratch("flow_purge", (s, dir, root) => {
      val table = s"$root/docs"
      tbl(s, dir, "documents").repartition(8).write.parquet(table)
      graft.sinks.BloomIndex.collect(s, table, "doc_id",
        expectedItems = 1000000)
      val doomed = tbl(s, dir, "documents")
        .where(col("doc_id") % 97 === 0).select(col("doc_id").as("id"))
      graft.sinks.Purge.purge(s, table, doomed, "id", "doc_id")
      s.read.parquet(table)
    },
      "SELECT * FROM documents WHERE doc_id % 97 <> 0"),
  )
}
