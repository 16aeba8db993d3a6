package graft
package queries

import graft.core.Clock
import graft.ext._
import graft.operators._
import graft.planner.{Boundaries, ChunkWidth, Intervals}
import graft.sinks.MergeUpsert
import java.sql.Timestamp
import java.time.temporal.ChronoUnit
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Fixtures._

/** The SURVEY.md §2.9 declared queries D1-D9 (`d*`): ranged extract,
  * boundary probes, surrogate keys, dedup, date-quality repair, the
  * promote chain, the K2 merge and chunk tiling. Also home of the
  * batch truths (promote, merge, dedup base) that the lake flows
  * re-grade.
  */
object DeclaredQueries {

  private[queries] def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private val LineitemCols = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate")

  private def orderByList(cols: Seq[String]): String =
    cols.map(c => s"$c NULLS FIRST").mkString(", ")

  /** Dedup-by-sk oracle SQL fragment (deterministic T4, SURVEY.md §2.4):
    * keep the min row per sk by all non-sk columns in schema order. */
  private def dedupSql(inner: String, cols: Seq[String]): String =
    s"""SELECT * EXCLUDE (rn) FROM (
       |  SELECT *, row_number() OVER (PARTITION BY sk ORDER BY ${orderByList(cols)}) AS rn
       |  FROM ($inner)
       |) WHERE rn = 1""".stripMargin

  private[queries] val dedupBaseSql: String = dedupSql(
    "SELECT *, md5(CAST(l_orderkey AS VARCHAR)) AS sk FROM lineitem",
    LineitemCols)

  /** Shared by d7_promote / flow_stream_ingest: the promoted lineitem
    * fixture is the same truth whether staged by the batch resync or
    * the streaming K1 write — the stream changes HOW rows reach WORK,
    * never WHAT the promote computes. */
  private[queries] val promoteOracleSql: String = dedupSql(
    """SELECT *, TIMESTAMP '2024-01-01 00:00:00' AS timestamp_kafka FROM (
      |  SELECT *, md5(concat_ws('-', CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR))) AS sk
      |  FROM lineitem)""".stripMargin,
    LineitemCols :+ "timestamp_kafka")

  /** Shared by d8_merge / flow_stream_merge: the K2 upsert lands the
    * same truth whether the update set arrives as one batch or as a
    * checkpointed stream of micro-batches. */
  private[queries] val mergeOracleSql: String =
    s"""WITH base AS ($dedupBaseSql),
       |t AS (SELECT * FROM base WHERE l_orderkey % 2 = 0),
       |u AS (SELECT * REPLACE (l_quantity + 1000 AS l_quantity) FROM base WHERE l_orderkey % 3 = 0)
       |SELECT * FROM t WHERE NOT EXISTS (SELECT 1 FROM u WHERE u.sk = t.sk)
       |UNION ALL SELECT * FROM u""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // D1 — S1/S7 ranged extract, half-open [start, end) (P6 semantics)
    QuerySpec("d1_ranged_extract", (s, dir) =>
      tbl(s, dir, "orders").where(
        col("o_orderdate") >= lit(ts("1995-01-01 00:00:00")) &&
          col("o_orderdate") < lit(ts("1995-04-01 00:00:00"))),
      """SELECT * FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1995-04-01 00:00:00'""".stripMargin),

    // D2 — S2/S5 min boundary probe
    QuerySpec("d2_min_boundary", (s, dir) =>
      tbl(s, dir, "orders").agg(min(col("o_orderdate")).as("min_pc")),
      "SELECT min(o_orderdate) AS min_pc FROM orders"),

    // D3 — S3/S6 max boundary + the reference's +300000 safety margin
    QuerySpec("d3_max_boundary_int", (s, dir) =>
      tbl(s, dir, "orders").agg(
        (max(col("o_orderkey")) + lit(Boundaries.SecurityMargin)).as("end_boundary")),
      "SELECT max(o_orderkey) + 300000 AS end_boundary FROM orders"),

    // D4 — T1 surrogate key, hyphen branch (concat_ws skips NULLs)
    QuerySpec("d4_sk_hyphen", (s, dir) =>
      SurrogateKey.addSk(tbl(s, dir, "lineitem"),
        Seq("l_orderkey", "l_linenumber"), hyphen = true),
      """SELECT *, md5(concat_ws('-', CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR))) AS sk
        |FROM lineitem""".stripMargin),

    // D4b — T1 plain-concat branch (NULL-propagating semantics)
    QuerySpec("d4b_sk_plain_null", (s, dir) =>
      SurrogateKey.addSk(
        tbl(s, dir, "events").select("event_id", "user_id", "event_type"),
        Seq("user_id", "event_type")),
      """SELECT event_id, user_id, event_type,
        |  CASE WHEN user_id IS NULL OR event_type IS NULL THEN NULL
        |       ELSE md5(concat(CAST(user_id AS VARCHAR), event_type)) END AS sk
        |FROM events""".stripMargin),

    // D5 — T4 deterministic dedup of sk-keyed lineitem
    QuerySpec("d5_dedup_deterministic", (s, dir) => dedupBase(s, dir),
      dedupBaseSql),

    // D6 — T3 date-quality repair over every temporal column
    QuerySpec("d6_quality_repair", (s, dir) =>
      DateQuality.repair(tbl(s, dir, "events").select(
        col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))),
      """SELECT event_id,
        |  CASE WHEN year(ts) >= 10 THEN CAST(ts AS TIMESTAMP) END AS ts,
        |  user_id, event_type, value, props
        |FROM events""".stripMargin),

    // D7 — T5 full promote chain (T1 hyphen → T2 fixed clock → T3 → T4)
    QuerySpec("d7_promote", (s, dir) =>
      Promote.transform(tbl(s, dir, "lineitem"),
        Seq("l_orderkey", "l_linenumber"), hyphen = true,
        clock = Clock.ForOracle, deterministic = true),
      promoteOracleSql),

    // D8 — K2 merge-upsert semantics: matched rows fully replaced,
    // unmatched trusted rows survive, new rows insert.
    QuerySpec("d8_merge", (s, dir) => {
      val base = dedupBaseM(s, dir)
      val trusted = base.where(col("l_orderkey") % 2 === 0)
      val updates = base.where(col("l_orderkey") % 3 === 0)
        .withColumn("l_quantity", col("l_quantity") + 1000)
      MergeUpsert.merged(trusted, updates)
    },
      mergeOracleSql),

    // D9 — P1/P3/P6 chunk-tiling invariance: the union of per-interval
    // half-open extracts over the planner's chunk plan equals one full
    // scan. Boundary resolution (P4) and width selection (P1) run
    // driver-side exactly as in the ingest apps.
    QuerySpec("d9_chunk_invariance", (s, dir) => {
      val orders = tbl(s, dir, "orders")
      val row = orders
        .agg(min(col("o_orderdate")).as("mn"), max(col("o_orderdate")).as("mx"),
          count(lit(1)).as("n"))
        .head()
      import graft.core.Coerce.toLocalDate
      val (mn, mx, n) = (toLocalDate(row.get(0)), toLocalDate(row.get(1)), row.getLong(2))
      val span = ChronoUnit.DAYS.between(mn, mx)
      val width = ChunkWidth.dateChunkDays(n, span)
      val chunks = Intervals.dates(mn, mx, width).map(Intervals.halfOpenDates)
      // The union of per-interval half-open extracts over a TILING
      // plan is, row-for-row, the single scan joined against the
      // interval list (each row falls in exactly one chunk). Because
      // P3 chunks tile at a FIXED width from mn, each row's chunk id
      // is arithmetic — floor(datediff(row, mn) / width) — so the
      // interval lookup is an EQUI-join (BroadcastHashJoin), not the
      // O(rows × chunks) range-condition BNLJ: a 10-year daily-grain
      // plan (~1,800 chunks) stays one hash probe per row. The
      // residual half-open range filter re-checks the tiling: if the
      // planner's intervals ever failed to tile, rows would drop here
      // and the full-scan oracle would catch it.
      import s.implicits._
      val ivs = broadcast(chunks.zipWithIndex.map { case ((a, b), i) =>
        (i.toLong, ts(s"$a 00:00:00"), ts(s"$b 00:00:00"))
      }.toDF("__cid", "__start", "__end"))
      orders
        .withColumn("__cid",
          floor(datediff(col("o_orderdate"), lit(java.sql.Date.valueOf(mn))) / width)
            .cast("long"))
        .join(ivs, Seq("__cid"))
        .where(col("o_orderdate") >= col("__start") && col("o_orderdate") < col("__end"))
        .select(orders.columns.map(col).toSeq: _*)
    },
      "SELECT * FROM orders"),
  )
}
