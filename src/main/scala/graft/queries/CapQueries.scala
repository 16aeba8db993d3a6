package graft
package queries

import graft.ext._
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Fixtures._
import DeclaredQueries.ts

/** Analytic capability queries (`cap_*`): windows, frames, set
  * operations, funnels and rollups over the fixture tables.
  */
object CapQueries {

  /** Shared by cap_rolling / cap_rolling_epochs — the plain and
    * epoch-split frame windows must produce the same truth. */
  private val rollingOracleSql: String =
    """SELECT event_id, user_id, ts,
      |  count(*) OVER w AS n_window,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_window
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // ── general analytics capability demos ──────────────────────────
    // (the reference never joins/groups/sorts — SURVEY.md §2.8 — but
    // the engine naturally supports the classic shapes; sums use
    // DECIMAL so aggregation order can't break cross-engine equality)

    // grouped event-time bucketing (batch analog of the streaming
    // windowed aggregation)
    QuerySpec("cap_events_hourly", (s, dir) =>
      tbl(s, dir, "events")
        // date_trunc always yields LTZ even over NTZ input — cast back
        .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("win"),
          col("event_type"))
        // DECIMAL accumulation keeps the sum order-insensitive, but the
        // RESULT must leave as DOUBLE: DuckDB's DECIMAL(38,6) is
        // hugeint-backed and surfaces as float64 in arrow-level value
        // hashing while Spark's stays decimal128 — bit-identical values,
        // different hashed representation (round-2 lesson). decimal →
        // double of equal decimals is bit-identical on both engines.
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("total")),
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS win, event_type,
        |  count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2""".stripMargin),

    // top-k with a total order (sort + limit)
    QuerySpec("cap_top_orders", (s, dir) =>
      tbl(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice")),
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin),

    // broadcast dimension join + grouped aggregation
    QuerySpec("cap_segment_revenue", (s, dir) => {
      val cust = broadcast(tbl(s, dir, "customer"))
      tbl(s, dir, "orders")
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        // decimal-accumulate, double-emit — same rationale as
        // cap_events_hourly's `total`
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("revenue"))
    },
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin),

    // Sliding event-time windows (2h length, 1h slide): every event
    // lands in exactly two windows; Spark's window() generator vs an
    // explicit two-window UNNEST rebuild in the oracle
    QuerySpec("cap_sliding", (s, dir) =>
      tbl(s, dir, "events")
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("win"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("total"))
        .select(col("win.start").as("win_start"), col("event_type"),
          col("n"), col("total")),
      // every event belongs to the hour-aligned window starting at its
      // floor-hour and the one an hour earlier
      """SELECT win_start, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM (
        |  SELECT value, event_type,
        |    date_trunc('hour', CAST(ts AS TIMESTAMP)) - h * INTERVAL 1 HOUR AS win_start
        |  FROM events, UNNEST([0, 1]) AS t(h)
        |)
        |GROUP BY win_start, event_type""".stripMargin),

    // Frame-bounded window aggregation (rolling 4-event stats per
    // user): the ROWS BETWEEN surface, decimal-accumulate for the
    // order-sensitive running sum
    QuerySpec("cap_rolling", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(-3, org.apache.spark.sql.expressions.Window.currentRow)
      tbl(s, dir, "events").select(
        col("event_id"), col("user_id"), col("ts"),
        count(lit(1)).over(w).as("n_window"),
        sum(col("value").cast("decimal(18,6)")).over(w).cast("double")
          .as("sum_window"))
    },
      rollingOracleSql),

    // Same truth through the skew-robust epoch-split rolling window
    // (same frame oracle): hot keys parallelize across (key, epoch)
    // with a last-W-rows context carry for cross-boundary frames
    QuerySpec("cap_rolling_epochs", (s, dir) =>
      Temporal.rollingEpochs(
        tbl(s, dir, "events").select("event_id", "user_id", "ts", "value"),
        keyCol = "user_id", tsCol = "ts", tieCol = "event_id",
        lookback = 3, epochSeconds = 86400)(w => Seq(
        count(lit(1)).over(w).as("n_window"),
        sum(col("value").cast("decimal(18,6)")).over(w).cast("double")
          .as("sum_window")))
        .select("event_id", "user_id", "ts", "n_window", "sum_window"),
      // the epoch-split engine formulation must land on the same truth
      rollingOracleSql),

    // Pivot (dynamic-to-wide): per-user counts per event type. The
    // pivot values are pinned so the output schema is static — the
    // posture a 100 TB pipeline needs anyway (a discovery pass over
    // the key space is its own scan)
    QuerySpec("cap_pivot", (s, dir) =>
      tbl(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .select(col("user_id") +:
          Seq("click", "error", "purchase", "signup", "view")
            .map(c => coalesce(col(c), lit(0L)).as(c)): _*),
      """SELECT user_id,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'error') AS error,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'view') AS "view"
        |FROM events GROUP BY user_id""".stripMargin),

    // Rollup (hierarchical subtotals): per (source, lang), per
    // source, grand total — one pass, Expand feeds a single
    // partial-aggregated shuffle
    QuerySpec("cap_rollup", (s, dir) =>
      tbl(s, dir, "documents")
        .rollup("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars")),
      // sum cast to BIGINT: DuckDB sums BIGINT into HUGEINT, which the
      // pandas fetch path degrades (Spark's stays long)
      """SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY ROLLUP(source, lang)""".stripMargin),

    // Cube (all grouping-set combinations): adds the per-lang slice
    // rollup lacks — same Expand + one partial-aggregated shuffle
    // plan shape, one more replica in the Expand
    QuerySpec("cap_cube", (s, dir) =>
      tbl(s, dir, "documents")
        .cube("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars")),
      """SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY CUBE(source, lang)""".stripMargin),

    // Explicit GROUPING SETS (the generalization rollup/cube
    // specialize) — a non-hierarchical set list the DataFrame API
    // doesn't expose, so it goes through the SQL surface like a user
    // would; same Expand plan family
    QuerySpec("cap_grouping_sets", (s, dir) => {
      tbl(s, dir, "documents").createOrReplaceTempView("gs_documents")
      s.sql("""SELECT source, lang, count(1) AS n_docs,
              |  sum(n_chars) AS total_chars
              |FROM gs_documents
              |GROUP BY GROUPING SETS ((source), (lang))""".stripMargin)
    },
      """SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY GROUPING SETS ((source), (lang))""".stripMargin),

    // Set operations (INTERSECT / EXCEPT — SQL set semantics, i.e.
    // distinct): the three-way partition of two key sets (customers
    // active in both 1995 halves / only H1 / only H2). Plans as
    // aggregate + join on the key — the shuffle a distinct set op
    // fundamentally is; tagged rows make one auditable result table
    QuerySpec("cap_setops", (s, dir) => {
      val o = tbl(s, dir, "orders")
      val h1 = o.where(col("o_orderdate") >= lit(ts("1995-01-01 00:00:00")) &&
        col("o_orderdate") < lit(ts("1995-07-01 00:00:00"))).select("o_custkey")
      val h2 = o.where(col("o_orderdate") >= lit(ts("1995-07-01 00:00:00")) &&
        col("o_orderdate") < lit(ts("1996-01-01 00:00:00"))).select("o_custkey")
      h1.intersect(h2).withColumn("setop", lit("both"))
        .unionByName(h1.except(h2).withColumn("setop", lit("only_h1")))
        .unionByName(h2.except(h1).withColumn("setop", lit("only_h2")))
    },
      """WITH h1 AS (
        |  SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |    AND o_orderdate <  TIMESTAMP '1995-07-01 00:00:00'),
        |h2 AS (
        |  SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-07-01 00:00:00'
        |    AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00')
        |SELECT o_custkey, 'both' AS setop FROM (SELECT * FROM h1 INTERSECT SELECT * FROM h2)
        |UNION ALL
        |SELECT o_custkey, 'only_h1' FROM (SELECT * FROM h1 EXCEPT SELECT * FROM h2)
        |UNION ALL
        |SELECT o_custkey, 'only_h2' FROM (SELECT * FROM h2 EXCEPT SELECT * FROM h1)""".stripMargin),

    // The whole join family against one dimension, graded as tagged
    // counts: inner/left/full row volumes, right-join dangling side,
    // semi/anti key filtering, and a (distinct × distinct) cross —
    // every physical join strategy the engine plans, one result row
    // each
    QuerySpec("cap_join_family", (s, dir) => {
      val o = tbl(s, dir, "orders")
      val c = tbl(s, dir, "customer")
      val cond = o("o_custkey") === c("c_custkey")
      def n(tag: String, df: DataFrame) =
        df.agg(count(lit(1)).cast("long").as("n")).select(lit(tag).as("jt"), col("n"))
      n("inner", o.join(c, cond, "inner"))
        .unionByName(n("left", o.join(c, cond, "left")))
        .unionByName(n("right_dangling",
          o.join(c, cond, "right").where(o("o_orderkey").isNull)))
        .unionByName(n("full", o.join(c, cond, "full")))
        .unionByName(n("semi", o.join(c, cond, "left_semi")))
        .unionByName(n("anti", o.join(c, cond, "left_anti")))
        .unionByName(n("cross",
          o.select("o_orderstatus").distinct()
            .crossJoin(c.select("c_mktsegment").distinct())))
    },
      """SELECT 'inner' AS jt, count(*) AS n
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |UNION ALL
        |SELECT 'left', count(*)
        |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |UNION ALL
        |SELECT 'right_dangling', count(*)
        |FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE o.o_orderkey IS NULL
        |UNION ALL
        |SELECT 'full', count(*)
        |FROM orders o FULL JOIN customer c ON o.o_custkey = c.c_custkey
        |UNION ALL
        |SELECT 'semi', count(*)
        |FROM orders o WHERE EXISTS
        |  (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |UNION ALL
        |SELECT 'anti', count(*)
        |FROM orders o WHERE NOT EXISTS
        |  (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |UNION ALL
        |SELECT 'cross', count(*)
        |FROM (SELECT DISTINCT o_orderstatus FROM orders)
        |CROSS JOIN (SELECT DISTINCT c_mktsegment FROM customer)""".stripMargin),

    // Lag/lead/first/last/nth navigation family over one ordered
    // partition exchange — values pass through untouched (no float
    // arithmetic crosses the engine boundary)
    QuerySpec("cap_lag_lead", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      tbl(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .withColumn("next_value", lead(col("value"), 1).over(w))
        .withColumn("first_event", first(col("event_id")).over(full))
        .withColumn("last_event", last(col("event_id")).over(full))
        .withColumn("second_event", nth_value(col("event_id"), 2).over(full))
    },
      """SELECT event_id, user_id, ts, value,
        |  lag(value, 1) OVER w AS prev_value,
        |  lead(value, 1) OVER w AS next_value,
        |  first_value(event_id) OVER wf AS first_event,
        |  last_value(event_id) OVER wf AS last_event,
        |  nth_value(event_id, 2) OVER wf AS second_event
        |FROM events
        |WINDOW
        |  w AS (PARTITION BY user_id ORDER BY ts, event_id),
        |  wf AS (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin),

    // Parquet AGGREGATE pushdown (DSv2): un-grouped MIN/MAX/COUNT
    // answered from parquet FOOTER STATISTICS — the scan reads
    // row-group metadata, not data pages, so the 100 TB audit query
    // ("how many rows, what key range") costs file listings + footers.
    // The in-query REQUIRE pins PushedAggregation on the scan; confs
    // are set/restored around the EAGER materialization.
    QuerySpec("cap_agg_pushdown", (s, dir) => {
      val savedV1 = s.conf.get("spark.sql.sources.useV1SourceList")
      val savedAgg = s.conf.get("spark.sql.parquet.aggregatePushdown", "false")
      try {
        s.conf.set("spark.sql.sources.useV1SourceList", "")
        s.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        val q = s.read.parquet(s"$dir/lineitem.parquet")
          .agg(min(col("l_orderkey")).as("min_key"),
            max(col("l_orderkey")).as("max_key"),
            count(lit(1)).as("n"))
        require(q.queryExecution.executedPlan.toString.contains("PushedAggregation"),
          "aggregate must push to the parquet footer scan:\n" +
            q.queryExecution.executedPlan.toString)
        q.localCheckpoint(true)
      } finally {
        s.conf.set("spark.sql.sources.useV1SourceList", savedV1)
        s.conf.set("spark.sql.parquet.aggregatePushdown", savedAgg)
      }
    },
      // footer statistics must equal the data-page truth
      """SELECT min(l_orderkey) AS min_key, max(l_orderkey) AS max_key,
        |  count(*) AS n FROM lineitem""".stripMargin),

    // SQL pipe syntax (Spark 4's |> operators): the linear FROM →
    // WHERE → AGGREGATE spelling of the same relational plan — the
    // surface parses into the identical Catalyst Aggregate, so this
    // grades the parser path, not new semantics
    QuerySpec("cap_sql_pipe", (s, dir) => {
      tbl(s, dir, "orders").createOrReplaceTempView("pipe_orders")
      s.sql(
        """FROM pipe_orders
          ||> WHERE o_orderstatus <> 'P'
          ||> AGGREGATE count(*) AS n, sum(o_orderkey) AS sum_key
          |   GROUP BY o_orderstatus""".stripMargin)
    },
      // the pipe chain must equal its classic spelling
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders WHERE o_orderstatus <> 'P'
        |GROUP BY o_orderstatus""".stripMargin),

    // Higher-order array functions (the codegen'd lambda surface —
    // transform / filter / aggregate over per-group collected
    // arrays): one grouped collect, then pure shuffle-free array
    // projections; sort_array pins the nondeterministic collect
    // order before anything reads it. The array results leave the
    // query CSV-serialized (array_join over an int array is
    // lossless): the driver's pandas-based oracle harness cannot
    // sort/hash array cells, so the gradeable shape is the string —
    // the lambdas themselves are unchanged and still exercised.
    QuerySpec("cap_hof_arrays", (s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(col("l_linenumber"))).as("__lns"))
        .select(col("l_orderkey"),
          array_join(col("__lns").cast("array<string>"), ",").as("lns"),
          array_join(transform(col("__lns"), x => x * 2)
            .cast("array<string>"), ",").as("doubled"),
          array_join(filter(col("__lns"), x => x % 2 === 1)
            .cast("array<string>"), ",").as("odds"),
          aggregate(col("__lns"), lit(0), (acc, x) => acc + x).as("ln_sum")),
      // DuckDB's list lambdas mirror the HOF family; ordered list()
      // matches sort_array(collect_list); array_to_string mirrors the
      // engine's array_join serialization (harness-sortable output)
      """SELECT l_orderkey,
        |  array_to_string(list(l_linenumber ORDER BY l_linenumber), ',') AS lns,
        |  array_to_string(list_transform(list(l_linenumber ORDER BY l_linenumber),
        |    x -> x * 2), ',') AS doubled,
        |  coalesce(array_to_string(list_filter(list(l_linenumber ORDER BY l_linenumber),
        |    x -> x % 2 = 1), ','), '') AS odds,
        |  CAST(list_aggregate(list(l_linenumber), 'sum') AS INTEGER) AS ln_sum
        |FROM lineitem GROUP BY l_orderkey""".stripMargin),

    // Funnel analysis (ordered two-step conversion): per user, the
    // FIRST click and whether any purchase landed strictly after it
    // within one hour — the sequence-with-deadline pattern plain
    // joins express as first-step aggregate → LEFT join the second
    // step → windowed existence. One group + one key-equi join; at
    // scale the first-step table is user-sized and broadcasts.
    QuerySpec("cap_funnel", (s, dir) => {
      val e = tbl(s, dir, "events").select(
        col("user_id"), col("ts"), col("event_type"))
      val firstClick = e.where(col("event_type") === "click")
        .groupBy("user_id").agg(min(col("ts")).as("first_click"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"))
      firstClick.join(purchases, Seq("user_id"), "left")
        .groupBy("user_id", "first_click")
        .agg(coalesce(max(
          when(col("p_ts") > col("first_click") &&
            col("p_ts") <= col("first_click") + expr("interval 1 hour"), 1)
            .otherwise(0)), lit(0)).as("converted"))
    },
      // the same first-step aggregate + deadline-windowed existence
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
        |), fc AS (
        |  SELECT user_id, min(ts) AS first_click FROM e
        |  WHERE event_type = 'click' GROUP BY user_id
        |)
        |SELECT fc.user_id, fc.first_click,
        |  CAST(coalesce(max(CASE WHEN p.ts > fc.first_click
        |      AND p.ts <= fc.first_click + INTERVAL 1 HOUR
        |    THEN 1 ELSE 0 END), 0) AS INTEGER) AS converted
        |FROM fc LEFT JOIN (
        |  SELECT user_id, ts FROM e WHERE event_type = 'purchase') p
        |  ON fc.user_id = p.user_id
        |GROUP BY fc.user_id, fc.first_click""".stripMargin),

    // Calendar gap-filling: every (user, hour) slot between each
    // user's first and last event, zero-filled where no event landed
    // — the generator shape a plain GROUP BY cannot produce (missing
    // hours have no input row). Per-user sequence() explode over the
    // group-sized bounds table + one LEFT join; the spine generator
    // is bounded by each user's own span.
    QuerySpec("cap_gapfill", (s, dir) => {
      val e = tbl(s, dir, "events")
        // date_trunc yields LTZ; session is UTC, so the NTZ cast is
        // lossless and matches the oracle's naive timestamps
        .select(col("user_id"),
          date_trunc("hour", col("ts")).cast("timestamp_ntz").as("h"))
      val bounds = e.groupBy("user_id").agg(min("h").as("lo"), max("h").as("hi"))
      val spine = bounds.select(col("user_id"),
        explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("h"))
      val counts = e.groupBy("user_id", "h").agg(count(lit(1)).as("n"))
      spine.join(counts, Seq("user_id", "h"), "left")
        .select(col("user_id"), col("h"), coalesce(col("n"), lit(0L)).as("n"))
    },
      // generate_series replays the per-user hourly spine
      """WITH e AS (
        |  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h
        |  FROM events
        |), b AS (
        |  SELECT user_id, min(h) AS lo, max(h) AS hi FROM e GROUP BY user_id
        |), spine AS (
        |  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
        |  FROM b
        |), c AS (
        |  SELECT user_id, h, count(*) AS n FROM e GROUP BY 1, 2
        |)
        |SELECT s.user_id, s.h, CAST(coalesce(c.n, 0) AS BIGINT) AS n
        |FROM spine s LEFT JOIN c ON s.user_id = c.user_id AND s.h = c.h""".stripMargin),

    // VARIANT (Spark 4's semi-structured type): the same
    // deterministic concat-built JSON, parsed ONCE into a variant
    // value and path-extracted with typed variant_get — the
    // schema-on-read shape for ingest columns whose structure drifts.
    // Shuffle-free projection.
    QuerySpec("cap_variant", (s, dir) => {
      val js = concat(
        lit("{\"k\": {\"id\": "), col("o_orderkey"),
        lit(", \"st\": \""), col("o_orderstatus"), lit("\"}, \"pr\": \""),
        col("o_orderpriority"), lit("\"}"))
      tbl(s, dir, "orders")
        .select(col("o_orderkey"), parse_json(js).as("v"))
        .select(
          col("o_orderkey"),
          variant_get(col("v"), "$.k.st", "string").as("st_v"),
          variant_get(col("v"), "$.k.id", "bigint").as("id_v"),
          variant_get(col("v"), "$.pr", "string").as("pr_v"))
    },
      // identical strings, identical paths — variant extraction must
      // agree with plain JSON extraction
      """WITH j AS (
        |  SELECT o_orderkey,
        |    '{"k": {"id": ' || o_orderkey || ', "st": "' || o_orderstatus ||
        |      '"}, "pr": "' || o_orderpriority || '"}' AS js
        |  FROM orders
        |)
        |SELECT o_orderkey,
        |  json_extract_string(js, '$.k.st') AS st_v,
        |  CAST(json_extract_string(js, '$.k.id') AS BIGINT) AS id_v,
        |  json_extract_string(js, '$.pr') AS pr_v
        |FROM j""".stripMargin),

    // Unpivot / melt (Spark's Dataset.unpivot — the wide→long
    // reshape): four measure columns become (metric, value) rows,
    // values passing through untouched (no arithmetic crosses the
    // engine boundary). Shuffle-free: unpivot is a Generate-style
    // projection, 4× the rows, same partitioning
    QuerySpec("cap_unpivot", (s, dir) =>
      tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_discount", "l_tax")
        .unpivot(
          ids = Array(col("l_orderkey"), col("l_linenumber")),
          values = Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          variableColumnName = "metric",
          valueColumnName = "value"),
      // the portable spelling of UNPIVOT: one UNION ALL branch per
      // measure, metric labels = the source column names
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
        |  l_quantity AS value FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
        |FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        |FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
        |FROM lineitem""".stripMargin),

    // Dynamic partition pruning: the fact lands hive-partitioned on
    // l_returnflag; joining it to a dim FILTERED on the other side
    // plants a DynamicPruningSubquery inside the fact's partition
    // filter, so the scan reads only the partitions the dim survives
    // — the runtime analogue of static partition pruning and the
    // mechanism a 100 TB star join's fact scan stands on (the filter
    // value isn't known until the dim is evaluated, so no static
    // pruning could do this). In-query REQUIRE: the executed plan
    // carries the dynamicpruning subquery on the fact scan.
    QuerySpec.scratch("cap_dpp", (s, dir, root) => {
      tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
        .write.partitionBy("ym").parquet(s"$root/fact")
      val fact = s.read.parquet(s"$root/fact")
      // calendar dim from the FIXTURE scan (not the partitioned
      // copy), with the selective predicate on a NON-key column — a
      // filter on the join key itself would propagate to the fact as
      // a STATIC partition filter via constraint inference and leave
      // nothing for runtime pruning to do; here the fact cannot know
      // which months belong to 1997 until the dim is evaluated, so
      // only the DPP subquery can skip the other 68 month partitions
      val dim = broadcast(tbl(s, dir, "orders")
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("m"),
          year(col("o_orderdate")).as("y"))
        .distinct().where(col("y") === 1997))
      val q = fact.join(dim, fact("ym") === dim("m"))
        .groupBy("ym")
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_key"))
      require(q.queryExecution.executedPlan.toString.contains("dynamicpruning"),
        "expected a dynamic-partition-pruning subquery on the fact scan")
      q
    },
      // same join+agg with the dim CTE; DuckDB sees no partitioning —
      // pruning must be invisible in values
      """WITH dim AS (
        |  SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS m,
        |    year(o_orderdate) AS y
        |  FROM orders
        |)
        |SELECT strftime(o_orderdate, '%Y-%m') AS ym, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders JOIN dim ON strftime(o_orderdate, '%Y-%m') = m
        |WHERE y = 1997
        |GROUP BY 1""".stripMargin),

    // JSON path extraction: documents serialized to JSON strings with
    // deterministic field arithmetic (concat — NOT to_json, whose key
    // order/number formatting is engine-private), then parsed back
    // two ways: untyped path extraction (get_json_object) and a
    // typed from_json through a nested struct schema. Both engines
    // parse the same strings; values cross the boundary as strings
    // and longs. Shuffle-free: parse is a pure projection.
    QuerySpec("cap_json", (s, dir) => {
      val js = concat(
        lit("{\"k\": {\"id\": "), col("o_orderkey"),
        lit(", \"st\": \""), col("o_orderstatus"), lit("\"}, \"pr\": \""),
        col("o_orderpriority"), lit("\"}"))
      tbl(s, dir, "orders")
        .select(col("o_orderkey"), js.as("js"))
        .select(
          col("o_orderkey"),
          get_json_object(col("js"), "$.k.st").as("st_path"),
          get_json_object(col("js"), "$.pr").as("pr_path"),
          from_json(col("js"),
            org.apache.spark.sql.types.StructType.fromDDL(
              "k STRUCT<id: BIGINT, st: STRING>, pr STRING"))
            .getField("k").getField("id").as("id_typed"))
    },
      // identical concat-built strings, identical paths; DuckDB's
      // json_extract_string mirrors get_json_object, the typed read
      // casts the extracted scalar
      """WITH j AS (
        |  SELECT o_orderkey,
        |    '{"k": {"id": ' || o_orderkey || ', "st": "' || o_orderstatus ||
        |      '"}, "pr": "' || o_orderpriority || '"}' AS js
        |  FROM orders
        |)
        |SELECT o_orderkey,
        |  json_extract_string(js, '$.k.st') AS st_path,
        |  json_extract_string(js, '$.pr') AS pr_path,
        |  CAST(json_extract_string(js, '$.k.id') AS BIGINT) AS id_typed
        |FROM j""".stripMargin),

    // Recursive CTE (Spark 4 WITH RECURSIVE): the calendar-spine
    // pattern — generate a month spine recursively, LEFT JOIN the
    // fact so empty months land as ZERO rows (a plain GROUP BY can't
    // produce them), broadcastable spine side
    QuerySpec("cap_recursive", (s, dir) => {
      tbl(s, dir, "orders").createOrReplaceTempView("cap_rec_orders")
      s.sql("""
        WITH RECURSIVE months(m) AS (
          SELECT TIMESTAMP_NTZ '1995-01-01 00:00:00' AS m
          UNION ALL
          SELECT m + INTERVAL 1 MONTH FROM months
          WHERE m < TIMESTAMP_NTZ '1997-12-01 00:00:00'
        )
        SELECT m, count(o_orderkey) AS n_orders
        FROM months LEFT JOIN cap_rec_orders
          ON date_trunc('month', o_orderdate) = m
        GROUP BY m""")
    },
      """WITH RECURSIVE months(m) AS (
        |  SELECT TIMESTAMP '1995-01-01 00:00:00' AS m
        |  UNION ALL
        |  SELECT m + INTERVAL 1 MONTH FROM months
        |  WHERE m < TIMESTAMP '1997-12-01 00:00:00'
        |)
        |SELECT m, count(o_orderkey) AS n_orders
        |FROM months LEFT JOIN orders
        |  ON date_trunc('month', o_orderdate) = m
        |GROUP BY m""".stripMargin),

    // SQL subquery family through Catalyst decorrelation, one query:
    // IN (→ left semi), projected EXISTS (→ existence join), and a
    // correlated scalar aggregate (→ decorrelated join + agg) — the
    // rewrites that keep subqueries from becoming per-row probes
    QuerySpec("cap_subqueries", (s, dir) => {
      tbl(s, dir, "customer").createOrReplaceTempView("cap_sub_customer")
      tbl(s, dir, "orders").createOrReplaceTempView("cap_sub_orders")
      s.sql("""
        SELECT c_custkey, c_mktsegment,
          EXISTS(SELECT 1 FROM cap_sub_orders o
                 WHERE o.o_custkey = c.c_custkey
                   AND o.o_totalprice > 200000) AS has_big,
          (SELECT count(*) FROM cap_sub_orders o
           WHERE o.o_custkey = c.c_custkey) AS n_orders
        FROM cap_sub_customer c
        WHERE c_custkey IN (SELECT o_custkey FROM cap_sub_orders)""")
    },
      """SELECT c_custkey, c_mktsegment,
        |  EXISTS(SELECT 1 FROM orders o
        |         WHERE o.o_custkey = c.c_custkey
        |           AND o.o_totalprice > 200000) AS has_big,
        |  (SELECT count(*) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey) AS n_orders
        |FROM customer c
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)""".stripMargin),

    // Rank-function family in one pass: rank / dense_rank /
    // percent_rank / cume_dist over a tie-bearing order (tied rows
    // get identical outputs — deterministic), ntile over a fully
    // tie-broken order (bucket boundaries need a total order to be
    // deterministic). Both windows share the o_orderstatus partition,
    // so ONE exchange serves all five functions
    QuerySpec("cap_rank_family", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byStatus = Window.partitionBy(col("o_orderstatus"))
      val w1 = byStatus.orderBy(col("o_totalprice"))
      val w2 = byStatus.orderBy(col("o_totalprice"), col("o_orderkey"))
      tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .withColumn("rnk", rank().over(w1))
        .withColumn("drnk", dense_rank().over(w1))
        .withColumn("prnk", percent_rank().over(w1))
        .withColumn("cdist", cume_dist().over(w1))
        .withColumn("quartile", ntile(4).over(w2))
    },
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  CAST(rank() OVER w1 AS INT) AS rnk,
        |  CAST(dense_rank() OVER w1 AS INT) AS drnk,
        |  percent_rank() OVER w1 AS prnk,
        |  cume_dist() OVER w1 AS cdist,
        |  CAST(ntile(4) OVER w2 AS INT) AS quartile
        |FROM orders
        |WINDOW
        |  w1 AS (PARTITION BY o_orderstatus ORDER BY o_totalprice),
        |  w2 AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)""".stripMargin),
  )
}
