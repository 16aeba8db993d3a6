package graft
package queries

import graft.ext._
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Fixtures._

/** Stateful streaming operators (`ext_stream_*`). */
object StreamQueries {

  val specs: Seq[QuerySpec] = Seq(
    // Streaming dedup path, oracle-graded on the deterministic
    // surviving-row COUNT (which duplicate survives is
    // arrival-order-dependent; how many is not)
    QuerySpec("ext_stream_dedup", (s, dir) =>
      graft.streaming.StreamingOps.availableNowDedupCount(s, s"$dir/lineitem.parquet"),
      // streaming dedup keeps exactly one row per sk (sk over
      // l_orderkey alone — the d5 duplicate-bearing convention)
      """SELECT CAST(count(DISTINCT md5(CAST(l_orderkey AS VARCHAR))) AS BIGINT) AS n_unique
        |FROM lineitem""".stripMargin),

    // Streaming surface, oracle-graded: the events fixture replayed as
    // an AvailableNow stream through the watermarked windowed
    // aggregation — the DuckDB oracle grades the STREAMING engine's
    // final table against the equivalent batch SQL (complete-mode +
    // decimal-accumulate choices documented on the helper)
    QuerySpec("ext_stream_hourly", (s, dir) =>
      graft.streaming.StreamingOps.availableNowHourly(s, s"$dir/events.parquet"),
      // same truth as cap_events_hourly (1-hour tumbling windows are
      // epoch-aligned, so win.start == date_trunc) — the engine side
      // computes it through the streaming path
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS win, event_type,
        |  count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2""".stripMargin),

    // Custom keyed state (mapGroupsWithState), oracle-graded on the
    // monotone per-user event counter's final value
    QuerySpec("ext_stream_state", (s, dir) =>
      graft.streaming.StreamingOps.availableNowRunningCounts(
        s, s"$dir/events.parquet"),
      """SELECT user_id, count(*) AS n_events
        |FROM events GROUP BY user_id""".stripMargin),

    // Streaming session windows, oracle-graded: session_window state
    // machinery vs the batch lag+running-sum sessionization SQL —
    // two independent formulations of the same gap semantics
    QuerySpec("ext_stream_sessions", (s, dir) =>
      graft.streaming.StreamingOps.availableNowSessions(
        s, s"$dir/events.parquet", gapSeconds = 7200L),
      // same session truth as ext_sessionize, rolled up per user — the
      // engine side computes it through streaming session_window state
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 7200000000
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT *, CAST(sum(new_s) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM g
        |)
        |SELECT user_id, max(session_id) AS n_sessions,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id""".stripMargin),

    // Stream-stream JOIN (click→purchase attribution), oracle-graded
    // row-for-row against the equivalent DuckDB batch join — inner
    // join output is arrival-order-independent under the harness's
    // exactness watermark (posture documented on the helper)
    QuerySpec("ext_stream_join", (s, dir) =>
      graft.streaming.StreamingOps.availableNowClickAttribution(
        s, s"$dir/events.parquet", attribution = "2 hours"),
      // the batch formulation of the streaming attribution join;
      // epoch_us grades the timestamps as integers
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |  c.user_id,
        |  epoch_us(c.ts) AS click_us, epoch_us(p.ts) AS purchase_us
        |FROM events c JOIN events p
        |  ON p.user_id = c.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR""".stripMargin),
  )
}
