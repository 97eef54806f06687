package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.util.Cols._

/** Event-time window aggregations over the `events` table — the batch
  * spellings of tumbling / sliding / session windows (SURVEY §2.9 notes
  * the reference has no streaming; these are the extension mandated by
  * the build plan §7.7). The Structured Streaming twins live in
  * [[graft.streaming.StreamingWindows]] and share these semantics.
  *
  * Scale notes: window() and session_window() are ordinary grouping
  * expressions — partial aggregation applies, one shuffle on
  * (window/user). The sliding window multiplies each row into
  * duration/slide groups (4× here) BEFORE the partial agg — the same
  * expansion any engine pays; keep slide ≥ duration/4 at warehouse scale.
  */
object EventWindows {

  type Q = (SparkSession, String) => DataFrame

  /** Tumbling 1-hour windows × event_type. */
  private val tumbling: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
      .select($"window.start".as("w_start"), $"window.end".as("w_end"),
        $"event_type", $"n", $"sum_value")
  }

  /** Sliding 1-hour windows every 15 minutes (each event in 4 windows). */
  private val sliding: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .groupBy(window($"ts", "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
      .select($"window.start".as("w_start"), $"window.end".as("w_end"),
        $"n", $"sum_value")
  }

  /** Session windows per user, 30-minute gap: a session ends 30 min
    * after its last event (Spark session_window semantics: end =
    * max(ts) + gap). */
  private val session: Q = (spark, dir) => {
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n_events"), dsum($"value").as("sum_value"))
      .select($"user_id",
        $"session_window.start".as("s_start"),
        $"session_window.end".as("s_end"),
        $"n_events", $"sum_value")
  }

  /** ev_lateness_audit: OUT-OF-ORDERNESS measurement — the datum a
    * watermark delay is sized FROM. The streaming twins
    * ([[graft.streaming.StreamingWindows]]) all declare a delay
    * ("1 hour", "30 minutes"); in production that number comes from
    * measuring how late events actually arrive, or the watermark
    * silently drops the tail. Per user, in ARRIVAL order (event_id is
    * the ingest-sequence proxy), an event's lateness is how far the
    * already-seen event-time high-water mark is ahead of it:
    * late_us = max(0, max(ts) over previous arrivals − ts), exact µs
    * integers. Emitted as a bucketed histogram (in-order / ≤1m / ≤10m /
    * ≤1h / ≤12h / beyond) with per-bucket max — read off the bucket
    * that bounds your tolerated drop rate and that's the delay.
    *
    * The testdata generator emits events in event-time order, so a raw
    * event_id arrival order measures a vacuous all-in-order stream;
    * ingest disorder is therefore PLANTED (the m21/d_pii_scrub planted-
    * mask convention): each event's arrival sequence is its event time
    * plus a deterministic 0–2 h hash jitter — the "events reach the
    * collector within two hours, out of order" regime. On a real stream
    * drop the jitter and order by the ingest sequence column.
    * Scale shape: ONE bounded-key window pass (partition = user, the
    * per-key arrival order a sharded ingest actually guarantees — a
    * GLOBAL arrival order would be a single-partition sort at 100 TB)
    * + one tiny aggregate. */
  private val lateness: Q = (spark, dir) => {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"arr_us", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val late = Tables.load(spark, dir, "events")
      .select($"user_id", $"event_id", unix_micros($"ts").as("us"))
      .withColumn("arr_us", $"us" +
        pmod(graft.llm.TextOps.hash48(
          concat(lit("arr:"), $"event_id".cast("string"))), lit(7200L))
          * 1000000L)
      .withColumn("late_us",
        greatest(lit(0L), coalesce(max($"us").over(w), $"us") - $"us"))
    val bucket = when($"late_us" === 0L, "0_inorder")
      .when($"late_us" <= 60000000L, "1_le_1m")
      .when($"late_us" <= 600000000L, "2_le_10m")
      .when($"late_us" <= 3600000000L, "3_le_1h")
      .when($"late_us" <= 43200000000L, "4_le_12h")
      .otherwise("5_gt_12h")
    late.groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"), max($"late_us").as("max_late_us"))
  }

  val queries: Map[String, Q] = Map(
    "ev_lateness_audit" -> lateness,
    "ev_tumbling" -> tumbling,
    "ev_sliding"  -> sliding,
    "ev_session"  -> session)

  /** The oracle side of a 30-minute-gap session window, as CTEs ending
    * at `g(user_id, sess, s_start, s_end, n_events, sum_value)`: shared
    * by ev_session and its streaming twin st_sessionize.
    *
    * Events are pre-aggregated by (user_id, ts) so the lag and
    * cumulative-sum windows run over DISTINCT timestamps: with raw rows,
    * two separate window operators could order tied timestamps
    * differently and split a tie across sessions nondeterministically.
    * Tied rows are always one session (gap 0), so the pre-agg is
    * semantics-free. The gap test is >= not >: Spark session_window is
    * end-exclusive ([start, max(ts)+gap)), so an event at exactly
    * lastTs+30min opens a NEW session. */
  private[graft] val SessionCtesSql: String =
    """e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS t,
      |         COUNT(*) AS nr, SUM(CAST(value AS DECIMAL(18,2))) AS v
      |  FROM events GROUP BY 1, 2),
      |o AS (
      |  SELECT user_id, t, nr, v,
      |         CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
      |              >= INTERVAL '30 minutes'
      |              OR lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM e),
      |s AS (
      |  SELECT user_id, t, nr, v,
      |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY t
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      |  FROM o),
      |g AS (
      |  SELECT user_id, sess, MIN(t) AS s_start,
      |         MAX(t) + INTERVAL '30 minutes' AS s_end,
      |         CAST(SUM(nr) AS BIGINT) AS n_events,
      |         CAST(SUM(v) AS DOUBLE) AS sum_value
      |  FROM s GROUP BY user_id, sess)""".stripMargin

  val oracles: Map[String, String] = Map(
    // same per-user previous-arrivals running max in exact µs integers,
    // same planted 0-2h arrival jitter
    "ev_lateness_audit" -> {
      val hj = graft.llm.TextOps.hash48Sql(
        "'arr:' || CAST(event_id AS VARCHAR)")
      s"""WITH e AS (
        |  SELECT user_id, event_id,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |         epoch_us(CAST(ts AS TIMESTAMP)) +
        |           ((($hj % 7200) + 7200) % 7200) * 1000000 AS arr_us
        |  FROM events),
        |l AS (
        |  SELECT GREATEST(0, COALESCE(
        |           MAX(us) OVER (PARTITION BY user_id
        |             ORDER BY arr_us, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |           us) - us) AS late_us
        |  FROM e)
        |SELECT CASE WHEN late_us = 0 THEN '0_inorder'
        |            WHEN late_us <= 60000000 THEN '1_le_1m'
        |            WHEN late_us <= 600000000 THEN '2_le_10m'
        |            WHEN late_us <= 3600000000 THEN '3_le_1h'
        |            WHEN late_us <= 43200000000 THEN '4_le_12h'
        |            ELSE '5_gt_12h' END AS bucket,
        |       COUNT(*) AS n, CAST(MAX(late_us) AS BIGINT) AS max_late_us
        |FROM l GROUP BY 1""".stripMargin
    },

    "ev_tumbling" ->
      """SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS w_start,
        |       time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) + INTERVAL '1 hour' AS w_end,
        |       event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2, 3""".stripMargin,

    "ev_sliding" ->
      """WITH x AS (
        |  SELECT CAST(ts AS TIMESTAMP) AS t, value,
        |         time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP)) AS b
        |  FROM events),
        |w AS (
        |  SELECT t, value, b - (k * INTERVAL '15 minutes') AS w_start
        |  FROM x, unnest(generate_series(0, 3)) AS u(k)
        |  WHERE b - (k * INTERVAL '15 minutes') > t - INTERVAL '1 hour')
        |SELECT w_start, w_start + INTERVAL '1 hour' AS w_end, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY 1, 2""".stripMargin,

    "ev_session" ->
      s"""WITH $SessionCtesSql
         |SELECT user_id, s_start, s_end, n_events, sum_value FROM g""".stripMargin)
}
