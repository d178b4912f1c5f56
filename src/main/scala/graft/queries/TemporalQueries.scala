package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.TemporalJoins

/** Temporal-join operators ([[graft.operators.TemporalJoins]]) gated over
  * the events stream table: as-of join (q47) and bucketed range join (q48).
  * The DuckDB oracles use the NATIVE `ASOF JOIN` / theta-join forms, so the
  * gates prove the scalable compositions implement the standard semantics.
  */
object TemporalQueries {

  type Q = (SparkSession, String) => DataFrame

  private def typed(s: SparkSession, dir: String, t: String): DataFrame =
    Tables.events(s, dir).filter(col("event_type") === t)
      .select(col("event_id"), col("user_id"), col("ts"))

  def defs: Map[String, Q] = Map(
    // AS-OF: each purchase matched to the user's latest click at or before
    // purchase time. Single window pass — no per-row range probe.
    "q47_asof_join" -> ((s, dir) => {
      val purchases = typed(s, dir, "purchase")
      val clicks = typed(s, dir, "click")
      TemporalJoins.asof(purchases, clicks, "user_id", "ts", "ts", "event_id")
        .select(col("event_id"), col("user_id"), col("asof_event_id"),
          (unix_micros(col("ts")) - unix_micros(col("asof_ts"))).as("gap_us"))
    }),

    // RANGE: clicks by the same user within 1 hour after each purchase,
    // as a bucketed equi-join (fan-out <= 2) instead of a theta-join.
    "q48_range_join" -> ((s, dir) => {
      val purchases = typed(s, dir, "purchase")
      val clicks = typed(s, dir, "click").drop("event_id")
      TemporalJoins.countInWindow(purchases, clicks, "user_id", "event_id",
          "ts", "ts", 3600L * 1000000L)
        .select(col("event_id"), col("user_id"), col("n_in_window"))
    }),

    // Recrawl scheduling: per event_type revisit cadence from per-user
    // inter-arrival gaps (the lag window partitions by (type, user) —
    // small everywhere), rolled up by one partial agg.
    "q152_recrawl" -> ((s, dir) =>
      graft.operators.Recrawl.schedule(Tables.events(s, dir),
        "event_type", "user_id", "ts")
        .orderBy(col("event_type"))),

    // Native session_window in BATCH — the identical Catalyst operator the
    // streaming sessionizer runs (Sessionize.streamingSessions), so this
    // gate pins the operator semantics the stream relies on: sessions
    // merge while consecutive events are STRICTLY closer than the gap,
    // and end = last event + gap. One shuffle on user_id; merging is
    // per-partition. q9 gates the hand-rolled islands twin; this gates
    // Spark's own operator against the same gaps-and-islands oracle.
    "q231_session_native" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"),
          col("n_events"))
        .orderBy(col("user_id"), col("start_us")))
  )

  def oracles: Map[String, String] = Map(
    // the right side is pre-deduped to max(event_id) per (user_id, ts) so the
    // duplicate-(key, ts) tie-break is explicit in BOTH engines — DuckDB's
    // native ASOF JOIN leaves it unspecified, asof() documents largest-id
    "q47_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts, max(event_id) AS event_id
        |      FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
        |SELECT p.event_id, p.user_id, c.event_id AS asof_event_id,
        |       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin,

    "q48_range_join" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, count(c.ts) AS n_in_window
        |FROM p LEFT JOIN c
        |  ON c.user_id = p.user_id AND c.ts >= p.ts AND c.ts < p.ts + INTERVAL 1 HOUR
        |GROUP BY p.event_id, p.user_id""".stripMargin,

    "q152_recrawl" ->
      """WITH s AS (
        |  SELECT event_type, user_id, CAST(epoch_us(ts) // 1000000 AS BIGINT) AS s
        |  FROM events
        |), g AS (
        |  SELECT event_type, user_id, s,
        |         s - lag(s) OVER (PARTITION BY event_type, user_id ORDER BY s) AS gap
        |  FROM s
        |)
        |SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys,
        |       CAST(count(gap) AS BIGINT) AS n_gaps,
        |       round(avg(gap), 4) AS avg_gap_s,
        |       CAST(max(gap) AS BIGINT) AS max_gap_s,
        |       CAST(max(s) AS BIGINT) AS last_seen_s,
        |       CAST(max(s) + ceil(round(avg(gap), 4)) AS BIGINT) AS next_due_s
        |FROM g GROUP BY event_type ORDER BY event_type""".stripMargin,

    // new session when the µs gap is >= 30 min: session_window intervals
    // [t, t+gap) merge only while they OVERLAP, i.e. diff < gap strictly
    "q231_session_native" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |g AS (SELECT user_id, us,
        |             CASE WHEN lag(us) OVER w IS NULL
        |                    OR us - lag(us) OVER w >= 1800000000
        |                  THEN 1 ELSE 0 END AS new_sess
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |sn AS (SELECT user_id, us,
        |              sum(new_sess) OVER (PARTITION BY user_id ORDER BY us
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |       FROM g)
        |SELECT user_id, CAST(min(us) AS BIGINT) AS start_us,
        |       CAST(max(us) + 1800000000 AS BIGINT) AS end_us,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM sn GROUP BY user_id, sid
        |ORDER BY user_id, start_us""".stripMargin
  )
}
