package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Det._
import graft.core.Tables

/** Event/product analytics over the `events` stream table — the batch
  * counterparts of the §2.L streaming shapes: gap-based sessionization,
  * ordered funnels, cohort retention, and transition matrices. These are
  * the queries a clickstream/telemetry user of the engine runs daily;
  * each is oracle-checked against the identical SQL in DuckDB.
  *
  * Timestamp contract: `Tables.events` yields `ts` (epoch-nanos BIGINT)
  * and `event_ts` (TIMESTAMP_NTZ µs) — DuckDB's `epoch_ns(ts)` and
  * `CAST(ts AS TIMESTAMP)` respectively, so gap math happens in exact
  * integer nanos on both engines.
  *
  * Scale notes (the 100 TB shapes):
  *  - ev1/ev4 are ONE shuffle on user_id; the session assignment and the
  *    transition lead() both ride the same per-user sort, and the
  *    session rollup reuses the user_id partitioning (no second
  *    exchange of the wide rows).
  *  - ev2 never windows the raw stream: each funnel stage is a filtered
  *    min-aggregate (map-side partial combine shrinks it to ≤1 row per
  *    user BEFORE the shuffle) joined on user_id. Stage N's join input
  *    is already user-level — tiny against the event table.
  *  - ev3 distincts (user, day) pairs first — the retention join then
  *    runs on user-day granularity, orders of magnitude below event
  *    granularity.
  *  - No driver-side collects anywhere; every aggregate is distributed.
  */
object Events extends QueryPack {
  import QueryDef._

  /** 30-minute inactivity gap, in nanoseconds (exact on both engines). */
  private val GapNs = 1800L * 1000000000L

  /** ev1 — gap-based sessionization: a session starts at the first event
    * of a user or after ≥30 min of inactivity; output is one row per
    * session with its span, size, and exact-decimal value total. The
    * classic two-window idiom (lag → is_start flag → running sum) keyed
    * so both windows share one partitioning. */
  val ev1: QueryDef = m(
    "ev1_sessionize",
    """WITH g AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS event_ts,
      |    epoch_ns(ts) AS tsn, value,
      |    CASE WHEN epoch_ns(ts) - lag(epoch_ns(ts)) OVER
      |           (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
      |         IS NULL THEN 1
      |         WHEN epoch_ns(ts) - lag(epoch_ns(ts)) OVER
      |           (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
      |           > 1800000000000 THEN 1 ELSE 0 END AS is_start
      |  FROM events
      |), s AS (
      |  SELECT *, CAST(SUM(is_start) OVER (PARTITION BY user_id
      |    ORDER BY tsn, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS session_seq
      |  FROM g
      |)
      |SELECT user_id, session_seq,
      |  min(event_ts) AS session_start, max(event_ts) AS session_end,
      |  (max(tsn) - min(tsn)) // 1000000 AS duration_ms,
      |  count(*) AS n_events,
      |  CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2)
      |    AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
      |FROM s GROUP BY user_id, session_seq
      |ORDER BY user_id, session_seq""".stripMargin) { (spark, dir) =>
    val sess = sessionsOf(Tables.events(spark, dir), Seq("user_id"),
      Seq(col("ts"), col("event_id")), lit(GapNs), "is_start", "session_seq")
    sess.groupBy(col("user_id"), col("session_seq"))
      .agg(
        min(col("event_ts")).as("session_start"),
        max(col("event_ts")).as("session_end"),
        expr("(max(ts) - min(ts)) div 1000000").as("duration_ms"),
        count(lit(1)).as("n_events"),
        money(sum(dec2(col("value")))).as("sum_value"))
      .orderBy(col("user_id"), col("session_seq"))
  }

  /** Gap-based sessionization over any frame — the engine behind ev1 and
    * the YAML `sessionize` op. Rows are ordered by `order` inside each
    * `on` key; a session starts at a key's first row or after a gap
    * (`order.head` minus its predecessor) strictly greater than `gap`.
    * Adds the start flag as column `flag` (1 on a session's first row,
    * else 0) and the key's running session number, from 1, as `out`. The
    * flag stays in the result, as in ev1's rollup input: a drop here
    * renumbers the expression ids of ev1's pinned plan (PLANS_r22.md), so
    * a caller that does not want the flag drops it. Both windows ride one
    * partitioning and sort: one shuffle on `on`, which a downstream
    * aggregate on (on..., out) reuses. */
  def sessionsOf(df: DataFrame, on: Seq[String], order: Seq[Column],
      gap: Column, flag: String, out: String): DataFrame = {
    val w = Window.partitionBy(on.map(col): _*).orderBy(order: _*)
    val t = order.head
    df.withColumn(flag,
        when(t - lag(t, 1).over(w) > gap || lag(t, 1).over(w).isNull, 1).otherwise(0))
      .withColumn(out, sum(col(flag)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** ev2 — ordered funnel view → click → purchase: stage N counts only
    * events STRICTLY AFTER the user's stage-N-1 completion (a pure
    * "later min over a filtered set" per stage — no sequence window, so
    * each stage is a partial-aggregated shuffle on user_id joined at
    * user granularity). Output: per-user stage timestamps + depth. */
  val ev2: QueryDef = m(
    "ev2_funnel",
    """WITH v AS (
      |  SELECT user_id, min(epoch_ns(ts)) AS t_view FROM events
      |  WHERE event_type = 'view' GROUP BY user_id
      |), c AS (
      |  SELECT e.user_id, min(epoch_ns(e.ts)) AS t_click
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |    AND epoch_ns(e.ts) > v.t_view
      |  WHERE e.event_type = 'click' GROUP BY e.user_id
      |), p AS (
      |  SELECT e.user_id, min(epoch_ns(e.ts)) AS t_purchase
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |    AND epoch_ns(e.ts) > c.t_click
      |  WHERE e.event_type = 'purchase' GROUP BY e.user_id
      |)
      |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
      |  1 + CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END
      |    + CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS depth
      |FROM v LEFT JOIN c ON v.user_id = c.user_id
      |LEFT JOIN p ON v.user_id = p.user_id
      |ORDER BY v.user_id""".stripMargin) { (spark, dir) =>
    val e = Tables.events(spark, dir)
    val views = e.where(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t_view"))
    val clicks = e.where(col("event_type") === "click").as("e")
      .join(views.as("v"), col("e.user_id") === col("v.user_id")
        && col("e.ts") > col("v.t_view"))
      .groupBy(col("e.user_id").as("user_id"))
      .agg(min(col("e.ts")).as("t_click"))
    val buys = e.where(col("event_type") === "purchase").as("e")
      .join(clicks.as("c"), col("e.user_id") === col("c.user_id")
        && col("e.ts") > col("c.t_click"))
      .groupBy(col("e.user_id").as("user_id"))
      .agg(min(col("e.ts")).as("t_purchase"))
    views.as("v")
      .join(clicks.as("c"), Seq("user_id"), "left")
      .join(buys.as("p"), Seq("user_id"), "left")
      .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
        (lit(1) + when(col("t_click").isNull, 0).otherwise(1)
          + when(col("t_purchase").isNull, 0).otherwise(1)).as("depth"))
      .orderBy("user_id")
  }

  /** ev3 — cohort retention: cohort = each user's first active day;
    * one row per (cohort day, day offset) with the distinct-user count.
    * Distinct (user, day) FIRST — the join and rollup run at user-day
    * granularity, never event granularity. */
  val ev3: QueryDef = m(
    "ev3_retention",
    """WITH a AS (
      |  SELECT DISTINCT user_id,
      |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS active_day
      |  FROM events
      |), f AS (
      |  SELECT user_id, min(active_day) AS cohort_day FROM a GROUP BY user_id
      |)
      |SELECT f.cohort_day,
      |  CAST(date_diff('day', f.cohort_day, a.active_day) AS INTEGER) AS day_n,
      |  count(*) AS n_users
      |FROM a JOIN f ON a.user_id = f.user_id
      |GROUP BY f.cohort_day, day_n
      |ORDER BY cohort_day, day_n""".stripMargin) { (spark, dir) =>
    val active = Tables.events(spark, dir)
      .select(col("user_id"),
        date_trunc("day", col("event_ts")).cast("date").as("active_day"))
      .distinct()
    val cohort = active.groupBy("user_id")
      .agg(min(col("active_day")).as("cohort_day"))
    active.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_day"),
        datediff(col("active_day"), col("cohort_day")).as("day_n"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_day"), col("day_n"))
  }

  /** ev4 — event-type transition matrix (first-order Markov counts):
    * lead() per user on the same (user, time) sort as ev1, grouped by
    * the (src, dst) pair. One shuffle on user_id + one on the 25-cell
    * pair space (map-side combined to nothing). */
  val ev4: QueryDef = m(
    "ev4_transitions",
    """WITH t AS (
      |  SELECT event_type AS src,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_ns(ts), event_id) AS dst
      |  FROM events
      |)
      |SELECT src, dst, count(*) AS n FROM t WHERE dst IS NOT NULL
      |GROUP BY src, dst ORDER BY src, dst""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("event_type").as("src"),
        lead(col("event_type"), 1).over(w).as("dst"))
      .where(col("dst").isNotNull)
      .groupBy("src", "dst").agg(count(lit(1)).as("n"))
      .orderBy("src", "dst")
  }

  /** ev5 — time-series gap fill (dimension densification): per-user
    * daily counts with missing days ZERO-FILLED across each user's own
    * active span — the resample step reporting and feature pipelines
    * need before any rolling computation. The day dimension comes from
    * `sequence()` per user (bounded by the span, never a global
    * calendar cross join); the left join back runs at user-day
    * granularity. */
  val ev5: QueryDef = m(
    "ev5_gapfill",
    """WITH a AS (
      |  SELECT user_id,
      |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d,
      |    count(*) AS n
      |  FROM events GROUP BY user_id, d
      |), span AS (
      |  SELECT user_id, min(d) AS lo, max(d) AS hi FROM a GROUP BY user_id
      |), days AS (
      |  SELECT user_id, CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
      |    CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d
      |  FROM span
      |)
      |SELECT days.user_id, days.d, COALESCE(a.n, 0) AS n
      |FROM days LEFT JOIN a ON days.user_id = a.user_id AND days.d = a.d
      |ORDER BY days.user_id, days.d""".stripMargin) { (spark, dir) =>
    val a = Tables.events(spark, dir)
      .groupBy(col("user_id"),
        date_trunc("day", col("event_ts")).cast("date").as("d"))
      .agg(count(lit(1)).as("n"))
    val days = a.groupBy("user_id")
      .agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      .select(col("user_id"),
        explode(sequence(col("lo"), col("hi"))).as("d"))
    days.join(a, Seq("user_id", "d"), "left")
      .select(col("user_id"), col("d"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy(col("user_id"), col("d"))
  }

  def defs: Seq[QueryDef] = Seq(ev1, ev2, ev3, ev4, ev5)
}
