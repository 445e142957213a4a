package graft.queries

import org.apache.spark.sql.functions._
import graft.analytics.Events
import graft.sources.Readers

/** Event-stream operators over the `events` table (SURVEY §2.8/§7.4). */
object EventsQueries {

  val defs: Map[String, Q] = Map(

    // Tumbling 1-hour window aggregate. Oracle maps the bucket to
    // date_trunc('hour') — identical for tumbling windows aligned to the
    // epoch.
    "q21_events_tumbling" -> q(
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
                event_type,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
         FROM events
         GROUP BY 1, 2
         ORDER BY 1, 2""") { (s, dir) =>
      Events.tumbling(t(s, dir, "events"), "ts", "1 hour", Seq("event_type"),
        Seq(count(lit(1)).as("n"), sum(cents(col("value"))).as("total_cents")))
        .select("window_start", "event_type", "n", "total_cents")
        .orderBy("window_start", "event_type")
    },

    // Sliding window (1h every 15m). Oracle: each row lands in exactly
    // width/slide = 4 windows whose starts are the row's 15-min bucket
    // minus j slides (both engines align buckets to the epoch grid —
    // DuckDB time_bucket's 2000-01-01 origin is a multiple of 15 min
    // from Spark's 1970 origin, so the grids coincide).
    "q22_events_sliding" -> q(
      """SELECT window_start,
                window_start + INTERVAL 1 HOUR AS window_end,
                event_type,
                CAST(count(*) AS BIGINT) AS n
         FROM (
           SELECT time_bucket(INTERVAL '15 minutes', ts)
                    - j * (INTERVAL '15 minutes') AS window_start, event_type
           FROM events
           CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) offs)
         GROUP BY window_start, event_type
         ORDER BY window_start, event_type""") { (s, dir) =>
      Events.sliding(t(s, dir, "events"), "ts", "1 hour", "15 minutes",
        Seq("event_type"), Seq(count(lit(1)).as("n")))
        .select("window_start", "window_end", "event_type", "n")
        .orderBy("window_start", "event_type")
    },

    // Sessionization: 30-minute inactivity gap, lag + running sum.
    "q23_events_sessionize" -> q(
      """SELECT user_id,
                CAST(max(session_seq) AS BIGINT) AS n_sessions,
                CAST(count(*) AS BIGINT) AS n_events
         FROM (
           SELECT user_id,
                  sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_seq
           FROM (
             SELECT user_id, ts, event_id,
                    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                              IS NULL THEN 1
                         WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                              > INTERVAL 30 MINUTE THEN 1
                         ELSE 0 END AS is_new
             FROM events))
         GROUP BY user_id
         ORDER BY user_id""") { (s, dir) =>
      Events.sessionCounts(t(s, dir, "events"), "user_id", "ts", 1800L, "event_id")
        .orderBy("user_id")
    },

    // Native session windows: Spark's session_window() (MergingSessions
    // sort-merge after ONE user_id shuffle — the engine-native shape,
    // vs q23's windowed lag-gap). Boundary semantics differ from q23 on
    // purpose and the oracle mirrors them: a session's end is
    // last_event + gap EXCLUSIVE, so an event exactly gap after its
    // predecessor starts a NEW session (>= in the oracle's break
    // condition, where q23 uses >).
    "q247_session_window" -> q(
      """WITH marked AS (
           SELECT user_id, ts,
                  CASE WHEN lag(ts) OVER w IS NULL THEN 1
                       WHEN ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1
                       ELSE 0 END AS is_new
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
           sess AS (SELECT user_id, ts,
                           sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
                    FROM marked)
         SELECT user_id,
                CAST(min(ts) AS TIMESTAMP) AS session_start,
                CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
                CAST(count(*) AS BIGINT) AS n_events
         FROM sess GROUP BY user_id, sid
         ORDER BY user_id, session_start""") { (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("sw.end").as("session_end"), col("n_events"))
        .orderBy("user_id", "session_start")
    },

    // JSON prop extraction (the engine's semi-structured story; the
    // reference carries JSON complaints — s3_copy.py:113).
    "q24_events_json" -> q(
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
         FROM events ORDER BY event_id""") { (s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id")
    },

    // Exact distinct users per event type (baseline for the HLL variant).
    "q25_events_distinct_users" -> q(
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         FROM events GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type")
    },

    // As-of join: each purchase event picks up the most recent prior
    // signup value for the same user (right side pre-aggregated to one
    // row per (user, ts) so tie-breaking is well-defined on both
    // engines). Oracle: DuckDB's native ASOF LEFT JOIN.
    "q27b_events_asof" -> q(
      """WITH p AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'),
              s AS (SELECT user_id, ts, max(value) AS signup_value
                    FROM events WHERE event_type = 'signup' GROUP BY user_id, ts)
         SELECT p.event_id, p.user_id, p.value, s.signup_value
         FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts >= s.ts
         ORDER BY p.event_id""") { (s, dir) =>
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id", "value")
      val signups = ev.filter(col("event_type") === "signup")
        .groupBy("user_id", "ts")
        .agg(max("value").as("signup_value"))
      graft.operators.AsOfJoin.asof(purchases, signups,
        key = "user_id", leftTs = "ts", rightTs = "ts",
        rightCols = Seq("signup_value"))
        .select("event_id", "user_id", "value", "signup_value")
        .orderBy("event_id")
    },

    // Forward as-of: each purchase joined to the user's NEXT signup-type
    // event at or after it (the "first event after" join).
    "q91_events_asof_forward" -> q(
      """WITH p AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'),
              s AS (SELECT user_id, ts, max(value) AS signup_value
                    FROM events WHERE event_type = 'signup' GROUP BY user_id, ts)
         SELECT p.event_id, p.user_id, p.value, s.signup_value
         FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts <= s.ts
         ORDER BY p.event_id""") { (s, dir) =>
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id", "value")
      val signups = ev.filter(col("event_type") === "signup")
        .groupBy("user_id", "ts")
        .agg(max("value").as("signup_value"))
      graft.operators.AsOfJoin.asofForward(purchases, signups,
        key = "user_id", leftTs = "ts", rightTs = "ts",
        rightCols = Seq("signup_value"))
        .select("event_id", "user_id", "value", "signup_value")
        .orderBy("event_id")
    },

    // Backward as-of with a 6-hour staleness tolerance (pandas
    // merge_asof tolerance semantics): a signup older than the bound is
    // no match. Exact integer epoch-micros gate on both engines.
    "q92_events_asof_tolerance" -> q(
      """WITH p AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'),
              s AS (SELECT user_id, ts, max(value) AS signup_value
                    FROM events WHERE event_type = 'signup' GROUP BY user_id, ts)
         SELECT p.event_id, p.user_id, p.value,
                CASE WHEN s.ts IS NOT NULL
                          AND epoch_us(p.ts) - epoch_us(s.ts) <= 21600000000
                     THEN s.signup_value END AS signup_value
         FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts >= s.ts
         ORDER BY p.event_id""") { (s, dir) =>
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id", "value")
      val signups = ev.filter(col("event_type") === "signup")
        .groupBy("user_id", "ts")
        .agg(max("value").as("signup_value"))
      graft.operators.AsOfJoin.asofTolerance(purchases, signups,
        key = "user_id", leftTs = "ts", rightTs = "ts",
        rightCols = Seq("signup_value"), toleranceSeconds = 21600L)
        .select("event_id", "user_id", "value", "signup_value")
        .orderBy("event_id")
    },

    // HLL (HyperLogLog++) distinct sketch, registered as its VERDICT:
    // the sketch runs for real, but the emitted row is the exact
    // distinct count (DuckDB recomputes it) plus the within-band
    // boolean — the accuracy contract as a driver-green oracle row
    // instead of a spec-only assertion. For fixed data the sketch is
    // deterministic, so the boolean cannot flap.
    "q26_events_hll_users" -> q(
      """SELECT event_type,
                CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
                TRUE AS within_5pct
         FROM events GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      Events.approxDistinctVerdict(t(s, dir, "events"),
        Seq("event_type"), "user_id")
        .orderBy("event_type")
    },

    // Weekly retention cohorts: users bucketed by first-seen week,
    // distinct-active counts per week offset. Both engines truncate
    // weeks to Monday, so the matrix is engine-portable exactly.
    "q110_retention_cohorts" -> q(
      """WITH wk AS (SELECT DISTINCT user_id,
                            CAST(date_trunc('week', ts) AS DATE) AS w
                     FROM events),
            f AS (SELECT user_id, min(w) AS cohort_week FROM wk GROUP BY user_id)
         SELECT f.cohort_week,
                CAST((wk.w - f.cohort_week) // 7 AS BIGINT) AS week_offset,
                CAST(count(DISTINCT wk.user_id) AS BIGINT) AS n_users
         FROM wk JOIN f ON wk.user_id = f.user_id
         GROUP BY 1, 2
         ORDER BY 1, 2""") { (s, dir) =>
      Events.retentionCohorts(t(s, dir, "events"), "user_id", "ts")
        .orderBy("cohort_week", "week_offset")
    },

    // First-touch funnel view -> click -> purchase: depth = number of
    // leading steps with strictly increasing first-occurrence times.
    // One conditional-min aggregate; the oracle spells the same
    // semantics as a CASE ladder.
    "q112_event_funnel" -> q(
      """WITH f AS (SELECT user_id,
                           min(CASE WHEN event_type = 'view' THEN ts END) AS t0,
                           min(CASE WHEN event_type = 'click' THEN ts END) AS t1,
                           min(CASE WHEN event_type = 'purchase' THEN ts END) AS t2
                    FROM events GROUP BY user_id),
            d AS (SELECT CASE
                    WHEN t0 IS NULL THEN 0
                    WHEN t1 IS NULL OR t1 <= t0 THEN 1
                    WHEN t2 IS NULL OR t2 <= t1 THEN 2
                    ELSE 3 END AS funnel_depth
                  FROM f)
         SELECT CAST(funnel_depth AS BIGINT) AS funnel_depth,
                CAST(count(*) AS BIGINT) AS n_users
         FROM d GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      Events.funnel(t(s, dir, "events"), "user_id", "ts", "event_type",
        steps = Seq("view", "click", "purchase"))
        .orderBy("funnel_depth")
    },

    // Trailing 7-day distinct active users: distinct (user, day) fans
    // out to the 7 report days it supports — N x user-days rows, never
    // N x events. COUNT(DISTINCT) over a sliding window has no direct
    // window form on either engine; both spell the same fan-out.
    "q113_rolling_active_users" -> q(
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
            e AS (SELECT user_id,
                         CAST(unnest(generate_series(CAST(d AS TIMESTAMP),
                           CAST(d AS TIMESTAMP) + INTERVAL 6 DAY,
                           INTERVAL 1 DAY)) AS DATE) AS report_day
                  FROM ud)
         SELECT report_day, CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
         FROM e GROUP BY report_day ORDER BY report_day""") { (s, dir) =>
      Events.rollingActiveUsers(t(s, dir, "events"), "user_id", "ts",
        windowDays = 7)
        .orderBy("report_day")
    },

    // Daily rate anomaly gate: trailing-7-day z-test evaluated in exact
    // integer algebra ((nx-S)^2 (n-1) > z0^2 n (n SS - S^2)) so the
    // boolean verdicts hash-match across engines — a float stddev
    // compare could flip on the last ulp.
    "q115_event_anomalies" -> q(
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
                           CAST(count(*) AS BIGINT) AS n_events
                    FROM events GROUP BY 1, 2),
            s AS (SELECT event_type, day, n_events,
                         count(n_events) OVER w AS window_n,
                         CAST(coalesce(SUM(n_events) OVER w, 0) AS BIGINT) AS window_sum,
                         CAST(coalesce(SUM(n_events * n_events) OVER w, 0) AS BIGINT) AS window_sumsq
                  FROM d
                  WINDOW w AS (PARTITION BY event_type ORDER BY day
                               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
         SELECT event_type, day, n_events, window_sum, window_sumsq,
                (window_n = 7 AND
                 (7 * n_events - window_sum) * (7 * n_events - window_sum) * 6
                   > 9 * 7 * (7 * window_sumsq - window_sum * window_sum)) AS is_anomaly
         FROM s ORDER BY event_type, day""") { (s, dir) =>
      Events.dailyAnomalies(t(s, dir, "events"), "event_type", "ts",
        windowDays = 7, zThreshold = 3)
        .orderBy("event_type", "day")
    },

    // Gaps-and-islands: per-user activity intervals (deterministic
    // width from the event id) merged into maximal overlapping spans.
    // Microsecond integer bounds keep the island arithmetic exact on
    // both engines.
    "q117_merge_intervals" -> q(
      """WITH iv AS (SELECT user_id,
                            epoch_us(ts) AS lo,
                            epoch_us(ts) + (300 + (event_id % 7) * 200) * 1000000 AS hi
                     FROM events),
            m AS (SELECT user_id, lo, hi,
                         max(hi) OVER (PARTITION BY user_id ORDER BY lo, hi
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_hi
                  FROM iv),
            f AS (SELECT user_id, lo, hi,
                         CASE WHEN prev_hi IS NULL OR lo > prev_hi THEN 1 ELSE 0 END AS is_new
                  FROM m),
            g AS (SELECT user_id, lo, hi,
                         SUM(is_new) OVER (PARTITION BY user_id ORDER BY lo, hi
                                           ROWS UNBOUNDED PRECEDING) AS island
                  FROM f),
            i AS (SELECT user_id, island, min(lo) AS island_lo, max(hi) AS island_hi,
                         CAST(count(*) AS BIGINT) AS n_intervals
                  FROM g GROUP BY user_id, island)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
                CAST(sum(island_hi - island_lo) AS BIGINT) AS covered_us,
                CAST(sum(n_intervals) AS BIGINT) AS n_intervals
         FROM i GROUP BY user_id ORDER BY user_id""") { (s, dir) =>
      val iv = t(s, dir, "events").select(col("user_id"),
        unix_micros(col("ts")).as("lo"),
        (unix_micros(col("ts")) +
          (lit(300L) + (col("event_id") % 7) * 200L) * 1000000L).as("hi"))
      Events.mergeIntervals(iv, "user_id", "lo", "hi")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_islands"),
          sum(col("island_hi") - col("island_lo")).as("covered_us"),
          sum(col("n_intervals")).as("n_intervals"))
        .orderBy("user_id")
    },

    // Nearest as-of (pandas merge_asof direction='nearest'): closest
    // signup in EITHER direction, ties backward. The oracle composes
    // DuckDB's two directional ASOF joins and picks by exact
    // epoch-micro distance — green means the engine's one-shuffle
    // two-window form agrees on every row, ties included.
    "q121_events_asof_nearest" -> q(
      """WITH p AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'),
              s AS (SELECT user_id, ts, max(value) AS signup_value
                    FROM events WHERE event_type = 'signup' GROUP BY user_id, ts),
              b AS (SELECT p.event_id, s.ts AS bts, s.signup_value AS bsv
                    FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts >= s.ts),
              f AS (SELECT p.event_id, s.ts AS fts, s.signup_value AS fsv
                    FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts <= s.ts)
         SELECT p.event_id, p.user_id, p.value,
                CASE WHEN bts IS NULL AND fts IS NULL THEN NULL
                     WHEN fts IS NULL THEN bsv
                     WHEN bts IS NULL THEN fsv
                     WHEN epoch_us(p.ts) - epoch_us(bts)
                          <= epoch_us(fts) - epoch_us(p.ts) THEN bsv
                     ELSE fsv END AS signup_value
         FROM p JOIN b USING (event_id) JOIN f USING (event_id)
         ORDER BY p.event_id""") { (s, dir) =>
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id", "value")
      val signups = ev.filter(col("event_type") === "signup")
        .groupBy("user_id", "ts")
        .agg(max("value").as("signup_value"))
      graft.operators.AsOfJoin.asofNearest(purchases, signups,
        key = "user_id", leftTs = "ts", rightTs = "ts",
        rightCols = Seq("signup_value"))
        .select("event_id", "user_id", "value", "signup_value")
        .orderBy("event_id")
    },

    // Daily new users + running total: the growth curve. The cumulative
    // window runs over the days relation (30 rows), never the stream.
    "q125_user_growth" -> q(
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS day
                    FROM events GROUP BY user_id),
            d AS (SELECT day, CAST(count(*) AS BIGINT) AS n_new
                  FROM f GROUP BY day)
         SELECT day, n_new,
                CAST(SUM(n_new) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
                  AS cumulative_users
         FROM d ORDER BY day""") { (s, dir) =>
      Events.userGrowth(t(s, dir, "events"), "user_id", "ts")
        .orderBy("day")
    },

    // Incremental rollup maintenance: the month's per-type stats built
    // by MERGING three decade states (days 1-10 / 11-20 / 21-30), never
    // re-aggregating the raw stream. The oracle computes the same
    // numbers from scratch — green proves merge-of-states == full
    // recompute, the invariant incremental pipelines stand on.
    "q122_incremental_rollup" -> q(
      """SELECT event_type,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_v,
                CAST(min(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS min_v,
                CAST(max(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS max_v
         FROM events GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
      val ev = t(s, dir, "events")
      val decades = Seq(
        ev.filter(dayofmonth(col("ts")) <= 10),
        ev.filter(dayofmonth(col("ts")) > 10 && dayofmonth(col("ts")) <= 20),
        ev.filter(dayofmonth(col("ts")) > 20))
      val states = decades.map(d => graft.operators.Rollup.state(
        d, Seq("event_type"), cents(col("value"))))
      graft.operators.Rollup.merge(states).orderBy("event_type")
    },

    // Count-min-sketch frequency estimates per event type, registered
    // as the VERDICT: exact per-key counts (DuckDB-recomputable) plus
    // the sketch's two deterministic guarantees as booleans — never an
    // undercount, overcount ≤ ceil(eps·N). The probe keys are the 5
    // event types — metadata-scale by contract.
    "q118_event_type_cms" -> q(
      """SELECT event_type, CAST(count(*) AS BIGINT) AS exact_count,
                TRUE AS never_undercounts, TRUE AS overcount_within_eps
         FROM events GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val ev = t(s, dir, "events")
      val keys = ev.select("event_type").distinct()
        .orderBy("event_type").collect().map(_.getString(0)).toSeq
      graft.operators.Quality.cmsFrequenciesVerdict(ev, "event_type", keys)
        .orderBy("event_type")
    },

    // Forward fill (LOCF) per user: a deterministically sparsified value
    // column (kept only on event_id % 3 == 0, in exact cents) repaired
    // with the latest preceding observation. One shuffle on user_id; the
    // (ts, event_id) order key is total, so the fill is deterministic.
    "q126_forward_fill" -> q(
      """WITH e AS (SELECT event_id, user_id, ts,
                      CASE WHEN event_id % 3 = 0
                           THEN CAST(floor(value*100 + 0.5) AS BIGINT) END AS v
                    FROM events)
         SELECT event_id, user_id,
                last_value(v IGNORE NULLS) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
         FROM e ORDER BY event_id""") { (s, dir) =>
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"),
        when(col("event_id") % 3 === 0, cents(col("value"))).as("v"))
      Events.forwardFill(ev, "user_id", Seq("ts", "event_id"), Seq("v"))
        .select(col("event_id"), col("user_id"), col("v").as("v_filled"))
        .orderBy("event_id")
    },

    // Mergeable distinct-count rollup: weekly unique users from UNIONED
    // per-day HLL sketches, never re-scanning the stream (the
    // COUNT(DISTINCT) analog of q122's mergeable rollup states).
    // Registered as the VERDICT: exact weekly distinct counts plus
    // BOTH estimation paths (merged-from-days and direct) within the
    // lgK=12 accuracy band — merging loses no accuracy. Bit-equality
    // of the two paths holds only in coupon mode and is run-varying
    // once dense (HIP vs composite estimator under partial
    // aggregation — see hllWeeklyRollupVerdict; the sf0.1 sweep caught
    // the original equality claim); it stays pinned at small scale in
    // EventsTextSpec.
    "q133_hll_weekly_rollup" -> q(
      """WITH wk AS (SELECT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE)
                       AS week, user_id
                     FROM events)
         SELECT week, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
                TRUE AS merged_within_5pct, TRUE AS direct_within_5pct
         FROM wk GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      Events.hllWeeklyRollupVerdict(t(s, dir, "events"), "user_id", "ts")
        .orderBy("week")
    },

    // Cohort LTV curves: cumulative purchase value per weekly signup
    // cohort by week-offset — the product-analytics money curve. The
    // stream reduces to (cohort, offset) cells in one aggregate; the
    // cumulative window runs over that cells relation only. Exact
    // cents throughout.
    "q169_cohort_ltv" -> q(
      """WITH first_day AS (SELECT user_id, min(CAST(ts AS DATE)) AS d0
                            FROM events GROUP BY 1),
            cohorts AS (SELECT user_id,
                               CAST(date_trunc('week', d0) AS DATE) AS cohort_week
                        FROM first_day),
            p AS (SELECT c.cohort_week,
                         (CAST(date_trunc('week', CAST(e.ts AS DATE)) AS DATE)
                           - c.cohort_week) // 7 AS week_offset,
                         CAST(floor(e.value*100 + 0.5) AS BIGINT) AS v
                  FROM events e JOIN cohorts c ON e.user_id = c.user_id
                  WHERE e.event_type = 'purchase'),
            cells AS (SELECT cohort_week, CAST(week_offset AS BIGINT) AS week_offset,
                             CAST(sum(v) AS BIGINT) AS rev_cents
                      FROM p GROUP BY 1, 2)
         SELECT cohort_week, week_offset, rev_cents,
                CAST(sum(rev_cents) OVER (PARTITION BY cohort_week
                  ORDER BY week_offset ROWS UNBOUNDED PRECEDING) AS BIGINT)
                  AS cum_rev_cents
         FROM cells ORDER BY cohort_week, week_offset""") { (s, dir) =>
      val ev = t(s, dir, "events")
      val cohorts = ev.groupBy("user_id")
        .agg(min(to_date(col("ts"))).as("d0"))
        .select(col("user_id"),
          date_trunc("week", col("d0")).cast("date").as("cohort_week"))
      val cells = ev.filter(col("event_type") === "purchase")
        .join(cohorts, "user_id")
        .select(col("cohort_week"),
          (datediff(date_trunc("week", to_date(col("ts"))).cast("date"),
            col("cohort_week")) / 7).cast("long").as("week_offset"),
          cents(col("value")).as("v"))
        .groupBy("cohort_week", "week_offset")
        .agg(sum("v").as("rev_cents"))
      import org.apache.spark.sql.expressions.Window
      cells.withColumn("cum_rev_cents",
          sum("rev_cents").over(Window.partitionBy("cohort_week")
            .orderBy("week_offset")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy("cohort_week", "week_offset")
    },

    // Conversion latency: exact micros from each user's first view to
    // their first purchase (converters only), interpolated p50/p90 via
    // the proven percentile()==quantile_cont equivalence (q151).
    "q166_time_to_convert" -> q(
      """WITH f AS (SELECT user_id,
                           min(CASE WHEN event_type = 'view' THEN ts END) AS t0,
                           min(CASE WHEN event_type = 'purchase' THEN ts END) AS t2
                    FROM events GROUP BY user_id),
            c AS (SELECT epoch_us(CAST(t2 AS TIMESTAMP))
                           - epoch_us(CAST(t0 AS TIMESTAMP)) AS us
                  FROM f WHERE t0 IS NOT NULL AND t2 IS NOT NULL
                    AND epoch_us(CAST(t2 AS TIMESTAMP))
                        > epoch_us(CAST(t0 AS TIMESTAMP)))
         SELECT CAST(count(*) AS BIGINT) AS n_converting,
                round(quantile_cont(us, 0.5), 4) AS p50_us,
                round(quantile_cont(us, 0.9), 4) AS p90_us
         FROM c""") { (s, dir) =>
      t(s, dir, "events")
        .groupBy("user_id")
        .agg(min(when(col("event_type") === "view", col("ts"))).as("t0"),
          min(when(col("event_type") === "purchase", col("ts"))).as("t2"))
        .filter(col("t0").isNotNull && col("t2").isNotNull && col("t2") > col("t0"))
        .select((unix_micros(col("t2")) - unix_micros(col("t0"))).as("us"))
        .agg(count(lit(1)).as("n_converting"),
          round(expr("percentile(us, 0.5D)"), 4).as("p50_us"),
          round(expr("percentile(us, 0.9D)"), 4).as("p90_us"))
    },

    // Audience overlap: per-type distinct-user sketches intersected
    // pairwise (theta sketches — the set algebra HLL cannot express).
    // Registered as the VERDICT: exact both/only counts (one distinct
    // (type, user) self-join, DuckDB-recomputable) plus one
    // within-band boolean covering all three estimates.
    "q154_audience_overlap" -> q(
      """WITH tu AS (SELECT DISTINCT event_type AS ty, user_id AS u FROM events),
            cnt AS (SELECT ty, count(*) AS n FROM tu GROUP BY 1),
            inter AS (SELECT a.ty AS ta, b.ty AS tb, count(*) AS nb
                      FROM tu a JOIN tu b ON a.u = b.u AND a.ty < b.ty
                      GROUP BY 1, 2)
         SELECT p.ta AS type_a, p.tb AS type_b,
                CAST(coalesce(i.nb, 0) AS BIGINT) AS exact_both,
                CAST(p.na - coalesce(i.nb, 0) AS BIGINT) AS exact_only_a,
                CAST(p.nb - coalesce(i.nb, 0) AS BIGINT) AS exact_only_b,
                TRUE AS within_band
         FROM (SELECT a.ty AS ta, b.ty AS tb, a.n AS na, b.n AS nb
               FROM cnt a JOIN cnt b ON a.ty < b.ty) p
         LEFT JOIN inter i ON i.ta = p.ta AND i.tb = p.tb
         ORDER BY 1, 2""") { (s, dir) =>
      Events.audienceOverlapVerdict(t(s, dir, "events"),
        "event_type", "user_id")
        .orderBy("type_a", "type_b")
    },

    // Incremental view maintenance for a JOIN: both sides split into
    // (old, insert-delta); the maintained view = materialized old⋈old
    // plus Rollup.joinDelta — the full tables are never re-joined. The
    // oracle recomputes the join from scratch: green proves
    // incremental == recompute, q122's invariant extended from
    // aggregates to joins.
    "q150_ivm_join" -> q(
      """SELECT o_orderkey, o_custkey, c_name,
                CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS price_cents
         FROM orders JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey""") { (s, dir) =>
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        cents(col("o_totalprice")).as("price_cents"))
      val c = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_name"))
      val oOld = o.filter(col("o_orderkey") % 5 =!= 0)
      val oDelta = o.filter(col("o_orderkey") % 5 === 0)
      val cOld = c.filter(col("o_custkey") % 7 =!= 0)
      val cDelta = c.filter(col("o_custkey") % 7 === 0)
      val materialized = oOld.join(cOld, Seq("o_custkey"))
      materialized
        .unionByName(graft.operators.Rollup.joinDelta(
          oOld, oDelta, cOld, cDelta, Seq("o_custkey")))
        .select("o_orderkey", "o_custkey", "c_name", "price_cents")
        .orderBy("o_orderkey")
    },

    // Chi-square independence: does event type depend on day-of-week?
    // Per-cell contributions on exact operands, rounded-then-summed as
    // decimals (order-independent); the raw stream reduces to the
    // types×7 contingency relation in one aggregate.
    "q137_chi_square" -> q(
      """WITH obs AS (SELECT event_type AS a,
                             date_part('dow', CAST(ts AS DATE)) AS b,
                             CAST(count(*) AS HUGEINT) AS o
                      FROM events GROUP BY 1, 2),
            r AS (SELECT a, sum(o) AS rt FROM obs GROUP BY 1),
            c AS (SELECT b, sum(o) AS ct FROM obs GROUP BY 1),
            t AS (SELECT sum(o) AS n,
                         CAST(count(DISTINCT a) AS BIGINT) AS ka,
                         CAST(count(DISTINCT b) AS BIGINT) AS kb
                  FROM obs)
         SELECT CAST(sum(CAST(round(
                  CAST((o*n - rt*ct) * (o*n - rt*ct) AS DOUBLE)
                    / CAST(n * rt * ct AS DOUBLE), 6) AS DECIMAL(18,6)))
                * 1000000 AS BIGINT) AS chi2_e6,
                (SELECT (ka - 1) * (kb - 1) FROM t) AS dof
         FROM (SELECT r.a, c.b, r.rt, c.ct, COALESCE(obs.o, 0) AS o
               FROM r CROSS JOIN c
               LEFT JOIN obs ON obs.a = r.a AND obs.b = c.b), t""") { (s, dir) =>
      // e6-scaled BIGINT output (per-cell terms are rounded to 6
      // decimals, so the decimal sum *1e6 is lossless): in r5 the
      // DECIMAL output was driver-green only by luck of its digits —
      // a trailing zero in the 6th decimal would have hash-mismatched
      val ev = t(s, dir, "events").select(col("event_type").as("a"),
        (dayofweek(col("ts")) - 1).cast("long").as("b"))
      graft.operators.Stats.chiSquare(ev, "a", "b")
        .select(expr("CAST(chi2 * 1000000 AS BIGINT)").as("chi2_e6"),
          col("dof"))
    },

    // A/B test: users hash-split 50/50 (the md5 split column — no RNG
    // state), conversion = any purchase event; the significance verdict
    // evaluates z² > 1.96² in exact integer arithmetic.
    "q138_ab_test" -> q(
      """WITH u AS (SELECT user_id,
                      CASE WHEN substring(md5('ab1' || CAST(user_id AS VARCHAR)), 1, 4)
                             < '8000' THEN 'A' ELSE 'B' END AS arm,
                      max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1
                        AS converted
                    FROM events GROUP BY user_id),
            s AS (SELECT
                    CAST(count(*) FILTER (WHERE arm = 'A') AS HUGEINT) AS na,
                    CAST(count(*) FILTER (WHERE arm = 'B') AS HUGEINT) AS nb,
                    CAST(count(*) FILTER (WHERE arm = 'A' AND converted) AS HUGEINT) AS ca,
                    CAST(count(*) FILTER (WHERE arm = 'B' AND converted) AS HUGEINT) AS cb
                  FROM u)
         SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
                CAST(ca AS BIGINT) AS conv_a, CAST(cb AS BIGINT) AS conv_b,
                round(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE), 6) AS rate_a,
                round(CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE), 6) AS rate_b,
                (ca*nb - cb*na) * (ca*nb - cb*na) * (na + nb) * 10000
                  > 38416 * na * nb * (ca + cb) * ((na + nb) - (ca + cb))
                  AS significant
         FROM s""") { (s, dir) =>
      val users = t(s, dir, "events")
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase", 1).otherwise(0)).===(1)
          .as("converted"))
        .withColumn("arm", graft.analytics.Curation.splitColumn(
          col("user_id"), Seq("A" -> 0.5, "B" -> 0.5), salt = "ab1"))
      graft.operators.Stats.twoProportionZTest(users, "arm", "A", "B", "converted")
    },

    // Time-weighted average: each sample holds until the next, so its
    // weight is its holding duration in exact integer microseconds —
    // the irregular-sampling average a plain AVG gets wrong. Exact
    // decimal dot product, one rounded IEEE division per user.
    "q135_time_weighted_avg" -> q(
      """WITH e AS (SELECT user_id, ts, event_id,
                           CAST(floor(value*100 + 0.5) AS BIGINT) AS v
                    FROM events),
            d AS (SELECT user_id, v,
                         epoch_us(CAST(lead(ts) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS TIMESTAMP))
                           - epoch_us(CAST(ts AS TIMESTAMP)) AS dur
                  FROM e)
         SELECT user_id,
                CASE WHEN sum(dur) > 0
                     THEN round(CAST(sum(CAST(v AS HUGEINT) * dur) AS DOUBLE)
                                / CAST(sum(dur) AS DOUBLE), 6) END AS twa
         FROM d GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val ev = t(s, dir, "events").select(col("user_id"), col("ts"),
        col("event_id"), cents(col("value")).as("v"))
      Events.timeWeightedAvg(ev, "user_id", "ts", "event_id", "v")
        .orderBy("user_id")
    },

    // First-order Markov transitions between consecutive event types
    // per user: one lag window on the user key, then a types² count.
    "q136_event_transitions" -> q(
      """WITH p AS (SELECT event_type,
                           lag(event_type) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev
                    FROM events)
         SELECT prev AS from_type, event_type AS to_type,
                CAST(count(*) AS BIGINT) AS n_transitions
         FROM p WHERE prev IS NOT NULL
         GROUP BY 1, 2 ORDER BY 1, 2""") { (s, dir) =>
      Events.eventTransitions(t(s, dir, "events"), "user_id", "ts",
          "event_id", "event_type")
        .orderBy("from_type", "to_type")
    },

    // Daily per-user activity grid: counts with missing days zero-filled
    // between each user's first and last active day. The spine is
    // generated key-locally (sequence + explode), never a driver loop.
    "q127_gap_fill_daily" -> q(
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day,
                               CAST(count(*) AS BIGINT) AS n_events
                        FROM events GROUP BY 1, 2),
            spans AS (SELECT user_id, min(day) AS lo, max(day) AS hi
                      FROM daily GROUP BY 1),
            spine AS (SELECT user_id,
                             CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                               CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
                      FROM spans)
         SELECT s.user_id, s.day, COALESCE(d.n_events, 0) AS n_events
         FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
         ORDER BY 1, 2""") { (s, dir) =>
      Events.gapFillDaily(t(s, dir, "events"), "user_id", "ts")
        .orderBy("user_id", "day")
    },

    // Top-100 session paths: the q23 session definition, each session's
    // event types joined in (ts, event_id) order into one path string,
    // counted. Total top-k order (count DESC, path ASC) keeps the cut
    // line deterministic on both engines.
    "q177_top_paths" -> q(
      """WITH se AS (
           SELECT user_id, event_type, ts, event_id,
                  sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_seq
           FROM (
             SELECT user_id, event_type, ts, event_id,
                    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                              IS NULL THEN 1
                         WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                              > INTERVAL 30 MINUTE THEN 1
                         ELSE 0 END AS is_new
             FROM events)),
         paths AS (
           SELECT user_id, session_seq,
                  string_agg(event_type, '>' ORDER BY ts, event_id) AS path
           FROM se GROUP BY 1, 2)
         SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
         FROM paths GROUP BY 1
         ORDER BY n_sessions DESC, path ASC LIMIT 100""") { (s, dir) =>
      Events.topPaths(t(s, dir, "events"), "user_id", "ts", "event_type",
        1800L, "event_id", k = 100)
    },

    // Day-of-week seasonality per event type (Events.dowSeasonality —
    // epoch-day mod 7 sidesteps the DAYOFWEEK dialect lottery; 0 =
    // Thursday). index_e6 = 1e6 means a flat week.
    "q178_dow_seasonality" -> q(
      """WITH c AS (SELECT event_type,
                           CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7
                                AS INTEGER) AS dow,
                           CAST(count(*) AS BIGINT) AS n_events
                    FROM events GROUP BY 1, 2),
            tot AS (SELECT event_type, CAST(sum(n_events) AS BIGINT) AS total
                    FROM c GROUP BY 1)
         SELECT c.event_type, c.dow, c.n_events,
                CAST(c.n_events * 7000000 // tot.total AS BIGINT) AS index_e6
         FROM c JOIN tot USING (event_type)
         ORDER BY event_type, dow""") { (s, dir) =>
      Events.dowSeasonality(t(s, dir, "events"), "event_type", "ts")
        .orderBy("event_type", "dow")
    },

    // Peak concurrent sessions (Events.peakConcurrency): distributed
    // sweep-line over ±1 session deltas keyed at 2·µs (ends at 2t+1 so
    // a session is live through its last instant), running sum via the
    // two-pass prefix scan, first instant of the maximum reported.
    "q184_peak_concurrency" -> q(
      """WITH se AS (
           SELECT user_id, ts,
                  sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_seq
           FROM (
             SELECT user_id, ts, event_id,
                    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                              IS NULL THEN 1
                         WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                              > INTERVAL 30 MINUTE THEN 1
                         ELSE 0 END AS is_new
             FROM events)),
         sess AS (SELECT user_id, session_seq, min(ts) AS s, max(ts) AS e
                  FROM se GROUP BY 1, 2),
         deltas AS (SELECT ord, CAST(sum(delta) AS BIGINT) AS delta FROM (
             SELECT epoch_us(s) * 2 AS ord, 1 AS delta FROM sess
             UNION ALL
             SELECT epoch_us(e) * 2 + 1 AS ord, -1 AS delta FROM sess)
           GROUP BY 1),
         c AS (SELECT ord, sum(delta) OVER (ORDER BY ord) AS conc FROM deltas),
         m AS (SELECT max(conc) AS peak FROM c)
         SELECT CAST(m.peak AS BIGINT) AS peak_concurrency,
                make_timestamp(min(c.ord) // 2) AS peak_at
         FROM c, m WHERE c.conc = m.peak GROUP BY m.peak""") { (s, dir) =>
      Events.peakConcurrency(t(s, dir, "events"), "user_id", "ts",
        1800L, "event_id")
    },

    // Session entry/exit/bounce profile per event type
    // (Events.entryExitProfile — the landing/exit/bounce report; the
    // per-session rank windows ride the sessionize exchange, hash on
    // user already co-locates (user, session)).
    "q186_entry_exit" -> q(
      """WITH se AS (
           SELECT user_id, event_type, ts, event_id,
                  sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_seq
           FROM (
             SELECT user_id, event_type, ts, event_id,
                    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                              IS NULL THEN 1
                         WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                              > INTERVAL 30 MINUTE THEN 1
                         ELSE 0 END AS is_new
             FROM events)),
         r AS (SELECT event_type,
                      row_number() OVER (PARTITION BY user_id, session_seq
                                         ORDER BY ts, event_id) AS ra,
                      row_number() OVER (PARTITION BY user_id, session_seq
                                         ORDER BY ts DESC, event_id DESC) AS rd
               FROM se)
         SELECT event_type,
                CAST(sum(CASE WHEN ra = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_entries,
                CAST(sum(CASE WHEN rd = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_exits,
                CAST(sum(CASE WHEN ra = 1 AND rd = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
                CAST(count(*) AS BIGINT) AS n_events
         FROM r GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      Events.entryExitProfile(t(s, dir, "events"), "user_id", "ts",
        "event_type", 1800L, "event_id")
        .orderBy("event_type")
    },

    // Sequence funnel with a 7-day conversion window per step
    // (Events.sequenceFunnel): click counts only within 7 days AFTER
    // the first view, purchase within 7 days after that click —
    // greedy-earliest, exact integer microseconds at the boundaries.
    "q189_sequence_funnel" -> q(
      """WITH u AS (SELECT DISTINCT user_id FROM events),
            s0 AS (SELECT user_id, min(ts) AS t0 FROM events
                   WHERE event_type = 'view' GROUP BY 1),
            s1 AS (SELECT e.user_id, min(e.ts) AS t1
                   FROM events e JOIN s0 ON e.user_id = s0.user_id
                   WHERE e.event_type = 'click'
                     AND epoch_us(e.ts) > epoch_us(s0.t0)
                     AND epoch_us(e.ts) <= epoch_us(s0.t0) + 604800000000
                   GROUP BY 1),
            s2 AS (SELECT e.user_id, min(e.ts) AS t2
                   FROM events e JOIN s1 ON e.user_id = s1.user_id
                   WHERE e.event_type = 'purchase'
                     AND epoch_us(e.ts) > epoch_us(s1.t1)
                     AND epoch_us(e.ts) <= epoch_us(s1.t1) + 604800000000
                   GROUP BY 1),
            d AS (SELECT CASE WHEN s2.user_id IS NOT NULL THEN 3
                              WHEN s1.user_id IS NOT NULL THEN 2
                              WHEN s0.user_id IS NOT NULL THEN 1
                              ELSE 0 END AS funnel_depth
                  FROM u LEFT JOIN s0 USING (user_id)
                         LEFT JOIN s1 USING (user_id)
                         LEFT JOIN s2 USING (user_id))
         SELECT CAST(funnel_depth AS BIGINT) AS funnel_depth,
                CAST(count(*) AS BIGINT) AS n_users
         FROM d GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      Events.sequenceFunnel(t(s, dir, "events"), "user_id", "ts", "event_type",
        steps = Seq("view", "click", "purchase"), gapSeconds = 604800L)
        .orderBy("funnel_depth")
    },

    // Power-of-two inter-arrival latency histogram
    // (Events.latencyBuckets): bucket = bit length of the µs delta via
    // length(bin(x)) — exact integer log2, no float edge wobble; both
    // engines print bin() without leading zeros.
    "q195_latency_buckets" -> q(
      """WITH d AS (SELECT event_type,
                           epoch_us(ts) - lag(epoch_us(ts)) OVER (
                             PARTITION BY user_id ORDER BY ts, event_id) AS delta_us
                    FROM events)
         SELECT event_type,
                CAST(length(bin(delta_us)) AS INTEGER) AS bucket,
                CAST(count(*) AS BIGINT) AS n_events
         FROM d WHERE delta_us IS NOT NULL
         GROUP BY 1, 2 ORDER BY 1, 2""") { (s, dir) =>
      Events.latencyBuckets(t(s, dir, "events"), "user_id", "ts",
        "event_type", "event_id")
        .orderBy("event_type", "bucket")
    },

    // Behavioral diversity deciles: per-user Gini-Simpson index
    // (1 − Σp²) over event-type mix — exact integers (ss·1e6 ≤ 1e6·n²,
    // no entropy logs), bucketed into deciles. Two stacked aggregates,
    // both keyed on the user.
    "q199_type_diversity" -> q(
      """WITH tc AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
                     FROM events GROUP BY 1, 2),
            u AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
                         CAST(sum(c * c) AS BIGINT) AS ss
                  FROM tc GROUP BY 1),
            d AS (SELECT 1000000 - ss * 1000000 // (n * n) AS div_e6 FROM u)
         SELECT CAST(div_e6 // 100000 AS BIGINT) AS decile,
                CAST(count(*) AS BIGINT) AS n_users
         FROM d GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val tc = t(s, dir, "events")
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
      tc.groupBy("user_id")
        .agg(sum("c").as("n"), sum(col("c") * col("c")).as("ss"))
        .select(expr("1000000L - ss * 1000000L DIV (n * n)").as("div_e6"))
        .select(expr("div_e6 DIV 100000L").as("decile"))
        .groupBy("decile").agg(count(lit(1)).as("n_users"))
        .orderBy("decile")
    },

    // Linear multi-touch attribution (Events.linearAttribution):
    // purchase value splits equally across the user's view/click/signup
    // touches in the 7-day lookback; untouched conversions credit
    // 'direct'. Per-credit divide rounds to 6 decimals, totals sum as
    // DECIMAL(38,6) (rounded-then-decimal-sum) — exact in any order.
    "q211_attribution" -> q(
      """WITH conv AS (SELECT user_id AS u, ts AS ct,
                              sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
                       FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
            tch AS (SELECT user_id AS u, ts AS tt, event_type AS channel
                    FROM events WHERE event_type IN ('view', 'click', 'signup')),
            j AS (SELECT c.u, c.ct, c.cents, t.tt, t.channel,
                         (t.tt IS NOT NULL AND t.tt < c.ct
                          AND t.tt >= c.ct - INTERVAL 7 DAY) AS hit
                  FROM conv c LEFT JOIN tch t ON c.u = t.u),
            n AS (SELECT *,
                         sum(CASE WHEN hit THEN 1 ELSE 0 END)
                           OVER (PARTITION BY u, ct) AS nt,
                         row_number() OVER (PARTITION BY u, ct
                           ORDER BY hit DESC, tt) AS rn
                  FROM j),
            cr AS (SELECT CASE WHEN nt = 0 THEN 'direct' ELSE channel END AS channel,
                          CASE WHEN nt = 0 THEN CAST(cents AS DOUBLE)
                               ELSE round(CAST(cents AS DOUBLE) / CAST(nt AS DOUBLE), 6)
                          END AS credit
                   FROM n WHERE hit OR rn = 1)
         SELECT channel,
                CAST(sum(CAST(credit AS DECIMAL(38,6))) * 1000000 AS BIGINT)
                  AS attributed_e6,
                CAST(count(*) AS BIGINT) AS n_credits
         FROM cr GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      // registered output is the e6-scaled BIGINT (credits are rounded
      // to 6 decimals, so the decimal sum *1e6 is lossless) — DECIMAL
      // outputs hash-mismatch at the driver harness (r5)
      Events.linearAttribution(t(s, dir, "events"), "user_id", "ts",
        "event_type", "value",
        touchTypes = Seq("view", "click", "signup"), convType = "purchase",
        lookback = "7 days")
        .select(col("channel"),
          expr("CAST(attributed * 1000000 AS BIGINT)").as("attributed_e6"),
          col("n_credits"))
        .orderBy("channel")
    },

    // Partition pruning as a gated query (the layout trilogy's third
    // leg next to q250's buckets and q94's Z-order): events written
    // day-partitioned (offline, memoized; the driver's events span one
    // month, ~30 partitions), then a one-week slice read back — the
    // day predicate must land in the scan's PartitionFilters
    // (directory pruning: 7 of ~30 partitions read, file listing does
    // the filtering before a single row is touched). The builder
    // requires the pruned plan, so a layout regression fails Verify
    // instead of silently scanning everything.
    "q251_partitioned_scan" -> q(
      """SELECT strftime(ts, '%Y-%m-%d') AS day,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         FROM events
         WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-08' AND '2024-01-14'
         GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val path = partitionedEventsPath(s, dir)
      // the directory key round-trips as an INFERRED DATE; the driver
      // envelope needs the yyyy-MM-dd string back (pandas renders a
      // date as 'yyyy-MM-dd 00:00:00' and the hash diverges)
      val out = Readers.parquet(s, path)
        .filter(col("day").between("2024-01-08", "2024-01-14"))
        .groupBy(date_format(col("day"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_events"),
          count_distinct(col("user_id")).as("n_users"))
        .orderBy("day")
      val plan = out.queryExecution.executedPlan.toString
      require(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*day[^\\]]*\\].*"),
        "day slice must prune partitions, not scan them")
      out
    },

    // Dynamic partition pruning as a gated query (the pruning
    // trilogy's RUNTIME leg next to q251's static directory pruning):
    // the day-partitioned events layout joined to a days dim carrying
    // a selective predicate (every 5th day-of-month). The filter lives
    // on the DIM side only, so static pruning cannot see it — the scan
    // must pick its partitions at runtime from the broadcast dim's
    // values (Spark's DPP subquery reuses the broadcast exchange; at
    // 100 TB this is the fact-to-date-dim pattern that turns a
    // month-long scan into 6 directories). The builder requires the
    // dynamicpruning expression in the scan's PartitionFilters, so a
    // planner regression fails Verify instead of silently scanning
    // everything.
    "q253_dpp_join" -> q(
      """SELECT strftime(ts, '%Y-%m-%d') AS day,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                  AS value_cents
         FROM events
         WHERE CAST(strftime(ts, '%d') AS INTEGER) % 5 = 0
         GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val path = partitionedEventsPath(s, dir)
      val dim = t(s, dir, "events")
        .select(to_date(col("ts")).as("day")).distinct()
        .filter(dayofmonth(col("day")) % 5 === 0)
      val ev = Readers.parquet(s, path) // partition key `day` infers as DATE
      val out = ev.join(broadcast(dim), Seq("day"))
        .groupBy(date_format(col("day"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_events"),
          sum(cents(col("value"))).as("value_cents"))
        .orderBy("day")
      val plan = out.queryExecution.executedPlan.toString
      require(plan.toLowerCase.contains("dynamicpruningexpression"),
        "dim-side day predicate must prune fact partitions at runtime (DPP)")
      out
    },

    // Wilson 95% score intervals (Stats.wilsonIntervals) for the
    // high-value rate per event type — exact integer (successes, n)
    // pairs, one identically-shaped double evaluation per group on
    // both engines.
    "q254_wilson_ci" -> q(
      """WITH a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                           CAST(sum(CASE WHEN value >= 5.0 THEN 1 ELSE 0 END)
                             AS BIGINT) AS successes
                    FROM events GROUP BY 1)
         SELECT event_type, n, successes,
                CAST(floor(1000000 * (
                  (successes/n + (1.96*1.96)/(2*n)
                   - 1.96*sqrt(((successes/n)*(1-successes/n) + (1.96*1.96)/(4*n))/n))
                  / (1 + (1.96*1.96)/n)) + 0.5) AS BIGINT) AS wilson_lo_e6,
                CAST(floor(1000000 * (
                  (successes/n + (1.96*1.96)/(2*n)
                   + 1.96*sqrt(((successes/n)*(1-successes/n) + (1.96*1.96)/(4*n))/n))
                  / (1 + (1.96*1.96)/n)) + 0.5) AS BIGINT) AS wilson_hi_e6
         FROM a ORDER BY event_type""") { (s, dir) =>
      graft.operators.Stats.wilsonIntervals(
        t(s, dir, "events"), "event_type", col("value") >= 5.0)
        .orderBy("event_type")
    },

    // Jackknife SE (Stats.jackknifeRatio) of the revenue-per-event
    // ratio with the USER as the resampling unit — the
    // correlated-rows-within-user correction a per-row bootstrap gets
    // wrong. Exact integer replicates; one final sqrt.
    "q255_jackknife_ratio" -> q(
      """WITH per AS (SELECT user_id,
                             CAST(sum(CASE WHEN event_type = 'purchase'
                                           THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                                           ELSE 0 END) AS BIGINT) AS s,
                             CAST(count(*) AS BIGINT) AS n
                      FROM events GROUP BY 1),
            tot AS (SELECT CAST(sum(s) AS BIGINT) AS ts,
                           CAST(sum(n) AS BIGINT) AS tn,
                           CAST(count(*) AS BIGINT) AS g FROM per),
            reps AS (SELECT tot.g, tot.ts, tot.tn,
                            ((tot.ts - per.s) * 1000000) // (tot.tn - per.n) AS t
                     FROM per CROSS JOIN tot),
            m AS (SELECT CAST(sum(t) AS BIGINT) // CAST(max(g) AS BIGINT) AS tbar
                  FROM reps),
            dd AS (SELECT g, ts, tn, t - m.tbar AS d FROM reps CROSS JOIN m)
         SELECT (ts * 1000000) // tn AS theta_e6,
                g AS n_groups,
                CAST(floor(sqrt(CAST(sum(CAST(d AS HUGEINT) * CAST(d AS HUGEINT))
                  AS DOUBLE) * (g - 1) / g) + 0.5) AS BIGINT) AS jk_se_e6
         FROM dd GROUP BY ts, tn, g""") { (s, dir) =>
      graft.operators.Stats.jackknifeRatio(
        t(s, dir, "events"), "user_id",
        when(col("event_type") === "purchase", cents(col("value"))).otherwise(0L),
        lit(1L))
    },

    // Exact dyadic EWMA (Stats.ewmaDaily, α = ½) over daily purchase
    // revenue — the prefix-sum reformulation that keeps a recursive
    // smoother engine-exact.
    "q256_ewma_revenue" -> q(
      """WITH daily AS (SELECT strftime(ts, '%Y-%m-%d') AS day,
                               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                                 AS BIGINT) AS day_cents
                        FROM events WHERE event_type = 'purchase' GROUP BY 1),
            o AS (SELECT day, day_cents,
                         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn
                  FROM daily),
            y AS (SELECT day, day_cents, rn,
                         CASE WHEN rn = 1 THEN day_cents
                              ELSE day_cents * (CAST(1 AS BIGINT) << CAST(rn - 2 AS INTEGER))
                         END AS yv
                  FROM o),
            n AS (SELECT day, day_cents, rn,
                         CAST(sum(yv) OVER (ORDER BY rn
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS BIGINT) AS nacc
                  FROM y)
         SELECT day, day_cents,
                CAST(floor(1000000 * (CAST(nacc AS DOUBLE)
                  / CAST((CAST(1 AS BIGINT) << CAST(rn - 1 AS INTEGER)) AS DOUBLE))
                  + 0.5) AS BIGINT) AS ewma_e6
         FROM n ORDER BY day""") { (s, dir) =>
      val daily = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(sum(cents(col("value"))).as("day_cents"))
      graft.operators.Stats.ewmaDaily(daily, "day", "day_cents")
        .orderBy("day")
    },

    // CUPED variance reduction (Stats.cupedAdjust) for q138's hash-split
    // experiment: per-user pre-period purchase cents (days 1-15) as the
    // covariate, experiment-period cents (days 16-31) as the metric.
    // θ's moments are exact DECIMAL sums; the adjustment itself is an
    // identically-shaped double evaluation floored to e6.
    "q260_cuped" -> q(
      """WITH u AS (SELECT user_id,
                           CASE WHEN substring(md5('cu1' || CAST(user_id AS VARCHAR)), 1, 4)
                                  < '8000' THEN 'A' ELSE 'B' END AS arm,
                           CAST(sum(CASE WHEN event_type = 'purchase'
                                         AND CAST(strftime(ts, '%d') AS INTEGER) <= 15
                                         THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                                         ELSE 0 END) AS BIGINT) AS x,
                           CAST(sum(CASE WHEN event_type = 'purchase'
                                         AND CAST(strftime(ts, '%d') AS INTEGER) > 15
                                         THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                                         ELSE 0 END) AS BIGINT) AS y
                    FROM events GROUP BY 1),
            tot AS (SELECT CAST(sum(x) AS HUGEINT) AS sx,
                           CAST(sum(y) AS HUGEINT) AS sy,
                           CAST(sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT) AS sxy,
                           CAST(sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS HUGEINT) AS sxx,
                           CAST(count(*) AS HUGEINT) AS g
                    FROM u),
            a AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_units,
                         CAST(sum(x) AS HUGEINT) AS sxa,
                         CAST(sum(y) AS HUGEINT) AS sya
                  FROM u GROUP BY 1)
         SELECT arm, n_units,
                CAST(floor(1000000 * (CAST(sya AS DOUBLE) / CAST(n_units AS DOUBLE))
                  + 0.5) AS BIGINT) AS y_mean_e6,
                CAST(floor(1000000 * (
                  CASE WHEN (g * sxx - sx * sx) = 0
                       THEN CAST(sya AS DOUBLE) / CAST(n_units AS DOUBLE)
                       ELSE CAST(sya AS DOUBLE) / CAST(n_units AS DOUBLE)
                            - (CAST(g * sxy - sx * sy AS DOUBLE)
                               / CAST(g * sxx - sx * sx AS DOUBLE))
                              * (CAST(sxa AS DOUBLE) / CAST(n_units AS DOUBLE)
                                 - CAST(sx AS DOUBLE) / CAST(g AS DOUBLE))
                  END) + 0.5) AS BIGINT) AS adj_mean_e6
         FROM a CROSS JOIN tot ORDER BY arm""") { (s, dir) =>
      val units = t(s, dir, "events")
        .groupBy("user_id")
        .agg(
          sum(when(col("event_type") === "purchase" && dayofmonth(col("ts")) <= 15,
            cents(col("value"))).otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase" && dayofmonth(col("ts")) > 15,
            cents(col("value"))).otherwise(0L)).as("y"))
        .withColumn("arm",
          when(substring(md5(concat(lit("cu1"), col("user_id").cast("string"))), 1, 4)
            < "8000", "A").otherwise("B"))
      graft.operators.Stats.cupedAdjust(units, "arm", col("x"), col("y"))
        .orderBy("arm")
    },

    // Kaplan-Meier time-to-first-purchase survival (Stats.kaplanMeier),
    // cohorted by the user's first event type: duration = hours from
    // first event to first purchase, right-censored at the corpus max
    // timestamp for users who never purchase. The e9 survival estimate
    // is an integer floor-division recurrence, so the oracle replays it
    // bit-identically as a recursive CTE — float KM products can't
    // hash-match across engines, integer ones do (q142's trick).
    "q265_kaplan_meier" -> q(
      """WITH mx AS (SELECT max(ts) AS mts FROM events),
            fe AS (SELECT user_id, event_type, ts,
                          row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
                   FROM events),
            org AS (SELECT user_id, event_type AS cohort, ts AS origin_ts
                    FROM fe WHERE rn = 1),
            pur AS (SELECT user_id, min(ts) AS p_ts FROM events
                    WHERE event_type = 'purchase' GROUP BY 1),
            subj AS (SELECT o.cohort,
                            CASE WHEN p.p_ts IS NOT NULL THEN 1 ELSE 0 END AS observed,
                            CAST((epoch_us(CASE WHEN p.p_ts IS NOT NULL
                                                THEN p.p_ts ELSE mx.mts END)
                                  - epoch_us(o.origin_ts)) // 3600000000 AS BIGINT) AS t_hours
                     FROM org o LEFT JOIN pur p ON o.user_id = p.user_id CROSS JOIN mx),
            pt AS (SELECT cohort, t_hours,
                          CAST(sum(observed) AS BIGINT) AS d,
                          CAST(count(*) AS BIGINT) AS all_n
                   FROM subj GROUP BY 1, 2),
            rk AS (SELECT cohort, t_hours, d,
                          CAST(sum(all_n) OVER (PARTITION BY cohort ORDER BY t_hours
                            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                            AS BIGINT) AS n_risk
                   FROM pt),
            ev AS (SELECT cohort, t_hours, d, n_risk,
                          CAST(row_number() OVER (PARTITION BY cohort
                            ORDER BY t_hours) AS BIGINT) AS rn
                   FROM rk WHERE d > 0),
            srec AS (
              WITH RECURSIVE km AS (
                SELECT cohort, t_hours, d, n_risk, rn,
                       1000000000 * (n_risk - d) // n_risk AS surv_e9
                FROM ev WHERE rn = 1
                UNION ALL
                SELECT e.cohort, e.t_hours, e.d, e.n_risk, e.rn,
                       k.surv_e9 * (e.n_risk - e.d) // e.n_risk
                FROM ev e JOIN km k ON e.cohort = k.cohort AND e.rn = k.rn + 1)
              SELECT * FROM km)
         SELECT cohort, t_hours, n_risk, d AS n_events,
                CAST(surv_e9 AS BIGINT) AS surv_e9
         FROM srec ORDER BY cohort, t_hours""") { (s, dir) =>
      val ev = t(s, dir, "events")
      val first = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val org2 = ev.withColumn("__rn", row_number().over(first))
        .filter(col("__rn") === 1)
        .select(col("user_id"), col("event_type").as("cohort"),
          col("ts").as("__origin"))
      val pur = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(min("ts").as("__p"))
      val mx = ev.agg(max("ts").as("__mts"))
      val subj = org2.join(pur, Seq("user_id"), "left")
        .crossJoin(broadcast(mx))
        .select(col("cohort"),
          when(col("__p").isNotNull, 1L).otherwise(0L).as("observed"),
          expr("""(unix_micros(CASE WHEN __p IS NOT NULL THEN __p ELSE __mts END)
                  - unix_micros(__origin)) DIV 3600000000""").as("t_hours"))
      graft.operators.Stats.kaplanMeier(subj, "cohort", "t_hours", "observed")
        .orderBy("cohort", "t_hours")
    },

    // Cramér's V (Stats.cramersV) over the q137 (event_type x
    // day-of-week) contingency — the normalized effect size the raw
    // chi-square can't give: same exact full-grid machinery, one more
    // sqrt on exact operands.
    "q279_cramers_v" -> q(
      """WITH obs AS (SELECT event_type AS a,
                             date_part('dow', CAST(ts AS DATE)) AS b,
                             CAST(count(*) AS HUGEINT) AS o
                      FROM events GROUP BY 1, 2),
            r AS (SELECT a, sum(o) AS rt FROM obs GROUP BY 1),
            c AS (SELECT b, sum(o) AS ct FROM obs GROUP BY 1),
            t AS (SELECT sum(o) AS n,
                         CAST(count(DISTINCT a) AS BIGINT) AS ka,
                         CAST(count(DISTINCT b) AS BIGINT) AS kb
                  FROM obs),
            chi AS (SELECT sum(CAST(round(
                      CAST((o*n - rt*ct) * (o*n - rt*ct) AS DOUBLE)
                        / CAST(n * rt * ct AS DOUBLE), 6) AS DECIMAL(18,6))) AS chi2
                    FROM (SELECT r.a, c.b, r.rt, c.ct, COALESCE(obs.o, 0) AS o
                          FROM r CROSS JOIN c
                          LEFT JOIN obs ON obs.a = r.a AND obs.b = c.b), t)
         SELECT CAST(chi.chi2 * 1000000 AS BIGINT) AS chi2_e6,
                CAST((t.ka - 1) * (t.kb - 1) AS BIGINT) AS dof,
                CAST(t.n AS BIGINT) AS n_rows,
                CASE WHEN t.ka < 2 OR t.kb < 2 THEN NULL
                     ELSE CAST(floor(1000000 * sqrt(CAST(chi.chi2 AS DOUBLE)
                            / (CAST(t.n AS DOUBLE) * least(t.ka - 1, t.kb - 1)))
                            + 0.5) AS BIGINT) END AS v_e6
         FROM chi, t""") { (s, dir) =>
      val ev = t(s, dir, "events").select(col("event_type").as("a"),
        (dayofweek(col("ts")) - 1).cast("long").as("b"))
      graft.operators.Stats.cramersV(ev, "a", "b")
    },

    // Interval x interval overlap join (RangeJoin.intervalOverlapJoin):
    // which gap-based user sessions overlap each day's opening hour.
    // Bin-bucketed equi-join plan with a canonical-bin gate (each pair
    // once, no distinct), vs the BNLJ a raw inequality join becomes.
    "q281_interval_overlap" -> q(
      """WITH s0 AS (SELECT user_id, ts, event_id,
                CASE WHEN lag(ts) OVER w IS NULL THEN 1
                     WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1
                     ELSE 0 END AS is_new
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            s1 AS (SELECT user_id, ts,
                     sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS session_seq
                   FROM s0),
            sess AS (SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
                            min(ts) AS s_lo, max(ts) AS s_hi
                     FROM s1 GROUP BY 1, 2),
            win AS (SELECT day, min(ts) AS w_lo, min(ts) + INTERVAL 1 HOUR AS w_hi
                    FROM (SELECT strftime(ts, '%Y-%m-%d') AS day, ts FROM events)
                    GROUP BY 1)
         SELECT s.user_id, s.session_seq, w.day,
                CAST((epoch_us(least(s.s_hi, w.w_hi))
                      - epoch_us(greatest(s.s_lo, w.w_lo)))
                     // 1000000 AS BIGINT) AS overlap_sec
         FROM sess s JOIN win w ON s.s_lo <= w.w_hi AND w.w_lo <= s.s_hi
         ORDER BY user_id, session_seq, day""") { (s, dir) =>
      val ev = t(s, dir, "events")
      val sess = Events.sessionize(ev, "user_id", "ts", 1800L, "event_id")
        .groupBy(col("user_id"), col("session_seq"))
        .agg(min("ts").as("s_lo"), max("ts").as("s_hi"))
      val win = ev
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(min("ts").as("w_lo"))
        .select(col("day"), col("w_lo"),
          (col("w_lo") + expr("INTERVAL 1 HOUR")).as("w_hi"))
      graft.operators.RangeJoin
        .intervalOverlapJoin(sess, win, "s_lo", "s_hi", "w_lo", "w_hi",
          binSizeSec = 21600L)
        .select(col("user_id"), col("session_seq"), col("day"),
          expr("""(unix_micros(least(s_hi, w_hi))
                   - unix_micros(greatest(s_lo, w_lo))) DIV 1000000""")
            .as("overlap_sec"))
        .orderBy("user_id", "session_seq", "day")
    },

    // MATCH_RECOGNIZE-style sequence pattern counting
    // (Events.sequencePatternCounts): encode each user's event history
    // as a one-letter-per-event string, count non-overlapping
    // 'view ... purchase' conversions with no purchase in between.
    "q282_event_pattern" -> q(
      """WITH s AS (SELECT user_id,
                      string_agg(substring(event_type, 1, 1), ''
                                 ORDER BY ts, event_id) AS seq
                    FROM events GROUP BY 1)
         SELECT user_id, CAST(length(seq) AS BIGINT) AS n_events,
                CAST(len(regexp_extract_all(seq, 'v[^p]*p')) AS BIGINT) AS n_matches
         FROM s ORDER BY user_id""") { (s, dir) =>
      Events.sequencePatternCounts(t(s, dir, "events"),
          "user_id", "ts", "event_type", "event_id", "v[^p]*p")
        .orderBy("user_id")
    },

    // Inter-arrival burstiness per event type (Events.burstiness):
    // (sigma - mu)/(sigma + mu) of microsecond gaps, the n-cancelling
    // exact-operand form — bursty streams > 0, metronomes < 0.
    "q286_burstiness" -> q(
      """WITH ia AS (SELECT event_type,
                       epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY event_type
                                                             ORDER BY ts, event_id)) AS gap
                     FROM events),
            m AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
                         sum(CAST(gap AS HUGEINT)) AS s,
                         sum(CAST(gap AS HUGEINT) * gap) AS sq
                  FROM ia WHERE gap IS NOT NULL GROUP BY 1)
         SELECT event_type, CAST(n AS BIGINT) AS n_gaps,
                CASE WHEN s = 0 THEN NULL
                     ELSE CAST(floor(1000000 * (
                       (sqrt(CAST(n*sq - s*s AS DOUBLE)) - CAST(s AS DOUBLE))
                       / (sqrt(CAST(n*sq - s*s AS DOUBLE)) + CAST(s AS DOUBLE)))
                       + 0.5) AS BIGINT) END AS burstiness_e6
         FROM m ORDER BY event_type""") { (s, dir) =>
      Events.burstiness(t(s, dir, "events"), "event_type", "ts", "event_id")
        .orderBy("event_type")
    },

    // Gaps-and-islands activity streaks (Events.activityStreaks): per
    // user, total active days / number of runs / longest run of
    // consecutive calendar days — the classic `day - row_number()`
    // island anchor, no self-join. Exercises a key-partitioned window
    // over the (user, day)-deduped relation.
    "q290_activity_streaks" -> q(
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
                       FROM events),
            isl AS (SELECT user_id,
                           d - CAST(row_number() OVER (
                             PARTITION BY user_id ORDER BY d) AS INTEGER)
                             AS anchor
                    FROM days),
            runs AS (SELECT user_id, anchor,
                            CAST(count(*) AS BIGINT) AS len
                     FROM isl GROUP BY 1, 2)
         SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
                CAST(count(*) AS BIGINT) AS n_streaks,
                CAST(max(len) AS BIGINT) AS longest_streak
         FROM runs GROUP BY 1 ORDER BY user_id""") { (s, dir) =>
      Events.activityStreaks(t(s, dir, "events"), "user_id", "ts")
        .orderBy("user_id")
    },

    // Keyed linear recurrence via the CUSTOM PHYSICAL OPERATOR
    // (plans/Recurrence: DecayedScan logical node -> GraftStrategy ->
    // DecayedScanExec): per user, the exponentially-decayed running
    // activity value s := floorDiv(s*9, 10) + v over every event in
    // (ts, event_id) order — the per-key fold a window frame cannot
    // express. Every intermediate state is emitted and hash-checked
    // against a recursive-CTE oracle.
    "q294_decayed_activity" -> q(
      """WITH RECURSIVE seq AS (
           SELECT user_id, event_id,
                  CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn
           FROM events),
         rec AS (
           SELECT user_id, event_id, rn, v AS s FROM seq WHERE rn = 1
           UNION ALL
           SELECT seq.user_id, seq.event_id, seq.rn,
                  (r.s * 9) // 10 + seq.v
           FROM rec r JOIN seq
             ON seq.user_id = r.user_id AND seq.rn = r.rn + 1)
         SELECT user_id, event_id, CAST(s AS BIGINT) AS decayed_cents
         FROM rec ORDER BY user_id, event_id""") { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"),
          cents(col("value")).as("__v"))
      graft.plans.Recurrence.decayedSum(ev, "user_id", Seq("ts", "event_id"),
          "__v", num = 9, den = 10, outName = "decayed_cents")
        .select(col("user_id"), col("event_id"), col("decayed_cents"))
        .orderBy("user_id", "event_id")
    },

    // Each user's CURRENT decayed activity score — the q294 recurrence
    // reduced to its final per-key state via one max-struct aggregate
    // (the serving table a decay-scored ranking reads), plus the event
    // count. Composition of the custom physical operator.
    "q303_decayed_last" -> q(
      """WITH RECURSIVE seq AS (
           SELECT user_id, event_id,
                  CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn
           FROM events),
         rec AS (
           SELECT user_id, event_id, rn, v AS s FROM seq WHERE rn = 1
           UNION ALL
           SELECT seq.user_id, seq.event_id, seq.rn,
                  (r.s * 9) // 10 + seq.v
           FROM rec r JOIN seq
             ON seq.user_id = r.user_id AND seq.rn = r.rn + 1),
         last AS (SELECT user_id, CAST(max(rn) AS BIGINT) AS n_events
                  FROM seq GROUP BY 1)
         SELECT r.user_id, l.n_events, CAST(r.s AS BIGINT) AS decayed_cents
         FROM rec r JOIN last l
           ON r.user_id = l.user_id AND r.rn = l.n_events
         ORDER BY r.user_id""") { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"),
          cents(col("value")).as("__v"))
      graft.plans.Recurrence.decayedSum(ev, "user_id", Seq("ts", "event_id"),
          "__v", num = 9, den = 10, outName = "decayed_cents")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          max(struct(col("ts"), col("event_id"), col("decayed_cents"))).as("__m"))
        .select(col("user_id"), col("n_events"),
          col("__m.decayed_cents").as("decayed_cents"))
        .orderBy("user_id")
    }
  )

  /** q251's day-partitioned events layout, built once per
    * (session, sfDir) into a tmp dir — same offline-layout memo split
    * as q250's buckets. Plain parquet path (not a catalog table), so
    * the day partition column round-trips as the directory key. */
  private val partMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def partitionedEventsPath(s: org.apache.spark.sql.SparkSession,
                                    dir: String): String =
    partMemo.computeIfAbsent(s"${System.identityHashCode(s)}|$dir", _ => {
      val path = sys.props("java.io.tmpdir") +
        "/graft_events_byday_" + Integer.toHexString(dir.hashCode)
      val ev = t(s, dir, "events")
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      // one shuffle on the partition key => one file per day instead
      // of (tasks × days) small files
      graft.operators.TableStore.writePartitioned(
        ev.repartition(col("day")), path, Seq("day"))
      path
    })
}
