package graft
package suite

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{AsOf, Behavior, Sessionize}
import Shared._

/** The event-analytics rows over `events`: sessions, funnels, retention,
  * transitions, as-of joins, time windows, and time-series smoothing,
  * seasonality and change detection. */
object EvRows {
  val rows: Seq[RowDef] = Seq(
    RowDef("ev_gapfill", { (s, dir) =>
      // time-series gap filling: per-user 5-min spine between first and
      // last event, left join counts, zero-fill. The spine is generated in
      // TWO levels — day starts first, then ≤288 five-minute buckets
      // within each day — so no row ever materializes more than a day's
      // array, however long a user's [first, last] range is (a single
      // flat sequence(b0, b1, 300) holds ~315k elements in one row for a
      // 3-year user: an executor-OOM shape at corpus scale).
      val day = 86400L
      val ev = t(s, dir, "events")
        .select(col("user_id"),
          (floor(unix_timestamp(col("ts")).cast(DoubleType) / 300) * 300)
            .cast(LongType).as("bucket"))
      val counts = ev.groupBy(col("user_id"), col("bucket")).agg(count(lit(1)).as("n"))
      val ranges = ev.groupBy(col("user_id"))
        .agg(min(col("bucket")).as("b0"), max(col("bucket")).as("b1"))
      // all values are 300-aligned and day = 288×300, so the per-day
      // unions reproduce sequence(b0, b1, 300) element-for-element
      val days = ranges.select(col("user_id"), col("b0"), col("b1"),
        explode(sequence(col("b0") - pmod(col("b0"), lit(day)), col("b1"), lit(day)))
          .as("day0"))
      val spine = days.select(col("user_id"),
        explode(sequence(
          greatest(col("day0"), col("b0")),
          least(col("day0") + (day - 300L), col("b1")),
          lit(300L))).as("bucket"))
      spine.join(counts, Seq("user_id", "bucket"), "left")
        .select(col("user_id"), col("bucket"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("user_id", "bucket")
    }, oracle =
      """WITH e AS (SELECT user_id,
        |  CAST(FLOOR(CAST(CAST(FLOOR(epoch(ts)) AS BIGINT) AS DOUBLE) / 300) * 300 AS BIGINT) AS bucket
        |FROM events),
        |c AS (SELECT user_id, bucket, COUNT(*) AS n FROM e GROUP BY user_id, bucket),
        |r AS (SELECT user_id, MIN(bucket) AS b0, MAX(bucket) AS b1 FROM e GROUP BY user_id),
        |sp AS (SELECT user_id, unnest(range(b0, b1 + 300, 300)) AS bucket FROM r)
        |SELECT sp.user_id, sp.bucket, COALESCE(c.n, 0) AS n
        |FROM sp LEFT JOIN c ON sp.user_id = c.user_id AND sp.bucket = c.bucket
        |ORDER BY sp.user_id, sp.bucket""".stripMargin),
    // ---- behavioral analytics (funnel / retention / transitions / interpolate) ----
    RowDef("ev_funnel", { (s, dir) =>
      Behavior.funnel(t(s, dir, "events"), Seq("view", "click", "purchase"))
    }, oracle =
      // ordered funnel: step-i time = earliest step-i event strictly
      // after the step-(i-1) time, chained windows (mirrors Behavior.funnel)
      """WITH w1 AS (SELECT user_id, ts, event_type,
        |  min(CASE WHEN event_type = 'view' THEN ts END) OVER (PARTITION BY user_id) AS t0 FROM events),
        |w2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts > t0 THEN ts END) OVER (PARTITION BY user_id) AS t1 FROM w1),
        |w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t1 THEN ts END) OVER (PARTITION BY user_id) AS t2 FROM w2)
        |SELECT count(DISTINCT CASE WHEN t0 IS NOT NULL THEN user_id END) AS step_1,
        |  count(DISTINCT CASE WHEN t1 IS NOT NULL THEN user_id END) AS step_2,
        |  count(DISTINCT CASE WHEN t2 IS NOT NULL THEN user_id END) AS step_3
        |FROM w3""".stripMargin),
    RowDef("ev_stationary", { (s, dir) =>
      // long-run state occupancy of the behavior Markov chain: 3
      // integer-scaled power iterations over the transition counts —
      // bit-exact (the pagerank determinism recipe), oracle unrolls
      // the same arithmetic
      Behavior.stationaryDist(Behavior.transitions(t(s, dir, "events")),
          iters = 3)
        .orderBy("state")
    }, oracle = sqlStationary),
    RowDef("ev_stationary_relabel", { (s, dir) =>
      // NON-REPLAY witness for ev_stationary: relabeling equivariance.
      // States are pushed through a bijection (string reversal) BEFORE
      // transitions + power iteration and mapped back after; the oracle
      // is the plain original-label unrolling (ev_stationary's SQL
      // verbatim), so any label-order or hash-order dependence in the
      // engine's iteration — a bug class the replay oracle can never
      // see — diverges loudly here.
      val ev = t(s, dir, "events")
        .withColumn("event_type", reverse(col("event_type")))
      Behavior.stationaryDist(Behavior.transitions(ev), iters = 3)
        .select(reverse(col("state")).as("state"), col("pi"))
        .orderBy("state")
    }, oracle =
      // relabeling-equivariance witness: the ENGINE ran the iteration on
      // reversed state labels and mapped back; the oracle is the plain
      // original-label unrolling — identical SQL by construction
      sqlStationary),
    RowDef("ev_funnel_window", { (s, dir) =>
      // conversion-window funnel: click and purchase only count within
      // 24h of the user's FIRST view (first-anchor semantics, exact
      // int64-microsecond window arithmetic)
      Behavior.funnelWindowed(t(s, dir, "events"),
        Seq("view", "click", "purchase"), windowSeconds = 86400L)
    }, oracle =
      """WITH w1 AS (SELECT user_id, ts, event_type,
        |  min(CASE WHEN event_type = 'view' THEN ts END) OVER (PARTITION BY user_id) AS t0 FROM events),
        |w2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts > t0
        |  AND epoch_us(ts) <= epoch_us(t0) + CAST(86400 AS BIGINT) * 1000000 THEN ts END)
        |  OVER (PARTITION BY user_id) AS t1 FROM w1),
        |w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t1
        |  AND epoch_us(ts) <= epoch_us(t0) + CAST(86400 AS BIGINT) * 1000000 THEN ts END)
        |  OVER (PARTITION BY user_id) AS t2 FROM w2)
        |SELECT count(DISTINCT CASE WHEN t0 IS NOT NULL THEN user_id END) AS step_1,
        |  count(DISTINCT CASE WHEN t1 IS NOT NULL THEN user_id END) AS step_2,
        |  count(DISTINCT CASE WHEN t2 IS NOT NULL THEN user_id END) AS step_3
        |FROM w3""".stripMargin),
    RowDef("ev_retention", { (s, dir) =>
      Behavior.retention(t(s, dir, "events")).orderBy("cohort_week", "week_offset")
    }, oracle =
      """WITH e AS (SELECT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS active_week FROM events),
        |c AS (SELECT *, min(active_week) OVER (PARTITION BY user_id) AS cohort_week FROM e)
        |SELECT cohort_week,
        |  CAST(date_diff('day', cohort_week, active_week) / 7 AS BIGINT) AS week_offset,
        |  count(DISTINCT user_id) AS users
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    RowDef("ev_anomaly", { (s, dir) =>
      // rolling z-score outlier gate, cross-multiplied to pure int64 on
      // centi-units: (n*x - s1)^2 > z^2*(n*s2 - s1^2) over the 5
      // PRECEDING events per user — no sqrt, no float mean, so the
      // verdict replays bit-exactly in the oracle's window SQL
      Behavior.anomalies(t(s, dir, "events"), k = 5, z = 3)
        .orderBy("user_id", "event_id")
    }, oracle =
      """WITH e AS (SELECT user_id, event_id, ts, value,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v FROM events),
        |w AS (SELECT user_id, event_id, ts, value, v,
        |    count(v) OVER win AS n, sum(v) OVER win AS s1, sum(v * v) OVER win AS s2
        |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id, ts, value, n AS n_prev,
        |  (n >= 3 AND (n * v - s1) * (n * v - s1) > 9 * (n * s2 - s1 * s1)) AS is_anomaly
        |FROM w ORDER BY user_id, event_id""".stripMargin),
    RowDef("ev_acf", { (s, dir) =>
      // per-user autocorrelation at lags 1..3: is the metric stream
      // white noise, sticky, or periodic? n²-cross-multiplied
      // deviations (d = n·x − Σx exact int64), D38 product sums, one
      // IEEE division per (user, lag) — bit-replayable at any
      // partitioning; one window sort per user computes all 3 leads
      Behavior.autocorrelation(t(s, dir, "events"), maxLag = 3)
        .orderBy("user_id", "lag")
    }, oracle =
      // ACF replay: the same n²-cross-multiplied deviations, one
      // window pass for all three leads, HUGEINT product sums, one
      // division per (user, lag)
      """WITH e AS (SELECT user_id, event_id, ts,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v FROM events
        |  WHERE value IS NOT NULL),
        |st AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n, SUM(v) AS s FROM e GROUP BY user_id),
        |d AS (SELECT e.user_id, st.n, e.ts, e.event_id, st.n * e.v - st.s AS d0
        |  FROM e JOIN st USING (user_id)),
        |l AS (SELECT user_id, n, d0,
        |    lead(d0, 1) OVER w AS d1, lead(d0, 2) OVER w AS d2, lead(d0, 3) OVER w AS d3
        |  FROM d WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |agg AS (SELECT user_id, n, SUM(CAST(d0 AS HUGEINT) * d0) AS den,
        |    SUM(CAST(d0 AS HUGEINT) * d1) AS n1,
        |    SUM(CAST(d0 AS HUGEINT) * d2) AS n2,
        |    SUM(CAST(d0 AS HUGEINT) * d3) AS n3
        |  FROM l GROUP BY user_id, n)
        |SELECT user_id, lag, n, acf FROM (
        |  SELECT user_id, CAST(1 AS BIGINT) AS lag, n,
        |    CASE WHEN den <> 0 AND n1 IS NOT NULL THEN CAST(n1 AS DOUBLE) / CAST(den AS DOUBLE) END AS acf FROM agg
        |  UNION ALL SELECT user_id, CAST(2 AS BIGINT), n,
        |    CASE WHEN den <> 0 AND n2 IS NOT NULL THEN CAST(n2 AS DOUBLE) / CAST(den AS DOUBLE) END FROM agg
        |  UNION ALL SELECT user_id, CAST(3 AS BIGINT), n,
        |    CASE WHEN den <> 0 AND n3 IS NOT NULL THEN CAST(n3 AS DOUBLE) / CAST(den AS DOUBLE) END FROM agg)
        |ORDER BY user_id, lag""".stripMargin),
    RowDef("ev_trend", { (s, dir) =>
      // windowed Mann–Kendall drift monitor: pairwise sign trend over
      // each user's 16 most recent events (bounded k² work per user),
      // tie-corrected 18·Var exact int64, trend = S/√(Var) as a fixed
      // double tree
      Behavior.mannKendallRecent(t(s, dir, "events"), k = 16)
        .orderBy("user_id")
    }, oracle =
      // Mann–Kendall replay: newest-16 window, pairwise CASE signs,
      // tie-corrected 18·Var, identical S/√(Var/18) double tree
      """WITH e AS (SELECT user_id, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v FROM events
        |  WHERE value IS NOT NULL),
        |r AS (SELECT user_id, v,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM e),
        |rec AS (SELECT user_id, 17 - rn AS p, v FROM r WHERE rn <= 16),
        |sgn AS (SELECT x.user_id,
        |    CAST(SUM(CASE WHEN y.v > x.v THEN 1 WHEN y.v < x.v THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM rec x JOIN rec y ON x.user_id = y.user_id AND x.p < y.p GROUP BY x.user_id),
        |np AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM rec GROUP BY user_id),
        |ti AS (SELECT user_id, CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie
        |  FROM (SELECT user_id, v, COUNT(*) AS t FROM rec GROUP BY user_id, v) GROUP BY user_id)
        |SELECT np.user_id, np.n, sgn.s_stat,
        |  CAST(np.n * (np.n - 1) * (2 * np.n + 5) - ti.tie AS BIGINT) AS var18,
        |  CASE WHEN np.n * (np.n - 1) * (2 * np.n + 5) - ti.tie > 0
        |    THEN CAST(sgn.s_stat AS DOUBLE)
        |       / SQRT(CAST(np.n * (np.n - 1) * (2 * np.n + 5) - ti.tie AS DOUBLE) / 18.0) END AS trend
        |FROM np JOIN ti USING (user_id) JOIN sgn USING (user_id)
        |WHERE np.n >= 2 ORDER BY np.user_id""".stripMargin),
    RowDef("ev_ewma", { (s, dir) =>
      // per-user exponential smoother, α = 1/5: chronological left
      // fold per key (aggregate HOF), rational-coefficient step
      // (x + 4·acc)/5 so the IEEE sequence replays bit-exactly in the
      // oracle's list_reduce
      Behavior.ewmaLast(t(s, dir, "events"), aNum = 1L, aDen = 5L)
        .orderBy("user_id")
    }, oracle =
      // same left fold, same rational step (1*x + 4*acc)/5 — identical
      // IEEE op sequence, so the doubles hash-match
      """SELECT user_id, count(*) AS n_events,
        |  list_reduce(list(CAST(value AS DOUBLE) ORDER BY ts, value),
        |    (acc, x) -> (1 * x + 4 * acc) / 5) AS ewma
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    RowDef("ev_attribution", { (s, dir) =>
      // first/last-touch credit for each purchase; error events are
      // deliberately NOT touches (conversions with only errors before
      // them attribute to NULL = "direct")
      Behavior.attribution(t(s, dir, "events"), conversionType = "purchase",
          touchTypes = Seq("view", "click", "signup"))
        .orderBy("event_id")
    }, oracle = {
      val touch = "CASE WHEN event_type IN ('view','click','signup') THEN event_type END"
      val frame = "OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
      s"""WITH o AS (SELECT event_id, user_id, ts, event_type,
         |  first_value($touch IGNORE NULLS) $frame AS first_touch,
         |  last_value($touch IGNORE NULLS) $frame AS last_touch
         |FROM events)
         |SELECT event_id, user_id, ts, first_touch, last_touch
         |FROM o WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin
    }),
    RowDef("ev_transitions", { (s, dir) =>
      Behavior.transitions(t(s, dir, "events")).orderBy("prev_type", "next_type")
    }, oracle =
      """WITH o AS (SELECT user_id, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type FROM events)
        |SELECT prev_type, event_type AS next_type, count(*) AS transitions
        |FROM o WHERE prev_type IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    RowDef("ev_interpolate", { (s, dir) =>
      // deterministic mask (id % 7 == 0 → missing) replayed identically
      // in the oracle; output = the reconstructed rows only
      val masked = t(s, dir, "events").withColumn("value",
        when(pmod(col("event_id"), lit(7L)) =!= 0L, col("value")))
      Behavior.interpolate(masked, "value")
        .filter(pmod(col("event_id"), lit(7L)) === 0L)
        .select("event_id", "user_id", "value").orderBy("event_id")
    }, oracle =
      // linear interpolation over the id%7 deterministic mask; time math
      // in exact int64 micros, only the final fraction is IEEE double
      """WITH m AS (SELECT user_id, event_id, ts,
        |  CASE WHEN event_id % 7 <> 0 THEN value END AS v FROM events),
        |f AS (SELECT *,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_v,
        |  last_value(CASE WHEN v IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_t,
        |  first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_v,
        |  first_value(CASE WHEN v IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_t
        |FROM m)
        |SELECT event_id, user_id,
        |  CASE WHEN p_v IS NOT NULL AND n_v IS NOT NULL
        |    THEN p_v + (n_v - p_v) * (CAST(epoch_us(ts) - p_t AS DOUBLE) / CAST(n_t - p_t AS DOUBLE))
        |    ELSE COALESCE(p_v, n_v) END AS value
        |FROM f WHERE event_id % 7 = 0 ORDER BY event_id""".stripMargin),
    RowDef("ev_cusum", { (s, dir) =>
      // sequential changepoint detection: one-sided CUSUM per user in
      // exact centi-int64 via the prefix-min identity (no stateful
      // fold — two running windows over one shuffle); alarms replay
      // bit-identically
      Behavior.cusum(t(s, dir, "events"), kCenti = 5000L, hCenti = 20000L)
        .select(col("event_id"), col("user_id"), col("cusum_c"), col("alarm"))
        .orderBy("event_id")
    }, oracle =
      // interval union (gaps-and-islands): running max end over strictly
      // preceding intervals opens islands; exact int64 µs arithmetic
      """WITH s AS (SELECT event_id, user_id, ts,
        |    SUM(CAST(FLOOR(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) - 5000)
        |      OVER w AS p
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |m AS (SELECT event_id, user_id, p,
        |    MIN(LEAST(p, 0)) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pmin
        |  FROM s)
        |SELECT event_id, user_id, CAST(p - pmin AS BIGINT) AS cusum_c,
        |  p - pmin > 20000 AS alarm
        |FROM m ORDER BY event_id""".stripMargin),
    RowDef("ev_ohlc", { (s, dir) =>
      // hourly OHLC bars over the event metric: one bucket-keyed
      // aggregate, argmin/argmax over the total (ts, event_id) order
      Behavior.resampleOhlc(t(s, dir, "events"), date_trunc("hour", col("ts")))
    }, oracle =
      """WITH h AS (SELECT date_trunc('hour', ts) AS bucket, ts, event_id, value FROM events),
        |o AS (SELECT bucket, value,
        |    row_number() OVER (PARTITION BY bucket ORDER BY ts, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY bucket ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM h)
        |SELECT bucket,
        |  MIN(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  MAX(value) AS high, MIN(value) AS low,
        |  MIN(CASE WHEN rn_d = 1 THEN value END) AS close,
        |  COUNT(*) AS volume,
        |  CAST(SUM(CAST(FLOOR(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS vsum
        |FROM o GROUP BY bucket ORDER BY bucket""".stripMargin),
    RowDef("ev_holt", { (s, dir) =>
      // Holt level+trend smoothing per user (α=2/10, β=3/10): the
      // trending-metric sibling of ev_ewma, same rational-coefficient
      // fold determinism; oracle replays the recursion per user
      Behavior.holtLast(t(s, dir, "events"), 2, 10, 3, 10)
        .orderBy("user_id")
    }, oracle =
      """WITH RECURSIVE l AS (
        |  SELECT user_id, list(CAST(value AS DOUBLE) ORDER BY ts, value) AS vals,
        |    COUNT(*) AS n FROM events GROUP BY user_id),
        |rec AS (
        |  SELECT user_id, n, vals, 1 AS i, vals[1] AS l,
        |    CASE WHEN n >= 2 THEN vals[2] - vals[1] ELSE 0.0 END AS b
        |  FROM l
        |  UNION ALL
        |  SELECT user_id, n, vals, i + 1,
        |    (2 * vals[i + 1] + 8 * (l + b)) / 10,
        |    (3 * ((2 * vals[i + 1] + 8 * (l + b)) / 10 - l) + 7 * b) / 10
        |  FROM rec WHERE i < n)
        |SELECT user_id, n AS n_events, l AS level, b AS trend
        |FROM rec WHERE i = n ORDER BY user_id""".stripMargin),
    RowDef("ev_holt_ramp", { (s, dir) =>
      // NON-REPLAY witness for ev_holt: on an exactly linear series
      // Holt's recursion is a FIXPOINT — level ends at the last ramp
      // value and trend at the slope, for any smoothing constants
      // (dyadic 1/2 here so every IEEE step is exact on integer
      // values). The ramp is built deterministically from events
      // (value = user_id%50 + (user_id%7+1)·t over the per-user
      // (ts, event_id) order); the oracle computes the CLOSED FORM
      // base + slope·n and never runs the recursion, so an init /
      // slice / association bug shared with the ev_holt replay oracle
      // fails here.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val ramp = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("_t", row_number().over(w).cast(LongType))
        .withColumn("value",
          (col("user_id") % 50 + (col("user_id") % 7 + 1) * col("_t"))
            .cast(DoubleType))
      Behavior.holtLast(ramp, 1, 2, 1, 2).orderBy("user_id")
    }, oracle =
      // CLOSED FORM — no recursion: on the deterministic linear ramp the
      // engine built (base = user_id%50, slope = user_id%7+1, t = 1..n),
      // Holt with any smoothing lands at level = base + slope*n and
      // trend = slope (trend 0 for single-event users)
      """SELECT user_id, COUNT(*) AS n_events,
        |  CAST(user_id % 50 + (user_id % 7 + 1) * COUNT(*) AS DOUBLE) AS level,
        |  CAST(CASE WHEN COUNT(*) >= 2 THEN user_id % 7 + 1 ELSE 0 END AS DOUBLE) AS trend
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    RowDef("ev_seasonal_outliers", { (s, dir) =>
      // composition: the 20 events most anomalous GIVEN their
      // time-of-day (largest |seasonal residual|) — deseasonalize,
      // then TakeOrdered on the exact-replay residual
      Behavior.seasonalDecompose(
          t(s, dir, "events").select(col("event_id"), col("ts"), col("value")),
          "value", hour(col("ts")).cast(LongType), keyName = "hr")
        .select(col("event_id"), col("hr"), col("value"), col("residual"))
        .orderBy(abs(col("residual")).desc, col("event_id"))
        .limit(20)
    }, oracle =
      """WITH m AS (SELECT EXTRACT(HOUR FROM ts) AS hr,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS seasonal
        |  FROM events GROUP BY 1)
        |SELECT event_id, CAST(m.hr AS BIGINT) AS hr, value,
        |  value - seasonal AS residual
        |FROM events e JOIN m ON EXTRACT(HOUR FROM e.ts) = m.hr
        |ORDER BY ABS(value - seasonal) DESC, event_id LIMIT 20""".stripMargin),
    RowDef("ev_top_paths", { (s, dir) =>
      // path analysis: the 15 most frequent 3-step event sequences
      // across user journeys — one lead-window pass builds the
      // trigrams (no self-joins), TakeOrdered bounds the ranking
      Behavior.topPaths(t(s, dir, "events"), k = 3, topN = 15)
    }, oracle =
      """WITH s AS (SELECT user_id, event_type,
        |    lead(event_type, 1) OVER w AS e1, lead(event_type, 2) OVER w AS e2
        |  FROM events WHERE event_type IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_type || '>' || e1 || '>' || e2 AS path, COUNT(*) AS n
        |FROM s WHERE e2 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 15""".stripMargin),
    RowDef("ev_seasonal", { (s, dir) =>
      // seasonal-naive decomposition: hour-of-day mean (exact decimal
      // sum / count) broadcast back, residual per event — the
      // is-this-spike-real-or-just-9am contextualizer
      Behavior.seasonalDecompose(
          t(s, dir, "events").select(col("event_id"), col("ts"), col("value")),
          "value", hour(col("ts")).cast(LongType), keyName = "hr")
        .select(col("event_id"), col("hr"), col("value"),
          col("seasonal"), col("residual"))
        .orderBy("event_id")
    }, oracle =
      """WITH m AS (SELECT EXTRACT(HOUR FROM ts) AS hr,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS seasonal
        |  FROM events GROUP BY 1)
        |SELECT event_id, CAST(m.hr AS BIGINT) AS hr, value, seasonal,
        |  value - seasonal AS residual
        |FROM events e JOIN m ON EXTRACT(HOUR FROM e.ts) = m.hr
        |ORDER BY event_id""".stripMargin),
    RowDef("ev_intervals", { (s, dir) =>
      // per-user union of 5-minute exposure windows around each event:
      // overlapping/touching intervals merge into maximal islands;
      // coverage counts overlap once. Exact int64 µs arithmetic.
      val iv = t(s, dir, "events").select(col("user_id"), col("ts").as("s"),
        timestamp_micros(unix_micros(col("ts")) + lit(300000000L)).as("e"))
      Behavior.intervalCoverage(iv, "user_id", "s", "e").orderBy("user_id")
    }, oracle =
      """WITH iv AS (SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 300000000 AS e FROM events),
        |m AS (SELECT user_id, s, e,
        |  max(e) OVER (PARTITION BY user_id ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
        |  FROM iv),
        |f AS (SELECT user_id, s, e, CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS opens FROM m),
        |g AS (SELECT user_id, s, e,
        |  SUM(opens) OVER (PARTITION BY user_id ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM f),
        |isl AS (SELECT user_id, island, min(s) AS st, max(e) AS en FROM g GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_intervals, CAST(SUM(en - st) AS BIGINT) AS covered_us
        |FROM isl GROUP BY user_id ORDER BY user_id""".stripMargin),

    // ---- events ----
    RowDef("ev_tumbling", { (s, dir) =>
      Sessionize.tumbling(t(s, dir, "events"), widthSeconds = 300L)
        .orderBy("window_start", "event_type")
    }, oracle =
      """SELECT make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS window_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin),
    RowDef("ev_hopping", { (s, dir) =>
      // sliding/hopping window: width 600s, slide 300s — every event in
      // exactly width/slide windows (batch analogue of window(ts, w, s))
      t(s, dir, "events")
        .groupBy(window(col("ts"), "600 seconds", "300 seconds"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("total"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("total"))
        .orderBy("window_start", "event_type")
    }, oracle =
      """SELECT make_timestamp((epoch_us(ts) // 300000000 - u.k) * 300000000) AS window_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events, unnest(range(0, 2)) AS u(k)
        |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin),
    RowDef("ev_sessions", { (s, dir) =>
      Sessionize.sessions(t(s, dir, "events"), gapSeconds = 1800L)
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("total_value"),
          unix_micros(col("session_start")).as("start_us"),
          unix_micros(col("session_end")).as("end_us"))
        .orderBy("user_id", "session_id")
    }, oracle =
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events),
        |g AS (SELECT *, CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
        |       OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000
        |       THEN 1 ELSE 0 END AS new_session FROM e),
        |s AS (SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS session_id FROM g)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  MIN(us) AS start_us, MAX(us) AS end_us
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin),

    // ---- as-of / range joins (operators stock Spark lacks) ----
    RowDef("ev_asof", { (s, dir) =>
      // every event annotated with the user's latest purchase value at or
      // before that moment (union + running-last window: ONE shuffle)
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("last_purchase_value"))
      AsOf.asofJoin(
        ev.select(col("event_id"), col("user_id"), col("ts")),
        purchases, "user_id", "ts", Seq("last_purchase_value"))
        .select(col("event_id"), col("user_id"), col("last_purchase_value"))
        .orderBy("event_id")
    }, oracle =
      """WITH r AS (SELECT user_id, ts, max(value) AS last_purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, r.last_purchase_value
        |FROM events e ASOF LEFT JOIN r ON e.user_id = r.user_id AND e.ts >= r.ts
        |ORDER BY event_id""".stripMargin),
    RowDef("ev_asof_fwd", { (s, dir) =>
      // forward as-of with a 1-hour tolerance: the NEXT purchase within
      // the hour (attribution lookahead); beyond-horizon matches null out
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("next_purchase_value"))
      AsOf.asofJoin(
        ev.select(col("event_id"), col("user_id"), col("ts")),
        purchases, "user_id", "ts", Seq("next_purchase_value"),
        direction = "forward", tolerance = Some(3600.0))
        .select(col("event_id"), col("user_id"), col("next_purchase_value"))
        .orderBy("event_id")
    }, oracle =
      """WITH r AS (SELECT user_id, ts, max(value) AS next_purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id,
        |  CASE WHEN epoch_us(r.ts) - epoch_us(e.ts) <= 3600000000
        |       THEN r.next_purchase_value END AS next_purchase_value
        |FROM events e ASOF LEFT JOIN r ON e.user_id = r.user_id AND e.ts <= r.ts
        |ORDER BY event_id""".stripMargin),
    RowDef("ev_asof_nearest", { (s, dir) =>
      // nearest-in-time purchase, either direction; ties go backward
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("near_purchase_value"))
      AsOf.asofJoin(
        ev.select(col("event_id"), col("user_id"), col("ts")),
        purchases, "user_id", "ts", Seq("near_purchase_value"),
        direction = "nearest")
        .select(col("event_id"), col("user_id"), col("near_purchase_value"))
        .orderBy("event_id")
    }, oracle =
      """WITH r AS (SELECT user_id, ts, max(value) AS v
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |b AS (SELECT e.event_id, e.user_id, e.ts, r.ts AS bts, r.v AS bv
        |      FROM events e ASOF LEFT JOIN r ON e.user_id = r.user_id AND e.ts >= r.ts),
        |f AS (SELECT e.event_id, r.ts AS fts, r.v AS fv
        |      FROM events e ASOF LEFT JOIN r ON e.user_id = r.user_id AND e.ts <= r.ts)
        |SELECT b.event_id, b.user_id,
        |  CASE WHEN bts IS NULL THEN fv
        |       WHEN fts IS NULL THEN bv
        |       WHEN (epoch_us(fts) - epoch_us(b.ts)) < (epoch_us(b.ts) - epoch_us(bts)) THEN fv
        |       ELSE bv END AS near_purchase_value
        |FROM b JOIN f USING (event_id)
        |ORDER BY event_id""".stripMargin),
    RowDef("ev_range", { (s, dir) =>
      // events inside per-user daily maintenance windows (two overlapping
      // window sets) via the bucketized interval join
      val ev = t(s, dir, "events")
      val pts = ev.select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("t"))
      val days = ev.select(col("user_id"),
          unix_timestamp(date_trunc("day", col("ts"))).as("day0")).distinct()
      val ivs = days.select(col("user_id"), col("day0").as("start"),
          (col("day0") + 21600L).as("stop"))
        .unionByName(days.select(col("user_id"), (col("day0") + 10800L).as("start"),
          (col("day0") + 32400L).as("stop")))
      AsOf.rangeJoin(pts, ivs, "user_id", "t", "start", "stop", 3600L)
        .select(col("event_id"), col("user_id"), col("start"))
        .orderBy("event_id", "start")
    }, oracle =
      """WITH p AS (SELECT event_id, user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS t FROM events),
        |d AS (SELECT DISTINCT user_id, CAST(FLOOR(epoch(date_trunc('day', ts))) AS BIGINT) AS day0 FROM events),
        |iv AS (SELECT user_id, day0 AS start, day0 + 21600 AS stop FROM d
        |       UNION ALL SELECT user_id, day0 + 10800, day0 + 32400 FROM d)
        |SELECT p.event_id, p.user_id, iv.start
        |FROM p JOIN iv ON p.user_id = iv.user_id AND p.t >= iv.start AND p.t < iv.stop
        |ORDER BY event_id, start""".stripMargin),
  )
}
