"""Time-series operators: regular-grid resampling with forward fill,
and sequential funnel analysis — both value-oracled.

The reference's events are file timestamps; a metadata lake's analytics
layer needs the time-series shapes OLAP engines ship as extensions
(gap filling / LOCF, ordered-event funnels).  Both are expressed as
compositions of built-in DataFrame ops — no UDF, no iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.analytics import peak_concurrency, theil_sen
from ..sources.tables import load_table
from .registry import query


@query(
    "resample_forward_fill",
    oracle="""
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS h, max_by(value, ts) AS v
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT user_id,
         min(date_trunc('hour', ts)) AS s,
         max(date_trunc('hour', ts)) AS e
  FROM events GROUP BY 1
),
grid AS (
  SELECT user_id, unnest(generate_series(s, e, INTERVAL 1 HOUR)) AS grid_ts
  FROM bounds
)
SELECT g.user_id AS user_id,
       g.grid_ts,
       round(last_value(h.v IGNORE NULLS)
             OVER (PARTITION BY g.user_id ORDER BY g.grid_ts), 6) AS value_ffill,
       CAST(h.v IS NOT NULL AS BOOLEAN) AS observed
FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.grid_ts = h.h
ORDER BY g.user_id, g.grid_ts
""",
)
def q_resample_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid resampling with LOCF (last observation carried
    forward): each user's irregular event values become a dense hourly
    series over their active span — the gap-filling / hypertable-rollup
    shape time-series engines ship natively.

    Three steps, all built-in: (1) hourly downsample = one aggregation
    (``max_by(value, ts)`` keeps the latest observation per bucket);
    (2) grid generation = per-user ``explode(sequence(...))``, no
    cross-join against a calendar table; (3) fill = ``last(value,
    ignorenulls=True)`` over an unbounded-preceding per-user window.
    Every shuffle keys on user_id, so AQE reuses one exchange; the
    window is per-user, never global.  The span bounds are derived
    from the HOURLY aggregate, not a second raw scan —
    ``date_trunc('hour', ·)`` is monotone, so min/max commute with it
    (``min(trunc(ts)) == trunc(min(ts))``) — and ``hourly`` is cut
    once (r11), so the raw event table is read exactly once however
    many consumers ride it.  At 100 TB the grid explodes
    proportionally to Σ per-user spans — bound it with the span filter,
    not a post-filter.  The cut stays ``eager=False`` deliberately
    (ADVICE r11): it materializes on first action instead of at
    DataFrame construction, so tooling that only builds/explains the
    query pays nothing; and ``localCheckpoint`` storage is
    executor-local — a cluster-scale run should use reliable
    ``checkpoint()``/``persist()`` so an executor loss recomputes
    instead of failing."""
    events = load_table(spark, sf_dir, "events")
    hourly = (
        events.select(
            F.col("user_id").alias("h_uid"),
            F.date_trunc("hour", "ts").alias("h"),
            "ts",
            "value",
        )
        .groupBy("h_uid", "h")
        .agg(F.max_by("value", "ts").alias("v"))
        .localCheckpoint(eager=False)
    )
    bounds = hourly.groupBy(F.col("h_uid").alias("user_id")).agg(
        F.min("h").alias("s"), F.max("h").alias("e")
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.expr("sequence(s, e, interval 1 hour)")).alias("grid_ts"),
    )
    fill_w = (
        Window.partitionBy("user_id")
        .orderBy("grid_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(
            hourly,
            (grid["user_id"] == hourly["h_uid"]) & (grid["grid_ts"] == hourly["h"]),
            "left",
        )
        .select(
            "user_id",
            "grid_ts",
            F.round(F.last("v", ignorenulls=True).over(fill_w), 6).alias(
                "value_ffill"
            ),
            F.col("v").isNotNull().alias("observed"),
        )
        .orderBy("user_id", "grid_ts")
    )


@query(
    "funnel_conversion",
    oracle="""
WITH base AS (SELECT DISTINCT user_id FROM events),
v AS (
  SELECT user_id, min(ts) AS t_view
  FROM events WHERE event_type = 'view' GROUP BY 1
),
c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1
),
p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1
)
SELECT b.user_id AS user_id, v.t_view, c.t_click, p.t_purchase,
       CASE WHEN p.t_purchase IS NOT NULL THEN 3
            WHEN c.t_click IS NOT NULL THEN 2
            WHEN v.t_view IS NOT NULL THEN 1
            ELSE 0 END AS stage
FROM base b
LEFT JOIN v ON b.user_id = v.user_id
LEFT JOIN c ON b.user_id = c.user_id
LEFT JOIN p ON b.user_id = p.user_id
ORDER BY b.user_id
""",
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-event funnel (view → click → purchase): per user, the
    first view, the first click AFTER that view, the first purchase
    AFTER that click, and the stage reached — the product-analytics
    query whose sequential "after the previous stage" constraint plain
    grouping can't express.

    Three aggregations chained by two joins, every one keyed on
    user_id — a single exchange reused throughout under AQE; each
    stage's frame shrinks (only users who passed the previous stage),
    so later joins ride broadcast at any corpus size where conversion
    decays."""
    events = load_table(spark, sf_dir, "events")
    base = events.select("user_id").distinct()
    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        base.join(v, "user_id", "left")
        .join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_purchase",
            F.when(F.col("t_purchase").isNotNull(), 3)
            .when(F.col("t_click").isNotNull(), 2)
            .when(F.col("t_view").isNotNull(), 1)
            .otherwise(0)
            .alias("stage"),
        )
        .orderBy("user_id")
    )


@query(
    "sessionize_events",
    oracle="""
WITH e AS (
  SELECT event_id, user_id, ts, value, epoch_us(ts) AS us FROM events
),
l AS (
  SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM e
),
f AS (
  SELECT *,
         CASE WHEN prev IS NULL OR us - prev > 21600000000 THEN 1 ELSE 0 END AS brk
  FROM l
),
s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM f
)
SELECT user_id,
       CAST(session_seq AS BIGINT) AS session_seq,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(ts) AS started,
       MAX(ts) AS ended,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM s
GROUP BY user_id, session_seq
ORDER BY user_id, session_seq
""",
)
def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH sessionization — the gap-and-island rollup
    `stream_session_windows` computes with watermarked state, here as
    pure windows over history: a session breaks after >6 h of
    inactivity; session_seq is the running sum of break flags.  Two
    per-user windows (lag + running sum) and one aggregate — the
    shuffle key is user_id throughout, so one exchange serves all
    three at any history size.  Ties break on event_id; the money-sum
    uses the DECIMAL discipline so partial-sum order can't leak into
    the 6-dp total."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 6 * 3600 * 1_000_000
    flagged = events.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(
            F.lag(F.unix_micros("ts")).over(w).isNull()
            | (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w) > gap_us),
            1,
        )
        .otherwise(0)
        .alias("brk"),
    )
    sessions = flagged.withColumn(
        "session_seq",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sessions.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("started"),
            F.max("ts").alias("ended"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("user_id", "session_seq")
    )


@query(
    "cohort_retention",
    oracle="""
WITH firsts AS (
  SELECT user_id, MIN(CAST(date_trunc('week', ts) AS DATE)) AS cohort_week
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id, f.cohort_week,
         CAST(date_diff('day', f.cohort_week,
                        CAST(date_trunc('week', e.ts) AS DATE)) / 7 AS BIGINT)
           AS week_offset
  FROM events e JOIN firsts f ON e.user_id = f.user_id
),
sizes AS (
  SELECT cohort_week, COUNT(DISTINCT user_id) AS cohort_size FROM firsts
  GROUP BY cohort_week
)
SELECT a.cohort_week, a.week_offset,
       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS active_users,
       s.cohort_size,
       round(COUNT(DISTINCT a.user_id) * 1.0 / s.cohort_size, 6) AS retention
FROM activity a JOIN sizes s ON a.cohort_week = s.cohort_week
GROUP BY a.cohort_week, a.week_offset, s.cohort_size
ORDER BY a.cohort_week, a.week_offset
""",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity week, per
    (cohort, week-offset) active-user counts and retention ratio —
    the canonical product-analytics rollup.  Two aggregations on the
    user_id key plus a broadcast-sized cohort join; the ratio divides
    two exact integers (no float accumulation).  Week arithmetic stays
    in DATE space (date_trunc / datediff) so both engines bucket
    identically across DST and month boundaries."""
    events = load_table(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.min(F.date_trunc("week", "ts").cast("date")).alias("cohort_week")
    )
    activity = (
        events.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", "ts").cast("date"), F.col("cohort_week"))
                / 7
            )
            .cast("long")
            .alias("week_offset"),
        )
        .distinct()
    )
    sizes = firsts.groupBy("cohort_week").agg(
        F.countDistinct("user_id").alias("cohort_size")
    )
    return (
        activity.groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
        .join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "active_users",
            "cohort_size",
            F.round(F.col("active_users") / F.col("cohort_size"), 6).alias(
                "retention"
            ),
        )
        .orderBy("cohort_week", "week_offset")
    )


@query(
    "histogram_event_values",
    oracle="""
WITH iv AS (
  SELECT CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events
  WHERE value IS NOT NULL
),
bounds AS (
  SELECT MIN(cents) AS lo, MAX(cents) AS hi, COUNT(*) AS n FROM iv
)
SELECT bucket,
       CAST(lo + bucket * (hi - lo + 1) // 20 AS BIGINT) AS edge_lo_cents,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       round(COUNT(*) * 1.0 / n, 6) AS share
FROM (
  SELECT LEAST(((cents - lo) * 20) // (hi - lo + 1), 19) AS bucket,
         lo, hi, n
  FROM iv CROSS JOIN bounds
)
GROUP BY bucket, lo, hi, n
ORDER BY bucket
""",
)
def q_histogram_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bucket histogram of event values — the
    distribution profile a quality dashboard renders.  Bucketing is
    PURE INTEGER arithmetic on cents (one round() whose half-up
    semantics agree across engines, then multiply + integer division)
    — no float-division bucket edges whose last ulp could flip a
    boundary row between engines.  One scan + one tiny cross-joined
    bounds aggregate + one groupBy; shares divide exact integers."""
    events = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    iv = events.select(F.round(F.col("value") * 100, 0).cast("long").alias("cents"))
    bounds = iv.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    bucketed = iv.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.expr("((cents - lo) * 20) div (hi - lo + 1)"), F.lit(19)
        ).alias("bucket"),
        "lo",
        "hi",
        "n",
    )
    return (
        bucketed.groupBy("bucket", "lo", "hi", "n")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "bucket",
            F.expr("lo + bucket * (hi - lo + 1) div 20").cast("long").alias(
                "edge_lo_cents"
            ),
            F.col("n_events").cast("long"),
            F.round(F.col("n_events") / F.col("n"), 6).alias("share"),
        )
        .orderBy("bucket")
    )


@query(
    "scd2_user_event_type",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
changes AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN prev_type IS NULL OR prev_type <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM ordered
),
runs AS (
  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS run_id
  FROM changes
),
intervals AS (
  SELECT user_id, event_type, run_id,
         MIN(ts) AS valid_from, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM runs GROUP BY user_id, event_type, run_id
)
SELECT user_id, event_type,
       CAST(run_id AS BIGINT) AS version,
       valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id)
         AS valid_to,
       n_events
FROM intervals
ORDER BY user_id, version
""",
)
def q_scd2_user_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) build: each user's event_type
    history collapsed into versioned validity intervals
    [valid_from, valid_to) — the dimension-table shape every
    warehouse's as-of joins consume, and the batch complement of the
    streaming label maintenance.  Run detection = lag + running
    change-sum (one user_id exchange serves the lag, the run-sum, the
    rollup, and the lead), current versions carry a NULL valid_to.
    Ties break on event_id; all counters are exact integers."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    runs = (
        events.select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            F.when(
                F.lag("event_type").over(w).isNull()
                | (F.lag("event_type").over(w) != F.col("event_type")),
                1,
            )
            .otherwise(0)
            .alias("chg"),
        )
        .withColumn(
            "run_id", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
    )
    intervals = runs.groupBy("user_id", "event_type", "run_id").agg(
        F.min("ts").alias("valid_from"), F.count(F.lit(1)).alias("n_events")
    )
    wv = Window.partitionBy("user_id").orderBy("run_id")
    return intervals.select(
        "user_id",
        "event_type",
        F.col("run_id").cast("long").alias("version"),
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        "n_events",
    ).orderBy("user_id", "version")


@query(
    "ewma_event_values",
    oracle="""
WITH iv AS (
  SELECT event_id, user_id, ts,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
lagged AS (
  SELECT event_id, user_id, cents,
         lag(cents, 1) OVER w AS l1,
         lag(cents, 2) OVER w AS l2,
         lag(cents, 3) OVER w AS l3,
         lag(cents, 4) OVER w AS l4
  FROM iv
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id, user_id,
       CAST(round(
         (16 * cents + 8 * COALESCE(l1, 0) + 4 * COALESCE(l2, 0)
          + 2 * COALESCE(l3, 0) + COALESCE(l4, 0))
         / (1.0 * (16 + CASE WHEN l1 IS NULL THEN 0 ELSE 8 END
                      + CASE WHEN l2 IS NULL THEN 0 ELSE 4 END
                      + CASE WHEN l3 IS NULL THEN 0 ELSE 2 END
                      + CASE WHEN l4 IS NULL THEN 0 ELSE 1 END)), 4)
         AS DOUBLE) AS ewma_cents
FROM lagged
ORDER BY event_id
""",
)
def q_ewma_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA (α=1/2, depth 5) of event values — the smoothing
    signal anomaly monitors and rate limiters read, as a FINITE-impulse
    lag chain rather than a true recursion (which Spark SQL cannot
    express and which would be nondeterministic to fuse anyway).

    Exactness by construction: α=1/2 makes every weight a binary
    fraction, so scaling by 16 turns the whole numerator/denominator
    into INTEGER arithmetic on cents — per row exactly one float
    division then one 4-dp round, identical cross-engine.  The window
    head (fewer than 4 predecessors) renormalizes over the weights
    actually present, matching the standard adjusted-EWMA definition.
    One user_id exchange serves all four lags."""
    events = load_table(spark, sf_dir, "events")
    iv = events.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = iv.select(
        "event_id",
        "user_id",
        "cents",
        *[F.lag("cents", i).over(w).alias(f"l{i}") for i in (1, 2, 3, 4)],
    )
    num = (
        F.lit(16) * F.col("cents")
        + F.lit(8) * F.coalesce(F.col("l1"), F.lit(0))
        + F.lit(4) * F.coalesce(F.col("l2"), F.lit(0))
        + F.lit(2) * F.coalesce(F.col("l3"), F.lit(0))
        + F.coalesce(F.col("l4"), F.lit(0))
    )
    den = (
        F.lit(16)
        + F.when(F.col("l1").isNull(), F.lit(0)).otherwise(F.lit(8))
        + F.when(F.col("l2").isNull(), F.lit(0)).otherwise(F.lit(4))
        + F.when(F.col("l3").isNull(), F.lit(0)).otherwise(F.lit(2))
        + F.when(F.col("l4").isNull(), F.lit(0)).otherwise(F.lit(1))
    )
    return lagged.select(
        "event_id",
        "user_id",
        F.round(num / (F.lit(1.0) * den), 4).cast("double").alias("ewma_cents"),
    ).orderBy("event_id")


#: 2024-01-01T00:00:00 UTC in microseconds — the fixed x-origin for the
#: trend regression (data-independent, so x stays a small exact integer).
_TREND_T0_US = 1_704_067_200 * 1_000_000


@query(
    "trend_event_values",
    oracle=f"""
WITH xy AS (
  SELECT event_type,
         (epoch_us(ts) - {_TREND_T0_US}) // 3600000000 AS x,
         CAST(round(value * 100, 0) AS BIGINT) AS y
  FROM events
),
m AS (
  SELECT event_type,
         CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(x) AS HUGEINT) AS sx,
         CAST(sum(y) AS HUGEINT) AS sy,
         CAST(sum(x * y) AS HUGEINT) AS sxy,
         CAST(sum(x * x) AS HUGEINT) AS sxx
  FROM xy GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n,
       CAST(round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                  / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6) AS DOUBLE)
         AS slope_cents_per_hour,
       CAST(round((CAST(sy AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sxy)
                  / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 4) AS DOUBLE)
         AS intercept_cents
FROM m
ORDER BY event_type
""",
)
def q_trend_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend (slope + intercept of value over time)
    in closed form — the drift detector a pipeline monitor fits per
    metric, computed as ONE partial-aggregatable pass.

    Determinism upgrade over the co-moment family (`agg_corr_stats`
    relies on both engines' single-pass co-moments agreeing to 4 dp):
    here the five moments (n, Σx, Σy, Σxy, Σx²) are EXACT INTEGERS
    (x = whole hours from a fixed origin, y = cents) summed in
    128-bit-exact arithmetic (DECIMAL(38,0) / HUGEINT, order-free at
    any parallelism), then each sum is cast to DOUBLE BEFORE the
    slope/intercept products so the combination step can never breach
    the 38-digit decimal width at extreme scale — both engines combine
    the same IEEE operands with the same tree, so the rounds agree to
    the last digit.  Shuffle: one hash exchange on event_type with
    map-side partials."""
    events = load_table(spark, sf_dir, "events")
    xy = events.select(
        "event_type",
        # integer div (not float /) — no quotient-ulp edge at hour
        # boundaries on either engine
        F.expr(f"(unix_micros(ts) - {_TREND_T0_US}L) div 3600000000L").alias("x"),
        F.round(F.col("value") * 100, 0).cast("long").alias("y"),
    )
    d38 = "decimal(38,0)"
    m = xy.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum("x").cast(d38).alias("sx"),
        F.sum("y").cast(d38).alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast(d38).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast(d38).alias("sxx"),
    )
    den = F.col("n").cast("double") * F.col("sxx") - F.col("sx").cast(
        "double"
    ) * F.col("sx")
    return m.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(
            (
                F.col("n").cast("double") * F.col("sxy")
                - F.col("sx").cast("double") * F.col("sy")
            )
            / den,
            6,
        )
        .cast("double")
        .alias("slope_cents_per_hour"),
        F.round(
            (
                F.col("sy").cast("double") * F.col("sxx")
                - F.col("sx").cast("double") * F.col("sxy")
            )
            / den,
            4,
        )
        .cast("double")
        .alias("intercept_cents"),
    ).orderBy("event_type")


@query(
    "markov_transitions",
    oracle="""
WITH seq AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS dst
  FROM events
),
c AS (
  SELECT src, dst, count(*) AS n_transitions
  FROM seq WHERE dst IS NOT NULL
  GROUP BY src, dst
)
SELECT src AS src_event, dst AS dst_event, n_transitions,
       CAST(round(n_transitions
                  / (1.0 * sum(n_transitions) OVER (PARTITION BY src)), 6)
            AS DOUBLE) AS p_transition
FROM c
ORDER BY src_event, dst_event
""",
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the behavioral fingerprint session-prediction and
    anomaly models consume (which event follows which, how often).

    One lead() per user (total order: ts then the unique event_id, so
    both engines pair identical successors), then a partial-aggregatable
    count on (src, dst).  The normalizing window runs on the AGGREGATED
    matrix — at most |event_types|² rows regardless of corpus size — so
    the only corpus-scale shuffles are the per-user sort and one hash
    exchange on the pair key.  p = one division of exactly-agreed
    integers, rounded to 6 dp: deterministic cross-engine."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    c = seq.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n_transitions"))
    wsrc = Window.partitionBy("src")
    return c.select(
        F.col("src").alias("src_event"),
        F.col("dst").alias("dst_event"),
        "n_transitions",
        F.round(
            F.col("n_transitions") / (F.lit(1.0) * F.sum("n_transitions").over(wsrc)),
            6,
        )
        .cast("double")
        .alias("p_transition"),
    ).orderBy("src_event", "dst_event")


@query(
    "peak_concurrency",
    oracle="""
WITH iv AS (
  SELECT event_type, ts,
         ts + to_minutes(abs(CAST(round(value * 100, 0) AS BIGINT)) % 120 + 1)
           AS end_ts
  FROM events WHERE value IS NOT NULL
),
pts AS (
  SELECT event_type, ts AS t, 1 AS delta FROM iv
  UNION ALL
  SELECT event_type, end_ts AS t, -1 AS delta FROM iv
),
net AS (
  SELECT event_type, t, SUM(delta) AS net FROM pts GROUP BY 1, 2
),
run AS (
  SELECT event_type, t,
         SUM(net) OVER (PARTITION BY event_type ORDER BY t
                        ROWS UNBOUNDED PRECEDING) AS conc
  FROM net
),
pk AS (
  SELECT event_type, t, conc,
         MAX(conc) OVER (PARTITION BY event_type) AS peak
  FROM run
)
SELECT event_type,
       CAST(peak AS BIGINT) AS peak_concurrent,
       MIN(t) AS first_peak_ts
FROM pk WHERE conc = peak
GROUP BY event_type, peak
ORDER BY event_type
""",
)
def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak interval concurrency per event type — the classic
    start/stop sweep (max simultaneous sessions, room-booking overlap,
    connection-pool high-water mark).  Each event becomes a HALF-OPEN
    interval [ts, ts + dur) whose duration is derived from the value
    column by pure integer arithmetic (abs(cents) % 120 + 1 minutes),
    so both engines build bit-identical intervals.

    The sweep itself is :func:`..operators.analytics.peak_concurrency`
    (+1/−1 endpoint deltas pre-aggregated per instant, one per-type
    running sum — scale notes there); property tests pin the half-open
    abutment and nesting semantics on crafted intervals."""
    events = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    iv = events.select(
        "event_type",
        "ts",
        F.expr(
            "timestampadd(MINUTE,"
            " CAST(abs(CAST(round(value * 100, 0) AS BIGINT)) % 120 + 1 AS INT),"
            " ts)"
        ).alias("end_ts"),
    )
    return peak_concurrency(iv, "event_type", "ts", "end_ts").orderBy(
        "event_type"
    )


@query(
    "funnel_time_to_convert",
    oracle="""
WITH su AS (
  SELECT user_id, MIN(ts) AS s_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
conv AS (
  SELECT su.user_id,
         MIN(e.ts) AS p_ts
  FROM su JOIN events e
    ON e.user_id = su.user_id
   AND e.event_type = 'purchase' AND e.ts >= su.s_ts
  GROUP BY su.user_id
),
lat AS (
  SELECT (epoch_us(c.p_ts) - epoch_us(su.s_ts)) // 60000000 AS lat_min
  FROM su JOIN conv c ON su.user_id = c.user_id
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM su) AS n_signup_users,
       CAST(COUNT(*) AS BIGINT) AS n_converted,
       CAST(round(COUNT(*) / (1.0 * (SELECT COUNT(*) FROM su)), 6) AS DOUBLE)
         AS conv_rate,
       CAST(round(quantile_cont(lat_min, 0.5), 6) AS DOUBLE) AS p50_min,
       CAST(round(quantile_cont(lat_min, 0.9), 6) AS DOUBLE) AS p90_min
FROM lat
""",
)
def q_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution for the signup→purchase funnel:
    conversion rate plus median/p90 latency from each user's FIRST
    signup to their first purchase AT OR AFTER it — the companion
    statistic to `funnel_conversion` (which counts stage survivors but
    not how long they took).

    Latencies are exact integer minutes from BIGINT microsecond
    arithmetic (`unix_micros`/`epoch_us` then integer division — never
    engine-specific calendar diffs whose boundary conventions differ),
    so the interpolated percentiles (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``, same precedent as `agg_percentiles`) interpolate
    identical integer samples.  Scale shape: two filtered aggregates on
    user_id + one co-keyed join — every shuffle on the same key, AQE
    reuses the exchange; percentile over converters only (a bounded
    fraction of users), swap `approx_percentile` at 100 TB."""
    events = load_table(spark, sf_dir, "events")
    su = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    conv = (
        su.join(
            events.filter(F.col("event_type") == "purchase").select(
                "user_id", F.col("ts").alias("p_ts_raw")
            ),
            "user_id",
        )
        .filter(F.col("p_ts_raw") >= F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("p_ts_raw").alias("p_ts"))
    )
    lat = su.join(conv, "user_id").select(
        F.expr("(unix_micros(p_ts) - unix_micros(s_ts)) div 60000000").alias(
            "lat_min"
        )
    )
    n_su = su.agg(F.count(F.lit(1)).alias("n_signup_users"))
    return (
        lat.agg(
            F.count(F.lit(1)).alias("n_converted"),
            F.expr("percentile(lat_min, array(0.5D, 0.9D))").alias("p"),
        )
        .crossJoin(F.broadcast(n_su))
        .select(
            F.col("n_signup_users").cast("long"),
            F.col("n_converted").cast("long"),
            F.expr(
                "CAST(round(n_converted / (1.0D * n_signup_users), 6) AS DOUBLE)"
            ).alias("conv_rate"),
            F.round(F.col("p")[0], 6).cast("double").alias("p50_min"),
            F.round(F.col("p")[1], 6).cast("double").alias("p90_min"),
        )
    )


@query(
    "seasonal_dow_profile",
    oracle="""
WITH base AS (
  SELECT event_type,
         isodow(ts) AS dow,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
),
cells AS (
  SELECT event_type, dow,
         count(*) AS n_events,
         SUM(cents) AS sum_cents
  FROM base GROUP BY 1, 2
)
SELECT event_type, CAST(dow AS INTEGER) AS dow,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(round(sum_cents / (100.0 * n_events), 6) AS DOUBLE) AS mean_value,
       CAST(round(n_events / (1.0 * SUM(n_events) OVER (PARTITION BY event_type)),
                  6) AS DOUBLE) AS dow_share
FROM cells
ORDER BY event_type, dow
""",
)
def q_seasonal_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile per event type — mean value and
    volume share by ISO weekday, the periodic fingerprint a forecaster
    or anomaly baseline consumes.

    Weekday parity across engines is the trap: Spark ``dayofweek`` is
    1=Sunday while DuckDB ``isodow`` is 1=Monday — this query uses
    Spark ``weekday()+1`` ≡ ISO to pin one convention.  Means divide
    exact cent sums by exact counts (one double division, D-suffixed
    literals on the Spark side); the share window runs on the
    |event_types|×7 cell matrix, never the corpus.  One scan, one
    partial-aggregatable groupBy."""
    events = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    base = events.select(
        "event_type",
        (F.weekday("ts") + 1).alias("dow"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    cells = base.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("cents").alias("sum_cents")
    )
    w = Window.partitionBy("event_type")
    return cells.select(
        "event_type",
        F.col("dow").cast("int").alias("dow"),
        F.col("n_events").cast("long").alias("n_events"),
        F.expr("CAST(round(sum_cents / (100.0D * n_events), 6) AS DOUBLE)").alias(
            "mean_value"
        ),
        F.round(
            F.col("n_events") / (F.lit(1.0) * F.sum("n_events").over(w)), 6
        )
        .cast("double")
        .alias("dow_share"),
    ).orderBy("event_type", "dow")


@query(
    "session_paths_top",
    oracle="""
WITH seq AS (
  SELECT event_type AS e1,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n_paths
FROM seq WHERE e3 IS NOT NULL
GROUP BY e1, e2, e3
ORDER BY n_paths DESC, e1, e2, e3
LIMIT 15
""",
)
def q_session_paths_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 three-step event paths across user histories — the
    order-2 sequence profile on top of `markov_transitions`' order-1
    matrix (which path shapes dominate, the input to session-flow
    dashboards and n-gram behavior models).

    One window (two lead() offsets share the same per-user sort and
    ONE user_id exchange), one partial-aggregatable triple count, and
    a total-order sort key (count desc, then the full path) ahead of
    the LIMIT so boundary ties are deterministic.  The aggregate's
    cardinality is |event_types|³ — bounded — so the top-k is
    TakeOrderedAndProject over a tiny frame."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        seq.groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.col("n_paths").desc(), "e1", "e2", "e3")
        .limit(15)
    )


#: The corpus's five canonical event types — fixed literals on BOTH
#: engine sides (same convention as the 'purchase'/'view' funnel
#: stages), so the correlation pair set is static and the wide pivot
#: needs no driver-side discovery pass.
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _corr_pair_sql(a: str, b: str) -> str:
    """DuckDB corr text for one type pair from the wide hourly frame —
    exact HUGEINT moments cast to DOUBLE before the co-moment products
    (overflow-safe at any scale), one division + sqrt, 6-dp round."""
    n, sa, sb = "CAST(n AS DOUBLE)", f"CAST(sx_{a} AS DOUBLE)", f"CAST(sx_{b} AS DOUBLE)"
    return (
        f"CAST(round(({n} * sxy_{a}_{b} - {sa} * sx_{b})"
        f" / NULLIF(sqrt(({n} * sq_{a} - {sa} * sx_{a})"
        f"               * ({n} * sq_{b} - {sb} * sx_{b})), 0.0),"
        f" 6) AS DOUBLE)"
    )


@query(
    "correlation_matrix",
    oracle=f"""
WITH bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
  FROM events
),
grid AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM bounds
),
hourly AS (
  SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS c
  FROM events GROUP BY 1, 2
),
wide AS (
  SELECT g.h,
{",".join(f"         COALESCE(MAX(CASE WHEN event_type = '{t}' THEN c END), 0) AS c_{t}" for t in _EVENT_TYPES)}
  FROM grid g LEFT JOIN hourly ON hourly.h = g.h
  GROUP BY g.h
),
m AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
{",".join(f"         CAST(SUM(c_{t}) AS HUGEINT) AS sx_{t}, CAST(SUM(c_{t} * c_{t}) AS HUGEINT) AS sq_{t}" for t in _EVENT_TYPES)},
{",".join(f"         CAST(SUM(c_{a} * c_{b}) AS HUGEINT) AS sxy_{a}_{b}" for i, a in enumerate(_EVENT_TYPES) for b in _EVENT_TYPES[i + 1:])}
  FROM wide
)
{chr(10).join(("SELECT" if i == 0 else "UNION ALL SELECT") + f" '{a}' AS type_a, '{b}' AS type_b, {_corr_pair_sql(a, b)} AS corr FROM m" for i, (a, b) in enumerate((a, b) for i, a in enumerate(_EVENT_TYPES) for b in _EVENT_TYPES[i + 1:]))}
ORDER BY type_a, type_b
""",
)
def q_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix between the five event types' hourly
    volumes — the cross-signal structure an anomaly model or capacity
    planner reads (do errors spike with clicks?).

    Hour buckets with NO events of a type count as 0 (a dense hour grid
    from one min/max aggregate — skipping empty buckets would bias
    every correlation upward), the same grid technique as
    `resample_forward_fill`.  All 5 + 5 + 10 moments (Σx, Σx², Σxy) are
    EXACT integer sums in one aggregate over the wide frame, ridden in
    DECIMAL(38,0)/HUGEINT (the OLS discipline), each cast to DOUBLE
    BEFORE the co-moment products so the combination can never breach
    the 38-digit decimal width at scale; each of the 10 correlations
    is then one IEEE division + sqrt on exactly-agreed operands, 6-dp
    rounded, NULLIF-guarded against zero variance.
    Scale shape: one corpus scan → one (hour, type) aggregate → a
    |hours|-row wide frame → ONE moment aggregate; the pair expansion
    happens on a single 26-column row, never on data."""
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(F.count(F.lit(1)).alias("c"))
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("h")
    )
    wide = (
        grid.join(hourly, "h", "left")
        .groupBy("h")
        .agg(
            *[
                F.coalesce(
                    F.max(F.when(F.col("event_type") == t, F.col("c"))), F.lit(0)
                ).alias(f"c_{t}")
                for t in _EVENT_TYPES
            ]
        )
    )
    pairs = [
        (a, b)
        for i, a in enumerate(_EVENT_TYPES)
        for b in _EVENT_TYPES[i + 1 :]
    ]
    m = wide.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        *[
            F.sum(f"c_{t}").cast("decimal(38,0)").alias(f"sx_{t}")
            for t in _EVENT_TYPES
        ],
        *[
            F.sum(F.expr(f"CAST(c_{t} AS DECIMAL(38,0)) * c_{t}")).alias(f"sq_{t}")
            for t in _EVENT_TYPES
        ],
        *[
            F.sum(F.expr(f"CAST(c_{a} AS DECIMAL(38,0)) * c_{b}")).alias(
                f"sxy_{a}_{b}"
            )
            for a, b in pairs
        ],
    )
    stacked = m.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(a).alias("type_a"),
                        F.lit(b).alias("type_b"),
                        F.expr(
                            f"CAST(round((CAST(n AS DOUBLE) * sxy_{a}_{b}"
                            f" - CAST(sx_{a} AS DOUBLE) * sx_{b})"
                            f" / NULLIF(sqrt((CAST(n AS DOUBLE) * sq_{a}"
                            f"                - CAST(sx_{a} AS DOUBLE) * sx_{a})"
                            f"               * (CAST(n AS DOUBLE) * sq_{b}"
                            f"                  - CAST(sx_{b} AS DOUBLE) * sx_{b})), 0.0D),"
                            f" 6) AS DOUBLE)"
                        ).alias("corr"),
                    )
                    for a, b in pairs
                ]
            )
        ).alias("p")
    )
    return stacked.select("p.type_a", "p.type_b", "p.corr").orderBy(
        "type_a", "type_b"
    )


@query(
    "rolling_median_values",
    oracle="""
WITH iv AS (
  SELECT user_id, ts, event_id,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
)
SELECT user_id, event_id,
       CAST(round(quantile_cont(cents, 0.5) OVER (
              PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) / 100.0, 6)
            AS DOUBLE) AS rolling_median
FROM iv
ORDER BY user_id, event_id
""",
)
def q_rolling_median_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling median of the last 5 event values — the robust
    smoother a monitoring pipeline prefers over the EWMA
    (`ewma_event_values`) when spikes must not drag the baseline.

    The median runs AS A FRAME AGGREGATE (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont`` over ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) on
    integer cents, so both engines interpolate identical 5-element
    integer samples — results are exact multiples of 0.005.  One
    user_id exchange serves the sort and the frame; the frame is O(1)
    per row, so cost is one window pass regardless of history length
    (contrast a self-join formulation: 5× row blowup)."""
    events = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    iv = events.select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    return iv.select(
        "user_id",
        "event_id",
        F.expr(
            "CAST(round(percentile(cents, 0.5D) OVER ("
            "  PARTITION BY user_id ORDER BY ts, event_id"
            "  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) / 100.0D, 6) AS DOUBLE)"
        ).alias("rolling_median"),
    ).orderBy("user_id", "event_id")


@query(
    "ma_crossover_signal",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         SUM(CAST(round(value * 100, 0) AS BIGINT)) AS cents
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
),
ma AS (
  SELECT day, cents,
         SUM(cents) OVER w3 AS s3, COUNT(*) OVER w3 AS c3,
         SUM(cents) OVER w7 AS s7, COUNT(*) OVER w7 AS c7
  FROM daily
  WINDOW w3 AS (ORDER BY day ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
         w7 AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
),
sig AS (
  SELECT day, cents,
         (s3 * c7 > s7 * c3) AS short_above,
         lag(s3 * c7 > s7 * c3) OVER (ORDER BY day) AS prev_above
  FROM ma
)
SELECT day, CAST(cents AS BIGINT) AS cents,
       CAST(short_above AND NOT COALESCE(prev_above, TRUE) AS BOOLEAN)
         AS golden_cross,
       CAST(NOT short_above AND COALESCE(prev_above, FALSE) AS BOOLEAN)
         AS death_cross
FROM sig
ORDER BY day
""",
)
def q_ma_crossover_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-average crossover detection on daily event value volume
    (3-day vs 7-day MA): golden-cross days (short MA crosses above
    long) and death-cross days — the classic trend-change signal.

    ZERO floats: instead of comparing two averages (whose divisions
    would each round), the comparison is cross-multiplied into exact
    integer arithmetic — s3/c3 > s7/c7 ⟺ s3·c7 > s7·c3 with positive
    counts — so the signal can never flip on a 1-ulp division
    disagreement, even in warm-up rows where the frames are short.
    One day-grain pre-aggregation shrinks the corpus to |days| rows
    BEFORE the single ordered window serving both frames and the lag
    (bounded partition: days, not events)."""
    events = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"))
    w3 = Window.orderBy("day").rowsBetween(-2, Window.currentRow)
    w7 = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    ma = daily.select(
        "day",
        "cents",
        F.sum("cents").over(w3).alias("s3"),
        F.count(F.lit(1)).over(w3).alias("c3"),
        F.sum("cents").over(w7).alias("s7"),
        F.count(F.lit(1)).over(w7).alias("c7"),
    )
    above = F.col("s3") * F.col("c7") > F.col("s7") * F.col("c3")
    sig = ma.select(
        "day",
        "cents",
        above.alias("short_above"),
        F.lag(above).over(Window.orderBy("day")).alias("prev_above"),
    )
    return sig.select(
        "day",
        F.col("cents").cast("long").alias("cents"),
        (F.col("short_above") & ~F.coalesce(F.col("prev_above"), F.lit(True)))
        .cast("boolean")
        .alias("golden_cross"),
        (~F.col("short_above") & F.coalesce(F.col("prev_above"), F.lit(False)))
        .cast("boolean")
        .alias("death_cross"),
    ).orderBy("day")


@query(
    "window_rank_functions",
    oracle="""
WITH daily AS (
  SELECT event_type,
         CAST(date_trunc('day', ts) AS DATE) AS day,
         SUM(CAST(round(value * 100, 0) AS BIGINT)) AS cents
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
)
SELECT event_type, day, CAST(cents AS BIGINT) AS cents,
       CAST(round(cume_dist() OVER (PARTITION BY event_type
                                    ORDER BY cents, day), 6) AS DOUBLE)
         AS cume,
       nth_value(day, 3) OVER (PARTITION BY event_type
                               ORDER BY cents DESC, day
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND UNBOUNDED FOLLOWING)
         AS third_best_day,
       first_value(day) OVER (PARTITION BY event_type
                              ORDER BY cents DESC, day
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND UNBOUNDED FOLLOWING)
         AS best_day
FROM daily
ORDER BY event_type, day
""",
)
def q_window_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining §2.8 analytic-window surface in one query:
    ``cume_dist`` (each day's revenue percentile within its type),
    ``nth_value`` and ``first_value`` over an explicit
    unbounded-both-ways frame (the type's 3rd-best and best revenue
    days, broadcast to every row of the partition).

    Every window orders by a TOTAL key (cents, then day) so ties are
    deterministic; cume_dist is an exact rational k/N — one double
    division, same in both engines.  The day-grain pre-aggregation
    bounds each partition at |days| rows, so the windows never touch
    corpus-sized data."""
    events = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = events.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"))
    w_asc = Window.partitionBy("event_type").orderBy("cents", "day")
    w_full = (
        Window.partitionBy("event_type")
        .orderBy(F.col("cents").desc(), "day")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return daily.select(
        "event_type",
        "day",
        F.col("cents").cast("long").alias("cents"),
        F.round(F.cume_dist().over(w_asc), 6).cast("double").alias("cume"),
        F.nth_value("day", 3).over(w_full).alias("third_best_day"),
        F.first_value("day").over(w_full).alias("best_day"),
    ).orderBy("event_type", "day")


_SCD2_PROBES = ("2024-01-08 00:00:00", "2024-01-15 00:00:00", "2024-01-27 00:00:00")


@query(
    "scd2_point_snapshot",
    oracle=f"""
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
changes AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN prev_type IS NULL OR prev_type <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM ordered
),
runs AS (
  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS run_id
  FROM changes
),
intervals AS (
  SELECT user_id, event_type, run_id, MIN(ts) AS valid_from
  FROM runs GROUP BY user_id, event_type, run_id
),
scd2 AS (
  SELECT user_id, event_type, CAST(run_id AS BIGINT) AS version, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id) AS valid_to
  FROM intervals
),
probes AS (
  SELECT CAST(p AS TIMESTAMP) AS probe_ts
  FROM (VALUES {", ".join(f"('{p}')" for p in _SCD2_PROBES)}) v(p)
)
SELECT p.probe_ts, s.user_id, s.event_type, s.version
FROM scd2 s JOIN probes p
  ON s.valid_from <= p.probe_ts
 AND (s.valid_to IS NULL OR p.probe_ts < s.valid_to)
ORDER BY p.probe_ts, s.user_id
""",
)
def q_scd2_point_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension snapshots from the SCD2 build: for each
    probe timestamp, reconstruct every user's then-current state —
    the time-travel read that versioned dimensions exist for (the
    batch twin of the materialized-view `snapshot_diff`).

    The probe set rides an EXPLODED LITERAL ARRAY on the interval
    rows — no join operator at all (the no-cartesian gate covers this
    query like every other), each interval emits only the probes its
    [valid_from, valid_to) span contains, and current versions
    (NULL valid_to) stay open-ended.  Scale shape: intervals per user
    are run-count-bounded; cost is O(|intervals| · |probes|) before
    the containment filter, with the same single user_id exchange as
    the SCD2 build itself."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    runs = events.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        )
        .otherwise(0)
        .alias("chg"),
    ).withColumn(
        "run_id", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    intervals = runs.groupBy("user_id", "event_type", "run_id").agg(
        F.min("ts").alias("valid_from")
    )
    wv = Window.partitionBy("user_id").orderBy("run_id")
    scd2 = intervals.select(
        "user_id",
        "event_type",
        F.col("run_id").cast("long").alias("version"),
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
    )
    probe_arr = F.array(
        *[F.lit(p).cast("timestamp") for p in _SCD2_PROBES]
    )
    return (
        scd2.select(
            F.explode(probe_arr).alias("probe_ts"),
            "user_id",
            "event_type",
            "version",
            "valid_from",
            "valid_to",
        )
        .filter(
            (F.col("valid_from") <= F.col("probe_ts"))
            & (F.col("valid_to").isNull() | (F.col("probe_ts") < F.col("valid_to")))
        )
        .select("probe_ts", "user_id", "event_type", "version")
        .orderBy("probe_ts", "user_id")
    )


@query(
    "rolling_active_users",
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
),
contrib AS (
  SELECT user_id, day,
         unnest(generate_series(day, day + INTERVAL 6 DAY, INTERVAL 1 DAY))
           AS report_day
  FROM ud
),
actual AS (SELECT DISTINCT day FROM ud)
SELECT CAST(c.report_day AS DATE) AS day,
       CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS wau7,
       CAST(COUNT(DISTINCT CASE WHEN CAST(c.report_day AS DATE) = c.day
                                THEN c.user_id END) AS BIGINT) AS dau
FROM contrib c JOIN actual a ON CAST(c.report_day AS DATE) = a.day
GROUP BY 1
ORDER BY 1
""",
)
def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU and EXACT trailing-7-day distinct active users (WAU) per
    day — the engagement metric a sliding `COUNT(DISTINCT)` window
    cannot express (distinct sets don't partial-aggregate across
    frames).

    The classic scale design: dedup to (user, day) once, then each
    user-day CONTRIBUTES itself to the 7 report days whose trailing
    window covers it (an exploded literal date sequence — no join,
    no per-day rescan), so one distinct-aggregate over the contribution
    stream yields every day's window at once.  Shuffle volume is
    7·|user-days| narrow rows — linear, corpus-independent of window
    length only in the constant.  Report days are semi-joined to days
    that actually occur (broadcast-tiny calendar), so leading partial
    windows report honestly and trailing phantom days never appear."""
    events = load_table(spark, sf_dir, "events")
    ud = events.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    contrib = ud.select(
        "user_id",
        F.col("day").alias("active_day"),
        F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 6))).alias(
            "report_day"
        ),
    )
    actual = ud.select(F.col("day").alias("report_day")).distinct()
    return (
        contrib.join(F.broadcast(actual), "report_day", "left_semi")
        .groupBy(F.col("report_day").alias("day"))
        .agg(
            F.countDistinct("user_id").cast("long").alias("wau7"),
            F.countDistinct(
                F.when(F.col("report_day") == F.col("active_day"), F.col("user_id"))
            )
            .cast("long")
            .alias("dau"),
        )
        .orderBy("day")
    )


@query(
    "twap_event_values",
    oracle="""
WITH iv AS (
  SELECT event_type, ts,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
),
seg AS (
  SELECT event_type, cents,
         epoch_us(ts) AS t_us,
         lead(epoch_us(ts)) OVER (PARTITION BY event_type
                                  ORDER BY ts, cents) AS t_next_us
  FROM iv
),
held AS (
  SELECT event_type,
         CAST(cents AS HUGEINT) * CAST(t_next_us - t_us AS HUGEINT)
           AS weighted,
         t_next_us - t_us AS dur_us
  FROM seg WHERE t_next_us IS NOT NULL
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(dur_us) AS BIGINT) AS total_us,
       CAST(round(CAST(SUM(weighted) AS DOUBLE)
                  / CAST(SUM(dur_us) AS DOUBLE), 4) AS DOUBLE)
         AS twap_cents
FROM held
GROUP BY event_type
ORDER BY event_type
""",
)
def q_twap_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value (TWAP) per event type over
    IRREGULARLY sampled observations — each value is held until the
    next observation, so the mean weights by holding DURATION, not by
    sample count (the estimator finance desks and metrics pipelines
    use when sampling is bursty; a plain AVG over-weights busy
    periods).

    Exactness: weights are cents × microseconds — both exact integers
    — accumulated in 128-bit (HUGEINT / DECIMAL(38,0)) so magnitude
    (~1e17 per segment) never saturates; ONE double division per
    output row.  The lead() that forms holding segments rides a
    per-type window ordered by a TOTAL key (ts, cents); shuffle is one
    hash exchange on event_type."""
    events = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    iv = events.select(
        "event_type",
        "ts",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy("ts", "cents")
    seg = iv.select(
        "event_type",
        "cents",
        F.unix_micros("ts").alias("t_us"),
        F.lead(F.unix_micros("ts")).over(w).alias("t_next_us"),
    ).filter(F.col("t_next_us").isNotNull())
    d38 = "decimal(38,0)"
    return (
        seg.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.sum(F.col("t_next_us") - F.col("t_us")).cast("long").alias("total_us"),
            F.sum(
                F.col("cents").cast(d38)
                * (F.col("t_next_us") - F.col("t_us")).cast(d38)
            ).alias("_weighted"),
        )
        .select(
            "event_type",
            "n_segments",
            "total_us",
            F.round(
                F.col("_weighted").cast("double")
                / F.col("total_us").cast("double"),
                4,
            )
            .cast("double")
            .alias("twap_cents"),
        )
        .orderBy("event_type")
    )


@query(
    "weighted_median_price",
    oracle="""
WITH iv AS (
  SELECT l_returnflag AS flag,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
         CAST(l_quantity AS BIGINT) AS w
  FROM lineitem WHERE l_quantity > 0
),
grp AS (
  SELECT flag, cents, SUM(w) AS w FROM iv GROUP BY flag, cents
),
cum AS (
  SELECT flag, cents, w,
         SUM(w) OVER (PARTITION BY flag ORDER BY cents
                      ROWS UNBOUNDED PRECEDING) AS cw,
         SUM(w) OVER (PARTITION BY flag) AS tw
  FROM grp
)
SELECT flag,
       CAST(MIN(cents) AS BIGINT) AS weighted_median_cents,
       CAST(ANY_VALUE(tw) AS BIGINT) AS total_weight
FROM cum
WHERE 2 * cw >= tw
GROUP BY flag
ORDER BY flag
""",
)
def q_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag — the
    "median unit actually shipped" statistic an unweighted
    percentile gets wrong when cheap items ship in bulk: the smallest
    price whose cumulative quantity reaches half the group's total.

    The crossing test is ``2·cw ≥ tw`` — PURE INTEGER arithmetic, no
    half-total float and no interpolation ambiguity between engines.
    Scale shape: weights pre-aggregate per (flag, cents) — the
    cumulative window runs over DISTINCT price points, not line items
    (map-side combine does the volume work); the per-flag window is
    value-domain-bounded.  The median extraction is a min over the
    crossed suffix, partial-aggregatable."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    grp = (
        li.select(
            F.col("l_returnflag").alias("flag"),
            F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
            F.col("l_quantity").cast("long").alias("w"),
        )
        .groupBy("flag", "cents")
        .agg(F.sum("w").alias("w"))
    )
    w_cum = (
        Window.partitionBy("flag")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("flag")
    cum = grp.select(
        "flag",
        "cents",
        F.sum("w").over(w_cum).alias("cw"),
        F.sum("w").over(w_tot).alias("tw"),
    )
    return (
        cum.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("flag")
        .agg(
            F.min("cents").cast("long").alias("weighted_median_cents"),
            F.any_value("tw").cast("long").alias("total_weight"),
        )
        .orderBy("flag")
    )


@query(
    "attribution_multi_touch",
    oracle="""
WITH p AS (
  SELECT event_id AS pid, user_id, ts AS pts FROM events
  WHERE event_type = 'purchase'
),
t AS (
  SELECT event_id AS tid, user_id, ts AS tts, event_type FROM events
  WHERE event_type IN ('view', 'click', 'signup')
),
touched AS (
  SELECT p.pid, t.event_type,
         row_number() OVER (PARTITION BY p.pid
                            ORDER BY t.tts DESC, t.tid) AS rn
  FROM p JOIN t ON t.user_id = p.user_id
   AND t.tts < p.pts AND t.tts >= p.pts - INTERVAL 3 DAY
),
credit AS (
  SELECT event_type, COUNT(*) AS n_touches,
         SUM(CAST(2 AS BIGINT) ** (8 - rn)) AS credit_units
  FROM touched WHERE rn <= 8
  GROUP BY event_type
),
tot AS (SELECT SUM(credit_units) AS cu FROM credit)
SELECT event_type,
       CAST(n_touches AS BIGINT) AS n_touches,
       CAST(credit_units AS BIGINT) AS credit_units,
       CAST(round(credit_units / (1.0 * cu), 6) AS DOUBLE) AS credit_share
FROM credit CROSS JOIN tot
ORDER BY event_type
""",
)
def q_attribution_multi_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-decay multi-touch attribution: each purchase credits
    its ≤8 most recent prior touches (view/click/signup, same user,
    3-day lookback) with geometrically decaying weight 2^(8−rank) —
    the marketing-mix middle ground between last-touch (`join_asof_
    attribution`) and uniform credit.

    Exactness: the decay weights are exact POWERS OF TWO summed as
    integers — no float decay product anywhere; the single share
    division happens once per output row.  Scale shape: purchases ⋈
    touches is a user-keyed equi-join with a time-range predicate
    (per-user fanout is session-bounded; at 100 TB pre-bucket both
    sides by (user, day) like `join_range_binned`), the per-purchase
    recency rank is a purchase-partitioned window, and the rollup is a
    |types|-row aggregate."""
    events = load_table(spark, sf_dir, "events")
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("pts"),
    )
    t = events.filter(F.col("event_type").isin("view", "click", "signup")).select(
        F.col("event_id").alias("tid"),
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("tts"),
        "event_type",
    )
    touched = p.join(
        t,
        (F.col("t_user") == F.col("p_user"))
        & (F.col("tts") < F.col("pts"))
        & (F.col("tts") >= F.col("pts") - F.expr("INTERVAL 3 DAY")),
    )
    w = Window.partitionBy("pid").orderBy(F.col("tts").desc(), "tid")
    credit = (
        touched.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 8)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touches"),
            F.sum(F.expr("shiftleft(1L, 8 - rn)"))
            .cast("long")
            .alias("credit_units"),
        )
    )
    tot = credit.agg(F.sum("credit_units").alias("cu"))
    return (
        credit.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "n_touches",
            "credit_units",
            F.round(F.col("credit_units") / (F.lit(1.0) * F.col("cu")), 6)
            .cast("double")
            .alias("credit_share"),
        )
        .orderBy("event_type")
    )


@query(
    "wow_growth_report",
    oracle="""
WITH weekly AS (
  SELECT event_type,
         CAST(date_trunc('week', ts) AS DATE) AS week_start,
         SUM(CAST(round(value * 100, 0) AS BIGINT)) AS cents,
         COUNT(*) AS n_events
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
),
lagged AS (
  SELECT *,
         lag(cents) OVER (PARTITION BY event_type ORDER BY week_start)
           AS prev_cents
  FROM weekly
)
SELECT event_type, week_start,
       CAST(cents AS BIGINT) AS cents,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(cents - prev_cents AS BIGINT) AS delta_cents,
       CAST(round((cents - prev_cents) / (1.0 * prev_cents), 6) AS DOUBLE)
         AS wow_growth
FROM lagged
WHERE prev_cents IS NOT NULL AND prev_cents > 0
ORDER BY event_type, week_start
""",
)
def q_wow_growth_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue growth per event type — the standard BI
    trend report (ISO week grain via date_trunc, identical in both
    engines), with the delta in exact integer cents and ONE rounded
    division for the growth rate; warm-up weeks (no prior) are
    excluded rather than reported as NULL-growth rows.

    Scale shape: the corpus collapses to a |types|×|weeks| matrix in
    one partial-aggregatable pass; the lag window runs on that matrix
    only."""
    events = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    weekly = events.groupBy(
        "event_type",
        F.date_trunc("week", "ts").cast("date").alias("week_start"),
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w = Window.partitionBy("event_type").orderBy("week_start")
    lagged = weekly.withColumn("prev_cents", F.lag("cents").over(w)).filter(
        F.col("prev_cents").isNotNull() & (F.col("prev_cents") > 0)
    )
    return lagged.select(
        "event_type",
        "week_start",
        F.col("cents").cast("long").alias("cents"),
        F.col("n_events").cast("long").alias("n_events"),
        (F.col("cents") - F.col("prev_cents")).cast("long").alias("delta_cents"),
        F.round(
            (F.col("cents") - F.col("prev_cents")) / (F.lit(1.0) * F.col("prev_cents")),
            6,
        )
        .cast("double")
        .alias("wow_growth"),
    ).orderBy("event_type", "week_start")


@query(
    "activity_streaks",
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
),
grp AS (
  SELECT user_id, day,
         day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                    AS INTEGER) AS anchor
  FROM ud
),
streaks AS (
  SELECT user_id, MIN(day) AS streak_start, COUNT(*) AS len
  FROM grp GROUP BY user_id, anchor
),
best AS (
  SELECT user_id, streak_start, len,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY len DESC, streak_start) AS rn
  FROM streaks
)
SELECT user_id,
       CAST(len AS BIGINT) AS longest_streak_days,
       streak_start
FROM best WHERE rn = 1
ORDER BY longest_streak_days DESC, user_id
LIMIT 25
""",
)
def q_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user (top 25) — the
    engagement-streak metric, a gaps-and-islands problem at DAY grain:
    consecutive days share the constant ``day − row_number`` anchor,
    so streaks fall out of one grouped aggregate, no self-join and no
    per-day iteration.

    Scale shape: dedup to (user, day) once (the same slim relation
    `rolling_active_users` starts from); both windows partition by
    user (max |days| rows each — never corpus-wide); the top-25 is
    TakeOrderedAndProject on a total key.  All arithmetic is integer
    date math — identical in both engines."""
    events = load_table(spark, sf_dir, "events")
    ud = events.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grp = ud.withColumn(
        "anchor", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    streaks = grp.groupBy("user_id", "anchor").agg(
        F.min("day").alias("streak_start"), F.count(F.lit(1)).alias("len")
    )
    wb = Window.partitionBy("user_id").orderBy(
        F.col("len").desc(), "streak_start"
    )
    return (
        streaks.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("len").cast("long").alias("longest_streak_days"),
            "streak_start",
        )
        .orderBy(F.col("longest_streak_days").desc(), "user_id")
        .limit(25)
    )


@query(
    "winsorized_mean_value",
    oracle="""
WITH iv AS (
  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
),
grp AS (
  SELECT event_type, cents, COUNT(*) AS c FROM iv GROUP BY 1, 2
),
cum AS (
  SELECT event_type, cents, c,
         SUM(c) OVER (PARTITION BY event_type ORDER BY cents
                      ROWS UNBOUNDED PRECEDING) AS cw,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM grp
),
bounds AS (
  SELECT event_type,
         ANY_VALUE(n) AS n,
         MIN(CASE WHEN cw >= (n * 5 + 99) // 100 THEN cents END) AS lo_cents,
         MIN(CASE WHEN cw >= (n * 95 + 99) // 100 THEN cents END) AS hi_cents
  FROM cum GROUP BY event_type
)
SELECT g.event_type,
       CAST(b.n AS BIGINT) AS n,
       CAST(b.lo_cents AS BIGINT) AS lo_cents,
       CAST(b.hi_cents AS BIGINT) AS hi_cents,
       CAST(round(SUM(LEAST(GREATEST(g.cents, b.lo_cents), b.hi_cents) * g.c)
                  / (1.0 * b.n), 4) AS DOUBLE) AS winsorized_mean_cents
FROM grp g JOIN bounds b USING (event_type)
GROUP BY g.event_type, b.n, b.lo_cents, b.hi_cents
ORDER BY g.event_type
""",
)
def q_winsorized_mean_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean (5%/95%) of event values per type — the robust
    central-tendency report that survives fat tails where a plain AVG
    is one outlier away from useless; complements the MAD/IQR outlier
    counters with a usable location estimate.

    The clamp bounds are exact ORDER STATISTICS, not interpolated
    percentiles: positions ``ceil(0.05·n)`` / ``ceil(0.95·n)`` are
    pure integer arithmetic ((n·k + 99) div 100, the proven integer
    ceil), found where the cumulative count over DISTINCT cent values
    crosses them — same value-domain-bounded window machinery as
    `weighted_median_price`, so no float ever feeds a boundary
    decision and no interpolation ulp can shift a clamp.  The
    winsorized sum is clamped-integer × count, one rounded division
    per type."""
    events = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    grp = (
        events.select(
            "event_type",
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("event_type")
    cum = grp.select(
        "event_type",
        "cents",
        "c",
        F.sum("c").over(w_cum).alias("cw"),
        F.sum("c").over(w_tot).alias("n"),
    )
    bounds = cum.groupBy("event_type").agg(
        F.any_value("n").alias("n"),
        F.min(
            F.when(F.expr("cw >= (n * 5 + 99) div 100"), F.col("cents"))
        ).alias("lo_cents"),
        F.min(
            F.when(F.expr("cw >= (n * 95 + 99) div 100"), F.col("cents"))
        ).alias("hi_cents"),
    )
    return (
        grp.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type", "n", "lo_cents", "hi_cents")
        .agg(
            F.sum(
                F.expr("LEAST(GREATEST(cents, lo_cents), hi_cents) * c")
            ).alias("_ws")
        )
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.col("lo_cents").cast("long").alias("lo_cents"),
            F.col("hi_cents").cast("long").alias("hi_cents"),
            F.expr("CAST(round(_ws / (1.0D * n), 4) AS DOUBLE)").alias(
                "winsorized_mean_cents"
            ),
        )
        .orderBy("event_type")
    )


# -------------------------------------- seasonal-naive forecast backtest ---

_FORECAST_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
  FROM events
  GROUP BY event_type, CAST(ts AS DATE)
),
paired AS (
  SELECT cur.event_type, cur.d, cur.n AS actual, prev.n AS forecast
  FROM daily cur
  JOIN daily prev
    ON prev.event_type = cur.event_type AND prev.d = cur.d - INTERVAL 7 DAY
)
SELECT event_type,
       COUNT(*) AS n_days,
       CAST(SUM(ABS(actual - forecast)) AS BIGINT) AS total_abs_err,
       CAST((SUM(ABS(actual - forecast)) * 1000000) // COUNT(*) AS BIGINT)
         AS mae_micro,
       CAST((SUM(ABS(actual - forecast)) * 1000000) // SUM(actual) AS BIGINT)
         AS wape_ppm
FROM paired
GROUP BY event_type
ORDER BY event_type
"""


@query("forecast_backtest_mae", oracle=_FORECAST_SQL)
def q_forecast_backtest_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each day's event count
    with the same weekday last week (the baseline every real forecaster
    must beat) and score MAE + WAPE per event type over the whole
    history — the accuracy-evaluation loop of a forecasting pipeline.

    Scale shape: the corpus collapses to a |types| x |days| daily grid
    in one map-side-combining aggregate; the lag-7 pairing is a
    self-equi-join ON THE GRID (never the raw events), so its cost is
    calendar-sized; errors are exact integer count differences and both
    metrics are reported as exact integer micro-units (floor division)
    — no float step anywhere."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    cur = daily.alias("cur")
    prev = daily.alias("prev")
    paired = cur.join(
        prev,
        (F.col("prev.event_type") == F.col("cur.event_type"))
        & (F.col("prev.d") == F.date_sub(F.col("cur.d"), 7)),
    ).select(
        F.col("cur.event_type").alias("event_type"),
        F.col("cur.n").alias("actual"),
        F.col("prev.n").alias("forecast"),
    )
    return (
        paired.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(F.abs(F.col("actual") - F.col("forecast"))).alias("total_abs_err"),
            F.sum("actual").alias("sum_actual"),
        )
        .select(
            "event_type",
            "n_days",
            "total_abs_err",
            F.expr("CAST((total_abs_err * 1000000) div n_days AS BIGINT)")
            .alias("mae_micro"),
            F.expr("CAST((total_abs_err * 1000000) div sum_actual AS BIGINT)")
            .alias("wape_ppm"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------- max drawdown -----

_DRAWDOWN_SQL = """
WITH vals AS (
  SELECT user_id, event_id,
         CAST(round(value * 100, 0) AS BIGINT) AS cents,
         ts
  FROM events
),
runs AS (
  SELECT user_id, cents,
         MAX(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS peak
  FROM vals
)
SELECT user_id,
       COUNT(*) AS n_events,
       MAX(peak) AS peak_cents,
       MAX(peak - cents) AS max_drawdown_cents
FROM runs
GROUP BY user_id
ORDER BY user_id
"""


@query("max_drawdown_value", oracle=_DRAWDOWN_SQL)
def q_max_drawdown_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user maximum drawdown: the largest drop of the event value
    below its running peak over the user's time-ordered stream — the
    running-extreme differential behind SLO burn monitoring and
    financial drawdown metrics.

    Scale shape: one per-user window (full parallelism across users)
    computing the running max, then one grouped aggregate — no global
    window, no self-join.  Values are exact integer cents and the
    window order (ts, event_id) is total, so tied timestamps cannot
    reorder the running peak across engines."""
    ev = load_table(spark, sf_dir, "events")
    vals = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = vals.withColumn("peak", F.max("cents").over(w))
    return (
        runs.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("peak").alias("peak_cents"),
            F.max(F.col("peak") - F.col("cents")).alias("max_drawdown_cents"),
        )
        .orderBy("user_id")
    )


@query(
    "pattern_rising_runs",
    oracle="""
WITH v AS (
  SELECT user_id, event_id, ts,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
),
f AS (
  SELECT user_id, event_id, ts, cents,
         CASE WHEN cents > lag(cents) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
              THEN 0 ELSE 1 END AS brk
  FROM v
),
isl AS (
  SELECT user_id,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM f
),
runs AS (
  SELECT user_id, island, count(*) AS run_len
  FROM isl GROUP BY user_id, island
)
SELECT user_id,
       count(*) AS n_rising_runs,
       CAST(max(run_len) AS BIGINT) AS longest_run
FROM runs
WHERE run_len >= 3
GROUP BY user_id
ORDER BY user_id
""",
)
def q_pattern_rising_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequential pattern detection without the
    SQL extension: per user, the maximal runs of STRICTLY RISING event
    values (3+ consecutive events, ordered by time) — the "momentum"
    pattern behind price-breakout alerts and engagement-streak
    triggers.  SURVEY.md §2.8's window family composes the whole
    recognizer: a lag() comparison marks run breaks, the running sum
    of breaks is the classic gaps-and-islands run id, and a grouped
    count filters to runs of length ≥ 3.

    Scale shape: two per-user windows (break flag + island id fuse
    into ONE window spec at the exchange level — same partition and
    order) then a partial-aggregatable count on (user, island); no
    global window, no self-join, integer cents comparisons only.  The
    (ts, event_id) order is total so both engines see identical runs."""
    v = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            "event_id",
            "ts",
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    brk = F.when(F.col("cents") > F.lag("cents").over(w), 0).otherwise(1)
    isl = v.withColumn(
        "island",
        F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    runs = isl.groupBy("user_id", "island").agg(F.count(F.lit(1)).alias("run_len"))
    return (
        runs.filter(F.col("run_len") >= 3)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_rising_runs"),
            F.max("run_len").cast("long").alias("longest_run"),
        )
        .orderBy("user_id")
    )


@query(
    "interval_union_coverage",
    oracle="""
WITH iv AS (
  SELECT user_id, event_id,
         epoch_us(ts) AS s_us,
         epoch_us(ts) + (abs(CAST(round(value * 100, 0) AS BIGINT)) % 120 + 1)
           * CAST(60000000 AS BIGINT) AS e_us
  FROM events WHERE value IS NOT NULL
),
m AS (
  SELECT user_id, event_id, s_us, e_us,
         max(e_us) OVER (PARTITION BY user_id ORDER BY s_us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max
  FROM iv
),
isl AS (
  SELECT user_id, s_us, e_us,
         SUM(CASE WHEN prev_max IS NULL OR s_us > prev_max THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY s_us, event_id
                 ROWS UNBOUNDED PRECEDING) AS island
  FROM m
),
cov AS (
  SELECT user_id, island,
         max(e_us) - min(s_us) AS covered_us
  FROM isl GROUP BY user_id, island
)
SELECT user_id,
       count(*) AS n_islands,
       CAST(SUM(covered_us) // 1000000 AS BIGINT) AS covered_seconds
FROM cov
GROUP BY user_id
ORDER BY user_id
""",
)
def q_interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total UNION-covered time of each user's activity intervals —
    the de-overlapped "actual usage" metric billing and capacity
    models need (overlapping sessions must not double-count).  Each
    event opens a half-open interval [ts, ts + dur) with the same
    integer-derived duration as ``peak_concurrency`` (abs(cents) % 120
    + 1 minutes), so both engines build bit-identical intervals in
    MICROSECOND integers (``unix_micros`` / ``epoch_us`` — the events
    fixture has sub-second timestamps).

    The sweep is the running-max-of-ends gaps-and-islands: an interval
    starts a new island iff its start strictly exceeds the max end of
    all earlier intervals (equal = abutting half-open intervals →
    merged); each island's union is one contiguous span
    [min start, max end].  Scale shape: two same-spec per-user windows
    + one (user, island) partial-aggregatable rollup — no self-join,
    no global window.  The covered time aggregates exactly in integer
    micros and divides down to whole seconds only at output."""
    dur_min = (
        F.abs(F.round(F.col("value") * 100, 0).cast("long")) % 120 + 1
    )
    iv = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("s_us"),
            (F.unix_micros("ts") + dur_min * F.lit(60_000_000).cast("long")).alias(
                "e_us"
            ),
        )
    )
    w = Window.partitionBy("user_id").orderBy("s_us", "event_id")
    m = iv.withColumn(
        "prev_max",
        F.max("e_us").over(w.rowsBetween(Window.unboundedPreceding, -1)),
    )
    new_island = F.when(
        F.col("prev_max").isNull() | (F.col("s_us") > F.col("prev_max")), 1
    ).otherwise(0)
    isl = m.withColumn(
        "island",
        F.sum(new_island).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    cov = isl.groupBy("user_id", "island").agg(
        (F.max("e_us") - F.min("s_us")).alias("covered_us")
    )
    return (
        cov.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.expr("sum(covered_us) div 1000000").cast("long").alias(
                "covered_seconds"
            ),
        )
        .orderBy("user_id")
    )


@query(
    "acf_daily_revenue",
    oracle="""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS x
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
),
t AS (SELECT COUNT(*) AS n, SUM(x) AS s FROM daily),
dev AS (
  SELECT d,
         CAST(t.n AS HUGEINT) * CAST(x AS HUGEINT) - CAST(t.s AS HUGEINT) AS e
  FROM daily CROSS JOIN t
),
lagd AS (
  SELECT e,
         lag(e, 1) OVER (ORDER BY d) AS e1,
         lag(e, 2) OVER (ORDER BY d) AS e2,
         lag(e, 3) OVER (ORDER BY d) AS e3,
         lag(e, 4) OVER (ORDER BY d) AS e4,
         lag(e, 5) OVER (ORDER BY d) AS e5,
         lag(e, 6) OVER (ORDER BY d) AS e6,
         lag(e, 7) OVER (ORDER BY d) AS e7
  FROM dev
),
agg AS (
  SELECT SUM(e * e) AS den,
         SUM(e * e1) AS num1, COUNT(e1) AS c1,
         SUM(e * e2) AS num2, COUNT(e2) AS c2,
         SUM(e * e3) AS num3, COUNT(e3) AS c3,
         SUM(e * e4) AS num4, COUNT(e4) AS c4,
         SUM(e * e5) AS num5, COUNT(e5) AS c5,
         SUM(e * e6) AS num6, COUNT(e6) AS c6,
         SUM(e * e7) AS num7, COUNT(e7) AS c7
  FROM lagd
)
SELECT lag_days, n_pairs, acf FROM (
  SELECT 1 AS lag_days, CAST(c1 AS BIGINT) AS n_pairs,
         CAST(round(CAST(num1 AS DOUBLE) / CAST(den AS DOUBLE), 6) AS DOUBLE) AS acf
  FROM agg
  UNION ALL
  SELECT 2 AS lag_days, CAST(c2 AS BIGINT) AS n_pairs,
         CAST(round(CAST(num2 AS DOUBLE) / CAST(den AS DOUBLE), 6) AS DOUBLE) AS acf
  FROM agg
  UNION ALL
  SELECT 3 AS lag_days, CAST(c3 AS BIGINT) AS n_pairs,
         CAST(round(CAST(num3 AS DOUBLE) / CAST(den AS DOUBLE), 6) AS DOUBLE) AS acf
  FROM agg
  UNION ALL
  SELECT 4 AS lag_days, CAST(c4 AS BIGINT) AS n_pairs,
         CAST(round(CAST(num4 AS DOUBLE) / CAST(den AS DOUBLE), 6) AS DOUBLE) AS acf
  FROM agg
  UNION ALL
  SELECT 5 AS lag_days, CAST(c5 AS BIGINT) AS n_pairs,
         CAST(round(CAST(num5 AS DOUBLE) / CAST(den AS DOUBLE), 6) AS DOUBLE) AS acf
  FROM agg
  UNION ALL
  SELECT 6 AS lag_days, CAST(c6 AS BIGINT) AS n_pairs,
         CAST(round(CAST(num6 AS DOUBLE) / CAST(den AS DOUBLE), 6) AS DOUBLE) AS acf
  FROM agg
  UNION ALL
  SELECT 7 AS lag_days, CAST(c7 AS BIGINT) AS n_pairs,
         CAST(round(CAST(num7 AS DOUBLE) / CAST(den AS DOUBLE), 6) AS DOUBLE) AS acf
  FROM agg
)
ORDER BY lag_days
""",
)
def q_acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact autocorrelation function (lags 1–7) of the daily order
    revenue series — the seasonality probe run before any forecasting
    model (a weekly cycle shows up as an acf spike at lag 7).

    Float summation order never appears: with ``n`` days and total
    ``S``, the mean-centered deviation is carried ×n as the INTEGER
    ``e_t = n·x_t − S`` (cents), so ``acf_k = Σ e_t·e_(t−k) / Σ e_t²``
    — the n² factors cancel — and both sums run in exact DECIMAL(38,0)
    (HUGEINT on the oracle side).  One final double division per lag,
    rounded to 6 dp.

    Scale shape: the corpus collapses to per-DAY rows with one
    partial-aggregatable shuffle; every window after that runs on the
    calendar-bounded daily frame (~2.4k rows for the 7-year TPC-H
    range at ANY corpus size — bounded by time, not data), so the
    single-partition lag window is deliberate and safe, same as the
    per-range totals window in operators/packing.py."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("x")
        )
    )
    t = daily.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
    )
    dev = daily.crossJoin(F.broadcast(t)).select(
        "d",
        (
            F.col("n").cast("decimal(20,0)") * F.col("x").cast("decimal(20,0)")
            - F.col("s").cast("decimal(20,0)")
        ).alias("e"),
    )
    w = Window.partitionBy(F.lit(1)).orderBy("d")
    lagd = dev.select(
        "e",
        F.lag("e", 1).over(w).alias("e1"),
        F.lag("e", 2).over(w).alias("e2"),
        F.lag("e", 3).over(w).alias("e3"),
        F.lag("e", 4).over(w).alias("e4"),
        F.lag("e", 5).over(w).alias("e5"),
        F.lag("e", 6).over(w).alias("e6"),
        F.lag("e", 7).over(w).alias("e7"),
    )
    agg = lagd.agg(
        F.sum(F.col("e") * F.col("e")).alias("den"),
        F.sum(F.col("e") * F.col("e1")).alias("num1"),
        F.count("e1").alias("c1"),
        F.sum(F.col("e") * F.col("e2")).alias("num2"),
        F.count("e2").alias("c2"),
        F.sum(F.col("e") * F.col("e3")).alias("num3"),
        F.count("e3").alias("c3"),
        F.sum(F.col("e") * F.col("e4")).alias("num4"),
        F.count("e4").alias("c4"),
        F.sum(F.col("e") * F.col("e5")).alias("num5"),
        F.count("e5").alias("c5"),
        F.sum(F.col("e") * F.col("e6")).alias("num6"),
        F.count("e6").alias("c6"),
        F.sum(F.col("e") * F.col("e7")).alias("num7"),
        F.count("e7").alias("c7"),
    )
    return (
        agg.selectExpr(
            "stack(7, 1, c1, round(cast(num1 as double) / cast(den as double), 6), 2, c2, round(cast(num2 as double) / cast(den as double), 6), 3, c3, round(cast(num3 as double) / cast(den as double), 6), 4, c4, round(cast(num4 as double) / cast(den as double), 6), 5, c5, round(cast(num5 as double) / cast(den as double), 6), 6, c6, round(cast(num6 as double) / cast(den as double), 6), 7, c7, round(cast(num7 as double) / cast(den as double), 6)) AS (lag_days, n_pairs, acf)"
        )
        .select(
            F.col("lag_days").cast("int").alias("lag_days"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("acf").cast("double").alias("acf"),
        )
        .orderBy("lag_days")
    )


@query(
    "cusum_changepoint",
    oracle="""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS x
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
),
t AS (SELECT COUNT(*) AS n, SUM(x) AS s FROM daily),
dev AS (
  SELECT day,
         CAST(t.n AS HUGEINT) * CAST(x AS HUGEINT) - CAST(t.s AS HUGEINT) AS e
  FROM daily CROSS JOIN t
),
cus AS (
  SELECT day,
         SUM(e) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cusum_n,
         any_value(n) OVER () AS n
  FROM dev CROSS JOIN t
)
SELECT day,
       CAST(cusum_n AS BIGINT) AS cusum_n_scaled,
       CAST(round(cusum_n / (1.0 * n), 2) AS DOUBLE) AS cusum_cents
FROM cus
ORDER BY abs(cusum_n) DESC, day
LIMIT 5
""",
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point candidates over the daily-revenue series:
    the five days where the cumulative sum of deviations from the
    global mean peaks in magnitude — the classic level-shift locator
    (argmax |CUSUM| is the maximum-likelihood single change point
    under a mean-shift model).

    Exactness: the same n-scaled integer centering as
    `acf_daily_revenue` — deviations are n*x - S in exact BIGINT
    cents (no float mean subtraction), so the running sum and the
    argmax ranking are integer-exact on both engines; the only float
    is the per-row display division, after ranking.  Scale shape: one
    partial-aggregatable day rollup, a 2-cell broadcast total, and
    one running-sum window over the DAY-cardinality series (bounded
    by the calendar, never by order count).  At extreme corpus scale
    the BIGINT n*x product is the first thing to widen — move the
    centering to DECIMAL(38,0) cents."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("x")
        )
    )
    t = daily.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
    )
    dev = daily.crossJoin(F.broadcast(t)).select(
        "day", "n", (F.col("n") * F.col("x") - F.col("s")).alias("e")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cus = dev.select(
        "day", "n", F.sum("e").over(w).alias("cusum_n")
    )
    return (
        cus.select(
            "day",
            F.col("cusum_n").cast("long").alias("cusum_n_scaled"),
            F.round(F.col("cusum_n") / (F.lit(1.0) * F.col("n")), 2)
            .cast("double")
            .alias("cusum_cents"),
        )
        .orderBy(F.abs(F.col("cusum_n_scaled")).desc(), "day")
        .limit(5)
    )


@query(
    "seasonal_decompose_dow",
    oracle="""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS x
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
),
w AS (
  SELECT day, x,
         SUM(x) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
           AS t7,
         COUNT(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
           AS n7
  FROM daily
),
det AS (
  SELECT isodow(day) AS dow, CAST(7 AS HUGEINT) * x - t7 AS dd
  FROM w WHERE n7 = 7
)
SELECT CAST(dow AS INTEGER) AS dow,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(SUM(dd) AS BIGINT) AS sum_dev_7x_cents,
       CAST(round(SUM(dd) / (700.0 * count(*)), 4) AS DOUBLE)
         AS seasonal_dollars
FROM det GROUP BY dow ORDER BY dow
""",
)
def q_seasonal_decompose_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition, the weekday
    component: detrend daily revenue with a centered 7-day moving
    average, then average the detrended deviations per ISO weekday —
    unlike `seasonal_dow_profile` (raw per-DOW means, which confound
    trend with seasonality), this is the textbook
    trend-removed seasonal index.

    Exactness: the moving average is kept as a 7-SCALED integer sum
    (dd = 7·x − Σ₇x in exact cents — no division inside the
    pipeline), so the per-DOW aggregate is integer-exact on both
    engines; one float division to display dollars at output.  Rows
    lacking a full 7-day window (series edges) are excluded exactly
    (n7 = 7).  Scale shape: one day-grain rollup (partial-
    aggregatable), one running window over the CALENDAR-bounded
    series, one 7-row aggregate."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("x")
        )
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    w = daily.select(
        "day",
        "x",
        F.sum("x").over(w7).alias("t7"),
        F.count(F.lit(1)).over(w7).alias("n7"),
    )
    det = w.filter(F.col("n7") == 7).select(
        (F.expr("weekday(day)") + 1).alias("dow"),
        (F.lit(7) * F.col("x") - F.col("t7")).alias("dd"),
    )
    return (
        det.groupBy(F.col("dow").cast("int").alias("dow"))
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("dd").cast("long").alias("sum_dev_7x_cents"),
            F.round(F.sum("dd") / (F.lit(700.0) * F.count(F.lit(1))), 4)
            .cast("double")
            .alias("seasonal_dollars"),
        )
        .orderBy("dow")
    )


#: Kaplan–Meier observation window: a user is followed for 48 hours
#: after their FIRST event; conversion (first purchase) later than
#: that is right-censored.  48 h makes both outcomes populous at
#: every fixture scale (10/15 converted at sf0.001, 998/1500 at
#: sf0.1).
_KM_WINDOW_H = 48


@query(
    "kaplan_meier_conversion",
    oracle=f"""
WITH u AS (
  SELECT user_id, min(ts) AS f,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS p
  FROM events GROUP BY 1
),
d AS (
  SELECT (epoch_us(p) - epoch_us(f)) // 3600000000 AS t_h FROM u
),
ev AS (
  SELECT t_h, CAST(count(*) AS BIGINT) AS d_conv
  FROM d WHERE t_h < {_KM_WINDOW_H} GROUP BY t_h
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
km AS (
  SELECT t_h, d_conv,
         n - COALESCE(SUM(d_conv) OVER (ORDER BY t_h
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
  FROM ev CROSS JOIN tot
),
terms AS (
  SELECT t_h, d_conv, n_risk,
         CAST(round(ln(1.0 - d_conv / (1.0 * n_risk)), 9) AS DECIMAL(18,9))
           AS l
  FROM km
),
curve AS (
  SELECT t_h, d_conv, n_risk,
         SUM(l) OVER (ORDER BY t_h ROWS UNBOUNDED PRECEDING) AS cum
  FROM terms
)
SELECT CAST(t_h AS BIGINT) AS t_hours, CAST(n_risk AS BIGINT) AS n_risk, d_conv,
       CAST(round(cum, 6) AS DOUBLE) AS log_survival,
       CAST(round(exp(CAST(cum AS DOUBLE)), 6) AS DOUBLE) AS survival
FROM curve ORDER BY t_hours
""",
)
def q_kaplan_meier_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier estimator of time-to-first-purchase with right
    censoring at a {48}-hour observation window — the survival curve
    product-limit form S(t) = Π (1 − d/n), the standard
    retention/conversion lifecycle readout (naive conversion rates
    are biased when observation is truncated; KM is the unbiased
    estimator).

    Determinism: the risk sets and event counts are exact integers
    (hour-floored via integer division of microseconds); each factor
    enters as ln(1 − d/n) QUANTIZED to DECIMAL(18,9) before the
    running sum (the KL-divergence trick — the cumulative log-survival
    is exact and associative at any parallelism), with one exp per
    OUTPUT row for display.  All censoring lands at the window edge,
    beyond every event time, so n_t = N − cumulative conversions —
    the oracle replays that closed form.  Scale shape: one per-user
    min-aggregate over the corpus, then everything downstream is
    bounded by the {48}-row event-time grid."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min("ts").alias("f"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("p"),
    )
    d = u.select(
        F.expr("(unix_micros(p) - unix_micros(f)) div 3600000000").alias("t_h")
    )
    evt = (
        d.filter(F.col("t_h") < _KM_WINDOW_H)
        .groupBy("t_h")
        .agg(F.count(F.lit(1)).alias("d_conv"))
    )
    tot = d.agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy("t_h")
    km = evt.crossJoin(F.broadcast(tot)).select(
        "t_h",
        "d_conv",
        (
            F.col("n")
            - F.coalesce(
                F.sum("d_conv").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            )
        ).alias("n_risk"),
    )
    terms = km.withColumn(
        "l",
        F.round(
            F.log(F.lit(1.0) - F.col("d_conv") / (F.lit(1.0) * F.col("n_risk"))), 9
        ).cast("decimal(18,9)"),
    )
    curve = terms.withColumn(
        "cum", F.sum("l").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return curve.select(
        F.col("t_h").cast("long").alias("t_hours"),
        "n_risk",
        "d_conv",
        F.round("cum", 6).cast("double").alias("log_survival"),
        F.round(F.exp(F.col("cum").cast("double")), 6).cast("double").alias(
            "survival"
        ),
    ).orderBy("t_hours")


@query(
    "markov_entropy_rate",
    oracle="""
WITH seq AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS dst
  FROM events
),
c AS (
  SELECT src, dst, count(*) AS cnt
  FROM seq WHERE dst IS NOT NULL
  GROUP BY src, dst
)
SELECT src AS src_event,
       CAST(SUM(cnt) AS BIGINT) AS n_transitions,
       CAST(COUNT(*) AS BIGINT) AS n_dst,
       CAST(round(
         CAST(CAST(round(ln(SUM(cnt)), 6) AS DECIMAL(18,6)) * SUM(cnt)
              - SUM(CAST(round(cnt * round(ln(cnt), 6), 6) AS DECIMAL(24,6)))
           AS DOUBLE)
         / SUM(cnt) / 0.6931471805599453, 6) AS DOUBLE) AS h_bits
FROM c
GROUP BY src
ORDER BY src_event
""",
)
def q_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional next-event entropy H(next | current) in bits per
    source state — how predictable each behavioral state is (the
    information-theoretic layer over `markov_transitions`' raw matrix:
    a state whose row entropy collapses toward 0 is a deterministic
    funnel step; near log₂|types| it's noise).

    Same determinism contract as `entropy_by_source` — H = ln t −
    (Σ c·ln c)/t with every transcendental 6-dp-quantized per COUNT
    and summed as DECIMAL(24,6) (order-free exact), one double
    division per state, shared ln 2 literal.  Same scale shape as
    `markov_transitions`: one per-user lead() on a total order, one
    (src, dst) aggregate; the entropy rollup runs on the
    |event_types|²-row matrix."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    c = seq.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        c.groupBy("src")
        .agg(
            F.sum("cnt").alias("n_transitions"),
            F.count(F.lit(1)).alias("n_dst"),
            F.sum(
                F.expr(
                    "CAST(round(cnt * round(ln(cnt), 6), 6) AS DECIMAL(24,6))"
                )
            ).alias("s_clnc"),
        )
        .select(
            F.col("src").alias("src_event"),
            F.col("n_transitions").cast("long").alias("n_transitions"),
            F.col("n_dst").cast("long").alias("n_dst"),
            F.expr(
                "CAST(round("
                " CAST(CAST(round(ln(n_transitions), 6) AS DECIMAL(18,6))"
                "      * n_transitions - s_clnc AS DOUBLE)"
                " / n_transitions / 0.6931471805599453D, 6) AS DOUBLE)"
            ).alias("h_bits"),
        )
        .orderBy("src_event")
    )


@query(
    "repeat_purchase_interval",
    oracle="""
WITH g AS (
  SELECT c_mktsegment AS segment, o_custkey,
         date_diff('day',
                   lag(CAST(o_orderdate AS DATE))
                     OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey),
                   CAST(o_orderdate AS DATE)) AS gap_days
  FROM orders JOIN customer ON o_custkey = c_custkey
)
SELECT segment,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_repeat_customers,
       CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(round(quantile_cont(gap_days, 0.5), 6) AS DOUBLE)
         AS median_gap_days,
       CAST(round(SUM(gap_days) / (1.0 * count(*)), 4) AS DOUBLE)
         AS mean_gap_days
FROM g WHERE gap_days IS NOT NULL
GROUP BY segment
ORDER BY segment
""",
)
def q_repeat_purchase_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase cadence per market segment: median and mean
    days between a customer's consecutive orders — the replenishment
    fingerprint demand forecasting and churn-risk scoring read (a
    segment whose median gap stretches release-over-release is
    disengaging).

    Gaps are exact integer day differences from a per-customer lag()
    on a (date, orderkey) total order; the median is continuous-
    interpolated on identical integer samples (percentile ≡
    quantile_cont, the `agg_percentiles` precedent) and the mean is
    one rounded division of exact integers.  Scale shape: one
    per-customer sort window, one segment rollup — the segment
    dimension rides along from a broadcast customer join."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            "o_custkey",
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lag(F.col("o_orderdate").cast("date")).over(w),
            ).alias("gap_days"),
        )
        .filter(F.col("gap_days").isNotNull())
    )
    return (
        g.groupBy("segment")
        .agg(
            F.count_distinct("o_custkey").alias("n_repeat_customers"),
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(F.expr("percentile(gap_days, 0.5D)"), 6)
            .cast("double")
            .alias("median_gap_days"),
            F.round(F.sum("gap_days") / (F.lit(1.0) * F.count(F.lit(1))), 4)
            .cast("double")
            .alias("mean_gap_days"),
        )
        .orderBy("segment")
    )


@query(
    "seasonal_residual_outliers",
    oracle="""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS x
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
),
w AS (
  SELECT day, x,
         SUM(x) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
           AS t7,
         COUNT(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
           AS n7
  FROM daily
),
det AS (
  SELECT day, isodow(day) AS dow, CAST(7 AS HUGEINT) * x - t7 AS dd
  FROM w WHERE n7 = 7
),
med AS (
  SELECT dow, CAST(round(quantile_cont(dd, 0.5), 1) AS DOUBLE) AS med
  FROM det GROUP BY dow
),
dev AS (
  SELECT det.dow, dd, med, abs(dd - med) AS adev
  FROM det JOIN med ON det.dow = med.dow
),
mad AS (
  SELECT dow, CAST(round(quantile_cont(adev, 0.5), 1) AS DOUBLE) AS mad
  FROM dev GROUP BY dow
)
SELECT dev.dow AS dow,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(SUM(CASE WHEN abs(dd - dev.med) > 3.5 * mad.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outlier_days
FROM dev JOIN mad ON dev.dow = mad.dow
GROUP BY dev.dow
ORDER BY dow
""",
)
def q_seasonal_residual_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-aware anomaly counts: days whose DETRENDED revenue
    deviation violates the median/MAD rule WITHIN their own weekday
    cohort — the composition `seasonal_decompose_dow` exists for (a
    quiet Sunday is normal; a Sunday-sized Tuesday is not; raw-value
    fences as in `outlier_mad_events` would flag every weekend).

    The detrended series is the decomposition's exact 7-scaled
    integer dd = 7·x − Σ₇x; per-dow fences interpolate those integer
    samples (percentile ≡ quantile_cont) and are rounded to ONE
    decimal — the `embedding_outlier_counts` lesson: at large integer
    scales quantile_cont's ~1e-4 interpolation drift survives a 6-dp
    round but not a 1-dp one.  Scale shape: day-grain rollup →
    calendar-bounded window → two 7-group percentile passes with
    fences broadcast back."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("x")
        )
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    det = (
        daily.select(
            "day",
            "x",
            F.sum("x").over(w7).alias("t7"),
            F.count(F.lit(1)).over(w7).alias("n7"),
        )
        .filter(F.col("n7") == 7)
        .select(
            (F.expr("weekday(day)") + 1).alias("dow"),
            (F.lit(7) * F.col("x") - F.col("t7")).alias("dd"),
        )
    )
    med = det.groupBy("dow").agg(
        F.round(F.percentile("dd", F.lit(0.5)), 1).alias("med")
    )
    dev = det.join(F.broadcast(med), "dow").withColumn(
        "adev", F.abs(F.col("dd") - F.col("med"))
    )
    mad = dev.groupBy("dow").agg(
        F.round(F.percentile("adev", F.lit(0.5)), 1).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "dow")
        .groupBy(F.col("dow").cast("int").alias("dow"))
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(
                F.when(
                    F.abs(F.col("dd") - F.col("med")) > 3.5 * F.col("mad"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outlier_days"),
        )
        .orderBy("dow")
    )


@query(
    "reach_curve_daily",
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
first_seen AS (
  SELECT user_id, min(day) AS first_day FROM ud GROUP BY user_id
),
daily AS (
  SELECT ud.day,
         CAST(count(*) AS BIGINT) AS active_users,
         CAST(SUM(CASE WHEN fs.first_day = ud.day THEN 1 ELSE 0 END)
              AS BIGINT) AS new_users
  FROM ud JOIN first_seen fs ON ud.user_id = fs.user_id
  GROUP BY ud.day
)
SELECT day, active_users, new_users,
       active_users - new_users AS returning_users,
       CAST(SUM(new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cum_users
FROM daily ORDER BY day
""",
)
def q_reach_curve_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily audience composition and the cumulative reach curve:
    active / new / returning users per day plus running total uniques
    — growth accounting's standard decomposition (cumulative DISTINCT
    is naively unscalable; first-seen attribution makes it a prefix
    sum).

    Scale shape: one (user, day) distinct, one per-user min (both
    partial-aggregatable corpus shuffles), one day rollup — the
    cumulative window then runs on the CALENDAR-bounded day series.
    New-vs-returning needs no second distinct: a user is new exactly
    on their first-seen day, so the broadcast-joined first_day
    comparison decides it row-locally.  All exact integers."""
    events = load_table(spark, sf_dir, "events")
    ud = events.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    fs = ud.groupBy("user_id").agg(F.min("day").alias("first_day"))
    daily = (
        ud.join(fs, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("active_users"),
            F.sum(
                F.when(F.col("first_day") == F.col("day"), 1).otherwise(0)
            )
            .cast("long")
            .alias("new_users"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        "active_users",
        "new_users",
        (F.col("active_users") - F.col("new_users")).alias("returning_users"),
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    ).orderBy("day")


@query(
    "stream_reach_curve",
    oracle="""
WITH fs AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events GROUP BY 1
),
daily AS (
  SELECT first_day AS day, CAST(count(*) AS BIGINT) AS new_users
  FROM fs GROUP BY 1
)
SELECT day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cum_users
FROM daily ORDER BY day
""",
)
def q_stream_reach_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cumulative-reach curve maintained under a REAL stream:
    events staged as two files, drained one micro-batch each
    (``maxFilesPerTrigger=1``); ``foreachBatch`` min-merges each
    batch's per-user first-activity day into versioned snapshots
    (streaming/firstseen.py) — the incremental form of
    `reach_curve_daily`'s first-seen attribution.  Because MIN is
    associative/commutative, the streamed state must equal the
    one-shot batch build EXACTLY — the oracle is the batch new-user
    curve, so the merge property is verified end to end (the
    `stream_cms_heavy_hitters` discipline applied to MIN state).
    Per-ingest cost is O(batch) + one |users|-row state merge; the
    curve rollup runs on the calendar-bounded day grid."""
    from ..streaming.firstseen import first_seen_maintainer, read_first_seen
    from ..streaming.runner import file_stream, run_foreach_batch, scratch_dir

    work = scratch_dir("vmdb_reach_")
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id"
    )
    events.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{work}/src")
    events.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(f"{work}/src")
    stream = file_stream(
        spark, f"{work}/src", events.schema, max_files_per_trigger=1
    )
    run_foreach_batch(stream, f"{work}/cp", first_seen_maintainer(f"{work}/state"))
    fs = read_first_seen(spark, f"{work}/state")
    daily = fs.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    ).orderBy("day")


@query(
    "burst_hours_scan",
    oracle="""
WITH hours AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
span AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_hours,
         CAST(SUM(c) AS BIGINT) AS n_events
  FROM hours GROUP BY event_type
),
lam AS (
  SELECT event_type, n_hours, n_events,
         round(n_events / (1.0 * n_hours), 6) AS lambda
  FROM span
)
SELECT h.event_type,
       any_value(l.n_hours) AS n_nonzero_hours,
       any_value(CAST(l.lambda AS DOUBLE)) AS lambda_per_hour,
       CAST(SUM(CASE WHEN c > l.lambda + 4 * sqrt(l.lambda)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_burst_hours,
       CAST(max(c) AS BIGINT) AS max_hour_count
FROM hours h JOIN lam l ON h.event_type = l.event_type
GROUP BY h.event_type
ORDER BY h.event_type
""",
)
def q_burst_hours_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-aware burst detection per event type: hours whose count
    exceeds λ + 4√λ (the Poisson ~4σ surprise threshold) — the scan
    statistic an on-call dashboard alarms on, and the RATE-model
    complement to the distribution-free MAD/IQR outlier family (for
    counting processes the Poisson null is the right baseline: its
    variance equals its mean, so fences must scale with √λ, not MAD).

    λ is one 6-dp-rounded division of exact integers per type (over
    NONZERO hours — the dense-grid zero-fill is unnecessary because
    zero hours can never exceed a positive threshold); the fence
    compares an exact integer count against λ + 4√λ built from the
    SAME rounded λ on both engines.  Scale shape: one (type, hour)
    rollup — calendar×|types|-bounded downstream."""
    events = load_table(spark, sf_dir, "events")
    hours = events.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).alias("c"))
    lam = hours.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("c").alias("n_events"),
    ).select(
        "event_type",
        "n_hours",
        F.round(F.col("n_events") / (F.lit(1.0) * F.col("n_hours")), 6).alias(
            "lambda"
        ),
    )
    return (
        hours.join(F.broadcast(lam), "event_type")
        .groupBy("event_type")
        .agg(
            F.any_value("n_hours").cast("long").alias("n_nonzero_hours"),
            F.any_value(F.col("lambda").cast("double")).alias("lambda_per_hour"),
            F.sum(
                F.when(
                    F.col("c")
                    > F.col("lambda") + 4 * F.sqrt(F.col("lambda")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_burst_hours"),
            F.max("c").cast("long").alias("max_hour_count"),
        )
        .orderBy("event_type")
    )


@query(
    "state_occupancy_share",
    oracle="""
WITH seq AS (
  SELECT event_type AS state,
         epoch_us(ts) AS s_us,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS e_us
  FROM events
),
dur AS (
  SELECT state, CAST(SUM(e_us - s_us) AS BIGINT) AS occ_us
  FROM seq WHERE e_us IS NOT NULL
  GROUP BY state
),
tot AS (SELECT SUM(CAST(occ_us AS HUGEINT)) AS t FROM dur)
SELECT state,
       CAST(occ_us // 1000000 AS BIGINT) AS occupied_seconds,
       CAST((CAST(occ_us AS HUGEINT) * 1000000) // t AS BIGINT)
         AS share_ppm
FROM dur CROSS JOIN tot
ORDER BY state
""",
)
def q_state_occupancy_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duration-weighted state occupancy: how much wall-clock time
    users SPEND in each behavioral state (an event holds its state
    until the user's next event) — the sojourn-time layer that
    completes the Markov family (`markov_transitions` counts jumps,
    `markov_entropy_rate` scores their predictability; occupancy
    weights states by dwell time, which frequency counts misstate
    when dwell is skewed).

    One lead() per user on the same (ts, event_id) total order as the
    transition matrix, summed in exact BIGINT microseconds; shares
    are integer parts-per-million ((occ·10⁶) div total — NO float
    anywhere).  Each user's last event has no successor and is
    excluded exactly (open-ended dwell is unobserved — a censoring
    convention, stated rather than imputed)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("state"),
        F.unix_micros("ts").alias("s_us"),
        F.lead(F.unix_micros("ts")).over(w).alias("e_us"),
    ).filter(F.col("e_us").isNotNull())
    dur = seq.groupBy("state").agg(
        F.sum(F.col("e_us") - F.col("s_us")).alias("occ_us")
    )
    tot = dur.agg(F.sum(F.col("occ_us").cast("decimal(38,0)")).alias("t"))
    return (
        dur.crossJoin(F.broadcast(tot))
        .select(
            "state",
            F.expr("occ_us div 1000000").cast("long").alias("occupied_seconds"),
            F.expr(
                "CAST((CAST(occ_us AS DECIMAL(38,0)) * 1000000) div t AS BIGINT)"
            ).alias("share_ppm"),
        )
        .orderBy("state")
    )


@query(
    "repeat_revenue_share_monthly",
    oracle="""
WITH o AS (
  SELECT o_custkey AS cust,
         date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
         CAST(o_orderdate AS DATE) AS d,
         o_orderkey AS ok,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders WHERE o_orderdate IS NOT NULL
),
fs AS (SELECT cust, min(d) AS first_day FROM o GROUP BY cust),
tagged AS (
  SELECT o.m, o.cents,
         (date_trunc('month', fs.first_day) < o.m) AS is_repeat
  FROM o JOIN fs ON o.cust = fs.cust
)
SELECT CAST(m AS DATE) AS month,
       CAST(SUM(cents) AS BIGINT) AS revenue_cents,
       CAST(SUM(CASE WHEN is_repeat THEN cents ELSE 0 END) AS BIGINT)
         AS repeat_cents,
       CAST((SUM(CAST(CASE WHEN is_repeat THEN cents ELSE 0 END AS HUGEINT))
             * 1000000) // SUM(cents) AS BIGINT) AS repeat_share_ppm
FROM tagged GROUP BY m ORDER BY month
""",
)
def q_repeat_revenue_share_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue split by customer tenure: how much of each
    month's revenue comes from customers acquired in an EARLIER month
    — the growth-quality decomposition (`reach_curve_daily`'s
    new/returning split applied to money instead of headcount;
    all-new revenue is acquisition-driven and churns with spend,
    repeat revenue is the durable base).

    First-order attribution is one per-customer min (the first-seen
    discipline) broadcast back; a month is 'repeat' for a customer
    strictly AFTER their acquisition month (their first month counts
    as new — including its later orders, the standard cohort
    convention).  Exact integer cents; shares integer ppm; the month
    rollup is calendar-bounded."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    o = orders.select(
        F.col("o_custkey").alias("cust"),
        F.date_trunc("month", F.col("o_orderdate").cast("date")).alias("m"),
        F.col("o_orderdate").cast("date").alias("d"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    fs = o.groupBy("cust").agg(F.min("d").alias("first_day"))
    tagged = o.join(fs, "cust").select(
        "m",
        "cents",
        (F.date_trunc("month", F.col("first_day")) < F.col("m")).alias(
            "is_repeat"
        ),
    )
    return (
        tagged.groupBy(F.col("m").cast("date").alias("month"))
        .agg(
            F.sum("cents").cast("long").alias("revenue_cents"),
            F.sum(F.when(F.col("is_repeat"), F.col("cents")).otherwise(0))
            .cast("long")
            .alias("repeat_cents"),
            F.sum(
                F.when(F.col("is_repeat"), F.col("cents"))
                .otherwise(0)
                .cast("decimal(38,0)")
            ).alias("_rc"),
            F.sum(F.col("cents").cast("decimal(38,0)")).alias("_tc"),
        )
        .select(
            "month",
            "revenue_cents",
            "repeat_cents",
            F.expr("CAST((_rc * 1000000) div _tc AS BIGINT)").alias(
                "repeat_share_ppm"
            ),
        )
        .orderBy("month")
    )


@query(
    "spend_decile_mobility",
    oracle="""
WITH cm AS (
  SELECT o_custkey AS cust,
         CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS m,
         SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
  FROM orders WHERE o_orderdate IS NOT NULL
  GROUP BY 1, 2
),
ranked AS (
  SELECT cust, m,
         ((row_number() OVER (PARTITION BY m ORDER BY cents, cust) - 1) * 10)
           // count(*) OVER (PARTITION BY m) + 1 AS decile
  FROM cm
)
SELECT a.decile AS decile_from, b.decile AS decile_to,
       CAST(count(*) AS BIGINT) AS n_customers
FROM ranked a
JOIN ranked b ON a.cust = b.cust AND b.m = a.m + INTERVAL 1 MONTH
GROUP BY 1, 2
ORDER BY decile_from, decile_to
""",
)
def q_spend_decile_mobility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month spend-decile mobility matrix: where do a
    month's decile-d customers land the NEXT month they order — the
    rank-mobility readout (a heavy diagonal means stable spending
    tiers; mass under the diagonal means churn toward low spend)
    that LTV models and retention teams track, and the longitudinal
    complement to `customer_ltv_deciles`' static snapshot.

    Deciles use the integer ((rk−1)·10) div n form on a (cents, cust)
    total order — no engine ntile semantics; the month windows
    partition by calendar month so each is customer-month-bounded.
    The transition join is a (cust, consecutive-month) equi-join on
    the ranked frame, never on raw orders; output is the ≤100-row
    matrix."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    cm = orders.groupBy(
        F.col("o_custkey").alias("cust"),
        F.date_trunc("month", F.col("o_orderdate").cast("date"))
        .cast("date")
        .alias("m"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("cents")
    )
    wm = Window.partitionBy("m").orderBy("cents", "cust")
    ranked = (
        cm.select(
            "cust",
            "m",
            (
                ((F.row_number().over(wm) - 1) * 10)
                / F.count(F.lit(1)).over(Window.partitionBy("m"))
            )
            .cast("long")
            .alias("_d"),
        )
        .select("cust", "m", (F.col("_d") + 1).alias("decile"))
        # both sides of the consecutive-month self-join consume this
        # narrow (cust, m, decile) frame; the eager cut bounds the
        # orders scan + month aggregate + rank window to ONE run (r11)
        .localCheckpoint(eager=True)
    )
    a = ranked.alias("a")
    b = ranked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.cust") == F.col("b.cust"))
            & (F.col("b.m") == F.add_months(F.col("a.m"), 1)),
        )
        .groupBy(
            F.col("a.decile").alias("decile_from"),
            F.col("b.decile").alias("decile_to"),
        )
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("decile_from", "decile_to")
    )


@query(
    "revenue_variance_ratio",
    oracle="""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders WHERE o_orderdate IS NOT NULL
  GROUP BY 1
),
lagged AS (
  SELECT cents,
         cents - lag(cents, 1) OVER (ORDER BY day) AS d1,
         cents - lag(cents, 5) OVER (ORDER BY day) AS d5
  FROM daily
),
m AS (
  SELECT CAST(count(d1) AS BIGINT) AS n1,
         CAST(SUM(CAST(d1 AS HUGEINT)) AS HUGEINT) AS s1,
         CAST(SUM(CAST(d1 AS HUGEINT) * d1) AS HUGEINT) AS ss1,
         CAST(count(d5) AS BIGINT) AS n5,
         CAST(SUM(CAST(d5 AS HUGEINT)) AS HUGEINT) AS s5,
         CAST(SUM(CAST(d5 AS HUGEINT) * d5) AS HUGEINT) AS ss5
  FROM lagged
)
SELECT n1 AS n_diff1, n5 AS n_diff5,
       CAST(round(sqrt(CAST(n1 AS DOUBLE) * ss1 - CAST(s1 AS DOUBLE) * s1)
                  / (100.0 * n1), 2)
            AS DOUBLE) AS sd_diff1_dollars,
       CAST(round(sqrt(CAST(n5 AS DOUBLE) * ss5 - CAST(s5 AS DOUBLE) * s5)
                  / (100.0 * n5), 2)
            AS DOUBLE) AS sd_diff5_dollars,
       CAST(round(((CAST(n5 AS DOUBLE) * ss5 - CAST(s5 AS DOUBLE) * s5)
                   / (1.0 * n5 * n5))
                  / (5.0 * (CAST(n1 AS DOUBLE) * ss1 - CAST(s1 AS DOUBLE) * s1)
                     / (1.0 * n1 * n1)),
                  6) AS DOUBLE) AS variance_ratio
FROM m
""",
)
def q_revenue_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance-ratio test on daily revenue: VR(q) =
    Var(q-step differences) / (q · Var(1-step differences)) over the
    ordered day sequence — the standard random-walk diagnostic (VR ≈ 1
    for a walk; < 1 signals mean reversion, > 1 momentum/trend).  The
    stationarity sibling of `acf_daily_revenue` (which measures
    autocorrelation of LEVELS; this measures how innovation variance
    scales with the sampling interval).

    Exactness: daily revenue is integer cents; both difference series
    are exact integers from positional lags over the day order; the
    co-moment SUMS are exact (DECIMAL(38,0) on the Spark side, HUGEINT
    in the oracle) and are cast to DOUBLE before the n·Σd² − (Σd)²
    combinations so the products can never breach the 38-digit decimal
    width at scale (both engines combine identical IEEE operands).  Dispersion is reported as
    STDDEV IN DOLLARS, not raw cent² variance — the co-moments reach
    ~1e15 cent², where one double ulp is 0.125 and engines legitimately
    disagree below the comparator's 6-dp grain; sqrt brings the
    magnitude to ~1e4 dollars where a 2-dp round is ulp-safe, and the
    unitless ratio rounds at 6 dp.  Scale shape: the corpus-sized
    work is ONE partial-aggregatable daily rollup; the lag windows and
    the final 6-cell aggregate run on the DATE-DOMAIN frame (calendar-
    bounded, thousands of rows at any corpus size), so the unpartitioned
    ORDER BY day window is aggregate-sized, never corpus-sized."""
    dec = "decimal(38,0)"
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.filter(F.col("o_orderdate").isNotNull())
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
                "cents"
            )
        )
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        (F.col("cents") - F.lag("cents", 1).over(w)).alias("d1"),
        (F.col("cents") - F.lag("cents", 5).over(w)).alias("d5"),
    )
    m = lagged.agg(
        F.count("d1").cast(dec).alias("n1"),
        F.sum(F.col("d1").cast(dec)).alias("s1"),
        F.sum(F.col("d1").cast(dec) * F.col("d1")).alias("ss1"),
        F.count("d5").cast(dec).alias("n5"),
        F.sum(F.col("d5").cast(dec)).alias("s5"),
        F.sum(F.col("d5").cast(dec) * F.col("d5")).alias("ss5"),
    )
    return m.select(
        F.col("n1").cast("long").alias("n_diff1"),
        F.col("n5").cast("long").alias("n_diff5"),
        F.expr(
            "CAST(round(sqrt(CAST(n1 AS DOUBLE) * ss1 - CAST(s1 AS DOUBLE) * s1)"
            " / (100.0 * n1), 2) AS DOUBLE)"
        ).alias("sd_diff1_dollars"),
        F.expr(
            "CAST(round(sqrt(CAST(n5 AS DOUBLE) * ss5 - CAST(s5 AS DOUBLE) * s5)"
            " / (100.0 * n5), 2) AS DOUBLE)"
        ).alias("sd_diff5_dollars"),
        F.expr(
            "CAST(round(((CAST(n5 AS DOUBLE) * ss5 - CAST(s5 AS DOUBLE) * s5)"
            " / (1.0 * n5 * n5))"
            " / (5.0 * (CAST(n1 AS DOUBLE) * ss1 - CAST(s1 AS DOUBLE) * s1)"
            " / (1.0 * n1 * n1)),"
            " 6) AS DOUBLE)"
        ).alias("variance_ratio"),
    )


@query(
    "ccf_click_purchase",
    oracle="""
WITH bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
  FROM events
),
grid AS (
  SELECT CAST((epoch(h) - epoch(b.lo)) // 3600 AS BIGINT) AS i
  FROM (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
        FROM bounds) g CROSS JOIN bounds b
),
hourly AS (
  SELECT CAST((epoch(date_trunc('hour', ts)) - epoch(b.lo)) // 3600 AS BIGINT)
           AS i,
         event_type, count(*) AS c
  FROM events CROSS JOIN bounds b GROUP BY 1, 2
),
wide AS (
  SELECT g.i,
         COALESCE(MAX(CASE WHEN event_type = 'click' THEN c END), 0) AS x,
         COALESCE(MAX(CASE WHEN event_type = 'purchase' THEN c END), 0) AS y
  FROM grid g LEFT JOIN hourly ON hourly.i = g.i
  GROUP BY g.i
),
lagged AS (
  SELECT l.lag, a.x, b.y
  FROM (SELECT unnest(range(-3, 4)) AS lag) l
  JOIN wide a ON TRUE
  JOIN wide b ON b.i = a.i + l.lag
),
m AS (
  SELECT lag, CAST(count(*) AS HUGEINT) AS n,
         SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM lagged GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag_hours, CAST(n AS BIGINT) AS n_pairs,
       CAST(round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                  / NULLIF(sqrt(CAST(n AS DOUBLE) * sxx
                                - CAST(sx AS DOUBLE) * sx)
                           * sqrt(CAST(n AS DOUBLE) * syy
                                  - CAST(sy AS DOUBLE) * sy), 0),
                  6) AS DOUBLE) AS ccf
FROM m ORDER BY lag_hours
""",
)
def q_ccf_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between hourly click and purchase
    volumes at lags −3..+3 hours — the attribution-lag diagnostic
    `correlation_matrix` (lag 0 only) can't answer: a CCF peaking at
    +1 says clicks LEAD purchases by an hour, the input to campaign
    attribution windows and demand nowcasting.

    Dense hour grid (empty buckets count 0 — the `correlation_matrix`
    discipline), hour index as exact epoch arithmetic (no window), the
    7 lags expanded from a literal array and matched with ONE
    aggregate-domain equi-join (b.i = a.i + lag); per-lag moments are
    exact HUGEINT/DECIMAL(38,0) sums cast to DOUBLE before the
    co-moment products (the r7 overflow-safe combination).  Scale: the
    corpus prices one (hour, type) rollup; everything after runs on
    the calendar-bounded grid."""
    events = load_table(spark, sf_dir, "events")
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = (
        bounds.select(
            F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("h"),
            "lo",
        )
        .select(
            F.expr("(unix_seconds(h) - unix_seconds(lo)) div 3600").alias("i")
        )
    )
    hourly = (
        events.crossJoin(F.broadcast(bounds.select("lo")))
        .groupBy(
            F.expr(
                "(unix_seconds(date_trunc('hour', ts)) - unix_seconds(lo))"
                " div 3600"
            ).alias("i"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wide = (
        grid.join(hourly, "i", "left")
        .groupBy("i")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("event_type") == "click", F.col("c"))),
                F.lit(0),
            ).alias("x"),
            F.coalesce(
                F.max(F.when(F.col("event_type") == "purchase", F.col("c"))),
                F.lit(0),
            ).alias("y"),
        )
        # the lag match self-joins this frame: checkpoint the
        # calendar-bounded grid so the corpus rollup prices ONCE, not
        # once per side (the pagerank lineage-cut discipline)
        .localCheckpoint(eager=True)
    )
    lags = spark.range(-3, 4).select(F.col("id").alias("lag"))
    a = wide.select("i", "x").crossJoin(F.broadcast(lags))
    b = wide.select(F.col("i").alias("j"), "y")
    lagged = a.join(b, F.col("j") == F.col("i") + F.col("lag"))
    dec = "decimal(38,0)"
    m = lagged.groupBy("lag").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
    )
    return m.select(
        F.col("lag").cast("long").alias("lag_hours"),
        F.col("n").cast("long").alias("n_pairs"),
        F.expr(
            "CAST(round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
            " / NULLIF(sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
            "          * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy),"
            " 0), 6) AS DOUBLE)"
        ).alias("ccf"),
    ).orderBy("lag_hours")


@query(
    "theil_sen_trend",
    oracle="""
WITH daily AS (
  SELECT o_orderdate AS d,
         sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) / 100.0 AS y
  FROM orders GROUP BY 1
),
pts AS (
  SELECT CAST(date_diff('day', (SELECT min(d) FROM daily), d) AS DOUBLE)
           AS x,
         y
  FROM daily
),
sl AS (
  SELECT round(quantile_cont((b.y - a.y) / (b.x - a.x), 0.5), 6) AS slope
  FROM pts a JOIN pts b ON a.x < b.x
)
SELECT CAST(count(*) AS BIGINT) AS n_days,
       (SELECT slope FROM sl) AS theil_slope,
       round(quantile_cont(y - (SELECT slope FROM sl) * x, 0.5), 6)
         AS theil_intercept,
       round(regr_slope(y, x), 6) AS ols_slope
FROM pts
""",
)
def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL-SEN robust trend of daily revenue — the median of all
    pairwise slopes, the estimator that shrugs off the outlier days
    that drag OLS around (29% breakdown point vs OLS's zero); both
    slopes are reported so the gap itself is the outlier diagnostic.
    Intercept = median of (y - slope·x) residuals (slope rounded to
    6 dp before reuse, the mining-module float discipline).

    Scale: the O(n²) pair space is over DAILY AGGREGATES, never rows —
    a decade is ~3,650 points (~6.7M pairs) no matter how many billions
    of order rows feed the first groupBy, so the pair join is a
    broadcast nested-loop over a table that fits in L2.  Revenue sums
    are exact integer cents, so the pair slopes are bit-identical
    across engines before the median interpolates.  Estimator core:
    :func:`..operators.analytics.theil_sen` (robustness property
    tested against an injected outlier in tests/test_r8_analytics.py).
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        (
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            / 100.0
        ).alias("y")
    )
    d0 = daily.agg(F.min("d").alias("d0"))
    pts = daily.join(F.broadcast(d0)).select(
        F.datediff("d", "d0").cast("double").alias("x"), "y"
    )
    return theil_sen(pts).select(
        F.col("n_points").alias("n_days"),
        "theil_slope",
        "theil_intercept",
        "ols_slope",
    )


def _mk_oracle() -> str:
    from .stats_queries import _pnorm_two_sided

    return f"""
WITH daily AS (
  SELECT o_orderdate AS d,
         sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS c
  FROM orders GROUP BY 1
),
pts AS (
  SELECT CAST(date_diff('day', (SELECT min(d) FROM daily), d) AS BIGINT)
           AS x, c
  FROM daily
),
s AS (
  SELECT sum(CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1 ELSE 0 END)
           AS s_stat
  FROM pts a JOIN pts b ON a.x < b.x
),
n_ AS (SELECT count(*) AS n FROM pts),
ties AS (
  SELECT COALESCE(sum(t * (t - 1) * (2 * t + 5)), 0) AS tie_term
  FROM (SELECT count(*) AS t FROM pts GROUP BY c HAVING count(*) > 1)
),
stat AS (
  SELECT s_stat, n,
         (n * (n - 1) * (2 * n + 5) - tie_term) / 18.0 AS var_s
  FROM s CROSS JOIN n_ CROSS JOIN ties
),
z_ AS (
  SELECT s_stat, n, var_s,
         CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
              WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
              ELSE 0.0 END AS z_raw
  FROM stat
)
SELECT CAST(n AS BIGINT) AS n_days,
       CAST(s_stat AS BIGINT) AS s_stat,
       CAST(round(s_stat / (n * (n - 1) / 2.0), 6) AS DOUBLE) AS kendall_tau,
       CAST(round(z_raw, 6) AS DOUBLE) AS z,
       CAST(round({_pnorm_two_sided("z_raw")}, 6) AS DOUBLE) AS p_value
FROM z_
"""


@query("mann_kendall_trend", oracle=_mk_oracle())
def q_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-KENDALL trend test on daily revenue — the NON-PARAMETRIC
    companion to `theil_sen_trend` (same daily series, same pair
    space): S = sum of sign(y_j − y_i) over ordered day pairs, the
    tie-corrected variance, the continuity-corrected z, Kendall's tau,
    and the two-sided p (A&S polynomial CDF shared verbatim with
    `fdr_bh_correction`).  The hydrology-standard "is there ANY
    monotone trend" test — no linearity or normality assumed; Theil-Sen
    answers "how steep", this answers "is it real".

    Determinism: daily values stay exact integer CENTS, so every
    sign(), the integer S, and the tie term are bit-identical across
    engines; floats appear only at the final var/sqrt/CDF step on a
    one-row frame.  Scale: identical contract to `theil_sen_trend` —
    the O(n²) pair join runs over DAILY AGGREGATES (a broadcast
    nested-loop over thousands of points however many billions of rows
    feed the groupBy); everything else is scalar."""
    from .stats_queries import _pnorm_two_sided

    orders = load_table(spark, sf_dir, "orders")
    # daily (≤ |days| rows) roots the anchor, both sides of the pair
    # join, the count and the tie aggregate — six executions of the
    # orders aggregate without the cut (16 scans in the before-plan).
    daily = (
        orders.groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("c")
        )
        .localCheckpoint(eager=True)
    )
    d0 = daily.agg(F.min("d").alias("d0"))
    pts = daily.join(F.broadcast(d0)).select(
        F.datediff("d", "d0").cast("long").alias("x"), "c"
    )
    a, b = pts.alias("a"), pts.alias("b")
    s = a.join(F.broadcast(b), F.col("a.x") < F.col("b.x")).agg(
        F.sum(
            F.when(F.col("b.c") > F.col("a.c"), 1)
            .when(F.col("b.c") < F.col("a.c"), -1)
            .otherwise(0)
        ).alias("s_stat")
    )
    n_ = pts.agg(F.count(F.lit(1)).alias("n"))
    ties = (
        pts.groupBy("c")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            ).alias("tie_term")
        )
    )
    stat = (
        s.crossJoin(F.broadcast(n_))
        .crossJoin(F.broadcast(ties))
        .select(
            "s_stat",
            "n",
            (
                (
                    F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                    - F.col("tie_term")
                )
                / 18.0
            ).alias("var_s"),
        )
    )
    z_ = stat.select(
        "s_stat",
        "n",
        "var_s",
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / F.sqrt("var_s"))
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / F.sqrt("var_s"))
        .otherwise(F.lit(0.0))
        .alias("z_raw"),
    )
    return z_.select(
        F.col("n").cast("long").alias("n_days"),
        F.col("s_stat").cast("long").alias("s_stat"),
        F.round(
            F.col("s_stat") / (F.col("n") * (F.col("n") - 1) / 2.0), 6
        ).alias("kendall_tau"),
        F.round("z_raw", 6).cast("double").alias("z"),
        F.round(F.expr(_pnorm_two_sided("z_raw")), 6)
        .cast("double")
        .alias("p_value"),
    )
