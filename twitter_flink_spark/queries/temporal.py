"""Temporal / advanced-analytic queries: as-of join, sessionization,
percentiles, extended window analytics. The reference has none of these
(SURVEY.md §2.2) — they are the temporal operators a complete engine needs,
each expressed as window functions (single shuffle per partition key; no
self-joins, no ranges exploded)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from twitter_flink_spark.registry import register
from twitter_flink_spark.session import local_frame
from twitter_flink_spark.sources.tables import load_table


@register(
    "asof_join_purchase_last_click",
    oracle="""
WITH ordered AS (
  SELECT event_id, user_id, ts, event_type,
         last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_ts
  FROM events
)
SELECT event_id, user_id, ts AS purchase_ts, last_click_ts,
       round(epoch(ts) - epoch(last_click_ts), 6) AS gap_seconds
FROM ordered
WHERE event_type = 'purchase'
""",
)
def asof_join_purchase_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join expressed as a window function: for every purchase, the
    latest preceding click of the same user. No range-join explosion — one
    shuffle on user_id, one ordered pass per partition (the scalable as-of
    formulation; a backward range join would be O(n·m) per user)."""
    e = load_table(spark, sf_dir, "events")
    win = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_click = F.last(
        F.when(F.col("event_type") == "click", F.col("ts")), ignorenulls=True
    ).over(win)
    return (
        e.withColumn("last_click_ts", last_click)
        .where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "last_click_ts",
            F.round(
                F.unix_micros("ts") / 1e6 - F.unix_micros("last_click_ts") / 1e6, 6
            ).alias("gap_seconds"),
        )
    )


@register(
    "sessionize_events",
    oracle="""
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
sessions AS (
  SELECT user_id, event_id, ts,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM sessions
GROUP BY user_id, session_id
""",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min inactivity gap): lag → new-session flag →
    running sum = session id → per-session aggregate. The batch equivalent
    of a session window, O(n log n) per user partition, one shuffle."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = F.unix_micros("ts") / 1e6 - F.unix_micros(F.lag("ts").over(w)) / 1e6
    flagged = e.withColumn(
        "new_session",
        F.when(F.lag("ts").over(w).isNull() | (gap > 1800), 1).otherwise(0),
    )
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(wf))
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@register(
    "session_window_builtin",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
sessions AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 1800 SECOND AS session_end,
       count(*) AS n_events
FROM sessions
GROUP BY user_id, session_id
""",
)
def session_window_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native `session_window` (gap-merge inside the aggregate —
    no per-user sort+lag pass, and the same expression works under
    readStream+watermark). Boundary semantics differ from the hand-rolled
    `sessionize_events`: a session is [first_ts, last_ts + gap), so an
    event at exactly last_ts+gap starts a NEW session — the oracle flags
    with `>= 1800` accordingly, vs `> 1800` for the lag formulation."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "value_percentiles_per_type",
    oracle="""
SELECT event_type,
       round(quantile_cont(value, 0.25), 4) AS p25,
       round(quantile_cont(value, 0.50), 4) AS p50,
       round(quantile_cont(value, 0.75), 4) AS p75,
       round(quantile_cont(value, 0.95), 4) AS p95
FROM events
GROUP BY event_type
""",
)
def value_percentiles_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` ==
    DuckDB `quantile_cont`, both linear interpolation). At 100 TB swap for
    `approx_percentile` (t-digest sketch, mergeable partials) — exact
    percentile requires a per-group sort."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(value, 0.50)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.75)"), 4).alias("p75"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
    )


@register(
    "window_analytics_extended",
    oracle="""
SELECT o_orderkey, o_orderstatus,
       CAST(ntile(4) OVER w AS INTEGER) AS price_quartile,
       CAST(dense_rank() OVER w AS BIGINT) AS price_dense_rank,
       round(percent_rank() OVER w, 6) AS price_percent_rank,
       round(first_value(o_totalprice) OVER w2, 2) AS max_price_in_status,
       round(last_value(o_totalprice) OVER w2, 2) AS min_price_in_status
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey ASC),
       w2 AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
)
def window_analytics_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / dense_rank / percent_rank / first_value / last_value with
    explicit frames and total deterministic ordering."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    w2 = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).alias("price_quartile"),
        F.dense_rank().over(w).cast("long").alias("price_dense_rank"),
        F.round(F.percent_rank().over(w), 6).alias("price_percent_rank"),
        F.round(F.first("o_totalprice").over(w2), 2).alias("max_price_in_status"),
        F.round(F.last("o_totalprice").over(w2), 2).alias("min_price_in_status"),
    )


@register(
    "banded_range_join_followups",
    oracle="""
SELECT p.event_id AS purchase_id, p.user_id,
       count(x.event_id) AS follow_cnt
FROM events p
LEFT JOIN events x
  ON x.user_id = p.user_id
 AND x.ts > p.ts
 AND x.ts <= p.ts + INTERVAL 60 SECOND
WHERE p.event_type = 'purchase'
GROUP BY p.event_id, p.user_id
""",
)
def banded_range_join_followups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded (interval) range join: for each purchase, count the same
    user's events in the following 60 s band. The equality on user_id makes
    this a plain shuffled equi-join with the band as a residual join
    predicate — NOT a cartesian/broadcast-nested-loop: each side shuffles
    once on user_id, pairs are generated only within a user, and the band
    filter runs inside the join. Skewed users (one key with millions of
    events) are the scale risk; AQE skew-join splitting handles it (see
    `queries/scale.py` for the explicit salting variant of the same
    problem)."""
    e = load_table(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("pts"),
    )
    x = e.select(
        F.col("user_id").alias("xuser"),
        F.col("event_id").alias("xid"),
        F.col("ts").alias("xts"),
    )
    joined = p.join(
        x,
        (p.user_id == x.xuser)
        & (F.col("xts") > F.col("pts"))
        & (F.col("xts") <= F.col("pts") + F.expr("INTERVAL 60 SECONDS")),
        "left",
    )
    return joined.groupBy("purchase_id", "user_id").agg(
        F.count("xid").alias("follow_cnt")
    )


@register(
    "range_frame_moving_value",
    oracle="""
SELECT event_id, user_id, ts,
       round(sum(value) OVER (
         PARTITION BY user_id ORDER BY ts
         RANGE BETWEEN INTERVAL 300 SECOND PRECEDING AND CURRENT ROW
       ), 2) AS moving_sum_5m,
       CAST(count(*) OVER (
         PARTITION BY user_id ORDER BY ts
         RANGE BETWEEN INTERVAL 300 SECOND PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS n_events_5m
FROM events
""",
)
def range_frame_moving_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE (value-based) window frame: per-user trailing-5-minute sum and
    count at every event — the time-decayed feature computation of a
    feature-engineering pipeline, as one sort per user partition instead of
    a self-join. RANGE frames bound by VALUE distance (here seconds), which
    ROWS frames cannot express; ties on ts share a frame on both engines."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-300, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.sum("value").over(w), 2).alias("moving_sum_5m"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_events_5m"),
    )


@register(
    "resample_fill_forward",
    oracle="""
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS hr, round(avg(value), 4) AS v
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT CAST(epoch(date_trunc('hour', min(ts))) AS BIGINT) AS e0,
         CAST(epoch(max(ts)) AS BIGINT) AS e1
  FROM events
),
grid AS (
  SELECT u.user_id, to_timestamp(CAST(g.g AS BIGINT))::TIMESTAMP AS hr
  FROM (SELECT DISTINCT user_id FROM events) u
  CROSS JOIN bounds b
  -- range() is exclusive-upper; +1 makes it "points <= e1", matching
  -- Spark's inclusive sequence(t0, t1)
  CROSS JOIN unnest(range(b.e0, b.e1 + 1, 3600)) AS g(g)
),
joined AS (
  SELECT g.user_id, g.hr, h.v,
         CASE WHEN h.v IS NULL THEN 0 ELSE 1 END AS observed
  FROM grid g LEFT JOIN hourly h ON h.user_id = g.user_id AND h.hr = g.hr
)
SELECT user_id, hr,
       last_value(v IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY hr ROWS UNBOUNDED PRECEDING
       ) AS value_ff,
       CAST(observed AS BIGINT) AS observed
FROM joined
""",
)
def resample_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling: aggregate events to an hourly per-user grid
    over the corpus time span, then forward-fill gaps with the last
    observed hourly average — the gap-filling step of any sensor/metrics
    pipeline. The dense grid is sequence+explode (no driver loop); the
    fill is one `last(ignorenulls)` running window per user — a single
    sort per user partition, no self-join. Leading hours before a user's
    first event stay NULL on both engines."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.round(F.avg("value"), 4).alias("v"))
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"), F.max("ts").alias("t1")
    )
    grid = (
        e.select("user_id")
        .distinct()
        .join(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(
                F.sequence("t0", "t1", F.expr("INTERVAL 1 HOUR"))
            ).alias("hr"),
        )
    )
    joined = grid.join(hourly, ["user_id", "hr"], "left").select(
        "user_id",
        "hr",
        "v",
        F.when(F.col("v").isNull(), 0).otherwise(1).cast("long").alias("observed"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "hr",
        F.last("v", ignorenulls=True).over(w).alias("value_ff"),
        "observed",
    )


@register(
    "anomaly_zscore_trailing",
    oracle="""
WITH stats AS (
  SELECT event_id, user_id, ts, value,
         avg(value) OVER w AS mu,
         stddev_samp(value) OVER w AS sd,
         count(*) OVER w AS n
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL 604800 SECOND PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, ts, value,
       round((value - mu) / sd, 3) AS zscore
FROM stats
WHERE n >= 5 AND sd > 1e-9 AND abs((value - mu) / sd) > 2.0
""",
)
def anomaly_zscore_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-style anomaly detection in batch: flag events whose value
    deviates more than 2 trailing standard deviations from the same
    user's trailing 7 days (RANGE frame over event time; sized to the
    corpus event density so the support filter keeps real rows). One sort per user
    partition computes mean, stddev and support count in a single window
    pass; low-support (<5 events) and zero-variance frames are excluded
    before the ratio so both engines agree on the null/∞ edge."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-604800, Window.currentRow)
    )
    stats = e.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sd"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        stats.where(
            (F.col("n") >= 5) & (F.col("sd") > 1e-9) & (F.abs(z) > 2.0)
        )
        .select("event_id", "user_id", "ts", "value", F.round(z, 3).alias("zscore"))
    )


@register(
    "asof_join_purchase_attribution",
    oracle="""
SELECT p.event_id AS purchase_id, p.user_id, p.ts,
       c.event_id AS last_click_id, c.ts AS last_click_ts,
       CASE WHEN c.event_id IS NULL THEN NULL
            ELSE CAST(floor(epoch(p.ts)) - floor(epoch(c.ts)) AS BIGINT)
       END AS click_age_seconds
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
)
def asof_join_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every purchase annotated with the same user's most recent
    click at or before it (classic last-touch attribution / point-in-time
    feature lookup). Implemented by `operators/asof.py` as union + running
    `last(ignorenulls)` — one shuffle per side, no range-join explosion;
    the oracle is DuckDB's native ASOF LEFT JOIN, pinning our operator to a
    reference implementation of the semantics (inclusive ties, NULL when no
    prior click)."""
    from twitter_flink_spark.operators.asof import asof_join_backward

    e = load_table(spark, sf_dir, "events")
    purchases = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("last_click_id"),
        F.col("ts").alias("last_click_ts"),
    )
    out = asof_join_backward(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="last_click_ts",
        payload_cols=("last_click_id", "last_click_ts"),
    )
    return out.select(
        "purchase_id",
        "user_id",
        "ts",
        "last_click_id",
        "last_click_ts",
        (F.unix_timestamp("ts") - F.unix_timestamp("last_click_ts"))
        .cast("long")
        .alias("click_age_seconds"),
    )


@register(
    "session_funnel_steps",
    oracle="""
WITH flagged AS (
  SELECT user_id, event_id, event_type, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
sessions AS (
  SELECT user_id, event_type, ts,
         sum(new_session) OVER (PARTITION BY user_id
                                ORDER BY ts ASC, event_id ASC
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
),
s1 AS (
  SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
              OVER (PARTITION BY user_id, session_id) AS t1
  FROM sessions
),
s2 AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
              OVER (PARTITION BY user_id, session_id) AS t2
  FROM s1
),
s3 AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
              OVER (PARTITION BY user_id, session_id) AS t3
  FROM s2
),
per_session AS (
  SELECT user_id, session_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
  FROM s3 GROUP BY 1, 2
)
SELECT 'view' AS stage, 1 AS stage_ord,
       CAST(count(t1) AS BIGINT) AS n_sessions FROM per_session
UNION ALL
SELECT 'click', 2, CAST(count(t2) AS BIGINT) FROM per_session
UNION ALL
SELECT 'purchase', 3, CAST(count(t3) AS BIGINT) FROM per_session
""",
)
def session_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel WITHIN sessions: a session (30-min gap, same
    sessionization as `sessionize_events`) counts toward 'click' only if a
    click follows the session's first view, and toward 'purchase' only if
    a purchase follows that qualifying click — `funnel_conversion_steps`
    semantics scoped to the session instead of the whole user history.

    One shuffle on user_id: the session id, all three stage timestamps,
    and the per-session rollup are window/aggregate passes over the same
    partitioning (Catalyst reuses the exchange; the stage-N window reads
    the stage-N-1 column, so the ordered dependency costs no extra
    shuffle)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gap = (
        F.unix_micros("ts") / 1e6 - F.unix_micros(F.lag("ts").over(w)) / 1e6
    )
    sessions = e.withColumn(
        "session_id",
        F.sum(
            F.when(F.lag("ts").over(w).isNull() | (gap > 1800), 1).otherwise(0)
        ).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    sw = Window.partitionBy("user_id", "session_id")
    s1 = sessions.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(sw)
    )
    s2 = s1.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
                F.col("ts"),
            )
        ).over(sw),
    )
    s3 = s2.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("t2")),
                F.col("ts"),
            )
        ).over(sw),
    )
    per_session = s3.groupBy("user_id", "session_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )

    def stage(col: str, name: str, ord_: int) -> DataFrame:
        return per_session.agg(
            F.lit(name).alias("stage"),
            F.lit(ord_).alias("stage_ord"),
            F.count(col).alias("n_sessions"),
        )

    return (
        stage("t1", "view", 1)
        .unionAll(stage("t2", "click", 2))
        .unionAll(stage("t3", "purchase", 3))
    )


@register(
    "winsorize_event_values",
    oracle="""
WITH levels AS (
  SELECT event_type, value AS v, count(*) AS c FROM events GROUP BY 1, 2
),
n AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1),
cum AS (
  SELECT event_type, v,
         sum(c) OVER (PARTITION BY event_type ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cc
  FROM levels
),
bnd AS (
  SELECT cum.event_type,
         min(CASE WHEN cc >= ceil(0.05 * n.n) THEN v END) AS lo,
         min(CASE WHEN cc >= ceil(0.95 * n.n) THEN v END) AS hi
  FROM cum JOIN n USING (event_type)
  GROUP BY 1
)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN e.value < b.lo OR e.value > b.hi
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
       round(b.lo, 2) AS lo, round(b.hi, 2) AS hi,
       round(sum(least(greatest(e.value, b.lo), b.hi)), 2)
         AS winsorized_sum
FROM events e JOIN bnd b USING (event_type)
GROUP BY e.event_type, b.lo, b.hi
""",
)
def winsorize_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped winsorization — clip each event's value to its type's
    exact discrete [p05, p95] — the outlier-capping step of feature
    cleaning, with the quantiles computed SCALE-correctly: per-type
    value LEVELS (distinct values + counts, orders of magnitude smaller
    than rows) take one running-sum window partitioned BY TYPE, so the
    only ordered state is per-(type, level) — the same
    aggregate-to-levels discipline as `quantile_bucket_join_lineitem`,
    here grouped. Bounds broadcast back; clipping is a scan-side
    least/greatest expression."""
    ev = load_table(spark, sf_dir, "events")
    levels = ev.groupBy("event_type", F.col("value").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    n = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    wlev = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = levels.select(
        "event_type", "v", F.sum("c").over(wlev).alias("cc")
    )
    bnd = (
        cum.join(n, "event_type")
        .groupBy("event_type")
        .agg(
            F.min(
                F.when(F.col("cc") >= F.ceil(0.05 * F.col("n")), F.col("v"))
            ).alias("lo"),
            F.min(
                F.when(F.col("cc") >= F.ceil(0.95 * F.col("n")), F.col("v"))
            ).alias("hi"),
        )
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        ev.join(F.broadcast(bnd), "event_type")
        .groupBy("event_type", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                ((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")))
                .cast("int")
            )
            .cast("long")
            .alias("n_clipped"),
            F.round(F.sum(clipped), 2).alias("winsorized_sum"),
        )
        .select(
            "event_type",
            "n_events",
            "n_clipped",
            F.round("lo", 2).alias("lo"),
            F.round("hi", 2).alias("hi"),
            "winsorized_sum",
        )
    )


#: shared by the batch query and its streaming-MV twin — the streaming
#: snapshot must reach the identical matrix (incremental maintenance
#: invariant), so both register the SAME oracle.
COHORT_RETENTION_ORACLE = """
WITH act AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
coh AS (
  SELECT user_id, min(d) AS cohort_day FROM act GROUP BY user_id
),
sz AS (
  SELECT cohort_day, count(*) AS cohort_size FROM coh GROUP BY cohort_day
),
ret AS (
  SELECT c.cohort_day,
         CAST(date_diff('day', c.cohort_day, a.d) AS INTEGER) AS day_offset,
         count(DISTINCT a.user_id) AS n_active
  FROM act a JOIN coh c USING (user_id)
  GROUP BY 1, 2
)
SELECT strftime(r.cohort_day, '%Y-%m-%d') AS cohort_day, r.day_offset,
       CAST(r.n_active AS BIGINT) AS n_active,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       floor(r.n_active * 1000000.0 / s.cohort_size) / 1000000.0
         AS retention
FROM ret r JOIN sz s USING (cohort_day)
"""


def retention_matrix_from_activity(act: DataFrame) -> DataFrame:
    """(user_id, d) distinct-activity rows → the retention matrix. The
    join-free plan documented on `cohort_retention_matrix`; factored out
    so the streaming MV derives ITS matrix from the maintained snapshot
    with the identical code path."""
    wu = Window.partitionBy("user_id")
    coh = act.withColumn("cohort_day", F.min("d").over(wu))
    ret = coh.groupBy(
        "cohort_day",
        F.datediff("d", "cohort_day").cast("int").alias("day_offset"),
    ).agg(F.count_distinct("user_id").alias("n_active"))
    wc = Window.partitionBy("cohort_day")
    sized = ret.withColumn(
        "cohort_size",
        F.max(
            F.when(F.col("day_offset") == 0, F.col("n_active"))
        ).over(wc),
    )
    return sized.select(
        # string form: pandas renders date vs DuckDB's min-of-DATE (a
        # datetime64) differently, so both engines emit 'yyyy-MM-dd'
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        "day_offset",
        F.col("n_active").cast("long").alias("n_active"),
        F.col("cohort_size").cast("long").alias("cohort_size"),
        (
            F.floor(F.col("n_active") * 1000000.0 / F.col("cohort_size"))
            / 1e6
        ).alias("retention"),
    )


@register("cohort_retention_matrix", oracle=COHORT_RETENTION_ORACLE)
def cohort_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users are cohorted by their FIRST active
    day; for each (cohort, day-offset) cell, the distinct users still
    active that day and the retained fraction — the standard
    product-analytics triangle (daily grain because the fixture spans one
    month; the monthly query is the same plan with date_trunc).

    Shape — NO user-keyed join at all: cohort assignment is
    `min(d) over (partition by user_id)` riding the same exchange as the
    (user, day) distinct, the matrix is one (cohort, offset)-keyed
    count-distinct whose key space is bounded by days^2/2 (not data
    size), and the denominator is the matrix's own offset-0 cell (every
    user is active on their cohort day) pulled across each cohort's rows
    by a window over the TINY cells table — three exchanges total, two of
    them over reduced data. The retained fraction floor-quantizes onto
    the 1e-6 grid (exact integer multiply + one correctly-rounded
    division — round() would sit on half-way points where the engines
    disagree)."""
    ev = load_table(spark, sf_dir, "events")
    act = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    return retention_matrix_from_activity(act)


@register(
    "time_weighted_value_per_user",
    oracle="""
WITH e AS (
  SELECT user_id, epoch_ms(ts) AS t_ms,
         CAST(floor(value * 100) AS BIGINT) AS v100
  FROM events
),
iv AS (
  SELECT user_id, v100,
         lead(t_ms) OVER (PARTITION BY user_id ORDER BY t_ms, v100) - t_ms
           AS dur_ms
  FROM e
),
agg AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_intervals,
         CAST(sum(dur_ms) AS BIGINT) AS total_dur_ms,
         CAST(sum(v100 * dur_ms) AS BIGINT) AS weighted
  FROM iv WHERE dur_ms IS NOT NULL
  GROUP BY user_id
)
SELECT user_id, n_intervals, total_dur_ms, weighted,
       floor(weighted / (total_dur_ms * 100.0) * 1000000.0) / 1000000.0
         AS twa_value
FROM agg WHERE total_dur_ms > 0
""",
)
def time_weighted_value_per_user(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-weighted average value per user over the irregular event
    series — each event's value 'holds' until the user's next event
    (step-function integral / total observed time), the correct mean for
    unevenly sampled metrics where the arithmetic mean over-weights
    bursts. One user-keyed window (lead) computes interval durations in
    the same exchange as the final aggregate.

    Determinism: timestamps reduce to epoch MILLISECONDS (identical
    truncation both engines) and values to floor(value*100) — the
    weighted sum is then exact int64 arithmetic (max |v100*dur| * rows
    per user stays far below 2^63), partition-order independent; the
    single final division is a correctly-rounded double, floor-quantized
    onto the 1e-6 grid. Ties on t_ms order by v100 so duplicate-time
    events pair deterministically (their interval is 0 ms either way)."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.unix_millis("ts").alias("t_ms"),
        F.floor(F.col("value") * 100).cast("long").alias("v100"),
    )
    w = Window.partitionBy("user_id").orderBy("t_ms", "v100")
    iv = e.withColumn(
        "dur_ms", F.lead("t_ms").over(w) - F.col("t_ms")
    ).where(F.col("dur_ms").isNotNull())
    agg = iv.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("dur_ms").cast("long").alias("total_dur_ms"),
        F.sum(F.col("v100") * F.col("dur_ms")).cast("long").alias("weighted"),
    )
    return agg.where(F.col("total_dur_ms") > 0).select(
        "user_id",
        "n_intervals",
        "total_dur_ms",
        "weighted",
        (
            F.floor(
                F.col("weighted")
                / (F.col("total_dur_ms") * 100.0)
                * 1000000.0
            )
            / 1e6
        ).alias("twa_value"),
    )


# ---------------------------------------------------------------------------
# EWMA over daily counts (alpha = 1/2: exact dyadic arithmetic)


@register(
    "ewma_daily_counts",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, day, c,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS i,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS t
  FROM daily
),
agg AS (
  SELECT event_type, max(t) AS n_days,
         strftime(max(day), '%Y-%m-%d') AS last_day,
         sum(CASE WHEN i = 1 THEN c ELSE c * (CAST(1 AS BIGINT) << (i - 2))
             END) AS num
  FROM idx GROUP BY event_type
)
SELECT event_type, n_days, last_day, CAST(num AS BIGINT) AS ewma_num,
       CAST(num AS DOUBLE)
         / CAST(CAST(1 AS BIGINT) << (n_days - 1) AS DOUBLE) AS ewma
FROM agg
""",
)
def ewma_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA of the per-type daily event count at alpha = 1/2 (the
    one-line load forecaster: tomorrow ~= ewma of history, recent days
    dominating), computed EXACTLY: with alpha = 1/2 the recursion
    s_t = (c_t + s_(t-1))/2 unrolls to a single integer-weighted sum
    N = c_1 + sum_(i>=2) c_i * 2^(i-2), and s_T = N / 2^(T-1) — one
    shifted-integer aggregate plus ONE division by a power of two,
    which only adjusts the double's exponent, so the result is exact on
    both engines (no running float recursion whose rounding order could
    differ). Bound: N < 2^63 needs daily counts below 2^(63-T); for
    long horizons run it over a trailing window (standard practice) —
    the fixture's 30 days x thousands/day sits far inside. Shape: one
    (type, day) count, then a type-keyed window + aggregate on the
    days-sized frame."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    wt = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "day",
        "c",
        F.row_number().over(wt.orderBy("day")).cast("long").alias("i"),
        F.count(F.lit(1)).over(wt).cast("long").alias("t"),
    )
    num = F.sum(
        F.when(F.col("i") == 1, F.col("c")).otherwise(
            F.col("c") * F.expr("shiftleft(cast(1 as bigint), cast(i - 2 as int))")
        )
    )
    agg = idx.groupBy("event_type").agg(
        F.max("t").alias("n_days"),
        F.date_format(F.max("day"), "yyyy-MM-dd").alias("last_day"),
        num.alias("num"),
    )
    denom = F.expr(
        "cast(shiftleft(cast(1 as bigint), cast(n_days - 1 as int)) as double)"
    )
    return agg.select(
        "event_type",
        F.col("n_days").cast("long").alias("n_days"),
        "last_day",
        F.col("num").cast("long").alias("ewma_num"),
        (F.col("num").cast("double") / denom).alias("ewma"),
    )


@register(
    "forecast_seasonal_naive_vs_ewma",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, count(*) AS x FROM events GROUP BY 1
),
idx AS (
  SELECT d, x,
         CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i,
         CAST(count(*) OVER () AS BIGINT) AS t
  FROM daily
),
ew AS (
  SELECT max(t) - 7 AS n_train,
         sum(CASE WHEN i = 1 THEN x
             ELSE x * (CAST(1 AS BIGINT) << (i - 2)) END) AS num
  FROM idx WHERE i <= (SELECT max(t) - 7 FROM idx)
)
SELECT strftime(m.d, '%Y-%m-%d') AS day,
       CAST(m.x AS BIGINT) AS actual,
       CAST(l.x AS BIGINT) AS naive_pred,
       CAST(abs(m.x - l.x) AS BIGINT) AS err_naive,
       CAST(e.num AS DOUBLE)
         / CAST(CAST(1 AS BIGINT) << (e.n_train - 1) AS DOUBLE) AS ewma_pred,
       CAST(abs(m.x * (CAST(1 AS BIGINT) << (e.n_train - 1)) - e.num)
            AS BIGINT) AS err_ewma_num,
       (abs(m.x * (CAST(1 AS BIGINT) << (e.n_train - 1)) - e.num)
          < abs(m.x - l.x) * (CAST(1 AS BIGINT) << (e.n_train - 1)))
         AS ewma_beats_naive
FROM idx m
JOIN idx l ON l.i = m.i - 7
CROSS JOIN ew e
WHERE m.i > m.t - 7
""",
)
def forecast_seasonal_naive_vs_ewma(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Backtested forecast comparison (SURVEY §13): hold out the FINAL
    WEEK of the fixture's 30 contiguous days, forecast each held-out
    day's event count two ways — seasonal-naive (the actual from 7 days
    earlier, all of which land in the training span for a 7-day
    horizon) and a flat EWMA carried forward from the last training day
    — and emit per-day errors plus an `ewma_beats_naive` verdict. Every
    emitted number is integer-EXACT cross-engine: the EWMA reuses
    `ewma_daily_counts`' alpha=1/2 shifted-integer form (numerator
    N = x_1 + sum x_i 2^(i-2) over the 23 train days, prediction
    N / 2^22 — a float exponent shift), and errors compare in the
    scaled-integer domain (|x << 22 - N|), so no float summation order
    or rounding boundary can flip the hash. Shape: one events->daily
    count aggregation, then all window/join work runs on the DAYS-sized
    frame (~30 rows) — the single-partition rank window costs nothing
    at any corpus scale because the grain is calendar days, not
    events."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("x")
    )
    w = Window.orderBy("d")
    idx = daily.select(
        "d",
        "x",
        F.row_number().over(w).cast("long").alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias("t"),
    )
    ew = idx.where(F.col("i") <= F.col("t") - 7).agg(
        (F.max("t") - F.lit(7)).alias("n_train"),
        F.sum(
            F.when(F.col("i") == 1, F.col("x")).otherwise(
                F.col("x")
                * F.expr("shiftleft(cast(1 as bigint), cast(i - 2 as int))")
            )
        ).alias("num"),
    )
    scale = F.expr(
        "shiftleft(cast(1 as bigint), cast(n_train - 1 as int))"
    )
    m, lagged = idx.alias("m"), idx.alias("l")
    test = (
        m.join(lagged, F.col("l.i") == F.col("m.i") - 7)
        .where(F.col("m.i") > F.col("m.t") - 7)
        .select(
            F.col("m.d").alias("d"),
            F.col("m.x").alias("actual"),
            F.col("l.x").alias("naive_pred"),
        )
    )
    err_ewma = F.abs(F.col("actual") * scale - F.col("num"))
    err_naive = F.abs(F.col("actual") - F.col("naive_pred"))
    return test.crossJoin(F.broadcast(ew)).select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("actual").cast("long").alias("actual"),
        F.col("naive_pred").cast("long").alias("naive_pred"),
        err_naive.cast("long").alias("err_naive"),
        (F.col("num").cast("double") / scale.cast("double")).alias(
            "ewma_pred"
        ),
        err_ewma.cast("long").alias("err_ewma_num"),
        (err_ewma < err_naive * scale).alias("ewma_beats_naive"),
    )


# ---------------------------------------------------------------------------
# Daily-count autocorrelation (seasonality probe)

_ACF_LAGS = (1, 2, 3)


@register(
    "daily_autocorrelation",
    oracle=f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
  FROM events GROUP BY 1, 2
),
lagged AS (
  SELECT event_type, lag.lag AS lag, d1.c AS x,
         lead(d1.c, lag.lag) OVER (PARTITION BY event_type, lag.lag
                                   ORDER BY d1.day) AS y
  FROM daily d1 CROSS JOIN (SELECT unnest(ARRAY{list(_ACF_LAGS)}) AS lag) lag
),
pairs AS (SELECT * FROM lagged WHERE y IS NOT NULL),
s AS (
  SELECT event_type, lag,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(x AS DECIMAL(38,0))) AS sx,
         sum(CAST(y AS DECIMAL(38,0))) AS sy,
         sum(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
         sum(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
         sum(CAST(y AS DECIMAL(38,0)) * y) AS syy
  FROM pairs GROUP BY event_type, lag
)
SELECT event_type, CAST(lag AS INTEGER) AS lag, n,
       floor((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             * 1000000.0) / 1000000.0 AS acf
FROM s
WHERE (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
  AND (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
""",
)
def daily_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the per-type daily count series at lags 1-3 —
    the seasonality probe behind load forecasting (a weekly-periodic
    type shows the hump at its period; white-noise counts hover near
    zero). Pearson r over (day, day+lag) pairs with every sum carried
    in DECIMAL(38,0) (exact at any realistic daily count, where int64
    products would overflow), then ONE closed-form expression of
    correctly-rounded IEEE ops — identical on both engines — and a
    1e-6 floor. The lags expand via a 3-row broadcast cross join; the
    window and aggregate ride one (type, lag)-keyed exchange over the
    days-sized frame. Degenerate (zero-variance) series drop out by
    the WHERE guard rather than dividing by zero."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    lags = local_frame(spark, [(lag,) for lag in _ACF_LAGS], "lag int")
    lagged = daily.crossJoin(F.broadcast(lags))
    w = Window.partitionBy("event_type", "lag").orderBy("day")
    pairs = (
        lagged.select(
            "event_type",
            "lag",
            F.col("c").alias("x"),
            F.lead("c", 1).over(w).alias("y1"),
            F.lead("c", 2).over(w).alias("y2"),
            F.lead("c", 3).over(w).alias("y3"),
        )
        .withColumn(
            "y",
            F.when(F.col("lag") == 1, F.col("y1"))
            .when(F.col("lag") == 2, F.col("y2"))
            .otherwise(F.col("y3")),
        )
        .where(F.col("y").isNotNull())
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
        F.sum(dec("y") * F.col("y")).alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    varx = F.col("n") * d("sxx") - d("sx") * d("sx")
    vary = F.col("n") * d("syy") - d("sy") * d("sy")
    cov = F.col("n") * d("sxy") - d("sx") * d("sy")
    return (
        s.where((varx > 0) & (vary > 0))
        .select(
            "event_type",
            F.col("lag").cast("int").alias("lag"),
            "n",
            (F.floor(cov / F.sqrt(varx * vary) * 1000000.0) / 1e6).alias(
                "acf"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Churn flags (recency segmentation)

_CHURN_DAYS = 7


@register(
    "user_churn_flags",
    oracle=f"""
WITH u AS (
  SELECT user_id,
         min(CAST(ts AS DATE)) AS first_day,
         max(CAST(ts AS DATE)) AS last_day,
         count(*) AS n_events
  FROM events GROUP BY user_id
),
horizon AS (SELECT max(CAST(ts AS DATE)) AS h FROM events)
SELECT u.user_id,
       strftime(u.first_day, '%Y-%m-%d') AS first_day,
       strftime(u.last_day, '%Y-%m-%d') AS last_day,
       CAST(u.n_events AS BIGINT) AS n_events,
       CAST(date_diff('day', u.last_day, horizon.h) AS INTEGER)
         AS days_inactive,
       CAST(date_diff('day', u.last_day, horizon.h) >= {_CHURN_DAYS}
            AS INTEGER) AS churned
FROM u, horizon
""",
)
def user_churn_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency segmentation: per user, first/last active day, lifetime
    event count, days inactive at the corpus horizon, and the churn
    flag (inactive >= {_CHURN_DAYS} days) — the label side of every
    churn model and the denominator discipline behind retention
    dashboards (`cohort_retention_matrix` gives the matrix; this gives
    the per-user state). One user-keyed aggregate plus a 1-row
    broadcast horizon; day arithmetic is integer dates end to end, so
    the flag never sits on a float boundary."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day"),
        F.max(F.to_date("ts")).alias("last_day"),
        F.count(F.lit(1)).alias("n_events"),
    )
    horizon = ev.agg(F.max(F.to_date("ts")).alias("h"))
    inact = F.datediff(F.col("h"), F.col("last_day"))
    return u.join(F.broadcast(horizon)).select(
        "user_id",
        F.date_format("first_day", "yyyy-MM-dd").alias("first_day"),
        F.date_format("last_day", "yyyy-MM-dd").alias("last_day"),
        F.col("n_events").cast("long").alias("n_events"),
        inact.cast("int").alias("days_inactive"),
        (inact >= _CHURN_DAYS).cast("int").alias("churned"),
    )


# ---------------------------------------------------------------------------
# Rolling 7-day active users (WAU at daily grain)

_ROLL_DAYS = 7


@register(
    "rolling_7day_actives",
    oracle=f"""
WITH act AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
days AS (SELECT DISTINCT d FROM act),
win AS (
  SELECT dd.d AS window_day, a.user_id
  FROM act a JOIN days dd
    ON a.d <= dd.d AND a.d > dd.d - {_ROLL_DAYS}
)
SELECT strftime(window_day, '%Y-%m-%d') AS window_day,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_active_7d
FROM win GROUP BY window_day
""",
)
def rolling_7day_actives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling {_ROLL_DAYS}-day active users per day (the WAU curve at
    daily grain): each DISTINCT (user, day) activity pair contributes
    to the {_ROLL_DAYS} window-days it falls inside — a BOUNDED x{_ROLL_DAYS}
    expansion of the users x days grain (never of raw events), followed
    by one distinct count per window day. This explode-the-reduced-grain
    shape is how sliding distinct counts scale: the alternative — a
    range self-join of raw events — touches data proportional to events
    x window, this touches users x days x {_ROLL_DAYS}. The oracle joins
    the same reduced grain against the day list."""
    ev = load_table(spark, sf_dir, "events")
    act = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    expanded = act.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("d"),
                F.date_add(F.col("d"), _ROLL_DAYS - 1),
            )
        ).alias("window_day"),
    )
    days = act.select(F.col("d").alias("window_day")).distinct()
    return (
        expanded.join(F.broadcast(days), "window_day")
        .groupBy(
            F.date_format("window_day", "yyyy-MM-dd").alias("window_day")
        )
        .agg(F.count_distinct("user_id").cast("long").alias("n_active_7d"))
    )


# ---------------------------------------------------------------------------
# Order-independent table checksum (anti-entropy / reconciliation)

_CKSUM_MOD = 10**15
_CKSUM_HEX = 12


@register(
    "table_checksum_events",
    oracle=f"""
WITH canon AS (
  SELECT md5(CAST(event_id AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)
             || '|' || event_type || '|'
             || CAST(CAST(floor(value * 10000) AS BIGINT) AS VARCHAR)) AS h
  FROM events
),
v AS (
  SELECT CAST(({" + ".join(
    f"(strpos('0123456789abcdef', substr(h, {j + 1}, 1)) - 1) * {16 ** (_CKSUM_HEX - 1 - j)}"
    for j in range(_CKSUM_HEX)
  )}) AS DECIMAL(38,0)) AS hv
  FROM canon
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(hv) % {_CKSUM_MOD} AS BIGINT) AS checksum
FROM v
""",
)
def table_checksum_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content checksum of the events table — the
    anti-entropy primitive behind replica reconciliation and
    copy-verification (two sides exchange (n_rows, checksum); equal
    values mean equal multisets of rows with md5 confidence, no sort,
    no row shipping). Each row canonicalizes to a '|'-joined string
    (value quantized to 1e-4 exactly as stored), hashes to a 48-bit
    integer, and the SUM — commutative, so partition- and
    order-independent by construction — runs in DECIMAL(38,0) and
    reduces mod 10^15. One map-side-combinable aggregate; at 100 TB
    this is a single scan with a constant-size result, and per-range
    checksums (group by a key prefix) localize any mismatch."""
    ev = load_table(spark, sf_dir, "events")
    canon = F.md5(
        F.concat_ws(
            "|",
            F.col("event_id").cast("string"),
            F.col("user_id").cast("string"),
            F.col("event_type"),
            F.floor(F.col("value") * 10000).cast("long").cast("string"),
        )
    )
    hv = F.conv(F.substring(canon, 1, _CKSUM_HEX), 16, 10).cast(
        "decimal(38,0)"
    )
    return ev.select(hv.alias("hv")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (F.sum("hv") % _CKSUM_MOD).cast("long").alias("checksum"),
    )


# ---------------------------------------------------------------------------
# Session bounce rate (rollup of the sessionization fixed point)


@register(
    "session_bounce_rate",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
sessions AS (
  SELECT user_id,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS session_id
  FROM flagged
),
per AS (
  SELECT user_id, session_id, count(*) AS n_events
  FROM sessions GROUP BY user_id, session_id
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       floor(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000.0
             / count(*)) / 1000000.0 AS bounce_rate
FROM per GROUP BY user_id
""",
)
def session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate per user: the fraction of 30-min-gap sessions
    containing exactly one event — the rollup product analytics reads
    off the `sessionize_events` fixed point (single-event sessions are
    the bounce definition at event grain). The session build is the
    same lag → flag → running-sum plan, and BOTH its windows plus the
    two aggregates ride ONE user_id exchange — the rollup adds no new
    shuffle. Rate floor-quantizes onto the 1e-6 grid."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = (
        F.unix_micros("ts") / 1e6
        - F.unix_micros(F.lag("ts").over(w)) / 1e6
    )
    flagged = e.withColumn(
        "new_session",
        F.when(F.lag("ts").over(w).isNull() | (gap > 1800), 1).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id", F.sum("new_session").over(wf)
    )
    per = sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return per.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum((F.col("n_events") == 1).cast("int"))
        .cast("long")
        .alias("n_bounces"),
        (
            F.floor(
                F.sum((F.col("n_events") == 1).cast("int"))
                * 1000000.0
                / F.count(F.lit(1))
            )
            / 1e6
        ).alias("bounce_rate"),
    )


# ---------------------------------------------------------------------------
# Recency-decayed user value (dyadic half-life)


@register(
    "recency_weighted_value",
    oracle="""
WITH horizon AS (SELECT max(CAST(ts AS DATE)) AS h FROM events),
e AS (
  SELECT user_id,
         CAST(floor(value * 100) AS BIGINT) AS v100,
         date_diff('day', CAST(ts AS DATE), horizon.h) AS age_days
  FROM events, horizon
),
w AS (
  SELECT user_id, v100, age_days,
         v100 * (CAST(1 AS BIGINT) << (30 - least(age_days, 30)))
           AS contrib
  FROM e
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(contrib) AS BIGINT) AS decayed_num,
       CAST(sum(contrib) AS DOUBLE)
         / CAST(CAST(1 AS BIGINT) << 30 AS DOUBLE) / 100.0
         AS decayed_value
FROM w GROUP BY user_id
""",
)
def recency_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed user value with a ONE-DAY half-life: each event
    contributes value * 2^(-age_days) — the engagement score that
    halves per idle day (ages past 30 days saturate at the 2^-30
    floor, below any ranking-relevant contribution). Same dyadic
    discipline as `ewma_daily_counts`: contributions scale to integers
    (v100 << (30 - age)), the per-user sum is exact int64 (bounded by
    rows x v100 x 2^30 — document-checked against the fixture), and
    the final rescale divides by powers of two plus one decimal shift,
    so the emitted double is the correctly-rounded image of an exact
    integer on BOTH engines. One map-side projection + one user-keyed
    aggregate; the horizon is a 1-row broadcast."""
    ev = load_table(spark, sf_dir, "events")
    horizon = ev.agg(F.max(F.to_date("ts")).alias("h"))
    e = ev.join(F.broadcast(horizon)).select(
        "user_id",
        F.floor(F.col("value") * 100).cast("long").alias("v100"),
        F.datediff(F.col("h"), F.to_date("ts")).alias("age_days"),
    )
    contrib = F.col("v100") * F.expr(
        "shiftleft(cast(1 as bigint), cast(30 - least(age_days, 30) as int))"
    )
    return (
        e.select("user_id", contrib.alias("contrib"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("contrib").cast("long").alias("decayed_num"),
            (
                F.sum("contrib").cast("double")
                / F.lit(float(1 << 30))
                / 100.0
            ).alias("decayed_value"),
        )
    )


# ---------------------------------------------------------------------------
# Hypertable rollup hierarchy (continuous-aggregate derivation chain)


@register(
    "hypertable_rollup_hierarchy",
    oracle="""
WITH base AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 60) * 60 AS BIGINT) AS m_start,
         CAST(floor(value * 100) AS BIGINT) AS v100
  FROM events
),
minute AS (
  SELECT event_type, m_start AS bucket_start,
         count(*) AS cnt, sum(v100) AS sum_v100
  FROM base GROUP BY 1, 2
),
hour AS (
  SELECT event_type,
         CAST(floor(bucket_start / 3600) * 3600 AS BIGINT) AS bucket_start,
         sum(cnt) AS cnt, sum(sum_v100) AS sum_v100
  FROM minute GROUP BY 1, 2
),
day AS (
  SELECT event_type,
         CAST(floor(bucket_start / 86400) * 86400 AS BIGINT) AS bucket_start,
         sum(cnt) AS cnt, sum(sum_v100) AS sum_v100
  FROM hour GROUP BY 1, 2
)
SELECT 'minute' AS grain, event_type, bucket_start,
       CAST(cnt AS BIGINT) AS cnt, CAST(sum_v100 AS BIGINT) AS sum_v100
FROM minute
UNION ALL
SELECT 'hour', event_type, bucket_start,
       CAST(cnt AS BIGINT), CAST(sum_v100 AS BIGINT) FROM hour
UNION ALL
SELECT 'day', event_type, bucket_start,
       CAST(cnt AS BIGINT), CAST(sum_v100 AS BIGINT) FROM day
""",
)
def hypertable_rollup_hierarchy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hypertable-style continuous-aggregate hierarchy (the TimescaleDB
    rollup pattern): minute-grain aggregates from raw events, HOUR
    derived from the minute PARTIALS, DAY from the hour partials — raw
    data is scanned exactly once; every coarser grain is a sum-of-sums
    over the already-reduced frame (counts and quantized value sums are
    additive, which is the whole trick: store partials, roll up
    losslessly forever). This is how a 100 TB metrics store serves
    every zoom level: one (type, minute) exchange is the only
    data-sized shuffle, the hour/day rollups move minutes- and
    hours-sized frames. Epoch arithmetic is integer throughout and
    values quantize to 1e-2 before summing, so every grain is exact
    int64 on both engines; the emitted union carries all three grains
    with a `grain` discriminator."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        (F.floor(F.unix_timestamp("ts") / 60) * 60)
        .cast("long")
        .alias("m_start"),
        F.floor(F.col("value") * 100).cast("long").alias("v100"),
    )
    minute = base.groupBy(
        "event_type", F.col("m_start").alias("bucket_start")
    ).agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("v100").alias("sum_v100")
    )
    hour = minute.groupBy(
        "event_type",
        (F.floor(F.col("bucket_start") / 3600) * 3600)
        .cast("long")
        .alias("bucket_start"),
    ).agg(F.sum("cnt").alias("cnt"), F.sum("sum_v100").alias("sum_v100"))
    day = hour.groupBy(
        "event_type",
        (F.floor(F.col("bucket_start") / 86400) * 86400)
        .cast("long")
        .alias("bucket_start"),
    ).agg(F.sum("cnt").alias("cnt"), F.sum("sum_v100").alias("sum_v100"))

    def shape(df, grain):
        return df.select(
            F.lit(grain).alias("grain"),
            "event_type",
            F.col("bucket_start").cast("long").alias("bucket_start"),
            F.col("cnt").cast("long").alias("cnt"),
            F.col("sum_v100").cast("long").alias("sum_v100"),
        )

    return (
        shape(minute, "minute")
        .unionByName(shape(hour, "hour"))
        .unionByName(shape(day, "day"))
    )
