"""Data-quality audit: declared constraints checked corpus-wide in one
query — the validation gate a production pipeline runs before promoting a
snapshot (and before spending GPU-hours training on it). Null checks, range
checks, uniqueness, and referential integrity each produce one (check_name,
violations) row; a clean corpus yields all zeros, and the oracle recomputes
every count independently in DuckDB."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from twitter_flink_spark.registry import register
from twitter_flink_spark.session import local_frame
from twitter_flink_spark.sources.staging import scratch_dir
from twitter_flink_spark.sources.tables import load_table


@register(
    "dq_constraint_violations",
    oracle="""
SELECT 'orders_negative_totalprice' AS check_name,
       CAST(count(CASE WHEN o_totalprice < 0 THEN 1 END) AS BIGINT) AS violations
FROM orders
UNION ALL
SELECT 'orders_null_custkey',
       CAST(count(CASE WHEN o_custkey IS NULL THEN 1 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'lineitem_nonpositive_quantity',
       CAST(count(CASE WHEN l_quantity <= 0 THEN 1 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'events_null_user',
       CAST(count(CASE WHEN user_id IS NULL THEN 1 END) AS BIGINT)
FROM events
UNION ALL
SELECT 'events_duplicate_ids',
       CAST(count(*) - count(DISTINCT event_id) AS BIGINT)
FROM events
UNION ALL
SELECT 'orders_orphan_custkey',
       CAST(count(*) AS BIGINT)
FROM orders o WHERE NOT EXISTS
  (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'lineitem_orphan_orderkey',
       CAST(count(*) AS BIGINT)
FROM lineitem l WHERE NOT EXISTS
  (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
""",
)
def dq_constraint_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One pass per table for the scalar constraints (conditional counts
    fused into a single aggregate — NOT one scan per check), plus one
    left-anti join per foreign key. At 100 TB: the per-table scans are the
    unavoidable cost and carry every scalar check at once; the FK checks
    broadcast the key side when it fits and degrade to shuffled anti-joins
    when it doesn't — exactly the join Catalyst would pick for NOT EXISTS."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")

    def row(name: str, agg_df: DataFrame) -> DataFrame:
        return agg_df.select(
            F.lit(name).alias("check_name"),
            F.col("violations").cast("long").alias("violations"),
        )

    scalar_orders = orders.agg(
        F.count(F.when(F.col("o_totalprice") < 0, 1)).alias("neg_price"),
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("null_cust"),
    ).select(
        # stack unpivots BOTH checks out of the one aggregate row — the
        # orders scan runs once, not once per check
        F.expr(
            "stack(2, 'orders_negative_totalprice', CAST(neg_price AS BIGINT),"
            " 'orders_null_custkey', CAST(null_cust AS BIGINT))"
            " AS (check_name, violations)"
        )
    )
    parts = [
        scalar_orders,
        row("lineitem_nonpositive_quantity",
            lineitem.agg(F.count(F.when(F.col("l_quantity") <= 0, 1))
                         .alias("violations"))),
        row("events_null_user",
            events.agg(F.count(F.when(F.col("user_id").isNull(), 1))
                       .alias("violations"))),
        row("events_duplicate_ids",
            events.agg((F.count(F.lit(1)) - F.countDistinct("event_id"))
                       .alias("violations"))),
        row("orders_orphan_custkey",
            orders.join(customer,
                        orders.o_custkey == customer.c_custkey,
                        "left_anti")
                  .agg(F.count(F.lit(1)).alias("violations"))),
        row("lineitem_orphan_orderkey",
            lineitem.join(orders,
                          lineitem.l_orderkey == orders.o_orderkey,
                          "left_anti")
                    .agg(F.count(F.lit(1)).alias("violations"))),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# ---------------------------------------------------------------------------
# Corpus drift & distribution monitoring

_PSI_SPLIT_TS = "2024-01-16"  #: reference window < split <= comparison window


@register(
    "psi_value_drift",
    oracle=f"""
WITH src AS (
  SELECT value AS v,
         CAST(ts >= TIMESTAMP '{_PSI_SPLIT_TS}' AS INT) AS half
  FROM events
),
levels AS (SELECT v, count(*) AS c FROM src GROUP BY 1),
n AS (SELECT count(*) AS n FROM src),
cum AS (
  SELECT v, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cc
  FROM levels
),
bnd AS MATERIALIZED (
  SELECT CAST(t.i AS INT) AS q,
         min(CASE WHEN cum.cc >= ceil(t.i / 10.0 * n.n) THEN cum.v END) AS hi
  FROM cum CROSS JOIN n CROSS JOIN unnest(range(1, 10)) AS t(i)
  GROUP BY 1
),
binned AS (
  SELECT s.half,
         1 + (SELECT count(*) FROM bnd WHERE s.v >= bnd.hi) AS bin_id
  FROM src s
),
counts AS (
  SELECT bin_id,
         sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n_ref,
         sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n_cmp
  FROM binned GROUP BY 1
),
tot AS (
  SELECT sum(n_ref) AS tr, sum(n_cmp) AS tc, count(*) AS nb FROM counts
)
SELECT c.bin_id,
       CAST(c.n_ref AS BIGINT) AS n_ref, CAST(c.n_cmp AS BIGINT) AS n_cmp,
       round((c.n_ref + 1.0) / (t.tr + t.nb), 6) AS p_ref,
       round((c.n_cmp + 1.0) / (t.tc + t.nb), 6) AS p_cmp,
       round(((c.n_ref + 1.0) / (t.tr + t.nb)
               - (c.n_cmp + 1.0) / (t.tc + t.nb))
             * ln(((c.n_ref + 1.0) / (t.tr + t.nb))
                  / ((c.n_cmp + 1.0) / (t.tc + t.nb))), 8) AS psi_term
FROM counts c CROSS JOIN tot t
""",
)
def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift monitor: the event `value`
    distribution BEFORE vs FROM the mid-month split, binned by exact
    deciles of the combined distribution (aggregate-to-levels bounds —
    no row sort), each bin contributing ``(p - q) ln(p/q)`` with
    Laplace-smoothed shares. PSI is THE production drift gate between
    corpus snapshots (sum the terms; > 0.2 conventionally blocks a
    promotion) — here emitted per bin so the drifting bins are visible,
    not just the scalar. Decile bounds and the per-row bin assignment
    are broadcast expressions; the whole monitor is two aggregations
    over the fact table."""
    ev = load_table(spark, sf_dir, "events")
    src = ev.select(
        F.col("value").alias("v"),
        (F.col("ts") >= F.lit(_PSI_SPLIT_TS).cast("timestamp"))
        .cast("int")
        .alias("half"),
    )
    levels = src.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    n = src.agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window

    wlev = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = levels.select("v", F.sum("c").over(wlev).alias("cc"))
    bnd = cum.join(F.broadcast(n)).agg(
        *[
            F.min(
                F.when(
                    F.col("cc") >= F.ceil(F.lit(i / 10.0) * F.col("n")),
                    F.col("v"),
                )
            ).alias(f"h{i}")
            for i in range(1, 10)
        ]
    )
    bin_id = F.lit(1)
    for i in range(1, 10):
        bin_id = bin_id + (F.col("v") >= F.col(f"h{i}")).cast("int")
    binned = src.crossJoin(F.broadcast(bnd)).select(
        "half", bin_id.alias("bin_id")
    )
    counts = binned.groupBy("bin_id").agg(
        F.sum((F.col("half") == 0).cast("int")).alias("n_ref"),
        F.sum((F.col("half") == 1).cast("int")).alias("n_cmp"),
    )
    tot = counts.agg(
        F.sum("n_ref").alias("tr"),
        F.sum("n_cmp").alias("tc"),
        F.count(F.lit(1)).alias("nb"),
    )
    p_ref = (F.col("n_ref") + 1.0) / (F.col("tr") + F.col("nb"))
    p_cmp = (F.col("n_cmp") + 1.0) / (F.col("tc") + F.col("nb"))
    return counts.join(F.broadcast(tot)).select(
        "bin_id",
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cmp").cast("long").alias("n_cmp"),
        F.round(p_ref, 6).alias("p_ref"),
        F.round(p_cmp, 6).alias("p_cmp"),
        F.round((p_ref - p_cmp) * F.log(p_ref / p_cmp), 8).alias("psi_term"),
    )


@register(
    "chi2_lang_source_independence",
    oracle="""
WITH obs AS (
  SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2
),
rowt AS (SELECT lang, sum(o) AS rt FROM obs GROUP BY 1),
colt AS (SELECT source, sum(o) AS ct FROM obs GROUP BY 1),
n AS (SELECT sum(o) AS n FROM obs)
SELECT obs.lang, obs.source, CAST(obs.o AS BIGINT) AS observed,
       round(rowt.rt * colt.ct * 1.0 / n.n, 6) AS expected,
       round(pow(obs.o - rowt.rt * colt.ct * 1.0 / n.n, 2)
             / (rowt.rt * colt.ct * 1.0 / n.n), 8) AS chi2_term
FROM obs JOIN rowt USING (lang) JOIN colt USING (source) CROSS JOIN n
""",
)
def chi2_lang_source_independence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Chi-square independence audit of the lang x source contingency
    table — the sampling-bias check of corpus assembly (is a source
    over-contributing a language relative to the corpus mix?). Observed
    cells are one group-by; expected cells come from broadcast row/col
    marginals; each cell emits its (o-e)^2/e contribution so the biased
    cells are visible, not just the statistic. Cells only exist where
    observed > 0 (same sparsity both engines)."""
    docs = load_table(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    rowt = obs.groupBy("lang").agg(F.sum("o").alias("rt"))
    colt = obs.groupBy("source").agg(F.sum("o").alias("ct"))
    n = obs.agg(F.sum("o").alias("n"))
    e = F.col("rt") * F.col("ct") * 1.0 / F.col("n")
    return (
        obs.join(F.broadcast(rowt), "lang")
        .join(F.broadcast(colt), "source")
        .join(F.broadcast(n))
        .select(
            "lang",
            "source",
            F.col("o").cast("long").alias("observed"),
            F.round(e, 6).alias("expected"),
            F.round(F.pow(F.col("o") - e, 2) / e, 8).alias("chi2_term"),
        )
    )


@register(
    "entropy_tokens_by_source",
    oracle="""
WITH tok AS (
  SELECT source, unnest(str_split(text, ' ')) AS token FROM documents
),
tc AS (
  SELECT source, token, count(*) AS c FROM tok WHERE token <> '' GROUP BY 1, 2
),
st AS (SELECT source, sum(c) AS n FROM tc GROUP BY 1),
terms AS (
  SELECT tc.source,
         CAST(round(-(tc.c * 1.0 / st.n) * ln(tc.c * 1.0 / st.n), 10)
              AS DECIMAL(28,10)) AS term
  FROM tc JOIN st USING (source)
)
SELECT t.source,
       CAST(count(*) AS BIGINT) AS n_distinct_tokens,
       CAST(sum(t.term) AS DOUBLE) + 0.0 AS entropy_nats
FROM terms t
GROUP BY t.source
""",
)
def entropy_tokens_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the token distribution per source — the
    lexical-diversity monitor of corpus assembly (a source whose entropy
    collapses is emitting boilerplate; entropy near log(vocab) is
    healthy). Per-source token counts are one shuffle; each token's
    ``-p ln p`` term is rounded to 10 decimals and summed as DECIMAL so
    the entropy is partition-order independent, emitted as the exact
    decimal sum cast to double (no final re-round — half-way boundary
    discipline as the PQ error sums)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select("source", F.explode(F.split("text", " ")).alias("token"))
        .where(F.col("token") != "")
    )
    tc = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c"))
    st = tc.groupBy("source").agg(F.sum("c").alias("n"))
    p = F.col("c") * 1.0 / F.col("n")
    terms = tc.join(F.broadcast(st), "source").select(
        "source",
        F.round(-p * F.log(p), 10).cast("decimal(28,10)").alias("term"),
    )
    return terms.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_distinct_tokens"),
        (F.sum("term").cast("double") + F.lit(0.0)).alias("entropy_nats"),
    )


@register(
    "cusum_value_excursion",
    oracle="""
WITH mu AS (
  SELECT CAST(floor(sum(CAST(floor(value * 10000) AS BIGINT)) * 1.0
              / count(*)) AS BIGINT) AS mu4
  FROM events
),
dev AS (
  SELECT event_type, ts, event_id,
         CAST(floor(value * 10000) AS BIGINT) - mu.mu4 AS d4
  FROM events, mu
),
cs AS (
  SELECT event_type,
         sum(d4) OVER (PARTITION BY event_type ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS s4
  FROM dev
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(s4) AS BIGINT) AS max_cusum4,
       CAST(min(s4) AS BIGINT) AS min_cusum4,
       CAST(max(s4) - min(s4) AS BIGINT) AS excursion4
FROM cs
GROUP BY event_type
""",
)
def cusum_value_excursion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point monitor per event type: the running cumulative
    sum of deviations from the GLOBAL mean, tracked to its max/min —
    a large excursion (max minus min of the walk) localizes a sustained
    level shift that distribution-level monitors (psi_value_drift /
    chi2 / entropy) smear out, because CUSUM is sequential in event
    time. Complements the existing drift suite as the
    time-ordered member.

    Determinism: each value reduces to floor(value*1e4) FIRST and the
    mean is the floored quotient of the exact int64 sum of those
    quantized values — never floor(avg*1e4) of a float average, whose
    low bits depend on partial-sum order and can flip the floor at
    integer boundaries (the quotient's double division is exact here:
    the sum stays far below 2^53). The walk is then exact int64
    arithmetic (the partial-sum window is ordered by (ts, event_id), so
    every prefix is reproducible), and max/min/excursion are integers;
    no float comparison anywhere. Shape: one 1-row broadcast (the mean), one
    event_type-keyed exchange shared by the window and the final
    aggregate — the same single-shuffle discipline as the other
    monitors. State at 100 TB: the window is per-type sequential by
    design (CUSUM is inherently a prefix scan); a wide deployment runs
    it per (type, day) partition to bound the scan length."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    mu = ev.agg(
        F.floor(
            F.sum(F.floor(F.col("value") * 10000).cast("long"))
            * 1.0
            / F.count(F.lit(1))
        )
        .cast("long")
        .alias("mu4")
    )
    dev = ev.join(F.broadcast(mu)).select(
        "event_type",
        "ts",
        "event_id",
        (
            F.floor(F.col("value") * 10000).cast("long") - F.col("mu4")
        ).alias("d4"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cs = dev.withColumn("s4", F.sum("d4").over(w))
    return cs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("s4").cast("long").alias("max_cusum4"),
        F.min("s4").cast("long").alias("min_cusum4"),
        (F.max("s4") - F.min("s4")).cast("long").alias("excursion4"),
    )


@register(
    "cusum_daily_excursion",
    oracle="""
WITH mu AS (
  SELECT CAST(floor(sum(CAST(floor(value * 10000) AS BIGINT)) * 1.0
              / count(*)) AS BIGINT) AS mu4
  FROM events
),
dev AS (
  SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id,
         CAST(floor(value * 10000) AS BIGINT) - mu.mu4 AS d4
  FROM events, mu
),
cs AS (
  SELECT event_type, day,
         sum(d4) OVER (PARTITION BY event_type, day ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS s4
  FROM dev
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(s4) AS BIGINT) AS max_cusum4,
       CAST(min(s4) AS BIGINT) AS min_cusum4,
       CAST(max(s4) - min(s4) AS BIGINT) AS excursion4
FROM cs
GROUP BY event_type, day
""",
)
def cusum_daily_excursion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(event_type, day) CUSUM excursion — the partitioned form of
    `cusum_value_excursion` that bounds the inherently sequential prefix
    scan to one day of one type (SURVEY §13's declared follow-up): a
    CUSUM walk is a window prefix sum, so the per-type global variant's
    single partition-long scan becomes the scale bottleneck when one
    type dominates the corpus; day-partitioning caps every scan at the
    daily row count and makes the walk embarrassingly parallel across
    (type, day) cells while still localizing WHICH day a sustained
    level shift lands on. The deviation baseline stays the GLOBAL mean
    (same mu4 quantization discipline as the parent monitor — floored
    quotient of the exact int64 sum) so a day whose values sit above
    the corpus-wide level shows a positive drift even if that day is
    internally flat; all walk arithmetic is exact int64 and the window
    order (ts, event_id) makes every prefix reproducible. Shape: one
    1-row broadcast (the mean) and ONE (event_type, day)-keyed exchange
    shared by the window and the final aggregate."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    mu = ev.agg(
        F.floor(
            F.sum(F.floor(F.col("value") * 10000).cast("long"))
            * 1.0
            / F.count(F.lit(1))
        )
        .cast("long")
        .alias("mu4")
    )
    dev = ev.join(F.broadcast(mu)).select(
        "event_type",
        F.to_date("ts").alias("day"),
        "ts",
        "event_id",
        (
            F.floor(F.col("value") * 10000).cast("long") - F.col("mu4")
        ).alias("d4"),
    )
    w = (
        Window.partitionBy("event_type", "day")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cs = dev.withColumn("s4", F.sum("d4").over(w))
    return cs.groupBy(
        "event_type", F.date_format("day", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("s4").cast("long").alias("max_cusum4"),
        F.min("s4").cast("long").alias("min_cusum4"),
        (F.max("s4") - F.min("s4")).cast("long").alias("excursion4"),
    )


@register(
    "cusum_daily_alerts",
    oracle="""
WITH mu AS (
  SELECT CAST(floor(sum(CAST(floor(value * 10000) AS BIGINT)) * 1.0
              / count(*)) AS BIGINT) AS mu4
  FROM events
),
dev AS (
  SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id,
         CAST(floor(value * 10000) AS BIGINT) - mu.mu4 AS d4
  FROM events, mu
),
cs AS (
  SELECT event_type, day,
         sum(d4) OVER (PARTITION BY event_type, day ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS s4
  FROM dev
),
cells AS (
  SELECT event_type, day, max(s4) - min(s4) AS excursion4
  FROM cs GROUP BY event_type, day
),
scale AS (
  SELECT event_type,
         CAST(floor(sum(excursion4) * 1.0 / count(*)) AS BIGINT)
           AS mean_exc4
  FROM cells GROUP BY event_type
)
SELECT c.event_type, strftime(c.day, '%Y-%m-%d') AS day,
       CAST(c.excursion4 AS BIGINT) AS excursion4,
       s.mean_exc4,
       CAST(floor(c.excursion4 * 100.0 / s.mean_exc4) AS BIGINT) AS sev_pct
FROM cells c JOIN scale s USING (event_type)
WHERE s.mean_exc4 > 0 AND c.excursion4 * 10 >= s.mean_exc4 * 15
""",
)
def cusum_daily_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert rollup over the `cusum_daily_excursion` cells (SURVEY §13's
    stratified-alerting follow-up): a (type, day) cell alerts when its
    excursion reaches 1.5x the type's MEAN daily excursion — the
    self-normalizing form that needs no per-type tuning (a noisy type
    raises its own bar). The comparison cross-multiplies
    (excursion*10 >= mean*15) and the mean is the floored integer
    quotient, so the alert verdict — like every CUSUM number upstream —
    never touches a float boundary. Shape: the cells table is bounded by
    types x days (data-size independent), so the per-type scale is an
    aggregate over a TINY frame and the alert filter is a broadcast
    join back onto it; the only data-sized work remains the one
    (type, day)-keyed exchange the walk already paid."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    mu = ev.agg(
        F.floor(
            F.sum(F.floor(F.col("value") * 10000).cast("long"))
            * 1.0
            / F.count(F.lit(1))
        )
        .cast("long")
        .alias("mu4")
    )
    dev = ev.join(F.broadcast(mu)).select(
        "event_type",
        F.to_date("ts").alias("day"),
        "ts",
        "event_id",
        (
            F.floor(F.col("value") * 10000).cast("long") - F.col("mu4")
        ).alias("d4"),
    )
    w = (
        Window.partitionBy("event_type", "day")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cells = (
        dev.withColumn("s4", F.sum("d4").over(w))
        .groupBy("event_type", "day")
        .agg((F.max("s4") - F.min("s4")).cast("long").alias("excursion4"))
    )
    scale = cells.groupBy("event_type").agg(
        F.floor(F.sum("excursion4") * 1.0 / F.count(F.lit(1)))
        .cast("long")
        .alias("mean_exc4")
    )
    return (
        cells.join(F.broadcast(scale), "event_type")
        .where(
            (F.col("mean_exc4") > 0)
            & (F.col("excursion4") * 10 >= F.col("mean_exc4") * 15)
        )
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "excursion4",
            "mean_exc4",
            F.floor(F.col("excursion4") * 100.0 / F.col("mean_exc4"))
            .cast("long")
            .alias("sev_pct"),
        )
    )


@register(
    "expectations_quarantine_routing",
    oracle="""
SELECT 'no_error_type' AS rule, 'quarantine' AS action,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n,
       TRUE AS persisted_matches
FROM events
UNION ALL
SELECT 'route_dropped', 'route',
       CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT), TRUE
FROM events
UNION ALL
SELECT 'route_good', 'route',
       CAST(sum(CASE WHEN user_id IS NOT NULL AND value >= 100
                          AND event_type <> 'error'
                     THEN 1 ELSE 0 END) AS BIGINT), TRUE
FROM events
UNION ALL
SELECT 'route_quarantined', 'route',
       CAST(sum(CASE WHEN user_id IS NOT NULL
                          AND (value < 100 OR event_type = 'error')
                     THEN 1 ELSE 0 END) AS BIGINT), TRUE
FROM events
UNION ALL
SELECT 'user_present', 'drop',
       CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT), TRUE
FROM events
UNION ALL
SELECT 'value_at_least_1', 'warn',
       CAST(sum(CASE WHEN value < 1 THEN 1 ELSE 0 END) AS BIGINT), TRUE
FROM events
UNION ALL
SELECT 'value_under_100', 'quarantine',
       CAST(sum(CASE WHEN value < 100 THEN 1 ELSE 0 END) AS BIGINT), TRUE
FROM events
""",
)
def expectations_quarantine_routing(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Expectations ENFORCEMENT (`operators/expectations.py`), one step
    past `dq_constraint_violations`' audit: a declared contract — two
    quarantine rules (value >= 100, no 'error' events), one warn rule
    (value >= 1: counted, row still flows), one drop rule (user
    present; clean here, so its ledger row pins an exact 0) — routes
    EVERY row to good/quarantined/dropped directories in ONE scan and
    ONE write (`partitionBy` on the route column; not a filter-scan per
    destination), while the violation ledger rides the same job via
    `DataFrame.observe` (Catalyst CollectMetrics: executor-side inline
    aggregation, zero extra scans — where a groupBy ledger would re-read
    the corpus). Precedence drop > quarantine keeps routes a partition
    of the input (per-rule counts stay raw), which the oracle pins by
    recomputing each count independently; `persisted_matches` pins that
    the rows actually ON DISK per route equal the observed ledger —
    enforcement happened, not just measurement."""
    from twitter_flink_spark.operators.expectations import ROUTE_COL, Rule, route

    rules = [
        Rule("value_under_100", "value >= 100", "quarantine"),
        Rule("no_error_type", "event_type <> 'error'", "quarantine"),
        Rule("value_at_least_1", "value >= 1", "warn"),
        Rule("user_present", "user_id IS NOT NULL", "drop"),
    ]
    e = load_table(spark, sf_dir, "events")
    dest = scratch_dir("expect") + "/routed"
    ledger, _ = route(e, rules, dest)
    on_disk = {
        r[ROUTE_COL]: r["n"]
        for r in spark.read.parquet(dest)
        .groupBy(ROUTE_COL)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # <= 3 rows
    }
    matches = all(
        ledger[f"route_{v}"] == on_disk.get(v, 0)
        for v in ("good", "quarantined", "dropped")
    )
    by_action = {r.name: r.action for r in rules}
    rows = [
        (
            k.removeprefix("rule_"),
            by_action[k.removeprefix("rule_")],
            ledger[k],
        )
        for k in ledger
        if k.startswith("rule_")
    ] + [(k, "route", ledger[k]) for k in ledger if k.startswith("route_")]
    return local_frame(
        spark,
        [(r, a, n, bool(matches)) for r, a, n in rows],
        "rule string, action string, n long, persisted_matches boolean",
    )


def _ensure_quarantine_replay(
    spark: SparkSession, sf_dir: str
) -> tuple[str, dict]:
    """Quarantine REPLAY fixture: events routed through the ingest gate
    (value <= 150 or quarantine), the good partition stats-indexed,
    then the repair job — clamp the quarantined rows' value to the cap,
    RE-GATE them through the same rule, append the now-passing rows to
    the good table, refresh its skipping index incrementally. The
    ledger carries every count the query's flags pin, so all processes
    replay the builder's lifecycle. Routing output is path-free (safe
    to build in scratch); the index steps run in finalize at the final
    path."""
    import os

    from twitter_flink_spark.operators import skipping
    from twitter_flink_spark.operators.expectations import (
        ROUTE_COL,
        Rule,
        good_path,
        route,
    )
    from twitter_flink_spark.sources.staging import stage_once

    cap_rule = Rule("value_cap", "value <= 150.0", "quarantine")
    rules = [cap_rule, Rule("value_at_least_1", "value >= 1", "warn")]

    def _build(p: str) -> dict:
        ledger, _ = route(load_table(spark, sf_dir, "events"), rules, p)
        return {
            "n_good": ledger["route_good"],
            "n_quarantined": ledger["route_quarantined"],
        }

    def _finalize(dest: str) -> dict:
        good = good_path(dest)
        skipping.build(spark, good, ["ts"])
        quarantined = spark.read.parquet(
            os.path.join(dest, f"{ROUTE_COL}=quarantined")
        )
        repaired = quarantined.withColumn(
            "value", F.least(F.col("value"), F.lit(150.0))
        )
        # RE-GATE: the repair must actually satisfy the contract before
        # anything re-enters the table (a repair job must never become
        # an expectations bypass)
        still_bad = repaired.where(cap_rule.violated()).count()
        n_repaired = 0
        if still_bad == 0:
            n_repaired = repaired.count()
            repaired.write.mode("append").parquet(good)
        return {
            "still_bad": still_bad,
            "n_repaired": n_repaired,
            "n_new_files": skipping.update(spark, good, ["ts"]),
            "stale_after": skipping.stale_file_count(spark, good),
            "final_rows": spark.read.parquet(good).count(),
        }

    return stage_once("qreplay", sf_dir, _build, _finalize)


@register(
    "quarantine_repair_replay",
    oracle="""
WITH bounds AS (SELECT min(ts) AS t0 FROM events)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS cnt,
       round(sum(least(e.value, 150.0)), 2) AS total_value,
       TRUE AS quarantined_then_repaired,
       TRUE AS nothing_lost,
       TRUE AS index_fresh
FROM events e, bounds b
WHERE e.ts >= b.t0 + INTERVAL 8 DAY AND e.ts < b.t0 + INTERVAL 16 DAY
GROUP BY e.event_type
""",
)
def quarantine_repair_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quarantine REPLAY path — what `expectations_route_ledger`
    gates, this repairs and re-ingests: rows failing the contract
    (value over the cap) are quarantined aside, the repair job clamps
    them, RE-GATES the repaired rows through the same rule (a repair
    that still violates never re-enters), appends the passing rows to
    the good table, and refreshes the table's skipping index
    incrementally (`update`: exactly the appended files; zero stale
    files after). Serving then reads a ts slice THROUGH the refreshed
    index. The oracle applies the clamp to every row of the original
    table (a no-op below the cap) — a hash match proves
    quarantine + repair + replay + index refresh lost nothing and
    changed exactly the violating rows. Flags:
    `quarantined_then_repaired` (violations existed, all repaired rows
    passed the re-gate, every one re-entered), `nothing_lost` (final
    table rows == good + quarantined at route time), `index_fresh`
    (incremental update indexed the appended files; stale count 0)."""
    import datetime

    from twitter_flink_spark.operators import skipping
    from twitter_flink_spark.operators.expectations import good_path

    dest, led = _ensure_quarantine_replay(spark, sf_dir)
    repaired_ok = (
        led["n_quarantined"] > 0
        and led["still_bad"] == 0
        and led["n_repaired"] == led["n_quarantined"]
    )
    nothing_lost = (
        led["final_rows"] == led["n_good"] + led["n_quarantined"]
    )
    index_fresh = led["n_new_files"] > 0 and led["stale_after"] == 0
    good = good_path(dest)
    t0 = spark.read.parquet(good).agg(F.min("ts")).first()[0]
    lo = t0 + datetime.timedelta(days=8)
    hi = t0 + datetime.timedelta(days=16)
    sliced, _fr, _ft = skipping.read_between(spark, good, "ts", lo, hi)
    return sliced.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.lit(bool(repaired_ok)).alias("quarantined_then_repaired"),
        F.lit(bool(nothing_lost)).alias("nothing_lost"),
        F.lit(bool(index_fresh)).alias("index_fresh"),
    )


_PSI_BUCKETS = 10


@register(
    "psi_value_drift_eras",
    oracle=f"""
WITH b AS (
  SELECT min(ts) AS t0, max(ts) AS t1, min(value) AS v0, max(value) AS v1
  FROM events
),
lab AS (
  SELECT CASE WHEN epoch_us(e.ts)
              < (epoch_us(b.t0) + epoch_us(b.t1)) // 2
              THEN 'era1' ELSE 'era2' END AS era,
         least({_PSI_BUCKETS - 1}, greatest(0,
           CAST(floor((e.value - b.v0) * {_PSI_BUCKETS}.0
                      / (b.v1 - b.v0)) AS INTEGER))) AS bucket
  FROM events e, b
),
cnt AS (
  SELECT bucket,
         sum(CASE WHEN era = 'era1' THEN 1 ELSE 0 END) AS n1,
         sum(CASE WHEN era = 'era2' THEN 1 ELSE 0 END) AS n2
  FROM lab GROUP BY bucket
),
tot AS (SELECT sum(n1) AS t1, sum(n2) AS t2 FROM cnt),
frac AS (
  SELECT c.bucket,
         (c.n1 + 0.5) / (t.t1 + {_PSI_BUCKETS} * 0.5) AS p,
         (c.n2 + 0.5) / (t.t2 + {_PSI_BUCKETS} * 0.5) AS q,
         CAST(c.n1 AS BIGINT) AS n_era1, CAST(c.n2 AS BIGINT) AS n_era2
  FROM cnt c, tot t
)
SELECT CAST(bucket AS INTEGER) AS bucket, n_era1, n_era2,
       round((p - q) * ln(p / q), 6) AS psi_term,
       round((SELECT sum((p - q) * ln(p / q)) FROM frac), 6) AS psi_total,
       (SELECT sum((p - q) * ln(p / q)) FROM frac) < 0.2 AS stable
FROM frac
""",
)
def psi_value_drift_eras(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POPULATION STABILITY INDEX between time eras — the distribution-
    shift gate a training pipeline runs before mixing a new crawl into
    an old corpus: bucket `value` into 10 fixed bins over the FULL
    table's [min, max] (shared bins — per-era bins would hide shift by
    re-normalizing it away), split rows at the time midpoint, and
    compute PSI = Σ (p_i - q_i)·ln(p_i/q_i) over Laplace-smoothed bin
    fractions (the +0.5 smoothing keeps empty bins finite without
    dropping them — a bin present in one era only is exactly the signal
    PSI exists to catch). One row per bin with both counts and the
    bin's PSI term, plus the total and the standard < 0.2 stability
    verdict. Everything is one scan + one 10-group aggregate; the
    bucketing is the same exact-arithmetic floor both engines compute
    identically, and ln/× are IEEE ops in identical order, so the
    driver hash pins the full drift computation. At 100 TB this runs
    per ingest over billions of rows into 10 counters — partial
    aggregation makes the shuffle 10 rows per task."""
    e = load_table(spark, sf_dir, "events")
    b = e.agg(
        F.min("ts").alias("t0"),
        F.max("ts").alias("t1"),
        F.min("value").alias("v0"),
        F.max("value").alias("v1"),
    ).first()
    v0, v1 = float(b["v0"]), float(b["v1"])
    # exact integer-microsecond midpoint: interval halving rounds
    # differently across engines and moves boundary rows between eras
    eb = e.agg(
        F.min(F.unix_micros("ts")).alias("u0"),
        F.max(F.unix_micros("ts")).alias("u1"),
    ).first()
    mid_us = (int(eb["u0"]) + int(eb["u1"])) // 2
    lab = e.select(
        F.when(F.unix_micros("ts") < mid_us, F.lit("era1"))
        .otherwise(F.lit("era2"))
        .alias("era"),
        F.least(
            F.lit(_PSI_BUCKETS - 1),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col("value") - v0) * float(_PSI_BUCKETS) / (v1 - v0)
                ).cast("int"),
            ),
        ).alias("bucket"),
    )
    cnt = lab.groupBy("bucket").agg(
        F.sum((F.col("era") == "era1").cast("int")).alias("n1"),
        F.sum((F.col("era") == "era2").cast("int")).alias("n2"),
    )
    t = cnt.agg(F.sum("n1").alias("t1"), F.sum("n2").alias("t2")).first()
    t1, t2 = int(t["t1"]), int(t["t2"])
    sm = _PSI_BUCKETS * 0.5
    frac = cnt.select(
        "bucket",
        F.col("n1").cast("long").alias("n_era1"),
        F.col("n2").cast("long").alias("n_era2"),
        ((F.col("n1") + 0.5) / (t1 + sm)).alias("p"),
        ((F.col("n2") + 0.5) / (t2 + sm)).alias("q"),
    ).withColumn(
        "term", (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))
    )
    total = float(frac.agg(F.sum("term")).first()[0])  # 1-row pin read
    return frac.select(
        F.col("bucket").cast("int").alias("bucket"),
        "n_era1",
        "n_era2",
        F.round("term", 6).alias("psi_term"),
        F.round(F.lit(total), 6).alias("psi_total"),
        F.lit(bool(total < 0.2)).alias("stable"),
    )
