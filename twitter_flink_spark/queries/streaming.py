"""Streaming queries registered with the driver — each runs a real
Structured Streaming query to completion (availableNow trigger) and is
checked against a batch-semantics DuckDB oracle. This pins Spark's
batch/streaming unification to OUR window + watermark configuration: if the
watermark or window arithmetic drifted, the oracle would catch it.

Append-mode emission contract (measured, tests/test_streaming.py): a window
is emitted iff window_end <= max(ts) - watermark — the oracle encodes
exactly that.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from twitter_flink_spark.registry import register
from twitter_flink_spark.session import local_frame
from twitter_flink_spark.sources.staging import scratch_dir
from twitter_flink_spark.streaming.pipeline import (
    TopNFeedback,
    await_or_raise,
    run_to_memory,
    state_partitions,
    windowed_stream_counts,
)
from twitter_flink_spark.streaming.sources import stream_table
from twitter_flink_spark.streaming.stateful import running_totals_stream

_STREAM_COUNTS_ORACLE = """
WITH expanded AS (
  SELECT event_type, ts,
         to_timestamp(CAST(floor(epoch(ts)/60)*60 - 60*i.i AS BIGINT))::TIMESTAMP
           AS window_start
  FROM events CROSS JOIN (SELECT unnest(range(5)) AS i) i
),
counts AS (
  SELECT window_start,
         window_start + INTERVAL 300 SECOND AS window_end,
         event_type, count(*) AS cnt
  FROM expanded GROUP BY 1, 2, 3
),
maxts AS (SELECT max(ts) AS mx FROM events)
SELECT c.window_start, c.window_end, c.event_type, c.cnt
FROM counts c, maxts
WHERE c.window_end <= maxts.mx - INTERVAL 1 SECOND
"""


@register("streaming_sliding_counts", oracle=_STREAM_COUNTS_ORACLE)
def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The O6+O7 sliding-window count under readStream + withWatermark,
    append mode, run to completion. Result = batch result restricted to
    watermark-closed windows."""
    src = stream_table(spark, sf_dir, "events")
    agg = windowed_stream_counts(src, key_cols=("event_type",))
    return run_to_memory(agg, output_mode="append")


_TOPN_FEEDBACK_ORACLE = """
WITH expanded AS (
  SELECT event_type, ts,
         to_timestamp(CAST(floor(epoch(ts)/60)*60 - 60*i.i AS BIGINT))::TIMESTAMP
           AS window_start
  FROM events CROSS JOIN (SELECT unnest(range(5)) AS i) i
),
counts AS (
  SELECT window_start, event_type, count(*) AS cnt
  FROM expanded GROUP BY 1, 2
),
maxts AS (SELECT max(ts) AS mx FROM events),
closed AS (
  SELECT c.* FROM counts c, maxts
  WHERE c.window_start + INTERVAL 300 SECOND <= maxts.mx - INTERVAL 1 SECOND
),
lastw AS (SELECT max(window_start) AS ws FROM closed),
topn AS (
  SELECT c.event_type FROM closed c JOIN lastw ON c.window_start = lastw.ws
  ORDER BY c.cnt DESC, c.event_type ASC LIMIT 3
)
SELECT e.event_id, e.event_type, e.user_id
FROM events e
WHERE e.event_type IN (SELECT event_type FROM topn)
"""


@register("streaming_topn_feedback", oracle=_TOPN_FEEDBACK_ORACLE)
def streaming_topn_feedback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's feedback loop (O6-O13), deterministic replay order:
    the leaderboard stream runs to completion (its final snapshot = top-3
    keys of the last watermark-closed window, upserted rank-keyed into the
    KV store), then the event stream is filtered against that snapshot —
    the reference's "latest-seen top-N" semantics
    (`TopNHashtags.java:303,312-334`) with the two-input race pinned to a
    deterministic order for the correctness gate."""
    fb = TopNFeedback(spark, sf_dir, key_col="event_type", n=3)
    fb.run_leaderboard()
    return fb.run_filter()


_TUMBLING_COUNTS_ORACLE = """
WITH bucketed AS (
  SELECT event_type,
         to_timestamp(CAST(floor(epoch(ts)/60)*60 AS BIGINT))::TIMESTAMP
           AS window_start,
         ts
  FROM events
),
counts AS (
  SELECT window_start,
         window_start + INTERVAL 60 SECOND AS window_end,
         event_type, count(*) AS cnt
  FROM bucketed GROUP BY 1, 2, 3
),
maxts AS (SELECT max(ts) AS mx FROM events)
SELECT c.window_start, c.window_end, c.event_type, c.cnt
FROM counts c, maxts
WHERE c.window_end <= maxts.mx - INTERVAL 1 SECOND
"""


@register("streaming_tumbling_counts", oracle=_TUMBLING_COUNTS_ORACLE)
def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling (non-overlapping) 60 s windows under readStream — slide ==
    size, so each event lands in exactly one window and streaming state is
    1/5th of the sliding variant's. Append mode emits watermark-closed
    windows only; the oracle encodes the same emission rule."""
    src = stream_table(spark, sf_dir, "events")
    agg = windowed_stream_counts(
        src, key_cols=("event_type",), window_size="60 seconds",
        window_slide="60 seconds",
    )
    return run_to_memory(agg, output_mode="append")


@register(
    "streaming_dedup_first_seen",
    oracle="""
SELECT DISTINCT user_id, event_type FROM events
""",
)
def streaming_dedup_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup (`dropDuplicates` on a key subset): emit each
    (user, event_type) pair once, on first sight — the streaming form of
    the LLM-pipeline exact-dedup operator. State = one entry per distinct
    key in the state store; on unbounded streams use
    `dropDuplicatesWithinWatermark` so keys older than the watermark evict.
    Only the key columns are emitted (WHICH physical row survives is
    batch-order-dependent; the key set is not)."""
    src = stream_table(spark, sf_dir, "events")
    deduped = src.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return run_to_memory(deduped, output_mode="append")


@register(
    "streaming_stateful_running_totals",
    oracle="""
SELECT user_id, count(*) AS cum_events, round(sum(value), 2) AS cum_value
FROM events
GROUP BY user_id
""",
)
def streaming_stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (`applyInPandasWithState`): per-user running
    (count, sum) in the managed state store, run to completion. The per-batch
    emission history depends on source batching, so the query reduces to the
    final row per key — max cum_events and its cum_value — which must equal
    the batch groupBy totals."""
    src = stream_table(spark, sf_dir, "events")
    emitted = run_to_memory(running_totals_stream(src), output_mode="update")
    final = emitted.groupBy("user_id").agg(
        F.max(F.struct("cum_events", "cum_value")).alias("f")
    )
    return final.select(
        "user_id",
        F.col("f.cum_events").alias("cum_events"),
        F.round(F.col("f.cum_value"), 2).alias("cum_value"),
    )


@register(
    "streaming_stream_stream_join",
    oracle="""
SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
       CAST(floor(epoch(p.ts)) - floor(epoch(c.ts)) AS BIGINT) AS gap_seconds
FROM events p JOIN events c
  ON c.user_id = p.user_id
 AND c.ts >= p.ts - INTERVAL 86400 SECOND AND c.ts <= p.ts
WHERE p.event_type = 'purchase' AND p.value > 150
  AND c.event_type = 'click'
""",
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with an event-time range condition: each
    high-value purchase joined to the same user's clicks in the preceding
    24 hours (sized to the corpus event density so the gate sees real
    matches; the state bound scales with the interval). Both sides carry watermarks and the time-range bound, so
    the join state evicts rows older than watermark+range instead of
    buffering both streams forever — the only form of stream-stream join
    that survives an unbounded run. Drained to completion, the emitted set
    equals the batch interval join (the oracle)."""
    p = (
        stream_table(spark, sf_dir, "events")
        .where((F.col("event_type") == "purchase") & (F.col("value") > 150))
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 second")
    )
    c = (
        stream_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 second")
    )
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 86400 SECONDS"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).select(
        "purchase_id",
        "click_id",
        "user_id",
        (F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts"))
        .cast("long")
        .alias("gap_seconds"),
    )
    return run_to_memory(joined, output_mode="append")


@register(
    "streaming_session_counts",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
),
sessions AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
),
agg AS (
  SELECT user_id, session_id, count(*) AS n_events,
         round(sum(value), 2) AS total_value,
         min(ts) AS session_start, max(ts) AS last_event
  FROM sessions GROUP BY 1, 2
),
maxts AS (SELECT max(ts) AS mx FROM events)
SELECT a.user_id, a.session_start, a.n_events, a.total_value
FROM agg a, maxts
WHERE a.last_event + INTERVAL 1800 SECOND <= maxts.mx - INTERVAL 1 SECOND
""",
)
def streaming_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING session windows (`F.session_window`, 30-min inactivity
    gap) per user under a watermark — the managed-state equivalent of the
    batch `sessionize_events` query. A session's window end is its last
    event + gap; append mode emits exactly the sessions whose end clears
    the final watermark (max ts − 1 s), which the oracle restates over the
    batch lag-based sessionization. Merging sessions across micro-batches
    exercises the state store's session-merge path, not the plain
    keyed-window path."""
    src = stream_table(spark, sf_dir, "events")
    agg = (
        src.withWatermark("ts", "1 second")
        .groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.min("ts").alias("session_start"),
        )
        .select("user_id", "session_start", "n_events", "total_value")
    )
    return run_to_memory(agg, output_mode="append")


_STATIC_ENRICH_ORACLE = """
WITH joined AS (
  SELECT e.ts, c.c_mktsegment
  FROM events e JOIN customer c ON c.c_custkey = e.user_id
),
bucketed AS (
  SELECT c_mktsegment,
         to_timestamp(CAST(floor(epoch(ts)/60)*60 AS BIGINT))::TIMESTAMP
           AS window_start,
         ts
  FROM joined
),
counts AS (
  SELECT window_start,
         window_start + INTERVAL 60 SECOND AS window_end,
         c_mktsegment, count(*) AS cnt
  FROM bucketed GROUP BY 1, 2, 3
),
maxts AS (SELECT max(ts) AS mx FROM events)
SELECT c.window_start, c.window_end, c.c_mktsegment, c.cnt
FROM counts c, maxts
WHERE c.window_end <= maxts.mx - INTERVAL 1 SECOND
"""


@register("streaming_static_enrich_counts", oracle=_STATIC_ENRICH_ORACLE)
def streaming_static_enrich_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joins a static dimension
    (customer, broadcast — it never enters the state store), then tumbling
    windowed counts per market segment in append mode. The watermark is
    assigned BEFORE the join so the event-time clock follows the full
    stream, not the join survivors — the oracle's window-close rule uses
    max(ts) over all events accordingly. This is the canonical streaming
    enrichment topology: dimension updates swap the broadcast per
    micro-batch; only the windowed aggregate is stateful."""
    from twitter_flink_spark.sources.tables import load_table

    src = stream_table(spark, sf_dir, "events").withWatermark("ts", "1 second")
    dim = F.broadcast(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    agg = (
        src.join(dim, src.user_id == dim.c_custkey)
        .groupBy(F.window("ts", "60 seconds"), "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "c_mktsegment",
            "cnt",
        )
    )
    return run_to_memory(agg, output_mode="append")


@register(
    "streaming_dedup_watermark_bounded",
    oracle="""
SELECT DISTINCT user_id, event_type FROM events
""",
)
def streaming_dedup_watermark_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dropDuplicatesWithinWatermark`: same first-seen emission as
    `streaming_dedup_first_seen`, but the state store EVICTS keys once the
    watermark passes them — the only dedup form whose state is bounded on
    an unbounded stream (plain dropDuplicates retains every key forever).
    The fixture replays as a single micro-batch, so every duplicate pair
    falls inside the watermark delta and the result is exactly DISTINCT —
    deterministic for the oracle while still exercising the
    eviction-capable operator and its required watermark wiring."""
    src = stream_table(spark, sf_dir, "events").withWatermark("ts", "1 second")
    deduped = src.select("user_id", "event_type", "ts").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    ).drop("ts")
    return run_to_memory(deduped, output_mode="append")


def _stage_split_events(
    spark: SparkSession, sf_dir: str
) -> tuple[str, StructType]:
    """(dest, schema) of the 4-file events copy multi-batch replays read
    (hash split: every batch carries the full time range), staged
    write-once. The schema comes from the staging ledger, so a replay
    source is declared without a schema-inference job."""
    from twitter_flink_spark.sources.staging import (
        schema_entry,
        stage_once,
        staged_schema,
    )
    from twitter_flink_spark.sources.tables import load_table

    def _build(p: str) -> dict:
        ev = load_table(spark, sf_dir, "events")
        ev.repartition(4).write.mode("overwrite").parquet(p)
        return schema_entry(ev)

    # layouts staged before the ledger carried the schema live under the
    # old tag (``evsplit``) and are never read here
    dest, ledger = stage_once("evsplits", sf_dir, _build)
    return dest, staged_schema(ledger)


def _ensure_split_events(spark: SparkSession, sf_dir: str) -> str:
    """The staged replay dir of `_stage_split_events`."""
    return _stage_split_events(spark, sf_dir)[0]


def _stage_time_split_events3(
    spark: SparkSession, sf_dir: str
) -> tuple[str, StructType]:
    """(dest, schema) of the 3-file events copy split by TIME RANGE, staged
    write-once — each replayed micro-batch is one contiguous time third,
    the arrival order of a real time-ordered ingest (and the layout
    whose per-batch files have tight ts envelopes, so a per-commit
    skipping index actually prunes). Three commits, not four: the ledger
    invariants the per-commit maintenance fixtures pin (build, >1
    incremental refresh, final no-op) need exactly three."""
    from twitter_flink_spark.sources.staging import (
        schema_entry,
        stage_once,
        staged_schema,
    )
    from twitter_flink_spark.sources.tables import load_table

    def _build(p: str) -> dict:
        ev = load_table(spark, sf_dir, "events")
        (
            ev.repartitionByRange(3, "ts")
            .sortWithinPartitions("ts")
            .write.mode("overwrite")
            .parquet(p)
        )
        return schema_entry(ev)

    dest, ledger = stage_once("evtsplit3s", sf_dir, _build)
    return dest, staged_schema(ledger)


@register(
    "streaming_incremental_mv",
    oracle="""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS cnt,
       round(sum(value), 2) AS val
FROM events
GROUP BY user_id
""",
)
def streaming_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained materialized view: the event stream replays
    as FOUR micro-batches (maxFilesPerTrigger=1 over a 4-file copy); each
    batch's per-user partial aggregates merge into a persistent snapshot
    inside foreachBatch (`streaming/pipeline.py::IncrementalMV`). The final
    snapshot must equal the one-shot batch aggregate — the incremental
    maintenance invariant. No stream state at all: partials are map-side
    reduced per batch, the merge is one keyed outer join against the
    snapshot (a table-format MERGE INTO at scale)."""
    from twitter_flink_spark.streaming.pipeline import IncrementalMV

    staged, schema = _stage_split_events(spark, sf_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    mv = IncrementalMV(spark, key_col="user_id")
    q = (
        stream.writeStream.foreachBatch(mv.merge_batch)
        .option("checkpointLocation", scratch_dir("mv-ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, 300)
    return mv.snapshot().select(
        "user_id", "cnt", F.round("val", 2).alias("val")
    )


@register(
    "streaming_statestore_introspect",
    oracle="""
SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
FROM events
GROUP BY event_type
""",
)
def streaming_statestore_introspect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Operational introspection of streaming state: run a grouped count to
    completion, then read the checkpoint's STATE STORE as a DataFrame
    (`spark.read.format("statestore")`) — the ops surface for debugging
    stateful queries (what keys are held? how big is state?) without
    touching the running query. The state contents of a completed grouped
    count must equal the batch aggregate — which is exactly what the
    oracle checks. The reference's equivalent state (`String[] topN`,
    `TopNHashtags.java:303`) is invisible and lost on restart; here it is
    a queryable, checkpointed table."""
    ckpt = scratch_dir("ssread-ck")
    src = stream_table(spark, sf_dir, "events")
    agg = src.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    q = (
        agg.writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, 300)
    state = spark.read.format("statestore").load(ckpt)
    # the state VALUE schema uses the engine's physical aggregate-buffer
    # field name (e.g. `count`), not the query alias, and that name is an
    # implementation detail — resolve it from the returned schema (the
    # buffer of a single count aggregate has exactly one field)
    value_fields = state.schema["value"].dataType.names
    assert len(value_fields) == 1, value_fields
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col(f"value.{value_fields[0]}").cast("long").alias("cnt"),
    )


@register(
    "streaming_mv_serve_join",
    oracle="""
WITH mv AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS user_events,
         round(sum(value), 2) AS user_value
  FROM events GROUP BY user_id
)
SELECT e.event_id, e.user_id, m.user_events, m.user_value
FROM events e JOIN mv m USING (user_id)
WHERE e.event_type = 'purchase'
""",
)
def streaming_mv_serve_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming enrichment against the foreachBatch-maintained MV
    (SURVEY §12 item 2): phase 1 replays the event stream as four
    micro-batches merging per-user aggregates into the bucketed
    `IncrementalMV` snapshot; phase 2 streams the purchase events and
    joins each micro-batch against the COMMITTED snapshot (broadcast — a
    keyed dimension bounded by distinct users), appending enriched rows.

    This is the maintain-then-serve topology of a feature store: writers
    merge partials into a versioned table, readers join against the last
    committed manifest and never see in-flight versions (phase 2 starts
    after phase 1's final commit, the same isolation a table-format
    snapshot read gives). At scale the snapshot join stays a broadcast
    (or a bucket-co-located join for a huge dimension — the MV is
    already hash-bucketed by the join key, so co-location is free).
    foreachBatch is at-least-once, so the serve side writes each batch to
    a batch_id-keyed directory with OVERWRITE — a batch replayed after a
    crash-before-commit rewrites its own directory instead of appending
    duplicates (the same batch-id keying IncrementalMV uses on the
    maintain side). Each invocation works in its own scratch dir, so a
    concurrent run never deletes the files this one's frame reads."""
    import os

    from twitter_flink_spark.streaming.pipeline import IncrementalMV

    staged, schema = _stage_split_events(spark, sf_dir)
    base = scratch_dir("mvserve")
    mv = IncrementalMV(spark, key_col="user_id", root=os.path.join(base, "mv"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    q = (
        stream.writeStream.foreachBatch(mv.merge_batch)
        .option("checkpointLocation", os.path.join(base, "ckpt-maintain"))
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, 300)
    snap = mv.snapshot().select(
        "user_id",
        F.col("cnt").alias("user_events"),
        F.round("val", 2).alias("user_value"),
    )
    out_dir = os.path.join(base, "out")

    def enrich(batch_df, batch_id: int) -> None:
        from twitter_flink_spark.streaming.pipeline import record_batch_df_plan

        # batch_id-keyed dir + overwrite = idempotent under replay
        # (foreachBatch is at-least-once; append would duplicate rows)
        enriched = (
            batch_df.where(F.col("event_type") == "purchase")
            .join(F.broadcast(snap), "user_id")
            .select("event_id", "user_id", "user_events", "user_value")
        )
        record_batch_df_plan(f"mv-serve-b{batch_id}", enriched)
        enriched.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"b{batch_id:05d}")
        )

    q2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
        .writeStream.foreachBatch(enrich)
        .option("checkpointLocation", os.path.join(base, "ckpt-serve"))
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q2, 300)
    return (
        spark.read.option("recursiveFileLookup", "true").parquet(out_dir)
    )


@register(
    "streaming_left_outer_interval_join",
    oracle="""
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts AS p_ts FROM events
  WHERE event_type = 'purchase' AND value > 150
),
c AS (
  SELECT event_id AS click_id, user_id, ts AS c_ts FROM events
  WHERE event_type = 'click'
),
maxts AS (
  SELECT least((SELECT max(p_ts) FROM p), (SELECT max(c_ts) FROM c))
           - INTERVAL 1 SECOND AS wm
)
SELECT p.purchase_id, c.click_id, p.user_id,
       CAST(floor(epoch(p.p_ts)) - floor(epoch(c.c_ts)) AS BIGINT)
         AS gap_seconds
FROM p JOIN c
  ON c.user_id = p.user_id
 AND c.c_ts >= p.p_ts - INTERVAL 86400 SECOND AND c.c_ts <= p.p_ts
UNION ALL
SELECT p.purchase_id, CAST(NULL AS BIGINT), p.user_id, CAST(NULL AS BIGINT)
FROM p CROSS JOIN maxts
WHERE NOT EXISTS (
  SELECT 1 FROM c
  WHERE c.user_id = p.user_id
    AND c.c_ts >= p.p_ts - INTERVAL 86400 SECOND AND c.c_ts <= p.p_ts
) AND p.p_ts <= maxts.wm
""",
)
def streaming_left_outer_interval_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every high-value purchase
    joined to the user's preceding-24h clicks, and purchases with NO such
    click emitted null-extended — but only once the watermark proves no
    matching click can still arrive (evicting the row from join state).
    That timing is the entire difficulty of outer stream joins: emit
    early and a late click makes the null row wrong; never emit and
    state grows forever. Drained to completion, the emitted set is the
    batch left join restricted on the null side to watermark-closed
    purchases — and the operative watermark is the GLOBAL one, the MIN
    over both input streams' (max event time - delay): a purchase that
    is itself the purchase stream's frontier is held forever even if
    clicks run far ahead (measured — the sf0.01 frontier row pins it).
    Same measured-contract discipline as this module's append-mode
    aggregates, applied to join-state eviction."""
    p = (
        stream_table(spark, sf_dir, "events")
        .where((F.col("event_type") == "purchase") & (F.col("value") > 150))
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 second")
    )
    c = (
        stream_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 second")
    )
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 86400 SECONDS"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "leftOuter",
    ).select(
        "purchase_id",
        "click_id",
        "user_id",
        (F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts"))
        .cast("long")
        .alias("gap_seconds"),
    )
    return run_to_memory(joined, output_mode="append")


@register(
    "streaming_right_outer_interval_join",
    oracle="""
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts AS p_ts FROM events
  WHERE event_type = 'purchase' AND value > 150
),
c AS (
  SELECT event_id AS click_id, user_id, ts AS c_ts FROM events
  WHERE event_type = 'click'
),
maxts AS (
  SELECT least((SELECT max(p_ts) FROM p), (SELECT max(c_ts) FROM c))
           - INTERVAL 1 SECOND AS wm
)
SELECT p.purchase_id, c.click_id, c.user_id,
       CAST(floor(epoch(p.p_ts)) - floor(epoch(c.c_ts)) AS BIGINT)
         AS gap_seconds
FROM p JOIN c
  ON c.user_id = p.user_id
 AND c.c_ts >= p.p_ts - INTERVAL 86400 SECOND AND c.c_ts <= p.p_ts
UNION ALL
SELECT CAST(NULL AS BIGINT), c.click_id, c.user_id, CAST(NULL AS BIGINT)
FROM c CROSS JOIN maxts
WHERE NOT EXISTS (
  SELECT 1 FROM p
  WHERE p.user_id = c.user_id
    AND c.c_ts >= p.p_ts - INTERVAL 86400 SECOND AND c.c_ts <= p.p_ts
) AND c.c_ts <= maxts.wm - INTERVAL 86400 SECOND
""",
)
def streaming_right_outer_interval_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RIGHT outer variant of the interval stream join: clicks that led
    to no qualifying purchase emit null-extended — and unlike the left
    side, a click stays matchABLE for the full join range after its own
    timestamp (a purchase up to 24h later closes it), so its null row
    waits until the global watermark passes ``c_ts + 86400s``. Measured
    contract (exact at sf0.001: 180/180 emitted, 25 frontier clicks
    held): emit iff ``c_ts <= min(max p_ts, max c_ts) - delay - range``.
    The state-size asymmetry this encodes — outer-side rows are retained
    for watermark + range, not just watermark — is precisely why
    production outer stream joins size state by the join range."""
    p = (
        stream_table(spark, sf_dir, "events")
        .where((F.col("event_type") == "purchase") & (F.col("value") > 150))
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 second")
    )
    c = (
        stream_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 second")
    )
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 86400 SECONDS"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "rightOuter",
    ).select(
        "purchase_id",
        "click_id",
        F.coalesce("user_id", "c_user").alias("user_id"),
        (F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts"))
        .cast("long")
        .alias("gap_seconds"),
    )
    return run_to_memory(joined, output_mode="append")


@register(
    "streaming_full_outer_interval_join",
    oracle="""
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts AS p_ts FROM events
  WHERE event_type = 'purchase' AND value > 150
),
c AS (
  SELECT event_id AS click_id, user_id, ts AS c_ts FROM events
  WHERE event_type = 'click'
),
maxts AS (
  SELECT least((SELECT max(p_ts) FROM p), (SELECT max(c_ts) FROM c))
           - INTERVAL 1 SECOND AS wm
)
SELECT p.purchase_id, c.click_id, p.user_id,
       CAST(floor(epoch(p.p_ts)) - floor(epoch(c.c_ts)) AS BIGINT)
         AS gap_seconds
FROM p JOIN c
  ON c.user_id = p.user_id
 AND c.c_ts >= p.p_ts - INTERVAL 86400 SECOND AND c.c_ts <= p.p_ts
UNION ALL
SELECT p.purchase_id, CAST(NULL AS BIGINT), p.user_id, CAST(NULL AS BIGINT)
FROM p CROSS JOIN maxts
WHERE NOT EXISTS (
  SELECT 1 FROM c
  WHERE c.user_id = p.user_id
    AND c.c_ts >= p.p_ts - INTERVAL 86400 SECOND AND c.c_ts <= p.p_ts
) AND p.p_ts <= maxts.wm
UNION ALL
SELECT CAST(NULL AS BIGINT), c.click_id, c.user_id, CAST(NULL AS BIGINT)
FROM c CROSS JOIN maxts
WHERE NOT EXISTS (
  SELECT 1 FROM p
  WHERE p.user_id = c.user_id
    AND c.c_ts >= p.p_ts - INTERVAL 86400 SECOND AND c.c_ts <= p.p_ts
) AND c.c_ts <= maxts.wm - INTERVAL 86400 SECOND
""",
)
def streaming_full_outer_interval_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FULL outer interval stream join — the union of the two measured
    contracts: unmatched purchases emit once the global watermark passes
    their own timestamp (`streaming_left_outer_interval_join`),
    unmatched clicks once it passes their timestamp PLUS the join range
    (`streaming_right_outer_interval_join`) — the two sides evict at
    DIFFERENT horizons because the range condition is asymmetric. The
    matched rows are the inner join either way. The per-side user_id is
    coalesced so the null rows stay attributable."""
    p = (
        stream_table(spark, sf_dir, "events")
        .where((F.col("event_type") == "purchase") & (F.col("value") > 150))
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 second")
    )
    c = (
        stream_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 second")
    )
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 86400 SECONDS"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "fullOuter",
    ).select(
        "purchase_id",
        "click_id",
        F.coalesce("user_id", "c_user").alias("user_id"),
        (F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts"))
        .cast("long")
        .alias("gap_seconds"),
    )
    return run_to_memory(joined, output_mode="append")


#: (app id, sf_dir) whose shared join checkpoint has been drained —
#: both state-introspection queries read the SAME completed join, so the
#: drain runs once per session, not once per side.
_JOIN_CKPT_DRAINED: dict[tuple[str, str], str] = {}


def _drained_join_ckpt(spark: SparkSession, sf_dir: str) -> str:
    """Run the left-outer interval join to completion once per session
    and return its checkpoint path; both join-state introspection
    queries read their side from this one drained checkpoint."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _JOIN_CKPT_DRAINED:
        return _JOIN_CKPT_DRAINED[key]
    ckpt = scratch_dir("joinstate")
    p = (
        stream_table(spark, sf_dir, "events")
        .where((F.col("event_type") == "purchase") & (F.col("value") > 150))
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 second")
    )
    c = (
        stream_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 second")
    )
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 86400 SECONDS"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "leftOuter",
    )
    with state_partitions(spark):
        q = (
            joined.writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
    await_or_raise(q, 300)
    _JOIN_CKPT_DRAINED[key] = ckpt
    return ckpt



@register(
    "streaming_join_state_introspect",
    oracle="""
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts AS p_ts FROM events
  WHERE event_type = 'purchase' AND value > 150
),
c AS (
  SELECT ts AS c_ts FROM events WHERE event_type = 'click'
),
maxts AS (
  SELECT least((SELECT max(p_ts) FROM p), (SELECT max(c_ts) FROM c))
           - INTERVAL 1 SECOND AS wm
)
SELECT p.purchase_id, p.user_id, p.p_ts
FROM p CROSS JOIN maxts
WHERE p.p_ts > maxts.wm
""",
)
def streaming_join_state_introspect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Operational introspection of STREAM-JOIN state: run the left-outer
    interval join to completion (`_drained_join_ckpt` — shared with the
    right-side read, one drain per session), then read the checkpoint's
    left-side join state as a DataFrame (`statestore` source,
    ``joinSide=left``). What must remain is precisely the eviction
    contract's complement — purchases the global watermark has NOT
    passed (p_ts > min-of-both-streams watermark), i.e. the frontier
    rows whose outer emission the left-outer query is still withholding.
    The oracle derives that set in SQL, turning the watermark/eviction
    claims of the outer-join queries into a directly inspected,
    checkpoint-backed fact — the ops answer to "why hasn't this row
    emitted, and how big is join state" without touching the running
    query."""
    ckpt = _drained_join_ckpt(spark, sf_dir)
    st = (
        spark.read.format("statestore")
        .option("path", ckpt)
        .option("joinSide", "left")
        .load()
    )
    return st.select(
        F.col("value.purchase_id").alias("purchase_id"),
        F.col("value.user_id").alias("user_id"),
        F.col("value.p_ts").alias("p_ts"),
    )


@register(
    "streaming_join_state_introspect_right",
    oracle="""
WITH p AS (
  SELECT ts AS p_ts FROM events
  WHERE event_type = 'purchase' AND value > 150
),
c AS (
  SELECT event_id AS click_id, user_id, ts AS c_ts FROM events
  WHERE event_type = 'click'
),
maxts AS (
  SELECT least((SELECT max(p_ts) FROM p), (SELECT max(c_ts) FROM c))
           - INTERVAL 1 SECOND AS wm
)
SELECT c.click_id, c.user_id, c.c_ts
FROM c CROSS JOIN maxts
WHERE c.c_ts > maxts.wm - INTERVAL 86400 SECOND
""",
)
def streaming_join_state_introspect_right(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RIGHT-side mirror of `streaming_join_state_introspect`: after the
    interval join drains, the right-side state store must hold every
    click still matchABLE by a future purchase — c_ts > watermark MINUS
    the join range, the range-shifted horizon that also governs the
    right-outer null emission. Reading it back quantifies the state-size
    asymmetry directly: the right side retains a full join-range window
    of rows while the left retains only its frontier — the number an
    operator sizing state stores for an interval join actually needs.
    Reads the SAME drained checkpoint as the left-side query — the join
    runs once per session (`_drained_join_ckpt`), the reads are
    metadata-cheap."""
    ckpt = _drained_join_ckpt(spark, sf_dir)
    st = (
        spark.read.format("statestore")
        .option("path", ckpt)
        .option("joinSide", "right")
        .load()
    )
    return st.select(
        F.col("value.click_id").alias("click_id"),
        F.col("value.c_user").alias("user_id"),
        F.col("value.c_ts").alias("c_ts"),
    )


from twitter_flink_spark.queries.temporal import (  # noqa: E402
    COHORT_RETENTION_ORACLE as _CR_ORACLE,
)


#: (applicationId, sf_dir) -> drained PresenceMV (user, day) snapshot.
_PRESENCE_MV_DRAINED: dict = {}


def _drained_presence_mv(spark: SparkSession, sf_dir: str):
    """Replay the event stream into a distinct-(user, day) `PresenceMV`
    ONCE per session and return it; every consumer of the activity
    snapshot (cohort retention, DAU) serves from this one maintained
    MV — which is the actual production shape: one incremental
    pipeline, many readers — the same session-share discipline as
    `_drained_join_ckpt`."""
    from twitter_flink_spark.streaming.pipeline import PresenceMV

    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _PRESENCE_MV_DRAINED:
        return _PRESENCE_MV_DRAINED[key]
    staged, schema = _stage_split_events(spark, sf_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    mv = PresenceMV(
        spark,
        key_col="user_id",
        field_col="d",
        prepare=lambda b: b.select(
            "user_id", F.to_date("ts").alias("d")
        ),
    )
    q = (
        stream.writeStream.foreachBatch(mv.merge_batch)
        .option(
            "checkpointLocation", scratch_dir("crmv-ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, 300)
    _PRESENCE_MV_DRAINED[key] = mv
    return mv


# oracle shared with the batch twin `cohort_retention_matrix` — the
# streaming snapshot must reach the identical matrix
@register("streaming_cohort_retention_mv", oracle=_CR_ORACLE)
def streaming_cohort_retention_mv(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming cohort retention (SURVEY §13): the event stream replays
    as four micro-batches; each batch reduces to its DISTINCT
    (user_id, day) activity pairs (map-side dedup of the heavy
    duplication) and merges into a bucketed `PresenceMV` snapshot —
    union+distinct per touched bucket, no stream state at all. The
    retention matrix then derives from the maintained snapshot with the
    SAME plan as the batch query (`retention_matrix_from_activity`), and
    the oracle is the batch oracle verbatim: the incremental-maintenance
    invariant, for a count-distinct-downstream aggregate that is NOT
    partial-mergeable at matrix grain (distinct counts don't add across
    batches; cohort assignment moves when an earlier day for a user
    arrives late) — which is exactly why the MV maintains the reduced
    (user, day) grain, bounded by users x days, not the matrix itself.
    The drained MV is session-shared with `streaming_daily_active_mv`
    (`_drained_presence_mv` — one pipeline, many readers)."""
    from twitter_flink_spark.queries.temporal import (
        retention_matrix_from_activity,
    )

    mv = _drained_presence_mv(spark, sf_dir)
    return retention_matrix_from_activity(mv.snapshot())


@register(
    "streaming_topk_mv",
    oracle="""
WITH pairs AS (
  SELECT event_type, user_id, count(*) AS cnt
  FROM events GROUP BY event_type, user_id
),
ranked AS (
  SELECT event_type, user_id, CAST(cnt AS BIGINT) AS cnt,
         CAST(row_number() OVER (
           PARTITION BY event_type ORDER BY cnt DESC, user_id) AS INTEGER)
           AS rank
  FROM pairs
)
SELECT event_type, user_id, cnt, rank FROM ranked WHERE rank <= 3
""",
)
def streaming_topk_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained top-k-per-group serving table (SURVEY
    §13): the stream replays as four micro-batches whose per-(type,
    user) partial counts coalesce-sum into a `GroupedCountMV` snapshot;
    the served top-3 users per type derive from the snapshot AT READ
    TIME. The split matters for correctness: a snapshot pruned to k
    rows per group could never admit a key that out-grows a kept one in
    a later batch, so the MV maintains the full (group, member) count
    grain — bounded by groups x members, not event count — and serving
    pays one WindowGroupLimit over that reduced table. Rank ties break
    on user_id, so the served table is deterministic on both engines;
    oracle = the batch grouped count + rank, the incremental-maintenance
    invariant."""
    from twitter_flink_spark.streaming.pipeline import GroupedCountMV

    staged, schema = _stage_split_events(spark, sf_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    mv = GroupedCountMV(
        spark,
        key_cols=["event_type", "user_id"],
        key_schema="event_type string, user_id long",
    )
    q = (
        stream.writeStream.foreachBatch(mv.merge_batch)
        .option(
            "checkpointLocation", scratch_dir("topkmv-ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, 300)
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(
        F.col("cnt").desc(), F.col("user_id").asc()
    )
    return (
        mv.snapshot()
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 3)
        .select("event_type", "user_id", F.col("cnt").cast("long").alias("cnt"), "rank")
    )


@register(
    "streaming_daily_active_mv",
    oracle="""
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
FROM events
GROUP BY CAST(ts AS DATE)
""",
)
def streaming_daily_active_mv(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Daily-active-users served off the SAME incrementally-maintained
    distinct-presence snapshot as `streaming_cohort_retention_mv`
    (SURVEY §13): the event stream replays as four micro-batches, each
    merging its distinct (user, day) pairs into a `PresenceMV`; DAU is
    then one count per day over the snapshot — count(*), because the
    snapshot IS the distinct set, which is the entire point of
    maintaining the reduced grain (a per-batch count-distinct would
    not merge; the presence set does). Days-sized output, one exchange
    over the users x days snapshot. The MV drains once per session
    (`_drained_presence_mv`, shared with the cohort query) — one
    incremental pipeline, many readers."""
    mv = _drained_presence_mv(spark, sf_dir)
    return (
        mv.snapshot()
        .groupBy(F.date_format("d", "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    )


#: (app id, sf_dir) -> (mv root, changelog dir) of the session's ONE
#: pristine CDF drain (see `_drained_cdf_mv`)
_CDF_MV_CACHE: dict[tuple[str, str], tuple[str, str]] = {}

#: populate lock: without it, the CONCURRENT bench's CDF queries can
#: both miss the cache and each pay the full ~4-5 s drain into separate
#: scratch dirs (correct — each drain is self-contained — but the dedup
#: this helper exists for is lost exactly in the concurrent runs)
_CDF_MV_LOCK = threading.Lock()


def _drained_cdf_mv(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str]:
    """The four-micro-batch `IncrementalMV` + changelog drain the whole
    CDF query family consumes, run ONCE per session — one incremental
    pipeline, many readers, exactly the `_drained_presence_mv` /
    `_drained_sink_indexes` precedent. The four CDF queries previously
    re-ran this identical drain four times (~4-5 s each at sf0.1) to
    then price their own DIFFERENT maintenance step; now the base query
    (`streaming_mv_cdf`, first in bench order) absorbs the one drain and
    the maintenance variants copy-on-write the pristine root
    (`_cdf_mv_copy`) so compaction/offset mutations stay isolated.
    Returns (mv root, changelog dir); both stay PRISTINE — never mutate
    them in place."""
    import os

    from twitter_flink_spark.streaming.pipeline import IncrementalMV

    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _CDF_MV_CACHE:
        return _CDF_MV_CACHE[key]
    with _CDF_MV_LOCK:  # double-checked: concurrent callers share ONE drain
        if key in _CDF_MV_CACHE:
            return _CDF_MV_CACHE[key]
        staged, schema = _stage_split_events(spark, sf_dir)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(staged)
        )
        work = scratch_dir("cdfshared")
        root = os.path.join(work, "mv")
        cdf_dir = os.path.join(work, "log")
        mv = IncrementalMV(
            spark, key_col="user_id", root=root, changelog_dir=cdf_dir
        )
        q = (
            stream.writeStream.foreachBatch(mv.merge_batch)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        await_or_raise(q, 300)
        _CDF_MV_CACHE[key] = (root, cdf_dir)
    return _CDF_MV_CACHE[key]


def _cdf_mv_copy(
    spark: SparkSession, sf_dir: str, tag: str
) -> tuple[str, str]:
    """A private mutable copy of the pristine drained CDF root for one
    maintenance variant: hardlink copytree (parquet files are never
    modified in place — compaction and offset commits both publish via
    whole-file/dir replace, so shared inodes are safe), per-run scratch.
    Returns (mv root copy, changelog copy)."""
    import os
    import shutil

    root, cdf_dir = _drained_cdf_mv(spark, sf_dir)
    work = scratch_dir(tag)
    mv_copy = os.path.join(work, "mv")
    cdf_copy = os.path.join(work, "log")
    shutil.copytree(root, mv_copy, copy_function=os.link)
    shutil.copytree(cdf_dir, cdf_copy, copy_function=os.link)
    return mv_copy, cdf_copy


@register(
    "streaming_mv_cdf",
    oracle="""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS cnt,
       round(sum(value), 2) AS val
FROM events
GROUP BY user_id
""",
)
def streaming_mv_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming change-data-feed (SURVEY §14 candidate, delivered): the
    event stream replays as four micro-batches into an `IncrementalMV`
    with `changelog_dir` set, so every merge APPENDS its typed
    changelog (insert/update post-images + pre-images, null-safe-diffed
    so untouched keys never enter the feed) — the logged, continuous
    form of the derived version diff, which is what downstream
    consumers tail to refresh dependent tables without ever reading the
    snapshot. Verified by RECONSTRUCTION: the final state rebuilt from
    the feed alone (distinct absorbs at-least-once re-appends, then
    each key's post-image at its max batch_id) must equal the one-shot
    batch aggregate — completeness, ordering, and pre/post integrity in
    one invariant; a missed change, phantom row, or mis-ordered image
    breaks the hash. The drain is the session-shared `_drained_cdf_mv`
    (this query, first of the family in bench order, is where its
    one-time cost lands); the feed is read pristine — nothing here
    mutates it."""
    _, cdf_dir = _drained_cdf_mv(spark, sf_dir)
    feed = spark.read.parquet(cdf_dir).distinct()
    latest = feed.groupBy("user_id").agg(
        F.max_by(F.struct("cnt", "val"), "batch_id").alias("post")
    )
    return latest.select(
        "user_id",
        F.col("post.cnt").cast("long").alias("cnt"),
        F.round("post.val", 2).alias("val"),
    )


@register(
    "streaming_mv_cdf_compacted",
    oracle="""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS cnt,
       round(sum(value), 2) AS val,
       TRUE AS log_compacted
FROM events
GROUP BY user_id
""",
)
def streaming_mv_cdf_compacted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Changelog compaction under a consumer checkpoint
    (`IncrementalMV.compact_changelog`): after the four-micro-batch
    drain, every CDF entry at or below batch 2 collapses to ONE net
    change per key (first-in-range change type + pre-image, last
    post-image; later entries verbatim) via the same crash-safe
    two-rename protocol as the counts WAL — so a long-lived feed stays
    O(keys + post-checkpoint changes) at rest instead of growing with
    every batch ever merged. The oracle-checked invariant is the same
    reconstruction as `streaming_mv_cdf` — state rebuilt from the
    COMPACTED feed must still equal the one-shot batch aggregate — plus
    a `log_compacted` flag pinning that compaction strictly shrank the
    log (a no-op rewrite flips it). The drain is the session-shared
    `_drained_cdf_mv`; compaction runs on a hardlinked copy-on-write
    clone so this query prices the MAINTENANCE step, not a fourth
    re-run of the identical drain."""
    from twitter_flink_spark.streaming.pipeline import IncrementalMV

    mv_root, cdf_dir = _cdf_mv_copy(spark, sf_dir, "cdfc")
    mv = IncrementalMV(
        spark, key_col="user_id", root=mv_root, changelog_dir=cdf_dir
    )
    n_before = spark.read.parquet(cdf_dir).count()
    mv.compact_changelog(upto_batch=2)
    n_after = spark.read.parquet(cdf_dir).count()
    feed = spark.read.parquet(cdf_dir).distinct()
    latest = feed.groupBy("user_id").agg(
        F.max_by(F.struct("cnt", "val"), "batch_id").alias("post")
    )
    return latest.select(
        "user_id",
        F.col("post.cnt").cast("long").alias("cnt"),
        F.round("post.val", 2).alias("val"),
        F.lit(n_after < n_before).alias("log_compacted"),
    )


@register(
    "streaming_mv_cdf_checkpointed",
    oracle="""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS cnt,
       round(sum(value), 2) AS val,
       CAST(1 AS BIGINT) AS compacted_upto,
       TRUE AS log_compacted
FROM events
GROUP BY user_id
""",
)
def streaming_mv_cdf_checkpointed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Consumer-checkpointed changelog compaction (SURVEY §14 round-9
    candidate, delivered): compaction's bound no longer comes from a
    caller-supplied constant but from a DURABLE consumer-offset
    registry on the MV root — `register_consumer` / `ack_consumer`
    (monotonic, atomic-replace committed) feed
    `safe_compaction_point()` = the slowest reader's applied offset, and
    `compact_changelog(upto_batch=None)` derives its range from it, so
    maintenance can never outrun a reader. Here two consumers tail the
    four-batch feed: the fast one acks batch 3, the slow one batch 1 —
    and the compaction is driven from a RE-OPENED handle on the same MV
    root, pinning that offsets are disk-committed state, not in-memory
    mirrors. `compacted_upto` emits the derived point (must be the
    slow consumer's 1, not the fast one's 3) and `log_compacted` pins
    strict shrinkage; the reconstruction hash then proves the 0..1 net
    per key preserved consumer-visible history exactly. The drain is
    the session-shared `_drained_cdf_mv`; offset commits + compaction
    run on a hardlinked copy-on-write clone so this query prices the
    registry/compaction machinery, not a re-run of the drain."""
    from twitter_flink_spark.streaming.pipeline import IncrementalMV

    mv_root, cdf_dir = _cdf_mv_copy(spark, sf_dir, "cdfk")
    mv = IncrementalMV(
        spark, key_col="user_id", root=mv_root, changelog_dir=cdf_dir
    )
    mv.register_consumer("rollup")
    mv.register_consumer("audit")
    mv.ack_consumer("rollup", 3)  # fast reader: fully caught up
    mv.ack_consumer("audit", 1)  # slow reader pins the safe point
    # restart boundary: a fresh handle on the same root must see the
    # committed offsets and derive the same safe point
    mv2 = IncrementalMV(
        spark, key_col="user_id", root=mv._root, changelog_dir=cdf_dir
    )
    safe = mv2.safe_compaction_point()
    n_before = spark.read.parquet(cdf_dir).count()
    mv2.compact_changelog()  # upto_batch derived from the registry
    n_after = spark.read.parquet(cdf_dir).count()
    feed = spark.read.parquet(cdf_dir).distinct()
    latest = feed.groupBy("user_id").agg(
        F.max_by(F.struct("cnt", "val"), "batch_id").alias("post")
    )
    return latest.select(
        "user_id",
        F.col("post.cnt").cast("long").alias("cnt"),
        F.round("post.val", 2).alias("val"),
        F.lit(safe).cast("long").alias("compacted_upto"),
        F.lit(n_after < n_before).alias("log_compacted"),
    )


@register(
    "streaming_mv_cdf_consumer_lag",
    oracle="""
SELECT 'bootstrap' AS consumer,
       CAST(-1 AS BIGINT) AS committed_offset,
       CAST(3 AS BIGINT) AS head_batch,
       CAST(4 AS BIGINT) AS lag_batches,
       CAST(0 AS BIGINT) AS users_applied
UNION ALL
SELECT 'rollup',
       CAST(3 AS BIGINT),
       CAST(3 AS BIGINT),
       CAST(0 AS BIGINT),
       CAST(count(DISTINCT user_id) AS BIGINT)
FROM events
""",
)
def streaming_mv_cdf_consumer_lag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-consumer changelog lag monitor (SURVEY §14 round-9 candidate,
    delivered): the operational query a feed operator watches — for every
    reader in the durable offsets registry, how far behind the changelog
    head is it (`lag_batches` = head batch minus committed offset) and
    how much of the keyspace has it actually applied (`users_applied` =
    distinct keys at or below its offset). Two readers bracket the
    contract: `rollup` acks the DATA-DERIVED head (max batch_id read
    from the feed, not a constant — lag must come out 0 and its applied
    keyset must equal the full distinct-user count), while `bootstrap`
    registers and never acks (offset -1, lag head+1, zero keys applied —
    the registered-but-idle reader that pins compaction, exactly what
    this monitor exists to surface). One column-pruned scan computes the
    head and every consumer's applied-count via conditional distinct
    aggregates — O(consumers) expressions, not O(consumers) scans — the
    shape that holds when the feed is TBs and the registry is dozens of
    readers. The drain is the session-shared `_drained_cdf_mv`; the
    offset registry lives on a hardlinked copy-on-write clone so this
    query prices the monitor, not a re-run of the drain."""
    from twitter_flink_spark.streaming.pipeline import IncrementalMV

    mv_root, cdf_dir = _cdf_mv_copy(spark, sf_dir, "cdlag")
    mv = IncrementalMV(
        spark, key_col="user_id", root=mv_root, changelog_dir=cdf_dir
    )
    log = spark.read.parquet(cdf_dir).distinct()  # absorb re-appends
    head = log.agg(F.max("batch_id")).first()[0]  # 1-row frontier collect
    mv.register_consumer("rollup")
    mv.register_consumer("bootstrap")
    mv.ack_consumer("rollup", int(head))  # caught-up reader, derived ack
    offsets = sorted(mv.consumer_offsets().items())
    agg = log.agg(
        F.max("batch_id").cast("long").alias("head_batch"),
        *[
            F.count_distinct(
                F.when(F.col("batch_id") <= F.lit(off), F.col("user_id"))
            )
            .cast("long")
            .alias(f"applied_{name}")
            for name, off in offsets
        ],
    )
    per_consumer = [
        agg.select(
            F.lit(name).alias("consumer"),
            F.lit(off).cast("long").alias("committed_offset"),
            "head_batch",
            (F.col("head_batch") - F.lit(off))
            .cast("long")
            .alias("lag_batches"),
            F.col(f"applied_{name}").alias("users_applied"),
        )
        for name, off in offsets
    ]
    out = per_consumer[0]
    for frame in per_consumer[1:]:
        out = out.unionByName(frame)
    return out


@register(
    "streaming_expectations_gate",
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
def streaming_expectations_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The ingest gate as a CONTINUOUS contract: the same expectations
    as `expectations_quarantine_routing` enforced per micro-batch under
    foreachBatch — each batch routes its rows to
    `batch=<id>/__route=good|quarantined|dropped` in one observed write
    (CollectMetrics ledger riding the write job, no second pass over
    the batch), and the cumulative ledger is the O(rules) driver-side
    sum of per-batch observations. The oracle is the BATCH contract's
    SQL verbatim: summing per-batch enforcement over the four-batch
    replay must reproduce exactly the corpus-wide counts — the
    streaming/batch equivalence that makes a gate trustworthy at the
    edge. `persisted_matches` pins the union of all batches' routed
    directories (partition discovery over batch= and __route=) against
    the accumulated ledger, and that the run really was incremental
    (>1 batch)."""
    from collections import Counter

    from twitter_flink_spark.operators.expectations import (
        ROUTE_COL,
        Rule,
        route,
    )

    rules = [
        Rule("value_under_100", "value >= 100", "quarantine"),
        Rule("no_error_type", "event_type <> 'error'", "quarantine"),
        Rule("value_at_least_1", "value >= 1", "warn"),
        Rule("user_present", "user_id IS NOT NULL", "drop"),
    ]
    staged, schema = _stage_split_events(spark, sf_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    dest = scratch_dir("sexpect") + "/routed"
    totals: Counter = Counter()
    batches = []

    def on_batch(batch_df, batch_id: int) -> None:
        led, _ = route(batch_df, rules, f"{dest}/batch={batch_id}")
        totals.update(led)
        batches.append(batch_id)

    q = (
        stream.writeStream.foreachBatch(on_batch)
        .option(
            "checkpointLocation", scratch_dir("sexpect-ck")
        )
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, 300)
    on_disk = {
        r[ROUTE_COL]: r["n"]
        for r in spark.read.parquet(dest)
        .groupBy(ROUTE_COL)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # <= 3 rows
    }
    matches = len(batches) > 1 and all(
        totals[f"route_{v}"] == on_disk.get(v, 0)
        for v in ("good", "quarantined", "dropped")
    )
    by_action = {r.name: r.action for r in rules}
    rows = [
        (k.removeprefix("rule_"), by_action[k.removeprefix("rule_")], n)
        for k, n in totals.items()
        if k.startswith("rule_")
    ] + [(k, "route", n) for k, n in totals.items() if k.startswith("route_")]
    return local_frame(
        spark,
        [(r, a, int(n), bool(matches)) for r, a, n in rows],
        "rule string, action string, n long, persisted_matches boolean",
    )


# oracle shared with the batch twin `hll_rolling_7day_actives` — the
# incrementally-maintained daily sketch table must serve the same windows
from twitter_flink_spark.queries.sketches import (  # noqa: E402
    HLL_ROLLING_7DAY_ORACLE as _HLL_ORACLE,
)


@register("streaming_hll_actives_mv", oracle=_HLL_ORACLE)
def streaming_hll_actives_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-serving MV (SURVEY §13, the last incremental-MV family
    member): the event stream replays as four micro-batches; each batch
    reduces to its per-DAY DataSketches HLL partials (`hll_sketch_agg`
    over raw user ids — no pre-dedup shuffle, the sketch absorbs
    duplicates map-side) and merges into a bucketed `SketchMV` snapshot
    via `hll_union_agg`, touched buckets only. The trailing-7-day
    actives then serve from the maintained daily-sketch table with the
    SAME rollup as the batch query (`rolling_7day_from_daily_sketches`),
    and the oracle is the batch oracle verbatim: exact count
    hash-matched, plus an integer-exact boolean pinning the union-of-
    unions estimate within 10% — so a merge regression (double-merged
    batch, dropped bucket, broken union) flips the row. Completes the
    MV family's scale story: unlike `PresenceMV`'s users x days grain,
    this snapshot is days x ~KB — data-size independent — which is how
    a 100 TB event history compacts into a servable distinct-metric
    table. At-least-once replay safety comes from the family's
    batch-id manifest (a replayed batch never re-unions), pinned for
    this subclass in tests/test_streaming.py."""
    from twitter_flink_spark.streaming.pipeline import SketchMV

    staged, schema = _stage_split_events(spark, sf_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    mv = SketchMV(
        spark,
        key_col="d",
        value_col="user_id",
        prepare=lambda b: b.select(
            "user_id", F.to_date("ts").alias("d")
        ),
    )
    q = (
        stream.writeStream.foreachBatch(mv.merge_batch)
        .option(
            "checkpointLocation", scratch_dir("hllmv-ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, 300)
    from twitter_flink_spark.queries.sketches import (
        rolling_7day_from_daily_sketches,
    )
    from twitter_flink_spark.sources.tables import load_table

    act = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    return rolling_7day_from_daily_sketches(mv.snapshot(), act)


@register(
    "streaming_dedup_then_window",
    oracle="""
WITH dedup AS (
  SELECT DISTINCT user_id, event_type, ts FROM events
),
bucketed AS (
  SELECT event_type,
         to_timestamp(CAST(floor(epoch(ts)/60)*60 AS BIGINT))::TIMESTAMP
           AS window_start,
         ts
  FROM dedup
),
counts AS (
  SELECT window_start,
         window_start + INTERVAL 60 SECOND AS window_end,
         event_type, count(*) AS cnt
  FROM bucketed GROUP BY 1, 2, 3
),
maxts AS (SELECT max(ts) AS mx FROM events)
SELECT c.window_start, c.window_end, c.event_type, c.cnt
FROM counts c, maxts
WHERE c.window_end <= maxts.mx - INTERVAL 1 SECOND
""",
)
def streaming_dedup_then_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CHAINED stateful streaming operators (the multiple-stateful-ops
    support Spark gained in 3.5): watermarked `dropDuplicates` feeding
    a tumbling 60 s windowed count in ONE streaming query, append mode
    — the dedup-then-aggregate shape every ingestion pipeline wants
    (at-least-once sources emit duplicates; counting must come after
    dedup), previously impossible without landing the deduped stream
    first. Two state stores in one query: dedup keys (watermark-
    evicted) and window aggregates; both honor the same event-time
    watermark, and the emission contract remains
    window_end <= max(ts) - watermark, which the oracle applies to the
    DISTINCT event set."""
    src = stream_table(spark, sf_dir, "events")
    deduped = src.withWatermark("ts", "1 second").dropDuplicates(
        ["user_id", "event_type", "ts"]
    )
    agg = deduped.groupBy(
        F.window("ts", "60 seconds"), "event_type"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    out = agg.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "event_type",
        "cnt",
    )
    return run_to_memory(out, output_mode="append")


def _stage_late_events(
    spark: SparkSession, sf_dir: str
) -> tuple[str, StructType]:
    """(dest, schema) of the events staged as THREE files with controlled
    arrival order: 00-early = days before the split date, 01-rest = the
    remaining days (its processing advances the watermark past every
    early window and emits them), 02-replay = a re-delivery of the
    oldest days — arriving strictly AFTER its windows were emitted, the
    only situation where the drop is guaranteed (a late row arriving in
    the same batch that closes its window may legally be absorbed: the
    watermark filter is planned a batch behind the eviction watermark —
    measured). Modification times pin the arrival order."""
    import datetime
    import os
    import shutil

    from twitter_flink_spark.sources.staging import (
        schema_entry,
        stage_once,
        staged_schema,
    )
    from twitter_flink_spark.sources.tables import load_table

    def _build(p: str) -> dict:
        ev = load_table(spark, sf_dir, "events")
        bounds = ev.agg(
            F.min(F.to_date("ts")).alias("d0"),
            F.max(F.to_date("ts")).alias("d1"),
        ).collect()[0]
        split = bounds.d0 + datetime.timedelta(days=20)
        replay_before = bounds.d0 + datetime.timedelta(days=10)
        early = ev.where(F.to_date("ts") < F.lit(split))
        rest = ev.where(F.to_date("ts") >= F.lit(split))
        replay = ev.where(
            (F.to_date("ts") < F.lit(replay_before))
            & (F.col("event_id") % 37 == 0)
        )
        # plain data files + pinned mtimes: fully relocatable (rename
        # preserves mtimes), so no finalize phase is needed
        for i, part in ((0, early), (1, rest), (2, replay)):
            tmp = os.path.join(p, f"_b{i}")
            part.coalesce(1).write.mode("overwrite").parquet(tmp)
            # inputFiles-based pick of the single part file
            src = os.path.basename(spark.read.parquet(tmp).inputFiles()[0])
            os.rename(
                os.path.join(tmp, src), os.path.join(p, f"{i:02d}.parquet")
            )
            shutil.rmtree(tmp)
            # pin arrival order for the file source (oldest mtime first)
            os.utime(
                os.path.join(p, f"{i:02d}.parquet"),
                (1_000_000 + i, 1_000_000 + i),
            )
        return schema_entry(ev)

    dest, ledger = stage_once("latestageds", sf_dir, _build)
    return dest, staged_schema(ledger)


@register(
    "streaming_late_data_contract",
    oracle="""
WITH bounds AS (
  SELECT min(CAST(ts AS DATE)) AS d0 FROM events
),
counts AS (
  SELECT to_timestamp(CAST(floor(epoch(ts)/60)*60 AS BIGINT))::TIMESTAMP
           AS window_start,
         event_type, count(*) AS cnt
  FROM events GROUP BY 1, 2
),
maxts AS (SELECT max(ts) AS mx FROM events)
SELECT c.window_start,
       c.window_start + INTERVAL 60 SECOND AS window_end,
       c.event_type, c.cnt
FROM counts c, maxts
WHERE c.window_start + INTERVAL 60 SECOND <= maxts.mx - INTERVAL 1 SECOND
""",
)
def streaming_late_data_contract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The late-data contract, pinned through OUTPUT: three staged
    batches — early days, the remaining days (advancing the watermark
    past every early window and emitting them), then a REPLAY of
    10-day-old rows arriving strictly after their windows closed
    (`_stage_late_events` pins arrival order via mtime). A correct
    engine drops every replayed row — append mode never re-emits an
    emitted window — so the run's output must equal the plain windowed
    counts over the ORIGINAL events under the usual emission rule: no
    inflated counts, no duplicate window rows; a regression that
    admits late rows into closed windows flips the hash either way.
    Two measured subtleties this query documents: (1) the watermark
    FILTER is planned one batch behind the eviction watermark, so a
    late row landing in the same batch that closes its window is
    legally absorbed — the guaranteed drop needs arrival strictly
    after emission, hence three files; (2) for windowed aggregations
    the late discard happens in a plain Filter before the stateful
    operator, so `numRowsDroppedByWatermark` stays 0 — that telemetry
    belongs to dedup/join state, not aggregates."""
    staged, schema = _stage_late_events(spark, sf_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    agg = (
        stream.withWatermark("ts", "1 second")
        .groupBy(F.window("ts", "60 seconds"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "cnt",
        )
    )
    return run_to_memory(agg, output_mode="append")


@register(
    "streaming_watermark_frontier",
    oracle="""
WITH bounds AS (
  SELECT min(CAST(ts AS DATE)) AS d0 FROM events
),
early AS (
  SELECT max(ts) AS m FROM events, bounds
  WHERE CAST(ts AS DATE) < bounds.d0 + INTERVAL 20 DAY
),
rest AS (
  SELECT max(ts) AS m FROM events, bounds
  WHERE CAST(ts AS DATE) >= bounds.d0 + INTERVAL 20 DAY
)
SELECT TIMESTAMP '1970-01-01 00:00:00' AS watermark
UNION ALL
SELECT date_trunc('milliseconds', m - INTERVAL 1 SECOND) FROM early
UNION ALL
SELECT date_trunc('milliseconds', m - INTERVAL 1 SECOND) FROM rest
""",
)
def streaming_watermark_frontier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The watermark FRONTIER as data: the distinct set of watermark
    values the engine planned across the staged three-batch replay —
    epoch at batch 0, max(early) - 1s once batch 0's stats apply,
    max(rest) - 1s after batch 1, and NO REGRESSION when the
    late-replay batch (whose event times are 10+ days old) processes:
    the frontier is monotone, which is the property every eviction
    decision in this repo leans on. Read from each batch's
    `eventTime.watermark` progress telemetry and deduplicated; the
    oracle recomputes the frontier from the same day-split rule. This
    is the observability twin of `streaming_late_data_contract` — that
    query pins what the watermark DOES, this one pins where it
    STANDS."""
    import datetime as _dt

    staged, schema = _stage_late_events(spark, sf_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    agg = (
        stream.withWatermark("ts", "1 second")
        .groupBy(F.window("ts", "60 seconds"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # state sized by state_partitions, not the session's 32 shuffle
    # partitions: 3 micro-batches x 32 state-store commits was this
    # query's whole cost, and the frontier telemetry it returns is
    # partitioning-independent
    with state_partitions(spark):
        q = (
            agg.writeStream.format("noop")
            .outputMode("append")
            .option(
                "checkpointLocation", scratch_dir("wmf-ckpt")
            )
            .trigger(availableNow=True)
            .start()
        )
    await_or_raise(q, 300)
    seen = []
    for prog in q.recentProgress:
        wm = prog["eventTime"].get("watermark")
        if wm and wm not in seen:
            seen.append(wm)
    rows = [
        (_dt.datetime.strptime(w, "%Y-%m-%dT%H:%M:%S.%fZ"),) for w in seen
    ]
    return local_frame(spark, rows, "watermark timestamp")


_SINK_IDX_DRAINED: dict = {}


def _drained_sink_indexes(
    spark: SparkSession, sf_dir: str
) -> tuple[str, list[int], list[dict]]:
    """ONE 3-micro-batch drain maintaining BOTH sink index families per
    commit — the flat ts stats manifest AND the per-column two-level
    pair — shared by `streaming_sink_skipping_index` and
    `streaming_sink_percolumn_indexes` the way the two join-state
    introspections share `_drained_join_ckpt` (round-11 verdict item
    3): each query still reads its OWN maintenance ledger and serves
    its own slice, but the stream machinery and the appends run once
    per session instead of once per query. Returns
    (dest, flat_ledger, percolumn_ledger)."""
    import os

    from twitter_flink_spark.operators import skipping

    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _SINK_IDX_DRAINED:
        return _SINK_IDX_DRAINED[key]
    staged, schema = _stage_time_split_events3(spark, sf_dir)
    dest = os.path.join(
        scratch_dir("streamidx"), "table"
    )
    flat_ledger: list[int] = []
    col_ledger: list[dict] = []

    def sink(batch_df, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(dest)
        flat_ledger.append(skipping.update(spark, dest, ["ts"]))
        if skipping.two_level_columns(dest):
            col_ledger.append(
                skipping.update_two_level_columns(spark, dest)
            )
        else:
            skipping.build_two_level_columns(
                spark, dest, ["ts", "user_id"], n_parts=4
            )
            n = len(spark.read.parquet(dest).inputFiles())
            col_ledger.append({"ts": n, "user_id": n})
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
        .writeStream.foreachBatch(sink)
        .option(
            "checkpointLocation",
            scratch_dir("streamidx-ckpt"),
        )
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, 300)
    _SINK_IDX_DRAINED[key] = (dest, flat_ledger, col_ledger)
    return _SINK_IDX_DRAINED[key]


@register(
    "streaming_sink_skipping_index",
    oracle="""
WITH b AS (SELECT min(ts) AS t0 FROM events)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS cnt,
       round(sum(e.value), 2) AS total_value,
       TRUE AS incrementally_indexed,
       TRUE AS index_pruned
FROM events e, b
WHERE e.ts >= b.t0 + INTERVAL 7 DAY
  AND e.ts < b.t0 + INTERVAL 12 DAY
GROUP BY e.event_type
""",
)
def streaming_sink_skipping_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A streaming parquet sink that keeps its SKIPPING INDEX fresh per
    commit — the maintenance shape `operators/skipping.py` promises
    ("the shape a streaming sink needs"), now exercised end-to-end: the
    events stream replays as three time-ordered micro-batches
    (maxFilesPerTrigger=1 over a range-split copy — real ingest arrives
    in time order, which is exactly why per-file ts envelopes stay
    tight); each foreachBatch appends its files and refreshes the stats
    manifest via `skipping.update`, which scans ONLY the manifest-absent
    files — O(batch), never O(table), so the refresh cost stays constant
    as the table grows to 100 TB. After the drain the table serves a
    5-day slice THROUGH the index. `incrementally_indexed` pins the
    ledger: all three per-batch refreshes indexed >0 files and the final
    index covers the table exactly (`stale_file_count` == 0);
    `index_pruned` pins that the mid-range slice reads a strict subset
    of files. The oracle over the original events proves the
    batch-by-batch build lost nothing. The drain itself is the shared
    per-session fixture `_drained_sink_indexes` (round-11 verdict item
    3): this query reads the FLAT manifest's ledger and serves through
    the flat index; its per-column sibling reads its own."""
    import datetime

    from twitter_flink_spark.operators import skipping

    dest, ledger, _ = _drained_sink_indexes(spark, sf_dir)
    incremental_ok = (
        len(ledger) == 3
        and all(n > 0 for n in ledger)
        and skipping.stale_file_count(spark, dest) == 0
    )
    t0 = spark.read.parquet(dest).agg(F.min("ts")).first()[0]  # 1-row
    lo = t0 + datetime.timedelta(days=7)
    hi = t0 + datetime.timedelta(days=12)
    sliced, files_read, files_total = skipping.read_between(
        spark, dest, "ts", lo, hi
    )
    return sliced.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.lit(bool(incremental_ok)).alias("incrementally_indexed"),
        F.lit(files_total > 1 and 0 < files_read < files_total).alias(
            "index_pruned"
        ),
    )


@register(
    "streaming_sink_percolumn_indexes",
    oracle="""
WITH b AS (SELECT min(ts) AS t0, min(user_id) AS u0, max(user_id) AS u1
           FROM events)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS cnt,
       round(sum(e.value), 2) AS total_value,
       TRUE AS incrementally_indexed,
       TRUE AS index_pruned
FROM events e, b
WHERE e.ts >= b.t0 + INTERVAL 7 DAY
  AND e.ts < b.t0 + INTERVAL 12 DAY
  AND e.user_id >= b.u0 AND e.user_id < b.u0 + (b.u1 - b.u0 + 1) // 2
GROUP BY e.event_type
""",
)
def streaming_sink_percolumn_indexes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A streaming sink maintaining PER-COLUMN two-level manifests per
    commit (`streaming_sink_skipping_index` composed with
    `update_two_level_columns` — the round-10 per-column family): four
    time-ordered micro-batches append files; the first builds a
    two-level manifest for BOTH ts and user_id, every later commit
    refreshes BOTH via one O(batch) incremental update each — the cost
    of keeping N indexed dimensions fresh is N small updates per
    commit, never a table re-profile. After the drain, a ts-window AND
    user-range conjunction serves through `read_where_multi`
    (intersected per-column selections; time-split ingest gives the ts
    manifest tight envelopes, so the intersection prunes on ts while
    the user predicate resolves via the residual — candidate-level as
    always). `incrementally_indexed` pins the ledger: every post-build
    commit refreshed BOTH columns with the same >0 file count, and a
    final no-op update returned 0 for both (full coverage);
    `index_pruned` pins the strict file subset. The oracle applies both
    predicates to the original events table. Three micro-batches, not
    four: build + two refreshes + the no-op cover every ledger
    invariant, and this fixture prices per-commit maintenance — one
    fewer commit cuts its bench cost by a quarter at no coverage loss.
    The drain is the shared per-session `_drained_sink_indexes`
    (round-11 verdict item 3): this query reads the per-column family's
    ledger; the flat sibling reads its own."""
    import datetime

    from twitter_flink_spark.operators import skipping

    dest, _, ledger = _drained_sink_indexes(spark, sf_dir)
    final_noop = skipping.update_two_level_columns(spark, dest)
    incremental_ok = (
        len(ledger) == 3
        and all(
            d["ts"] == d["user_id"] and d["ts"] > 0 for d in ledger
        )
        and final_noop == {"ts": 0, "user_id": 0}
    )
    b = spark.read.parquet(dest).agg(
        F.min("ts").alias("t0"),
        F.min("user_id").alias("u0"),
        F.max("user_id").alias("u1"),
    ).first()
    lo = b["t0"] + datetime.timedelta(days=7)
    hi = b["t0"] + datetime.timedelta(days=12)
    u0, u1 = int(b["u0"]), int(b["u1"])
    sliced, files_read, files_total = skipping.read_where_multi(
        spark,
        dest,
        [("ts", lo, hi), ("user_id", u0, u0 + (u1 - u0 + 1) // 2)],
    )
    return sliced.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.lit(bool(incremental_ok)).alias("incrementally_indexed"),
        F.lit(files_total > 1 and 0 < files_read < files_total).alias(
            "index_pruned"
        ),
    )


@register(
    "streaming_quarantine_repair",
    oracle="""
WITH bounds AS (SELECT min(ts) AS t0 FROM events)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS cnt,
       round(sum(least(e.value, 150.0)), 2) AS total_value,
       TRUE AS batch_sums_match,
       TRUE AS replay_noop,
       TRUE AS index_fresh
FROM events e, bounds b
WHERE e.ts >= b.t0 + INTERVAL 5 DAY AND e.ts < b.t0 + INTERVAL 12 DAY
GROUP BY e.event_type
""",
)
def streaming_quarantine_repair(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The quarantine repair/replay cycle DRIVEN FROM A STREAMING GATE
    (round-11 VERDICT item 1): what `quarantine_repair_replay` proves
    once over the corpus, this runs per micro-batch — the shape a live
    ingest gate actually is. Each of the three time-ordered batches
    (three, not four, covers every invariant — gate+repair, replay
    no-op, per-commit index refresh — at three quarters the fixture
    cost, the `streaming_sink_percolumn_indexes` precedent):
    (1) persists its contract violators (value over the cap) to a
    batch-keyed quarantine dir — the audit/repair source; (2) repairs
    them (clamp), RE-GATES the repaired rows through the same rule
    inside the same plan (a pre-filter Observation counts `still_bad`,
    the post-filter one counts what re-entered — a repair that still
    violates never reaches the table), and lands gate-passing +
    repaired rows in ONE observed write under `good/batch=<id>`;
    (3) refreshes the good table's skipping index incrementally —
    O(batch), `stale_file_count` 0 after every commit; (4) commits the
    per-batch ledger LAST via atomic rename — the marker that makes a
    REPLAYED batch (foreachBatch redelivery after recovery) a pure
    no-op: the sink short-circuits before touching data, pinned after
    the drain by redelivering the final batch and checking the good
    table's file set byte-for-byte. Per-batch overwrite into batch-
    keyed dirs keeps a crashed half-written batch re-runnable.

    `batch_sums_match` pins the streaming/batch equivalence contract:
    the three batch ledgers' quarantined/repaired/good counts sum to
    exactly the corpus-wide counts (every batch's repairs all re-
    entered, zero `still_bad`); `replay_noop` pins the redelivery;
    `index_fresh` pins >0 newly indexed files per commit and zero
    stale files. Serving reads a ts slice THROUGH the refreshed index;
    the oracle applies the clamp to every row of the original events
    table — the hash match proves the per-batch gate + repair + replay
    + index lifecycle lost nothing and changed exactly the violating
    rows. Extends `TopNHashtags.java:303`'s lossy in-memory state
    story the same way the MV family does: operational state
    (quarantine, ledgers, index) lives in storage, not the driver."""
    import datetime
    import os

    from pyspark.sql import Observation

    from twitter_flink_spark.commit import write_json
    from twitter_flink_spark.operators import skipping
    from twitter_flink_spark.operators.expectations import Rule
    from twitter_flink_spark.sources.tables import load_table

    cap = Rule("value_cap", "value <= 150.0", "quarantine")
    staged, schema = _stage_time_split_events3(spark, sf_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    base = scratch_dir("squar")
    good = os.path.join(base, "good")
    quar = os.path.join(base, "quarantine")
    ledgers = os.path.join(base, "_ledger")
    os.makedirs(ledgers)
    batches: list[dict[str, int]] = []
    replays: list[int] = []

    def on_batch(batch_df, batch_id: int) -> None:
        mark = os.path.join(ledgers, f"batch-{batch_id}.json")
        if os.path.exists(mark):
            replays.append(batch_id)  # committed batch: pure no-op
            return
        q_obs = Observation(f"quar-{batch_id}")
        (
            batch_df.where(cap.violated())
            .observe(q_obs, F.count(F.lit(1)).alias("n_quarantined"))
            .write.mode("overwrite")
            .parquet(os.path.join(quar, f"batch={batch_id}"))
        )
        gate = batch_df.where(~cap.violated()).withColumn(
            "__src", F.lit("gate")
        )
        repaired = (
            batch_df.where(cap.violated())
            .withColumn("value", F.least(F.col("value"), F.lit(150.0)))
            .withColumn("__src", F.lit("repair"))
        )
        pre = Observation(f"pre-{batch_id}")
        post = Observation(f"post-{batch_id}")
        is_rep = F.col("__src") == "repair"
        regated = (
            gate.unionByName(repaired)
            .observe(
                pre,
                F.sum((cap.violated() & is_rep).cast("long")).alias(
                    "still_bad"
                ),
            )
            .where(~cap.violated())  # the RE-GATE, same rule
            .observe(
                post,
                F.sum((~is_rep).cast("long")).alias("n_good"),
                F.sum(is_rep.cast("long")).alias("n_repaired"),
            )
            .drop("__src")
        )
        regated.write.mode("overwrite").parquet(
            os.path.join(good, f"batch={batch_id}")
        )
        led = {
            k: int(v or 0)
            for o in (q_obs, pre, post)
            for k, v in o.get.items()
        }
        led["n_new_files"] = skipping.update(spark, good, ["ts"])
        led["stale_after"] = skipping.stale_file_count(spark, good)
        write_json(mark, led)  # ledger commit = the batch's commit point
        batches.append(led)

    q = (
        stream.writeStream.foreachBatch(on_batch)
        .option(
            "checkpointLocation",
            scratch_dir("squar-ckpt"),
        )
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, 300)

    # replay the final batch: the marker short-circuits everything
    files_before = sorted(spark.read.parquet(good).inputFiles())
    on_batch(spark.read.parquet(staged), len(batches) - 1)
    replay_noop = (
        replays == [len(batches) - 1]
        and sorted(spark.read.parquet(good).inputFiles()) == files_before
        and skipping.stale_file_count(spark, good) == 0
    )

    ev = load_table(spark, sf_dir, "events")
    corpus = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cap.violated().cast("long")).alias("bad"),
    ).first()
    batch_sums_match = (
        len(batches) == 3
        and all(b["still_bad"] == 0 for b in batches)
        and all(b["n_repaired"] == b["n_quarantined"] for b in batches)
        and sum(b["n_quarantined"] for b in batches) == int(corpus["bad"])
        and int(corpus["bad"]) > 0
        and sum(b["n_good"] + b["n_repaired"] for b in batches)
        == int(corpus["n"])
    )
    index_fresh = all(
        b["n_new_files"] > 0 and b["stale_after"] == 0 for b in batches
    )

    t0 = spark.read.parquet(good).agg(F.min("ts")).first()[0]  # 1-row
    lo = t0 + datetime.timedelta(days=5)
    hi = t0 + datetime.timedelta(days=12)
    sliced, _fr, _ft = skipping.read_between(spark, good, "ts", lo, hi)
    return sliced.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.lit(bool(batch_sums_match)).alias("batch_sums_match"),
        F.lit(bool(replay_noop)).alias("replay_noop"),
        F.lit(bool(index_fresh)).alias("index_fresh"),
    )


@register(
    "streaming_repair_ledger_stateful",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS cum_rows,
       CAST(sum(CASE WHEN value > 150.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS cum_repaired,
       round(sum(CASE WHEN value > 150.0 THEN value - 150.0 ELSE 0 END), 2)
         AS repaired_excess
FROM events
GROUP BY event_type
""",
)
def streaming_repair_ledger_stateful(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The repair gate's cumulative telemetry as a custom STATEFUL
    operator (`applyInPandasWithState`, `streaming/stateful.py::
    repair_ledger_stream`): per event_type, the managed state store
    carries running (rows seen, rows over the value cap, total clamped
    excess) across micro-batches — the dashboard ledger that rides
    beside `streaming_quarantine_repair`'s foreachBatch repair loop
    (the repair WRITES — quarantine dir, good table, index — so it
    lives in foreachBatch; the LEDGER is pure keyed accumulation, so
    it lives in the state store, checkpointed and restart-safe). The
    emission history depends on source batching, so the query reduces
    to the final row per key, which must equal the batch groupBy over
    the whole corpus — the oracle computes exactly that."""
    src = stream_table(spark, sf_dir, "events")
    from twitter_flink_spark.streaming.stateful import (
        repair_ledger_stream,
    )

    emitted = run_to_memory(
        repair_ledger_stream(src), output_mode="update"
    )
    final = emitted.groupBy("event_type").agg(
        F.max(
            F.struct("cum_rows", "cum_repaired", "repaired_excess")
        ).alias("f")
    )
    return final.select(
        "event_type",
        F.col("f.cum_rows").alias("cum_rows"),
        F.col("f.cum_repaired").alias("cum_repaired"),
        F.round(F.col("f.repaired_excess"), 2).alias("repaired_excess"),
    )


def _stage_vecid_split_embeddings(
    spark: SparkSession, sf_dir: str
) -> tuple[str, dict]:
    """(dest, ledger) of the embeddings split into 3 vec_id-ordered
    parquet files — the replayable arrival order for the streaming IVF
    maintenance query (vectors arrive id-ordered the way an ingest
    assigns them). The ledger carries the table's vec_id bounds and row
    count ``{mn, mx, n}`` from the one aggregate the split needs anyway,
    so callers never re-scan for them. Cross-process write-once."""
    from twitter_flink_spark.sources.staging import stage_once
    from twitter_flink_spark.sources.tables import load_table

    def _build(p: str) -> dict:
        emb = load_table(spark, sf_dir, "embeddings")
        b = emb.agg(
            F.min("vec_id").alias("mn"),
            F.max("vec_id").alias("mx"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        split = (int(b["mn"]) + int(b["mx"])) // 2
        q3 = (split + int(b["mx"])) // 2
        for lo, hi in (
            (None, split),
            (split, q3),
            (q3, None),
        ):
            part = emb
            if lo is not None:
                part = part.where(F.col("vec_id") > lo)
            if hi is not None:
                part = part.where(F.col("vec_id") <= hi)
            part.coalesce(1).write.mode("append").parquet(p)
        return {"mn": int(b["mn"]), "mx": int(b["mx"]), "n": int(b["n"])}

    # the ledger is part of the tag's contract: layouts staged before it
    # carried {mn, mx, n} live under the old tag and are never read here
    return stage_once("ivfstream3n", sf_dir, _build)


def _ensure_vecid_split_embeddings(
    spark: SparkSession, sf_dir: str
) -> str:
    """The staged replay dir of `_stage_vecid_split_embeddings`."""
    return _stage_vecid_split_embeddings(spark, sf_dir)[0]


@register("streaming_ivf_assign_maintenance")  # oracle attached below
def streaming_ivf_assign_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The vector-store ingest cadence END-TO-END: centroids refit
    offline (here: fit once on the corpus half, frozen on disk), and a
    STREAM of arriving vectors keeps the IVF inverted-list index fresh
    per micro-batch — the ANN twin of `streaming_sink_skipping_index`.
    Each foreachBatch anti-joins the batch against already-indexed ids
    (redelivered batches become pure no-ops — pinned by re-delivering
    the full table after the drain), assigns survivors to the FROZEN
    centroids (k-row broadcast argmin, O(batch), the corpus is never
    rescanned), and appends them partitioned by cid so only the touched
    inverted-list dirs grow. Serving after the drain routes the
    max-vec_id probe by the same argmin and reads exactly ONE
    cid=<cell> dir. The oracle is full-rebuild equivalence: fit on the
    corpus half, assign EVERYTHING in one batch, serve the same probe —
    batch-by-batch maintenance must lose nothing. At 100 TB: the fit is
    the weekly job, the assignment stream is O(arrivals/batch), and the
    inverted-list append touches k dirs at most — no maintenance step
    ever scales with the table."""
    from twitter_flink_spark.operators import ivf
    from twitter_flink_spark.queries.similarity import _KM_ITERS, _KM_K
    from twitter_flink_spark.sources.tables import load_table, spread

    # the replay source through its own helper (a test swaps it); the
    # bounds and row count from the staging ledger — a marker read, no job
    staged = _ensure_vecid_split_embeddings(spark, sf_dir)
    b = _stage_vecid_split_embeddings(spark, sf_dir)[1]
    split = (b["mn"] + b["mx"]) // 2
    emb = load_table(spark, sf_dir, "embeddings")

    # the offline fit: corpus half, frozen to disk before the stream
    work = scratch_dir("ivfstream")
    corpus = spread(emb, "vec_id").where(F.col("vec_id") <= split)
    ivf.ivf_build(spark, work, corpus, _KM_K, _KM_ITERS, assign=False)

    ledger: list[int] = []

    def sink(batch_df, batch_id: int) -> None:
        ledger.append(ivf.ivf_append(spark, work, batch_df))

    q = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
        .writeStream.foreachBatch(sink)
        .option(
            "checkpointLocation",
            scratch_dir("ivfstream-ckpt"),
        )
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, 300)
    n_streamed = sum(ledger)
    streamed_ok = (
        len(ledger) == 3
        and all(n > 0 for n in ledger)
        and n_streamed == b["n"]
    )
    # redeliver the whole table: the anti-join must make it a no-op
    sink(emb, batch_id=-1)
    redelivery_noop = ledger[-1] == 0
    return ivf.ivf_search(work, emb, b["mx"]).select(
        "vec_id",
        "cosine",
        F.lit(bool(streamed_ok)).alias("streamed_in_batches"),
        F.lit(bool(redelivery_noop)).alias("redelivery_noop"),
    )


# the oracle is the incremental-IVF full-rebuild equivalence, composed
# from the similarity module's generator (same corpus-half fit, same
# argmin assignment, same single-cell serve) — streamed maintenance and
# one-shot rebuild must produce the identical top-k
def _attach_ivf_stream_oracle() -> None:
    from twitter_flink_spark.queries.similarity import _ivf_inc_oracle
    from twitter_flink_spark.registry import ORACLES

    ORACLES["streaming_ivf_assign_maintenance"] = _ivf_inc_oracle(
        flags_sql=(
            "TRUE AS streamed_in_batches, TRUE AS redelivery_noop"
        )
    )


_attach_ivf_stream_oracle()


def _stage_docid_split_documents(
    spark: SparkSession, sf_dir: str
) -> tuple[str, StructType]:
    """(dest, schema) of the documents split into 3 doc_id-ordered
    parquet files — the replayable crawl-arrival order for the streaming
    LSH maintenance query. Cross-process write-once."""
    from twitter_flink_spark.sources.staging import (
        schema_entry,
        stage_once,
        staged_schema,
    )
    from twitter_flink_spark.sources.tables import load_table

    def _build(p: str) -> dict:
        docs = load_table(spark, sf_dir, "documents")
        b = docs.agg(
            F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
        ).first()
        split = (int(b["mn"]) + int(b["mx"])) // 2
        q3 = (split + int(b["mx"])) // 2
        for lo, hi in ((None, split), (split, q3), (q3, None)):
            part = docs
            if lo is not None:
                part = part.where(F.col("doc_id") > lo)
            if hi is not None:
                part = part.where(F.col("doc_id") <= hi)
            part.coalesce(1).write.mode("append").parquet(p)
        return schema_entry(docs)

    dest, ledger = stage_once("docstream3s", sf_dir, _build)
    return dest, staged_schema(ledger)


@register("streaming_lsh_index_maintenance")  # oracle attached below
def streaming_lsh_index_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The crawl-ingest dedup cadence END-TO-END — with this, every
    index family in the engine (envelope skipping, Bloom, IVF, LSH) has
    the full batch-build / incremental-extend / STREAMING-maintenance
    triple: documents replay as three doc_id-ordered micro-batches;
    the first `foreachBatch` builds the persisted banded-signature
    index from its batch alone, every later one extends it via
    `lsh_index_update` — which shingles/signs/bands ONLY docs the index
    does not fully cover (O(batch)), with the index's own stored
    ngram/k/bands so parameter skew can never split the banding, and
    whose coverage anti-join makes a REDELIVERED batch a pure no-op
    (pinned by redelivering the full table after the drain). After the
    drain the index serves the corpus-wide verified near-dup pair set:
    candidates from the persisted (band, band_hash) equi self-join —
    zero re-shingling of old batches — exact-Jaccard verified at 0.5.
    The oracle batch-bands EVERYTHING in one shot: streamed maintenance
    and one-shot rebuild must produce the identical verified pairs
    (md5-deterministic bands make this exact). At 100 TB: per-crawl
    cost is O(crawl), the corpus is never re-signed, and the index
    append is per-file renames, crash-safe because each doc's coverage
    marker renames after its band rows."""
    import os

    from twitter_flink_spark.operators.dedup import (
        jaccard_verify_sets,
        lsh_index_build,
        lsh_index_candidates,
        lsh_index_update,
    )
    from twitter_flink_spark.queries.dedup import _staged_shingle_sets
    from twitter_flink_spark.sources.tables import load_table

    staged, schema = _stage_docid_split_documents(spark, sf_dir)
    index_dir = os.path.join(
        scratch_dir("lshstream"), "index"
    )
    ledger: list[int] = []

    def sink(batch_df, batch_id: int) -> None:
        if os.path.isdir(index_dir):
            ledger.append(
                lsh_index_update(spark, batch_df, index_dir)
            )
        else:
            ledger.append(
                lsh_index_build(spark, batch_df, index_dir)
            )
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
        .writeStream.foreachBatch(sink)
        .option(
            "checkpointLocation",
            scratch_dir("lshstream-ckpt"),
        )
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, 300)
    docs = load_table(spark, sf_dir, "documents")
    streamed_ok = len(ledger) == 3 and all(n > 0 for n in ledger)
    # redeliver the whole table: coverage anti-join makes it a no-op
    sink(docs, batch_id=-1)
    redelivery_noop = ledger[-1] == 0

    cands = lsh_index_candidates(spark, index_dir)
    # verification (not maintenance — that part stays operator-path) is
    # candidate-scoped: the staged per-doc set table beats re-shingling
    # the corpus for a bounded pair set
    verified = jaccard_verify_sets(
        cands, _staged_shingle_sets(spark, sf_dir), threshold=0.5
    )
    return verified.select(
        "doc_a",
        "doc_b",
        "jaccard",
        F.lit(bool(streamed_ok)).alias("streamed_in_batches"),
        F.lit(bool(redelivery_noop)).alias("redelivery_noop"),
    )


def _attach_lsh_stream_oracle() -> None:
    from twitter_flink_spark.queries.dedup import _minhash_pair_ctes
    from twitter_flink_spark.registry import ORACLES

    ORACLES["streaming_lsh_index_maintenance"] = f"""
WITH {_minhash_pair_ctes()}
SELECT doc_a, doc_b, jaccard,
       TRUE AS streamed_in_batches, TRUE AS redelivery_noop
FROM pairs
"""


_attach_lsh_stream_oracle()

#: accumulated verified-pair count above which the ledger's clustering
#: switches from a driver-side union-find over the collected (bounded)
#: pair set to the O(log n)-round large-star/small-star CC on normal
#: parallelism. Below it, pairs are a tiny fraction of the corpus and
#: bounded by this constant, so one collect + exact union-find beats
#: ANY iterative job cadence; above it (a high-dup crawl makes pairs
#: O(docs)), only the distributed star CC scales.
LEDGER_CC_STAR_THRESHOLD = 100_000


def _cluster_pairs_adaptive(
    pairs: DataFrame, n_pairs: int, used_star: list | None = None
) -> DataFrame:
    """(doc_id, cluster_id) for the dedup ledger, picking the CC
    formulation by accumulated pair count: both return min-node labels
    for every node in the pair set, so the census downstream is
    identical either way — only the physical strategy changes.
    ``used_star``, if given, receives which path ran (tests pin the
    switchover). The strategy pick itself lives in
    `operators/graph.py::connected_components_adaptive` (shared with
    `dedup_select_canonical`); this wrapper only binds the ledger's
    threshold."""
    from twitter_flink_spark.operators.graph import (
        connected_components_adaptive,
    )

    return connected_components_adaptive(
        pairs,
        n_pairs,
        threshold=LEDGER_CC_STAR_THRESHOLD,
        used_star=used_star,
    )


@register("streaming_dedup_impact_ledger")  # oracle attached below
def streaming_dedup_impact_ledger(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The streaming twin of `dedup_token_reduction_by_source` (the
    round-11 verdict's top round-12 candidate): documents replay as
    two doc_id-ordered micro-batches; each batch (1) appends its
    genuinely-new docs' (source, n_tokens) rows to a stats table
    (new-ness by doc_id anti-join against the table itself, so
    redelivery appends nothing), (2) extends the persisted band INDEX
    with the new docs' signature rows, (3) probes ONLY its own docs'
    bands against the index (every pair surfaces at the batch of its
    later side, so the union over batches is exactly the batch
    pipeline's candidate set — md5-deterministic banding),
    exact-Jaccard-verifies them against shingles of just the pair-side
    docs, appends the survivors to a pairs table, and (4) emits a
    cumulative per-source docs/tokens-REMOVED ledger row (connected
    components over the accumulated pairs — a pairs-bounded broadcast
    table — joined to the stats table). Signatures and shingles come
    from the once-per-sf staged tables (`_staged_minhash` — pure
    md5-deterministic functions of the corpus, equality to the
    operator recompute pinned by `test_staged_pairs_equal_operator_
    recompute`), so the query prices the per-batch MAINTENANCE shape —
    anti-joins, O(batch) appends, bounded probes, the census — not
    minhash arithmetic; the operator-path streaming triple
    (build/update coverage, crash posture) is `streaming_lsh_index_
    maintenance`'s job. Removed counts are MONOTONE non-decreasing
    across batches (edges only merge clusters, and the min-id
    canonical of a merged cluster is the min of the mins — a doc once
    removed can never resurface), pinned as `ledger_monotone`. A
    full-table redelivery after the drain appends nothing, extends
    nothing, and leaves the ledger byte-identical (`redelivery_noop`).
    The final census — computed from the streamed tables, not the raw
    corpus — must hash-match the BATCH census oracle over the full
    corpus. At 100 TB: per-crawl cost is O(crawl) lookups + one
    bounded equi-join, the corpus is never re-signed, and the
    curator's token-reduction number is fresh after every crawl
    instead of after a monthly re-census."""
    import os

    from twitter_flink_spark.commit import observed_count
    from twitter_flink_spark.operators.dedup import jaccard_verify_sets
    from twitter_flink_spark.queries.dedup import (
        _staged_minhash,
        _staged_shingle_sets,
    )
    from twitter_flink_spark.sources.tables import load_table

    from pyspark import StorageLevel

    bands, _ = _staged_minhash(spark, sf_dir)
    # probed per batch + redelivery: keep the staged band table hot
    bands = bands.persist(StorageLevel.MEMORY_AND_DISK)
    # verify against per-DOC shingle sets (one row per doc, not one per
    # shingle): each batch's exact-Jaccard is then two broadcast joins
    # against a docs-sized staged table plus array_intersect — never a
    # scan (or shuffle) of the exploded shingle table
    sets = _staged_shingle_sets(spark, sf_dir).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    staged, schema = _stage_docid_split_documents(spark, sf_dir)
    work = scratch_dir("dedupledger")
    index_dir = os.path.join(work, "index")
    stats_dir = os.path.join(work, "stats")
    pairs_dir = os.path.join(work, "pairs")
    new_counts: list[int] = []
    pair_total = [0]  # appended verified-pair rows (threshold trigger)
    ledger: list[dict[str, tuple[int, int]]] = []
    last_cluster: list[DataFrame] = []

    def _cluster() -> DataFrame:
        # a zero-pair append writes no parquet files, so guard on actual
        # files (an empty dir has no schema to infer)
        if os.path.isdir(pairs_dir) and any(
            f.endswith(".parquet") for f in os.listdir(pairs_dir)
        ):
            cl = _cluster_pairs_adaptive(
                spark.read.parquet(pairs_dir).distinct(), pair_total[0]
            )
        else:
            cl = local_frame(spark, [], "doc_id long, cluster_id long")
        last_cluster[:] = [cl]
        return cl

    def _census_snapshot() -> dict[str, tuple[int, int]]:
        stats = spark.read.parquet(stats_dir)
        merged = stats.join(F.broadcast(_cluster()), "doc_id", "left")
        removed = (
            F.coalesce(F.col("cluster_id"), F.col("doc_id"))
            != F.col("doc_id")
        ).cast("int")
        rows = (
            merged.groupBy("source")
            .agg(
                F.sum(removed).alias("docs_removed"),
                F.sum(removed * F.col("n_tokens")).alias(
                    "tokens_removed"
                ),
            )
            .collect()
        )  # one row per source: the ledger is O(sources), not O(docs)
        return {
            r["source"]: (int(r["docs_removed"]), int(r["tokens_removed"]))
            for r in rows
        }

    def sink(batch_df, batch_id: int) -> None:
        if os.path.isdir(stats_dir):
            fresh = batch_df.join(
                spark.read.parquet(stats_dir).select("doc_id"),
                "doc_id",
                "left_anti",
            )
        else:
            fresh = batch_df
        fresh = fresh.select(
            "doc_id",
            "source",
            F.size(F.split("text", " ")).alias("n_tokens"),
        )
        # materialize the batch's new rows ONCE: the anti-join above is
        # lazy, and appending to stats_dir would make a re-evaluation
        # see its own output (and return nothing). The new-row count is
        # OBSERVED during the same write (one job, not write + count).
        from pyspark.sql import Observation

        obs = Observation()
        scratch = os.path.join(work, f"batch-{len(new_counts)}")
        fresh.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(scratch)
        fresh = spark.read.parquet(scratch)
        n_new = observed_count(obs)
        new_counts.append(int(n_new))
        if not n_new:
            return  # redelivered batch: nothing appends, ledger frozen
        # the batch's new rows are ALREADY materialized in the scratch
        # dir: append them to the stats table by hardlink (parquet files
        # are immutable here; both dirs publish whole files) instead of
        # re-running the plan through a second write job
        os.makedirs(stats_dir, exist_ok=True)
        for f in os.listdir(scratch):
            if f.endswith(".parquet"):
                os.link(
                    os.path.join(scratch, f),
                    os.path.join(
                        stats_dir, f"b{len(new_counts) - 1}-{f}"
                    ),
                )
        new_bands = bands.join(
            fresh.select("doc_id"), "doc_id", "left_semi"
        )
        new_bands.write.mode("append").parquet(index_dir)
        # probe: new bands vs the WHOLE index (old + just-appended), so
        # old-new and new-new pairs both surface this batch
        idx = spark.read.parquet(index_dir)
        cand = (
            new_bands.alias("n")
            .join(idx.alias("i"), on=["band", "band_hash"])
            .where(F.col("n.doc_id") != F.col("i.doc_id"))
            .select(
                F.least("n.doc_id", "i.doc_id").alias("doc_a"),
                F.greatest("n.doc_id", "i.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        # exact-Jaccard verify, candidate-scoped (`jaccard_verify_sets`);
        # the appended-pair count is OBSERVED during the append write
        # (one job — the verify pipeline evaluates once, not twice)
        verified = jaccard_verify_sets(cand, sets, threshold=0.5).select(
            "doc_a", "doc_b"
        )
        pobs = Observation()
        verified.observe(pobs, F.count(F.lit(1)).alias("n")).write.mode(
            "append"
        ).parquet(pairs_dir)
        pair_total[0] += observed_count(pobs)
        ledger.append(_census_snapshot())
    q = (
        spark.readStream.schema(schema)
        # TWO micro-batches (2 files, then 1), not three: build + one
        # extend + the post-drain redelivery cover every ledger
        # invariant (monotonicity needs two snapshots), and one fewer
        # batch cuts the fixture's bench cost by a third
        .option("maxFilesPerTrigger", "2")
        .parquet(staged)
        .writeStream.foreachBatch(sink)
        .option(
            "checkpointLocation",
            scratch_dir("dedupledger-ckpt"),
        )
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, 300)
    streamed_ok = len(new_counts) == 2 and all(n > 0 for n in new_counts)
    sources = {s for snap in ledger for s in snap}
    mono = all(
        ledger[i].get(s, (0, 0))[j] <= ledger[i + 1].get(s, (0, 0))[j]
        for i in range(len(ledger) - 1)
        for s in sources
        for j in (0, 1)
    )
    before = list(ledger)
    # redeliver the whole corpus: anti-join + coverage make it a no-op
    sink(load_table(spark, sf_dir, "documents"), batch_id=-1)
    redelivery_noop = new_counts[-1] == 0 and ledger == before

    stats = spark.read.parquet(stats_dir)
    # the redelivery appended nothing, so the last snapshot's cluster
    # table IS the final one — no fourth components run
    cl = last_cluster[0] if last_cluster else _cluster()
    bands.unpersist()
    sets.unpersist()
    merged = stats.join(F.broadcast(cl), "doc_id", "left").select(
        "source",
        "n_tokens",
        (
            F.coalesce(F.col("cluster_id"), F.col("doc_id"))
            == F.col("doc_id")
        )
        .cast("int")
        .alias("survives"),
    )
    kept = F.sum(F.col("survives") * F.col("n_tokens"))
    return merged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("docs_before"),
        F.sum("survives").cast("long").alias("docs_after"),
        F.sum("n_tokens").cast("long").alias("tokens_before"),
        kept.cast("long").alias("tokens_after"),
        F.round(1.0 - kept / F.sum("n_tokens"), 4).alias(
            "token_reduction_pct"
        ),
        F.lit(bool(streamed_ok)).alias("streamed_in_batches"),
        F.lit(bool(mono)).alias("ledger_monotone"),
        F.lit(bool(redelivery_noop)).alias("redelivery_noop"),
    )


def _attach_dedup_ledger_oracle() -> None:
    from twitter_flink_spark.queries.dedup import _minhash_pair_ctes
    from twitter_flink_spark.registry import ORACLES

    ORACLES["streaming_dedup_impact_ledger"] = f"""
WITH RECURSIVE {_minhash_pair_ctes()},
bidir AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
walk(node, label) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM bidir)
  UNION
  SELECT e.b, w.label FROM walk w JOIN bidir e ON e.a = w.node
),
cl AS (SELECT node AS doc_id, min(label) AS cluster_id
       FROM walk GROUP BY node),
t AS (
  SELECT doc_id, source, len(str_split(text, ' ')) AS n_tokens
  FROM documents
),
merged AS (
  SELECT t.source, t.n_tokens,
         CASE WHEN coalesce(cl.cluster_id, t.doc_id) = t.doc_id
              THEN 1 ELSE 0 END AS survives
  FROM t LEFT JOIN cl ON cl.doc_id = t.doc_id
)
SELECT source,
       CAST(count(*) AS BIGINT) AS docs_before,
       CAST(sum(survives) AS BIGINT) AS docs_after,
       CAST(sum(n_tokens) AS BIGINT) AS tokens_before,
       CAST(sum(CASE WHEN survives = 1 THEN n_tokens ELSE 0 END)
            AS BIGINT) AS tokens_after,
       round(1.0 - sum(CASE WHEN survives = 1 THEN n_tokens ELSE 0 END)
               * 1.0 / sum(n_tokens), 4) AS token_reduction_pct,
       TRUE AS streamed_in_batches,
       TRUE AS ledger_monotone,
       TRUE AS redelivery_noop
FROM merged GROUP BY source
"""


_attach_dedup_ledger_oracle()


def _stage_delete_stream(
    spark: SparkSession, sf_dir: str
) -> tuple[str, StructType]:
    """(dest, schema) of the GDPR delete-request feed: doc_id % 13 == 0
    split into 2 doc_id-ordered parquet files (replayable arrival order
    for the streaming delete maintenance). Cross-process write-once."""
    from twitter_flink_spark.sources.staging import (
        schema_entry,
        stage_once,
        staged_schema,
    )
    from twitter_flink_spark.sources.tables import load_table

    def _build(p: str) -> dict:
        docs = load_table(spark, sf_dir, "documents")
        doomed = docs.where(F.col("doc_id") % 13 == 0).select("doc_id")
        mid = doomed.agg(
            (F.min("doc_id") + F.max("doc_id")) / 2
        ).first()[0]
        for pred in (F.col("doc_id") <= mid, F.col("doc_id") > mid):
            doomed.where(pred).coalesce(1).write.mode("append").parquet(p)
        return schema_entry(doomed)

    dest, ledger = stage_once("delstream2s", sf_dir, _build)
    return dest, staged_schema(ledger)


@register("streaming_lsh_delete_maintenance")  # oracle attached below
def streaming_lsh_delete_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Right-to-be-forgotten as a STREAM — the delete-request feed every
    compliant corpus store drains continuously, completing the LSH
    index's lifecycle triple (build / extend / DELETE) in streaming
    form: build the persisted index over the corpus, then replay the
    delete requests (doc_id % 13 == 0) as two micro-batches, each
    applied by `lsh_index_delete` — an O(batch) tombstone append
    through the same stage+rename protocol as extends, idempotent under
    redelivery (pinned by re-draining the full doomed set after the
    stream: 0 new tombstones). After the drain the index serves the
    verified pair set with deleted docs on NEITHER side; a final
    `lsh_index_compact` (one anti-join rewrite, LSM cadence) must
    reclaim exactly the tombstoned docs and leave the served set
    row-identical (`compact_preserves_serve`). The oracle is the batch
    pipeline over documents WITH THE DELETED DOCS REMOVED — streamed
    tombstoning and never-having-ingested must be indistinguishable.
    At 100 TB: each delete batch pays one semi-join + one appended
    parquet; nothing re-signs the surviving corpus; the compaction
    amortizes over many delete batches."""
    from twitter_flink_spark.operators.dedup import (
        jaccard_verify_sets,
        lsh_index_candidates,
        lsh_index_compact,
        lsh_index_delete,
    )
    from twitter_flink_spark.queries.dedup import (
        _fresh_lsh_index_copy,
        _staged_shingle_sets,
    )
    from twitter_flink_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    index_dir = _fresh_lsh_index_copy(spark, sf_dir)
    staged, schema = _stage_delete_stream(spark, sf_dir)
    ledger: list[int] = []

    def sink(batch_df, batch_id: int) -> None:
        ledger.append(lsh_index_delete(spark, batch_df, index_dir))
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", scratch_dir("lshdelstream-ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, 300)
    streamed_ok = len(ledger) == 2 and all(n > 0 for n in ledger)
    doomed = docs.where(F.col("doc_id") % 13 == 0).select("doc_id")
    redelivery_noop = lsh_index_delete(spark, doomed, index_dir) == 0

    sets = _staged_shingle_sets(spark, sf_dir)
    served = jaccard_verify_sets(
        lsh_index_candidates(spark, index_dir), sets, threshold=0.5
    )
    served_rows = {tuple(r) for r in served.collect()}  # bounded: pairs
    n_reclaimed = lsh_index_compact(spark, index_dir)
    after = jaccard_verify_sets(
        lsh_index_candidates(spark, index_dir), sets, threshold=0.5
    )
    compact_ok = n_reclaimed == sum(ledger) and {
        tuple(r) for r in after.collect()
    } == served_rows
    return after.select(
        "doc_a",
        "doc_b",
        "jaccard",
        F.lit(bool(streamed_ok)).alias("streamed_in_batches"),
        F.lit(bool(redelivery_noop)).alias("redelivery_noop"),
        F.lit(bool(compact_ok)).alias("compact_preserves_serve"),
    )


def _attach_lsh_delete_stream_oracle() -> None:
    from twitter_flink_spark.queries.dedup import _minhash_pair_ctes
    from twitter_flink_spark.registry import ORACLES

    ORACLES["streaming_lsh_delete_maintenance"] = f"""
WITH {_minhash_pair_ctes(doc_filter="doc_id % 13 <> 0")}
SELECT doc_a, doc_b, jaccard,
       TRUE AS streamed_in_batches, TRUE AS redelivery_noop,
       TRUE AS compact_preserves_serve
FROM pairs
"""


_attach_lsh_delete_stream_oracle()


def _stage_vec_delete_stream(
    spark: SparkSession, sf_dir: str
) -> tuple[str, StructType]:
    """(dest, schema) of the vector delete-request feed: vec_id % 9 == 3
    (minus the probe, which serving needs alive) split into 2
    vec_id-ordered parquet files. Cross-process write-once."""
    from twitter_flink_spark.sources.staging import (
        schema_entry,
        stage_once,
        staged_schema,
    )
    from twitter_flink_spark.sources.tables import load_table

    def _build(p: str) -> dict:
        emb = load_table(spark, sf_dir, "embeddings")
        probe_id = int(emb.agg(F.max("vec_id")).first()[0])
        doomed = emb.where(
            (F.col("vec_id") % 9 == 3) & (F.col("vec_id") != probe_id)
        ).select("vec_id")
        mid = doomed.agg(
            (F.min("vec_id") + F.max("vec_id")) / 2
        ).first()[0]
        for pred in (F.col("vec_id") <= mid, F.col("vec_id") > mid):
            doomed.where(pred).coalesce(1).write.mode("append").parquet(p)
        return schema_entry(doomed)

    dest, ledger = stage_once("vecdelstream2s", sf_dir, _build)
    return dest, staged_schema(ledger)


@register("streaming_ivf_delete_maintenance")  # oracle attached below
def streaming_ivf_delete_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The vector-store delete feed as a STREAM — `streaming_lsh_delete_
    maintenance`'s embeddings twin, completing the delete lifecycle
    triple on the IVF side (batch delete+compact: `ivf_index_delete_
    compact`): a private copy of the staged inverted-list index drains
    2 micro-batches of delete requests (vec_id % 9 == 3, probe
    excluded) through `ivf_index_delete` — O(batch) tombstone appends —
    then redelivers the full doomed set (0 new tombstones: idempotent),
    serves the nprobe=1 top-5 through the tombstone anti-join, compacts
    (rewriting ONLY the cells that held deleted vectors), and serves
    again. `compact_preserves_serve` pins top-5 equality across the
    rewrite; the oracle refits from scratch excluding the deleted set —
    streamed tombstoning must equal never-having-indexed. At 100 TB the
    delete feed drains continuously at O(batch) cost and compaction
    amortizes on the LSM cadence, touching k'/k of the table."""
    import os
    import shutil

    from twitter_flink_spark.operators import ivf
    from twitter_flink_spark.queries.similarity import _ensure_ivf_inc_index
    from twitter_flink_spark.sources.tables import load_table

    staged_idx, _split, _led = _ensure_ivf_inc_index(spark, sf_dir)
    work = os.path.join(scratch_dir("ivfdelstream"), "index")
    shutil.copytree(os.path.realpath(staged_idx), work)

    staged, schema = _stage_vec_delete_stream(spark, sf_dir)
    ledger: list[int] = []

    def sink(batch_df, batch_id: int) -> None:
        ledger.append(ivf.ivf_index_delete(spark, batch_df, work))
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", scratch_dir("ivfdelstream-ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, 300)
    streamed_ok = len(ledger) == 2 and all(n > 0 for n in ledger)
    emb = load_table(spark, sf_dir, "embeddings")
    probe_id = int(emb.agg(F.max("vec_id")).first()[0])
    doomed = emb.where(
        (F.col("vec_id") % 9 == 3) & (F.col("vec_id") != probe_id)
    ).select("vec_id")
    redelivery_noop = ivf.ivf_index_delete(spark, doomed, work) == 0

    probe = ivf.ivf_probe(emb, probe_id)
    cells = ivf.ivf_route(probe, work)

    def _serve() -> DataFrame:
        ids = ivf.ivf_fetch(spark, work, cells)
        return ivf.ivf_topk(ivf.ivf_candidates(ids, emb, probe_id), probe)

    before = [tuple(r) for r in _serve().collect()]  # 5 rows
    n_reclaimed, _cells = ivf.ivf_index_compact(spark, work)
    after = _serve()
    compact_ok = n_reclaimed == sum(ledger) and [
        tuple(r) for r in after.collect()
    ] == before
    return after.select(
        "vec_id",
        "cosine",
        F.lit(bool(streamed_ok)).alias("streamed_in_batches"),
        F.lit(bool(redelivery_noop)).alias("redelivery_noop"),
        F.lit(bool(compact_ok)).alias("compact_preserves_serve"),
    )


def _attach_ivf_delete_stream_oracle() -> None:
    from twitter_flink_spark.queries.similarity import _ivf_inc_oracle
    from twitter_flink_spark.registry import ORACLES

    ORACLES["streaming_ivf_delete_maintenance"] = _ivf_inc_oracle(
        delete_sql="a.vec_id % 9 = 3",
        flags_sql=(
            "TRUE AS streamed_in_batches, TRUE AS redelivery_noop, "
            "TRUE AS compact_preserves_serve"
        ),
    )


_attach_ivf_delete_stream_oracle()
