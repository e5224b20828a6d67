"""Queries over the custom Python DataSource connector (sources/pyds.py).

Reference analog: O1 (custom source connector, `TopNHashtags.java:94-95`) and
O2 (source-side predicate pushdown, `TwitterFilterEndpoint.java:46-66`).
The source is deterministic — every row a pure md5 function of its id — so
the DuckDB oracle re-derives the whole dataset in SQL and the driver's
value-hash verifies the connector itself, not just the query on top."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from twitter_flink_spark.registry import register
from twitter_flink_spark.sources.pyds import (
    SOURCE_NAME,
    register_datasource,
    status_oracle_cte,
)
from twitter_flink_spark.sources.staging import scratch_dir

_N_ROWS = 20000


def _statuses(spark: SparkSession) -> DataFrame:
    register_datasource(spark)
    return (
        spark.read.format(SOURCE_NAME)
        .option("rows", _N_ROWS)
        .option("numPartitions", 8)
        .load()
    )


@register(
    "pyds_status_tag_counts",
    oracle=f"""
WITH {status_oracle_cte(_N_ROWS)}
SELECT tag, count(*) AS cnt, count(DISTINCT status_id) AS n_statuses
FROM status_tags
GROUP BY tag
""",
)
def pyds_status_tag_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode + grouped count over the custom connector (the reference's
    source→flatMap→count spine, with the source a Python DataSource read
    partition-parallel on executors). 16 possible tags; duplicate tags
    within one status count twice, so cnt >= n_statuses distinguishes the
    two aggregates."""
    df = _statuses(spark)
    return (
        df.select("status_id", F.explode("tags").alias("tag"))
        .groupBy("tag")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.countDistinct("status_id").alias("n_statuses"),
        )
    )


@register(
    "pyds_lang_pushdown_counts",
    oracle=f"""
WITH {status_oracle_cte(_N_ROWS)}
SELECT tag, count(*) AS cnt
FROM status_tags
WHERE lang = 'en'
GROUP BY tag
""",
)
def pyds_lang_pushdown_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same spine with `lang = 'en'` absorbed INTO the connector via
    `pushFilters` (non-matching rows are never generated, never serialized
    to Spark) — the engine-side twin of the reference's server-side language
    filter (`TwitterFilterEndpoint.java:53-55`). tests/test_pyds.py pins
    that the filter is actually absorbed, not re-evaluated post-scan."""
    df = _statuses(spark)
    return (
        df.where(F.col("lang") == "en")
        .select(F.explode("tags").alias("tag"))
        .groupBy("tag")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "streaming_pyds_tag_counts",
    oracle=f"""
WITH {status_oracle_cte(_N_ROWS)}
SELECT lang, tag, count(*) AS cnt
FROM status_tags
GROUP BY lang, tag
""",
)
def streaming_pyds_tag_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same connector under `readStream`: micro-batch offsets over the id
    range, explode + grouped count in complete output mode, run to
    completion — proving the DataSourceStreamReader path produces the exact
    batch dataset. availableNow snapshots latestOffset() once, so the
    registered query drains in a single batch (rowsPerBatch = rows); the
    multi-trigger replay incl. batch boundaries is pinned by
    tests/test_pyds.py::test_stream_read_equals_batch."""
    from twitter_flink_spark.streaming.pipeline import run_to_memory

    register_datasource(spark)
    stream = (
        spark.readStream.format(SOURCE_NAME)
        .option("rows", _N_ROWS)
        .option("rowsPerBatch", _N_ROWS)
        .option("numPartitions", 8)
        .load()
    )
    agg = (
        stream.select("lang", F.explode("tags").alias("tag"))
        .groupBy("lang", "tag")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return run_to_memory(agg, output_mode="complete")


def _require_local(spark: SparkSession) -> None:
    master = spark.sparkContext.master
    if not master.startswith("local"):
        raise RuntimeError(
            "json_dir_sink queries stage to driver-local tmp and require a "
            f"local master (got {master!r}); point the sink path at shared "
            "storage for cluster deployments"
        )


@register(
    "pyds_writer_roundtrip",
    oracle="""
SELECT event_id, user_id, round(value, 2) AS value
FROM events
WHERE event_type = 'purchase'
""",
)
def pyds_writer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-side connector surface (reference O13, the custom Redis sink,
    `TopNHashtags.java:148-174`): purchases flow through the Python
    DataSource WRITER — executor tasks stage JSON-lines files, the driver
    commit publishes them atomically with a _SUCCESS manifest — then read
    back and verified row-for-row against the source table, proving the
    bytes survived the task-stage → driver-commit → publish cycle."""
    import os

    from twitter_flink_spark.sources.pyds_sink import SINK_NAME, register_sink
    from twitter_flink_spark.sources.tables import load_table

    _require_local(spark)
    register_sink(spark)
    dest = scratch_dir("pyds-sink")
    (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", F.round("value", 2).alias("value"))
        .write.format(SINK_NAME)
        .mode("overwrite")
        .option("path", dest)
        .save()
    )
    if not os.path.exists(os.path.join(dest, "_SUCCESS")):
        # not an assert: the manifest check is the point of the query and
        # must survive python -O
        raise RuntimeError(f"pyds sink commit left no _SUCCESS in {dest}")
    return spark.read.schema("event_id long, user_id long, value double").json(
        os.path.join(dest, "part-*.json")
    )


@register(
    "streaming_pyds_writer_roundtrip",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS cnt,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY event_type
""",
)
def streaming_pyds_writer_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SAME sink as a streaming epoch writer: the events table replays
    as four micro-batches (maxFilesPerTrigger=1 over a 4-file copy), each
    epoch committed via an idempotent per-batch marker (a replayed epoch
    discards its restage instead of double-publishing — sink-side
    exactly-once under the at-least-once delivery contract). The read-back
    aggregate must equal the one-shot batch aggregate over the source."""
    import os

    from twitter_flink_spark.queries.streaming import _stage_split_events
    from twitter_flink_spark.sources.pyds_sink import SINK_NAME, register_sink
    from twitter_flink_spark.streaming.pipeline import await_or_raise

    _require_local(spark)
    register_sink(spark)
    staged, schema = _stage_split_events(spark, sf_dir)
    # dest and checkpoint are both fresh: a retained checkpoint over an
    # empty dest would replay nothing and read back an empty sink
    dest = scratch_dir("pyds-epoch")
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
        .select("event_type", "value")
        .writeStream.format(SINK_NAME)
        .option("path", dest)
        .option("checkpointLocation", scratch_dir("pyds-epoch-ck"))
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, 300)
    back = spark.read.schema("event_type string, value double").json(
        os.path.join(dest, "epoch-*.json")
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
