"""Streaming sources: deterministic file-replay over the driver's parquet
tables (the testable stand-in for the reference's live Twitter source,
`TopNHashtags.java:94-95`; SURVEY.md §7 M4).

Spark's file stream source requires a *directory*, and the testdata dir
holds all tables side by side — so we stage a per-run temp directory with a
symlink to the one table file (testdata stays read-only, nothing is copied).
In production this source is Kafka (`spark.readStream.format("kafka")`) or a
landing directory; everything downstream is identical.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from twitter_flink_spark.sources.staging import scratch_dir
from twitter_flink_spark.sources.tables import TABLES, _ns_long_to_timestamp


def stream_status_lines(spark: SparkSession, path: str) -> DataFrame:
    """File-replay stream of raw status JSON lines (one status per line) →
    parsed (status_id, status_text, tags). The deterministic test stand-in
    for the live connectors below; everything downstream is identical
    (reference O1, `TopNHashtags.java:94-95,116-118`)."""
    from twitter_flink_spark.sources.tweets import parse_statuses

    raw = spark.readStream.format("text").load(path)
    return parse_statuses(raw, json_col="value")


def socket_status_stream(spark: SparkSession, host: str, port: int) -> DataFrame:
    """Live socket source (one raw status JSON per line) → parse_statuses.

    The closest local analog of the reference's network source: a TCP stream
    of status JSON, parsed with the SAME parser as the batch/file paths so
    the drop-malformed semantics are identical. Spark's socket source is
    dev/test-grade (not replayable); production uses `kafka_status_stream`.
    """
    raw = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )
    from twitter_flink_spark.sources.tweets import parse_statuses

    return parse_statuses(raw, json_col="value")


def kafka_status_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka source → parse_statuses: the production replacement for the
    reference's live Twitter endpoint (BASELINE "Structured Streaming over
    Twitter/Kafka source"). Replayable + checkpointable, unlike the
    reference's source (restart loses in-flight state,
    `TopNHashtags.java:303`).

    Requires the spark-sql-kafka connector on the classpath; this container
    ships without it, so failure is rewrapped with a clear message (the plan
    construction itself is what unit tests pin).
    """
    from twitter_flink_spark.sources.tweets import parse_statuses

    try:
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .load()
        )
    except Exception as exc:  # connector jar absent in this container
        raise RuntimeError(
            "kafka_status_stream needs the spark-sql-kafka connector on the "
            "Spark classpath (--packages org.apache.spark:spark-sql-kafka-0-10)"
        ) from exc
    return parse_statuses(
        raw.select(F.col("value").cast("string").alias("value")), json_col="value"
    )


def stream_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream over one testdata table with the same nanosecond-timestamp
    normalization the batch loader applies (sources/tables.py).

    ``max_files_per_trigger`` caps files per micro-batch — the way to force
    a multi-batch replay (restart/checkpoint tests) or bound per-batch work
    on a landing directory in production."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
    staged = scratch_dir(f"stream-{name}")
    os.symlink(
        os.path.join(sf_dir, f"{name}.parquet"),
        os.path.join(staged, f"{name}.parquet"),
    )
    schema = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    df = reader.option("recursiveFileLookup", "true").parquet(staged)
    return _ns_long_to_timestamp(df, TABLES.get(name, ()))
