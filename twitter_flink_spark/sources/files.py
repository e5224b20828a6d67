"""Batch file-format sources & sinks beyond parquet: CSV and JSON-lines,
plus partitioned parquet layout.

Reference analog: the reference has NO file formats at all (SURVEY.md §2.2
"Scans / sources / sinks" — its only source is the live Twitter stream).
These fill the standard lakehouse surface: schema-explicit readers (never
inferSchema in production — one pass of inference over 100 TB costs a full
scan), header+timestamp-format pinned writers, and directory partitioning
so equality predicates prune entire directories before any IO.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from twitter_flink_spark.session import local_frame

#: pinned so CSV timestamps survive a write→read round-trip losslessly
_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def write_csv(df: DataFrame, path: str) -> None:
    (
        df.write.mode("overwrite")
        .option("header", "true")
        .option("timestampFormat", _TS_FMT)
        .csv(path)
    )


def read_csv(spark: SparkSession, path: str, schema) -> DataFrame:
    return (
        spark.read.schema(schema)
        .option("header", "true")
        .option("timestampFormat", _TS_FMT)
        .csv(path)
    )


def write_jsonl(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").option("timestampFormat", _TS_FMT).json(path)


def read_jsonl(spark: SparkSession, path: str, schema) -> DataFrame:
    return (
        spark.read.schema(schema)
        .option("timestampFormat", _TS_FMT)
        .json(path)
    )


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_cols: tuple[str, ...]
) -> None:
    """Directory-partitioned parquet: one dir per partition-column value.
    Equality/IN predicates on partition columns prune whole directories at
    planning time (`PartitionFilters` in explain) — zero IO for pruned
    values, the cheapest filter there is at 100 TB. Keep partition-column
    cardinality modest (<~10k dirs) or the file listing dominates."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def compact_parquet(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite a parquet directory into ~target-sized files; returns the
    output file count.

    Small-files compaction is a first-class maintenance op at scale:
    streaming sinks and fine-grained partitioning produce thousands of
    KB-sized files whose per-file open/footer cost dominates scans. One
    `repartition(n)` round-robin shuffle yields uniformly sized outputs
    (coalesce would skip the shuffle but inherits upstream skew)."""
    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, fs in os.walk(src_path)
        for f in fs
        if f.endswith(".parquet")
    )
    n = max(1, -(-total // target_file_bytes))  # ceil-div
    spark.read.parquet(src_path).repartition(n).write.mode(
        "overwrite"
    ).parquet(dst_path)
    return sum(
        1
        for _, _, fs in os.walk(dst_path)
        for f in fs
        if f.endswith(".parquet")
    )


def binpack_write(
    spark: SparkSession,
    df: DataFrame,
    part_col: str,
    target_rows: int,
    dest: str,
    order_col: str | None = None,
) -> None:
    """Size-targeted compaction write with EXACT bin packing and NO
    hot-partition serialization: every partition value ends up in
    exactly ``ceil(rows / target_rows)`` files, each at most
    ``target_rows`` rows, and a hot partition value's write work is
    spread across as many tasks as it has bins — never the one task
    that ``repartition(part_col)`` routes a whole partition value to
    (at 100 TB a hot value would otherwise serialize terabytes through
    a single writer; ``maxRecordsPerFile`` splits the FILES but not
    the WORK).

    Three metadata-cheap steps:

    1. Count rows per (partition value, input file) — one column-pruned
       aggregate, O(values x files) rows to the driver (the same scale
       as a skipping manifest consult), cumulated into per-file global
       offsets.
    2. Broadcast the offsets back and window-number rows within each
       (value, file) group — fine-grained shuffle bounded by file size,
       no single-task key — so ``offset + row_number`` is a global,
       gap-free row index per partition value, and ``index div target``
       a global bin id where every bin except the last is exactly full.
    3. Shuffle by (value, bin) into EXPLICITLY ``total bins`` partitions
       (an explicit count so AQE cannot coalesce the hot value's bins
       back into one task) and write with ``maxRecordsPerFile``: full
       bins make each task's rows per value a multiple of the target
       (plus at most the one remainder bin), so the writer's file
       splits reproduce the exact bin count no matter how bins hash
       into tasks.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    file_backed = bool(df.inputFiles())
    # the offset group key: per input file when the frame is file-backed;
    # otherwise input_file_name() is '' for every row and all of a value's
    # rows would share ONE (value, '') window partition — the exact
    # hot-partition serialization this function exists to avoid — so fall
    # back to a deterministic per-row content-hash salt (same exactness:
    # bins are built from per-group counts, whatever the groups are)
    grp = (
        F.input_file_name()
        if file_backed
        else F.concat(
            F.lit("salt-"),
            F.pmod(
                F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(64)
            ).cast("string"),
        )
    )
    src = df.withColumn("__f", grp)
    counts = (
        src.groupBy(part_col, "__f")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )  # O(values x files): planner-scale metadata, not data
    offsets, run = [], {}
    for r in sorted(counts, key=lambda r: (str(r[part_col]), r["__f"])):
        key = r[part_col]
        offsets.append((key, r["__f"], run.get(key, 0)))
        run[key] = run.get(key, 0) + r["c"]
    off_df = local_frame(
        spark,
        offsets,
        StructType(
            [
                # mirror the source column's type: a hardcoded string here
                # would TypeError on numeric partition columns (or force
                # an implicit cast into the equi-join)
                StructField(part_col, df.schema[part_col].dataType),
                StructField("__f", StringType()),
                StructField("__off", LongType()),
            ]
        ),
    )
    w = Window.partitionBy(part_col, "__f").orderBy(
        order_col if order_col else F.lit(1)
    )
    binned = (
        src.join(F.broadcast(off_df), [part_col, "__f"], "left")
        .withColumn(
            "__bin",
            F.floor(
                (F.col("__off") + F.row_number().over(w) - 1)
                / F.lit(target_rows)
            ),
        )
        .drop("__f", "__off")
    )
    total_bins = sum(
        -(-c // target_rows) for c in run.values()
    )  # ceil-div per value
    (
        binned.repartition(max(1, total_bins), part_col, "__bin")
        .drop("__bin")
        .write.option("maxRecordsPerFile", target_rows)
        .partitionBy(part_col)
        .mode("overwrite")
        .parquet(dest)
    )


def partition_listing(
    spark: SparkSession, root: str, part_col: str
) -> dict[str, list[str]]:
    """Partition-value -> data-file paths, derived from the scan
    LISTING (``inputFiles`` — the Hadoop FileSystem API under the
    session's configured filesystem), never ``os.listdir``: the
    accounting ports to object stores unchanged, and nothing is read —
    listing-only, the same cost class as a manifest consult. Fixture
    queries that pin files-per-partition invariants (compaction targets,
    migration completeness) count through this."""
    out: dict[str, list[str]] = {}
    prefix = f"{part_col}="
    for f in spark.read.parquet(root).inputFiles():
        for seg in f.split("/"):
            if seg.startswith(prefix):
                out.setdefault(seg[len(prefix):], []).append(f)
                break
    return out
