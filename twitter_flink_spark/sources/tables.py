"""Batch scans over the driver's parquet tables.

Reference analog: the only source the reference has is the live Twitter
stream (`TopNHashtags.java:94-95,116-117`); its server-side filter endpoint
(`TwitterFilterEndpoint.java:46-66`) is predicate pushdown. In Spark both are
free: `spark.read.parquet` gives a columnar scan with filter pushdown and
column pruning handled by Catalyst — a `.filter`/`.select` right after the
scan reaches the parquet reader (`PushedFilters`/`ReadSchema` in .explain).

Scale notes: a parquet scan over 100 TB splits by `maxPartitionBytes`
(default 128 MB → ~800k tasks); filters prune row groups via min/max stats,
and partition-column predicates prune whole directories. Nothing here
collects to the driver.

Timestamp handling: the testdata parquet uses TIMESTAMP(NANOS) which Spark's
reader rejects. With ``spark.sql.legacy.parquet.nanosAsLong=true`` the column
arrives as a nanosecond long; we truncate to microseconds (floor division,
matching DuckDB's TIMESTAMP_NS→TIMESTAMP cast) and convert to TimestampType.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: table name -> columns that are nanosecond timestamps in the testdata.
TABLES: dict[str, tuple[str, ...]] = {
    "region": (),
    "nation": (),
    "customer": (),
    "supplier": (),
    "part": (),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
    "documents": (),
    "embeddings": (),
}


def _ns_long_to_timestamp(df: DataFrame, columns: tuple[str, ...]) -> DataFrame:
    for name in columns:
        if name not in df.columns:
            continue
        dtype = dict(df.dtypes)[name]
        if dtype == "bigint":
            # TIMESTAMP(NANOS) read via nanosAsLong. Integer DIV, not float
            # division: epoch-nanos exceed double's 2^53 mantissa, so
            # ns/1000.0 truncates off-by-one-microsecond
            df = df.withColumn(name, F.timestamp_micros(F.expr(f"{name} DIV 1000")))
        elif dtype == "timestamp_ntz":
            # TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives as
            # TIMESTAMP_NTZ. The session timezone is pinned to UTC
            # (RUNTIME_CONFS), so casting to TimestampType preserves the
            # wall-clock value exactly as DuckDB's naive read does, and the
            # rest of the engine sees one timestamp type either way.
            df = df.withColumn(name, F.col(name).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table with timestamp normalization applied.

    Applies the full runtime conf set (nanosAsLong, UTC, AQE, Arrow) — the
    driver hands us a VANILLA session, and without AQE its default 200
    shuffle partitions cost ~200 near-empty tasks per aggregation at small
    SF (and no skew-split at large SF)."""
    from twitter_flink_spark.session import tune_session

    tune_session(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return _ns_long_to_timestamp(df, TABLES.get(name, ()))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every testdata table. Lazy — nothing is scanned until an action."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def spread(df: DataFrame, key: str) -> DataFrame:
    """Hash-repartition ``df`` on ``key`` to the session's default
    parallelism, decoupling downstream compute parallelism from the input
    file layout.

    Use before a hash/explode-heavy pipeline whose input is a SMALL table:
    a table that fits one parquet split arrives as one partition, and every
    narrow transformation after it (explode, md5 fan-out, per-pair scoring
    under a broadcast join) inherits that single task no matter how many
    cores the cluster has.

    Keyed off the scan's FILE metadata (`df.inputFiles()` — plan-level,
    no DataFrame->RDD conversion): a scan backed by at least
    default-parallelism files (any real-scale input) skips the shuffle
    entirely; the count is conservative (one oversized file splits into
    several partitions at read time), so the worst case is a redundant
    shuffle on a few-huge-files layout, never a missing one. A non-file
    input (a memory relation) reports no files and is left alone —
    its partitioning came from the session, not a file layout.

    Caller contract for NON-FILE inputs: because the file heuristic cannot
    see their partitioning (and this helper deliberately avoids an
    `df.rdd` probe, which would force plan translation), an in-memory
    corpus that lives in one partition stays in one partition — callers
    feeding e.g. ``topk_neighbors`` a memory relation must pre-partition
    (`df.repartition(n, key)`) themselves."""
    n = df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    if not files or len(files) >= n:
        return df
    return df.repartition(n, key)
