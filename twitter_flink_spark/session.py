"""SparkSession construction and tuning.

The reference configures its Flink environment imperatively
(`TopNHashtags.java:97-107`: ingestion-time characteristic, optional
parallelism caps). Here the equivalent knobs are Spark SQL confs, chosen for
a plan that survives scale-up:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting, and
  dynamic broadcast-join demotion/promotion — the 100 TB safety net.
- ``spark.sql.shuffle.partitions``: sized for the local test harness (32);
  on a real cluster this is ~2-3x total cores and AQE coalesces down.
- Arrow enabled so any pandas_udf path is vectorized, never row-at-a-time.
- Session timezone pinned to UTC so window arithmetic matches the DuckDB
  oracle bit-for-bit.
- ``spark.sql.legacy.parquet.nanosAsLong``: the driver's testdata parquet
  carries TIMESTAMP(NANOS) which Spark's vectorized reader rejects; we read
  them as nanosecond longs and convert to microsecond timestamps on load
  (see sources/tables.py) — same truncation DuckDB applies.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: Confs that are safe (and required) to set on an already-running session.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python DataSource API: allow readers to absorb filters (sources/pyds.py)
    "spark.sql.python.filterPushdown.enabled": "true",
    # State-store maintenance (snapshot compaction) defaults to every 60 s
    # per provider; a full-registry sweep runs 60+ short availableNow
    # drains in one JVM, and their accumulated providers' background
    # maintenance competes with live queries for the same /tmp. The drains
    # finish in seconds and never replay, so maintenance adds nothing —
    # push it past the sweep's horizon.
    "spark.sql.streaming.stateStore.maintenanceInterval": "600s",
}


#: the dir holding the ``twitter_flink_spark`` package
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an externally-created session (e.g. the
    driver's). Never raises: confs that cannot be set at runtime are skipped.

    Also puts ``PACKAGE_ROOT`` first on the Python workers' path:
    pandas UDFs, Python data sources and ``applyInPandasWithState``
    functions import the package on the workers, which start in the
    driver's cwd, not where the driver found the package. Every Python
    function carries ``sc.environment`` to its workers, so the entry
    added here reaches every worker started from now on.
    """
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            pass
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if PACKAGE_ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([PACKAGE_ROOT, *paths])
    return spark


def arrow_table(rows, schema: StructType):
    """``rows`` (tuples, Rows or dicts) as a ``pyarrow.Table`` typed by
    ``schema``. Each row goes through ``StructType.toInternal`` — the
    conversion ``createDataFrame`` applies — so a naive datetime is read
    in the driver's local time zone and lands as UTC micros, a date as
    days since the epoch, exactly as Spark would store them."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*(schema.toInternal(r) for r in rows))) or [
        () for _ in schema.fields
    ]
    return pa.Table.from_arrays(
        [pa.array(c, type=t) for c, t in zip(cols, arrow_schema.types)],
        schema=arrow_schema,
    )


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A frame built on the driver from a Python list (centroids,
    manifests, top-N keys, file lists), held in ONE slice.

    The rows enter the plan as an Arrow-built ``LocalRelation``: the
    data lives in the plan itself, so reading it runs no Python worker
    (an RDD of Python rows would convert them in one on every
    evaluation). ``coalesce(1)`` keeps it one slice — a later one-task
    stage (a ``coalesce(1)`` write, a broadcast build) reads one
    partition, whatever the core count. ``schema`` is a DDL string or a
    ``StructType``."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    return spark.createDataFrame(arrow_table(rows, schema), schema).coalesce(1)


def get_spark(
    app_name: str = "twitter-flink-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or get) a tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) —
    single-JVM for tests, but every plan is written for multi-executor:
    partitioned shuffles, broadcast hints on small sides, no driver-side
    loops over collect().
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return tune_session(spark)
