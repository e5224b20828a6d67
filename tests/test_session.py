"""`session.local_frame`: driver-built frames enter the plan as an
Arrow-built local relation, with the same values the RDD-of-rows path
gave."""

from __future__ import annotations

import datetime
import decimal
import time

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from twitter_flink_spark.session import local_frame


def _rdd_frame(spark, rows, schema):
    """The previous build path (an RDD of Python rows, one slice) — kept
    here only as the reference `local_frame` must match."""
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


def test_local_frame_round_trips_row_kinds_and_schemas(spark):
    """Tuple, Row and dict rows, nulls and an empty list, under a DDL
    string and a StructType, collect back as given."""
    st = StructType(
        [
            StructField("k", LongType()),
            StructField("v", StringType()),
            StructField("x", DoubleType()),
        ]
    )
    rows = [
        (1, "a", 0.5),
        Row(k=2, v=None, x=-1.25),
        {"k": 3, "v": "c", "x": None},
        (None, None, None),
    ]
    want = [(1, "a", 0.5), (2, None, -1.25), (3, "c", None), (None, None, None)]
    for schema in ("k long, v string, x double", st):
        df = local_frame(spark, rows, schema)
        assert df.schema == st
        assert [tuple(r) for r in df.collect()] == want
        empty = local_frame(spark, [], schema)
        assert empty.schema == st and empty.collect() == []
        assert empty.rdd.getNumPartitions() == 1


def test_local_frame_types_match_the_rdd_path(spark):
    """date, decimal(28,7), map<int,bigint> and array<struct<cid,cent>>
    values equal the RDD path's, value for value."""
    schema = (
        "d date, dec decimal(28,7), m map<int,bigint>, "
        "cands array<struct<cid:bigint,cent:array<double>>>"
    )
    rows = [
        (
            datetime.date(2024, 2, 29),
            decimal.Decimal("-12345.6789012"),
            {1: 10, -2: None},
            [(0, [0.1, -2.5]), (7, [])],
        ),
        (None, None, None, None),
        (datetime.date(1969, 12, 31), decimal.Decimal("0E-7"), {}, []),
    ]
    got = local_frame(spark, rows, schema)
    ref = _rdd_frame(spark, rows, schema)
    assert got.schema == ref.schema
    assert got.collect() == ref.collect()


def test_local_frame_timestamps_keep_local_time_meaning(spark, monkeypatch):
    """A naive datetime means the driver's local time — what `collect`
    hands back, so a collected timestamp round-trips exactly: under
    TZ=America/New_York the frame holds the UTC instants
    ``datetime.timestamp()`` gives; an aware datetime keeps its own
    instant. (The RDD path ran the same ``toInternal`` in a Python
    worker, so it read naive values in the WORKER's time zone; set after
    the workers started, as here, the two differ.)"""
    naive = [
        datetime.datetime(2024, 3, 10, 1, 30),  # the hour before DST
        datetime.datetime(2024, 7, 1, 12, 0, 0, 123456),
        datetime.datetime(1999, 12, 31, 23, 59, 59),
    ]
    aware = datetime.datetime(2024, 1, 1, 5, tzinfo=datetime.timezone.utc)
    try:
        monkeypatch.setenv("TZ", "America/New_York")
        time.tzset()
        df = local_frame(
            spark, [(t,) for t in naive + [aware, None]], "ts timestamp"
        )
        want = [round(t.timestamp() * 1e6) for t in naive + [aware]]
    finally:
        monkeypatch.undo()
        time.tzset()
    got = [r.us for r in df.select(F.unix_micros("ts").alias("us")).collect()]
    assert got == want + [None]


def test_local_frame_plans_a_local_relation(spark):
    """The optimized plan reads a ``LocalRelation`` (no ``LogicalRDD``,
    so no Python worker converts the rows), held in one slice."""
    schema = StructType(
        [
            StructField("cid", LongType()),
            StructField("cent", ArrayType(DoubleType())),
        ]
    )
    df = local_frame(spark, [(i, [float(i)] * 4) for i in range(4)], schema)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan
    assert "LogicalRDD" not in plan
    assert df.rdd.getNumPartitions() == 1


def test_workers_import_the_package_from_any_cwd(tmp_path):
    """A driver that found the package on its own ``sys.path`` (not
    through its cwd or ``PYTHONPATH``) runs a Python UDF that imports
    the package on a worker: `get_spark` puts the package root on the
    workers' path. The driver runs in a subprocess whose cwd is outside
    the repo."""
    import os
    import subprocess
    import sys

    from twitter_flink_spark.session import PACKAGE_ROOT

    script = f"""
import sys
sys.path.insert(0, {PACKAGE_ROOT!r})
from pyspark.sql import functions as F
from twitter_flink_spark.session import get_spark

spark = get_spark(app_name="tfs-cwd", master="local[1]")

@F.udf("string")
def imported(_):
    import twitter_flink_spark
    return twitter_flink_spark.__name__

print(spark.range(1).select(imported("id")).first()[0])
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split()[-1] == "twitter_flink_spark"
