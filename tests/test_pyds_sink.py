"""Python DataSource writer (sources/pyds_sink.py): two-phase commit,
overwrite semantics, and per-epoch idempotence under replay."""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import functions as F

from twitter_flink_spark.sources.pyds_sink import (
    SINK_NAME,
    JsonDirBatchWriter,
    JsonEpochStreamWriter,
    register_sink,
)


def _read_all(path: str, pattern: str) -> list[dict]:
    rows = []
    for f in sorted(os.listdir(path)):
        if f.startswith(pattern.rstrip("*").split("/")[-1]) and f.endswith(
            ".json"
        ):
            with open(os.path.join(path, f)) as fh:
                rows += [json.loads(ln) for ln in fh if ln.strip()]
    return rows


def test_batch_writer_publishes_atomically(spark):
    register_sink(spark)
    dest = tempfile.mkdtemp(prefix="tfs-sink-test-")
    df = spark.range(100).select("id", (F.col("id") % 7).alias("k"))
    df.write.format(SINK_NAME).mode("overwrite").option("path", dest).save()
    assert os.path.exists(os.path.join(dest, "_SUCCESS"))
    rows = _read_all(dest, "part-*")
    assert sorted(r["id"] for r in rows) == list(range(100))
    # staging dir drained: nothing un-published left behind
    assert os.listdir(os.path.join(dest, "_staging")) == []
    # overwrite replaces, never appends
    df.limit(10).write.format(SINK_NAME).mode("overwrite").option(
        "path", dest
    ).save()
    assert len(_read_all(dest, "part-*")) == 10


def test_epoch_commit_is_idempotent(tmp_path):
    """A replayed epoch (sink at-least-once) must discard its restaged
    files, not double-publish them."""
    dest = str(tmp_path)
    w = JsonEpochStreamWriter({"path": dest})

    class _Row:
        def __init__(self, i):
            self.i = i

        def asDict(self):
            return {"id": self.i}

    m1 = w.write(iter([_Row(1), _Row(2)]))
    w.commit([m1], batchId=0)
    assert len(_read_all(dest, "epoch-*")) == 2
    # replay of epoch 0 after a simulated crash-before-checkpoint
    m2 = w.write(iter([_Row(1), _Row(2)]))
    w.commit([m2], batchId=0)
    assert len(_read_all(dest, "epoch-*")) == 2  # unchanged
    assert os.listdir(os.path.join(dest, "_staging")) == []  # restage gone
    # next epoch publishes normally
    m3 = w.write(iter([_Row(3)]))
    w.commit([m3], batchId=1)
    assert sorted(r["id"] for r in _read_all(dest, "epoch-*")) == [1, 2, 3]


def test_markers_torn_mid_write_are_never_read(tmp_path, monkeypatch):
    """A crash in the middle of writing a commit marker (the JSON dump
    raises after writing half the object) leaves NO marker at its name:
    the epoch is not read as committed, its replay publishes it once,
    and the batch writer leaves no ``_SUCCESS``."""
    import pytest

    import twitter_flink_spark.commit as commit

    class _Row:
        def __init__(self, i):
            self.i = i

        def asDict(self):
            return {"id": self.i}

    class _TornJson:
        @staticmethod
        def dump(obj, fh):
            fh.write('{"rows": ')
            fh.flush()
            raise OSError("crash mid-dump")

    dest = str(tmp_path / "epochs")
    os.makedirs(dest)
    w = JsonEpochStreamWriter({"path": dest})
    m1 = w.write(iter([_Row(1), _Row(2)]))
    with monkeypatch.context() as mp:
        mp.setattr(commit, "json", _TornJson)
        with pytest.raises(OSError, match="crash mid-dump"):
            w.commit([m1], batchId=0)
    assert [f for f in os.listdir(dest) if "SUCCESS" in f] == []
    # the replayed epoch is not mistaken for a committed one
    m2 = w.write(iter([_Row(1), _Row(2)]))
    w.commit([m2], batchId=0)
    assert sorted(r["id"] for r in _read_all(dest, "epoch-*")) == [1, 2]
    with open(os.path.join(dest, "_epoch_0_SUCCESS")) as fh:
        assert json.load(fh) == {"rows": 2}

    bdest = str(tmp_path / "batch")
    os.makedirs(bdest)
    bw = JsonDirBatchWriter({"path": bdest}, overwrite=False)
    m = bw.write(iter([_Row(7)]))
    with monkeypatch.context() as mp:
        mp.setattr(commit, "json", _TornJson)
        with pytest.raises(OSError, match="crash mid-dump"):
            bw.commit([m])
    assert [f for f in os.listdir(bdest) if "SUCCESS" in f] == []


def test_abort_publishes_nothing(tmp_path):
    dest = str(tmp_path)
    w = JsonEpochStreamWriter({"path": dest})

    class _Row:
        def asDict(self):
            return {"x": 1}

    m = w.write(iter([_Row()]))
    w.abort([m], batchId=0)
    assert _read_all(dest, "epoch-*") == []
    assert os.listdir(os.path.join(dest, "_staging")) == []


def test_source_to_sink_kill_restart_exactly_once(spark):
    """Full Python-connector pipeline under failure: the custom stream
    SOURCE feeds the custom epoch SINK, the query is killed mid-replay and
    restarted from the same checkpoint. Published rows must be exactly the
    source id range — the source's WAL cursor restore prevents re-reads,
    and the sink's per-epoch marker turns the replayed in-flight epoch
    into a no-op (the two halves of exactly-once, composed). Timing
    tolerance: the kill may land anywhere, including after completion —
    the invariant must hold in every case."""
    import time

    from twitter_flink_spark.sources.pyds import (
        SOURCE_NAME,
        register_datasource,
    )

    register_datasource(spark)
    register_sink(spark)
    dest = tempfile.mkdtemp(prefix="tfs-e2e-sink-")
    ckpt = tempfile.mkdtemp(prefix="tfs-e2e-ck-")
    n = 400

    def start():
        return (
            spark.readStream.format(SOURCE_NAME)
            .option("rows", n)
            .option("rowsPerBatch", 80)
            .option("numPartitions", 2)
            .load()
            .select("status_id")
            .writeStream.format(SINK_NAME)
            .option("path", dest)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )

    q = start()
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:
        if len(_read_all(dest, "epoch-*")) >= 100:
            break
        time.sleep(0.2)
    q.stop()  # kill mid-replay (usually)
    q2 = start()
    deadline = time.monotonic() + 120
    rows: list[dict] = []
    while time.monotonic() < deadline:
        rows = _read_all(dest, "epoch-*")
        if len(rows) >= n:
            break
        time.sleep(0.5)
    q2.stop()
    ids = [r["status_id"] for r in rows]
    assert len(ids) == n, f"expected {n} rows, got {len(ids)}"
    assert set(ids) == set(range(n))  # no dupes (len check), no gaps


def test_batch_writer_job_failure_publishes_nothing(spark):
    """A task failure mid-job must leave the destination unpublished: no
    .json files, no _SUCCESS manifest — the driver never reaches commit()
    and abort() discards whatever tasks had staged."""
    import pytest
    from pyspark.sql import functions as F

    register_sink(spark)
    dest = tempfile.mkdtemp(prefix="tfs-sink-abort-")
    df = spark.range(10).select(
        "id", F.expr("assert_true(id < 5, 'boom')").alias("chk")
    )
    with pytest.raises(Exception, match="boom"):
        df.write.format(SINK_NAME).mode("overwrite").option(
            "path", dest
        ).save()
    published = [f for f in os.listdir(dest) if f.endswith(".json")]
    assert published == []
    assert not os.path.exists(os.path.join(dest, "_SUCCESS"))
