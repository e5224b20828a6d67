"""Custom SINK via Spark 4's Python DataSource writer API — the write-side
twin of sources/pyds.py.

Reference analog: O13, the custom Redis sink (`TopNHashtags.java:148-174`,
a `RedisMapper` handed to connector machinery). The idiomatic Spark 4
counterpart is a ``DataSource`` exposing ``writer()`` (batch) and
``streamWriter()`` (micro-batch): Spark runs ``write(iterator)``
task-parallel on executors, each task returns a commit message, and the
driver's ``commit(messages)`` publishes atomically — the same two-phase
protocol every production sink (JDBC, object store, Kafka transactional)
implements, here over JSON-lines files so tests can verify bytes.

Exactly-once:
- batch: tasks stage to ``_staging/``; ``commit`` renames staged files into
  the destination and drops a ``_SUCCESS`` manifest; ``abort`` deletes the
  stage — a failed job publishes nothing.
- streaming: ``commit(messages, batchId)`` is IDEMPOTENT via a per-epoch
  marker file: a replayed epoch (foreachBatch/sink at-least-once) discards
  its re-staged files instead of double-publishing. This is the sink-side
  transactionality the reference's Redis SET only gets by being an
  overwrite-by-rank upsert.

Local-master caveat (same as queries/formats.py staging): executors write
filesystem paths, so a non-local deployment must point ``path`` at shared
storage; the registered queries guard on a local master.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)

from twitter_flink_spark.commit import write_json

SINK_NAME = "json_dir_sink"


@dataclass
class FileCommit(WriterCommitMessage):
    """Executor → driver commit message: one staged file per write task."""

    staged: str
    n_rows: int


def _stage_rows(path: str, iterator) -> FileCommit:
    """Task-side: stream rows into a uniquely-named staged JSON-lines file.

    Rows never land in the visible destination here — publishing is the
    driver's commit step, so readers can never observe a torn write."""
    os.makedirs(os.path.join(path, "_staging"), exist_ok=True)
    staged = os.path.join(path, "_staging", f"part-{uuid.uuid4().hex}.json")
    n = 0
    with open(staged, "w") as fh:
        for row in iterator:
            fh.write(json.dumps(row.asDict()) + "\n")
            n += 1
    return FileCommit(staged=staged, n_rows=n)


def _discard(messages) -> None:
    for m in messages:
        if m is None:
            continue
        try:
            os.remove(m.staged)
        except OSError:
            pass


class JsonDirBatchWriter(DataSourceWriter):
    def __init__(self, options: dict, overwrite: bool):
        self.path = options["path"]
        self.overwrite = overwrite

    def write(self, iterator) -> FileCommit:
        return _stage_rows(self.path, iterator)

    def commit(self, messages) -> None:
        if self.overwrite:
            for f in os.listdir(self.path):
                if f.endswith(".json"):
                    os.remove(os.path.join(self.path, f))
        total = 0
        for m in messages:
            if m is None:
                continue
            os.replace(
                m.staged, os.path.join(self.path, os.path.basename(m.staged))
            )
            total += m.n_rows
        write_json(os.path.join(self.path, "_SUCCESS"), {"rows": total})

    def abort(self, messages) -> None:
        _discard(messages)


class JsonEpochStreamWriter(DataSourceStreamWriter):
    def __init__(self, options: dict):
        self.path = options["path"]

    def write(self, iterator) -> FileCommit:
        return _stage_rows(self.path, iterator)

    def commit(self, messages, batchId: int) -> None:
        marker = os.path.join(self.path, f"_epoch_{batchId}_SUCCESS")
        if os.path.exists(marker):
            # replayed epoch after a restart: already published — discard
            # the re-staged files instead of double-writing (exactly-once)
            _discard(messages)
            return
        total = 0
        for i, m in enumerate(messages):
            if m is None:
                continue
            os.replace(
                m.staged,
                os.path.join(self.path, f"epoch-{batchId}-{i:05d}.json"),
            )
            total += m.n_rows
        # atomic: a crash mid-write leaves no marker, so the epoch is
        # republished on replay rather than read as committed
        write_json(marker, {"rows": total})

    def abort(self, messages, batchId: int) -> None:
        _discard(messages)


class JsonDirSink(DataSource):
    @classmethod
    def name(cls) -> str:
        return SINK_NAME

    def writer(self, schema, overwrite: bool) -> DataSourceWriter:
        return JsonDirBatchWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> DataSourceStreamWriter:
        return JsonEpochStreamWriter(self.options)


def register_sink(spark) -> None:
    """Idempotently register the sink on a session (driver hands us a
    vanilla one)."""
    spark.dataSource.register(JsonDirSink)
