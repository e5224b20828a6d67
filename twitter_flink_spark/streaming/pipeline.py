"""Structured-Streaming layer (SURVEY.md §7 M4): the reference pipeline's
streaming semantics — watermarked sliding-window aggregation, the top-N
feedback loop, and the rank-keyed KV (Redis-shaped) sink — as thin layers
over the SAME query expressions the batch path uses.

Reference mapping:
- ingestion-time + 1 s watermark (`TopNHashtags.java:98,216-227`)
  → `withWatermark(ts, '1 second')` over the data's own event time
    (deterministic, per SURVEY.md §7 hard-parts).
- 300 s/60 s sliding window count (`:126,:247-280`)
  → the batch `sliding_window_counts` expression under `readStream`.
- top-N broadcast back to the tweet filter (`:129-137,:298-335`)
  → `foreachBatch` feedback: the leaderboard query maintains per-window
    counts + the current top-N snapshot; the filter query semi-joins each
    micro-batch against the LATEST snapshot ("latest-seen" semantics,
    including the cold-start window where nothing passes, `:330-333`).
    Spark DAGs are acyclic and streaming forbids rank-after-agg in append
    mode, so the loop lives in foreachBatch orchestration — a pattern, not
    an engine extension (SURVEY.md §4).
- Redis `SET Top10-{rank} -> "tag, count"` (`:148-174`)
  → `KVStore.upsert_leaderboard`: overwrite-by-rank KV semantics behind a
    plain dict (swap for a real Redis client in production; the sink
    contract — idempotent upsert keyed by rank — is what matters).

State scale note: the streaming agg state is (windows x keys) rows in the
state store — bounded by the watermark evicting closed windows; the top-N
snapshot is <= N rows, broadcast-sized by construction, exactly like the
reference's `String[] topN`.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from twitter_flink_spark.commit import replace_dir, write_json
from twitter_flink_spark.session import arrow_table, local_frame
from twitter_flink_spark.sources.staging import scratch_dir
from twitter_flink_spark.streaming.sources import stream_table


def functools_reduce_and(cols: list) -> "F.Column":
    """AND-fold a non-empty Column list (plain reduce, named for grep)."""
    out = cols[0]
    for c in cols[1:]:
        out = out & c
    return out


#: When True, ``await_or_raise`` and the foreachBatch helpers record
#: executed plans into ``STREAM_PLANS`` so plan-shape tests can assert on
#: streaming micro-batch plans (which otherwise execute eagerly and leave
#: nothing to inspect). Off by default — zero overhead outside tests.
CAPTURE_STREAM_PLANS = False
STREAM_PLANS: list[tuple[str, str]] = []


def record_stream_plan(label: str, plan_text: str) -> None:
    if CAPTURE_STREAM_PLANS:
        STREAM_PLANS.append((label, plan_text))


def record_batch_df_plan(label: str, df: DataFrame) -> None:
    """Capture the executed-plan string of a foreachBatch inner DataFrame
    (the part of a streaming topology the outer streaming plan does not
    show — snapshot joins, leaderboard merges)."""
    if CAPTURE_STREAM_PLANS:
        STREAM_PLANS.append(
            (label, df._jdf.queryExecution().executedPlan().toString())
        )


def await_or_raise(q, timeout_s: int) -> None:
    """``awaitTermination`` with the timeout made loud.

    ``awaitTermination(timeout)`` returns False when the query is STILL
    RUNNING — callers that ignore it read back partial sink output as if
    the query had finished, a wrong-but-plausible result. Stop the query
    and raise instead.
    """
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} still running after {timeout_s}s"
        )
    if CAPTURE_STREAM_PLANS:
        # a query that ran no batch explains as "No physical plan.
        # Waiting for data." rather than raising
        record_stream_plan(q.name or str(q.id), q._jsq.explainInternal(True))


def windowed_stream_counts(
    src: DataFrame,
    ts_col: str = "ts",
    key_cols: tuple[str, ...] = ("event_type",),
    window_size: str = "300 seconds",
    window_slide: str = "60 seconds",
    watermark: str = "1 second",
    with_max_ts: bool = False,
) -> DataFrame:
    """The batch sliding-window count expression under a watermark."""
    aggs = [F.count(F.lit(1)).alias("cnt")]
    if with_max_ts:
        aggs.append(F.max(ts_col).alias("max_ts"))
    return (
        src.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), window_size, window_slide).alias("window"),
            *[F.col(c) for c in key_cols],
        )
        .agg(*aggs)
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *[F.col(c) for c in key_cols],
            *(["cnt", "max_ts"] if with_max_ts else ["cnt"]),
        )
    )


@contextmanager
def state_partitions(spark: SparkSession):
    """Size the state store of the streams started inside the block: one
    partition (= state store instance) per task slot, at most 8.

    Unlike batch shuffles, streaming state partitioning should track STATE
    size — live (window x key) rows bounded by watermark eviction — not
    input size, and each instance pays a fixed load/commit cost per
    micro-batch (a ``.delta`` file and a checkpoint checksum file): more
    instances than task slots only add task waves. Eight fit the
    fixtures' <=200 k state rows. Spark records the count in the
    checkpoint's offset log and reuses it on restart, so a checkpoint
    built under another count resumes unchanged. Only the queries'
    ``start()`` should run inside the block; the session's shuffle
    partitions are restored on exit."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(min(8, spark.sparkContext.defaultParallelism)),
    )
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_to_memory(stream_df: DataFrame, output_mode: str = "append",
                  timeout_s: int = 300) -> DataFrame:
    """Run a finite stream to completion (availableNow) into a uniquely-named
    memory sink, its state sized by `state_partitions`; return the
    materialized result as a DataFrame."""
    spark = stream_df.sparkSession
    name = f"tfs_mem_{uuid.uuid4().hex[:12]}"
    with state_partitions(spark):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
    await_or_raise(q, timeout_s)
    return spark.table(name)


# ---------------------------------------------------------------------------
# The top-N feedback loop


class DictKVClient:
    """In-process client speaking the minimal KV wire contract (`set`/
    `delete`) — the test double for a real Redis client, same surface."""

    def __init__(self) -> None:
        self.data: dict[str, str] = {}

    def set(self, key: str, value: str) -> None:
        self.data[key] = value

    def delete(self, key: str) -> None:
        self.data.pop(key, None)


def redis_kv_client(host: str = "localhost", port: int = 6379):
    """A real Redis client with the same `set`/`delete` surface, when the
    `redis` package is importable (not shipped in this container — the
    adapter is the production path, `DictKVClient` the test path)."""
    try:
        import redis  # type: ignore[import-not-found]
    except ImportError as exc:
        raise RuntimeError(
            "redis_kv_client needs the 'redis' package (pip install redis)"
        ) from exc
    return redis.Redis(host=host, port=port, decode_responses=True)


@dataclass
class KVStore:
    """Redis-shaped KV sink: upsert-by-rank leaderboard
    (`SET "Top{N}-{rank}" -> "tag, count"`, `TopNHashtags.java:157-168`).

    Talks to any client with `set(key, value)`/`delete(key)` — a real Redis
    client drops in unchanged. Overwrite-by-rank is the contract; because a
    real store persists keys across calls, ranks beyond the new list's
    length are explicitly DELETEd (a shorter leaderboard must not leave
    rank 7 of the previous window lying around — a staleness bug the
    reference avoids only by always writing exactly N entries)."""

    prefix: str = "Top10-"
    client: DictKVClient = field(default_factory=DictKVClient)
    _last_n: int = 0

    def upsert(self, ranked: list[tuple[str, int]]) -> None:
        for i, (key, cnt) in enumerate(ranked):
            self.client.set(f"{self.prefix}{i + 1}", f"{key}, {cnt}")
        for rank in range(len(ranked) + 1, self._last_n + 1):
            self.client.delete(f"{self.prefix}{rank}")
        self._last_n = len(ranked)

    @property
    def data(self) -> dict[str, str]:
        """The dict view (DictKVClient only) — what tests assert against."""
        return self.client.data


@dataclass
class TopNFeedback:
    """Orchestrates the two streaming queries of the reference pipeline.

    The leaderboard query accumulates per-(window, key) counts in driver
    state (the foreachBatch mirror of the state store), tracks the max event
    time seen, and after every micro-batch recomputes the snapshot: the
    top-N keys of the most recent CLOSED window (window_end <= max_ts -
    watermark) — the analog of "the last window that fired". The filter
    query checks each micro-batch against the latest snapshot.
    """

    spark: SparkSession
    sf_dir: str
    key_col: str = "event_type"
    n: int = 3
    watermark_s: int = 1
    kv: KVStore = field(default_factory=KVStore)
    #: direct parquet directory to stream instead of a testdata table — the
    #: path is stable across restarts, which checkpoint offsets require
    src_path: str | None = None
    #: enables restartable mode: engine state checkpoints here, and the
    #: driver mirror write-ahead-logs the per-batch top-N cut to
    #: {checkpoint_dir}/counts_log so a restarted process recovers the
    #: snapshot the reference loses (`TopNHashtags.java:303`)
    checkpoint_dir: str | None = None
    max_files_per_trigger: int | None = None
    #: compact the counts WAL in-run every this many micro-batches (None
    #: disables): a long-running job's log then stays O(live windows x n)
    #: without waiting for a restart-time restore to truncate it
    compact_every: int | None = 16

    def __post_init__(self):
        #: window_start -> {key -> cnt}, each inner dict bounded to n entries
        self._top: dict[object, dict[str, int]] = {}
        #: window_start -> window_end
        self._wend: dict[object, object] = {}
        self._max_ts = None
        self.snapshot: list[str] = []  # latest top-N keys (empty = cold start)
        self._out_dir = scratch_dir("matches") + "/out"
        self._log_dir = (
            self.checkpoint_dir + "/counts_log" if self.checkpoint_dir else None
        )
        self._batches_since_compact = 0
        #: counts log schema: from a logged micro-batch or the restored log
        self._log_schema = None
        if self._log_dir:
            self._restore()

    def _merge(self, ws, wend, key: str, cnt: int) -> None:
        """Fold one (window, key, cnt) emission into the bounded mirror.

        Lossless despite keeping only n entries per window, because windowed
        counts are MONOTONE and update mode re-emits a key's full value on
        every change: an evicted key's value is frozen until it re-emits,
        while the n keys that beat it (same total order as the leaderboard:
        cnt desc, key asc) only grow — so its rank can never recover without
        a re-emission, which re-inserts it. The same argument makes the
        per-batch distributed top-N cut in `_update_leaderboard` lossless."""
        d = self._top.setdefault(ws, {})
        self._wend[ws] = wend
        d[key] = cnt
        if len(d) > self.n:
            worst = max(d.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            del d[worst]

    def _restore(self) -> None:
        """Rebuild the driver mirror from the write-ahead counts log, at
        O(windows x n) driver cost: `_live_top` reduces the log DISTRIBUTED
        (live-window filter, latest-value dedup, per-window top-N), so only
        <= live windows x n rows reach the driver even when the log spans
        the job's whole history. After a successful restore the log is
        COMPACTED down to exactly the mirror's contents, so restore cost
        stays O(live windows x n) instead of growing with every micro-batch
        ever run."""
        import os

        if not self._log_dir or not os.path.isdir(self._log_dir):
            return
        # A crash can leave the log dir existing but with NO committed
        # parquet part files (only a hidden .part-*.parquet.tmp from the
        # first WAL write, or a _temporary dir from a log Spark wrote):
        # that exact condition is a recoverable cold start. It is
        # detected explicitly — any other read failure (corrupt footer,
        # schema conflict, IO error) propagates, because silently cold-
        # starting on those would serve wrong snapshots with no error.
        committed = [
            f
            for f in os.listdir(self._log_dir)
            if f.startswith("part-") and f.endswith(".parquet")
        ]
        if not committed:
            return
        log = self.spark.read.parquet(self._log_dir)
        reduced = self._live_top(log)
        if reduced is None:
            return
        top, frontier = reduced
        rows = top.collect()  # <= (live windows + 1) x n rows
        for row in rows:
            self._merge(
                row["window_start"], row["window_end"],
                row[self.key_col], row["cnt"],
            )
        self._max_ts = frontier
        self._log_schema = log.schema
        self._recompute_snapshot()
        # skip the rewrite when the log already IS the bounded cut (e.g. a
        # restart with no new micro-batches since the last restore)
        if log.count() > len(rows):
            self._compact_log()

    def _live_top(self, log: DataFrame):
        """Reduce a possibly long WAL DISTRIBUTED to the rows the mirror can
        ever use (restart only — in a run the mirror already holds them):
        filter to live windows + the single most recent closed one FIRST
        (everything `_recompute_snapshot` can see), then latest-value dedup
        (`max(cnt)` per (window, key) — counts only grow, which also absorbs
        at-least-once replays) and the per-window top-N rank. Returns
        ``(top_df, frontier)``, or None for an empty log."""
        import datetime

        from twitter_flink_spark.operators.topn import topn_per_group

        frontier = log.agg(F.max("max_ts")).collect()[0][0]
        if frontier is None:
            return None
        wm = frontier - datetime.timedelta(seconds=self.watermark_s)
        closed = log.where(F.col("window_end") <= F.lit(wm))
        last_closed = closed.agg(F.max("window_start")).collect()[0][0]
        live = log.where(F.col("window_end") > F.lit(wm))
        if last_closed is not None:
            live = live.unionByName(
                closed.where(F.col("window_start") == F.lit(last_closed))
            )
        latest = live.groupBy("window_start", self.key_col).agg(
            F.max("cnt").alias("cnt"),
            F.max("window_end").alias("window_end"),
        )
        top = topn_per_group(
            latest, ("window_start",), "cnt", (self.key_col,), n=self.n
        )
        return top, frontier

    def _write_log(self, entries, frontier, dest_dir: str) -> None:
        """Write WAL rows — ``(window_start, window_end, key, cnt)``
        entries, ``max_ts`` set to ``frontier`` — into ``dest_dir`` as ONE
        parquet file, from the driver, with no Spark job: the rows are
        already here and the log dir is driver-local (the way Spark writes
        its own offset and commit logs). Typed by the log's own schema
        (the column order `windowed_stream_counts` fixes; a non-string
        key_col logs exactly the type it streams with). `arrow_table`
        converts the values with each type's ``toInternal`` — the inverse
        of what ``collect()`` applied — so timestamps land as UTC micros
        whatever the driver's local time zone. The file is written hidden
        and renamed into place: readers (Spark's listing, `_restore`) skip
        dot files, so a crash mid-write leaves nothing they read."""
        import os

        import pyarrow.parquet as pq

        table = arrow_table(
            [(*e, frontier) for e in entries], self._log_schema
        )
        name = f"part-{uuid.uuid4()}.parquet"
        tmp = os.path.join(dest_dir, f".{name}.tmp")
        os.makedirs(dest_dir, exist_ok=True)
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(dest_dir, name))

    def _compact_log(self) -> None:
        """Rewrite the append-only counts log to the driver mirror: after
        `_recompute_snapshot` it holds exactly open windows ∪ {last closed},
        <= n keys each — the row set `_live_top` would derive from the log
        (monotone-count argument in `_merge`) — so compaction is one
        driver-written file (`_write_log`, ``max_ts`` = the mirror's
        frontier) and no re-read of the log. Crash-safe without a manifest:
        the compacted generation is published by the pointer swap
        (`commit.replace_dir`), so the log dir names the old or the new
        generation at every instant — at worst a crash costs one
        compaction, never the log."""
        import shutil

        entries = [
            (ws, self._wend[ws], key, cnt)
            for ws, d in self._top.items()
            for key, cnt in d.items()
        ]
        tmp = self._log_dir + ".compact"
        shutil.rmtree(tmp, ignore_errors=True)
        self._write_log(entries, self._max_ts, tmp)
        # pointer swap (symlink renamed in one atomic step): a reader —
        # or a restore racing this compaction — sees the old or the new
        # log at every instant, never a missing dir
        replace_dir(tmp, self._log_dir)

    def _maybe_compact_in_run(self) -> None:
        """In-run WAL compaction (every ``compact_every`` micro-batches):
        without it the log grows with every micro-batch until the next
        restart. The rewrite is `_compact_log` — the mirror, written from
        the driver; the log is not read. foreachBatch calls are serialized
        on the driver, so no append can race the directory swap."""
        self._batches_since_compact += 1
        if self._batches_since_compact >= self.compact_every:
            self._compact_log()
            self._batches_since_compact = 0

    # -- leaderboard side (reference O6-O9 + O13) --

    def _update_leaderboard(self, batch_df: DataFrame, batch_id: int) -> None:
        record_batch_df_plan(f"leaderboard-b{batch_id}", batch_df)
        from pyspark.sql import Observation

        from twitter_flink_spark.operators.topn import topn_per_group

        # ONE execution of the stateful plan per micro-batch: foreachBatch
        # hands over an RDD-backed frame, so every action on it re-runs the
        # state-store stage. The event-time frontier is therefore OBSERVED
        # (max over every delta row) inside the same job that collects the
        # per-window top-N cut (row_number over window_start →
        # WindowGroupLimit: per-partition heaps ship at most n rows per
        # window). The driver only ever sees <= (windows-in-batch x n) rows;
        # the cut is lossless for monotone counts — see `_merge`. This is
        # the reference's own bound: its broadcast carries exactly N rows
        # (`TopNHashtags.java:131,284-288`).
        obs = Observation()
        rows = topn_per_group(
            batch_df.observe(obs, F.max("max_ts").alias("frontier")),
            ("window_start",), "cnt", (self.key_col,), n=self.n,
        ).collect()
        frontier = obs.get["frontier"]
        if frontier is None:  # empty micro-batch
            return
        entries = [
            (r["window_start"], r["window_end"], r[self.key_col], r["cnt"])
            for r in rows
        ]
        if self._log_dir:
            # write-ahead: log the cut (not the full delta) before mutating
            # the mirror, so a crash between the two replays the batch
            # (at-least-once) and _restore's max(cnt) dedups. max_ts is the
            # BATCH frontier: the per-row max could sit on a cut-away row,
            # and _restore needs the true watermark. The <= windows x n rows
            # are already on the driver, so the append is one file the
            # driver writes itself: no Spark job, no second pass over the
            # batch.
            self._log_schema = batch_df.schema
            self._write_log(entries, frontier, self._log_dir)
        for e in entries:
            self._merge(*e)
        if self._max_ts is None or frontier > self._max_ts:
            self._max_ts = frontier
        self._recompute_snapshot()
        if self._log_dir and self.compact_every:
            self._maybe_compact_in_run()

    def _recompute_snapshot(self) -> None:
        import datetime

        if self._max_ts is None:
            return
        wm = self._max_ts - datetime.timedelta(seconds=self.watermark_s)
        closed = [ws for ws, wend in self._wend.items() if wend <= wm]
        if not closed:
            return
        last_ws = max(closed)
        ranked = sorted(
            self._top[last_ws].items(), key=lambda kc: (-kc[1], kc[0])
        )[: self.n]
        self.snapshot = [key for key, _ in ranked]
        self.kv.upsert(ranked)
        # Evict state the snapshot can never need again: windows fully below
        # the watermark AND older than the one just snapshotted. Keeping
        # last_ws matters for correctness: update-mode rows carry full
        # aggregated values, so an evicted entry that gets a late re-emission
        # re-inserts cleanly — but only SOME keys of a window re-emit, and a
        # partially-resurrected window older than last_ws must never win the
        # `max(ws)` race. With the per-window n-bound in `_merge`, driver
        # state is O((open windows + 1) x n) — same bound the engine's state
        # store gets from the watermark, and the reference's own broadcast
        # size (`TopNHashtags.java:131`).
        for ws in [ws for ws in closed if ws < last_ws]:
            del self._top[ws]
            del self._wend[ws]

    def _source(self) -> DataFrame:
        if self.src_path is not None:
            schema = self.spark.read.parquet(self.src_path).schema
            reader = self.spark.readStream.schema(schema)
            if self.max_files_per_trigger is not None:
                reader = reader.option(
                    "maxFilesPerTrigger", str(self.max_files_per_trigger)
                )
            return reader.parquet(self.src_path)
        return stream_table(
            self.spark, self.sf_dir, "events",
            max_files_per_trigger=self.max_files_per_trigger,
        )

    def run_leaderboard(self, timeout_s: int = 300) -> None:
        src = self._source()
        agg = windowed_stream_counts(
            src, key_cols=(self.key_col,), with_max_ts=True,
            watermark=f"{self.watermark_s} second",
        )
        with state_partitions(self.spark):
            writer = (
                agg.writeStream.outputMode("update")
                .foreachBatch(self._update_leaderboard)
                .trigger(availableNow=True)
            )
            if self.checkpoint_dir:
                writer = writer.option(
                    "checkpointLocation", self.checkpoint_dir + "/leaderboard"
                )
            q = writer.start()
        await_or_raise(q, timeout_s)

    # -- filter side (reference O10-O12) --

    def _filter_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # NB: foreachBatch hands us a CLONED SparkSession — temp views
        # registered here are invisible to the outer session, so the output
        # sink is a parquet append (the standard foreachBatch sink pattern,
        # and what production would do — per-batch idempotent append).
        snap = self.snapshot
        if not snap:  # cold start: null topN => nothing passes (`:330-333`)
            return
        matched = batch_df.where(F.col(self.key_col).isin(*snap))
        record_batch_df_plan(f"filter-b{batch_id}", matched)
        matched.select(*self._out_cols()).write.mode("append").parquet(
            self._out_dir
        )

    def _out_cols(self) -> list[str]:
        """event_id, key_col, user_id — each once (key_col may be either)."""
        return list(dict.fromkeys(("event_id", self.key_col, "user_id")))

    def run_filter(self, timeout_s: int = 300) -> DataFrame:
        src = stream_table(self.spark, self.sf_dir, "events")
        q = (
            src.writeStream.outputMode("append")
            .foreachBatch(self._filter_batch)
            .trigger(availableNow=True)
            .start()
        )
        await_or_raise(q, timeout_s)
        import os

        # the batches wrote exactly these columns: read them back with
        # their schema, not with a footer-inference job
        schema = src.select(*self._out_cols()).schema
        if os.path.isdir(self._out_dir):
            return self.spark.read.schema(schema).parquet(self._out_dir)
        return local_frame(self.spark, [], schema)


class IncrementalMV:
    """Incrementally-maintained materialized view: a keyed aggregate table
    kept up to date by merging each micro-batch's partial aggregates into a
    persistent snapshot inside ``foreachBatch`` — the streaming
    upsert-into-table pattern (Delta/Iceberg ``MERGE INTO`` at scale; here
    hand-rolled over parquet with the same I/O shape).

    Why partials-then-merge instead of a complete-mode aggregate: complete
    mode re-emits the WHOLE aggregate every trigger (unbounded output at
    scale), and update mode still keeps all keys in the state store. The
    MV pattern keeps NO stream state at all — each batch reduces to its
    per-key partials (map-side combine) before touching the snapshot.

    Scale design — the snapshot is hash-bucketed by key
    (``pmod(hash(key), n_buckets)``) with one directory-of-versions per
    bucket, so a micro-batch only READS and REWRITES the buckets whose
    keys it actually touches: merge I/O is O(touched buckets), not
    O(snapshot). Untouched bucket files are never opened (a test pins them
    byte-identical across a merge). A real table format gets the same
    pruning from MERGE INTO on a bucketed/partitioned table.

    Restart safety (foreachBatch is at-least-once): the commit point is an
    atomic ``os.replace`` of ``_manifest.json`` recording every bucket's
    current version AND the last-merged ``batch_id``; a replayed batch id
    is skipped, and a crash mid-write leaves only orphan version dirs that
    the manifest never references (re-merge reads the old versions).

    The manifest also records the snapshot ``schema``, and every read of
    a bucket version goes through `_read` with it: the engine wrote those
    files, so a schema-less read (one footer-inference job per call) would
    only re-derive what is already known.
    """

    def __init__(
        self,
        spark,
        key_col: str = "user_id",
        n_buckets: int = 16,
        root: str | None = None,
        retain_history: bool = False,
        changelog_dir: str | None = None,
    ):
        import json
        import os

        self.spark = spark
        self.key_col = key_col
        self.n_buckets = n_buckets
        #: time-travel mode: archive every committed manifest under
        #: _manifests/ and KEEP superseded bucket versions, so
        #: `snapshot_as_of` can reconstruct the table at any past batch —
        #: the table-format snapshot-isolation story (Delta/Iceberg
        #: VERSION AS OF), retention bounded by an explicit `vacuum`
        self.retain_history = retain_history
        #: logged CDF mode: each merge also APPENDS its typed changelog
        #: (insert/update rows with pre+post images) before the manifest
        #: commit — the continuously-fed form of the derived version
        #: diff. A crash between changelog append and manifest commit
        #: replays the batch and re-appends IDENTICAL rows (same prior
        #: state), so consumers dedup with one distinct — the standard
        #: at-least-once feed contract.
        self.changelog_dir = changelog_dir
        self._root = root or scratch_dir("mv")
        #: bucket id -> current committed version (1-based); manifest mirror
        self._buckets: dict[int, int] = {}
        self._last_batch_id: int | None = None
        #: the bucket files' schema (manifest mirror; None until known)
        self._schema: StructType | None = None
        if os.path.isfile(self._manifest_path()):
            # a restarted process resumes from the last committed manifest —
            # the state the reference loses on restart, kept durable here
            with open(self._manifest_path()) as fh:
                m = json.load(fh)
            # the bucketing function is part of the on-disk layout: resuming
            # with a different n_buckets (or key) would route keys to buckets
            # the merge never reads, silently accumulating duplicate keys
            for attr in ("n_buckets", "key_col"):
                if m[attr] != getattr(self, attr):
                    raise ValueError(
                        f"IncrementalMV manifest at {self._root} was written "
                        f"with {attr}={m[attr]!r}; resuming with "
                        f"{getattr(self, attr)!r} would mis-bucket keys"
                    )
            self._last_batch_id = m["last_batch_id"]
            self._buckets = {int(b): v for b, v in m["buckets"].items()}
            self._schema = StructType.fromJson(m["schema"])

    # -- layout helpers ----------------------------------------------------
    def _bucket_dir(self, b: int, v: int) -> str:
        import os

        return os.path.join(self._root, f"b{b}", f"v{v}")

    def _manifest_path(self) -> str:
        import os

        return os.path.join(self._root, "_manifest.json")

    def _commit_manifest(self) -> None:
        import os

        write_json(  # atomic commit point
            self._manifest_path(),
            {
                "last_batch_id": self._last_batch_id,
                "buckets": {str(b): v for b, v in self._buckets.items()},
                "n_buckets": self.n_buckets,
                "key_col": self.key_col,
                "schema": self._schema.jsonValue(),
            },
        )
        if self.retain_history:
            import shutil

            hist = os.path.join(self._root, "_manifests")
            os.makedirs(hist, exist_ok=True)
            shutil.copyfile(
                self._manifest_path(),
                os.path.join(
                    hist, f"m{self._last_batch_id:012d}.json"
                ),
            )

    def _read(self, dirs: list[str]):
        """Bucket-version dirs as one frame, read with the manifest's
        schema (no inference job). The only reader of bucket versions."""
        return self.spark.read.schema(self._schema).parquet(*dirs)

    def _bucket_expr(self):
        from pyspark.sql import functions as F

        return F.pmod(F.hash(self.key_col), F.lit(self.n_buckets))

    # -- aggregate hooks (overridden by MV variants) -------------------------
    def _partial(self, batch_df):
        """One micro-batch reduced to its per-key partial aggregates."""
        from pyspark.sql import functions as F

        return batch_df.groupBy(self.key_col).agg(
            F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("val")
        )

    def _merge(self, snap, partial):
        """Merge a batch's partials into the prior snapshot rows (both
        arguments carry the key plus this MV's value columns)."""
        from pyspark.sql import functions as F

        prior = snap.select(
            self.key_col,
            F.col("cnt").alias("s_cnt"),
            F.col("val").alias("s_val"),
        )
        return prior.join(partial, self.key_col, "full_outer").select(
            self.key_col,
            (
                F.coalesce("s_cnt", F.lit(0)) + F.coalesce("cnt", F.lit(0))
            ).alias("cnt"),
            (
                F.coalesce("s_val", F.lit(0.0))
                + F.coalesce("val", F.lit(0.0))
            ).alias("val"),
        )

    _EMPTY_VALUE_SCHEMA = "cnt long, val double"

    # -- merge -------------------------------------------------------------
    def merge_batch(self, batch_df, batch_id: int) -> None:
        import os
        import shutil

        from pyspark.sql import functions as F

        if self._last_batch_id is not None and batch_id <= self._last_batch_id:
            return  # replayed micro-batch (at-least-once) — already merged

        partial = self._partial(batch_df).withColumn(
            "bucket", self._bucket_expr()
        )
        # no persist: the merge job below re-derives the partial agg, which
        # is cheaper than materializing a cache (measured ~10x on a
        # micro-batch) and keeps executor memory clear of batch residue.
        # The collect is a tiny driver list bounded by n_buckets, NOT O(keys)
        touched = sorted(
            r.bucket for r in partial.select("bucket").distinct().collect()
        )
        prior = [
            self._bucket_dir(b, self._buckets[b])
            for b in touched
            if b in self._buckets
        ]
        snap = None
        if prior:
            snap = self._read(prior).drop("bucket")
            merged = self._merge(
                snap, partial.drop("bucket")
            ).withColumn("bucket", self._bucket_expr())
        else:
            merged = partial
        record_batch_df_plan(f"mv-merge-b{batch_id}", merged)
        if self.changelog_dir is not None:
            # the changelog job re-reads merged; cache one evaluation
            merged = merged.persist()
        # one job writes every touched bucket into a staging dir; the
        # hive-style bucket=<b> subdirs then slot in as new versions.
        # Hash-repartition BY BUCKET first: each bucket then lands in
        # exactly one task → one file per bucket version, instead of
        # shuffle-partition-count tiny files per bucket. One task per core
        # is enough for that — n_buckets tasks would mostly queue behind
        # each other to write a handful of rows each
        stage = os.path.join(self._root, f"_stage_{batch_id}")
        write_tasks = min(
            self.n_buckets, self.spark.sparkContext.defaultParallelism
        )
        (
            merged.repartition(write_tasks, "bucket")
            .write.partitionBy("bucket")
            .mode("overwrite")
            .parquet(stage)
        )
        if self.changelog_dir is not None:
            try:
                self._append_changelog(batch_id, snap, merged)
            finally:
                merged.unpersist()
        superseded: list[str] = []
        for b in touched:
            src_dir = os.path.join(stage, f"bucket={b}")
            if not os.path.isdir(src_dir):  # all rows of b were null-keyed
                continue
            new_v = self._buckets.get(b, 0) + 1
            if b in self._buckets:
                superseded.append(self._bucket_dir(b, self._buckets[b]))
            dst = self._bucket_dir(b, new_v)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            # a crashed earlier attempt may have left an orphan dir at the
            # next version slot; the manifest never referenced it, so it is
            # dead weight — clear it before publishing the new files
            shutil.rmtree(dst, ignore_errors=True)
            os.rename(src_dir, dst)
            self._buckets[b] = new_v
        self._last_batch_id = batch_id
        self._schema = merged.drop("bucket").schema
        self._commit_manifest()
        # only after the commit is durable, drop superseded versions —
        # unless history is retained for time travel (then a past
        # manifest still references them; `vacuum` bounds retention)
        if not self.retain_history:
            for d in superseded:
                shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(stage, ignore_errors=True)

    def vacuum(self, stage_min_age_s: float = 3600.0) -> dict:
        """Dead-file GC — the maintenance sibling of compaction: delete
        every version directory the manifest does NOT reference (orphans
        from merges that crashed before their manifest commit, and
        superseded generations whose post-commit cleanup died) plus
        stranded ``_stage_*`` staging dirs OLDER than
        ``stage_min_age_s``. The manifest is the single source of truth
        for VERSION dirs, so that half is safe at any time: a crash
        mid-vacuum just leaves fewer orphans, and readers only ever open
        manifest-referenced dirs. Staging dirs are different — an
        in-flight ``merge_batch`` writes its stage BEFORE the version
        renames, so deleting a fresh stage would fail a live merge; the
        age threshold (default 1 h, far beyond any batch's stage-to-
        commit window) is what makes the scheduled-job usage safe.
        Pass ``stage_min_age_s=0`` only on a quiesced table (no merge
        in flight) to reclaim everything immediately. Returns accounting
        ``{live, removed_versions, removed_stage}`` — at scale this runs
        as a scheduled job whose removed-bytes metric is the signal that
        merge crash-rates need attention."""
        import os
        import shutil
        import time

        live = {(b, v) for b, v in self._buckets.items()}
        # retained-history mode: every version a RETAINED manifest still
        # references is live too (vacuum with pruned manifest history is
        # how retention gets bounded — delete old _manifests entries
        # first, then vacuum reclaims their exclusive versions)
        for m in self._history_manifests():
            live |= {(int(b), v) for b, v in m["buckets"].items()}
        removed_versions = 0
        removed_stage = 0
        for entry in os.listdir(self._root):
            path = os.path.join(self._root, entry)
            if entry.startswith("_stage_") and os.path.isdir(path):
                age = time.time() - os.path.getmtime(path)
                if age >= stage_min_age_s:
                    shutil.rmtree(path, ignore_errors=True)
                    removed_stage += 1
                continue
            if not (
                entry.startswith("b")
                and entry[1:].isdigit()
                and os.path.isdir(path)
            ):
                continue
            b = int(entry[1:])
            for ventry in os.listdir(path):
                if not (ventry.startswith("v") and ventry[1:].isdigit()):
                    continue
                if (b, int(ventry[1:])) not in live:
                    shutil.rmtree(
                        os.path.join(path, ventry), ignore_errors=True
                    )
                    removed_versions += 1
        return {
            "live": len(live),
            "removed_versions": removed_versions,
            "removed_stage": removed_stage,
        }

    def _append_changelog(self, batch_id: int, snap, merged) -> None:
        """Append this merge's typed changelog: the post-image of every
        key whose value actually CHANGED (null-safe diff against the
        prior touched-bucket rows — a re-seen presence pair or identical
        re-aggregation emits nothing), tagged insert/update_postimage,
        with pre-image columns for delta-applying consumers. One keyed
        left join at the merged-buckets grain; rows the batch didn't
        change never enter the feed."""
        from pyspark.sql import functions as F

        keys = list(getattr(self, "key_cols", None) or [self.key_col])
        vals = [
            c for c in merged.columns if c not in set(keys) | {"bucket"}
        ]
        post = merged.drop("bucket")
        if snap is None:
            out = post.select(
                F.lit(batch_id).alias("batch_id"),
                F.lit("insert").alias("change_type"),
                *keys,
                *vals,
                *[
                    F.lit(None).cast(post.schema[v].dataType).alias(
                        f"pre_{v}"
                    )
                    for v in vals
                ],
            )
        else:
            pre = snap.select(
                *keys,
                F.lit(1).alias("__had"),
                *[F.col(v).alias(f"pre_{v}") for v in vals],
            )
            d = post.join(pre, keys, "left")
            changed = d.where(
                F.col("__had").isNull()
                | ~functools_reduce_and(
                    [
                        F.col(v).eqNullSafe(F.col(f"pre_{v}"))
                        for v in vals
                    ]
                )
            )
            out = changed.select(
                F.lit(batch_id).alias("batch_id"),
                F.when(F.col("__had").isNull(), F.lit("insert"))
                .otherwise(F.lit("update_postimage"))
                .alias("change_type"),
                *keys,
                *vals,
                *[F.col(f"pre_{v}") for v in vals],
            )
        out.write.mode("append").parquet(self.changelog_dir)

    # -- durable consumer offsets (changelog checkpointing) ------------------
    def _consumers_path(self) -> str:
        import os

        return os.path.join(self._root, "_consumers.json")

    def consumer_offsets(self) -> dict[str, int]:
        """Read the durable consumer-offset registry (consumer name ->
        highest batch_id that consumer has fully applied; -1 = registered
        but nothing applied yet). Read from disk on every call so a
        restarted process — or a second process sharing the MV root —
        always sees the committed offsets, never a stale mirror."""
        import json
        import os

        if not os.path.isfile(self._consumers_path()):
            return {}
        with open(self._consumers_path()) as fh:
            return {k: int(v) for k, v in json.load(fh).items()}

    def _write_consumers(self, offsets: dict[str, int]) -> None:
        write_json(self._consumers_path(), offsets)  # atomic, as the manifest

    def register_consumer(self, name: str) -> None:
        """Register a changelog reader. A new consumer starts at offset
        -1 (it has applied nothing), which pins the safe compaction
        point at -1 until its first ack — registering a reader is what
        PROTECTS the feed's history for it. Re-registering an existing
        consumer is a no-op (its progress is kept)."""
        offsets = self.consumer_offsets()
        if name not in offsets:
            offsets[name] = -1
            self._write_consumers(offsets)

    def ack_consumer(self, name: str, batch_id: int) -> None:
        """Durably record that ``name`` has fully applied every change
        with ``batch_id <=`` the given id. Monotonic by contract: a
        regressing ack raises instead of silently un-protecting log
        ranges a prior ack already released for compaction."""
        offsets = self.consumer_offsets()
        if name not in offsets:
            raise KeyError(
                f"consumer {name!r} is not registered on this changelog; "
                f"call register_consumer first"
            )
        if batch_id < offsets[name]:
            raise ValueError(
                f"consumer {name!r} ack regressed: {batch_id} < committed "
                f"offset {offsets[name]}"
            )
        offsets[name] = batch_id
        self._write_consumers(offsets)

    def safe_compaction_point(self) -> int | None:
        """The highest batch_id every registered consumer has applied —
        min over committed offsets — or None when no consumer is
        registered (nothing is known about readers, so nothing is known
        to be safe)."""
        offsets = self.consumer_offsets()
        if not offsets:
            return None
        return min(offsets.values())

    def compact_changelog(self, upto_batch: int | None = None) -> None:
        """Compact the CDF log: replace every entry with
        ``batch_id <= upto_batch`` (a consumer checkpoint — everything
        all readers have already applied) by ONE net change per key:
        the post-image at the range's max batch_id, typed insert iff
        the key's FIRST in-range change was an insert (its pre-image
        carries over, so delta-applying consumers stay exact). Entries
        beyond the checkpoint are preserved verbatim. Reconstruction is
        invariant (distinct + max_by(batch_id) sees the same winners),
        so the log stays O(keys + post-checkpoint changes) instead of
        growing with every batch ever merged — the same at-rest bound
        the counts WAL gets, via the same crash-safe commit: the
        compacted log is staged as ``.compact`` and published by the
        pointer swap (`commit.replace_dir`).

        With ``upto_batch=None`` the checkpoint DERIVES from the durable
        consumer registry: the slowest registered consumer's committed
        offset (`safe_compaction_point`), so maintenance can never
        outrun a reader. Deriving with no registered consumers raises —
        there is no basis to call any range safe; a registry whose
        slowest consumer has applied nothing (offset -1) makes the call
        a no-op instead of rewriting the log for an empty range."""
        import os
        import shutil

        from pyspark.sql import functions as F

        if upto_batch is None:
            upto_batch = self.safe_compaction_point()
            if upto_batch is None:
                raise ValueError(
                    "compact_changelog(upto_batch=None) needs at least one "
                    "registered consumer to derive the safe point; register "
                    "consumers or pass an explicit upto_batch"
                )
            if upto_batch < 0:
                return  # slowest consumer has applied nothing: keep all
        keys = list(getattr(self, "key_cols", None) or [self.key_col])
        log = self.spark.read.parquet(self.changelog_dir).distinct()
        vals = [
            f.name
            for f in log.schema.fields
            if f.name not in {"batch_id", "change_type", *keys}
            and not f.name.startswith("pre_")
        ]
        pres = [f"pre_{v}" for v in vals]
        old = log.where(F.col("batch_id") <= upto_batch)
        keep = log.where(F.col("batch_id") > upto_batch)
        net = (
            old.groupBy(*keys)
            .agg(
                F.max("batch_id").alias("batch_id"),
                F.max_by(F.struct(*vals), "batch_id").alias("__post"),
                F.min_by(
                    F.struct("change_type", *pres), "batch_id"
                ).alias("__first"),
            )
            .select(
                "batch_id",
                F.col("__first.change_type").alias("change_type"),
                *keys,
                *[F.col(f"__post.{v}").alias(v) for v in vals],
                *[F.col(f"__first.{p}").alias(p) for p in pres],
            )
        )
        order = [f.name for f in log.schema.fields]
        out = net.select(*order).unionByName(keep.select(*order))
        tmp = self.changelog_dir + ".compact"
        shutil.rmtree(tmp, ignore_errors=True)
        out.write.mode("overwrite").parquet(tmp)
        # pointer swap: CDF consumers reading the changelog concurrently
        # never observe a missing dir between generations
        replace_dir(tmp, self.changelog_dir)

    def lookup(self, keys: list) -> "DataFrame":
        """Point lookup: serve specific keys by opening ONLY the bucket
        files those keys hash to — the bucket function doubles as a
        secondary index because it is derivable from the key alone
        (pmod(hash(key), n_buckets)), so a k-key lookup reads at most k
        bucket dirs out of the whole snapshot, O(snapshot/n_buckets)
        I/O instead of a full scan. This is the serving path a feature
        store needs from the same layout the merge path maintains —
        no extra index table to keep consistent. Key-to-bucket routing
        runs through the SAME Spark hash expression the merge uses
        (computed on a tiny literal frame), so the index can never skew
        from the layout. Composite-key MVs (``key_cols`` set, e.g.
        ``GroupedCountMV``) look up by TUPLES, one element per key
        column; single-key MVs accept scalars (tuples of one also
        work)."""
        from pyspark.sql import functions as F

        join_cols = list(getattr(self, "key_cols", None) or [self.key_col])
        rows = [k if isinstance(k, tuple) else (k,) for k in keys]
        if rows and len(rows[0]) != len(join_cols):
            raise ValueError(
                f"lookup keys must have {len(join_cols)} element(s) "
                f"({join_cols}); got {len(rows[0])}"
            )
        key_df = local_frame(
            self.spark, rows, self._EMPTY_KEY_SCHEMA or f"{self.key_col} long"
        )
        wanted = {
            r["b"]
            for r in key_df.select(
                self._bucket_expr().alias("b")
            ).distinct().collect()  # <= len(keys) rows
        }
        dirs = [
            self._bucket_dir(b, v)
            for b, v in self._buckets.items()
            if b in wanted
        ]
        if not dirs:
            key_schema = self._EMPTY_KEY_SCHEMA or f"{self.key_col} long"
            return local_frame(
                self.spark, [], f"{key_schema}, {self._EMPTY_VALUE_SCHEMA}"
            )
        return self._read(dirs).join(F.broadcast(key_df), join_cols)

    def _history_manifests(self) -> list[dict]:
        """All archived manifests (retain_history mode), oldest first."""
        import json
        import os

        hist = os.path.join(self._root, "_manifests")
        if not os.path.isdir(hist):
            return []
        out = []
        for f in sorted(os.listdir(hist)):
            if f.startswith("m") and f.endswith(".json"):
                with open(os.path.join(hist, f)) as fh:
                    out.append(json.load(fh))
        return out

    def snapshot_as_of(self, batch_id: int):
        """Time-travel read (``VERSION AS OF`` in table-format terms):
        the MV as it stood after the last merged batch <= ``batch_id``,
        reconstructed from the archived manifest of that commit — each
        manifest pins the exact (bucket, version) set of its moment, and
        retained superseded version dirs make every pinned set readable.
        Snapshot isolation for free: a reader holding an old manifest is
        untouched by later merges, because merges only ADD version dirs
        and the atomic manifest replace is the only publication point.
        Requires ``retain_history=True``; retention is bounded by
        pruning ``_manifests/`` entries and running `vacuum`."""
        if not self.retain_history:
            raise ValueError(
                "snapshot_as_of needs retain_history=True (no archived "
                "manifests exist otherwise)"
            )
        chosen = None
        for m in self._history_manifests():
            if m["last_batch_id"] <= batch_id:
                chosen = m  # manifests sort oldest-first; keep the latest
        if chosen is None:
            key_schema = self._EMPTY_KEY_SCHEMA or f"{self.key_col} long"
            return local_frame(
                self.spark, [], f"{key_schema}, {self._EMPTY_VALUE_SCHEMA}"
            )
        dirs = [
            self._bucket_dir(int(b), v)
            for b, v in chosen["buckets"].items()
        ]
        return self._read(dirs)

    #: overridden where the key is composite or non-long
    _EMPTY_KEY_SCHEMA: str | None = None

    def snapshot(self):
        dirs = [self._bucket_dir(b, v) for b, v in self._buckets.items()]
        if not dirs:
            key_schema = self._EMPTY_KEY_SCHEMA or f"{self.key_col} long"
            return local_frame(
                self.spark, [], f"{key_schema}, {self._EMPTY_VALUE_SCHEMA}"
            )
        return self._read(dirs)


class PresenceMV(IncrementalMV):
    """Distinct-presence MV: the snapshot is the distinct
    ``(key, field)`` pair set — each micro-batch reduces to its OWN
    distinct pairs (map-side combine of the heavy duplication) and the
    merge is a union+distinct against only the touched buckets. This is
    the incremental form of any count-distinct-downstream aggregate
    whose distinct grain is bounded (here users x days, data-size
    independent): the MV maintains the reduced grain, and consumers
    derive their matrices from the snapshot without ever replaying the
    event history. ``prepare`` maps a raw micro-batch to (key, field)
    rows; it runs inside foreachBatch on the driver, so a plain closure
    works."""

    def __init__(
        self,
        spark,
        key_col: str,
        field_col: str,
        prepare=None,
        n_buckets: int = 16,
        root: str | None = None,
        **kwargs,
    ):
        self.field_col = field_col
        self._prepare = prepare
        super().__init__(
            spark, key_col=key_col, n_buckets=n_buckets, root=root, **kwargs
        )

    _EMPTY_VALUE_SCHEMA = "d date"

    def _partial(self, batch_df):
        if self._prepare is not None:
            batch_df = self._prepare(batch_df)
        return batch_df.select(self.key_col, self.field_col).distinct()

    def _merge(self, snap, partial):
        cols = [self.key_col, self.field_col]
        return (
            snap.select(*cols).unionByName(partial.select(*cols)).distinct()
        )


class GroupedCountMV(IncrementalMV):
    """Additive grouped-count MV over a COMPOSITE key: the snapshot holds
    one count per (group, member) pair, each micro-batch reduces to its
    per-pair partial counts, and the merge coalesce-sums — the exactly
    maintainable grain behind any served top-k-per-group table (pruning
    the snapshot to k rows per group would NOT be correct: a pruned key
    can out-grow a kept one in a later batch, so serving derives the
    top-k at read time from the full pair grain, which is bounded by
    groups x members, not event count). Buckets hash on the full
    composite key."""

    def __init__(
        self,
        spark,
        key_cols,
        key_schema: str | None = None,
        n_buckets: int = 16,
        root=None,
        **kwargs,
    ):
        self.key_cols = list(key_cols)
        self._EMPTY_KEY_SCHEMA = key_schema
        super().__init__(
            spark,
            key_col=",".join(self.key_cols),
            n_buckets=n_buckets,
            root=root,
            **kwargs,
        )

    _EMPTY_VALUE_SCHEMA = "cnt long"

    def _bucket_expr(self):
        from pyspark.sql import functions as F

        return F.pmod(F.hash(*self.key_cols), F.lit(self.n_buckets))

    def _partial(self, batch_df):
        from pyspark.sql import functions as F

        return batch_df.groupBy(*self.key_cols).agg(
            F.count(F.lit(1)).alias("cnt")
        )

    def _merge(self, snap, partial):
        from pyspark.sql import functions as F

        prior = snap.select(*self.key_cols, F.col("cnt").alias("s_cnt"))
        return prior.join(partial, self.key_cols, "full_outer").select(
            *self.key_cols,
            (
                F.coalesce("s_cnt", F.lit(0)) + F.coalesce("cnt", F.lit(0))
            ).alias("cnt"),
        )


class SketchMV(IncrementalMV):
    """Sketch-serving MV: the snapshot holds one DataSketches HLL sketch
    per key (e.g. one per DAY for the rolling-actives serving table) —
    each micro-batch reduces to its OWN per-key sketch partials
    (`hll_sketch_agg`, a mergeable ~KB object built map-side from raw
    values, duplicates absorbed by the sketch itself so no pre-dedup
    shuffle at all) and the merge is `hll_union_agg` over the union of
    prior and partial sketches, touched buckets only.

    This is the incremental form of every trailing-window distinct
    metric at 100 TB: the maintained grain is keys x ~KB — data-size
    independent — and serving unions a handful of sketches per window
    (`hll_rolling_7day_actives`'s rollup) without ever replaying raw
    ids. Unlike `PresenceMV` (exact, but its grain grows with distinct
    pairs), the sketch snapshot's size is FIXED per key, which is what
    makes the daily-sketch table the serving artifact a petabyte event
    history compacts into. ``prepare`` maps a raw micro-batch to
    (key, value) rows driver-side inside foreachBatch."""

    def __init__(
        self,
        spark,
        key_col: str,
        value_col: str,
        prepare=None,
        n_buckets: int = 16,
        root: str | None = None,
        **kwargs,
    ):
        self.value_col = value_col
        self._prepare = prepare
        super().__init__(
            spark, key_col=key_col, n_buckets=n_buckets, root=root, **kwargs
        )

    _EMPTY_KEY_SCHEMA: str | None = "d date"
    _EMPTY_VALUE_SCHEMA = "sk binary"

    def _partial(self, batch_df):
        from pyspark.sql import functions as F

        if self._prepare is not None:
            batch_df = self._prepare(batch_df)
        return batch_df.groupBy(self.key_col).agg(
            F.expr(f"hll_sketch_agg({self.value_col})").alias("sk")
        )

    def _merge(self, snap, partial):
        from pyspark.sql import functions as F

        cols = [self.key_col, "sk"]
        return (
            snap.select(*cols)
            .unionByName(partial.select(*cols))
            .groupBy(self.key_col)
            .agg(F.expr("hll_union_agg(sk)").alias("sk"))
        )
