"""Streaming-layer tests: batch/stream equivalence, the top-N feedback
loop's cold start (reference `TopNHashtags.java:330-333`), and the KV sink's
overwrite-by-rank contract."""

from __future__ import annotations

import datetime

import pytest

from pyspark.sql import functions as F

from twitter_flink_spark.operators.windows import sliding_window_counts
from twitter_flink_spark.sources.tables import load_table
from twitter_flink_spark.streaming.pipeline import (
    KVStore,
    TopNFeedback,
    run_to_memory,
    windowed_stream_counts,
)
from twitter_flink_spark.streaming.sources import stream_table

pytestmark = pytest.mark.slow  # end-to-end micro-batch runs dominate suite wall time

SF_DIR = "/root/testdata/sf0.001"


def test_stream_equals_batch_closed_windows(spark):
    """Streaming append-mode result == batch result on watermark-closed
    windows (Spark's unification invariant pinned to our config)."""
    src = stream_table(spark, SF_DIR, "events")
    stream_res = run_to_memory(windowed_stream_counts(src, key_cols=("event_type",)))

    batch = load_table(spark, SF_DIR, "events")
    b = sliding_window_counts(batch, ts_col="ts", key_cols=("event_type",))
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    wm = max_ts - datetime.timedelta(seconds=1)
    b_closed = b.where(F.col("window_end") <= F.lit(wm))

    a = sorted(tuple(r) for r in stream_res.collect())
    e = sorted(tuple(r) for r in b_closed.collect())
    assert a == e and len(a) > 0


def test_feedback_cold_start_emits_nothing(spark):
    """Filter before any leaderboard fire: null top-N => nothing passes."""
    fb = TopNFeedback(spark, SF_DIR, key_col="event_type", n=3)
    out = fb.run_filter()  # leaderboard never ran
    assert out.count() == 0
    assert fb.snapshot == []


def test_feedback_snapshot_and_kv(spark):
    """After the leaderboard stream: snapshot = top-3 of the last closed
    window; KV store holds rank-keyed entries, overwritten not appended."""
    fb = TopNFeedback(spark, SF_DIR, key_col="event_type", n=3)
    fb.run_leaderboard()
    # the last closed window may hold fewer than n distinct keys (it does in
    # this fixture: a sparse trailing window) — top-N is a cap, not a floor
    assert 1 <= len(fb.snapshot) <= 3
    assert set(fb.kv.data) == {
        f"Top10-{i + 1}" for i in range(len(fb.snapshot))
    }
    for v in fb.kv.data.values():
        key, cnt = v.rsplit(", ", 1)
        assert key in fb.snapshot and int(cnt) > 0

    out = fb.run_filter()
    assert out.count() > 0
    types = {r["event_type"] for r in out.select("event_type").distinct().collect()}
    assert types <= set(fb.snapshot)


def test_feedback_filter_output_plans_without_a_job(spark, monkeypatch):
    """`run_filter` reads its output back with the schema of the columns
    its batches wrote: once the stream has drained, building the
    returned frame runs no schema-inference job, and the frame has the
    schema inference would give."""
    from twitter_flink_spark.streaming import pipeline

    fb = TopNFeedback(spark, SF_DIR, key_col="event_type", n=3)
    fb.run_leaderboard()
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    drained = []
    real_await = pipeline.await_or_raise

    def await_and_mark(q, timeout_s):
        real_await(q, timeout_s)
        drained.append(dag.numTotalJobs())

    monkeypatch.setattr(pipeline, "await_or_raise", await_and_mark)
    out = fb.run_filter()
    assert drained and dag.numTotalJobs() == drained[-1]
    assert out.schema == spark.read.parquet(fb._out_dir).schema
    assert out.count() > 0


def test_feedback_state_bounded_by_watermark(spark):
    """Driver-side leaderboard state must not retain every (window, key) ever
    seen (round-1 leak): after the stream drains, the mirror holds only
    windows still open at the final watermark plus the snapshotted (last
    closed) window, and AT MOST n keys per window — O((open windows + 1) x n),
    the reference's own broadcast bound (`TopNHashtags.java:131`). Snapshot/KV
    results are identical to the unevicted computation (pinned by
    test_feedback_snapshot_and_kv)."""
    fb = TopNFeedback(spark, SF_DIR, key_col="event_type", n=3)
    fb.run_leaderboard()
    assert fb.snapshot  # eviction must not have eaten the snapshot

    batch = load_table(spark, SF_DIR, "events")
    b = sliding_window_counts(batch, ts_col="ts", key_cols=("event_type",))
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    wm = max_ts - datetime.timedelta(seconds=1)
    rows = b.collect()
    total = len(rows)
    closed_ws = [r["window_start"] for r in rows if r["window_end"] <= wm]
    last_ws = max(closed_ws)
    expected_windows = {
        r["window_start"] for r in rows if r["window_end"] > wm
    } | {last_ws}
    assert set(fb._wend) == expected_windows
    assert set(fb._top) == expected_windows
    assert all(len(d) <= fb.n for d in fb._top.values())
    assert sum(len(d) for d in fb._top.values()) < total  # strictly evicted

    # the kept last-closed-window entries ARE the true top-N (cut lossless)
    expected_top = sorted(
        (
            (r["event_type"], r["cnt"])
            for r in rows
            if r["window_start"] == last_ws
        ),
        key=lambda kc: (-kc[1], kc[0]),
    )[: fb.n]
    assert sorted(
        fb._top[last_ws].items(), key=lambda kc: (-kc[1], kc[0])
    ) == expected_top


def test_feedback_mirror_bound_high_cardinality_keys(spark, tmp_path):
    """Scale fixture for the O(windows x n) bound: 400 distinct keys per
    window across 3 sliding-window spans. The driver mirror must hold <= n
    keys per live window regardless of key cardinality, and the snapshot must
    equal the batch-computed top-N of the last closed window — i.e. the
    bounded merge + per-batch distributed cut lose nothing (monotone-count
    argument in TopNFeedback._merge)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    eid = 0
    for minute in range(12):  # spans several 300s/60s sliding windows
        for k in range(400):
            # skewed counts: key k appears (k % 7) + 1 times per minute
            for rep in range((k % 7) + 1):
                eid += 1
                rows.append(
                    (eid, f"key{k:04d}", 1000 + k,
                     base + dt.timedelta(seconds=60 * minute + rep))
                )
    src = str(tmp_path / "hc-events")
    spark.createDataFrame(
        rows, "event_id long, event_type string, user_id long, ts timestamp"
    ).repartition(4).write.parquet(src)

    fb = TopNFeedback(
        spark, SF_DIR, key_col="event_type", n=3, src_path=src,
        max_files_per_trigger=2,
    )
    fb.run_leaderboard()
    assert fb.snapshot

    # bound: <= n keys per window, windows = open ∪ {last closed}
    assert all(len(d) <= fb.n for d in fb._top.values())
    batch = spark.read.parquet(src)
    b = sliding_window_counts(batch, ts_col="ts", key_cols=("event_type",))
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    wm = max_ts - datetime.timedelta(seconds=1)
    brows = b.collect()
    last_ws = max(
        r["window_start"] for r in brows if r["window_end"] <= wm
    )
    n_windows = len(
        {r["window_start"] for r in brows if r["window_end"] > wm} | {last_ws}
    )
    assert len(fb._top) <= n_windows
    assert sum(len(d) for d in fb._top.values()) <= n_windows * fb.n

    # losslessness: snapshot == batch top-N of the last closed window
    expected = [
        k
        for k, _ in sorted(
            (
                (r["event_type"], r["cnt"])
                for r in brows
                if r["window_start"] == last_ws
            ),
            key=lambda kc: (-kc[1], kc[0]),
        )[: fb.n]
    ]
    assert fb.snapshot == expected


def test_kv_store_overwrite_by_rank():
    kv = KVStore()
    kv.upsert([("alpha", 10), ("beta", 7)])
    assert kv.data == {"Top10-1": "alpha, 10", "Top10-2": "beta, 7"}
    kv.upsert([("gamma", 99)])  # a new window fires: full overwrite
    # rank 2 must be explicitly DELETEd on the client — a real store
    # persists keys, so a shorter leaderboard must not leave stale ranks
    assert kv.data == {"Top10-1": "gamma, 99"}


def test_redis_client_adapter_needs_package():
    import pytest

    from twitter_flink_spark.streaming.pipeline import redis_kv_client

    try:
        import redis  # noqa: F401  # pragma: no cover
    except ImportError:
        with pytest.raises(RuntimeError, match="redis"):
            redis_kv_client()
    else:  # pragma: no cover - container ships without redis
        assert hasattr(redis_kv_client(), "set")


def test_kv_store_against_redis_adapter(monkeypatch):
    """The SAME leaderboard contract as test_kv_store_overwrite_by_rank,
    but through `redis_kv_client()` backed by a vendored redis-py-shaped
    fake — covers the production adapter path (import, client construction
    with decode_responses, and the set/delete wire surface redis-py
    exposes) that `DictKVClient` shortcuts."""
    import sys

    import fake_redis

    from twitter_flink_spark.streaming.pipeline import redis_kv_client

    monkeypatch.setitem(sys.modules, "redis", fake_redis)
    client = redis_kv_client(host="example.test", port=6380)
    assert isinstance(client, fake_redis.Redis)
    assert (client.host, client.port) == ("example.test", 6380)
    assert client.decode_responses  # adapter must ask for str responses

    kv = KVStore(client=client)
    kv.upsert([("alpha", 10), ("beta", 7)])
    assert client.get("Top10-1") == "alpha, 10"
    assert client.get("Top10-2") == "beta, 7"
    kv.upsert([("gamma", 99)])  # shorter board: stale rank 2 DELETEd
    assert client.get("Top10-1") == "gamma, 99"
    assert client.get("Top10-2") is None


def test_kv_store_against_live_redis_server():
    """Opportunistic LIVE-server coverage of the O13 sink (round-11
    verdict item 7): the identical leaderboard contract, against a real
    Redis answering on localhost. Skipped unless the `redis` package
    imports AND a server responds to PING — the sandbox ships neither,
    but an environment that does gets the production path exercised
    end-to-end for free."""
    import uuid

    import pytest

    try:
        import redis  # noqa: F401
    except ImportError:
        pytest.skip("redis package not installed")
    from twitter_flink_spark.streaming.pipeline import redis_kv_client

    client = redis_kv_client()
    try:
        client.ping()
    except Exception:
        pytest.skip("no redis server answering on localhost:6379")

    prefix = f"tfs-test-{uuid.uuid4().hex[:8]}-"
    kv = KVStore(prefix=prefix, client=client)
    try:
        kv.upsert([("alpha", 10), ("beta", 7)])
        assert client.get(f"{prefix}1") == "alpha, 10"
        assert client.get(f"{prefix}2") == "beta, 7"
        kv.upsert([("gamma", 99)])  # shorter board: stale rank DELETEd
        assert client.get(f"{prefix}1") == "gamma, 99"
        assert client.get(f"{prefix}2") is None
    finally:
        client.delete(f"{prefix}1")
        client.delete(f"{prefix}2")


def _split_events(spark, dest, n_chunks=4):
    """Write the events table as n time-contiguous parquet files with
    strictly increasing mtimes (the file source batches in mtime order)."""
    import os
    import shutil
    import time

    from pyspark.sql import Window

    ev = load_table(spark, SF_DIR, "events")
    n = ev.count()
    w = Window.orderBy("ts", "event_id")
    idx = ev.withColumn("_i", F.row_number().over(w))
    os.makedirs(dest, exist_ok=True)
    out = []
    for i in range(n_chunks):
        lo, hi = i * n // n_chunks, (i + 1) * n // n_chunks
        stage = f"{dest}-stage{i}"
        (
            idx.where((F.col("_i") > lo) & (F.col("_i") <= hi))
            .drop("_i")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(stage)
        )
        part = next(
            f for f in os.listdir(stage) if f.endswith(".parquet")
        )
        target = os.path.join(dest, f"{i:02d}.parquet")
        shutil.move(os.path.join(stage, part), target)
        shutil.rmtree(stage)
        t = time.time() - (n_chunks - i) * 10
        os.utime(target, (t, t))
        out.append(target)
    return out


def test_feedback_checkpoint_restart(spark, tmp_path):
    """Kill-and-restart the leaderboard between micro-batches: with a
    checkpoint (engine state) + the counts write-ahead log (driver mirror),
    the restarted run's final KV and snapshot equal an uninterrupted run —
    the state the reference loses on restart (`TopNHashtags.java:303`)."""
    import shutil

    full = str(tmp_path / "full")
    files = _split_events(spark, full, n_chunks=4)

    baseline = TopNFeedback(
        spark, SF_DIR, key_col="event_type", n=3,
        src_path=full, max_files_per_trigger=1,
    )
    baseline.run_leaderboard()
    assert baseline.snapshot

    # run 1: only the first half of the data exists; availableNow drains it
    # (2 micro-batches) and the process "dies" (instance dropped)
    grow = str(tmp_path / "grow")
    ck = str(tmp_path / "ck")
    (tmp_path / "grow").mkdir()
    for f in files[:2]:
        shutil.copy2(f, grow)
    fb1 = TopNFeedback(
        spark, SF_DIR, key_col="event_type", n=3,
        src_path=grow, checkpoint_dir=ck, max_files_per_trigger=1,
    )
    fb1.run_leaderboard()
    assert fb1._top  # saw some state before the "crash"

    # run 2: a FRESH instance (new dicts, new KV) on the same checkpoint,
    # after more data arrived — engine state resumes from the checkpoint,
    # the driver mirror restores from the counts log
    for f in files[2:]:
        shutil.copy2(f, grow)
    fb2 = TopNFeedback(
        spark, SF_DIR, key_col="event_type", n=3,
        src_path=grow, checkpoint_dir=ck, max_files_per_trigger=1,
    )
    assert fb2.snapshot == fb1.snapshot  # restored, not cold-started
    fb2.run_leaderboard()

    assert fb2.snapshot == baseline.snapshot
    assert fb2.kv.data == baseline.kv.data


def test_feedback_log_compacted_on_restore(spark, tmp_path):
    """The counts WAL is append-only during a run; a successful restore
    compacts it to the mirror's bounded contents, so restore cost stops
    growing with micro-batch history. The compacted log must still restore
    the identical snapshot (idempotence of compaction)."""
    import shutil

    full = str(tmp_path / "full")
    files = _split_events(spark, full, n_chunks=4)
    grow = str(tmp_path / "grow")
    ck = str(tmp_path / "ck")
    (tmp_path / "grow").mkdir()
    for f in files:
        shutil.copy2(f, grow)
    fb1 = TopNFeedback(
        spark, SF_DIR, key_col="event_type", n=3,
        src_path=grow, checkpoint_dir=ck, max_files_per_trigger=1,
    )
    fb1.run_leaderboard()  # 4 micro-batches append to the log
    log_dir = ck + "/counts_log"
    n_raw = spark.read.parquet(log_dir).count()

    fb2 = TopNFeedback(  # restore → compacts the log
        spark, SF_DIR, key_col="event_type", n=3,
        src_path=grow, checkpoint_dir=ck, max_files_per_trigger=1,
    )
    assert fb2.snapshot == fb1.snapshot
    n_compact = spark.read.parquet(log_dir).count()
    bound = (len(fb2._top) + 1) * fb2.n
    assert n_compact <= bound <= n_raw  # genuinely shrank to the mirror bound

    fb3 = TopNFeedback(  # restore FROM the compacted log: same snapshot
        spark, SF_DIR, key_col="event_type", n=3,
        src_path=grow, checkpoint_dir=ck, max_files_per_trigger=1,
    )
    assert fb3.snapshot == fb1.snapshot


def test_feedback_unreadable_log_cold_starts(spark, tmp_path):
    """A crash can leave {checkpoint}/counts_log existing but with no
    committed parquet footers (only a _temporary dir from the first WAL
    write). That must be a recoverable cold start, not a constructor
    failure."""
    import os

    ck = str(tmp_path / "ck")
    os.makedirs(ck + "/counts_log/_temporary")
    fb = TopNFeedback(
        spark, SF_DIR, key_col="event_type", n=3, checkpoint_dir=ck,
    )
    assert fb.snapshot == [] and not fb._top  # clean cold start


def test_feedback_corrupt_log_raises(spark, tmp_path):
    """A COMMITTED-but-corrupt WAL part file must raise, not silently cold
    start: only the no-committed-footers crash shape (previous test) is
    recoverable — treating a corrupted log as empty would serve wrong
    snapshots with no surfaced error."""
    import os

    import pytest

    ck = str(tmp_path / "ck")
    os.makedirs(ck + "/counts_log")
    with open(ck + "/counts_log/part-00000-garbage.snappy.parquet", "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception):
        TopNFeedback(
            spark, SF_DIR, key_col="event_type", n=3, checkpoint_dir=ck,
        )


def test_feedback_log_compacts_in_run(spark, tmp_path):
    """A long-running job's WAL must stay bounded WITHOUT a restart:
    with compact_every=2, a 4-micro-batch run compacts mid-run, so the
    log's final row count stays at the (open windows + 1) x n mirror
    bound instead of accumulating one top-N cut per batch — and a
    restore from the in-run-compacted log still yields the identical
    snapshot."""
    import shutil

    full = str(tmp_path / "full")
    files = _split_events(spark, full, n_chunks=4)
    grow = str(tmp_path / "grow")
    ck = str(tmp_path / "ck")
    (tmp_path / "grow").mkdir()
    for f in files:
        shutil.copy2(f, grow)
    fb1 = TopNFeedback(
        spark, SF_DIR, key_col="event_type", n=3,
        src_path=grow, checkpoint_dir=ck, max_files_per_trigger=1,
        compact_every=2,
    )
    fb1.run_leaderboard()  # 4 micro-batches, compactions after b2 and b4
    log_dir = ck + "/counts_log"
    n_live = spark.read.parquet(log_dir).count()
    bound = (len(fb1._top) + 1) * fb1.n
    assert n_live <= bound  # mid-run log already at the mirror bound

    # an uncompacted run over the same data accumulates strictly more
    ck_ref = str(tmp_path / "ck_ref")
    fb_ref = TopNFeedback(
        spark, SF_DIR, key_col="event_type", n=3,
        src_path=grow, checkpoint_dir=ck_ref, max_files_per_trigger=1,
        compact_every=None,
    )
    fb_ref.run_leaderboard()
    assert spark.read.parquet(ck_ref + "/counts_log").count() > n_live
    assert fb_ref.snapshot == fb1.snapshot

    fb2 = TopNFeedback(  # restore from the in-run-compacted log
        spark, SF_DIR, key_col="event_type", n=3,
        src_path=grow, checkpoint_dir=ck, max_files_per_trigger=1,
    )
    assert fb2.snapshot == fb1.snapshot


def _log_parts(log_dir):
    import os

    if not os.path.isdir(log_dir):
        return 0
    return sum(f.endswith(".parquet") for f in os.listdir(log_dir))


def _count_micro_batches(spark, fb):
    """Wrap ``fb``'s leaderboard sink; the returned list gets one
    (jobs submitted, WAL files appended) pair per micro-batch."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    inner = fb._update_leaderboard
    calls = []

    def counted(batch_df, batch_id):
        jobs, parts = dag.numTotalJobs(), _log_parts(fb._log_dir)
        inner(batch_df, batch_id)
        calls.append(
            (dag.numTotalJobs() - jobs, _log_parts(fb._log_dir) - parts)
        )

    fb._update_leaderboard = counted
    return calls


def test_feedback_job_budget_per_micro_batch(spark, tmp_path):
    """Each leaderboard micro-batch runs the stateful plan ONCE: the
    foreachBatch frame is RDD-backed, so every extra action on it re-runs
    the state-store stage. A data micro-batch may submit at most 1 job
    (the cut collect, which also observes the frontier) and appends
    exactly one WAL file, which the driver writes without a job; a
    no-data micro-batch submits at most 1 job."""
    full = str(tmp_path / "full")
    _split_events(spark, full, n_chunks=4)
    ck = str(tmp_path / "ck")
    fb = TopNFeedback(
        spark, SF_DIR, key_col="event_type", n=3,
        src_path=full, checkpoint_dir=ck, max_files_per_trigger=1,
        compact_every=None,
    )
    calls = _count_micro_batches(spark, fb)
    fb.run_leaderboard()
    assert fb.snapshot
    data = [(jobs, appended) for jobs, appended in calls if appended]
    idle = [jobs for jobs, appended in calls if not appended]
    assert len(data) == 4, calls
    assert all(jobs <= 1 and appended == 1 for jobs, appended in data), calls
    assert all(jobs <= 1 for jobs in idle), calls


def _log_set(df, max_ts=None):
    """(window_start, window_end, key, cnt, max_ts) rows of a counts log
    — or of a `_live_top` cut, with its frontier as ``max_ts``."""
    return {
        (r["window_start"], r["window_end"], r["event_type"], r["cnt"],
         max_ts or r["max_ts"])
        for r in df.collect()
    }


def test_feedback_mirror_compaction_equals_log_reduction(spark, tmp_path):
    """In-run compaction writes the driver mirror instead of re-reducing
    the log: after every micro-batch's compaction the log must hold
    exactly what the distributed reduction (`_live_top`) derives from the
    full uncompacted log of the same files, and a restore from either
    log gives the same snapshot and KV."""
    full = str(tmp_path / "full")
    _split_events(spark, full, n_chunks=4)
    ck_c, ck_u = str(tmp_path / "ck_c"), str(tmp_path / "ck_u")
    runs = {}
    for ck, every in ((ck_c, 1), (ck_u, None)):
        runs[ck] = TopNFeedback(
            spark, SF_DIR, key_col="event_type", n=3,
            src_path=full, checkpoint_dir=ck, max_files_per_trigger=1,
            compact_every=every,
        )
        runs[ck].run_leaderboard()
    assert runs[ck_c].snapshot and runs[ck_c].snapshot == runs[ck_u].snapshot

    compacted = spark.read.parquet(ck_c + "/counts_log")
    top, frontier = runs[ck_u]._live_top(
        spark.read.parquet(ck_u + "/counts_log")
    )
    expected = _log_set(top.drop("rank"), max_ts=frontier)
    assert _log_set(compacted) == expected
    assert compacted.count() == len(expected)  # no duplicate rows either

    restored = [
        TopNFeedback(
            spark, SF_DIR, key_col="event_type", n=3,
            src_path=full, checkpoint_dir=ck, max_files_per_trigger=1,
        )
        for ck in (ck_c, ck_u)
    ]
    assert restored[0].snapshot == restored[1].snapshot == runs[ck_c].snapshot
    assert restored[0].kv.data == restored[1].kv.data == runs[ck_c].kv.data
    assert restored[0]._top == restored[1]._top
    # the restore compacted the long log to the same rows, from the mirror
    assert _log_set(spark.read.parquet(ck_u + "/counts_log")) == expected


def test_feedback_zero_row_first_file(spark, tmp_path):
    """A source whose first file holds zero rows: that micro-batch's
    observed frontier is None, so it writes no WAL file (and reading the
    observation does not raise); the final snapshot and KV equal a run
    without the empty file."""
    import os
    import time

    full = str(tmp_path / "full")
    files = _split_events(spark, full, n_chunks=2)
    with_empty = str(tmp_path / "with_empty")
    os.makedirs(with_empty)
    stage = str(tmp_path / "empty-stage")
    spark.read.parquet(full).limit(0).coalesce(1).write.parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    sources = [os.path.join(stage, part)] + files
    for i, f in enumerate(sources):  # mtime order: the empty file first
        target = os.path.join(with_empty, f"{i:02d}.parquet")
        os.link(f, target)
        t = time.time() - (len(sources) - i) * 10
        os.utime(target, (t, t))

    ref = TopNFeedback(
        spark, SF_DIR, key_col="event_type", n=3,
        src_path=full, max_files_per_trigger=1,
    )
    ref.run_leaderboard()

    ck = str(tmp_path / "ck")
    fb = TopNFeedback(
        spark, SF_DIR, key_col="event_type", n=3,
        src_path=with_empty, checkpoint_dir=ck, max_files_per_trigger=1,
        compact_every=None,
    )
    calls = _count_micro_batches(spark, fb)
    fb.run_leaderboard()
    appended = [parts for _, parts in calls]
    assert appended[0] == 0  # the zero-row micro-batch logged nothing
    assert sum(appended) == len(files)
    assert fb.snapshot and fb.snapshot == ref.snapshot
    assert fb.kv.data == ref.kv.data


def test_feedback_filter_key_col_user_id(spark):
    """key_col may itself be one of the match output's columns: with
    key_col="user_id" the output holds event_id, user_id once each, typed
    from the source — both on a cold start (no snapshot) and on a run
    with matches."""
    cold = TopNFeedback(spark, SF_DIR, key_col="user_id", n=3)
    out = cold.run_filter()
    assert out.count() == 0
    src = load_table(spark, SF_DIR, "events")
    expected = [(c, src.schema[c].dataType) for c in ("event_id", "user_id")]
    assert [(f.name, f.dataType) for f in out.schema.fields] == expected

    fb = TopNFeedback(spark, SF_DIR, key_col="user_id", n=3)
    fb.run_leaderboard()
    assert fb.snapshot
    out = fb.run_filter()
    assert [(f.name, f.dataType) for f in out.schema.fields] == expected
    assert out.count() > 0
    assert {r["user_id"] for r in out.collect()} <= set(fb.snapshot)


def _restart_runs(spark, tmp_path, files, name, between=None, **kw):
    """Run the leaderboard on the first half of ``files`` with a
    checkpoint, call ``between(first_instance)``, then restart a FRESH
    instance on the same checkpoint after the rest arrived. Returns both
    instances."""
    import shutil

    grow = tmp_path / f"{name}-grow"
    grow.mkdir()
    half = len(files) // 2
    for f in files[:half]:
        shutil.copy2(f, grow)
    args = dict(
        key_col="event_type", n=3, src_path=str(grow),
        checkpoint_dir=str(tmp_path / f"{name}-ck"), max_files_per_trigger=1,
    )
    args.update(kw)
    fb1 = TopNFeedback(spark, SF_DIR, **args)
    fb1.run_leaderboard()
    if between is not None:
        between(fb1)
    for f in files[half:]:
        shutil.copy2(f, grow)
    fb2 = TopNFeedback(spark, SF_DIR, **args)
    assert fb2.snapshot == fb1.snapshot  # restored, not cold-started
    fb2.run_leaderboard()
    return fb1, fb2


def _state_versions(ck):
    """partition id -> highest committed ``.delta`` version of the
    leaderboard's aggregation state."""
    import os
    import re

    root = ck + "/leaderboard/state/0"
    return {
        int(p): max(
            int(m.group(1))
            for f in os.listdir(os.path.join(root, p))
            if (m := re.fullmatch(r"(\d+)\.delta", f))
        )
        for p in os.listdir(root)
        if p.isdigit()
    }


def test_feedback_state_partitions_per_task_slot(spark, tmp_path, monkeypatch):
    """The leaderboard's state store gets one partition per task slot, at
    most 8 (`state_partitions`). A checkpoint built under 8 partitions
    resumes under that rule with its own 8 — Spark reuses the count its
    offset log recorded — and gives the same snapshot and KV as an
    uninterrupted run."""
    import contextlib

    from twitter_flink_spark.streaming import pipeline

    full = str(tmp_path / "full")
    files = _split_events(spark, full, n_chunks=4)
    baseline = TopNFeedback(
        spark, SF_DIR, key_col="event_type", n=3, src_path=full,
        checkpoint_dir=str(tmp_path / "ck0"), max_files_per_trigger=1,
    )
    baseline.run_leaderboard()
    slots = min(8, spark.sparkContext.defaultParallelism)
    assert len(_state_versions(baseline.checkpoint_dir)) == slots

    real = pipeline.state_partitions

    @contextlib.contextmanager
    def eight(session):  # the sizing before one-partition-per-slot
        with real(session):
            session.conf.set("spark.sql.shuffle.partitions", "8")
            yield

    before = {}

    def back_to_real(fb1):
        before.update(_state_versions(fb1.checkpoint_dir))
        monkeypatch.setattr(pipeline, "state_partitions", real)

    monkeypatch.setattr(pipeline, "state_partitions", eight)
    _, fb2 = _restart_runs(spark, tmp_path, files, "eight", back_to_real)
    assert len(before) == 8
    after = _state_versions(fb2.checkpoint_dir)
    assert set(after) == set(before)  # all 8 resumed, none added
    assert len(set(after.values())) == 1  # ... and every one committed
    assert min(after.values()) > max(before.values())
    assert fb2.snapshot == baseline.snapshot
    assert fb2.kv.data == baseline.kv.data


def _log_micros(spark, log_dir):
    """The counts log as (window_start, window_end, key, cnt, max_ts)
    tuples, timestamps as UTC micros read by Spark — independent of the
    driver's local time zone."""
    return sorted(
        tuple(r)
        for r in spark.read.parquet(log_dir).select(
            F.unix_micros("window_start"), F.unix_micros("window_end"),
            "event_type", "cnt", F.unix_micros("max_ts"),
        ).collect()
    )


def test_feedback_log_ignores_stranded_tmp(spark, tmp_path):
    """The driver writes each WAL file hidden (``.part-*.parquet.tmp``)
    and renames it into place; a crash mid-write strands the hidden file.
    Neither `_restore` nor Spark's listing may read it: a log holding only
    a stranded file cold-starts, and one beside committed files restores
    the committed state."""
    import os
    import uuid

    ck = str(tmp_path / "ck")
    os.makedirs(ck + "/counts_log")
    stray = f"/counts_log/.part-{uuid.uuid4()}.parquet.tmp"
    with open(ck + stray, "wb") as f:
        f.write(b"not a parquet file")  # read, it would raise
    fb = TopNFeedback(
        spark, SF_DIR, key_col="event_type", n=3, checkpoint_dir=ck,
    )
    assert fb.snapshot == [] and not fb._top

    full = str(tmp_path / "full")
    _split_events(spark, full, n_chunks=2)
    ck2 = str(tmp_path / "ck2")
    fb1 = TopNFeedback(
        spark, SF_DIR, key_col="event_type", n=3,
        src_path=full, checkpoint_dir=ck2, compact_every=None,
    )
    fb1.run_leaderboard()
    parts = _log_parts(fb1._log_dir)
    with open(ck2 + stray, "wb") as f:
        f.write(b"not a parquet file")
    assert _log_parts(fb1._log_dir) == parts
    fb2 = TopNFeedback(
        spark, SF_DIR, key_col="event_type", n=3,
        src_path=full, checkpoint_dir=ck2,
    )
    assert fb2.snapshot == fb1.snapshot and fb2._top == fb1._top


def test_feedback_restores_mixed_spark_and_driver_log(spark, tmp_path):
    """A log written by an older version holds Spark-written files (INT96
    timestamps, ``part-00000-<uuid>-c000.snappy.parquet``); new batches
    append driver-written ones (INT64 micros). A log mixing both restores
    to the same mirror as the same log written by the driver alone."""
    import os
    import shutil

    import pyarrow.parquet as pq

    from twitter_flink_spark.session import local_frame

    full = str(tmp_path / "full")
    _split_events(spark, full, n_chunks=4)
    fb = TopNFeedback(
        spark, SF_DIR, key_col="event_type", n=3, src_path=full,
        checkpoint_dir=str(tmp_path / "ck"), max_files_per_trigger=1,
        compact_every=None,
    )
    fb.run_leaderboard()
    mixed = str(tmp_path / "mixed")
    shutil.copytree(fb._log_dir, mixed + "/counts_log")
    log = mixed + "/counts_log"
    driver_files = sorted(f for f in os.listdir(log) if f.endswith(".parquet"))
    assert len(driver_files) == 4
    for f in driver_files[:2]:  # rewrite half as the older version did
        df = spark.read.parquet(os.path.join(log, f))
        rows, schema = df.collect(), df.schema
        os.remove(os.path.join(log, f))
        local_frame(spark, rows, schema).write.mode("append").parquet(log)
    spark_files = [f for f in os.listdir(log) if f.endswith(".snappy.parquet")]
    assert len(spark_files) == 2
    physical = {
        name: pq.ParquetFile(os.path.join(log, name)).metadata.schema.column(
            0
        ).physical_type
        for name in spark_files + driver_files[2:]
    }
    assert sorted(physical.values()) == ["INT64", "INT64", "INT96", "INT96"]

    restored = [
        TopNFeedback(
            spark, SF_DIR, key_col="event_type", n=3, src_path=full,
            checkpoint_dir=ck, max_files_per_trigger=1,
        )
        for ck in (fb.checkpoint_dir, mixed)
    ]
    assert restored[0]._top == restored[1]._top
    assert restored[0]._max_ts == restored[1]._max_ts
    assert restored[0].snapshot == restored[1].snapshot == fb.snapshot
    assert restored[0].kv.data == restored[1].kv.data == fb.kv.data


def test_feedback_restart_non_utc_local_time(spark, tmp_path, monkeypatch):
    """The driver converts collected timestamps (naive, in the Python
    process's local time zone) back to UTC micros for the WAL. Under a
    non-UTC ``TZ`` the log and a restarted run must equal the UTC ones."""
    import time

    full = str(tmp_path / "full")
    files = _split_events(spark, full, n_chunks=4)
    out = {}
    try:
        for tz in ("UTC", "America/New_York"):
            monkeypatch.setenv("TZ", tz)
            time.tzset()
            logs = []
            fb1, fb2 = _restart_runs(
                spark, tmp_path, files, tz.replace("/", "-"),
                lambda fb: logs.append(_log_micros(spark, fb._log_dir)),
                compact_every=None,
            )
            logs.append(_log_micros(spark, fb2._log_dir))
            out[tz] = (logs, fb1.snapshot, fb2.snapshot, fb2.kv.data)
    finally:
        monkeypatch.undo()
        time.tzset()
    assert out["UTC"][0][0] and out["UTC"][2]
    assert out["America/New_York"] == out["UTC"]


def test_feedback_restart_key_col_user_id(spark, tmp_path):
    """A non-string key_col: the WAL logs user_id with the type it
    streams with, and a restart equals an uninterrupted run."""
    full = str(tmp_path / "full")
    files = _split_events(spark, full, n_chunks=4)
    baseline = TopNFeedback(
        spark, SF_DIR, key_col="user_id", n=3, src_path=full,
        max_files_per_trigger=1,
    )
    baseline.run_leaderboard()
    assert baseline.snapshot
    _, fb2 = _restart_runs(spark, tmp_path, files, "uid", key_col="user_id")
    assert fb2.snapshot == baseline.snapshot
    assert fb2.kv.data == baseline.kv.data
    src = load_table(spark, SF_DIR, "events")
    logged = spark.read.parquet(fb2._log_dir).schema["user_id"].dataType
    assert logged == src.schema["user_id"].dataType


# ---------------------------------------------------------------------------
# Streaming source connectors (reference O1): file replay, socket, kafka


def _status_lines(spark, limit=200):
    """Raw status JSON lines from the tweet fixture (good + malformed)."""
    from twitter_flink_spark.queries.tweets import status_json_stream

    rows = status_json_stream(spark, SF_DIR).limit(limit).collect()
    return [r["value"] for r in rows]


def _batch_tag_counts(spark, lines):
    from twitter_flink_spark.sources.tweets import parse_statuses

    raw = spark.createDataFrame([(l,) for l in lines], "value string")
    return sorted(
        tuple(r)
        for r in parse_statuses(raw)
        .select(F.explode("tags").alias("tag"))
        .groupBy("tag")
        .count()
        .collect()
    )


def test_file_stream_parse_matches_batch(spark, tmp_path):
    """streamed parse over a text-file source == batch parse of the same
    lines (the same oracle discipline as tweet_parse_hashtag_counts)."""
    from twitter_flink_spark.queries.tweets import MALFORMED_LINES
    from twitter_flink_spark.streaming.sources import stream_status_lines

    lines = _status_lines(spark) + list(MALFORMED_LINES)
    src = tmp_path / "statuses"
    src.mkdir()
    (src / "part-0.txt").write_text(
        "\n".join(l for l in lines if "\n" not in l) + "\n"
    )
    parsed = stream_status_lines(spark, str(src))
    counts = (
        parsed.select(F.explode("tags").alias("tag")).groupBy("tag").count()
    )
    got = run_to_memory(counts, output_mode="complete")
    assert sorted(tuple(r) for r in got.collect()) == _batch_tag_counts(
        spark, lines
    )


def test_socket_stream_parse_matches_batch(spark):
    """A real TCP server feeding the socket source: parsed counts equal the
    batch parse of the very same lines; malformed lines die in-parser."""
    import socket
    import threading
    import time

    from twitter_flink_spark.queries.tweets import MALFORMED_LINES
    from twitter_flink_spark.streaming.sources import socket_status_stream

    lines = _status_lines(spark, limit=100) + [
        l for l in MALFORMED_LINES if l and "\n" not in l
    ]
    n_good = sum(1 for l in lines if l.startswith('{"id"'))

    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    server.listen(1)
    port = server.getsockname()[1]
    done = threading.Event()

    def serve():
        conn, _ = server.accept()
        conn.sendall(("\n".join(lines) + "\n").encode())
        done.wait(timeout=120)  # keep the socket open until the query stops
        conn.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    parsed = socket_status_stream(spark, "127.0.0.1", port)
    name = "tfs_socket_parse"
    q = (
        parsed.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            if spark.table(name).count() >= n_good:
                break
            time.sleep(0.5)
        got = spark.table(name)
        tag_counts = sorted(
            tuple(r)
            for r in got.select(F.explode("tags").alias("tag"))
            .groupBy("tag")
            .count()
            .collect()
        )
        assert got.count() == n_good
        assert tag_counts == _batch_tag_counts(spark, lines)
    finally:
        q.stop()
        done.set()
        server.close()


def test_kafka_stream_needs_connector(spark):
    """Without the kafka connector jar the path must fail loudly and
    actionably, not with a bare ClassNotFound."""
    import pytest

    from twitter_flink_spark.streaming.sources import kafka_status_stream

    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        kafka_status_stream(spark, "localhost:9092", "statuses")


def test_incremental_mv_bucket_pruned_merge(spark):
    """A micro-batch merge rewrites ONLY the buckets whose keys it touches:
    untouched bucket files stay byte-identical (same path, same bytes), a
    replayed batch_id is a no-op, and a fresh IncrementalMV pointed at the
    same root resumes from the committed manifest."""
    import os

    from twitter_flink_spark.streaming.pipeline import IncrementalMV

    mv = IncrementalMV(spark, key_col="user_id", n_buckets=4)
    b0 = spark.createDataFrame(
        [(i, float(i)) for i in range(40)], "user_id long, value double"
    )
    mv.merge_batch(b0, 0)

    def bucket_files():
        out = {}
        for b, v in mv._buckets.items():
            d = mv._bucket_dir(b, v)
            for f in sorted(os.listdir(d)):
                if f.endswith(".parquet"):
                    p = os.path.join(d, f)
                    with open(p, "rb") as fh:
                        out[(b, f)] = (p, fh.read())
        return out

    assert len(mv._buckets) >= 2, "fixture keys must span several buckets"
    before = bucket_files()
    key_bucket = {
        r.user_id: r.b
        for r in b0.select(
            "user_id", F.pmod(F.hash("user_id"), F.lit(4)).alias("b")
        )
        .distinct()
        .collect()
    }
    target = key_bucket[0]
    keys = [k for k, b in key_bucket.items() if b == target][:3]
    b1 = spark.createDataFrame(
        [(k, 100.0) for k in keys], "user_id long, value double"
    )
    mv.merge_batch(b1, 1)

    after = bucket_files()
    for kf, path_and_bytes in before.items():
        if kf[0] != target:
            assert after[kf] == path_and_bytes  # byte-identical, same file
    assert mv._buckets[target] == 2  # touched bucket got a new version

    snap = {r.user_id: (r.cnt, r.val) for r in mv.snapshot().collect()}
    assert len(snap) == 40
    for k in keys:
        assert snap[k] == (2, float(k) + 100.0)

    # replayed micro-batch (foreachBatch at-least-once): skipped entirely
    mv.merge_batch(b1, 1)
    assert mv._buckets[target] == 2
    assert bucket_files() == after

    # restart: a new instance on the same root resumes from the manifest
    mv2 = IncrementalMV(spark, key_col="user_id", n_buckets=4, root=mv._root)
    assert mv2._last_batch_id == 1 and mv2._buckets == mv._buckets
    mv2.merge_batch(b1, 1)  # replay across restart: still a no-op
    assert mv2._buckets == mv._buckets


def test_sketch_mv_merge_equals_one_shot(spark):
    """SketchMV incremental invariant: per-day HLL sketches maintained
    across micro-batch merges must estimate the same distinct counts as
    one-shot daily sketches over the full data (within the 10% sketch
    contract — at this cardinality they should agree exactly), a
    replayed batch_id is a no-op, and a restart resumes from the
    manifest."""
    import datetime

    from twitter_flink_spark.streaming.pipeline import SketchMV

    d0 = datetime.date(2024, 1, 1)
    rows = [
        (uid, d0 + datetime.timedelta(days=uid % 3))
        for uid in range(300)
        for _ in range(2)  # duplicates: the sketch dedups, no pre-distinct
    ]
    full = spark.createDataFrame(rows, "user_id long, d date")
    mv = SketchMV(spark, key_col="d", value_col="user_id", n_buckets=4)
    # replay as 3 micro-batches split by user ranges (days overlap batches)
    for i in range(3):
        mv.merge_batch(
            full.where((F.col("user_id") % 3) == i), i
        )
    est = {
        r.d: r.est
        for r in mv.snapshot()
        .select("d", F.expr("hll_sketch_estimate(sk)").alias("est"))
        .collect()
    }
    exact = {
        r.d: r.n
        for r in full.groupBy("d")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for d, n in exact.items():
        assert abs(est[d] - n) * 10 <= n

    # replayed batch: manifest skips it, snapshot byte-stable
    v_before = dict(mv._buckets)
    mv.merge_batch(full.where((F.col("user_id") % 3) == 2), 2)
    assert mv._buckets == v_before

    # restart on the same root resumes and serves the same estimates
    mv2 = SketchMV(
        spark, key_col="d", value_col="user_id", n_buckets=4, root=mv._root
    )
    est2 = {
        r.d: r.est
        for r in mv2.snapshot()
        .select("d", F.expr("hll_sketch_estimate(sk)").alias("est"))
        .collect()
    }
    assert est2 == est


def test_incremental_mv_vacuum_removes_only_orphans(spark):
    """`vacuum()` deletes exactly the version dirs the manifest does not
    reference (crash orphans, stranded staging dirs) and leaves every
    live file byte-identical — and a vacuum on a clean table is a
    no-op."""
    import os

    from twitter_flink_spark.streaming.pipeline import IncrementalMV

    mv = IncrementalMV(spark, key_col="user_id", n_buckets=4)
    b0 = spark.createDataFrame(
        [(i, float(i)) for i in range(40)], "user_id long, value double"
    )
    mv.merge_batch(b0, 0)
    mv.merge_batch(
        spark.createDataFrame(
            [(1, 5.0), (2, 6.0)], "user_id long, value double"
        ),
        1,
    )

    def live_files():
        out = {}
        for b, v in mv._buckets.items():
            d = mv._bucket_dir(b, v)
            for f in sorted(os.listdir(d)):
                p = os.path.join(d, f)
                with open(p, "rb") as fh:
                    out[p] = fh.read()
        return out

    before = live_files()
    snap_before = sorted(tuple(r) for r in mv.snapshot().collect())

    # clean-table vacuum: nothing to do (merge_batch already GC'd
    # superseded versions post-commit)
    acct0 = mv.vacuum()
    assert acct0["removed_versions"] == 0 and acct0["removed_stage"] == 0

    # plant debris: two orphan versions + one stranded stage dir
    bs = sorted(mv._buckets)
    for b in bs[:2]:
        orphan = mv._bucket_dir(b, mv._buckets[b] + 1)
        os.makedirs(orphan)
        with open(os.path.join(orphan, "junk.parquet"), "wb") as fh:
            fh.write(b"junk")
    os.makedirs(os.path.join(mv._root, "_stage_7"))
    # a FRESH stage dir survives the default age threshold: it may
    # belong to an in-flight merge (stage write precedes the version
    # renames), so a scheduled vacuum must not race it — orphan
    # VERSIONS are manifest-provably dead and go regardless
    acct_guarded = mv.vacuum()
    assert acct_guarded["removed_versions"] == 2
    assert acct_guarded["removed_stage"] == 0
    assert os.path.isdir(os.path.join(mv._root, "_stage_7"))
    # quiesced-table vacuum (age threshold waived) reclaims it
    acct = mv.vacuum(stage_min_age_s=0)
    assert acct["removed_versions"] == 0 and acct["removed_stage"] == 1
    for b in bs[:2]:
        assert not os.path.isdir(mv._bucket_dir(b, mv._buckets[b] + 1))
    assert live_files() == before  # live bytes untouched
    assert (
        sorted(tuple(r) for r in mv.snapshot().collect()) == snap_before
    )


def test_incremental_mv_time_travel(spark):
    """retain_history mode: every commit archives its manifest and keeps
    superseded versions, so `snapshot_as_of(b)` reproduces the table
    exactly as it stood after batch b — unchanged by later merges
    (snapshot isolation) — while plain `snapshot()` tracks the head;
    `vacuum` keeps every history-referenced version, and pruning the
    manifest archive is what releases them."""
    import os
    import shutil

    from twitter_flink_spark.streaming.pipeline import IncrementalMV

    mv = IncrementalMV(spark, key_col="user_id", n_buckets=4,
                       retain_history=True)
    b0 = spark.createDataFrame(
        [(i, 1.0) for i in range(20)], "user_id long, value double"
    )
    b1 = spark.createDataFrame(
        [(i, 2.0) for i in range(10)], "user_id long, value double"
    )
    mv.merge_batch(b0, 0)
    asof0_before = sorted(
        tuple(r) for r in mv.snapshot_as_of(0).collect()
    )
    mv.merge_batch(b1, 1)

    # as-of 0 is untouched by batch 1; head reflects both
    assert sorted(
        tuple(r) for r in mv.snapshot_as_of(0).collect()
    ) == asof0_before
    head = {r.user_id: (r.cnt, r.val) for r in mv.snapshot().collect()}
    assert head[5] == (2, 3.0) and head[15] == (1, 1.0)
    # as-of resolution: a batch id beyond head resolves to head; one
    # before the first commit resolves to the empty table
    assert sorted(tuple(r) for r in mv.snapshot_as_of(99).collect()) == \
        sorted(tuple(r) for r in mv.snapshot().collect())
    assert mv.snapshot_as_of(-1).count() == 0

    # vacuum keeps history-referenced superseded versions...
    acct = mv.vacuum()
    assert acct["removed_versions"] == 0
    assert sorted(
        tuple(r) for r in mv.snapshot_as_of(0).collect()
    ) == asof0_before
    # ...until the manifest archive is pruned, which releases them
    hist = os.path.join(mv._root, "_manifests")
    for f in list(os.listdir(hist)):
        if f != sorted(os.listdir(hist))[-1]:
            os.remove(os.path.join(hist, f))
    acct2 = mv.vacuum()
    assert acct2["removed_versions"] > 0
    assert {r.user_id for r in mv.snapshot().collect()} == set(range(20))

    shutil.rmtree(mv._root, ignore_errors=True)


def test_incremental_mv_point_lookup_reads_one_bucket(spark):
    """`lookup` must answer from ONLY the bucket dirs its keys hash to
    (inputFiles-pinned), with values identical to filtering the full
    snapshot."""
    import os

    from twitter_flink_spark.streaming.pipeline import IncrementalMV

    mv = IncrementalMV(spark, key_col="user_id", n_buckets=8)
    mv.merge_batch(
        spark.createDataFrame(
            [(i, float(i)) for i in range(200)],
            "user_id long, value double",
        ),
        0,
    )
    assert len(mv._buckets) == 8  # keys span all buckets
    looked = mv.lookup([7])
    # I/O bound: every opened file lives in the single bucket dir key 7
    # hashes to
    dirs = {os.path.dirname(f).replace("file:", "") for f in looked.inputFiles()}
    assert len(dirs) == 1
    rows = looked.collect()
    assert [(r.user_id, r.cnt, r.val) for r in rows] == [(7, 1, 7.0)]

    # multi-key lookup equals the snapshot filtered to those keys
    keys = [3, 7, 11, 190]
    got = sorted(tuple(r) for r in mv.lookup(keys).collect())
    want = sorted(
        tuple(r)
        for r in mv.snapshot().where(F.col("user_id").isin(keys)).collect()
    )
    assert got == want and len(got) == 4
    # and a missing key simply returns nothing
    assert mv.lookup([99999]).count() == 0


def test_incremental_mv_changelog_feed(spark, tmp_path):
    """The logged CDF: batch 0 emits pure inserts; a later batch emits
    post-images (with correct pre-images) ONLY for keys whose value
    changed; a PresenceMV re-merging already-present pairs emits
    NOTHING (null-safe diff, not touched-key heuristics)."""
    from twitter_flink_spark.streaming.pipeline import IncrementalMV, PresenceMV

    cdf = str(tmp_path / "cdf")
    mv = IncrementalMV(
        spark, key_col="user_id", n_buckets=4, changelog_dir=cdf
    )
    mv.merge_batch(
        spark.createDataFrame(
            [(1, 1.0), (2, 2.0)], "user_id long, value double"
        ),
        0,
    )
    mv.merge_batch(
        spark.createDataFrame([(2, 3.0)], "user_id long, value double"), 1
    )
    feed = {
        (r.batch_id, r.user_id): (r.change_type, r.cnt, r.val, r.pre_cnt, r.pre_val)
        for r in spark.read.parquet(cdf).collect()
    }
    assert feed[(0, 1)] == ("insert", 1, 1.0, None, None)
    assert feed[(0, 2)] == ("insert", 1, 2.0, None, None)
    assert feed[(1, 2)] == ("update_postimage", 2, 5.0, 1, 2.0)
    assert (1, 1) not in feed  # untouched key stays out of the feed

    # presence MV: re-seen pairs change nothing => empty changelog delta
    import datetime

    cdf2 = str(tmp_path / "cdf2")
    pmv = PresenceMV(
        spark, key_col="user_id", field_col="d",
        n_buckets=4, changelog_dir=cdf2,
    )
    d0 = datetime.date(2024, 1, 1)
    pairs = spark.createDataFrame(
        [(1, d0), (2, d0)], "user_id long, d date"
    )
    pmv.merge_batch(pairs, 0)
    n_after_b0 = spark.read.parquet(cdf2).count()
    pmv.merge_batch(pairs, 1)  # identical pairs again
    assert spark.read.parquet(cdf2).count() == n_after_b0 == 2


def test_incremental_mv_changelog_compaction(spark, tmp_path):
    """`compact_changelog` nets every in-checkpoint change per key —
    insert-then-update nets to an INSERT carrying the last post-image;
    update-chains keep the FIRST pre-image — preserves post-checkpoint
    entries verbatim, shrinks the log, and leaves consumer
    reconstruction identical."""
    from twitter_flink_spark.streaming.pipeline import IncrementalMV

    cdf = str(tmp_path / "cdf")
    mv = IncrementalMV(
        spark, key_col="user_id", n_buckets=4, changelog_dir=cdf
    )
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "user_id long, value double"
    )
    mv.merge_batch(mk([(1, 1.0), (2, 2.0)]), 0)
    mv.merge_batch(mk([(1, 10.0), (3, 3.0)]), 1)  # update 1, insert 3
    mv.merge_batch(mk([(2, 20.0)]), 2)  # post-checkpoint update

    def recon():
        feed = spark.read.parquet(cdf).distinct()
        return sorted(
            tuple(r)
            for r in feed.groupBy("user_id")
            .agg(F.max_by(F.struct("cnt", "val"), "batch_id").alias("p"))
            .select("user_id", "p.cnt", "p.val")
            .collect()
        )

    before = recon()
    n_before = spark.read.parquet(cdf).count()  # 2 + 2 + 1 = 5
    mv.compact_changelog(upto_batch=1)
    rows = {
        (r.batch_id, r.user_id): r
        for r in spark.read.parquet(cdf).collect()
    }
    assert spark.read.parquet(cdf).count() == 4 < n_before
    # user 1: insert@0 + update@1 nets to insert with last post-image
    r1 = rows[(1, 1)]
    assert (r1.change_type, r1.cnt, r1.val, r1.pre_cnt) == (
        "insert", 2, 11.0, None,
    )
    # user 2's post-checkpoint update preserved verbatim
    r2 = rows[(2, 2)]
    assert (r2.change_type, r2.pre_cnt, r2.pre_val) == (
        "update_postimage", 1, 2.0,
    )
    assert recon() == before  # reconstruction invariant


def test_incremental_mv_consumer_checkpointing(spark, tmp_path):
    """Durable consumer offsets gate changelog compaction: the derived
    safe point is the SLOWEST registered consumer's committed offset,
    acks are monotonic (a regressing ack raises), offsets survive a
    process restart (re-opened handle on the same root), deriving with
    no registered consumers raises, and a consumer that has applied
    nothing (offset -1) makes derived compaction a no-op rather than a
    full-log rewrite for an empty range."""
    import pytest

    from twitter_flink_spark.streaming.pipeline import IncrementalMV

    cdf = str(tmp_path / "cdf")
    root = str(tmp_path / "mv")
    mv = IncrementalMV(
        spark, key_col="user_id", n_buckets=4, root=root, changelog_dir=cdf
    )
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "user_id long, value double"
    )
    mv.merge_batch(mk([(1, 1.0), (2, 2.0)]), 0)
    mv.merge_batch(mk([(1, 10.0), (3, 3.0)]), 1)
    mv.merge_batch(mk([(2, 20.0)]), 2)

    with pytest.raises(ValueError, match="registered consumer"):
        mv.compact_changelog()  # no registry: nothing is known safe
    with pytest.raises(KeyError, match="not registered"):
        mv.ack_consumer("rollup", 1)

    mv.register_consumer("rollup")
    mv.register_consumer("audit")
    assert mv.safe_compaction_point() == -1
    n0 = spark.read.parquet(cdf).count()
    files0 = set(spark.read.parquet(cdf).inputFiles())
    mv.compact_changelog()  # derived -1: no-op
    assert spark.read.parquet(cdf).count() == n0
    assert set(spark.read.parquet(cdf).inputFiles()) == files0

    mv.ack_consumer("rollup", 2)
    with pytest.raises(ValueError, match="regressed"):
        mv.ack_consumer("rollup", 0)
    mv.ack_consumer("audit", 1)

    # restart: a fresh handle on the same root reads committed offsets
    mv2 = IncrementalMV(
        spark, key_col="user_id", n_buckets=4, root=root, changelog_dir=cdf
    )
    assert mv2.consumer_offsets() == {"rollup": 2, "audit": 1}
    assert mv2.safe_compaction_point() == 1
    mv2.compact_changelog()  # derives 1: nets the 0..1 range per key
    assert spark.read.parquet(cdf).count() == 4 < n0
    mv2.register_consumer("rollup")  # re-register keeps progress
    assert mv2.consumer_offsets()["rollup"] == 2


def test_incremental_mv_crash_before_manifest_commit(spark):
    """A crash AFTER bucket files are staged/renamed but BEFORE the
    manifest commit must be invisible: the manifest is the only commit
    point, so a restarted instance resumes from the last committed state,
    re-merges the in-flight batch, and orphan version dirs are never
    read."""
    import os
    import shutil

    from twitter_flink_spark.streaming.pipeline import IncrementalMV

    mv = IncrementalMV(spark, key_col="user_id", n_buckets=4)
    b0 = spark.createDataFrame(
        [(i, 1.0) for i in range(20)], "user_id long, value double"
    )
    mv.merge_batch(b0, 0)
    manifest = open(mv._manifest_path()).read()

    # simulate batch 1 crashing mid-write: orphan NEW version dirs exist
    # (some buckets "renamed" already), but the manifest was never updated
    for b, v in list(mv._buckets.items()):
        orphan = mv._bucket_dir(b, v + 1)
        os.makedirs(orphan, exist_ok=True)
        shutil.copy(
            os.path.join(
                mv._bucket_dir(b, v), os.listdir(mv._bucket_dir(b, v))[0]
            ),
            os.path.join(orphan, "part-orphan.parquet"),
        )

    mv2 = IncrementalMV(spark, key_col="user_id", n_buckets=4, root=mv._root)
    assert open(mv2._manifest_path()).read() == manifest  # committed state
    assert mv2._buckets == mv._buckets  # orphans not adopted
    mv2.merge_batch(b0, 1)  # the batch replays after restart
    got = {r.user_id: (r.cnt, r.val) for r in mv2.snapshot().collect()}
    assert got == {i: (2, 2.0) for i in range(20)}  # merged exactly once


@pytest.mark.parametrize("crash_at", ["first", "last"])
def test_incremental_mv_crash_between_bucket_renames(
    spark, monkeypatch, crash_at
):
    """A merge that dies between its bucket-version renames, before the
    manifest commit, leaves the committed state intact: a restarted
    process (a new IncrementalMV on the same root) replays the batch and
    its snapshot equals an uninterrupted run's."""
    import os

    from twitter_flink_spark.streaming.pipeline import IncrementalMV

    schema = "user_id long, value double"
    b0 = spark.createDataFrame([(i, float(i)) for i in range(40)], schema)
    b1 = spark.createDataFrame(
        [(i, 10.0) for i in range(0, 40, 3)]
        + [(100 + i, 1.0) for i in range(8)],
        schema,
    )
    ref = IncrementalMV(spark, key_col="user_id", n_buckets=4)
    ref.merge_batch(b0, 0)
    ref.merge_batch(b1, 1)
    want = sorted(ref.snapshot().collect())

    mv = IncrementalMV(spark, key_col="user_id", n_buckets=4)
    mv.merge_batch(b0, 0)
    touched = b1.select(
        F.pmod(F.hash("user_id"), F.lit(4)).alias("b")
    ).distinct().count()
    assert touched >= 2, "the batch must touch several buckets"
    crash_on = 1 if crash_at == "first" else touched
    real_rename = os.rename
    renames = []

    def rename(src, dst, *args, **kwargs):
        if os.path.basename(str(src)).startswith("bucket="):
            renames.append(src)
            if len(renames) == crash_on:
                raise OSError("injected crash between bucket renames")
        return real_rename(src, dst, *args, **kwargs)

    monkeypatch.setattr(os, "rename", rename)
    with pytest.raises(OSError, match="injected crash"):
        mv.merge_batch(b1, 1)
    monkeypatch.setattr(os, "rename", real_rename)

    restarted = IncrementalMV(
        spark, key_col="user_id", n_buckets=4, root=mv._root
    )
    assert restarted._last_batch_id == 0  # the manifest never moved
    restarted.merge_batch(b1, 1)
    assert sorted(restarted.snapshot().collect()) == want


def test_incremental_mv_rejects_mismatched_bucketing(spark):
    """Resuming an MV root with a different n_buckets (or key_col) must be
    refused: prior rows would sit in buckets the new bucketing never
    reads, and the snapshot would accumulate duplicate keys."""
    import pytest

    from twitter_flink_spark.streaming.pipeline import IncrementalMV

    mv = IncrementalMV(spark, key_col="user_id", n_buckets=4)
    b0 = spark.createDataFrame(
        [(i, 1.0) for i in range(8)], "user_id long, value double"
    )
    mv.merge_batch(b0, 0)
    with pytest.raises(ValueError, match="n_buckets"):
        IncrementalMV(spark, key_col="user_id", n_buckets=8, root=mv._root)
    with pytest.raises(ValueError, match="key_col"):
        IncrementalMV(spark, key_col="event_id", n_buckets=4, root=mv._root)
    # matching parameters still resume fine
    mv2 = IncrementalMV(spark, key_col="user_id", n_buckets=4, root=mv._root)
    assert mv2._buckets == mv._buckets


def test_await_or_raise_times_out_loudly(spark, tmp_path):
    """awaitTermination returning False (query still running) must raise,
    not let the caller read a partial sink."""
    import pytest

    from twitter_flink_spark.streaming.pipeline import await_or_raise

    q = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "1")
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        with pytest.raises(TimeoutError, match="still running"):
            await_or_raise(q, 1)
        assert not q.isActive  # await_or_raise stopped it
    finally:
        if q.isActive:
            q.stop()


def test_await_or_raise_records_a_zero_batch_stream(
    spark, tmp_path, monkeypatch
):
    """A stream that ran no batch (empty source) has no physical plan;
    with plan capture on, `await_or_raise` records Spark's placeholder
    text for it instead of raising."""
    from twitter_flink_spark.streaming import pipeline

    monkeypatch.setattr(pipeline, "CAPTURE_STREAM_PLANS", True)
    monkeypatch.setattr(pipeline, "STREAM_PLANS", [])
    q = (
        spark.readStream.schema("a long")
        .parquet(str(tmp_path))
        .writeStream.format("noop")
        .trigger(availableNow=True)
        .start()
    )
    pipeline.await_or_raise(q, 120)
    assert q.lastProgress["numInputRows"] == 0
    [(label, text)] = pipeline.STREAM_PLANS
    assert label == str(q.id)
    assert text.startswith("No physical plan")


def test_ensure_split_events_concurrent_build_consistent(
    spark, tmp_path, monkeypatch
):
    """Two concurrent builders of the staged 4-file events copy (the
    driver sweep and the builder bench share the fixed /tmp path) must
    never leave a torn copy: each builds in its own scratch dir, one
    atomic rename wins, the loser discards its copy — afterwards the
    destination is a complete (_SUCCESS-marked) 4-file copy with the
    full row count, and a third call reuses it without rebuilding."""
    import os
    import tempfile
    import threading

    import twitter_flink_spark.queries.streaming as qstreaming

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    sf_dir = "/root/testdata/sf0.001"
    results, errors = [], []

    def build():
        try:
            results.append(
                qstreaming._ensure_split_events(spark, sf_dir)
            )
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=build) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors and len(set(results)) == 1
    dest = results[0]
    assert os.path.exists(os.path.join(dest, "_SUCCESS"))
    files = [f for f in os.listdir(dest) if f.endswith(".parquet")]
    assert len(files) == 4
    from twitter_flink_spark.sources.tables import load_table

    expected = load_table(spark, sf_dir, "events").count()
    assert spark.read.parquet(dest).count() == expected
    # no stray scratch dirs left behind
    stray = [
        d for d in os.listdir(str(tmp_path)) if ".build-" in d
    ]
    assert stray == []
    # write-once: a later call reuses the same marked copy
    mtime = os.path.getmtime(os.path.join(dest, "_SUCCESS"))
    assert qstreaming._ensure_split_events(spark, sf_dir) == dest
    assert os.path.getmtime(os.path.join(dest, "_SUCCESS")) == mtime


@pytest.mark.parametrize(
    "stage",
    [
        "_stage_split_events",
        "_stage_time_split_events3",
        "_stage_late_events",
        "_stage_docid_split_documents",
        "_stage_delete_stream",
        "_stage_vec_delete_stream",
    ],
)
def test_staged_replay_schema_equals_inferred(spark, stage):
    """Each staged replay fixture returns, from its ledger, exactly the
    schema a parquet read of the staged files infers — the schema its
    file-stream source used to pay an inference job for."""
    import twitter_flink_spark.queries.streaming as qstreaming

    dest, schema = getattr(qstreaming, stage)(spark, SF_DIR)
    assert schema == spark.read.parquet(dest).schema
    assert getattr(qstreaming, stage)(spark, SF_DIR) == (dest, schema)


def test_incremental_mv_lookup_composite_keys(spark):
    """`lookup` on a composite-key MV (GroupedCountMV) must accept key
    TUPLES, route them through the same composite bucket hash the merge
    used, join on the real key columns, and equal the filtered
    snapshot; a tuple of the wrong width raises."""
    import shutil

    import pytest

    from twitter_flink_spark.streaming.pipeline import GroupedCountMV

    mv = GroupedCountMV(
        spark,
        key_cols=["event_type", "user_id"],
        key_schema="event_type string, user_id long",
        n_buckets=8,
    )
    rows = [
        ("click", i % 5, float(i)) for i in range(40)
    ] + [("view", 2, 1.0), ("view", 3, 1.0)]
    df = spark.createDataFrame(
        rows, "event_type string, user_id long, value double"
    )
    mv.merge_batch(df, 0)

    got = sorted(
        tuple(r)
        for r in mv.lookup([("click", 2), ("view", 3)]).collect()
    )
    snap = mv.snapshot()
    exp = sorted(
        tuple(r)
        for r in snap.where(
            "(event_type = 'click' AND user_id = 2) OR "
            "(event_type = 'view' AND user_id = 3)"
        ).collect()
    )
    assert got == exp and len(got) == 2

    with pytest.raises(ValueError, match="2 element"):
        mv.lookup(["click"])

    # single-key MVs keep accepting scalars (regression guard)
    from twitter_flink_spark.streaming.pipeline import IncrementalMV

    single = IncrementalMV(spark, key_col="user_id", n_buckets=4)
    single.merge_batch(
        df.select("user_id", "value"), 0
    )
    one = single.lookup([2]).collect()
    assert len(one) == 1 and one[0]["user_id"] == 2

    shutil.rmtree(mv._root, ignore_errors=True)
    shutil.rmtree(single._root, ignore_errors=True)


def test_ivf_sink_job_budget_per_micro_batch(spark, sink_jobs):
    """The streaming IVF sink reads only artifacts its own query wrote
    (the `_assign` inverted lists, against the centroids), so it never
    reads without a schema, and a data micro-batch runs at most 4 jobs:
    the anti-join and assignment plan, observed during its append."""
    from twitter_flink_spark.queries.streaming import (
        streaming_ivf_assign_maintenance,
    )

    out = streaming_ivf_assign_maintenance(spark, SF_DIR).collect()
    assert out and all(r.streamed_in_batches for r in out)
    assert all(r.redelivery_noop for r in out)
    assert [b for b, _, _ in sink_jobs] == [0, 1, 2]
    assert all(
        jobs <= 4 and reads == [] for _, jobs, reads in sink_jobs
    ), sink_jobs


def test_mv_merge_job_budget_per_micro_batch(spark, sink_jobs):
    """`IncrementalMV.merge_batch` reads the prior bucket versions with
    the schema its manifest records: a micro-batch with a prior snapshot
    runs at most 6 jobs and reads nothing without a schema."""
    from twitter_flink_spark.queries.streaming import streaming_incremental_mv

    assert streaming_incremental_mv(spark, SF_DIR).count() > 0
    assert [b for b, _, _ in sink_jobs] == [0, 1, 2, 3]
    # every batch after the first has a prior snapshot
    assert all(
        jobs <= 6 and reads == [] for _, jobs, reads in sink_jobs[1:]
    ), sink_jobs


def test_lsh_update_job_budget_per_micro_batch(spark, sink_jobs):
    """A streamed `lsh_index_update` consults the coverage markers with
    no existence probe and reads the index with its schema: each update
    batch runs 6 jobs (the parameter ``first()`` and the observed staged
    write with its shuffle stages) and no schema-less read."""
    from twitter_flink_spark.queries.streaming import (
        streaming_lsh_index_maintenance,
    )

    out = streaming_lsh_index_maintenance(spark, SF_DIR).collect()
    assert out and all(
        r.streamed_in_batches and r.redelivery_noop for r in out
    )
    assert [b for b, _, _ in sink_jobs] == [0, 1, 2]
    assert [jobs for _, jobs, _ in sink_jobs[1:]] == [6, 6], sink_jobs
    assert [reads for _, _, reads in sink_jobs[1:]] == [[], []], sink_jobs


def test_lsh_delete_job_budget_per_micro_batch(spark, sink_jobs):
    """A streamed `lsh_index_delete` consults the coverage markers with
    no existence probe and reads the index with its schema: each delete
    batch runs 6 jobs (the parameter ``first()`` and the observed
    tombstone write with its shuffle stages) and no schema-less read."""
    from twitter_flink_spark.queries.streaming import (
        streaming_lsh_delete_maintenance,
    )

    out = streaming_lsh_delete_maintenance(spark, SF_DIR).collect()
    assert out and all(r.compact_preserves_serve for r in out)
    assert [b for b, _, _ in sink_jobs] == [0, 1]
    assert [jobs for _, jobs, _ in sink_jobs] == [6, 6], sink_jobs
    assert [reads for _, _, reads in sink_jobs] == [[], []], sink_jobs


def _mv_batches(spark):
    return [
        spark.createDataFrame(
            [(i, float(i * step)) for i in range(lo, lo + 40)],
            "user_id long, value double",
        )
        for lo, step in ((0, 1), (20, 2), (30, 3))
    ]


def _snapshot_rows(mv):
    return sorted(tuple(r) for r in mv.snapshot().collect())


def test_incremental_mv_resumes_with_manifest_schema(spark):
    """The manifest records the snapshot schema, and a resumed MV reads
    every bucket version with it — the frame inference would give,
    without a single schema-inference job."""
    import json

    from pyspark.sql.types import StructType

    from twitter_flink_spark.streaming.pipeline import IncrementalMV

    b0, b1, _ = _mv_batches(spark)
    mv = IncrementalMV(spark, key_col="user_id", n_buckets=4)
    mv.merge_batch(b0, 0)
    mv.merge_batch(b1, 1)
    with open(mv._manifest_path()) as fh:
        recorded = StructType.fromJson(json.load(fh)["schema"])
    assert recorded.simpleString() == (
        "struct<user_id:bigint,cnt:bigint,val:double>"
    )

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    mv2 = IncrementalMV(spark, key_col="user_id", n_buckets=4, root=mv._root)
    assert mv2._schema == recorded
    first = dag.numTotalJobs()
    snap = mv2.snapshot()
    assert dag.numTotalJobs() == first  # no inference job to plan it
    dirs = [mv._bucket_dir(b, v) for b, v in mv._buckets.items()]
    assert snap.schema == spark.read.parquet(*dirs).schema  # as inferred
    assert _snapshot_rows(mv2) == _snapshot_rows(mv)


def test_incremental_mv_schema_recorded_for_every_variant(spark):
    """Every MV variant records exactly the schema inference reads back
    from its bucket files, so `_read` never changes a snapshot's type."""
    from twitter_flink_spark.streaming.pipeline import (
        GroupedCountMV,
        IncrementalMV,
        PresenceMV,
        SketchMV,
    )

    ev = load_table(spark, SF_DIR, "events").withColumn(
        "d", F.to_date("ts")
    )
    mvs = [
        IncrementalMV(spark, key_col="user_id", n_buckets=4),
        PresenceMV(spark, key_col="user_id", field_col="d", n_buckets=4),
        GroupedCountMV(
            spark, ["event_type", "user_id"],
            key_schema="event_type string, user_id long", n_buckets=4,
        ),
        SketchMV(spark, key_col="d", value_col="user_id", n_buckets=4),
    ]
    for mv in mvs:
        mv.merge_batch(ev, 0)
        mv.merge_batch(ev, 1)
        dirs = [mv._bucket_dir(b, v) for b, v in mv._buckets.items()]
        assert mv.snapshot().schema == spark.read.parquet(*dirs).schema


def test_incremental_mv_one_file_per_bucket_version(spark):
    """The bucket write runs one task per core, not one per bucket, yet
    hash partitioning still puts each bucket in exactly one task: with
    more buckets than cores every touched version holds one file."""
    import os

    from twitter_flink_spark.streaming.pipeline import IncrementalMV

    cores = spark.sparkContext.defaultParallelism
    mv = IncrementalMV(spark, key_col="user_id", n_buckets=max(16, 2 * cores))
    for batch_id in range(3):
        mv.merge_batch(
            spark.range(100 * batch_id, 100 * batch_id + 300).select(
                F.col("id").alias("user_id"), F.lit(1.0).alias("value")
            ),
            batch_id,
        )
    assert len(mv._buckets) == mv.n_buckets  # every bucket was touched
    for b, v in mv._buckets.items():
        files = [
            f for f in os.listdir(mv._bucket_dir(b, v))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, (b, v, files)
