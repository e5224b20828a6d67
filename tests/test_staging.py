"""Cross-process write-once staging (`sources/staging.py`): the commit
protocol shared by every fixed-path /tmp fixture builder."""

from __future__ import annotations

import json
import os

import pytest

from twitter_flink_spark.commit import write_json
from twitter_flink_spark.sources import staging


def _tag(tmp_path, monkeypatch):
    # point the staging root at the test's own tmp dir
    monkeypatch.setattr(
        staging.tempfile, "gettempdir", lambda: str(tmp_path)
    )


def test_stage_once_builds_then_replays_ledger(tmp_path, monkeypatch):
    _tag(tmp_path, monkeypatch)
    calls = []

    def build(p):
        calls.append(p)
        with open(os.path.join(p, "data.txt"), "w") as f:
            f.write("payload")
        return {"n": 7}

    d1, m1 = staging.stage_once("t", "/sf", build)
    d2, m2 = staging.stage_once("t", "/sf", build)
    assert d1 == d2 and m1 == m2 == {"n": 7}
    assert len(calls) == 1  # second call replayed the marker
    assert open(os.path.join(d1, "data.txt")).read() == "payload"


def test_stage_once_finalize_runs_at_final_path(tmp_path, monkeypatch):
    _tag(tmp_path, monkeypatch)
    seen = {}
    calls = []

    def build(p):
        calls.append(p)
        with open(os.path.join(p, "d"), "w") as f:
            f.write("x")
        return {"a": 1}

    def finalize(dest):
        seen["dest"] = dest
        assert os.path.exists(os.path.join(dest, "d"))  # post-rename
        return {"b": 2}

    d, m = staging.stage_once("t2", "/sf", build, finalize)
    assert seen["dest"] == d  # finalize saw the FINAL path
    assert m == {"a": 1, "b": 2}
    # ledger is committed: a reuser replays both phases' entries
    # without re-running the builder (same owner, marker fast path)
    _, m2 = staging.stage_once("t2", "/sf", build)
    assert m2 == {"a": 1, "b": 2}
    assert len(calls) == 1


def test_stage_once_losing_rename_reuses_winner(tmp_path, monkeypatch):
    _tag(tmp_path, monkeypatch)

    def winner_mid_build(p):
        # simulate a concurrent winner committing while we build: the
        # marker-bearing dest appears before our rename
        dest = staging.fixture_path("t3", "/sf")
        os.makedirs(dest)
        with open(os.path.join(dest, staging.MARKER), "w") as f:
            json.dump({"n": 99}, f)
        with open(os.path.join(p, "mine"), "w") as f:
            f.write("loser build")
        return {"n": 1}

    d, m = staging.stage_once("t3", "/sf", winner_mid_build)
    assert m == {"n": 99}  # the winner's ledger, not ours
    assert not os.path.exists(os.path.join(d, "mine"))  # ours discarded
    # our scratch dir was cleaned up
    assert not [
        x for x in os.listdir(tmp_path) if ".build-" in x
    ]


def test_stage_once_replaces_stale_unmarked_dest(tmp_path, monkeypatch):
    _tag(tmp_path, monkeypatch)
    dest = staging.fixture_path("t4", "/sf")
    os.makedirs(dest)
    with open(os.path.join(dest, "legacy"), "w") as f:
        f.write("crashed or pre-staging build")
    old = 10**9  # epoch 2001: well past STALE_AFTER_S
    os.utime(dest, (old, old))

    d, m = staging.stage_once(
        "t4",
        "/sf",
        lambda p: open(os.path.join(p, "fresh"), "w").close() or {"v": 1},
    )
    assert m == {"v": 1}
    assert os.path.exists(os.path.join(d, "fresh"))
    assert not os.path.exists(os.path.join(d, "legacy"))


def test_stage_once_waits_for_young_unmarked_dest(tmp_path, monkeypatch):
    """A YOUNG marker-less dest is another process mid-finalize: the
    loser must wait for the marker, not delete the dir under it."""
    _tag(tmp_path, monkeypatch)
    monkeypatch.setattr(staging, "WAIT_MARKER_S", 3)
    dest = staging.fixture_path("t5", "/sf")
    os.makedirs(dest)  # young, no marker yet
    with open(os.path.join(dest, "half"), "w") as f:
        f.write("mid-finalize")

    import threading
    import time

    def commit_late():
        time.sleep(1.0)
        write_json(
            os.path.join(dest, staging.MARKER), {"late": True}
        )

    t = threading.Thread(target=commit_late)
    t.start()
    d, m = staging.stage_once(
        "t5", "/sf", lambda p: open(os.path.join(p, "x"), "w").close()
    )
    t.join()
    assert m == {"late": True}
    assert os.path.exists(os.path.join(d, "half"))  # never deleted


def test_stage_once_heals_crashed_finalize_immediately(
    tmp_path, monkeypatch
):
    """A marker-less dest whose _FINALIZING breadcrumb names a DEAD pid
    is a crashed finalize: the next caller replaces it in ONE retry —
    no wasted 900 s marker wait, no repeated RuntimeError runs."""
    _tag(tmp_path, monkeypatch)
    dest = staging.fixture_path("t6", "/sf")
    os.makedirs(dest)  # young: age alone would have said "await"
    with open(os.path.join(dest, "torn"), "w") as f:
        f.write("crashed mid-finalize")
    write_json(
        os.path.join(dest, staging.FINALIZING), {"pid": 99999999}
    )

    import time

    t0 = time.monotonic()
    d, m = staging.stage_once(
        "t6",
        "/sf",
        lambda p: open(os.path.join(p, "fresh"), "w").close() or {"v": 2},
    )
    assert time.monotonic() - t0 < 30  # healed now, not after a wait
    assert m == {"v": 2}
    assert os.path.exists(os.path.join(d, "fresh"))
    assert not os.path.exists(os.path.join(d, "torn"))
    # the healer finalized cleanly: breadcrumb gone, marker committed
    assert not os.path.exists(os.path.join(d, staging.FINALIZING))
    assert staging._read_marker(os.path.join(d, staging.MARKER)) == m


def test_stage_once_cleans_scratch_when_build_raises(
    tmp_path, monkeypatch
):
    """A build that raises (Spark error, ctrl-C) must not leak its
    .build-* scratch dir in /tmp — nothing sweeps that prefix."""
    _tag(tmp_path, monkeypatch)

    def boom(p):
        with open(os.path.join(p, "partial"), "w") as f:
            f.write("x")
        raise RuntimeError("spark died")

    import pytest

    with pytest.raises(RuntimeError, match="spark died"):
        staging.stage_once("t7", "/sf", boom)
    assert not [x for x in os.listdir(tmp_path) if ".build-" in x]


def test_scratch_dir_sweeps_only_abandoned_ephemerals(tmp_path, monkeypatch):
    """`scratch_dir` must (a) mint unique dirs, (b) sweep a dead-pid
    tfs-eph-* leftover older than the TTL, and (c) never touch a live
    process's dir, a young dir, or the deterministic staged fixtures."""
    import os
    import time

    from twitter_flink_spark.sources import staging

    monkeypatch.setattr(staging.tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(staging, "_eph_swept", False)

    old = time.time() - 7200
    dead = tmp_path / "tfs-eph-x-999999999-1-0"  # dead pid, stale
    live = tmp_path / f"tfs-eph-x-{os.getpid()}-1-0"  # live pid, stale
    young = tmp_path / "tfs-eph-x-999999998-1-0"  # dead pid, young
    fixture = tmp_path / "tfs-twolevelera-root-testdata-sf0.001"
    for d in (dead, live, young, fixture):
        d.mkdir()
    os.utime(dead, (old, old))
    os.utime(live, (old, old))
    os.utime(fixture, (old, old))

    a = staging.scratch_dir("t")
    b = staging.scratch_dir("t")
    assert a != b and os.path.isdir(a) and os.path.isdir(b)
    assert not dead.exists()  # swept: dead + stale
    assert live.exists()  # live pid: kept
    assert young.exists()  # young: kept
    assert fixture.exists()  # staged fixture namespace: never touched


def test_stage_once_tag_collision_raises(tmp_path, monkeypatch):
    """Two DIFFERENT builders sharing a tag must fail loudly — a silent
    collision serves one site's layout to the other (the r13 'lshidx'
    incident)."""
    import pytest

    from twitter_flink_spark.sources import staging

    monkeypatch.setattr(staging.tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(staging, "_TAG_OWNERS", {})

    def builder_a(p):
        import os

        open(os.path.join(p, "a"), "w").write("a")

    def builder_b(p):
        raise AssertionError("must not run")

    staging.stage_once("collide", "/sf", builder_a)
    # same builder re-staging is fine (the reuse path)
    staging.stage_once("collide", "/sf", builder_a)
    with pytest.raises(ValueError, match="one tag = one layout"):
        staging.stage_once("collide", "/sf", builder_b)


def test_stage_once_records_build_outcomes(tmp_path, monkeypatch):
    """`BUILD_OUTCOMES` is the bench's fixture-freshness signal: the
    first call records "built", replays record "cached", and the
    costlier outcome is sticky — a later cache hit never demotes a
    recorded build, so the bench artifact shows every tag whose build
    wall-clock landed somewhere in the run."""
    _tag(tmp_path, monkeypatch)
    monkeypatch.setattr(staging, "BUILD_OUTCOMES", {})

    def build(p):
        with open(os.path.join(p, "x"), "w") as f:
            f.write("1")
        return {}

    staging.stage_once("outc", "/sf", build)
    assert staging.BUILD_OUTCOMES["outc"] == "built"
    staging.stage_once("outc", "/sf", build)
    assert staging.BUILD_OUTCOMES["outc"] == "built"  # sticky
    # a fresh process (empty dict) replaying the marker reads "cached"
    monkeypatch.setattr(staging, "BUILD_OUTCOMES", {})
    staging.stage_once("outc", "/sf", build)
    assert staging.BUILD_OUTCOMES["outc"] == "cached"


def test_build_id_changes_when_the_base_is_rebuilt(tmp_path, monkeypatch):
    """`build_id` is stable while one build of a staged layout stands
    and changes when the layout is rebuilt, so a sidecar staged under a
    tag carrying it is staged afresh for the new build instead of
    serving manifests that name the old build's files."""
    import shutil
    import time

    _tag(tmp_path, monkeypatch)

    def build(p):
        open(os.path.join(p, "part-0.parquet"), "w").close()

    base, _ = staging.stage_once("base", "/sf", build)
    first = staging.build_id(base)
    assert staging.stage_once("base", "/sf", build)[0] == base
    assert staging.build_id(base) == first
    shutil.rmtree(base)  # e.g. a crashed build replaced, or a new layout
    time.sleep(0.05)
    base, _ = staging.stage_once("base", "/sf", build)
    assert staging.build_id(base) != first


def test_write_json_concurrent_writers_never_tear(tmp_path):
    """`commit.write_json` from more threads than cores to ONE path:
    every read in between parses and equals one writer's whole payload
    (each writer stages its own tmp file, so none truncates or moves
    another's before its rename), no writer fails, and no tmp file is
    left behind."""
    import sys
    import threading

    path = str(tmp_path / "marker.json")
    payloads = [
        {"writer": i, "pad": "x" * (1 << 16) * (i + 1)}
        for i in range(2 * (os.cpu_count() or 4))
    ]
    write_json(path, payloads[0])
    stop = threading.Event()
    errors = []

    def write(obj):
        try:
            while not stop.is_set():
                write_json(path, obj)
        except OSError as exc:  # another writer moved our tmp file away
            errors.append(exc)

    writers = [threading.Thread(target=write, args=(p,)) for p in payloads]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in writers:
            t.start()
        for _ in range(500):
            with open(path) as f:
                assert json.load(f) in payloads
    finally:
        stop.set()
        for t in writers:
            t.join(timeout=60)
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in writers)
    assert errors == []
    assert [f for f in os.listdir(tmp_path) if ".tmp" in f] == []


@pytest.mark.parametrize(
    "layout",
    [
        "_ensure_compacted_vacuumed_layout",
        "_ensure_twolevel_vacuumed_layout",
        "_ensure_bloom_vacuumed_layout",
        "_ensure_nightly_maintenance_layout",
    ],
)
def test_finalize_swap_carries_the_breadcrumb(
    spark, tmp_path, monkeypatch, layout
):
    """The finalize phase of each compactor layout swaps the whole table
    dir; the ``_FINALIZING.json`` breadcrumb moves with it, so between
    the swap and the marker commit a concurrent stager still sees a live
    finalize (`_finalizing_alive`) — with the dir-age fallback switched
    off, only the breadcrumb can answer."""
    from twitter_flink_spark.queries import scale

    _tag(tmp_path, monkeypatch)
    monkeypatch.setattr(staging, "STALE_AFTER_S", -1)
    seen = []
    swap = scale.swap_table_dir

    def watched_swap(tmp, dest, carry):
        swap(tmp, dest, carry)
        seen.append(
            (
                staging._finalizing_alive(dest),
                os.path.exists(os.path.join(dest, staging.MARKER)),
            )
        )

    monkeypatch.setattr(scale, "swap_table_dir", watched_swap)
    dest = getattr(scale, layout)(spark, "/root/testdata/sf0.001")[0]
    assert seen == [(True, False)]
    assert os.path.exists(os.path.join(dest, staging.MARKER))
    assert not os.path.exists(os.path.join(dest, staging.FINALIZING))
