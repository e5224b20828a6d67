"""Unit tests of the benchmark's own arithmetic and inputs (no Spark).

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import time

import duckdb
import pytest

from perfbench import checks, report
from perfbench.layers import (
    LOOP_REF_S,
    CallRecord,
    HostProbe,
    JobRecord,
    StageRecord,
    attribute_jobs,
    fill_layers,
    in_window,
    percentile,
    tail_percentile,
    union_length,
)
from perfbench.workloads import WORKLOADS, rounds_for

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- stage-span union and driver gap -----------------------------------------


def test_union_merges_overlaps_and_keeps_gaps():
    spans = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0)]
    assert union_length(spans, 0.0, 10.0) == pytest.approx(4.0)


def test_union_counts_nested_spans_once():
    assert union_length([(1.0, 5.0), (2.0, 3.0)], 0.0, 10.0) == pytest.approx(4.0)


def test_union_clips_to_the_call_window():
    spans = [(-2.0, 1.0), (9.0, 12.0), (20.0, 21.0)]
    assert union_length(spans, 0.0, 10.0) == pytest.approx(2.0)


def test_union_of_nothing_is_zero():
    assert union_length([], 0.0, 10.0) == 0.0


def _stage(sid, start, end, tasks=2, run_s=1.0):
    return StageRecord(sid, start, end, tasks, run_s, 0.5, 0.1, 10, 20, 30, 40, 0)


class FakeStore:
    """Duck-typed ``StatusStore`` over a fixed job and stage set."""

    def __init__(self, jobs, stages):
        self._jobs = jobs
        self._stages = stages

    def drain(self):
        pass

    def jobs(self):
        return dict(self._jobs)

    def stage(self, sid):
        return self._stages.get(sid)


def _call(lo, hi, start=100.0, end=110.0):
    return CallRecord("q", "m", 1, start=start, end=end, span_id="r1:q", job_lo=lo, job_hi=hi)


def test_stage_busy_and_driver_gap_add_back_to_wall():
    stages = {1: _stage(1, 101.0, 104.0), 2: _stage(2, 103.0, 105.0), 3: _stage(3, 107.0, 108.0)}
    jobs = {0: JobRecord(0, 101.0, 105.0, [1, 2]), 1: JobRecord(1, 107.0, 108.0, [3])}
    call = _call(0, 2)
    spans: list = []
    fill_layers([call], FakeStore(jobs, stages), spans)
    assert call.layers["stage_busy_s"] == pytest.approx(5.0)
    assert call.layers["driver_gap_s"] == pytest.approx(5.0)
    assert call.layers["stage_busy_s"] + call.layers["driver_gap_s"] == pytest.approx(call.wall_s)
    assert call.layers["jobs"] == 2 and call.layers["stages"] == 3
    assert call.layers["tasks"] == 6
    assert {s["name"] for s in spans} == {"job 0", "job 1", "stage 1", "stage 2", "stage 3"}
    assert all(s["parent"] == "r1:q" for s in spans)


def test_skipped_stage_is_not_busy_time():
    jobs = {0: JobRecord(0, 101.0, 102.0, [1, 2])}
    call = _call(0, 1)
    fill_layers([call], FakeStore(jobs, {1: _stage(1, 101.0, 102.0)}), [])
    assert call.layers["stages"] == 1
    assert call.layers["stage_busy_s"] == pytest.approx(1.0)


# -- job-ID range attribution under eviction ---------------------------------


def test_attribution_takes_exactly_the_range():
    ids, missing = attribute_jobs({0, 1, 2, 3, 4, 5}, 2, 5)
    assert ids == [2, 3, 4] and not missing


def test_partly_evicted_range_is_flagged_missing():
    ids, missing = attribute_jobs({5, 6, 7}, 3, 8)
    assert ids == [5, 6, 7] and missing


def test_call_without_jobs_is_not_missing():
    assert attribute_jobs({1, 2}, 3, 3) == ([], False)


def test_evicted_call_is_missing_not_zero_in_the_round():
    jobs = {j: JobRecord(j, 101.0, 102.0, [j]) for j in range(4, 8)}
    stages = {j: _stage(j, 101.0, 102.0) for j in range(4, 8)}
    evicted, whole = _call(0, 6), _call(6, 8, 110.0, 120.0)
    fill_layers([evicted, whole], FakeStore(jobs, stages), [])
    assert evicted.missing and not whole.missing
    layers = report._round_layers([evicted, whole], cores=4)
    assert layers["jobs"] == 2  # only the complete record counts
    values = report.per_layer([[evicted, whole]], [_rep()], 4, [0.1], [0.02])
    assert values["layer_records_missing"]["value"] == 1


def _rep():
    return {"setup_s": 1.0, "fixture_build_s": 0.5, "fixtures_built": 3}


# -- percentile rule ----------------------------------------------------------


def test_nearest_rank_percentile():
    assert percentile(list(range(1, 101)), 90) == 90
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0


@pytest.mark.parametrize(
    "n, pct",
    [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0), (200, 95.0), (1000, 99.0)],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, pct):
    samples = [float(i) for i in range(n)]
    got = tail_percentile(samples)
    if pct is None:
        assert got is None
        return
    assert got[0] == pct
    assert sum(s > got[1] for s in samples) >= 10


# -- host-speed scaling -------------------------------------------------------


def test_times_scale_to_the_reference_loop_speed_of_their_phase():
    call = CallRecord("q", "m", 1, start=0.0, end=10.0, rows=100)
    raw = report.end_to_end([[call]], [_rep()], 1000.0, None, None)
    # set-up ran at the reference speed, the timed round at half of it
    got = report.end_to_end([[call]], [_rep()], 1000.0, [LOOP_REF_S], [2 * LOOP_REF_S] * 3)
    assert got["setup_s"]["value"] == pytest.approx(raw["setup_s"]["value"])
    for name in ("total_s", "op_s_p50"):
        assert got[name]["value"] == pytest.approx(raw[name]["value"] / 2)
    assert got["rows_per_s"]["value"] == pytest.approx(raw["rows_per_s"]["value"] * 2)
    assert got["peak_rss_mb"] == raw["peak_rss_mb"]


def test_window_keeps_the_samples_that_ended_inside_it():
    samples = [(1.0, 0.1), (2.0, 0.2), (3.0, 0.3), (4.0, 0.4)]
    assert in_window(samples, 2.0, 3.5) == [0.2, 0.3]
    assert in_window(samples, 5.0, 6.0) == []


def test_host_probe_samples_until_stopped_and_exits():
    probe = HostProbe(sorted(os.sched_getaffinity(0))[-1])
    time.sleep(0.5)
    samples = probe.stop()
    assert samples and all(s > 0 for _, s in samples)
    assert probe._proc.returncode == 0
    assert probe.stop() is samples


# -- fixed work per run -------------------------------------------------------


@pytest.mark.parametrize("seconds, rounds", [(1, 1), (15, 1), (20, 1), (25, 2), (45, 3)])
def test_seconds_buy_a_fixed_count_of_whole_rounds(seconds, rounds):
    assert rounds_for(seconds) == rounds


# -- inputs -------------------------------------------------------------------


def _tree_bytes(root):
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_same_seed_gives_byte_identical_inputs(workload, tmp_path):
    wl = WORKLOADS[workload]
    wl.generate(7, str(tmp_path / "a"))
    wl.generate(7, str(tmp_path / "b"))
    wl.generate(8, str(tmp_path / "c"))
    a, b, c = (_tree_bytes(tmp_path / d) for d in "abc")
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_late_events_are_late_and_share_is_small():
    from perfbench import inputs

    t = inputs.events(1, 10_000, span_s=3_000, n_keys=100, zipf_a=1.2, late_share=0.02)
    ts = t.column("ts").to_numpy().astype("int64")
    running_max = ts.copy()
    for i in range(1, len(ts)):
        running_max[i] = max(running_max[i - 1], ts[i])
    late = (running_max - ts) > 1_000_000_000  # more than the 1 s watermark
    assert 0.005 < late.mean() < 0.05
    assert (ts % 1000 == 0).all()  # whole microseconds


# -- value hash ---------------------------------------------------------------


def test_value_hash_ignores_row_and_column_order_but_not_types():
    con = duckdb.connect()
    h = checks.value_hash
    a = h(con, "SELECT * FROM (VALUES (1, 'x'), (2, 'y')) t(k, v)")
    b = h(con, "SELECT v, k FROM (VALUES (2, 'y'), (1, 'x')) t(k, v)")
    as_double = h(con, "SELECT k::DOUBLE AS k, v FROM (VALUES (1, 'x'), (2, 'y')) t(k, v)")
    dup = h(con, "SELECT * FROM (VALUES (1, 'x'), (1, 'x'), (2, 'y')) t(k, v)")
    assert a == b
    assert a != as_double
    assert a != dup


# -- the contract file --------------------------------------------------------


def test_benchmark_json_matches_what_the_runner_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == report.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == report.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert spec["end_to_end"][0]["name"] == "setup_s"
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s"
    )
