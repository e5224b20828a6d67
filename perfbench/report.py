"""Turning call records into the reported metrics and spans."""

from __future__ import annotations

import dataclasses
import statistics
import sys

from perfbench.layers import LAYER_SUMS, LOOP_REF_S, span

#: end-to-end metric -> unit; every run with ``--trace 0`` reports all of them
END_TO_END = {
    "setup_s": "s",
    "total_s": "s",
    "op_s_p50": "s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}

#: per-layer metric -> unit; every run with ``--trace 1`` reports all of
#: them, 0 where the layer does not run on the workload
PER_LAYER = {
    # scheduler / driver
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "tasks_per_stage": "count",
    "stage_busy_s": "s",
    "driver_gap_s": "s",
    # execution
    "task_run_s": "s",
    "task_cpu_s": "s",
    "slot_busy_ratio": "ratio",
    "jvm_gc_s": "s",
    # shuffle / IO
    "shuffle_write_bytes": "bytes",
    "shuffle_read_bytes": "bytes",
    "spill_bytes": "bytes",
    "input_bytes": "bytes",
    "output_bytes": "bytes",
    # planning
    "df_build_s": "s",
    "catalyst_s": "s",
    # streaming
    "batches": "count",
    "batch_input_rows": "rows",
    "add_batch_s": "s",
    "query_planning_s": "s",
    "wal_commit_s": "s",
    "latest_offset_s": "s",
    "state_rows": "rows",
    "state_bytes": "bytes",
    "late_rows_dropped": "rows",
    # fixtures
    "fixture_build_s": "s",
    "fixtures_built": "count",
    # the measurement itself
    "layer_records_missing": "count",
    "trace_overhead_s": "s",
    "canary_s": "s",
    "host_loop_ms": "ms",
    "cores": "count",
}


def _metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def round_s(calls) -> float:
    return sum(c.wall_s for c in calls)


def op_samples(rounds) -> list[float]:
    """One sample per operation: a call's wall time, or for a streaming
    call each data micro-batch's ``triggerExecution`` time."""
    out = []
    for calls in rounds:
        for c in calls:
            if c.op_is_batch:
                out.extend(b["duration_ms"]["triggerExecution"] / 1000.0 for b in c.batches)
            else:
                out.append(c.wall_s)
    return out


def _rows_per_s(calls) -> float:
    fed = [c for c in calls if c.rows]
    return sum(c.rows for c in fed) / sum(c.wall_s for c in fed)


def host_scale(loops: list[float] | None) -> float:
    """Factor that scales a time taken on this host to the reference
    host's loop speed: ``LOOP_REF_S`` over the median loop time while it
    was taken (1 without samples, i.e. unscaled)."""
    return LOOP_REF_S / statistics.median(loops) if loops else 1.0


def end_to_end(rounds, reps, rss_mb: float, setup_loops, timed_loops) -> dict:
    """The end-to-end metrics, each time scaled by ``host_scale`` of the
    loop samples taken during its phase (set-up, or the timed rounds)."""
    med = statistics.median
    setup_scale, scale = host_scale(setup_loops), host_scale(timed_loops)
    values = {
        "setup_s": med(r["setup_s"] for r in reps) * setup_scale,
        "total_s": med(round_s(r) for r in rounds) * scale,
        "op_s_p50": med(op_samples(rounds)) * scale,
        "rows_per_s": med(_rows_per_s(r) for r in rounds) / scale,
        "peak_rss_mb": rss_mb,
    }
    return {k: _metric(v, END_TO_END[k]) for k, v in values.items()}


def _stream_fields(calls) -> dict:
    batches = [b for c in calls for b in c.batches]
    if not batches:
        return {}

    def dur(*keys):
        return sum(b["duration_ms"].get(k, 0) for b in batches for k in keys) / 1000.0

    return {
        "batches": len(batches),
        "batch_input_rows": sum(b["rows"] for b in batches) / len(batches),
        "add_batch_s": dur("addBatch"),
        "query_planning_s": dur("queryPlanning"),
        "wal_commit_s": dur("walCommit", "commitOffsets"),
        "latest_offset_s": dur("latestOffset"),
        "state_rows": max(b["state_rows"] for b in batches),
        "state_bytes": max(b["state_bytes"] for b in batches),
        "late_rows_dropped": sum(b["late_rows"] for b in batches),
    }


def _round_layers(calls, cores: int) -> dict:
    kept = [c for c in calls if not c.missing]
    out = {k: sum(c.layers[k] for c in kept) for k in LAYER_SUMS}
    out["tasks_per_stage"] = out["tasks"] / out["stages"] if out["stages"] else 0
    busy = out["stage_busy_s"] * cores
    out["slot_busy_ratio"] = out["task_run_s"] / busy if busy else 0
    out["df_build_s"] = sum(c.df_build_s for c in calls)
    out["catalyst_s"] = sum(c.catalyst_s for c in calls)
    out.update(_stream_fields(calls))
    return out


def per_layer(rounds, reps, cores: int, canary: list[float], loops: list[float]) -> dict:
    med = statistics.median
    per_round = [_round_layers(r, cores) for r in rounds]
    values = {k: 0 for k in PER_LAYER}
    for k in per_round[0]:
        values[k] = med(r[k] for r in per_round)
    values["fixture_build_s"] = med(r["fixture_build_s"] for r in reps)
    values["fixtures_built"] = med(r["fixtures_built"] for r in reps)
    values["layer_records_missing"] = sum(c.missing for r in rounds for c in r)
    values["trace_overhead_s"] = med(sum(c.trace_s for c in r) for r in rounds)
    values["canary_s"] = med(canary)
    values["host_loop_ms"] = med(loops) * 1000.0 if loops else 0
    values["cores"] = cores
    return {k: _metric(values[k], PER_LAYER[k]) for k in PER_LAYER}


def call_spans(rounds) -> list[dict]:
    """Round, call, build/materialize and micro-batch spans; job and stage
    spans come from ``layers.fill_layers``."""
    out = []
    for calls in rounds:
        rid = f"r{calls[0].round_no}"
        out.append(span(rid, calls[0].start, calls[-1].end, None, rid))
        for c in calls:
            out.append(span(c.name, c.start, c.end, rid, c.span_id))
            if c.df_build_s:
                mid = c.start + c.df_build_s
                out.append(span("build", c.start, mid, c.span_id, c.span_id))
                out.append(span("materialize", mid, c.end, c.span_id, c.span_id))
            for b in c.batches:
                dur = b["duration_ms"]["triggerExecution"] / 1000.0
                out.append(
                    span(f"batch {b['batch_id']}", b["start"], b["start"] + dur, c.span_id, c.span_id)
                )
    return out


def call_dict(call) -> dict:
    d = dataclasses.asdict(call)
    d["wall_s"] = call.wall_s
    return d


def print_summary(full: dict) -> None:
    err = sys.stderr
    print(
        f"perfbench {full['workload']} seed={full['seed']} cores={full['cores']} "
        f"canary_s={[round(c, 3) for c in full['canary_s']]}",
        file=err,
    )
    for section in ("end_to_end", "per_layer"):
        for name, m in full[section].items():
            print(f"  {name:<22} {m['value']:>14.4f} {m['unit']}", file=err)
    for f in full["failures"]:
        print(f"  FAILED {f}", file=err)
