"""Per-layer measurement read from outside the engine.

Three sources, none of which needs a change to the package:

- the benchmark's own clock around each call (``time.time()``, so spans
  line up with Spark's epoch-millisecond timestamps);
- Spark's AppStatusStore, read through py4j after the timed phase: the jobs
  a call launched are found by the job-ID range it spanned, then each job's
  stages by ``lastStageAttempt``;
- a ``StreamingQueryListener`` that keeps every micro-batch progress event.

Beside them, ``HostProbe`` times a fixed loop on a core of its own, to
read how fast the host itself runs meanwhile.

The pure helpers at the top (interval union, percentile rule, job-range
attribution) carry the arithmetic and are unit-tested without Spark.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import select
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# pure helpers


def union_length(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``spans`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in spans if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def percentile(samples: list[float], pct: float) -> float:
    """Nearest-rank percentile."""
    ordered = sorted(samples)
    rank = max(1, math.ceil(pct / 100.0 * len(ordered)))
    return ordered[rank - 1]


#: the percentiles a tail may be reported at, highest first
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(samples: list[float]) -> tuple[float, float] | None:
    """The highest percentile of ``TAIL_LADDER`` that has at least ten
    samples beyond it, as ``(pct, value)``; None below 20 samples."""
    n = len(samples)
    for pct in TAIL_LADDER:
        if n - max(1, math.ceil(pct / 100.0 * n)) >= 10:
            return pct, percentile(samples, pct)
    return None


def attribute_jobs(present: set[int], lo: int, hi: int) -> tuple[list[int], bool]:
    """Jobs ``lo <= id < hi`` that the status store still holds, and
    whether any of the range is missing (evicted): a call whose record is
    incomplete must be reported as missing, never as zero work."""
    ids = [j for j in range(lo, hi) if j in present]
    return ids, len(ids) != hi - lo


# ---------------------------------------------------------------------------
# status store


@dataclass
class StageRecord:
    stage_id: int
    start: float | None  # epoch seconds
    end: float | None
    tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    input_bytes: int
    output_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass
class JobRecord:
    job_id: int
    start: float | None
    end: float | None
    stage_ids: list[int]


def _opt_epoch(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.length())]


class StatusStore:
    """Thin py4j reader over the running SparkContext's AppStatusStore."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()

    def next_job_id(self) -> int:
        """The ID the next job will get (job IDs are dense per context)."""
        return self._sc.dagScheduler().numTotalJobs()

    def drain(self, timeout_s: float = 30.0) -> None:
        """Wait until every queued listener event reached the store."""
        self._sc.listenerBus().waitUntilEmpty(int(timeout_s * 1000))

    def jobs(self) -> dict[int, JobRecord]:
        out = {}
        for job in _seq(self._sc.statusStore().jobsList(None)):
            out[job.jobId()] = JobRecord(
                job.jobId(),
                _opt_epoch(job.submissionTime()),
                _opt_epoch(job.completionTime()),
                [int(s) for s in _seq(job.stageIds())],
            )
        return out

    def stage(self, stage_id: int) -> StageRecord | None:
        """The last attempt of a stage, or None for a stage that never ran
        (skipped because its shuffle output was reused) or was evicted."""
        from py4j.protocol import Py4JJavaError

        try:
            st = self._sc.statusStore().lastStageAttempt(stage_id)
        except Py4JJavaError:  # NoSuchElementException: evicted
            return None
        start = _opt_epoch(st.submissionTime())
        if start is None:
            return None
        return StageRecord(
            stage_id,
            start,
            _opt_epoch(st.completionTime()),
            st.numTasks(),
            st.executorRunTime() / 1000.0,
            st.executorCpuTime() / 1e9,
            st.jvmGcTime() / 1000.0,
            st.inputBytes(),
            st.outputBytes(),
            st.shuffleReadBytes(),
            st.shuffleWriteBytes(),
            st.memoryBytesSpilled() + st.diskBytesSpilled(),
        )


def catalyst_s(df) -> float:
    """Analysis + optimization + planning time of ``df``'s own
    QueryExecution, planning it first if nothing has yet."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total_ms = 0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total_ms += opt.get().durationMs()
    return total_ms / 1000.0


# ---------------------------------------------------------------------------
# call records


@dataclass
class CallRecord:
    """One timed call: the function, its module, its wall span and the
    job-ID range it launched; layer fields are filled after the run."""

    name: str
    module: str
    round_no: int
    start: float
    end: float = 0.0
    span_id: str = ""
    rows: int = 0
    df_build_s: float = 0.0
    catalyst_s: float = 0.0
    #: time the tracer spent on this call: job-range reads around it and
    #: planning-tracker reads inside it
    trace_s: float = 0.0
    job_lo: int = 0
    job_hi: int = 0
    layers: dict = field(default_factory=dict)
    missing: bool = False
    #: micro-batches of the streaming queries the call ran
    batches: list = field(default_factory=list)
    #: its operations for ``op_s_p50``: the call itself, or its micro-batches
    op_is_batch: bool = False

    @property
    def wall_s(self) -> float:
        return self.end - self.start


#: shuffle/IO fields, named alike on ``StageRecord`` and in the layers
IO_BYTES = (
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
)

#: per-call layer fields that add up over a round
LAYER_SUMS = (
    "jobs",
    "stages",
    "tasks",
    "stage_busy_s",
    "driver_gap_s",
    "task_run_s",
    "task_cpu_s",
    "jvm_gc_s",
) + IO_BYTES


def fill_layers(calls: list[CallRecord], store: StatusStore, spans: list) -> None:
    """Attribute jobs and stages to each call by job-ID range, derive its
    scheduler/execution/shuffle layer fields, and append job and stage
    spans (parented to the call) to ``spans``."""
    store.drain()
    jobs = store.jobs()
    present = set(jobs)
    stage_cache: dict[int, StageRecord | None] = {}
    for call in calls:
        ids, call.missing = attribute_jobs(present, call.job_lo, call.job_hi)
        stages: dict[int, StageRecord] = {}
        for jid in ids:
            job = jobs[jid]
            spans.append(
                span(f"job {jid}", job.start, job.end, call.span_id, call.span_id)
            )
            for sid in job.stage_ids:
                if sid not in stage_cache:
                    stage_cache[sid] = store.stage(sid)
                if stage_cache[sid] is not None:
                    stages[sid] = stage_cache[sid]
        for st in stages.values():
            spans.append(
                span(f"stage {st.stage_id}", st.start, st.end, call.span_id, call.span_id)
            )
        busy = union_length(
            [(s.start, s.end or call.end) for s in stages.values()],
            call.start,
            call.end,
        )
        def total(field_name):
            return sum(getattr(s, field_name) for s in stages.values())

        call.layers = {
            "jobs": len(ids),
            "stages": len(stages),
            "tasks": total("tasks"),
            "stage_busy_s": busy,
            "driver_gap_s": call.wall_s - busy,
            "task_run_s": total("run_s"),
            "task_cpu_s": total("cpu_s"),
            "jvm_gc_s": total("gc_s"),
            **{k: total(k) for k in IO_BYTES},
        }


def span(name: str, start, end, parent, call_id) -> dict:
    return {"name": name, "start": start, "end": end, "parent": parent, "call": call_id}


# ---------------------------------------------------------------------------
# streaming progress


class ProgressLog:
    """Every micro-batch progress event of the session, in arrival order.
    Built lazily so the module imports without pyspark; ``listener()``
    returns the ``StreamingQueryListener`` to register."""

    def __init__(self):
        self._lock = threading.Lock()
        self.batches: list[dict] = []

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                ops = p.stateOperators
                rec = {
                    "batch_id": p.batchId,
                    "start": _iso_epoch(p.timestamp),
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                    "state_rows": sum(o.numRowsTotal for o in ops),
                    "state_bytes": sum(o.memoryUsedBytes for o in ops),
                    "late_rows": sum(o.numRowsDroppedByWatermark for o in ops),
                }
                with log._lock:
                    log.batches.append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()

    def data_batches(self, lo: float, hi: float) -> list[dict]:
        """Micro-batches with input rows that started within ``[lo, hi]``;
        call ``StatusStore.drain`` first so late events have arrived."""
        with self._lock:
            return [b for b in self.batches if b["rows"] and lo <= b["start"] <= hi]


def _iso_epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


# ---------------------------------------------------------------------------
# host speed

#: additions in one sample of the host-speed loop
LOOP_N = 500_000

#: seconds one loop sample takes on the reference host (a quiet 4-vCPU
#: virtual machine); end-to-end times are scaled to this loop speed
LOOP_REF_S = 0.02

#: pause between loop samples: the probe keeps about a fifth of its core
PROBE_GAP_S = 0.08


def probe_main(cpu: int) -> None:
    """The probe process: time the loop on ``cpu`` until stdin closes, then
    write every ``[end epoch, seconds]`` sample to stdout as JSON."""
    os.sched_setaffinity(0, {cpu})
    samples = []
    while True:
        t0 = time.perf_counter()
        total = 0
        for i in range(LOOP_N):
            total += i
        samples.append((time.time(), time.perf_counter() - t0))
        if select.select([sys.stdin], [], [], PROBE_GAP_S)[0]:
            break  # end of input: the run is done
    json.dump(samples, sys.stdout)


class HostProbe:
    """Times a fixed pure-Python loop, over and over, in a process of its
    own on a core that Spark does not use (the caller keeps itself, and so
    the JVM and Python workers it launches, off ``cpu``): its samples
    read how fast the host runs while the workload runs."""

    def __init__(self, cpu: int):
        self._proc = subprocess.Popen(
            [sys.executable, "-c", f"from perfbench.layers import probe_main; probe_main({cpu})"],
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        self._samples: list[tuple[float, float]] | None = None

    def stop(self) -> list[tuple[float, float]]:
        """Stop the probe, wait for its process to end, and return its
        samples; later calls return the same samples."""
        if self._samples is None:
            try:
                out, _ = self._proc.communicate(timeout=60)  # closes its stdin
            except subprocess.TimeoutExpired:
                self._proc.kill()
                self._proc.communicate()
                raise
            self._samples = [tuple(x) for x in json.loads(out)]
        return self._samples


def in_window(samples: list[tuple[float, float]], lo: float, hi: float) -> list[float]:
    """The loop times of the samples that ended within ``[lo, hi]``."""
    return [s for t, s in samples if lo <= t <= hi]


# ---------------------------------------------------------------------------
# memory


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(jvm_pid: int) -> float:
    return vm_hwm_mb(jvm_pid) + vm_hwm_mb(os.getpid())
