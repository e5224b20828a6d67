"""Layered top-N benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload flagship_batch --seed 1 --seconds 10 --trace 0

It generates the workload's inputs from ``--seed`` into a private directory,
sets up a session (several times, cold, to time set-up), runs the rounds
``--seconds`` buys (``workloads.rounds_for``), checks the outputs against
DuckDB, and prints one JSON line as the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` traces the same
rounds and reports the per-layer metrics. A full report (every call, the
canary samples and, when traced, the spans) goes to ``.perfbench/reports/``.
See ``perfbench/README.md`` for the metrics.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")

#: cold set-ups per run; ``setup_s`` is their median
SETUP_REPS = 3

#: driver JVM heap: ample for these inputs, small enough to share a machine
DRIVER_MEM = "2g"


def configure_env(work: str, cores: int) -> None:
    """Point every temporary path into ``work`` and give the JVM and its
    Python workers their settings, before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    prior = os.environ.get("PYTHONPATH")
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        # the launcher JVM that assembles the driver's command line
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        # Python workers import the package (and this benchmark) from the
        # checkout, whatever their working directory
        PYTHONPATH=ROOT + (os.pathsep + prior if prior else ""),
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                # keep every job and stage of a run for job-ID attribution
                "--conf spark.ui.retainedJobs=1000000",
                "--conf spark.ui.retainedStages=1000000",
                f"--conf spark.local.dir={local}",
                f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
                # a fixed heap: no run-to-run heap resizing in GC or RSS
                f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Xms{DRIVER_MEM}'",
                "pyspark-shell",
            ]
        ),
    )
    tempfile.tempdir = tmp


def claim_stdout():
    """Keep the real stdout for the result line and send fd 1 (which the
    JVM inherits) to stderr."""
    real = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    return real


def _worker_probe(batches):
    """Runs on a Python worker: fails unless the package imports there."""
    import twitter_flink_spark  # noqa: F401

    yield from batches


class Bench:
    def __init__(
        self, workload, seed: int, seconds: float, trace: bool, cores: int, work: str, probe
    ):
        from perfbench.layers import ProgressLog

        self.workload = workload
        self.probe = probe
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = cores
        self.work = work
        self.spark = None
        self.store = None
        self.in_dir = ""
        self.rows: dict[str, int] = {}
        self.results: dict = {}
        self.failures: list[str] = []
        self.attempted = 0
        self.spans: list[dict] = []
        self.progress = ProgressLog()
        self.duck = None

    # -- bookkeeping used by the workloads ---------------------------------
    def new_call(self, name: str, module: str, round_no: int):
        from perfbench.layers import CallRecord

        self.attempted += 1
        call = CallRecord(name, module, round_no, start=0.0)
        call.span_id = f"r{round_no}:{name}"
        if self.trace:
            t0 = time.time()
            call.job_lo = self.store.next_job_id()
            call.trace_s += time.time() - t0
        call.start = time.time()
        return call

    def end_call(self, call) -> None:
        call.end = time.time()
        if self.trace:
            call.job_hi = self.store.next_job_id()
            call.trace_s += time.time() - call.end

    def attach_batches(self, calls) -> None:
        """Give each call the micro-batches its streaming queries ran."""
        self.store.drain()
        for c in calls:
            c.batches = self.progress.data_batches(c.start, c.end)

    def fail(self, message: str) -> None:
        """Record a failed operation; inside an ``except``, with its traceback."""
        self.failures.append(message)
        print(f"perfbench: FAILED {message}", file=sys.stderr)
        if sys.exc_info()[0] is not None:
            traceback.print_exc()

    def release_cache(self) -> None:
        """Drop what a call left cached, as bench.py does between queries."""
        self.spark.catalog.clearCache()
        for rdd in list(self.spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist(False)

    # -- phases --------------------------------------------------------------
    def _fixture_dirs(self, in_dir: str) -> list[str]:
        key = in_dir.strip("/").replace("/", "-")
        return glob.glob(os.path.join(tempfile.gettempdir(), f"tfs-*-{key}"))

    def setup(self, gen_dir: str) -> list[dict]:
        """``SETUP_REPS`` cold set-ups, each on its own hard-linked copy of
        the inputs (fixtures are keyed by input path, so each builds
        afresh): session start, a warm-up scan of every input table, and
        the fixture builds. The last one's session and fixtures serve the
        timed phase."""
        from twitter_flink_spark.session import get_spark

        reps = []
        for k in range(SETUP_REPS):
            in_dir = os.path.join(self.work, f"in{k}")
            shutil.copytree(gen_dir, in_dir, copy_function=os.link)
            if self.spark is not None:
                self.spark.stop()
                for d in self._fixture_dirs(self.in_dir) + [self.in_dir]:
                    shutil.rmtree(d, ignore_errors=True)
            self.in_dir = in_dir
            t0 = time.perf_counter()
            self.spark = get_spark(app_name="perfbench", master=f"local[{self.cores}]")
            for t in self.workload.tables:
                self.spark.read.parquet(
                    os.path.join(in_dir, f"{t.name}.parquet")
                ).write.format("noop").mode("overwrite").save()
            t1 = time.perf_counter()
            self.workload.build_fixtures(self.spark, in_dir)
            t2 = time.perf_counter()
            reps.append(
                {
                    "setup_s": t2 - t0,
                    "fixture_build_s": t2 - t1,
                    "fixtures_built": len(self._fixture_dirs(in_dir)),
                }
            )
        from perfbench.layers import StatusStore

        self.store = StatusStore(self.spark)
        self.spark.streams.addListener(self.progress.listener())
        return reps

    def probe_workers(self) -> None:
        """One task per core on a Python worker, each importing the
        package: a worker that cannot is a failed operation."""
        self.attempted += 1
        try:
            self.spark.range(self.cores).repartition(self.cores).mapInPandas(
                _worker_probe, "id long"
            ).write.format("noop").mode("overwrite").save()
        except Exception as exc:
            self.fail(f"python worker import probe: {type(exc).__name__}: {exc}")

    def timed_pass(self) -> list[list]:
        """The rounds ``seconds`` buys; returns each round's call records.
        The first round keeps its outputs for the checks, fetched after
        each call's timing has stopped."""
        from perfbench.workloads import rounds_for

        return [
            self.workload.run_round(self, k, k == 1)
            for k in range(1, rounds_for(self.seconds) + 1)
        ]

    def run(self) -> dict:
        from bench import _canary
        from perfbench import checks, report
        from perfbench.layers import fill_layers, in_window, peak_rss_mb, tail_percentile

        phases = {}
        clock = time.perf_counter()

        def phase(name):
            nonlocal clock
            now = time.perf_counter()
            phases[name] = now - clock
            clock = now

        gen_dir = os.path.join(self.work, "gen")
        self.rows = self.workload.generate(self.seed, gen_dir)
        phase("generate_s")
        setup_t0 = time.time()
        reps = self.setup(gen_dir)
        setup_t1 = time.time()
        phase("setup_s")
        self.probe_workers()
        self.workload.warm_up(self)
        phase("warm_up_s")
        self.duck = checks.connect(
            self.in_dir, [t.name for t in self.workload.tables], self.cores
        )
        canary = [_canary(self.spark)]
        timed_t0 = time.time()
        rounds = self.timed_pass()
        timed_t1 = time.time()
        phase("timed_s")
        samples = self.probe.stop() if self.probe else []
        setup_loops = in_window(samples, setup_t0, setup_t1)
        timed_loops = in_window(samples, timed_t0, timed_t1)
        canary.append(_canary(self.spark))
        rss = peak_rss_mb(self.spark.sparkContext._gateway.proc.pid)
        if self.trace:
            fill_layers([c for r in rounds for c in r], self.store, self.spans)
            self.spans.extend(report.call_spans(rounds))
        self.workload.check(self)
        self.duck.close()
        phase("layers_and_oracles_s")
        e2e = report.end_to_end(rounds, reps, rss, setup_loops, timed_loops)
        layers = (
            report.per_layer(rounds, reps, self.cores, canary, timed_loops) if self.trace else {}
        )
        full = {
            "workload": self.workload.name,
            "seed": self.seed,
            "seconds": self.seconds,
            "cores": self.cores,
            "rows": self.rows,
            "phases_s": phases,
            "setup_reps": reps,
            "canary_s": canary,
            # (end epoch, seconds) of every host-speed loop sample
            "host_loop_s": samples,
            # (percentile, seconds), or null below 20 operations
            "op_tail": tail_percentile(report.op_samples(rounds)),
            "end_to_end": e2e,
            # the same, unscaled: as the clock read them on this host
            "end_to_end_measured": report.end_to_end(rounds, reps, rss, None, None),
            "per_layer": layers,
            "failures": self.failures,
            "calls": [report.call_dict(c) for r in rounds for c in r],
            "spans": self.spans,
        }
        os.makedirs(os.path.join(OUT, "reports"), exist_ok=True)
        name = f"{self.workload.name}-seed{self.seed}-trace{int(self.trace)}.json"
        with open(os.path.join(OUT, "reports", name), "w") as fh:
            json.dump(full, fh, indent=1, default=str)
        report.print_summary(full)
        metrics = layers if self.trace else e2e
        return {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": metrics,
        }

    def close(self) -> None:
        """Stop Spark and wait for its JVM (and with it the Python
        workers) to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    # run as a script, only perfbench/ is on the path; the checkout root
    # holds the package, bench.py and this benchmark as a package
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from perfbench.layers import HostProbe
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--cores", type=int, default=max(1, len(os.sched_getaffinity(0)) // 2),
        help="local[N] worker threads (default: half the cores; the JIT, "
        "GC and Python workers keep the other half busy)",
    )
    args = ap.parse_args(argv)

    work = os.path.join(OUT, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(work, args.cores)
    real_stdout = claim_stdout()
    # the host-speed probe gets the last core to itself; this process, and
    # with it the JVM and Python workers, keep the others
    cpus = sorted(os.sched_getaffinity(0))
    probe = HostProbe(cpus[-1]) if len(cpus) > 1 else None
    if probe is not None:
        os.sched_setaffinity(0, cpus[:-1])
    bench = Bench(
        WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace), args.cores, work, probe
    )
    try:
        result = bench.run()
    finally:
        try:
            bench.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            if probe is not None:
                probe.stop()
    print(json.dumps(result), file=real_stdout, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
