"""The workloads: what each generates, builds in set-up, runs per round,
and checks.

A *round* is one pass over a workload's operations: the registered queries
of a batch workload, called in order, or one catch-up replay of the
streaming feedback loop. The timed phase runs a fixed number of whole
rounds, one caller at a time (a closed loop): as many as fit the requested
seconds at the nominal round time ``ROUND_S``, and at least one.
"""

from __future__ import annotations

import importlib
import os
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import pyarrow as pa

from perfbench import checks, inputs
from perfbench.layers import CallRecord, catalyst_s


@dataclass
class Table:
    name: str
    n_files: int
    make: Callable[[int], pa.Table]  # seed -> rows


@dataclass
class Workload:
    name: str
    tables: list[Table]
    #: staged-fixture builders ("module:function") set-up runs per input dir
    fixtures: tuple[str, ...] = ()

    def generate(self, seed: int, in_dir: str) -> dict[str, int]:
        rows = {}
        for t in self.tables:
            data = t.make(seed)
            inputs.write_table(data, in_dir, t.name, t.n_files)
            rows[t.name] = data.num_rows
        return rows

    def build_fixtures(self, spark, in_dir: str) -> None:
        for ref in self.fixtures:
            module, name = ref.split(":")
            build = getattr(importlib.import_module(module), name, None)
            if build is None:
                # renamed or gone: the first call that needs it builds it
                print(f"perfbench: no fixture builder {ref}", file=sys.stderr)
                continue
            build(spark, in_dir)

    def warm_up(self, bench) -> None:
        """Untimed work between set-up and the timed rounds that brings the
        JVM's code paths for this workload closer to steady state."""


@dataclass
class BatchWorkload(Workload):
    #: registered query name -> the input table it consumes
    queries: dict[str, str] = field(default_factory=dict)

    def run_round(self, bench, round_no: int, check: bool) -> list[CallRecord]:
        from twitter_flink_spark.registry import QUERIES

        calls = []
        for name, table in self.queries.items():
            fn = QUERIES[name]
            call = bench.new_call(name, fn.__module__, round_no)
            call.rows = bench.rows[table]
            df = None
            try:
                df = fn(bench.spark, bench.in_dir)
                built = time.time()
                call.df_build_s = built - call.start
                if bench.trace:
                    call.catalyst_s = catalyst_s(df)
                    call.trace_s += time.time() - built
                df.write.format("noop").mode("overwrite").save()
            except Exception as exc:
                bench.fail(f"{name}: {type(exc).__name__}: {exc}")
                df = None
            bench.end_call(call)
            if check and df is not None:
                try:
                    bench.results[name] = checks.spark_hash(bench.duck, df)
                except Exception as exc:
                    bench.fail(f"{name}: fetching the result: {type(exc).__name__}: {exc}")
            bench.release_cache()
            calls.append(call)
        bench.attach_batches(calls)
        return calls

    def check(self, bench) -> None:
        from twitter_flink_spark.registry import ORACLES

        for name in self.queries:
            if name not in bench.results:
                continue  # already failed when it raised
            want = checks.value_hash(bench.duck, ORACLES[name])
            if bench.results[name] != want:
                bench.fail(
                    f"{name}: value hash {bench.results[name]} differs from "
                    f"its DuckDB oracle's {want}"
                )


@dataclass
class StreamWorkload(Workload):
    n: int = 10
    watermark_s: int = 1
    #: a shorter replay of its own, run by ``warm_up``
    warmup: Table | None = None

    def generate(self, seed: int, in_dir: str) -> dict[str, int]:
        rows = super().generate(seed, in_dir)
        t = self.warmup
        inputs.write_table(t.make(seed), os.path.join(in_dir, "warmup"), t.name, t.n_files)
        return rows

    def feedback(self, bench, in_dir: str, tag: str):
        from twitter_flink_spark.streaming.pipeline import TopNFeedback

        return TopNFeedback(
            bench.spark,
            in_dir,
            key_col="event_type",
            n=self.n,
            watermark_s=self.watermark_s,
            checkpoint_dir=os.path.join(bench.work, f"ckpt-{tag}"),
            max_files_per_trigger=1,
            # one WAL compaction per replay (at its last batch), as every
            # 16th batch of a long run
            compact_every=STREAM_FILES,
        )

    def warm_up(self, bench) -> None:
        fb = self.feedback(bench, os.path.join(bench.in_dir, "warmup"), "warmup")
        fb.run_leaderboard()
        fb.run_filter().count()

    def run_round(self, bench, round_no: int, check: bool) -> list[CallRecord]:
        from twitter_flink_spark.streaming.pipeline import TopNFeedback

        fb = self.feedback(bench, bench.in_dir, str(round_no))
        calls = []
        out = None
        for name, drain in (("run_leaderboard", fb.run_leaderboard), ("run_filter", fb.run_filter)):
            call = bench.new_call(f"TopNFeedback.{name}", TopNFeedback.__module__, round_no)
            try:
                out = drain()
            except Exception as exc:
                bench.fail(f"{name}: {type(exc).__name__}: {exc}")
            # a drain returns once its stream has run, so it is all build time
            call.df_build_s = time.time() - call.start
            if bench.trace and out is not None:
                t0 = time.time()
                call.catalyst_s = catalyst_s(out)
                call.trace_s += time.time() - t0
            bench.end_call(call)
            calls.append(call)
        bench.attach_batches(calls)
        board = calls[0]
        board.op_is_batch = True
        board.rows = sum(b["rows"] for b in board.batches)
        if check and out is not None:
            bench.results["stream"] = {
                "snapshot": list(fb.snapshot),
                "kv": dict(fb.kv.data),
                "matched": out.count(),
                "events": board.rows,
            }
        return calls

    def check(self, bench) -> None:
        got = bench.results.get("stream")
        if got is None:
            return  # the round already failed
        want = checks.feedback_oracle(bench.duck, bench.in_dir, self.n, self.watermark_s)
        for key in ("snapshot", "kv", "matched", "events"):
            if got[key] != want[key]:
                bench.fail(f"stream {key}: got {got[key]!r}, DuckDB says {want[key]!r}")


#: nominal seconds of one round of any workload on 4 vCPUs
ROUND_S = 15.0


def rounds_for(seconds: float) -> int:
    """The rounds ``--seconds`` buys: a fixed count, so a faster program or
    host runs the same work."""
    return max(1, round(seconds / ROUND_S))


FLAGSHIP_DOCS = 10_000
STREAM_FILES, STREAM_EVENTS_PER_FILE, WARMUP_FILES = 6, 2_000, 3


def _stream_events(seed: int, files: int, salt: int = 0):
    return inputs.events(
        seed,
        files * STREAM_EVENTS_PER_FILE,
        span_s=files * 300,
        n_keys=20_000,
        zipf_a=1.2,
        late_share=0.02,
        salt=salt,
    )


WORKLOADS = {
    w.name: w
    for w in (
        BatchWorkload(
            name="flagship_batch",
            tables=[
                Table(
                    "documents",
                    8,
                    lambda seed: inputs.documents(seed, FLAGSHIP_DOCS),
                )
            ],
            queries={
                "flagship_topn_semijoin": "documents",
                "topn_tokens_per_window": "documents",
                "global_topk_tokens": "documents",
                "semi_join_topk_exploded": "documents",
                "tweet_parse_hashtag_counts": "documents",
            },
        ),
        StreamWorkload(
            name="stream_topn",
            tables=[
                Table("events", STREAM_FILES, lambda seed: _stream_events(seed, STREAM_FILES))
            ],
            # independent events, so the warm-up never replays the input
            warmup=Table(
                "events", WARMUP_FILES, lambda seed: _stream_events(seed, WARMUP_FILES, salt=1)
            ),
        ),
        BatchWorkload(
            name="index_maintenance",
            tables=[
                Table("embeddings", 2, lambda seed: inputs.embeddings(seed, 500)),
                Table(
                    "events",
                    2,
                    lambda seed: inputs.events(seed, 10_000, span_s=30 * 86_400),
                ),
            ],
            fixtures=(
                "twitter_flink_spark.queries.streaming:_ensure_vecid_split_embeddings",
                "twitter_flink_spark.queries.streaming:_ensure_split_events",
            ),
            queries={
                "streaming_ivf_assign_maintenance": "embeddings",
                "streaming_incremental_mv": "events",
            },
        ),
    )
}
