"""Small-file compaction: plan (bin-pack) + execute (copy-free swap).

The small-files problem is the canonical lakehouse maintenance chore: a
streaming sink or fine-grained ingest leaves a table as thousands of
KB-scale parquet files, and every scan pays per-file open/footer/schedule
cost that dwarfs the data. Compaction is the fix, and its two halves are
deliberately separate here:

- ``compaction_plan``: pure metadata — first-fit-decreasing bin-packing
  of the files below the size threshold into groups whose merged size
  approaches ``target_bytes``. O(files) driver-side planning over sizes
  the filesystem already knows (at 100 TB: over the table format's
  manifest), no data read.
- ``compact_table``: executes the plan by building a NEW GENERATION of
  the table directory — every untouched file HARDLINKED in (zero bytes
  copied, the object-store analogue is reusing the same immutable
  object keys in a new manifest), every planned group read once and
  written as one merged file — and publishing it with the same atomic
  pointer swap the skipping manifests use (`commit.new_generation`,
  `commit.replace_dir`): readers see the old or the new file set at
  every instant, a crash strands only a uniquely-named scratch
  generation, and rows are never duplicated or lost mid-compact (the
  failure mode of delete-originals-after-merge protocols).

Only the planned small files are ever opened: the I/O bill is the small
fraction being fixed, not the table.
"""

from __future__ import annotations

import os
import re
import shutil
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from twitter_flink_spark.commit import (
    new_generation,
    replace_dir,
    scratch_name,
    sweep_scratch,
)
from twitter_flink_spark.operators.skipping import norm_path
from twitter_flink_spark.session import local_frame

#: Diagnostic: Spark job count of the LAST ``compact_table`` merge write
#: (None until a merge has run). The distributed executor writes every
#: merge group in ONE job, so this stays a small constant no matter how
#: many groups the plan holds — ``tests/test_files.py`` pins it (<= a
#: small bound, not == 1: ``getJobIdsForGroup`` counts EVERY job in the
#: group, and AQE stage re-optimization or the broadcast-map build can
#: legitimately add one or two). Diagnostic only — a mutable module
#: global, last-writer-wins across concurrent compactions in one
#: process; never read it for correctness decisions.
LAST_MERGE_JOBS: int | None = None


def compaction_plan(
    files: list[tuple[str, int]], target_bytes: int
) -> list[list[str]]:
    """First-fit-decreasing bin-packing of the files strictly smaller
    than ``target_bytes`` into merge groups of summed size <=
    ``target_bytes``; only groups of >= 2 files are worth a rewrite and
    returned. Deterministic: ties in size break on path."""
    smalls = sorted(
        ((p, s) for p, s in files if s < target_bytes),
        key=lambda ps: (-ps[1], ps[0]),
    )
    bins: list[tuple[int, list[str]]] = []
    for p, s in smalls:
        for i, (used, members) in enumerate(bins):
            if used + s <= target_bytes:
                bins[i] = (used + s, members + [p])
                break
        else:
            bins.append((s, [p]))
    return [members for _, members in bins if len(members) >= 2]


def compact_table(
    spark: SparkSession, root: str, target_bytes: int
) -> tuple[int, int, int]:
    """Compact ``root``'s small parquet files per ``compaction_plan``;
    returns (files_before, files_after, groups_merged). No-op (no swap)
    when the plan is empty. Untouched files are hardlinked into the new
    generation — same inode, zero copy — so repeated compactions cost
    only the small tail they actually fix.

    The executor is DISTRIBUTED: all merge groups are written in ONE
    Spark job — every planned file is read in a single scan, each row
    tagged with its plan group via a broadcast (basename -> gid) join,
    hash-repartitioned into exactly ``len(plan)`` partitions on gid (so
    one group never splits across tasks), and written partitioned by
    gid. A driver loop of one ``coalesce(1)`` job per group would
    serialize O(groups) sequential jobs — a driver-side bottleneck at a
    million-small-file table; this shape is O(1) jobs with all merge
    work parallel across the cluster (the ``binpack_write`` precedent).

    Merged basenames carry a GENERATION COUNTER
    (``compacted-g{gen}-{gid}.parquet``, gen = 1 + max seen in the live
    file set): a previous pass's compacted file that is untouched this
    pass is hardlinked into the new generation under its old basename,
    and a same-named fresh merge output would silently rename OVER that
    hardlink — permanently losing its rows once the old generation is
    swept. Unique-per-generation names make that collision impossible.
    """
    global LAST_MERGE_JOBS
    # a compaction that died between moving the real-dir table aside and
    # its pointer rename left no table dir: put the aside back first
    sweep_scratch(root)
    live = [
        norm_path(f) for f in spark.read.parquet(root).inputFiles()
    ]
    # FLAT-LAYOUT PRECONDITION, checked loudly up front: both the merge
    # tagging (broadcast basename->gid join) and the untouched-file
    # hardlink flatten key on BASENAME. A nested/partitioned layout
    # where part-00000.parquet repeats per subdir would (a) tag rows
    # into multiple gid_map entries, tripping the row-conservation
    # guard on every attempt, and (b) collide in the hardlink flatten —
    # and flattening would strip the partition directories from
    # discovery anyway. Compact each leaf directory separately (or use
    # ``binpack_write``, which is partition-aware).
    names = [os.path.basename(p) for p in live]
    if len(set(names)) != len(names):
        dup = sorted({n for n in names if names.count(n) > 1})[:3]
        raise ValueError(
            f"compact_table: duplicate basenames under {root} "
            f"(e.g. {dup}); nested/partitioned layouts are not "
            "supported — compact each leaf directory separately"
        )
    sizes = [(p, os.stat(p).st_size) for p in sorted(live)]
    plan = compaction_plan(sizes, target_bytes)
    if not plan:
        return len(live), len(live), 0
    planned = {p for group in plan for p in group}
    gen_no = 1 + max(
        (
            int(m.group(1))
            for p, _ in sizes
            if (m := re.match(r"compacted-g(\d+)-", os.path.basename(p)))
        ),
        default=0,
    )
    gen = new_generation(root, [p for p, _ in sizes if p not in planned])
    stage = scratch_name(root, "merge")
    shutil.rmtree(stage, ignore_errors=True)
    # input_file_name() renders the URI-ENCODED path (space -> %20,
    # % -> %25, '+' kept), so the map keys must carry the same encoding
    # or an exotic basename would silently match nothing and its rows
    # would be written nowhere; quote(..., safe="+") mirrors Hadoop's
    # Path encoding for those cases, and the row-conservation guard
    # below turns any residual disagreement into a loud error instead
    # of silent data loss
    from urllib.parse import quote

    gid_rows = [
        (quote(os.path.basename(p), safe="+"), gid)
        for gid, group in enumerate(plan)
        for p in group
    ]
    gid_map = local_frame(
        spark, gid_rows, "__compact_file string, __compact_gid int"
    )
    # input_file_name() is non-deterministic: Catalyst rejects it inside
    # a join condition, so materialize the basename as a column first
    src = spark.read.parquet(*sorted(planned)).withColumn(
        "__compact_src",
        F.substring_index(F.input_file_name(), "/", -1),
    )
    sc = spark.sparkContext
    job_group = f"compact-merge-{os.getpid()}-{time.monotonic_ns():x}"
    sc.setJobGroup(job_group, "compaction: merge all groups (one job)")
    try:
        (
            src.join(
                F.broadcast(gid_map),
                src["__compact_src"] == gid_map["__compact_file"],
            )
            .drop("__compact_file", "__compact_src")
            .repartition(len(plan), F.col("__compact_gid"))
            .write.partitionBy("__compact_gid")
            .mode("overwrite")
            .parquet(stage)
        )
        LAST_MERGE_JOBS = len(
            sc.statusTracker().getJobIdsForGroup(job_group)
        )
    finally:
        sc.setJobGroup("", "")
    # ROW-CONSERVATION GUARD: every planned row must be in the staged
    # merge output (an unmatched basename drops rows silently — the
    # inner join writes them nowhere and the per-gid move loop cannot
    # tell an all-empty group from a lost one). Two counts over the
    # small tail being compacted; on mismatch abandon scratch and raise
    # BEFORE any swap, so the live table is untouched.
    n_src = src.count()
    # an all-empty-file plan stages no readable parquet at all
    n_staged = (
        spark.read.parquet(stage).count() if n_src else 0
    )
    if n_src != n_staged:
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(gen, ignore_errors=True)
        raise RuntimeError(
            f"compact_table: merge staged {n_staged} rows for "
            f"{n_src} planned rows under {root}; aborting before the "
            "swap (basename/URI-encoding mismatch?)"
        )
    for gid in range(len(plan)):
        gdir = os.path.join(stage, f"__compact_gid={gid}")
        if not os.path.isdir(gdir):  # all-empty group: nothing to move
            continue
        parts = sorted(
            f for f in os.listdir(gdir) if f.endswith(".parquet")
        )
        for j, part in enumerate(parts):
            os.rename(
                os.path.join(gdir, part),
                os.path.join(
                    gen, f"compacted-g{gen_no}-{gid:05d}-{j:02d}.parquet"
                ),
            )
    shutil.rmtree(stage, ignore_errors=True)
    n_after = sum(
        1 for f in os.listdir(gen) if f.endswith(".parquet")
    )
    replace_dir(gen, root)
    return len(live), n_after, len(plan)
