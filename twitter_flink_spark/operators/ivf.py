"""IVF index delete lifecycle: tombstones + CELL-LOCAL compaction.

The assignment table of the incremental IVF index
(`queries/similarity.py::_ensure_ivf_inc_index`) is partitioned by cid —
the inverted-list layout where a probe opens exactly its cell's
directory. Deletion follows the same tombstone-then-compact split as the
LSH index (`operators/dedup.py::lsh_index_delete`), with one structural
advantage the partitioning buys: compaction rewrites ONLY the cid
directories that actually contain deleted vectors, never the whole
assignment table — at 100 TB a delete batch touching k' of k cells pays
k'/k of a full rewrite, the partition-level rewrite every table format
optimizes deletes into.

Tombstones live in a ``_tombs`` sibling of ``_assign`` (one vec_id row
per deleted vector, appended O(batch) via stage+rename); every serve
path anti-joins them before scoring. A tombstoned vector also stays
"known" to the incremental assigner (its assignment row is intact), so
redelivery does not resurrect it — until compaction, whose contract
matches the LSH one: the index forgets, keeping deleted vectors out of
the SOURCE is the upstream contract.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from twitter_flink_spark.commit import (
    append_files,
    has_parquet,
    observed_count,
    publish_partitions,
)
from twitter_flink_spark.session import local_frame

TOMBS_DIR = "_tombs"


def _tombs_path(index_dir: str) -> str:
    return os.path.join(index_dir, TOMBS_DIR)


def ivf_tombstones(spark: SparkSession, index_dir: str) -> DataFrame:
    """The current tombstone set (empty frame if none). Robust to a
    ``_tombs`` dir holding no parquet files yet (a delete batch that
    turned out to be fully redelivered appends nothing but may have
    created the dir)."""
    p = _tombs_path(index_dir)
    if has_parquet(p):
        return spark.read.parquet(p).select("vec_id")
    return local_frame(spark, [], "vec_id long")


def ivf_index_delete(
    spark: SparkSession, vec_ids: DataFrame, index_dir: str
) -> int:
    """Tombstone ``vec_ids`` out of the IVF index: O(delete batch) — one
    semi-join against the assignment table (only indexed vectors can be
    forgotten), one anti-join against existing tombstones (idempotent:
    re-deleting returns 0 and appends nothing), one appended parquet.
    The newly-tombstoned count is OBSERVED during the append write (one
    Spark job per delete batch, not a count job plus a write job — the
    r15 streaming-maintenance regression was job-submission bound).
    Returns the number of newly tombstoned vectors."""
    from pyspark.sql import Observation

    assign = spark.read.parquet(os.path.join(index_dir, "_assign"))
    obs = Observation()
    todo = (
        vec_ids.select("vec_id")
        .distinct()
        .join(assign.select("vec_id"), "vec_id", "left_semi")
        .join(ivf_tombstones(spark, index_dir), "vec_id", "left_anti")
        .observe(obs, F.count(F.lit(1)).alias("n"))
    )
    p = _tombs_path(index_dir)
    os.makedirs(p, exist_ok=True)
    append_files([("tomb", todo)], p)
    return observed_count(obs)


def ivf_index_compact(spark: SparkSession, index_dir: str) -> tuple[int, int]:
    """Physically drop tombstoned vectors, rewriting ONLY the cid
    directories that hold them: the tombstone set joins the assignment
    table once to find the touched cells, each touched ``cid=<c>`` dir
    is rewritten (anti-join) via tmp + atomic swap, untouched cells'
    files are never opened, and the tombstone dir is removed last — a
    crash mid-compact leaves some cells rewritten and the tombstones
    still in place, so serving stays correct (the anti-join still hides
    the not-yet-reclaimed rows) and the next compact finishes the rest.
    Returns (vectors reclaimed, cells rewritten); (0, 0) is a no-op."""
    tombs = ivf_tombstones(spark, index_dir)
    assign_dir = os.path.join(index_dir, "_assign")
    assign = spark.read.parquet(assign_dir)
    doomed = (
        assign.join(tombs, "vec_id", "left_semi").select("vec_id", "cid")
    )
    # cells and reclaim count from ONE k-bounded aggregate (previously a
    # distinct-collect job plus a count job)
    per_cell = doomed.groupBy("cid").agg(F.count(F.lit(1)).alias("n")).collect()
    cells = sorted(int(r["cid"]) for r in per_cell)
    n = sum(int(r["n"]) for r in per_cell)
    if not n:
        return 0, 0
    # rewrite EVERY touched cell in ONE job: the survivors of the
    # tombstone-bearing cells stage partitioned by cid and each staged
    # cell dir swaps in atomically — per-cell crash posture unchanged,
    # but one Spark job instead of a sequential read+write per cell
    # (the previous driver loop serialized k' jobs)
    kept = (
        assign.where(F.col("cid").isin(cells))
        .join(tombs, "vec_id", "left_anti")
        .repartition(F.col("cid"))
    )
    publish_partitions(kept, assign_dir, "cid", cells)
    shutil.rmtree(_tombs_path(index_dir), ignore_errors=True)
    return n, len(cells)
