"""The IVF inverted-list index: its on-disk layout and every read and
write of it.

An index dir holds four artifacts, each read only through this module
and always with its schema (a schema-less read is one footer-inference
Spark job):

- ``_centroids`` (`ivf_centroids`): the frozen codebook, ``cid``,
  ``cent array<double>``;
- ``_assign`` (`ivf_assignments`): one ``vec_id`` row per indexed
  vector, PARTITIONED BY ``cid`` — the inverted list, where a probe
  opens exactly its cells' ``cid=<c>`` dirs (corpus/k bytes each),
  never a scan of all assignments;
- ``_meta`` (`ivf_meta`): ``fit_mean_dist``, ``k``, ``iters`` — the
  fit-time mean assignment distance (the drift baseline) and the fit
  parameters, so a refit never re-fits with skewed settings;
- ``_tombs`` (`ivf_tombstones`): one ``vec_id`` row per deleted vector.

The lifecycle:

1. **Build** (`ivf_build`): deterministic Lloyd (`kmeans_fit`) on a
   corpus, centroids frozen on disk and read back, the corpus assigned
   (`assign_clusters`) against those frozen doubles, optionally the
   ``_meta`` baseline.
2. **Append** (`ivf_append`): the streaming cadence — arrivals anti-join
   the ids already indexed (redelivery is a no-op), the rest go to the
   FROZEN cells (k-row broadcast argmin, O(batch), the corpus is never
   rescanned) and append partitioned by cid, so only the touched cell
   dirs grow. One Spark job: the count is observed on the write.
3. **Route / fetch / score** (`ivf_search`): the probe's nprobe nearest
   cells from one broadcast argmin on the probe row (`ivf_route`), the
   union of those cells' dirs (`ivf_fetch`), exact cosine over the
   survivors (`ivf_topk`).
4. **Delete / compact** (`ivf_index_delete`, `ivf_index_compact`): the
   same tombstone-then-compact split as the LSH index
   (`operators/dedup.py::lsh_index_delete`), with one structural
   advantage the partitioning buys: compaction rewrites ONLY the cid
   dirs that hold deleted vectors — at 100 TB a delete batch touching
   k' of k cells pays k'/k of a full rewrite. Tombstones append
   O(batch) via stage+rename; every fetch drops them while any exist.
   A tombstoned vector stays "known" to the appender (its assignment
   row is intact), so redelivery does not resurrect it — until
   compaction, whose contract matches the LSH one: the index forgets,
   keeping deleted vectors out of the SOURCE is the upstream contract.
5. **Refit** (`ivf_refit_on_drift`, `ivf_refit_on_imbalance`): the
   weekly job. A trigger statistic (mean distance to the stored cell
   against the ``_meta`` baseline, or max cell / mean cell) decides;
   below its threshold the call is a pure no-op, above it the whole
   index is rebuilt into a scratch generation and cut over artifact by
   artifact (`_ivf_full_refit`).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from twitter_flink_spark.commit import (
    append_files,
    has_parquet,
    observed_count,
    publish_partitions,
    replace_dir,
    scratch_name,
    sweep_partitions,
)
from twitter_flink_spark.operators.clustering import (
    assign_clusters,
    assigned_mean_dist,
    kmeans_fit,
)
from twitter_flink_spark.operators.similarity import cosine
from twitter_flink_spark.session import local_frame

CENTROIDS = "_centroids"
ASSIGN = "_assign"
META = "_meta"
TOMBS = "_tombs"

CENTROIDS_SCHEMA = "cid long, cent array<double>"
ASSIGN_SCHEMA = "vec_id long, cid long"
META_SCHEMA = "fit_mean_dist double, k int, iters int"
IDS_SCHEMA = "vec_id long"  #: a cell dir's rows, and the tombstones


def _path(index_dir: str, artifact: str) -> str:
    return os.path.join(index_dir, artifact)


def _cell_dir(index_dir: str, cid: int) -> str:
    return os.path.join(index_dir, ASSIGN, f"cid={cid}")


# -- readers: one per artifact, each with its schema --------------------------


def ivf_centroids(spark: SparkSession, index_dir: str) -> DataFrame:
    """(cid, cent) of the frozen codebook."""
    return spark.read.schema(CENTROIDS_SCHEMA).parquet(
        _path(index_dir, CENTROIDS)
    )


def ivf_assignments(spark: SparkSession, index_dir: str) -> DataFrame:
    """(vec_id, cid) of every indexed vector, tombstoned ones included."""
    return spark.read.schema(ASSIGN_SCHEMA).parquet(_path(index_dir, ASSIGN))


def ivf_meta(spark: SparkSession, index_dir: str):
    """The one `_meta` row: fit_mean_dist, k, iters."""
    return spark.read.schema(META_SCHEMA).parquet(
        _path(index_dir, META)
    ).first()


def ivf_has_tombstones(index_dir: str) -> bool:
    """Whether `_tombs` holds a tombstone file (a delete batch that was
    fully redelivered appends nothing but may have created the dir)."""
    return has_parquet(_path(index_dir, TOMBS))


def ivf_tombstones(spark: SparkSession, index_dir: str) -> DataFrame:
    """The current tombstone set (vec_id); an empty frame if none."""
    if ivf_has_tombstones(index_dir):
        return spark.read.schema(IDS_SCHEMA).parquet(_path(index_dir, TOMBS))
    return local_frame(spark, [], IDS_SCHEMA)


def ivf_cell_files(index_dir: str) -> dict[int, list[str]]:
    """cid -> sorted file names of that cell's dir: the listing a
    cell-local rewrite must leave byte-identical for untouched cells."""
    root = _path(index_dir, ASSIGN)
    return {
        int(d.split("=", 1)[1]): sorted(os.listdir(os.path.join(root, d)))
        for d in os.listdir(root)
        if d.startswith("cid=")
    }


def ivf_cell_counts(spark: SparkSession, index_dir: str) -> DataFrame:
    """(cid, n_vecs) occupancy: one groupBy at the index's metadata
    grain (k cells), no vector math."""
    return (
        ivf_assignments(spark, index_dir)
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )


# -- build and append ---------------------------------------------------------


def ivf_meta_df(
    spark, fit_mean_dist: float, k: int, iters: int
) -> DataFrame:
    """One-row `_meta` manifest for a persisted IVF index: the fit-time
    mean assignment distance (the drift baseline) plus the fit
    parameters, riding the index like the Bloom manifest's m/k so a
    refit can never re-fit with skewed settings."""
    return local_frame(
        spark, [(float(fit_mean_dist), int(k), int(iters))], META_SCHEMA
    )


def _vecs(vectors: DataFrame) -> DataFrame:
    return vectors.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )


def ivf_build(
    spark: SparkSession,
    index_dir: str,
    corpus: DataFrame,
    k: int,
    iters: int,
    assign: bool = True,
    meta: bool = False,
) -> float | None:
    """Build the index at ``index_dir`` from ``corpus`` (vec_id,
    embedding): k-means fit, `_centroids` frozen on disk and read back,
    and with ``assign`` the corpus assigned against those frozen doubles
    into `_assign` (partitioned by cid) — so a later append routes
    exactly as the build did. With ``meta`` the `_meta` baseline (mean
    distance of every corpus vector to its stored centroid) is written
    and returned."""
    kmeans_fit(corpus, k=k, iters=iters).select("cid", "cent").write.mode(
        "overwrite"
    ).parquet(_path(index_dir, CENTROIDS))
    if not assign:
        return None
    cents = ivf_centroids(spark, index_dir)
    v = _vecs(corpus)
    assign_clusters(v, cents).write.mode("overwrite").partitionBy(
        "cid"
    ).parquet(_path(index_dir, ASSIGN))
    if not meta:
        return None
    baseline = assigned_mean_dist(v, cents, ivf_assignments(spark, index_dir))
    ivf_meta_df(spark, baseline, k, iters).write.mode("overwrite").parquet(
        _path(index_dir, META)
    )
    return baseline


def ivf_append(spark: SparkSession, index_dir: str, vectors: DataFrame) -> int:
    """Index the not-yet-indexed rows of ``vectors`` (vec_id, embedding)
    into the frozen cells: anti-join the ids already indexed, assign the
    rest, append partitioned by cid. Returns the number appended,
    OBSERVED during the write — one job, and the window assignment
    evaluates once (a count job before the write would run it twice). A
    batch of known ids evaluates to zero rows and appends no files."""
    v = _vecs(vectors)
    assign_dir = _path(index_dir, ASSIGN)
    if has_parquet(assign_dir):  # a zero-row first batch leaves _SUCCESS
        known = ivf_assignments(spark, index_dir).select("vec_id")
        v = v.join(known, "vec_id", "left_anti")
    obs = Observation()
    assign_clusters(v, ivf_centroids(spark, index_dir)).observe(
        obs, F.count(F.lit(1)).alias("n")
    ).write.mode("append").partitionBy("cid").parquet(assign_dir)
    return observed_count(obs)


# -- route, fetch, score ------------------------------------------------------


def ivf_probe(vectors: DataFrame, probe_id: int) -> DataFrame:
    """The one-row (vec_id, e array<double>) probe frame."""
    return _vecs(vectors.where(F.col("vec_id") == probe_id))


def ivf_route(
    probe: DataFrame, index_dir: str, nprobe: int | None = 1
) -> list[int]:
    """The probe's ``nprobe`` nearest cell ids (every cell for None),
    nearest first, ties to the lower cid: one k-row broadcast argmin on
    the probe row — the same expression as the stored assignment, so
    nprobe=1 always agrees with the probe's own cell."""
    cents = ivf_centroids(probe.sparkSession, index_dir)
    ranked = assign_clusters(
        probe, cents, top_n=nprobe or 2**31 - 1, keep_dist=True
    ).collect()  # nprobe rows
    ranked.sort(key=lambda r: (r["dist"], r["cid"]))
    return [int(r["cid"]) for r in ranked]


def ivf_fetch(spark: SparkSession, index_dir: str, cells) -> DataFrame:
    """(vec_id) members of ``cells``: the union of their ``cid=<c>``
    dirs that exist (an empty cell was never written as a dir; probing
    it is a no-op, not an error), minus the tombstones while any exist —
    an index without deletes keeps a plain scan."""
    dirs = [
        p for p in (_cell_dir(index_dir, c) for c in cells) if os.path.isdir(p)
    ]
    if not dirs:
        return local_frame(spark, [], IDS_SCHEMA)
    ids = spark.read.schema(IDS_SCHEMA).parquet(*dirs)
    if ivf_has_tombstones(index_dir):
        tombs = ivf_tombstones(spark, index_dir)
        ids = ids.join(tombs, "vec_id", "left_anti")
    return ids


def ivf_candidates(
    ids: DataFrame, vectors: DataFrame, probe_id: int, where=None
) -> DataFrame:
    """(vec_id, e) of the fetched ``ids`` other than the probe, joined to
    ``vectors`` (vec_id, embedding, ...) and filtered by the optional
    ``where`` predicate over the vector rows (a metadata filter applied
    to the candidates: the index stays label-agnostic)."""
    rows = ids.where(F.col("vec_id") != probe_id).select("vec_id").join(
        vectors, "vec_id"
    )
    if where is not None:
        rows = rows.where(where)
    return _vecs(rows)


def ivf_topk(cands: DataFrame, probe: DataFrame) -> DataFrame:
    """(vec_id, cosine) top-5 of ``cands`` (vec_id, e) by exact
    cosine against the broadcast probe row, rounded to 6 places, ties to
    the lower vec_id."""
    pe = F.broadcast(probe.select(F.col("e").alias("pe")))
    return (
        cands.crossJoin(pe)
        .select("vec_id", F.round(cosine("e", "pe"), 6).alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(5)
    )


def ivf_search(
    index_dir: str,
    vectors: DataFrame,
    probe_id: int,
    nprobe: int = 1,
    where=None,
) -> DataFrame:
    """(vec_id, cosine) top-5 neighbours of vector ``probe_id``
    through the index: route, fetch the ``nprobe`` cells, score."""
    spark = vectors.sparkSession
    probe = ivf_probe(vectors, probe_id)
    cells = ivf_route(probe, index_dir, nprobe)
    ids = ivf_fetch(spark, index_dir, cells)
    return ivf_topk(ivf_candidates(ids, vectors, probe_id, where), probe)


# -- delete and compact -------------------------------------------------------


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
    obs = Observation()
    todo = (
        vec_ids.select("vec_id")
        .distinct()
        .join(
            ivf_assignments(spark, index_dir).select("vec_id"),
            "vec_id",
            "left_semi",
        )
        .join(ivf_tombstones(spark, index_dir), "vec_id", "left_anti")
        .observe(obs, F.count(F.lit(1)).alias("n"))
    )
    p = _path(index_dir, TOMBS)
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
    A cell a crashed rewrite left aside is put back first.
    Returns (vectors reclaimed, cells rewritten); (0, 0) is a no-op."""
    sweep_partitions(_path(index_dir, ASSIGN))
    tombs = ivf_tombstones(spark, index_dir)
    assign = ivf_assignments(spark, index_dir)
    doomed = assign.join(tombs, "vec_id", "left_semi").select("vec_id", "cid")
    # cells and reclaim count from ONE k-bounded aggregate (previously a
    # distinct-collect job plus a count job)
    per_cell = (
        doomed.groupBy("cid").agg(F.count(F.lit(1)).alias("n")).collect()
    )
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
    publish_partitions(kept, _path(index_dir, ASSIGN), "cid", cells)
    shutil.rmtree(_path(index_dir, TOMBS), ignore_errors=True)
    return n, len(cells)


# -- refit: the weekly job that closes the monitor loop ----------------------


def _ivf_full_refit(
    spark, index_dir: str, vectors: DataFrame, k: int, iters: int
) -> float:
    """The shared FIRING body of every refit trigger (drift- and
    imbalance-based): `ivf_build` of the whole index on ``vectors`` into
    a scratch generation, then the index cut over assign -> centroids ->
    meta (each a `replace_dir` pointer swap; a crash-torn mix measures
    as inflated drift/skew on the next run and the deterministic refit
    refires idempotently). The scratch generation is pid/thread-unique,
    so two concurrent refits of one index never delete each other's
    staged output. Returns the new `_meta` baseline mean distance."""
    gen = scratch_name(_path(index_dir, "_refit"), "tmp")
    shutil.rmtree(gen, ignore_errors=True)
    baseline = ivf_build(spark, gen, vectors, k, iters, meta=True)
    for artifact in (ASSIGN, CENTROIDS, META):
        replace_dir(_path(gen, artifact), _path(index_dir, artifact))
    shutil.rmtree(gen, ignore_errors=True)
    return baseline


def ivf_refit_on_drift(
    spark, index_dir: str, vectors: DataFrame, threshold: float = 4.0
) -> dict:
    """Close the loop the drift monitor opens: measure the index's
    serving quality (mean distance of every indexed vector to its
    STORED centroid, `assigned_mean_dist`) against the fit-time baseline
    in `_meta`; if the ratio exceeds ``threshold``, refit the centroids
    on ``vectors`` (vec_id, embedding) with the same deterministic Lloyd
    as the original build, reassign everything, and cut the index over
    (`_ivf_full_refit`). Below the threshold the call is a PURE no-op
    (no write, no swap).

    The production cadence this encodes: assignments stream in against
    frozen centroids (`O(new)` appends); this job runs on the weekly
    timer and only pays the full refit when the data actually moved.

    Crash posture: swaps run assign -> centroids -> meta. Any mixed
    generation a crash leaves behind measures as INFLATED drift on the
    next call (distances are taken against the stored cid through the
    current centroids), so the refit simply refires — deterministic
    Lloyd makes the redo idempotent — and the final meta swap restores
    ratio ~1. Returns {fired, ratio, measured, baseline}."""
    meta = ivf_meta(spark, index_dir)
    baseline = float(meta["fit_mean_dist"])
    measured = assigned_mean_dist(
        _vecs(vectors),
        ivf_centroids(spark, index_dir),
        ivf_assignments(spark, index_dir),
    )
    ratio = (measured / baseline) if baseline > 0 else (
        float("inf") if measured > 0 else 1.0
    )
    out = {"ratio": ratio, "measured": measured, "baseline": baseline}
    if ratio <= threshold:
        return {"fired": False, **out}
    new_baseline = _ivf_full_refit(
        spark, index_dir, vectors, int(meta["k"]), int(meta["iters"])
    )
    return {"fired": True, **out, "baseline_after": new_baseline}


def ivf_imbalance_factor(spark, index_dir: str) -> float:
    """max cell / mean cell over the persisted assignment table — the
    skew statistic `ivf_cell_balance_report` surfaces (1.0 = perfectly
    balanced; the biggest cell bounds worst-case probe latency).

    The mean divides by the index's FITTED k (from `_meta`), not the
    observed non-empty cell count: an index degenerated into one cell
    (deletes/compaction emptied the rest) is the WORST imbalance, but a
    non-empty-cells mean would score it exactly 1.0 and the refit
    trigger would never fire on the index it exists to rescue. Falls
    back to observed cells for indexes without a `_meta`."""
    t = ivf_cell_counts(spark, index_dir).agg(
        F.sum("n_vecs").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.max("n_vecs").alias("mx"),
    ).first()
    if not t["n"]:
        return 1.0
    k = int(t["k"])
    if os.path.isdir(_path(index_dir, META)):
        k = max(k, int(ivf_meta(spark, index_dir)["k"]))
    return int(t["mx"]) * k / int(t["n"])


def ivf_refit_on_imbalance(
    spark, index_dir: str, vectors: DataFrame, threshold: float
) -> dict:
    """The SKEW-triggered sibling of `ivf_refit_on_drift` — closing the
    loop `ivf_cell_balance_report` opened: when the imbalance factor
    (max cell / mean cell) of the persisted assignment table exceeds
    ``threshold``, the index's whole reason to exist (scanning ~N/k per
    probe instead of N) is compromised, so refit on ``vectors`` with
    the same deterministic Lloyd and cut over (shared `_ivf_full_refit`
    body — identical crash posture and idempotence). At or below the
    threshold the call is a PURE no-op: the trigger reads only the
    k-cell occupancy aggregate, never a vector. Returns
    {fired, imbalance[, baseline_after]}."""
    imb = ivf_imbalance_factor(spark, index_dir)
    if imb <= threshold:
        return {"fired": False, "imbalance": imb}
    meta = ivf_meta(spark, index_dir)
    new_baseline = _ivf_full_refit(
        spark, index_dir, vectors, int(meta["k"]), int(meta["iters"])
    )
    return {"fired": True, "imbalance": imb, "baseline_after": new_baseline}
