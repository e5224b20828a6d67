"""K-means (Lloyd) clustering over embedding columns — the IVF codebook /
coarse-quantizer build step of a vector index (`cosine_topk_ivf_label`
scores within a cell; this operator is how the cells get built).

Fixed-iteration, deterministic, oracle-expressible:

- seeds are the k lowest vector ids (a pure function of the data — no RNG);
- assignment: squared L2 via the dot-product identity
  ``|x|^2 - 2<x,c> + |c|^2`` — every dot is the same left-to-right
  accumulation DuckDB's list_dot_product uses, so distances are
  bit-identical across engines, and the argmin tie-breaks on cluster id;
- update: per-dimension component sums accumulate ROUNDED DECIMALS
  (exact, partition-order independent), divided once by the cluster size;
- a cluster that loses all members simply drops out (deterministic on
  both sides) rather than being re-seeded.

Scale shape per iteration: centroids ride as ONE packed k-entry array on
a broadcast; assignment is a per-row ``array_min`` over struct(dist, cid)
inside the scan's own projection (no shuffle, no per-vector sort — the
corpus never moves); the update aggregates the assigned rows directly
(the argmin keeps the vector on the row, so no join back to the corpus)
into per-dimension DECIMAL sums — exactly one exchange per round, k x dim
partials per task. The iteration scaffolding (localCheckpoint + block
freeing) is shared with `operators/graph.py`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from twitter_flink_spark.operators.graph import _release
from twitter_flink_spark.operators.similarity import dot, dot_sql, sq_dist
from twitter_flink_spark.session import local_frame

#: decimal scale for centroid component accumulation
_COMP_SCALE = 7


def _pack_rows(spark, rows, g: list, fields: dict) -> DataFrame:
    """Local packed-candidate frame from already-collected centroid rows
    (fields: name -> StructField for the g columns, cid and cent) — the
    zero-job path `kmeans_fit` uses between Lloyd rounds, where the rows
    are in hand and a DataFrame round-trip would cost a job per round."""
    from pyspark.sql.types import ArrayType, StructField, StructType

    groups: dict[tuple, list] = {}
    for r in rows:
        groups.setdefault(tuple(r[c] for c in g), []).append(
            (r["cid"], r["cent"])
        )
    schema = StructType(
        [fields[c] for c in g]
        + [
            StructField(
                "_tfs_cands",
                ArrayType(
                    StructType([fields["cid"], fields["cent"]])
                ),
            )
        ]
    )
    packed = [(*key, cands) for key, cands in groups.items()]
    return local_frame(spark, packed, schema)


def _scored_expr(vec_col: str):
    """Per-candidate scores as an array of struct(dist, cid): the SAME
    squared-L2 dot identity (|v|^2 - 2<v,c> + |c|^2, left-to-right
    accumulation) the window formulation computed per joined row, with
    the struct field order making array_min / array_sort tie-break on
    the lower cid — exactly the old ``ORDER BY dist ASC, cid ASC``."""
    cent = "cand.cent"
    return F.expr(
        "transform(_tfs_cands, cand -> struct("
        f"_tfs_sq - 2 * {dot_sql(vec_col, cent)} + {dot_sql(cent, cent)}"
        " AS dist, cand.cid AS cid))"
    )


def assign_clusters(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "e",
    group_col: str | None = None,
    keep_dist: bool = False,
    top_n: int = 1,
) -> DataFrame:
    """(id[, group], cid[, dist]): nearest centroid per vector, ties to
    the lower cid. With ``group_col``, centroids are a PER-GROUP codebook
    (product-quantization subspaces, per-shard codebooks): candidates
    join on the group key instead of crossing, still broadcast — the
    centroid table is k x groups rows. ``top_n > 1`` keeps the n nearest
    centroids per vector (the IVF nprobe query-side expansion) instead
    of the argmin.

    Deliberately the row_number-over-window form. A map-side
    array-argmin rewrite (pack the k candidates into one broadcast
    array, array_min over struct(dist, cid) per row — see `kmeans_fit`,
    which keeps that shape internally) was interleaved-A/B'd against
    this: result-identical and at par (the window's exchange is
    k-row-per-vector metadata, not payload), but it needs the centroids
    collected to the driver on every call, a job the caller pays before
    its own action runs. The window form stays because it is lazy —
    the caller's one action (e.g. a sink's observed append write) runs
    the whole assignment — and every caller's centroid side is a k-row
    broadcast either way."""
    joined = (
        vectors.join(F.broadcast(centroids), on=group_col)
        if group_col
        else vectors.crossJoin(F.broadcast(centroids))
    )
    d = joined.withColumn("dist", sq_dist(vec_col, "cent"))
    keys = [id_col] + ([group_col] if group_col else [])
    w = Window.partitionBy(*keys).orderBy(
        F.col("dist").asc(), F.col("cid").asc()
    )
    out_cols = keys + ["cid"] + (["dist"] if keep_dist else [])
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= top_n)
        .select(*out_cols)
    )


def _centroid_means(rows: DataFrame, g: list) -> list:
    """([group,] cid, cent, n_vecs) Rows from (*g, cid, _tfs_e) member
    rows: ONE decimal-exact posexplode -> (cid, dim) aggregate; its
    k x dim ``(cid, dim, n, c)`` rows are collected and re-assembled into
    dim-ordered arrays on the driver, which needs the rows for the next
    round's `_pack_rows` anyway — re-assembling in SQL would cost a
    second exchange per Lloyd round. ``c = s / n`` is computed in Spark,
    so the components are the same doubles either way. (A 64-sum
    single-aggregate variant was A/B-measured 2.2x SLOWER per Lloyd
    round — its generated aggregate code never amortizes — and is
    therefore not used; this explode shape compiles small and its
    exchange carries only k x dim decimal partials after map-side
    combine.)"""
    from pyspark.sql import Row

    comp = rows.select(
        *g,
        "cid",
        F.posexplode(F.col("_tfs_e")).alias("pos0", "val"),
    ).select(
        *g,
        "cid",
        (F.col("pos0") + 1).alias("dim"),
        F.round("val", _COMP_SCALE)
        .cast(f"decimal(28,{_COMP_SCALE})")
        .alias("val"),
    )
    dims = (
        comp.groupBy(*g, "cid", "dim")
        .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            *g,
            "cid",
            "dim",
            "n",
            (F.col("s").cast("double") / F.col("n")).alias("c"),
        )
        .collect()
    )
    parts: dict[tuple, list] = {}
    for r in dims:
        parts.setdefault(tuple(r[c] for c in g) + (r["cid"],), []).append(
            (r["dim"], r["c"], r["n"])
        )
    cent_row = Row(*g, "cid", "cent", "n_vecs")
    return [
        cent_row(
            *key,
            [c for _, c, _ in sorted(dcn)],  # dims are unique per key
            max(n for _, _, n in dcn),
        )
        for key, dcn in parts.items()
    ]


def kmeans_fit(
    vectors: DataFrame,
    k: int,
    iters: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str | None = None,
) -> DataFrame:
    """Run ``iters`` Lloyd rounds from the k lowest-id seeds; returns
    ([group,] cid, cent array<double>, n_vecs) for the surviving
    clusters. With ``group_col``, fits an INDEPENDENT codebook per group
    (e.g. one per product-quantization subspace) in the same fixed number
    of Spark jobs — per-group work rides the same shuffles, so codebook
    count scales for free."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    spark = vectors.sparkSession
    g = [group_col] if group_col else []
    v = vectors.select(
        *g, id_col, F.col(vec_col).cast("array<double>").alias("e")
    ).localCheckpoint()
    # centroids are k-row driver-sized BY DEFINITION (the session
    # codebook caches hold them as collected rows for the same reason),
    # so the Lloyd loop round-trips them through the driver: each round
    # is ONE job — scan the checkpointed corpus, per-row array argmin
    # (map-side, no shuffle, no sort), the decimal means aggregate over
    # the vector the argmin kept on the row, collect its k x dim
    # component rows and re-assemble k centroids — and the next round's
    # candidate array enters the plan as a one-slice `local_frame`
    # broadcast (packed driver-side, a one-task build).
    # The previous shape paid per round: a window Exchange +
    # sort for the argmin, an id-keyed join back to the corpus, a
    # localCheckpoint materialization AND a broadcast-build job — all
    # for the same bits (A/B: cold fit 8.2 -> 3.4 s, steady-state ~par).
    cent_schema = StructType(
        [StructField(c, v.schema[c].dataType) for c in g]
        + [
            StructField("cid", v.schema[id_col].dataType),
            StructField("cent", ArrayType(DoubleType())),
            StructField("n_vecs", LongType()),
        ]
    )
    rows = (
        v.where(F.col(id_col) < k)
        .select(
            *g,
            F.col(id_col).alias("cid"),
            F.col("e").alias("cent"),
            F.lit(1).cast("long").alias("n_vecs"),
        )
        .collect()
    )
    cent_fields = {f.name: f for f in cent_schema.fields}
    for _ in range(iters):
        # rows are already in hand: pack them locally (zero jobs) —
        # round cost is exactly ONE job, the means aggregate's collect
        packed = _pack_rows(spark, rows, g, cent_fields)
        base = v.withColumn("_tfs_sq", dot("e", "e"))
        joined = (
            base.join(F.broadcast(packed), on=group_col)
            if group_col
            else base.crossJoin(F.broadcast(packed))
        )
        members = joined.select(
            *g,
            F.array_min(_scored_expr("e"))["cid"].alias("cid"),
            F.col("e").alias("_tfs_e"),
        )
        rows = _centroid_means(members, g)
    _release(v)
    return local_frame(spark, rows, cent_schema)


def assigned_mean_dist(
    vectors: DataFrame,
    centroids: DataFrame,
    assigned: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "e",
) -> float:
    """Mean squared-L2 distance of each vector to the centroid of its
    STORED assignment — the serving-quality number a drift monitor
    watches (measuring against the stored cid, not a fresh argmin, means
    a stale assignment table reads as drift and triggers repair).
    Distances are rounded to a fixed grain and summed in DECIMAL, so the
    mean is bit-stable across engines and partition orders."""
    d = (
        vectors.select(id_col, vec_col)
        .join(assigned.select(id_col, "cid"), id_col)
        .join(F.broadcast(centroids.select("cid", "cent")), "cid")
        .select(sq_dist(vec_col, "cent").alias("dist"))
    )
    row = d.agg(
        F.sum(F.round("dist", 6).cast("decimal(38,6)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    if not row["n"]:
        return 0.0
    return float(row["s"]) / int(row["n"])
