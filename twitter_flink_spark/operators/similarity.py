"""Similarity search over embedding columns (north-star: SURVEY.md §2.3).

All vector math is built-in higher-order functions (`zip_with` +
`aggregate`) on `array<float>` cast to double — JVM-side, no Python UDF in
the hot path. (A pandas_udf variant exists in functions/vectors.py for the
API-surface demonstration, but the oracle-checked queries use builtins.)

Scale design:
- Brute-force top-k: queries (small set) are BROADCAST against the corpus;
  the probe side streams — no shuffle of the corpus. Per-query top-k via
  WindowGroupLimit (heap before shuffle). 100 TB corpus => each task scores
  its partition locally and ships k rows per query.
- IVF-style ANN: restrict scoring to the query's coarse cell (here the
  `label` column as the quantizer; in production, a k-means assignment
  column). The join becomes an equi-join on the cell id — partition
  pruning for vectors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot_sql(a: str, b: str) -> str:
    """SQL text of the double-precision dot product of the array
    expressions ``a`` and ``b``, accumulated left to right — the order
    DuckDB's list_dot_product and list_cosine_similarity use."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        "(l, r) -> CAST(l AS DOUBLE) * CAST(r AS DOUBLE)), "
        "0D, (acc, v) -> acc + v)"
    )


def dot(a: str, b: str) -> Column:
    """`dot_sql` as one column. ``a`` and ``b`` are SQL expressions
    (column names, mostly): the JVM parses the expression in one call,
    where composing the same tree from Column lambdas costs a py4j call
    per node and lambda variable (~150 for one dot product)."""
    return F.expr(dot_sql(a, b))


def cosine(a: str, b: str) -> Column:
    """Cosine similarity of the array expressions ``a`` and ``b``:
    ``<a,b> / (|a| |b|)``, one expression."""
    return F.expr(
        f"{dot_sql(a, b)} / (sqrt({dot_sql(a, a)}) * sqrt({dot_sql(b, b)}))"
    )


def sq_dist(a: str, b: str) -> Column:
    """Squared L2 distance of the array expressions ``a`` and ``b``
    through the dot identity ``|a|^2 - 2<a,b> + |b|^2`` — the k-means /
    IVF assignment distance — as one expression."""
    return F.expr(f"{dot_sql(a, a)} - 2 * {dot_sql(a, b)} + {dot_sql(b, b)}")


#: brute-force path cap: the query side is broadcast, so it must stay
#: executor-memory-sized. 64k queries x (few-KB vector + norm) ~ low
#: hundreds of MB — at the edge of a sane broadcast. Beyond it the
#: brute-force plan silently degrades to an O(n*q) all-pairs pass; refuse
#: and point at the bucketed paths instead.
MAX_BROADCAST_QUERIES = 65536


def topk_neighbors(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str | None = None,
    max_broadcast_queries: int = MAX_BROADCAST_QUERIES,
) -> DataFrame:
    """Top-k cosine neighbors per query vector.

    ``cell_col`` None → brute force (broadcast queries x full corpus),
    guarded: raises ``ValueError`` when the query side exceeds
    ``max_broadcast_queries`` rows — use the IVF path (``cell_col``) or
    ``lsh_sign_bands`` for a non-broadcast-sized query set.
    ``cell_col`` set → IVF-style: only score corpus rows in the query's
    cell (equi-join on the cell column).
    Output: (query_id, neighbor_id, cosine, rank) with deterministic
    tie-break (cosine desc, neighbor_id asc).
    """
    if cell_col is None:
        # limit(bound+1).count() touches at most bound+1 rows — a cheap
        # pre-flight action, not a full count of the query table
        probe = queries.limit(max_broadcast_queries + 1).count()
        if probe > max_broadcast_queries:
            raise ValueError(
                f"brute-force topk_neighbors broadcasts the query side, but "
                f"it has > {max_broadcast_queries} rows; use cell_col= (IVF) "
                f"or lsh_sign_bands for a corpus-sized query set"
            )
    # norms are computed ONCE per vector before the join — inside the pair
    # fan-out they would be re-evaluated per pair (3x the higher-order-fn
    # work; numerically identical since the expressions are unchanged)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        F.sqrt(dot(vec_col, vec_col)).alias("__qnorm"),
        *([F.col(cell_col).alias("__qcell")] if cell_col else []),
    )
    # repartition the probe (corpus) side: the broadcast join preserves its
    # partitioning, so a single-file corpus would otherwise score every
    # (query x corpus) pair in one task regardless of cluster size; keyed
    # off the scan's FILE metadata (plan-level, no DataFrame->RDD
    # conversion) so a real-scale corpus (already well-split) skips the
    # shuffle entirely
    from twitter_flink_spark.sources.tables import spread

    c = spread(corpus, id_col)
    c = c.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        F.sqrt(dot(vec_col, vec_col)).alias("__cnorm"),
        *([F.col(cell_col).alias("__ccell")] if cell_col else []),
    )
    if cell_col:
        joined = c.join(F.broadcast(q), F.col("__qcell") == F.col("__ccell"))
    else:
        joined = c.crossJoin(F.broadcast(q))
    scored = (
        joined.where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot("__qvec", "__cvec")
                / (F.col("__qnorm") * F.col("__cnorm"))
            ).alias("__cos"),
        )
    )
    win = Window.partitionBy("query_id").orderBy(
        F.col("__cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("__cos"), 6).alias("cosine"),
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH (sign-bit SimHash over embeddings)


def random_hyperplanes(
    n_planes: int, dim: int, seed: int = 42
) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes, coefficients rounded to 6
    decimals so the SAME literals embed in the Spark expression and the
    DuckDB oracle (bit-for-bit identical sign computations)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return [
        [round(float(x), 6) for x in rng.standard_normal(dim)]
        for _ in range(n_planes)
    ]


def _double_array_sql(values) -> str:
    """SQL literal of an array of doubles; ``repr`` is the shortest text
    that parses back to the same double."""
    return "array(" + ", ".join(f"{float(v)!r}D" for v in values) + ")"


def lsh_sign_bands(
    vectors: DataFrame,
    planes: list[list[float]],
    bands: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, band, band_sig) where band_sig concatenates the sign bits of
    `len(planes)//bands` hyperplane dot products.

    Two vectors collide in a band with prob (1 - angle/pi)^r — banding
    trades recall for candidate count. All JVM-side: the dot products are
    zip_with/aggregate against literal arrays, one pass, no shuffle until
    the (band, sig) self-join.
    """
    r = len(planes) // bands
    bits = [
        F.expr(
            f"CASE WHEN {dot_sql(vec_col, _double_array_sql(p))} > 0 "
            "THEN '1' ELSE '0' END"
        )
        for p in planes
    ]
    sigs = F.array(
        *[F.concat(*bits[b * r : (b + 1) * r]) for b in range(bands)]
    )
    return vectors.select(
        F.col(id_col), F.posexplode(sigs).alias("band", "band_sig")
    )


# ---------------------------------------------------------------------------
# All-pairs document similarity: centered-hyperplane LSH over tf-idf vectors


def tfidf_fixed_point_weights(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    scale: int = 10000,
) -> DataFrame:
    """Fixed-point tf-idf term weights per document:
    (id, term, w, n_docs) with ``w = round(tf * ln(n_docs/df) * scale)``
    as a BIGINT.

    Integer weights are the portability backbone of the LSH pipeline built
    on top: every downstream sum (sign-bit margins, dot products, norms)
    is exact integer arithmetic, so Spark and a SQL oracle agree
    bit-for-bit regardless of partitioning or accumulation order — the
    one place floats enter (ln, and the final cosine division) is a
    correctly-rounded scalar op on identical inputs. Two aggregations,
    both shuffling on `term` or `(id, term)`; document frequency is an
    agg over the tf output, not a distinct over raw tokens."""
    tok = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term")
    ).where(F.col("term") != "")
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.countDistinct(id_col).alias("n_docs"))
    return (
        tf.join(dfreq, "term")
        .join(F.broadcast(n))
        .select(
            F.col(id_col),
            "term",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df"))
                * scale,
                0,
            )
            .cast("long")
            .alias("w"),
            "n_docs",
        )
    )


def _plane_sign(p: int, hash_col: str = "__h") -> Column:
    """±1 hyperplane component for (term, plane p): hex digit p of ONE
    md5(term) (computed once per row in a projection, shared by all
    planes), digit <= '7' (8 of 16) → +1 else −1 — a balanced Rademacher
    component the SQL oracle re-derives identically. One hash per term
    instead of one per (term, plane): 32x fewer md5s and far smaller
    generated code, at identical statistical quality (md5 digits are
    independent uniform bits). Caps planes at 32 (md5 is 32 hex digits)."""
    return (
        F.when(F.substring(F.col(hash_col), p + 1, 1) <= "7", F.lit(1))
        .otherwise(F.lit(-1))
        .cast("long")
    )


def doc_signature_profile(
    weights: DataFrame,
    n_planes: int,
    bands: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document LSH profile in ONE aggregation of the weight table:
    (id, sigs array<string>, m map<term,w>, nn) — band signatures of the
    MEAN-CENTERED tf-idf vector, plus the sparse weight map and squared
    norm the verify stage needs.

    Raw tf/tf-idf vectors are non-negative, so every pairwise angle is
    acute and sign-bit LSH barely discriminates; centering (subtracting
    the per-term corpus mean) spreads directions over the full sphere.
    Centering never materializes dense vectors: the centered margin
    factors into ``n_docs * S_p(doc) - C_p`` where ``S_p(doc) = Σ w·s_p``
    over the doc's own terms (sparse) and ``C_p = Σ_terms totw·s_p`` is
    one corpus constant per plane (a broadcast 1-row table). All integer
    arithmetic — exact under any partitioning, and exactly mirrored by
    the SQL oracle.

    Fusing signature sums, the weight map, and the norm into one groupBy
    means the weight table is shuffled by id ONCE; banding and
    verification both read this per-doc profile (corpus-row-count sized,
    tiny next to the term-level table)."""
    if n_planes > 32:
        raise ValueError("n_planes > 32 exceeds the md5 digit budget")
    r = n_planes // bands
    hashed = weights.withColumn("__h", F.md5(F.col("term")))
    docagg = hashed.groupBy(F.col(id_col), F.col("n_docs")).agg(
        *[
            F.sum(F.col("w") * _plane_sign(p)).alias(f"s{p}")
            for p in range(n_planes)
        ],
        F.map_from_entries(F.collect_list(F.struct("term", "w"))).alias("m"),
        F.sum(F.col("w") * F.col("w")).alias("nn"),
    )
    termtot = (
        weights.groupBy("term")
        .agg(F.sum("w").alias("tw"))
        .withColumn("__h", F.md5(F.col("term")))
    )
    consts = termtot.agg(
        *[F.sum(F.col("tw") * _plane_sign(p)).alias(f"c{p}") for p in range(n_planes)]
    )
    joined = docagg.join(F.broadcast(consts))
    bits = [
        F.when(
            F.col("n_docs") * F.col(f"s{p}") - F.col(f"c{p}") >= 0, "1"
        ).otherwise("0")
        for p in range(n_planes)
    ]
    sigs = F.array(*[F.concat(*bits[b * r : (b + 1) * r]) for b in range(bands)])
    return joined.select(F.col(id_col), sigs.alias("sigs"), "m", "nn")


def multiprobe_band_probes(
    banded: DataFrame,
    r: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """Multi-probe expansion of ``lsh_sign_bands`` output: each (id, band,
    band_sig) row fans out to the signature itself PLUS its ``r``
    Hamming-distance-1 neighbors (one bit of the r-bit band flipped).

    Probing the adjacent buckets buys the recall extra hash tables would
    — near-misses whose margin on one plane landed just across zero are
    the likeliest band mismatches (Lv et al., multi-probe LSH) — at the
    cost of (r+1)x more probe rows on the QUERY side only; the corpus
    index is untouched, which is the whole point at scale: recall becomes
    a probe-side knob instead of a rebuild-the-index knob. Pure JVM string
    expressions, no shuffle until the probe equi-join."""
    probes = F.expr(
        f"array_union(array(band_sig), transform(sequence(1, {r}), j -> "
        "concat(substring(band_sig, 1, j - 1), "
        "CASE WHEN substring(band_sig, j, 1) = '1' THEN '0' ELSE '1' END, "
        f"substring(band_sig, j + 1, {r}))))"
    )
    return banded.select(
        F.col(id_col), "band", F.explode(probes).alias("band_sig")
    )


def centered_sign_bands(
    weights: DataFrame,
    n_planes: int,
    bands: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, band, band_sig) LSH signatures of mean-centered tf-idf vectors
    (see ``doc_signature_profile``). Bit agreement prob is
    ``1 - θ_centered/π``; a band of r bits collides at that to the r-th
    power — bands trade recall for candidate count exactly like MinHash
    banding (operators/dedup.py:62)."""
    prof = doc_signature_profile(weights, n_planes, bands, id_col=id_col)
    return prof.select(
        F.col(id_col), F.posexplode("sigs").alias("band", "band_sig")
    )
