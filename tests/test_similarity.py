"""Similarity-operator guards: the brute-force path must refuse a
non-broadcast-sized query set instead of silently degrading to an
O(n*q) all-pairs pass (VERDICT r2 item 3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from twitter_flink_spark.operators.similarity import topk_neighbors


def _vectors(spark, n: int):
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 7).cast("double"), F.lit(1.0), F.lit(0.5)
        ).alias("embedding"),
    )


def test_bruteforce_refuses_oversized_query_set(spark):
    corpus = _vectors(spark, 50)
    queries = _vectors(spark, 20)
    with pytest.raises(ValueError, match="broadcasts the query side"):
        topk_neighbors(corpus, queries, k=2, max_broadcast_queries=10)


def test_bruteforce_runs_under_the_bound(spark):
    corpus = _vectors(spark, 50)
    queries = _vectors(spark, 5)
    out = topk_neighbors(corpus, queries, k=2, max_broadcast_queries=10)
    rows = out.collect()
    assert {r.query_id for r in rows} == set(range(5))
    assert all(1 <= r["rank"] <= 2 for r in rows)


def test_ivf_path_skips_the_guard(spark):
    """cell-restricted (IVF) scoring is the sanctioned large-query path —
    no broadcast bound applies."""
    corpus = _vectors(spark, 50).withColumn("cell", F.col("vec_id") % 3)
    queries = _vectors(spark, 30).withColumn("cell", F.col("vec_id") % 3)
    out = topk_neighbors(
        corpus, queries, k=1, cell_col="cell", max_broadcast_queries=10
    )
    assert out.count() > 0


def test_doc_lsh_finds_exact_duplicates(spark):
    """Two identical documents have identical tf-idf vectors, hence
    identical centered sign signatures — they MUST collide in every band
    and verify at cosine 1.0 (integer dot == both norms)."""
    from pyspark.sql import functions as F

    from twitter_flink_spark.operators.similarity import (
        doc_signature_profile,
        tfidf_fixed_point_weights,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark window batch stream table"),
            (2, "spark window batch stream table"),
            (3, "row filter order vector data data"),
            (4, "completely different tokens here entirely"),
        ],
        "doc_id long, text string",
    )
    w = tfidf_fixed_point_weights(docs)
    prof = doc_signature_profile(w, 32, 4)
    banded = prof.select("doc_id", F.posexplode("sigs").alias("band", "band_sig"))
    a = banded.select(F.col("doc_id").alias("doc_a"), "band", "band_sig")
    b = banded.select(F.col("doc_id").alias("doc_b"), "band", "band_sig")
    cands = (
        a.join(b, on=["band", "band_sig"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_bands"))
        .collect()
    )
    hits = {(r.doc_a, r.doc_b): r.n_bands for r in cands}
    assert hits.get((1, 2)) == 4  # identical docs collide in all 4 bands
    prof12 = {
        r.doc_id: r
        for r in prof.where(F.col("doc_id").isin(1, 2)).collect()
    }
    assert prof12[1].sigs == prof12[2].sigs
    assert prof12[1].nn == prof12[2].nn


def test_doc_signature_profile_rejects_over_32_planes(spark):
    import pytest

    from twitter_flink_spark.operators.similarity import (
        doc_signature_profile,
        tfidf_fixed_point_weights,
    )

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="md5 digit budget"):
        doc_signature_profile(tfidf_fixed_point_weights(docs), 64, 4)


def test_kmeans_separates_obvious_clusters(spark):
    """Two well-separated groups: after 2 rounds, each surviving centroid
    sits at its group's mean and sizes are exact."""
    from twitter_flink_spark.operators.clustering import kmeans_fit

    rows = [
        (0, [0.0, 0.0]), (2, [1.0, 1.0]), (4, [0.5, 0.5]),   # group A
        (1, [10.0, 10.0]), (3, [11.0, 11.0]), (5, [10.5, 10.5]),  # group B
    ]
    v = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = {r.cid: (r.cent, r.n_vecs) for r in kmeans_fit(v, k=2, iters=2).collect()}
    assert set(cents) == {0, 1}
    a, an = cents[0]
    b, bn = cents[1]
    assert an == 3 and bn == 3
    assert all(abs(x - 0.5) < 1e-6 for x in a)
    assert all(abs(x - 10.5) < 1e-6 for x in b)


def test_kmeans_drops_emptied_cluster(spark):
    """A seed that captures no members after reassignment must vanish
    rather than divide by zero or linger as a stale centroid."""
    from twitter_flink_spark.operators.clustering import kmeans_fit

    # seeds are ids 0 and 1; every point is closest to the id-0 seed's
    # trajectory after round 1 (all points near origin, id 1 included)
    rows = [(0, [0.0, 0.0]), (1, [0.2, 0.2]), (2, [0.1, 0.1]), (3, [0.05, 0.0])]
    v = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.cid: r.n_vecs for r in kmeans_fit(v, k=2, iters=3).collect()}
    assert sum(out.values()) == 4  # every point assigned somewhere
    assert all(n > 0 for n in out.values())  # no empty clusters persist


def test_assign_clusters_matches_bruteforce_argmin(spark):
    """The map-side array-argmin assignment (array_min / array_sort over
    struct(dist, cid)) must reproduce the brute-force answer exactly:
    nearest centroid with ties to the LOWER cid, and top_n = the n
    nearest in (dist, cid) order — the contract the old window
    formulation implemented. Centroids chosen to force a genuine tie
    (two centroids equidistant from one point)."""
    from twitter_flink_spark.operators.clustering import assign_clusters

    vecs = [
        (10, [0.0, 0.0]),   # tie: equidistant to cids 1 and 2
        (11, [4.0, 0.0]),   # nearest cid 2
        (12, [-3.0, 1.0]),  # nearest cid 1
    ]
    cents = [(1, [-1.0, 0.0]), (2, [1.0, 0.0]), (3, [9.0, 9.0])]
    v = spark.createDataFrame(vecs, "vec_id long, e array<double>")
    c = spark.createDataFrame(cents, "cid long, cent array<double>")

    got = {r.vec_id: r.cid for r in assign_clusters(v, c).collect()}
    assert got == {10: 1, 11: 2, 12: 1}  # tie at vec 10 -> lower cid

    def brute(n):
        out = {}
        for vid, e in vecs:
            d = sorted(
                (
                    sum(x * x for x in e)
                    - 2 * sum(x * y for x, y in zip(e, cent))
                    + sum(y * y for y in cent),
                    cid,
                )
                for cid, cent in cents
            )
            out[vid] = [cid for _, cid in d[:n]]
        return out

    top2 = assign_clusters(v, c, top_n=2, keep_dist=True).collect()
    got2: dict[int, list] = {}
    for r in sorted(top2, key=lambda r: (r.vec_id, r.dist, r.cid)):
        got2.setdefault(r.vec_id, []).append(r.cid)
    assert got2 == brute(2)
    # keep_dist round-trips the exact double the scorer computed
    assert all(isinstance(r.dist, float) for r in top2)


def test_kmeans_fit_tie_breaks_to_lower_cid(spark):
    """`kmeans_fit`'s internal array-argmin (`_scored_expr` struct field
    order) must tie-break to the LOWER cid, exactly like
    `assign_clusters`' window form: a point equidistant to two seed
    centroids joins the lower-cid cluster. Pins the struct(dist, cid)
    field order against silent reordering (the assign_clusters tie test
    exercises the window path, not this one)."""
    from twitter_flink_spark.operators.clustering import kmeans_fit

    rows = [
        (0, [-1.0, 0.0]),  # seed cid 0
        (1, [1.0, 0.0]),   # seed cid 1
        (2, [0.0, 0.0]),   # equidistant to both seeds -> must pick cid 0
    ]
    v = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = {
        r.cid: (r.cent, r.n_vecs)
        for r in kmeans_fit(v, k=2, iters=1).collect()
    }
    assert cents[0][1] == 2 and cents[1][1] == 1  # tie joined cid 0
    assert all(abs(x - y) < 1e-9 for x, y in zip(cents[0][0], [-0.5, 0.0]))
    assert all(abs(x - y) < 1e-9 for x, y in zip(cents[1][0], [1.0, 0.0]))


def test_multiprobe_probes_cover_hamming_ball(spark):
    """Each (id, band, sig) row expands to the signature plus every
    1-bit-flip variant — the Hamming-distance-1 ball, deduplicated."""
    from twitter_flink_spark.operators.similarity import multiprobe_band_probes

    df = spark.createDataFrame(
        [(1, 0, "10"), (1, 1, "00")], "vec_id LONG, band INT, band_sig STRING"
    )
    rows = multiprobe_band_probes(df, r=2).collect()
    got = {(r.band, r.band_sig) for r in rows}
    assert got == {(0, "10"), (0, "00"), (0, "11"), (1, "00"), (1, "10"), (1, "01")}


def test_multiprobe_candidates_superset_of_single_probe(spark):
    """Multi-probe candidate pairs must contain every single-probe pair:
    probing extra buckets can only ADD recall, never lose a candidate."""
    import random

    from twitter_flink_spark.operators.similarity import (
        lsh_sign_bands,
        multiprobe_band_probes,
        random_hyperplanes,
    )

    rng = random.Random(7)
    vecs = [
        (i, [round(rng.gauss(0, 1), 3) for _ in range(8)]) for i in range(40)
    ]
    emb = spark.createDataFrame(vecs, "vec_id LONG, embedding ARRAY<DOUBLE>")
    planes = random_hyperplanes(n_planes=8, dim=8, seed=3)
    banded = lsh_sign_bands(emb, planes, bands=4)

    def pairs(q_side):
        c = banded.selectExpr("vec_id AS neighbor_id", "band", "band_sig")
        return {
            (r.query_id, r.neighbor_id)
            for r in q_side.join(c, on=["band", "band_sig"])
            .where(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id")
            .distinct()
            .collect()
        }

    single = pairs(banded.selectExpr("vec_id AS query_id", "band", "band_sig"))
    multi = pairs(
        multiprobe_band_probes(banded, r=2).selectExpr(
            "vec_id AS query_id", "band", "band_sig"
        )
    )
    assert single <= multi
    assert len(multi) > len(single)


def test_grouped_kmeans_fits_independent_codebooks(spark):
    """group_col codebooks must equal separately-fitted per-group runs."""
    from twitter_flink_spark.operators.clustering import kmeans_fit

    rows = []
    for i in range(12):
        # group 0 clusters around 0/10; group 1 around 100/200
        rows.append((i, 0, [float(i % 2 * 10), 1.0]))
        rows.append((i, 1, [float(100 + i % 2 * 100), 2.0]))
    df = spark.createDataFrame(
        rows, "vec_id LONG, sub INT, e ARRAY<DOUBLE>"
    )
    grouped = {
        (r.sub, r.cid): r.cent
        for r in kmeans_fit(df, k=2, iters=2, vec_col="e", group_col="sub")
        .collect()
    }
    for sub in (0, 1):
        solo = {
            r.cid: r.cent
            for r in kmeans_fit(
                df.where(F.col("sub") == sub), k=2, iters=2, vec_col="e"
            ).collect()
        }
        for cid, cent in solo.items():
            assert grouped[(sub, cid)] == cent


def _sql_centroid_means(rows, g):
    """Reference for `clustering._centroid_means`: the all-SQL
    re-assembly — a second aggregate that sorts the (dim, c) structs of
    each cluster with ``sort_array(collect_list(...))`` — collected."""
    from twitter_flink_spark.operators.clustering import _COMP_SCALE

    comp = rows.select(
        *g, "cid", F.posexplode(F.col("_tfs_e")).alias("pos0", "val")
    ).select(
        *g,
        "cid",
        (F.col("pos0") + 1).alias("dim"),
        F.round("val", _COMP_SCALE)
        .cast(f"decimal(28,{_COMP_SCALE})")
        .alias("val"),
    )
    dims = comp.groupBy(*g, "cid", "dim").agg(
        F.sum("val").alias("s"), F.count(F.lit(1)).alias("n")
    )
    return (
        dims.select(
            *g,
            "cid",
            "n",
            F.struct(
                "dim", (F.col("s").cast("double") / F.col("n")).alias("c")
            ).alias("dc"),
        )
        .groupBy(*g, "cid")
        .agg(
            F.expr(
                "transform(sort_array(collect_list(dc)), s -> s.c)"
            ).alias("cent"),
            F.max("n").alias("n_vecs"),
        )
        .collect()
    )


@pytest.mark.parametrize("group_col", [None, "sub"])
def test_kmeans_driver_reassembly_bit_identical(spark, monkeypatch, group_col):
    """Re-assembling the centroids on the driver from the collected
    (cid, dim, n, c) rows gives, value for value, the centroids of the
    SQL re-assembly (`_sql_centroid_means`), ungrouped and grouped."""
    import random

    from twitter_flink_spark.operators import clustering

    rng = random.Random(11)
    df = spark.createDataFrame(
        [
            (i, sub, [rng.uniform(-50, 50) / 3 for _ in range(6)])
            for i in range(60)
            for sub in (0, 1)
        ],
        "vec_id LONG, sub INT, e ARRAY<DOUBLE>",
    )
    if group_col is None:
        df = df.where(F.col("sub") == 0).drop("sub")
    key = ["sub", "cid"] if group_col else ["cid"]

    def fit():
        out = clustering.kmeans_fit(
            df, k=4, iters=3, vec_col="e", group_col=group_col
        ).collect()
        return {tuple(r[c] for c in key): (r.cent, r.n_vecs) for r in out}

    driver = fit()
    monkeypatch.setattr(clustering, "_centroid_means", _sql_centroid_means)
    reference = fit()
    assert len(reference) >= 3  # a non-trivial fit
    assert driver == reference


def test_codebook_cache_isolated_by_sf(spark):
    """The session fit cache must key on sf_dir — centroids fitted at one
    scale must never serve another (and the rebuilt frame must match a
    fresh fit exactly)."""
    from twitter_flink_spark.queries.similarity import _coarse_centroids

    a = {(r.cid, tuple(r.cent)) for r in
         _coarse_centroids(spark, "/root/testdata/sf0.001").collect()}
    b = {(r.cid, tuple(r.cent)) for r in
         _coarse_centroids(spark, "/root/testdata/sf0.01").collect()}
    a2 = {(r.cid, tuple(r.cent)) for r in
          _coarse_centroids(spark, "/root/testdata/sf0.001").collect()}
    assert a == a2  # cache hit reproduces the fit bit-for-bit
    assert a != b or len(a) == len(b)  # distinct sf entries exist independently


def test_doc_multiprobe_pairs_superset_of_single_probe(spark):
    """Multi-probe candidates include every exact-signature collision, so
    the verified pair set can only GROW."""
    from twitter_flink_spark.queries.similarity import (
        doc_neardup_lsh_multiprobe,
        doc_neardup_lsh_tfidf,
    )

    sf = "/root/testdata/sf0.001"
    single = {(r.doc_a, r.doc_b) for r in doc_neardup_lsh_tfidf(spark, sf).collect()}
    multi = {(r.doc_a, r.doc_b) for r in doc_neardup_lsh_multiprobe(spark, sf).collect()}
    assert single <= multi


def test_ivf_inc_index_probe_reads_one_cell_dir(spark):
    """The incremental IVF index's assignment table is PARTITIONED BY
    cid (the inverted-list layout): a probe's candidate fetch must open
    exactly one cid=<cell> dir — inputFiles-pinned — and the single-dir
    read must equal filtering the full assignment table to that cell
    (routing and layout agree)."""
    import os

    from twitter_flink_spark.operators.clustering import assign_clusters
    from twitter_flink_spark.queries.similarity import (
        _ensure_ivf_inc_index,
    )
    from twitter_flink_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    dest, split, (n0, n1, n2) = _ensure_ivf_inc_index(spark, sf)
    assert n0 > 0 and n1 > 0 and n2 == 0

    emb = load_table(spark, sf, "embeddings")
    probe_id = int(emb.agg(F.max("vec_id")).first()[0])
    cents = spark.read.parquet(os.path.join(dest, "_centroids"))
    probe = emb.where(F.col("vec_id") == probe_id).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    pcid = int(assign_clusters(probe, cents).first()["cid"])

    cell_dir = os.path.join(dest, "_assign", f"cid={pcid}")
    cell = spark.read.parquet(cell_dir)
    assert cell.inputFiles()  # the cell exists on disk
    assert all(cell_dir in f for f in cell.inputFiles())  # ONE dir

    full = spark.read.parquet(os.path.join(dest, "_assign"))
    # the probe fetch reads a strict subset of the assignment table
    assert len(cell.inputFiles()) < len(full.inputFiles())
    # single-dir read == cell filter over the full table (routing pins
    # the same cell the stored assignment has)
    a = sorted(r["vec_id"] for r in cell.collect())
    b = sorted(
        r["vec_id"] for r in full.where(F.col("cid") == pcid).collect()
    )
    assert a == b
    assert probe_id in a  # the probe's own stored row is in its cell


def test_ivf_refit_on_drift_fires_heals_and_noops(spark, tmp_path):
    """`ivf_refit_on_drift`: below threshold it is a PURE no-op (index
    untouched on disk); drifted data fires a full refit whose post state
    self-reports ratio 1; a crash-torn cutover (new assignments, old
    centroids) measures as inflated drift and the next run repairs it."""
    import os
    import shutil

    from twitter_flink_spark.operators.clustering import (
        assign_clusters,
        assigned_mean_dist,
        kmeans_fit,
    )
    from twitter_flink_spark.operators.ivf import (
        ivf_meta_df,
        ivf_refit_on_drift,
    )

    def vecs(lo, hi, shift=0.0):
        return spark.range(lo, hi).select(
            F.col("id").alias("vec_id"),
            F.array(
                *(
                    (F.col("id") % m).cast("double") + F.lit(shift)
                    for m in (3, 5, 7, 11)
                )
            ).alias("embedding"),
        )

    idx = str(tmp_path / "idx")
    os.makedirs(idx)
    corpus = vecs(0, 60)
    cents = kmeans_fit(corpus, k=4, iters=2).select("cid", "cent")
    cents.coalesce(1).write.parquet(os.path.join(idx, "_centroids"))
    disk = spark.read.parquet(os.path.join(idx, "_centroids"))
    v = corpus.select("vec_id", F.col("embedding").alias("e"))
    assign_clusters(v, disk).write.partitionBy("cid").parquet(
        os.path.join(idx, "_assign")
    )
    base = assigned_mean_dist(
        v, disk, spark.read.parquet(os.path.join(idx, "_assign"))
    )
    ivf_meta_df(spark, base, 4, 2).coalesce(1).write.parquet(
        os.path.join(idx, "_meta")
    )

    # 1. healthy index: pure no-op, nothing rewritten
    files_before = sorted(
        spark.read.parquet(os.path.join(idx, "_assign")).inputFiles()
    )
    r = ivf_refit_on_drift(spark, idx, corpus, threshold=1.5)
    assert r["fired"] is False and abs(r["ratio"] - 1.0) < 1e-9
    assert (
        sorted(spark.read.parquet(os.path.join(idx, "_assign")).inputFiles())
        == files_before
    )

    # 2. drift: shifted arrivals against frozen centroids -> refit fires
    newv = vecs(60, 100, shift=25.0).select(
        "vec_id", F.col("embedding").alias("e")
    )
    assign_clusters(newv, disk).write.mode("append").partitionBy(
        "cid"
    ).parquet(os.path.join(idx, "_assign"))
    allv = vecs(0, 60).union(vecs(60, 100, shift=25.0))
    r2 = ivf_refit_on_drift(spark, idx, allv, threshold=1.5)
    assert r2["fired"] is True and r2["ratio"] > 1.5
    r3 = ivf_refit_on_drift(spark, idx, allv, threshold=1.5)
    assert r3["fired"] is False and abs(r3["ratio"] - 1.0) < 1e-9

    # 3. torn cutover: old centroids resurface under the new assignments
    good = os.path.join(idx, "_centroids")
    from twitter_flink_spark.commit import rm_committed

    shutil.rmtree(good + ".save", ignore_errors=True)
    shutil.copytree(good, good + ".save")  # follows the pointer symlink
    rm_committed(good)  # the committed dest is a pointer symlink
    # rebuild STALE centroids (the pre-refit fit) in place
    cents.coalesce(1).write.parquet(good)
    r4 = ivf_refit_on_drift(spark, idx, allv, threshold=1.5)
    assert r4["fired"] is True  # mixed generation reads as drift
    r5 = ivf_refit_on_drift(spark, idx, allv, threshold=1.5)
    assert r5["fired"] is False and abs(r5["ratio"] - 1.0) < 1e-9


def test_ivf_full_refit_scratch_is_writer_unique(
    spark, tmp_path, monkeypatch
):
    """`_ivf_full_refit` stages into pid/thread-unique scratch siblings
    (`commit.scratch_name`), not fixed ones: refit B pauses with its
    generation staged, refit A of the same index runs to completion
    meanwhile — B's live scratch survives A, B then finishes with the
    same (deterministic) result, and neither leaves scratch behind."""
    import os
    import threading

    from twitter_flink_spark.operators import ivf

    vecs = spark.range(0, 40).select(
        F.col("id").alias("vec_id"),
        F.array(
            *((F.col("id") % m).cast("double") for m in (3, 5, 7))
        ).alias("embedding"),
    )
    idx = str(tmp_path / "idx")
    os.makedirs(idx)
    staged, resume = threading.Event(), threading.Event()
    measure = ivf.assigned_mean_dist

    def paused_measure(*args, **kwargs):
        if threading.current_thread().name == "refit-b":
            staged.set()  # B's assign + centroids are staged on disk
            resume.wait(300)
        return measure(*args, **kwargs)

    monkeypatch.setattr(ivf, "assigned_mean_dist", paused_measure)
    out = {}

    def refit_b():
        try:
            out["b"] = ivf._ivf_full_refit(spark, idx, vecs, 3, 2)
        except Exception as exc:  # noqa: BLE001
            out["b"] = exc

    b = threading.Thread(target=refit_b, name="refit-b")
    b.start()
    try:
        assert staged.wait(300)
        a = ivf._ivf_full_refit(spark, idx, vecs, 3, 2)
    finally:
        resume.set()
        b.join(timeout=300)
    assert not b.is_alive()
    assert out["b"] == a
    assert [e for e in os.listdir(idx) if ".tmp-" in e] == []
    assert spark.read.parquet(os.path.join(idx, "_assign")).count() == 40


def _labeled_embeddings_dir(spark, tmp_path, rows):
    """Write a tiny embeddings.parquet a query's load_table can read."""
    import os

    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "embeddings.parquet")
    )
    return d


def test_knn_vote_flags_the_mislabeled_probe(spark, tmp_path):
    """A probe whose stored label disagrees with its 5 nearest
    neighbors' majority vote counts as incorrect; probes are exactly
    the vec_id % 37 == 0 rows."""
    from twitter_flink_spark.queries.similarity import (
        knn_label_vote_accuracy,
    )

    # cluster A around (1, 0): ids 0-5. id 0 is a probe but carries
    # the WRONG label b; its neighbors all vote a.
    rows = [(i, [1.0 + 0.01 * i, 0.0], "a") for i in range(1, 6)]
    rows.append((0, [1.0, 0.0], "b"))
    # cluster B around (0, 1): ids 37 and 74 are probes, labels agree.
    rows += [(37 + i, [0.01 * i, 1.0], "b") for i in range(1, 6)]
    rows += [(37, [0.0, 1.0], "b"), (74, [0.05, 1.0], "b")]
    sf = _labeled_embeddings_dir(spark, tmp_path, rows)

    got = {
        r["label"]: r
        for r in knn_label_vote_accuracy(spark, sf).collect()
    }
    # all three probes carry qlabel b; only id 0's vote disagrees
    assert set(got) == {"b"}
    assert got["b"]["n_probes"] == 3
    assert got["b"]["n_correct"] == 2
    assert abs(got["b"]["accuracy"] - round(2 / 3, 4)) < 1e-9


def test_centroid_separation_exact_on_two_clusters(spark, tmp_path):
    """Hand-computable corpus: two labels on a line, unit scatter,
    centroid distance 10 -> db_component 0.2 both ways."""
    from twitter_flink_spark.queries.similarity import (
        label_centroid_separation,
    )

    rows = [
        (1, [0.0, 0.0], "a"),
        (2, [2.0, 0.0], "a"),
        (3, [10.0, 0.0], "b"),
        (4, [12.0, 0.0], "b"),
    ]
    sf = _labeled_embeddings_dir(spark, tmp_path, rows)
    got = {
        r["label"]: r
        for r in label_centroid_separation(spark, sf).collect()
    }
    assert set(got) == {"a", "b"}
    for lab, other in (("a", "b"), ("b", "a")):
        assert got[lab]["n"] == 2
        assert abs(got[lab]["scatter"] - 1.0) < 1e-6
        assert got[lab]["nearest_label"] == other
        assert abs(got[lab]["db_component"] - 0.2) < 1e-6


def test_ivf_refit_on_imbalance_fires_and_noops(spark, tmp_path):
    """`ivf_refit_on_imbalance` (the skew-triggered sibling): balanced
    occupancy is a PURE no-op (index untouched on disk, trigger reads
    only the k-cell aggregate); a hot cell above threshold fires the
    shared full refit, after which the rebalanced index no-ops."""
    import os

    from twitter_flink_spark.operators.clustering import (
        assign_clusters,
        assigned_mean_dist,
        kmeans_fit,
    )
    from twitter_flink_spark.operators.ivf import (
        ivf_imbalance_factor,
        ivf_meta_df,
        ivf_refit_on_imbalance,
    )

    def vecs(lo, hi, shift=0.0):
        return spark.range(lo, hi).select(
            F.col("id").alias("vec_id"),
            F.array(
                *(
                    (F.col("id") % m).cast("double") + F.lit(shift)
                    for m in (3, 5, 7, 11)
                )
            ).alias("embedding"),
        )

    idx = str(tmp_path / "idx")
    os.makedirs(idx)
    corpus = vecs(0, 60)
    cents = kmeans_fit(corpus, k=4, iters=2).select("cid", "cent")
    cents.coalesce(1).write.parquet(os.path.join(idx, "_centroids"))
    disk = spark.read.parquet(os.path.join(idx, "_centroids"))
    v = corpus.select("vec_id", F.col("embedding").alias("e"))
    assign_clusters(v, disk).write.partitionBy("cid").parquet(
        os.path.join(idx, "_assign")
    )
    base = assigned_mean_dist(
        v, disk, spark.read.parquet(os.path.join(idx, "_assign"))
    )
    ivf_meta_df(spark, base, 4, 2).coalesce(1).write.parquet(
        os.path.join(idx, "_meta")
    )
    imb0 = ivf_imbalance_factor(spark, idx)

    # 1. threshold above current skew: pure no-op, nothing rewritten
    files_before = sorted(
        spark.read.parquet(os.path.join(idx, "_assign")).inputFiles()
    )
    r = ivf_refit_on_imbalance(spark, idx, corpus, threshold=imb0 + 0.1)
    assert r["fired"] is False and abs(r["imbalance"] - imb0) < 1e-9
    assert (
        sorted(spark.read.parquet(os.path.join(idx, "_assign")).inputFiles())
        == files_before
    )

    # 2. a shifted era piles into one cell -> skew spikes -> refit fires
    newv = vecs(60, 180, shift=25.0).select(
        "vec_id", F.col("embedding").alias("e")
    )
    assign_clusters(newv, disk).write.mode("append").partitionBy(
        "cid"
    ).parquet(os.path.join(idx, "_assign"))
    imb1 = ivf_imbalance_factor(spark, idx)
    assert imb1 > imb0  # the hot cell moved the statistic
    allv = vecs(0, 60).union(vecs(60, 180, shift=25.0))
    thr = (imb0 + imb1) / 2
    r2 = ivf_refit_on_imbalance(spark, idx, allv, threshold=thr)
    assert r2["fired"] is True and r2["imbalance"] == imb1
    imb2 = ivf_imbalance_factor(spark, idx)
    assert imb2 < imb1  # the refit genuinely rebalanced
    r3 = ivf_refit_on_imbalance(spark, idx, allv, threshold=thr)
    assert r3["fired"] is False and abs(r3["imbalance"] - imb2) < 1e-9


def test_local_frame_is_one_slice(spark):
    """`local_frame` holds a driver-built frame in ONE slice whatever the
    core count, and round-trips rows under a DDL schema, a StructType
    and an empty list."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from twitter_flink_spark.session import local_frame

    ddl = local_frame(spark, [(1, "a"), (2, "b")], "k long, v string")
    assert ddl.rdd.getNumPartitions() == 1
    assert ddl.dtypes == [("k", "bigint"), ("v", "string")]
    assert sorted(map(tuple, ddl.collect())) == [(1, "a"), (2, "b")]

    st = StructType(
        [
            StructField("cid", LongType()),
            StructField("cent", ArrayType(DoubleType())),
        ]
    )
    rows = [(0, [0.5, 1.5]), (1, [2.0, -1.0])]
    cents = local_frame(spark, rows, st)
    assert cents.rdd.getNumPartitions() == 1
    assert cents.schema == st
    assert [(r.cid, r.cent) for r in cents.orderBy("cid").collect()] == rows

    empty = local_frame(spark, [], "vec_id long")
    assert empty.rdd.getNumPartitions() == 1
    assert empty.dtypes == [("vec_id", "bigint")] and empty.count() == 0


def test_kmeans_fit_leaves_no_persisted_rdd(spark):
    """`kmeans_fit` releases its corpus checkpoint before returning: its
    result is a driver-built frame that reads no checkpoint blocks."""
    from twitter_flink_spark.operators.clustering import kmeans_fit

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persisted()
    cents = kmeans_fit(_vectors(spark, 40), k=3, iters=2)
    assert persisted() - before == set()
    assert cents.rdd.getNumPartitions() == 1
    assert sum(r.n_vecs for r in cents.collect()) == 40


def test_ivf_stream_survives_empty_first_batch(spark, tmp_path, monkeypatch):
    """A zero-row first micro-batch leaves the `_assign` dir holding only
    `_SUCCESS`; the next batch must treat it as empty (not fail schema
    inference on it), and every vector must still get indexed — the
    full-table redelivery afterwards stays a no-op."""
    import os
    import shutil

    from twitter_flink_spark.queries import streaming

    sf = "/root/testdata/sf0.001"
    real = streaming._ensure_vecid_split_embeddings(spark, sf)
    parts = sorted(
        (os.path.join(real, f) for f in os.listdir(real)
         if f.endswith(".parquet")),
        key=os.path.getmtime,
    )
    staged = tmp_path / "staged"
    spark.read.parquet(real).limit(0).coalesce(1).write.parquet(
        str(tmp_path / "empty")
    )
    (empty,) = [
        f for f in os.listdir(tmp_path / "empty") if f.endswith(".parquet")
    ]
    staged.mkdir()
    # the file source replays files in mtime order: the empty one first
    order = [str(tmp_path / "empty" / empty)] + parts
    for i, src in enumerate(order):
        dst = staged / f"part-{i:05d}.parquet"
        shutil.copyfile(src, dst)
        os.utime(dst, (1_000_000 + 60 * i, 1_000_000 + 60 * i))
    monkeypatch.setattr(
        streaming, "_ensure_vecid_split_embeddings", lambda *_: str(staged)
    )

    out = streaming.streaming_ivf_assign_maintenance(spark, sf).collect()
    assert len(out) == 5
    assert all(r.redelivery_noop for r in out)
    # four batches, the first one empty: not the 3-batch shape
    assert not any(r.streamed_in_batches for r in out)


def _lambda_dot(a, b):
    """The Column-lambda form `dot` had before it became SQL text — kept
    here only as the reference the SQL form must equal bit for bit."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _lambda_sq_dist(a: str, b: str):
    a, b = F.col(a), F.col(b)
    return _lambda_dot(a, a) - 2 * _lambda_dot(a, b) + _lambda_dot(b, b)


def _lambda_scored_expr(vec_col: str):
    return F.transform(
        F.col("_tfs_cands"),
        lambda c: F.struct(
            (
                F.col("_tfs_sq")
                - 2 * _lambda_dot(F.col(vec_col), c["cent"])
                + _lambda_dot(c["cent"], c["cent"])
            ).alias("dist"),
            c["cid"].alias("cid"),
        ),
    )


def _seeded_vectors(spark, n: int, dim: int, seed: int):
    import random

    rng = random.Random(seed)
    return spark.createDataFrame(
        [
            (i, [rng.uniform(-40, 40) / 7 for _ in range(dim)])
            for i in range(n)
        ],
        "vec_id LONG, e ARRAY<DOUBLE>",
    )


def test_sql_dot_and_cosine_bit_identical_to_column_lambdas(spark):
    """`dot`, `cosine` and `sq_dist` (one SQL expression each) give the
    same doubles as the Column-lambda form, for float and double arrays
    and a null side."""
    from twitter_flink_spark.operators.similarity import cosine, dot, sq_dist

    v = _seeded_vectors(spark, 30, 9, seed=5)
    pairs = (
        v.select(F.col("vec_id").alias("i"), F.col("e").alias("a"))
        .crossJoin(
            v.where(F.col("vec_id") < 6).select(
                F.col("vec_id").alias("j"),
                F.col("e").cast("array<float>").alias("b"),
            )
        )
        .unionByName(
            spark.createDataFrame(
                [(-1, None, [1.0])], "i LONG, a ARRAY<DOUBLE>, b ARRAY<FLOAT>"
            ).withColumn("j", F.lit(-1).cast("long"))
        )
    )
    a, b = F.col("a"), F.col("b")
    got = pairs.select(
        "i",
        "j",
        dot("a", "b").alias("d"),
        cosine("a", "b").alias("c"),
        sq_dist("a", "b").alias("q"),
        _lambda_dot(a, b).alias("d0"),
        (
            _lambda_dot(a, b)
            / (F.sqrt(_lambda_dot(a, a)) * F.sqrt(_lambda_dot(b, b)))
        ).alias("c0"),
        _lambda_sq_dist("a", "b").alias("q0"),
    ).collect()
    assert len(got) == 30 * 6 + 1
    for r in got:
        for new, old in (("d", "d0"), ("c", "c0"), ("q", "q0")):
            assert repr(r[new]) == repr(r[old]), (r.i, r.j, new)


def test_assign_and_kmeans_bit_identical_to_column_lambdas(
    spark, monkeypatch
):
    """`assign_clusters` (distances kept) and the `kmeans_fit` centroids
    are value-for-value the ones the Column-lambda expressions give."""
    from twitter_flink_spark.operators import clustering

    v = _seeded_vectors(spark, 80, 7, seed=17)

    def run():
        cents = clustering.kmeans_fit(v, k=5, iters=3, vec_col="e")
        fit = sorted((r.cid, r.cent, r.n_vecs) for r in cents.collect())
        assigned = sorted(
            tuple(r)
            for r in clustering.assign_clusters(
                v, cents, keep_dist=True, top_n=2
            ).collect()
        )
        return fit, assigned

    sql_fit, sql_assigned = run()
    monkeypatch.setattr(clustering, "_scored_expr", _lambda_scored_expr)
    monkeypatch.setattr(
        clustering, "dot", lambda a, b: _lambda_dot(F.col(a), F.col(b))
    )
    monkeypatch.setattr(clustering, "sq_dist", _lambda_sq_dist)
    lam_fit, lam_assigned = run()
    assert len(sql_fit) >= 4 and len(sql_assigned) == 160
    assert sql_fit == lam_fit
    assert sql_assigned == lam_assigned
