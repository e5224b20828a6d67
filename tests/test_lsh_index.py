"""Incremental LSH index: probe+extend equivalence with a full rebuild,
update no-op coverage, and torn-append crash recovery."""

from __future__ import annotations

import os

from crash import CrashAfter
from pyspark.sql import functions as F

from twitter_flink_spark.operators.dedup import (
    LSH_BANDS,
    doc_shingles,
    jaccard_verify,
    lsh_bands,
    lsh_candidate_pairs,
    lsh_index_build,
    lsh_index_candidates,
    lsh_index_update,
    minhash_signature,
)
from twitter_flink_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def _split_docs(spark):
    docs = load_table(spark, SF_DIR, "documents")
    b = docs.agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")).first()
    split = (int(b["mn"]) + int(b["mx"])) // 2
    return docs, split


def test_incremental_index_equals_full_rebuild(spark, tmp_path):
    """build(corpus) + update(new) must yield EXACTLY the candidate pairs
    of a batch banding over everything — the incremental-maintenance
    invariant — and a full-table re-update must be a pure no-op."""
    docs, split = _split_docs(spark)
    idx = str(tmp_path / "lshidx")
    n0 = lsh_index_build(spark, docs.where(F.col("doc_id") <= split), idx)
    n1 = lsh_index_update(spark, docs.where(F.col("doc_id") > split), idx)
    assert n0 > 0 and n1 > 0
    assert lsh_index_update(spark, docs, idx) == 0  # fully covered

    got = sorted(
        (r["doc_a"], r["doc_b"])
        for r in lsh_index_candidates(spark, idx).collect()
    )
    batch = lsh_candidate_pairs(
        lsh_bands(minhash_signature(doc_shingles(docs)))
    )
    exp = sorted((r["doc_a"], r["doc_b"]) for r in batch.collect())
    assert got == exp and len(got) > 0


def test_incremental_index_recovers_torn_append(spark, tmp_path):
    """A doc with only SOME of its bands present (a torn multi-file
    append) must be re-indexed by the next update — and the duplicate
    band rows a re-index creates must not change the candidate set."""
    docs, split = _split_docs(spark)
    idx = str(tmp_path / "lshidx")
    lsh_index_build(spark, docs.where(F.col("doc_id") <= split), idx)
    lsh_index_update(spark, docs.where(F.col("doc_id") > split), idx)
    clean = sorted(
        (r["doc_a"], r["doc_b"])
        for r in lsh_index_candidates(spark, idx).collect()
    )

    # tear one new-era doc: drop all but one of its band rows by
    # rewriting the index without them (simulates a crash mid-move)
    victim = int(
        spark.read.parquet(idx)
        .where(F.col("doc_id") > split)
        .agg(F.max("doc_id"))
        .first()[0]
    )
    kept = spark.read.parquet(idx).where(
        (F.col("doc_id") != victim) | (F.col("band") == 0)
    )
    tmp = idx + ".rewrite"
    # keep the segmented layout — this simulates a torn MOVE; seg
    # rides along as the partition column
    kept.write.partitionBy("seg").mode("overwrite").parquet(tmp)
    from twitter_flink_spark.commit import rm_committed

    rm_committed(idx)  # the committed dest is a pointer symlink
    os.rename(tmp, idx)
    torn = spark.read.parquet(idx)
    assert torn.where(F.col("doc_id") == victim).count() == 1

    # recovery: the victim lost its coverage marker with the tear, so
    # the update re-indexes it (bands + a fresh marker)
    assert lsh_index_update(spark, docs, idx) == 1
    after = spark.read.parquet(idx)
    assert (
        after.where((F.col("doc_id") == victim) & (F.col("band") >= 0))
        .select("band")
        .distinct()
        .count()
        == LSH_BANDS
    )
    # duplicates (band 0 twice for the victim) do not change candidates
    got = sorted(
        (r["doc_a"], r["doc_b"])
        for r in lsh_index_candidates(spark, idx).collect()
    )
    assert got == clean


def test_incremental_index_verified_pairs_cross_era(spark, tmp_path):
    """End-to-end: index-served candidates restricted to new-side pairs,
    exact-Jaccard verified, equal the batch pipeline's pairs under the
    same restriction."""
    docs, split = _split_docs(spark)
    idx = str(tmp_path / "lshidx")
    lsh_index_build(spark, docs.where(F.col("doc_id") <= split), idx)
    lsh_index_update(spark, docs.where(F.col("doc_id") > split), idx)
    sh = doc_shingles(docs)
    got = sorted(
        tuple(r)
        for r in jaccard_verify(
            lsh_index_candidates(spark, idx).where(
                F.col("doc_b") > split
            ),
            sh,
        ).collect()
    )
    exp = sorted(
        tuple(r)
        for r in jaccard_verify(
            lsh_candidate_pairs(
                lsh_bands(minhash_signature(sh))
            ).where(F.col("doc_b") > split),
            sh,
        ).collect()
    )
    assert got == exp and len(got) > 0


def test_augmented_corpus_deterministic_prefixes(spark):
    """The recall curve's corpus augmentation: every 8th doc survives,
    each variant id is doc_id*10+level, and each variant text is the
    first ceil(frac*n) tokens (floored at 3) of the original."""
    import math

    from pyspark.sql import functions as F

    from twitter_flink_spark.queries.dedup import (
        AUG_FRACS,
        _augmented_corpus,
    )

    text = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(8, text), (5, "skipped doc")], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r["text"] for r in _augmented_corpus(docs).collect()
    }
    # doc 5 is not a multiple of 8 -> dropped entirely
    assert set(rows) == {80, 81, 82, 83, 84, 85}
    assert rows[80] == text
    for lvl, frac in enumerate(AUG_FRACS, start=1):
        n = max(3, math.ceil(10 * frac))
        assert rows[80 + lvl] == " ".join(f"w{i}" for i in range(n))


def test_banding_recall_curve_bins_and_soundness(spark):
    """On a hand-built corpus the curve reports sound bins: n_caught <=
    n_true, recall = n_caught/n_true, and an exact-duplicate pair (the
    banded join cannot miss J=1) lands caught in the top bin."""
    from pyspark.sql import functions as F

    from twitter_flink_spark.operators.dedup import (
        doc_shingles,
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signature,
        prefix_filter_jaccard_pairs,
    )

    words = [f"t{i}" for i in range(40)]
    docs = spark.createDataFrame(
        [
            (1, " ".join(words)),
            (2, " ".join(words)),  # exact dup of 1 -> J = 1.0
            (3, " ".join(words[:20])),  # half prefix of 1 -> J ~ 0.47
        ],
        "doc_id long, text string",
    )
    truth = prefix_filter_jaccard_pairs(docs, threshold=0.35)
    sh = doc_shingles(docs)
    cand = lsh_candidate_pairs(lsh_bands(minhash_signature(sh)))
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"] for r in truth.collect()
    }
    assert got[(1, 2)] == 1.0
    assert 0.4 <= got[(1, 3)] <= 0.5
    caught = {(r["doc_a"], r["doc_b"]) for r in cand.collect()}
    assert (1, 2) in caught  # identical signatures band together


def test_jaccard_verify_sets_equals_exploded_verify(spark):
    """`jaccard_verify_sets` (per-doc set table + array_intersect) must
    return row-identical verified pairs — jaccard values included — to
    `jaccard_verify` over the exploded shingle table, for the full LSH
    candidate set of the real corpus."""
    from twitter_flink_spark.operators.dedup import jaccard_verify_sets

    docs = load_table(spark, SF_DIR, "documents")
    sh = doc_shingles(docs)
    cands = lsh_candidate_pairs(lsh_bands(minhash_signature(sh)))
    sets = sh.groupBy("doc_id").agg(
        F.collect_set("shingle").alias("sh")
    )
    for thr in (0.5, 0.0):  # 0.0 pins the zero-overlap guard: the
        # exploded verify drops no-intersection pairs structurally, so
        # the sets variant must too, even when the threshold keeps 0.0
        got = sorted(
            tuple(r)
            for r in jaccard_verify_sets(cands, sets, thr).collect()
        )
        exp = sorted(
            tuple(r) for r in jaccard_verify(cands, sh, thr).collect()
        )
        assert got == exp and len(got) > 0


def test_index_probe_finds_new_side_pairs_only(spark, tmp_path):
    """`lsh_index_probe` bands ONLY the probe docs and equi-joins the
    persisted index: probing the new era after extending must return
    exactly the batch pipeline's candidate pairs with at least one new
    side, and nothing old-old."""
    from twitter_flink_spark.operators.dedup import lsh_index_probe

    docs, split = _split_docs(spark)
    idx = str(tmp_path / "lshidx")
    lsh_index_build(spark, docs.where(F.col("doc_id") <= split), idx)
    new = docs.where(F.col("doc_id") > split)
    lsh_index_update(spark, new, idx)
    got = sorted(
        (r["doc_a"], r["doc_b"])
        for r in lsh_index_probe(spark, new, idx).collect()
    )
    batch = lsh_candidate_pairs(
        lsh_bands(minhash_signature(doc_shingles(docs)))
    )
    exp = sorted(
        (r["doc_a"], r["doc_b"])
        for r in batch.where(F.col("doc_b") > split).collect()
    )
    assert got == exp and len(got) > 0
    assert all(b > split for _, b in got)  # no old-old pair


def test_update_converges_with_subngram_docs(spark, tmp_path):
    """A doc with fewer than ``ngram`` tokens can never produce a band,
    so it must not count as "new" on every redelivery: the second
    update of the SAME batch (containing a 2-token doc) must return 0,
    or streaming redelivery-no-op flags would never converge."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "zeta eta theta iota kappa"),
            (3, "too short"),  # 2 tokens < ngram=3: band-ineligible
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "lshidx")
    lsh_index_build(spark, docs.where(F.col("doc_id") == 1), idx)
    n1 = lsh_index_update(spark, docs, idx)
    assert n1 == 1  # doc 2 only; doc 3 is ineligible, not "new"
    assert lsh_index_update(spark, docs, idx) == 0  # redelivery no-op
    # the ineligible doc never entered the index
    assert (
        spark.read.parquet(idx).where(F.col("doc_id") == 3).count() == 0
    )


def test_staged_pairs_equal_operator_recompute(spark):
    """The staged signature tables must be a pure cache: the verified
    pair set built from them is row-identical to the operator pipeline
    recomputing signatures from the documents table."""
    from twitter_flink_spark.operators.dedup import (
        minhash_near_dup_pairs,
    )
    from twitter_flink_spark.queries.dedup import _near_dup_pairs_staged
    from twitter_flink_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    staged = {
        tuple(r)
        for r in _near_dup_pairs_staged(spark, sf).collect()
    }
    direct = {
        tuple(r)
        for r in minhash_near_dup_pairs(
            load_table(spark, sf, "documents"), threshold=0.5, ngram=3
        ).collect()
    }
    assert staged == direct and len(staged) > 0


def test_flat_index_raises_naming_its_dir(spark, tmp_path):
    """Every maintenance call reads only the segmented layout
    `lsh_index_build` writes: an index without the ``seg`` partition
    column raises a ValueError that names its dir."""
    import pytest

    from twitter_flink_spark.operators.dedup import (
        lsh_index_compact,
        lsh_index_delete,
    )

    docs, _ = _split_docs(spark)
    idx = str(tmp_path / "flat")
    lsh_index_build(spark, docs, str(tmp_path / "seg"))
    built = spark.read.parquet(str(tmp_path / "seg"))
    built.drop("seg", "nseg").write.parquet(idx)
    doomed = docs.select("doc_id").limit(1)
    for call in (
        lambda: lsh_index_update(spark, docs, idx),
        lambda: lsh_index_delete(spark, doomed, idx),
        lambda: lsh_index_compact(spark, idx),
    ):
        with pytest.raises(ValueError, match=f"LSH index at {idx} has no seg"):
            call()


def test_index_delete_tombstone_then_compact(spark, tmp_path):
    """Tombstoned docs must vanish from every serve path immediately
    (candidates AND probe, either side), survive redelivery (the
    coverage marker keeps the update from re-signing a deleted doc),
    and compaction must reclaim rows without changing the served set."""
    from twitter_flink_spark.operators.dedup import (
        TOMB_BAND,
        lsh_index_compact,
        lsh_index_delete,
        lsh_index_probe,
    )

    docs, split = _split_docs(spark)
    idx = str(tmp_path / "lshidx")
    lsh_index_build(spark, docs, idx)
    full = sorted(
        (r["doc_a"], r["doc_b"])
        for r in lsh_index_candidates(spark, idx).collect()
    )
    assert full, "fixture must have candidate pairs"
    # delete every doc appearing as doc_a in some pair: guarantees the
    # served set actually changes
    doomed_ids = sorted({a for a, _ in full})[:3]
    doomed = spark.createDataFrame(
        [(i,) for i in doomed_ids], "doc_id long"
    )
    assert lsh_index_delete(spark, doomed, idx) == len(doomed_ids)
    assert lsh_index_delete(spark, doomed, idx) == 0  # idempotent
    served = sorted(
        (r["doc_a"], r["doc_b"])
        for r in lsh_index_candidates(spark, idx).collect()
    )
    assert served == [
        p for p in full if p[0] not in doomed_ids and p[1] not in doomed_ids
    ]
    # probe with the whole corpus: deleted docs pair on neither side
    probed = lsh_index_probe(spark, docs, idx)
    bad = set(doomed_ids)
    assert not [
        r for r in probed.collect() if r["doc_a"] in bad or r["doc_b"] in bad
    ]
    # redelivery cannot resurrect: the update sees the marker, signs nothing
    assert lsh_index_update(spark, docs, idx) == 0
    # compact: rows shrink, tombstones gone, served set identical
    pre = spark.read.parquet(idx).count()
    assert lsh_index_compact(spark, idx) == len(doomed_ids)
    post = spark.read.parquet(idx)
    assert post.count() < pre
    assert post.where(F.col("band") == TOMB_BAND).count() == 0
    assert sorted(
        (r["doc_a"], r["doc_b"])
        for r in lsh_index_candidates(spark, idx).collect()
    ) == served
    assert lsh_index_compact(spark, idx) == 0  # no-op without tombstones


def test_compact_rewrites_only_tombstone_bearing_segments(spark, tmp_path):
    """Segment-local compaction (the IVF cell-local precedent): every
    row of a doc — bands, marker, tombstone — shares one ``seg=N/``
    dir, so compacting a delete batch rewrites exactly the tombstones'
    segments. Untouched segments are pinned BY INODE: their files are
    not merely equal afterwards, they are the same files, never opened
    or rewritten. Served candidates match a full-rewrite oracle."""
    from twitter_flink_spark.operators.dedup import (
        TOMB_BAND,
        _seg_expr,
        lsh_index_compact,
        lsh_index_delete,
    )

    docs, split = _split_docs(spark)
    idx = str(tmp_path / "lshidx")
    lsh_index_build(spark, docs, idx)

    def seg_files():
        out = {}
        root = os.path.realpath(idx)
        for d in os.listdir(root):
            if d.startswith("seg="):
                seg_dir = os.path.realpath(os.path.join(root, d))
                out[d] = {
                    f: os.stat(os.path.join(seg_dir, f)).st_ino
                    for f in os.listdir(seg_dir)
                    if f.endswith(".parquet")
                }
        return out

    before = seg_files()
    assert len(before) >= 2, "fixture must span several segments"

    # doom every doc of ONE segment's hash class that has band rows
    seg_of = {
        int(r["doc_id"]): int(r["seg"])
        for r in spark.read.parquet(idx)
        .select("doc_id", "seg")
        .distinct()
        .collect()
    }
    target_seg = min(seg_of.values())
    doomed_ids = sorted(d for d, s in seg_of.items() if s == target_seg)[:2]
    doomed = spark.createDataFrame(
        [(i,) for i in doomed_ids], "doc_id long"
    )
    assert lsh_index_delete(spark, doomed, idx) == len(doomed_ids)
    # the tombstones landed in the same segment as their docs' rows
    tomb_segs = {
        int(r["seg"])
        for r in spark.read.parquet(idx)
        .where(F.col("band") == TOMB_BAND)
        .select("seg")
        .distinct()
        .collect()
    }
    assert tomb_segs == {target_seg}

    served_before = sorted(
        (r["doc_a"], r["doc_b"])
        for r in lsh_index_candidates(spark, idx).collect()
    )
    assert lsh_index_compact(spark, idx) == len(doomed_ids)
    after = seg_files()

    # untouched segments: identical file sets, identical INODES
    for d in before:
        if d == f"seg={target_seg}":
            continue
        assert after[d] == before[d], f"{d} was rewritten"
    # the touched segment was rewritten (no tombstones, no doomed rows)
    post = spark.read.parquet(idx)
    assert post.where(F.col("band") == TOMB_BAND).count() == 0
    assert (
        post.where(F.col("doc_id").isin([int(i) for i in doomed_ids])).count()
        == 0
    )
    # served set unchanged by the physical rewrite
    assert sorted(
        (r["doc_a"], r["doc_b"])
        for r in lsh_index_candidates(spark, idx).collect()
    ) == served_before
    # placement function sanity: the segment really is the doc hash
    seg_check = (
        spark.read.parquet(idx)
        .where(F.col("band") >= 0)
        .select("doc_id", "seg", _seg_expr(16).alias("want"))
        .where(F.col("seg") != F.col("want"))
        .count()
    )
    assert seg_check == 0


def test_band_parallel_spreads_single_partition_losslessly(spark):
    """`_band_parallel` must raise a one-partition doc batch to the
    session's parallelism (the micro-batch banding would otherwise run
    single-task — the shape `lsh_index_update` sees from foreachBatch)
    while leaving row CONTENT untouched, and must leave an
    already-parallel input's plan alone. Banding the spread batch must
    yield exactly the rows of banding the unspread one: the spread is
    physical only."""
    from twitter_flink_spark.operators.dedup import _band_parallel

    docs = load_table(spark, SF_DIR, "documents").coalesce(1)
    assert docs.rdd.getNumPartitions() == 1
    spreaded = _band_parallel(docs)
    n = spark.sparkContext.defaultParallelism
    assert spreaded.rdd.getNumPartitions() == n
    assert sorted(r["doc_id"] for r in spreaded.collect()) == sorted(
        r["doc_id"] for r in docs.collect()
    )
    # banding output identical (order-insensitive)
    def banded(d):
        rows = lsh_bands(minhash_signature(doc_shingles(d)))
        return sorted(
            (r["doc_id"], r["band"], r["band_hash"]) for r in rows.collect()
        )

    assert banded(spreaded) == banded(docs)
    # an input already at >= default parallelism passes through untouched
    wide = docs.repartition(n, F.col("doc_id"))
    assert _band_parallel(wide) is wide


def test_observed_count_zero_rows_only_for_missing_metrics(spark, tmp_path):
    """`observed_count` maps to 0 exactly the documented AQE case: an
    empty other side of a join lets empty-relation propagation replace
    the observed subtree, its CollectMetrics never runs and the metrics
    row has no fields (``Observation.get`` itself fails). Any other
    failure — here a metric name the observation does not carry — must
    propagate instead of reading as an empty batch."""
    import pytest
    from pyspark.sql import Observation

    from twitter_flink_spark.commit import observed_count

    keys = spark.range(100).withColumnRenamed("id", "k")
    empty = spark.range(100).where("id > 1000").withColumnRenamed("id", "k")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        obs = Observation()
        keys.observe(obs, F.count(F.lit(1)).alias("n")).join(
            empty, "k"
        ).write.parquet(str(tmp_path / "replaced"))
        with pytest.raises(Exception):
            obs.get  # the documented failure, reproduced
        assert observed_count(obs) == 0

        obs = Observation()
        keys.observe(obs, F.count(F.lit(1)).alias("n")).write.parquet(
            str(tmp_path / "present")
        )
        assert observed_count(obs) == 100

        obs = Observation()
        keys.observe(obs, F.count(F.lit(1)).alias("m")).write.parquet(
            str(tmp_path / "misnamed")
        )
        with pytest.raises(KeyError):
            observed_count(obs)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def _pairs(spark, idx):
    return sorted(
        (r["doc_a"], r["doc_b"])
        for r in lsh_index_candidates(spark, idx).collect()
    )


def test_update_crash_between_any_two_renames_recovers(
    spark, tmp_path, monkeypatch
):
    """Crash `lsh_index_update` between two renames of its staged append
    — at the first and the last band file, and at the first and the
    last coverage-marker file — then re-run it: the index serves exactly
    the candidate pairs of an uninterrupted update. Band files rename
    before any marker (`commit.append_files` phase order), so a torn
    append only ever leaves docs marker-less, which the re-run indexes
    again."""
    import shutil

    import pytest

    from twitter_flink_spark import commit

    docs, split = _split_docs(spark)
    base = str(tmp_path / "base")
    lsh_index_build(spark, docs.where(F.col("doc_id") <= split), base)
    new = docs.where(F.col("doc_id") > split)

    def fresh(name: str) -> str:
        d = str(tmp_path / name)
        shutil.copytree(base, d)  # follows the pointer symlink
        return d

    clean = fresh("clean")
    counting = CrashAfter(1 << 30)
    monkeypatch.setattr(commit, "os", counting)
    n_clean = lsh_index_update(spark, new, clean)
    monkeypatch.setattr(commit, "os", os)
    want = _pairs(spark, clean)
    n_bands = sum(m.startswith("inc-") for m in counting.moved)
    n_all = len(counting.moved)
    assert n_clean > 0 and 0 < n_bands < n_all
    assert all(m.startswith("cov-") for m in counting.moved[n_bands:])

    for k in sorted({0, n_bands - 1, n_bands, n_all - 1}):
        idx = fresh(f"crash-{k}")
        monkeypatch.setattr(commit, "os", CrashAfter(k))
        with pytest.raises(OSError, match="injected crash"):
            lsh_index_update(spark, new, idx)
        monkeypatch.setattr(commit, "os", os)
        n_again = lsh_index_update(spark, new, idx)
        # no marker landed: every new doc is re-indexed; some did: fewer
        assert n_again == n_clean if k <= n_bands else 0 < n_again < n_clean
        assert _pairs(spark, idx) == want, k


def test_ivf_delete_crash_between_renames_recovers(
    spark, tmp_path, monkeypatch
):
    """The IVF tombstone append shares the one mover: crash
    `ivf_index_delete` at its first and its last tombstone file, re-run
    it, and the tombstone set equals an uninterrupted delete's."""
    import pytest

    from twitter_flink_spark import commit
    from twitter_flink_spark.operators.ivf import (
        ivf_index_delete,
        ivf_tombstones,
    )

    def fresh(name: str) -> str:
        d = str(tmp_path / name)
        spark.range(400).select(
            F.col("id").alias("vec_id"), (F.col("id") % 4).alias("cid")
        ).write.partitionBy("cid").parquet(os.path.join(d, "_assign"))
        return d

    def tombs(d: str) -> list[int]:
        return sorted(r["vec_id"] for r in ivf_tombstones(spark, d).collect())

    # several tombstone files: one per shuffle partition of the delete
    prev = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        doomed = spark.range(0, 400, 3).withColumnRenamed("id", "vec_id")
        clean = fresh("clean")
        counting = CrashAfter(1 << 30)
        monkeypatch.setattr(commit, "os", counting)
        n_clean = ivf_index_delete(spark, doomed, clean)
        monkeypatch.setattr(commit, "os", os)
        want = tombs(clean)
        n_files = len(counting.moved)
        assert n_clean == len(want) > 0 and n_files > 1

        for k in (0, n_files - 1):
            idx = fresh(f"crash-{k}")
            monkeypatch.setattr(commit, "os", CrashAfter(k))
            with pytest.raises(OSError, match="injected crash"):
                ivf_index_delete(spark, doomed, idx)
            monkeypatch.setattr(commit, "os", os)
            ivf_index_delete(spark, doomed, idx)
            assert tombs(idx) == want, k
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev)


def test_compact_crash_inside_segment_rewrite_recovers(
    spark, tmp_path, monkeypatch
):
    """Crash `lsh_index_compact` inside its first segment rewrite,
    between moving the Spark-written ``seg=<n>`` dir aside and the
    pointer rename: the segment dir is missing. A re-run puts the aside
    back before it reads the index and serves exactly the candidate
    pairs and rows of an uninterrupted compaction."""
    import shutil

    import pytest

    from twitter_flink_spark import commit
    from twitter_flink_spark.operators.dedup import (
        lsh_index_compact,
        lsh_index_delete,
    )

    docs, _ = _split_docs(spark)
    base = str(tmp_path / "base")
    lsh_index_build(spark, docs, base)
    doomed_ids = sorted({a for a, _ in _pairs(spark, base)})[:3]
    lsh_index_delete(
        spark,
        spark.createDataFrame([(i,) for i in doomed_ids], "doc_id long"),
        base,
    )

    def fresh(name: str) -> str:
        d = str(tmp_path / name)
        shutil.copytree(base, d)  # Spark-written (real-dir) segments
        return d

    def state(d: str):
        rows = sorted(tuple(r) for r in spark.read.parquet(d).collect())
        return _pairs(spark, d), rows

    clean = fresh("clean")
    n = lsh_index_compact(spark, clean)
    want = state(clean)
    assert n == len(doomed_ids)

    idx = fresh("crash")
    segs = sorted(d for d in os.listdir(idx) if d.startswith("seg="))
    # renames of the first segment swap: staged dir -> generation, the
    # real dir -> its aside, then the pointer; crash at the pointer
    monkeypatch.setattr(commit, "os", CrashAfter(2))
    with pytest.raises(OSError, match="injected crash"):
        lsh_index_compact(spark, idx)
    monkeypatch.setattr(commit, "os", os)
    now = sorted(d for d in os.listdir(idx) if d.startswith("seg="))
    assert len([d for d in now if ".gc-" not in d]) == len(segs) - 1
    assert lsh_index_compact(spark, idx) == n
    assert state(idx) == want


def test_ivf_compact_crash_inside_cell_rewrite_recovers(
    spark, tmp_path, monkeypatch
):
    """Crash `ivf_index_compact` inside its first cell rewrite, between
    moving the Spark-written ``cid=<c>`` dir aside and the pointer
    rename: the cell dir is missing, so serving would drop its members.
    A re-run puts the aside back before it reads the assignments and
    leaves exactly the assignments of an uninterrupted compaction."""
    import pytest

    from twitter_flink_spark import commit
    from twitter_flink_spark.operators.ivf import (
        ivf_assignments,
        ivf_index_compact,
        ivf_index_delete,
        ivf_tombstones,
    )

    doomed = spark.range(0, 400, 3).withColumnRenamed("id", "vec_id")

    def fresh(name: str) -> str:
        d = str(tmp_path / name)
        spark.range(400).select(
            F.col("id").alias("vec_id"), (F.col("id") % 4).alias("cid")
        ).write.partitionBy("cid").parquet(os.path.join(d, "_assign"))
        ivf_index_delete(spark, doomed, d)
        return d

    def state(d: str):
        return (
            sorted(tuple(r) for r in ivf_assignments(spark, d).collect()),
            ivf_tombstones(spark, d).count(),
        )

    clean = fresh("clean")
    assert ivf_index_compact(spark, clean) == (134, 4)
    want = state(clean)

    idx = fresh("crash")
    # renames of the first cell swap: staged dir -> generation, the real
    # dir -> its aside, then the pointer; crash at the pointer
    monkeypatch.setattr(commit, "os", CrashAfter(2))
    with pytest.raises(OSError, match="injected crash"):
        ivf_index_compact(spark, idx)
    monkeypatch.setattr(commit, "os", os)
    cells = os.listdir(os.path.join(idx, "_assign"))
    assert sorted(
        c for c in cells if c.startswith("cid=") and ".gc-" not in c
    ) == ["cid=1", "cid=2", "cid=3"]
    assert ivf_index_compact(spark, idx) == (134, 4)
    assert state(idx) == want
