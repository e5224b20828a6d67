"""File-layout utilities: small-files compaction must preserve data and
hit the target file count."""

from __future__ import annotations

import os

from twitter_flink_spark.sources.files import compact_parquet
from twitter_flink_spark.sources.staging import scratch_dir
from twitter_flink_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_compaction_reduces_file_count(spark):
    e = load_table(spark, SF_DIR, "events")
    src = scratch_dir("compact-src")
    dst = scratch_dir("compact-dst")
    # simulate a streaming sink's small-files problem: 64 splinter files
    e.repartition(64).write.mode("overwrite").parquet(src)
    n_small = sum(
        1 for _, _, fs in os.walk(src) for f in fs if f.endswith(".parquet")
    )
    assert n_small >= 64
    n_out = compact_parquet(spark, src, dst, target_file_bytes=1 * 1024 * 1024)
    assert n_out < n_small
    assert spark.read.parquet(dst).count() == e.count()


def test_spread_repartitions_underfilled_file_scan(spark, tmp_path):
    """A scan backed by fewer files than default parallelism gets a keyed
    repartition; the decision comes from file METADATA (inputFiles), not a
    DataFrame->RDD conversion."""
    from twitter_flink_spark.sources.tables import spread

    p = str(tmp_path / "one")
    spark.range(100).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    assert len(df.inputFiles()) == 1
    out = spread(df, "id")
    n = spark.sparkContext.defaultParallelism
    assert "RoundRobinPartitioning" in out._jdf.queryExecution().toString() or (
        f"hashpartitioning(id" in out._jdf.queryExecution().executedPlan().toString()
    )
    assert out.count() == 100


def test_spread_leaves_non_file_input_alone(spark):
    """In-memory relations report no files; their partitioning came from
    the session, so spread() must not inject a shuffle."""
    from twitter_flink_spark.sources.tables import spread

    df = spark.range(10).select("id")
    assert df.inputFiles() == []
    out = spread(df, "id")
    assert out is df  # literal no-op


def test_filestats_index_prunes_and_is_lossless(spark, tmp_path):
    """The file-level min/max index must (a) schedule ONLY envelope-
    intersecting files — pinned via inputFiles, the pre-plan skipping
    parquet row-group stats cannot give — (b) stay lossless thanks to the
    residual predicate (results equal the full-scan filter even though
    selection is candidate-level), (c) keep all-null-envelope files as
    candidates, and (d) return an empty same-schema frame when nothing
    intersects."""
    import datetime

    from twitter_flink_spark.operators import skipping

    root = str(tmp_path / "tbl")
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (base + datetime.timedelta(hours=h), h % 5, float(h)) for h in range(96)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, k int, value double")
    # 4 files clustered on ts: each covers a contiguous 24 h
    df.repartitionByRange(4, "ts").sortWithinPartitions("ts").write.mode(
        "overwrite"
    ).parquet(root)
    skipping.build(spark, root, ["ts"])

    lo = base + datetime.timedelta(hours=30)
    hi = base + datetime.timedelta(hours=40)
    sliced, files_read, files_total = skipping.read_between(
        spark, root, "ts", lo, hi
    )
    assert files_total == 4
    assert files_read < files_total  # skipping actually happened
    assert len(sliced.inputFiles()) == files_read  # only those scheduled
    whole = spark.read.parquet(root)
    full = whole.where((whole.ts >= lo) & (whole.ts < hi))
    assert sorted(r.value for r in sliced.collect()) == sorted(
        r.value for r in full.collect()
    )

    # empty intersection: empty frame, same schema, zero files scheduled
    lo2 = base + datetime.timedelta(days=30)
    hi2 = base + datetime.timedelta(days=31)
    empty, fr2, ft2 = skipping.read_between(spark, root, "ts", lo2, hi2)
    assert fr2 == 0 and ft2 == 4
    assert empty.count() == 0
    assert empty.schema == spark.read.parquet(root).schema

    # a file with an all-null envelope must stay a candidate
    nulls = spark.createDataFrame(
        [(None, 99, 999.0)], "ts timestamp, k int, value double"
    )
    nulls.coalesce(1).write.mode("append").parquet(root)
    skipping.build(spark, root, ["ts"])
    _, fr3, ft3 = skipping.read_between(spark, root, "ts", lo, hi)
    assert ft3 == 5 and fr3 == 2  # 1 intersecting + the unknown-envelope file

    # rebuild is atomic-swap: no .tmp/.gc residue
    import os

    assert not os.path.isdir(os.path.join(root, skipping.STATS_DIR + ".tmp"))
    assert not os.path.isdir(os.path.join(root, skipping.STATS_DIR + ".gc"))


def test_filestats_incremental_update_scans_only_new(spark, tmp_path):
    """`update` must index ONLY files missing from the manifest (O(new
    data)): existing rows survive byte-identical, the new files' stats
    appear, an immediate second update is a pure no-op (returns 0 and
    leaves the manifest files untouched), and multi-column conjunction
    selection (`read_where`) prunes on BOTH envelopes."""
    import datetime
    import os

    from twitter_flink_spark.operators import skipping

    root = str(tmp_path / "tbl")
    base = datetime.datetime(2024, 1, 1)
    mk = lambda lo, hi: spark.createDataFrame(  # noqa: E731
        [
            (base + datetime.timedelta(hours=h), h, float(h))
            for h in range(lo, hi)
        ],
        "ts timestamp, k long, value double",
    )
    mk(0, 48).repartitionByRange(2, "ts").sortWithinPartitions(
        "ts"
    ).write.mode("overwrite").parquet(root)
    skipping.build(spark, root, ["ts", "k"])
    before = {
        r["file"]: r.asDict()
        for r in spark.read.parquet(
            os.path.join(root, skipping.STATS_DIR)
        ).collect()
    }
    assert len(before) == 2

    mk(48, 96).repartitionByRange(2, "ts").sortWithinPartitions(
        "ts"
    ).write.mode("append").parquet(root)
    assert skipping.update(spark, root, ["ts", "k"]) == 2
    after = {
        r["file"]: r.asDict()
        for r in spark.read.parquet(
            os.path.join(root, skipping.STATS_DIR)
        ).collect()
    }
    assert len(after) == 4
    for f, row in before.items():
        assert after[f] == row  # old entries preserved verbatim

    # second update: nothing new -> no-op, manifest untouched on disk
    manifest_files = set(
        spark.read.parquet(os.path.join(root, skipping.STATS_DIR)).inputFiles()
    )
    assert skipping.update(spark, root, ["ts", "k"]) == 0
    assert (
        set(
            spark.read.parquet(
                os.path.join(root, skipping.STATS_DIR)
            ).inputFiles()
        )
        == manifest_files
    )

    # conjunction selection: hour-window AND k-range must intersect BOTH
    lo = base + datetime.timedelta(hours=50)
    hi = base + datetime.timedelta(hours=60)
    df, fr, ft = skipping.read_where(
        spark, root, [("ts", lo, hi), ("k", 50, 60)]
    )
    assert ft == 4 and fr == 1
    assert df.count() == 10
    # same time range but impossible k: ts envelope matches 1 file, k none
    _, fr2, _ = skipping.read_where(
        spark, root, [("ts", lo, hi), ("k", 1000, 2000)]
    )
    assert fr2 == 0


def test_filebloom_point_read_prunes_and_exact(spark, tmp_path):
    """Per-file Bloom index: a key lookup on a randomly scattered layout
    must read a strict subset of files (inputFiles-pinned), return
    exactly the matching rows (residual kills false positives; Bloom
    construction forbids false negatives — checked for EVERY key), and
    an absent key must read zero rows."""
    from pyspark.sql import functions as F

    from twitter_flink_spark.operators import skipping

    root = str(tmp_path / "tbl")
    df = spark.range(0, 400).select(
        (F.col("id") * 7919 % 1000003).alias("key"),
        (F.col("id") % 13).alias("payload"),
    )
    df.repartition(8).write.mode("overwrite").parquet(root)
    skipping.build_bloom(spark, root, "key", m=1 << 13, k=3)

    probe = df.where(F.col("id") == 123).first()["key"]
    hit, fr, ft = skipping.point_read(spark, root, "key", int(probe))
    assert ft == 8 and 1 <= fr < ft
    assert len(hit.inputFiles()) == fr
    assert [r["key"] for r in hit.collect()] == [probe]

    # no false negatives: every key's candidate set contains its file
    whole = spark.read.parquet(root).withColumn(
        "f", F.input_file_name()
    )
    homes = {r["key"]: r["f"] for r in whole.collect()}
    misses = 0
    for key, home in list(homes.items())[:50]:
        paths, _ = skipping.bloom_select_files(spark, root, "key", int(key))
        assert home in paths
        misses += len(paths)
    assert misses < 50 * 8  # and it's an index, not a full-scan alias

    absent, fr0, _ = skipping.point_read(spark, root, "key", 999999937)
    assert absent.count() == 0


def test_filestats_vacuum_drops_only_dead_entries(spark, tmp_path):
    """`vacuum_manifest` must drop exactly the manifest rows whose data
    files are gone, keep live rows verbatim, no-op (0, no swap) when
    everything is live, and leave selection working afterwards."""
    import datetime
    import os

    from twitter_flink_spark.operators import skipping

    root = str(tmp_path / "tbl")
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (base + datetime.timedelta(hours=h), float(h)) for h in range(64)
    ]
    spark.createDataFrame(
        rows, "ts timestamp, value double"
    ).repartitionByRange(4, "ts").sortWithinPartitions("ts").write.mode(
        "overwrite"
    ).parquet(root)
    skipping.build(spark, root, ["ts"])
    assert skipping.vacuum_manifest(spark, root) == 0  # all live: no-op

    # a compactor deletes one physical file out from under the manifest
    victim = sorted(
        f for f in os.listdir(root) if f.endswith(".parquet")
    )[0]
    os.remove(os.path.join(root, victim))
    assert skipping.vacuum_manifest(spark, root) == 1
    manifest = spark.read.parquet(os.path.join(root, skipping.STATS_DIR))
    assert manifest.count() == 3
    assert not any(victim in r["file"] for r in manifest.collect())
    assert skipping.vacuum_manifest(spark, root) == 0  # idempotent

    lo = base + datetime.timedelta(hours=40)
    hi = base + datetime.timedelta(hours=50)
    df, fr, ft = skipping.read_between(spark, root, "ts", lo, hi)
    assert ft == 3 and 1 <= fr < ft
    assert df.count() > 0


def test_filebloom_incremental_update(spark, tmp_path):
    """`update_bloom` must hash only manifest-absent files with the
    manifest's own m/k, keep old rows verbatim, no-op when nothing is
    new — and a key that only exists in the appended files must be
    UNSERVABLE before the update (no candidate files: the staleness
    failure) and exactly servable after."""
    from pyspark.sql import functions as F

    from twitter_flink_spark.operators import skipping

    root = str(tmp_path / "tbl")
    spark.range(0, 200).select(F.col("id").alias("key")).repartition(
        4
    ).write.mode("overwrite").parquet(root)
    skipping.build_bloom(spark, root, "key", m=1 << 13, k=3)
    before = {
        r["file"]
        for r in spark.read.parquet(
            skipping._bloom_dir(root, "key")
        ).collect()
    }
    assert len(before) == 4

    spark.range(200, 400).select(F.col("id").alias("key")).repartition(
        4
    ).write.mode("append").parquet(root)
    # stale manifest: an era-2 key has NO candidate file (false negative)
    paths, total = skipping.bloom_select_files(spark, root, "key", 321)
    assert total == 4 and paths == []

    assert skipping.update_bloom(spark, root, "key") == 4
    manifest = spark.read.parquet(skipping._bloom_dir(root, "key"))
    assert manifest.count() == 8
    assert before <= {r["file"] for r in manifest.collect()}
    assert manifest.select("m").distinct().count() == 1  # m/k consistent
    assert skipping.update_bloom(spark, root, "key") == 0  # no-op

    hit, fr, ft = skipping.point_read(spark, root, "key", 321)
    assert ft == 8 and 1 <= fr < ft
    assert [r["key"] for r in hit.collect()] == [321]


def test_metadata_count_exact_and_null_aware(spark, tmp_path):
    """`count_between` must equal the full-scan count while scanning only
    boundary files; a contained file's null rows subtract from metadata
    (never scanned, never counted); a null-envelope file routes to the
    scan side; a range covering everything scans zero files."""
    import datetime

    from twitter_flink_spark.operators import skipping

    root = str(tmp_path / "tbl")
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (base + datetime.timedelta(hours=h), float(h)) for h in range(96)
    ]
    spark.createDataFrame(
        rows, "ts timestamp, value double"
    ).repartitionByRange(4, "ts").sortWithinPartitions("ts").write.mode(
        "overwrite"
    ).parquet(root)
    skipping.build(spark, root, ["ts"])

    lo = base + datetime.timedelta(hours=12)
    hi = base + datetime.timedelta(hours=60)
    whole = spark.read.parquet(root)
    expected = whole.where((whole.ts >= lo) & (whole.ts < hi)).count()
    cnt, scanned, total = skipping.count_between(spark, root, "ts", lo, hi)
    assert cnt == expected == 48
    assert total == 4
    assert scanned == 2  # 1 contained (24..48), 2 boundary, 1 pruned

    # full-range count: every file contained, ZERO scanned
    cnt2, scanned2, _ = skipping.count_between(
        spark, root, "ts", base, base + datetime.timedelta(days=30)
    )
    assert cnt2 == 96 and scanned2 == 0

    # a file with nulls inside an otherwise-contained envelope: the null
    # rows are PROVABLY non-matching -> subtracted, still not scanned
    mixed = spark.createDataFrame(
        [(base + datetime.timedelta(hours=h), -1.0) for h in (30, 31)]
        + [(None, -2.0)],
        "ts timestamp, value double",
    )
    mixed.coalesce(1).write.mode("append").parquet(root)
    skipping.update(spark, root, ["ts"])
    cnt3, scanned3, total3 = skipping.count_between(
        spark, root, "ts", base, base + datetime.timedelta(days=30)
    )
    assert total3 == 5
    assert cnt3 == 98  # 96 + 2 non-null appended rows, null excluded
    assert scanned3 == 0  # metadata alone still answered

    # all-null envelope file: unknown -> must be scanned
    spark.createDataFrame(
        [(None, -3.0)], "ts timestamp, value double"
    ).coalesce(1).write.mode("append").parquet(root)
    skipping.update(spark, root, ["ts"])
    cnt4, scanned4, total4 = skipping.count_between(
        spark, root, "ts", base, base + datetime.timedelta(days=30)
    )
    assert total4 == 6 and cnt4 == 98 and scanned4 == 1


def test_metadata_minmax_exact_and_boundary_only(spark, tmp_path):
    """`minmax_between` must equal the full-scan extrema while scanning
    only boundary files; a fully-covering range answers from metadata
    alone; an empty range returns (None, None)."""
    import datetime

    from twitter_flink_spark.operators import skipping

    root = str(tmp_path / "tbl")
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (base + datetime.timedelta(hours=h), float(h)) for h in range(96)
    ]
    spark.createDataFrame(
        rows, "ts timestamp, value double"
    ).repartitionByRange(4, "ts").sortWithinPartitions("ts").write.mode(
        "overwrite"
    ).parquet(root)
    skipping.build(spark, root, ["ts"])

    lo = base + datetime.timedelta(hours=12)
    hi = base + datetime.timedelta(hours=60)
    mn, mx, scanned, total = skipping.minmax_between(spark, root, "ts", lo, hi)
    assert mn == lo  # hour 12 exists
    assert mx == base + datetime.timedelta(hours=59)  # hi exclusive
    assert total == 4 and scanned == 2  # boundary files only

    mn2, mx2, scanned2, _ = skipping.minmax_between(
        spark, root, "ts", base, base + datetime.timedelta(days=30)
    )
    assert (mn2, mx2) == (base, base + datetime.timedelta(hours=95))
    assert scanned2 == 0  # metadata alone

    mn3, mx3, _, _ = skipping.minmax_between(
        spark,
        root,
        "ts",
        base + datetime.timedelta(days=40),
        base + datetime.timedelta(days=41),
    )
    assert (mn3, mx3) == (None, None)


def test_two_level_manifest_prunes_shards(spark, tmp_path):
    """Two-level selection must read a strict subset of manifest shards
    AND stay lossless when a file STRADDLES range buckets (its max far
    beyond its bucket's nominal range): the parent envelope is the union
    of child envelopes, so the straddler's shard is selected for ranges
    its bucket's nominal bounds would miss. files_total must come from
    the parent (no flat-manifest scan); a non-intersecting range reads
    zero shards."""
    import datetime

    from twitter_flink_spark.operators import skipping

    root = str(tmp_path / "tbl")
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (base + datetime.timedelta(hours=h), float(h)) for h in range(96)
    ]
    spark.createDataFrame(
        rows, "ts timestamp, value double"
    ).repartitionByRange(8, "ts").sortWithinPartitions("ts").write.mode(
        "overwrite"
    ).parquet(root)
    # straddler: min in the FIRST bucket, max beyond the last hour
    spark.createDataFrame(
        [
            (base + datetime.timedelta(hours=1), -1.0),
            (base + datetime.timedelta(hours=200), -2.0),
        ],
        "ts timestamp, value double",
    ).coalesce(1).write.mode("append").parquet(root)
    skipping.build_two_level(spark, root, "ts", n_parts=4)

    lo = base + datetime.timedelta(hours=30)
    hi = base + datetime.timedelta(hours=40)
    df, fr, ft, pr, pt = skipping.read_between_two_level(
        spark, root, "ts", lo, hi
    )
    assert ft == 9 and pt == 4
    assert 0 < pr < pt  # manifest shards pruned
    assert 0 < fr < ft  # data files pruned
    whole = spark.read.parquet(root)
    exp = whole.where((whole.ts >= lo) & (whole.ts < hi))
    assert sorted(r.value for r in df.collect()) == sorted(
        r.value for r in exp.collect()
    )

    # a range ONLY the straddler's max reaches: bucket nominal bounds
    # would miss it; union envelopes must select its shard + file
    lo2 = base + datetime.timedelta(hours=150)
    hi2 = base + datetime.timedelta(hours=250)
    df2, fr2, _, pr2, _ = skipping.read_between_two_level(
        spark, root, "ts", lo2, hi2
    )
    assert fr2 == 1 and pr2 >= 1
    assert [r.value for r in df2.collect()] == [-2.0]

    # nothing intersects: zero shards, zero files, empty same-schema frame
    lo3 = base + datetime.timedelta(days=30)
    hi3 = base + datetime.timedelta(days=31)
    df3, fr3, ft3, pr3, _ = skipping.read_between_two_level(
        spark, root, "ts", lo3, hi3
    )
    assert fr3 == 0 and pr3 == 0 and ft3 == 9
    assert df3.count() == 0


def test_two_level_metadata_count_exact(spark, tmp_path):
    """`count_between_two_level` must equal the full count while reading
    only boundary files from only the selected shards; a covering range
    answers with zero scans."""
    import datetime

    from twitter_flink_spark.operators import skipping

    root = str(tmp_path / "tbl")
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (base + datetime.timedelta(hours=h), float(h)) for h in range(96)
    ]
    spark.createDataFrame(
        rows, "ts timestamp, value double"
    ).repartitionByRange(8, "ts").sortWithinPartitions("ts").write.mode(
        "overwrite"
    ).parquet(root)
    skipping.build_two_level(spark, root, "ts", n_parts=4)

    lo = base + datetime.timedelta(hours=18)
    hi = base + datetime.timedelta(hours=66)
    whole = spark.read.parquet(root)
    expected = whole.where((whole.ts >= lo) & (whole.ts < hi)).count()
    cnt, scanned, ft, pr, pt = skipping.count_between_two_level(
        spark, root, "ts", lo, hi
    )
    assert cnt == expected == 48
    assert ft == 8 and pt == 4
    assert 0 < pr < pt  # shards pruned
    assert 0 < scanned < 5  # boundary files only (interior answered meta)

    cnt2, scanned2, _, _, _ = skipping.count_between_two_level(
        spark, root, "ts", base, base + datetime.timedelta(days=30)
    )
    assert cnt2 == 96 and scanned2 == 0

    cnt3, scanned3, _, pr3, _ = skipping.count_between_two_level(
        spark, root, "ts",
        base + datetime.timedelta(days=40),
        base + datetime.timedelta(days=41),
    )
    assert cnt3 == 0 and scanned3 == 0 and pr3 == 0


def test_two_level_update_crash_between_renames_recovers(
    spark, tmp_path, monkeypatch
):
    """Crash `update_two_level` at the first and at the last rename of
    its parent commit (the shard rows are a Spark append; the parent
    swap is the commit point), then re-run it: the parent and the
    shards read exactly what an uninterrupted update leaves, and
    selection serves the new era."""
    import datetime

    import pytest
    from crash import CrashAfter

    from twitter_flink_spark import commit
    from twitter_flink_spark.operators import skipping

    base = datetime.datetime(2024, 1, 1)

    def era(lo: int, hi: int, n_files: int):
        return spark.createDataFrame(
            [
                (base + datetime.timedelta(hours=h), float(h))
                for h in range(lo, hi)
            ],
            "ts timestamp, value double",
        ).repartitionByRange(n_files, "ts")

    def fresh(name: str) -> str:
        root = str(tmp_path / name)
        era(0, 96, 4).write.parquet(root)
        skipping.build_two_level(spark, root, "ts", n_parts=4)
        era(200, 248, 2).write.mode("append").parquet(root)
        return root

    def state(root: str):
        """Parent and shard rows; file names are per-write unique, so
        the shards compare without them."""
        def rows(p):
            df = spark.read.parquet(p)
            return sorted(tuple(r) for r in df.drop("file").collect())

        parts, parent = skipping.two_level_columns(root)["ts"]
        return rows(parent), rows(parts)

    clean = fresh("clean")
    counting = CrashAfter(1 << 30)
    monkeypatch.setattr(commit, "os", counting)
    assert skipping.update_two_level(spark, clean, "ts") == 2
    monkeypatch.setattr(commit, "os", os)
    want = state(clean)
    n_all = len(counting.moved)
    assert n_all > 1

    for k in (0, n_all - 1):
        root = fresh(f"crash-{k}")
        monkeypatch.setattr(commit, "os", CrashAfter(k))
        with pytest.raises((OSError, RuntimeError)):
            skipping.update_two_level(spark, root, "ts")
        monkeypatch.setattr(commit, "os", os)
        # the shard rows landed before the crash: the re-run finds no
        # new file and repairs the parent from the shards
        assert skipping.update_two_level(spark, root, "ts") == 0
        assert state(root) == want, k
        assert skipping.update_two_level(spark, root, "ts") == 0


def test_two_level_vacuum_crash_inside_shard_rewrite_recovers(
    spark, tmp_path, monkeypatch
):
    """Crash `vacuum_two_level` inside its first shard rewrite, between
    moving the Spark-written ``part=<p>`` dir aside and the pointer
    rename: the shard dir is missing while the parent still lists it.
    A re-run puts the aside back before it lists the shards and leaves
    the parent, the shards and the selection of an uninterrupted
    vacuum."""
    import datetime

    import pytest
    from crash import CrashAfter

    from twitter_flink_spark import commit
    from twitter_flink_spark.operators import skipping

    base = datetime.datetime(2024, 1, 1)
    lo = base + datetime.timedelta(hours=10)
    hi = base + datetime.timedelta(hours=90)

    def fresh(name: str) -> str:
        root = str(tmp_path / name)
        spark.createDataFrame(
            [
                (base + datetime.timedelta(hours=h), float(h))
                for h in range(96)
            ],
            "ts timestamp, value double",
        ).repartitionByRange(8, "ts").write.parquet(root)
        skipping.build_two_level(spark, root, "ts", n_parts=4)
        files = sorted(f for f in os.listdir(root) if f.endswith(".parquet"))
        for f in (files[0], files[-1]):  # the first and the last shard
            os.remove(os.path.join(root, f))
        return root

    def state(root: str):
        parts, parent = skipping.two_level_columns(root)["ts"]
        df, fr, ft, pr, pt = skipping.read_between_two_level(
            spark, root, "ts", lo, hi
        )
        return (
            sorted(tuple(r) for r in spark.read.parquet(parent).collect()),
            sorted(
                tuple(r)
                for r in spark.read.parquet(parts).drop("file").collect()
            ),
            (df.count(), fr, ft, pr, pt),
        )

    clean = fresh("clean")
    assert skipping.vacuum_two_level(spark, clean, "ts") == 2
    want = state(clean)

    root = fresh("crash")
    parts = skipping.two_level_columns(root)["ts"][0]
    # renames of the first shard swap: staged dir -> generation, the
    # real dir -> its aside, then the pointer; crash at the pointer
    monkeypatch.setattr(commit, "os", CrashAfter(2))
    with pytest.raises(OSError, match="injected crash"):
        skipping.vacuum_two_level(spark, root, "ts")
    monkeypatch.setattr(commit, "os", os)
    assert not os.path.isdir(os.path.join(parts, "part=0"))
    skipping.vacuum_two_level(spark, root, "ts")
    assert state(root) == want
    assert skipping.vacuum_two_level(spark, root, "ts") == 0


def test_swap_table_dir_crash_keeps_carried_manifests(
    spark, tmp_path, monkeypatch
):
    """Crash `commit.swap_table_dir` at each of its renames with a
    non-empty carry, then sweep the table's scratch: the table dir
    exists, holds the old or the new table, and every carried manifest
    reads its committed rows."""
    import pytest
    from crash import CrashAfter

    from twitter_flink_spark import commit

    def fresh(name: str) -> tuple[str, str]:
        dest, tmp = str(tmp_path / name), str(tmp_path / f"{name}.new")
        spark.range(10).write.parquet(dest)
        commit.commit_swap(spark.range(3), os.path.join(dest, "_idx"))
        spark.range(10, 20).write.parquet(tmp)
        return dest, tmp

    def state(dest: str):
        return (
            sorted(r["id"] for r in spark.read.parquet(dest).collect()),
            sorted(
                r["id"]
                for r in spark.read.parquet(
                    os.path.join(dest, "_idx")
                ).collect()
            ),
        )

    old, new = (list(range(10)), [0, 1, 2]), (list(range(10, 20)), [0, 1, 2])
    dest, tmp = fresh("clean")
    counting = CrashAfter(1 << 30)
    monkeypatch.setattr(commit, "os", counting)
    commit.swap_table_dir(tmp, dest, ["_idx"])
    monkeypatch.setattr(commit, "os", os)
    assert state(dest) == new
    n_all = len(counting.moved)
    assert n_all >= 2

    for k in range(n_all):
        dest, tmp = fresh(f"crash-{k}")
        monkeypatch.setattr(commit, "os", CrashAfter(k))
        with pytest.raises(OSError, match="injected crash"):
            commit.swap_table_dir(tmp, dest, ["_idx"])
        monkeypatch.setattr(commit, "os", os)
        commit.sweep_scratch(dest)
        assert state(dest) in (old, new), k


def test_two_level_incremental_update(spark, tmp_path):
    """`update_two_level` must stat only manifest-absent files, bucket
    them with the parent's STORED bounds (a file beyond the original
    span clamps into the edge bucket and extends its envelope), append
    rows into ONLY the touched shard dirs (untouched shards byte-
    identical), re-commit the parent so selection serves the new era,
    and no-op on a second call."""
    import datetime
    import os

    from twitter_flink_spark.operators import skipping

    root = str(tmp_path / "tbl")
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (base + datetime.timedelta(hours=h), float(h)) for h in range(96)
    ]
    spark.createDataFrame(
        rows, "ts timestamp, value double"
    ).repartitionByRange(8, "ts").sortWithinPartitions("ts").write.mode(
        "overwrite"
    ).parquet(root)
    skipping.build_two_level(spark, root, "ts", n_parts=4)
    parts = skipping.two_level_columns(root)["ts"][0]
    shard_files_before = {
        p: set(spark.read.parquet(os.path.join(parts, p)).inputFiles())
        for p in os.listdir(parts)
        if p.startswith("part=")
    }

    # era 2: 2 files, both far beyond the original time span
    spark.createDataFrame(
        [
            (base + datetime.timedelta(hours=h), float(h))
            for h in range(200, 248)
        ],
        "ts timestamp, value double",
    ).repartitionByRange(2, "ts").write.mode("append").parquet(root)

    assert skipping.update_two_level(spark, root, "ts") == 2
    assert skipping.update_two_level(spark, root, "ts") == 0  # no-op

    # only the edge shard gained rows; all other shard dirs untouched
    changed = []
    for p, before in shard_files_before.items():
        now = set(spark.read.parquet(os.path.join(parts, p)).inputFiles())
        if now != before:
            changed.append(p)
    assert changed == ["part=3"]

    parent = spark.read.parquet(
        skipping.two_level_columns(root)["ts"][1]
    ).collect()
    assert sum(r["n_files"] for r in parent) == 10
    edge = next(r for r in parent if r["part"] == 3)
    assert edge["part_max"] == base + datetime.timedelta(hours=247)

    # selection serves the appended era through the extended envelope
    lo = base + datetime.timedelta(hours=210)
    hi = base + datetime.timedelta(hours=220)
    df, fr, ft, pr, pt = skipping.read_between_two_level(
        spark, root, "ts", lo, hi
    )
    assert ft == 10 and 0 < fr < ft and 0 < pr < pt
    assert df.count() == 10


def test_norm_path_agrees_with_sql_on_authority_uris(spark):
    """Reconciliation joins normalize the Python side with `norm_path`
    and the SQL side with `_norm_sql`; the two MUST agree on every URI
    shape — authority-bearing (s3a/hdfs/abfs), file:/ vs file:///, and
    bare paths — or vacuum silently drops live manifest rows wholesale
    (the failure mode: urlparse dropped the authority while the SQL
    regex kept it, so on s3a NOTHING matched)."""
    from pyspark.sql import functions as F

    from twitter_flink_spark.operators.skipping import _norm_sql, norm_path

    uris = [
        "s3a://bucket/warehouse/part-0.parquet",
        "hdfs://namenode:8020/tbl/part-1.parquet",
        "abfss://fs@acct.dfs.core.windows.net/tbl/part-2.parquet",
        "file:///root/tbl/part-3.parquet",
        "file:/root/tbl/part-3.parquet",
        "/root/tbl/part-3.parquet",
    ]
    sql_side = [
        r["n"]
        for r in spark.createDataFrame([(u,) for u in uris], "file string")
        .select(_norm_sql("file").alias("n"))
        .collect()
    ]
    assert sql_side == [norm_path(u) for u in uris]
    # authority is KEPT (two buckets' same-keyed files must not collide)
    assert norm_path("s3a://bucket-a/k.parquet") != norm_path(
        "s3a://bucket-b/k.parquet"
    )
    # the file:/ vs file:/// renderings of one local path agree
    assert norm_path(uris[3]) == norm_path(uris[4]) == uris[5]


def test_keep_live_reconciles_authority_uris(spark):
    """`_keep_live` (the semi-join under both flat vacuums) on an
    authority-bearing filesystem: live rows kept verbatim, dead rows
    counted — the exact case the urlparse-vs-regex mismatch broke."""
    from twitter_flink_spark.operators.skipping import _keep_live

    manifest = spark.createDataFrame(
        [
            ("s3a://bucket/tbl/a.parquet", 10),
            ("s3a://bucket/tbl/b.parquet", 20),
            ("s3a://bucket/tbl/c.parquet", 30),
        ],
        "file string, rows int",
    )
    keep, dropped = _keep_live(
        spark,
        manifest,
        ["s3a://bucket/tbl/a.parquet", "s3a://bucket/tbl/c.parquet"],
    )
    assert dropped == 1
    assert sorted(r["rows"] for r in keep.collect()) == [10, 30]


def test_bloom_vacuum_drops_only_dead_entries(spark, tmp_path):
    """`vacuum_bloom` must drop exactly the Bloom rows whose data files
    are gone, keep live rows verbatim, no-op when everything is live,
    and leave point reads exact afterwards."""
    import os

    from pyspark.sql import functions as F

    from twitter_flink_spark.operators import skipping

    root = str(tmp_path / "tbl")
    spark.range(0, 400).select(F.col("id").alias("key")).repartition(
        4
    ).write.mode("overwrite").parquet(root)
    skipping.build_bloom(spark, root, "key", m=1 << 13, k=3)
    assert skipping.vacuum_bloom(spark, root, "key") == 0  # all live

    victim = sorted(
        f for f in os.listdir(root) if f.endswith(".parquet")
    )[0]
    os.remove(os.path.join(root, victim))
    assert skipping.vacuum_bloom(spark, root, "key") == 1
    manifest = spark.read.parquet(skipping._bloom_dir(root, "key"))
    assert manifest.count() == 3
    assert not any(victim in r["file"] for r in manifest.collect())
    assert skipping.vacuum_bloom(spark, root, "key") == 0  # idempotent

    # a surviving key still resolves exactly through the vacuumed index
    key = int(spark.read.parquet(root).agg(F.max("key")).first()[0])
    hit, fr, ft = skipping.point_read(spark, root, "key", key)
    assert ft == 3 and 1 <= fr < ft
    assert [r["key"] for r in hit.collect()] == [key]


def test_two_level_vacuum_rewrites_only_touched_shards(spark, tmp_path):
    """`vacuum_two_level` must drop exactly the dead shard rows, rewrite
    ONLY shards that contained them (untouched shard dirs byte-
    identical), recommit the parent (n_files == live files), no-op when
    all live, and keep selection lossless afterwards."""
    import datetime
    import os

    from twitter_flink_spark.operators import skipping

    root = str(tmp_path / "tbl")
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (base + datetime.timedelta(hours=h), float(h)) for h in range(96)
    ]
    spark.createDataFrame(
        rows, "ts timestamp, value double"
    ).repartitionByRange(8, "ts").sortWithinPartitions("ts").write.mode(
        "overwrite"
    ).parquet(root)
    skipping.build_two_level(spark, root, "ts", n_parts=4)
    assert skipping.vacuum_two_level(spark, root, "ts") == 0  # all live

    parts = skipping.two_level_columns(root)["ts"][0]
    shard_files_before = {
        p: set(spark.read.parquet(os.path.join(parts, p)).inputFiles())
        for p in os.listdir(parts)
        if p.startswith("part=")
    }
    # the earliest data file dies (it lives in the part=0 shard)
    manifest = spark.read.parquet(parts)
    victim = min(
        (r["file"] for r in manifest.collect()),
        key=lambda f: f,
    )
    victim_row = manifest.where(
        skipping._norm_sql("file")
        == skipping.norm_path(victim)
    ).first()
    victim_part = victim_row["part"]
    os.remove(skipping.norm_path(victim))

    assert skipping.vacuum_two_level(spark, root, "ts") == 1
    assert skipping.vacuum_two_level(spark, root, "ts") == 0  # idempotent

    for p, before in shard_files_before.items():
        now = set(spark.read.parquet(os.path.join(parts, p)).inputFiles())
        if p == f"part={victim_part}":
            assert now != before  # rewritten
        else:
            assert now == before  # byte-identical

    parent = spark.read.parquet(
        skipping.two_level_columns(root)["ts"][1]
    ).collect()
    live = len(spark.read.parquet(root).inputFiles())
    assert sum(r["n_files"] for r in parent) == live == 7

    lo = base + datetime.timedelta(hours=40)
    hi = base + datetime.timedelta(hours=60)
    df, fr, ft, pr, pt = skipping.read_between_two_level(
        spark, root, "ts", lo, hi
    )
    whole = spark.read.parquet(root)
    assert ft == 7 and 0 < fr < ft and 0 < pr <= pt
    assert (
        df.count()
        == whole.where((whole.ts >= lo) & (whole.ts < hi)).count()
    )


def test_two_level_vacuum_fully_dead_shard(spark, tmp_path):
    """A shard ALL of whose files died rewrites to an empty schema-
    bearing dir: its parent row vanishes, selection never opens it, and
    partition discovery over the parts dir keeps working."""
    import datetime
    import os

    from twitter_flink_spark.operators import skipping

    root = str(tmp_path / "tbl")
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (base + datetime.timedelta(hours=h), float(h)) for h in range(96)
    ]
    spark.createDataFrame(
        rows, "ts timestamp, value double"
    ).repartitionByRange(8, "ts").sortWithinPartitions("ts").write.mode(
        "overwrite"
    ).parquet(root)
    skipping.build_two_level(spark, root, "ts", n_parts=4)

    parts = skipping.two_level_columns(root)["ts"][0]
    shard0 = spark.read.parquet(os.path.join(parts, "part=0"))
    dead = [skipping.norm_path(r["file"]) for r in shard0.collect()]
    n_dead = len(dead)
    assert n_dead >= 2
    for f in dead:
        os.remove(f)

    assert skipping.vacuum_two_level(spark, root, "ts") == n_dead
    parent = spark.read.parquet(
        skipping.two_level_columns(root)["ts"][1]
    ).collect()
    assert all(r["part"] != 0 for r in parent)
    assert sum(r["n_files"] for r in parent) == len(
        spark.read.parquet(root).inputFiles()
    )

    # the range the dead shard covered now selects zero of its files
    # and the rest of the table still serves exactly
    lo = base + datetime.timedelta(hours=50)
    hi = base + datetime.timedelta(hours=70)
    df, fr, ft, pr, pt = skipping.read_between_two_level(
        spark, root, "ts", lo, hi
    )
    whole = spark.read.parquet(root)
    assert (
        df.count()
        == whole.where((whole.ts >= lo) & (whole.ts < hi)).count()
        > 0
    )


def test_update_two_level_repairs_crashed_parent(spark, tmp_path):
    """Crash-safety repair: a run that crashed BETWEEN its shard append
    and its parent recommit leaves shard rows the parent never covers —
    and since recovery derives `known` from the shards, a later update
    that finds no new files would fast-path out and the crashed files'
    rows would be unservable FOREVER. `update_two_level` must detect
    the shards/parent disagreement on that fast path and recommit the
    parent."""
    import datetime
    import os

    from twitter_flink_spark.operators import skipping
    from pyspark.sql import functions as F

    root = str(tmp_path / "tbl")
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (base + datetime.timedelta(hours=h), float(h)) for h in range(96)
    ]
    spark.createDataFrame(
        rows, "ts timestamp, value double"
    ).repartitionByRange(8, "ts").sortWithinPartitions("ts").write.mode(
        "overwrite"
    ).parquet(root)
    skipping.build_two_level(spark, root, "ts", n_parts=4)

    # era 2 appends...
    spark.createDataFrame(
        [
            (base + datetime.timedelta(hours=h), float(h))
            for h in range(200, 248)
        ],
        "ts timestamp, value double",
    ).repartitionByRange(2, "ts").write.mode("append").parquet(root)

    # ...and the updating run CRASHES after the shard append, before the
    # parent swap: replay exactly the pre-commit half of update_two_level
    parent_path = skipping.two_level_columns(root)["ts"][1]
    parts_path = skipping.two_level_columns(root)["ts"][0]
    meta = spark.read.parquet(parent_path).select(
        "bucket_lo", "bucket_hi", "n_parts"
    ).first()
    known = {
        skipping.norm_path(r["file"])
        for r in spark.read.parquet(parts_path).select("file").collect()
    }
    new = [
        f
        for f in spark.read.parquet(root).inputFiles()
        if skipping.norm_path(f) not in known
    ]
    assert len(new) == 2
    fresh = skipping._file_stats(spark.read.parquet(*new), ["ts"]).withColumn(
        "part",
        skipping._bucket_expr(
            "ts", True, meta["bucket_lo"], meta["bucket_hi"], meta["n_parts"]
        ),
    )
    fresh.write.mode("append").partitionBy("part").parquet(parts_path)
    # crashed state: the era-2 slice is invisible (parent never re-committed)
    lo = base + datetime.timedelta(hours=210)
    hi = base + datetime.timedelta(hours=220)
    df0, fr0, _, _, _ = skipping.read_between_two_level(
        spark, root, "ts", lo, hi
    )
    assert df0.count() == 0 and fr0 == 0

    # the repair: no new files, but shards/parent disagree -> recommit
    assert skipping.update_two_level(spark, root, "ts") == 0
    parent = spark.read.parquet(parent_path).collect()
    assert sum(r["n_files"] for r in parent) == 10
    df1, fr1, ft1, _, _ = skipping.read_between_two_level(
        spark, root, "ts", lo, hi
    )
    assert ft1 == 10 and fr1 > 0 and df1.count() == 10
    assert skipping.update_two_level(spark, root, "ts") == 0  # stable


def test_bloom_two_level_point_read_one_shard(spark, tmp_path):
    """The sharded Bloom index must answer a point read from exactly ONE
    shard dir (key-hash routing — 1/n_shards of the manifest bytes),
    prune data files, and stay exact; a key absent from the corpus must
    return no rows (false positives die in the residual)."""
    from pyspark.sql import functions as F

    from twitter_flink_spark.operators import skipping

    root = str(tmp_path / "tbl")
    # scattered layout: every file's key range spans the domain, so
    # envelopes are useless and only the hash index can prune
    spark.range(0, 4000).select(
        F.col("id").alias("key"), (F.col("id") * 2).alias("payload")
    ).repartition(8).write.mode("overwrite").parquet(root)
    parts, parent = skipping.build_bloom_two_level(
        spark, root, "key", m=1 << 13, k=3, n_shards=8
    )
    import os

    shard_dirs = [d for d in os.listdir(parts) if d.startswith("shard=")]
    # 8 probeable key-hash shards + the shard=-1 coverage dir (one row
    # per listed file so zero-row files stay in the known set)
    assert sorted(shard_dirs) == ["shard=-1"] + [
        f"shard={i}" for i in range(8)
    ]

    for key in (0, 1234, 3999):
        df, fr, ft, sr, st = skipping.point_read_two_level(
            spark, root, "key", key
        )
        assert ft == 8 and sr == 1 and st == 8
        assert 1 <= fr < ft  # hash pruning bites on a scattered layout
        assert [(r["key"], r["payload"]) for r in df.collect()] == [
            (key, key * 2)
        ]

    miss, fr, _, sr, _ = skipping.point_read_two_level(
        spark, root, "key", 999_999
    )
    assert miss.count() == 0 and sr <= 1


def test_bloom_two_level_incremental_update_and_vacuum(spark, tmp_path):
    """`update_bloom_two_level` must hash only manifest-absent files
    with the parent's own m/k/n_shards (stale manifest = no candidates
    for an era-2 key; exact after), append into only touched shard
    dirs, and no-op on a second call; `vacuum_bloom_two_level` must
    drop exactly the dead file's rows and keep point reads exact."""
    import os

    from pyspark.sql import functions as F

    from twitter_flink_spark.operators import skipping

    root = str(tmp_path / "tbl")
    spark.range(0, 2000).select(F.col("id").alias("key")).repartition(
        4
    ).write.mode("overwrite").parquet(root)
    skipping.build_bloom_two_level(
        spark, root, "key", m=1 << 13, k=3, n_shards=4
    )

    spark.range(2000, 4000).select(F.col("id").alias("key")).repartition(
        4
    ).write.mode("append").parquet(root)
    # stale: era-2 key has no candidate (never a wrong row)
    paths, total, sr, st = skipping.bloom2_select_files(
        spark, root, "key", 3210
    )
    assert paths == [] and total == 4

    assert skipping.update_bloom_two_level(spark, root, "key") == 4
    assert skipping.update_bloom_two_level(spark, root, "key") == 0
    hit, fr, ft, sr, st = skipping.point_read_two_level(
        spark, root, "key", 3210
    )
    assert ft == 8 and 1 <= fr < ft and sr == 1
    assert [r["key"] for r in hit.collect()] == [3210]

    # a compactor deletes one data file; its rows reconcile away
    victim = sorted(
        f for f in os.listdir(root) if f.endswith(".parquet")
    )[0]
    victim_rows = (
        spark.read.parquet(skipping._bloom2_parts_dir(root, "key"))
        .where(skipping._norm_sql("file").contains(victim))
        .count()
    )
    os.remove(os.path.join(root, victim))
    assert victim_rows >= 1
    assert (
        skipping.vacuum_bloom_two_level(spark, root, "key") == victim_rows
    )
    assert skipping.vacuum_bloom_two_level(spark, root, "key") == 0
    parent = spark.read.parquet(
        skipping._bloom2_root_dir(root, "key")
    ).first()
    assert parent["total_files"] == 7

    key = int(spark.read.parquet(root).agg(F.max("key")).first()[0])
    hit2, fr2, ft2, _, _ = skipping.point_read_two_level(
        spark, root, "key", key
    )
    assert ft2 == 7 and [r["key"] for r in hit2.collect()] == [key]


def test_flat_index_auto_cutover_to_two_level(spark, tmp_path, monkeypatch):
    """A flat index grown past the file-count threshold must upgrade to
    the two-level manifest on `update` (and `build` above threshold must
    go two-level directly), after which the SAME flat entry points
    (`read_between`, `count_between`) consult the shards — no caller
    inherits the O(files) flat driver consult at scale."""
    import datetime
    import os

    from twitter_flink_spark.operators import skipping

    monkeypatch.setattr(skipping, "AUTO_TWO_LEVEL_FILES", 4)

    root = str(tmp_path / "tbl")
    base = datetime.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(base + datetime.timedelta(hours=h), float(h)) for h in range(24)],
        "ts timestamp, value double",
    ).repartitionByRange(2, "ts").sortWithinPartitions("ts").write.mode(
        "overwrite"
    ).parquet(root)
    skipping.build(spark, root, ["ts"])
    assert os.path.isdir(os.path.join(root, skipping.STATS_DIR))  # flat

    # growth: 6 more files pushes past the threshold; update upgrades
    spark.createDataFrame(
        [
            (base + datetime.timedelta(hours=h), float(h))
            for h in range(24, 96)
        ],
        "ts timestamp, value double",
    ).repartitionByRange(6, "ts").sortWithinPartitions("ts").write.mode(
        "append"
    ).parquet(root)
    assert skipping.update(spark, root, ["ts"]) == 6
    assert not os.path.isdir(os.path.join(root, skipping.STATS_DIR))
    assert os.path.isdir(skipping.two_level_columns(root)["ts"][1])
    assert skipping.stale_file_count(spark, root) == 0

    # the flat entry points now consult the shards transparently
    lo = base + datetime.timedelta(hours=40)
    hi = base + datetime.timedelta(hours=60)
    df, fr, ft = skipping.read_between(spark, root, "ts", lo, hi)
    whole = spark.read.parquet(root)
    exp = whole.where((whole.ts >= lo) & (whole.ts < hi)).count()
    assert ft == 8 and 0 < fr < ft and df.count() == exp == 20
    cnt, scanned, ft2 = skipping.count_between(spark, root, "ts", lo, hi)
    assert cnt == exp and ft2 == 8 and scanned < ft2

    # further appends maintain the TWO-LEVEL manifest through update()
    spark.createDataFrame(
        [
            (base + datetime.timedelta(hours=h), float(h))
            for h in range(200, 224)
        ],
        "ts timestamp, value double",
    ).repartitionByRange(2, "ts").write.mode("append").parquet(root)
    assert skipping.stale_file_count(spark, root) == 2
    assert skipping.update(spark, root, ["ts"]) == 2
    assert skipping.stale_file_count(spark, root) == 0
    df2, fr2, ft3 = skipping.read_between(
        spark,
        root,
        "ts",
        base + datetime.timedelta(hours=205),
        base + datetime.timedelta(hours=215),
    )
    assert ft3 == 10 and df2.count() == 10

    # a big build goes two-level from the start
    root2 = str(tmp_path / "tbl2")
    spark.createDataFrame(
        [(base + datetime.timedelta(hours=h), float(h)) for h in range(96)],
        "ts timestamp, value double",
    ).repartitionByRange(8, "ts").sortWithinPartitions("ts").write.mode(
        "overwrite"
    ).parquet(root2)
    skipping.build(spark, root2, ["ts"])
    assert not os.path.isdir(os.path.join(root2, skipping.STATS_DIR))
    assert os.path.isdir(skipping.two_level_columns(root2)["ts"][1])
    df3, fr3, ft4 = skipping.read_between(spark, root2, "ts", lo, hi)
    assert ft4 == 8 and 0 < fr3 < ft4 and df3.count() == 20


def test_binpack_write_spreads_hot_partition(spark, tmp_path):
    """`binpack_write` must produce EXACTLY ceil(rows/target) files per
    partition value, each at most target rows — and a HOT partition
    value's files must come from >= 2 distinct writer tasks (the
    skew-safety contract: repartition(part_col) would serialize the hot
    value through one task; bin packing spreads it across its bins)."""
    import os
    import re

    from pyspark.sql import functions as F

    from twitter_flink_spark.sources.files import binpack_write

    target = 100
    # hot: 950 rows of one value (10 bins), cold: 120 and 30
    df = (
        spark.range(0, 1100)
        .select(
            F.col("id").alias("event_id"),
            F.when(F.col("id") < 950, F.lit("hot"))
            .when(F.col("id") < 1070, F.lit("warm"))
            .otherwise(F.lit("cold"))
            .alias("event_type"),
        )
        .repartition(8)
    )
    src = str(tmp_path / "src")
    df.write.mode("overwrite").parquet(src)
    dest = str(tmp_path / "packed")
    binpack_write(
        spark,
        spark.read.parquet(src),
        "event_type",
        target,
        dest,
        order_col="event_id",
    )

    expected_files = {"hot": 10, "warm": 2, "cold": 1}
    expected_rows = {"hot": 950, "warm": 120, "cold": 30}
    for et, n_exp in expected_files.items():
        d = os.path.join(dest, f"event_type={et}")
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == n_exp, (et, files)
        # writer-task ids are the part-NNNNN prefix of each file name
        tasks = {re.match(r"part-(\d+)", f).group(1) for f in files}
        if et == "hot":
            assert len(tasks) >= 2, tasks  # skew spread across tasks
        per_file = (
            spark.read.parquet(d)
            .groupBy(F.input_file_name().alias("f"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        assert all(r["n"] <= target for r in per_file)
        assert sum(r["n"] for r in per_file) == expected_rows[et]

    # lossless: every row survives exactly once
    back = spark.read.parquet(dest)
    assert back.count() == 1100
    assert back.select("event_id").distinct().count() == 1100


def test_two_level_metadata_minmax_exact(spark, tmp_path):
    """`minmax_between_two_level` must equal the full-scan extrema while
    scanning only boundary files from only the selected shards; a
    covering range answers with zero scans; an empty range returns
    (None, None)."""
    import datetime

    from twitter_flink_spark.operators import skipping

    root = str(tmp_path / "tbl")
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (base + datetime.timedelta(hours=h), float(h)) for h in range(96)
    ]
    spark.createDataFrame(
        rows, "ts timestamp, value double"
    ).repartitionByRange(8, "ts").sortWithinPartitions("ts").write.mode(
        "overwrite"
    ).parquet(root)
    skipping.build_two_level(spark, root, "ts", n_parts=4)

    lo = base + datetime.timedelta(hours=18)
    hi = base + datetime.timedelta(hours=66)
    mn, mx, scanned, ft, pr, pt = skipping.minmax_between_two_level(
        spark, root, "ts", lo, hi
    )
    assert mn == base + datetime.timedelta(hours=18)
    assert mx == base + datetime.timedelta(hours=65)
    assert ft == 8 and 0 < pr < pt and 0 < scanned < 5

    mn2, mx2, scanned2, _, _, _ = skipping.minmax_between_two_level(
        spark, root, "ts", base, base + datetime.timedelta(days=30)
    )
    assert mn2 == base and scanned2 == 0
    assert mx2 == base + datetime.timedelta(hours=95)

    mn3, mx3, s3, _, pr3, _ = skipping.minmax_between_two_level(
        spark, root, "ts",
        base + datetime.timedelta(days=40),
        base + datetime.timedelta(days=41),
    )
    assert mn3 is None and mx3 is None and s3 == 0 and pr3 == 0


def test_bloom_auto_cutover_to_two_level(spark, tmp_path, monkeypatch):
    """A flat Bloom manifest grown past the file-count threshold must
    upgrade to the sharded form on `update_bloom` (and `build_bloom`
    above threshold goes sharded directly), after which the SAME flat
    entry points (`point_read`, `bloom_select_files`) probe one shard
    dir transparently."""
    import os

    from pyspark.sql import functions as F

    from twitter_flink_spark.operators import skipping

    monkeypatch.setattr(skipping, "AUTO_TWO_LEVEL_FILES", 4)

    root = str(tmp_path / "tbl")
    spark.range(0, 1000).select(F.col("id").alias("key")).repartition(
        2
    ).write.mode("overwrite").parquet(root)
    skipping.build_bloom(
        spark, root, "key", m=1 << 13, k=3
    )
    assert os.path.isdir(skipping._bloom_dir(root, "key"))  # flat

    spark.range(1000, 4000).select(F.col("id").alias("key")).repartition(
        6
    ).write.mode("append").parquet(root)
    assert (
        skipping.update_bloom(spark, root, "key")
        == 6
    )
    assert not os.path.isdir(skipping._bloom_dir(root, "key"))
    assert os.path.isdir(skipping._bloom2_root_dir(root, "key"))
    # the upgraded manifest carried the flat build's m/k
    parent = spark.read.parquet(
        skipping._bloom2_root_dir(root, "key")
    ).first()
    assert parent["m"] == 1 << 13 and parent["k"] == 3

    # the flat entry points now probe one shard transparently
    hit, fr, ft = skipping.point_read(spark, root, "key", 3210)
    assert ft == 8 and 1 <= fr < ft
    assert [r["key"] for r in hit.collect()] == [3210]
    # further appends maintain the SHARDED manifest through update_bloom
    spark.range(4000, 4500).select(F.col("id").alias("key")).repartition(
        2
    ).write.mode("append").parquet(root)
    assert skipping.update_bloom(spark, root, "key") == 2
    hit2, _, ft2 = skipping.point_read(spark, root, "key", 4321)
    assert ft2 == 10 and [r["key"] for r in hit2.collect()] == [4321]

    # a big build goes sharded from the start
    root2 = str(tmp_path / "tbl2")
    spark.range(0, 1000).select(F.col("id").alias("key")).repartition(
        8
    ).write.mode("overwrite").parquet(root2)
    skipping.build_bloom(
        spark, root2, "key", m=1 << 13, k=3
    )
    assert not os.path.isdir(skipping._bloom_dir(root2, "key"))
    hit3, fr3, ft3 = skipping.point_read(spark, root2, "key", 777)
    assert ft3 == 8 and 1 <= fr3 < ft3
    assert [r["key"] for r in hit3.collect()] == [777]


def test_vacuum_routes_through_cutover(spark, tmp_path, monkeypatch):
    """On tables that auto-cut over to two-level manifests, the FLAT
    vacuum entry points (`vacuum_manifest`, `vacuum_bloom`) must route
    to the sharded vacuums — maintenance callers keep one API across
    the cutover, and dead rows still reconcile away."""
    import datetime
    import os

    from pyspark.sql import functions as F

    from twitter_flink_spark.operators import skipping

    monkeypatch.setattr(skipping, "AUTO_TWO_LEVEL_FILES", 4)

    # envelope index, built two-level by threshold
    root = str(tmp_path / "tbl")
    base = datetime.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(base + datetime.timedelta(hours=h), float(h)) for h in range(96)],
        "ts timestamp, value double",
    ).repartitionByRange(8, "ts").sortWithinPartitions("ts").write.mode(
        "overwrite"
    ).parquet(root)
    skipping.build(spark, root, ["ts"])
    assert skipping.vacuum_manifest(spark, root) == 0  # routed no-op
    victim = sorted(
        f for f in os.listdir(root) if f.endswith(".parquet")
    )[0]
    os.remove(os.path.join(root, victim))
    assert skipping.vacuum_manifest(spark, root) == 1  # routed reconcile
    parent = spark.read.parquet(
        skipping.two_level_columns(root)["ts"][1]
    ).collect()
    assert sum(r["n_files"] for r in parent) == 7

    # Bloom index, built sharded by threshold
    root2 = str(tmp_path / "tbl2")
    spark.range(0, 1000).select(F.col("id").alias("key")).repartition(
        8
    ).write.mode("overwrite").parquet(root2)
    skipping.build_bloom(
        spark, root2, "key", m=1 << 13, k=3
    )
    assert skipping.vacuum_bloom(spark, root2, "key") == 0
    victim2 = sorted(
        f for f in os.listdir(root2) if f.endswith(".parquet")
    )[0]
    dead_rows = (
        spark.read.parquet(skipping._bloom2_parts_dir(root2, "key"))
        .where(skipping._norm_sql("file").contains(victim2))
        .count()
    )
    os.remove(os.path.join(root2, victim2))
    assert skipping.vacuum_bloom(spark, root2, "key") == dead_rows >= 1
    assert (
        spark.read.parquet(skipping._bloom2_root_dir(root2, "key"))
        .first()["total_files"]
        == 7
    )


def _drop_empty_parquet_file(table_dir: str, like_schema_path: str) -> str:
    """Plant a ZERO-ROW parquet part file inside ``table_dir`` with the
    table's schema (what a writer emits for an empty partition / an
    empty compaction bin)."""
    import pyarrow.parquet as pq

    schema = pq.read_schema(like_schema_path)
    dest = os.path.join(table_dir, "part-empty-0000.parquet")
    pq.write_table(schema.empty_table(), dest)
    return dest


def test_zero_row_file_coverage_stats_manifest(spark, tmp_path):
    """A zero-row data file never appears in an input_file_name() group,
    so without coverage rows `update` counts it as "new" forever. The
    manifest must cover it (one update, then pure no-ops), keep
    stale_file_count at 0, and keep range reads exact."""
    from pyspark.sql import functions as F

    from twitter_flink_spark.operators import skipping

    root = str(tmp_path / "tbl")
    spark.range(0, 400).select(
        F.col("id").alias("key"), (F.col("id") * 3).alias("v")
    ).repartition(4).write.mode("overwrite").parquet(root)
    skipping.build(spark, root, ["key"])
    a_file = sorted(
        f for f in os.listdir(root) if f.endswith(".parquet")
    )[0]
    _drop_empty_parquet_file(root, os.path.join(root, a_file))

    assert skipping.update(spark, root, ["key"]) == 1  # covered once
    assert skipping.update(spark, root, ["key"]) == 0  # pure no-op
    assert skipping.stale_file_count(spark, root) == 0
    manifest = spark.read.parquet(os.path.join(root, skipping.STATS_DIR))
    cover = manifest.where(F.col("rows") == 0).collect()
    assert len(cover) == 1
    assert cover[0]["min_key"] is None and cover[0]["max_key"] is None
    df, fr, ft = skipping.read_between(spark, root, "key", 10, 20)
    assert ft == 5 and df.count() == 10

    # a BUILD over a table already containing the empty file also covers
    skipping.build(spark, root, ["key"])
    assert skipping.update(spark, root, ["key"]) == 0


def test_zero_row_file_coverage_bloom_manifests(spark, tmp_path):
    """Flat and sharded Bloom manifests must cover zero-row files the
    same way: one update indexes the empty file (NULL word map — probes
    never select it), the next is a pure no-op, and total_files repair
    stabilizes."""
    from pyspark.sql import functions as F

    from twitter_flink_spark.operators import skipping

    # flat
    root = str(tmp_path / "flat")
    spark.range(0, 300).select(F.col("id").alias("key")).repartition(
        3
    ).write.mode("overwrite").parquet(root)
    skipping.build_bloom(spark, root, "key", m=1 << 13, k=3)
    first = sorted(f for f in os.listdir(root) if f.endswith(".parquet"))[0]
    _drop_empty_parquet_file(root, os.path.join(root, first))
    assert skipping.update_bloom(spark, root, "key") == 1
    assert skipping.update_bloom(spark, root, "key") == 0
    df, fr, ft = skipping.point_read(spark, root, "key", 42)
    assert ft == 4 and df.count() == 1 and fr < ft

    # sharded
    root2 = str(tmp_path / "sharded")
    spark.range(0, 1000).select(F.col("id").alias("key")).repartition(
        8
    ).write.mode("overwrite").parquet(root2)
    skipping.build_bloom_two_level(
        spark, root2, "key", m=1 << 13, k=3, n_shards=8
    )
    first2 = sorted(
        f for f in os.listdir(root2) if f.endswith(".parquet")
    )[0]
    _drop_empty_parquet_file(root2, os.path.join(root2, first2))
    assert skipping.update_bloom_two_level(spark, root2, "key") == 1
    assert skipping.update_bloom_two_level(spark, root2, "key") == 0
    parent = spark.read.parquet(skipping._bloom2_root_dir(root2, "key"))
    assert parent.first()["total_files"] == 9
    df, fr, ft, sr, st = skipping.point_read_two_level(
        spark, root2, "key", 123
    )
    assert ft == 9 and sr == 1 and st == 8 and df.count() == 1


def test_two_level_multipredicate_select(spark, tmp_path, monkeypatch):
    """On a cut-over (two-level) table, a multi-range conjunction must
    intersect per-predicate selections on the indexed column, keep
    candidacy for non-indexed columns (no stats — the residual decides),
    and raise descriptively when NO predicate touches the indexed
    column. A multi-column `update` on a cut-over table must raise, not
    crash on the deleted flat manifest."""
    import pytest
    from pyspark.sql import functions as F

    from twitter_flink_spark.operators import skipping

    monkeypatch.setattr(skipping, "AUTO_TWO_LEVEL_FILES", 4)

    root = str(tmp_path / "tbl")
    # time-clustered layout so envelopes prune
    spark.range(0, 1600).select(
        F.col("id").alias("ts"), (F.col("id") % 7).alias("cat")
    ).repartitionByRange(8, "ts").sortWithinPartitions("ts").write.mode(
        "overwrite"
    ).parquet(root)
    skipping.build(spark, root, ["ts"])  # cuts over
    assert os.path.isdir(skipping.two_level_columns(root)["ts"][1])

    # conjunction of two ranges on the indexed column: intersection
    paths, total = skipping.select_files(
        spark, root, [("ts", 0, 800), ("ts", 600, 1600)]
    )
    assert total == 8 and 1 <= len(paths) <= 2  # ~[600, 800) overlap
    df, fr, ft = skipping.read_where(
        spark, root, [("ts", 0, 800), ("ts", 600, 1600)]
    )
    assert df.count() == 200 and fr == len(paths)

    # non-indexed column rides along: selection driven by ts, rows exact
    df2, fr2, _ = skipping.read_where(
        spark, root, [("ts", 0, 200), ("cat", 0, 3)]
    )
    assert df2.count() == sum(1 for i in range(200) if i % 7 < 3)
    assert fr2 <= 2

    # only non-indexed predicates: descriptive error, not a missing-path
    with pytest.raises(ValueError, match="two-level manifest"):
        skipping.select_files(spark, root, [("cat", 0, 3)])
    with pytest.raises(ValueError, match="two-level manifest"):
        skipping.update(spark, root, ["ts", "cat"])


def test_bloom_two_level_fully_dead_vacuum_recovers(spark, tmp_path):
    """A table fully rewritten between index refreshes: vacuum drops
    every row, but the parameter sentinel keeps m/k/n_shards alive so
    probes return empty (no IndexError) and the next update re-anchors
    the index."""
    from pyspark.sql import functions as F

    from twitter_flink_spark.operators import skipping

    root = str(tmp_path / "tbl")
    spark.range(0, 500).select(F.col("id").alias("key")).repartition(
        4
    ).write.mode("overwrite").parquet(root)
    skipping.build_bloom_two_level(
        spark, root, "key", m=1 << 13, k=3, n_shards=4
    )
    # full rewrite IN PLACE (what a compactor does — mode("overwrite")
    # on root would delete the index dirs too): drop every old data
    # file, append replacements
    for f in list(os.listdir(root)):
        if f.endswith(".parquet"):
            os.remove(os.path.join(root, f))
    spark.range(500, 900).select(F.col("id").alias("key")).repartition(
        3
    ).write.mode("append").parquet(root)
    assert skipping.vacuum_bloom_two_level(spark, root, "key") > 0
    paths, total, sr, st = skipping.bloom2_select_files(
        spark, root, "key", 700
    )
    assert (paths, sr, st) == ([], 0, 0)  # no probeable shards, no crash
    assert skipping.update_bloom_two_level(spark, root, "key") == 3
    df, fr, ft, sr, st = skipping.point_read_two_level(
        spark, root, "key", 700
    )
    assert df.count() == 1 and ft == 3 and sr == 1 and st == 4


def test_binpack_write_numeric_partition_column(spark, tmp_path):
    """The offsets frame must mirror the partition column's ACTUAL type:
    a numeric part_col previously hit the hardcoded 'string' schema
    (TypeError from createDataFrame, or an implicit cast in the
    equi-join). Exact bin counts must hold for an int column."""
    import os

    from pyspark.sql import functions as F

    from twitter_flink_spark.sources.files import binpack_write

    df = spark.range(0, 700).select(
        F.col("id").alias("event_id"),
        F.when(F.col("id") < 520, F.lit(7))
        .otherwise(F.lit(11))
        .cast("int")
        .alias("bucket"),
    ).repartition(6)
    src = str(tmp_path / "src")
    df.write.mode("overwrite").parquet(src)
    dest = str(tmp_path / "packed")
    binpack_write(
        spark, spark.read.parquet(src), "bucket", 100, dest,
        order_col="event_id",
    )
    for val, (n_files, n_rows) in {7: (6, 520), 11: (2, 180)}.items():
        d = os.path.join(dest, f"bucket={val}")
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == n_files, (val, files)
        assert spark.read.parquet(d).count() == n_rows
    assert spark.read.parquet(dest).select("event_id").distinct().count() == 700


def test_binpack_write_non_file_backed_input(spark, tmp_path):
    """A frame with NO file scan behind it (input_file_name() = '' for
    every row) must not collapse a value's rows into one window
    partition: the content-hash salt keeps the work spread, and the
    per-value file counts stay EXACT."""
    import os
    import re

    from pyspark.sql import functions as F

    from twitter_flink_spark.sources.files import binpack_write

    df = spark.range(0, 900).select(
        F.col("id").alias("event_id"),
        F.when(F.col("id") < 800, F.lit("hot"))
        .otherwise(F.lit("cold"))
        .alias("event_type"),
    )
    assert df.inputFiles() == []  # genuinely non-file-backed
    dest = str(tmp_path / "packed")
    binpack_write(spark, df, "event_type", 100, dest, order_col="event_id")
    for et, (n_files, n_rows) in {"hot": (8, 800), "cold": (1, 100)}.items():
        d = os.path.join(dest, f"event_type={et}")
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == n_files, (et, files)
        assert spark.read.parquet(d).count() == n_rows
    hot_tasks = {
        re.match(r"part-(\d+)", f).group(1)
        for f in os.listdir(os.path.join(dest, "event_type=hot"))
        if f.endswith(".parquet")
    }
    assert len(hot_tasks) >= 2  # skew spread survives the fallback


def test_per_column_two_level_lifecycle(spark, tmp_path):
    """Per-COLUMN two-level manifests: build one per column, intersect
    selections at plan time (2-D pruning strictly tighter than either
    column alone on a cell-clustered layout), serve losslessly with
    unindexed predicates riding as residuals, refresh incrementally per
    column, vacuum per column, and raise when no predicate is indexed."""
    import pytest
    from pyspark.sql import functions as F

    from twitter_flink_spark.operators import skipping

    root = str(tmp_path / "tbl")
    # 16 files clustered on (a-quartile, b-quartile) cells
    df = spark.range(0, 1600).select(
        F.col("id").alias("a"),
        ((F.col("id") * 7) % 1600).alias("b"),
        (F.col("id") % 5).alias("k"),
    )
    (
        df.withColumn("qa", F.floor(F.col("a") / 400))
        .withColumn("qb", F.floor(F.col("b") / 400))
        .repartitionByRange(16, "qa", "qb")
        .sortWithinPartitions("qa", "qb")
        .drop("qa", "qb")
        .write.mode("overwrite")
        .parquet(root)
    )
    nfiles = len(spark.read.parquet(root).inputFiles())
    assert nfiles >= 12  # range partitioner may emit a few empty ranges
    built = skipping.build_two_level_columns(
        spark, root, ["a", "b"], n_parts=4
    )
    assert set(built) == {"a", "b"}
    assert set(skipping.two_level_columns(root)) == {"a", "b"}

    sel_a, total, _ = skipping.select_files_multi(
        spark, root, [("a", 0, 400)]
    )
    sel_b, _, _ = skipping.select_files_multi(spark, root, [("b", 0, 400)])
    both, _, used = skipping.select_files_multi(
        spark, root, [("a", 0, 400), ("b", 0, 400)]
    )
    assert total == nfiles and used == 2
    assert len(both) <= min(len(sel_a), len(sel_b))
    assert len(both) < nfiles  # 2-D pruning bites

    # lossless serve, unindexed k rides as residual
    got, fr, ft = skipping.read_where_multi(
        spark, root, [("a", 0, 400), ("b", 0, 400), ("k", 0, 2)]
    )
    want = df.where(
        (F.col("a") < 400) & (F.col("b") < 400) & (F.col("k") < 2)
    ).count()
    assert got.count() == want and fr == len(both) and ft == nfiles

    # incremental refresh per column
    spark.range(1600, 1800).select(
        F.col("id").alias("a"),
        ((F.col("id") * 7) % 1600).alias("b"),
        (F.col("id") % 5).alias("k"),
    ).coalesce(1).write.mode("append").parquet(root)
    upd = skipping.update_two_level_columns(spark, root)
    assert upd == {"a": 1, "b": 1}
    assert skipping.update_two_level_columns(spark, root) == {"a": 0, "b": 0}
    _, total2, _ = skipping.select_files_multi(spark, root, [("a", 0, 1)])
    assert total2 == nfiles + 1

    # vacuum per column after a file disappears
    victim = sorted(
        f for f in os.listdir(root) if f.endswith(".parquet")
    )[0]
    os.remove(os.path.join(root, victim))
    vac = skipping.vacuum_two_level_columns(spark, root)
    assert vac["a"] == 1 and vac["b"] == 1
    assert skipping.vacuum_two_level_columns(spark, root) == {"a": 0, "b": 0}

    with pytest.raises(ValueError, match="no two-level manifest"):
        skipping.select_files_multi(spark, root, [("k", 0, 2)])


def test_replace_dir_pointer_swap_atomic(tmp_path):
    """Commits publish through a symlink pointer renamed in ONE atomic
    step — dest exists (and resolves to a complete generation) at every
    instant, fixing the between-renames window the old rename-aside
    dance had. Real-dir dests migrate on first commit; superseded
    generations survive a reader grace; ``rm_committed`` removes both
    pointer and generation."""
    import time

    from twitter_flink_spark import commit as sk

    dest = str(tmp_path / "man")
    g1 = str(tmp_path / "g1")
    os.makedirs(g1)
    open(os.path.join(g1, "a"), "w").write("1")
    sk.replace_dir(g1, dest)
    assert os.path.islink(dest)
    assert open(os.path.join(dest, "a")).read() == "1"
    target1 = os.path.realpath(dest)

    g2 = str(tmp_path / "g2")
    os.makedirs(g2)
    open(os.path.join(g2, "a"), "w").write("2")
    sk.replace_dir(g2, dest)
    assert os.path.islink(dest)
    assert open(os.path.join(dest, "a")).read() == "2"
    # the superseded generation outlives the swap (reader grace): a scan
    # that resolved the pointer just before the commit can finish
    assert os.path.isdir(target1)
    # ...and is swept once aged past the grace
    past = time.time() - sk.GEN_GRACE_S - 5
    os.utime(target1, (past, past))
    sk.sweep_gens(dest)
    assert not os.path.isdir(target1)
    assert open(os.path.join(dest, "a")).read() == "2"  # current untouched

    # a real-dir dest migrates to the pointer shape on first commit
    real = str(tmp_path / "real")
    os.makedirs(real)
    open(os.path.join(real, "a"), "w").write("0")
    g3 = str(tmp_path / "g3")
    os.makedirs(g3)
    open(os.path.join(g3, "a"), "w").write("3")
    sk.replace_dir(g3, real)
    assert os.path.islink(real)
    assert open(os.path.join(real, "a")).read() == "3"
    assert not [p for p in os.listdir(tmp_path) if ".gc-" in p]

    # removal of a committed dest drops pointer AND generation
    gen = os.path.realpath(dest)
    sk.rm_committed(dest)
    assert not os.path.lexists(dest) and not os.path.isdir(gen)


def test_replace_dir_failed_pointer_rename_keeps_real_dir_dest(
    tmp_path, monkeypatch
):
    """When every ``.lnk`` -> dest rename of a first commit over a real
    dir fails, the commit raises and ``dest`` is still the real dir with
    its old files: the aside copy is renamed back, not deleted."""
    import pytest

    from twitter_flink_spark import commit

    class _LinkRenameFails:
        def __getattr__(self, name):
            return getattr(os, name)

        def rename(self, src, dst):
            if src.endswith(".lnk"):
                raise OSError("injected pointer-rename failure")
            os.rename(src, dst)

    dest = str(tmp_path / "dest")
    os.makedirs(dest)
    open(os.path.join(dest, "a"), "w").write("old")
    gen = str(tmp_path / "gen")
    os.makedirs(gen)
    open(os.path.join(gen, "a"), "w").write("new")
    monkeypatch.setattr(commit, "os", _LinkRenameFails())
    with pytest.raises(RuntimeError, match="lost 5 swap races"):
        commit.replace_dir(gen, dest)
    monkeypatch.setattr(commit, "os", os)
    assert os.path.isdir(dest) and not os.path.islink(dest)
    assert os.listdir(dest) == ["a"]
    assert open(os.path.join(dest, "a")).read() == "old"
    assert sorted(os.listdir(tmp_path)) == ["dest"]


def test_scratch_sweep_gated_on_dead_pid(tmp_path):
    """The abandoned-scratch sweeper only deletes litter whose embedded
    pid is DEAD — a live committer's hour-old scratch (a legitimately
    long manifest write) is never rmtree'd from under it."""
    import time

    from twitter_flink_spark import commit as sk

    dest = str(tmp_path / "man")
    old = time.time() - 7200
    live = f"{dest}.tmp-{os.getpid()}-1"
    os.makedirs(live)
    os.utime(live, (old, old))
    # pid 2^22+ is above the default pid_max: unambiguously dead
    dead = f"{dest}.tmp-99999999-1"
    os.makedirs(dead)
    os.utime(dead, (old, old))
    sk.scratch_name(dest, "tmp")
    assert os.path.isdir(live), "live committer's scratch must survive"
    assert not os.path.isdir(dead), "dead pid's stale scratch is swept"


def test_scratch_sweep_restores_dead_committers_aside(tmp_path):
    """A committer that died between moving a real-dir dest aside and the
    pointer rename leaves the dest missing and its old files only in the
    ``.gc-`` aside: the sweep renames that aside back to the dest (files
    intact) instead of deleting it as litter."""
    import time

    from twitter_flink_spark import commit as sk

    dest = str(tmp_path / "cells")
    aside = f"{dest}.gc-99999999-1"  # above the default pid_max: dead
    os.makedirs(aside)
    open(os.path.join(aside, "part-0.parquet"), "w").write("old")
    old = time.time() - 7200
    os.utime(aside, (old, old))
    sk.scratch_name(dest, "gc")
    assert os.path.isdir(dest) and not os.path.lexists(aside)
    assert os.listdir(dest) == ["part-0.parquet"]
    assert open(os.path.join(dest, "part-0.parquet")).read() == "old"


def test_select_files_multi_selectivity_order_and_early_exit(
    spark, tmp_path, monkeypatch
):
    """Multi-index consults run cheapest-parent-estimate FIRST and stop
    reading manifest shards once the running intersection is empty: a
    dead conjunction (disjoint ranges) pays O(columns) parent reads and
    at most one cheap shard consult — at millions of files the later,
    useless shard reads are the avoidable cost."""
    from pyspark.sql import functions as F

    from twitter_flink_spark.operators import skipping

    root = str(tmp_path / "tbl")
    # a-clustered layout: predicates on `a` prune to few parts (cheap),
    # while every file spans all of `b` (expensive: all parts chosen)
    df = spark.range(0, 1600).select(
        F.col("id").alias("a"), ((F.col("id") * 7) % 1600).alias("b")
    )
    (
        df.repartitionByRange(16, "a")
        .sortWithinPartitions("a")
        .write.mode("overwrite")
        .parquet(root)
    )
    skipping.build_two_level_columns(spark, root, ["a", "b"], n_parts=4)

    shard_reads = []
    real = skipping._shard_select

    def spy(spark_, col, lo, hi, parts_dir, chosen):
        shard_reads.append(col)
        return real(spark_, col, lo, hi, parts_dir, chosen)

    monkeypatch.setattr(skipping, "_shard_select", spy)

    # live conjunction: both consulted, cheap (a) first
    plan = {}
    paths, total, used = skipping.select_files_multi(
        spark, root, [("b", 0, 1600), ("a", 0, 200)], plan_out=plan
    )
    assert used == 2 and paths
    assert plan["consult_order"] == ["a", "b"]  # sorted, not declared
    assert plan["est_files"]["a"] < plan["est_files"]["b"]
    assert shard_reads == ["a", "b"]
    assert plan["shards_skipped"] == 0

    # dead conjunction: `a` selects nothing -> `b`'s shards never read
    shard_reads.clear()
    plan = {}
    paths, _, used = skipping.select_files_multi(
        spark, root, [("b", 0, 1600), ("a", 10_000, 20_000)],
        plan_out=plan,
    )
    assert paths == [] and used == 2
    assert plan["consult_order"] == ["a", "b"]
    assert shard_reads == ["a"]  # early exit before b's consult
    assert plan["shards_skipped"] > 0

    # ordering is by estimate, not column name: flip the cheap side
    shard_reads.clear()
    plan = {}
    skipping.select_files_multi(
        spark, root, [("a", 0, 1600), ("b", 0, 1600)], plan_out=plan
    )
    assert plan["consult_order"][0] == min(
        plan["est_files"], key=lambda c: (plan["est_files"][c], c)
    )

    # reported files_total is the max across per-column parents: append
    # a file and refresh only ONE column's manifest — the total must not
    # depend on predicate order
    spark.range(1600, 1700).select(
        F.col("id").alias("a"), ((F.col("id") * 7) % 1600).alias("b")
    ).coalesce(1).write.mode("append").parquet(root)
    skipping.update_two_level(spark, root, "a")
    _, t1, _ = skipping.select_files_multi(
        spark, root, [("a", 0, 1600), ("b", 0, 1600)]
    )
    _, t2, _ = skipping.select_files_multi(
        spark, root, [("b", 0, 1600), ("a", 0, 1600)]
    )
    n_live = len(spark.read.parquet(root).inputFiles())
    assert t1 == t2 == n_live


def test_replace_dir_concurrent_reader_never_sees_missing(tmp_path):
    """Cross-process pin of the pointer-swap guarantee: a subprocess
    commits new generations in a tight loop while this process opens
    dest and reads a file through it continuously — ZERO path-not-found
    in hundreds of swaps (the exact flake class the old two-rename
    window allowed under concurrent manifest rebuilds)."""
    import subprocess
    import sys
    import time

    from twitter_flink_spark import commit as sk

    dest = str(tmp_path / "man")
    g0 = str(tmp_path / "g0")
    os.makedirs(g0)
    open(os.path.join(g0, "payload"), "w").write("gen-0")
    sk.replace_dir(g0, dest)

    writer = subprocess.Popen(
        [
            sys.executable,
            "-c",
            f"""
import os, time
from twitter_flink_spark import commit as sk
dest = {dest!r}
deadline = time.monotonic() + 6
i = 0
while time.monotonic() < deadline:
    i += 1
    g = dest + f".next-{{i}}"
    os.makedirs(g)
    open(os.path.join(g, "payload"), "w").write(f"gen-{{i}}")
    sk.replace_dir(g, dest)
print(i)
""",
        ],
        stdout=subprocess.PIPE,
        text=True,
    )
    reads = 0
    misses = []
    while writer.poll() is None:
        try:
            with open(os.path.join(dest, "payload")) as f:
                assert f.read().startswith("gen-")
            os.listdir(dest)
            reads += 1
        except (FileNotFoundError, NotADirectoryError) as e:
            misses.append(repr(e))
        time.sleep(0.001)
    commits = int(writer.stdout.read().strip())
    assert writer.returncode == 0
    assert commits > 50, f"writer only committed {commits} generations"
    assert reads > 100
    assert misses == [], f"{len(misses)} reader misses: {misses[:3]}"


def test_pin_generation_survives_post_grace_sweep(tmp_path):
    """A pinned generation outlives the reader grace: long scans pin
    their resolved snapshot so a commit + sweep during the scan cannot
    delete it; dead-pid pins are litter the sweeper clears."""
    import time

    from twitter_flink_spark import commit as sk

    dest = str(tmp_path / "man")
    g1 = str(tmp_path / "g1")
    os.makedirs(g1)
    open(os.path.join(g1, "a"), "w").write("1")
    sk.replace_dir(g1, dest)

    with sk.pin_generation(dest) as snap:
        assert open(os.path.join(snap, "a")).read() == "1"
        g2 = str(tmp_path / "g2")
        os.makedirs(g2)
        open(os.path.join(g2, "a"), "w").write("2")
        sk.replace_dir(g2, dest)  # concurrent commit mid-scan
        # age the pinned generation well past the grace and sweep
        past = time.time() - sk.GEN_GRACE_S - 5
        os.utime(snap, (past, past))
        sk.sweep_gens(dest)
        assert os.path.isdir(snap)  # pin held it
        assert open(os.path.join(snap, "a")).read() == "1"  # snapshot
        assert open(os.path.join(dest, "a")).read() == "2"  # new current
    # pin released: the next sweep reclaims it
    os.utime(snap, (past, past))
    sk.sweep_gens(dest)
    assert not os.path.isdir(snap)

    # a pin whose reader died is litter: swept, generation reclaimed
    g3 = os.path.realpath(dest)
    open(f"{g3}.pin-99999999-1", "w").close()
    g4 = str(tmp_path / "g4")
    os.makedirs(g4)
    open(os.path.join(g4, "a"), "w").write("3")
    sk.replace_dir(g4, dest)
    os.utime(g3, (past, past))
    sk.sweep_gens(dest)
    assert not os.path.isdir(g3)
    assert not os.path.exists(f"{g3}.pin-99999999-1")

    # legacy real-dir dest: pin is a pass-through
    legacy = str(tmp_path / "legacy")
    os.makedirs(legacy)
    with sk.pin_generation(legacy) as snap2:
        assert snap2 == legacy


def test_parent_histogram_orders_thin_slice_first(spark, tmp_path):
    """The parent's 32-bucket value histogram tells a THIN slice of a
    dense partition apart from a full sweep when chosen-partition file
    counts cannot: both indexes here hold ONE manifest partition of 16
    files (count bound: 16 each, a tie the old estimate broke
    alphabetically), but the histogram prices the thin slice at a
    couple of files, so it is consulted first despite sorting LAST by
    name — and every estimate stays a sound upper bound on the actual
    selection."""
    from pyspark.sql import functions as F

    from twitter_flink_spark.operators import skipping

    root = str(tmp_path / "tbl")
    # zslice-clustered (tight envelopes per file); wide spans all files
    df = spark.range(0, 1600).select(
        ((F.col("id") * 7) % 1600).alias("wide"),
        F.col("id").alias("zslice"),
    )
    (
        df.repartitionByRange(16, "zslice")
        .sortWithinPartitions("zslice")
        .write.mode("overwrite")
        .parquet(root)
    )
    skipping.build_two_level_columns(
        spark, root, ["wide", "zslice"], n_parts=1
    )

    plan: dict = {}
    paths, _, used = skipping.select_files_multi(
        spark,
        root,
        [("wide", 0, 1600), ("zslice", 0, 100)],
        plan_out=plan,
    )
    assert used == 2 and paths
    # count bounds tie at 16; the histogram breaks the tie correctly
    assert plan["est_bound_files"] == {"wide": 16, "zslice": 16}
    assert plan["est_files"]["zslice"] < plan["est_files"]["wide"]
    assert plan["consult_order"] == ["zslice", "wide"]
    # soundness: estimate >= actual selection, and never above the bound
    for col in ("wide", "zslice"):
        assert plan["est_files"][col] >= plan["selected_files"][col]
        assert plan["est_files"][col] <= plan["est_bound_files"][col]
    assert plan["selected_files"]["zslice"] <= 2  # thin slice: ~1 file

    # maintenance: an append + update refreshes the histogram with the
    # parent; out-of-span values fold into the open edge bucket and the
    # estimate stays sound for a query over the appended region
    spark.range(1600, 1700).select(
        ((F.col("id") * 7) % 1600).alias("wide"),
        F.col("id").alias("zslice"),
    ).coalesce(1).write.mode("append").parquet(root)
    skipping.update_two_level(spark, root, "zslice")
    plan = {}
    paths, _, _ = skipping.select_files_multi(
        spark, root, [("zslice", 1600, 1700)], plan_out=plan
    )
    assert len(paths) == 1  # exactly the appended file
    est = plan["est_files"]["zslice"]
    # sound (>= 1 actual) and still far tighter than the count bound:
    # only the appended file plus the couple of old files reaching the
    # open edge bucket (repartitionByRange samples boundaries, so the
    # edge neighborhood is approximate — the bound is not)
    assert 1 <= est <= 4
    assert est < plan["est_bound_files"]["zslice"]


def test_sidecar_index_root_indexes_readonly_table(spark, tmp_path):
    """``index_root`` detaches manifest location from data location: the
    indexes land in a sidecar dir (the data dir stays byte-untouched,
    the read-only-lake contract), discovery/selection only see them
    through the same parameter, and selection through the sidecar
    matches an embedded-index selection exactly."""
    import os

    from pyspark.sql import functions as F

    from twitter_flink_spark.operators import skipping

    root = str(tmp_path / "tbl")
    side = str(tmp_path / "idx")
    df = spark.range(0, 800).select(
        F.col("id").alias("a"), (F.col("id") % 5).alias("b")
    )
    (
        df.repartitionByRange(8, "a")
        .sortWithinPartitions("a")
        .write.mode("overwrite")
        .parquet(root)
    )
    before = sorted(os.listdir(root))
    os.makedirs(side)
    skipping.build_two_level_columns(
        spark, root, ["a"], n_parts=2, index_root=side
    )
    assert sorted(os.listdir(root)) == before  # data dir untouched
    assert skipping.two_level_columns(root) == {}
    assert set(skipping.two_level_columns(root, side)) == {"a"}

    paths, total, used = skipping.select_files_multi(
        spark, root, [("a", 0, 100)], index_root=side
    )
    assert used == 1 and 0 < len(paths) < total
    sliced, files_read, _ = skipping.read_where_multi(
        spark, root, [("a", 0, 100)], index_root=side
    )
    assert files_read == len(paths)
    assert sliced.count() == 100

    # append + sidecar refresh stays O(new) and keeps selection exact
    spark.range(800, 900).select(
        F.col("id").alias("a"), (F.col("id") % 5).alias("b")
    ).coalesce(1).write.mode("append").parquet(root)
    n = skipping.update_two_level_columns(spark, root, index_root=side)
    assert n == {"a": 1}
    sliced, _, _ = skipping.read_where_multi(
        spark, root, [("a", 790, 810)], index_root=side
    )
    assert sliced.count() == 20


def test_bucket_math_exact_at_large_magnitudes(spark):
    """Build-side bucketing must use EXACT long arithmetic: the old
    ``F.floor((off * 32) / span)`` cast the product to double, and for
    products above 2^53 the rounding can cross an integer boundary.
    This offset/span pair is such a case — double math says bucket 23,
    exact integer math (and the query side's Python ``//``) says 22.
    A build-side overshoot counts a file's envelope MIN one bucket too
    high, which silently breaks the histogram's sound-upper-bound
    contract."""
    import math

    from pyspark.sql import functions as F

    from twitter_flink_spark.operators.skipping import (
        HIST_BUCKETS,
        _int_floor_div,
    )

    off, span = 718750000000005, 1000000000000007
    assert (off * HIST_BUCKETS) // span == 22  # exact
    assert math.floor(float(off * HIST_BUCKETS) / float(span)) == 23

    got = (
        spark.range(1)
        .select(
            _int_floor_div(
                F.lit(off).cast("long"), 0, HIST_BUCKETS, span
            ).alias("b")
        )
        .first()["b"]
    )
    assert got == 22


def test_flat_index_root_sidecar_readonly_table(spark, tmp_path):
    """The FLAT families (stats manifest + per-file Bloom) honor
    ``index_root`` like the two-level ones: build/update/vacuum land
    every index byte in the sidecar (data dir byte-untouched), every
    reader consults through the same parameter, and selection through
    the sidecar matches what an embedded index would pick."""
    import os

    from pyspark.sql import functions as F

    from twitter_flink_spark.operators import skipping

    root = str(tmp_path / "tbl")
    side = str(tmp_path / "idx")
    df = spark.range(0, 400).select(
        F.col("id").alias("a"), (F.col("id") % 7).alias("b")
    )
    (
        df.repartitionByRange(4, "a")
        .sortWithinPartitions("a")
        .write.mode("overwrite")
        .parquet(root)
    )
    before = sorted(os.listdir(root))
    os.makedirs(side)
    skipping.build(spark, root, ["a"], index_root=side)
    skipping.build_bloom(spark, root, "a", m=1 << 12, index_root=side)
    assert sorted(os.listdir(root)) == before  # data dir untouched

    paths, total = skipping.select_files(
        spark, root, [("a", 0, 100)], index_root=side
    )
    assert 0 < len(paths) < total
    sliced, files_read, _ = skipping.read_where(
        spark, root, [("a", 0, 100)], index_root=side
    )
    assert files_read == len(paths) and sliced.count() == 100
    cnt, _, _ = skipping.count_between(
        spark, root, "a", 0, 100, index_root=side
    )
    assert cnt == 100
    mn, mx, _, _ = skipping.minmax_between(
        spark, root, "a", 10, 50, index_root=side
    )
    assert (mn, mx) == (10, 49)
    hit, fr, ft = skipping.point_read(
        spark, root, "a", 123, index_root=side
    )
    assert hit.count() == 1 and 0 < fr < ft
    assert skipping.stale_file_count(spark, root, index_root=side) == 0

    # append + sidecar refresh is O(new); vacuum reconciles in-place
    spark.range(400, 500).select(
        F.col("id").alias("a"), (F.col("id") % 7).alias("b")
    ).coalesce(1).write.mode("append").parquet(root)
    assert skipping.update(spark, root, ["a"], index_root=side) == 1
    assert skipping.update_bloom(spark, root, "a", index_root=side) == 1
    assert sorted(os.listdir(root)) != before  # only the data append
    assert skipping.vacuum_manifest(spark, root, index_root=side) == 0
    assert skipping.vacuum_bloom(spark, root, "a", index_root=side) == 0
    sliced, _, _ = skipping.read_where(
        spark, root, [("a", 390, 410)], index_root=side
    )
    assert sliced.count() == 20


def test_flat_index_root_cutover_lands_in_sidecar(
    spark, tmp_path, monkeypatch
):
    """A sidecar flat index that grows past the two-level threshold
    upgrades IN THE SIDECAR: the data dir stays untouched through the
    cutover and the two-level reader serves through the same
    ``index_root``."""
    import os

    from pyspark.sql import functions as F

    from twitter_flink_spark.operators import skipping

    monkeypatch.setattr(skipping, "AUTO_TWO_LEVEL_FILES", 4)

    root = str(tmp_path / "tbl")
    side = str(tmp_path / "idx")
    spark.range(0, 300).select(F.col("id").alias("a")).repartitionByRange(
        6, "a"
    ).write.mode("overwrite").parquet(root)
    before = sorted(os.listdir(root))
    os.makedirs(side)
    skipping.build(
        spark, root, ["a"], index_root=side
    )  # 6 files > 4: builds two-level directly, in the sidecar
    assert sorted(os.listdir(root)) == before
    assert set(skipping.two_level_columns(root, side)) == {"a"}
    paths, total = skipping.select_files(
        spark, root, [("a", 0, 50)], index_root=side
    )
    assert 0 < len(paths) < total
    cnt, _, _ = skipping.count_between(
        spark, root, "a", 0, 50, index_root=side
    )
    assert cnt == 50
    # update routes through the two-level sidecar path
    spark.range(300, 350).select(F.col("id").alias("a")).coalesce(
        1
    ).write.mode("append").parquet(root)
    assert skipping.update(spark, root, ["a"], index_root=side) == 1
    assert sorted(os.listdir(root)) != before  # only the data append
    assert skipping.vacuum_manifest(spark, root, index_root=side) == 0


def test_point_multi_keycount_order_and_early_exit(spark, tmp_path):
    """`point_select_files_multi` orders probes by the parent key-count
    sketches (high-cardinality column first when per-shard file counts
    tie), intersects losslessly, and skips remaining shard scans once
    the intersection is empty."""
    from pyspark.sql import functions as F

    from twitter_flink_spark.operators import skipping

    root = str(tmp_path / "tbl")
    df = spark.range(0, 2000).select(
        F.col("id").alias("user_id"), (F.col("id") % 5).alias("ev")
    )
    df.repartitionByRange(8, "user_id").write.mode("overwrite").parquet(
        root
    )
    skipping.build_bloom_two_level(
        spark, root, "user_id", m=1 << 14, n_shards=4
    )
    skipping.build_bloom_two_level(spark, root, "ev", m=1 << 14, n_shards=4)

    plan: dict = {}
    hit, fr, ft = skipping.point_read_multi(
        spark, root, [("ev", 3), ("user_id", 1238)], plan_out=plan
    )
    assert plan["consult_order"][0] == "user_id"
    assert plan["est_files"]["user_id"] < plan["est_files"]["ev"]
    assert plan["bound_files"]["user_id"] == plan["bound_files"]["ev"]
    rows = hit.collect()  # 1238 % 5 == 3: exactly the one true row
    assert len(rows) == 1 and rows[0]["user_id"] == 1238
    assert 0 < fr < ft

    dead: dict = {}
    paths, _, used = skipping.point_select_files_multi(
        spark, root, [("ev", 3), ("user_id", 99999)], plan_out=dead
    )
    assert paths == [] and used == 2
    assert dead["shards_skipped"] == 1  # ev probe never ran
    assert "ev" not in dead["selected_files"]


def test_mixed_consult_orders_and_early_exits(spark, tmp_path):
    """`select_files_mixed` puts a point probe and a range consult on
    one estimate scale, runs the cheaper first, intersects losslessly,
    and skips the range shard read entirely when a dead point probe
    empties the intersection."""
    from pyspark.sql import functions as F

    from twitter_flink_spark.operators import skipping

    root = str(tmp_path / "tbl")
    df = spark.range(0, 1600).select(
        F.col("id").alias("a"), (F.col("id") % 9).alias("u")
    )
    # a-clustered: a-ranges prune well; u scattered: only Bloom helps
    df.repartitionByRange(8, "a").write.mode("overwrite").parquet(root)
    skipping.build_two_level_columns(spark, root, ["a"], n_parts=4)
    skipping.build_bloom_two_level(spark, root, "u", m=1 << 14, n_shards=4)

    plan: dict = {}
    sliced, fr, ft = skipping.read_where_mixed(
        spark, root, [("a", 0, 200)], [("u", 3)], plan_out=plan
    )
    assert plan["consult_order"] == ["a", "u="]  # thin range wins here
    assert set(plan["selected_files"]) == {"a", "u="}
    rows = sliced.collect()
    assert all(0 <= r["a"] < 200 and r["u"] == 3 for r in rows)
    assert len(rows) == sum(1 for i in range(200) if i % 9 == 3)
    assert 0 < fr < ft

    dead: dict = {}
    paths, _, used = skipping.select_files_mixed(
        spark, root, [("a", 0, 200)], [("u", 99)], plan_out=dead
    )
    assert paths == [] and used == 2
    # u=99 was never inserted: its probe selects nothing; whichever
    # consult ran second must have been skipped if the first emptied
    # the intersection, or selected nothing itself
    assert dead["shards_skipped"] + len(dead["selected_files"]) == 2


def test_point_multi_no_false_negatives_every_key(spark, tmp_path):
    """Soundness sweep: for EVERY live key value, the sharded-Bloom
    point consult must select a superset of the files actually
    containing the key (false positives allowed, false negatives
    never), and the key-count estimate must be positive. Exercises all
    shards and both sides of the estimate."""
    import os
    from collections import defaultdict

    from pyspark.sql import functions as F

    from twitter_flink_spark.operators import skipping

    root = str(tmp_path / "tbl")
    df = spark.range(0, 900).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    df.repartitionByRange(6, "k").write.mode("overwrite").parquet(root)
    skipping.build_bloom_two_level(spark, root, "v", m=1 << 13, n_shards=4)

    truth: dict[int, set[str]] = defaultdict(set)
    rows = (
        spark.read.parquet(root)
        .select("v", F.input_file_name().alias("f"))
        .distinct()
        .collect()
    )
    for r in rows:
        truth[int(r["v"])].add(skipping.norm_path(r["f"]))

    for key in range(7):
        plan: dict = {}
        paths, total, used = skipping.point_select_files_multi(
            spark, root, [("v", key)], plan_out=plan
        )
        got = {skipping.norm_path(p) for p in paths}
        assert truth[key] <= got, f"false negative for v={key}"
        assert plan["est_files"]["v"] >= 1
        assert used == 1 and total == 6


def test_int_floor_div_matches_python_everywhere(spark):
    """Vectorized equivalence sweep: `_int_floor_div` must equal
    Python's clamped integer ``//`` for thousands of random
    (offset, span) pairs spanning the micros domain up past 2^53 —
    including constructed boundary cases where the old double-floor
    math provably flipped a bucket."""
    import random

    from pyspark.sql import functions as F

    from twitter_flink_spark.operators.skipping import HIST_BUCKETS

    rng = random.Random(12)
    cases = []
    for _ in range(4000):
        span = rng.randrange(10**6, 4 * 10**15)
        off = rng.randrange(-span // 8, 2 * span)
        cases.append((off, span))
    for b in range(1, HIST_BUCKETS):  # exact boundary neighborhoods
        span = 10**15 + 7
        for d in (-1, 0, 1):
            off = (b * span) // HIST_BUCKETS + d
            cases.append((off, span))

    h = HIST_BUCKETS
    # spans vary per row: group rows by span and evaluate per group via
    # one DataFrame with a span column and per-row arithmetic
    df = spark.createDataFrame(cases, "off long, span long")
    num = (F.col("off") * h).cast("long")
    got = df.select(
        "off",
        "span",
        F.greatest(
            F.lit(0),
            F.least(
                F.lit(h - 1),
                F.call_function("div", num, F.col("span")),
            ),
        )
        .cast("int")
        .alias("b"),
    ).collect()
    for r in got:
        exp = max(0, min(h - 1, (r["off"] * h) // r["span"]))
        assert r["b"] == exp, (r["off"], r["span"], r["b"], exp)


def test_zorder_value_interleaves_bits(spark):
    """Morton code of (a, b): a's bit i lands at position 2i+1, b's at
    2i — pinned against a pure-Python reference over the 8-bit corner
    cases and a sample grid."""
    from twitter_flink_spark.operators.zorder import zorder_value

    def ref(a: int, b: int) -> int:
        out = 0
        for i in range(8):
            out |= ((a >> i) & 1) << (2 * i + 1)
            out |= ((b >> i) & 1) << (2 * i)
        return out

    cases = [(0, 0), (255, 255), (255, 0), (0, 255), (1, 2), (170, 85)]
    cases += [(a, b) for a in (3, 77, 200) for b in (5, 128, 254)]
    df = spark.createDataFrame(cases, "a long, b long")
    from pyspark.sql import functions as F

    got = {
        (r["a"], r["b"]): r["z"]
        for r in df.select(
            "a", "b", zorder_value(F.col("a"), F.col("b")).alias("z")
        ).collect()
    }
    assert got == {(a, b): ref(a, b) for a, b in cases}


def test_zorder_layout_tightens_both_envelopes(spark, tmp_path):
    """The Z layout's per-file envelopes must be tight on BOTH columns:
    mean envelope width over files is strictly smaller than the linear
    layout's on user_id (where linear files span the whole range)."""
    from twitter_flink_spark.operators import skipping
    from twitter_flink_spark.operators.zorder import zorder_layout
    from twitter_flink_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    e = load_table(spark, "/root/testdata/sf0.001", "events")
    b = e.agg(
        F.min("user_id").alias("ulo"), F.max("user_id").alias("uhi"),
        F.min(F.unix_micros("ts")).alias("tlo"),
        F.max(F.unix_micros("ts")).alias("thi"),
    ).first()
    lin = str(tmp_path / "lin")
    zd = str(tmp_path / "z")
    e.repartitionByRange(16, "ts").write.parquet(lin)
    zorder_layout(
        e.withColumn("ts_us", F.unix_micros("ts")), "user_id", "ts_us",
        (int(b["ulo"]), int(b["uhi"]), int(b["tlo"]), int(b["thi"])), 16,
    ).drop("ts_us").write.parquet(zd)

    def mean_u_width(root):
        skipping.build(spark, root, ["user_id"])
        m = spark.read.parquet(
            f"{root}/{skipping.STATS_DIR}"
        )
        return m.agg(
            F.avg(F.col("max_user_id") - F.col("min_user_id"))
        ).first()[0]

    assert mean_u_width(zd) < mean_u_width(lin)


def test_compaction_plan_ffd_properties():
    """Pure-metadata planner: only sub-target files, no bin exceeds the
    target, singleton bins are dropped, deterministic ordering."""
    from twitter_flink_spark.operators.compaction import compaction_plan

    files = [(f"f{i}", s) for i, s in enumerate(
        [100, 40, 40, 35, 30, 25, 10, 5, 5]
    )]
    plan = compaction_plan(files, target_bytes=100)
    flat = [p for g in plan for p in g]
    assert len(flat) == len(set(flat))  # each file in at most one group
    assert "f0" not in flat  # at-target file is never planned
    sizes = dict(files)
    for g in plan:
        assert len(g) >= 2
        assert sum(sizes[p] for p in g) <= 100
    assert sum(sizes[p] for p in flat) >= 150  # the small tail is packed
    assert plan == compaction_plan(files, 100)  # deterministic


def test_compact_table_preserves_rows_and_inodes(spark, tmp_path):
    """Execution: rows identical, untouched file hardlinked (same
    inode), strictly fewer files, crash-free atomicity via the pointer
    swap (the committed dir is always a complete generation)."""
    import os

    from twitter_flink_spark.operators.compaction import compact_table
    from twitter_flink_spark.operators.skipping import norm_path
    from twitter_flink_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    e = load_table(spark, "/root/testdata/sf0.001", "events")
    t = str(tmp_path / "table")
    e.where(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(t)
    for i in range(6):
        e.where(
            (F.col("event_id") % 2 == 1)
            & ((F.col("event_id") / 2).cast("long") % 6 == i)
        ).coalesce(1).write.mode("append").parquet(t)
    rows_before = e.count()
    files = [norm_path(f) for f in spark.read.parquet(t).inputFiles()]
    sizes = {p: os.stat(p).st_size for p in files}
    big = max(sizes, key=lambda p: sizes[p])
    ino = os.stat(big).st_ino
    nb, na, ng = compact_table(spark, t, sizes[big])
    assert ng >= 1 and na < nb == len(files)
    assert spark.read.parquet(t).count() == rows_before
    kept = [
        norm_path(f)
        for f in spark.read.parquet(t).inputFiles()
        if os.path.basename(norm_path(f)) == os.path.basename(big)
    ]
    assert kept and os.stat(kept[0]).st_ino == ino


def test_compact_table_crash_between_renames_recovers(
    spark, tmp_path, monkeypatch
):
    """Crash `compact_table` at the first rename of its commit (the new
    generation moving into place) and at the last (the pointer rename,
    after the first compaction moved the real-dir table aside), then
    re-run it: the table reads exactly the rows and files of an
    uninterrupted compaction."""
    import pytest
    from crash import CrashAfter

    from twitter_flink_spark import commit
    from twitter_flink_spark.operators.compaction import compact_table

    e = load_table(spark, SF_DIR, "events")

    def fresh(name: str) -> str:
        t = str(tmp_path / name)
        for i in range(4):
            e.where(e["event_id"] % 4 == i).coalesce(1).write.mode(
                "append"
            ).parquet(t)
        return t

    def state(t: str):
        rows = sorted(tuple(r) for r in spark.read.parquet(t).collect())
        names = sorted(
            f for f in os.listdir(t) if f.endswith(".parquet")
        )
        return rows, names

    target = 1 << 30  # everything merges into one file
    clean = fresh("clean")
    counting = CrashAfter(1 << 30)
    monkeypatch.setattr(commit, "os", counting)
    assert compact_table(spark, clean, target)[2] == 1
    monkeypatch.setattr(commit, "os", os)
    want = state(clean)
    n_all = len(counting.moved)
    assert n_all > 1 and want[0]

    for k in (0, n_all - 1):
        t = fresh(f"crash-{k}")
        monkeypatch.setattr(commit, "os", CrashAfter(k))
        with pytest.raises((OSError, RuntimeError)):
            compact_table(spark, t, target)
        monkeypatch.setattr(commit, "os", os)
        assert compact_table(spark, t, target)[2] == 1
        assert state(t) == want, k


def test_compact_table_repeat_no_generation_clobber(spark, tmp_path):
    """Regression: a SECOND compaction whose merge-group 0 coexists with
    an UNTOUCHED merged file from the first pass must not rename its
    fresh output over that hardlinked survivor (the old fixed
    ``compacted-{i:05d}`` naming silently did, and the rows were lost
    for good once the old generation was swept). Generation-unique
    names make the collision impossible; the pin is exact row
    preservation plus the survivor's inode."""
    import os

    from twitter_flink_spark.operators.compaction import compact_table
    from twitter_flink_spark.operators.skipping import norm_path
    from twitter_flink_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    e = load_table(spark, "/root/testdata/sf0.001", "events")
    t = str(tmp_path / "table")
    # one healthy file + 4 tiny files -> pass 1 merges the tiny tail
    e.where(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(t)
    for i in range(4):
        e.where(
            (F.col("event_id") % 2 == 1)
            & ((F.col("event_id") / 2).cast("long") % 4 == i)
        ).coalesce(1).write.mode("append").parquet(t)
    rows1 = e.count()
    files = {
        norm_path(f): os.stat(norm_path(f)).st_size
        for f in spark.read.parquet(t).inputFiles()
    }
    nb, na, ng = compact_table(spark, t, max(files.values()))
    assert ng >= 1 and spark.read.parquet(t).count() == rows1
    merged = [
        norm_path(f)
        for f in spark.read.parquet(t).inputFiles()
        if "compacted-" in os.path.basename(norm_path(f))
    ]
    assert merged, "pass 1 produced a merged file"
    m = min(merged, key=lambda p: os.stat(p).st_size)
    m_ino, m_size = os.stat(m).st_ino, os.stat(m).st_size
    # append two tiny files strictly smaller than m, then compact with
    # target == m's size: m is untouched (hardlinked), the new tinies
    # form merge-group 0 -> the exact collision the old naming had
    # deterministic slices: LIMIT without ORDER BY can return different
    # prefixes across the separate actions below
    first20 = e.orderBy("event_id").limit(20)
    next20 = e.orderBy("event_id").limit(40).subtract(first20)
    first20.coalesce(1).write.mode("append").parquet(t)
    next20.coalesce(1).write.mode("append").parquet(t)
    rows2 = spark.read.parquet(t).count()
    assert rows2 == rows1 + 40
    tiny_sizes = [
        os.stat(norm_path(f)).st_size
        for f in spark.read.parquet(t).inputFiles()
        if norm_path(f) not in files and norm_path(f) != m
        and "compacted-" not in os.path.basename(norm_path(f))
    ]
    assert tiny_sizes and all(s < m_size for s in tiny_sizes), (
        "fixture precondition: appended files must be smaller than the "
        "pass-1 merged file"
    )
    nb2, na2, ng2 = compact_table(spark, t, m_size)
    assert ng2 >= 1
    # the old naming lost m's rows here; exact count is the pin
    assert spark.read.parquet(t).count() == rows2
    kept = [
        norm_path(f)
        for f in spark.read.parquet(t).inputFiles()
        if os.path.basename(norm_path(f)) == os.path.basename(m)
    ]
    assert kept and os.stat(kept[0]).st_ino == m_ino


def test_compact_table_one_job_for_all_groups(spark, tmp_path):
    """The distributed executor writes EVERY merge group in one Spark
    job: the merge-write job count is a small constant independent of
    how many groups the plan holds (the old per-group coalesce(1) loop
    ran O(groups) sequential jobs)."""
    import os

    from twitter_flink_spark.operators import compaction
    from twitter_flink_spark.operators.compaction import (
        compact_table,
        compaction_plan,
    )
    from twitter_flink_spark.operators.skipping import norm_path
    from twitter_flink_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    e = load_table(spark, "/root/testdata/sf0.001", "events")
    t = str(tmp_path / "table")
    e.coalesce(1).write.mode("append").parquet(t)  # healthy anchor
    for i in range(16):  # 16 tiny files -> several merge groups
        e.where(F.col("event_id") % 16 == i).limit(8).coalesce(
            1
        ).write.mode("append").parquet(t)
    rows = spark.read.parquet(t).count()
    sizes = [
        (norm_path(f), os.stat(norm_path(f)).st_size)
        for f in spark.read.parquet(t).inputFiles()
    ]
    target = max(s for _, s in sizes)
    expected_groups = len(compaction_plan(sorted(sizes), target))
    nb, na, ng = compact_table(spark, t, target)
    assert ng == expected_groups >= 2
    assert spark.read.parquet(t).count() == rows
    assert compaction.LAST_MERGE_JOBS is not None
    assert compaction.LAST_MERGE_JOBS <= 4, (
        f"merge ran {compaction.LAST_MERGE_JOBS} jobs for {ng} groups "
        "- the executor must not launch one job per group"
    )


def test_compact_table_reader_snapshot_across_swap(spark, tmp_path):
    """A reader that pinned its generation BEFORE compaction keeps a
    consistent pre-compact snapshot through the swap (and through the
    post-grace sweep), while new readers see the compacted file set —
    the compactor's end of the pointer-swap isolation contract. The
    table must already be pointer-managed: the FIRST compaction of a
    legacy real dir migrates it in place (documented single rename-
    aside window), so the pin guarantee starts at the second."""
    import os
    import time

    from twitter_flink_spark import commit as sk
    from twitter_flink_spark.operators.compaction import compact_table
    from twitter_flink_spark.operators.skipping import norm_path
    from twitter_flink_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    e = load_table(spark, "/root/testdata/sf0.001", "events")
    t = str(tmp_path / "table")
    e.where(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(t)
    for i in range(4):
        e.where(
            (F.col("event_id") % 2 == 1)
            & ((F.col("event_id") / 2).cast("long") % 4 == i)
        ).coalesce(1).write.mode("append").parquet(t)
    rows = e.count()
    sizes = {
        norm_path(f): os.stat(norm_path(f)).st_size
        for f in spark.read.parquet(t).inputFiles()
    }
    target = max(sizes.values())
    compact_table(spark, t, target)  # migrate to the pointer layout
    assert os.path.islink(t)
    # new small tail for the second (pinned) compaction to merge
    first20 = e.orderBy("event_id").limit(20)
    next20 = e.orderBy("event_id").limit(40).subtract(first20)
    first20.coalesce(1).write.mode("append").parquet(t)
    next20.coalesce(1).write.mode("append").parquet(t)
    rows2 = spark.read.parquet(t).count()
    with sk.pin_generation(t) as snap:
        files_in_snap = sorted(
            f for f in os.listdir(snap) if f.endswith(".parquet")
        )
        nb, na, ng = compact_table(spark, t, target)
        assert ng >= 1 and na < nb
        # pinned snapshot: same files, full pre-compact row count, even
        # after a commit + aged sweep lands mid-scan
        past = time.time() - sk.GEN_GRACE_S - 5
        os.utime(snap, (past, past))
        sk.sweep_gens(t)
        assert sorted(
            f for f in os.listdir(snap) if f.endswith(".parquet")
        ) == files_in_snap
        assert spark.read.parquet(snap).count() == rows2
    # new readers: the compacted set, same rows
    assert len(spark.read.parquet(t).inputFiles()) == na
    assert spark.read.parquet(t).count() == rows2
    assert rows2 == rows + 40


def test_compact_table_rejects_duplicate_basenames(spark, tmp_path):
    """Nested/partitioned layouts repeat basenames per subdir; both the
    basename-keyed merge tagging and the hardlink flatten would collide
    (and the flatten would strip partition discovery). The operator must
    reject such a layout loudly UP FRONT — before any scratch work —
    not fail the row-conservation guard mid-compact."""
    import pytest
    from pyspark.sql import functions as F

    from twitter_flink_spark.operators.compaction import compact_table

    e = load_table(spark, SF_DIR, "events")
    t = str(tmp_path / "nested")
    # partitionBy produces day=N/part-*.parquet with repeating basenames
    e.limit(200).withColumn(
        "day", (F.col("event_id") % 2).cast("int")
    ).coalesce(1).write.partitionBy("day").mode("overwrite").parquet(t)
    names = [
        os.path.basename(f) for f in spark.read.parquet(t).inputFiles()
    ]
    assert len(names) > len(set(names)), "fixture must repeat a basename"
    with pytest.raises(ValueError, match="duplicate basenames"):
        compact_table(spark, t, 1 << 30)
    # the live table is untouched
    assert spark.read.parquet(t).count() == 200


def test_skipping_layout_is_named_only_in_its_module():
    """Guard: the data-skipping manifest layouts (``_filestats``,
    ``_filestats2_<col>_*``, ``_filebloom_<col>``, ``_filebloom2_*``)
    are formats the engine defined, so only `operators/skipping.py`
    names them; every other module goes through that module's public
    functions (``manifest_dirs``, ``manifest_rows``, ...) and never
    touches one of its private names — no ``skipping._x`` attribute and
    no ``_x`` imported from it. Docstrings may describe the layouts."""
    import ast
    import pathlib
    import re

    layout = re.compile(r"(?<!\w)_file(?:stats|bloom)")
    root = pathlib.Path(__file__).resolve().parents[1] / "twitter_flink_spark"
    owner = root / "operators" / "skipping.py"
    scopes = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
    bad = []
    for path in sorted(root.rglob("*.py")):
        if path == owner:
            continue
        tree = ast.parse(path.read_text())
        docs = {
            id(n.body[0].value)
            for n in ast.walk(tree)
            if isinstance(n, scopes)
            and ast.get_docstring(n, clean=False) is not None
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Constant):
                hit = (
                    isinstance(node.value, str)
                    and id(node) not in docs
                    and layout.search(node.value)
                )
            elif isinstance(node, ast.Attribute):
                hit = (
                    isinstance(node.value, ast.Name)
                    and node.value.id == "skipping"
                    and node.attr.startswith("_")
                )
            elif isinstance(node, ast.ImportFrom):
                hit = (node.module or "").endswith("skipping") and any(
                    a.name.startswith("_") for a in node.names
                )
            else:
                hit = False
            if hit:
                bad.append(f"{path.relative_to(root)}:{node.lineno}")
    assert bad == []
