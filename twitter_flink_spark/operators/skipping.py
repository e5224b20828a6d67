"""File-level statistics indexes: Delta/Iceberg-style data skipping.

Parquet row-group statistics prune WITHIN a file, but Spark still lists and
schedules a task for EVERY file under the scan root — at 100 TB a selective
time-slice query pays task startup + footer reads for millions of files it
will read zero rows from. Table formats solve this with file-level index
manifests consulted BEFORE planning: only files that can possibly contain
matching rows are ever scheduled. This module is that manifest layer for
plain parquet directories, two index kinds:

- **min/max envelopes** (``build`` / ``read_between`` / ``read_where``) —
  per-file [min, max] per column, pruning range predicates when the layout
  clusters the column (a random layout's envelopes all span the domain).
  ``read_where`` takes a CONJUNCTION of ranges, so a z-order/space-filling
  layout turns multi-dimensional predicates into multi-envelope pruning.
- **per-file Bloom filters** (``build_bloom`` / ``point_read``) — the
  point-lookup index for high-cardinality keys where envelopes are useless
  (every file's [min, max] spans the key domain under any non-key-sorted
  layout): ~m bits per file regardless of row count, k xxhash64 probes
  select candidate files. The Iceberg-puffin / Delta bloom sidecar story.

The manifests live under the data root (or a sidecar ``index_root``)
with an underscore prefix, so Spark's input listing ignores them — the
``_manifests`` convention. Four layouts, named only in this module:

- ``_filestats`` — the flat stats manifest, one row per file with every
  indexed column's envelope. Written by ``build`` and ``update``.
- ``_filestats2_<col>_parts`` / ``_filestats2_<col>_root`` — the
  two-level stats manifest on one column: per-file rows partitioned by
  a range bucket of the envelope min (``part=<p>``), and a parent row
  per bucket. Written by ``build_two_level`` (and
  ``build_two_level_columns``, one per column), maintained by
  ``update_two_level`` / ``vacuum_two_level``; a single-column
  ``build``/``update`` past ``AUTO_TWO_LEVEL_FILES`` files cuts over to
  it and removes the flat manifest.
- ``_filebloom_<col>`` — the flat Bloom manifest, one word map per
  file. Written by ``build_bloom`` and ``update_bloom``.
- ``_filebloom2_<col>_parts`` / ``_filebloom2_<col>_root`` — the
  key-hash-sharded Bloom manifest (``shard=<s>``) and its parent.
  Written by ``build_bloom_two_level``, maintained by
  ``update_bloom_two_level`` / ``vacuum_bloom_two_level``; the flat
  Bloom build/update cuts over to it the same way.

Other modules reach them only through this module's functions
(``manifest_dirs`` names what a table-dir swap must carry).

All manifests commit through `twitter_flink_spark.commit` (write a
complete generation to pid/thread-unique scratch, publish it with the
atomic pointer swap, ``commit_swap``), so a concurrent reader never sees
a half manifest. ``update`` maintains the stats manifest INCREMENTALLY
on append: only files absent from the committed manifest are scanned,
O(new data) not O(table), the maintenance shape a streaming sink needs.

Every index is candidate-level: readers re-apply the exact predicate as a
residual filter, so over the INDEXED files a lossy selection can only cost
performance, never rows. The indexed view is the contract's boundary:
files appended after the last ``build``/``update`` are invisible to every
read entry point until refreshed — run ``update`` after appends, or guard
with ``stale_file_count`` (== 0 means the index covers the table). Builds
are column-pruned to exactly the indexed columns — O(indexed columns),
not O(table width).

The reference has no storage layer at all (SURVEY.md §2.2 "Scans"); this is
the scan-side pruning story a 100 TB engine needs.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from twitter_flink_spark.commit import (
    commit_swap,
    rm_committed,
    sweep_partitions,
)
from twitter_flink_spark.session import local_frame

STATS_DIR = "_filestats"
BLOOM_DIR = "_filebloom"  #: per-column suffix appended: _filebloom_<col>

#: single-column manifests past this many files auto-cut over to the
#: two-level (manifest-of-manifests) shape — beyond it the O(files) flat
#: consult on the driver is the planning bottleneck the sharded form
#: exists for.
AUTO_TWO_LEVEL_FILES = 65536

_MANIFEST_RE = re.compile(r"_file(?:stats|bloom)\w*")
_STATS2_RE = re.compile(r"_filestats2_(\w+)_parts")


def _at(root: str, index_root: str | None) -> str:
    return index_root if index_root is not None else root


def manifest_dirs(root: str) -> list[str]:
    """Names of the committed manifests under ``root`` (every layout
    above; scratch and generation siblings excluded) — what a swap of
    the whole table dir must carry across (`commit.swap_table_dir`)."""
    return sorted(d for d in os.listdir(root) if _MANIFEST_RE.fullmatch(d))


def _file_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    aggs = [F.count(F.lit(1)).alias("rows")]
    for c in cols:
        aggs += [
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}"),
        ]
    stats = (
        df.select(*cols)
        .withColumn("__file", F.input_file_name())
        .groupBy(F.col("__file").alias("file"))
        .agg(*aggs)
    )
    defaults = {"rows": 0}
    defaults.update({f"nulls_{c}": 0 for c in cols})
    return _with_zero_file_coverage(df, stats, defaults)


def _with_zero_file_coverage(
    df: DataFrame, per_file: DataFrame, defaults: dict
) -> DataFrame:
    """Guarantee ONE manifest row per LISTED file: a zero-row data file
    appears in the scan listing but never in an ``input_file_name()``
    group, so per-file aggregation silently skips it — and an
    incremental ``update`` then counts it as "new" forever (its path
    never enters the known set), breaking the pure-no-op contract and
    the parent total_files repair heuristic. Union a coverage row per
    listed file (``defaults`` for counters/params, NULL envelopes — the
    "unknown" posture selection already keeps) and dedup preferring the
    real row, keyed on the canonical path (``input_file_name()`` and
    ``inputFiles()`` render schemes differently). This is an O(files)
    manifest-side aggregate — the data scan still runs exactly once."""
    listed = df.inputFiles()
    if not listed:
        return per_file
    spark = df.sparkSession
    ghost = local_frame(spark, [(p,) for p in listed], "file string")
    for f in per_file.schema.fields:
        if f.name != "file":
            ghost = ghost.withColumn(
                f.name, F.lit(defaults.get(f.name)).cast(f.dataType)
            )
    merged = per_file.withColumn("__real", F.lit(1)).unionByName(
        ghost.withColumn("__real", F.lit(0))
    )
    picked = [
        # max_by orders only on the marker: the real row wins whenever
        # one exists (and map-typed values — un-orderable by max() —
        # pass through untouched)
        F.max_by(F.col(f.name), F.col("__real")).alias(f.name)
        for f in per_file.schema.fields
    ]
    return (
        merged.groupBy(_norm_sql("file").alias("__k"))
        .agg(*picked)
        .drop("__k")
    )


def build(
    spark: SparkSession,
    root: str,
    cols: list[str],
    index_root: str | None = None,
) -> str:
    """Compute and commit the per-file stats manifest for ``cols`` in ONE
    column-pruned scan (hash aggregate on ``input_file_name()`` — as many
    groups as files). Past ``AUTO_TWO_LEVEL_FILES`` files a SINGLE-column
    build cuts over to the two-level manifest on that column instead —
    no caller inherits the O(files) flat driver consult at the scale it
    stops being viable; the range readers (``select_files`` /
    ``read_where`` / ``read_between`` / ``count_between``) route through
    the shards transparently. ASYMMETRY: a multi-column build NEVER cuts
    over (the two-level shape range-buckets one column); past the
    threshold it stays flat by design — split the columns into
    per-column indexes if the flat consult becomes the bottleneck.
    ``index_root`` writes the manifest under a SIDECAR prefix instead of
    ``root`` (the read-only-lake contract of ``build_two_level_columns``);
    every reader and the update/vacuum sweeps take the same parameter,
    and an auto-cutover lands its two-level dirs under the same
    sidecar."""
    dest = os.path.join(_at(root, index_root), STATS_DIR)
    reader = spark.read.parquet(root)
    if len(cols) == 1 and len(reader.inputFiles()) > AUTO_TWO_LEVEL_FILES:
        _, parent = build_two_level(
            spark, root, cols[0], index_root=index_root
        )
        rm_committed(dest)
        return parent
    commit_swap(_file_stats(reader, cols), dest)
    return dest


def _cut_over(
    root: str, index_root: str | None
) -> dict[str, tuple[str, str]]:
    """The two-level stats manifests a flat entry point routes to: every
    one on the table when it has no flat manifest (it cut over, or was
    indexed per column only), none when the flat manifest exists."""
    if os.path.isdir(os.path.join(_at(root, index_root), STATS_DIR)):
        return {}
    return two_level_columns(root, index_root)


def update(
    spark: SparkSession,
    root: str,
    cols: list[str],
    index_root: str | None = None,
) -> int:
    """Incrementally maintain the stats manifest after appends: scan ONLY
    files absent from the committed manifest (O(new data), not O(table)),
    union their stats with the existing rows, swap. Returns the number of
    newly indexed files; 0 is a pure no-op (no write, no swap). A table
    with no manifest yet is indexed whole — the first refresh is the
    build, so a sink can call this after every commit. Files deleted
    since the last build simply linger as envelopes of nothing —
    candidate-level selection tolerates them; ``vacuum_manifest`` is the
    reconciliation. If the table has already cut over to the two-level
    manifest, this delegates to ``update_two_level``; a single-column
    index grown past ``AUTO_TWO_LEVEL_FILES`` files is rebuilt in the
    two-level shape instead of refreshed flat."""
    cut = _cut_over(root, index_root)
    if cut:
        if len(cols) != 1 or cols[0] not in cut:
            raise ValueError(
                f"table at {root} cut over to two-level manifests on "
                f"{sorted(cut)} (single-column by construction); update "
                f"one indexed column, not a refresh of {cols}"
            )
        return update_two_level(
            spark, root, cols[0], index_root=index_root
        )
    dest = os.path.join(_at(root, index_root), STATS_DIR)
    indexed = os.path.isdir(dest)
    known = {
        norm_path(r["file"])
        for r in spark.read.parquet(dest).select("file").collect()
    } if indexed else set()  # O(files)
    # inputFiles() and input_file_name() render the scheme differently
    # (file:/ vs file:///) — compare on the normalized path
    live = spark.read.parquet(root).inputFiles()
    new = [f for f in live if norm_path(f) not in known]
    if len(cols) == 1 and len(live) > AUTO_TWO_LEVEL_FILES:
        # grown past flat viability: rebuild so the NEXT consult is
        # O(parent + touched shards), not O(files) on the driver
        build_two_level(spark, root, cols[0], index_root=index_root)
        rm_committed(dest)
    elif new:
        fresh = _file_stats(spark.read.parquet(*new), cols)
        if indexed:
            fresh = spark.read.parquet(dest).unionByName(fresh)
        commit_swap(fresh, dest)
    return len(new)


def select_files(
    spark: SparkSession,
    root: str,
    preds: list[tuple[str, object, object]],
    index_root: str | None = None,
) -> tuple[list[str], int]:
    """Files whose envelopes intersect EVERY ``(col, lo, hi)`` half-open
    range in ``preds`` (a conjunction), plus the total file count. Files
    with a NULL min/max keep candidacy (an all-null envelope is unknown —
    never drop what you cannot prove out); rows are decided by the
    caller's residual predicate, the index only decides FILES. On a
    table that has cut over to two-level manifests this is
    ``select_files_multi``: ranges on indexed columns route through
    their shards and intersect; ranges on other columns have no stats
    there and prune nothing (their files stay candidates — the residual
    decides rows), and a conjunction touching ONLY non-indexed columns
    raises rather than misreading the deleted flat manifest. NOTE the
    index serves an INDEXED VIEW of the table: files appended since the
    last ``build``/``update`` are invisible to selection until
    refreshed — run ``update`` after appends (or check
    ``stale_file_count``). ``index_root`` consults a sidecar index
    (see ``build``)."""
    if _cut_over(root, index_root):
        paths, total, _ = select_files_multi(
            spark, root, preds, index_root=index_root
        )
        return paths, total
    manifest = spark.read.parquet(
        os.path.join(_at(root, index_root), STATS_DIR)
    )
    total = manifest.count()
    keep = manifest
    for col, lo, hi in preds:
        keep = keep.where(_may_intersect(col, lo, hi))
    paths = [r["file"] for r in keep.select("file").collect()]  # O(files)
    return paths, total


def _may_intersect(col: str, lo, hi) -> F.Column:
    """A manifest row's envelope may hold a ``lo <= col < hi`` row: it
    intersects the range, or it is unknown (NULL)."""
    mn, mx = F.col(f"min_{col}"), F.col(f"max_{col}")
    return mn.isNull() | mx.isNull() | ((mn < F.lit(hi)) & (mx >= F.lit(lo)))


def _in_range(col: str, lo, hi) -> F.Column:
    """The exact residual ``lo <= col < hi`` over data rows."""
    return (F.col(col) >= F.lit(lo)) & (F.col(col) < F.lit(hi))


def _empty_like(spark: SparkSession, root: str) -> DataFrame:
    return local_frame(spark, [], spark.read.parquet(root).schema)


def read_where(
    spark: SparkSession,
    root: str,
    preds: list[tuple[str, object, object]],
    index_root: str | None = None,
) -> tuple[DataFrame, int, int]:
    """Reader over only the index-selected files for a CONJUNCTION of
    range predicates, with the exact residual already applied (the index
    is candidate-level; the residual makes it lossless). Returns
    (df, files_read, files_total)."""
    paths, total = select_files(spark, root, preds, index_root=index_root)
    if not paths:
        return _empty_like(spark, root), 0, total
    df = spark.read.parquet(*paths)
    for col, lo, hi in preds:
        df = df.where(_in_range(col, lo, hi))
    return df, len(paths), total


def read_between(
    spark: SparkSession,
    root: str,
    col: str,
    lo,
    hi,
    index_root: str | None = None,
) -> tuple[DataFrame, int, int]:
    """Single-column form of ``read_where``."""
    return read_where(spark, root, [(col, lo, hi)], index_root=index_root)


def _split(spark: SparkSession, manifest: DataFrame, col: str, lo, hi, meta):
    """The containment split under every metadata answer, flat or
    two-level. Over ``manifest``'s per-file envelopes, a file fully
    CONTAINED in ``lo <= col < hi`` is answered by the ``meta``
    aggregates (``meta(contained)`` builds them from the contained-row
    condition) and never opened; a file that only intersects the range,
    or carries a NULL envelope (it proves nothing), is a BOUNDARY file,
    returned in one exact-predicate reader (None when there are none).
    One manifest job, which also counts the manifest's files. Returns
    (meta row, boundary reader, files_scanned, manifest_files)."""
    mn, mx = F.col(f"min_{col}"), F.col(f"max_{col}")
    contained = (
        mn.isNotNull() & mx.isNotNull()
        & (mn >= F.lit(lo)) & (mx < F.lit(hi))
    )
    agg = manifest.agg(
        *meta(contained),
        F.count(F.lit(1)).alias("__files"),
        F.collect_list(
            F.when(_may_intersect(col, lo, hi) & ~contained, F.col("file"))
        ).alias("__boundary"),  # O(files), the planner's listing cost
    ).first()
    boundary = list(agg["__boundary"])
    scan = (
        spark.read.parquet(*boundary).where(_in_range(col, lo, hi))
        if boundary
        else None
    )
    return agg, scan, len(boundary), int(agg["__files"])


def _count_split(
    spark: SparkSession, manifest: DataFrame, col: str, lo, hi
) -> tuple[int, int, int]:
    """COUNT(*) over the range: a contained file contributes
    ``rows - nulls_col`` from the manifest (a null never satisfies a
    range predicate — still provable from metadata), the boundary
    files are scanned. Returns (count, files_scanned, manifest_files)."""
    agg, scan, scanned, files = _split(
        spark,
        manifest,
        col,
        lo,
        hi,
        lambda c: [
            F.sum(F.when(c, F.col("rows") - F.col(f"nulls_{col}"))).alias(
                "meta_rows"
            )
        ],
    )
    count = int(agg["meta_rows"] or 0)
    if scan is not None:
        count += scan.count()
    return count, scanned, files


def _minmax_split(
    spark: SparkSession, manifest: DataFrame, col: str, lo, hi
) -> tuple[object, object, int, int]:
    """MIN/MAX over the range: a contained file's envelope IS its
    contribution (parquet stats already exclude nulls), the boundary
    files are scanned, and the extrema combine one candidate pair from
    each side. Returns (min, max, files_scanned, manifest_files)."""
    agg, scan, scanned, files = _split(
        spark,
        manifest,
        col,
        lo,
        hi,
        lambda c: [
            F.min(F.when(c, F.col(f"min_{col}"))).alias("mn"),
            F.max(F.when(c, F.col(f"max_{col}"))).alias("mx"),
        ],
    )
    pairs = [(agg["mn"], agg["mx"])]
    if scan is not None:
        b = scan.agg(F.min(col).alias("mn"), F.max(col).alias("mx")).first()
        pairs.append((b["mn"], b["mx"]))
    mns = [p[0] for p in pairs if p[0] is not None]
    mxs = [p[1] for p in pairs if p[1] is not None]
    return (
        min(mns) if mns else None,
        max(mxs) if mxs else None,
        scanned,
        files,
    )


def count_between(
    spark: SparkSession,
    root: str,
    col: str,
    lo,
    hi,
    index_root: str | None = None,
) -> tuple[int, int, int]:
    """COUNT(*) over ``lo <= col < hi`` answered mostly from METADATA:
    files whose envelope is fully contained in the range contribute
    ``rows - nulls_col`` straight from the manifest (their every non-null
    row matches — no scan, no task, no footer read); only BOUNDARY files
    (intersecting but not contained) are scanned with the exact
    predicate. At scale this is the Iceberg/Delta metadata-only count: a
    15-day slice of a year-partitioned corpus reads two boundary files'
    worth of data instead of 15 days' worth. A file with a NULL
    envelope routes to the scan side — metadata answers only what it
    can PROVE. Counts the INDEXED VIEW: refresh with ``update`` after
    appends. On a two-level-cutover table this routes through
    ``count_between_two_level``. Returns
    (count, files_scanned, files_total)."""
    if _cut_over(root, index_root):
        cnt, scanned, files_total, _, _ = count_between_two_level(
            spark, root, col, lo, hi, index_root=index_root
        )
        return cnt, scanned, files_total
    manifest = spark.read.parquet(
        os.path.join(_at(root, index_root), STATS_DIR)
    )
    return _count_split(spark, manifest, col, lo, hi)


def minmax_between(
    spark: SparkSession,
    root: str,
    col: str,
    lo,
    hi,
    index_root: str | None = None,
) -> tuple[object, object, int, int]:
    """MIN/MAX of ``col`` over ``lo <= col < hi`` with the same
    containment split as ``count_between``: only boundary files are
    scanned. Serves the INDEXED VIEW (refresh with ``update`` after
    appends); on a two-level-cutover table this routes through
    ``minmax_between_two_level``. Returns
    (min, max, files_scanned, files_total);
    (None, None, ...) when the range is empty."""
    if _cut_over(root, index_root):
        mn, mx, scanned, files_total, _, _ = minmax_between_two_level(
            spark, root, col, lo, hi, index_root=index_root
        )
        return mn, mx, scanned, files_total
    manifest = spark.read.parquet(
        os.path.join(_at(root, index_root), STATS_DIR)
    )
    return _minmax_split(spark, manifest, col, lo, hi)


def _keep_live(
    spark: SparkSession, manifest: DataFrame, live: list[str]
) -> tuple[DataFrame, int]:
    """Manifest rows whose ``file`` is in ``live``, plus the count of
    rows that are NOT (the dead entries). Both sides normalize through
    the same canonical form (``norm_path`` / ``_norm_sql``), so the
    semi-join agrees on any filesystem — authority-bearing URIs
    included."""
    live_df = local_frame(
        spark, [(norm_path(f),) for f in live], "path string"
    )
    keep = manifest.join(
        F.broadcast(live_df), _norm_sql("file") == F.col("path"), "left_semi"
    )
    return keep, manifest.count() - keep.count()


def stale_file_count(
    spark: SparkSession, root: str, index_root: str | None = None
) -> int:
    """How many data files under ``root`` the committed envelope index
    does NOT cover — the cheap guard for the indexed-view semantics:
    every read entry point serves only files indexed at the last
    ``build``/``update``, so a caller who appends without refreshing
    gets silently stale (never wrong-for-indexed-rows) results. A
    monitoring job asserts this is 0, or a cautious reader calls
    ``update`` when it isn't. Costs the same O(files) listing a scan
    plan pays. On a cut-over table a file is stale unless EVERY
    two-level manifest covers it. Counts ALL files as stale when no
    index exists."""
    live = {norm_path(f) for f in spark.read.parquet(root).inputFiles()}
    flat = os.path.join(_at(root, index_root), STATS_DIR)
    if os.path.isdir(flat):
        srcs = [flat]
    else:
        srcs = [p for p, _ in two_level_columns(root, index_root).values()]
    if not srcs:
        return len(live)
    known = set.intersection(
        *(
            {
                norm_path(r["file"])
                for r in spark.read.parquet(s).select("file").collect()
            }
            for s in srcs
        )
    )
    return len(live - known)


def vacuum_manifest(
    spark: SparkSession, root: str, index_root: str | None = None
) -> int:
    """Drop stats-manifest rows whose data files no longer exist (left
    behind by compaction/rewrite — harmless to correctness since
    selection is candidate-level, but they cost dead-path read attempts
    and manifest bloat). The live file list is the same O(files) driver
    listing every scan plan pays; the reconciliation is a semi-join on
    paths normalized identically on both sides (``norm_path`` in
    Python, its SQL twin ``_norm_sql`` in the join — the two must never
    diverge or vacuum would drop live rows wholesale). Routes to
    ``vacuum_two_level`` for each manifest of a table that has cut over
    to the sharded shape. Returns the number of rows dropped; 0 is a
    pure no-op (no swap)."""
    cut = _cut_over(root, index_root)
    if cut:
        return sum(
            vacuum_two_level(spark, root, c, index_root=index_root)
            for c in cut
        )
    dest = os.path.join(_at(root, index_root), STATS_DIR)
    manifest = spark.read.parquet(dest)
    keep, dropped = _keep_live(
        spark, manifest, spark.read.parquet(root).inputFiles()
    )
    if not dropped:
        return 0
    commit_swap(keep, dest)
    return dropped


def vacuum_bloom(
    spark: SparkSession,
    root: str,
    col: str,
    index_root: str | None = None,
) -> int:
    """Bloom-manifest twin of ``vacuum_manifest``: drop per-file Bloom
    rows whose data files a compactor rewrote away. Dead Bloom rows are
    worse than dead envelopes — every point read probes them and any
    hash hit schedules a read of a dead path — so the point-lookup
    index needs the same reconciliation the stats manifest gets.
    Routes to ``vacuum_bloom_two_level`` on a table that has cut over
    to the sharded manifest. Returns rows dropped; 0 is a pure no-op
    (no swap)."""
    at = _at(root, index_root)
    dest = _bloom_dir(at, col)
    if not os.path.isdir(dest) and os.path.isdir(
        _bloom2_root_dir(at, col)
    ):
        return vacuum_bloom_two_level(
            spark, root, col, index_root=index_root
        )
    manifest = spark.read.parquet(dest)
    keep, dropped = _keep_live(
        spark, manifest, spark.read.parquet(root).inputFiles()
    )
    if not dropped:
        return 0
    commit_swap(keep, dest)
    return dropped


def manifest_rows(
    spark: SparkSession, root: str, bloom_col: str | None = None
) -> int:
    """Rows of the flat stats manifest — or, with ``bloom_col``, of that
    column's flat Bloom manifest: one per indexed file, so a vacuumed
    manifest's count equals the live file count."""
    dest = (
        os.path.join(root, STATS_DIR)
        if bloom_col is None
        else _bloom_dir(root, bloom_col)
    )
    return spark.read.parquet(dest).count()


def two_level_file_count(spark: SparkSession, root: str, col: str) -> int:
    """Files the two-level stats manifest on ``col`` covers, as its
    parent counts them (a vacuumed manifest's count equals the live
    file count)."""
    _, parent = _two_level_dirs(root, col)
    return int(
        spark.read.parquet(parent).agg(F.sum("n_files")).first()[0] or 0
    )


def bloom_indexed_files(spark: SparkSession, root: str, col: str) -> set[str]:
    """The files ``col``'s flat Bloom manifest covers, as ``norm_path``
    renders them — compare with a normalized listing to find the files
    an ``update_bloom`` would hash."""
    return {
        norm_path(r["file"])
        for r in spark.read.parquet(_bloom_dir(root, col))
        .select("file")
        .collect()
    }


_SCHEME_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*:")


def norm_path(p: str) -> str:
    """Canonical path form for reconciliation joins: strip the URI
    scheme, collapse leading slashes to one. `input_file_name()` renders
    file:/// where `inputFiles()` renders file:/ — both reduce to the
    bare path — and unlike ``urlparse().path`` this KEEPS the authority
    (``s3a://bucket/key`` -> ``/bucket/key``), so both sides of a
    semi-join agree on authority-bearing filesystems (s3a, hdfs, abfs),
    not just local ``file:`` URIs. ``_norm_sql`` is the
    character-for-character SQL twin; change them together."""
    return re.sub(r"^/+", "/", _SCHEME_RE.sub("", p))


def _norm_sql(c) -> F.Column:
    """SQL twin of ``norm_path`` — the SAME two rewrites, so a
    reconciliation that normalizes one side in Python and the other in
    SQL can never disagree on any URI scheme or authority."""
    col = F.col(c) if isinstance(c, str) else c
    return F.regexp_replace(
        F.regexp_replace(col, "^[a-zA-Z][a-zA-Z0-9+.-]*:", ""), "^/+", "/"
    )


# -- two-level manifest (manifest-of-manifests, the Iceberg shape) ----------
#
# One two-level manifest per indexed column, each under its own
# ``_filestats2_<col>_{parts,root}`` dirs. A z-order/cell layout keeps
# SEVERAL columns' per-file envelopes tight at once, and the matching
# planning shape at millions of files is one manifest PER indexed column,
# intersected at plan time (``select_files_multi``): each range predicate
# pays its own KB parent read + touched shards — multi-dimensional
# skipping whose planning cost never touches a flat O(files) manifest.


def _two_level_dirs(
    root: str, col: str, index_root: str | None = None
) -> tuple[str, str]:
    """(parts, parent) dirs of the two-level stats manifest on ``col``."""
    at = _at(root, index_root)
    return (
        os.path.join(at, f"_filestats2_{col}_parts"),
        os.path.join(at, f"_filestats2_{col}_root"),
    )


def build_two_level(
    spark: SparkSession,
    root: str,
    col: str,
    n_parts: int = 16,
    index_root: str | None = None,
) -> tuple[str, str]:
    """The scale-out shape for the manifest ITSELF: at millions of files
    a flat manifest is GBs, and reading all of it per query planning is
    the new bottleneck. Iceberg's answer is a manifest LIST pointing at
    manifest files; this builds the same two levels on parquet: the
    per-file stats manifest is written PARTITIONED by a range bucket of
    ``min_col`` (n_parts dirs), and a tiny parent manifest (one row per
    partition: the UNION envelope of its files' envelopes + file count)
    is what selection reads first — O(partitions), KBs, regardless of
    file count. A file may straddle buckets (its max can exceed its
    bucket's nominal range); correctness holds because the parent
    envelope is the union of CHILD envelopes, not of bucket bounds —
    the parent test is conservative by construction. Null-envelope
    files land in partition -1, whose parent row is always selected.
    ``index_root`` writes both levels under a sidecar prefix (see
    ``build_two_level_columns``). Returns (parts_dir, parent_dir)."""
    parts_dest, root_dest = _two_level_dirs(root, col, index_root)
    stats = _file_stats(spark.read.parquet(root), [col])
    b = stats.agg(
        F.min(f"min_{col}").alias("lo"), F.max(f"min_{col}").alias("hi")
    ).first()
    lo, hi = b["lo"], b["hi"]
    is_ts = str(stats.schema[f"min_{col}"].dataType).startswith("Timestamp")
    lo_us, hi_us = (
        (_to_micros(lo), _to_micros(hi)) if is_ts else (lo, hi)
    )
    parted = stats.withColumn(
        "part", _bucket_expr(col, is_ts, lo_us, hi_us, n_parts)
    )
    commit_swap(parted, parts_dest, partition_by=["part"])
    # bucketing params ride the parent (like Bloom's m/k) so incremental
    # maintenance can never re-bucket with different bounds
    parent = _parent_manifest(parted, col, lo_us, hi_us, n_parts)
    commit_swap(parent, root_dest)
    return parts_dest, root_dest


def _to_micros(v) -> int:
    import calendar

    return (
        calendar.timegm(v.timetuple()) * 1_000_000 + v.microsecond
    )


def _int_floor_div(
    raw: F.Column, lo_us: int, n_buckets: int, span: int
) -> F.Column:
    """``((raw - lo) * n) div span`` in EXACT long arithmetic. The
    old ``F.floor(x * n / span)`` cast the long product to double; for
    micros-domain offsets large enough that ``offset * n`` exceeds
    2^53 the cast can round across an integer boundary, misplacing a
    boundary value by one bucket — which on the histogram path breaks
    the "sound upper bound" contract (the query side buckets with
    Python ``//``). ``div`` is Spark's integral divide: it truncates
    toward zero where ``//`` floors, but they differ only for negative
    numerators and every caller clamps those to bucket 0 anyway."""
    num = ((raw - F.lit(lo_us)) * F.lit(n_buckets)).cast("long")
    return F.call_function("div", num, F.lit(span).cast("long"))


def _bucket_expr(
    col: str, is_ts: bool, lo_us: int, hi_us: int, n_parts: int
) -> F.Column:
    """Range-bucket of ``min_col`` over the ORIGINAL build bounds,
    clamped to [0, n_parts-1] so later files outside the original span
    land in the edge buckets (their parent envelopes extend — parent
    rows are unions of child envelopes, never nominal bounds). NULL
    min -> bucket -1, the always-selected unknowns bucket."""
    raw = (
        F.unix_micros(F.col(f"min_{col}"))
        if is_ts
        else F.col(f"min_{col}")
    )
    span = hi_us - lo_us + 1
    scaled = _int_floor_div(raw, lo_us, n_parts, span)
    return F.when(F.col(f"min_{col}").isNull(), F.lit(-1)).otherwise(
        F.greatest(
            F.lit(0), F.least(F.lit(n_parts - 1), scaled)
        ).cast("int")
    )


HIST_BUCKETS = 32


def _hist_bucket_of(raw: F.Column, lo_us: int, hi_us: int) -> F.Column:
    """Histogram bucket of a raw (micros-normalized) value over the
    build bounds — same floor arithmetic as ``_bucket_expr`` (exact
    long ``div``, matching the query side's Python ``//``), clamped so
    the edge buckets are OPEN (later values outside the original span
    fold into buckets 0 / H-1, mirroring how bucketed files do)."""
    span = hi_us - lo_us + 1
    scaled = _int_floor_div(raw, lo_us, HIST_BUCKETS, span)
    return F.greatest(
        F.lit(0), F.least(F.lit(HIST_BUCKETS - 1), scaled)
    ).cast("int")


def _parent_manifest(
    parted: DataFrame, col: str, lo_us: int, hi_us: int, n_parts: int
) -> DataFrame:
    """One row per manifest partition: union envelope, file count, the
    frozen bucketing params — and two fixed 32-bucket BOUNDARY
    histograms over the BUILD bounds: ``hist_min`` counts each file
    once in the bucket of its envelope MIN, ``hist_max`` in the bucket
    of its envelope MAX. Boundary counts (not intersection counts)
    make the derived estimate exact at bucket granularity with no
    double counting: files missing a range [lo, hi) are exactly those
    with min >= hi plus those with max < lo — two DISJOINT sets a
    boundary histogram lower-bounds from whole buckets strictly
    outside the range, so n_files minus both is a sound upper bound on
    the selection (an intersection histogram, by contrast, counts a
    wide-envelope file into every bucket it spans and its range-sum
    degenerates to n_files). NULL boundaries fold conservatively to
    the edge buckets (never subtracted). Recomputed with the parent at
    every commit point (build / update / vacuum / crash repair), so
    the histograms can never go stale independently of the envelopes
    they refine."""
    is_ts = str(parted.schema[f"min_{col}"].dataType).startswith(
        "Timestamp"
    )
    raw_min, raw_max = (
        (F.unix_micros(F.col(f"min_{col}")), F.unix_micros(F.col(f"max_{col}")))
        if is_ts
        else (F.col(f"min_{col}"), F.col(f"max_{col}"))
    )
    # project each row's bucket ONCE, then count with 32 constant-space
    # sum aggregates per histogram. The original planning blowup — 64
    # aggregates each INLINING the full bucket expression tree — cost
    # ~1 s of Catalyst/codegen per parent recommit on KB-sized data;
    # the fix is the one-shot projection (each aggregate now references
    # a tiny precomputed int), NOT list-buffering: a collect_list here
    # would hold one element per file in a single aggregation buffer,
    # i.e. hundreds of thousands of ints per parent group at the
    # millions-of-files design point, where these sums stay O(1).
    pre = parted.withColumn(
        "__hb_min",
        F.coalesce(_hist_bucket_of(raw_min, lo_us, hi_us), F.lit(0)),
    ).withColumn(
        "__hb_max",
        F.coalesce(
            _hist_bucket_of(raw_max, lo_us, hi_us),
            F.lit(HIST_BUCKETS - 1),
        ),
    )
    grouped = pre.groupBy("part").agg(
        F.min(f"min_{col}").alias("part_min"),
        F.max(f"max_{col}").alias("part_max"),
        F.max(F.col(f"min_{col}").isNull().cast("int")).alias("unknown"),
        F.count(F.lit(1)).alias("n_files"),
        F.lit(int(lo_us)).alias("bucket_lo"),
        F.lit(int(hi_us)).alias("bucket_hi"),
        F.lit(n_parts).alias("n_parts"),
        *[
            F.sum((F.col("__hb_min") == h).cast("long")).alias(
                f"__c_min_{h}"
            )
            for h in range(HIST_BUCKETS)
        ],
        *[
            F.sum((F.col("__hb_max") == h).cast("long")).alias(
                f"__c_max_{h}"
            )
            for h in range(HIST_BUCKETS)
        ],
    )
    return grouped.select(
        "part",
        "part_min",
        "part_max",
        "unknown",
        "n_files",
        "bucket_lo",
        "bucket_hi",
        "n_parts",
        F.array(
            *[F.col(f"__c_min_{h}") for h in range(HIST_BUCKETS)]
        ).alias("hist_min"),
        F.array(
            *[F.col(f"__c_max_{h}") for h in range(HIST_BUCKETS)]
        ).alias("hist_max"),
    )


def update_two_level(
    spark: SparkSession,
    root: str,
    col: str,
    index_root: str | None = None,
) -> int:
    """Incrementally maintain the two-level manifest after appends: stat
    ONLY manifest-absent files (O(new data)), bucket them with the
    parent's STORED bounds (re-bucketing with fresh bounds would scatter
    existing shards), append their rows to exactly the touched shards
    (a partitioned append writes nothing into untouched shard dirs), and
    atomically re-commit the parent — the parent swap is the commit
    point: a crash before it leaves the new files invisible to
    selection, indistinguishable from not-yet-indexed, never wrong.
    Returns the number of newly indexed files; 0 is a pure no-op —
    unless the shards and the parent DISAGREE (a prior run crashed
    between its shard append and its parent swap, or mid-vacuum),
    in which case the parent is recomputed from the shards before
    returning: recovery derives ``known`` from the shards, so without
    this repair a crashed run's files would stay in shards the parent
    envelope never covers and selection would silently miss their rows
    forever."""
    parts_path, parent_path = _two_level_dirs(root, col, index_root)
    sweep_partitions(parts_path)  # a shard a crashed vacuum left aside
    parent = spark.read.parquet(parent_path)
    meta = parent.select("bucket_lo", "bucket_hi", "n_parts").first()
    shards = spark.read.parquet(parts_path)
    known = {
        norm_path(r["file"]) for r in shards.select("file").collect()
    }  # O(files), maintenance-time only — planning never reads this flat
    new = [
        f
        for f in spark.read.parquet(root).inputFiles()
        if norm_path(f) not in known
    ]
    if not new:
        covered = parent.agg(F.sum("n_files")).first()[0] or 0
        if covered != len(known):  # crashed append/vacuum: repair parent
            commit_swap(
                _parent_manifest(
                    shards,
                    col,
                    meta["bucket_lo"],
                    meta["bucket_hi"],
                    meta["n_parts"],
                ),
                parent_path,
            )
        return 0
    fresh = _file_stats(spark.read.parquet(*new), [col])
    is_ts = str(fresh.schema[f"min_{col}"].dataType).startswith("Timestamp")
    fresh = fresh.withColumn(
        "part",
        _bucket_expr(
            col, is_ts, meta["bucket_lo"], meta["bucket_hi"], meta["n_parts"]
        ),
    )
    fresh.write.mode("append").partitionBy("part").parquet(parts_path)
    all_rows = spark.read.parquet(parts_path)
    parent = _parent_manifest(
        all_rows, col, meta["bucket_lo"], meta["bucket_hi"], meta["n_parts"]
    )
    commit_swap(parent, parent_path)
    return len(new)


def vacuum_two_level(
    spark: SparkSession,
    root: str,
    col: str,
    index_root: str | None = None,
) -> int:
    """Two-level twin of ``vacuum_manifest``: after a compactor rewrite,
    shard rows referencing dead paths are reconciled away PER SHARD —
    only shards that actually contain dead rows are rewritten (their
    dir swapped atomically; a fully-dead shard rewrites to an empty
    schema-bearing dir whose parent row vanishes), then
    the parent is recomputed from the surviving shards and recommitted.
    Untouched shards stay byte-identical — at millions of files a
    compaction of one era rewrites a handful of shard files, not the
    whole manifest. Crash-safe without being atomic end-to-end: a crash
    after some shard swaps leaves the parent's envelopes a conservative
    SUPERSET of its children (dropping children only shrinks the true
    union), so selection stays lossless, and the next
    ``update_two_level`` detects the shards/parent count disagreement
    and repairs the parent; a crash inside a shard's first swap leaves
    that shard aside, and the next maintenance call puts it back.
    Returns shard rows dropped; 0 is a pure no-op (no swap, no parent
    recommit)."""
    parts_path, parent_path = _two_level_dirs(root, col, index_root)
    meta = spark.read.parquet(parent_path).select(
        "bucket_lo", "bucket_hi", "n_parts"
    ).first()
    dropped = _vacuum_shards(spark, root, parts_path, "part")
    if not dropped:
        return 0
    survivors = spark.read.parquet(parts_path)
    commit_swap(
        _parent_manifest(
            survivors,
            col,
            meta["bucket_lo"],
            meta["bucket_hi"],
            meta["n_parts"],
        ),
        parent_path,
    )
    return dropped


def _vacuum_shards(
    spark: SparkSession, root: str, parts_path: str, part_col: str
) -> int:
    """Shared per-shard reconciliation under both two-level vacuums:
    find shards holding rows whose data files no longer exist under
    ``root``, rewrite ONLY those shard dirs without their dead rows
    (atomic swap each; a fully-dead shard rewrites to an empty
    schema-bearing dir so partition discovery keeps working), leave
    every other shard byte-identical. A shard a crashed rewrite left
    aside is put back first. Returns rows dropped; the caller
    recommits its parent manifest."""
    sweep_partitions(parts_path)
    live_df = local_frame(
        spark,
        [
            (norm_path(f),)
            for f in spark.read.parquet(root).inputFiles()
        ],
        "path string",
    )
    shards = spark.read.parquet(parts_path)
    dead_per_part = {
        r[part_col]: r["n_dead"]
        for r in shards.join(
            F.broadcast(live_df),
            _norm_sql("file") == F.col("path"),
            "left_anti",
        )
        .groupBy(part_col)
        .agg(F.count(F.lit(1)).alias("n_dead"))
        .collect()
    }  # O(touched shards) rewrites follow; nothing else is reread
    for part in sorted(dead_per_part):
        shard_dir = os.path.join(parts_path, f"{part_col}={part}")
        keep = spark.read.parquet(shard_dir).join(
            F.broadcast(live_df),
            _norm_sql("file") == F.col("path"),
            "left_semi",
        )
        # one task per shard REWRITE (`commit_swap` writes coalesce(1))
        # is deliberate — shard row counts are bounded by files/n_parts
        # (metadata scale), and vacuum touches only dead-row shards; a
        # pathological 1-shard index would serialize here, but such an
        # index has already lost its reason to exist (build with a
        # larger n_parts)
        commit_swap(keep, shard_dir)
    return int(sum(dead_per_part.values()))


def select_files_two_level(
    spark: SparkSession,
    root: str,
    col: str,
    lo,
    hi,
    index_root: str | None = None,
) -> tuple[list[str], int, int, int]:
    """Two-phase selection: the PARENT manifest (O(partitions)) picks
    which manifest partitions can contain intersecting files; only those
    partition dirs of the file manifest are then read for the per-file
    envelope test. The full manifest is never scanned — the planning
    cost at a million files is a KB parent read plus the touched
    manifest shards. Returns (paths, files_total, parts_read,
    parts_total); files_total comes from the parent's counts, not a
    manifest scan."""
    parts, parent = _two_level_dirs(root, col, index_root)
    chosen, files_total, parts_total, _, _ = _parent_plan(
        spark, parent, lo, hi
    )
    paths = _shard_select(spark, col, lo, hi, parts, chosen)
    return paths, files_total, len(chosen), parts_total


def _hist_estimate(r, lo, hi) -> int:
    """Histogram refinement of one chosen parent row's file-count bound.
    A file MISSES [lo, hi) iff its min >= hi or its max < lo — disjoint
    sets; every file whose min falls in a bucket strictly above the
    bucket containing hi-1 certainly has min >= hi, and every file
    whose max falls in a bucket strictly below the bucket containing lo
    certainly has max < lo, so ``n_files`` minus both whole-bucket
    tails is a sound upper bound on the selection (exact when the
    query boundaries align with bucket boundaries). Falls back to
    ``n_files`` for unknown-envelope rows."""
    if (
        r["hist_min"] is None
        or r["hist_max"] is None
        or r["unknown"] == 1
    ):
        return int(r["n_files"])
    import datetime

    qlo, qhi = lo, hi
    if isinstance(qlo, datetime.datetime):
        qlo, qhi = _to_micros(qlo), _to_micros(qhi)
    lo_us, hi_us = int(r["bucket_lo"]), int(r["bucket_hi"])
    span = hi_us - lo_us + 1
    h = HIST_BUCKETS

    def bucket(v: int) -> int:
        return max(0, min(h - 1, ((int(v) - lo_us) * h) // span))

    # [qlo, qhi) on an integer/micros domain: last included value qhi-1
    h_lo, h_hi = bucket(qlo), bucket(int(qhi) - 1)
    min_above = sum(r["hist_min"][h_hi + 1 :])
    max_below = sum(r["hist_max"][:h_lo])
    return max(0, int(r["n_files"]) - int(min_above) - int(max_below))


def _parent_plan(
    spark: SparkSession, parent_dir: str, lo, hi
) -> tuple[list, int, int, int, int]:
    """Phase 1 of a two-level consult — the O(partitions) parent read:
    which manifest partitions can contain intersecting files. Returns
    (chosen_parts, files_total, parts_total, est_files, est_bound).
    ``est_bound`` is the chosen partitions' file count — the coarse
    upper bound on the files this predicate can select; ``est_files``
    refines it through each chosen row's value histogram (how many of
    the partition's files actually intersect the queried slice), still
    a sound upper bound but sharp enough to order consults by real
    selectivity when partition file counts alone cannot distinguish a
    thin slice from a full sweep. Both are available BEFORE any shard
    is read."""
    rows = spark.read.parquet(parent_dir).collect()  # planner's tiny read
    parts_total = len(rows)
    files_total = sum(r["n_files"] for r in rows)
    chosen = [
        r
        for r in rows
        if r["unknown"] == 1
        or (r["part_min"] is not None and r["part_min"] < hi and r["part_max"] >= lo)
    ]
    est_bound = sum(r["n_files"] for r in chosen)
    est_files = sum(_hist_estimate(r, lo, hi) for r in chosen)
    return (
        [r["part"] for r in chosen],
        files_total,
        parts_total,
        est_files,
        est_bound,
    )


def _shards(spark: SparkSession, parts_dir: str, chosen: list) -> DataFrame:
    """Phase 2 of a two-level consult reads ONLY the chosen shards."""
    return spark.read.parquet(
        *[os.path.join(parts_dir, f"part={p}") for p in chosen]
    )


def _shard_select(
    spark: SparkSession, col: str, lo, hi, parts_dir: str, chosen: list
) -> list[str]:
    """Phase 2 of a two-level selection: the per-file envelope test over
    the chosen manifest shards."""
    if not chosen:
        return []
    keep = _shards(spark, parts_dir, chosen).where(_may_intersect(col, lo, hi))
    return [r["file"] for r in keep.select("file").collect()]


def count_between_two_level(
    spark: SparkSession,
    root: str,
    col: str,
    lo,
    hi,
    index_root: str | None = None,
) -> tuple[int, int, int, int, int]:
    """The full 100 TB composition: COUNT(*) over a range with the
    parent manifest picking manifest shards, the touched shards
    splitting files into CONTAINED (answered as ``rows - nulls`` from
    shard metadata, never opened) and BOUNDARY (scanned with the exact
    predicate) — so the query's I/O is one KB parent read + the touched
    manifest shards + only the boundary data files; neither the flat
    manifest nor any interior file is ever read. Returns
    (count, files_scanned, files_total, parts_read, parts_total)."""
    parts, parent = _two_level_dirs(root, col, index_root)
    chosen, files_total, parts_total, _, _ = _parent_plan(
        spark, parent, lo, hi
    )
    if not chosen:
        return 0, 0, files_total, 0, parts_total
    cnt, scanned, _ = _count_split(
        spark, _shards(spark, parts, chosen), col, lo, hi
    )
    return cnt, scanned, files_total, len(chosen), parts_total


def minmax_between_two_level(
    spark: SparkSession,
    root: str,
    col: str,
    lo,
    hi,
    index_root: str | None = None,
) -> tuple[object, object, int, int, int, int]:
    """Two-level twin of ``minmax_between``: the parent picks manifest
    shards, the touched shards split files into CONTAINED (their
    envelope IS their min/max contribution — never opened) and BOUNDARY
    (scanned with the exact predicate). The freshness probe an ops
    dashboard fires every minute against a 100 TB table: one KB parent
    read + touched shards + only boundary data files. Returns
    (min, max, files_scanned, files_total, parts_read, parts_total);
    (None, None, ...) when the range is empty."""
    parts, parent = _two_level_dirs(root, col, index_root)
    chosen, files_total, parts_total, _, _ = _parent_plan(
        spark, parent, lo, hi
    )
    if not chosen:
        return None, None, 0, files_total, 0, parts_total
    mn, mx, scanned, _ = _minmax_split(
        spark, _shards(spark, parts, chosen), col, lo, hi
    )
    return mn, mx, scanned, files_total, len(chosen), parts_total


def read_between_two_level(
    spark: SparkSession,
    root: str,
    col: str,
    lo,
    hi,
    index_root: str | None = None,
) -> tuple[DataFrame, int, int, int, int]:
    """Reader over the two-level-selected files with the exact residual.
    Returns (df, files_read, files_total, parts_read, parts_total)."""
    paths, files_total, parts_read, parts_total = select_files_two_level(
        spark, root, col, lo, hi, index_root=index_root
    )
    if not paths:
        return _empty_like(spark, root), 0, files_total, parts_read, parts_total
    df = spark.read.parquet(*paths).where(_in_range(col, lo, hi))
    return df, len(paths), files_total, parts_read, parts_total


def build_two_level_columns(
    spark: SparkSession,
    root: str,
    cols: list[str],
    n_parts: int = 16,
    index_root: str | None = None,
) -> dict[str, tuple[str, str]]:
    """One two-level manifest per column (``build_two_level`` each): one
    build scan per column, column-pruned to it.

    ``index_root`` detaches the index LOCATION from the data: manifests
    are written under it instead of ``root`` while their ``file``
    entries still point at ``root``'s files — the shape for indexing a
    table the indexer cannot (or must not) write into, e.g. a shared
    read-only lake path whose serving team owns only a sidecar prefix.
    Every consumer (`two_level_columns`, `select_files_multi`,
    `read_where_multi`, the update/vacuum sweeps) takes the same
    parameter; a sidecar index is otherwise indistinguishable from an
    embedded one."""
    return {
        c: build_two_level(spark, root, c, n_parts, index_root=index_root)
        for c in cols
    }


def two_level_columns(
    root: str, index_root: str | None = None
) -> dict[str, tuple[str, str]]:
    """Discover every two-level stats manifest on ``root`` (or the
    sidecar ``index_root`` when the index lives beside a read-only
    table): col -> (parts_dir, parent_dir). Directory listing only — no
    data read."""
    at = _at(root, index_root)
    try:
        entries = os.listdir(at)
    except OSError:
        return {}
    out: dict[str, tuple[str, str]] = {}
    for d in sorted(entries):
        m = _STATS2_RE.fullmatch(d)
        if m is not None:
            parts, parent = _two_level_dirs(root, m.group(1), index_root)
            if os.path.isdir(parent):
                out[m.group(1)] = (parts, parent)
    return out


def update_two_level_columns(
    spark: SparkSession, root: str, index_root: str | None = None
) -> dict[str, int]:
    """Incremental refresh of EVERY discovered two-level manifest after
    appends — per column, O(new files) each. Returns col -> new files."""
    return {
        c: update_two_level(spark, root, c, index_root=index_root)
        for c in two_level_columns(root, index_root)
    }


def vacuum_two_level_columns(
    spark: SparkSession, root: str, index_root: str | None = None
) -> dict[str, int]:
    """Per-shard reconciliation of EVERY discovered two-level manifest.
    Returns col -> shard rows dropped."""
    return {
        c: vacuum_two_level(spark, root, c, index_root=index_root)
        for c in two_level_columns(root, index_root)
    }


def select_files_multi(
    spark: SparkSession,
    root: str,
    preds: list[tuple[str, object, object]],
    plan_out: dict | None = None,
    index_root: str | None = None,
) -> tuple[list[str], int, int]:
    """Files whose envelopes intersect EVERY ``(col, lo, hi)`` range,
    resolved by INTERSECTING per-column two-level selections: each
    predicate with an index pays one parent read + its touched shards;
    predicates on unindexed columns prune nothing (no stats — the
    caller's residual decides their rows, candidate-level as always).

    Consults are SELECTIVITY-ORDERED: every indexed predicate's parent
    manifest (a KB read each) is consulted first, and the shard reads —
    the part that costs real I/O at millions of files — run
    cheapest-estimate-first, where the estimate is the parent-chosen
    partitions' file count REFINED through each parent row's 32-bucket
    envelope-boundary histograms (files provably missing the queried
    slice subtract out — still a sound upper bound on that predicate's
    selection, but it tells a thin slice of a dense partition apart
    from a full sweep, which bare file counts cannot). Once the
    running intersection is EMPTY the remaining
    predicates' shard reads are skipped entirely — they cannot remove
    anything from an empty set. At a million files a dead conjunction
    (disjoint ranges) therefore costs O(columns) parent reads and ONE
    cheap shard consult, not every column's shards.

    Returns (paths, files_total, indexed_preds); ``files_total`` is the
    MAX across the per-column parents, so the reported total (which
    feeds callers' index-pruned flags) does not depend on predicate
    order when per-column manifests were refreshed at different times —
    refresh them together via ``update_two_level_columns``. Raises when
    NO predicate column has a two-level manifest — that conjunction has
    no index to serve it (build one, or use the flat ``select_files``).
    ``plan_out``, when given, receives the consult plan for audit:
    ``consult_order`` (cols, cheapest first), ``est_files`` per col
    (histogram-refined), ``est_bound_files`` (the coarse chosen-
    partition count bound the histogram sharpened), ``selected_files``
    (actual per-col selections, for consults that ran), and
    ``shards_skipped`` (count of parent-chosen shards never read
    thanks to the empty-intersection early exit)."""
    indexes = two_level_columns(root, index_root)
    consults = []
    files_total = 0
    for col, lo, hi in preds:
        if col not in indexes:
            continue
        parts, parent = indexes[col]
        chosen, total, _, est, bound = _parent_plan(
            spark, parent, lo, hi
        )
        files_total = max(files_total, total)
        consults.append((est, col, lo, hi, parts, chosen, bound))
    if not consults:
        raise ValueError(
            f"no two-level manifest on {root} covers any of "
            f"{sorted({c for c, _, _ in preds})}; build_two_level_columns "
            "first (or use the flat select_files)"
        )
    consults.sort(key=lambda t: (t[0], t[1]))  # ties break on col name
    sel: dict[str, str] | None = None
    shards_skipped = 0
    selected: dict[str, int] = {}
    for est, col, lo, hi, parts, chosen, _bound in consults:
        if sel is not None and not sel:
            shards_skipped += len(chosen)  # empty ∩ stays empty
            continue
        paths = _shard_select(spark, col, lo, hi, parts, chosen)
        selected[col] = len(paths)
        cur = {norm_path(p): p for p in paths}
        sel = cur if sel is None else {
            n: p for n, p in sel.items() if n in cur
        }
    if plan_out is not None:
        plan_out["consult_order"] = [c[1] for c in consults]
        plan_out["est_files"] = {c[1]: c[0] for c in consults}
        plan_out["est_bound_files"] = {c[1]: c[6] for c in consults}
        plan_out["selected_files"] = selected
        plan_out["shards_skipped"] = shards_skipped
    return list(sel.values()), files_total, len(consults)


def read_where_multi(
    spark: SparkSession,
    root: str,
    preds: list[tuple[str, object, object]],
    index_root: str | None = None,
) -> tuple[DataFrame, int, int]:
    """Reader over the intersection-selected files with every exact
    range re-applied as the residual (lossless regardless of which
    predicates had indexes). Returns (df, files_read, files_total)."""
    paths, total, _ = select_files_multi(
        spark, root, preds, index_root=index_root
    )
    if not paths:
        return _empty_like(spark, root), 0, total
    df = spark.read.parquet(*paths)
    for col, lo, hi in preds:
        df = df.where(_in_range(col, lo, hi))
    return df, len(paths), total


# -- per-file Bloom index (point lookups on unclustered keys) ---------------


def _bloom_dir(root: str, col: str) -> str:
    return os.path.join(root, f"{BLOOM_DIR}_{col}")


def _positions(col: F.Column, m: int, k: int) -> list[F.Column]:
    return [
        F.pmod(F.xxhash64(F.lit(i), col), F.lit(m)) for i in range(k)
    ]


def _bloom_bit_cond(positions) -> F.Column:
    """ALL-k-bits-set test over a manifest row's ``bloom`` word map for
    the probe's precomputed positions. Java longs are signed
    two's-complement, so bit 63's mask rewraps negative."""
    cond = None
    for p in positions:
        w, bit = int(p) >> 6, int(p) & 63
        mask = (1 << bit) - (1 << 64) if bit == 63 else (1 << bit)
        c = (
            F.coalesce(F.element_at("bloom", F.lit(w)), F.lit(0)).bitwiseAND(
                F.lit(mask).cast("long")
            )
            != 0
        )
        cond = c if cond is None else (cond & c)
    return cond


def build_bloom(
    spark: SparkSession,
    root: str,
    col: str,
    m: int = 1 << 17,
    k: int = 3,
    index_root: str | None = None,
) -> str:
    """Commit a per-file Bloom manifest for ``col``: each file's keys set
    k xxhash64 positions in an m-bit set, packed DISTRIBUTED into 64-bit
    words (`bit_or` over `shiftleft`) and stored as one map<word, bits>
    row per file — ~m bits per file AT MOST, independent of row count,
    and sparse files pay only their touched words. The whole build is one
    column-pruned scan + two hash aggregates; nothing returns to the
    driver. m, k ride along as manifest columns so lookups can never
    probe with mismatched parameters. Past ``AUTO_TWO_LEVEL_FILES``
    files the build cuts over to the
    SHARDED Bloom manifest — every point read would otherwise scan all
    files' word maps — and ``point_read``/``bloom_select_files`` route
    through the shards transparently."""
    if m % 64:
        raise ValueError(f"m must be a multiple of 64, got {m}")
    at = _at(root, index_root)
    reader = spark.read.parquet(root)
    if len(reader.inputFiles()) > AUTO_TWO_LEVEL_FILES:
        _, parent = build_bloom_two_level(
            spark, root, col, m=m, k=k, index_root=index_root
        )
        rm_committed(_bloom_dir(at, col))
        return parent
    dest = _bloom_dir(at, col)
    commit_swap(_bloom_manifest(reader, col, m, k), dest)
    return dest


def _bloom_manifest(df: DataFrame, col: str, m: int, k: int) -> DataFrame:
    src = df.select(col).withColumn("__file", F.input_file_name())
    pos = src.select(
        "__file",
        F.explode(F.array(*_positions(F.col(col), m, k))).alias("p"),
    ).distinct()
    words = pos.groupBy(
        "__file", (F.col("p") / 64).cast("int").alias("w")
    ).agg(F.bit_or(F.expr("shiftleft(1L, cast(p % 64 as int))")).alias("bits"))
    per_file = words.groupBy(F.col("__file").alias("file")).agg(
        F.map_from_entries(F.collect_list(F.struct("w", "bits"))).alias(
            "bloom"
        ),
        F.lit(m).alias("m"),
        F.lit(k).alias("k"),
    )
    # zero-row files: a NULL word map probes to "no hit" (element_at on
    # NULL -> NULL -> coalesce 0) — never selected, always covered
    return _with_zero_file_coverage(df, per_file, {"m": m, "k": k})


def update_bloom(
    spark: SparkSession,
    root: str,
    col: str,
    index_root: str | None = None,
) -> int:
    """Incrementally maintain the Bloom manifest after appends: hash ONLY
    files absent from the committed manifest (O(new data), not O(table))
    with the manifest's OWN m/k (parameters ride along as columns exactly
    so a refresh can never probe-skew the index), union, swap. Returns
    the number of newly indexed files; 0 is a pure no-op. Delegates to
    ``update_bloom_two_level`` on a table that has cut over to the
    sharded manifest; a flat manifest grown past
    ``AUTO_TWO_LEVEL_FILES`` files upgrades after the refresh."""
    at = _at(root, index_root)
    dest = _bloom_dir(at, col)
    if not os.path.isdir(dest) and os.path.isdir(
        _bloom2_root_dir(at, col)
    ):
        return update_bloom_two_level(
            spark, root, col, index_root=index_root
        )
    manifest = spark.read.parquet(dest)
    m, k = manifest.select("m", "k").first()
    known = {
        norm_path(r["file"]) for r in manifest.select("file").collect()
    }  # O(files)
    live = spark.read.parquet(root).inputFiles()
    new = [f for f in live if norm_path(f) not in known]
    if new:
        fresh = _bloom_manifest(
            spark.read.parquet(*new), col, int(m), int(k)
        )
        commit_swap(manifest.unionByName(fresh), dest)
    if len(live) > AUTO_TWO_LEVEL_FILES:
        # grown past flat viability: upgrade so the NEXT probe reads one
        # shard dir instead of every file's word map
        build_bloom_two_level(
            spark, root, col, m=int(m), k=int(k), index_root=index_root
        )
        rm_committed(dest)
    return len(new)


def bloom_select_files(
    spark: SparkSession,
    root: str,
    col: str,
    value,
    index_root: str | None = None,
) -> tuple[list[str], int]:
    """Candidate files for ``col = value``: probe every file's Bloom map
    with the k positions of ``value``. Positions are computed through the
    SAME Spark hash expressions the build used — on a 1-row literal frame
    cast to the indexed column's type — so probe and build can never skew
    (the bucket-routing idiom of `IncrementalMV.lookup`). On a table that
    has cut over to the sharded Bloom manifest, routes through the
    one-shard probe transparently."""
    at = _at(root, index_root)
    if not os.path.isdir(_bloom_dir(at, col)) and os.path.isdir(
        _bloom2_root_dir(at, col)
    ):
        paths, total, _, _ = bloom2_select_files(
            spark, root, col, value, index_root=index_root
        )
        return paths, total
    manifest = spark.read.parquet(_bloom_dir(at, col))
    total = manifest.count()
    m, k = manifest.select("m", "k").first()
    dtype = spark.read.parquet(root).schema[col].dataType
    probe = F.lit(value).cast(dtype)
    pos = (
        spark.range(1)
        .select(F.array(*_positions(probe, m, k)).alias("ps"))
        .first()["ps"]
    )  # k ints, 1-row collect
    paths = [
        r["file"]
        for r in manifest.where(_bloom_bit_cond(pos)).select("file").collect()
    ]
    return paths, total


def point_read(
    spark: SparkSession,
    root: str,
    col: str,
    value,
    index_root: str | None = None,
) -> tuple[DataFrame, int, int]:
    """Reader over only the Bloom-candidate files for ``col = value``,
    exact equality re-applied as the residual (false positives die here —
    no false negatives by Bloom construction). Returns
    (df, files_read, files_total)."""
    paths, total = bloom_select_files(
        spark, root, col, value, index_root=index_root
    )
    if not paths:
        return _empty_like(spark, root), 0, total
    df = spark.read.parquet(*paths).where(F.col(col) == F.lit(value))
    return df, len(paths), total


# -- two-level Bloom manifest (key-hash-sharded point-lookup index) ---------
#
# The flat Bloom manifest has the same millions-of-files problem the flat
# stats manifest has: every point read scans EVERY file's word map. The
# envelope index shards by value range; a hash index shards by KEY HASH:
# each file's keys scatter their bits into per-(file, shard) word maps,
# partitioned on disk by shard, and a probe computes its key's shard and
# opens exactly ONE shard dir — 1/n_shards of the manifest bytes, while a
# tiny parent manifest carries n_files / m / k / n_shards. Lossless by
# construction: every bit a key set lives in that key's shard, so probing
# only that shard can produce false positives, never false negatives.


def _bloom2_parts_dir(root: str, col: str) -> str:
    return os.path.join(root, f"{BLOOM_DIR}2_{col}_parts")


def _bloom2_root_dir(root: str, col: str) -> str:
    return os.path.join(root, f"{BLOOM_DIR}2_{col}_root")


def _bloom_shard_expr(key: F.Column, n_shards: int) -> F.Column:
    """Key-hash shard assignment; seed -1 keeps it independent of the k
    position hashes (seeds 0..k-1), so shard routing and bit positions
    are uncorrelated."""
    return F.pmod(F.xxhash64(F.lit(-1), key), F.lit(n_shards)).cast("int")


def _bloom2_shard_rows(
    df: DataFrame, col: str, m: int, k: int, n_shards: int
) -> DataFrame:
    """(file, shard, bloom) rows: each key's k positions land in ITS
    shard's word map — same distributed word packing as the flat build,
    with shard as an extra group key."""
    src = df.select(col).withColumn("__file", F.input_file_name())
    pos = src.select(
        "__file",
        _bloom_shard_expr(F.col(col), n_shards).alias("shard"),
        F.explode(F.array(*_positions(F.col(col), m, k))).alias("p"),
    ).distinct()
    words = pos.groupBy(
        "__file", "shard", (F.col("p") / 64).cast("int").alias("w")
    ).agg(F.bit_or(F.expr("shiftleft(1L, cast(p % 64 as int))")).alias("bits"))
    rows = words.groupBy(F.col("__file").alias("file"), "shard").agg(
        F.map_from_entries(F.collect_list(F.struct("w", "bits"))).alias(
            "bloom"
        )
    )
    # COVERAGE shard -1: one row per listed file regardless of row count,
    # so zero-row files enter the known set (otherwise "new" forever and
    # the parent's total_files repair never stabilizes). Probes route by
    # key hash into [0, n_shards) and never open shard=-1; the parent
    # excludes it; per-file counts go through the normalized distinct.
    listed = df.inputFiles()
    if listed:
        ghost = (
            local_frame(df.sparkSession, [(p,) for p in listed], "file string")
            .withColumn("shard", F.lit(-1).cast("int"))
            .withColumn("bloom", F.lit(None).cast("map<int,bigint>"))
        )
        rows = rows.unionByName(ghost)
    return rows


def _bloom2_parent(
    shards: DataFrame, m: int, k: int, n_shards: int, total_files: int
) -> DataFrame:
    """Per-shard parent rows, including two KEY-COUNT sketches derived
    purely from the shard word maps (never a data re-scan — the parent
    is recomputed at every commit point, vacuum and crash repair
    included, so the sketches can only depend on what those paths
    already read): ``est_sum_file_keys`` sums the Swamidass–Baldi
    cardinality estimate ``-(m/k)·ln(1 − X/m)`` (X = set bits) over
    each file's map, and ``est_shard_keys`` applies the same estimator
    to the shard's UNION map (bit_or across files per word) — distinct
    keys in the shard. Their ratio is the expected number of files
    containing a random key, which is what orders multi-point consults
    by real selectivity when per-shard file counts tie (an ESTIMATE for
    ordering, not a bound — ``n_files`` stays the sound bound)."""
    # shard -1 holds coverage rows, not probeable word maps
    shards = shards.where(F.col("shard") >= 0)
    mk = float(m) / float(k)

    def _cardinality(x: F.Column) -> F.Column:
        # clamp X to m-1: a saturated filter still yields a finite
        # (huge) estimate instead of -inf
        frac = F.least(x, F.lit(m - 1)).cast("double") / F.lit(float(m))
        return -F.lit(mk) * F.log(F.lit(1.0) - frac)

    x_file = F.aggregate(
        F.map_values("bloom"),
        F.lit(0).cast("long"),
        lambda acc, bits: acc + F.bit_count(bits).cast("long"),
    )
    per_shard = shards.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(_cardinality(x_file)).alias("est_sum_file_keys"),
    )
    union_bits = (
        shards.select("shard", F.explode(F.map_entries("bloom")).alias("e"))
        .groupBy("shard", F.col("e.key").alias("w"))
        .agg(F.bit_or(F.col("e.value")).alias("bits"))
        .groupBy("shard")
        .agg(F.sum(F.bit_count("bits").cast("long")).alias("xu"))
        .select("shard", _cardinality(F.col("xu")).alias("est_shard_keys"))
    )
    return per_shard.join(union_bits, "shard", "left").select(
        "shard",
        "n_files",
        F.lit(m).alias("m"),
        F.lit(k).alias("k"),
        F.lit(n_shards).alias("n_shards"),
        F.lit(total_files).alias("total_files"),
        "est_sum_file_keys",
        "est_shard_keys",
    )


def build_bloom_two_level(
    spark: SparkSession,
    root: str,
    col: str,
    m: int = 1 << 17,
    k: int = 3,
    n_shards: int = 16,
    index_root: str | None = None,
) -> tuple[str, str]:
    """Commit the sharded Bloom manifest: per-(file, shard) word maps
    partitioned by shard (one build scan, everything distributed), plus
    the parent manifest carrying m/k/n_shards/total_files so probes and
    refreshes can never skew parameters. One point read later opens one
    shard dir out of n_shards."""
    if m % 64:
        raise ValueError(f"m must be a multiple of 64, got {m}")
    df = spark.read.parquet(root)
    total_files = len(df.inputFiles())
    rows = _bloom2_shard_rows(df, col, m, k, n_shards)
    at = _at(root, index_root)
    parts_dest = _bloom2_parts_dir(at, col)
    commit_swap(rows, parts_dest, partition_by=["shard"])
    parent_dest = _bloom2_root_dir(at, col)
    commit_swap(
        _bloom2_parent(
            spark.read.parquet(parts_dest), m, k, n_shards, total_files
        ),
        parent_dest,
    )
    return parts_dest, parent_dest


def update_bloom_two_level(
    spark: SparkSession,
    root: str,
    col: str,
    index_root: str | None = None,
) -> int:
    """Incrementally maintain the sharded Bloom manifest: hash ONLY
    manifest-absent files with the parent's stored m/k/n_shards, append
    into only the touched shard dirs, recommit the parent — the commit
    point, with the same crash repair as ``update_two_level``: on the
    no-new-files fast path a shards/parent disagreement (a prior run
    crashed between append and parent swap) recommits the parent, since
    recovery derives ``known`` from the shards. Returns newly indexed
    files; 0 is a pure no-op."""
    at = _at(root, index_root)
    parent_path = _bloom2_root_dir(at, col)
    parts_path = _bloom2_parts_dir(at, col)
    sweep_partitions(parts_path)  # a shard a crashed vacuum left aside
    parent = spark.read.parquet(parent_path)
    meta = parent.select("m", "k", "n_shards").first()
    m, k, n_shards = int(meta["m"]), int(meta["k"]), int(meta["n_shards"])
    shards = spark.read.parquet(parts_path)
    known = {
        norm_path(r["file"])
        for r in shards.select("file").distinct().collect()
    }  # O(files), maintenance-time only
    new = [
        f
        for f in spark.read.parquet(root).inputFiles()
        if norm_path(f) not in known
    ]
    if not new:
        covered = parent.select("total_files").first()[0] or 0
        if covered != len(known):  # crashed append/vacuum: repair parent
            commit_swap(
                _bloom2_parent(shards, m, k, n_shards, len(known)),
                parent_path,
            )
        return 0
    fresh = _bloom2_shard_rows(spark.read.parquet(*new), col, m, k, n_shards)
    fresh.write.mode("append").partitionBy("shard").parquet(parts_path)
    all_rows = spark.read.parquet(parts_path)
    commit_swap(
        _bloom2_parent(all_rows, m, k, n_shards, len(known) + len(new)),
        parent_path,
    )
    return len(new)


def vacuum_bloom_two_level(
    spark: SparkSession,
    root: str,
    col: str,
    index_root: str | None = None,
) -> int:
    """Sharded-Bloom twin of ``vacuum_two_level``: reconcile dead shard
    rows away per shard (only touched shard dirs rewritten), recommit
    the parent. Same crash posture: a crash between shard swaps and the
    parent recommit leaves stale counts the next update repairs, and
    dead rows are never a correctness issue (candidate-level). Returns
    rows dropped; 0 is a pure no-op."""
    at = _at(root, index_root)
    parent_path = _bloom2_root_dir(at, col)
    parts_path = _bloom2_parts_dir(at, col)
    parent = spark.read.parquet(parent_path)
    meta = parent.select("m", "k", "n_shards").first()
    if meta is None:  # nothing indexed (all shards already vacuumed away)
        return 0
    m, k, n_shards = int(meta["m"]), int(meta["k"]), int(meta["n_shards"])
    dropped = _vacuum_shards(spark, root, parts_path, "shard")
    if not dropped:
        return 0
    survivors = spark.read.parquet(parts_path)
    # distinct over the CANONICAL path: coverage rows (shard -1) render
    # paths via inputFiles(), word-map rows via input_file_name()
    total_files = (
        survivors.select(_norm_sql("file").alias("f")).distinct().count()
    )
    new_parent = _bloom2_parent(survivors, m, k, n_shards, total_files)
    if not new_parent.head(1):
        # every row died (the table was fully rewritten before the next
        # update): keep a parameter-carrying sentinel so m/k/n_shards —
        # which ride the parent — survive to re-anchor the next update;
        # probes see zero probeable shards and select nothing
        new_parent = local_frame(
            spark,
            [(-1, 0, m, k, n_shards, total_files, 0.0, 0.0)],
            "shard int, n_files long, m int, k int, n_shards int, "
            "total_files long, est_sum_file_keys double, "
            "est_shard_keys double",
        )
    commit_swap(new_parent, parent_path)
    return dropped


def bloom2_select_files(
    spark: SparkSession,
    root: str,
    col: str,
    value,
    index_root: str | None = None,
) -> tuple[list[str], int, int, int]:
    """Candidate files for ``col = value`` through the sharded index:
    the parent (O(n_shards), KBs) supplies the probe parameters, the
    key's OWN hash picks exactly one shard dir, and only that shard's
    per-file word maps are probed — computed through the same Spark
    hash expressions as the build, on a 1-row literal frame cast to the
    column type, so probe and index can never skew. Returns
    (paths, total_files, shards_read, shards_total). ``index_root``
    probes a sidecar index (see ``build_two_level_columns``)."""
    at = _at(root, index_root)
    parent_rows = spark.read.parquet(_bloom2_root_dir(at, col)).collect()
    if not parent_rows:
        # an empty table, or every file vacuumed away: nothing can match
        return [], 0, 0, 0
    meta = parent_rows[0]  # every row (sentinel included) carries m/k
    shards_total = sum(1 for r in parent_rows if int(r["shard"]) >= 0)
    if not shards_total:  # param-sentinel only: fully-vacuumed index
        return [], int(meta["total_files"]), 0, 0
    m, k, n_shards = int(meta["m"]), int(meta["k"]), int(meta["n_shards"])
    total_files = int(meta["total_files"])
    dtype = spark.read.parquet(root).schema[col].dataType
    probe = F.lit(value).cast(dtype)
    row = (
        spark.range(1)
        .select(
            _bloom_shard_expr(probe, n_shards).alias("s"),
            F.array(*_positions(probe, m, k)).alias("ps"),
        )
        .first()
    )  # 1-row collect: shard id + k positions
    shard_dir = os.path.join(
        _bloom2_parts_dir(at, col), f"shard={int(row['s'])}"
    )
    if not os.path.isdir(shard_dir):
        return [], total_files, 0, shards_total
    manifest = spark.read.parquet(shard_dir)
    paths = [
        r["file"]
        for r in manifest.where(_bloom_bit_cond(row["ps"]))
        .select("file")
        .collect()
    ]
    return paths, total_files, 1, shards_total


def point_read_two_level(
    spark: SparkSession,
    root: str,
    col: str,
    value,
    index_root: str | None = None,
) -> tuple[DataFrame, int, int, int, int]:
    """Reader over the sharded-Bloom candidates for ``col = value``,
    exact equality re-applied as the residual. Returns
    (df, files_read, files_total, shards_read, shards_total)."""
    paths, total, sr, st = bloom2_select_files(
        spark, root, col, value, index_root=index_root
    )
    if not paths:
        return _empty_like(spark, root), 0, total, sr, st
    df = spark.read.parquet(*paths).where(F.col(col) == F.lit(value))
    return df, len(paths), total, sr, st

def point_select_files_multi(
    spark: SparkSession,
    root: str,
    eq_preds: list[tuple[str, object]],
    plan_out: dict | None = None,
    index_root: str | None = None,
) -> tuple[list[str], int, int]:
    """Candidate files for a CONJUNCTION of point-equality predicates,
    each served by its column's SHARDED Bloom index, with consults
    ordered by the parent's per-shard KEY-COUNT sketches — the
    point-lookup twin of ``select_files_multi``'s histogram ordering
    (round-11 verdict item 2): shard file counts alone cannot tell a
    high-cardinality key column (each key in ~1 file — probing it first
    shrinks the running intersection to almost nothing) from a
    low-cardinality one (each key in every file — its probe prunes
    nothing), but ``est_sum_file_keys / est_shard_keys`` — the expected
    number of files containing a random key, derived at maintenance
    time purely from the Bloom word maps (Swamidass–Baldi on per-file
    and union fill) — can. The estimate orders consults; it is NOT a
    bound (``n_files`` stays the sound bound, reported as
    ``bound_files``). Once the running intersection is EMPTY the
    remaining columns' shard scans are skipped — a point conjunction
    with one absent key costs O(columns) KB parent reads plus ONE shard
    probe. Per-column planning work is one parent collect (O(n_shards)
    rows) and one 1-row shard/positions job — independent of file
    count. Columns with no sharded-Bloom index are skipped (the
    caller's residual decides their rows, candidate-level as always);
    raises when NO predicate column has one. Returns
    (paths, files_total, indexed_preds). ``plan_out`` receives
    ``consult_order`` / ``est_files`` / ``bound_files`` /
    ``selected_files`` / ``shards_skipped`` for audit."""
    import math

    at = _at(root, index_root)
    schema = spark.read.parquet(root).schema
    consults = []
    files_total = 0
    for col, value in eq_preds:
        parent_dir = _bloom2_root_dir(at, col)
        if not os.path.isdir(parent_dir):
            continue
        parent_rows = spark.read.parquet(parent_dir).collect()
        if not parent_rows:
            consults.append((0, col, -1, [], 0))
            continue
        meta = parent_rows[0]  # every row (sentinel included) carries m/k
        m, k = int(meta["m"]), int(meta["k"])
        n_shards = int(meta["n_shards"])
        files_total = max(files_total, int(meta["total_files"]))
        probe = F.lit(value).cast(schema[col].dataType)
        row = (
            spark.range(1)
            .select(
                _bloom_shard_expr(probe, n_shards).alias("s"),
                F.array(*_positions(probe, m, k)).alias("ps"),
            )
            .first()
        )  # 1-row collect: shard id + k positions
        sid = int(row["s"])
        srow = next(
            (r for r in parent_rows if int(r["shard"]) == sid), None
        )
        if srow is None:
            # the key's shard holds no files: the key cannot exist
            consults.append((0, col, sid, row["ps"], 0))
            continue
        n_files = int(srow["n_files"])
        sum_keys = srow["est_sum_file_keys"]
        shard_keys = srow["est_shard_keys"]
        if sum_keys and shard_keys:
            est = min(
                n_files,
                max(1, math.ceil(float(sum_keys) / float(shard_keys))),
            )
        else:  # a shard without keys carries no estimate
            est = n_files
        consults.append((est, col, sid, row["ps"], n_files))
    if not consults:
        raise ValueError(
            f"no sharded Bloom manifest on {root} covers any of "
            f"{sorted({c for c, _ in eq_preds})}; build_bloom_two_level "
            "first (or probe flat with bloom_select_files)"
        )
    consults.sort(key=lambda t: (t[0], t[1]))  # ties break on col name
    sel: dict[str, str] | None = None
    shards_skipped = 0
    selected: dict[str, int] = {}
    for est, col, sid, ps, n_files in consults:
        if sel is not None and not sel:
            shards_skipped += 1  # empty ∩ stays empty
            continue
        shard_dir = os.path.join(
            _bloom2_parts_dir(at, col), f"shard={sid}"
        )
        if sid < 0 or not os.path.isdir(shard_dir):
            selected[col] = 0
            sel = {}
            continue
        manifest = spark.read.parquet(shard_dir)
        paths = [
            r["file"]
            for r in manifest.where(_bloom_bit_cond(ps))
            .select("file")
            .collect()
        ]
        selected[col] = len(paths)
        cur = {norm_path(p): p for p in paths}
        sel = cur if sel is None else {
            n: p for n, p in sel.items() if n in cur
        }
    if plan_out is not None:
        plan_out["consult_order"] = [c[1] for c in consults]
        plan_out["est_files"] = {c[1]: c[0] for c in consults}
        plan_out["bound_files"] = {c[1]: c[4] for c in consults}
        plan_out["selected_files"] = selected
        plan_out["shards_skipped"] = shards_skipped
    return list(sel.values()), files_total, len(consults)


def point_read_multi(
    spark: SparkSession,
    root: str,
    eq_preds: list[tuple[str, object]],
    plan_out: dict | None = None,
    index_root: str | None = None,
) -> tuple[DataFrame, int, int]:
    """Reader over the intersection of per-column sharded-Bloom
    candidates with every exact equality re-applied as the residual
    (false positives die here; lossless regardless of which columns had
    indexes). Returns (df, files_read, files_total)."""
    paths, total, _ = point_select_files_multi(
        spark, root, eq_preds, plan_out=plan_out, index_root=index_root
    )
    if not paths:
        return _empty_like(spark, root), 0, total
    df = spark.read.parquet(*paths)
    for col, value in eq_preds:
        df = df.where(F.col(col) == F.lit(value))
    return df, len(paths), total

def select_files_mixed(
    spark: SparkSession,
    root: str,
    range_preds: list[tuple[str, object, object]],
    eq_preds: list[tuple[str, object]],
    plan_out: dict | None = None,
    index_root: str | None = None,
) -> tuple[list[str], int, int]:
    """ONE selectivity-ordered consult over a conjunction that mixes
    RANGE predicates (served by per-column two-level envelope
    manifests) and POINT-equality predicates (served by sharded Bloom
    manifests): every index family's parent is read first (KBs each),
    each predicate gets a files-upper-bound estimate in the same unit —
    histogram-refined chosen-partition counts for ranges
    (`_parent_plan`), key-count-sketch expected-files-per-key for
    points (`_bloom2_parent`) — and the real I/O (envelope shard reads,
    Bloom shard probes) runs cheapest-estimate-first with the
    empty-intersection early exit. This is the planner a real
    dashboard predicate needs (`WHERE user_id = ? AND ts BETWEEN ...`):
    neither family alone serves it, and consulting them in a fixed
    order wastes shard reads whenever the other side is the selective
    one. Predicates on unindexed columns are skipped (the caller's
    residual decides their rows); raises when NO predicate has an
    index. Returns (paths, files_total, indexed_preds); ``plan_out``
    gets ``consult_order`` (col names, ``=``-suffixed for point
    consults), ``est_files``, ``bound_files``, ``selected_files``,
    ``shards_skipped``."""
    import math

    at = _at(root, index_root)
    consults = []  # (est, key, bound, runner)
    files_total = 0
    indexes = two_level_columns(root, index_root)
    for col, lo, hi in range_preds:
        if col not in indexes:
            continue
        parts, parent = indexes[col]
        chosen, total, _, est, bound = _parent_plan(spark, parent, lo, hi)
        files_total = max(files_total, total)

        def run_range(c=col, l=lo, h=hi, p=parts, ch=chosen):
            return _shard_select(spark, c, l, h, p, ch)

        consults.append((est, col, bound, run_range))
    schema = None
    for col, value in eq_preds:
        parent_dir = _bloom2_root_dir(at, col)
        if not os.path.isdir(parent_dir):
            continue
        parent_rows = spark.read.parquet(parent_dir).collect()
        if not parent_rows:
            consults.append((0, f"{col}=", 0, lambda: []))
            continue
        meta = parent_rows[0]
        m, k = int(meta["m"]), int(meta["k"])
        n_shards = int(meta["n_shards"])
        files_total = max(files_total, int(meta["total_files"]))
        if schema is None:
            schema = spark.read.parquet(root).schema
        probe = F.lit(value).cast(schema[col].dataType)
        row = (
            spark.range(1)
            .select(
                _bloom_shard_expr(probe, n_shards).alias("s"),
                F.array(*_positions(probe, m, k)).alias("ps"),
            )
            .first()
        )  # 1-row collect
        sid = int(row["s"])
        srow = next(
            (r for r in parent_rows if int(r["shard"]) == sid), None
        )
        if srow is None:
            consults.append((0, f"{col}=", 0, lambda: []))
            continue
        n_files = int(srow["n_files"])
        sk, uk = srow["est_sum_file_keys"], srow["est_shard_keys"]
        est = (
            min(n_files, max(1, math.ceil(float(sk) / float(uk))))
            if sk and uk
            else n_files
        )

        def run_point(c=col, s=sid, ps=row["ps"]):
            shard_dir = os.path.join(
                _bloom2_parts_dir(at, c), f"shard={s}"
            )
            if not os.path.isdir(shard_dir):
                return []
            return [
                r["file"]
                for r in spark.read.parquet(shard_dir)
                .where(_bloom_bit_cond(ps))
                .select("file")
                .collect()
            ]

        consults.append((est, f"{col}=", n_files, run_point))
    if not consults:
        raise ValueError(
            f"no two-level or sharded-Bloom index on {root} covers any "
            f"of {sorted({c for c, *_ in range_preds})} / "
            f"{sorted({c for c, _ in eq_preds})}"
        )
    consults.sort(key=lambda t: (t[0], t[1]))
    sel: dict[str, str] | None = None
    shards_skipped = 0
    selected: dict[str, int] = {}
    for est, key, bound, run in consults:
        if sel is not None and not sel:
            shards_skipped += 1
            continue
        paths = run()
        selected[key] = len(paths)
        cur = {norm_path(p): p for p in paths}
        sel = cur if sel is None else {
            n: p for n, p in sel.items() if n in cur
        }
    if plan_out is not None:
        plan_out["consult_order"] = [c[1] for c in consults]
        plan_out["est_files"] = {c[1]: c[0] for c in consults}
        plan_out["bound_files"] = {c[1]: c[2] for c in consults}
        plan_out["selected_files"] = selected
        plan_out["shards_skipped"] = shards_skipped
    return list(sel.values()), files_total, len(consults)


def read_where_mixed(
    spark: SparkSession,
    root: str,
    range_preds: list[tuple[str, object, object]],
    eq_preds: list[tuple[str, object]],
    plan_out: dict | None = None,
    index_root: str | None = None,
) -> tuple[DataFrame, int, int]:
    """Reader over the mixed-consult intersection with EVERY exact
    predicate (ranges and equalities) re-applied as the residual —
    lossless regardless of which predicates had indexes. Returns
    (df, files_read, files_total)."""
    paths, total, _ = select_files_mixed(
        spark,
        root,
        range_preds,
        eq_preds,
        plan_out=plan_out,
        index_root=index_root,
    )
    if not paths:
        return _empty_like(spark, root), 0, total
    df = spark.read.parquet(*paths)
    for col, lo, hi in range_preds:
        df = df.where(_in_range(col, lo, hi))
    for col, value in eq_preds:
        df = df.where(F.col(col) == F.lit(value))
    return df, len(paths), total
