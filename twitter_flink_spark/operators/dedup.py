"""Deduplication operators for LLM training-data pipelines: exact,
MinHash+LSH, SimHash, and n-gram Jaccard.

Portability contract: every hash is built from `md5(string)` (identical hex
output in Spark and DuckDB), so the DuckDB oracle computes byte-identical
signatures — the dedup output is fully deterministic and oracle-checkable,
unlike library MinHash implementations with engine-private hash functions.

Scale design:
- Shingling + signatures are one explode + one hash-aggregate per doc
  (partial agg; shuffle carries k mins per doc, not shingles).
- LSH banding turns the O(n^2) near-dup search into an equi self-join on
  (band, band_hash) — at 100 TB the join shuffles on band hash and only
  bucket-mates meet. Bucket skew (a degenerate band value) is handled by
  AQE skew-join splitting.
- Jaccard verification joins only the candidate pairs (LSH output), never
  the full cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from twitter_flink_spark.commit import (
    append_files,
    commit_swap,
    observed_count,
    publish_partitions,
    sweep_partitions,
)

MINHASH_K = 16  #: number of hash functions (signature length)
LSH_BANDS = 8  #: bands of r = K/BANDS rows each; catch-prob at J=0.8 ≈ 0.9997


def doc_shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                 ngram: int = 3, carry_cols: tuple[str, ...] = ()) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    Documents with fewer than ``ngram`` tokens produce no shingles (and thus
    never appear in candidate pairs) — mirrored in the oracle.
    ``carry_cols`` are doc-grain columns copied onto every shingle row
    (e.g. a blocking key) so callers never need a doc-keyed join to get
    them back.
    """
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n - (ngram - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, ngram)),
        )
    )
    return (
        docs.where(n >= ngram)
        .select(
            F.col(id_col),
            *[F.col(c) for c in carry_cols],
            F.explode(shingles).alias("shingle"),
        )
    )


def minhash_signature(shingled: DataFrame, id_col: str = "doc_id",
                      k: int = MINHASH_K) -> DataFrame:
    """MinHash signature: k columns h0..h{k-1}, each the lexicographic min of
    md5(f"{i}:{shingle}") over the doc's shingles. One hash-aggregate."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"h{i}")
        for i in range(k)
    ]
    return shingled.groupBy(id_col).agg(*aggs)


def lsh_bands(signatures: DataFrame, id_col: str = "doc_id",
              k: int = MINHASH_K, bands: int = LSH_BANDS) -> DataFrame:
    """Band the signature: (id, band, band_hash) with band_hash =
    md5(concat of the band's r signature entries).

    Single pass: build all band hashes as an array of structs and
    posexplode — a union of per-band selects would re-derive the whole
    signature aggregation (and its parquet scan) once per band.
    """
    r = k // bands
    band_hashes = F.array(
        *[
            F.md5(F.concat(*[F.col(f"h{b * r + j}") for j in range(r)]))
            for b in range(bands)
        ]
    )
    return signatures.select(
        F.col(id_col), F.posexplode(band_hashes).alias("band", "band_hash")
    )


def lsh_candidate_pairs(bands_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Self-join on (band, band_hash): distinct candidate pairs (doc_a <
    doc_b). Equi-join — no cross product; AQE splits skewed buckets."""
    a = bands_df.select(
        F.col(id_col).alias("doc_a"), "band", "band_hash"
    )
    b = bands_df.select(
        F.col(id_col).alias("doc_b"), "band", "band_hash"
    )
    return (
        a.join(b, on=["band", "band_hash"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def jaccard_verify(pairs: DataFrame, shingled: DataFrame,
                   threshold: float = 0.5) -> DataFrame:
    """Exact shingle-set Jaccard for each candidate pair; keep >= threshold.
    Joins shingles only against candidates (semi-scope), never all-pairs."""
    sizes = shingled.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    sa = shingled.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = shingled.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        pairs.join(sa, on="doc_a")
        .join(sb, on=["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"),
                                F.col("sz").alias("sz_a")), on="doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"),
                           F.col("sz").alias("sz_b")), on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def jaccard_verify_sets(pairs: DataFrame, sets: DataFrame,
                        threshold: float = 0.5) -> DataFrame:
    """`jaccard_verify` against a per-doc shingle-SET table (one row per
    doc: ``(doc_id, sh array)``, e.g. the staged
    `queries.dedup._staged_shingle_sets`): the candidate side broadcasts
    through two joins and ``array_intersect`` supplies the intersection
    — same round-6 formula and identical results (sets are distinct by
    `doc_shingles`' array_distinct), but never a scan or shuffle of the
    exploded shingle table. Right shape when candidates are few and the
    corpus is large — every post-LSH verification. Zero-overlap pairs
    are dropped BEFORE the threshold filter (``n_inter > 0``) so the
    equivalence holds unconditionally: `jaccard_verify`'s shingle
    inner-join loses such pairs structurally, and without the guard a
    ``threshold <= 0`` caller would see them here but not there."""
    n_inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        F.broadcast(pairs.select("doc_a", "doc_b"))
        .join(
            sets.select(
                F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")
            ),
            on="doc_a",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")
            ),
            on="doc_b",
        )
        .where(n_inter > 0)
        .select(
            "doc_a",
            "doc_b",
            F.round(
                n_inter / (F.size("sh_a") + F.size("sh_b") - n_inter), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_near_dup_pairs(docs: DataFrame, threshold: float = 0.5,
                           ngram: int = 3) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → sign → band → candidate
    → exact-Jaccard verify. Deterministic (md5) ⇒ oracle-checkable.

    The shingle table feeds both the signature aggregate and the Jaccard
    verify (3 consumers after the candidate self-join), so it is persisted
    spill-safely rather than re-exploded per consumer; at cluster scale the
    same role is played by checkpointing the shingle table to distributed
    storage once and scanning it per stage.
    """
    from twitter_flink_spark.sources.tables import spread

    # spread the docs before shingling: 16 md5-mins per shingle is the
    # dominant cost, and a single-split input would run it all in one task
    shingled = doc_shingles(spread(docs, "doc_id"), ngram=ngram).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # signatures are one row per doc (tiny); both sides of the band
    # self-join consume them, and re-deriving means 16 md5-min aggregates
    # over every shingle — twice.
    sigs = minhash_signature(shingled).persist(StorageLevel.MEMORY_AND_DISK)
    cands = lsh_candidate_pairs(lsh_bands(sigs))
    return jaccard_verify(cands, shingled, threshold=threshold)


def simhash16(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """16-bit SimHash fingerprint per document, as a 16-char '0'/'1' string.

    Token hash = md5(token); nibble j (hex digit at position j) contributes
    +1 to bit j if >= 8 else -1; bit = 1 iff the signed sum >= 0. String
    output keeps it engine-portable (no 64-bit unsigned arithmetic).
    """
    from twitter_flink_spark.sources.tables import spread

    tok = spread(docs, id_col).select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
    ).where(F.col("token") != "")
    hashed = tok.select(id_col, F.md5(F.col("token")).alias("h"))
    digit_exprs = []
    for j in range(16):
        d = F.instr(F.lit("0123456789abcdef"), F.substring(F.col("h"), j + 1, 1)) - 1
        digit_exprs.append(
            F.sum(F.when(d >= 8, 1).otherwise(-1)).alias(f"s{j}")
        )
    sums = hashed.groupBy(id_col).agg(*digit_exprs)
    bits = F.concat(
        *[F.when(F.col(f"s{j}") >= 0, "1").otherwise("0") for j in range(16)]
    )
    return sums.select(F.col(id_col), bits.alias("simhash"))


# ---------------------------------------------------------------------------
# Portable bloom filter (incremental ingest dedup)


def _bloom_pos(i: int, m: int, col: str = "shingle") -> F.Column:
    """Bit position of hash function ``i``: the first 8 md5 hex digits of
    ``'bloom{i}:' || value`` as an integer, mod ``m`` — byte-identical in
    DuckDB via positional digit sums, like every hash in this module."""
    hexv = F.substring(
        F.md5(F.concat(F.lit(f"bloom{i}:"), F.col(col))), 1, 8
    )
    return (F.conv(hexv, 16, 10).cast("long") % m).alias(f"p{i}")


def shingle_bloom_bits(
    prior_shingles: DataFrame, m: int, k: int
) -> DataFrame:
    """The SET bIT positions of a bloom filter over a prior corpus's
    shingles: one column ``bit_pos``, at most ``min(m, k * n_shingles)``
    rows.

    This is the artifact an incremental ingest pipeline persists between
    runs: bounded by ``m`` REGARDLESS of prior-corpus size, so it
    broadcasts to every executor probing a new batch — the prior corpus
    itself is never re-read, never joined, never shuffled. Built with one
    map-side projection over distinct shingles plus a distinct on an
    integer key. False-positive rate is the textbook
    ``(1 - e^(-k*n/m))^k``; false negatives are impossible (the membership
    test below can only over-report, never miss a true duplicate)."""
    distinct_sh = prior_shingles.select("shingle").distinct()
    pos = F.explode(
        F.array(*[_bloom_pos(i, m) for i in range(k)])
    ).alias("bit_pos")
    return distinct_sh.select(pos).distinct()


def bloom_shingle_hits(
    inc_shingles: DataFrame,
    bloom_bits: DataFrame,
    m: int,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Probe (id, shingle) rows against a broadcast bloom bit-set:
    (id, n_shingles, n_hits) where a shingle HITS iff all ``k`` of its bit
    positions are set. One broadcast left-join on the integer bit position
    — the incoming batch streams through, nothing shuffles until the
    per-doc count."""
    probe = inc_shingles.select(
        F.col(id_col),
        F.col("shingle"),
        F.explode(F.array(*[_bloom_pos(i, m) for i in range(k)])).alias(
            "bit_pos"
        ),
    )
    marked = probe.join(
        F.broadcast(bloom_bits.withColumn("__set", F.lit(1))),
        on="bit_pos",
        how="left",
    )
    sh_hit = marked.groupBy(id_col, "shingle").agg(
        (F.count("__set") == k).cast("int").alias("hit")
    )
    return sh_hit.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum("hit").cast("long").alias("n_hits"),
    )


# ---------------------------------------------------------------------------
# Prefix-filtering set-similarity join (PPJoin-style, exact)


def prefix_filter_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    block_col: str | None = None,
) -> DataFrame:
    """EXACT all-pairs Jaccard >= ``threshold`` over word-``ngram``
    SHINGLE sets (the same granularity MinHash uses — raw token sets are
    degenerate on templated corpora, where a third of all doc pairs share
    half their vocabulary), via prefix filtering (Chaudhuri et al. /
    PPJoin): order each doc's shingles globally rarest-first (by
    (df, shingle) — comparing the tuple directly, so no global rank table
    is ever materialized), and index only each doc's first
    ``|x| - ceil(t*|x|) + 1`` shingles. Two sets with J >= t MUST share
    at least one prefix element (pigeonhole on the (1-t)|x| elements a
    match may miss), so the prefix equi-join is a LOSSLESS candidate
    generator — unlike MinHash banding there is no recall loss to tune,
    which is why the oracle can be the naive all-pairs join itself.

    Scale: the inverted index is built on prefixes only (~(1-t) of the
    shingle table, and the rarest-first order makes prefix elements the
    LOW document-frequency ones — candidate lists per key stay short, the
    exact opposite of joining on boilerplate shingles); candidates
    shuffle on the shingle key; the PPJoin positional filter then prunes
    matches whose in-prefix positions cap the achievable overlap below
    the J >= t floor (772 -> 27 candidate pairs at sf0.01/t=0.5, vs 25
    true pairs — see PLANS.md) before the verification joins, which probe
    each surviving pair against per-doc shingle-set profiles, never
    re-exploding. Losslessness of prefix+length+positional together is
    property-swept against brute force in
    tests/test_properties.py::test_prefix_filter_join_is_lossless.

    ``block_col`` restricts pairs to documents sharing that blocking key
    (SURVEY §13's port of the PPJoin bound to the blocked n-gram Jaccard
    family): document frequencies — and therefore the rarest-first
    shingle order every bound depends on — are computed WITHIN each
    block (a doc belongs to exactly one block, so both members of any
    candidate pair sort their shingles by the same per-block df and the
    positional filter stays lossless), and the prefix index joins on
    (block, shingle), which both shrinks candidate lists and co-keys the
    shuffle with the blocking strategy."""
    block = [block_col] if block_col else []
    tok = doc_shingles(
        docs, id_col=id_col, text_col=text_col, ngram=ngram,
        carry_cols=tuple(block),
    ).select(F.col(id_col), *block, F.col("shingle").alias("token"))
    df_counts = tok.groupBy(*block, "token").agg(
        F.count(F.lit(1)).alias("df")
    )
    prof = (
        tok.join(df_counts, [*block, "token"])
        .groupBy(id_col, *block)
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(df, token))),"
                " s -> s.token)"
            ).alias("toks"),
            F.count(F.lit(1)).alias("sz"),
        )
        .withColumn(
            "plen",
            (F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1).cast(
                "int"
            ),
        )
        # three consumers (prefix explode + both verify sides) — persist
        # instead of re-running tokenize+df+sort per consumer, the same
        # profile-reuse discipline as minhash_near_dup_pairs above
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    prefix = prof.select(
        F.col(id_col),
        *block,
        "sz",
        F.posexplode(F.expr("slice(toks, 1, plen)")).alias("pos", "token"),
    )
    a = prefix.select(
        F.col(id_col).alias("doc_a"),
        *block,
        F.col("sz").alias("za"),
        F.col("pos").alias("pa"),
        "token",
    )
    b = prefix.select(
        F.col(id_col).alias("doc_b"),
        *block,
        F.col("sz").alias("zb"),
        F.col("pos").alias("pb"),
        "token",
    )
    # length filter (lossless): J >= t forces t*|x| <= |y| <= |x|/t.
    # positional filter (PPJoin, also lossless): a prefix match at
    # 0-based positions (pa, pb) bounds the overlap by
    #   1 + min(|x| - pa - 1, |y| - pb - 1)
    # (this match plus whatever remains AFTER it in the shared
    # rarest-first order), which must reach the J >= t overlap floor
    # ceil(t/(1+t) * (|x|+|y|)). Valid for the pair's FIRST common
    # prefix element (nothing common precedes it); later matches may
    # over-survive, which only costs verification work, never recall.
    # The 1e-9 slack makes the float ceil round DOWN at exact-rational
    # boundaries — under-pruning is safe, over-pruning would lose pairs.
    # Both filters prune the join output BEFORE the dedup+verify joins.
    min_overlap = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("za") + F.col("zb"))
        - F.lit(1e-9)
    )
    cands = (
        a.join(b, [*block, "token"])
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("zb") >= F.lit(threshold) * F.col("za"))
            & (F.col("za") >= F.lit(threshold) * F.col("zb"))
            & (
                1
                + F.least(
                    F.col("za") - F.col("pa") - 1,
                    F.col("zb") - F.col("pb") - 1,
                )
                >= min_overlap
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    pa = prof.select(
        F.col(id_col).alias("doc_a"),
        F.col("toks").alias("ta"),
        F.col("sz").alias("sa"),
    )
    pb = prof.select(
        F.col(id_col).alias("doc_b"),
        F.col("toks").alias("tb"),
        F.col("sz").alias("sb"),
    )
    return (
        cands.join(pa, "doc_a")
        .join(pb, "doc_b")
        .withColumn("ni", F.size(F.array_intersect("ta", "tb")))
        .withColumn(
            "jaccard",
            F.col("ni") / (F.col("sa") + F.col("sb") - F.col("ni")),
        )
        .where(F.col("jaccard") >= threshold)
        .select(
            "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
        )
    )


# ---------------------------------------------------------------------------
# Incremental LSH index: probe + extend without recomputing the corpus

#: coverage-marker band id: one ``(doc_id, -1, str(doc_id))`` row per
#: fully-indexed doc, written/renamed AFTER the doc's band rows, so
#: "covered" is a pushed-filter scan of 1/(bands+1) of the index instead
#: of an O(index) count_distinct groupBy per update. The marker hash is
#: the doc's own id (unique), so even an unfiltered (band, band_hash)
#: self-join can never pair two markers.
COVER_BAND = -1

#: tombstone band id: one ``(doc_id, -2, str(doc_id))`` row per DELETED
#: doc. A tombstone wins over everything — the doc serves in no candidate
#: pair and is never re-signed by an update (its coverage marker stays,
#: so redelivery still sees it as covered) — until `lsh_index_compact`
#: physically rewrites the index without it. Same unique-hash trick as
#: the markers, so an unfiltered self-join can never pair two tombstones.
TOMB_BAND = -2

#: number of doc_id-hash SEGMENTS a segmented index is partitioned into
#: (``seg=N/`` Hive dirs). Every row of a doc — bands, coverage marker,
#: tombstone — lands in the one segment pmod(xxhash64(doc_id), nseg)
#: selects, so delete-compaction rewrites ONLY tombstone-bearing
#: segments (the IVF cell-local precedent, `operators/ivf.py`) instead
#: of anti-join-rewriting the whole index. The count rides every row as
#: the ``nseg`` column — like ngram/k/bands, so an append can never
#: place rows with a skewed segment function even across code versions
#: (a mismatch would silently strand a doc's band rows in a segment
#: compaction never rewrites). At 100 TB raise it (segments ≈ index
#: size / target rewrite quantum); 16 keeps test layouts readable.
LSH_SEGMENTS = 16


def _seg_expr(nseg: int):
    """The segment of a doc's rows: type-agnostic stable hash of the id."""
    return F.pmod(F.xxhash64(F.col("doc_id")), F.lit(int(nseg))).cast(
        "int"
    )


def _segmented(df: DataFrame, nseg: int) -> DataFrame:
    """``df`` with each row's ``seg`` column, hash-partitioned on it so
    a segmented write puts one file per segment."""
    return df.withColumn("seg", _seg_expr(nseg)).repartition(F.col("seg"))


#: the rows `lsh_index_build` writes, ``seg`` being the partition dirs
INDEX_SCHEMA = (
    "doc_id long, band int, band_hash string, ngram int, k int, "
    "bands int, nseg int, seg int"
)


def _read_index(spark, index_dir: str) -> DataFrame:
    """The index at ``index_dir``, which must have the segmented layout
    `lsh_index_build` writes, read with that layout's schema (a
    schema-less read is one footer-inference job per call). The layout
    check lists the dir for its ``seg=N`` dirs, so it adds no job."""
    import os

    if not any(d.startswith("seg=") for d in os.listdir(index_dir)):
        raise ValueError(
            f"LSH index at {index_dir} has no seg column; rebuild it with "
            "lsh_index_build"
        )
    return spark.read.schema(INDEX_SCHEMA).parquet(index_dir)


def _index_meta(idx: DataFrame):
    """(nseg, params_row) in ONE job: the stored banding parameters and
    the placement segment count ride every row, so a single ``first()``
    serves both. ``params_row is None`` = the index was compacted to
    zero rows."""
    row = idx.select("ngram", "k", "bands", "nseg").first()
    if row is None:
        # empty segmented index: any placement is vacuously consistent
        # with zero rows — the module default applies
        return LSH_SEGMENTS, None
    return int(row["nseg"]), row


def _param_cols(ngram: int, k: int, bands: int, nseg: int) -> list:
    """The per-row parameter literals every index row carries."""
    return [
        F.lit(ngram).alias("ngram"),
        F.lit(k).alias("k"),
        F.lit(bands).alias("bands"),
        F.lit(int(nseg)).alias("nseg"),
    ]


def _coverage_rows(
    docs: DataFrame, ngram: int, k: int, bands: int, nseg: int
) -> DataFrame:
    """One marker row per BAND-ELIGIBLE doc (>= ngram tokens — banding
    is deterministic and total for eligible docs, so eligibility IS
    full coverage once the band rows land); derived from the doc list,
    never a recompute of the banding branch."""
    eligible = docs.where(
        F.size(F.split(F.col("text"), " ")) >= ngram
    ).select("doc_id").distinct()
    return eligible.select(
        "doc_id",
        F.lit(COVER_BAND).alias("band"),
        F.col("doc_id").cast("string").alias("band_hash"),
        *_param_cols(ngram, k, bands, nseg),
    )


def _band_parallel(docs: DataFrame) -> DataFrame:
    """Hash-spread a LOW-PARALLELISM doc batch on ``doc_id`` before the
    banding compute. A micro-batch (or a single-file table at test SF)
    scans as ONE task, and everything up to the minhash exchange —
    shingling plus k md5-min partial aggregates, the expensive part of
    indexing — would run single-threaded on it (guide §2.5: one
    unsplittable input file ⇒ repartition right after the read). The
    spread keys on ``doc_id``, so the minhash ``groupBy(doc_id)`` and
    the coverage ``distinct`` REUSE the partitioning instead of adding
    an exchange (§2.4), and placement stays deterministic under task
    retry (hash keys, not round-robin). Scale-adaptive via `spread`'s
    file heuristic: a corpus-sized input already carries >=
    defaultParallelism scan files and passes through untouched — the
    shuffle only exists at the grain where the compute would otherwise
    serialize. Purely physical: every downstream op is key-based (min
    aggregates, distinct, equi-joins), so results are identical.

    NOT `sources.tables.spread`: its `inputFiles()` heuristic reports
    NO files for a foreachBatch micro-batch frame (the exact caller
    this helper exists for), so it never fires there — measured A/B:
    spread-based med 9.19 s vs rdd-probe med 6.48 s on
    `streaming_lsh_index_maintenance`. The `.rdd.getNumPartitions()`
    probe translates the (narrow, scan+filter) plan without running a
    job; callers pass scan-backed frames only."""
    n = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() >= n:
        return docs
    return docs.repartition(n, F.col("doc_id"))


def lsh_index_build(
    spark,
    docs: DataFrame,
    index_dir: str,
    ngram: int = 3,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    nseg: int = LSH_SEGMENTS,
) -> int:
    """Persist the banded-signature table (doc_id, band, band_hash) as an
    on-disk LSH INDEX — the shape that lets tomorrow's crawl probe
    today's corpus without recomputing a single corpus signature. At
    100 TB re-shingling the corpus per dedup run IS the cost; the index
    is O(docs x bands) rows of hashes, appended to incrementally
    (`lsh_index_update`). Parameters (ngram/k/bands/nseg) ride every
    row so an update can never band — or PLACE — with skewed settings:
    the Bloom-manifest m/k principle. The layout is SEGMENTED
    (``seg=N/`` dirs keyed by doc_id hash, `LSH_SEGMENTS`), which is
    what makes `lsh_index_compact` segment-local — all of a doc's rows
    (bands, marker, tombstone) share one segment by construction. Each
    fully-banded doc also gets a COVERAGE-MARKER row (`COVER_BAND`),
    the cheap "is it indexed" bit updates consult. Commits via tmp
    write + atomic rename. Returns the number of indexed docs."""
    from pyspark.sql import Observation

    docs = _band_parallel(docs)
    sh = doc_shingles(docs, ngram=ngram)
    rows = lsh_bands(minhash_signature(sh, k=k), k=k, bands=bands).select(
        "doc_id",
        "band",
        "band_hash",
        *_param_cols(ngram, k, bands, nseg),
    )
    # the indexed-doc count observes the coverage branch DURING the
    # write (one marker row per indexed doc by construction) instead of
    # re-scanning the committed index — one job, not two
    obs = Observation()
    rows = rows.unionByName(
        _coverage_rows(docs, ngram, k, bands, nseg).observe(
            obs, F.count(F.lit(1)).alias("n")
        )
    )
    # pid-unique scratch, last-commit-wins
    commit_swap(_segmented(rows, nseg), index_dir, partition_by=["seg"])
    return observed_count(obs)


def lsh_index_update(spark, docs: DataFrame, index_dir: str) -> int:
    """Extend the LSH index with docs it does not FULLY cover yet:
    shingle + sign + band ONLY those docs with the index's own stored
    parameters, stage the new rows, and move the staged part files into
    the index dir (rename per file). O(new docs), never O(corpus).
    Crash posture: a doc counts as indexed only when its COVERAGE
    MARKER (`COVER_BAND` row) is present, and markers rename strictly
    AFTER the doc's band rows — a torn move therefore leaves the doc
    marker-less and re-indexable (the duplicate band rows a re-index
    creates are harmless — candidate pairs are distinct); a crash
    leaves new docs merely not-yet-indexed, never wrong, never
    permanently skipped. The coverage consult is a pushed-filter scan
    of the marker rows — 1/(bands+1) of the index and NO shuffle.
    Docs with fewer than ``ngram`` tokens can never produce a shingle,
    hence never a band, hence would never become "covered" — they are
    excluded from the new-doc count up front, otherwise a redelivered
    batch containing one would be recounted (and re-signed) forever and
    redelivery would never converge to a no-op. Returns the number of
    newly indexed docs; 0 is a pure no-op.

    Appends are placed in segments with the index's OWN stored
    ``nseg``; an index without the segmented layout raises
    `ValueError`.

    Job shape (the r15 streaming-maintenance regression was
    job-submission bound, not data bound): ONE metadata ``first()``
    (params + nseg ride every row) and ONE staged write — band rows
    and coverage markers union into a single job partitioned by a phase
    column, renamed bands-first
    (`commit.append_files`), with the new-doc count OBSERVED on
    the marker branch during that write instead of paying a separate
    distinct-count job. A redelivered batch evaluates to zero rows and
    appends nothing — still a pure no-op."""
    from pyspark.sql import Observation

    idx = _read_index(spark, index_dir)
    nseg, p = _index_meta(idx)
    if p is None:
        # the index was compacted down to zero rows (every doc deleted):
        # there are no stored parameters left to honor, so re-found it
        return lsh_index_build(spark, docs, index_dir)
    covered = idx.where(F.col("band") == COVER_BAND).select("doc_id")
    eligible = docs.where(
        F.size(F.split(F.col("text"), " ")) >= int(p["ngram"])
    )
    new_docs = _band_parallel(eligible).join(covered, "doc_id", "left_anti")
    sh = doc_shingles(new_docs, ngram=int(p["ngram"]))
    rows = lsh_bands(
        minhash_signature(sh, k=int(p["k"])),
        k=int(p["k"]),
        bands=int(p["bands"]),
    ).select(
        "doc_id",
        "band",
        "band_hash",
        *_param_cols(int(p["ngram"]), int(p["k"]), int(p["bands"]), nseg),
    )
    obs = Observation()
    cov = _coverage_rows(
        new_docs,
        int(p["ngram"]),
        int(p["k"]),
        int(p["bands"]),
        nseg,
    ).observe(obs, F.count(F.lit(1)).alias("n"))
    # one staged write; markers still rename LAST (the per-doc commit
    # point), and the marker count IS the newly-indexed-doc count
    # (_coverage_rows is one distinct row per band-eligible new doc)
    append_files(
        [("inc", rows), ("cov", cov)], index_dir, seg=_seg_expr(nseg)
    )
    return observed_count(obs)


def lsh_index_delete(spark, doc_ids: DataFrame, index_dir: str) -> int:
    """DELETE docs from the index by TOMBSTONE — the GDPR/right-to-be-
    forgotten maintenance op, O(delete batch), never a rewrite: one
    `TOMB_BAND` row per deleted doc appends through the same stage+
    rename protocol as updates, and every serve path anti-joins the
    tombstone set before pairing. The doc's band rows and coverage
    marker stay on disk (so a redelivered copy of the doc is still
    "covered" and is NOT re-signed back to life — delete wins over
    redelivery), and `lsh_index_compact` reclaims the bytes later, the
    tombstone-then-compact split every LSM/table format uses.
    Idempotent: re-deleting returns 0 and appends nothing. Docs absent
    from the index are ignored (nothing to forget). Returns the number
    of newly tombstoned docs.

    In a segmented index the tombstone lands in the SAME segment as the
    doc's band rows and marker (same doc_id hash, same stored nseg) —
    the invariant `lsh_index_compact` relies on to find every row it
    must reclaim from the tombstones' own segments."""
    from pyspark.sql import Observation

    idx = _read_index(spark, index_dir)
    nseg, p = _index_meta(idx)
    if p is None:
        return 0  # empty index: nothing is covered, nothing to forget
    covered = idx.where(F.col("band") == COVER_BAND).select("doc_id")
    tombs = idx.where(F.col("band") == TOMB_BAND).select("doc_id")
    todo = (
        doc_ids.select("doc_id")
        .distinct()
        .join(covered, "doc_id", "left_semi")
        .join(tombs, "doc_id", "left_anti")
    )
    # the newly-tombstoned count is OBSERVED during the append write —
    # one job per delete batch, not a count job plus a write job; a
    # fully-redelivered batch evaluates to zero rows and appends nothing
    obs = Observation()
    rows = todo.observe(obs, F.count(F.lit(1)).alias("n")).select(
        "doc_id",
        F.lit(TOMB_BAND).alias("band"),
        F.col("doc_id").cast("string").alias("band_hash"),
        *_param_cols(int(p["ngram"]), int(p["k"]), int(p["bands"]), nseg),
    )
    append_files([("tomb", rows)], index_dir, seg=_seg_expr(nseg))
    return observed_count(obs)


def lsh_index_compact(spark, index_dir: str) -> int:
    """Physically remove tombstoned docs, rewriting ONLY the segments
    that hold them — the LSM-cadence reclaim made SEGMENT-LOCAL (the
    IVF cell-local precedent, `operators/ivf.py:ivf_index_compact`):
    every row of a doc (bands, marker, tombstone) lives in the one
    ``seg=N/`` dir its doc_id hash selects, so the tombstones' own
    segments are exactly the segments with anything to reclaim. Each
    touched segment is anti-join-rewritten and swapped atomically
    (`commit.publish_partitions`); untouched segments' files are never
    opened — compaction cost tracks TOMBSTONE-BEARING SEGMENT MASS,
    not index size (at 100 TB a 0.1% delete touches ~min(segments,
    batch) segments, not the whole band table). Crash posture: per-seg
    swaps are atomic and a segment's tombstones are removed by its own
    rewrite, so a crash mid-compact leaves the untouched segments'
    tombstones in place — serving stays correct (the anti-join still
    hides them) and the next compact finishes the rest. NOTE:
    compaction erases the
    "covered" memory of deleted docs along with their tombstones — a
    source that redelivers a compacted-away doc re-indexes it; keeping
    deleted docs out of the SOURCE is the upstream contract, the index
    only forgets. A segment a crashed rewrite left aside is put back
    first. Returns the number of docs reclaimed; 0 is a pure no-op (no
    rewrite)."""
    import os

    sweep_partitions(index_dir)
    idx = _read_index(spark, index_dir)
    tombs = idx.where(F.col("band") == TOMB_BAND).select("doc_id").distinct()
    n = tombs.count()
    if not n:
        return 0
    # tombstone rows carry their doc's segment (placed with the index's
    # own stored nseg at delete time) — collecting their distinct segs
    # is a <= nseg-row driver read off a band==TOMB_BAND scan that
    # parquet row-group stats confine to the tombstone files
    affected = sorted(
        int(r["seg"])
        for r in idx.where(F.col("band") == TOMB_BAND)
        .select("seg")
        .distinct()
        .collect()
    )
    kept = idx.where(F.col("seg").isin(affected)).join(
        tombs, "doc_id", "left_anti"
    )
    survivors = publish_partitions(
        kept.repartition(F.col("seg")), index_dir, "seg", affected
    )
    if not survivors and not any(
        d.startswith("seg=") for d in os.listdir(index_dir)
    ):
        # the whole corpus was deleted: leave one empty-but-schema'd
        # segment dir so the index stays readable (and still reads as
        # segmented) instead of a dir Spark cannot infer a schema from;
        # `_index_meta` falls back to the module default on zero rows
        commit_swap(
            idx.limit(0).drop("seg"), os.path.join(index_dir, "seg=0")
        )
    return n


def lsh_index_candidates(spark, index_dir: str) -> DataFrame:
    """Candidate pairs straight from the persisted index: the same
    (band, band_hash) equi self-join as `lsh_candidate_pairs`, reading
    hashes instead of recomputing signatures (coverage-marker rows are
    filtered out — they carry per-doc unique hashes and could never
    pair anyway, but they are bookkeeping, not signal; tombstoned docs
    are anti-joined out — a deleted doc serves in no pair). Callers
    restrict the pair set (e.g. at-least-one-side-new) and verify with
    exact Jaccard."""
    idx = _read_index(spark, index_dir)
    tombs = idx.where(F.col("band") == TOMB_BAND).select("doc_id")
    return lsh_candidate_pairs(
        idx.where(F.col("band") >= 0).join(tombs, "doc_id", "left_anti")
    )


def lsh_index_probe(spark, docs: DataFrame, index_dir: str) -> DataFrame:
    """Candidate pairs with AT LEAST ONE SIDE in ``docs``, against the
    persisted index, WITHOUT re-banding the corpus: shingle/sign/band
    only ``docs`` with the index's own stored parameters and equi-join
    those bands against the full band table — O(probe docs) signing
    plus one bounded equi-join, never the index's all-pairs self-join.
    The per-micro-batch candidate path: every pair is discovered at the
    batch of its LATER side (probe after extending the index with the
    batch, so batch-internal pairs surface too), and the union of
    probes over batches equals the batch pipeline's full candidate set
    (md5-deterministic banding). Returns distinct (doc_a < doc_b);
    tombstoned docs pair on neither side."""
    idx = _read_index(spark, index_dir)
    p = idx.select("ngram", "k", "bands").first()
    tombs = idx.where(F.col("band") == TOMB_BAND).select("doc_id")
    sh = doc_shingles(
        docs.join(tombs, "doc_id", "left_anti"), ngram=int(p["ngram"])
    )
    nb = lsh_bands(
        minhash_signature(sh, k=int(p["k"])),
        k=int(p["k"]),
        bands=int(p["bands"]),
    )
    return (
        nb.alias("n")
        .join(
            idx.where(F.col("band") >= 0)
            .join(tombs, "doc_id", "left_anti")
            .alias("i"),
            on=["band", "band_hash"],
        )
        .where(F.col("n.doc_id") != F.col("i.doc_id"))
        .select(
            F.least("n.doc_id", "i.doc_id").alias("doc_a"),
            F.greatest("n.doc_id", "i.doc_id").alias("doc_b"),
        )
        .distinct()
    )
