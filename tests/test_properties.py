"""Property-based tests (hypothesis): the custom operators must agree with
brute-force pure-Python references on randomized inputs — shapes the fixed
fixtures can't sweep (tie storms, singleton keys, chains vs cliques, hot
keys). Example counts are small because every example builds Spark
DataFrames; the value is in the adversarial shapes hypothesis finds, not
the volume."""

from __future__ import annotations

import pytest

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

pytestmark = pytest.mark.slow  # hypothesis sweeps build many Spark frames

_SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


# --- as-of join ------------------------------------------------------------

_left_rows = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 50)),  # (key, ts)
    min_size=1,
    max_size=15,
)
# unique (key, ts) on the right so the latest-at-or-before row is unambiguous
_right_rows = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 50), st.integers(0, 999)),
    min_size=0,
    max_size=15,
    unique_by=lambda r: (r[0], r[1]),
)


@settings(**_SETTINGS)
@given(left=_left_rows, right=_right_rows)
def test_asof_backward_matches_bruteforce(spark, left, right):
    from twitter_flink_spark.operators.asof import asof_join_backward

    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)], "lid long, k long, lts long"
    ).select("lid", "k", F.timestamp_seconds("lts").alias("lts"))
    rdf = spark.createDataFrame(
        right or [], "k long, rts long, payload long"
    ).select("k", F.timestamp_seconds("rts").alias("rts"), "payload")
    out = {
        r.lid: r.payload
        for r in asof_join_backward(
            ldf, rdf, on="k", left_ts="lts", right_ts="rts",
            payload_cols=("payload",),
        ).collect()
    }
    for i, (k, t) in enumerate(left):
        candidates = [(rt, p) for (rk, rt, p) in right if rk == k and rt <= t]
        expected = max(candidates)[1] if candidates else None
        assert out[i] == expected, (i, k, t, candidates)


# --- salted join -----------------------------------------------------------

_fact_rows = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 10**6)),  # (key, salt_src)
    min_size=0,
    max_size=30,
)
_dim_rows = st.lists(
    st.tuples(st.integers(0, 4), st.integers(0, 999)),  # (key, attr)
    min_size=0,
    max_size=6,
    unique_by=lambda r: r[0],
)


@settings(**_SETTINGS)
@given(fact=_fact_rows, dim=_dim_rows, how=st.sampled_from(["inner", "left"]))
def test_salted_join_matches_plain_join(spark, fact, dim, how):
    from twitter_flink_spark.operators.joins import salted_equi_join

    fdf = spark.createDataFrame(
        [(i, k, s) for i, (k, s) in enumerate(fact)] or [],
        "fid long, fk long, salt_src long",
    )
    ddf = spark.createDataFrame(dim or [], "dk long, attr long")
    got = sorted(
        (r.fid, r.attr)
        for r in salted_equi_join(
            fdf, ddf, left_key="fk", right_key="dk",
            salt_from="salt_src", n_salts=4, how=how,
        ).collect()
    )
    dim_map = dict(dim)
    expected = []
    for i, (k, _) in enumerate(fact):
        if k in dim_map:
            expected.append((i, dim_map[k]))
        elif how == "left":
            expected.append((i, None))
    assert got == sorted(expected)


# --- connected components --------------------------------------------------

_edges = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)),
    min_size=1,
    max_size=20,
)


def _union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@settings(**_SETTINGS)
@given(edges=_edges)
def test_connected_components_both_algorithms(spark, edges):
    from twitter_flink_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    expected = _union_find_components(edges)
    for fn in (connected_components, connected_components_star):
        got = {r[0]: r[1] for r in fn(pairs).collect()}
        assert got == expected, fn.__name__


# --- incremental MV (bucketed snapshot + replay idempotence) ---------------

_mv_batches = st.lists(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(-50, 50)),  # (key, value)
        min_size=0,
        max_size=12,
    ),
    min_size=1,
    max_size=4,
)


@settings(**_SETTINGS)
@given(batches=_mv_batches, replay_mask=st.integers(0, 15))
def test_incremental_mv_matches_bruteforce(spark, batches, replay_mask):
    """Any sequence of micro-batches, with any subset of them REPLAYED
    immediately after commit (foreachBatch's at-least-once contract), must
    yield the same snapshot as a one-shot aggregate over all rows. Sweeps
    empty batches, hot keys, and negative values the fixture can't."""
    from twitter_flink_spark.streaming.pipeline import IncrementalMV

    mv = IncrementalMV(spark, key_col="user_id", n_buckets=4)
    for i, batch in enumerate(batches):
        df = spark.createDataFrame(
            [(k, float(v)) for k, v in batch] or [],
            "user_id long, value double",
        )
        mv.merge_batch(df, i)
        if replay_mask & (1 << i):
            mv.merge_batch(df, i)  # replayed epoch: must be a no-op
    got = {
        r.user_id: (r.cnt, round(r.val, 6))
        for r in mv.snapshot().collect()
    }
    expected: dict[int, tuple[int, float]] = {}
    for batch in batches:
        for k, v in batch:
            c, s = expected.get(k, (0, 0.0))
            expected[k] = (c + 1, s + float(v))
    assert got == {
        k: (c, round(s, 6)) for k, (c, s) in expected.items()
    }, (batches, replay_mask)


# --- pareto frontier -------------------------------------------------------

_points = st.lists(
    st.tuples(st.integers(0, 8), st.integers(0, 8)),  # (cost, gain) TIES likely
    min_size=1,
    max_size=20,
)


@settings(**_SETTINGS)
@given(points=_points)
def test_pareto_frontier_matches_bruteforce(spark, points):
    """Level-aggregate + running-max frontier == brute-force dominance
    filter (exists strictly-cheaper with >= gain), under heavy cost/gain
    ties that a fixture with near-unique prices never exercises."""
    from twitter_flink_spark.queries.analytics import pareto_frontier

    df = spark.createDataFrame(
        [(i, c, g) for i, (c, g) in enumerate(points)],
        "id long, cost long, gain long",
    )
    got = sorted(r.id for r in pareto_frontier(df, "cost", "gain").collect())
    expected = sorted(
        i
        for i, (c, g) in enumerate(points)
        if not any(c2 < c and g2 >= g for (c2, g2) in points)
    )
    assert got == expected, points


# --- gaps-and-islands streaks ----------------------------------------------

_user_days = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 15)),  # (user, day offset)
    min_size=1,
    max_size=25,
)


@settings(**_SETTINGS)
@given(rows=_user_days)
def test_longest_streak_matches_bruteforce(spark, rows):
    from datetime import date, timedelta

    from twitter_flink_spark.queries.analytics import longest_daily_streaks

    base = date(2024, 1, 1)
    df = spark.createDataFrame(
        [(u, base + timedelta(days=d)) for u, d in rows], "u long, d date"
    )
    got = {
        r.u: r.longest_streak
        for r in longest_daily_streaks(df, "u", "d").collect()
    }
    expected = {}
    for u in {u for u, _ in rows}:
        days = sorted({d for uu, d in rows if uu == u})
        best = run = 1
        for prev, cur in zip(days, days[1:]):
            run = run + 1 if cur == prev + 1 else 1
            best = max(best, run)
        expected[u] = best
    assert got == expected, rows


# --- funnel stage semantics ------------------------------------------------

_events = st.lists(
    st.tuples(
        st.integers(0, 2),                      # user
        st.sampled_from(["view", "click", "purchase", "error"]),
        st.integers(0, 30),                     # ts seconds
    ),
    min_size=1,
    max_size=25,
)


@settings(**_SETTINGS)
@given(events=_events)
def test_funnel_matches_bruteforce(spark, events, tmp_path_factory):
    """Staged-join funnel == per-user brute-force scan: a stage counts a
    user iff an event of its type exists STRICTLY after the user's
    previous qualifying stage time. Sweeps orderings the fixture never
    hits (clicks before any view, purchase-only users, equal timestamps
    — strict > excludes ties)."""
    import os

    from twitter_flink_spark.queries.analytics import funnel_conversion_steps

    sf_dir = str(tmp_path_factory.mktemp("funnel"))
    df = spark.createDataFrame(
        [
            (i, u, typ, ts, float(i))
            for i, (u, typ, ts) in enumerate(events)
        ],
        "event_id long, user_id long, event_type string, tsec long, value double",
    ).select(
        "event_id",
        F.timestamp_seconds("tsec").alias("ts"),
        "user_id",
        "event_type",
        "value",
        F.lit("{}").alias("props"),
    )
    df.write.mode("overwrite").parquet(os.path.join(sf_dir, "events.parquet"))
    got = {
        r.stage: r.n_users
        for r in funnel_conversion_steps(spark, sf_dir).collect()
    }

    def brute():
        users = {u for u, _, _ in events}
        n_v = n_c = n_p = 0
        for u in users:
            mine = [(ts, typ) for uu, typ, ts in events if uu == u]
            views = [ts for ts, typ in mine if typ == "view"]
            if not views:
                continue
            n_v += 1
            t1 = min(views)
            clicks = [ts for ts, typ in mine if typ == "click" and ts > t1]
            if not clicks:
                continue
            n_c += 1
            t2 = min(clicks)
            if any(typ == "purchase" and ts > t2 for ts, typ in mine):
                n_p += 1
        return {"view": n_v, "click": n_c, "purchase": n_p}

    assert got == brute(), events


# --- null-routed left join --------------------------------------------------

_nullable_fact = st.lists(
    st.tuples(st.one_of(st.none(), st.integers(0, 4)), st.integers(0, 999)),
    min_size=0,
    max_size=30,
)


@settings(**_SETTINGS)
@given(fact=_nullable_fact, dim=_dim_rows)
def test_null_routed_join_matches_plain_left_join(spark, fact, dim):
    """Routing null keys around the exchange must be invisible in the
    result — identical rows to the plain left join, nulls extended."""
    from twitter_flink_spark.operators.joins import null_routed_left_join

    fdf = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(fact)] or [],
        "fid long, fk long, fval long",
    )
    ddf = spark.createDataFrame(dim or [], "fk long, attr long")
    got = sorted(
        (r.fid, r.fk, r.fval, r.attr)
        for r in null_routed_left_join(fdf, ddf, "fk").collect()
    )
    expected = sorted(
        (r.fid, r.fk, r.fval, r.attr)
        for r in fdf.join(ddf, "fk", "left").collect()
    )
    assert got == expected


# --- prefix-filtering set-similarity join -----------------------------------

_doc_texts = st.lists(
    st.lists(
        st.sampled_from("ant bee cat dog elk fox gnu hen ibis jay".split()),
        min_size=1,
        max_size=6,
    ).map(lambda ws: " ".join(ws)),
    min_size=2,
    max_size=12,
)


@settings(**_SETTINGS)
@given(texts=_doc_texts, thresh=st.sampled_from([0.3, 0.5, 0.8]))
def test_prefix_filter_join_is_lossless(spark, texts, thresh):
    """Prefix filtering must return EXACTLY the brute-force pair set —
    the lossless-candidate-generation guarantee. ngram=1 makes the
    shingle sets plain token sets, keeping the reference trivial."""
    from twitter_flink_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in prefix_filter_jaccard_pairs(docs, thresh, ngram=1).collect()
    }
    sets = {i: set(t.split()) for i, t in enumerate(texts)}
    expected = {}
    for a in sets:
        for b in sets:
            if a < b and sets[a] and sets[b]:
                j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
                if j >= thresh:
                    expected[(a, b)] = round(j, 6)
    assert got == expected


@settings(**_SETTINGS)
@given(texts=_doc_texts, thresh=st.sampled_from([0.3, 0.5, 0.8]))
def test_blocked_prefix_filter_join_is_lossless(spark, texts, thresh):
    """The block_col variant must return EXACTLY the brute-force pair
    set restricted to same-block pairs — per-block document frequencies
    keep the rarest-first order (and therefore the positional filter)
    consistent within every candidate pair."""
    from twitter_flink_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    rows = [(i, t, f"s{i % 2}") for i, t in enumerate(texts)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, src string"
    )
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in prefix_filter_jaccard_pairs(
            docs, thresh, ngram=1, block_col="src"
        ).collect()
    }
    sets = {i: set(t.split()) for i, t in enumerate(texts)}
    expected = {}
    for a in sets:
        for b in sets:
            if a < b and a % 2 == b % 2 and sets[a] and sets[b]:
                j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
                if j >= thresh:
                    expected[(a, b)] = round(j, 6)
    assert got == expected


# --- content-defined chunking: insertion locality ---------------------------

_cdc_words = st.lists(
    st.sampled_from("ant bee cat dog elk fox gnu hen ibis jay kit lark".split()),
    min_size=12,
    max_size=40,
)


@settings(**_SETTINGS)
@given(words=_cdc_words, ins_pos=st.integers(0, 5),
       ins_word=st.sampled_from(["newt", "orca"]))
def test_cdc_chunking_insertion_is_local(spark, words, ins_pos, ins_word):
    """The FastCDC property the operator claims: boundaries depend on
    token CONTENT (rolling window), not absolute position — so inserting
    a token near the front must leave every chunk that starts after the
    perturbed region content-identical (its hash reappears)."""
    from twitter_flink_spark.queries.textops import cdc_chunk_documents

    def chunk_hashes(text):
        # run the registered pipeline against a single-doc table by
        # monkey-loading via a temp view is heavy; replicate with the
        # same SQL the oracle uses, through Spark SQL for fidelity
        df = spark.createDataFrame([(0, text)], "doc_id long, text string")
        df.createOrReplaceTempView("one_doc")
        out = spark.sql("""
            WITH tok AS (
              SELECT doc_id, pos + 1 AS pos, col AS token
              FROM (SELECT doc_id,
                           posexplode(filter(split(text, ' '), x -> x != ''))
                    FROM one_doc)
            ),
            ctx AS (
              SELECT doc_id, pos, token,
                     CAST(pos >= 3 AND substring(md5(concat_ws(' ',
                          lag(token, 2) OVER w, lag(token, 1) OVER w,
                          token)), 32, 1) <= '1' AS INT) AS boundary
              FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            ),
            cid AS (
              SELECT *, coalesce(sum(boundary) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS chunk_id
              FROM ctx
            )
            SELECT chunk_id, md5(array_join(transform(sort_array(
                     collect_list(struct(pos, token))), s -> s.token), ' '))
                     AS h,
                   min(pos) AS first_pos
            FROM cid GROUP BY chunk_id
        """).collect()
        return sorted((r.chunk_id, r.h, r.first_pos) for r in out)

    base = chunk_hashes(" ".join(words))
    mutated_words = words[:ins_pos] + [ins_word] + words[ins_pos:]
    mut = chunk_hashes(" ".join(mutated_words))
    # chunks of the ORIGINAL that start beyond the perturbed window
    # (insertion index + rolling width) must reappear in the mutation
    safe = {h for _, h, fp in base if fp > ins_pos + 3}
    mut_hashes = {h for _, h, _ in mut}
    assert safe <= mut_hashes


# --- z-order interleave bijectivity -----------------------------------------

def test_zorder_interleave_is_bijective(spark):
    """The Morton interleave must be injective over the 8-bit grid (no
    two (x8, y8) pairs share a zval) and confine each coordinate to its
    bit positions (recoverable by de-interleave)."""
    from pyspark.sql import functions as F

    df = spark.range(32 * 32).select(
        (F.col("id") % 32).alias("x8"), (F.col("id") / 32).cast("long").alias("y8")
    )
    interleave = " + ".join(
        f"(((x8 div {1 << i}) % 2) * {1 << (2 * i)})"
        f" + (((y8 div {1 << i}) % 2) * {1 << (2 * i + 1)})"
        for i in range(8)
    )
    rows = df.withColumn("z", F.expr(interleave)).collect()
    zs = {r.z for r in rows}
    assert len(zs) == 32 * 32
    for r in rows:
        x = sum(((r.z >> (2 * i)) & 1) << i for i in range(8))
        y = sum(((r.z >> (2 * i + 1)) & 1) << i for i in range(8))
        assert (x, y) == (r.x8, r.y8)


# --- transition matrix is row-stochastic ------------------------------------

def test_transition_matrix_rows_sum_to_one(spark):
    from pyspark.sql import functions as F

    from twitter_flink_spark.queries.analytics import event_transition_matrix

    out = event_transition_matrix(spark, "/root/testdata/sf0.001")
    sums = (
        out.groupBy("from_type").agg(F.sum("prob").alias("s")).collect()
    )
    assert sums and all(abs(r.s - 1.0) < 1e-4 for r in sums)


# --- SCD2 intervals partition each user's timeline --------------------------

def test_scd2_intervals_partition_timeline(spark):
    from twitter_flink_spark.queries.analytics import (
        scd2_user_status_intervals,
    )

    rows = scd2_user_status_intervals(spark, "/root/testdata/sf0.001").collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for user, ivs in by_user.items():
        ivs.sort(key=lambda r: r.valid_from)
        assert sum(1 for r in ivs if r.is_current == 1) == 1
        for a, b in zip(ivs, ivs[1:]):
            assert a.valid_to == b.valid_from  # adjacent, no gaps/overlap
        assert ivs[-1].valid_to is None


# --- drift monitors: mathematical invariants --------------------------------

def test_chi2_terms_nonnegative_and_marginals_consistent(spark):
    from twitter_flink_spark.queries.quality import (
        chi2_lang_source_independence,
    )

    rows = chi2_lang_source_independence(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows and all(r.chi2_term >= 0 for r in rows)
    assert all(r.expected > 0 for r in rows)
    # cells with observed == 0 are absent by design, so the expected mass
    # over PRESENT cells can only fall short of the grand total
    assert sum(r.expected for r in rows) <= sum(r.observed for r in rows) + 1e-6


def test_entropy_bounds(spark):
    """0 <= H <= ln(distinct tokens) per source."""
    import math

    from twitter_flink_spark.queries.quality import entropy_tokens_by_source

    rows = entropy_tokens_by_source(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.entropy_nats <= math.log(r.n_distinct_tokens) + 1e-9


def test_psi_identical_halves_is_zero(spark):
    """PSI of a distribution against itself must vanish: feed the monitor
    a synthetic table where both halves are identical."""
    from pyspark.sql import functions as F

    # replicate the PSI pipeline over a symmetric frame: every value
    # appears once in each half -> p_ref == p_cmp -> every term == 0
    src = spark.range(200).select(
        (F.col("id") % 100).cast("double").alias("v"),
        (F.col("id") >= 100).cast("int").alias("half"),
    )
    counts = src.groupBy("v").agg(
        F.sum((F.col("half") == 0).cast("int")).alias("n_ref"),
        F.sum((F.col("half") == 1).cast("int")).alias("n_cmp"),
    )
    tot = counts.agg(
        F.sum("n_ref").alias("tr"), F.sum("n_cmp").alias("tc"),
        F.count(F.lit(1)).alias("nb"),
    )
    p_ref = (F.col("n_ref") + 1.0) / (F.col("tr") + F.col("nb"))
    p_cmp = (F.col("n_cmp") + 1.0) / (F.col("tc") + F.col("nb"))
    terms = counts.join(F.broadcast(tot)).select(
        ((p_ref - p_cmp) * F.log(p_ref / p_cmp)).alias("t")
    )
    total = terms.agg(F.sum("t")).collect()[0][0]
    assert abs(total) < 1e-12


@settings(**_SETTINGS)
@given(texts=_doc_texts)
def test_simhash_band_pair_index_is_lossless(spark, texts):
    """The 6-table band-PAIR index must return EXACTLY the brute-force
    Hamming <= 1 pair set over the 16-bit simhashes (d <= 1 leaves at
    least one band pair untouched — pigeonhole)."""
    from twitter_flink_spark.operators.dedup import simhash16

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    sigs = {r.doc_id: r.simhash for r in simhash16(docs).collect()}
    import itertools

    expected = {}
    for a, b in itertools.combinations(sorted(sigs), 2):
        d = sum(x != y for x, y in zip(sigs[a], sigs[b]))
        if d <= 1:
            expected[(a, b)] = d
    # run the registered query's machinery on a staged single-table dir
    import os
    import tempfile

    dest = tempfile.mkdtemp(prefix="tfs-shprop-")
    docs.selectExpr(
        "doc_id", "text", "'en' AS lang", "'s' AS source",
        "length(text) AS n_chars",
    ).write.mode("overwrite").parquet(
        os.path.join(dest, "documents.parquet")
    )
    from twitter_flink_spark.queries.dedup import simhash_hamming_pairs

    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_hamming_pairs(spark, dest).collect()
    }
    assert got == expected


# --- round-9 operators -------------------------------------------------------

_uri_paths = st.lists(
    st.from_regex(r"[a-z0-9]{1,8}(/[a-z0-9]{1,8}){0,3}\.parquet", fullmatch=True),
    min_size=1,
    max_size=8,
    unique=True,
)
_schemes = st.sampled_from(
    ["", "file:", "file://", "s3a://bucket", "hdfs://nn:8020",
     "abfss://fs@acct.dfs.core.windows.net"]
)


@settings(**_SETTINGS)
@given(paths=_uri_paths, scheme=_schemes)
def test_norm_path_sql_twin_property(spark, paths, scheme):
    """`norm_path` (Python) and `_norm_sql` (SQL) must agree on EVERY
    generated URI shape — the invariant under all manifest
    reconciliation joins (a disagreement mass-drops live rows)."""
    from twitter_flink_spark.operators.skipping import _norm_sql, norm_path

    uris = [f"{scheme}/{p}" for p in paths]
    sql_side = [
        r["n"]
        for r in spark.createDataFrame([(u,) for u in uris], "file string")
        .select(_norm_sql("file").alias("n"))
        .collect()
    ]
    assert sql_side == [norm_path(u) for u in uris]


_binpack_counts = st.lists(
    st.tuples(st.integers(0, 2), st.integers(1, 137)),  # (value id, rows)
    min_size=1,
    max_size=4,
    unique_by=lambda r: r[0],
)


@settings(**_SETTINGS)
@given(counts=_binpack_counts, target=st.sampled_from([7, 25, 100]))
def test_binpack_exact_ceil_property(spark, tmp_path_factory, counts, target):
    """`binpack_write` must produce exactly ceil(rows/target) files per
    partition value with every file at most target rows, for arbitrary
    value/row distributions and targets — including remainders, single
    bins, and values smaller than one bin."""
    import os

    from twitter_flink_spark.sources.files import binpack_write

    base = tmp_path_factory.mktemp("binpack-prop")
    rows = [
        (vid * 100000 + i, f"v{vid}")
        for vid, n in counts
        for i in range(n)
    ]
    src = str(base / "src")
    spark.createDataFrame(rows, "event_id long, event_type string").repartition(
        3
    ).write.mode("overwrite").parquet(src)
    dest = str(base / "packed")
    binpack_write(
        spark,
        spark.read.parquet(src),
        "event_type",
        target,
        dest,
        order_col="event_id",
    )
    for vid, n in counts:
        d = os.path.join(dest, f"event_type=v{vid}")
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == -(-n // target), (vid, n, target, files)
        per_file = (
            spark.read.parquet(d)
            .groupBy(F.input_file_name().alias("f"))
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
        assert all(r["c"] <= target for r in per_file)
        assert sum(r["c"] for r in per_file) == n


# ---------------------------------------------------------------------------
# Histogram selectivity estimate: sound upper bound (pure python, no spark)

_envelopes = st.lists(
    st.tuples(
        st.integers(0, 10_000), st.integers(0, 10_000)
    ).map(lambda t: (min(t), max(t))),
    min_size=1,
    max_size=60,
)
_qrange = st.tuples(
    st.integers(-2_000, 12_000), st.integers(1, 5_000)
).map(lambda t: (t[0], t[0] + t[1]))


@settings(**{**_SETTINGS, "max_examples": 300})
@given(envs=_envelopes, q=_qrange)
def test_hist_estimate_is_sound_upper_bound(envs, q):
    """For ANY set of file envelopes and ANY query range, the boundary-
    histogram refinement must upper-bound the true number of files
    whose envelope intersects [lo, hi) — estimates feed consult
    ORDERING, but an unsound one would also poison the plan audit
    flags. Histograms are built with the same clamped floor bucketing
    `_parent_manifest` uses; the build bounds come from the min values
    (exactly like `build_two_level`), so envelopes straddling or
    exceeding the bounds exercise the open edge buckets."""
    from twitter_flink_spark.operators.skipping import (
        HIST_BUCKETS,
        _hist_estimate,
    )

    lo_b = min(e[0] for e in envs)
    hi_b = max(e[0] for e in envs)
    span = hi_b - lo_b + 1
    h = HIST_BUCKETS

    def bucket(v):
        return max(0, min(h - 1, ((v - lo_b) * h) // span))

    hist_min = [0] * h
    hist_max = [0] * h
    for mn, mx in envs:
        hist_min[bucket(mn)] += 1
        hist_max[bucket(mx)] += 1

    class Row(dict):
        @property
        def __fields__(self):
            return list(self.keys())

    row = Row(
        hist_min=hist_min,
        hist_max=hist_max,
        unknown=0,
        n_files=len(envs),
        bucket_lo=lo_b,
        bucket_hi=hi_b,
    )
    qlo, qhi = q
    est = _hist_estimate(row, qlo, qhi)
    true = sum(1 for mn, mx in envs if mn < qhi and mx >= qlo)
    assert est >= true
    assert est <= len(envs)


def test_median_selection_bucket_inverse_exact():
    """The histogram-narrowing recursion's bucket-bounds inverse must be
    exact for arbitrary (lo, width, B): for every value c in [lo, hi],
    c's bucket bi and the recomputed range [lo', hi'] must satisfy
    lo' <= c <= hi' AND every value in [lo', hi'] maps back to bi —
    a floor-based lower bound re-admits bucket bi-1 edge values."""
    import random

    rng = random.Random(13)
    for _ in range(200):
        lo = rng.randrange(-10**9, 10**9)
        width = rng.randrange(2, 10**7)
        B = rng.choice([2, 7, 64, 1024])
        hi = lo + width - 1
        for c in {lo, hi, lo + width // 3, lo + rng.randrange(width)}:
            bi = (c - lo) * B // width
            lo2 = lo + (bi * width + B - 1) // B
            hi2 = lo + ((bi + 1) * width + B - 1) // B - 1
            assert lo2 <= c <= hi2
            assert (lo2 - lo) * B // width == bi
            assert (hi2 - lo) * B // width == bi


def test_grouped_exact_select_matches_sorted_truth(spark):
    """`_grouped_exact_select` must equal the sort-based order statistic
    for every group simultaneously, across adversarial group shapes:
    duplicate-heavy (the raw-collect trap), single-valued, two-valued,
    wide-range sparse, and a 1-row group — for both the median rank and
    the p95 rank, with NO terminal collect (the engine only ever reads
    (group, bucket) histograms)."""
    import random

    from pyspark.sql import functions as F

    from twitter_flink_spark.queries.scale import _grouped_exact_select

    rng = random.Random(41)
    data = []
    # duplicate-heavy: 3 distinct values across 4001 rows
    data += [("dup", rng.choice([7, 7, 7, 9, 1_000_003])) for _ in range(4001)]
    # single-valued
    data += [("one", 42)] * 57
    # two-valued, uneven split
    data += [("two", 5)] * 30 + [("two", 6)] * 11
    # wide sparse range (forces >1 narrowing pass at B=1024)
    data += [("wide", rng.randrange(-10**12, 10**12)) for _ in range(500)]
    # singleton group
    data += [("lone", -17)]
    s = spark.createDataFrame(data, "g string, c long")

    truth: dict[str, list[int]] = {}
    for g, c in data:
        truth.setdefault(g, []).append(c)
    for g in truth:
        truth[g].sort()

    for rank_of in (lambda n: (n + 1) // 2, lambda n: (19 * n + 19) // 20):
        found, n_rows, _passes = _grouped_exact_select(spark, s, rank_of)
        assert set(found) == set(truth)
        for g, vals in truth.items():
            assert n_rows[g] == len(vals)
            assert found[g] == vals[rank_of(len(vals)) - 1], g
