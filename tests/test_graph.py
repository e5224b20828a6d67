"""Connected-components operators: equivalence of the two formulations and
the O(log n)-round convergence bound of large-star/small-star on the
adversarial case (a long path) where min-label propagation needs
O(diameter) rounds."""

from __future__ import annotations

import math

from twitter_flink_spark.operators.graph import (
    connected_components,
    connected_components_star,
)

SF_DIR = "/root/testdata/sf0.001"


def _labels(df):
    return sorted((r["doc_id"], r["cluster_id"]) for r in df.collect())


def test_star_converges_logarithmically_on_path(spark):
    """1000-node path graph: star rounds must be O(log n), nowhere near the
    999 rounds label propagation would need, and every node must land in
    the single component labeled by the min node."""
    n = 1000
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    ).repartition(8)
    rounds: list[int] = []
    labels = _labels(
        connected_components_star(pairs, max_iter=30, rounds_out=rounds)
    )
    assert labels == [(i, 0) for i in range(n)]
    # 2·ceil(log2(n)) + slack; a diameter-bound algorithm would need ~999
    assert rounds[0] <= 2 * math.ceil(math.log2(n)) + 3


def test_star_equals_label_propagation_on_multi_component(spark):
    """Both formulations must reach the identical fixed point on a graph
    with several components of different shapes (clique, path, pair,
    isolated-by-self-pair)."""
    edges = (
        # clique on 0-3
        [(a, b) for a in range(4) for b in range(a + 1, 4)]
        # path 10-15
        + [(i, i + 1) for i in range(10, 15)]
        # pair
        + [(100, 101)]
        # star centered high (center is NOT the min)
        + [(205, v) for v in (201, 202, 203)]
    )
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    a = _labels(connected_components(pairs))
    b = _labels(connected_components_star(pairs))
    assert a == b
    assert {c for _, c in b} == {0, 10, 100, 201}


def test_pagerank_matches_reference_power_iteration(spark):
    """pagerank() must equal a plain-Python power iteration with the same
    per-node formula, init, rounding and iteration count."""
    from twitter_flink_spark.operators.graph import pagerank

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")]
    df = spark.createDataFrame(edges, "src string, dst string")

    # reference computation (same decimal-rounded contributions)
    from collections import defaultdict
    from decimal import Decimal

    out = defaultdict(list)
    for s, d in edges:
        out[s].append(d)
    nodes = sorted({n for e in edges for n in e})
    pr = {n: 1.0 for n in nodes}
    for _ in range(3):
        recv = defaultdict(Decimal)
        for s, ds in out.items():
            c = Decimal(str(round(pr[s] / len(ds), 8)))
            for d in ds:
                recv[d] += c
        pr = {n: (1.0 - 0.85) + 0.85 * float(recv[n]) for n in nodes}

    got = {r.node: r.pr for r in pagerank(df, iters=3).collect()}
    assert set(got) == set(nodes)
    for n in nodes:
        assert abs(got[n] - pr[n]) < 1e-12, (n, got[n], pr[n])


def test_pagerank_star_center_dominates(spark):
    """Bidirectional star: the hub must outrank every leaf, and leaves
    must tie exactly (symmetry — also a determinism check)."""
    from twitter_flink_spark.operators.graph import pagerank

    leaves = [f"l{i}" for i in range(6)]
    edges = [("hub", l) for l in leaves] + [(l, "hub") for l in leaves]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: r.pr for r in pagerank(df, iters=4).collect()}
    assert all(got["hub"] > got[l] for l in leaves)
    assert len({got[l] for l in leaves}) == 1


def test_triangle_counts_known_graph(spark):
    """K4 plus a pendant edge: every K4 node sits in C(3,2)=3 triangles,
    the pendant node in none; total triangles = C(4,3) = 4."""
    from twitter_flink_spark.operators.graph import triangle_counts

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
         ("c", "d"), ("d", "e")],
        "a STRING, b STRING",
    )
    rows = {r.v: (r.degree, r.n_triangles)
            for r in triangle_counts(edges).collect()}
    assert rows == {"a": (3, 3), "b": (3, 3), "c": (3, 3), "d": (4, 3)}


def test_triangle_counts_triangle_free(spark):
    from twitter_flink_spark.operators.graph import triangle_counts

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")],  # 4-cycle
        "a STRING, b STRING",
    )
    assert triangle_counts(edges).count() == 0


def test_triangle_counts_exactly_once_random(spark):
    """Random G(n, p): the oriented count must equal the brute-force
    count of closed triples."""
    import itertools
    import random

    from pyspark.sql import functions as F

    from twitter_flink_spark.operators.graph import triangle_counts

    rng = random.Random(11)
    nodes = [f"n{i:02d}" for i in range(14)]
    edges = [
        (a, b) for a, b in itertools.combinations(nodes, 2)
        if rng.random() < 0.35
    ]
    eset = set(edges)
    expected = sum(
        1 for a, b, c in itertools.combinations(nodes, 3)
        if (a, b) in eset and (b, c) in eset and (a, c) in eset
    )
    df = spark.createDataFrame(edges, "a STRING, b STRING")
    total = (
        triangle_counts(df).agg(F.sum("n_triangles").alias("s")).collect()[0].s
    )
    assert total == 3 * expected


def test_k_core_peel_known_graph(spark):
    """K4 with a pendant path: the 2-core (enough rounds) is exactly the
    K4 — the path peels away over successive rounds (e peels only after
    d does)."""
    from twitter_flink_spark.operators.graph import k_core_peel

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
         ("c", "d"), ("d", "e"), ("e", "f")],
        "a STRING, b STRING",
    )
    out = {r.v: r.degree for r in k_core_peel(edges, k=2, rounds=3).collect()}
    assert out == {"a": 3, "b": 3, "c": 3, "d": 3}


def test_k_core_peel_is_monotone(spark):
    """More rounds can only shrink the survivor set."""
    from twitter_flink_spark.operators.graph import k_core_peel

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")],
        "a STRING, b STRING",
    )
    one = {r.v for r in k_core_peel(edges, k=2, rounds=1).collect()}
    two = {r.v for r in k_core_peel(edges, k=2, rounds=2).collect()}
    assert two <= one
    assert two == {"a", "b", "c"}


def test_ledger_adaptive_cc_switches_to_star_past_threshold(spark):
    """The streaming dedup ledger's clustering must route through the
    O(log n)-round star CC once accumulated pairs pass
    LEDGER_CC_STAR_THRESHOLD (a high-dup crawl makes pairs O(docs) and
    a coalesce(1) label propagation a driver-adjacent bottleneck), stay
    on the 1-task path below it, and produce IDENTICAL labels on both
    paths."""
    from twitter_flink_spark.queries.streaming import (
        LEDGER_CC_STAR_THRESHOLD,
        _cluster_pairs_adaptive,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "doc_a long, doc_b long",
    )
    used: list[bool] = []
    small = _labels(_cluster_pairs_adaptive(pairs, 6, used_star=used))
    big = _labels(
        _cluster_pairs_adaptive(
            pairs, LEDGER_CC_STAR_THRESHOLD + 1, used_star=used
        )
    )
    assert used == [False, True]
    assert small == big == _labels(connected_components(pairs))


def test_adaptive_cc_small_path_keeps_string_ids(spark):
    """The driver union-find (small path) and the star CC must agree on
    non-integer ids: same rows and same column types, with the min id
    (string order) labelling each component."""
    from twitter_flink_spark.operators.graph import (
        connected_components_adaptive,
    )

    pairs = spark.createDataFrame(
        [("b", "c"), ("c", "a"), ("x", "y"), ("zz", "zz")],
        "doc_a string, doc_b string",
    )
    used: list[bool] = []
    small = connected_components_adaptive(
        pairs, 4, threshold=1_000, used_star=used
    )
    star = connected_components_adaptive(
        pairs, 4, threshold=0, used_star=used
    )
    assert used == [False, True]
    assert small.dtypes == star.dtypes == [
        ("doc_id", "string"),
        ("cluster_id", "string"),
    ]
    assert _labels(small) == _labels(star) == [
        ("a", "a"), ("b", "a"), ("c", "a"),
        ("x", "x"), ("y", "x"), ("zz", "zz"),
    ]


def _persisted_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_release_frees_only_its_own_checkpoint(spark):
    """Two checkpoints alive at once (what two concurrent callers
    produce): releasing the later one must leave the earlier one
    persisted and readable — a before/after diff of the global RDD set
    taken around `b` would also have caught any `a` landing in between."""
    from pyspark.sql import functions as F

    from twitter_flink_spark.operators.graph import _release

    def rdd_id(cp):
        return cp._jdf.queryExecution().analyzed().rdd().id()

    a = spark.range(50).withColumn("x", F.col("id") * 2).localCheckpoint()
    b = spark.range(30).withColumn("y", F.col("id") + 1).localCheckpoint()
    assert {rdd_id(a), rdd_id(b)} <= _persisted_ids(spark)
    _release(b)
    left = _persisted_ids(spark)
    assert rdd_id(a) in left and rdd_id(b) not in left
    assert a.agg(F.sum("x")).first()[0] == 2 * sum(range(50))
    _release(a)


def test_iterative_operators_leave_only_their_contracted_blocks(spark):
    """CC and k-core free every round's checkpoint but the last, which
    their returned plan still reads (star CC: edges + node set)."""
    from twitter_flink_spark.operators.graph import k_core_peel

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "doc_a long, doc_b long"
    )
    # results stay referenced while counting: the blocks they read are
    # then strongly reachable and cannot be swept by the context cleaner
    before = _persisted_ids(spark)
    cc = connected_components_star(pairs)
    assert _labels(cc) == [(i, 0) for i in range(21)]
    assert len(_persisted_ids(spark) - before) == 2
    before = _persisted_ids(spark)
    kc = k_core_peel(pairs.toDF("a", "b"), k=2, rounds=3)
    # a path loses both endpoints per round
    assert sorted(r.v for r in kc.collect()) == list(range(3, 18))
    assert len(_persisted_ids(spark) - before) == 1


def test_no_slow_frame_or_global_rdd_diff_in_package():
    """Guard: every list-built frame in the package goes through
    `session.local_frame` (one slice; `createDataFrame(list)` spreads
    rows over one slice per core and a one-task write then reads them
    all in turn), no frame is built from a ``parallelize``d RDD (its
    rows are converted in a Python worker on every evaluation; the
    Arrow-built local relation holds them in the plan), only
    `graph._release` may touch persisted RDDs — no
    global before/after diffs of `getPersistentRDDs` — only
    `session.get_spark` and `pipeline.state_partitions` (state store
    sizing) name ``spark.sql.shuffle.partitions``, and symlinks,
    hardlinks and ``shutil.move`` are made only in `commit.py` (the one
    commit module) and at three named sites that publish nothing: the
    file-source symlink of `stream_table`, the hardlink copy of a
    drained MV fixture in `_cdf_mv_copy`, and the stats-table hardlink
    append in the `streaming_dedup_impact_ledger` sink, and only
    `sources/staging.py` asks ``tempfile`` for a dir or a file (shared
    layouts through `stage_once`, private ones through `scratch_dir`)."""
    import ast
    import pathlib

    owner = {
        "createDataFrame": {"local_frame"},
        "parallelize": set(),
        "getPersistentRDDs": {"_release"},
        "spark.sql.shuffle.partitions": {"get_spark", "state_partitions"},
        "symlink": {"commit.py", "stream_table"},
        "link": {"commit.py", "_cdf_mv_copy", "streaming_dedup_impact_ledger"},
        "move": {"commit.py"},
        "mkdtemp": {"staging.py"},
        "gettempdir": {"staging.py"},
        "TemporaryDirectory": {"staging.py"},
        "NamedTemporaryFile": {"staging.py"},
    }
    root = pathlib.Path(__file__).resolve().parents[1] / "twitter_flink_spark"
    bad = []

    def visit(node, path, scope):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            scope = scope + (node.name,)
        name = (
            node.attr if isinstance(node, ast.Attribute)
            else node.value if isinstance(node, ast.Constant)
            else None
        )
        if isinstance(name, str) and name in owner and not (
            owner[name] & {path.name, *scope}
        ):
            bad.append(f"{path.name}:{node.lineno} {name}")
        for child in ast.iter_child_nodes(node):
            visit(child, path, scope)

    files = sorted(root.rglob("*.py"))
    assert files
    for path in files:
        visit(ast.parse(path.read_text()), path, ())
    assert bad == []


def _read_without_schema(expr) -> bool:
    """``expr`` (an AST expression) is a ``read`` chain with no
    ``.schema(...)`` on it."""
    import ast

    seen_read = False
    while isinstance(expr, (ast.Attribute, ast.Call)):
        if isinstance(expr, ast.Call):
            f = expr.func
            if isinstance(f, ast.Attribute) and f.attr == "schema":
                return False
            expr = f
            continue
        seen_read = seen_read or expr.attr == "read"
        expr = expr.value
    return seen_read


def test_staged_replays_declare_their_schema_from_the_ledger():
    """Guard: the streaming and connector queries never infer a staged
    fixture's schema with ``spark.read.parquet(staged).schema`` — each
    such read is one footer-inference job. The fixture's build records
    the schema in its `stage_once` ledger (`staging.schema_entry`)."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "twitter_flink_spark"
    bad = []

    for name in ("streaming.py", "connectors.py"):
        path = root / "queries" / name
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "schema"
                and isinstance(node.value, ast.Call)
                and isinstance(node.value.func, ast.Attribute)
                and node.value.func.attr == "parquet"
                and _read_without_schema(node.value.func.value)
            ):
                bad.append(f"{name}:{node.lineno}")
    assert bad == []


def test_mv_bucket_versions_read_only_through_read():
    """Guard: `IncrementalMV` and its subclasses read bucket-version dirs
    only through `IncrementalMV._read`, which passes the schema the
    manifest records — any other `read.parquet` there would be a
    schema-inference job per call. The one other read they may make is
    the changelog, which is not a bucket version."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "twitter_flink_spark"
    classes = {
        node.name: (path, node)
        for path in sorted(root.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.ClassDef)
    }
    family = {"IncrementalMV"}
    grew = True
    while grew:  # subclasses of subclasses too
        grew = False
        for name, (_, node) in classes.items():
            bases = {ast.unparse(b).rsplit(".", 1)[-1] for b in node.bases}
            if name not in family and bases & family:
                family.add(name)
                grew = True
    assert {"PresenceMV", "GroupedCountMV", "SketchMV"} <= family

    def on_reader(expr) -> bool:
        """``expr`` is a `spark.read[...]` chain (not merely a frame
        derived from one: call arguments are not followed)."""
        while isinstance(expr, (ast.Attribute, ast.Call)):
            if isinstance(expr, ast.Attribute) and expr.attr == "read":
                return True
            expr = expr.value if isinstance(expr, ast.Attribute) else expr.func
        return False

    bad = []
    for name in sorted(family):
        path, cls = classes[name]
        for fn in cls.body:
            if not isinstance(fn, ast.FunctionDef) or fn.name == "_read":
                continue
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("parquet", "load")
                    and on_reader(node.func.value)
                    and [ast.unparse(a) for a in node.args]
                    != ["self.changelog_dir"]
                ):
                    bad.append(f"{path.name}:{node.lineno} {name}.{fn.name}")
    assert bad == []


def test_broad_handlers_reraise_or_give_a_reason():
    """Guard: no ``except Exception`` (or ``BaseException``, or a bare
    ``except``) turns a failure into a plausible value. Each such handler
    re-raises with a bare ``raise``, or is listed here with the reason
    its fallback is the right answer."""
    import ast
    import pathlib

    allowed = {
        ("multimodal.py", "_decode_one"): "bytes PIL cannot decode get "
        "the deterministic fake metadata the oracle also computes",
        ("sources.py", "kafka_status_stream"): "raise ... from: the "
        "missing-connector failure surfaces as a RuntimeError naming "
        "the package to add",
        ("sources.py", "stream_table"): "conf.set on a vanilla driver "
        "session; a conf fixed at startup keeps its value",
        ("pyds.py", "register_datasource"): "conf.set on a vanilla "
        "driver session; a conf fixed at startup keeps its value",
        ("session.py", "tune_session"): "conf.set on a vanilla driver "
        "session; a conf fixed at startup keeps its value",
    }
    root = pathlib.Path(__file__).resolve().parents[1] / "twitter_flink_spark"

    def broad(t) -> bool:
        if t is None:
            return True
        names = t.elts if isinstance(t, ast.Tuple) else [t]
        return any(
            isinstance(n, ast.Name) and n.id in ("Exception", "BaseException")
            for n in names
        )

    seen, bad = set(), []

    def visit(node, path, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if isinstance(node, ast.ExceptHandler) and broad(node.type):
            reraises = any(
                isinstance(n, ast.Raise) and n.exc is None
                for stmt in node.body
                for n in ast.walk(stmt)
            )
            if (path.name, fn) in allowed:
                seen.add((path.name, fn))
            elif not reraises:
                bad.append(f"{path.name}:{node.lineno} {fn}")
        for child in ast.iter_child_nodes(node):
            visit(child, path, fn)

    for path in sorted(root.rglob("*.py")):
        visit(ast.parse(path.read_text()), path, None)
    assert bad == []
    assert seen == set(allowed)  # no stale entry


def test_ivf_layout_is_named_only_in_its_module():
    """Guard: the IVF inverted-list layout (``_centroids``, ``_assign``,
    ``_meta``, ``_tombs`` and the ``cid=`` cell dirs) is a format the
    engine defined, so only `operators/ivf.py` names it; every other
    module goes through that module's builder, appender, router, fetch
    and readers. Docstrings may describe the layout. In `ivf.py` every
    ``read...parquet`` passes the artifact's ``.schema(...)`` — a
    schema-less read is one footer-inference job."""
    import ast
    import pathlib
    import re

    layout = re.compile(r"(?<!\w)(_centroids|_assign|_meta|_tombs)(?!\w)|cid=")
    root = pathlib.Path(__file__).resolve().parents[1] / "twitter_flink_spark"
    owner = root / "operators" / "ivf.py"
    bad = []

    def docstrings(tree):
        for node in ast.walk(tree):
            scopes = (
                ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef
            )
            if (
                isinstance(node, scopes)
                and ast.get_docstring(node, clean=False) is not None
            ):
                yield node.body[0].value

    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        docs = set(map(id, docstrings(tree)))
        for node in ast.walk(tree):
            if path == owner:
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "parquet"
                    and _read_without_schema(node.func.value)
                ):
                    bad.append(f"ivf.py:{node.lineno} schema-less read")
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in docs
                and layout.search(node.value)
            ):
                bad.append(f"{path.relative_to(root)}:{node.lineno}")
    assert bad == []
