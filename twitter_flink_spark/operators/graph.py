"""Iterative graph operator: connected components over a pair list —
turning near-dup PAIRS (MinHash-LSH output) into dedup CLUSTERS, the final
step of a training-data dedup pipeline (keep one doc per component).

Spark has no recursive query support, so this is the canonical iterative-
DataFrame pattern: min-label propagation to a fixed point, with
`localCheckpoint` per round to truncate lineage (otherwise the plan doubles
every iteration and the driver dies at planning, long before data size
matters). Convergence needs a driver-side count per round — that is
inherent to iterate-until-fixed-point, the same loop GraphX/Pregel runs.

Scale: each round is one self-contained shuffle join (edges ⨝ labels on
node id) + a min-aggregate; rounds needed = graph diameter, and near-dup
graphs are overwhelmingly tiny cliques (diameter 1-2). For adversarial
long-chain graphs use `connected_components_star` (alternating
large-star/small-star, Kiveris et al., "Connected Components in MapReduce
and Beyond"), which converges in O(log n) rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from twitter_flink_spark.session import local_frame


def _release(cp: DataFrame) -> None:
    """Free the storage blocks of ONE localCheckpoint (non-blocking).

    `localCheckpoint` pins its blocks in executor storage until the Python
    DataFrame is garbage-collected; an iterate-to-fixed-point loop that
    checkpoints per round would otherwise hold every round's blocks live at
    once, stealing execution memory from whatever runs next in the session.
    The RDD freed is the checkpoint's own (the `LogicalRDD` under its
    plan), so concurrent callers never free each other's blocks. Only call
    this on checkpoints no later computation references — a
    truncated-lineage DataFrame whose blocks are dropped cannot recompute.
    """
    cp._jdf.queryExecution().analyzed().rdd().unpersist(False)


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """(node, cluster_id) for every node in ``pairs``; cluster_id = min
    node id reachable through the pair graph."""
    e = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    bidir = (
        e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    def _signature(lbl: DataFrame):
        # Labels only ever DECREASE under min-propagation, so the label
        # assignment is at a fixed point iff this order-insensitive hash sum
        # is unchanged — one tiny agg job instead of a new⋈old join per round.
        row = lbl.agg(
            F.sum(F.xxhash64("node", "label").cast("decimal(38,0)")).alias("h")
        ).collect()[0]
        return row["h"]

    # round 0 fused into initialization: label(u) = min(u, min neighbors(u))
    labels = (
        bidir.groupBy(F.col("src").alias("node"))
        .agg(F.least(F.first("src"), F.min("dst")).alias("label"))
        .localCheckpoint()
    )
    sig = _signature(labels)
    for _ in range(max_iter):
        neighbor_labels = bidir.join(
            labels, bidir.dst == labels.node
        ).select(F.col("src").alias("node"), "label")
        new_labels = (
            labels.unionAll(neighbor_labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()  # eager: materializes + truncates lineage
        )
        # previous round's checkpoint blocks are dead now — free them
        _release(labels)
        labels = new_labels
        new_sig = _signature(labels)
        if new_sig == sig:
            break
        sig = new_sig
    bidir.unpersist()
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(Γ(u) ∪ {u}). One shuffle (groupBy u) + one join."""
    bidir = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = bidir.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    return (
        bidir.join(m, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient each edge large→small, then for each node u connect u and all
    its (smaller) neighbors to min(Γ(u) ∪ {u})."""
    directed = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    m = directed.groupBy("src").agg(F.min("dst").alias("m"))
    nbrs = directed.join(m, "src").where(F.col("dst") != F.col("m")).select(
        F.col("dst").alias("src"), F.col("m").alias("dst")
    )
    selfs = m.select(F.col("src"), F.col("m").alias("dst"))
    return nbrs.unionAll(selfs).where(F.col("src") != F.col("dst")).distinct()


def connected_components_adaptive(
    pairs: DataFrame,
    n_pairs: int,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    threshold: int = 100_000,
    used_star: list | None = None,
) -> DataFrame:
    """(doc_id, cluster_id) with the CC formulation picked by pair
    count: above ``threshold`` the alternating-star algorithm (the
    scale path — O(log n) rounds, all distributed); at or below it a
    DRIVER union-find over the collected pair set — bounded driver
    data by construction (<= threshold rows, the same driver-sized
    argument as k-means' k-row centroids), zero iterative jobs where
    the star's per-round localCheckpoint + convergence-signature jobs
    dominate at small grain. Both return the MIN NODE ID reachable
    through the pair graph for every endpoint, so downstream results
    are identical either way — only the physical strategy changes
    (pinned by the ledger switchover test). Ids keep the pair columns'
    type (long, string, ...) on both paths; the two columns share one
    type. ``used_star``, if given, receives which path ran."""
    if n_pairs > threshold:
        if used_star is not None:
            used_star.append(True)
        return connected_components_star(pairs, a_col=a_col, b_col=b_col)
    if used_star is not None:
        used_star.append(False)
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in pairs.select(a_col, b_col).collect():
        a, b = r[a_col], r[b_col]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # min-id canonical: the smaller root absorbs the larger
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    rows = sorted((n, find(n)) for n in parent)
    id_type = pairs.schema[a_col].dataType
    schema = StructType(
        [StructField("doc_id", id_type), StructField("cluster_id", id_type)]
    )
    return local_frame(pairs.sparkSession, rows, schema)


def connected_components_star(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
    rounds_out: list | None = None,
) -> DataFrame:
    """(doc_id, cluster_id) via alternating large-star/small-star — the
    O(log n)-round formulation for adversarial graphs (long chains) where
    plain min-label propagation needs diameter rounds.

    Convergence is detected by an order-insensitive edge-set signature
    (count + sum of per-edge hashes): when a large-star+small-star round
    leaves the edge set unchanged, every component is a star centered on
    its min node. `rounds_out`, if given, receives the round count (tests
    pin the O(log n) bound with it)."""
    edges = (
        pairs.select(
            F.least(a_col, b_col).alias("src"), F.greatest(a_col, b_col).alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    # node universe from the ORIGINAL pairs, not the self-loop-filtered
    # edges: a node appearing only as (x, x) still owns a singleton row
    nodes = (
        pairs.select(F.col(a_col).alias("node"))
        .unionAll(pairs.select(F.col(b_col).alias("node")))
        .distinct()
        .localCheckpoint()
    )

    def signature(e: DataFrame) -> tuple:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: a bigint sum of 2^63-range hashes overflows ANSI
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    sig = signature(edges)
    rounds = 0
    for _ in range(max_iter):
        new_edges = _small_star(_large_star(edges)).localCheckpoint()
        _release(edges)  # old round's blocks are dead
        edges = new_edges
        rounds += 1
        new_sig = signature(edges)
        if new_sig == sig:
            break
        sig = new_sig
    if rounds_out is not None:
        rounds_out.append(rounds)
    # converged: every edge is (member, center); centers label themselves
    labels = edges.select(F.col("src").alias("node"), F.col("dst").alias("label"))
    return (
        nodes.join(labels, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce("label", "node").alias("cluster_id"),
        )
    )


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    edges_distinct: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list:
    ``pr_{k+1}(v) = (1-d) + d * Σ_{u→v} pr_k(u)/outdeg(u)`` (per-node
    form; dangling nodes keep receiving but contribute nothing). Returns
    (node, pr) after ``iters`` rounds from ``pr_0 = 1``.

    Fixed iteration count (not convergence-tested) keeps the result a
    pure function of the input — reproducible and oracle-expressible as
    unrolled SQL.

    Job shape: the shared inputs (deduped edges, edge+outdeg, node set)
    localCheckpoint ONCE — each is read every round, so recomputing them
    per round would be quadratic — but the rounds themselves CHAIN
    LAZILY: each round's rank table feeds the next round's join as a
    plan, not a materialized checkpoint, so all ``iters`` rounds execute
    as ONE Spark job at the first action instead of one
    localCheckpoint-materialization job per round (at small iters the
    per-round job submission + block write dominated the actual
    shuffles; nothing in a round is consumed twice, so laziness
    duplicates no work and plan depth is bounded by the fixed iteration
    count).

    Cross-engine determinism: each in-neighbor contribution is rounded to
    8 decimals and accumulated as DECIMAL — exact and order-independent —
    then one double multiply/add per node; float summation order can
    never change a rank.

    Release contract (caller sweep): the returned plan is lazy and reads
    two localCheckpoints (edge+outdeg, node set), which stay pinned in
    executor storage after return — freeing them here would drop blocks
    the plan still needs. The caller frees them after its last action on
    the result by sweeping the persistent-RDD registry, as bench.py does
    between queries (`catalog.clearCache()` does not reach checkpoint
    blocks); repeated calls without that sweep accumulate blocks."""
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    # ``edges_distinct=True`` is the caller ATTESTING the edge list holds
    # each edge once (problem knowledge the optimizer cannot derive —
    # e.g. a distinct bipartite pair set unioned with its flip under
    # disjoint node namespaces): the dedup exchange over the full edge
    # table is then skipped. Out-degrees and contribution sums assume
    # unique edges, so a false attestation changes ranks — default off.
    if not edges_distinct:
        e = e.distinct()
    e = e.localCheckpoint()
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    # edges pre-joined with out-degree once — the loop reuses it per round
    esrc = e.join(outdeg, "src").localCheckpoint()
    # esrc/nodes are materialized (localCheckpoint is eager): the raw
    # deduped edge blocks have no remaining consumer
    _release(e)
    pr = nodes.select("node", F.lit(1.0).alias("pr"))
    for _ in range(iters):
        contribs = (
            esrc.join(pr, esrc.src == pr.node)
            .select(
                F.col("dst").alias("node"),
                F.round(F.col("pr") / F.col("od"), 8)
                .cast("decimal(28,8)")
                .alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        pr = nodes.join(contribs, "node", "left").select(
            "node",
            (
                F.lit(1.0 - damping)
                + F.lit(damping)
                * F.coalesce(F.col("s").cast("double"), F.lit(0.0))
            ).alias("pr"),
        )
    return pr  # esrc/nodes stay pinned: see the release contract above


def triangle_counts(
    edges: DataFrame, a_col: str = "a", b_col: str = "b"
) -> DataFrame:
    """Per-node triangle counts via degree-ordered orientation (the
    MPS / node-iterator++ algorithm): (v, degree, n_triangles) for every
    node in at least one triangle.

    Each undirected edge is oriented from its (degree, name)-smaller
    endpoint; wedges are enumerated at the smaller endpoint only and
    closed by ONE equi-join against the oriented edge list. The
    orientation bounds per-node wedge fan-out by O(sqrt(m)) regardless of
    raw degree — the property that makes distributed triangle counting
    survive power-law skew: a hub with millions of neighbors emits no
    wedges unless both neighbors out-rank it. Every step is an equi-join
    or aggregation; the (degree, name) tuple tie-break makes the count
    deterministic and exactly-once (u < v < w in orientation order).

    ``edges`` must hold each undirected edge once (a < b by any
    convention, no self-loops)."""
    # the edge list feeds degree (twice), orientation, and the close
    # join — persist so an expensive upstream derivation (e.g. the token
    # pair pipeline) runs once, not once per consumer
    e = edges.select(
        F.col(a_col).alias("t1"), F.col(b_col).alias("t2")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    deg = (
        e.select(F.col("t1").alias("v"))
        .unionAll(e.select(F.col("t2").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    keyed = e.join(
        deg.select(F.col("v").alias("t1"), F.col("d").alias("d1")), "t1"
    ).join(deg.select(F.col("v").alias("t2"), F.col("d").alias("d2")), "t2")
    fwd = F.struct(F.col("d1"), F.col("t1")) < F.struct(F.col("d2"), F.col("t2"))
    # oriented edges feed both wedge sides and the close join (3 reads)
    o = keyed.select(
        F.when(fwd, F.col("t1")).otherwise(F.col("t2")).alias("src"),
        F.when(fwd, F.col("t2")).otherwise(F.col("t1")).alias("dst"),
        F.when(fwd, F.col("d2")).otherwise(F.col("d1")).alias("dst_d"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    o1 = o.select("src", F.col("dst").alias("v"), F.col("dst_d").alias("vd"))
    o2 = o.select("src", F.col("dst").alias("w"), F.col("dst_d").alias("wd"))
    wedges = o1.join(o2, on="src").where(
        F.struct(F.col("vd"), F.col("v")) < F.struct(F.col("wd"), F.col("w"))
    )
    tri = wedges.join(
        o.select(F.col("src").alias("v"), F.col("dst").alias("w")),
        on=["v", "w"],
    ).select(F.col("src").alias("u"), "v", "w")
    members = (
        tri.select(F.col("u").alias("v"))
        .unionAll(tri.select("v"))
        .unionAll(tri.select(F.col("w").alias("v")))
    )
    return (
        members.groupBy("v")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .join(deg, "v")
        .select("v", F.col("d").alias("degree"), "n_triangles")
    )


def k_core_peel(
    edges: DataFrame,
    k: int,
    rounds: int,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """K-core peeling: repeatedly drop nodes of degree < k (with their
    edges) for ``rounds`` fixed iterations; returns (v, degree) for the
    surviving subgraph — the standard dense-substructure extractor
    (spam/bot rings, community nuclei) and the batch-parallel form of
    the classic sequential peel. Fixed rounds keep the result
    deterministic and oracle-unrollable; with enough rounds it IS the
    k-core (peeling is monotone — each round only removes, so it
    converges).

    Per round: one degree aggregation + two semi-joins of the edge list
    against the survivor set — the edge set only shrinks, so per-round
    cost falls; ``localCheckpoint`` truncates lineage exactly like the
    other iterative operators in this module."""
    e = edges.select(
        F.col(a_col).alias("a"), F.col(b_col).alias("b")
    ).localCheckpoint()
    for _ in range(rounds):
        deg = (
            e.select(F.col("a").alias("v"))
            .unionAll(e.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.where(F.col("d") >= k).select("v")
        new_e = (
            e.join(keep.withColumnRenamed("v", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("v", "b"), "b", "left_semi")
            .localCheckpoint()
        )
        _release(e)
        e = new_e
    return (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
