"""Iterative BPE merge learning — the tokenizer-training loop of an LLM
data pipeline, as pure DataFrame ops (no UDFs, no driver-side token loop).

Classic BPE (Sennrich et al., "Neural Machine Translation of Rare Words
with Subword Units"): start from characters, repeatedly (1) count adjacent
symbol pairs over the word-frequency table, (2) take the most frequent
pair, (3) merge its occurrences greedily left-to-right without overlap.
`queries/textops.py::bpe_top_pairs` implements one step of (1); this
module runs the full loop.

Representation: the corpus stays EXPLODED as (word, weight, rn, sym) rows
— one row per symbol occurrence, ordered by `rn` within each word. A merge
round needs only window functions over that order:

- pair stats: `lead(sym)` + one grouped sum (weighted by word frequency);
- the argmax pair is a 1-row broadcast (count desc, pair lexicographic —
  a deterministic tie-break the reference algorithm leaves unspecified);
- greedy non-overlapping application is the gaps-and-islands parity
  trick: consecutive match positions form chains, and exactly the
  even-offset members of each chain merge (for "aaaa" + merge (a,a) that
  yields [aa, aa], matching the sequential left-to-right scan) — so the
  inherently sequential-looking merge pass becomes two window passes,
  parallel over words;
- consumed rows are dropped via `lag`, and `rn` is re-densified so the
  next round's chain detection sees true adjacency.

Scale: every pass is partitioned by word — the word-frequency table is
vocabulary-sized (zipf-bounded, millions of rows at 100 TB corpus scale,
not corpus-sized), each round is a fixed number of shuffles on `word`, and
`localCheckpoint` truncates the per-round lineage exactly like
`operators/graph.py`. All arithmetic is integer/string, so results are
independent of partitioning and exactly mirrored by an unrolled SQL
oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from twitter_flink_spark.operators.graph import _release


def char_symbol_table(words: DataFrame) -> DataFrame:
    """(word, weight) -> exploded (word, weight, rn, sym) with one row per
    character, rn 1-based in word order."""
    return words.select(
        "word",
        "weight",
        F.posexplode(
            F.expr(
                "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
            )
        ).alias("pos0", "sym"),
    ).select("word", "weight", (F.col("pos0") + 1).alias("rn"), "sym")


def pair_stats(t: DataFrame) -> DataFrame:
    """Weighted adjacent-pair counts over the symbol table: (a, b, cnt)."""
    wspec = Window.partitionBy("word").orderBy("rn")
    p = t.withColumn("nxt", F.lead("sym").over(wspec))
    return (
        p.where(F.col("nxt").isNotNull())
        .groupBy(F.col("sym").alias("a"), F.col("nxt").alias("b"))
        .agg(F.sum("weight").alias("cnt"))
    )


def apply_merge(t: DataFrame, best: DataFrame) -> DataFrame:
    """Apply the 1-row merge rule ``best`` (a, b) to the symbol table with
    greedy leftmost-nonoverlapping semantics; returns the next round's
    (word, weight, rn, sym) with rn re-densified."""
    wspec = Window.partitionBy("word").orderBy("rn")
    p = t.withColumn("nxt", F.lead("sym").over(wspec))
    m = p.join(F.broadcast(best.select("a", "b"))).withColumn(
        "mt",
        F.when(
            (F.col("sym") == F.col("a")) & (F.col("nxt") == F.col("b")), 1
        ).otherwise(0),
    )
    g = m.withColumn(
        "grp",
        F.when(
            F.col("mt") == 1,
            F.col("rn")
            - F.row_number().over(
                Window.partitionBy("word", "mt").orderBy("rn")
            ),
        ),
    )
    mg = g.withColumn(
        "mg",
        F.when(
            (F.col("mt") == 1)
            & (
                (
                    F.col("rn")
                    - F.min("rn").over(Window.partitionBy("word", "grp"))
                )
                % 2
                == 0
            ),
            1,
        ).otherwise(0),
    )
    kept = mg.withColumn("prev_mg", F.lag("mg").over(wspec)).where(
        F.coalesce(F.col("prev_mg"), F.lit(0)) == 0
    )
    return kept.select(
        "word",
        "weight",
        F.row_number().over(wspec).alias("rn"),
        F.when(
            F.col("mg") == 1, F.concat(F.col("sym"), F.col("nxt"))
        ).otherwise(F.col("sym")).alias("sym"),
    )


def bpe_learn(words: DataFrame, n_merges: int) -> DataFrame:
    """Learn ``n_merges`` BPE merge rules from a (word, weight) frequency
    table. Returns (step, left_sym, right_sym, merged, cnt) — one row per
    learned rule, in learning order."""
    t = char_symbol_table(words).localCheckpoint()
    merges: list[DataFrame] = []
    for step in range(1, n_merges + 1):
        # the 1-row argmax is checkpointed EAGERLY: it feeds both the next
        # round and the final output, and the symbol table it derives from
        # is unpersisted next round — a lazy plan would try to recompute
        # from freed checkpoint blocks
        best = (
            pair_stats(t)
            .orderBy(F.col("cnt").desc(), F.col("a"), F.col("b"))
            .limit(1)
            .localCheckpoint()
        )
        # pair stats ran dry (every word fully merged): stop — an empty
        # `best` cross-joined in apply_merge would wipe the symbol table
        if not best.take(1):
            break
        merges.append(
            best.select(
                F.lit(step).alias("step"),
                F.col("a").alias("left_sym"),
                F.col("b").alias("right_sym"),
                F.concat("a", "b").alias("merged"),
                F.col("cnt"),
            )
        )
        if step == n_merges:
            break
        new_t = apply_merge(t, best).localCheckpoint()
        _release(t)
        t = new_t
    if not merges:  # no pair anywhere (all 1-char words)
        return (
            pair_stats(t)
            .select(
                F.lit(0).alias("step"),
                F.col("a").alias("left_sym"),
                F.col("b").alias("right_sym"),
                F.concat("a", "b").alias("merged"),
                F.col("cnt"),
            )
            .limit(0)
        )
    out = merges[0]
    for m in merges[1:]:
        out = out.unionAll(m)
    return out


def bpe_encode(words: DataFrame, n_merges: int) -> DataFrame:
    """Learn ``n_merges`` merge rules and apply ALL of them — the ENCODE
    side of the tokenizer: returns the final (word, weight, rn, sym)
    symbol table, i.e. every vocabulary word segmented by the learned
    merges. Same per-round structure as ``bpe_learn`` (which stops before
    applying the last rule because it only reports rules); encoding a
    NEW corpus with frozen rules is the same loop with ``best`` replaced
    by each stored rule — the application operator is shared either
    way."""
    t = char_symbol_table(words).localCheckpoint()
    for _ in range(n_merges):
        best = (
            pair_stats(t)
            .orderBy(F.col("cnt").desc(), F.col("a"), F.col("b"))
            .limit(1)
            .localCheckpoint()
        )
        # pair stats ran dry: the table is fully merged — stop rather
        # than cross-join an empty `best` (which would empty the table)
        if not best.take(1):
            break
        new_t = apply_merge(t, best).localCheckpoint()
        _release(t)
        t = new_t
    return t
