"""Tweet-JSON parse queries (reference O1+O3): round-trip the documents
table through raw status-JSON strings, parse with the production parser
(malformed rows injected and dropped), and aggregate hashtags.

The oracle computes the same result from the pre-JSON ground truth — so the
query proves the parse+drop+lowercase pipeline is lossless for well-formed
input and silently drops garbage (`TopNHashtags.java:207`)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from twitter_flink_spark.registry import register
from twitter_flink_spark.session import local_frame
from twitter_flink_spark.sources.tables import load_table, spread
from twitter_flink_spark.sources.tweets import parse_statuses

#: Garbage lines every batch of raw statuses is spiked with — all must be
#: dropped by the parser (malformed JSON, wrong shape, null id).
MALFORMED_LINES = (
    '{"broken json',
    "not json at all",
    "[1, 2, 3]",
    '{"text": "no id here"}',
    "",
)


def status_json_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic raw-status fixture: each document becomes a status JSON
    string whose hashtags are the doc's first 5 tokens UPPERCASED (so the
    parser's lowercasing, reference `:202`, is observable), spiked with
    malformed lines."""
    # spread first: the to_json/from_json round-trip is per-row CPU-bound,
    # and a single-split documents table would serialize it into one task
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = F.split(F.col("text"), " ")
    status = F.struct(
        F.col("doc_id").alias("id"),
        F.col("text").alias("text"),
        F.struct(
            F.transform(
                F.slice(toks, 1, 5),
                lambda t: F.struct(F.upper(t).alias("text")),
            ).alias("hashtags")
        ).alias("entities"),
    )
    good = docs.select(F.to_json(status).alias("value"))
    bad = local_frame(
        spark, [(line,) for line in MALFORMED_LINES], "value string"
    )
    return good.unionAll(bad)


@register(
    "tweet_parse_hashtag_counts",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(str_split(text, ' ')[1:5]) AS tag FROM documents
)
SELECT tag, count(*) AS cnt FROM tok GROUP BY tag
""",
)
def tweet_parse_hashtag_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw JSON → from_json parse (PERMISSIVE; malformed rows dropped) →
    lowercase hashtags → explode → count. Equals counting the first 5
    tokens per document directly — the oracle does exactly that, proving
    the JSON round-trip is lossless and the 5 injected garbage lines died."""
    raw = status_json_stream(spark, sf_dir)
    parsed = parse_statuses(raw)
    return (
        parsed.select(F.explode(F.col("tags")).alias("tag"))
        .groupBy("tag")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "tweet_parse_ids_texts",
    oracle="""
SELECT doc_id AS status_id, text AS status_text, len(str_split(text,' ')[1:5]) AS n_tags
FROM documents
""",
)
def tweet_parse_ids_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection through the parser: (status_id, status_text, n_tags) must
    round-trip exactly; garbage rows must not survive."""
    raw = status_json_stream(spark, sf_dir)
    parsed = parse_statuses(raw)
    return parsed.select(
        "status_id", "status_text", F.size("tags").alias("n_tags")
    )
