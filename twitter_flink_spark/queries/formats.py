"""File-format round-trip queries: each writes a testdata table through a
sink format, reads it back schema-explicitly, and aggregates — the oracle
aggregates the ORIGINAL table, so a pass proves the format round-trip is
lossless (types, timestamps, nulls) end to end."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from twitter_flink_spark.registry import register
from twitter_flink_spark.sources.files import (
    read_csv,
    read_jsonl,
    write_csv,
    write_jsonl,
    write_partitioned_parquet,
)
from twitter_flink_spark.sources.staging import scratch_dir
from twitter_flink_spark.sources.tables import load_table


@register(
    "csv_roundtrip_orders",
    oracle="""
SELECT o_orderstatus,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price,
       min(o_orderdate) AS first_order,
       max(o_orderdate) AS last_order
FROM orders
GROUP BY o_orderstatus
""",
)
def csv_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → CSV (header, pinned timestamp format) → schema-explicit
    read → aggregate. Must equal aggregating the source parquet directly:
    numeric precision and microsecond timestamps survive the text format."""
    o = load_table(spark, sf_dir, "orders")
    path = scratch_dir("csv-orders")
    write_csv(o, path)
    back = read_csv(spark, path, o.schema)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
    )


@register(
    "jsonl_roundtrip_events",
    oracle="""
SELECT event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value,
       min(ts) AS first_ts,
       max(ts) AS last_ts
FROM events
GROUP BY event_type
""",
)
def jsonl_roundtrip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events (incl. nested-JSON `props` string) → JSON-lines → read →
    aggregate; the lakehouse interchange format the tweet source (O1)
    consumes."""
    e = load_table(spark, sf_dir, "events")
    path = scratch_dir("jsonl-events")
    write_jsonl(e, path)
    back = read_jsonl(spark, path, e.schema)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


@register(
    "partitioned_parquet_pruned_agg",
    oracle="""
SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events
WHERE event_type IN ('purchase', 'click')
GROUP BY user_id
""",
)
def partitioned_parquet_pruned_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → parquet partitioned BY event_type → filtered aggregate.
    The IN-predicate prunes non-matching partition directories at plan
    time (PartitionFilters — asserted in tests/test_plans.py); only the
    two matching directories are ever opened."""
    e = load_table(spark, sf_dir, "events")
    path = scratch_dir("part-events")
    write_partitioned_parquet(e, path, ("event_type",))
    back = spark.read.parquet(path)
    return (
        back.where(F.col("event_type").isin("purchase", "click"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@register(
    "orc_roundtrip_lineitem",
    oracle="""
SELECT l_returnflag,
       count(*) AS n_rows,
       round(sum(l_quantity), 2) AS sum_qty,
       min(l_shipdate) AS first_ship,
       max(l_shipdate) AS last_ship
FROM lineitem
GROUP BY l_returnflag
""",
)
def orc_roundtrip_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem → ORC → read back → aggregate; must equal aggregating the
    source parquet (types, microsecond timestamps, nulls survive). ORC is
    the second columnar sink a lakehouse ingest needs beside parquet."""
    li = load_table(spark, sf_dir, "lineitem")
    path = scratch_dir("orc-lineitem")
    li.write.mode("overwrite").orc(path)
    back = spark.read.schema(li.schema).orc(path)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


def _ensure_payload_files(spark: SparkSession, sf_dir: str) -> str:
    """Stage every 20th document's UTF-8 bytes as `<doc_id>.bin` files —
    the on-disk shape of a raw media corpus. Written executor-side via
    foreachPartition (no driver collect); on a cluster the destination
    would be shared storage (HDFS/S3) instead of local tmp.
    Cross-process write-once via `staging.stage_once`."""
    import os

    from twitter_flink_spark.sources.staging import stage_once

    spark_master = spark.sparkContext.master
    if not spark_master.startswith("local"):
        # executors write into the DRIVER-local tmp dir below; on a real
        # cluster each executor would write to its own disk and the
        # driver-side binaryFile read would see missing files — there the
        # staging root must be shared storage (HDFS/S3)
        raise RuntimeError(
            "payload staging writes to driver-local tmp and requires a "
            f"local master (got {spark_master!r}); configure a shared "
            "staging root for cluster deployments"
        )

    def _build(p: str) -> None:
        docs = (
            load_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") % 20 == 0)
            .select("doc_id", "text")
        )

        def _write_part(rows):
            for r in rows:
                with open(os.path.join(p, f"{r.doc_id}.bin"), "wb") as fh:
                    fh.write(r.text.encode("utf-8"))

        docs.foreachPartition(_write_part)

    dest, _ = stage_once("binfiles", sf_dir, _build)
    return dest


@register(
    "binaryfile_ingest_payloads",
    oracle="""
SELECT doc_id,
       md5(text) AS payload_md5,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents
WHERE doc_id % 20 = 0
""",
)
def binaryfile_ingest_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-file ingest via Spark's `binaryFile` source — the front door of
    every multimodal pipeline (images/audio land as files; decode UDFs run
    downstream, see operators/multimodal.py). One file = one row with
    (path, length, content); parallelism comes from the file listing, and
    `pathGlobFilter` prunes non-matching files before any read. The oracle
    recomputes md5/byte-length from the source text, so a pass proves the
    bytes survived the file round-trip exactly."""
    dest = _ensure_payload_files(spark, sf_dir)
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(dest)
    )
    return files.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1)
        .cast("long")
        .alias("doc_id"),
        F.md5("content").alias("payload_md5"),
        F.col("length").alias("n_bytes"),
    )


@register(
    "xml_roundtrip_orders",
    oracle="""
SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS totalprice
FROM orders
WHERE o_orderkey % 50 = 0
""",
)
def xml_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML round-trip via Spark 4's built-in XML expressions: each order row
    is serialized to an XML document (`to_xml`) and parsed back with an
    explicit schema (`from_xml`) — the lossless-ingest proof for the one
    enterprise format parquet-era stacks still receive. The oracle reads
    the base columns directly, so any type drift through the XML text form
    (long/string/double) fails the value hash. Row-level XML parse is
    pure-expression work inside whole-stage codegen — it scales like any
    projection, unlike a document-level XML file reader."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 50 == 0)
    xml = F.to_xml(
        F.struct("o_orderkey", "o_orderstatus", "o_totalprice"),
        {"rowTag": "order"},
    )
    parsed = o.select(
        F.from_xml(
            xml,
            "STRUCT<o_orderkey: BIGINT, o_orderstatus: STRING, o_totalprice: DOUBLE>",
            {"rowTag": "order"},
        ).alias("x")
    )
    return parsed.select(
        F.col("x.o_orderkey").alias("o_orderkey"),
        F.col("x.o_orderstatus").alias("o_orderstatus"),
        F.round("x.o_totalprice", 2).alias("totalprice"),
    )


@register(
    "schema_evolution_merged_read",
    oracle="""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN quality IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_v1_rows,
       round(sum(coalesce(quality, 0.0)), 4) AS total_quality
FROM (
  SELECT lang, CAST(NULL AS DOUBLE) AS quality
  FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT lang, round(n_chars * 1.0 / 1000, 4) AS quality
  FROM documents WHERE doc_id % 2 = 1
)
GROUP BY lang
""",
)
def schema_evolution_merged_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution at the storage layer: a dataset written in two
    generations — v1 files (doc_id, lang) and v2 files that ADDED a
    `quality` column — read back as ONE table with
    ``mergeSchema=true``, v1 rows null-filled for the new column. This
    is the unavoidable reality of a 100 TB corpus accreted over months:
    columns arrive mid-stream, and the engine must union schemas at scan
    time without rewriting petabytes of old files. Footer-level schema
    merge is per-file metadata work; the data path still prunes columns
    and pushes filters per generation. Each invocation writes its own
    scratch dir, so a concurrent run never deletes this one's files."""
    import os

    docs = load_table(spark, sf_dir, "documents")
    root = scratch_dir("schemaevo")
    v1 = docs.where(F.col("doc_id") % 2 == 0).select("doc_id", "lang")
    v2 = docs.where(F.col("doc_id") % 2 == 1).select(
        "doc_id",
        "lang",
        F.round(F.col("n_chars") * 1.0 / 1000, 4).alias("quality"),
    )
    v1.write.mode("overwrite").parquet(os.path.join(root, "gen=1"))
    v2.write.mode("overwrite").parquet(os.path.join(root, "gen=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "gen=1"), os.path.join(root, "gen=2")
    )
    return merged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("quality").isNull().cast("int")).cast("long").alias(
            "n_v1_rows"
        ),
        F.round(F.sum(F.coalesce("quality", F.lit(0.0))), 4).alias(
            "total_quality"
        ),
    )


@register(
    "multimodal_content_dedup",
    oracle="""
SELECT md5(text) AS payload_md5,
       CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
       CAST(count(*) AS BIGINT) AS n_copies,
       CAST((count(*) - 1) * octet_length(encode(text)) AS BIGINT)
         AS bytes_reclaimed
FROM documents
WHERE doc_id % 20 = 0
GROUP BY md5(text), octet_length(encode(text))
""",
)
def multimodal_content_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Content-hash dedup over OPAQUE binary payloads — the first dedup
    pass of every multimodal pipeline (images/audio dedup by bytes long
    before any decoder runs): hash each `binaryFile` row's content
    (md5 computed JVM-side during the scan — the raw bytes never
    shuffle, only the 16-byte digest does), group by digest, keep the
    lowest doc_id as the deterministic survivor, and report copies and
    bytes reclaimed per group. The oracle recomputes the digests from
    the source texts the payload files were staged from, so a pass
    proves bytes survived the file round-trip AND the dedup grouping
    exactly. At 100 TB the shuffle is digests + counts (GBs for
    billions of files), never payloads — the reason content-hash dedup
    is the one dedup that costs a scan, not a join."""
    dest = _ensure_payload_files(spark, sf_dir)
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(dest)
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1)
            .cast("long")
            .alias("doc_id"),
            F.md5("content").alias("payload_md5"),
            F.col("length").alias("n_bytes"),
        )
    )
    return files.groupBy("payload_md5", "n_bytes").agg(
        F.min("doc_id").cast("long").alias("keep_doc_id"),
        F.count(F.lit(1)).cast("long").alias("n_copies"),
        (
            (F.count(F.lit(1)) - 1) * F.first("n_bytes")
        ).cast("long").alias("bytes_reclaimed"),
    ).drop("n_bytes")
