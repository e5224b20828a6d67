"""Result checks against DuckDB, run outside the timed phase.

Batch results compare by an order-insensitive value hash computed by
DuckDB on both sides: the Spark result arrives as an Arrow table, the
oracle runs as SQL, and each row hashes the text form of its cells in
column-name order (timestamps without zone, NULL as a sentinel), summed
over rows. Text forms keep the check strict: a BIGINT ``123`` and a DOUBLE
``123.0`` differ. The streaming check replays the feedback loop's
watermark semantics in SQL, micro-batch by micro-batch.
"""

from __future__ import annotations

import duckdb


def connect(in_dir: str, tables: list[str], threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect(config={"threads": threads})
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{in_dir}/{t}.parquet/*.parquet')"
        )
    return con


def _text(col: str, dtype: str) -> str:
    ref = f'q."{col}"'
    if dtype == "TIMESTAMP WITH TIME ZONE":
        ref = f"CAST({ref} AS TIMESTAMP)"
    return f"coalesce(CAST({ref} AS VARCHAR), chr(0))"


def value_hash(con: duckdb.DuckDBPyConnection, query: str) -> tuple:
    """(column names, row count, sum of row hashes) of ``query``."""
    rel = con.sql(query)
    cols = sorted(zip(rel.columns, (str(t) for t in rel.types)))
    row = ", ".join(_text(c, t) for c, t in cols)
    count, total = con.execute(
        f"SELECT count(*), coalesce(sum(hash(concat_ws(chr(1), {row}))::HUGEINT), 0) "
        f"FROM ({query}) AS q"
    ).fetchone()
    return tuple(c for c, _ in cols), count, total


def spark_hash(con: duckdb.DuckDBPyConnection, df) -> tuple:
    """``value_hash`` of a Spark DataFrame, shipped over Arrow."""
    con.register("spark_result", df.toArrow())
    try:
        return value_hash(con, "SELECT * FROM spark_result")
    finally:
        con.unregister("spark_result")


def feedback_oracle(
    con: duckdb.DuckDBPyConnection, in_dir: str, n: int, watermark_s: int
) -> dict:
    """The top-N feedback loop's expected outputs from ``events``.

    Each file is one micro-batch, in file-name order. A batch drops a row's
    300 s/60 s window when the window ends at or before that batch's
    watermark (max event time of all earlier batches minus
    ``watermark_s``); the snapshot is the top ``n`` keys (count desc, key
    asc) of the latest window closed by the final watermark, and the
    filter matches every event whose key is in that snapshot."""
    con.execute(
        f"""
CREATE OR REPLACE TEMP TABLE fb_ev AS
SELECT event_type, ts, dense_rank() OVER (ORDER BY filename) - 1 AS b
FROM read_parquet('{in_dir}/events.parquet/*.parquet', filename = true)
"""
    )
    top = con.execute(
        f"""
WITH bmax AS (SELECT b, max(ts) AS mx FROM fb_ev GROUP BY b),
wm AS (
  SELECT b, max(mx) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING)
            - INTERVAL {watermark_s} SECOND AS wm
  FROM bmax
),
expanded AS (
  SELECT e.event_type, e.b,
         to_timestamp(CAST(floor(epoch(e.ts) / 60) * 60 - 60 * i.i AS BIGINT))
           ::TIMESTAMP AS window_start
  FROM fb_ev e CROSS JOIN (SELECT unnest(range(5)) AS i) i
),
counts AS (
  SELECT x.window_start, x.window_start + INTERVAL 300 SECOND AS window_end,
         x.event_type, count(*) AS cnt
  FROM expanded x JOIN wm USING (b)
  WHERE wm.wm IS NULL
     OR x.window_start + INTERVAL 300 SECOND > wm.wm
  GROUP BY ALL
),
last_closed AS (
  SELECT max(window_start) AS ws FROM counts
  WHERE window_end <= (SELECT max(ts) FROM fb_ev) - INTERVAL {watermark_s} SECOND
)
SELECT event_type, cnt FROM counts
WHERE window_start = (SELECT ws FROM last_closed)
ORDER BY cnt DESC, event_type ASC
LIMIT {n}
"""
    ).fetchall()
    keys = [k for k, _ in top]
    matched = con.execute(
        "SELECT count(*) FROM fb_ev WHERE list_contains(?, event_type)", [keys]
    ).fetchone()[0]
    return {
        "snapshot": keys,
        "kv": {f"Top{n}-{i + 1}": f"{k}, {c}" for i, (k, c) in enumerate(top)},
        "matched": matched,
        "events": con.execute("SELECT count(*) FROM fb_ev").fetchone()[0],
    }
