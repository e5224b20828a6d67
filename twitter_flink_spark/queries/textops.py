"""Text-analysis queries over `documents` (north-star: SURVEY.md §2.3):
quality scoring, token counting, language-ID heuristic, fingerprinting.
All built-in expressions; regex dialect restricted to the RE2∩Java-safe
subset so Spark and DuckDB extract identical tokens."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.storagelevel import StorageLevel

from twitter_flink_spark.registry import register
from twitter_flink_spark.session import local_frame
from twitter_flink_spark.sources.tables import load_table, spread

_STOPWORDS = ("the", "a", "of", "to", "and")

# Marker tokens per language for the n-gram-style scoring heuristic. The
# corpus vocabulary is synthetic, so the marker sets are drawn from it; the
# point is the operator shape (score-per-language, argmax with deterministic
# tie-break), not linguistic accuracy.
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "table", "row"),
    "es": ("data", "part", "filter"),
    "de": ("order", "window", "batch"),
    "zh": ("spark", "stream", "vector"),
}


@register(
    "text_quality_scores",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, n_chars, str_split(text, ' ') AS toks FROM documents
),
t AS (
  SELECT doc_id, n_chars, unnest(toks) AS token FROM tok
),
stats AS (
  SELECT doc_id,
         count(*) AS n_tokens,
         count(DISTINCT token) AS n_distinct,
         round(avg(length(token)), 6) AS avg_token_len,
         round(sum(CASE WHEN token IN {_STOPWORDS} THEN 1 ELSE 0 END) * 1.0
               / count(*), 6) AS stopword_ratio
  FROM t WHERE token <> ''
  GROUP BY doc_id
)
SELECT s.doc_id, d.n_chars, s.n_tokens, s.n_distinct, s.avg_token_len,
       s.stopword_ratio,
       round(s.n_distinct * 1.0 / s.n_tokens, 6) AS type_token_ratio
FROM stats s JOIN documents d ON d.doc_id = s.doc_id
""",
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality metrics per document: token counts, average token length,
    stopword ratio, type-token ratio — the standard cheap filters of an LLM
    data pipeline. One explode + one hash aggregate (partial agg; no UDF)."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "n_chars",
        F.explode(F.split(F.col("text"), " ")).alias("token"),
    ).where(F.col("token") != "")
    stats = t.groupBy("doc_id", "n_chars").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("token").alias("n_distinct"),
        F.round(F.avg(F.length("token")), 6).alias("avg_token_len"),
        F.round(
            F.sum(F.when(F.col("token").isin(*_STOPWORDS), 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("stopword_ratio"),
    )
    return stats.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        "n_distinct",
        "avg_token_len",
        "stopword_ratio",
        F.round(F.col("n_distinct") / F.col("n_tokens"), 6).alias(
            "type_token_ratio"
        ),
    )


@register(
    "token_count_regex",
    oracle=r"""
SELECT doc_id,
       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens,
       len(str_split(text, ' ')) AS n_ws_tokens
FROM documents
""",
)
def token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    (letters runs | digit runs | single punctuation) — the pattern uses only
    RE2∩Java syntax so both engines tokenize identically."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)
        ).alias("n_bpe_tokens"),
        F.size(F.split(F.col("text"), " ")).alias("n_ws_tokens"),
    )


def _lang_score_sql(lang: str) -> str:
    markers = _LANG_MARKERS[lang]
    return (
        "CAST(sum(CASE WHEN token IN "
        + str(markers)
        + f" THEN 1 ELSE 0 END) AS BIGINT) AS score_{lang}"
    )


@register(
    "lang_id_heuristic",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, unnest(str_split(text, ' ')) AS token FROM documents
),
scores AS (
  SELECT doc_id, lang,
         {", ".join(_lang_score_sql(lang) for lang in sorted(_LANG_MARKERS))}
  FROM t WHERE token <> ''
  GROUP BY doc_id, lang
),
ranked AS (
  SELECT doc_id, lang AS labeled_lang, l.pred_lang, l.score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY l.score DESC, l.pred_lang ASC) AS rn
  FROM scores,
  LATERAL (VALUES {", ".join(f"('{lang}', score_{lang})" for lang in sorted(_LANG_MARKERS))})
    AS l(pred_lang, score)
)
SELECT doc_id, labeled_lang, pred_lang, score
FROM ranked WHERE rn = 1
""",
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID by marker-token scoring: score each candidate language by
    its marker hit count, argmax with deterministic tie-break (score desc,
    lang asc). The unpivot→rank shape is how a real n-gram profile LID runs
    at scale (profiles broadcast, one pass over tokens)."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        F.explode(F.split(F.col("text"), " ")).alias("token"),
    ).where(F.col("token") != "")
    scores = t.groupBy("doc_id", "labeled_lang").agg(
        *[
            F.sum(
                F.when(F.col("token").isin(*_LANG_MARKERS[lang]), 1).otherwise(0)
            ).alias(f"score_{lang}")
            for lang in sorted(_LANG_MARKERS)
        ]
    )
    lang_structs = F.array(
        *[
            F.struct(
                F.lit(lang).alias("pred_lang"),
                F.col(f"score_{lang}").alias("score"),
            )
            for lang in sorted(_LANG_MARKERS)
        ]
    )
    exploded = scores.select(
        "doc_id", "labeled_lang", F.explode(lang_structs).alias("l")
    ).select("doc_id", "labeled_lang", "l.pred_lang", "l.score")
    from pyspark.sql import Window

    win = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("pred_lang").asc()
    )
    return (
        exploded.withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") == 1)
        .select("doc_id", "labeled_lang", "pred_lang", "score")
    )


@register(
    "doc_fingerprints_modp",
    oracle="""
WITH tok AS (
  SELECT doc_id, str_split(text, ' ') AS toks FROM documents
  WHERE len(str_split(text, ' ')) >= 3
),
sh AS (
  SELECT DISTINCT doc_id, md5(array_to_string(toks[i:i+2], ' ')) AS h
  FROM tok, unnest(range(1, len(toks) - 1)) AS t(i)
),
sampled AS (
  SELECT doc_id, h FROM sh WHERE substring(h, 1, 1) = '0'
)
SELECT doc_id, count(*) AS n_fingerprints,
       min(h) AS min_fp, max(h) AS max_fp
FROM sampled GROUP BY doc_id
""",
)
def doc_fingerprints_modp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting by mod-p sampling of rolling 3-gram hashes
    (keep hashes whose first hex digit is '0' ≈ 1/16 sample) — the
    winnowing-style sketch used for corpus-level near-dup detection. md5 on
    both engines ⇒ identical fingerprint sets."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 2),
            lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, 3))),
        )
    )
    sh = (
        spread(docs, "doc_id")
        .where(F.size(toks) >= 3)
        .select("doc_id", F.explode(shingles).alias("h"))
        .where(F.substring(F.col("h"), 1, 1) == "0")
    )
    return sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.min("h").alias("min_fp"),
        F.max("h").alias("max_fp"),
    )


# ---------------------------------------------------------------------------
# PII redaction, repetition scoring, BPE pair statistics


@register(
    "text_redact_pii",
    oracle="""
WITH spiked AS (
  SELECT doc_id,
         text || ' contact: user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +1-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS body
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(body, '[a-z0-9._]+@[a-z0-9.]+')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(body, '\\+1-555-[0-9]{4}')) AS BIGINT)
         AS n_phones,
       regexp_replace(
         regexp_replace(body, '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>', 'g'),
         '\\+1-555-[0-9]{4}', '<PHONE>', 'g') AS redacted
FROM spiked
""",
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (emails, phone numbers) — the redaction pass every
    training-data pipeline runs before tokenization. The fixture spikes a
    deterministic email+phone per document so the match count is known ≥ 1;
    patterns stay in the RE2∩Java-safe subset; counts come from the same
    regex as the replacement, so they cross-check each other."""
    docs = load_table(spark, sf_dir, "documents")
    body = F.concat(
        F.col("text"),
        F.lit(" contact: user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    email_re = "[a-z0-9._]+@[a-z0-9.]+"
    phone_re = r"\+1-555-[0-9]{4}"
    spiked = docs.select("doc_id", body.alias("body"))
    return spiked.select(
        "doc_id",
        F.size(F.regexp_extract_all("body", F.lit(email_re), 0))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("body", F.lit(phone_re), 0))
        .cast("long")
        .alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("body", email_re, "<EMAIL>"),
            phone_re,
            "<PHONE>",
        ).alias("redacted"),
    )


@register(
    "text_repetition_scores",
    oracle="""
WITH t AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents
),
freq AS (
  SELECT doc_id, token, count(*) AS cnt
  FROM t WHERE token <> '' GROUP BY doc_id, token
)
SELECT doc_id,
       CAST(sum(cnt) AS BIGINT) AS n_tokens,
       count(*) AS n_distinct,
       CAST(max(cnt) AS BIGINT) AS top_token_freq,
       round(max(cnt) * 1.0 / sum(cnt), 6) AS max_token_ratio,
       round(1.0 - count(*) * 1.0 / sum(cnt), 6) AS repetition_ratio
FROM freq GROUP BY doc_id
""",
)
def text_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition scoring per document (max-token share, 1 - distinct/total)
    — the cheap degenerate-text filter (boilerplate, keyword stuffing) of a
    dedup/quality pipeline. Two-level aggregate: per-(doc, token) counts,
    then per-doc stats; both levels get map-side partials."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return freq.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("cnt").alias("top_token_freq"),
        F.round(F.max("cnt") / F.sum("cnt"), 6).alias("max_token_ratio"),
        F.round(
            F.lit(1.0) - F.count(F.lit(1)) / F.sum("cnt"), 6
        ).alias("repetition_ratio"),
    )


@register(
    "bpe_top_pairs",
    oracle="""
WITH tok AS (
  SELECT str_split(text, ' ') AS toks FROM documents
  WHERE len(str_split(text, ' ')) >= 2
),
pairs AS (
  SELECT array_to_string(toks[i:i+1], ' ') AS pair
  FROM tok, unnest(range(1, len(toks))) AS t(i)
)
SELECT pair, count(*) AS cnt
FROM pairs
GROUP BY pair
ORDER BY cnt DESC, pair ASC
LIMIT 20
""",
)
def bpe_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The core step of BPE vocabulary induction: count adjacent token
    pairs corpus-wide, take the top merges (deterministic tie-break). The
    pair fan-out is zip_with over two array slices (JVM-side, no UDF), the
    count is one partial+final aggregate, and the top-20 is a
    TakeOrderedAndProject — no global sort materializes."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    pairs = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        spread(docs, "doc_id")
        .where(F.size(toks) >= 2)
        .select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair").asc())
        .limit(20)
    )


@register(
    "hash_split_assignment",
    oracle="""
WITH assigned AS (
  SELECT doc_id,
         CASE
           WHEN strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 < 13
             THEN 'train'
           WHEN strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 < 14
             THEN 'val'
           ELSE 'test'
         END AS split,
         n_chars
  FROM documents
)
SELECT split, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM assigned GROUP BY split
""",
)
def hash_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by content-independent hash
    (md5 of the id, first nibble: 13/16 train, 1/16 val, 2/16 test) — the
    reproducible-split primitive of a training pipeline: stable across
    engines and runs, no RNG state, no shuffle beyond the final count."""
    docs = load_table(spark, sf_dir, "documents")
    nib = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1),
        )
        - 1
    )
    assigned = docs.select(
        "doc_id",
        "n_chars",
        F.when(nib < 13, "train").when(nib < 14, "val").otherwise("test").alias(
            "split"
        ),
    )
    return assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


@register(
    "tfidf_top_terms",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> '' GROUP BY 1, 2
),
df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1
),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 4) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tfidf
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, term
  ) AS rn FROM scored
)
WHERE rn <= 3
""",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF with per-document top-3 terms — the classic relevance /
    keyword-extraction feature of a text pipeline. Three aggregations that
    all shuffle on `term` or `doc_id` (document frequency is a second agg
    over the tf output, not a distinct over raw tokens — 10x less shuffle
    input); doc count is a broadcast scalar; ranking rounds BEFORE
    ordering so cross-engine float noise cannot flip ranks (ties broken
    by term)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = spread(docs, "doc_id").select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).where(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 4
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf")
    )


@register(
    "pack_sequences_greedy",
    oracle="""
WITH tok AS (
  SELECT source, doc_id, len(list_filter(str_split(text, ' '), t -> t <> ''))
           AS n_tok
  FROM documents
),
cum AS (
  SELECT source, doc_id, n_tok,
         sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum_tok
  FROM tok
)
SELECT source, CAST((cum_tok - n_tok) // 2048 AS BIGINT) AS seq_id,
       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM cum
GROUP BY 1, 2
""",
)
def pack_sequences_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: concatenate documents (in stable
    doc_id order, independently per source shard) into 2048-token context
    windows; a document starts in the window its running offset falls in.
    One sort per source partition — no shuffle beyond the final per-window
    count; at 100 TB the per-shard ordering is exactly how packing is run
    (global order would serialize)."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.filter(F.split("text", " "), lambda t: t != ""))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = spread(docs, "doc_id").select(
        "source",
        "doc_id",
        n_tok.alias("n_tok"),
    ).withColumn("cum_tok", F.sum("n_tok").over(w))
    return (
        cum.groupBy(
            "source",
            F.floor((F.col("cum_tok") - F.col("n_tok")) / 2048)
            .cast("long")
            .alias("seq_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@register(
    "stratified_sample_per_lang",
    oracle="""
WITH rated AS (
  SELECT doc_id, lang, n_chars,
         CASE lang WHEN 'en' THEN '40' WHEN 'fr' THEN 'cc' ELSE 'ff' END
           AS keep_below,
         substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
  FROM documents
)
SELECT lang, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM rated WHERE bucket < keep_below
GROUP BY lang
""",
)
def stratified_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-language keep rates
    (downsample dominant 'en' to ~25%, 'fr' to ~80%, keep the rest) via a
    content-independent hash threshold — rebalancing a training mix
    without RNG state. The two-hex-digit md5 prefix is uniform on
    [0,256); a lexicographic compare against the per-stratum threshold
    string is identical on both engines. No shuffle before the final
    count: the filter is a scan-side predicate."""
    docs = load_table(spark, sf_dir, "documents")
    keep_below = (
        F.when(F.col("lang") == "en", "40")
        .when(F.col("lang") == "fr", "cc")
        .otherwise("ff")
    )
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    kept = docs.where(bucket < keep_below)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


_CHUNK_WIN = 8  # tokens per chunk
_CHUNK_STRIDE = 4  # tokens between chunk starts (50% overlap)


@register(
    "udtf_chunk_documents",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, str_split(text, ' ') AS toks FROM documents
)
SELECT doc_id,
       CAST((s.s - 1) / {_CHUNK_STRIDE} AS BIGINT) AS chunk_id,
       CAST(s.s - 1 AS BIGINT) AS start_tok,
       array_to_string(toks[s.s:s.s + {_CHUNK_WIN} - 1], ' ') AS chunk_text
FROM tok
CROSS JOIN unnest(range(1, greatest(len(toks) - {_CHUNK_WIN}, 0) + 2,
                        {_CHUNK_STRIDE})) AS s(s)
""",
)
def udtf_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (8-token windows, stride 4) via a
    Python UDTF in a LATERAL join — the extension point for per-row
    expansion logic too irregular for built-ins (real tokenizers, markup
    splitters). The UDTF is Arrow-batched by Spark 4; for THIS fixed
    window/stride the pure-builtin plan is `sequence`+`explode`+`slice`
    (zero Python), which is the 100 TB path — the UDTF query exists to
    pin the table-function API surface and its oracle.

    Chunks start every `stride` tokens; the final window is the last one
    that starts at or before len-win (clamped so short docs yield exactly
    one chunk)."""
    from pyspark.sql.functions import udtf

    win, stride = _CHUNK_WIN, _CHUNK_STRIDE

    @udtf(returnType="chunk_id: long, start_tok: long, chunk_text: string")
    class Chunker:
        def eval(self, text: str):  # noqa: ANN001
            toks = [t for t in (text or "").split(" ")]
            last_start = max(len(toks) - win, 0)
            cid = 0
            for start in range(0, last_start + 1, stride):
                yield cid, start, " ".join(toks[start : start + win])
                cid += 1

    spark.udtf.register("tfs_chunker", Chunker)
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    docs.createOrReplaceTempView("tfs_chunk_docs")
    return spark.sql(
        "SELECT d.doc_id, c.chunk_id, c.start_tok, c.chunk_text "
        "FROM tfs_chunk_docs d, LATERAL tfs_chunker(d.text) c"
    )


@register(
    "contamination_ngram_overlap",
    oracle="""
WITH tok AS (
  SELECT doc_id, str_split(text, ' ') AS toks FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, md5(array_to_string(toks[j:j+4], ' ')) AS g
  FROM tok CROSS JOIN unnest(range(1, greatest(len(toks) - 3, 1))) AS u(j)
),
bench AS (
  SELECT DISTINCT g FROM grams WHERE doc_id % 97 < 5
),
train AS (
  SELECT doc_id, g FROM grams WHERE doc_id % 97 >= 5
),
scored AS (
  SELECT t.doc_id,
         count(*) AS n_grams,
         count(b.g) AS n_shared
  FROM train t LEFT JOIN bench b USING (g)
  GROUP BY t.doc_id
)
SELECT doc_id, n_grams, n_shared,
       round(n_shared / n_grams, 4) AS overlap_frac
FROM scored
WHERE n_shared > 0
""",
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check — the decontamination step every
    LLM training pipeline runs before training: for each training document,
    the fraction of its distinct word 5-grams that also appear in a held-out
    benchmark set (here: docs with doc_id % 97 < 5 stand in for the eval
    suite). Grams are md5-hashed so the join key is a fixed-width string,
    and the benchmark side is a distinct-gram set that is tiny relative to
    the corpus — Spark broadcasts it, so at 100 TB this is one broadcast
    semi-probe per training gram, no shuffle of the training side. Output:
    every contaminated train doc with its gram counts and overlap fraction.
    """
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                # sequence(1, n) DESCENDS for n < 1, so short docs (< 5
                # tokens) must short-circuit to an empty gram list
                F.expr(
                    "CASE WHEN size(split(text, ' ')) >= 5 THEN"
                    " transform(sequence(1, size(split(text, ' ')) - 4),"
                    " j -> md5(array_join(slice(split(text, ' '), j, 5), ' ')))"
                    " ELSE array() END"
                )
            )
        ).alias("g"),
    )
    bench = (
        grams.where(F.col("doc_id") % 97 < 5).select("g").distinct()
        .withColumn("hit", F.lit(1))
    )
    train = grams.where(F.col("doc_id") % 97 >= 5)
    scored = (
        train.join(F.broadcast(bench), on="g", how="left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("hit").alias("n_shared"),
        )
    )
    return scored.where(F.col("n_shared") > 0).select(
        "doc_id",
        "n_grams",
        "n_shared",
        F.round(F.col("n_shared") / F.col("n_grams"), 4).alias("overlap_frac"),
    )


@register(
    "pmi_bigram_collocations",
    oracle="""
WITH tok AS (
  SELECT doc_id, str_split(text, ' ') AS toks FROM documents
),
pairs AS (
  SELECT toks[j] AS w1, toks[j + 1] AS w2
  FROM tok CROSS JOIN unnest(range(1, len(toks))) AS u(j)
  WHERE len(toks) >= 2
),
big AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY w1, w2),
uni AS (
  SELECT t AS w, count(*) AS c
  FROM (SELECT unnest(toks) AS t FROM tok) GROUP BY t
),
tot AS (
  SELECT CAST((SELECT sum(c) FROM uni) AS DOUBLE) AS n_uni,
         CAST((SELECT sum(c12) FROM big) AS DOUBLE) AS n_big
)
SELECT b.w1, b.w2, b.c12,
       round(ln((CAST(b.c12 AS DOUBLE) * t.n_uni * t.n_uni)
                / ((t.n_big * CAST(u1.c AS DOUBLE)) * CAST(u2.c AS DOUBLE))), 4)
         + 0.0 AS pmi
FROM big b
CROSS JOIN tot t
JOIN uni u1 ON b.w1 = u1.w
JOIN uni u2 ON b.w2 = u2.w
WHERE b.c12 >= 20
""",
)
def pmi_bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of adjacent word pairs — the classic
    collocation detector (and a building block of phrase-mining / tokenizer
    induction over a training corpus). Bigrams come from zipping each token
    array with its own tail (no self-join of the corpus); unigram counts are
    a vocabulary-sized table joined back twice (broadcast at scale — the
    vocabulary is tiny relative to the corpus); the totals are a broadcast
    1-row aggregate. PMI = ln(P(w1,w2) / (P(w1)·P(w2))) with bigram and
    unigram probabilities over their own totals; the arithmetic is
    parenthesized identically in both engines so the doubles agree
    bit-for-bit before rounding."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.split("text", " ").alias("toks")).where(
        F.size("toks") >= 2
    )
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " j -> struct(element_at(toks, j) AS w1,"
                " element_at(toks, j + 1) AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uni = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = uni.agg(F.sum("c").cast("double").alias("n_uni")).crossJoin(
        big.agg(F.sum("c12").cast("double").alias("n_big"))
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    scored = (
        big.where(F.col("c12") >= 20)
        .crossJoin(F.broadcast(tot))
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
    )
    pmi = F.log(
        (F.col("c12").cast("double") * F.col("n_uni") * F.col("n_uni"))
        / (
            (F.col("n_big") * F.col("c1").cast("double"))
            * F.col("c2").cast("double")
        )
    )
    # + 0.0 canonicalizes IEEE -0.0 (a tiny negative PMI rounded to zero)
    # to 0.0 identically in both engines
    return scored.select(
        "w1", "w2", "c12", (F.round(pmi, 4) + F.lit(0.0)).alias("pmi")
    )


@register(
    "lm_bigram_doc_scores",
    oracle="""
WITH tok AS (
  SELECT doc_id, str_split(text, ' ') AS toks FROM documents
  WHERE len(str_split(text, ' ')) >= 2
),
doc_bigrams AS (
  SELECT doc_id, toks[j] AS w1, toks[j + 1] AS w2
  FROM tok CROSS JOIN unnest(range(1, len(toks))) AS u(j)
),
big AS (SELECT w1, w2, count(*) AS c12 FROM doc_bigrams GROUP BY w1, w2),
ctx AS (SELECT w1, count(*) AS c1 FROM doc_bigrams GROUP BY w1),
vocab AS (
  SELECT CAST(count(DISTINCT t) AS DOUBLE) AS v
  FROM (SELECT unnest(str_split(text, ' ')) AS t FROM documents)
)
SELECT d.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(ln((CAST(b.c12 AS DOUBLE) + 1.0)
                    / (CAST(c.c1 AS DOUBLE) + vocab.v))), 4) AS avg_logprob
FROM doc_bigrams d
JOIN big b ON d.w1 = b.w1 AND d.w2 = b.w2
JOIN ctx c ON d.w1 = c.w1
CROSS JOIN vocab
GROUP BY d.doc_id
""",
)
def lm_bigram_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical LM quality scoring — the perplexity-style filter an LLM
    data pipeline runs to drop degenerate text: train an add-one-smoothed
    bigram model on the corpus itself (bigram + context counts, one pass),
    then score every document by its mean bigram log-probability. The model
    tables are vocabulary-sized → broadcast joins against the exploded
    corpus; no shuffle of the corpus beyond the per-doc aggregate. The
    probability arithmetic is integer counts → identical doubles → ln, so
    both engines agree before the final rounded average."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("toks")).where(
        F.size("toks") >= 2
    )
    doc_bigrams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " j -> struct(element_at(toks, j) AS w1,"
                " element_at(toks, j + 1) AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    big = doc_bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    ctx = doc_bigrams.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("t"))
        .agg(F.countDistinct("t").cast("double").alias("v"))
    )
    logp = F.log(
        (F.col("c12").cast("double") + F.lit(1.0))
        / (F.col("c1").cast("double") + F.col("v"))
    )
    return (
        doc_bigrams.join(F.broadcast(big), ["w1", "w2"])
        .join(F.broadcast(ctx), ["w1"])
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(logp), 4).alias("avg_logprob"),
        )
    )


@register(
    "posexplode_token_positions",
    oracle="""
WITH tok AS (
  SELECT doc_id, str_split(text, ' ') AS toks
  FROM documents WHERE doc_id % 10 = 0
)
SELECT doc_id, CAST(j - 1 AS INTEGER) AS pos, toks[j] AS token
FROM tok CROSS JOIN unnest(range(1, len(toks) + 1)) AS u(j)
WHERE toks[j] <> ''
""",
)
def posexplode_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinal explode: every token with its 0-based position — the shape
    token-level annotation pipelines (NER tags, span labels) need, where a
    plain explode loses the offset. One Generate node, position computed
    during the unnest, not by a window function after it."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0)
    return (
        docs.select(
            "doc_id",
            F.posexplode(F.split("text", " ")).alias("pos", "token"),
        )
        .where(F.col("token") != "")
        .select("doc_id", F.col("pos").cast("int").alias("pos"), "token")
    )


@register(
    "map_event_type_counts_per_user",
    oracle="""
WITH c AS (
  SELECT user_id, event_type, count(*) AS cnt
  FROM events GROUP BY user_id, event_type
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_types,
       string_agg(event_type || ':' || cnt, ',' ORDER BY event_type)
         AS type_counts
FROM c GROUP BY user_id
""",
)
def map_event_type_counts_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType aggregation: per-user map of event_type → count, built with
    map_from_entries over a sorted entry list (collect_list order is
    partition-dependent; sort_array pins it), then serialized to a canonical
    'k:v,...' string so the map VALUE — not just its cardinality — is
    oracle-checked. The map stays bounded by the event-type vocabulary, so
    per-user state never grows with event volume."""
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    m = F.map_from_entries(
        F.sort_array(F.collect_list(F.struct("event_type", "cnt")))
    )
    return (
        c.groupBy("user_id")
        .agg(m.alias("m"))
        .select(
            "user_id",
            F.size("m").cast("long").alias("n_types"),
            F.array_join(
                F.transform(
                    F.map_entries("m"),
                    lambda kv: F.concat(
                        kv.key, F.lit(":"), kv.value.cast("string")
                    ),
                ),
                ",",
            ).alias("type_counts"),
        )
    )


@register(
    "filter_by_length_percentile",
    oracle="""
WITH bounds AS (
  SELECT quantile_cont(n_chars, 0.05) AS lo,
         quantile_cont(n_chars, 0.95) AS hi
  FROM documents
)
SELECT d.doc_id, d.n_chars, d.lang
FROM documents d, bounds b
WHERE d.n_chars >= b.lo AND d.n_chars <= b.hi
""",
)
def filter_by_length_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-outlier filtering — the first gate of LLM corpus curation:
    keep documents whose length lies inside the [p5, p95] band of the
    corpus's own distribution (fragments and concatenation accidents live
    in the tails). The band is a broadcast 1-row aggregate joined to the
    scan, so the filter is a cheap residual predicate on every row; at
    100 TB swap the exact `percentile` for `approx_percentile` (mergeable
    t-digest, no per-group sort) — same plan shape, sketch-bounded error."""
    docs = load_table(spark, sf_dir, "documents")
    bounds = docs.agg(
        F.expr("percentile(n_chars, 0.05)").alias("lo"),
        F.expr("percentile(n_chars, 0.95)").alias("hi"),
    )
    return (
        docs.crossJoin(F.broadcast(bounds))
        .where((F.col("n_chars") >= F.col("lo")) & (F.col("n_chars") <= F.col("hi")))
        .select("doc_id", "n_chars", "lang")
    )


# ---------------------------------------------------------------------------
# BM25 retrieval

#: query terms (one rare + two common, so idf actually differentiates) and
#: the standard Robertson parameters; identical literals in Spark + oracle.
_BM25_TERMS = ("dup", "vector", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_oracle() -> str:
    vals = ", ".join(f"('{t}')" for t in _BM25_TERMS)
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents
),
t AS (SELECT doc_id, term FROM tok WHERE term <> ''),
tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY 1),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
q(term) AS (VALUES {vals}),
contrib AS (
  SELECT tf.doc_id,
         CAST(round(
           ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * ((tf.tf * ({_BM25_K1} + 1)) /
              (tf.tf + {_BM25_K1} * ((1 - {_BM25_B}) + {_BM25_B}
                 * (dl.dl / (CAST(s.sum_dl AS DOUBLE) / s.n_docs))))),
           6) AS DECIMAL(18,6)) AS contrib
  FROM tf
  JOIN q USING (term)
  JOIN dl USING (doc_id)
  JOIN dfreq d USING (term)
  CROSS JOIN stats s
),
scores AS (
  SELECT doc_id, sum(contrib) AS sdec,
         CAST(count(*) AS BIGINT) AS n_matched
  FROM contrib GROUP BY 1
)
SELECT doc_id, n_matched, round(CAST(sdec AS DOUBLE), 4) AS score,
       CAST(row_number() OVER (ORDER BY sdec DESC, doc_id) AS INTEGER) AS rank
FROM scores
ORDER BY rank
LIMIT 10
"""


@register("bm25_topk_docs", oracle=_bm25_oracle())
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document ranking for a broadcast query-term set — the canonical
    retrieval scorer the tf-idf stack composes into (idf here is the
    Robertson ``ln(1 + (N - df + .5)/(df + .5))`` form; length
    normalization via ``dl/avgdl`` with k1=1.2, b=0.75).

    Scale/portability design: the query side is a tiny broadcast table, so
    term statistics join against the tf table without shuffling it beyond
    the tf aggregation itself; per-(doc, term) contributions are rounded
    then summed as DECIMAL — an exact, order-independent accumulation, so
    ranking on the decimal sum cannot be flipped by float summation order
    across partitionings (ties broken by doc_id). Top-10 is
    sort-limit (TakeOrderedAndProject), never a global rank over all
    docs."""
    docs = load_table(spark, sf_dir, "documents")
    t = (
        spread(docs, "doc_id")
        .select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .where(F.col("term") != "")
    )
    tf = t.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = t.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    q = local_frame(spark, [(term,) for term in _BM25_TERMS], "term string")
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    idf = F.log(
        1
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_part = (F.col("tf") * F.lit(_BM25_K1 + 1)) / (
        F.col("tf")
        + F.lit(_BM25_K1)
        * (F.lit(1 - _BM25_B) + F.lit(_BM25_B) * (F.col("dl") / avgdl))
    )
    contrib = (
        tf.join(F.broadcast(q), on="term")
        .join(dl, on="doc_id")
        .join(F.broadcast(dfreq.join(F.broadcast(q), on="term")), on="term")
        .join(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(idf * tf_part, 6).cast("decimal(18,6)").alias("contrib"),
        )
    )
    scores = contrib.groupBy("doc_id").agg(
        F.sum("contrib").alias("sdec"), F.count(F.lit(1)).alias("n_matched")
    )
    top = scores.orderBy(F.col("sdec").desc(), F.col("doc_id")).limit(10)
    w = Window.orderBy(F.col("sdec").desc(), F.col("doc_id"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("int"))
        .select(
            "doc_id",
            "n_matched",
            F.round(F.col("sdec").cast("double"), 4).alias("score"),
            "rank",
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# Iterative BPE merge learning (full loop; bpe_top_pairs is one step of it)

_BPE_MERGES = 3


def _bpe_ctes(k: int, apply_last: bool = False) -> list[str]:
    """Unrolled BPE-round CTEs ending at ``best{k}`` (and ``t{k + 1}``,
    the fully-merged symbol table, when ``apply_last``) — shared by the
    merge-learning oracle and the corpus-encoding oracle."""
    parts = [
        """words AS (
  SELECT tok AS word, count(*) AS weight
  FROM (SELECT unnest(str_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> '' GROUP BY 1
),
t1 AS (
  SELECT word, weight, CAST(i AS BIGINT) AS rn, substr(word, i, 1) AS sym
  FROM words CROSS JOIN unnest(range(1, length(word) + 1)) AS u(i)
)"""
    ]
    for r in range(1, k + 1):
        parts.append(
            f"""p{r} AS (
  SELECT word, weight, rn, sym,
         lead(sym) OVER (PARTITION BY word ORDER BY rn) AS nxt
  FROM t{r}
),
best{r} AS (
  SELECT a, b, cnt FROM (
    SELECT sym AS a, nxt AS b, CAST(sum(weight) AS BIGINT) AS cnt
    FROM p{r} WHERE nxt IS NOT NULL GROUP BY 1, 2
  ) ORDER BY cnt DESC, a, b LIMIT 1
)"""
        )
        if r < k or apply_last:
            parts.append(
                f"""m{r} AS (
  SELECT p.word, p.weight, p.rn, p.sym, p.nxt,
         CASE WHEN p.sym = b.a AND p.nxt = b.b THEN 1 ELSE 0 END AS mt
  FROM p{r} p CROSS JOIN best{r} b
),
g{r} AS (
  SELECT *, CASE WHEN mt = 1 THEN rn - row_number() OVER (
      PARTITION BY word, mt ORDER BY rn) END AS grp
  FROM m{r}
),
mg{r} AS (
  SELECT *, CASE WHEN mt = 1
                  AND (rn - min(rn) OVER (PARTITION BY word, grp)) % 2 = 0
                 THEN 1 ELSE 0 END AS mg
  FROM g{r}
),
t{r + 1} AS (
  SELECT word, weight,
         row_number() OVER (PARTITION BY word ORDER BY rn) AS rn,
         CASE WHEN mg = 1 THEN sym || nxt ELSE sym END AS sym
  FROM (
    SELECT *, lag(mg) OVER (PARTITION BY word ORDER BY rn) AS prev_mg
    FROM mg{r}
  )
  WHERE coalesce(prev_mg, 0) = 0
)"""
            )
    return parts


def _bpe_merges_oracle(k: int = _BPE_MERGES) -> str:
    sel = "\nUNION ALL\n".join(
        f"SELECT {r} AS step, a AS left_sym, b AS right_sym, "
        f"a || b AS merged, cnt FROM best{r}"
        for r in range(1, k + 1)
    )
    return "WITH " + ",\n".join(_bpe_ctes(k)) + "\n" + sel


def _bpe_encode_oracle(k: int = _BPE_MERGES) -> str:
    return (
        "WITH "
        + ",\n".join(_bpe_ctes(k, apply_last=True))
        + f"""
SELECT word, CAST(weight AS BIGINT) AS weight,
       CAST(count(*) AS BIGINT) AS n_subtokens,
       string_agg(sym, ' ' ORDER BY rn) AS subtokens
FROM t{k + 1}
GROUP BY word, weight
"""
    )


@register("bpe_learn_merges", oracle=_bpe_merges_oracle())
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full BPE tokenizer-training loop (3 merge rounds) over the
    corpus word-frequency table — `bpe_top_pairs` is one pair-count step;
    this learns actual merge RULES, applying each one greedily
    (leftmost-nonoverlapping, via the gaps-and-islands parity trick in
    `operators/bpe.py`) before counting the next round. The oracle unrolls
    the identical three rounds as window-function CTEs; a pure-Python BPE
    reference pins the operator in tests/test_bpe.py."""
    from twitter_flink_spark.operators.bpe import bpe_learn

    docs = load_table(spark, sf_dir, "documents")
    words = (
        spread(docs, "doc_id")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    return bpe_learn(words, _BPE_MERGES)


# ---------------------------------------------------------------------------
# Curriculum packing (SURVEY §12 item 3)

_CURR_WIN = 2048


@register(
    "curriculum_pack_difficulty",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source, n_chars,
         len(list_filter(str_split(text, ' '), x -> x <> '')) AS n_tok
  FROM documents
),
sc AS (
  SELECT doc_id, source, n_tok, round(n_chars * 1.0 / n_tok, 1) AS diff
  FROM t WHERE n_tok > 0
),
levels AS (SELECT diff AS v, count(*) AS c FROM sc GROUP BY 1),
n AS (SELECT count(*) AS n FROM sc),
cum AS (
  SELECT v, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cc
  FROM levels
),
bnd AS (
  SELECT
    min(CASE WHEN cc >= ceil(0.25 * n.n) THEN v END) AS b1,
    min(CASE WHEN cc >= ceil(0.50 * n.n) THEN v END) AS b2,
    min(CASE WHEN cc >= ceil(0.75 * n.n) THEN v END) AS b3
  FROM cum CROSS JOIN n
),
fact AS (
  SELECT sc.doc_id, sc.source, sc.n_tok,
         1 + CAST(sc.diff >= bnd.b1 AS INT)
           + CAST(sc.diff >= bnd.b2 AS INT)
           + CAST(sc.diff >= bnd.b3 AS INT) AS bucket_id
  FROM sc CROSS JOIN bnd
),
cumtok AS (
  SELECT bucket_id, source, doc_id, n_tok,
         sum(n_tok) OVER (PARTITION BY bucket_id, source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum_tok
  FROM fact
)
SELECT bucket_id, source,
       CAST((cum_tok - n_tok) // {_CURR_WIN} AS BIGINT) AS seq_id,
       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM cumtok
GROUP BY 1, 2, 3
""",
)
def curriculum_pack_difficulty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-ordered sequence packing (SURVEY §12): documents are
    quartile-bucketed by a difficulty proxy (mean chars per token,
    rounded to 1 decimal) and packed into 2048-token windows WITHIN
    (difficulty bucket, source shard) — the data layout a curriculum
    schedule consumes bucket-by-bucket.

    Scale composition, both halves already proven individually: quartile
    boundaries come from the aggregate-to-levels running sum
    (`quantile_bucket_join_lineitem`) — the 1-decimal rounding bounds the
    level table to dozens of rows, so no global row sort ever happens and
    the boundaries broadcast as one row; bucket assignment is three
    scan-side comparisons; packing runs per (bucket, source) partition
    exactly like `pack_sequences_greedy` — the per-shard window is the
    parallel unit, so adding buckets ADDS parallelism rather than
    serializing it."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.filter(F.split("text", " "), lambda t: t != ""))
    sc = (
        spread(docs, "doc_id")
        .select("doc_id", "source", "n_chars", n_tok.alias("n_tok"))
        .where(F.col("n_tok") > 0)
        .withColumn(
            "diff", F.round(F.col("n_chars") * 1.0 / F.col("n_tok"), 1)
        )
    )
    levels = sc.groupBy(F.col("diff").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    n = sc.agg(F.count(F.lit(1)).alias("n"))
    wlev = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = levels.select("v", F.sum("c").over(wlev).alias("cc"))
    bmark = lambda q: F.min(  # noqa: E731
        F.when(F.col("cc") >= F.ceil(q * F.col("n")), F.col("v"))
    )
    bnd = cum.join(F.broadcast(n)).agg(
        bmark(F.lit(0.25)).alias("b1"),
        bmark(F.lit(0.50)).alias("b2"),
        bmark(F.lit(0.75)).alias("b3"),
    )
    fact = sc.crossJoin(F.broadcast(bnd)).select(
        "doc_id",
        "source",
        "n_tok",
        (
            F.lit(1)
            + (F.col("diff") >= F.col("b1")).cast("int")
            + (F.col("diff") >= F.col("b2")).cast("int")
            + (F.col("diff") >= F.col("b3")).cast("int")
        ).alias("bucket_id"),
    )
    wpack = (
        Window.partitionBy("bucket_id", "source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cumtok = fact.withColumn("cum_tok", F.sum("n_tok").over(wpack))
    return (
        cumtok.groupBy(
            "bucket_id",
            "source",
            F.floor((F.col("cum_tok") - F.col("n_tok")) / _CURR_WIN)
            .cast("long")
            .alias("seq_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# ---------------------------------------------------------------------------
# Inverted index build with d-gap postings

_IDX_MIN_DF = 5


@register(
    "inverted_index_dgap",
    oracle=f"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(str_split(text, ' ')) AS term
  FROM documents
),
d AS (
  SELECT term, doc_id,
         doc_id - lag(doc_id, 1, 0) OVER (
           PARTITION BY term ORDER BY doc_id) AS delta
  FROM tok WHERE term <> ''
),
g AS (
  SELECT term, count(*) AS df, min(doc_id) AS first_doc,
         string_agg(CAST(delta AS VARCHAR), ',' ORDER BY doc_id) AS deltas,
         CAST(sum(length(bin(delta))) AS BIGINT) AS sum_bits
  FROM d GROUP BY term
)
SELECT term, df, first_doc, deltas, sum_bits FROM g WHERE df >= {_IDX_MIN_DF}
""",
)
def inverted_index_dgap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build with delta-encoded (d-gap) postings — the
    core retrieval artifact behind `bm25_topk_docs`: per term, the sorted
    doc_id posting list stored as gaps (first gap from 0), plus the
    binary-magnitude bit cost the gap encoding would pay — small gaps
    (clustered doc ids) compress well, which is WHY indexes store gaps.

    Shape at scale: ONE shuffle keyed by term; the gap computation is a
    lag window inside that same (term, doc_id) partitioning — no second
    exchange — and the list assembly is the sort_array(collect_list)
    reduction, safe because per-term postings are bounded by df (terms
    above a df ceiling would be sharded into skip-list blocks; the
    df >= {_IDX_MIN_DF} floor here keeps the output the dictionary's
    head, the same pruning a real dictionary applies to hapaxes)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        spread(docs, "doc_id")
        .select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .where(F.col("term") != "")
        .distinct()
    )
    w = Window.partitionBy("term").orderBy("doc_id")
    d = tok.withColumn(
        "delta", F.col("doc_id") - F.lag("doc_id", 1, 0).over(w)
    )
    return (
        d.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.min("doc_id").alias("first_doc"),
            # gap list as a canonical comma-joined STRING (driver's pandas
            # canonicalizer cannot hash ndarray cells — r04 err)
            F.expr(
                "array_join(transform(sort_array(collect_list("
                "struct(doc_id, delta))), s -> cast(s.delta as string)), ',')"
            ).alias("deltas"),
            F.sum(F.length(F.bin("delta"))).cast("long").alias("sum_bits"),
        )
        .where(F.col("df") >= _IDX_MIN_DF)
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (rolling-hash boundaries)

_CDC_NGRAM = 3  #: rolling-hash context width (tokens)
#: boundary iff the last md5 hex digit of the context <= this → p = 2/16,
#: expected chunk length ~8 tokens
_CDC_BOUND = "1"


@register(
    "cdc_chunk_documents",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, t.i AS pos, toks[t.i] AS token
  FROM (
    SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '') AS toks
    FROM documents
  ), unnest(range(1, len(toks) + 1)) AS t(i)
),
ctx AS (
  SELECT doc_id, pos, token,
         CASE WHEN pos >= {_CDC_NGRAM} AND substr(md5(
                lag(token, 2) OVER w || ' ' || lag(token, 1) OVER w
                  || ' ' || token), 32, 1) <= '{_CDC_BOUND}'
              THEN 1 ELSE 0 END AS boundary
  FROM tok
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
cid AS (
  SELECT doc_id, pos, token,
         coalesce(sum(boundary) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
  FROM ctx
)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       md5(string_agg(token, ' ' ORDER BY pos)) AS chunk_hash
FROM cid
GROUP BY doc_id, chunk_id
""",
)
def cdc_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking: chunk boundaries fall where the rolling
    hash of the last {_CDC_NGRAM} tokens lands in a 1/8 target range —
    so an insertion early in a document only perturbs ONE chunk, and
    every later chunk re-aligns and re-deduplicates (the FastCDC/rsync
    property fixed windows like `udtf_chunk_documents` lack; the emitted
    chunk_hash is exactly what a chunk-level dedup store keys on).

    Execution: one shuffle keyed by doc_id; the boundary lag-window and
    the chunk-id running sum share the same (doc_id, pos) partitioning
    and ordering, so Catalyst plans a single exchange+sort for both, and
    the final chunk aggregate reuses that clustering. Everything is
    md5-deterministic — the oracle recomputes identical boundaries."""
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        spread(docs, "doc_id")
        .select(
            "doc_id",
            F.posexplode(F.filter(F.split("text", " "), lambda t: t != "")),
        )
        .select("doc_id", (F.col("pos") + 1).alias("pos"), F.col("col").alias("token"))
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    ctx = tok.withColumn(
        "boundary",
        (
            (F.col("pos") >= _CDC_NGRAM)
            & (
                F.substring(
                    F.md5(
                        F.concat_ws(
                            " ",
                            F.lag("token", 2).over(w),
                            F.lag("token", 1).over(w),
                            F.col("token"),
                        )
                    ),
                    32,
                    1,
                )
                <= _CDC_BOUND
            )
        ).cast("int"),
    )
    wrun = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cid = ctx.withColumn(
        "chunk_id", F.coalesce(F.sum("boundary").over(wrun), F.lit(0))
    )
    return (
        cid.groupBy("doc_id", F.col("chunk_id").cast("long").alias("chunk_id"))
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.md5(
                F.expr(
                    "array_join(transform(sort_array(collect_list("
                    "struct(pos, token))), s -> s.token), ' ')"
                )
            ).alias("chunk_hash"),
        )
    )


@register("bpe_encode_vocab", oracle=_bpe_encode_oracle())
def bpe_encode_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE: segment every vocabulary word with the merges
    `bpe_learn_merges` learns (3 rounds, same corpus) — the apply side of
    the tokenizer, turning words into subtoken sequences
    (`operators/bpe.py::bpe_encode`). Encoding stays on the
    vocabulary-sized word-frequency table, NOT the corpus: a 100 TB
    corpus re-tokenizes by equi-joining its words against this encoded
    vocabulary (zipf-bounded rows), never re-running the merge machinery
    per document. Greedy leftmost-nonoverlapping application is the same
    gaps-and-islands parity pass as learning; the oracle unrolls all
    three learn+apply rounds and reassembles subtokens in rn order."""
    from twitter_flink_spark.operators.bpe import bpe_encode

    docs = load_table(spark, sf_dir, "documents")
    words = (
        spread(docs, "doc_id")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    t = bpe_encode(words, _BPE_MERGES)
    return t.groupBy("word", "weight").agg(
        F.count(F.lit(1)).alias("n_subtokens"),
        # space-joined string, not array<string>: driver canon can't hash
        # ndarray cells (r04 err); BPE symbols never contain spaces (the
        # vocabulary is split ON spaces), so the join is lossless
        F.expr(
            "array_join(transform(sort_array(collect_list(struct(rn, sym))),"
            " s -> s.sym), ' ')"
        ).alias("subtokens"),
    )


@register(
    "zipf_slope_vocabulary",
    oracle="""
WITH freq AS (
  SELECT tok AS term, count(*) AS f
  FROM (SELECT unnest(str_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> '' GROUP BY 1
),
ranked AS (
  SELECT f, row_number() OVER (ORDER BY f DESC, term) AS r FROM freq
),
pts AS (
  SELECT CAST(round(ln(CAST(r AS DOUBLE)), 10) AS DECIMAL(28,10)) AS x,
         CAST(round(ln(CAST(f AS DOUBLE)), 10) AS DECIMAL(28,10)) AS y
  FROM ranked
),
s AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_terms,
       round(CAST((n * sxy - sx * sy) AS DOUBLE)
             / CAST((n * sxx - sx * sx) AS DOUBLE), 6) AS slope,
       round((CAST(sy AS DOUBLE) - CAST((n * sxy - sx * sy) AS DOUBLE)
               / CAST((n * sxx - sx * sx) AS DOUBLE)
               * CAST(sx AS DOUBLE)) / n, 4) AS intercept
FROM s
""",
)
def zipf_slope_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law diagnostic: OLS slope of log(frequency) against log(rank)
    over the corpus vocabulary — the one-number corpus-health check
    (natural text sits near -1; template/boilerplate corpora flatten, and
    a slope drifting across ingest batches flags a distribution shift).
    The regression is the CLOSED-FORM normal equation over five
    aggregates, all JVM-side; every ln() is rounded to 10 decimals and
    summed as DECIMAL so partitioning/engine cannot move the slope. The
    only ordered step is the vocabulary rank window — vocabulary-sized
    (zipf-bounded), not corpus-sized, the same discipline as
    `inverted_index_dgap`."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        spread(docs, "doc_id")
        .select(F.explode(F.split("text", " ")).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    w = Window.orderBy(F.col("f").desc(), F.col("term"))
    pts = freq.select(
        F.round(F.log(F.row_number().over(w).cast("double")), 10)
        .cast("decimal(28,10)")
        .alias("x"),
        F.round(F.log(F.col("f").cast("double")), 10)
        .cast("decimal(28,10)")
        .alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    )
    return s.select(
        F.col("n").cast("long").alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        # intercept rounds at 4 decimals: its last double division sits
        # a full 100x above the cross-engine 1-ulp noise observed at 6
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n"),
            4,
        ).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# Gopher-style quality rule filter (rule outcomes as the checkable surface)

_GQ_MIN_TOKENS = 30
_GQ_MAX_TOKENS = 500


@register(
    "gopher_quality_rules",
    oracle=f"""
WITH t AS (
  SELECT doc_id, unnest(list_filter(str_split(text, ' '), x -> x <> ''))
           AS token
  FROM documents
),
st AS (
  SELECT doc_id,
         count(*) AS n_tokens,
         sum(length(token)) AS sum_len,
         sum(CASE WHEN token IN {_STOPWORDS} THEN 1 ELSE 0 END) AS n_stop,
         count(DISTINCT CASE WHEN token IN {_STOPWORDS} THEN token END)
           AS n_stop_distinct,
         max(cnt) AS max_cnt
  FROM (
    SELECT doc_id, token, count(*) OVER (PARTITION BY doc_id, token) AS cnt
    FROM t
  )
  GROUP BY doc_id
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_tokens BETWEEN {_GQ_MIN_TOKENS} AND {_GQ_MAX_TOKENS} AS INTEGER)
         AS r_wordcount,
       CAST(sum_len >= 3 * n_tokens AND sum_len <= 10 * n_tokens AS INTEGER)
         AS r_mean_word_len,
       CAST(n_stop_distinct >= 2 AND n_stop * 50 >= n_tokens AS INTEGER)
         AS r_stopwords,
       CAST(max_cnt * 10 <= n_tokens AS INTEGER) AS r_repetition,
       CAST(n_tokens BETWEEN {_GQ_MIN_TOKENS} AND {_GQ_MAX_TOKENS}
            AND sum_len >= 3 * n_tokens AND sum_len <= 10 * n_tokens
            AND n_stop_distinct >= 2 AND n_stop * 50 >= n_tokens
            AND max_cnt * 10 <= n_tokens AS INTEGER) AS passes
FROM st
""",
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality RULE filter (Rae et al. 2021 §A1.1 shape,
    thresholds adapted to the synthetic fixture): per document, the
    boolean outcome of each repetition/length/stopword rule plus the
    combined pass verdict — the actual decision surface a corpus filter
    ships, as opposed to `text_quality_scores`' raw feature values.
    Rules: token count in [30, 500]; mean word length in [3, 10];
    at least 2 distinct stopwords AND stopword mass >= 2%; no single
    token above 10% of the document (the repetition gate).

    Every comparison is EXACT integer arithmetic (mean word length as
    3*n <= sum_len <= 10*n, ratios cross-multiplied) — no float ever
    reaches a boundary, so the engines cannot disagree on a verdict.
    One doc-keyed aggregate over the token stream (the per-(doc, token)
    max rides a window on the same exchange); rule evaluation is
    map-side on the 1-row-per-doc stats."""
    docs = load_table(spark, sf_dir, "documents")
    st = _gopher_doc_verdicts(docs)
    return st.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("r_wordcount").cast("int").alias("r_wordcount"),
        F.col("r_mean_word_len").cast("int").alias("r_mean_word_len"),
        F.col("r_stopwords").cast("int").alias("r_stopwords"),
        F.col("r_repetition").cast("int").alias("r_repetition"),
        F.col("passes").cast("int").alias("passes"),
    )


def _gopher_doc_verdicts(docs: DataFrame) -> DataFrame:
    """Per-doc Gopher rule stats + boolean verdict columns, carrying the
    doc-grain (source, lang) keys so report consumers never re-join the
    documents table."""
    t = docs.select(
        "doc_id",
        "source",
        "lang",
        F.explode(
            F.filter(F.split("text", " "), lambda x: x != "")
        ).alias("token"),
    )
    wdt = Window.partitionBy("doc_id", "token")
    st = (
        t.withColumn("cnt", F.count(F.lit(1)).over(wdt))
        .groupBy("doc_id", "source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.length("token")).alias("sum_len"),
            F.sum(
                F.col("token").isin(*_STOPWORDS).cast("int")
            ).alias("n_stop"),
            F.count_distinct(
                F.when(F.col("token").isin(*_STOPWORDS), F.col("token"))
            ).alias("n_stop_distinct"),
            F.max("cnt").alias("max_cnt"),
        )
    )
    r_wc = F.col("n_tokens").between(_GQ_MIN_TOKENS, _GQ_MAX_TOKENS)
    r_len = (F.col("sum_len") >= 3 * F.col("n_tokens")) & (
        F.col("sum_len") <= 10 * F.col("n_tokens")
    )
    r_stop = (F.col("n_stop_distinct") >= 2) & (
        F.col("n_stop") * 50 >= F.col("n_tokens")
    )
    r_rep = F.col("max_cnt") * 10 <= F.col("n_tokens")
    return st.select(
        "doc_id",
        "source",
        "lang",
        "n_tokens",
        r_wc.alias("r_wordcount"),
        r_len.alias("r_mean_word_len"),
        r_stop.alias("r_stopwords"),
        r_rep.alias("r_repetition"),
        (r_wc & r_len & r_stop & r_rep).alias("passes"),
    )


# ---------------------------------------------------------------------------
# DSIR-style hashed importance weights (data selection for LMs)

_DSIR_BUCKETS = 64
_DSIR_HEX = 8


def _dsir_oracle() -> str:
    digit_terms = " + ".join(
        f"(strpos('0123456789abcdef', substr(hx, {j + 1}, 1)) - 1) "
        f"* {16 ** (_DSIR_HEX - 1 - j)}"
        for j in range(_DSIR_HEX)
    )
    return f"""
WITH t AS (
  SELECT doc_id, lang,
         unnest(list_filter(str_split(text, ' '), x -> x <> '')) AS token
  FROM documents
),
b AS (
  SELECT doc_id, lang,
         CAST(({digit_terms}) % {_DSIR_BUCKETS} AS BIGINT) AS bucket
  FROM (SELECT doc_id, lang, substr(md5('dsir:' || token), 1, {_DSIR_HEX})
          AS hx FROM t)
),
tgt AS (
  SELECT bucket, count(*) AS c FROM b WHERE lang = 'en' GROUP BY bucket
),
raw AS (SELECT bucket, count(*) AS c FROM b GROUP BY bucket),
tot AS (
  SELECT (SELECT count(*) FROM b WHERE lang = 'en') AS nt,
         (SELECT count(*) FROM b) AS nr
),
lr AS (
  SELECT r.bucket,
         CAST(round(
           ln((coalesce(t.c, 0) + 1.0) / (tot.nt + {_DSIR_BUCKETS}))
           - ln((r.c + 1.0) / (tot.nr + {_DSIR_BUCKETS})), 10)
           AS DECIMAL(28,10)) AS logratio
  FROM raw r LEFT JOIN tgt t USING (bucket), tot
)
SELECT b.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(lr.logratio) AS DOUBLE) + 0.0 AS dsir_logweight
FROM b JOIN lr USING (bucket)
GROUP BY b.doc_id
"""


@register("dsir_importance_weights", oracle=_dsir_oracle())
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection weights (Xie et al. 2023): importance
    weight of each raw document under a TARGET distribution (here the
    lang='en' slice), estimated on HASHED unigram buckets — per-bucket
    add-one-smoothed log probability ratio log p_tgt(b) - log p_raw(b),
    summed over the document's tokens with multiplicity. The bucket
    model is {_DSIR_BUCKETS} rows regardless of corpus size: fit is two
    bucket-keyed counts, scoring is a BROADCAST join onto the token
    stream plus one doc-keyed aggregate — the corpus shuffles once, on
    doc_id, exactly like every other per-doc scorer here. md5-derived
    buckets make the hash byte-identical in the oracle (positional hex
    digit sums); each bucket's log-ratio rounds to 10 decimals and the
    per-doc sum runs in DECIMAL so it is token-order independent."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "lang",
        F.explode(
            F.filter(F.split("text", " "), lambda x: x != "")
        ).alias("token"),
    )
    hexv = F.substring(
        F.md5(F.concat(F.lit("dsir:"), F.col("token"))), 1, _DSIR_HEX
    )
    b = t.select(
        "doc_id",
        "lang",
        (F.conv(hexv, 16, 10).cast("long") % _DSIR_BUCKETS).alias("bucket"),
    )
    # ONE stats pass builds the whole model: per-bucket raw/target counts
    # in a single {buckets}-row aggregate, totals summed over that tiny
    # frame rather than re-scanning the corpus (the token stream is read
    # exactly twice — model fit and scoring — not once per statistic)
    stats = b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("rc"),
        F.sum((F.col("lang") == "en").cast("long")).alias("tc"),
    )
    tot = stats.agg(
        F.sum("rc").alias("nr"), F.sum("tc").alias("nt")
    )
    lr = stats.join(F.broadcast(tot)).select(
        "bucket",
        F.round(
            F.log((F.col("tc") + 1.0) / (F.col("nt") + _DSIR_BUCKETS))
            - F.log((F.col("rc") + 1.0) / (F.col("nr") + _DSIR_BUCKETS)),
            10,
        )
        .cast("decimal(28,10)")
        .alias("logratio"),
    )
    # score on the REDUCED (doc, bucket) count grain — at most
    # {buckets} rows per doc survive the map-side combine, and the
    # decimal multiply logratio * cnt is exactly the sum over the
    # doc's token instances
    dbc = b.groupBy("doc_id", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return (
        dbc.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            # (20,10) x (8,0) -> decimal(29,10): stays exact (28,10 x
            # bigint would exceed precision 38 and silently lose scale)
            (
                F.sum(
                    F.col("logratio").cast("decimal(20,10)")
                    * F.col("cnt").cast("decimal(8,0)")
                ).cast("double")
                + F.lit(0.0)
            ).alias("dsir_logweight"),
        )
    )


@register(
    "quality_rule_mixture_report",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source, lang,
         unnest(list_filter(str_split(text, ' '), x -> x <> '')) AS token
  FROM documents
),
st AS (
  SELECT doc_id, source, lang,
         count(*) AS n_tokens,
         sum(length(token)) AS sum_len,
         sum(CASE WHEN token IN {_STOPWORDS} THEN 1 ELSE 0 END) AS n_stop,
         count(DISTINCT CASE WHEN token IN {_STOPWORDS} THEN token END)
           AS n_stop_distinct,
         max(cnt) AS max_cnt
  FROM (
    SELECT *, count(*) OVER (PARTITION BY doc_id, token) AS cnt
    FROM t
  )
  GROUP BY doc_id, source, lang
),
v AS (
  SELECT source, lang,
         CAST(n_tokens BETWEEN {_GQ_MIN_TOKENS} AND {_GQ_MAX_TOKENS}
              AS INTEGER) AS r_wc,
         CAST(sum_len >= 3 * n_tokens AND sum_len <= 10 * n_tokens
              AS INTEGER) AS r_len,
         CAST(n_stop_distinct >= 2 AND n_stop * 50 >= n_tokens AS INTEGER)
           AS r_stop,
         CAST(max_cnt * 10 <= n_tokens AS INTEGER) AS r_rep
  FROM st
)
SELECT source, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(r_wc) AS BIGINT) AS n_wordcount,
       CAST(sum(r_len) AS BIGINT) AS n_mean_word_len,
       CAST(sum(r_stop) AS BIGINT) AS n_stopwords,
       CAST(sum(r_rep) AS BIGINT) AS n_repetition,
       CAST(sum(r_wc * r_len * r_stop * r_rep) AS BIGINT) AS n_pass,
       floor(sum(r_wc * r_len * r_stop * r_rep) * 1000000.0 / count(*))
         / 1000000.0 AS pass_rate
FROM v
GROUP BY source, lang
""",
)
def quality_rule_mixture_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Corpus-level quality report: per (source, lang) stratum, how many
    documents pass each Gopher rule and the combined pass RATE — the
    table a data-mixture owner actually reads before deciding which
    source to re-crawl or down-weight (the per-doc verdicts from
    `gopher_quality_rules` are the row-level form; this is the rollup).
    Two aggregates: the doc-grain verdicts (one doc-keyed exchange) and
    a (source, lang) rollup over the verdict rows, whose key space is
    sources x langs — data-size independent. Pass counts are exact
    integers; the single rate floor-quantizes onto the 1e-6 grid."""
    docs = load_table(spark, sf_dir, "documents")
    v = _gopher_doc_verdicts(docs)
    return v.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("r_wordcount").cast("int")).cast("long").alias(
            "n_wordcount"
        ),
        F.sum(F.col("r_mean_word_len").cast("int")).cast("long").alias(
            "n_mean_word_len"
        ),
        F.sum(F.col("r_stopwords").cast("int")).cast("long").alias(
            "n_stopwords"
        ),
        F.sum(F.col("r_repetition").cast("int")).cast("long").alias(
            "n_repetition"
        ),
        F.sum(F.col("passes").cast("int")).cast("long").alias("n_pass"),
        (
            F.floor(
                F.sum(F.col("passes").cast("int"))
                * 1000000.0
                / F.count(F.lit(1))
            )
            / 1e6
        ).alias("pass_rate"),
    )


# ---------------------------------------------------------------------------
# DSIR resampling (Gumbel-top-k over the importance logweights)

_DSIR_SAMPLE_K = 25
_DSIR_GUMBEL_HEX = 8


def _dsir_resample_oracle() -> str:
    digit_terms = " + ".join(
        f"(strpos('0123456789abcdef', substr(hx, {j + 1}, 1)) - 1) "
        f"* {16 ** (_DSIR_GUMBEL_HEX - 1 - j)}"
        for j in range(_DSIR_GUMBEL_HEX)
    )
    denom = float(16**_DSIR_GUMBEL_HEX)
    return f"""
WITH w AS ({_dsir_oracle()}),
g AS (
  SELECT doc_id, dsir_logweight,
         substr(md5('gum:' || doc_id), 1, {_DSIR_GUMBEL_HEX}) AS hx
  FROM w
),
keyed AS (
  SELECT doc_id, dsir_logweight,
         round(dsir_logweight
               - ln(-ln(({digit_terms} + 0.5) / {denom})), 10) AS gkey
  FROM g
)
SELECT doc_id, dsir_logweight, gkey, rank FROM (
  SELECT *, CAST(row_number() OVER (ORDER BY gkey DESC, doc_id) AS INTEGER)
    AS rank
  FROM keyed
)
WHERE rank <= {_DSIR_SAMPLE_K}
"""


@register("dsir_resample_gumbel", oracle=_dsir_resample_oracle())
def dsir_resample_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR resampling step: draw {_DSIR_SAMPLE_K} documents WITHOUT
    replacement with probability proportional to exp(dsir_logweight),
    via the Gumbel-top-k trick — key = logweight + Gumbel(0,1) noise
    (g = -ln(-ln(u))), take the k largest. Working in log space means
    the importance weight is NEVER exponentiated (exp of a large
    logweight overflows; Gumbel-top-k is the standard fix and exactly
    equals weighted sampling without replacement). The Gumbel uniform
    is md5-seeded per doc, so the draw is reproducible and
    SQL-expressible — same discipline as `weighted_sample_aes`, and the
    ranking key rounds to 10 decimals so a 1-ulp ln difference cannot
    flip an order. Plan: the per-doc weights (one doc-keyed exchange,
    see `dsir_importance_weights`) plus ONE distributed top-k heap —
    no global sort."""
    w = dsir_importance_weights(spark, sf_dir)
    hexv = F.substring(
        F.md5(F.concat(F.lit("gum:"), F.col("doc_id").cast("string"))),
        1,
        _DSIR_GUMBEL_HEX,
    )
    u = (F.conv(hexv, 16, 10).cast("long") + F.lit(0.5)) / F.lit(
        float(16**_DSIR_GUMBEL_HEX)
    )
    keyed = w.select(
        "doc_id",
        "dsir_logweight",
        F.round(
            F.col("dsir_logweight") - F.log(-F.log(u)), 10
        ).alias("gkey"),
    )
    # distributed top-k heap (TakeOrderedAndProject), NOT a global rank
    # window — the rank is assigned afterwards over the k-row result
    top = keyed.orderBy(F.col("gkey").desc(), F.col("doc_id").asc()).limit(
        _DSIR_SAMPLE_K
    )
    wnd = Window.orderBy(F.col("gkey").desc(), F.col("doc_id").asc())
    return top.select(
        "doc_id",
        "dsir_logweight",
        "gkey",
        F.row_number().over(wnd).cast("int").alias("rank"),
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer et al., SIGMOD'03)

_WIN_W = 4  #: winnowing window: grams per window


@register(
    "winnowing_fingerprints",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, str_split(text, ' ') AS toks FROM documents
  WHERE len(str_split(text, ' ')) >= 3 + {_WIN_W} - 1
),
g AS (
  SELECT doc_id, t.i AS pos,
         md5(array_to_string(toks[t.i:t.i+2], ' ')) AS h,
         len(toks) - 2 AS n_grams
  FROM tok, unnest(range(1, len(toks) - 1)) AS t(i)
),
wm AS (
  SELECT doc_id, pos, n_grams,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING)
           AS fp
  FROM g
)
SELECT doc_id, fp AS fingerprint, CAST(count(*) AS BIGINT) AS n_windows
FROM wm WHERE pos <= n_grams - {_WIN_W - 1}
GROUP BY doc_id, fp
""",
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): slide a window of {_WIN_W}
    consecutive 3-gram hashes and keep each window's MINIMUM — the
    selection rule that GUARANTEES at least one fingerprint inside any
    match of length w+k-1 tokens (the coverage bound mod-p sampling
    lacks: `doc_fingerprints_modp` can miss arbitrarily long matches,
    winnowing cannot, which is why MOSS uses it). Selected hashes
    dedupe per document with the number of windows that chose them —
    the standard (fingerprint, multiplicity) sketch.

    Shape: the window min is one doc-keyed window frame riding the
    same exchange as the final (doc, fingerprint) aggregate — position
    order is per-document, so the inherently sequential part is bounded
    by document length, never corpus size. md5 gram hashes keep the
    fingerprint set byte-identical in the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), n - 2),
        lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, 3))),
    )
    g = (
        spread(docs, "doc_id")
        .where(n >= 3 + _WIN_W - 1)
        .select(
            "doc_id",
            (n - 2).alias("n_grams"),
            F.posexplode(grams).alias("pos0", "h"),
        )
        .select(
            "doc_id",
            "n_grams",
            (F.col("pos0") + 1).alias("pos"),
            "h",
        )
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, _WIN_W - 1)
    )
    wm = g.withColumn("fp", F.min("h").over(w))
    return (
        wm.where(F.col("pos") <= F.col("n_grams") - (_WIN_W - 1))
        .groupBy("doc_id", F.col("fp").alias("fingerprint"))
        .agg(F.count(F.lit(1)).alias("n_windows"))
    )


# ---------------------------------------------------------------------------
# Hashed naive-Bayes source attribution (per-source DSIR-style models)


def _source_nb_oracle() -> str:
    digit_terms = " + ".join(
        f"(strpos('0123456789abcdef', substr(hx, {j + 1}, 1)) - 1) "
        f"* {16 ** (_DSIR_HEX - 1 - j)}"
        for j in range(_DSIR_HEX)
    )
    return f"""
WITH t AS (
  SELECT doc_id, source,
         unnest(list_filter(str_split(text, ' '), x -> x <> '')) AS token
  FROM documents
),
b AS (
  SELECT doc_id, source,
         CAST(({digit_terms}) % {_DSIR_BUCKETS} AS BIGINT) AS bucket
  FROM (SELECT doc_id, source, substr(md5('dsir:' || token), 1, {_DSIR_HEX})
          AS hx FROM t)
),
srcs AS (SELECT DISTINCT source FROM documents),
buckets AS (SELECT unnest(range({_DSIR_BUCKETS})) AS bucket),
counts AS (
  SELECT s.source, bk.bucket, count(b.doc_id) AS c
  FROM srcs s CROSS JOIN buckets bk
  LEFT JOIN b ON b.source = s.source AND b.bucket = bk.bucket
  GROUP BY s.source, bk.bucket
),
tots AS (SELECT source, sum(c) AS n FROM counts GROUP BY source),
model AS (
  SELECT c.source, c.bucket,
         CAST(round(ln((c.c + 1.0) / (t.n + {_DSIR_BUCKETS})), 10)
              AS DECIMAL(28,10)) AS lp
  FROM counts c JOIN tots t USING (source)
),
scored AS (
  SELECT b.doc_id, m.source AS cand_source, sum(m.lp) AS score
  FROM b JOIN model m USING (bucket)
  GROUP BY b.doc_id, m.source
),
ranked AS (
  SELECT doc_id, cand_source, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, cand_source) AS rn
  FROM scored
)
SELECT r.doc_id, d.source AS true_source, r.cand_source AS best_source,
       CAST(r.score AS DOUBLE) + 0.0 AS best_score,
       CAST(r.cand_source = d.source AS INTEGER) AS correct
FROM ranked r JOIN documents d ON d.doc_id = r.doc_id
WHERE r.rn = 1
"""


@register("source_likelihood_argmax", oracle=_source_nb_oracle())
def source_likelihood_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus attribution by hashed naive Bayes: ONE {_DSIR_BUCKETS}-bucket
    unigram model per source (add-one smoothed, the per-source form of
    `dsir_importance_weights`' target model), and each document is
    assigned the source whose model gives its token stream the highest
    log-likelihood — the standard membership/attribution probe
    ("which source does this doc look like?", the measured answer to
    whether sources are even distinguishable; `correct` marks agreement
    with the true label). Model size is sources x buckets rows —
    broadcast regardless of corpus size; scoring is one (doc, source)
    aggregate (20 rows per doc) and an argmax window over that reduced
    frame. Each bucket log-prob rounds to 10 decimals and scores sum in
    DECIMAL, so the argmax (ties broken by source name) is exact on
    both engines."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.col("source").alias("true_source"),
        F.explode(
            F.filter(F.split("text", " "), lambda x: x != "")
        ).alias("token"),
    )
    hexv = F.substring(
        F.md5(F.concat(F.lit("dsir:"), F.col("token"))), 1, _DSIR_HEX
    )
    b = t.select(
        "doc_id",
        "true_source",
        (F.conv(hexv, 16, 10).cast("long") % _DSIR_BUCKETS).alias("bucket"),
    )
    srcs = docs.select(F.col("source")).distinct()
    buckets = spark.range(_DSIR_BUCKETS).select(
        F.col("id").alias("bucket")
    )
    grid = srcs.crossJoin(F.broadcast(buckets))
    obs = b.groupBy(
        F.col("true_source").alias("source"), "bucket"
    ).agg(F.count(F.lit(1)).alias("c"))
    counts = grid.join(obs, ["source", "bucket"], "left").select(
        "source", "bucket", F.coalesce("c", F.lit(0)).alias("c")
    )
    tots = counts.groupBy("source").agg(F.sum("c").alias("n"))
    model = counts.join(F.broadcast(tots), "source").select(
        F.col("source").alias("cand_source"),
        "bucket",
        F.round(
            F.log((F.col("c") + 1.0) / (F.col("n") + _DSIR_BUCKETS)), 10
        )
        .cast("decimal(28,10)")
        .alias("lp"),
    )
    # reduce to (doc, bucket) counts BEFORE the x{sources} model join:
    # the fan-out multiplies at most {buckets} rows per doc, not the
    # raw token stream; lp * cnt in exact decimal equals the sum over
    # token instances
    dbc = b.groupBy("doc_id", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    scored = (
        dbc.join(F.broadcast(model), "bucket")
        .groupBy("doc_id", "cand_source")
        .agg(
            F.sum(
                F.col("lp").cast("decimal(20,10)")
                * F.col("cnt").cast("decimal(8,0)")
            ).alias("score")
        )
    )
    wnd = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("cand_source").asc()
    )
    best = (
        scored.withColumn("rn", F.row_number().over(wnd))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    return best.join(
        docs.select("doc_id", F.col("source").alias("true_source")),
        "doc_id",
    ).select(
        "doc_id",
        "true_source",
        F.col("cand_source").alias("best_source"),
        (F.col("score").cast("double") + F.lit(0.0)).alias("best_score"),
        (F.col("cand_source") == F.col("true_source")).cast("int").alias(
            "correct"
        ),
    )


def _source_confusion_oracle() -> str:
    return f"""
WITH best AS ( {_source_nb_oracle()} )
SELECT true_source, best_source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(correct) AS BIGINT) AS n_correct
FROM best
GROUP BY true_source, best_source
"""


@register("source_confusion_matrix", oracle=_source_confusion_oracle())
def source_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion-matrix rollup of `source_likelihood_argmax`
    (true x predicted source counts): the sources^2-bounded table that
    says WHICH sources the hashed naive-Bayes models mix up — the
    diagonal is per-source attribution accuracy, off-diagonal mass
    between two sources means their token distributions collide at the
    {_DSIR_BUCKETS}-bucket hash resolution. One tiny aggregate over the
    per-doc argmax rows (n_correct is redundant with the diagonal by
    construction, kept as the self-check)."""
    best = source_likelihood_argmax(spark, sf_dir)
    return best.groupBy("true_source", "best_source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("correct").cast("long").alias("n_correct"),
    )


# ---------------------------------------------------------------------------
# Kneser-Ney smoothed bigram LM (interpolated, D = 0.75)


@register(
    "kn_bigram_doc_scores",
    oracle="""
WITH tok AS (
  SELECT doc_id, str_split(text, ' ') AS toks FROM documents
  WHERE len(str_split(text, ' ')) >= 2
),
doc_bigrams AS (
  SELECT doc_id, toks[j] AS w1, toks[j + 1] AS w2
  FROM tok CROSS JOIN unnest(range(1, len(toks))) AS u(j)
),
big AS (SELECT w1, w2, count(*) AS c12 FROM doc_bigrams GROUP BY w1, w2),
ctx AS (SELECT w1, count(*) AS c1 FROM doc_bigrams GROUP BY w1),
fw AS (SELECT w1, count(*) AS n_fw FROM big GROUP BY w1),
pc AS (SELECT w2, count(*) AS n_pre FROM big GROUP BY w2),
types AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM big),
model AS (
  SELECT b.w1, b.w2,
         CAST(round(ln((greatest(b.c12 - 0.75, 0)
                        + 0.75 * fw.n_fw * (pc.n_pre / types.t))
                       / ctx.c1), 10) AS DECIMAL(28,10)) AS lp
  FROM big b
  JOIN ctx ON ctx.w1 = b.w1
  JOIN fw ON fw.w1 = b.w1
  JOIN pc ON pc.w2 = b.w2
  CROSS JOIN types
)
SELECT d.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(m.lp) AS DOUBLE) + 0.0 AS kn_logprob
FROM doc_bigrams d
JOIN model m ON m.w1 = d.w1 AND m.w2 = d.w2
GROUP BY d.doc_id
""",
)
def kn_bigram_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram log-likelihood per document
    (Kneser & Ney 1995 / Chen & Goodman 1999, absolute discount
    D = 0.75) — the LM-quality scorer that actually matches how
    KenLM-style corpus filters weigh text, vs the add-k baseline in
    `lm_bigram_doc_scores`: mass subtracted from observed bigrams is
    redistributed via the CONTINUATION probability (how many distinct
    contexts a word follows), so boilerplate words that appear in one
    fixed phrase score low despite high frequency. Model terms: bigram
    counts, context totals, distinct-follow and distinct-precede type
    counts, total bigram types — five aggregates over the bigram grain
    that all broadcast (model is vocab^2-bounded, fixture-small; at
    100 TB the score join shuffles on (w1, w2) like any LM probe).
    Each bigram's log-prob rounds to 10 decimals and the per-doc sum
    runs in DECIMAL — token-order independent on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    db = (
        spread(docs, "doc_id")
        .where(F.size(toks) >= 2)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform(sequence(1, size(split(text, ' ')) - 1),"
                    " j -> struct(element_at(split(text, ' '), j) AS w1,"
                    " element_at(split(text, ' '), j + 1) AS w2))"
                )
            ).alias("pos", "bg"),
        )
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    big = db.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    ctx = db.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    fw = big.groupBy("w1").agg(F.count(F.lit(1)).alias("n_fw"))
    pc = big.groupBy("w2").agg(F.count(F.lit(1)).alias("n_pre"))
    types = big.agg(F.count(F.lit(1)).cast("double").alias("t"))
    p = (
        F.greatest(F.col("c12") - 0.75, F.lit(0.0))
        + 0.75 * F.col("n_fw") * (F.col("n_pre") / F.col("t"))
    ) / F.col("c1")
    model = (
        big.join(F.broadcast(ctx), "w1")
        .join(F.broadcast(fw), "w1")
        .join(F.broadcast(pc), "w2")
        .join(F.broadcast(types))
        .select(
            "w1",
            "w2",
            F.round(F.log(p), 10).cast("decimal(28,10)").alias("lp"),
        )
    )
    return (
        db.join(F.broadcast(model), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (F.sum("lp").cast("double") + F.lit(0.0)).alias("kn_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# Good-Turing missing mass (unseen-vocabulary estimate per source)


@register(
    "good_turing_missing_mass",
    oracle="""
WITH tc AS (
  SELECT source, token, count(*) AS c
  FROM (SELECT source,
               unnest(list_filter(str_split(text, ' '), x -> x <> ''))
                 AS token
        FROM documents)
  GROUP BY source, token
)
SELECT source,
       CAST(count(*) AS BIGINT) AS vocab,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_singletons,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       floor(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000.0 / sum(c))
         / 1000000.0 AS missing_mass
FROM tc GROUP BY source
""",
)
def good_turing_missing_mass(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Good-Turing estimate of the UNSEEN-vocabulary probability mass
    per source (Gale & Sampson 1995: P(next token is novel) ≈ N1/N,
    the singleton fraction) — the one-number answer to "has this
    source's vocabulary been exhausted by the crawl?" that guides
    whether more data from a source adds diversity or repetition. One
    (source, token) count and a source-grain rollup; all counts exact
    integers, the single ratio floor-quantized."""
    docs = load_table(spark, sf_dir, "documents")
    tc = (
        docs.select(
            "source",
            F.explode(
                F.filter(F.split("text", " "), lambda x: x != "")
            ).alias("token"),
        )
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return tc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum((F.col("c") == 1).cast("int")).cast("long").alias(
            "n_singletons"
        ),
        F.sum("c").cast("long").alias("n_tokens"),
        (
            F.floor(
                F.sum((F.col("c") == 1).cast("int"))
                * 1000000.0
                / F.sum("c")
            )
            / 1e6
        ).alias("missing_mass"),
    )


def _nb_calibration_oracle() -> str:
    return f"""
WITH best AS ( {_source_nb_oracle()} ),
toks AS (
  SELECT doc_id,
         len(list_filter(str_split(text, ' '), x -> x <> '')) AS n_tokens
  FROM documents
),
normed AS (
  SELECT b.doc_id, b.correct,
         round(b.best_score / t.n_tokens, 10) AS norm_score
  FROM best b JOIN toks t USING (doc_id)
),
binned AS (
  SELECT correct,
         CAST(ntile(5) OVER (ORDER BY norm_score DESC, doc_id)
              AS INTEGER) AS confidence_bin
  FROM normed
)
SELECT confidence_bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(correct) AS BIGINT) AS n_correct,
       floor(sum(correct) * 1000000.0 / count(*)) / 1000000.0
         AS accuracy
FROM binned GROUP BY confidence_bin
"""


@register("nb_calibration_bins", oracle=_nb_calibration_oracle())
def nb_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration table for the naive-Bayes attribution: documents
    rank into 5 confidence bins by LENGTH-NORMALIZED best log-
    likelihood (raw score scales with document length, which would
    make the bins a length histogram) and each bin reports its
    accuracy — the reliability-diagram input that says whether the
    classifier's confidence MEANS anything (monotone accuracy across
    bins = usable for thresholding; flat = ignore the score). The
    normalized score rounds to 10 dp BEFORE ranking so the ntile
    boundary cannot flip on a 1-ulp division difference; everything
    after is integer counts and one floor-quantized ratio on a 5-row
    frame. The global ntile is a single-partition sort of the scored
    docs — correct here because calibration runs on an EVAL SAMPLE by
    construction (at 100 TB you rank the held-out sample, never the
    corpus; equal-width score bins would be the streaming-friendly
    alternative)."""
    best = source_likelihood_argmax(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.size(
            F.filter(F.split("text", " "), lambda x: x != "")
        ).alias("n_tokens"),
    )
    normed = best.join(toks, "doc_id").select(
        "doc_id",
        "correct",
        F.round(F.col("best_score") / F.col("n_tokens"), 10).alias(
            "norm_score"
        ),
    )
    wnd = Window.orderBy(
        F.col("norm_score").desc(), F.col("doc_id").asc()
    )
    binned = normed.select(
        "correct", F.ntile(5).over(wnd).cast("int").alias("confidence_bin")
    )
    return binned.groupBy("confidence_bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("correct").cast("long").alias("n_correct"),
        (
            F.floor(F.sum("correct") * 1000000.0 / F.count(F.lit(1)))
            / 1e6
        ).alias("accuracy"),
    )


@register(
    "inference_length_buckets_padding",
    oracle="""
WITH t AS (
  SELECT doc_id, len(str_split(text, ' ')) AS n_tokens FROM documents
),
g AS (SELECT max(n_tokens) AS max_len FROM t),
b AS (
  SELECT n_tokens,
         CASE WHEN n_tokens <= 16 THEN 16
              WHEN n_tokens <= 32 THEN 32
              WHEN n_tokens <= 64 THEN 64
              ELSE 128 END AS bucket
  FROM t
)
SELECT b.bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(b.n_tokens) AS BIGINT) AS sum_tokens,
       round(1.0 - sum(b.n_tokens) * 1.0 / (b.bucket * count(*)), 4)
         AS waste_pct,
       round(1.0 - sum(b.n_tokens) * 1.0 / (g.max_len * count(*)), 4)
         AS naive_waste_pct
FROM b, g
GROUP BY b.bucket, g.max_len
""",
)
def inference_length_buckets_padding(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Length-bucketed batching audit — the padding-efficiency census a
    batch-inference (or training-data packing) pipeline runs before
    choosing bucket boundaries: documents group into power-of-two
    token-length buckets (16/32/64/128 — an integer CASE ladder, no
    float log2 at bucket boundaries), and each bucket reports its
    padding waste (fraction of the bucket-capacity tokens that are pad)
    next to the NAIVE waste of padding everything to the global max —
    the delta is the memory/compute the bucketing recovers. Plan: one
    scan, one partial+final aggregate on a derived int key; the global
    max broadcasts as a scalar cross join (one row), never a shuffle;
    at 100 TB this is the same single-pass shape as any groupBy census,
    and the bucket key is computed, not stored, so no layout change is
    ever needed to re-tune boundaries."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        F.size(F.split("text", " ")).alias("n_tokens")
    )
    bucket = (
        F.when(F.col("n_tokens") <= 16, 16)
        .when(F.col("n_tokens") <= 32, 32)
        .when(F.col("n_tokens") <= 64, 64)
        .otherwise(128)
    )
    g = t.agg(F.max("n_tokens").alias("max_len"))
    return (
        t.select(bucket.alias("bucket"), "n_tokens")
        .crossJoin(F.broadcast(g))
        .groupBy("bucket", "max_len")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            F.round(
                1.0
                - F.sum("n_tokens")
                / (F.col("bucket") * F.count(F.lit(1))),
                4,
            ).alias("waste_pct"),
            F.round(
                1.0
                - F.sum("n_tokens")
                / (F.first("max_len") * F.count(F.lit(1))),
                4,
            ).alias("naive_waste_pct"),
        )
        .drop("max_len")
    )


@register(
    "corpus_datacard_by_source",
    oracle="""
WITH t AS (
  SELECT doc_id, source, lang, n_chars, text,
         len(str_split(text, ' ')) AS n_tokens
  FROM documents
),
lc AS (
  SELECT source, lang, count(*) AS n FROM t GROUP BY 1, 2
),
toplang AS (
  SELECT source, lang AS top_lang, n FROM (
    SELECT *, row_number() OVER (
      PARTITION BY source ORDER BY n DESC, lang) AS rn
    FROM lc
  ) WHERE rn = 1
)
SELECT t.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT t.lang) AS BIGINT) AS n_langs,
       CAST(sum(t.n_tokens) AS BIGINT) AS total_tokens,
       round(avg(t.n_tokens), 2) AS avg_tokens,
       round(avg(t.n_chars), 2) AS avg_chars,
       round(1.0 - count(DISTINCT t.text) * 1.0 / count(*), 4)
         AS exact_dup_pct,
       round(sum(CASE WHEN t.n_tokens < 20 THEN 1 ELSE 0 END) * 1.0
             / count(*), 4) AS short_doc_pct,
       tl.top_lang,
       round(tl.n * 1.0 / count(*), 4) AS top_lang_pct
FROM t JOIN toplang tl ON tl.source = t.source
GROUP BY t.source, tl.top_lang, tl.n
""",
)
def corpus_datacard_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The per-source DATA CARD — the one-page census a curator ships
    with a training corpus: volume (docs, tokens, chars), language
    profile (distinct langs, dominant lang and its share — an argmax
    with a deterministic tie-break, not an entropy whose float
    summation order could differ across engines), exact-duplicate rate
    (1 - distinct texts / docs, the groupBy-dedup headroom), and the
    short-document share (the slice a length filter would drop). Every
    number a mixture designer needs before weighting sources, in one
    pass. Plan: one scan, one partial+final aggregate per grouping —
    the distinct-count columns rewrite to expand-style partials
    JVM-side; the top-lang argmax is a per-source window over the tiny
    (source x lang) aggregate, broadcast back. At 100 TB this is a
    single shuffle at source grain plus a KB-sized language table."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source",
        "lang",
        "n_chars",
        "text",
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    lc = t.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.col("lang"))
    toplang = (
        lc.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"), "n")
    )
    agg = t.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 2).alias("avg_tokens"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.round(
            1.0 - F.countDistinct("text") / F.count(F.lit(1)), 4
        ).alias("exact_dup_pct"),
        F.round(
            F.sum((F.col("n_tokens") < 20).cast("long"))
            / F.count(F.lit(1)),
            4,
        ).alias("short_doc_pct"),
    )
    return agg.join(F.broadcast(toplang), "source").select(
        "source",
        "n_docs",
        "n_langs",
        "total_tokens",
        "avg_tokens",
        "avg_chars",
        "exact_dup_pct",
        "short_doc_pct",
        "top_lang",
        F.round(F.col("n") / F.col("n_docs"), 4).alias("top_lang_pct"),
    )
