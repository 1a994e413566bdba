"""Text-mining driver queries: TF-IDF top-k, repetition quality, PII redaction.

Training-data pipeline stages beyond the reference's scope (the task brief
mandates them as first-class): corpus-weighted term scoring, Gopher-style
repetition signals for quality filtering, and PII detection/redaction.
Regexes stay inside the Java/RE2 common subset so the DuckDB oracle replays
them byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .functions.text import has_text, tokens
from .operators.textstats import (
    PII_EMAIL_RE,
    PII_PHONE_RE,
    pii_redact,
    repetition_features,
    tfidf_topk,
)
from .queries import HAS_TEXT_SQL, _t, ngrams_sql, query, tokens_sql


@query(
    "tfidf_topk",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                t -> t <> '')) AS term
      FROM documents WHERE text IS NOT NULL
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             tf.tf * ln(CAST(n.n AS DOUBLE) / df.df) AS score,
             row_number() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.tf * ln(CAST(n.n AS DOUBLE) / df.df)
                                         DESC, tf.term) AS rk
      FROM tf JOIN df USING (term), n
    )
    SELECT doc_id, term, tf, df, round(score, 6) AS score, CAST(rk AS BIGINT) AS rk
    FROM scored WHERE rk <= 3
    """,
)
def q_tfidf_topk(spark, sf_dir):
    """Top-3 TF-IDF terms per document (operators/textstats.py:tfidf_topk):
    one explode + partial-agg count, df derived from the tf table, N
    broadcast, per-doc window top-k."""
    return tfidf_topk(_t(spark, sf_dir, "documents"), k=3)


@query(
    "doc_repetition",
    f"""
    WITH b AS (
      SELECT doc_id, {tokens_sql('text')} AS toks
      FROM documents WHERE text IS NOT NULL
        AND len({tokens_sql('text')}) >= 2
    ),
    words AS (
      SELECT doc_id, len(toks) AS n_tokens, unnest(toks) AS w FROM b
    ),
    wc AS (SELECT doc_id, n_tokens, w, count(*) AS c FROM words GROUP BY 1, 2, 3),
    top_w AS (
      SELECT doc_id, n_tokens, w, c, count(*) OVER (PARTITION BY doc_id) AS n_uniq,
             row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, w DESC) AS rn
      FROM wc
    ),
    bgs AS (
      SELECT doc_id, len(toks) AS n_tokens, unnest({ngrams_sql('toks', 2)}) AS bg FROM b
    ),
    bc AS (SELECT doc_id, n_tokens, bg, count(*) AS c FROM bgs GROUP BY 1, 2, 3),
    top_bg AS (
      SELECT doc_id, bg, c,
             row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, bg DESC) AS rn
      FROM bc
    )
    SELECT w.doc_id,
           CAST(w.n_tokens AS BIGINT) AS n_tokens,
           round(CAST(w.n_uniq AS DOUBLE) / w.n_tokens, 4) AS uniq_word_frac,
           w.w AS top_word,
           round(CAST(w.c AS DOUBLE) / w.n_tokens, 4) AS top_word_frac,
           g.bg AS top_bigram,
           round(CAST(g.c AS DOUBLE) / (w.n_tokens - 1), 4) AS top_bigram_frac
    FROM top_w w JOIN top_bg g ON w.doc_id = g.doc_id AND g.rn = 1
    WHERE w.rn = 1
    """,
)
def q_doc_repetition(spark, sf_dir):
    """Gopher-style repetition quality signals
    (operators/textstats.py:repetition_features)."""
    return repetition_features(_t(spark, sf_dir, "documents"))


_PII_AUG_SQL = """
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 3 = 0
                     THEN ' contact doc' || doc_id || '@example.com'
                     ELSE '' END
             || CASE WHEN doc_id % 5 = 0
                     THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END AS aug_text
      FROM documents WHERE text IS NOT NULL
"""


@query(
    "pii_redact",
    f"""
    WITH aug AS ({_PII_AUG_SQL})
    SELECT doc_id,
           CAST(len(regexp_extract_all(aug_text, '{PII_EMAIL_RE}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(aug_text, '{PII_PHONE_RE}')) AS BIGINT)
             AS n_phones,
           md5(regexp_replace(
                 regexp_replace(aug_text, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                 '{PII_PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
    FROM aug
    """,
)
def q_pii_redact(spark, sf_dir):
    """PII detect + redact over documents salted with deterministic
    synthetic emails/phones (both engines replay the same salting, so the
    redaction is oracle-checked byte-for-byte via md5)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(" contact doc"), F.col("doc_id"), F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" call +1-555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("aug_text"),
    )
    return pii_redact(aug).select("doc_id", "n_emails", "n_phones", "redacted_md5")


# ---------------------------------------------------------------------------
# higher-order array-function surface parity
# ---------------------------------------------------------------------------

_HOF_SQL = f"""
SELECT doc_id,
       CAST(len(toks) AS INT) AS n_tokens,
       CAST(list_reduce(list_prepend(0, list_transform(toks, x -> length(x))),
                        (acc, x) -> acc + x) AS BIGINT) AS total_chars,
       CAST(list_max(list_transform(toks, x -> length(x))) AS INT)
         AS longest_token,
       CAST(len(list_filter(toks, x -> length(x) >= 6)) AS INT) AS n_long,
       list_contains(toks, 'spark') AS mentions_spark
FROM (
  SELECT doc_id, {tokens_sql('lower(text)')} AS toks
  FROM documents WHERE {HAS_TEXT_SQL}
)
"""


@query("doc_array_hof_stats", _HOF_SQL)
def doc_array_hof_stats(spark, sf_dir):
    """Higher-order-function surface parity: aggregate (fold), transform,
    filter, array_max, array_contains over the per-doc token array —
    Spark's lambda HOFs against DuckDB's list_* lambdas. These HOFs run
    interpreted per row, which is fine BEFORE aggregation on narrow rows
    (the measured anti-scaling cliff is HOF chains on post-aggregation
    collect_list results — see consensus.py); the fold stays integer so
    the replay is exact."""
    docs = _t(spark, sf_dir, "documents").filter(has_text(F.col("text")))
    toked = docs.select(
        "doc_id", tokens(F.lower("text")).alias("toks")
    )
    return toked.select(
        "doc_id",
        F.size("toks").cast("int").alias("n_tokens"),
        F.aggregate(
            F.transform("toks", lambda x: F.length(x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        .cast("bigint")
        .alias("total_chars"),
        F.array_max(F.transform("toks", lambda x: F.length(x)))
        .cast("int")
        .alias("longest_token"),
        F.size(F.filter("toks", lambda x: F.length(x) >= 6))
        .cast("int")
        .alias("n_long"),
        F.array_contains("toks", "spark").alias("mentions_spark"),
    )
