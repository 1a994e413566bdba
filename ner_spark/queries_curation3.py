"""Importance-resampling weights for targeted data selection (DSIR-style).

``corpus_importance_weights`` scores every document with the hashed-n-gram
importance log-ratio of Data Selection via Importance Resampling (Xie et
al., NeurIPS 2023, public paper): each document is a bag of hashed
features (unigrams + bigrams -> ``md5_60 % B`` buckets), two bucket
multinomials are fit with add-one smoothing — the *target* distribution
from the English subset, the *raw* distribution from the whole corpus —
and the document weight is

    w(d) = sum_b n_{d,b} * [ log p_target(b) - log p_raw(b) ]

High-weight documents "look like" the target slice and would be kept by
an importance resample; the weight column is the resampling statistic.

Exactness: the per-bucket log-ratio is rounded to integer micro-nats
ONCE (B values, each the log of a ratio of exact integer counts); the
per-document weight is then an exact BIGINT dot product, so Spark and
the DuckDB oracle agree bit-for-bit regardless of summation order. The
only float caveat is the usual round-at-the-edge one: a 1-ulp ``ln``
difference between the two engines only matters if ``s * 1e6`` lands
within ~1e-9 of a .5 boundary for one of the B buckets.

Scale shape (the DSIR recipe is built for web-scale corpora): feature
extraction is one projection + explode with no shuffle; the doc-bucket
counts group on (doc_id, bucket) with map-side combine; the two
multinomials are B-row aggregates; scoring re-attaches the B-row score
table by broadcast; the final weight is one hash aggregate keyed on
doc_id. Nothing in the plan holds more than O(B) driver/broadcast state,
so the same job runs at 100 TB with the corpus-sized stages all
map-local or key-partitioned.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .functions.text import has_text, ngrams, tokens
from .operators.dedup import md5_60
from .operators.scratch import scratch_persist
from .oracle_minhash import md5_60_sql
from .queries import HAS_TEXT_SQL, _t, ngrams_sql, query, tokens_sql

_B = 1024  # feature-hash buckets
_TARGET_LANG = "en"

_DSIR_SQL = f"""
    WITH d AS (
      SELECT doc_id, lang,
             {tokens_sql('text')} AS toks
      FROM documents
      WHERE {HAS_TEXT_SQL}
    ),
    feats AS (
      SELECT doc_id, lang, unnest(list_concat(toks, {ngrams_sql('toks', 2)})) AS feat
      FROM d
    ),
    fb AS (
      SELECT doc_id, lang, {md5_60_sql('feat')} % {_B} AS bucket FROM feats
    ),
    db AS (
      SELECT doc_id, lang, bucket, count(*) AS n FROM fb GROUP BY 1, 2, 3
    ),
    bt AS (
      SELECT bucket, count(*) AS cnt_t FROM fb
      WHERE lang = '{_TARGET_LANG}' GROUP BY 1
    ),
    br AS (SELECT bucket, count(*) AS cnt_r FROM fb GROUP BY 1),
    tt AS (SELECT sum(cnt_t) AS tot_t FROM bt),
    tr AS (SELECT sum(cnt_r) AS tot_r FROM br),
    sc AS (
      SELECT br.bucket,
             CAST(round((ln((COALESCE(bt.cnt_t, 0) + 1.0) / (tt.tot_t + {_B}))
                       - ln((br.cnt_r + 1.0) / (tr.tot_r + {_B})))
                        * 1000000) AS BIGINT) AS s_e6
      FROM br LEFT JOIN bt USING (bucket), tt, tr
    )
    SELECT db.doc_id, db.lang,
           CAST(sum(db.n) AS BIGINT) AS n_feats,
           CAST(sum(db.n * sc.s_e6) AS BIGINT) AS weight_e6
    FROM db JOIN sc USING (bucket)
    GROUP BY 1, 2
"""


@query("corpus_importance_weights", _DSIR_SQL)
def corpus_importance_weights(spark, sf_dir):
    """DSIR importance weights over ``documents`` (module docstring).

    The feature stream is consumed by three aggregates (doc-bucket
    counts + the two multinomials), so it persists as scratch for the
    query's lifetime instead of re-deriving the explode three times.
    """
    docs = _t(spark, sf_dir, "documents").filter(has_text(F.col("text")))
    toks = tokens(F.col("text"))
    d = docs.select("doc_id", "lang", toks.alias("toks"))
    feats = d.select(
        "doc_id",
        "lang",
        F.explode(F.concat(F.col("toks"), ngrams("toks", 2))).alias("feat"),
    )
    fb = scratch_persist(
        feats.select(
            "doc_id", "lang", (md5_60(F.col("feat")) % _B).alias("bucket")
        )
    )
    db = fb.groupBy("doc_id", "lang", "bucket").agg(F.count(F.lit(1)).alias("n"))
    bt = (
        fb.filter(F.col("lang") == _TARGET_LANG)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt_t"))
    )
    br = fb.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt_r"))
    tt = bt.agg(F.sum("cnt_t").alias("tot_t"))
    tr = br.agg(F.sum("cnt_r").alias("tot_r"))
    sc = (
        br.join(bt, "bucket", "left")
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(tr))
        .select(
            "bucket",
            F.round(
                (
                    F.log(
                        (F.coalesce(F.col("cnt_t"), F.lit(0)) + F.lit(1.0))
                        / (F.col("tot_t") + F.lit(float(_B)))
                    )
                    - F.log(
                        (F.col("cnt_r") + F.lit(1.0))
                        / (F.col("tot_r") + F.lit(float(_B)))
                    )
                )
                * 1000000,
                0,
            )
            .cast("bigint")
            .alias("s_e6"),
        )
    )
    return (
        db.join(F.broadcast(sc), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("n").cast("bigint").alias("n_feats"),
            F.sum(F.col("n") * F.col("s_e6")).cast("bigint").alias("weight_e6"),
        )
    )
