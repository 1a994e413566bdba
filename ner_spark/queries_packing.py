"""Training-export packing ops: GPT-style concat-and-cut sequence packing,
deterministic weighted mixture sampling, and stride chunking.

The last mile of a pretraining data pipeline is turning curated documents
into fixed-length training contexts and a domain-balanced mix. Three
operators, each pure column expressions (no UDFs) and each replayed
bit-for-bit by a DuckDB oracle:

- ``pack_concat_cut`` — the standard LLM packing scheme: documents are
  concatenated into a token stream and the stream is cut every ``_BUDGET``
  tokens; documents straddle cut points. Scalable formulation: the stream
  is split into ``_LANES`` independent lanes by document hash
  (``pmod(md5_60(doc_id), L)``), so the only window (the running token
  offset) is PARTITIONED — at cluster scale L grows with executors and no
  single-reducer sort exists. Each document's [start, start+n) token
  interval is exploded onto the contexts it touches with
  ``sequence(floor(s/B), floor((s+n-1)/B))`` (JVM, whole-stage codegen)
  and per-context fill is an arithmetic interval overlap. Invariant: every
  non-terminal context reports exactly B tokens.

- ``corpus_mixture_sample`` — deterministic domain-weighted subsampling:
  per-source weights derived from the source name hash (stand-in for a
  configured mixture table), target mass ``_TARGET_FRAC`` of the corpus,
  per-source rate ``min(1, target_s / n_s)``, and a hash-threshold
  Bernoulli keep (``md5_60(doc_id) % 1e6 < rate * 1e6``) so the sample is
  reproducible at any parallelism and needs no RNG state. The per-source
  counts are a dimension-sized aggregate (|sources| rows) broadcast back;
  no shuffle touches the fact table beyond the final summary groupBy.

- ``doc_chunk_split`` — overlapping stride chunking (window C tokens,
  stride S): each document emits ceil-spaced slices of its token array via
  ``sequence`` + ``slice`` + ``array_join``, all JVM-side. The standard
  alternative to straddling when document boundaries must be preserved
  (e.g. embedding or dedup passes over long docs).

Tokenization matches the rest of the registry (whitespace split of
ws-normalized text), so packing counts agree with ``doc_token_count``.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .functions.text import normalize_ws
from .operators.dedup import md5_60
from .queries import _t, normalize_ws_sql, query

#: tokens per training context
_BUDGET = 256
#: independent packing lanes (scales with cluster size; 8 here)
_LANES = 8
#: chunking window / stride (16-token overlap)
_CHUNK = 32
_STRIDE = 24
#: mixture target: fraction of the corpus to sample
_TARGET_FRAC = 0.4

_MD5_60 = "('0x' || substr(md5({x}), 1, 15))::BIGINT"

_TOKS_SQL = f"string_split({normalize_ws_sql('text')}, ' ')"


@query(
    "pack_concat_cut",
    f"""
    WITH d AS (
      SELECT doc_id,
             {_MD5_60.format(x="CAST(doc_id AS VARCHAR)")} % {_LANES} AS lane,
             CAST(len({_TOKS_SQL}) AS BIGINT) AS n
      FROM documents WHERE text IS NOT NULL
    ),
    o AS (
      SELECT doc_id, lane, n,
             CAST(sum(n) OVER (PARTITION BY lane ORDER BY doc_id) - n
                  AS BIGINT) AS s
      FROM d
    ),
    hit AS (
      SELECT lane, doc_id, n, s,
             unnest(generate_series(s // {_BUDGET}, (s + n - 1) // {_BUDGET}))
               AS ctx
      FROM o WHERE n > 0
    )
    SELECT lane, ctx AS ctx_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(least(s + n, (ctx + 1) * {_BUDGET})
                    - greatest(s, ctx * {_BUDGET})) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN s < ctx * {_BUDGET} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_carried
    FROM hit
    GROUP BY lane, ctx
    """,
)
def pack_concat_cut(spark, sf_dir):
    """Concat-and-cut packing: per (lane, context) document count, token
    fill, and carried-over (straddling) docs. The running offset window is
    partitioned by lane, the context fan-out is sequence+explode, and the
    fill is interval arithmetic — one shuffle (the lane window sort), one
    partial-aggregated groupBy."""
    B = F.lit(_BUDGET)
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.pmod(md5_60(F.col("doc_id").cast("string")), F.lit(_LANES)).alias(
                "lane"
            ),
            F.size(
                F.split(normalize_ws(F.col("text")), " ")
            )
            .cast("long")
            .alias("n"),
        )
    )
    w = Window.partitionBy("lane").orderBy("doc_id")
    o = d.withColumn("s", F.sum("n").over(w) - F.col("n")).filter(F.col("n") > 0)
    hit = o.select(
        "lane",
        "doc_id",
        "n",
        "s",
        F.explode(
            F.sequence(
                F.floor(F.col("s") / B), F.floor((F.col("s") + F.col("n") - 1) / B)
            )
        ).alias("ctx_id"),
    )
    return hit.groupBy("lane", "ctx_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.least(F.col("s") + F.col("n"), (F.col("ctx_id") + 1) * B)
            - F.greatest(F.col("s"), F.col("ctx_id") * B)
        ).alias("n_tokens"),
        F.sum(F.when(F.col("s") < F.col("ctx_id") * B, 1).otherwise(0)).alias(
            "n_carried"
        ),
    )


@query(
    "corpus_mixture_sample",
    f"""
    WITH d AS (
      SELECT doc_id, source,
             1 + {_MD5_60.format(x="source")} % 4 AS w
      FROM documents WHERE text IS NOT NULL
    ),
    dim AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS n_source,
             sum(count(*)) OVER () AS n_total,
             sum(w * count(*)) OVER () AS w_mass
      FROM d GROUP BY source, w
    ),
    r AS (
      SELECT source, w, n_source,
             least(1.0, {_TARGET_FRAC} * n_total * w / w_mass) AS rate
      FROM dim
    )
    SELECT d.source, r.w AS weight, r.n_source,
           round(r.rate, 6) AS rate,
           CAST(sum(CASE WHEN {_MD5_60.format(x="CAST(d.doc_id AS VARCHAR)")}
                         % 1000000 < r.rate * 1000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_sampled
    FROM d JOIN r USING (source)
    GROUP BY d.source, r.w, r.n_source, r.rate
    """,
)
def corpus_mixture_sample(spark, sf_dir):
    """Weighted mixture sampling summary: per source, the derived weight,
    the computed keep rate, and how many docs the deterministic
    hash-threshold Bernoulli kept. The rate table is |sources| rows
    (broadcast); the fact scan is touched once."""
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            "source",
            (F.lit(1) + F.pmod(md5_60(F.col("source")), F.lit(4))).alias("w"),
        )
    )
    dim = d.groupBy("source", "w").agg(F.count(F.lit(1)).alias("n_source"))
    # Corpus totals as a 1-row aggregate broadcast back onto the dim table:
    # same values the SQL oracle's `OVER ()` windows compute, but with
    # map-side partial aggregation and no single-partition WindowExec.
    tot = dim.agg(
        F.sum("n_source").alias("_n_total"),
        F.sum(F.col("w") * F.col("n_source")).alias("_w_mass"),
    )
    rates = dim.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_source",
        F.least(
            F.lit(1.0),
            F.lit(_TARGET_FRAC) * F.col("_n_total") * F.col("w") / F.col("_w_mass"),
        ).alias("rate"),
    )
    keep = F.pmod(md5_60(F.col("doc_id").cast("string")), F.lit(1000000)) < F.col(
        "rate"
    ) * F.lit(1000000)
    return (
        d.join(F.broadcast(rates), "source")
        .groupBy("source", F.col("w").alias("weight"), "n_source", F.round("rate", 6).alias("rate"))
        .agg(F.sum(F.when(keep, 1).otherwise(0)).alias("n_sampled"))
    )


@query(
    "doc_chunk_split",
    f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks,
             CAST(len({_TOKS_SQL}) AS BIGINT) AS n
      FROM documents WHERE text IS NOT NULL
    ),
    c AS (
      SELECT doc_id, toks, n,
             unnest(generate_series(
               0, greatest(CAST(ceil((n - {_CHUNK})
                                     / CAST({_STRIDE} AS DOUBLE)) AS BIGINT),
                           0))) AS chunk_idx
      FROM t WHERE n > 0
    )
    SELECT doc_id, chunk_idx,
           CAST(least(n - chunk_idx * {_STRIDE}, {_CHUNK}) AS BIGINT)
             AS n_chunk_toks,
           array_to_string(
             toks[chunk_idx * {_STRIDE} + 1 :
                  least(chunk_idx * {_STRIDE} + {_CHUNK}, n)], ' ')
             AS chunk_text
    FROM c
    """,
)
def doc_chunk_split(spark, sf_dir):
    """Overlapping stride chunking: sequence+explode over chunk indices,
    slice of the token array, array_join — all whole-stage codegen, no
    shuffle at all (pure map stage over input splits)."""
    C, S = F.lit(_CHUNK), F.lit(_STRIDE)
    t = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.split(normalize_ws(F.col("text")), " ").alias(
                "toks"
            ),
        )
        .withColumn("n", F.size("toks").cast("long"))
        .filter(F.col("n") > 0)
    )
    c = t.select(
        "doc_id",
        "toks",
        "n",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.greatest(
                    F.ceil((F.col("n") - C) / S.cast("double")), F.lit(0).cast("long")
                ),
            )
        ).alias("chunk_idx"),
    )
    return c.select(
        "doc_id",
        "chunk_idx",
        F.least(F.col("n") - F.col("chunk_idx") * S, C.cast("long")).alias(
            "n_chunk_toks"
        ),
        F.array_join(
            F.slice(
                F.col("toks"),
                (F.col("chunk_idx") * S + 1).cast("int"),
                C.cast("int"),
            ),
            " ",
        ).alias("chunk_text"),
    )
