"""Text-mining batch 2: the approximate-counting and corpus-curation
operators a 100 TB training-data pipeline leans on — a count-min sketch,
per-group top-k, a Heaps-law vocabulary growth curve, deterministic
per-group reservoir sampling, and one BPE merge round.

Scale notes per query:

- ``cms_heavy_hitters``: count-min sketch (d=4 rows x w=64 buckets). The
  sketch is built from the per-token count relation (ONE shuffle over the
  distinct vocabulary, not over token occurrences), then folded to the
  fixed d*w cells — at any corpus size the sketch state is 256 counters.
  The estimate join is distinct-token sized. Hash rows replay in DuckDB
  via the shared md5->BIGINT idiom, so over-estimates (collisions) are
  identical on both engines by construction.
- ``topk_tokens_per_lang``: the scalable per-group top-k recipe — full
  count aggregate first (map-side combined), then row_number over a
  window PARTITIONED by the group key (hash exchange, never a global
  sort). Ties pinned token-ascending.
- ``vocab_growth_heaps``: cumulative distinct-vocabulary curve without
  any sequential scan: each token's FIRST bucket is a min-aggregate, the
  per-bucket "new types" a second aggregate, and the cumulative sum runs
  over the tiny per-bucket frame (corpus_size/50 rows) — the window is
  single-partition but only ever sees pre-aggregated bucket rows.
- ``sample_group_reservoir``: deterministic k-per-group "reservoir" —
  rank by md5(doc_id) within each (lang, source) group and keep the k
  smallest. Equivalent in distribution to a uniform reservoir but
  replayable: same hash, same sample, in any engine and on any cluster
  layout. Window partitioned by group — no global ordering anywhere.
- ``bpe_top_merge``: one round of byte-pair-merge counting — the inner
  loop of BPE tokenizer training. Adjacent in-word character pairs come
  from an explode of substring positions (pure built-ins, no interpreted
  lambda HOFs — see the round-2 anti-scaling cliff), counts are one
  map-side-combined aggregate, and the winning merge attaches Q15-style
  via a broadcast 1-row equi-join on the max count (never a global sort).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .functions.text import has_text, tokens
from .queries import HAS_TEXT_SQL, _t, query, tokens_sql

_TOK_CTE = f"""
    tok AS (
      SELECT doc_id, lang, source,
             unnest({tokens_sql('text')}) AS token
      FROM documents WHERE {HAS_TEXT_SQL}
    )
"""


def _tok(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(has_text(F.col("text")))
    return docs.select(
        "doc_id",
        "lang",
        "source",
        F.explode(tokens(F.col("text"))).alias("token"),
    )


# ---------------------------------------------------------------------------
# cms_heavy_hitters: count-min sketch estimates vs true counts
# ---------------------------------------------------------------------------

_CMS_D = 4
_CMS_W = 64
_CMS_MIN_CNT = 200


def _cms_bucket_spark(row: int):
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(f"cms{row}:"), F.col("token"))), 1, 15), 16, 10)
        .cast("bigint")
        % _CMS_W
    )


def _cms_bucket_sql(row: int) -> str:
    return f"(('0x' || substr(md5('cms{row}:' || token), 1, 15))::BIGINT % {_CMS_W})"


_CMS_SQL = f"""
    WITH {_TOK_CTE},
    cnt AS (SELECT token, count(*) AS true_cnt FROM tok GROUP BY token),
    hashed AS (
      SELECT token, true_cnt, h.r AS r, h.b AS b
      FROM cnt, UNNEST([{",".join(f"struct_pack(r := {r}, b := {_cms_bucket_sql(r)})" for r in range(_CMS_D))}]) AS t(h)
    ),
    sketch AS (SELECT r, b, CAST(sum(true_cnt) AS BIGINT) AS cell
               FROM hashed GROUP BY r, b)
    SELECT h.token,
           CAST(h.true_cnt AS BIGINT) AS true_cnt,
           CAST(min(s.cell) AS BIGINT) AS cms_est,
           CAST(min(s.cell) - h.true_cnt AS BIGINT) AS overcount
    FROM hashed h JOIN sketch s ON s.r = h.r AND s.b = h.b
    WHERE h.true_cnt >= {_CMS_MIN_CNT}
    GROUP BY h.token, h.true_cnt
"""


@query("cms_heavy_hitters", _CMS_SQL)
def cms_heavy_hitters(spark, sf_dir):
    """Count-min sketch: fixed 4x64 counter grid built from the per-token
    count relation; estimate = min over the 4 hash rows. Reports estimate
    vs truth for every heavy hitter so the (deterministic, replayed)
    collision over-count is visible."""
    cnt = _tok(spark, sf_dir).groupBy("token").agg(F.count(F.lit(1)).alias("true_cnt"))
    hashed = cnt.select(
        "token",
        "true_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"), _cms_bucket_spark(r).alias("b")
                    )
                    for r in range(_CMS_D)
                ]
            )
        ).alias("h"),
    ).select("token", "true_cnt", F.col("h.r").alias("r"), F.col("h.b").alias("b"))
    sketch = hashed.groupBy("r", "b").agg(F.sum("true_cnt").cast("bigint").alias("cell"))
    return (
        hashed.join(F.broadcast(sketch), ["r", "b"])
        .groupBy("token", "true_cnt")
        .agg(F.min("cell").cast("bigint").alias("cms_est"))
        .filter(F.col("true_cnt") >= _CMS_MIN_CNT)
        .select(
            "token",
            F.col("true_cnt").cast("bigint").alias("true_cnt"),
            "cms_est",
            (F.col("cms_est") - F.col("true_cnt")).cast("bigint").alias("overcount"),
        )
    )


# ---------------------------------------------------------------------------
# topk_tokens_per_lang: per-group top-k after a full aggregate
# ---------------------------------------------------------------------------

_TOPK_K = 5

_TOPK_SQL = f"""
    WITH {_TOK_CTE},
    cnt AS (SELECT lang, token, count(*) AS cnt FROM tok GROUP BY lang, token)
    SELECT lang, token, CAST(cnt AS BIGINT) AS cnt,
           CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT lang, token, cnt,
                 row_number() OVER (PARTITION BY lang
                                    ORDER BY cnt DESC, token ASC) AS rnk
          FROM cnt)
    WHERE rnk <= {_TOPK_K}
"""


@query("topk_tokens_per_lang", _TOPK_SQL)
def topk_tokens_per_lang(spark, sf_dir):
    """Top-5 tokens per language: aggregate first, then row_number over a
    lang-partitioned window (hash exchange only; ties token-ascending)."""
    cnt = (
        _tok(spark, sf_dir)
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("token").asc())
    return (
        cnt.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOPK_K)
        .select(
            "lang",
            "token",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# vocab_growth_heaps: cumulative distinct vocabulary by doc-order bucket
# ---------------------------------------------------------------------------

_HEAPS_BUCKET_DOCS = 50

_HEAPS_SQL = f"""
    WITH {_TOK_CTE},
    per_bucket AS (
      SELECT doc_id // {_HEAPS_BUCKET_DOCS} AS bucket, count(*) AS bucket_tokens
      FROM tok GROUP BY 1
    ),
    first_seen AS (
      SELECT token, min(doc_id) // {_HEAPS_BUCKET_DOCS} AS first_bucket
      FROM tok GROUP BY token
    ),
    new_types AS (
      SELECT first_bucket AS bucket, count(*) AS new_types
      FROM first_seen GROUP BY first_bucket
    )
    SELECT p.bucket,
           CAST(p.bucket_tokens AS BIGINT) AS bucket_tokens,
           CAST(coalesce(n.new_types, 0) AS BIGINT) AS new_types,
           CAST(sum(coalesce(n.new_types, 0))
                OVER (ORDER BY p.bucket
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS vocab_cum,
           CAST(sum(p.bucket_tokens)
                OVER (ORDER BY p.bucket
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS tokens_cum
    FROM per_bucket p LEFT JOIN new_types n ON n.bucket = p.bucket
"""


@query("vocab_growth_heaps", _HEAPS_SQL)
def vocab_growth_heaps(spark, sf_dir):
    """Heaps-law curve: distinct vocabulary vs tokens seen, in 50-doc
    buckets of doc order. Both inputs to the cumulative window are already
    per-bucket aggregates (corpus/50 rows), so the single-partition window
    sees bucket rows, never data rows."""
    tok = _tok(spark, sf_dir)
    per_bucket = (
        tok.groupBy((F.col("doc_id") / _HEAPS_BUCKET_DOCS).cast("bigint").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("bucket_tokens"))
    )
    first_seen = tok.groupBy("token").agg(
        (F.min("doc_id") / _HEAPS_BUCKET_DOCS).cast("bigint").alias("first_bucket")
    )
    new_types = first_seen.groupBy(F.col("first_bucket").alias("bucket")).agg(
        F.count(F.lit(1)).alias("new_types")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_bucket.join(F.broadcast(new_types), "bucket", "left")
        .select(
            "bucket",
            F.col("bucket_tokens").cast("bigint").alias("bucket_tokens"),
            F.coalesce("new_types", F.lit(0)).cast("bigint").alias("new_types"),
        )
        .withColumn("vocab_cum", F.sum("new_types").over(w).cast("bigint"))
        .withColumn("tokens_cum", F.sum("bucket_tokens").over(w).cast("bigint"))
    )


# ---------------------------------------------------------------------------
# sample_group_reservoir: deterministic k-per-group sample
# ---------------------------------------------------------------------------

_RESERVOIR_K = 3

_RESERVOIR_SQL = f"""
    SELECT lang, source, doc_id, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT lang, source, doc_id,
                 row_number() OVER (PARTITION BY lang, source
                                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                   AS rnk
          FROM documents)
    WHERE rnk <= {_RESERVOIR_K}
"""


@query("sample_group_reservoir", _RESERVOIR_SQL)
def sample_group_reservoir(spark, sf_dir):
    """Deterministic per-(lang, source) reservoir: keep the k docs with the
    smallest md5(doc_id) — uniform in distribution, exactly replayable on
    any engine/cluster layout (a true RNG reservoir is neither)."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _RESERVOIR_K)
        .select("lang", "source", "doc_id", F.col("rnk").cast("bigint").alias("rnk"))
    )


# ---------------------------------------------------------------------------
# bpe_top_merge: one byte-pair-merge counting round
# ---------------------------------------------------------------------------

# the ONE definition of a "BPE word" — shared by bpe_top_merge and the
# iterative bpe_train_merges so the two queries can never silently diverge
_BPE_WORDS_CTE = """words AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                w -> length(w) >= 2)) AS w
      FROM documents WHERE text IS NOT NULL
    )"""


def _bpe_words(docs):
    """Exploded [a-z]{2,} words of the corpus (Spark twin of _BPE_WORDS_CTE)."""
    return docs.filter(F.col("text").isNotNull()).select(
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z]+"),
                lambda s: F.length(s) >= 2,
            )
        ).alias("w")
    )


_BPE_SQL = f"""
    WITH {_BPE_WORDS_CTE},
    pairs AS (
      SELECT substr(w, i, 2) AS pair
      FROM words, UNNEST(generate_series(1, length(w) - 1)) AS t(i)
    ),
    cnt AS (SELECT pair, count(*) AS cnt FROM pairs GROUP BY pair),
    mx AS (SELECT max(cnt) AS max_cnt FROM cnt)
    SELECT c.pair, CAST(c.cnt AS BIGINT) AS cnt
    FROM cnt c JOIN mx ON c.cnt = mx.max_cnt
"""


@query("bpe_top_merge", _BPE_SQL)
def bpe_top_merge(spark, sf_dir):
    """One BPE training round: count adjacent in-word character pairs and
    return the winning merge(s). Pair generation is an explode of
    substring positions (declarative built-ins only); the argmax attaches
    Q15-style as a broadcast 1-row equi-join on the max count."""
    words = _bpe_words(_t(spark, sf_dir, "documents"))
    pairs = words.select(
        "w", F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i")
    ).select(F.col("w").substr(F.col("i"), F.lit(2)).alias("pair"))
    cnt = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("cnt"))
    mx = cnt.agg(F.max("cnt").alias("max_cnt"))
    return cnt.join(F.broadcast(mx), cnt.cnt == mx.max_cnt).select(
        "pair", F.col("cnt").cast("bigint").alias("cnt")
    )


# ---------------------------------------------------------------------------
# bpe_train_merges: the full iterative BPE training loop (M rounds)
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 4


def _bpe_round_sql(r: int) -> str:
    """One BPE round as CTE blocks: weighted pair counts, the argmax
    merge, and the greedy left-to-right non-overlapping application via
    the gaps-and-islands parity trick (see bpe_train_merges)."""
    return f""",
    p{r} AS (
      SELECT sym AS a, nxt AS b, sum(wc) AS cnt FROM (
        SELECT sym, lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt, wc
        FROM r{r})
      WHERE nxt IS NOT NULL GROUP BY 1, 2
    ),
    w{r} AS (
      SELECT a, b, CAST(cnt AS BIGINT) AS cnt
      FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1
    ),
    m{r} AS (
      SELECT t.*, CASE WHEN t.sym = x.a AND t.nxt = x.b THEN 1 ELSE 0 END AS mt
      FROM (SELECT *, lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
            FROM r{r}) t, w{r} x
    ),
    s{r} AS (
      SELECT *, CASE WHEN mt = 1 AND
               (pos - 1 - COALESCE(max(CASE WHEN mt = 0 THEN pos END)
                   OVER (PARTITION BY w ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0)) % 2 = 0
               THEN 1 ELSE 0 END AS sel
      FROM m{r}
    ),
    k{r} AS (
      SELECT *, lag(sel) OVER (PARTITION BY w ORDER BY pos) AS psel FROM s{r}
    ),
    r{r + 1} AS (
      SELECT w, wc, row_number() OVER (PARTITION BY w ORDER BY pos) AS pos,
             CASE WHEN sel = 1 THEN sym || nxt ELSE sym END AS sym
      FROM k{r} WHERE COALESCE(psel, 0) = 0
    )"""


def _bpe_train_sql(rounds: int = _BPE_ROUNDS) -> str:
    blocks = "".join(_bpe_round_sql(r) for r in range(rounds))
    final = "\n    UNION ALL ".join(
        f"SELECT {r} AS merge_round, a, b, cnt FROM w{r}" for r in range(rounds)
    )
    return f"""
    WITH {_BPE_WORDS_CTE},
    vocab AS (SELECT w, CAST(count(*) AS BIGINT) AS wc FROM words GROUP BY w),
    r0 AS (
      SELECT w, wc, CAST(i AS BIGINT) AS pos, substr(w, i, 1) AS sym
      FROM vocab, UNNEST(generate_series(1, length(w))) AS t(i)
    ){blocks}
    {final}
"""


@query("bpe_train_merges", _bpe_train_sql())
def bpe_train_merges(spark, sf_dir):
    """The FULL BPE training loop, not just one counting round: M=4
    rounds of (weighted pair count -> argmax merge -> greedy
    non-overlapping merge application over the vocabulary), via the
    reusable parameterized trainer ``operators.bpe.bpe_train`` (round-4
    directive 3 — the former 4-round unrolled DAG is now
    ``bpe_train(vocab, n_merges=M)`` for any M), with the 4-round DuckDB
    replay generated per round as the oracle.

    Scale shape: training runs at VOCABULARY grain (distinct [a-z]+
    words weighted by corpus frequency), so per-round work is O(vocab x
    word_len) regardless of corpus size; the corpus is touched exactly
    once to build the weighted vocab (map-side-combined groupBy). Merge
    application is pure window functions over the word partition key;
    each round's winning merge is a 1-row struct-min aggregate (map-side
    partial, never a global sort) collected to the driver — one row per
    round, bounded by M, never by data — and replayed into the next
    round's plan as literals. Long trainings lineage-break through
    cluster-visible parquet scratch every ``scratch_every`` rounds (see
    operators/bpe.py). Early stop on an exhausted vocabulary drops the
    degenerate rounds, agreeing with the oracle's LIMIT 1 over an empty
    pair table.

    Equality of the trainer against a plain-Python textbook BPE for M=50
    is pinned by tests/test_bpe_trainer.py.
    """
    from .operators.bpe import bpe_train

    words = _bpe_words(_t(spark, sf_dir, "documents"))
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("wc"))
    return bpe_train(vocab, n_merges=_BPE_ROUNDS)


# ---------------------------------------------------------------------------
# bpe_segment_vocab: the trained merges APPLIED — the tokenizer-side output
# ---------------------------------------------------------------------------

def _bpe_segment_sql(rounds: int = _BPE_ROUNDS) -> str:
    blocks = "".join(_bpe_round_sql(r) for r in range(rounds))
    return f"""
    WITH {_BPE_WORDS_CTE},
    vocab AS (SELECT w, CAST(count(*) AS BIGINT) AS wc FROM words GROUP BY w),
    r0 AS (
      SELECT w, wc, CAST(i AS BIGINT) AS pos, substr(w, i, 1) AS sym
      FROM vocab, UNNEST(generate_series(1, length(w))) AS t(i)
    ){blocks}
    SELECT w, wc, CAST(pos AS BIGINT) AS pos, sym FROM r{rounds}
"""


@query("bpe_segment_vocab", _bpe_segment_sql())
def bpe_segment_vocab(spark, sf_dir):
    """The other half of the BPE contract: train M=4 merges with the
    parameterized trainer, then APPLY them to the weighted vocabulary with
    ``operators.bpe.bpe_segment`` and emit the final (w, wc, pos, sym)
    segmentation — what a tokenizer built from the trained rules produces.
    The oracle replays the same 4 rounds of greedy non-overlapping merge
    application in generated SQL (the round-CTE chain of
    ``bpe_train_merges``) and selects the final symbol state, so both the
    rule LEARNING and the rule APPLICATION are hash-checked cross-engine."""
    from .operators.bpe import bpe_segment, bpe_train

    words = _bpe_words(_t(spark, sf_dir, "documents"))
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("wc"))
    merges = [
        (r["merge_round"], r["a"], r["b"], r["cnt"])
        for r in bpe_train(vocab, n_merges=_BPE_ROUNDS).collect()
    ]
    return bpe_segment(vocab, merges)
