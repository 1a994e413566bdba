"""Sketch, incremental-dedup, and text-mining coverage, batch 10.

Three genuinely new plan shapes:

- ``sketch_histogram_quantiles``: a MERGEABLE quantile sketch — the
  bounded-memory complement to ``lineitem_quantiles``' exact
  ``percentile`` (which buffers every value of a group on one executor).
  Values quantize to cents, bucket by "first two decimal digits, rest
  zeroed" (a pure string rewrite — rpad(substr(s,1,2), len(s), '0') —
  identical on every engine, no log() anywhere), per-(group, bucket)
  counts partial-aggregate map-side, and each requested percentile is
  the smallest bucket lower bound whose cumulative count passes
  ceil(q*n) — an exact-integer comparison (cum*100 >= q*n). ~90 buckets
  per decade bounds relative error at ~1% REGARDLESS of data size: this
  is the shape that survives 10^12 rows where exact percentile cannot.
- ``dedup_incremental_minhash``: the PRODUCTION dedup flow — probe a new
  ingest batch (md5-bucketed 20% "delta") against the standing corpus's
  MinHash band index with an ASYMMETRIC band-bucket join (delta ->
  index only; no index-index pairs re-examined, no O(corpus^2) ever),
  then exact-Jaccard-verify candidates only
  (operators/dedup.py:minhash_incremental_pairs). Complements the
  self-join family (lsh/verified), which answers "dedup this corpus",
  not "dedup today's crawl against it".
- ``text_keyword_rake``: RAKE-style keyword extraction (Rose et al.
  2010) — candidate phrases are maximal stopword-free token runs found
  with the gaps-and-islands trick (run_id = pos - row_number over
  non-stop tokens; the same islands pattern as events_activity_streaks,
  applied to token streams), assembled JVM-side with per-rank
  min(when(rnk=i)) slots + concat_ws (the rank-slot form — NEVER
  array_sort/transform over collect_list, the round-2 measured 15x
  interpreted-HOF cliff), scored by the RAKE word statistic
  sum_w floor(1000 * deg(w) / freq(w)) — per-word integer floor then an
  order-free integer sum, so the score replays bit-identically.

Scale notes: the sketch shuffles once on (group, bucket) — cum windows
run over the ~200-row bucket table per group, never the data; the
incremental probe's candidate volume is O(|delta| x bands x
bucket-width) and at production the index side is a pre-materialized
bucketed table (no index-side shuffle at all — documented in the
operator); RAKE shuffles on doc for the islands window, then on word for
the global statistics (hot words partial-aggregate), then on phrase.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .functions.text import has_text, tokens
from .operators.dedup import HASH_P, affine_coeffs
from .oracle_minhash import md5_60_sql
from .queries import HAS_TEXT_SQL, _SHINGLE_SQL, _t, query, tokens_sql

# ---------------------------------------------------------------------------
# sketch_histogram_quantiles: mergeable two-digit-mantissa quantile sketch
# ---------------------------------------------------------------------------

_HQ_PCTS = (50, 95, 99)

_HQ_SQL = f"""
    WITH c AS (
      SELECT l_returnflag,
             CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    ),
    b AS (
      SELECT l_returnflag,
             CAST(rpad(substr(CAST(cents AS VARCHAR), 1, 2),
                       CAST(length(CAST(cents AS VARCHAR)) AS INTEGER),
                       '0') AS BIGINT) AS lb
      FROM c
    ),
    h AS (
      SELECT l_returnflag, lb, count(*) AS cnt FROM b GROUP BY 1, 2
    ),
    w AS (
      SELECT l_returnflag, lb, cnt,
             sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY lb
                            ROWS UNBOUNDED PRECEDING) AS cum,
             sum(cnt) OVER (PARTITION BY l_returnflag) AS n
      FROM h
    )
    SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS n_buckets,
           {", ".join(f'''min(CASE WHEN cum * 100 >= {q} * n THEN lb END)
             AS p{q}_cents''' for q in _HQ_PCTS)}
    FROM w GROUP BY 1
"""


@query("sketch_histogram_quantiles", _HQ_SQL)
def sketch_histogram_quantiles(spark, sf_dir):
    """Per-group p50/p95/p99 from a two-digit-mantissa histogram sketch:
    one map-side-combinable (group, bucket) count, cumulative window
    over the tiny bucket table, percentile = first bucket lower bound
    passing the exact-integer rank test. Bounded memory at any scale —
    the 10^12-row replacement for exact percentile buffers."""
    li = _t(spark, sf_dir, "lineitem")
    c = li.select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    b = c.select(
        "l_returnflag",
        F.expr(
            "CAST(rpad(substr(CAST(cents AS STRING), 1, 2),"
            " length(CAST(cents AS STRING)), '0') AS BIGINT)"
        ).alias("lb"),
    )
    h = b.groupBy("l_returnflag", "lb").agg(F.count(F.lit(1)).alias("cnt"))
    wc = (
        Window.partitionBy("l_returnflag")
        .orderBy("lb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("l_returnflag")
    w = h.select(
        "l_returnflag",
        "lb",
        "cnt",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(wn).alias("n"),
    )
    return w.groupBy("l_returnflag").agg(
        F.max("n").alias("n"),
        F.count(F.lit(1)).alias("n_buckets"),
        *[
            F.min(F.when(F.col("cum") * 100 >= F.lit(q) * F.col("n"), F.col("lb")))
            .alias(f"p{q}_cents")
            for q in _HQ_PCTS
        ],
    )


# ---------------------------------------------------------------------------
# dedup_incremental_minhash: delta-vs-index asymmetric LSH probe + verify
# ---------------------------------------------------------------------------

_INC_MOD = 5
_INC_K = 16
_INC_BANDS = 4
_INC_THRESHOLD = 0.1


def _inc_sql(k: int = _INC_K, bands: int = _INC_BANDS, mod: int = _INC_MOD) -> str:
    r = k // bands
    perms = ", ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {HASH_P}))"
        for a, b in affine_coeffs(k)
    )
    banded = "\n      UNION ALL ".join(
        f"SELECT doc, is_delta, {b} AS band, "
        f"array_to_string(sig[{b * r + 1}:{b * r + r}], ',') AS bucket FROM sig"
        for b in range(bands)
    )
    delta_flag = (
        f"({md5_60_sql(chr(39) + 'inc:' + chr(39) + ' || CAST(doc AS VARCHAR)')}"
        f" % {mod} = 0)"
    )
    return f"""
    WITH sh AS MATERIALIZED ({_SHINGLE_SQL}),
    hsh AS (SELECT doc, {delta_flag} AS is_delta,
                   list_transform(sh, s -> {md5_60_sql('s')} % {HASH_P}) AS hs
            FROM sh),
    sig AS (SELECT doc, is_delta, [{perms}] AS sig FROM hsh),
    banded AS (
      {banded}
    ),
    cand AS (
      SELECT DISTINCT d.doc AS doc_new, i.doc AS doc_idx
      FROM banded d JOIN banded i
        ON d.band = i.band AND d.bucket = i.bucket
      WHERE d.is_delta AND NOT i.is_delta
    ),
    posting AS (SELECT doc, unnest(sh) AS shingle FROM sh),
    nsh AS (SELECT doc, CAST(len(sh) AS BIGINT) AS n_sh FROM sh),
    inter AS (
      SELECT c.doc_new, c.doc_idx, count(*) AS inter
      FROM cand c
      JOIN posting pa ON pa.doc = c.doc_new
      JOIN posting pb ON pb.doc = c.doc_idx AND pb.shingle = pa.shingle
      GROUP BY 1, 2
    )
    SELECT i.doc_new, i.doc_idx,
           round(CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter), 4) AS jaccard
    FROM inter i
    JOIN nsh na ON na.doc = i.doc_new
    JOIN nsh nb ON nb.doc = i.doc_idx
    WHERE round(CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter), 4)
          >= {_INC_THRESHOLD}
    """


@query("dedup_incremental_minhash", _inc_sql())
def dedup_incremental_minhash(spark, sf_dir):
    """Probe the md5-bucketed 20% "new ingest" slice against the standing
    corpus's MinHash band index (asymmetric delta->index join, no
    index-index work), exact-Jaccard verify on candidates only — the
    incremental flow a daily crawl runs
    (operators/dedup.py:minhash_incremental_pairs)."""
    from .operators.dedup import minhash_incremental_pairs

    return minhash_incremental_pairs(
        _t(spark, sf_dir, "documents"),
        delta_mod=_INC_MOD,
        threshold=_INC_THRESHOLD,
        k=_INC_K,
        bands=_INC_BANDS,
    )


# ---------------------------------------------------------------------------
# text_keyword_rake: gaps-and-islands candidate phrases + RAKE word scores
# ---------------------------------------------------------------------------

_RAKE_STOP = ("a", "the")
_RAKE_MAXLEN = 6
_RAKE_MIN_OCC = 2

_RAKE_STOP_SQL = ", ".join(f"'{s}'" for s in _RAKE_STOP)

_RAKE_SQL = f"""
    WITH toks AS (
      SELECT doc_id, i - 1 AS pos, t[i] AS term
      FROM (SELECT doc_id, {tokens_sql('text')} AS t
            FROM documents
            WHERE {HAS_TEXT_SQL}),
           unnest(generate_series(1, len(t))) AS g(i)
    ),
    ns AS (
      SELECT doc_id, pos, term,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS run_id
      FROM toks WHERE term NOT IN ({_RAKE_STOP_SQL})
    ),
    runs AS (
      SELECT doc_id, run_id,
             string_agg(term, ' ' ORDER BY pos) AS phrase,
             count(*) AS plen
      FROM ns GROUP BY 1, 2 HAVING count(*) <= {_RAKE_MAXLEN}
    ),
    words AS (
      SELECT n.doc_id, n.run_id, n.term, r.plen
      FROM ns n JOIN runs r
        ON r.doc_id = n.doc_id AND r.run_id = n.run_id
    ),
    stats AS (
      SELECT term, count(*) AS freq, sum(plen) AS deg
      FROM words GROUP BY 1
    ),
    scored AS (
      SELECT w.doc_id, w.run_id,
             sum((1000 * s.deg) // s.freq) AS score_milli
      FROM words w JOIN stats s ON s.term = w.term
      GROUP BY 1, 2
    )
    SELECT r.phrase, CAST(max(r.plen) AS BIGINT) AS plen,
           CAST(count(*) AS BIGINT) AS n_occ,
           CAST(max(sc.score_milli) AS BIGINT) AS score_milli
    FROM runs r JOIN scored sc
      ON sc.doc_id = r.doc_id AND sc.run_id = r.run_id
    GROUP BY 1 HAVING count(*) >= {_RAKE_MIN_OCC}
"""


@query("text_keyword_rake", _RAKE_SQL)
def text_keyword_rake(spark, sf_dir):
    """RAKE keyword extraction: stopword-free runs via gaps-and-islands
    (run_id = pos - row_number), rank-slot phrase assembly (no
    interpreted HOFs), global word deg/freq statistics, and the
    order-free integer score sum_w floor(1000*deg/freq). Emits phrases
    occurring >= {min_occ} times with their RAKE score."""
    docs = _t(spark, sf_dir, "documents").filter(has_text(F.col("text")))
    toks = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "term")
    )
    wi = Window.partitionBy("doc_id").orderBy("pos")
    ns = toks.filter(~F.col("term").isin(*_RAKE_STOP)).select(
        "doc_id",
        "pos",
        "term",
        (F.col("pos") - F.row_number().over(wi)).alias("run_id"),
    )
    wr = Window.partitionBy("doc_id", "run_id").orderBy("pos")
    ranked = ns.select("doc_id", "run_id", "term", F.row_number().over(wr).alias("rnk"))
    runs = (
        ranked.groupBy("doc_id", "run_id")
        .agg(
            F.count(F.lit(1)).alias("plen"),
            *[
                F.min(F.when(F.col("rnk") == i, F.col("term"))).alias(f"_s{i}")
                for i in range(1, _RAKE_MAXLEN + 1)
            ],
        )
        .filter(F.col("plen") <= _RAKE_MAXLEN)
        .select(
            "doc_id",
            "run_id",
            "plen",
            F.concat_ws(" ", *[f"_s{i}" for i in range(1, _RAKE_MAXLEN + 1)]).alias(
                "phrase"
            ),
        )
    )
    words = ns.join(runs.select("doc_id", "run_id", "plen"), ["doc_id", "run_id"])
    stats = words.groupBy("term").agg(
        F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("deg")
    )
    scored = (
        words.join(stats, "term")
        .groupBy("doc_id", "run_id")
        .agg(F.sum(F.expr("(1000 * deg) div freq")).alias("score_milli"))
    )
    return (
        runs.join(scored, ["doc_id", "run_id"])
        .groupBy("phrase")
        .agg(
            F.max("plen").cast("long").alias("plen"),
            F.count(F.lit(1)).alias("n_occ"),
            F.max("score_milli").alias("score_milli"),
        )
        .filter(F.col("n_occ") >= _RAKE_MIN_OCC)
    )
