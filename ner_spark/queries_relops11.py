"""Pipeline-QA, behavioral-segmentation, and boilerplate coverage, batch 11.

Three genuinely new plan shapes:

- ``dedup_blocking_eval``: the dedup QUALITY AUDIT — reconcile the
  MinHash-LSH verified pairs against the exact df-capped Jaccard ground
  truth ON THE SAME CORPUS with a full-outer set reconciliation, and
  report TP/FP/FN/precision/recall as one row. This is the job a
  pipeline runs after every blocking-config change (bands, k, df cap):
  the two methods differ BOTH by blocking recall (LSH misses buckets)
  and by denominator semantics (the truth is df-capped, the verifier is
  uncapped), and the audit quantifies exactly that instead of assuming
  it. New shape: a full-outer join of two DERIVED pair relations, each a
  multi-stage subplan, collapsed to a one-row scorecard.
- ``events_rfm_segments``: classic RFM segmentation — per-user recency /
  frequency / monetary, each cut into terciles by interpolated corpus
  thresholds attached as ONE broadcast row (the q11 scalar pattern,
  never a per-group ntile window, which would funnel each group through
  one task), segment id = 100·r + 10·f + m, output per-segment counts.
  Spark ``percentile`` == DuckDB ``quantile_cont`` (index p·(n−1),
  linear interpolation — the parity lineitem_quantiles already pins), so
  the threshold doubles are bit-identical on both engines.
- ``doc_template_score``: the boilerplate signal — the share of each
  document's distinct 3-gram shingles whose corpus document frequency
  is >= a threshold (the complement of ``corpus_ngram_novelty``'s
  first-seen attribution: novelty finds what is NEW, this finds what is
  TEMPLATE). df attribution via an unordered count-window on the gram
  posting list (one exchange, no join-back), then one groupBy(doc).

Scale notes: the blocking audit's expensive halves are the two pair
derivations it already shares with the standing queries; the
reconciliation join keys on (doc_a, doc_b) — pair tables are tiny
relative to the corpus (near-dups are rare), and the one-row scorecard's
SinglePartition exchange aggregates pre-reduced partials. RFM is one
exchange on user_id + a 1-row threshold broadcast. The template score's
count-window partitions by gram; a pathological stop-shingle makes a hot
partition — at 100 TB swap the window for the df-groupBy + broadcast-hot
anti-join form the dedup module already uses (same output, documented
trade).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .oracle_minhash import minhash_cand_cte
from .queries import _NGRAM_MAX_DF, _SHINGLE_SQL, _t, query

# ---------------------------------------------------------------------------
# dedup_blocking_eval: LSH-verified pairs vs exact df-capped ground truth
# ---------------------------------------------------------------------------

_BE_K = 16
_BE_BANDS = 4
_BE_THRESHOLD = 0.1

_BE_SQL = f"""
    WITH {minhash_cand_cte(_SHINGLE_SQL, _BE_K, _BE_BANDS)},
    posting AS (SELECT doc, unnest(sh) AS shingle FROM sh),
    nsh AS (SELECT doc, CAST(len(sh) AS BIGINT) AS n_sh FROM sh),
    minter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS inter
      FROM cand c
      JOIN posting pa ON pa.doc = c.doc_a
      JOIN posting pb ON pb.doc = c.doc_b AND pb.shingle = pa.shingle
      GROUP BY 1, 2
    ),
    method AS (
      SELECT i.doc_a, i.doc_b
      FROM minter i
      JOIN nsh na ON na.doc = i.doc_a
      JOIN nsh nb ON nb.doc = i.doc_b
      WHERE round(CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter), 4)
            >= {_BE_THRESHOLD}
    ),
    hot AS (SELECT shingle FROM posting GROUP BY shingle
            HAVING count(*) > {_NGRAM_MAX_DF}),
    tposting1 AS (SELECT doc, shingle FROM posting
                  WHERE shingle NOT IN (SELECT shingle FROM hot)),
    tnsh AS (SELECT doc, count(*) AS n_sh FROM tposting1 GROUP BY doc),
    tinter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS inter
      FROM tposting1 a JOIN tposting1 b
        ON a.shingle = b.shingle AND a.doc < b.doc
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT i.doc_a, i.doc_b
      FROM tinter i
      JOIN tnsh na ON na.doc = i.doc_a
      JOIN tnsh nb ON nb.doc = i.doc_b
      WHERE round(CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter), 4)
            >= {_BE_THRESHOLD}
    ),
    rec AS (
      SELECT coalesce(t.doc_a, m.doc_a) AS doc_a,
             (t.doc_a IS NOT NULL) AS in_truth,
             (m.doc_a IS NOT NULL) AS in_method
      FROM truth t FULL OUTER JOIN method m
        ON t.doc_a = m.doc_a AND t.doc_b = m.doc_b
    )
    SELECT CAST(sum(CASE WHEN in_truth THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
           CAST(sum(CASE WHEN in_method THEN 1 ELSE 0 END) AS BIGINT) AS n_method,
           CAST(sum(CASE WHEN in_truth AND in_method THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(sum(CASE WHEN in_method AND NOT in_truth THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(sum(CASE WHEN in_truth AND NOT in_method THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           round(CAST(sum(CASE WHEN in_truth AND in_method THEN 1 ELSE 0 END) AS DOUBLE)
                 / sum(CASE WHEN in_method THEN 1 ELSE 0 END), 6) AS precision_,
           round(CAST(sum(CASE WHEN in_truth AND in_method THEN 1 ELSE 0 END) AS DOUBLE)
                 / sum(CASE WHEN in_truth THEN 1 ELSE 0 END), 6) AS recall_
    FROM rec
"""


@query("dedup_blocking_eval", _BE_SQL)
def dedup_blocking_eval(spark, sf_dir):
    """One-row dedup QA scorecard: full-outer reconciliation of the
    MinHash-LSH verified pairs (k=16, bands=4, uncapped verify) against
    the exact df-capped Jaccard ground truth at the same threshold —
    TP/FP/FN, precision, recall. Quantifies blocking recall AND df-cap
    semantic drift instead of assuming either."""
    from .operators.dedup import minhash_verified_pairs, ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    truth = ngram_jaccard_pairs(
        docs, threshold=_BE_THRESHOLD, max_df=_NGRAM_MAX_DF
    ).select("doc_a", "doc_b", F.lit(True).alias("in_truth"))
    method = minhash_verified_pairs(
        docs, threshold=_BE_THRESHOLD, k=_BE_K, bands=_BE_BANDS
    ).select("doc_a", "doc_b", F.lit(True).alias("in_method"))
    rec = truth.join(method, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce("in_truth", F.lit(False)).alias("in_truth"),
        F.coalesce("in_method", F.lit(False)).alias("in_method"),
    )
    tp = F.sum(F.when(F.col("in_truth") & F.col("in_method"), 1).otherwise(0))
    n_truth = F.sum(F.when(F.col("in_truth"), 1).otherwise(0))
    n_method = F.sum(F.when(F.col("in_method"), 1).otherwise(0))
    return rec.agg(
        n_truth.alias("n_truth"),
        n_method.alias("n_method"),
        tp.alias("tp"),
        F.sum(F.when(F.col("in_method") & ~F.col("in_truth"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(F.col("in_truth") & ~F.col("in_method"), 1).otherwise(0)).alias("fn"),
        F.round(tp.cast("double") / n_method, 6).alias("precision_"),
        F.round(tp.cast("double") / n_truth, 6).alias("recall_"),
    )


# ---------------------------------------------------------------------------
# events_rfm_segments: tercile RFM segmentation with broadcast thresholds
# ---------------------------------------------------------------------------

_RFM_SQL = """
    WITH u AS (
      SELECT user_id,
             CAST(max(floor(epoch(ts))) AS BIGINT) AS last_s,
             count(*) AS freq,
             CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS mon
      FROM events GROUP BY 1
    ),
    g AS (SELECT CAST(max(last_s) AS BIGINT) AS now_s FROM u),
    r AS (
      SELECT user_id, g.now_s - last_s AS rec_s, freq, mon FROM u, g
    ),
    th AS (
      SELECT quantile_cont(rec_s, CAST(1 AS DOUBLE)/3) AS r1,
             quantile_cont(rec_s, CAST(2 AS DOUBLE)/3) AS r2,
             quantile_cont(freq,  CAST(1 AS DOUBLE)/3) AS f1,
             quantile_cont(freq,  CAST(2 AS DOUBLE)/3) AS f2,
             quantile_cont(mon,   CAST(1 AS DOUBLE)/3) AS m1,
             quantile_cont(mon,   CAST(2 AS DOUBLE)/3) AS m2
      FROM r
    ),
    s AS (
      SELECT (CASE WHEN rec_s <= th.r1 THEN 3 WHEN rec_s <= th.r2 THEN 2 ELSE 1 END) * 100
           + (CASE WHEN freq  >= th.f2 THEN 3 WHEN freq  >= th.f1 THEN 2 ELSE 1 END) * 10
           + (CASE WHEN mon   >= th.m2 THEN 3 WHEN mon   >= th.m1 THEN 2 ELSE 1 END)
             AS segment,
             mon
      FROM r, th
    )
    SELECT CAST(segment AS BIGINT) AS segment,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(min(mon) AS BIGINT) AS min_mon_milli,
           CAST(max(mon) AS BIGINT) AS max_mon_milli
    FROM s GROUP BY 1
"""


@query("events_rfm_segments", _RFM_SQL)
def events_rfm_segments(spark, sf_dir):
    """RFM tercile segmentation: per-user recency/frequency/monetary (one
    exchange), interpolated tercile thresholds computed as ONE row and
    broadcast back (never a per-group ntile window), segment =
    100·r + 10·f + m. Spark percentile == DuckDB quantile_cont, so the
    threshold doubles match bit-for-bit."""
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(F.expr("CAST(unix_timestamp(ts) AS BIGINT)")).alias("last_s"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.floor(F.col("value") * 1000).cast("long")).alias("mon"),
    )
    g = u.agg(F.max("last_s").alias("now_s"))
    r = u.crossJoin(F.broadcast(g)).select(
        "user_id", (F.col("now_s") - F.col("last_s")).alias("rec_s"), "freq", "mon"
    )
    # CAST(1 AS DOUBLE)/3, NOT 1.0/3: a bare 1.0/3 is DECIMAL division in
    # Spark SQL (DECIMAL(8,6) = 0.333333) while DuckDB's is DOUBLE — the
    # tercile thresholds then differ in the 6th decimal and boundary users
    # flip segments. With the identical double q the two engines'
    # interpolations are bit-equal (fuzzed over 300 integer sets).
    th = r.agg(
        F.expr("percentile(rec_s, CAST(1 AS DOUBLE)/3)").alias("r1"),
        F.expr("percentile(rec_s, CAST(2 AS DOUBLE)/3)").alias("r2"),
        F.expr("percentile(freq, CAST(1 AS DOUBLE)/3)").alias("f1"),
        F.expr("percentile(freq, CAST(2 AS DOUBLE)/3)").alias("f2"),
        F.expr("percentile(mon, CAST(1 AS DOUBLE)/3)").alias("m1"),
        F.expr("percentile(mon, CAST(2 AS DOUBLE)/3)").alias("m2"),
    )
    seg = (
        F.when(F.col("rec_s") <= F.col("r1"), 3)
        .when(F.col("rec_s") <= F.col("r2"), 2)
        .otherwise(1)
        * 100
        + (
            F.when(F.col("freq") >= F.col("f2"), 3)
            .when(F.col("freq") >= F.col("f1"), 2)
            .otherwise(1)
        )
        * 10
        + (
            F.when(F.col("mon") >= F.col("m2"), 3)
            .when(F.col("mon") >= F.col("m1"), 2)
            .otherwise(1)
        )
    )
    s = r.crossJoin(F.broadcast(th)).select(seg.cast("long").alias("segment"), "mon")
    return s.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.min("mon").alias("min_mon_milli"),
        F.max("mon").alias("max_mon_milli"),
    )


# ---------------------------------------------------------------------------
# doc_template_score: high-df shingle share per document
# ---------------------------------------------------------------------------

_TPL_MIN_DF = 20

_TPL_SQL = f"""
    WITH s AS ({_SHINGLE_SQL}),
    post AS (SELECT doc, unnest(sh) AS g FROM s),
    dfw AS (
      SELECT doc, count(*) OVER (PARTITION BY g) AS df FROM post
    )
    SELECT doc AS doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN df >= {_TPL_MIN_DF} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_template,
           round(CAST(sum(CASE WHEN df >= {_TPL_MIN_DF} THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS template_score
    FROM dfw GROUP BY 1
"""


@query("doc_template_score", _TPL_SQL)
def doc_template_score(spark, sf_dir):
    """Boilerplate signal: share of each doc's distinct 3-gram shingles
    with corpus document frequency >= {min_df} — df attributed by an
    unordered count-window on the posting list (one exchange on the
    gram), then one groupBy(doc). The template complement of
    corpus_ngram_novelty's first-seen share."""
    from .operators.dedup import explode_ne, shingled

    docs = _t(spark, sf_dir, "documents")
    post = shingled(docs).select("doc", explode_ne("sh").alias("g"))
    dfw = post.select(
        "doc", F.count(F.lit(1)).over(Window.partitionBy("g")).alias("df")
    )
    tpl = F.sum(F.when(F.col("df") >= _TPL_MIN_DF, 1).otherwise(0))
    return dfw.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_grams"),
        tpl.alias("n_template"),
        F.round(tpl.cast("double") / F.count(F.lit(1)), 6).alias("template_score"),
    ).withColumnRenamed("doc", "doc_id")
