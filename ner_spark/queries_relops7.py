"""Relational + graph + curation coverage, batch 7.

Five genuinely new plan shapes:

- ``tpch_q7``: the two-nation volume-shipping join — a fact-fact join
  carrying TWO independently-filtered broadcast dimension paths
  (supplier->nation and orders->customer->nation) with a symmetric
  disjunctive nation-pair predicate, grouped by (supp_nation,
  cust_nation, year). The only exchange is lineitem x orders; both
  nation paths broadcast.
- ``tpch_q13``: customer order-count distribution — the classic LEFT
  OUTER join + double aggregation (count per customer INCLUDING the
  zero-order customers, then the histogram of those counts). The first
  aggregate counts the non-null join side only; the second is 1-2 dozen
  groups wide.
- ``doc_repetition_signals``: Gopher-style per-document repetition
  quality signals over the token stream — duplicate-token fraction,
  most-frequent-2-gram share, duplicate-5-gram fraction. All counts are
  exact integers; each fraction is ONE IEEE division rounded at the
  edge, so the replay is bit-identical.
- ``dedup_segment_firstseen``: sub-document dedup at fixed 16-token
  segment granularity (the C4/paragraph-dedup analogue for newline-free
  corpora): every segment occurrence in the corpus is keyed by its
  normalized text and only the GLOBALLY first occurrence (min
  (doc_id, seg_idx)) survives — one groupBy, survivor pinned by
  struct-min, no join-back needed because the aggregate row IS the
  survivor.
- ``wordgraph_clustering_coeff``: per-node local clustering coefficient
  2T/(d(d-1)) on the word-bigram graph — ordered-wedge triangle counts
  (each triangle enumerated exactly once) LEFT-joined onto the degree
  table so zero-triangle nodes keep coefficient 0.

Scale notes: q7's nation paths are broadcast (dim-sized), leaving one
fact-fact exchange; q13 shuffles once per aggregate level (the second
level is tiny); the repetition signals shuffle on doc_id only (the
top-2-gram window partitions by doc_id — never global); segment dedup is
ONE shuffle keyed by segment text (hot segments are exactly what it
collapses — the survivor aggregate is map-side combinable); the
clustering coefficient inherits triangle_counts' wedge-join shape and
its super-hub cap caveat.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .functions.text import has_text, ngrams, tokens
from .queries import HAS_TEXT_SQL, _BIGRAM_EDGE_SQL, _t, ngrams_sql, query, tokens_sql

# ---------------------------------------------------------------------------
# tpch_q7: volume shipping between two nations
# ---------------------------------------------------------------------------

_Q7_N1 = "NATION_1"
_Q7_N2 = "NATION_2"

_Q7_SQL = f"""
    WITH sup AS (
      SELECT s.s_suppkey, n.n_name AS supp_nation
      FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name IN ('{_Q7_N1}', '{_Q7_N2}')
    ),
    cst AS (
      SELECT o.o_orderkey, n.n_name AS cust_nation
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      WHERE n.n_name IN ('{_Q7_N1}', '{_Q7_N2}')
    )
    SELECT sup.supp_nation, cst.cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           CAST(sum(CAST(floor(CAST(l.l_extendedprice AS DECIMAL(18,6))
                               * CAST(1 - l.l_discount AS DECIMAL(9,6)))
                         AS HUGEINT)) AS BIGINT) AS revenue_units,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN sup ON sup.s_suppkey = l.l_suppkey
    JOIN cst ON cst.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
      AND ((sup.supp_nation = '{_Q7_N1}' AND cst.cust_nation = '{_Q7_N2}')
        OR (sup.supp_nation = '{_Q7_N2}' AND cst.cust_nation = '{_Q7_N1}'))
    GROUP BY 1, 2, 3
"""


@query("tpch_q7", _Q7_SQL)
def tpch_q7(spark, sf_dir):
    """TPC-H Q7: shipped revenue between two nations by direction and
    year. Supplier->nation and orders->customer->nation are both
    broadcast dimension paths; the symmetric pair predicate is applied
    after both attach; the single exchange is lineitem x orders.
    Floor-scaled integer revenue units (the q11 pattern) keep the sums
    exact."""
    nations = (
        _t(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(_Q7_N1, _Q7_N2))
        .select("n_nationkey", "n_name")
    )
    sup = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cst = (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "customer")
                .join(
                    F.broadcast(nations),
                    F.col("c_nationkey") == F.col("n_nationkey"),
                )
                .select("c_custkey", F.col("n_name").alias("cust_nation"))
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("o_orderkey", "cust_nation")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    ).select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    prod = F.col("l_extendedprice").cast("decimal(18,6)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(9,6)")
    pair_ok = (
        (F.col("supp_nation") == _Q7_N1) & (F.col("cust_nation") == _Q7_N2)
    ) | ((F.col("supp_nation") == _Q7_N2) & (F.col("cust_nation") == _Q7_N1))
    return (
        li.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cst, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(pair_ok)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.sum(F.floor(prod).cast("decimal(38,0)"))
            .cast("long")
            .alias("revenue_units"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# tpch_q13: customer order-count distribution (left outer + double agg)
# ---------------------------------------------------------------------------

_Q13_SQL = """
    WITH per_cust AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey
       AND o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      GROUP BY 1
    )
    SELECT CAST(c_count AS BIGINT) AS c_count,
           CAST(count(*) AS BIGINT) AS custdist
    FROM per_cust GROUP BY 1
"""


@query("tpch_q13", _Q13_SQL)
def tpch_q13(spark, sf_dir):
    """TPC-H Q13 (adapted: the comment NOT-LIKE filter becomes a
    priority filter): how many customers placed exactly k non-urgent
    orders, INCLUDING k = 0. Left outer join keeps order-less customers;
    count(o_orderkey) counts only matched rows; the distribution is a
    second (tiny) aggregate over the per-customer counts."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(~F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# doc_repetition_signals: Gopher-style repetition quality metrics
# ---------------------------------------------------------------------------

_REP_SQL = f"""
    WITH base AS (
      SELECT doc_id, {tokens_sql('text')} AS toks
      FROM documents
      WHERE {HAS_TEXT_SQL}
    ),
    t AS (
      SELECT doc_id, len(toks) AS n_tokens,
             len(list_distinct(toks)) AS n_distinct, toks
      FROM base
    ),
    g2 AS (SELECT doc_id, unnest({ngrams_sql('toks', 2)}) AS gram FROM t),
    g2c AS (
      SELECT doc_id, gram, count(*) AS cnt FROM g2 GROUP BY 1, 2
    ),
    g2top AS (
      SELECT doc_id, gram AS top_2gram, cnt AS top_2gram_n
      FROM (SELECT doc_id, gram, cnt,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY cnt DESC, gram ASC) AS rn
            FROM g2c)
      WHERE rn = 1
    ),
    g5 AS (SELECT doc_id, unnest({ngrams_sql('toks', 5)}) AS gram FROM t),
    g5c AS (
      SELECT doc_id, count(*) AS n5_total,
             count(DISTINCT gram) AS n5_distinct
      FROM g5 GROUP BY 1
    )
    SELECT t.doc_id,
           CAST(t.n_tokens AS BIGINT) AS n_tokens,
           CAST(t.n_distinct AS BIGINT) AS n_distinct,
           round(1.0 - CAST(t.n_distinct AS DOUBLE) / t.n_tokens, 6)
             AS dup_token_frac,
           g2top.top_2gram AS top_2gram,
           CAST(coalesce(g2top.top_2gram_n, 0) AS BIGINT) AS top_2gram_n,
           round(CASE WHEN t.n_tokens >= 2
                      THEN CAST(g2top.top_2gram_n AS DOUBLE) / (t.n_tokens - 1)
                      ELSE 0.0 END, 6) AS top_2gram_frac,
           round(CASE WHEN t.n_tokens >= 5
                      THEN CAST(g5c.n5_total - g5c.n5_distinct AS DOUBLE)
                           / g5c.n5_total
                      ELSE 0.0 END, 6) AS dup_5gram_frac
    FROM t
    LEFT JOIN g2top ON g2top.doc_id = t.doc_id
    LEFT JOIN g5c ON g5c.doc_id = t.doc_id
"""


@query("doc_repetition_signals", _REP_SQL)
def doc_repetition_signals(spark, sf_dir):
    """Gopher-style repetition signals per document: duplicate-token
    fraction, the most frequent word 2-gram and its share of all
    2-grams (ties broken by gram text, pinned), and the duplicate-5-gram
    fraction. Every count is an exact integer; each fraction is a single
    IEEE division rounded once, so DuckDB replays it bit-identically.
    The 2-gram argmax window partitions by doc_id — never global."""
    toks = tokens(F.col("text"))
    t = (
        _t(spark, sf_dir, "documents")
        .filter(has_text(F.col("text")))
        .select(
            "doc_id",
            toks.alias("toks"),
            F.size(toks).cast("long").alias("n_tokens"),
            F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        )
    )
    g2 = t.select("doc_id", F.explode(ngrams("toks", 2)).alias("gram"))
    g2c = g2.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("doc_id").orderBy(F.col("cnt").desc(), F.col("gram").asc())
    g2top = (
        g2c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("gram").alias("top_2gram"), F.col("cnt").alias("top_2gram_n"))
    )
    g5 = t.select("doc_id", F.explode(ngrams("toks", 5)).alias("gram"))
    g5c = g5.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n5_total"),
        F.countDistinct("gram").alias("n5_distinct"),
    )
    out = (
        t.join(g2top, "doc_id", "left")
        .join(g5c, "doc_id", "left")
    )
    return out.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        F.round(
            F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_tokens"), 6
        ).alias("dup_token_frac"),
        "top_2gram",
        F.coalesce(F.col("top_2gram_n"), F.lit(0)).cast("long").alias("top_2gram_n"),
        F.round(
            F.when(
                F.col("n_tokens") >= 2,
                F.col("top_2gram_n").cast("double") / (F.col("n_tokens") - 1),
            ).otherwise(0.0),
            6,
        ).alias("top_2gram_frac"),
        F.round(
            F.when(
                F.col("n_tokens") >= 5,
                (F.col("n5_total") - F.col("n5_distinct")).cast("double")
                / F.col("n5_total"),
            ).otherwise(0.0),
            6,
        ).alias("dup_5gram_frac"),
    )


# ---------------------------------------------------------------------------
# dedup_segment_firstseen: sub-document segment dedup, global first-seen
# ---------------------------------------------------------------------------

_SEG_W = 16

_SEG_SQL = f"""
    WITH base AS (
      SELECT doc_id, {tokens_sql('text')} AS toks
      FROM documents
      WHERE {HAS_TEXT_SQL}
    ),
    idx AS (
      SELECT doc_id, toks,
             unnest(generate_series(0,
                 CAST((len(toks) - 1) // {_SEG_W} AS INT))) AS seg_idx
      FROM base
    ),
    segs AS (
      SELECT doc_id, seg_idx,
             array_to_string(
               toks[seg_idx*{_SEG_W}+1 : seg_idx*{_SEG_W}+{_SEG_W}], ' ') AS seg
      FROM idx
    )
    SELECT doc_id, CAST(seg_idx AS BIGINT) AS seg_idx, seg,
           CAST(n_occ AS BIGINT) AS n_occ
    FROM (
      SELECT doc_id, seg_idx, seg,
             row_number() OVER (PARTITION BY seg
                                ORDER BY doc_id, seg_idx) AS rn,
             count(*) OVER (PARTITION BY seg) AS n_occ
      FROM segs)
    WHERE rn = 1
"""


@query("dedup_segment_firstseen", _SEG_SQL)
def dedup_segment_firstseen(spark, sf_dir):
    """Sub-document dedup at fixed 16-token segment granularity (the
    paragraph-dedup analogue for a newline-free corpus): each segment
    occurrence is keyed by its text; only the globally FIRST occurrence
    (min (doc_id, seg_idx)) survives, with the corpus-wide occurrence
    count attached. ONE shuffle keyed by segment text; the struct-min
    survivor and the count are both map-side combinable, and the
    aggregate row IS the survivor (no join-back)."""
    from .operators.dedup import segment_firstseen

    docs = _t(spark, sf_dir, "documents")
    return segment_firstseen(docs, width=_SEG_W)


# ---------------------------------------------------------------------------
# wordgraph_clustering_coeff: per-node local clustering coefficient
# ---------------------------------------------------------------------------

_CLUST_SQL = f"""
    WITH e AS ({_BIGRAM_EDGE_SQL}),
    nodes AS (
      SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
    ),
    deg AS (SELECT node, count(*) AS deg FROM nodes GROUP BY 1),
    w AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1 JOIN e e2 ON e1.v = e2.u
    ),
    tri AS (
      SELECT w.a, w.b, w.c
      FROM w JOIN e ON e.u = w.a AND e.v = w.c
    ),
    tn AS (
      SELECT node, count(*) AS n_tri
      FROM (SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
      GROUP BY 1
    )
    SELECT d.node,
           CAST(d.deg AS BIGINT) AS deg,
           CAST(coalesce(tn.n_tri, 0) AS BIGINT) AS n_triangles,
           round(CAST(2 * coalesce(tn.n_tri, 0) AS DOUBLE)
                 / (d.deg * (d.deg - 1)), 6) AS clustering_coeff
    FROM deg d LEFT JOIN tn ON tn.node = d.node
    WHERE d.deg >= 2
"""


@query("wordgraph_clustering_coeff", _CLUST_SQL)
def wordgraph_clustering_coeff(spark, sf_dir):
    """Local clustering coefficient 2T/(d(d-1)) per word-bigram-graph
    node with degree >= 2 (operators/graph.py:clustering_coefficients):
    ordered-wedge triangle counts LEFT-joined onto the degree table so
    triangle-free nodes report 0.0 — the per-node companion to
    wordgraph_triangles."""
    from .operators.graph import clustering_coefficients

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    base = docs.select(tokens(F.col("text")).alias("__toks"))
    edges = base.select(F.inline(ngrams("__toks", 2, ("src", "dst"))))
    return clustering_coefficients(edges)
