"""Relational + graph + curation coverage, batch 6.

Five genuinely new plan shapes (nothing here duplicates an existing
registry entry):

- ``tpch_q11``: the "important stock" global-share filter — a per-group
  aggregate compared against the grand total. The total is ONE
  pre-aggregated row attached by broadcast nested-loop join (the
  tpch_q22_dormant / tfidf_topk pattern), never a global window and never
  a driver collect; the share test is pure integer arithmetic
  (value*1000 > total) over floor-scaled DECIMAL sums, so the boundary
  rows are bit-identical on both engines.
- ``tpch_q12``: lateness-bucket x order-priority conditional aggregation —
  the classic two-route CASE pivot. ONE fact-fact shuffle (lineitem x
  orders on orderkey); the bucketing and both conditional counts are
  map-side expressions feeding a 4-group aggregate.
- ``dedup_prefix_filter_join``: AllPairs/PPJoin-style EXACT set-similarity
  join (Bayardo et al., WWW'07) — the deterministic complement to the
  MinHash/SimHash probabilistic ladder. Shingles are ranked rare-first by
  global document frequency; a pair with Jaccard >= t MUST share a token
  in each other's first (n - ceil(t*n) + 1) rarest shingles, so the
  candidate self-join runs on the rare prefix only (hot stop-shingles
  never join), then candidates are verified with exact integer Jaccard.
  Unlike the df-capped ngram join this loses NO pairs — same output as an
  all-pairs join at threshold t, guaranteed.
- ``wordgraph_link_predict``: common-neighbor link prediction on the
  word-bigram graph — score NON-adjacent pairs by shared-neighbor count
  and neighborhood Jaccard (wedge join + anti-join + broadcast degree
  attach; operators/graph.py:link_prediction_cn).
- ``events_cusum_changepoint``: CUSUM drift detection as a PARALLEL
  window computation. The sequential recurrence s_i = max(0, s_{i-1} +
  d_i) looks inherently stateful, but it factors into two per-user
  cumulative windows: s_i = p_i - min(0, min_{j<=i} p_j) where p is the
  running sum of deviations — the same prefix-scan trick as the dyadic
  EWMA. All integer milli-units, so the replay is exact.

Scale notes: q11's NLJ build side is one row (O(rows) probe at any
scale); q12 is one exchange; the prefix filter's join volume is
sum(df_prefix^2) over RARE shingles only (the rare-first ordering is the
skew defense — a stop-shingle with df=10^6 is never in anyone's prefix at
t=0.7 unless a doc is 70%+ stop-shingles); link prediction's wedge join
carries the documented super-hub cap caveat; CUSUM shuffles once on
user_id and both windows share that single sort.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .functions.text import ngrams, tokens
from .queries import _BIGRAM_EDGE_SQL, _SHINGLE_SQL, _t, query

# ---------------------------------------------------------------------------
# tpch_q11: important parts by inventory-value share (global-total filter)
# ---------------------------------------------------------------------------

_Q11_NATION = "NATION_3"
_Q11_SHARE_DEN = 1000  # keep parts with value > total/1000

_Q11_SQL = f"""
    WITH sups AS (
      SELECT s.s_suppkey
      FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = '{_Q11_NATION}'
    ),
    v AS (
      SELECT l.l_partkey,
             CAST(floor(CAST(l.l_extendedprice AS DECIMAL(18,6))
                        * CAST(1 - l.l_discount AS DECIMAL(9,6))) AS BIGINT)
               AS v_units
      FROM lineitem l JOIN sups ON sups.s_suppkey = l.l_suppkey
    ),
    pp AS (
      SELECT l_partkey,
             sum(CAST(v_units AS HUGEINT)) AS value_units,
             count(*) AS n_lines
      FROM v GROUP BY 1
    ),
    tot AS (SELECT sum(value_units) AS total_units FROM pp)
    SELECT pp.l_partkey AS p_partkey,
           CAST(pp.value_units AS BIGINT) AS value_units,
           CAST(pp.n_lines AS BIGINT) AS n_lines
    FROM pp, tot
    WHERE pp.value_units * {_Q11_SHARE_DEN} > tot.total_units
"""


@query("tpch_q11", _Q11_SQL)
def tpch_q11(spark, sf_dir):
    """TPC-H Q11 (adapted: partsupp value becomes shipped lineitem value
    from one nation's suppliers): parts whose value exceeds 1/1000 of the
    national total. Per-part aggregate (one shuffle), grand total
    re-aggregated from the per-part rows (map-side combined, 1 row),
    attached via broadcast NLJ; floor-scaled integer units end-to-end so
    the threshold boundary is exact."""
    dec = "decimal(38,0)"
    n = (
        _t(spark, sf_dir, "nation")
        .filter(F.col("n_name") == _Q11_NATION)
        .select("n_nationkey")
    )
    sups = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    prod = F.col("l_extendedprice").cast("decimal(18,6)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(9,6)")
    v = li.join(F.broadcast(sups), F.col("l_suppkey") == F.col("s_suppkey")).select(
        "l_partkey", F.floor(prod).cast("long").alias("v_units")
    )
    pp = v.groupBy("l_partkey").agg(
        F.sum(F.col("v_units").cast(dec)).alias("value_units"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    tot = pp.agg(F.sum("value_units").alias("total_units"))
    return (
        pp.crossJoin(F.broadcast(tot))
        .filter(F.col("value_units") * _Q11_SHARE_DEN > F.col("total_units"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("value_units").cast("long").alias("value_units"),
            F.col("n_lines").alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# tpch_q12: lateness buckets x order priority (conditional-agg pivot)
# ---------------------------------------------------------------------------

_Q12_SQL = """
    WITH j AS (
      SELECT date_diff('day', CAST(o.o_orderdate AS DATE),
                              CAST(l.l_shipdate AS DATE)) AS lag_days,
             o.o_orderpriority AS pri
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
        AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    )
    SELECT CASE WHEN lag_days <= 30 THEN '00-30'
                WHEN lag_days <= 60 THEN '31-60'
                WHEN lag_days <= 90 THEN '61-90'
                ELSE '>90' END AS lateness_bucket,
           CAST(sum(CASE WHEN pri IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
                AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN pri IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)
                AS BIGINT) AS low_line_count,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM j GROUP BY 1
"""


@query("tpch_q12", _Q12_SQL)
def tpch_q12(spark, sf_dir):
    """TPC-H Q12 (adapted: ship mode becomes the order->ship lag bucket):
    high- vs low-priority line counts per lateness bucket. One fact-fact
    exchange; the bucket CASE and both conditional counts are map-side
    expressions, so the aggregate is 4 groups wide."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    ).select("l_orderkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    lag = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = (
        F.when(lag <= 30, "00-30")
        .when(lag <= 60, "31-60")
        .when(lag <= 90, "61-90")
        .otherwise(">90")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(bucket.alias("lateness_bucket"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_prefix_filter_join: exact AllPairs set-similarity join
# ---------------------------------------------------------------------------

_PF_PCT = 70  # Jaccard threshold, percent

_PREFIX_SQL = f"""
    WITH sh AS ({_SHINGLE_SQL}),
    posting AS (SELECT doc, unnest(sh) AS shingle FROM sh),
    dfq AS (SELECT shingle, count(*) AS df FROM posting GROUP BY 1),
    ranked AS (
      SELECT p.doc, p.shingle,
             row_number() OVER (PARTITION BY p.doc
                                ORDER BY d.df, p.shingle) AS rn,
             count(*) OVER (PARTITION BY p.doc) AS n_sh
      FROM posting p JOIN dfq d USING (shingle)
    ),
    prefix AS (
      SELECT doc, shingle FROM ranked
      WHERE rn <= n_sh - ({_PF_PCT}*n_sh + 99) // 100 + 1
    ),
    cand AS (
      SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
      FROM prefix a JOIN prefix b
        ON a.shingle = b.shingle AND a.doc < b.doc
    ),
    sized AS (
      SELECT c.doc_a, c.doc_b,
             len(sa.sh) AS n_a, len(sb.sh) AS n_b,
             len(list_intersect(sa.sh, sb.sh)) AS inter
      FROM cand c
      JOIN sh sa ON sa.doc = c.doc_a
      JOIN sh sb ON sb.doc = c.doc_b
    )
    SELECT doc_a, doc_b,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(inter AS BIGINT) AS inter,
           round(CAST(inter AS DOUBLE)/(n_a + n_b - inter), 4) AS jaccard
    FROM sized
    WHERE inter*100 >= (n_a + n_b - inter)*{_PF_PCT}
"""


@query("dedup_prefix_filter_join", _PREFIX_SQL)
def dedup_prefix_filter_join(spark, sf_dir):
    """Exact Jaccard>=0.7 pairs via prefix filtering (AllPairs): rank each
    doc's shingles rarest-first by global df, self-join only the
    (n - ceil(0.7n) + 1)-shingle prefixes, verify candidates with integer
    set Jaccard. Lossless (provably equal to the all-pairs join) yet the
    join never touches hot shingles — the deterministic alternative to
    the MinHash candidate path. Exact at every input size; building the
    query runs no Spark job of its own."""
    from .operators.dedup import prefix_filter_pairs

    return prefix_filter_pairs(_t(spark, sf_dir, "documents"), threshold_pct=_PF_PCT)


# ---------------------------------------------------------------------------
# wordgraph_link_predict: common-neighbor scores for non-adjacent pairs
# ---------------------------------------------------------------------------

_LINKPRED_SQL = f"""
    WITH e AS ({_BIGRAM_EDGE_SQL}),
    adj AS (
      SELECT u AS node, v AS nbr FROM e
      UNION ALL
      SELECT v AS node, u AS nbr FROM e
    ),
    deg AS (SELECT node, count(*) AS deg FROM adj GROUP BY 1),
    cand AS (
      SELECT a.node AS node_a, b.node AS node_b, count(*) AS cn
      FROM adj a JOIN adj b ON a.nbr = b.nbr AND a.node < b.node
      GROUP BY 1, 2
    ),
    ne AS (
      SELECT c.* FROM cand c
      WHERE NOT EXISTS (SELECT 1 FROM e
                        WHERE e.u = c.node_a AND e.v = c.node_b)
    )
    SELECT ne.node_a, ne.node_b, CAST(ne.cn AS BIGINT) AS cn,
           CAST(da.deg AS BIGINT) AS deg_a, CAST(db.deg AS BIGINT) AS deg_b,
           round(CAST(ne.cn AS DOUBLE)/(da.deg + db.deg - ne.cn), 6)
             AS nbr_jaccard
    FROM ne
    JOIN deg da ON da.node = ne.node_a
    JOIN deg db ON db.node = ne.node_b
"""


@query("wordgraph_link_predict", _LINKPRED_SQL)
def wordgraph_link_predict(spark, sf_dir):
    """Common-neighbor link prediction over the word-bigram graph
    (operators/graph.py:link_prediction_cn): every non-adjacent pair with
    a shared neighbor, scored by shared-neighbor count and neighborhood
    Jaccard. Wedge join + left-anti edge removal + broadcast degree
    attach — the missing-edge companion to wordgraph_triangles."""
    from .operators.graph import link_prediction_cn

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    base = docs.select(tokens(F.col("text")).alias("__toks"))
    edges = base.select(F.inline(ngrams("__toks", 2, ("src", "dst"))))
    return link_prediction_cn(edges)


# ---------------------------------------------------------------------------
# events_cusum_changepoint: CUSUM via prefix-sum/prefix-min windows
# ---------------------------------------------------------------------------

_CUSUM_K = 60_000  # reference level, milli-units (value 60.0)
_CUSUM_H = 200_000  # alarm threshold, milli-units

_CUSUM_SQL = f"""
    WITH v AS (
      SELECT event_id, user_id, ts,
             CAST(floor(value*1000) AS BIGINT) AS v_milli
      FROM events WHERE value IS NOT NULL
    ),
    c AS (
      SELECT event_id, user_id, ts, v_milli,
             sum(v_milli - {_CUSUM_K}) OVER w AS p
      FROM v
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, v_milli,
           CAST(p - least(min(p) OVER w2, 0) AS BIGINT) AS cusum_milli,
           CAST(p - least(min(p) OVER w2, 0) > {_CUSUM_H} AS INT)
             AS changepoint
    FROM c
    WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@query("events_cusum_changepoint", _CUSUM_SQL)
def events_cusum_changepoint(spark, sf_dir):
    """One-sided CUSUM drift alarm per user, exactly: the sequential
    recurrence s_i = max(0, s_{i-1} + (x_i - k)) is computed WITHOUT
    per-row state as s_i = p_i - min(0, min_{j<=i} p_j) over the running
    deviation sum p — two cumulative windows sharing ONE per-user sort.
    Integer milli-units end-to-end; alarm where s exceeds h."""
    v = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_id",
            "user_id",
            "ts",
            F.floor(F.col("value") * 1000).alias("v_milli"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = F.sum(F.col("v_milli") - _CUSUM_K).over(w)
    c = v.withColumn("p", p)
    cusum = F.col("p") - F.least(F.min("p").over(w), F.lit(0))
    return c.select(
        "event_id",
        "user_id",
        "v_milli",
        cusum.alias("cusum_milli"),
        (cusum > _CUSUM_H).cast("int").alias("changepoint"),
    )
