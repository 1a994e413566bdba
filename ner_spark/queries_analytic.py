"""Analytic driver queries: window lag deltas, exact group quantiles, and
grouped top-k revenue — relational/window coverage over the TPC-H-ish and
events tables.

Scale notes: lag/rank windows partition by their natural key (user /
nation) — no global sort; quantiles use the exact ``percentile`` aggregate
(per-group sort bounded by group size; for 100 TB swap in
``percentile_approx`` with documented error); the revenue top-k broadcasts
the supplier and nation dims and keeps money in DECIMAL end-to-end so the
sum is order-independent across engines.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .functions.text import has_text, ngrams, tokens
from .operators.graph import pagerank_fixedpoint, triangle_counts
from .queries import HAS_TEXT_SQL, WS_CLASS, _BIGRAM_EDGE_SQL, _t, ngrams_sql, query, tokens_sql


@query(
    "events_lag_delta",
    """
    SELECT event_id, user_id, ts,
           CAST(epoch_us(ts) - epoch_us(lag(ts) OVER w) AS BIGINT) AS delta_us,
           CAST(row_number() OVER w AS BIGINT) AS seq
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def events_lag_delta(spark, sf_dir):
    """Per-user inter-event gap + sequence number (lag/row_number window,
    partitioned by user — never a global sort)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.expr("timestampdiff(MICROSECOND, lag(ts) OVER "
               "(PARTITION BY user_id ORDER BY ts, event_id), ts)").alias("delta_us"),
        F.row_number().over(w).cast("long").alias("seq"),
    )


@query(
    "lineitem_quantiles",
    """
    SELECT l_returnflag,
           count(*) AS n,
           round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
           round(quantile_cont(l_quantity, 0.95), 4) AS p95_qty,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def lineitem_quantiles(spark, sf_dir):
    """Exact interpolated per-group percentiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont``: index p*(n-1), linear interpolation)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("p50_qty"),
        F.round(F.expr("percentile(l_quantity, 0.95)"), 4).alias("p95_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50_price"),
    )


@query(
    "events_tumbling_window",
    """
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS win_start,
           event_type,
           count(*) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def events_tumbling_window(spark, sf_dir):
    """Tumbling 1-hour windows per event type (both engines align buckets
    to the epoch)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.window("ts", "1 hour").start.alias("win_start"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("total_value"),
    )


@query(
    "orders_running_total",
    """
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                      OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey
                            ROWS UNBOUNDED PRECEDING), 2) AS DOUBLE)
             AS running_total,
           CAST(row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey)
                AS BIGINT) AS order_seq
    FROM orders
    """,
)
def orders_running_total(spark, sf_dir):
    """Per-customer cumulative spend (running DECIMAL sum over an ordered
    per-key window — partitioned by customer, never a global sort)."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w), 2)
        .cast("double")
        .alias("running_total"),
        F.row_number()
        .over(Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey"))
        .cast("long")
        .alias("order_seq"),
    )


@query(
    "events_skew_twophase",
    """
    SELECT event_type,
           count(*) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value,
           round(max(value), 2) AS max_value
    FROM events GROUP BY event_type
    """,
)
def events_skew_twophase(spark, sf_dir):
    """Salted two-phase aggregation over a 5-value (pathologically skewed)
    key: phase 1 groups by (key, salt) so every task gets work, phase 2
    combines the 5xSALTS partials. Same result as a plain groupBy (the
    oracle), but no single reducer owns a hot key at cluster scale."""
    SALTS = 16
    ev = _t(spark, sf_dir, "events")
    partial = (
        ev.withColumn("__salt", F.pmod(F.col("event_id"), F.lit(SALTS)))
        .groupBy("event_type", "__salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("pv"),
            F.max("value").alias("pm"),
        )
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n"),
        F.round(F.sum("pv"), 2).cast("double").alias("total_value"),
        F.round(F.max("pm"), 2).alias("max_value"),
    )


def _pagerank_oracle_sql(iters: int = 3) -> str:
    """Unrolled fixed-point PageRank: every step is BIGINT multiply /
    truncating division, so the replay is exact (see operators/graph.py)."""
    head = f"""
    WITH b AS (
      SELECT {tokens_sql('text')} AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    bg AS (SELECT unnest({ngrams_sql('toks', 2, ('u', 'v'))}, recursive := true) FROM b),
    e AS (SELECT u, v, count(*) AS w FROM bg GROUP BY 1, 2),
    nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
    outdeg AS (SELECT u, sum(w) AS outdeg FROM e GROUP BY 1),
    r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes)"""
    body = ""
    for i in range(1, iters + 1):
        body += f""",
    c{i} AS (
      SELECT e.v, sum((r.rank * e.w) // o.outdeg) AS contrib
      FROM e JOIN r{i - 1} r ON e.u = r.node JOIN outdeg o ON e.u = o.u
      GROUP BY 1
    ),
    r{i} AS (
      SELECT n.node,
             CAST(150000 + (850000 * coalesce(c.contrib, 0)) // 1000000
                  AS BIGINT) AS rank
      FROM nodes n LEFT JOIN c{i} c ON n.node = c.v
    )"""
    return head + body + f"\n    SELECT node, rank FROM r{iters}"


@query("wordgraph_pagerank", _pagerank_oracle_sql(3))
def wordgraph_pagerank(spark, sf_dir):
    """Fixed-point PageRank over the word-bigram graph
    (operators/graph.py:pagerank_fixedpoint): 3 unrolled iterations, all
    BIGINT arithmetic — the iterative-ranking companion to the CC
    canonicalizer, exact at any parallelism."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    base = docs.select(tokens(F.col("text")).alias("__toks"))
    edges = (
        base.select(F.inline(ngrams("__toks", 2, ("src", "dst"))))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return pagerank_fixedpoint(edges, iters=3).select("node", "rank")


@query(
    "nation_top_parts",
    """
    WITH rev AS (
      SELECT s.s_nationkey, l.l_partkey,
             sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS revenue
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT n.n_name, r.l_partkey,
             CAST(round(r.revenue, 2) AS DOUBLE) AS revenue,
             row_number() OVER (PARTITION BY r.s_nationkey
                                ORDER BY r.revenue DESC, r.l_partkey) AS rk
      FROM rev r JOIN nation n ON r.s_nationkey = n.n_nationkey
    )
    SELECT n_name, l_partkey, revenue, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 3
    """,
)
def nation_top_parts(spark, sf_dir):
    """Top-3 parts by revenue per supplier nation: broadcast dims, DECIMAL
    money end-to-end, per-nation window top-k."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .groupBy("s_nationkey", "l_partkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
            ).alias("revenue")
        )
    )
    w = Window.partitionBy("s_nationkey").orderBy(
        F.col("revenue").desc(), F.col("l_partkey")
    )
    return (
        rev.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .join(F.broadcast(nat), rev.s_nationkey == nat.n_nationkey)
        .select(
            "n_name",
            "l_partkey",
            F.round("revenue", 2).cast("double").alias("revenue"),
            "rk",
        )
    )


_TRIANGLE_SQL = f"""
    WITH e AS ({_BIGRAM_EDGE_SQL}),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e1.v = e2.u
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
    FROM (SELECT unnest([a, b, c]) AS node FROM tri)
    GROUP BY node
"""


@query("wordgraph_triangles", _TRIANGLE_SQL)
def wordgraph_triangles(spark, sf_dir):
    """Per-node triangle counts over the undirected word-bigram graph
    (operators/graph.py:triangle_counts): ordered wedge enumeration, each
    triangle generated exactly once — the clustering-coefficient companion
    to PageRank and the CC canonicalizer."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    base = docs.select(tokens(F.col("text")).alias("__toks"))
    return triangle_counts(base.select(F.inline(ngrams("__toks", 2, ("src", "dst")))))


@query(
    "tpch_bucketed_join",
    """
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def tpch_bucketed_join(spark, sf_dir):
    """Fact-fact join through pre-bucketed tables (sources/bucketed.py):
    both sides written bucketed+sorted on the join key, so the join and
    the downstream per-key work run exchange-free (plan pinned by
    tests/test_bucketed.py). Same rows as the oracle's plain join — the
    bucketing moves the shuffle to write time, it never changes results."""
    from .operators.scratch import session_scratch_dir
    from .sources.bucketed import write_bucketed

    nb = 8
    write_bucketed(
        _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice"),
        "bq_orders",
        nb,
        ["o_custkey"],
        sort_cols=["o_custkey"],
        path=session_scratch_dir(spark, prefix="bq_orders"),
    )
    write_bucketed(
        _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
        "bq_customer",
        nb,
        ["c_custkey"],
        sort_cols=["c_custkey"],
        path=session_scratch_dir(spark, prefix="bq_customer"),
    )
    o, c = spark.table("bq_orders"), spark.table("bq_customer")
    return (
        o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_price"),
        )
    )


@query(
    "user_state_history",
    """
    SELECT event_id, user_id, event_type AS state, ts AS effective_from,
           lead(ts) OVER w AS effective_to,
           CAST(lead(ts) OVER w IS NULL AS BOOLEAN) AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def user_state_history(spark, sf_dir):
    """SCD2-style state history: each event opens a validity interval that
    the user's next event closes (lead window, natural-key partitioning);
    the open interval is flagged current."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("effective_from"),
        nxt.alias("effective_to"),
        nxt.isNull().alias("is_current"),
    )


@query(
    "lineitem_quantile_buckets",
    """
    WITH th AS (
      SELECT l_returnflag,
             round(quantile_cont(l_quantity, 0.5), 4) AS p50,
             round(quantile_cont(l_quantity, 0.95), 4) AS p95
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           CASE WHEN l.l_quantity <= th.p50 THEN 'low'
                WHEN l.l_quantity <= th.p95 THEN 'mid'
                ELSE 'high' END AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(l.l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total_qty
    FROM lineitem l JOIN th ON l.l_returnflag = th.l_returnflag
    GROUP BY 1, 2
    """,
)
def lineitem_quantile_buckets(spark, sf_dir):
    """Quantile binning WITHOUT a global sort: per-group exact thresholds
    (tiny aggregate) broadcast back onto the fact rows, then a plain
    aggregation — the two-phase alternative to an ntile window, which
    would funnel every row through one reducer per group. Thresholds are
    rounded on both sides so the bucket predicate is engine-exact."""
    li = _t(spark, sf_dir, "lineitem")
    th = li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_quantity, 0.95)"), 4).alias("p95"),
    )
    bucket = (
        F.when(F.col("l_quantity") <= F.col("p50"), "low")
        .when(F.col("l_quantity") <= F.col("p95"), "mid")
        .otherwise("high")
    )
    return (
        li.join(F.broadcast(th), "l_returnflag")
        .select("l_returnflag", bucket.alias("bucket"), "l_quantity")
        .groupBy("l_returnflag", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_qty"),
        )
    )


@query(
    "kg_entity_profiles",
    f"""
    WITH b AS (
      SELECT {tokens_sql('text')} AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    bg AS (SELECT unnest({ngrams_sql('toks', 2, ('u', 'v'))}, recursive := true) FROM b),
    sym AS (
      SELECT u AS node, v AS nbr FROM bg WHERE u <> v
      UNION ALL
      SELECT v, u FROM bg WHERE u <> v
    ),
    w AS (SELECT node, nbr, count(*) AS weight FROM sym GROUP BY 1, 2)
    SELECT node, nbr, CAST(weight AS BIGINT) AS weight,
           CAST(row_number() OVER (
             PARTITION BY node ORDER BY weight DESC, nbr
           ) AS INT) AS rk
    FROM w
    QUALIFY rk <= 5
    """,
)
def kg_entity_profiles(spark, sf_dir):
    """Per-surface context profile: the top-5 adjacency neighbors in the
    word-bigram graph (the feature table behind context disambiguation —
    kg_context_disambiguation consumes exactly this shape). Window is
    partitioned by the node, so a hot surface ranks inside its own
    partition; the co-occurrence count is a map-side-combinable sum."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    base = docs.select(tokens(F.col("text")).alias("__toks"))
    bg = base.select(F.inline(ngrams("__toks", 2, ("u", "v")))).filter(
        F.col("u") != F.col("v")
    )
    sym = bg.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionByName(
        bg.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    w = sym.groupBy("node", "nbr").agg(F.count(F.lit(1)).alias("weight"))
    rk = F.row_number().over(
        Window.partitionBy("node").orderBy(F.desc("weight"), "nbr")
    )
    return (
        w.withColumn("rk", rk.cast("int"))
        .filter(F.col("rk") <= 5)
        .select("node", "nbr", F.col("weight").cast("long").alias("weight"), "rk")
    )


@query(
    "events_window_uniques",
    """
    WITH per_user AS (
      SELECT time_bucket(INTERVAL 1 HOUR, ts) AS win_start, user_id,
             count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT win_start,
           CAST(count(*) AS BIGINT) AS unique_users,
           CAST(sum(n) AS BIGINT) AS n_events
    FROM per_user GROUP BY win_start
    """,
)
def events_window_uniques(spark, sf_dir):
    """Unique users per tumbling hour via TWO-PHASE aggregation
    (groupBy(window, user) then count per window): both aggregates are
    map-side combinable, unlike a direct count(DISTINCT user) whose
    per-window distinct-set state concentrates on the window key — the
    scale-safe exact-distinct recipe."""
    e = _t(spark, sf_dir, "events")
    win = F.window(F.col("ts"), "1 hour").start.alias("win_start")
    per_user = e.groupBy(win, "user_id").agg(F.count(F.lit(1)).alias("n"))
    return per_user.groupBy("win_start").agg(
        F.count(F.lit(1)).cast("long").alias("unique_users"),
        F.sum("n").cast("long").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# quality-filter attrition funnel
# ---------------------------------------------------------------------------

_FUNNEL_Q_SQL = f"""
WITH f AS (
  SELECT {HAS_TEXT_SQL} AS s1,
         CASE WHEN text IS NULL THEN 0
              ELSE len({tokens_sql('text')}) END AS n_tok,
         CASE WHEN text IS NULL THEN 0
              ELSE length(regexp_replace(text, '{WS_CLASS}+', '', 'g')) END AS n_ink,
         CASE WHEN text IS NULL THEN 0
              ELSE length(regexp_replace(text, '[^A-Za-z]', '', 'g')) END
           AS n_alpha,
         coalesce(length(text), 0) AS n_len
  FROM documents
),
c AS (
  SELECT s1,
         s1 AND n_tok >= 20 AS s2,
         s1 AND n_tok >= 20
            AND CAST(n_ink AS DOUBLE) / n_tok >= 3.0
            AND CAST(n_ink AS DOUBLE) / n_tok <= 12.0 AS s3,
         s1 AND n_tok >= 20
            AND CAST(n_ink AS DOUBLE) / n_tok >= 3.0
            AND CAST(n_ink AS DOUBLE) / n_tok <= 12.0
            AND CAST(n_alpha AS DOUBLE) / n_len >= 0.6 AS s4
  FROM f
)
SELECT * FROM (
  SELECT '0_all' AS stage, count(*) AS n_docs FROM c
  UNION ALL SELECT '1_nonempty', count(*) FILTER (WHERE s1) FROM c
  UNION ALL SELECT '2_min_tokens', count(*) FILTER (WHERE s2) FROM c
  UNION ALL SELECT '3_word_length', count(*) FILTER (WHERE s3) FROM c
  UNION ALL SELECT '4_alpha_ratio', count(*) FILTER (WHERE s4) FROM c
)
"""


@query("quality_filter_funnel", _FUNNEL_Q_SQL)
def quality_filter_funnel(spark, sf_dir):
    """Training-corpus attrition accounting: how many documents survive each
    cumulative quality gate (non-empty -> min tokens -> mean word length in
    [3,12] -> alphabetic ratio >= 0.6). ONE pass over the corpus computes
    every per-doc predicate; the funnel rows are conditional counts of the
    same aggregate (never five scans). Ratio comparisons are single IEEE
    divisions — bit-identical cross-engine."""
    docs = _t(spark, sf_dir, "documents")
    n_tok = F.when(F.col("text").isNull(), F.lit(0)).otherwise(
        F.size(tokens(F.col("text")))
    )
    n_ink = F.when(F.col("text").isNull(), F.lit(0)).otherwise(
        F.length(F.regexp_replace("text", r"\s+", ""))
    )
    n_alpha = F.when(F.col("text").isNull(), F.lit(0)).otherwise(
        F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    )
    n_len = F.coalesce(F.length("text"), F.lit(0))
    per_doc = docs.select(
        has_text(F.col("text")).alias("s1"),
        n_tok.alias("n_tok"),
        n_ink.alias("n_ink"),
        n_alpha.alias("n_alpha"),
        n_len.alias("n_len"),
    ).select(
        "s1",
        (F.col("s1") & (F.col("n_tok") >= 20)).alias("s2"),
        (
            F.col("s1")
            & (F.col("n_tok") >= 20)
            & (F.col("n_ink").cast("double") / F.col("n_tok") >= 3.0)
            & (F.col("n_ink").cast("double") / F.col("n_tok") <= 12.0)
        ).alias("s3"),
        (
            F.col("s1")
            & (F.col("n_tok") >= 20)
            & (F.col("n_ink").cast("double") / F.col("n_tok") >= 3.0)
            & (F.col("n_ink").cast("double") / F.col("n_tok") <= 12.0)
            & (F.col("n_alpha").cast("double") / F.col("n_len") >= 0.6)
        ).alias("s4"),
    )
    agg = per_doc.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(F.col("s1").cast("long")).alias("n1"),
        F.sum(F.col("s2").cast("long")).alias("n2"),
        F.sum(F.col("s3").cast("long")).alias("n3"),
        F.sum(F.col("s4").cast("long")).alias("n4"),
    )
    return agg.selectExpr(
        "stack(5, '0_all', n0, '1_nonempty', n1, '2_min_tokens', n2, "
        "'3_word_length', n3, '4_alpha_ratio', n4) AS (stage, n_docs)"
    )


# ---------------------------------------------------------------------------
# cohort retention
# ---------------------------------------------------------------------------

_COHORT_SQL = """
WITH act AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
),
coh AS (
  SELECT user_id, min(week) AS cohort_week FROM act GROUP BY user_id
)
SELECT strftime(c.cohort_week, '%Y-%m-%d') AS cohort_week,
       CAST(datediff('day', c.cohort_week, a.week) // 7 AS INT) AS week_offset,
       CAST(count(*) AS BIGINT) AS n_active
FROM act a JOIN coh c ON a.user_id = c.user_id
GROUP BY 1, 2
"""


@query("events_retention_cohorts", _COHORT_SQL)
def events_retention_cohorts(spark, sf_dir):
    """Weekly cohort retention matrix: users grouped by first-active week,
    counted in every later week they return. The cohort dim (one row per
    user) comes from the SAME distinct-activity relation — one dedup
    shuffle feeds both sides, and the join key is user_id, so the
    activity-side partitioning is reused. Offsets are exact integer
    arithmetic (day diff div 7)."""
    act = (
        _t(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("week", "ts").alias("week"))
        .distinct()
    )
    coh = act.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        act.join(coh, "user_id")
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            F.expr("datediff(week, cohort_week) div 7").cast("int").alias(
                "week_offset"
            ),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_active"))
    )


# ---------------------------------------------------------------------------
# gaps-and-islands: longest consecutive-day activity streak
# ---------------------------------------------------------------------------

_STREAK_SQL = """
WITH d AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
r AS (
  SELECT user_id, day,
         row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
  FROM d
),
s AS (
  SELECT user_id, min(day) AS streak_start, count(*) AS streak_len
  FROM (SELECT user_id, day, day - CAST(rn AS INT) AS grp FROM r)
  GROUP BY user_id, grp
),
m AS (
  SELECT user_id, streak_start, streak_len,
         max(streak_len) OVER (PARTITION BY user_id) AS mx
  FROM s
)
SELECT user_id,
       CAST(streak_len AS BIGINT) AS max_streak,
       strftime(min(streak_start), '%Y-%m-%d') AS first_longest_start
FROM m WHERE streak_len = mx
GROUP BY user_id, streak_len
"""


@query("events_activity_streaks", _STREAK_SQL)
def events_activity_streaks(spark, sf_dir):
    """Gaps-and-islands: longest run of consecutive active days per user.
    The island key is pure integer arithmetic (day minus row_number-as-days
    is constant within a run), so one partitioned window + two grouped
    aggregations solve it — no self-join, no recursion, partitioned by the
    natural key throughout (never a global sort)."""
    d = (
        _t(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    g = d.select(
        "user_id",
        "day",
        F.date_sub("day", F.row_number().over(w)).alias("grp"),
    )
    s = g.groupBy("user_id", "grp").agg(
        F.min("day").alias("streak_start"),
        F.count(F.lit(1)).alias("streak_len"),
    )
    mx = Window.partitionBy("user_id")
    m = s.select(
        "user_id",
        "streak_start",
        "streak_len",
        F.max("streak_len").over(mx).alias("mx"),
    ).filter(F.col("streak_len") == F.col("mx"))
    return m.groupBy("user_id", "streak_len").agg(
        F.date_format(F.min("streak_start"), "yyyy-MM-dd").alias(
            "first_longest_start"
        )
    ).select(
        "user_id",
        F.col("streak_len").cast("bigint").alias("max_streak"),
        "first_longest_start",
    )
