"""Relational-operator coverage, batch 2: fuzzy entity linking with
edit-distance verify, MERGE-style upsert, sliding RANGE-frame windows,
pivot, and bounded-hop BFS.

Scale notes per query:

- ``kg_fuzzy_linking``: the alias dictionary is broadcast and *length-
  blocked* — each alias is exploded to the 3 mention lengths it could match
  at edit distance <= 1 (len-1, len, len+1), so candidate generation is an
  equi-join on length, never a nested-loop scan. Because one deletion or
  substitution changes length by at most 1, the blocking is lossless
  (recall 1.0) for the distance-1 verify. Levenshtein runs JVM-side
  (whole-stage codegen); best-candidate selection is a per-surface
  aggregation (min over (dist, alias)), not a window over the skewed
  surface key. NOTE: Spark counts levenshtein over codepoints, DuckDB over
  UTF-8 bytes — identical on the ASCII corpus, so the oracle pins ASCII
  tokens only.
- ``orders_merge_upsert``: MERGE INTO semantics (update / insert / delete)
  as ONE full-outer sort-merge join on the key — the scale recipe for CDC
  application; against the bucketed base table of ``sources/bucketed.py``
  the base side needs no exchange. Money stays DECIMAL end-to-end.
- ``events_sliding_window``: value-based RANGE frame (trailing 1 h) per
  user — partitioned by the natural key, never a global sort; epoch
  microseconds computed with ``timestampdiff`` (TZ-free on NTZ parquet
  timestamps).
- ``events_pivot``: pivot with an EXPLICIT value list — Spark then skips
  the extra distinct-values job and the plan is a single partial/final
  aggregate pair, identical to hand-written conditional aggregation.
- ``wordgraph_khop``: 3 unrolled BFS rounds (frontier join + min-distance
  re-aggregation) over the word-bigram graph; all integer arithmetic, so
  the unrolled SQL replay is exact at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.text import ngrams, tokens
from .operators.scratch import scratch_persist
from .queries import _t, ngrams_sql, query, tokens_sql

# ---------------------------------------------------------------------------
# fuzzy entity linking
# ---------------------------------------------------------------------------

# deterministic md5-keyed corruption of a token (both engines replay it):
# hex digit 1 picks deletion (<8) vs substitution; hex digits 2-3 pick the
# 1-based position; the substitute char is 'z' unless the original already
# is, then 'q' (guarantees distance exactly 1 for substitution).


def _corrupt_expr(t: str) -> str:
    """Spark SQL expression producing the corrupted surface of token ``t``."""
    return f"""
    CASE WHEN conv(substring(md5({t}), 1, 1), 16, 10) < 8
         THEN concat(substring({t}, 1, __pos - 1), substring({t}, __pos + 1))
         ELSE concat(substring({t}, 1, __pos - 1),
                     CASE WHEN substring({t}, __pos, 1) = 'z' THEN 'q' ELSE 'z' END,
                     substring({t}, __pos + 1))
    END
    """


_FUZZY_SQL = f"""
WITH tokall AS (
  SELECT unnest({tokens_sql('lower(text)')}) AS t
  FROM documents WHERE text IS NOT NULL
),
freq AS (
  SELECT t, count(*) AS weight FROM tokall WHERE length(t) >= 4 GROUP BY t
),
dict AS (
  SELECT t AS alias, weight,
         ('0x' || substr(md5(t), 1, 15))::BIGINT AS entity_id
  FROM freq
),
blocks AS (
  SELECT alias, weight, entity_id,
         length(alias) + delta AS block_len
  FROM dict, (VALUES (-1), (0), (1)) AS d(delta)
),
corrupted AS (
  SELECT t,
         (('0x' || substr(md5(t), 2, 2))::INT % length(t)) + 1 AS pos
  FROM (SELECT DISTINCT t FROM tokall WHERE length(t) >= 4)
),
mentions AS (
  SELECT DISTINCT
    CASE WHEN ('0x' || substr(md5(t), 1, 1))::INT < 8
         THEN substr(t, 1, pos - 1) || substr(t, pos + 1)
         ELSE substr(t, 1, pos - 1)
              || (CASE WHEN substr(t, pos, 1) = 'z' THEN 'q' ELSE 'z' END)
              || substr(t, pos + 1)
    END AS surface
  FROM corrupted
),
cand AS (
  SELECT m.surface, b.alias, b.entity_id, b.weight,
         levenshtein(m.surface, b.alias) AS dist
  FROM mentions m JOIN blocks b ON length(m.surface) = b.block_len
  WHERE levenshtein(m.surface, b.alias) <= 1
)
SELECT surface, alias, entity_id, CAST(weight AS BIGINT) AS weight,
       CAST(dist AS INT) AS dist
FROM cand
QUALIFY row_number() OVER (PARTITION BY surface ORDER BY dist, alias) = 1
"""


@query("kg_fuzzy_linking", _FUZZY_SQL)
def kg_fuzzy_linking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity linking: md5-corrupted mention surfaces matched against
    the corpus vocabulary via a length-blocked broadcast join + levenshtein
    verify (reference analogue: the alias/label lookup maps of
    src/config.yaml:50-92, generalized to approximate match per the
    north_star's "blocking on normalized surface forms")."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tokall = docs.select(
        F.explode(tokens(F.lower(F.col("text")))).alias("t")
    ).filter(F.length("t") >= 4)

    freq = tokall.groupBy("t").agg(F.count(F.lit(1)).alias("weight"))
    dict_df = freq.select(
        F.col("t").alias("alias"),
        "weight",
        F.conv(F.substring(F.md5("t"), 1, 15), 16, 10).cast("long").alias("entity_id"),
    )
    blocks = dict_df.select(
        "alias",
        "weight",
        "entity_id",
        F.explode(
            F.array(
                F.length("alias") - 1, F.length("alias"), F.length("alias") + 1
            )
        ).alias("block_len"),
    )

    corrupted = (
        tokall.select("t")
        .distinct()
        .withColumn(
            "__pos",
            (
                F.conv(F.substring(F.md5("t"), 2, 2), 16, 10).cast("int")
                % F.length("t")
            )
            + 1,
        )
    )
    mentions = corrupted.select(
        F.expr(_corrupt_expr("t")).alias("surface")
    ).distinct()

    cand = mentions.join(
        F.broadcast(blocks), F.length("surface") == F.col("block_len")
    ).withColumn("dist", F.levenshtein("surface", "alias")).filter(
        F.col("dist") <= 1
    )
    # best candidate per surface: smallest distance, ties by alias text —
    # an aggregation on the mention key, never a window over surfaces
    best = F.min(
        F.struct(
            F.col("dist"), F.col("alias"), F.col("entity_id"), F.col("weight")
        )
    ).alias("_b")
    return (
        cand.groupBy("surface")
        .agg(best)
        .select(
            "surface",
            F.col("_b.alias").alias("alias"),
            F.col("_b.entity_id").alias("entity_id"),
            F.col("_b.weight").cast("long").alias("weight"),
            F.col("_b.dist").cast("int").alias("dist"),
        )
    )


# ---------------------------------------------------------------------------
# MERGE-style upsert
# ---------------------------------------------------------------------------

_MERGE_SQL = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price
  FROM orders
),
src AS (
  SELECT o_orderkey AS k, 'U' AS op, 'X' AS new_status,
         CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.10 AS DECIMAL(8,2)), 2)
              AS DECIMAL(18,2)) AS new_price
  FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 13 <> 0
  UNION ALL
  SELECT o_orderkey, 'D', NULL, NULL FROM orders WHERE o_orderkey % 13 = 0
  UNION ALL
  SELECT o_orderkey + 10000000, 'I', 'N',
         CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(0.50 AS DECIMAL(8,2)), 2)
              AS DECIMAL(18,2))
  FROM orders WHERE o_orderkey % 11 = 0
)
SELECT coalesce(b.o_orderkey, s.k) AS o_orderkey,
       CASE WHEN s.op IS NULL THEN b.o_orderstatus ELSE s.new_status END
         AS o_orderstatus,
       CAST(CASE WHEN s.op IS NULL THEN b.price ELSE s.new_price END AS DOUBLE)
         AS o_totalprice,
       coalesce(s.op, 'B') AS merge_op
FROM base b FULL OUTER JOIN src s ON b.o_orderkey = s.k
WHERE s.op IS DISTINCT FROM 'D'
"""


@query("orders_merge_upsert", _MERGE_SQL)
def orders_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (update / delete / insert) applied as ONE
    full-outer join on the key — the CDC-application recipe; deterministic
    synthetic changefeed derived from the orders table itself."""
    orders = _t(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    price = F.col("o_totalprice").cast("decimal(18,2)")
    upd = (
        orders.filter(
            ((F.col("o_orderkey") % 7) == 0) & ((F.col("o_orderkey") % 13) != 0)
        )
        .select(
            F.col("o_orderkey").alias("k"),
            F.lit("U").alias("op"),
            F.lit("X").alias("new_status"),
            F.round(price * F.lit(1.10).cast("decimal(8,2)"), 2)
            .cast("decimal(18,2)")
            .alias("new_price"),
        )
    )
    dele = orders.filter((F.col("o_orderkey") % 13) == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("new_status"),
        F.lit(None).cast("decimal(18,2)").alias("new_price"),
    )
    ins = orders.filter((F.col("o_orderkey") % 11) == 0).select(
        (F.col("o_orderkey") + 10000000).alias("k"),
        F.lit("I").alias("op"),
        F.lit("N").alias("new_status"),
        F.round(price * F.lit(0.50).cast("decimal(8,2)"), 2)
        .cast("decimal(18,2)")
        .alias("new_price"),
    )
    src = upd.unionByName(dele).unionByName(ins)
    merged = base.join(src, base.o_orderkey == src.k, "full_outer")
    return merged.filter(
        ~F.col("op").eqNullSafe(F.lit("D"))
    ).select(
        F.coalesce(base.o_orderkey, src.k).alias("o_orderkey"),
        F.when(F.col("op").isNull(), F.col("o_orderstatus"))
        .otherwise(F.col("new_status"))
        .alias("o_orderstatus"),
        F.when(F.col("op").isNull(), F.col("price"))
        .otherwise(F.col("new_price"))
        .cast("double")
        .alias("o_totalprice"),
        F.coalesce(F.col("op"), F.lit("B")).alias("merge_op"),
    )


# ---------------------------------------------------------------------------
# sliding RANGE-frame window
# ---------------------------------------------------------------------------


@query(
    "events_sliding_window",
    """
    WITH e AS (
      SELECT event_id, user_id, ts, epoch_us(ts) AS ts_us,
             CAST(value AS DECIMAL(18,4)) AS v
      FROM events
    )
    SELECT event_id, user_id, ts_us,
           CAST(count(*) OVER w AS BIGINT) AS n_1h,
           CAST(round(sum(v) OVER w, 4) AS DOUBLE) AS sum_1h
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour per-user sliding aggregate as a value-based RANGE
    frame — partitioned by the natural key (no global sort); peers at equal
    timestamps share one frame, so the result is order-independent."""
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP '1970-01-01 00:00:00', ts)"
        ).alias("ts_us"),
        F.col("value").cast("decimal(18,4)").alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-3600000000, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts_us",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.round(F.sum("v").over(w), 4).cast("double").alias("sum_1h"),
    )


# ---------------------------------------------------------------------------
# pivot (explicit value list)
# ---------------------------------------------------------------------------

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "events_pivot",
    """
    SELECT user_id,
    """
    + ",\n".join(
        f"""
           CAST(count(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS {t}_n,
           CAST(round(coalesce(sum(CAST(value AS DECIMAL(18,4)))
                 FILTER (WHERE event_type = '{t}'), 0), 4) AS DOUBLE) AS {t}_val
        """
        for t in _EVENT_TYPES
    )
    + "\nFROM events GROUP BY user_id",
)
def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type pivot with an EXPLICIT value list — no
    distinct-values pre-job, one partial/final aggregate pair (identical
    plan to hand-written conditional aggregation)."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("value").cast("decimal(18,4)").alias("v")
    )
    pv = (
        e.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.coalesce(F.sum("v"), F.lit(0).cast("decimal(18,4)")), 4)
            .cast("double")
            .alias("val"),
        )
    )
    cols = [F.col("user_id")]
    for t in _EVENT_TYPES:
        cols.append(F.coalesce(F.col(f"{t}_n"), F.lit(0)).cast("long").alias(f"{t}_n"))
        cols.append(
            F.coalesce(F.col(f"{t}_val"), F.lit(0.0)).cast("double").alias(f"{t}_val")
        )
    return pv.select(*cols)


# ---------------------------------------------------------------------------
# incremental connected components (delta canonicalization)
# ---------------------------------------------------------------------------

_INC_SQL = f"""
WITH RECURSIVE b AS (
  SELECT doc_id, {tokens_sql('text')} AS toks
  FROM documents WHERE text IS NOT NULL
),
bg AS (SELECT unnest({ngrams_sql('toks', 2, ('u', 'v'))}, recursive := true) FROM b),
e AS (
  SELECT DISTINCT u, v FROM bg
  WHERE substr(u, 1, 1) = substr(v, 1, 1) AND u <> v
),
sym AS (SELECT u AS src, v AS dst FROM e UNION SELECT v, u FROM e),
reach(node, r) AS (
  SELECT src, src FROM sym
  UNION
  SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.node
)
SELECT node, min(r) AS component FROM reach GROUP BY node
"""


@query("kg_incremental_canonical", _INC_SQL)
def kg_incremental_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-update canonicalization: CC over the even-doc half of the
    letter-blocked word-bigram graph, then ``incremental_components`` folds
    the odd-doc delta in WITHOUT re-walking the old edges. The oracle
    recomputes components over the FULL union graph (recursive-CTE
    min-reachable) — so a green hash proves incremental == full recompute."""
    from .operators.canonicalize import connected_components, incremental_components

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    base = docs.select("doc_id", tokens(F.col("text")).alias("__toks"))
    bigrams = (
        base.select("doc_id", F.inline(ngrams("__toks", 2, ("u", "v"))))
        .filter(
            (F.substring("u", 1, 1) == F.substring("v", 1, 1))
            & (F.col("u") != F.col("v"))
        )
    )
    old_edges = (
        bigrams.filter((F.col("doc_id") % 2) == 0)
        .select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .distinct()
    )
    delta_edges = (
        bigrams.filter((F.col("doc_id") % 2) == 1)
        .select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .distinct()
    )
    prev = connected_components(old_edges)
    return incremental_components(prev, delta_edges)


# ---------------------------------------------------------------------------
# bounded-hop BFS over the word-bigram graph
# ---------------------------------------------------------------------------


def _khop_oracle_sql(hops: int = 3) -> str:
    head = f"""
    WITH b AS (
      SELECT {tokens_sql('text')} AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    bg AS (SELECT unnest({ngrams_sql('toks', 2, ('u', 'v'))}, recursive := true) FROM b),
    e AS (SELECT DISTINCT u, v FROM bg),
    nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
    r0 AS (
      SELECT node, CAST(0 AS INT) AS dist FROM nodes
      WHERE ('0x' || substr(md5(node), 1, 15))::BIGINT % 16 = 0
    )"""
    body = ""
    for i in range(1, hops + 1):
        body += f""",
    r{i} AS (
      SELECT node, CAST(min(dist) AS INT) AS dist FROM (
        SELECT node, dist FROM r{i - 1}
        UNION ALL
        SELECT e.v AS node, r.dist + 1 AS dist
        FROM r{i - 1} r JOIN e ON r.node = e.u
      ) GROUP BY node
    )"""
    return head + body + f"\n    SELECT node, dist FROM r{hops}"


@query("wordgraph_khop", _khop_oracle_sql(3))
def wordgraph_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-hop BFS min-distance from md5-selected seed nodes over the word
    bigram graph: each round is frontier-join + min-distance re-aggregation
    (the bounded-iteration companion to the connected-components
    canonicalizer, operators/canonicalize.py)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    base = docs.select(tokens(F.col("text")).alias("__toks"))
    edges = base.select(F.inline(ngrams("__toks", 2, ("u", "v")))).distinct()
    nodes = (
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .distinct()
    )
    reached = nodes.filter(
        F.conv(F.substring(F.md5("node"), 1, 15), 16, 10).cast("long") % 16 == 0
    ).select("node", F.lit(0).cast("int").alias("dist"))
    # small graph re-used by every round: avoid re-deriving the tokenize +
    # explode subtree 3x per side
    edges = scratch_persist(edges)
    for _ in range(3):
        step = (
            reached.join(edges, reached.node == edges.u)
            .select(F.col("v").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        reached = (
            reached.unionByName(step)
            .groupBy("node")
            .agg(F.min("dist").cast("int").alias("dist"))
        )
    return reached


# ---------------------------------------------------------------------------
# TPC-H Q15: top supplier by windowed revenue
# ---------------------------------------------------------------------------

_Q15_SQL = """
WITH rev AS (
  SELECT l_suppkey AS supplier_no,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18, 6))
                        * CAST(1 - l_discount AS DECIMAL(9, 6))), 2)
              AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-07-01'
  GROUP BY l_suppkey
),
mx AS (SELECT max(total_revenue) AS max_rev FROM rev)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s
JOIN rev r ON s.s_suppkey = r.supplier_no
JOIN mx ON r.total_revenue = mx.max_rev
"""


@query("tpch_top_supplier", _Q15_SQL)
def tpch_top_supplier(spark, sf_dir):
    """TPC-H Q15: per-supplier revenue over a ship-date window, then the
    supplier(s) achieving the maximum. The max attaches as a broadcast
    1-row EQUI-join on the revenue value (never a global sort / window over
    everything, and never a nested loop): the revenue aggregate is one
    shuffle on l_suppkey, the max a map-side-combined global aggregate.
    Revenue stays DECIMAL until the final round-then-double, so the
    max-equality join key is bit-identical on both engines."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-07-01")
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,6)")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(9,6)")
            ),
            2,
        )
        .cast("double")
        .alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("max_rev"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == F.col("max_rev"))
        .join(s, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# ---------------------------------------------------------------------------
# rank-family window functions
# ---------------------------------------------------------------------------

_WINFUNC_SQL = """
SELECT event_id, event_type,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cum_dist,
       CAST(dense_rank() OVER
              (PARTITION BY event_type ORDER BY CAST(floor(value) AS BIGINT))
            AS BIGINT) AS value_band_rank
FROM events
WHERE value IS NOT NULL
WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
"""


@query("events_window_funcs", _WINFUNC_SQL)
def events_window_funcs(spark, sf_dir):
    """Rank-family window coverage: ntile / percent_rank / cume_dist /
    dense_rank, all partitioned by the natural key (no global sort). The
    ordering key includes the unique event_id so ntile's tie-splitting is
    deterministic at any parallelism; percent_rank and cume_dist are single
    IEEE divisions of integers — bit-identical cross-engine."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wband = Window.partitionBy("event_type").orderBy(F.floor("value"))
    return ev.select(
        "event_id",
        "event_type",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cum_dist"),
        F.dense_rank().over(wband).cast("bigint").alias("value_band_rank"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q7: volume shipping between nation pairs
# ---------------------------------------------------------------------------

_Q7_SQL = """
SELECT ns.n_name AS supp_nation,
       nc.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INT) AS l_year,
       CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18, 6))
                      * CAST(1 - l.l_discount AS DECIMAL(9, 6))), 2)
            AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o    ON l.l_orderkey = o.o_orderkey
JOIN customer c  ON o.o_custkey = c.c_custkey
JOIN nation nc   ON c.c_nationkey = nc.n_nationkey
JOIN supplier s  ON l.l_suppkey = s.s_suppkey
JOIN nation ns   ON s.s_nationkey = ns.n_nationkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01'
  AND ns.n_nationkey <> nc.n_nationkey
GROUP BY ns.n_name, nc.n_name, year(l.l_shipdate)
"""


@query("tpch_nation_volume", _Q7_SQL)
def tpch_nation_volume(spark, sf_dir):
    """TPC-H Q7 shape: the fact table joins two independent dimension
    chains (supplier-nation and customer-via-orders-nation). Every
    dimension broadcasts, so lineitem is shuffled exactly ONCE — for the
    orders join — and the five-way constellation costs one exchange; the
    cross-nation filter runs post-join on broadcast columns. Revenue stays
    DECIMAL until the final round."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("_cnk"),
                                 F.col("n_name").alias("cust_nation"))),
            F.col("c_nationkey") == F.col("_cnk"),
        )
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("_snk"),
                                 F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("_snk"),
        )
        .filter(F.col("_snk") != F.col("_cnk"))
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,6)")
                    * (F.lit(1) - F.col("l_discount")).cast("decimal(9,6)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )
