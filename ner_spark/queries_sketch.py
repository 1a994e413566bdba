"""Distributed-sketch and training-batch operators, oracle-backed.

Scale notes per query:

- ``sketch_kmv_distinct``: K-minimum-values distinct sketch — the mergeable
  cardinality estimator for 100 TB group-bys where exact COUNT(DISTINCT)
  would shuffle every value. The bottom-K selection is two-phase (partial
  bottom-K per 16-way salt bucket, then a merge of <= 16*K values per
  group), so no group ever aggregates more than salts*K hashes and the
  partial aggregation is map-side combinable. Hashes are md5-derived
  (``md5_60``) so DuckDB replays the exact same sketch; the estimate is a
  SINGLE IEEE division (exact-rounded, bit-identical cross-engine), never
  a libm call. Exact counts ride along for the accuracy comparison.
- ``tpch_bloom_prefilter``: bloom-filter semi-join pre-filtering — the
  standard trick for shrinking a big probe side BEFORE the shuffle join.
  The filter's set bit positions are a <= M-row broadcast relation
  (h md5-derived positions per dim key); a probe row passes iff all h of
  its positions hit. Output compares bloom-pass counts vs the exact semi
  join per order priority: false positives visible, false negatives
  provably zero (tests + oracle). At cluster scale the bits relation is a
  few KB broadcast to every executor — probe-side rows that fail never
  enter the join exchange.
- ``pack_training_sequences``: greedy first-fit sequence packing of
  documents into fixed token-budget training sequences — inherently
  sequential per bucket, so documents are hash-bucketed (md5, 32 ways)
  and each bucket packs independently inside ONE Arrow-batched
  ``applyInPandas`` group (the blessed Python path; never per-row).
  At 100 TB the bucket count scales with the cluster, each task streams
  one bucket in doc_id order. The DuckDB oracle replays the greedy fold
  with a recursive CTE — packing is deterministic, so rows+schema+hash.
- ``orders_cube_revenue``: CUBE over (status, priority) with
  ``grouping()``-derived gid — subtotal lattice in one pass (Spark expands
  grouping sets inside a single partial/final aggregate, no N scans).
  Money stays DECIMAL until the final round-then-double.
- ``tpch_order_distribution``: TPC-H Q13 — left outer join with an ON-side
  filter (never a WHERE, which would turn it inner) feeding a two-level
  aggregation; the classic count-of-counts histogram.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.text import has_text, ngrams, tokens
from .operators.dedup import md5_60
from .queries import HAS_TEXT_SQL, _t, ngrams_sql, query, tokens_sql

# ---------------------------------------------------------------------------
# KMV distinct-count sketch
# ---------------------------------------------------------------------------

_KMV_K = 32
_KMV_SALTS = 16
_POW2_60 = float(1 << 60)  # exactly representable; (K-1)*2^60 has a 5-bit mantissa

_KMV_SQL = f"""
WITH h AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events WHERE user_id IS NOT NULL
),
r AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM h
),
sk AS (
  SELECT event_type,
         max(CASE WHEN rn = {_KMV_K} THEN h END) AS kth,
         count(*) FILTER (WHERE rn <= {_KMV_K}) AS n_in_sketch
  FROM r GROUP BY event_type
),
ex AS (
  SELECT event_type, count(DISTINCT user_id) AS n_exact
  FROM events WHERE user_id IS NOT NULL GROUP BY event_type
)
SELECT ex.event_type,
       CAST(ex.n_exact AS BIGINT) AS n_exact,
       CAST(coalesce(sk.kth, -1) AS BIGINT) AS kth_min,
       CASE WHEN sk.n_in_sketch < {_KMV_K}
            THEN CAST(sk.n_in_sketch AS DOUBLE)
            ELSE {_KMV_K - 1}.0 * {1 << 60} / CAST(sk.kth AS DOUBLE)
       END AS est_distinct
FROM ex JOIN sk ON ex.event_type = sk.event_type
"""


@query("sketch_kmv_distinct", _KMV_SQL)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-K) distinct sketch per event_type, two-phase bottom-K
    merge, alongside the exact distinct count. Estimate = (K-1) * 2^60 /
    kth_min — one IEEE division, replayed bit-for-bit by the oracle."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("event_type", "user_id")
    )
    hashed = ev.select(
        "event_type", md5_60(F.col("user_id").cast("string")).alias("h")
    )
    # phase 1: bottom-K per (type, salt) — bounded state, map-side combinable
    part = hashed.groupBy(
        "event_type", F.pmod(F.col("h"), F.lit(_KMV_SALTS)).alias("_salt")
    ).agg(F.slice(F.sort_array(F.collect_set("h")), 1, _KMV_K).alias("part"))
    # phase 2: merge <= SALTS*K values per type, keep the global bottom-K
    sketch = (
        part.select("event_type", F.explode("part").alias("h"))
        .groupBy("event_type")
        .agg(F.slice(F.sort_array(F.collect_set("h")), 1, _KMV_K).alias("hs"))
        .select(
            "event_type",
            F.coalesce(
                F.try_element_at("hs", F.lit(_KMV_K)), F.lit(-1)
            ).alias("kth_min"),
            F.size("hs").alias("n_in_sketch"),
        )
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return exact.join(sketch, "event_type").select(
        "event_type",
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.col("kth_min").cast("bigint").alias("kth_min"),
        F.when(
            F.col("n_in_sketch") < _KMV_K, F.col("n_in_sketch").cast("double")
        )
        .otherwise(
            F.lit(float(_KMV_K - 1)) * F.lit(_POW2_60)
            / F.col("kth_min").cast("double")
        )
        .alias("est_distinct"),
    )


# ---------------------------------------------------------------------------
# bloom-filter semi-join pre-filter
# ---------------------------------------------------------------------------

_BLOOM_M = 1024  # bits
_BLOOM_H = 3  # hash functions
_BLOOM_BAL = 9000.0  # dim predicate: c_acctbal > this

_BLOOM_SQL = f"""
WITH dim AS (
  SELECT DISTINCT c_custkey FROM customer WHERE c_acctbal > {_BLOOM_BAL}
),
hj AS (SELECT unnest([{", ".join(str(j) for j in range(1, _BLOOM_H + 1))}]) AS j),
bits AS (
  SELECT DISTINCT
    ('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || '#' || CAST(j AS VARCHAR)),
                    1, 15))::BIGINT % {_BLOOM_M} AS pos
  FROM dim, hj
),
probe AS (
  SELECT o.o_orderkey, o.o_custkey, j,
    ('0x' || substr(md5(CAST(o.o_custkey AS VARCHAR) || '#' || CAST(j AS VARCHAR)),
                    1, 15))::BIGINT % {_BLOOM_M} AS pos
  FROM orders o, hj
),
pass AS (
  SELECT p.o_orderkey
  FROM probe p JOIN bits b ON p.pos = b.pos
  GROUP BY p.o_orderkey
  HAVING count(DISTINCT p.j) = {_BLOOM_H}
)
SELECT o.o_orderpriority,
       CAST(count(*) FILTER (WHERE pass.o_orderkey IS NOT NULL) AS BIGINT)
         AS n_bloom_pass,
       CAST(count(*) FILTER (WHERE dim.c_custkey IS NOT NULL) AS BIGINT)
         AS n_exact,
       CAST(count(*) FILTER (WHERE pass.o_orderkey IS NOT NULL
                             AND dim.c_custkey IS NULL) AS BIGINT)
         AS n_false_pos
FROM orders o
LEFT JOIN pass ON o.o_orderkey = pass.o_orderkey
LEFT JOIN dim ON o.o_custkey = dim.c_custkey
GROUP BY o.o_orderpriority
"""


def _bloom_pos(key, j):
    return F.pmod(
        md5_60(F.concat(key.cast("string"), F.lit("#"), j.cast("string"))),
        F.lit(_BLOOM_M),
    )


@query("tpch_bloom_prefilter", _BLOOM_SQL)
def tpch_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-filter vs the exact semi join: the set-bits relation
    (<= M rows) broadcasts; probe rows pass iff all H md5-derived positions
    hit. Per priority: bloom passes, exact matches, false positives (false
    negatives are impossible by construction — asserted in tests)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    dim = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > _BLOOM_BAL)
        .select("c_custkey")
        .distinct()
    )
    js = F.explode(F.array(*[F.lit(j) for j in range(1, _BLOOM_H + 1)])).alias("j")
    bits = (
        dim.select(F.col("c_custkey"), js)
        .select(_bloom_pos(F.col("c_custkey"), F.col("j")).alias("pos"))
        .distinct()
    )
    probe = o.select("o_orderkey", "o_custkey", js).withColumn(
        "pos", _bloom_pos(F.col("o_custkey"), F.col("j"))
    )
    passed = (
        probe.join(F.broadcast(bits), "pos")
        .groupBy("o_orderkey")
        .agg(F.countDistinct("j").alias("nm"))
        .filter(F.col("nm") == _BLOOM_H)
        .select("o_orderkey", F.lit(1).alias("_bloom"))
    )
    flagged = o.join(passed, "o_orderkey", "left").join(
        F.broadcast(dim.withColumnRenamed("c_custkey", "_dimkey")),
        F.col("o_custkey") == F.col("_dimkey"),
        "left",
    )
    return flagged.groupBy("o_orderpriority").agg(
        F.sum(F.when(F.col("_bloom").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_bloom_pass"),
        F.sum(F.when(F.col("_dimkey").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_exact"),
        F.sum(
            F.when(
                F.col("_bloom").isNotNull() & F.col("_dimkey").isNull(), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_false_pos"),
    )


# ---------------------------------------------------------------------------
# greedy training-sequence packing
# ---------------------------------------------------------------------------

_PACK_BUDGET = 256
_PACK_BUCKETS = 32

_PACK_SQL = f"""
WITH RECURSIVE base AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           % {_PACK_BUCKETS} AS bucket,
         CAST(len({tokens_sql('text')}) AS BIGINT) AS n_tokens
  FROM documents
  WHERE {HAS_TEXT_SQL}
),
ord AS (
  SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
  FROM base
),
pack AS (
  SELECT bucket, rn, doc_id, n_tokens,
         CAST(0 AS BIGINT) AS seq_id, n_tokens AS fill
  FROM ord WHERE rn = 1
  UNION ALL
  SELECT t.bucket, t.rn, t.doc_id, t.n_tokens,
         CASE WHEN p.fill + t.n_tokens <= {_PACK_BUDGET}
              THEN p.seq_id ELSE p.seq_id + 1 END,
         CASE WHEN p.fill + t.n_tokens <= {_PACK_BUDGET}
              THEN p.fill + t.n_tokens ELSE t.n_tokens END
  FROM pack p JOIN ord t ON t.bucket = p.bucket AND t.rn = p.rn + 1
)
SELECT CAST(bucket AS BIGINT) AS bucket, doc_id, n_tokens,
       seq_id, CAST(fill - n_tokens AS BIGINT) AS "offset"
FROM pack
"""


def _pack_group(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    seq_ids, offsets = [], []
    seq, fill = 0, 0
    first = True
    for n in pdf["n_tokens"]:
        n = int(n)
        if first:
            seq, fill = 0, n
            offsets.append(0)
            first = False
        elif fill + n <= _PACK_BUDGET:
            offsets.append(fill)
            fill += n
        else:
            seq += 1
            offsets.append(0)
            fill = n
        seq_ids.append(seq)
    out = pdf[["bucket", "doc_id", "n_tokens"]].copy()
    out["seq_id"] = pd.Series(seq_ids, dtype="int64")
    out["offset"] = pd.Series(offsets, dtype="int64")
    return out


@query("pack_training_sequences", _PACK_SQL)
def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy first-fit packing of docs into {budget}-token training
    sequences, independently per md5 hash bucket (sequential fold inside one
    Arrow-batched applyInPandas group; oracle = recursive-CTE replay of the
    same fold). Reference analogue: the corpus batching of
    src/utils/corpus.py generalized to token-budget packing."""
    docs = _t(spark, sf_dir, "documents").filter(has_text(F.col("text")))
    base = docs.select(
        "doc_id",
        F.pmod(md5_60(F.col("doc_id").cast("string")), F.lit(_PACK_BUCKETS))
        .cast("bigint")
        .alias("bucket"),
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    return base.groupBy("bucket").applyInPandas(
        _pack_group,
        schema="bucket bigint, doc_id bigint, n_tokens bigint, "
        "seq_id bigint, offset bigint",
    )


# ---------------------------------------------------------------------------
# CUBE with grouping-id
# ---------------------------------------------------------------------------

_CUBE_SQL = """
SELECT coalesce(o_orderstatus, '(all)') AS status_g,
       coalesce(o_orderpriority, '(all)') AS prio_g,
       CAST(2 * GROUPING(o_orderstatus) + GROUPING(o_orderpriority) AS INT)
         AS gid,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18, 4))) AS DOUBLE), 2)
         AS total_price,
       count(*) AS n_orders
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@query("orders_cube_revenue", _CUBE_SQL)
def orders_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE lattice over (status, priority) with a grouping()-derived gid —
    all four grouping sets in one partial/final aggregate pass; DECIMAL
    money until the final round."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            (
                F.lit(2) * F.grouping("o_orderstatus")
                + F.grouping("o_orderpriority")
            )
            .cast("int")
            .alias("gid"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"),
                2,
            ).alias("total_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("status_g"),
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("prio_g"),
            "gid",
            "total_price",
            "n_orders",
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q13: customer order-count distribution
# ---------------------------------------------------------------------------

_Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
GROUP BY c_count
"""


@query("tpch_order_distribution", _Q13_SQL)
def tpch_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: LEFT OUTER join with the filter in the ON clause
    (customers with zero qualifying orders survive with c_count = 0),
    then the count-of-counts histogram."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# KMV sketch set operations: union / intersection cardinality without a join
# ---------------------------------------------------------------------------

_SETOP_K = 256

_SETOP_SQL = f"""
WITH d AS (
  SELECT lang, {tokens_sql('lower(text)')} AS toks
  FROM documents WHERE text IS NOT NULL AND lang IN ('en', 'fr')
),
sh AS (SELECT DISTINCT lang, unnest({ngrams_sql('toks', 3)}) AS s FROM d),
marks AS (
  SELECT s,
         max(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS has_a,
         max(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS has_b
  FROM sh GROUP BY s
),
exact AS (
  SELECT count(*) AS n_union_exact,
         sum(CASE WHEN has_a = 1 AND has_b = 1 THEN 1 ELSE 0 END)
           AS n_inter_exact
  FROM marks
),
h AS (
  SELECT DISTINCT lang, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM sh
),
r AS (
  SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
  FROM h
),
sk AS (SELECT lang, h FROM r WHERE rn <= {_SETOP_K}),
agg AS (
  SELECT coalesce(list_sort(list(DISTINCT h) FILTER (WHERE lang = 'en')),
                  []) AS ha,
         coalesce(list_sort(list(DISTINCT h) FILTER (WHERE lang = 'fr')),
                  []) AS hb
  FROM sk
),
sketch AS (
  SELECT len(hu) AS n_u_sk, hu[{_SETOP_K}] AS kth,
         len(list_intersect(list_intersect(ha, hb), hu)) AS c
  FROM (SELECT ha, hb,
               list_sort(list_distinct(list_concat(ha, hb)))[1:{_SETOP_K}] AS hu
        FROM agg)
)
SELECT CAST({_SETOP_K} AS INT) AS k,
       CAST(coalesce(s.kth, -1) AS BIGINT) AS kth_union,
       CASE WHEN s.n_u_sk < {_SETOP_K}
            THEN CAST(s.n_u_sk AS DOUBLE)
            ELSE {_SETOP_K - 1}.0 * {1 << 60} / CAST(s.kth AS DOUBLE)
       END AS est_union,
       CASE WHEN s.n_u_sk < {_SETOP_K}
            THEN CAST(s.c AS DOUBLE)
            ELSE (CAST(s.c AS DOUBLE) / {_SETOP_K})
                 * ({_SETOP_K - 1}.0 * {1 << 60} / CAST(s.kth AS DOUBLE))
       END AS est_intersection,
       CAST(e.n_union_exact AS BIGINT) AS n_union_exact,
       CAST(e.n_inter_exact AS BIGINT) AS n_inter_exact
FROM sketch s, exact e
"""


@query("sketch_kmv_setops", _SETOP_SQL)
def sketch_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-space set operations: union and intersection cardinality of
    the en/fr 3-gram shingle vocabularies estimated from two mergeable
    bottom-K sketches — the 100 TB recipe for cross-corpus overlap
    (contamination, dedup planning) WITHOUT joining the corpora: each side
    reduces to K hashes, the estimate merges K-size arrays. Estimator:
    kth-min for the union; for the intersection, the fraction of the union
    sketch present in BOTH sketches scales the union estimate (standard
    KMV Jaccard). Exact counts ride along. Membership 'h <= kth AND in
    both' is computed as array_intersect with the union sketch — no
    lambda higher-order functions anywhere."""
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("lang").isin("en", "fr")
    )
    toked = docs.select("lang", tokens(F.lower("text")).alias("toks"))
    sh = toked.select("lang", F.explode(ngrams("toks", 3)).alias("s")).distinct()
    # exact side: one shuffle on the shingle, map-side-combinable counts
    marks = sh.groupBy("s").agg(
        F.max(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("has_a"),
        F.max(F.when(F.col("lang") == "fr", 1).otherwise(0)).alias("has_b"),
    )
    exact = marks.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_union_exact"),
        F.sum(F.when((F.col("has_a") == 1) & (F.col("has_b") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n_inter_exact"),
    )
    # sketch side: two-phase bottom-K per lang (bounded state at any scale)
    hashed = sh.select("lang", md5_60(F.col("s")).alias("h"))
    part = hashed.groupBy(
        "lang", F.pmod(F.col("h"), F.lit(_KMV_SALTS)).alias("_salt")
    ).agg(F.slice(F.sort_array(F.collect_set("h")), 1, _SETOP_K).alias("part"))
    merged = (
        part.select("lang", F.explode("part").alias("h"))
        .groupBy("lang")
        .agg(F.slice(F.sort_array(F.collect_set("h")), 1, _SETOP_K).alias("hs"))
    )
    # a lang with ZERO documents yields a NULL sketch; coalesce to the
    # empty list on BOTH engines (oracle mirrors) so the union/size math
    # degrades to the present side instead of NULL-propagating (engine)
    # vs -1-sentineling (size semantics) inconsistently
    empty = F.array().cast("array<bigint>")
    one = merged.agg(
        F.coalesce(
            F.first(F.when(F.col("lang") == "en", F.col("hs")), ignorenulls=True),
            empty,
        ).alias("ha"),
        F.coalesce(
            F.first(F.when(F.col("lang") == "fr", F.col("hs")), ignorenulls=True),
            empty,
        ).alias("hb"),
    ).select(
        F.col("ha"),
        F.col("hb"),
        F.slice(
            F.sort_array(F.array_union("ha", "hb")), 1, _SETOP_K
        ).alias("hu"),
    )
    sketch = one.select(
        F.size("hu").alias("n_u_sk"),
        F.coalesce(F.try_element_at("hu", F.lit(_SETOP_K)), F.lit(-1)).alias("kth"),
        F.size(F.array_intersect(F.array_intersect("ha", "hb"), "hu")).alias("c"),
    )
    est_union = F.when(
        F.col("n_u_sk") < _SETOP_K, F.col("n_u_sk").cast("double")
    ).otherwise(
        F.lit(float(_SETOP_K - 1)) * F.lit(_POW2_60) / F.col("kth").cast("double")
    )
    est_inter = F.when(
        F.col("n_u_sk") < _SETOP_K, F.col("c").cast("double")
    ).otherwise(
        (F.col("c").cast("double") / F.lit(_SETOP_K))
        * (
            F.lit(float(_SETOP_K - 1))
            * F.lit(_POW2_60)
            / F.col("kth").cast("double")
        )
    )
    return sketch.crossJoin(F.broadcast(exact)).select(
        F.lit(_SETOP_K).cast("int").alias("k"),
        F.col("kth").cast("bigint").alias("kth_union"),
        est_union.alias("est_union"),
        est_inter.alias("est_intersection"),
        "n_union_exact",
        "n_inter_exact",
    )


# ---------------------------------------------------------------------------
# anti-entropy: per-bucket checksums to locate replica divergence
# ---------------------------------------------------------------------------

_CKSUM_BUCKETS = 16

_CKSUM_SQL = f"""
WITH a AS (
  SELECT ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT
           % {_CKSUM_BUCKETS} AS bucket,
         ('0x' || substr(md5(concat_ws('|', CAST(o_orderkey AS VARCHAR),
                                       o_orderstatus, o_orderpriority)),
                         1, 15))::BIGINT AS h
  FROM orders
),
bb AS (  -- the 'replica': rows keyed o_orderkey % 997 = 0 went missing
  SELECT ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT
           % {_CKSUM_BUCKETS} AS bucket,
         ('0x' || substr(md5(concat_ws('|', CAST(o_orderkey AS VARCHAR),
                                       o_orderstatus, o_orderpriority)),
                         1, 15))::BIGINT AS h
  FROM orders WHERE o_orderkey % 997 <> 0
),
ca AS (
  SELECT bucket, count(*) AS n_a, CAST(sum(h) AS DECIMAL(38, 0)) AS sum_a
  FROM a GROUP BY bucket
),
cb AS (
  SELECT bucket, count(*) AS n_b, CAST(sum(h) AS DECIMAL(38, 0)) AS sum_b
  FROM bb GROUP BY bucket
)
SELECT ca.bucket,
       CAST(ca.n_a AS BIGINT) AS n_a,
       CAST(coalesce(cb.n_b, 0) AS BIGINT) AS n_b,
       (ca.n_a = coalesce(cb.n_b, 0)
        AND ca.sum_a = coalesce(cb.sum_b, 0)) AS checksums_match
FROM ca LEFT JOIN cb ON ca.bucket = cb.bucket
"""


@query("table_bucket_checksums", _CKSUM_SQL)
def table_bucket_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy repair scan: content checksum (exact DECIMAL sum of a
    row hash) + row count per hash bucket, compared between a table and a
    'replica' missing a deterministic slice of keys. At 100 TB this is how
    two copies are reconciled WITHOUT shipping rows: each side aggregates
    to n_buckets tiny rows locally (map-side combinable sums), only
    mismatched buckets need re-sync. The md5 row hash and DECIMAL(38,0)
    sum replay exactly in the oracle."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )

    def hashed(df: DataFrame) -> DataFrame:
        return df.select(
            F.pmod(
                md5_60(F.col("o_orderkey").cast("string")),
                F.lit(_CKSUM_BUCKETS),
            ).alias("bucket"),
            md5_60(
                F.concat_ws(
                    "|",
                    F.col("o_orderkey").cast("string"),
                    "o_orderstatus",
                    "o_orderpriority",
                )
            ).alias("h"),
        )

    def cksum(df: DataFrame, n: str, s: str) -> DataFrame:
        return df.groupBy("bucket").agg(
            F.count(F.lit(1)).cast("bigint").alias(n),
            F.sum(F.col("h").cast("decimal(38,0)")).alias(s),
        )

    ca = cksum(hashed(o), "n_a", "sum_a")
    cb = cksum(
        hashed(o.filter(F.col("o_orderkey") % 997 != 0)), "n_b", "sum_b"
    )
    return ca.join(cb, "bucket", "left").select(
        "bucket",
        "n_a",
        F.coalesce("n_b", F.lit(0)).cast("bigint").alias("n_b"),
        (
            (F.col("n_a") == F.coalesce("n_b", F.lit(0)))
            & (
                F.col("sum_a")
                == F.coalesce(F.col("sum_b"), F.lit(0).cast("decimal(38,0)"))
            )
        ).alias("checksums_match"),
    )


# ---------------------------------------------------------------------------
# HyperLogLog distinct sketch (hand-rolled, bit-reproducible)
# ---------------------------------------------------------------------------

_HLL_M = 256  # 2^8 buckets; md5_60 leaves a 52-bit suffix => rho in 1..53
_HLL_NUM = 4.2399330249068963e20  # alpha_256 * m^2 * 2^53, one shared literal

_HLL_SQL = f"""
    WITH sh AS (
      SELECT lang,
             CASE WHEN len(toks) >= 3
                  THEN list_distinct({ngrams_sql('toks', 3)})
                  ELSE [array_to_string(toks, ' ')] END AS shl
      FROM (SELECT lang, {tokens_sql('text')} AS toks
            FROM documents
            WHERE {HAS_TEXT_SQL})
    ),
    flat AS (SELECT lang, unnest(shl) AS s FROM sh),
    hashed AS (SELECT lang, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM flat),
    rho AS (
      SELECT lang, h & 255 AS bucket,
             CASE WHEN (h >> 8) = 0 THEN 53
                  ELSE 53 - length(to_base(h >> 8, 2)) END AS rho
      FROM hashed
    ),
    regs AS (SELECT lang, bucket, max(rho) AS r FROM rho GROUP BY 1, 2),
    agg AS (
      SELECT lang, count(*) AS n_used,
             CAST(sum(1::BIGINT << CAST(53 - r AS INT)) AS BIGINT) AS s_present
      FROM regs GROUP BY 1
    ),
    ex AS (SELECT lang, count(DISTINCT s) AS n_exact FROM flat GROUP BY 1)
    SELECT a.lang,
           CAST({_HLL_M} - a.n_used AS BIGINT) AS n_zero,
           CAST(a.s_present + ({_HLL_M} - a.n_used) * (1::BIGINT << 53) AS BIGINT)
             AS s_scaled,
           round({_HLL_NUM!r} / CAST(a.s_present
                 + ({_HLL_M} - a.n_used) * (1::BIGINT << 53) AS DOUBLE), 4)
             AS est_raw,
           CAST(e.n_exact AS BIGINT) AS n_exact
    FROM agg a JOIN ex e ON a.lang = e.lang
"""


@query("sketch_hll_distinct", _HLL_SQL)
def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hand-rolled HyperLogLog (Flajolet et al. 2007) over per-lang distinct
    3-gram shingles — the mergeable distinct sketch behind every engine's
    approx_count_distinct, built here from first principles so the ORACLE
    REPLAYS IT BIT-FOR-BIT (which approx_count_distinct never can: its HLL++
    registers hash JVM-internally).

    Exactness contract: register index = low 8 bits of md5_60, rho = leading
    zeros of the 52-bit suffix + 1 (computed via binary-string length — pure
    integer), and the harmonic sum is kept as the EXACT scaled integer
    sum(2^(53-r)) + empty*2^53 (< 2^61, fits BIGINT) — no float enters until
    the single final division by the shared alpha*m^2*2^53 literal. Raw
    estimator only: inputs here are >= 2.5m (=640) distinct, outside the
    linear-counting correction range; n_zero is emitted so a caller CAN
    apply it. Plan: one explode -> per-(lang,bucket) max (map-side
    combinable, 256*langs rows) -> per-lang fold; the exact n_exact column
    (one extra distinct-aggregate) exists to make the sketch's error
    observable in the result itself.
    """
    from .operators.dedup import _shingles_of, explode_ne

    docs = _t(spark, sf_dir, "documents").filter(has_text(F.col("text")))
    base = docs.select("lang", tokens(F.col("text")).alias("_toks"))
    flat = base.select("lang", explode_ne(_shingles_of("_toks", 3)).alias("s"))
    h = md5_60(F.col("s"))
    rest = F.shiftright(h, 8)
    rho = F.when(rest == 0, F.lit(53)).otherwise(
        F.lit(53) - F.length(F.bin(rest))
    )
    regs = (
        flat.select("lang", h.bitwiseAND(F.lit(255)).alias("bucket"), rho.alias("rho"))
        .groupBy("lang", "bucket")
        .agg(F.max("rho").alias("r"))
    )
    agg = regs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_used"),
        F.sum(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - r AS INT))")
        ).alias("s_present"),
    )
    ex = flat.groupBy("lang").agg(F.countDistinct("s").alias("n_exact"))
    s_scaled = F.col("s_present") + (F.lit(_HLL_M) - F.col("n_used")) * F.lit(
        1 << 53
    ).cast("long")
    return (
        agg.join(ex, "lang")
        .select(
            "lang",
            (F.lit(_HLL_M) - F.col("n_used")).cast("long").alias("n_zero"),
            s_scaled.cast("long").alias("s_scaled"),
            F.round(F.lit(_HLL_NUM) / s_scaled.cast("double"), 4).alias("est_raw"),
            F.col("n_exact").cast("long").alias("n_exact"),
        )
    )
