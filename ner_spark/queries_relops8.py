"""Iterative ML + behavioral + training-infrastructure coverage, batch 8.

Three genuinely new plan shapes:

- ``embedding_kmeans_lloyd``: Lloyd's k-means over the embeddings table,
  run for a FIXED number of iterations with exact integer arithmetic so
  the whole trajectory — not just the final assignment — replays
  bit-identically in SQL. Vectors are quantized to milli-units
  (floor(x*1000), exact because float->double widening is exact), the
  point set lives in LONG FORMAT (vec_id, dim, v) so every distance and
  centroid update is a plain join+groupBy (no per-row Python, no
  interpreted array HOFs in aggregates), centroids are integer
  milli-units via floor(sum/count) (one IEEE division of exact integers
  per (cluster, dim)), and ties in the argmin break to the lowest
  cluster id. The k*64-row centroid table broadcasts every iteration —
  the shuffle pattern is groupBy(vec_id) / groupBy(cluster, dim), both
  map-side combinable. (Unlike ``embedding_kmeans_stats``, which scores
  points against centroids trained OUTSIDE the engine and inlined as
  literals, this one runs the training iterations themselves
  distributed — the in-engine complement.)
- ``events_funnel_steps``: the ordered conversion funnel
  view -> click -> purchase per user, where each step must STRICTLY
  follow the previous step's first completion. Three unordered
  per-user window passes share ONE hash exchange (no orderBy in the
  frame, so there is no sort at all); the step-k timestamp is
  min(ts where type = step_k AND ts > t_{k-1}).
- ``training_shard_assign``: deterministic training-shard building —
  every kept document is assigned a shard by md5 bucket and a position
  within the shard by md5-order row_number. The ONLY window partitions
  by shard (bounded width = corpus/n_shards), never global; the order
  key is content-free (seeded hash of the doc id) so the shuffle is
  uniform by construction — this is the reproducible global-shuffle
  primitive a training-data pipeline runs before packing.

Scale notes: k-means' per-iteration join volume is points x k (the
centroid side is k*dims rows and broadcasts); at 10^9 vectors the
long-format groupBy(vec_id, cluster) partial-aggregates 64 dim rows to
one before the exchange. The funnel is one exchange on user_id shared
by all three windows. Shard assignment is one exchange keyed by shard;
per-shard row_number is the bounded-width two-pass-safe form of global
ordering (the order_mentions lesson — never Window.orderBy without a
partition).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .functions.text import has_text
from .operators.dedup import md5_60
from .queries import HAS_TEXT_SQL, _t, query

# ---------------------------------------------------------------------------
# embedding_kmeans_lloyd: integer-exact fixed-iteration Lloyd k-means
# ---------------------------------------------------------------------------

_KM_K = 8
_KM_ASSIGN_ROUNDS = 3  # assignments; centroids update between them


def _km_sql() -> str:
    parts = [
        """
    WITH pts0 AS (
      SELECT vec_id, unnest(generate_series(0, len(embedding)-1)) AS dim,
             embedding
      FROM embeddings
    ),
    pts AS (
      SELECT vec_id, dim,
             CAST(floor(CAST(embedding[dim+1] AS DOUBLE) * 1000) AS BIGINT) AS v
      FROM pts0
    ),
    cent0 AS (
      SELECT vec_id AS cluster, dim, v AS c FROM pts WHERE vec_id < %d
    )""" % _KM_K
    ]
    for i in range(_KM_ASSIGN_ROUNDS):
        parts.append(
            f""",
    dist{i} AS (
      SELECT p.vec_id, c.cluster,
             CAST(sum((p.v - c.c) * (p.v - c.c)) AS BIGINT) AS d2
      FROM pts p JOIN cent{i} c ON c.dim = p.dim
      GROUP BY 1, 2
    ),
    asg{i} AS (
      SELECT vec_id, cluster, d2
      FROM (SELECT vec_id, cluster, d2,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cluster) AS rn
            FROM dist{i})
      WHERE rn = 1
    )"""
        )
        if i < _KM_ASSIGN_ROUNDS - 1:
            parts.append(
                f""",
    cent{i + 1} AS (
      SELECT a.cluster, p.dim,
             CAST(floor(CAST(sum(p.v) AS DOUBLE) / count(*)) AS BIGINT) AS c
      FROM pts p JOIN asg{i} a ON a.vec_id = p.vec_id
      GROUP BY 1, 2
    )"""
            )
    parts.append(
        f"""
    SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, d2
    FROM asg{_KM_ASSIGN_ROUNDS - 1}"""
    )
    return "".join(parts)


_KMEANS_SQL = _km_sql()


@query("embedding_kmeans_lloyd", _KMEANS_SQL)
def embedding_kmeans_lloyd(spark, sf_dir):
    """Fixed-iteration Lloyd k-means (k=8, 3 assignment rounds) with
    exact integer arithmetic: milli-unit quantized points in long
    format, broadcast centroid table per round, argmin ties to the
    lowest cluster id, centroid updates floor(sum/count). Every
    intermediate is an exact integer (or one floored IEEE division of
    exact integers), so DuckDB replays the full trajectory
    bit-identically — the pattern that makes iterative ML oracle-
    checkable at all."""
    emb = _t(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "val")
    ).select(
        "vec_id",
        "dim",
        F.floor(F.col("val").cast("double") * 1000).cast("long").alias("v"),
    )
    cent = pts.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cluster"), "dim", F.col("v").alias("c")
    )
    assign = None
    for i in range(_KM_ASSIGN_ROUNDS):
        if i > 0:
            cent = (
                pts.join(assign.select("vec_id", "cluster"), "vec_id")
                .groupBy("cluster", "dim")
                .agg(
                    F.floor(F.sum("v") / F.count(F.lit(1)))
                    .cast("long")
                    .alias("c")
                )
            )
        diff = F.col("v") - F.col("c")
        dist = (
            pts.join(F.broadcast(cent), "dim")
            .select("vec_id", "cluster", (diff * diff).alias("sq"))
            .groupBy("vec_id", "cluster")
            .agg(F.sum("sq").alias("d2"))
        )
        assign = (
            dist.groupBy("vec_id")
            .agg(F.min(F.struct("d2", "cluster")).alias("m"))
            .select(
                "vec_id",
                F.col("m.cluster").alias("cluster"),
                F.col("m.d2").alias("d2"),
            )
        )
    return assign.select("vec_id", F.col("cluster").cast("long").alias("cluster"), "d2")


# ---------------------------------------------------------------------------
# events_funnel_steps: strictly-ordered conversion funnel per user
# ---------------------------------------------------------------------------

_FUNNEL_SQL = """
    WITH s1 AS (
      SELECT user_id, event_type, ts,
             min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS t_view
      FROM events
    ),
    s2 AS (
      SELECT user_id, event_type, ts, t_view,
             min(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END)
               OVER (PARTITION BY user_id) AS t_click
      FROM s1
    ),
    s3 AS (
      SELECT user_id, t_view, t_click,
             min(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END)
               OVER (PARTITION BY user_id) AS t_purchase
      FROM s2
    )
    SELECT DISTINCT user_id, t_view, t_click, t_purchase,
           CAST(CASE WHEN t_purchase IS NOT NULL THEN 3
                     WHEN t_click IS NOT NULL THEN 2
                     WHEN t_view IS NOT NULL THEN 1
                     ELSE 0 END AS INT) AS steps_reached
    FROM s3
"""


@query("events_funnel_steps", _FUNNEL_SQL)
def events_funnel_steps(spark, sf_dir):
    """Ordered funnel view -> click -> purchase per user: step k counts
    only if it happens STRICTLY after the first completion of step k-1.
    Three per-user min-windows (no orderBy — no sort, one hash exchange
    shared by all three passes); NULL propagates through the strict
    inequality so a missing step zeroes everything after it."""
    w = Window.partitionBy("user_id")
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = ev.withColumn(
        "t_view",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    s2 = s1.withColumn(
        "t_click",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")),
                F.col("ts"),
            )
        ).over(w),
    )
    s3 = s2.withColumn(
        "t_purchase",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("t_click")),
                F.col("ts"),
            )
        ).over(w),
    )
    steps = (
        F.when(F.col("t_purchase").isNotNull(), 3)
        .when(F.col("t_click").isNotNull(), 2)
        .when(F.col("t_view").isNotNull(), 1)
        .otherwise(0)
    )
    return s3.select(
        "user_id",
        "t_view",
        "t_click",
        "t_purchase",
        steps.cast("int").alias("steps_reached"),
    ).distinct()


# ---------------------------------------------------------------------------
# training_shard_assign: deterministic shard + in-shard position
# ---------------------------------------------------------------------------

_SHARD_N = 32
_SHARD_SEED = "epoch0"

_SHARD_SQL = f"""
    WITH keyed AS (
      SELECT doc_id,
             ('0x' || substr(md5('{_SHARD_SEED}:' || CAST(doc_id AS VARCHAR)),
                             1, 15))::BIGINT AS sort_key
      FROM documents
      WHERE {HAS_TEXT_SQL}
    )
    SELECT doc_id,
           CAST(sort_key % {_SHARD_N} AS INT) AS shard,
           CAST(row_number() OVER (PARTITION BY sort_key % {_SHARD_N}
                                   ORDER BY sort_key, doc_id) AS BIGINT) AS pos,
           sort_key
    FROM keyed
"""


@query("training_shard_assign", _SHARD_SQL)
def training_shard_assign(spark, sf_dir):
    """Reproducible global shuffle into training shards: a seeded md5
    key gives every document a shard (key mod N) and an in-shard
    position (row_number ordered by key). The window partitions by
    shard — bounded width corpus/N, never global — and the hash key is
    content-free, so the exchange is uniform regardless of data skew.
    Changing the seed string is a full deterministic re-shuffle (the
    per-epoch reshuffle primitive)."""
    docs = _t(spark, sf_dir, "documents").filter(has_text(F.col("text")))
    key = md5_60(F.concat(F.lit(_SHARD_SEED + ":"), F.col("doc_id").cast("string")))
    keyed = docs.select("doc_id", key.cast("long").alias("sort_key"))
    shard = F.pmod(F.col("sort_key"), F.lit(_SHARD_N)).cast("int")
    w = Window.partitionBy("shard").orderBy("sort_key", "doc_id")
    return (
        keyed.withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "pos", "sort_key")
    )
