"""Similarity search over an embedding column (array<float>).

Brute-force cosine top-k as the exactness baseline, and a *banded*
random-hyperplane LSH variant as the scale path: at 10^9+ vectors the
brute-force cross join is infeasible; each band is an independent set of
hyperplanes whose sign-bits form a bucket id, and a pair is a candidate if
it collides in ANY band (the same band-union shape as MinHash LSH in
dedup.py). Recall at an operating cosine c with r planes/band and B bands
is 1-(1-p^r)^B where p = 1-acos(c)/pi — a single band (the round-1 design)
tops out at p^r, which at c=0.95, r=8 is ~0.43; the banded union pushes it
past 0.95 (asserted against brute-force in tests).

Every top-k operator is its own candidate generator (cross join, band
join, IVF cell probe) followed by one shared verify and rank: exact
rounded cosine (``_cosine_top_k``) and the per-query ``row_number`` window
(``_top_k``); IVF+PQ ranks its ADC estimate through the same ``_top_k``.

All dot products are JVM-side (``aggregate``/``zip_with``) — no Python in
the scoring loop.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import explode_ne, self_join
from .scratch import scratch_persist


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _side(df: DataFrame, p: str) -> DataFrame:
    """``(p_id, p_vec array<double>)`` projection of one join side of a
    ``(vec_id, embedding)`` table."""
    return df.select(
        F.col("vec_id").alias(f"{p}_id"),
        F.col("embedding").cast("array<double>").alias(f"{p}_vec"),
    )


def _top_k(
    scored: DataFrame, k: int, score: str = "score", ascending: bool = False
) -> DataFrame:
    """The one per-query ranking: ``row_number`` over ``(score, nb_id asc)``
    per ``q_id``, keep ``rank <= k``. Ties break on the neighbor id, so the
    order is reproducible across engines."""
    order = F.asc(score) if ascending else F.desc(score)
    w = Window.partitionBy("q_id").orderBy(order, F.asc("nb_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "nb_id", score, F.col("rank").cast("long").alias("rank"))
    )


def _cosine_top_k(cand: DataFrame, k: int) -> DataFrame:
    """The one exact verify: drop self-matches, score each candidate
    ``(q_id, q_vec, nb_id, nb_vec)`` by cosine rounded to 4 digits (rounding
    first makes the order reproducible across summation orders), rank."""
    scored = cand.filter(F.col("q_id") != F.col("nb_id")).withColumn(
        "score", F.round(cosine(F.col("q_vec"), F.col("nb_vec")), 4)
    )
    return _top_k(scored, k)


def brute_force_topk(vectors: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact cosine top-k of every query against the vector table: every
    pair is a candidate. Self-matches are excluded."""
    v = _side(vectors, "nb")
    q = _side(queries, "q")
    return _cosine_top_k(q.crossJoin(v), k)


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def band_planes(
    dim: int, bands: int, planes_per_band: int, seed: int = 42
) -> list[list[list[float]]]:
    """``bands`` independent hyperplane sets (one per LSH table).

    Seeds are spread (seed + 1000*band) so the bands' sign-bits are
    independent — the whole point of the band union.
    """
    return [hyperplanes(dim, planes_per_band, seed + 1000 * b) for b in range(bands)]


def _dot_sql(vec_sql: str, plane: list[float]) -> str:
    """String-SQL twin of ``_dot`` against a literal vector (same ordered
    zip_with fold) — one parser call instead of a py4j round-trip per
    literal/lambda; see ``_cell_dist_sql`` for the measured rationale."""
    arr = "array(" + ", ".join(f"{x!r}D" for x in plane) + ")"
    return (
        f"aggregate(zip_with({vec_sql}, {arr}, (x, y) -> x * y),"
        f" 0.0D, (acc, v) -> acc + v)"
    )


def _sign_bits_sql(vec_sql: str, planes: list[list[float]]) -> str:
    """Random-hyperplane signature: bit j = sign(v . plane_j)."""
    terms = " + ".join(
        f"(CASE WHEN {_dot_sql(vec_sql, p)} > 0 THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(planes)
    )
    return f"({terms})"


def banded_buckets(vec_col: str, plane_sets: list[list[list[float]]]) -> Column:
    """array<struct<band,bucket>> — one bucket id per band."""
    structs = ", ".join(
        f"named_struct('band', {b}, 'bucket', {_sign_bits_sql(vec_col, planes)})"
        for b, planes in enumerate(plane_sets)
    )
    return F.expr(f"array({structs})")


def _explode_bands(df: DataFrame, vec_col: str, plane_sets) -> DataFrame:
    # explode_ne: banded_buckets is a fixed-size non-empty array literal, and
    # a bare explode would let InferFiltersFromGenerate rebuild all B*r
    # hyperplane dot products in a synthesized per-row filter under sessions
    # not configured by ner_spark.session (see dedup.explode_ne)
    return df.select(
        "*", explode_ne(banded_buckets(vec_col, plane_sets)).alias("_bb")
    ).select("*", F.col("_bb.band").alias("_band"), F.col("_bb.bucket").alias("_bucket")).drop("_bb")


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bands: int = 8,
    planes_per_band: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only candidates colliding in >=1 band.

    At scale each band's bucket column is a partition/bucketing key for the
    vector table (B narrow bucket joins, never a cross join); a query
    touches ~B/2^r of the data. Candidate pairs are deduped across bands
    before scoring so each pair is scored once.
    """
    plane_sets = band_planes(dim, bands, planes_per_band, seed)
    vb = _explode_bands(_side(vectors, "nb"), "nb_vec", plane_sets)
    qb = _explode_bands(_side(queries, "q"), "q_vec", plane_sets)
    cand = (
        qb.join(vb, ["_band", "_bucket"])
        .select("q_id", "q_vec", "nb_id", "nb_vec")
        .dropDuplicates(["q_id", "nb_id"])
    )
    return _cosine_top_k(cand, k)


def kmeans_centroids(
    X, n_centroids: int, iters: int, seed: int, round_digits: int = 6
) -> list[list[float]]:
    """Seeded float64 Lloyd iterations on a driver-side sample.

    IVF training is sample-based by design (FAISS trains its coarse
    quantizer on ~1e5-1e6 of 1e9+ vectors). Centroids are rounded so they
    inline as SQL-replayable literals (the hyperplane-LSH trick): the Spark
    query and the generated DuckDB oracle carry bit-identical values."""
    import numpy as np

    rng = np.random.RandomState(seed)
    C = X[rng.choice(len(X), size=n_centroids, replace=False)].copy()
    for _ in range(iters):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        assign = d2.argmin(1)
        for j in range(n_centroids):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(0)
    return [[round(float(x), round_digits) for x in c] for c in C]


def _cell_structs_sql(vec_sql: str, centroids: list[list[float]]) -> str:
    """array(struct(d, cell)) of rounded rank-equivalent distances to every
    centroid — the shared building block for assignment (array_min) and
    probing (explode + window)."""
    structs = ", ".join(
        f"named_struct('d', {_cell_dist_sql(vec_sql, c)}, 'cell', {j})"
        for j, c in enumerate(centroids)
    )
    return f"array({structs})"


def ivf_assign(vec_col: str, centroids: list[list[float]]) -> Column:
    """Nearest-centroid cell id, declaratively: array_min over
    struct(dist, cell) (lexicographic struct order = argmin with cell-id
    tie-break). Narrow per-row expression — assignment of 1e9 vectors is
    a scan, not a shuffle."""
    return F.expr(f"array_min({_cell_structs_sql(vec_col, centroids)}).cell")


def _probe(q: DataFrame, centroids: list[list[float]], nprobe: int) -> DataFrame:
    """Fan each ``(q_id, q_vec)`` out to its ``nprobe`` nearest cells
    (rounded rank-equivalent distance, cell-id tie-break)."""
    qcells = q.select(
        "q_id",
        "q_vec",
        F.explode(F.expr(_cell_structs_sql("q_vec", centroids))).alias("_dc"),
    ).select("q_id", "q_vec", F.col("_dc.d").alias("d"), F.col("_dc.cell").alias("cell"))
    w = Window.partitionBy("q_id").orderBy(F.asc("d"), F.asc("cell"))
    return (
        qcells.withColumn("_pr", F.row_number().over(w))
        .filter(F.col("_pr") <= nprobe)
        .select("q_id", "q_vec", "cell")
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """IVF approximate top-k: exact cosine only within the ``nprobe``
    cells nearest to each query.

    The vector table is assigned once (``ivf_assign``, a narrow scan) —
    at scale it is *written partitioned by cell*, so a query touches
    nprobe/n_centroids of the data via partition pruning. Queries fan
    out to nprobe (query, cell) rows; the candidate join is an equi-join
    on cell, never a cross join.
    """
    v = _side(vectors, "nb").withColumn("cell", ivf_assign("nb_vec", centroids))
    probed = _probe(_side(queries, "q"), centroids, nprobe)
    # broadcast the (small) probed query fan-out: the vector table is the
    # big side and must not shuffle on a 16-value key — with the broadcast
    # it is scanned in place (and partition-pruned by cell when the index
    # is written partitioned by cell)
    return _cosine_top_k(v.join(F.broadcast(probed), "cell"), k)


def embedding_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    bands: int = 6,
    planes_per_band: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded LSH self-join.

    r=8, B=6 gives candidate recall 1-(1-p^8)^6 ~ 0.96 at cosine 0.95
    (p ~ 0.899) vs ~0.43 for the single-band design; false-candidate rate
    on orthogonal pairs is ~B/2^r ~ 2.3%, all killed by the exact-cosine
    verify below. Candidates come from :func:`dedup.self_join` on the
    (band, bucket) key.
    """
    plane_sets = band_planes(dim, bands, planes_per_band, seed)
    # both sides of the self-join consume the banded signatures (B*r
    # interpreted-HOF dot products per row); a barrier computes them once
    vb = scratch_persist(_explode_bands(_side(vectors, "v"), "v_vec", plane_sets))
    cand = self_join(vb, "v_id", ["_band", "_bucket"], carry=("v_vec",)).dropDuplicates(
        ["doc_a", "doc_b"]
    )
    return (
        cand.withColumn("score", F.round(cosine(F.col("v_vec_a"), F.col("v_vec_b")), 4))
        .filter(F.col("score") >= threshold)
        .select("doc_a", "doc_b", "score")
    )


def _cell_dist_sql(vec_sql: str, centroid: list[float]) -> str:
    """Rank-equivalent L2 distance to a literal centroid: |c|^2 - 2*v.c
    (the |v|^2 term is constant per row), rounded so the argmin is stable
    across engines' float summation orders. A SQL string: ONE parser call
    instead of a py4j round-trip per lambda/literal. With hundreds of
    centroid distances inlined (PQ codebooks), Column-API construction
    alone measured ~13 s; the string form parses in milliseconds."""
    c = "array(" + ", ".join(f"{x!r}D" for x in centroid) + ")"
    c2 = sum(x * x for x in centroid)
    return (
        f"round({c2!r}D - 2.0D * aggregate(zip_with({vec_sql}, {c},"
        f" (x, y) -> x * y), 0.0D, (acc, v) -> acc + v), 6)"
    )


def pq_code_sql(vec_sql: str, book: list[list[float]], m: int, sub_dim: int) -> str:
    """PQ code for subspace ``m``: nearest codebook entry to the m-th
    ``sub_dim``-wide slice of the vector (same rounded rank-equivalent
    distance + index tie-break as ``ivf_assign``). Narrow per-row
    expression — encoding 1e9 vectors is a scan, not a shuffle."""
    sub = f"slice({vec_sql}, {m * sub_dim + 1}, {sub_dim})"
    structs = ", ".join(
        f"named_struct('d', {_cell_dist_sql(sub, c)}, 'j', {j})"
        for j, c in enumerate(book)
    )
    return f"array_min(array({structs})).j"


def ivfpq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    books: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """IVF+PQ (the FAISS IVFADC composition): coarse IVF cells prune the
    candidate set, then candidates are ranked by the asymmetric-distance
    (ADC) estimate computed from their product-quantization codes — the
    database side never ships raw vectors into the ranking join, only
    ``len(books)`` small code integers per row.

    Every query row precomputes its ADC lookup table (one rounded
    rank-equivalent distance per (subspace, codebook entry) — M*K doubles)
    as literal column expressions; after the equi-join on cell the
    estimated distance is M array lookups + an ordered 4-term sum, rounded
    so both engines rank identically. At scale the code table is written
    partitioned by cell (partition pruning serves each query from
    nprobe/n_cells of the data) and is ~dim*8/M bytes smaller per vector
    than the raw table — the memory win that makes billion-scale ANN fit.
    """
    n_sub = len(books)
    sub_dim = len(books[0][0])
    # every centroid-distance expression below is a *_sql string form: one
    # parser call apiece instead of a py4j round-trip per literal/lambda
    # (Column-API construction alone measured ~13 s for this operator)
    coded = _side(vectors, "nb").select(
        "nb_id",
        ivf_assign("nb_vec", centroids).alias("cell"),
        *[
            F.expr(pq_code_sql("nb_vec", books[m], m, sub_dim)).alias(f"code_{m}")
            for m in range(n_sub)
        ],
    )
    probed = _probe(_side(queries, "q"), centroids, nprobe).select(
        "q_id",
        "cell",
        *[
            F.expr(
                "array("
                + ", ".join(
                    _cell_dist_sql(f"slice(q_vec, {m * sub_dim + 1}, {sub_dim})", c)
                    for c in books[m]
                )
                + ")"
            ).alias(f"lut_{m}")
            for m in range(n_sub)
        ],
    )
    adc = F.round(
        sum(
            F.element_at(F.col(f"lut_{m}"), F.col(f"code_{m}") + 1)
            for m in range(n_sub)
        ),
        4,
    )
    scored = (
        probed.join(coded, "cell")
        .filter(F.col("q_id") != F.col("nb_id"))
        .withColumn("adc", adc)
    )
    return _top_k(scored, k, score="adc", ascending=True)


def gram_power_iteration(
    emb: DataFrame, iters: int = 3, quant: int = 100, x_scale: int = 1000
) -> DataFrame:
    """Top-eigenvector power iteration over the Gram matrix of the
    embedding table, with exact integer arithmetic end to end.

    Vectors are quantized to centi-units (floor(x*quant)); the Gram
    matrix A = sum_vec v v^T is a DOUBLE posexplode (each row emits its
    own d^2 (i, j, v_i*v_j) products in place — no self-join, so the
    exploded corpus never crosses an exchange) + ONE groupBy (i, j) whose
    map-side combine collapses every task to at most d^2 partial rows
    (4096 for d=64) before the only shuffle. Measured 2x faster than the
    vec_id self-join form at sf0.1 and strictly better at scale: the join
    shuffles |vecs|*d rows twice, this shuffles d^2 per task.
    Each round computes y = A x as a tiny join+groupBy and renormalizes
    with sign(y) * (|y| * x_scale div max|y|): integer division of
    NON-NEGATIVE operands, so truncation == floor on every engine and the
    whole trajectory replays bit-identically in SQL (the same
    exact-arithmetic discipline as embedding_kmeans_lloyd).

    Scale shape: the expensive stage is the Gram groupBy — |vecs| * d^2
    product rows, map-side combinable to d^2 before the exchange. The
    iteration itself touches only d^2-row tables. Overflow headroom:
    |v| <= quant, so |A_ij| <= n_vecs * quant^2 and |y| <= d * A * x_scale
    — at 10^9 vectors with quant=100 that is ~6.4e18, so shrink quant (or
    pre-aggregate per partition into decimal) beyond ~10^8 vectors.
    """
    rows_i = emb.select(
        F.col("embedding").alias("e"),
        F.posexplode("embedding").alias("i", "vi"),
    )
    gram = (
        rows_i.select(
            "i",
            F.floor(F.col("vi").cast("double") * quant)
            .cast("long")
            .alias("qi"),
            F.posexplode("e").alias("j", "vj"),
        )
        .groupBy(
            F.col("i").cast("long").alias("i"),
            F.col("j").cast("long").alias("j"),
        )
        .agg(
            F.sum(
                F.col("qi")
                * F.floor(F.col("vj").cast("double") * quant).cast("long")
            ).alias("g")
        )
    )
    # d^2 rows, but its lineage scans every vector: persist so the
    # x0 derivation and each of the `iters` matvecs read the tiny
    # aggregate instead of re-running the corpus-sized groupBy
    gram = scratch_persist(gram)
    x = (
        gram.select(F.col("j").alias("dim"))
        .distinct()
        .select("dim", F.lit(x_scale).cast("long").alias("x"))
    )
    y = None
    for _ in range(iters):
        y = (
            gram.join(
                F.broadcast(x.select(F.col("dim").alias("j"), "x")), "j"
            )
            .groupBy(F.col("i").alias("dim"))
            .agg(F.sum(F.col("g") * F.col("x")).alias("y"))
        )
        m = y.agg(
            F.greatest(F.max(F.abs(F.col("y"))), F.lit(1)).alias("maxy")
        )
        x = y.crossJoin(F.broadcast(m)).select(
            "dim",
            (
                F.when(F.col("y") < 0, F.lit(-1)).otherwise(F.lit(1))
                * F.expr(f"(abs(y) * {x_scale}) div maxy")
            ).cast("long").alias("x"),
            "y",
        )
    return x.select("dim", "x", "y")
