"""Synthesize a full sf1 test-data directory (round-5 directive 5).

The driver ships sf0.001/0.01/0.1 only; correctness has therefore never
been hash-checked above sf0.1, and the data-dependent oracles (IVF/kmeans/
SemDeDup centroid literals) regenerate per sf_dir — sf1 is where
volume-dependent breaks would surface. This tool builds a deterministic
sf1 directory with the exact driver schemas so ``tools/driver_sim.py
<out>/sf1`` can run the full registry against its DuckDB oracles at 10x
the bench scale.

Construction (all pure-column, seed-free, deterministic at any
parallelism):

- ``region``/``nation``: copied verbatim (fixed-size dimensions).
- ``customer``/``supplier``/``part``/``orders``/``lineitem``/``events``:
  the sf0.1 tables TILED 10x with disjoint per-replica key offsets,
  applied consistently across every foreign key — value distributions
  (dates, prices, statuses) are preserved exactly, joins stay
  referentially intact, and all TPC-H-shape date-literal filters keep
  selecting the same fraction.
- ``documents``: tiled 10x; replicas > 0 get every TOKEN suffixed with
  the replica tag, so the within-replica near-dup structure (what the
  dedup family mines) is preserved exactly while replicas share no
  shingles — without this, every doc would gain 9 exact clones and the
  pair-emitting dedup queries would measure a corpus that is 10x
  duplicates, not 10x bigger. ``n_chars`` is recomputed.
- ``embeddings``: tiled 10x; replicas > 0 get a small deterministic
  per-replica offset on the first component (distinct vectors, same
  cluster geometry).

Usage: python tools/synth_sf1.py [out_root] [src_dir] [replicas]
Defaults: /dev/shm/testdata_sf1 /root/testdata/sf0.1 10 -> writes
<out_root>/sf1/*.parquet.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")

from pyspark.sql import DataFrame, functions as F  # noqa: E402

# key offsets per replica: disjoint, far above every sf0.1 max key
OFF = {
    "custkey": 1_000_000,
    "orderkey": 10_000_000,
    "partkey": 1_000_000,
    "suppkey": 100_000,
    "event_id": 10_000_000,
    "user_id": 1_000_000,
    "doc_id": 1_000_000,
    "vec_id": 1_000_000,
}


def _tile(df: DataFrame, n: int, shifts: dict[str, str]) -> DataFrame:
    """Union n copies; copy i adds i*OFF[kind] to each keyed column."""
    out = None
    for i in range(n):
        rep = df
        for col, kind in shifts.items():
            rep = rep.withColumn(col, (F.col(col) + F.lit(i * OFF[kind])).cast("long"))
        out = rep if out is None else out.unionByName(rep)
    return out


def main() -> int:
    out_root = sys.argv[1] if len(sys.argv) > 1 else "/dev/shm/testdata_sf1"
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    n = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    from ner_spark.session import get_spark

    spark = get_spark("synth_sf1")
    out = os.path.join(out_root, "sf1")
    os.makedirs(out, exist_ok=True)

    def t(name: str) -> DataFrame:
        return spark.read.parquet(f"{src}/{name}.parquet")

    def w(df: DataFrame, name: str, parts: int = 8) -> None:
        # the driver's sf dirs hold ONE parquet FILE per table (DuckDB's
        # oracle views open them by exact filename), so stage to a dir and
        # promote the single part file; `parts` shapes upstream compute
        # parallelism before the final single-file coalesce
        import glob as _glob
        import shutil as _shutil

        staging = f"{out}/_stage_{name}"
        df.repartition(parts).coalesce(1).write.mode("overwrite").parquet(staging)
        [part] = _glob.glob(f"{staging}/part-*.parquet")
        _shutil.move(part, f"{out}/{name}.parquet")
        _shutil.rmtree(staging)
        print(f"{name}: {spark.read.parquet(f'{out}/{name}.parquet').count()} rows")

    w(t("region").coalesce(1), "region", 1)
    w(t("nation").coalesce(1), "nation", 1)
    w(_tile(t("customer"), n, {"c_custkey": "custkey"}), "customer", 4)
    w(_tile(t("supplier"), n, {"s_suppkey": "suppkey"}), "supplier", 1)
    w(_tile(t("part"), n, {"p_partkey": "partkey"}), "part", 4)
    w(
        _tile(t("orders"), n, {"o_orderkey": "orderkey", "o_custkey": "custkey"}),
        "orders",
        8,
    )
    w(
        _tile(
            t("lineitem"),
            n,
            {
                "l_orderkey": "orderkey",
                "l_partkey": "partkey",
                "l_suppkey": "suppkey",
            },
        ),
        "lineitem",
        16,
    )
    w(
        _tile(t("events"), n, {"event_id": "event_id", "user_id": "user_id"}),
        "events",
        8,
    )

    # documents: per-replica token suffix keeps replicas shingle-disjoint
    docs = t("documents")
    reps = []
    for i in range(n):
        rep = docs.withColumn(
            "doc_id", (F.col("doc_id") + F.lit(i * OFF["doc_id"])).cast("long")
        )
        if i > 0:
            # letters only: the driver corpus is lowercase-token text and
            # the flagship oracle ASSERTS that invariant (a digit in the
            # tag fails the whole replay)
            tag = "q" + chr(ord("a") + i)
            rep = rep.withColumn(
                "text",
                F.when(
                    F.col("text").isNotNull(),
                    F.array_join(
                        F.transform(
                            F.split(F.col("text"), " "),
                            lambda tok: F.concat(tok, F.lit(tag)),
                        ),
                        " ",
                    ),
                ),
            )
        rep = rep.withColumn(
            "n_chars", F.coalesce(F.length("text").cast("long"), F.lit(0))
        )
        reps.append(rep)
    alldocs = reps[0]
    for r in reps[1:]:
        alldocs = alldocs.unionByName(r)
    w(alldocs, "documents", 8)

    # embeddings: distinct vectors per replica, same cluster geometry
    emb = t("embeddings")
    ereps = []
    for i in range(n):
        rep = emb.withColumn(
            "vec_id", (F.col("vec_id") + F.lit(i * OFF["vec_id"])).cast("long")
        )
        if i > 0:
            delta = i * 1e-4
            rep = rep.withColumn(
                "embedding",
                F.concat(
                    F.array((F.element_at("embedding", 1) + F.lit(delta)).cast("float")),
                    F.slice("embedding", 2, 63),
                ),
            )
        ereps.append(rep)
    allemb = ereps[0]
    for r in ereps[1:]:
        allemb = allemb.unionByName(r)
    w(allemb, "embeddings", 4)

    print(f"sf1 written to {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
