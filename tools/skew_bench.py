"""Skewed-corpus bench: linking + canonicalization under a 5% hot key.

Round-4 directive 5: the repo *claims* its skew defenses (broadcast linking
join, map-side-combinable aggregates, star-algorithm CC, salted self-join
for hot blocks) make hot surface forms harmless — this measures it instead.

Two deterministic synthetic mention corpora at the same size N:
  - unskewed: surfaces uniform over a 20k-entity gazetteer;
  - skewed: ONE surface ("atlantis") carries 5% of ALL mentions and is an
    ambiguous alias bridging 50 entities (the CC hot node).
Job under test = the S5+S6 chain: link_mentions (broadcast gazetteer join +
per-mention best-candidate aggregate) -> canonical_entities (bipartite
edge build + connected components), fully materialized. PASS per the
directive: wall(skewed) <= 1.5 x wall(unskewed).

A second microbench isolates the self-join defense under at-scale join
conditions (auto-broadcast off — at corpus scale neither side fits in
broadcast range): one hot blocking key emitting ~450M pairs, plain
equi-self-join (one reducer owns the hot block; AQE cannot help because
its skew heuristics see input bytes, not output pairs) vs
skew_aware_self_join (hot block salted across n_salt reducers, cold
blocks untouched). Same pair set, different reducer shape.

Usage: python tools/skew_bench.py [n_mentions] [out_json]
Defaults: 4_800_000 mentions, BENCH/skew_bench_r04.json.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

N_ENTITIES = 20_000
HOT_SURFACE = "atlantis"
HOT_FRACTION = 20  # 1/20 = 5% of mentions
HOT_ALIAS_ENTITIES = 50


def build_gazetteer(spark):
    """20k entities, surface e{i}; the hot surface is an ambiguous alias of
    50 of them (what makes the CC node hot)."""
    base = spark.range(N_ENTITIES).select(
        F.concat(F.lit("E"), F.col("id")).alias("entity_id"),
        F.concat(F.lit("e"), F.col("id")).alias("alias"),
        F.concat(F.lit("e"), F.col("id")).alias("alias_norm"),
        F.element_at(
            F.array(F.lit("PER"), F.lit("LOC"), F.lit("ORG")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("label"),
        F.lit(0.9).alias("weight"),
    )
    hot = spark.range(HOT_ALIAS_ENTITIES).select(
        F.concat(F.lit("E"), F.col("id") * 101).alias("entity_id"),
        F.lit(HOT_SURFACE).alias("alias"),
        F.lit(HOT_SURFACE).alias("alias_norm"),
        F.lit("LOC").alias("label"),
        (F.lit(0.5) + F.col("id") / 1000.0).alias("weight"),
    )
    return base.unionByName(hot)


def build_mentions(spark, n: int, skewed: bool):
    """Deterministic mention table: doc_uid d{id/3}, surface either uniform
    (unskewed) or with every HOT_FRACTION-th mention pinned to the hot
    surface (5%)."""
    m = spark.range(n).select(
        F.col("id"),
        F.concat(F.lit("d"), (F.col("id") / 3).cast("long")).alias("doc_uid"),
        F.pmod(F.xxhash64(F.col("id")), F.lit(N_ENTITIES)).alias("_e"),
    )
    surface = F.concat(F.lit("e"), F.col("_e"))
    if skewed:
        surface = F.when(
            F.col("id") % HOT_FRACTION == 0, F.lit(HOT_SURFACE)
        ).otherwise(surface)
    return m.select(
        "doc_uid",
        surface.alias("NE"),
        F.element_at(
            F.array(F.lit("PER"), F.lit("LOC"), F.lit("ORG")),
            (F.col("_e") % 3 + 1).cast("int"),
        ).alias("label"),
        (F.col("id") % 997).cast("int").alias("start"),
        (F.col("id") % 997 + 8).cast("int").alias("end"),
        F.lit("gazetteer").alias("method"),
    )


def run_chain(spark, mentions, gaz) -> float:
    from ner_spark.operators.canonicalize import canonical_entities
    from ner_spark.operators.linking import link_mentions

    t0 = time.time()
    linked = link_mentions(mentions, gaz)
    canon = canonical_entities(linked)
    # materialize the full chain: canonical assignment joined back is the
    # stage output; noop write forces every row without driver transfer
    linked.join(canon, "entity_id", "left").write.format("noop").mode(
        "overwrite"
    ).save()
    return time.time() - t0


def selfjoin_micro(spark, n_rows: int = 60_000, reps: int = 3) -> dict:
    """Plain vs skew-aware self-join under at-scale join conditions.

    One block holds half the table (30k rows, ~1 MB input) and emits
    ~450M pairs. Two findings this micro encodes:

    - AQE is NOT a sufficient skew defense for pair-emitting self-joins:
      its skew split and coalescing are driven by partition INPUT bytes,
      and a 1 MB hot block producing 10^8-10^10 output pairs is invisible
      to both. Worse, at toy sizes AQE broadcasts the whole join, putting
      every hot-block pair back into the single probe task that owns the
      hot key's upstream partition.
    - auto-broadcast is disabled for the measurement because that is the
      100 TB condition (neither side of a corpus-scale self-join fits in
      broadcast range); with it, the plain join serializes the hot block
      on one reducer while skew_aware spreads the same pair set across
      n_salt reducers.

    Reports min over ``reps`` runs (this VM throttles bistably; minima are
    the comparable statistic, per BENCH protocol).
    """
    from ner_spark.operators.canonicalize import skew_aware_self_join

    ent = spark.range(n_rows).select(
        F.when(F.col("id") % 2 == 0, F.lit("hotblock"))
        .otherwise(F.concat(F.lit("b"), F.pmod(F.xxhash64("id"), F.lit(5000))))
        .alias("block"),
        F.concat(F.lit("v"), F.col("id")).alias("val"),
    )
    a = ent.alias("l")
    b = ent.alias("r")
    plain = (
        a.join(
            b,
            (F.col("l.block") == F.col("r.block"))
            & (F.col("l.val") < F.col("r.val")),
        )
        .select(F.col("l.block"), F.col("l.val"), F.col("r.val"))
    )
    salted = skew_aware_self_join(ent, "block", hot_threshold=1000, n_salt=16)
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        walls = {}
        for tag, df in (("plain", plain), ("skew_aware", salted)):
            runs = []
            for _ in range(reps):
                t0 = time.time()
                df.write.format("noop").mode("overwrite").save()
                runs.append(time.time() - t0)
            walls[tag] = round(min(runs), 2)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
    return {
        "n_rows": n_rows,
        "hot_block_rows": n_rows // 2,
        "wall_plain_sec": walls["plain"],
        "wall_skew_aware_sec": walls["skew_aware"],
        "speedup": round(walls["plain"] / walls["skew_aware"], 2),
    }


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 4_800_000
    out_path = sys.argv[2] if len(sys.argv) > 2 else "BENCH/skew_bench_r04.json"

    from ner_spark.session import get_spark, machine_size

    cpus, _ = machine_size()
    spark = get_spark("skew_bench", master=f"local[{cpus}]", shuffle_partitions=cpus)
    gaz = build_gazetteer(spark).persist()
    gaz.count()

    walls = {}
    # warm once (JIT, parquet-free so the only variance is the chain) then
    # measure each variant; unskewed first so any residual warm-up bias
    # *hurts* the claim rather than helping it
    run_chain(spark, build_mentions(spark, max(n // 10, 1000), skewed=False), gaz)
    for label, skewed in (("unskewed", False), ("skewed", True)):
        walls[label] = round(run_chain(spark, build_mentions(spark, n, skewed), gaz), 2)
    ratio = round(walls["skewed"] / walls["unskewed"], 3)
    micro = selfjoin_micro(spark)
    result = {
        "n_mentions": n,
        "cpus": cpus,
        "hot_fraction_pct": 100.0 / HOT_FRACTION,
        "wall_unskewed_sec": walls["unskewed"],
        "wall_skewed_sec": walls["skewed"],
        "skew_ratio": ratio,
        "pass_1p5x": ratio <= 1.5,
        "selfjoin_micro": micro,
    }
    print(json.dumps(result))
    with open(out_path, "w", encoding="utf-8") as f:
        json.dump(result, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
