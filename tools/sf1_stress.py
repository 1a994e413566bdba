"""sf1 stress pass for the quadratic-residual dedup suspects.

Round-4 directive 6: the four most expensive dedup queries are
blocking-join shaped with df-caps; the claim is that their wall-time grows
~linearly in corpus size *because* the caps bound candidate volume. This
measures it: the same deterministic document generator (mimicking the
driver testdata's distribution — 31-word vocab, ~50-token docs, exact-dup
and near-dup planted pairs, en-heavy lang mix) at 5k docs (= sf0.1's
documents row count) and at 50k docs (= sf1), each query timed at both
sizes, growth ratio reported against the 10x size factor. A query growing
super-linearly has its cap/blocking parameter flagged.

The driver's real sf0.1 directory is also timed as an anchor so the
synthetic 5k point can be sanity-checked against the production bench.

Usage: python tools/sf1_stress.py [out_json]
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

QUERIES = [
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_prefix_filter_join",
    "dedup_blocking_eval",
]

VOCAB = (
    "spark batch stream part line column order small sort fast value scan "
    "hash slow group agg filter query big key window row table data merge "
    "join plan node task stage shard"
).split()  # 31 words, like the driver generator's


def synth_documents(spark, n_docs: int, out_dir: str) -> None:
    """Deterministic documents.parquet: ~55-token docs over the 31-word
    vocab; every 50th doc is an exact duplicate of doc_id-25 and every
    37th a near-duplicate (one word changed) — the planted pair classes
    the dedup family must keep finding at any scale."""
    n_tok = 55
    base = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    # seed word index per (doc, pos): xxhash-driven, fully deterministic
    words = F.expr(
        f"array_join(transform(sequence(0, {n_tok - 1}), "
        f"p -> element_at(split('{' '.join(VOCAB)}', ' '), "
        f"cast(pmod(xxhash64(doc_id, p), {len(VOCAB)}) + 1 as int))), ' ')"
    )
    docs = base.select(
        "doc_id",
        F.when(
            (F.col("doc_id") % 50 == 0) & (F.col("doc_id") >= 25),
            F.expr(
                f"array_join(transform(sequence(0, {n_tok - 1}), "
                f"p -> element_at(split('{' '.join(VOCAB)}', ' '), "
                f"cast(pmod(xxhash64(doc_id - 25, p), {len(VOCAB)}) + 1 as int))), ' ')"
            ),
        )
        .when(
            (F.col("doc_id") % 37 == 0) & (F.col("doc_id") >= 11),
            F.concat(
                F.expr(
                    f"array_join(transform(sequence(0, {n_tok - 2}), "
                    f"p -> element_at(split('{' '.join(VOCAB)}', ' '), "
                    f"cast(pmod(xxhash64(doc_id - 11, p), {len(VOCAB)}) + 1 as int))), ' ')"
                ),
                F.lit(" changed"),
            ),
        )
        .otherwise(words)
        .alias("text"),
        F.element_at(
            F.array(*[F.lit(x) for x in ("en", "en", "en", "fr", "de")]),
            (F.pmod(F.xxhash64("doc_id"), F.lit(5)) + 1).cast("int"),
        ).alias("lang"),
        F.concat(F.lit("src"), F.pmod(F.xxhash64("doc_id", F.lit(7)), F.lit(20))).alias(
            "source"
        ),
    ).withColumn("n_chars", F.length("text").cast("long"))
    docs.coalesce(4).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "BENCH/sf1_stress_r04.json"
    import __spark_entry__ as E
    from ner_spark.operators.scratch import release_scratch
    from ner_spark.session import get_spark, machine_size

    cpus, _ = machine_size()
    spark = get_spark("sf1_stress", master=f"local[{cpus}]", shuffle_partitions=cpus)
    qs = E.queries()

    dirs = {"synth_5k": 5_000, "synth_50k": 50_000}
    roots = {}
    for tag, n in dirs.items():
        root = f"/dev/shm/sf1_stress/{tag}"
        synth_documents(spark, n, root)
        roots[tag] = root
    roots["driver_sf0.1"] = "/root/testdata/sf0.1"

    result: dict[str, dict] = {"cpus": cpus, "queries": {}}
    for name in QUERIES:
        fn = qs[name]
        walls = {}
        for tag in ("driver_sf0.1", "synth_5k", "synth_50k"):
            t0 = time.time()
            fn(spark, roots[tag]).write.format("noop").mode("overwrite").save()
            walls[tag] = round(time.time() - t0, 2)
            release_scratch()
        growth = round(walls["synth_50k"] / walls["synth_5k"], 2)
        result["queries"][name] = {
            **walls,
            "growth_10x": growth,
            "linear_ok": growth <= 12.0,  # ~linear: 10x data, <=~1.2x/doc overhead
        }
        print(name, result["queries"][name])
    with open(out_path, "w", encoding="utf-8") as f:
        json.dump(result, f, indent=1)
    print(json.dumps({k: v for k, v in result.items() if k == "queries"}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
