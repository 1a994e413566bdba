"""Head-to-head: single-node pandas reference formulation vs the engine.

The reference published no wall-clock numbers (BASELINE.md: "Wall-clock /
docs-per-sec — not published"), so the single-node baseline the task asks
us to match-or-beat is measured here directly: ``oracle/pandas_oracle.py``
is the reference's literal formulation (iterated outer-join consensus
fold, transform vote, NaN-quirk promotion, explode/collapse corrections —
reference: src/utils/ner_config.py:57-197), proven row-for-row equal to
the engine in tests/test_golden.py. This script runs BOTH over the SAME
deterministic synthetic corpus (synth.synth_docs, the bench generator):

- pandas side: single process, single thread — the reference's execution
  model (its pipeline is a sequence of per-DataFrame pandas calls);
- engine side: ``KGPipeline.run`` (clean -> extract -> consensus -> vote
  -> promote -> triples, the chain bench.py's kg_pipeline_synth times) at
  local[CPUS], forced end-to-end by counting the triples.

Timers exclude corpus generation/transfer on both sides (the pandas input
is fully materialized in memory before its clock starts; the engine's
generator is column expressions fused into its scan stage — it has no
separate materialization to exclude).

Usage: python tools/single_node_vs_engine.py [n_docs] [cpus]
(``cpus`` defaults to this machine's usable cores,
``ner_spark.session.machine_size``.)
Prints one JSON line; append to BENCH/ for the record.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")


def main() -> int:
    from pyspark.sql import functions as F

    from ner_spark import synth
    from ner_spark.plans.pipeline import KGPipeline
    from ner_spark.session import get_spark, machine_size
    from oracle import pandas_oracle as O

    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else machine_size()[0]

    spark = get_spark(
        "single_node_vs_engine", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    docs = synth.synth_docs(spark, n_docs, seed=42)
    gaz = synth.synth_gazetteer(spark)
    pat = synth.synth_patterns(spark)
    combos = [c["slots"] for c in synth.TRUSTED_COMBOS]

    # ---- single-node pandas (reference formulation) ----
    docs_pdf = docs.toPandas()  # materialized BEFORE the clock
    gaz_rows = [
        (r["alias"], r["label"])
        for r in gaz.select("alias", "label", "weight")
        .orderBy(F.desc("weight"), "alias", "label")
        .collect()
    ]
    pattern_rows = [
        (r["pattern_id"], r["regex"], r["label"])
        for r in pat.select("pattern_id", "regex", "label")
        .orderBy("pattern_id")
        .collect()
    ]
    t0 = time.time()
    out = O.run(docs_pdf, gaz_rows, pattern_rows, combos, None)
    n_triples_pandas = len(out["triples"])
    pandas_sec = time.time() - t0

    # ---- engine (KGPipeline.run, as bench.py's kg_pipeline_synth) ----
    pipe = KGPipeline(gazetteer=gaz, patterns=pat, trusted_combos=combos)

    def run_engine() -> tuple[float, int]:
        t0 = time.time()
        n = pipe.run(docs)["triples"].count()
        sec = time.time() - t0
        pipe.unpersist()
        return sec, n

    engine_sec, n_triples_engine = run_engine()  # cold: JIT + codegen + workers
    engine_warm_sec, _ = run_engine()

    print(
        json.dumps(
            {
                "n_docs": n_docs,
                "cpus": cpus,
                "pandas_sec": round(pandas_sec, 2),
                "pandas_docs_per_sec": round(n_docs / pandas_sec, 1),
                "engine_sec": round(engine_sec, 2),
                "engine_docs_per_sec": round(n_docs / engine_sec, 1),
                "engine_warm_sec": round(engine_warm_sec, 2),
                "engine_warm_docs_per_sec": round(n_docs / engine_warm_sec, 1),
                "speedup_cold": round(pandas_sec / engine_sec, 2),
                "speedup_warm": round(pandas_sec / engine_warm_sec, 2),
                "n_triples_pandas": n_triples_pandas,
                "n_triples_engine": n_triples_engine,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
