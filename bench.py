"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "total_sec", "value": N, "unit": "sec",
     "queries": {...per-query seconds...}, "sf": ...,
     "kg_docs_per_sec": ..., "n_bench_docs": ...}

Each query is forced end-to-end with a noop-format write (full execution,
no driver collect). The KG pipeline throughput number runs
KGPipeline.run (clean -> extract -> consensus -> triples) over BENCH_DOCS
synthetic interleaved docs (deterministic generator; same rows at any
parallelism), forcing its triples with a noop write. Cores and
driver heap default to this machine's (ner_spark.session.machine_size).
"""

import json
import os
import re
import time

import pandas as pd


def _force(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def _probe_gbps(seconds: float = 2.0) -> float:
    """Single-proc memcpy bandwidth (pure numpy, no JVM). The hypervisor
    throttles this box bistably (0.01 -> 10+ GB/s within minutes, see
    BENCH/BASELINE.md); stamping the phase before/after lets any reader
    tell a clean measurement from a throttled one without guessing from
    the walls themselves."""
    import numpy as np

    a = np.zeros(8_000_000)
    b = np.ones(8_000_000)
    t0 = time.time()
    n = 0
    while time.time() - t0 < seconds:
        np.copyto(a, b)
        n += 1
    return round(n * 64_000_000 / (time.time() - t0) / 1e9, 3)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_bench_docs = int(os.environ.get("BENCH_DOCS", "200000"))

    from ner_spark import queries as Qmod
    from ner_spark import synth
    from ner_spark.plans.pipeline import KGPipeline
    from ner_spark.session import get_spark, machine_size

    cpus, driver_mem = machine_size()
    probe_before = _probe_gbps()

    spark = get_spark("bench", master=f"local[{cpus}]", shuffle_partitions=cpus)

    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    timings: dict[str, float] = {}

    # warm up the Python worker fleet once (first pandas-UDF job pays the
    # per-core interpreter+pandas import storm; steady-state throughput is
    # what the bench measures)
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    spark.range(cpus * 4).select(_warm(F.col("id"))).write.format("noop").mode(
        "overwrite"
    ).save()

    # KG pipeline throughput over synthetic interleaved docs
    gaz = synth.synth_gazetteer(spark)
    pat = synth.synth_patterns(spark)
    combos = [c["slots"] for c in synth.TRUSTED_COMBOS]
    pipe = KGPipeline(gazetteer=gaz, patterns=pat, trusted_combos=combos)
    docs = synth.synth_docs(spark, n_bench_docs, seed=42)

    def run_pipe() -> float:
        t0 = time.time()
        _force(pipe.run(docs)["triples"])
        sec = time.time() - t0
        pipe.unpersist()
        return sec

    # the KG passes run BEFORE the registry loop, whose flagship queries
    # compile the same extraction/consensus/triples chain: the first run
    # is cold (it pays that chain's JIT, codegen and Python-worker module
    # imports, fixed costs that vanish on a long-running cluster app); the
    # second, same-JVM run is the steady state, so the cold/warm split is
    # that one-time cost. A probe stamp BETWEEN the two runs makes a
    # mid-measurement throttle phase flip attributable: warm < cold with
    # probe_mid far below probe_before is the hypervisor, not the code.
    kg_sec = run_pipe()
    probe_mid = _probe_gbps()
    kg_sec_warm = run_pipe()
    timings["kg_pipeline_synth"] = round(kg_sec, 3)

    # registry queries (oracle-checked operator set; includes the flagship
    # KG chain, registered with its SQL oracle in queries_flagship)
    from ner_spark.operators.scratch import release_scratch

    for name, fn in Qmod.Q.items():
        t0 = time.time()
        _force(fn(spark, sf_dir))
        timings[name] = round(time.time() - t0, 3)
        # drop the query's scratch caches (posting lists, candidate sets)
        # so 184 queries don't accumulate pinned storage; the flagship
        # stage memo intentionally does not register and stays cached
        release_scratch()

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "total_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "kg_docs_per_sec": round(n_bench_docs / kg_sec, 1),
                "kg_docs_per_sec_warm": round(n_bench_docs / kg_sec_warm, 1),
                "n_bench_docs": n_bench_docs,
                "cpus": cpus,
                "driver_mem": driver_mem,
                "probe_gbps_before": probe_before,
                "probe_gbps_mid_pipe": probe_mid,
                "probe_gbps_after": _probe_gbps(),
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
