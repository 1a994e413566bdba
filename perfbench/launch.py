"""Program host for one benchmark run: ``python3 perfbench/launch.py SPEC``.

Started by ``run.py`` in a fresh process. It sets up the program's Spark
session and first Python worker, generates the seeded input, runs the
workload's timed operations through the program's public entry points
(``run_pipeline.main``, ``ner_spark.queries.Q``), then, untimed, collects
what the output checks need (the kg oracle's inputs). With ``trace`` set in the spec it also wraps
spans around each layer's public calls and enables the Spark event log.
Everything is written as JSON to the spec's ``result`` path.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import sys
import time

import pandas as pd


def warm_python_worker(spark) -> None:
    """Run one pandas UDF job so the first Python worker is up."""
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def ident(s: pd.Series) -> pd.Series:
        return s

    spark.range(4).select(ident("id")).write.format("noop").mode("overwrite").save()


def run_cli(argv: list[str]) -> dict:
    """``run_pipeline.main(argv)``; returns its JSON metrics line."""
    import run_pipeline

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        code = run_pipeline.main(argv)
    if code != 0:
        raise RuntimeError(f"run_pipeline exited {code}")
    return json.loads(buf.getvalue().strip().splitlines()[-1])


def truncate_after_s5(src: str, dst: str) -> None:
    """Copy a finished catalog without s6..s8: the state of a run stopped
    after s5 (what ``run_pipeline.py --skip-canonical`` leaves)."""
    from perfbench.checks import RESUMED

    shutil.copytree(src, dst)
    for table in RESUMED:
        shutil.rmtree(os.path.join(dst, table))
        for suffix in (".manifest.jsonl", ".fingerprint"):
            os.remove(os.path.join(dst, table + suffix))


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring Spark's marker files."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def kg_ops(spark, spec: dict, tracer, res: dict) -> None:
    from perfbench import gen

    kg = spec["kg"]
    work = spec["work"]
    inp = gen.kg_docs(spark, os.path.join(work, "input"), spec["seed"], kg["n_docs"])
    res["input_bytes"] = dir_stats(inp)[1]
    base = ["--input", inp, "--n-buckets", str(kg["n_buckets"])]
    t_begin = time.time()
    i = 0
    while i == 0 or time.time() - t_begin < spec["seconds"]:
        build, resume = os.path.join(work, f"build{i}"), os.path.join(work, f"resume{i}")
        with phase(tracer, "kg.build"):
            t0 = time.time()
            build_json = run_cli(base + ["--out", build])
            t1 = time.time()
        truncate_after_s5(build, resume)
        before = dir_stats(resume)
        with phase(tracer, "kg.resume"):
            t2 = time.time()
            resume_json = run_cli(base + ["--out", resume])
            t3 = time.time()
        after = dir_stats(resume)
        res["ops"].append(
            {
                "intervals": [[t0, t1], [t2, t3]],
                "build_s": t1 - t0,
                "resume_s": t3 - t2,
                "n_docs": build_json["n_docs"],
                "stage_s": {
                    f"{half}.{st['stage']}": st["wall_ms"] / 1e3
                    for half, out in (("build", build_json), ("resume", resume_json))
                    for st in out["stages"]
                },
                "resume_stages": resume_json["stages"],
                "build_written": dir_stats(build),
                "resume_written": [after[0] - before[0], after[1] - before[1]],
                "build_dir": build,
                "resume_dir": resume,
            }
        )
        i += 1
    # untimed: the oracle's tagger inputs, as tests/conftest.py collects them
    from ner_spark import synth
    from pyspark.sql import functions as F

    res["gaz_rows"] = [
        (r["alias"], r["label"])
        for r in synth.synth_gazetteer(spark)
        .orderBy(F.desc("weight"), "alias", "label")
        .collect()
    ]
    res["pattern_rows"] = [
        (r["pattern_id"], r["regex"], r["label"])
        for r in synth.synth_patterns(spark).orderBy("pattern_id").collect()
    ]


def registry_ops(spark, spec: dict, tracer, res: dict) -> None:
    """Passes over the queries in one session: one warm-up pass, then timed
    passes until ``seconds`` have passed. Each query is forced by
    collecting its result, which is also what the output check hashes
    (small results: hashing is a negligible part of a pass)."""
    from ner_spark.operators.scratch import release_scratch

    import __spark_entry__
    from perfbench.checks import value_hash

    queries = __spark_entry__.queries()  # imports every registry module
    data = spec["registry"]["data_dir"]
    order = spec["registry"]["queries"]

    def one_pass(span: str) -> dict:
        op = {"query_s": {}, "results": {}}
        p0 = time.time()
        with phase(tracer, span):
            for name in order:
                with phase(tracer, f"query.{name}"):
                    q0 = time.time()
                    with phase(tracer, "query.build"):
                        df = queries[name](spark, data)
                    with phase(tracer, "query.collect"):
                        pdf = df.toPandas()
                    q1 = time.time()
                release_scratch()
                op["query_s"][name] = q1 - q0
                op["results"][name] = {
                    "rows": len(pdf),
                    "cols": sorted(pdf.columns),
                    "hash": value_hash(pdf),
                }
        op["intervals"] = [[p0, time.time()]]
        return op

    # the first pass compiles (JIT, codegen) and is checked but not timed
    res["ops"].append(dict(one_pass("registry.warmup"), warmup=True))
    t_begin = time.time()
    while len(res["ops"]) < 2 or time.time() - t_begin < spec["seconds"]:
        res["ops"].append(one_pass("registry.pass"))


@contextlib.contextmanager
def phase(tracer, name: str):
    if tracer is None:
        yield None
        return
    with tracer.span(name) as rec:
        prev, tracer.root = tracer.root, rec["id"]
        try:
            yield rec
        finally:
            tracer.root = prev


def main(spec_path: str) -> int:
    with open(spec_path, encoding="utf-8") as f:
        spec = json.load(f)
    sys.path.insert(0, spec["root"])
    res: dict = {"ops": []}
    tracer = None
    if spec["trace"]:
        from perfbench.trace import Tracer, instrument

        tracer = Tracer()
        instrument(tracer)

    from ner_spark.session import get_spark

    t0 = time.time()
    if spec["workload"] == "registry_query":
        spark = get_spark("perfbench_registry")
    else:
        # the CLI's own get_spark call (run_pipeline.main), so the
        # pipeline reuses this session
        spark = get_spark("kg_pipeline", extra_conf={"spark.scheduler.mode": "FAIR"})
    res["session_s"] = time.time() - t0
    warm_python_worker(spark)
    res["ready"] = time.time()
    if tracer is not None:
        tracer.sc = spark.sparkContext

    try:
        if spec["workload"] == "registry_query":
            registry_ops(spark, spec, tracer, res)
        else:
            kg_ops(spark, spec, tracer, res)
    finally:
        if tracer is not None:
            res["spans"] = tracer.spans
        res["event_log"] = spark.sparkContext.applicationId
        spark.stop()
        res["end"] = time.time()
        with open(spec["result"], "w", encoding="utf-8") as f:
            json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
