"""Benchmark self-test on tiny inputs (a few minutes; not part of tests/).

    python3 -m pytest perfbench/tests -q

Checks that every metric name and unit in BENCHMARK.json is printed, that
the traced record holds every layer key, that a deliberately corrupted
output fails the check, and that the command refuses to run without the
program.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import checks, run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
    SPEC = json.load(f)


@pytest.fixture(autouse=True)
def tiny(monkeypatch):
    monkeypatch.setattr(run, "KG_DOCS", 150)
    monkeypatch.setattr(run, "KG_BUCKETS", 4)
    monkeypatch.setattr(run, "REGISTRY_QUERIES", ["dedup_exact_groups", "tpch_q6"])


def bench(workload: str, trace: int, seed: int = 5) -> tuple[int, dict]:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        code = run.main(
            ["--workload", workload, "--seed", str(seed), "--seconds", "1", "--trace", str(trace)]
        )
    return code, json.loads(buf.getvalue().strip().splitlines()[-1])


def expected(section: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[section]}


def printed(out: dict) -> dict[str, str]:
    return {k: v["unit"] for k, v in out["metrics"].items()}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_end_to_end_metrics_printed_and_checked(workload):
    code, out = bench(workload, trace=0)
    assert code == 0 and out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert printed(out) == expected("end_to_end")
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_record_holds_every_layer_key(workload):
    code, out = bench(workload, trace=1)
    assert code == 0 and out["correct"]
    assert printed(out) == expected("per_layer")
    m = {k: v["value"] for k, v in out["metrics"].items()}
    if workload == "kg_build_resume":
        assert m["extractors.python_s"] > 0 and m["build.catalog.write_s"] > 0
        assert m["resume.runner.s3_consensus.computed_buckets"] == 0
        assert m["resume.runner.s7_edges.computed_buckets"] > 0
        assert m["dedup.wall_s"] == 0
    else:
        assert m["dedup.wall_s"] > 0 and m["query.exec_s"] > 0
        assert m["build.catalog.write_s"] == 0 and m["extractors.python_s"] == 0


def test_dropped_kg_row_fails_the_check(monkeypatch):
    real = checks.read_table

    def drop_one(catalog, table):
        df = real(catalog, table)
        return df.iloc[1:] if table == "s3_consensus" else df

    monkeypatch.setattr(checks, "read_table", drop_one)
    code, out = bench("kg_build_resume", trace=0)
    assert code == 1 and not out["correct"] and out["failed"] == 1


def test_dropped_query_row_fails_the_check(monkeypatch):
    real = checks.check_registry

    def drop_one(got, want):
        name = "tpch_q6"
        got = dict(got, **{name: dict(got[name], rows=got[name]["rows"] - 1, hash="dropped")})
        return real(got, want)

    monkeypatch.setattr(checks, "check_registry", drop_one)
    code, out = bench("registry_query", trace=0)
    # every pass of the one corrupted query fails
    assert code == 1 and not out["correct"] and out["failed"] == out["attempted"] // 2


def test_refuses_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    p = subprocess.run(
        [sys.executable, *SPEC["command"], "--workload", "registry_query", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=180,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
