"""The driver-contract harness's query-subset mode, through its CLI.

``tools/driver_sim.py <sf_dir> q1,q2`` checks only the named registry
queries against their DuckDB oracles. A misspelt name must fail loudly
(before any Spark session starts) instead of being skipped into a green
``0 OK, 0 FAIL`` run.
"""

from __future__ import annotations

import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent
SF = "/root/testdata/sf0.001"


def _driver_sim(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "tools/driver_sim.py", SF, *args],
        cwd=str(REPO),
        capture_output=True,
        text=True,
        timeout=600,
    )


def test_unknown_query_name_is_rejected():
    proc = _driver_sim("no_such_query")
    assert proc.returncode != 0, proc.stdout
    assert "no_such_query" in proc.stdout + proc.stderr


def _assert_subset_ok(names: str) -> None:
    proc = _driver_sim(names)
    assert proc.returncode == 0, f"stdout:\n{proc.stdout[-2000:]}\nstderr:\n{proc.stderr[-3000:]}"
    assert f"== {len(names.split(','))} OK, 0 FAIL" in proc.stdout, proc.stdout


def test_named_subset_runs_only_those_queries():
    _assert_subset_ok("dedup_exact_groups,tpch_q1")


def test_named_subset_exact_overlap_verifier_queries():
    """Every registry query built on the shared exact-overlap verifier
    (``dedup._pair_overlaps``), hash-checked against oracles that keep
    the independent posting-join formulation."""
    _assert_subset_ok(
        "dedup_minhash_verified,dedup_cluster_survivors,dedup_prefix_filter_join,"
        "dedup_incremental_minhash,dedup_blocking_eval,curation_flagship"
    )
