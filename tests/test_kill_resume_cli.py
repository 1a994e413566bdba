"""Round-5 directive 7: kill-resume through the real CLI, via the
kill_resume_bench orchestrator (SIGKILL mid-stage, identical re-run,
manifest-diff zero-recompute invariant, value-identical tables vs an
uninterrupted control, takeover of the killed writer's lock file).

This is the small-scale CI version (3 subprocess pipeline runs at 20k
docs, ~2-3 min); the at-scale 4.8M-doc evidence is a dated BENCH section
produced by running the same tool with its defaults
(``python tools/kill_resume_bench.py`` -> BENCH/kill_resume_r05.json).
"""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys

import pytest

REPO = pathlib.Path(__file__).resolve().parent.parent


@pytest.mark.slow
def test_kill_resume_cli_small_scale(tmp_path):
    out_json = tmp_path / "kill_resume.json"
    proc = subprocess.run(
        [
            sys.executable,
            "tools/kill_resume_bench.py",
            "20000",
            str(out_json),
            "--kill-stage",
            "s3_consensus",
            "--work-root",
            str(tmp_path / "work"),
        ],
        cwd=str(REPO),
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, f"stdout:\n{proc.stdout[-2000:]}\nstderr:\n{proc.stderr[-3000:]}"
    report = json.loads(out_json.read_text())
    assert report["ok"] is True, report["failures"]
    # the kill landed mid-s3: earlier stages were complete and were NOT
    # recomputed on resume
    assert report["per_stage"]["s0_normalize"]["computed_on_resume"] == 0
    assert report["per_stage"]["s1_dedup"]["computed_on_resume"] == 0
    # the killed writer left its lock; takeover happened (run 2 finished)
    assert any("s3_consensus" in lk for lk in report["stale_locks_left_by_kill"])
    # final tables value-identical to the uninterrupted control
    assert all(v["identical"] for v in report["tables"].values())
