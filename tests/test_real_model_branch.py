"""Round-5 directive 6: execute the REAL model branches in CI.

There is one extraction pass, ``combined_mentions``
(ner_spark/extractors/combined.py), and it uses a real spaCy/Stanza model
whenever the driver probe finds one (``_spacy_scan_batch`` /
``_stanza_scan_batch`` in ner_spark/extractors/model_stub.py — per-worker
lazy load, ``nlp.pipe``/``bulk_process`` per Arrow batch; reference:
src/utils/spacy_config.py:136-167, stanza_config.py:101-166). Models are
absent here (no spaCy/Stanza wheels), so the real branch is run through
deterministic API shims (tests/_model_shims/{spacy,stanza}).

The contract check runs in a SUBPROCESS whose PYTHONPATH puts the shims
first. Isolation is the point: importable-as-``spacy`` code on the MAIN
session's path would flip the driver probe and route every entry point —
the pipeline and the flagship queries — off the oracle-pinned stub, so
the shims must never leak onto this process's path. The subprocess asserts the stub-vs-real contract (default routing
reaches the real model, schema parity, row accounting, row-relative
offsets, lazy-singleton per-process loads); see
tests/_model_shims/run_real_branch_check.py for the assertions.
"""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
REPO = HERE.parent
SHIMS = HERE / "_model_shims"


def test_real_model_branch_contract_via_shims(tmp_path):
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [str(SHIMS), str(REPO)] + env.get("PYTHONPATH", "").split(os.pathsep)
    ).rstrip(os.pathsep)
    env["SHIM_LOAD_LOG"] = str(tmp_path / "loads.log")
    proc = subprocess.run(
        [sys.executable, str(SHIMS / "run_real_branch_check.py")],
        cwd=str(REPO),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr[-3000:]}"
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["ok"] is True
    # the real branch emitted model-raw labels for both engines
    assert ["d1", "Marie Curie", "PER"] in report["mentions"]["spaCy"]
    assert report["loads"], "no model loads were recorded"


def test_main_session_probe_unaffected_by_shims(spark):
    """The guard the isolation exists for: in THIS process the probes must
    stay False (no shim on the path), so every oracle-pinned query keeps
    routing through the deterministic stub."""
    from ner_spark.extractors import model_stub as M

    assert "spacy" not in sys.modules or "test-shim" not in getattr(
        sys.modules["spacy"], "__version__", ""
    )
    assert M._have_spacy() is False
    assert M._have_stanza() is False
