"""Every registry module imports on its own, in a fresh interpreter.

``ner_spark.queries`` imports every ``queries_*`` module at its bottom, so
a registry module imported first re-enters ``queries`` while it is itself
only half-initialized; a name another registry module imports from it must
already exist at that point. Each import runs in its own subprocess, since
inside the test session the registry is already loaded.
"""

from __future__ import annotations

import pathlib
import subprocess
import sys

import pytest

REPO = pathlib.Path(__file__).resolve().parent.parent
MODULES = sorted(p.stem for p in (REPO / "ner_spark").glob("queries*.py"))


@pytest.mark.parametrize("module", MODULES)
def test_registry_module_imports_first(module):
    proc = subprocess.run(
        [sys.executable, "-c", f"import ner_spark.{module}"],
        cwd=str(REPO),
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
