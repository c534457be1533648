"""Import smoke test for the root bench harness and every ``scripts/*.py``:
each guards its entry point behind ``__main__``, so loading the file runs
only its imports and constants. A dangling import of a deleted name fails here
instead of at the next bench run."""

import glob
import importlib.util
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = [os.path.join(REPO, "bench.py")] + sorted(
    glob.glob(os.path.join(REPO, "scripts", "*.py"))
)


@pytest.mark.parametrize(
    "path", SCRIPTS, ids=[os.path.relpath(p, REPO) for p in SCRIPTS]
)
def test_script_imports(path, monkeypatch):
    # the scripts put the repo root on sys.path themselves; undo it afterwards
    monkeypatch.setattr(sys, "path", list(sys.path))
    name = "_script_" + os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(name, path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
