"""Run the doc examples as tests — the reference treats its examples
as tests (/root/reference/examples/python/example_vamana.py:14-60
asserts exact recalls inside the example body), so ours must execute
with their asserts active on every test run, not just when a human
remembers to run them. Each example is imported fresh and driven at
sf0.001 (example_lvq_leanvec / example_reference_api generate their
own data and carry their own recall asserts; the sf-driven two are
pointed at the smallest tier via argv)."""

import importlib
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "examples"))

SF = "/root/testdata/sf0.001"


def _run_with_argv(module_name, entry, argv):
    old = sys.argv
    sys.argv = argv
    try:
        mod = importlib.import_module(module_name)
        getattr(mod, entry)()
    finally:
        sys.argv = old


@pytest.mark.usefixtures("spark")
def test_example_vamana(capsys):
    """Build/search/calibrate/route walk-through; its recall prints
    must show the calibrated window hitting the target."""
    _run_with_argv("example_vamana", "main", ["example_vamana.py", SF])
    out = capsys.readouterr().out
    assert "calibrated window=" in out


@pytest.mark.usefixtures("spark")
def test_example_pipeline(capsys):
    _run_with_argv("example_pipeline", "main", ["example_pipeline.py", SF])
    out = capsys.readouterr().out
    assert "quality filter kept" in out


@pytest.mark.usefixtures("spark")
def test_example_reference_api():
    """Carries its own asserts: recall > 0.8, save/load identity,
    delete-consolidate liveness."""
    _run_with_argv("example_reference_api", "run", ["example_reference_api.py"])


@pytest.mark.usefixtures("spark")
def test_example_lvq_leanvec():
    """Carries its own asserts: LVQ recall >= 0.8, re-ranked >= 0.9."""
    _run_with_argv("example_lvq_leanvec", "run", ["example_lvq_leanvec.py"])
