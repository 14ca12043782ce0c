"""Import-rot guard for the examples: every example script must at least
import cleanly (full runs are exercised manually / by the driver; this
catches renamed operators or moved modules breaking the examples
silently)."""

from __future__ import annotations

import glob
import importlib.util
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EXAMPLES = sorted(
    os.path.splitext(os.path.basename(p))[0]
    for p in glob.glob(os.path.join(ROOT, "examples", "*.py"))
)


@pytest.mark.parametrize("name", EXAMPLES)
def test_example_imports(name):
    path = os.path.join(ROOT, "examples", f"{name}.py")
    spec = importlib.util.spec_from_file_location(f"example_{name}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)  # runs top-level code; main() is guarded
    assert hasattr(mod, "main")
