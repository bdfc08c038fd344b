"""Every command-line tool imports cleanly as a module (each is
``__main__``-guarded), so a tool left importing a name that no longer
exists fails here instead of at its first use."""

import importlib
import pathlib

import pytest

REPO = pathlib.Path(__file__).resolve().parent.parent
TOOLS = sorted(p.stem for p in (REPO / "tools").glob("*.py"))


def test_bench_imports():
    importlib.import_module("bench")


@pytest.mark.parametrize("name", TOOLS)
def test_tool_imports(name):
    importlib.import_module(f"tools.{name}")
