"""Every script under tools/ must import cleanly (no SparkSession: each
keeps its work behind a ``__main__`` guard), so deleting a library helper
or a registry name a tool uses fails here instead of at the tool's next
run."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

TOOLS = sorted((Path(__file__).resolve().parent.parent / "tools").glob("*.py"))


def test_tools_dir_is_populated():
    assert TOOLS


@pytest.mark.parametrize("path", TOOLS, ids=lambda p: p.stem)
def test_tool_imports(path):
    spec = importlib.util.spec_from_file_location(f"_tool_{path.stem}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert callable(getattr(mod, "main", None)), f"{path.name} has no main()"
