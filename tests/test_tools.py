"""Every maintenance script under tools/ must at least import, so a
package rename breaks a test instead of rotting an unused script."""

from __future__ import annotations

import glob
import importlib.util
import os

import pytest

TOOLS = sorted(
    glob.glob(
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools",
            "*.py",
        )
    )
)


def test_tools_exist():
    assert TOOLS


@pytest.mark.parametrize("path", TOOLS, ids=os.path.basename)
def test_tool_imports(path):
    spec = importlib.util.spec_from_file_location(
        f"tools_{os.path.basename(path)[:-3]}", path
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert callable(mod.main)
