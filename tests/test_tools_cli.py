"""The tools/ scripts run as scripts: ``python tools/x.py`` puts tools/
first on sys.path, so a tool named like a stdlib module shadows it for
every import that follows (pyspark imports cProfile, which imports
``profile``). These tests run each CLI the way a user does and stop it
before any Spark work."""

from __future__ import annotations

import glob
import os
import subprocess
import sys

import pytest

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def test_no_tool_shadows_a_stdlib_module():
    stems = {
        os.path.splitext(os.path.basename(p))[0]
        for p in glob.glob(os.path.join(TOOLS, "*.py"))
    }
    assert stems and not stems & sys.stdlib_module_names


@pytest.mark.parametrize(
    "argv, rc, stderr_has",
    [
        # an unknown name is refused before the session starts
        (["check.py", "q_no_such_query"], 2, "q_no_such_query"),
        # argparse refuses a missing destination
        (["scale10x.py"], 2, "dst"),
        (["layer_profile.py", "--help"], 0, ""),
    ],
)
def test_cli_imports_and_stops_before_spark(argv, rc, stderr_has, tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(TOOLS, argv[0]), *argv[1:]],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert "ImportError" not in proc.stderr, proc.stderr
    assert proc.returncode == rc, proc.stderr
    assert stderr_has in proc.stderr
