"""The bench tools under ``tools/`` are scripts no other test imports.
``--help`` exits only after every module-level import ran, so a
broken import of a shared helper fails here."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


@pytest.mark.parametrize(
    "tool", ["scaling_bench", "curation_scaling", "suite_stress", "ann_recall_bench"]
)
def test_tool_help_exits_zero(tool):
    proc = subprocess.run(
        [sys.executable, str(REPO / "tools" / f"{tool}.py"), "--help"],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
