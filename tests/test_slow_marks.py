"""The slow-tier marks (tests/conftest.py) must not depend on pytest's
rootdir: the same `-m slow` selection under any --rootdir."""

from __future__ import annotations

import re
import subprocess
import sys
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parent.parent


def _slow_selected(*extra: str) -> int:
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/", "--collect-only", "-q",
         "-m", "slow", "-p", "no:cacheprovider", *extra],
        cwd=REPO_ROOT, capture_output=True, text=True, timeout=600,
    )
    m = re.search(r"^(\d+)/\d+ tests collected", out.stdout, re.M)
    assert m, out.stdout[-2000:] + out.stderr[-2000:]
    return int(m.group(1))


def test_slow_selection_is_rootdir_independent(tmp_path):
    listed = (REPO_ROOT / "tests" / "slow_tests.txt").read_text()
    entries = [
        line for line in listed.splitlines()
        if line.strip() and not line.startswith("#")
    ]
    default = _slow_selected()
    assert default >= len(entries)  # every entry marks at least one test
    assert _slow_selected(f"--rootdir={tmp_path}") == default
