"""``tools/check_correctness.py`` refuses a typo instead of a false green.

A missing sf dir used to fall through as a query-name filter that matched
nothing, so the gate ran zero queries and printed ALL OK. Both cases run
as subprocesses: the refusal must come before any Spark session starts.
"""

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("argv", [
    ["/nonexistent/sf0.1"],             # typo'd sf dir
    ["no_such_query"],                  # typo'd query name
    [REPO, "no_such_query"],            # real dir, typo'd query name
])
def test_check_correctness_rejects_unknown_argument(argv):
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "check_correctness.py"),
         *argv],
        capture_output=True, text=True, timeout=120)
    # exit 2 is the usage refusal; a run that reached Spark would print a
    # per-query line and exit 0 or 1
    assert out.returncode == 2, out.stdout + out.stderr
    assert "not a directory or a registered query" in out.stderr
    assert "ALL OK" not in out.stdout and "FAIL" not in out.stdout
