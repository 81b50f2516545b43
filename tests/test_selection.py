"""The default test selection (tests/conftest.py): slow tests are
deselected unless asked for, and naming one by node id asks for it."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SLOW = "tests/test_plans.py::test_no_cartesian_products_anywhere"


def _collect(*args: str) -> str:
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_FULL_TESTS"}
    return subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q", "-p", "no:cacheprovider", *args],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
    ).stdout


def test_slow_test_named_by_node_id_is_collected():
    out = _collect(SLOW)
    assert SLOW in out.splitlines()
    assert "deselected" not in out


def test_slow_test_deselected_from_its_file_by_default():
    out = _collect("tests/test_plans.py")
    assert SLOW not in out.splitlines()
    assert "deselected" in out
