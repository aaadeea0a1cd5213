"""Each tool's argument parser answers ``--help`` and rejects an
unknown flag before any Spark session starts: the subprocess gets a
JAVA_HOME that cannot start a JVM, so reaching Spark would exit 1."""

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = [
    "tools/check_oracle.py",
    "tools/explain_plans.py",
    "tools/bench_isoload.py",
    "tools/bench_scaling.py",
    "bench.py",
]


def _run(tool: str, flag: str) -> subprocess.CompletedProcess:
    env = dict(os.environ, JAVA_HOME=os.path.join(ROOT, "no-such-jvm"))
    return subprocess.run(
        [sys.executable, tool, flag],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )


@pytest.mark.parametrize("tool", TOOLS)
def test_help_prints_usage_and_exits_0(tool):
    r = _run(tool, "--help")
    assert r.returncode == 0, r.stderr
    assert r.stdout.startswith("usage:")


@pytest.mark.parametrize("tool", TOOLS)
def test_unknown_flag_exits_2(tool):
    r = _run(tool, "--no-such-flag")
    assert r.returncode == 2, r.stderr
    assert "unrecognized arguments: --no-such-flag" in r.stderr
