"""tools/selfcheck.py parses its command line: --help prints the usage and
an unknown flag fails instead of running the whole registry."""

from __future__ import annotations

import os
import subprocess
import sys

SELFCHECK = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "selfcheck.py"
)


def _run(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, SELFCHECK, *args], capture_output=True, text=True, timeout=120
    )


def test_help_prints_usage():
    r = _run("--help")
    assert r.returncode == 0
    assert "--driver-sim [sf_dir] [n_queries]" in r.stdout


def test_unknown_flag_and_bad_count_fail():
    r = _run("--no-such-flag")
    assert r.returncode == 2 and "unrecognized arguments" in r.stderr
    r = _run("--driver-sim", "sf", "many")
    assert r.returncode == 2 and "n_queries" in r.stderr
