"""Argument checks of the repository's command-line tools."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_capture_plans_rejects_unknown_names_up_front():
    """A mistyped query name fails before any session starts or plan
    file is written, and the message lists every unknown name — for
    capture_plans.py and for scaling_sf1.py's positional query names."""
    tag = "test_unknown_names"
    for argv in (
        ["capture_plans.py", tag, "after"],
        ["scaling_sf1.py", "--cpus", "1"],
    ):
        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", argv[0]), *argv[1:],
             "dp_quality", "no_such_query", "also_missing"],
            capture_output=True, text=True, timeout=120, cwd=REPO,
        )
        assert proc.returncode != 0, argv[0]
        assert "unknown query name(s): also_missing, no_such_query" in proc.stderr
    assert not os.path.exists(os.path.join(REPO, "plans", tag))
