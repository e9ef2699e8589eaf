"""Argument checks of the repository's command-line tools."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_capture_plans_rejects_unknown_names_up_front():
    """A mistyped query name fails before any session starts or plan
    file is written, and the message lists every unknown name — for
    capture_plans.py and for scaling_sf1.py's positional query names.
    A mistyped scaling_sf1.py --sf-dir fails the same way, naming the
    directory."""
    tag = "test_unknown_names"
    typos = ["dp_quality", "no_such_query", "also_missing"]
    unknown = "unknown query name(s): also_missing, no_such_query"
    no_dir = os.path.join(REPO, "testdata", "no_such_sf")
    for argv, message in (
        (["capture_plans.py", tag, "after", *typos], unknown),
        (["scaling_sf1.py", "--cpus", "1", *typos], unknown),
        (["scaling_sf1.py", "--sf-dir", no_dir, "dp_quality"], no_dir),
    ):
        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", argv[0]), *argv[1:]],
            capture_output=True, text=True, timeout=120, cwd=REPO,
        )
        assert proc.returncode != 0, argv[0]
        assert message in proc.stderr
    assert not os.path.exists(os.path.join(REPO, "plans", tag))
