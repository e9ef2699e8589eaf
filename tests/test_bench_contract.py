"""bench.py driver contract: one JSON line with the agreed keys."""

import json
import os
import subprocess
import sys


def test_bench_emits_contract_json():
    root = os.path.join(os.path.dirname(__file__), "..")
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="4",
        # pin the orchestrator to EXACTLY one fresh-JVM pass: the
        # contract under test is the emitted JSON shape, and the
        # retry/median machinery is pinned separately with synthetic
        # passes (test_bench_contention.py). Unpinned, a loaded CI host
        # reads every canary hot and the quota chase runs to MAX_JVMS —
        # 6 suite passes that time this test out without testing more.
        SPARK_GRAFT_BENCH_JVMS="1",
        SPARK_GRAFT_BENCH_MIN_CLEAN="1",
        SPARK_GRAFT_BENCH_MAX_JVMS="1",
    )
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=root,
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = proc.stdout.strip().splitlines()[-1]
    doc = json.loads(line)
    assert doc["unit"] == "sec" and doc["value"] > 0
    assert doc["sf"] == 0.001
    assert doc["records_per_sec"] > 0
    assert set(doc["queries"]) >= {"baker_filter_chain", "q1_pricing_summary", "dp_corpus_pipeline"}
    assert all(v >= 0 for v in doc["queries"].values())
    # canary stamps + the contention gate's retry flag: the recorded
    # headline must say whether the chain was re-run after a hot first
    # capture
    assert doc["canary_1p_s"] > 0 and doc["canary_32p_s"] > 0
    assert doc["canary_width"] == 4 and 0 < doc["canary_share"]
    assert doc["canary_gate_mode"] == "share"
    assert isinstance(doc["chain_retried"], bool)
    for p in doc["suite_passes"]:
        assert "steal_share" in p and p["queries"]
        for side in ("canary_before", "canary_after"):
            assert p[side]["canary_width"] == 4 and "canary_share" in p[side]
    # every key of the last 32-core artifact survives; the quota note is
    # written only when the clean-pass quota is unmet
    with open(os.path.join(root, "BENCH_r14.json")) as fh:
        r14 = json.load(fh)["parsed"]
    assert set(r14) - set(doc) <= {"clean_quota_note"}
    assert ("clean_quota_note" in doc) == (doc["n_clean"] < 1)
    # chain passes run N_RUNS+2 each (headline stability); a retried
    # chain carries both passes' runs
    n_chain = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "4")) + 2
    expected = n_chain * 2 if doc["chain_retried"] else n_chain
    assert len(doc["runs"]["baker_filter_chain"]) == expected
