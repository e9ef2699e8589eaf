"""Measurement-integrity tests for the bench orchestrator (VERDICT r11
next-round #1): the official BENCH_r{N}.json artifact must not be
capturable under host contention without flagging and retrying itself.
Round 11's artifact headlined a 2.11x-vs-baseline suite while a
same-commit idle re-run measured 1.29x — these tests pin the
orchestrator shape that makes that impossible: before+after canaries per
suite pass, a per-stamp CPU-share gate, whole-suite retry while clean
passes are short of quota, median-of-clean headline, and an explicit
`contended` flag when the budget exhausts hot."""

from __future__ import annotations

import subprocess
import sys

import bench
from baker_spark.session import default_parallelism


def _stamp(share: float, wall: float = 0.56) -> dict:
    return {"canary_1p_s": 0.3, "canary_32p_s": wall, "canary_width": 4, "canary_share": share}


def _pass(total: float, s_before: float, s_after: float, wall: float = 0.56) -> dict:
    return {
        "metric": "headline_suite_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": {"q": total},
        "records_per_sec": 400_000,
        "steal_share": 0.02,
        "canary_before": _stamp(s_before, wall),
        "canary_after": _stamp(s_after, wall),
    }


CLEAN = 0.88  # idle median (bench.CANARY_MIN_SHARE comment)
HOT = 0.45  # four busy-loop co-processes on four cores


def test_all_clean_headlines_median_no_retry():
    seq = iter([_pass(9.3, CLEAN, CLEAN), _pass(9.0, CLEAN, CLEAN), _pass(9.6, CLEAN, CLEAN)])
    out = bench.orchestrate(lambda: next(seq), n_jvms=3, min_clean=2, max_jvms=6)
    assert out["n_passes"] == 3 and out["n_clean"] == 3
    assert not out["suite_retried"] and not out["contended"]
    assert out["value"] == 9.3  # median of {9.0, 9.3, 9.6}
    assert out["envelope"] == {"min": 9.0, "median": 9.3, "max": 9.6, "n": 3}
    # headline pass is reported verbatim: value == sum(queries)
    assert sum(out["queries"].values()) == out["value"]
    # every pass keeps its per-query times and steal share
    assert [p["queries"] for p in out["suite_passes"]] == [{"q": 9.3}, {"q": 9.0}, {"q": 9.6}]
    assert all(p["steal_share"] == 0.02 for p in out["suite_passes"])
    # gate provenance: the share gate, and the retired wall-gate keys
    # present but null
    assert out["canary_gate_mode"] == "share"
    assert out["canary_min_share"] == bench.CANARY_MIN_SHARE
    for key in ("canary_gate_32p_s", "canary_floor_32p_s", "canary_relative_factor",
                "canary_chronic_32p_s"):
        assert key in out and out[key] is None


def test_slow_idle_host_reads_clean():
    """The failure the share gate fixes: a 4-core host's wide canary wall
    (4.0-4.3 s at 32 processes) sat far above every absolute wall
    ceiling, so idle passes read contended. The share divides the wall
    out: long walls at an idle share are clean."""
    seq = iter([_pass(60.0 + i, CLEAN, CLEAN, wall=4.3) for i in range(3)])
    out = bench.orchestrate(lambda: next(seq), n_jvms=3, min_clean=2, max_jvms=6)
    assert out["n_clean"] == 3 and not out["contended"] and not out["suite_retried"]


def test_contended_passes_trigger_whole_suite_retry():
    # the r11 failure mode: contended captures early. The orchestrator
    # must run EXTRA passes (not just retry the chain row) until the
    # clean quota is met, and the hot passes must not headline.
    seq = iter(
        [
            _pass(12.8, 0.60, 0.62),  # just under the gate: slow suite, lost cores
            _pass(12.5, HOT, HOT),
            _pass(9.1, CLEAN, CLEAN),
            _pass(9.3, CLEAN, CLEAN),
        ]
    )
    out = bench.orchestrate(lambda: next(seq), n_jvms=3, min_clean=2, max_jvms=6)
    assert out["n_passes"] == 4 and out["n_clean"] == 2
    assert out["suite_retried"] and not out["contended"]
    assert out["value"] == 9.1  # lower median of the two clean passes
    flags = [p["clean"] for p in out["suite_passes"]]
    assert flags == [False, False, True, True]


def test_mid_suite_spike_caught_by_after_stamp():
    # a co-tenant burst that starts AFTER the pre-run canary: the old
    # single-stamp harness headlined it silently; the after-stamp must
    # classify the pass contended.
    seq = iter([_pass(12.0, CLEAN, HOT), _pass(9.2, CLEAN, CLEAN), _pass(9.0, CLEAN, CLEAN)])
    out = bench.orchestrate(lambda: next(seq), n_jvms=3, min_clean=2, max_jvms=6)
    assert not out["suite_passes"][0]["clean"]
    assert out["value"] in (9.0, 9.2) and not out["contended"]


def test_chronic_load_short_circuits_flags_contended_least_hot_headlines():
    # steady contention: zero clean passes after the quota count + one
    # probe pass -> stop (retries can't find a window that isn't
    # there), flag contended, headline the least-hot pass
    seq = iter([_pass(12.0 + i / 10, HOT - i / 100, HOT) for i in range(6)])
    out = bench.orchestrate(lambda: next(seq), n_jvms=3, min_clean=2, max_jvms=6)
    assert out["contended"] and out["n_clean"] == 0 and out["n_passes"] == 4
    assert out["value"] == 12.0  # least-contended pass (largest worst share)


def test_bursty_load_still_retries_to_quota():
    # one clean pass exists -> the load is bursty; keep retrying past
    # the chronic cutoff until the clean quota is met or max_jvms
    seq = iter(
        [
            _pass(12.0, HOT, HOT),
            _pass(9.2, CLEAN, CLEAN),
            _pass(12.1, HOT, HOT),
            _pass(12.2, HOT, HOT),
            _pass(9.0, CLEAN, CLEAN),
        ]
    )
    out = bench.orchestrate(lambda: next(seq), n_jvms=3, min_clean=2, max_jvms=6)
    assert out["n_passes"] == 5 and out["n_clean"] == 2 and not out["contended"]
    assert out["value"] == 9.0


def test_legacy_single_stamp_doc_is_never_clean():
    # rounds 7-11 artifacts carry one pre-run canary only, and rounds
    # 12-14 wall stamps without a share; neither passes the classifier
    assert not bench.pass_is_clean({"value": 9.0, "canary_32p_s": 0.30})
    walls_only = {"canary_1p_s": 0.13, "canary_32p_s": 0.30}
    assert not bench.pass_is_clean(
        {"value": 9.0, "canary_before": walls_only, "canary_after": walls_only}
    )


def test_host_steal_above_gate_reads_contended():
    """Steal that lands between the canary stamps: BENCH_4cpu.json's
    first pass ran at 8.6% steal, 15% slower than its sibling, with both
    share stamps clear of the share gate. An idle pass (0.34% steal, the
    worst idle perfbench reading) stays clean, and a doc that records no
    steal share is judged on its stamps as before."""
    idle = _pass(14.8, 0.756, 0.942)
    idle["steal_share"] = 0.0034
    assert bench.pass_is_clean(idle)
    stolen = _pass(17.0, 0.852, 0.662)
    stolen["steal_share"] = 0.0858
    assert not bench.pass_is_clean(stolen)
    older = _pass(17.0, 0.852, 0.662)
    del older["steal_share"]
    assert bench.pass_is_clean(older)
    seq = iter([stolen, idle, _pass(15.5, 0.918, 0.918)])
    out = bench.orchestrate(lambda: next(seq), n_jvms=3, min_clean=2, max_jvms=6)
    assert [p["clean"] for p in out["suite_passes"]] == [False, True, True]
    assert out["steal_max_share"] == bench.STEAL_MAX_SHARE
    assert out["value"] == 14.8 and not out["contended"]


def test_cpu_canary_starts_one_child_per_cpu(monkeypatch):
    """The wide stamp is $SPARK_GRAFT_CPUS wide, not a fixed 32."""
    started = []

    class FakePopen:
        def __init__(self, args, **kwargs):
            started.append(args)

        def wait(self):
            return 0

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setattr(bench.subprocess, "Popen", FakePopen)
    stamp = bench.cpu_canary()
    assert len(started) == 3 and stamp["canary_width"] == 3
    assert all(a[0] == sys.executable for a in started)


def test_busy_loop_contention_spike_trips_gate_and_retry():
    """The physical leg: busy-loop co-processes oversubscribing the
    requested cores twice over must pull the REAL canary_share under
    CANARY_MIN_SHARE, and a suite pass stamped under the spike must
    trigger the orchestrator's retry path."""
    code = "while True:\n pass"
    spin = [
        subprocess.Popen([sys.executable, "-c", code])
        for _ in range(2 * default_parallelism())
    ]
    try:
        hot = bench.cpu_canary()
    finally:
        for p in spin:
            p.kill()
        for p in spin:
            p.wait()
    assert hot["canary_share"] < bench.CANARY_MIN_SHARE, hot
    assert not bench.share_ok(hot)
    # a pass stamped with the measured hot canary is contended and the
    # orchestrator runs a replacement pass beyond the n_jvms quota
    seq = iter(
        [
            _pass(12.0, hot["canary_share"], hot["canary_share"]),
            _pass(9.1, CLEAN, CLEAN),
            _pass(9.2, CLEAN, CLEAN),
        ]
    )
    out = bench.orchestrate(lambda: next(seq), n_jvms=2, min_clean=2, max_jvms=6)
    assert out["suite_retried"] and not out["suite_passes"][0]["clean"]
    assert out["n_passes"] == 3 and out["value"] in (9.1, 9.2)


def _bw_pass(total: float, share: float, bw_before: float, bw_after: float) -> dict:
    doc = _pass(total, share, share)
    doc["canary_before"]["canary_bw_s"] = bw_before
    doc["canary_after"]["canary_bw_s"] = bw_after
    return doc


def test_bandwidth_spike_with_clean_cpu_stamps_is_caught():
    """The round-13 observed blind spot: memory-bus contention lifted
    Spark walls 30-40% while the pure-register md5 canary moved ~4%.
    A pass whose CPU stamps read clean but whose bandwidth stamp
    spikes past 1.35x of the run's bandwidth floor must read
    contended and trigger the retry."""
    seq = iter(
        [_bw_pass(14.0, CLEAN, 0.20, 0.31),  # bw after-stamp spikes (gate 0.20*1.35=0.27)
         _bw_pass(9.4, CLEAN, 0.20, 0.21),
         _bw_pass(9.5, CLEAN, 0.21, 0.20),
         _bw_pass(9.45, CLEAN, 0.20, 0.20)]
    )
    out = bench.orchestrate(lambda: next(seq), n_jvms=3, min_clean=3, max_jvms=6)
    assert not out["suite_passes"][0]["clean"]
    assert out["suite_retried"] and out["n_clean"] == 3 and not out["contended"]
    assert out["value"] in (9.4, 9.45, 9.5)
    assert out["canary_bw_floor_s"] == 0.20
    assert out["canary_bw_gate_s"] == round(0.20 * bench.CANARY_BW_RELATIVE_FACTOR, 4)


def test_steady_bandwidth_load_lifts_bw_floor_and_reads_clean():
    """The bandwidth gate's residual blind window, stated honestly:
    bandwidth load that is EQUALLY heavy on every stamp lifts the run's
    own bandwidth floor and self-calibrates clean. No absolute
    bandwidth ceiling exists yet; the absolute values are retained per
    pass for the cross-round comparison that catches this."""
    seq = iter([_bw_pass(12.0 + i / 10, CLEAN, 0.55, 0.56) for i in range(3)])
    out = bench.orchestrate(lambda: next(seq), n_jvms=3, min_clean=2, max_jvms=6)
    assert not out["contended"] and out["n_clean"] == 3
    assert out["canary_bw_floor_s"] == 0.55


def test_passes_without_bw_stamps_judged_on_cpu_alone():
    """Synthetic docs carry no bandwidth stamp: the bw criterion must
    not fail them, and a mixed run takes its bw floor from the stamped
    passes only."""
    seq = iter([_pass(9.3, CLEAN, CLEAN), _bw_pass(9.0, CLEAN, 0.2, 0.2),
                _pass(9.6, CLEAN, CLEAN)])
    out = bench.orchestrate(lambda: next(seq), n_jvms=3, min_clean=2, max_jvms=6)
    assert out["n_clean"] == 3 and not out["contended"]
    assert out["canary_bw_floor_s"] == 0.2
