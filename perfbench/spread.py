#!/usr/bin/env python3
"""Run one workload once per seed and report each end-to-end metric's spread.

    python3 perfbench/spread.py etl_logs 1 2 3 4 5 6 7 8 9 10 [--seconds N]

``--seconds`` defaults to BENCHMARK.json's ``run_seconds``.

Each run is a fresh ``perfbench/run.py`` process, one after another. Per
run it prints the metrics and the share of CPU time the hypervisor gave
to other guests during the run (steal, from /proc/stat on Linux), which
is the main source of run-to-run noise on a shared virtual machine. At
the end it prints, per metric, the median and the spread: the distance
between the first and third quartile (``statistics.quantiles(n=4)``) as
a share of the median. Exits non-zero if any run failed or was incorrect.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import cpu_times, steal_share  # noqa: E402


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("workload")
    p.add_argument("seeds", nargs="+", type=int)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        run_seconds = json.load(fh)["run_seconds"]
    p.add_argument("--seconds", type=float, default=run_seconds)
    args = p.parse_args(argv)
    values: dict[str, list[float]] = {}
    bad = 0
    for seed in args.seeds:
        before, t0 = cpu_times(), time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
            capture_output=True, text=True,
        )
        wall, after = time.perf_counter() - t0, cpu_times()
        share = steal_share(before, after)
        steal = "" if share is None else f" steal={share:.3f}"
        if proc.returncode != 0:
            bad += 1
            print(f"seed={seed} exit={proc.returncode} {proc.stderr.strip().splitlines()[-1:]}", flush=True)
            continue
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        bad += not result["correct"]
        metrics = {k: m["value"] for k, m in result["metrics"].items()}
        print(f"seed={seed} wall={wall:.1f}s{steal} correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']} "
              + " ".join(f"{k}={v:.4f}" for k, v in metrics.items()), flush=True)
        for k, v in metrics.items():
            values.setdefault(k, []).append(v)
    for k, v in values.items():
        if len(v) >= 2:
            q1, _, q3 = statistics.quantiles(v, n=4)
            med = statistics.median(v)
            print(f"{k}: median={med:.4f} spread={(q3 - q1) / med:.4f} runs={len(v)}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
