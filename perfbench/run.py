#!/usr/bin/env python3
"""One benchmark run of one workload, in a fresh process.

    python3 perfbench/run.py --workload etl_logs --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` into a
work directory under ``.perfbench_work/`` (removed when the run ends);
the engine is imported from the repository root. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics (from a separate, traced run).
"""

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json lists. Every workload reports each of them; a layer
    the workload bypasses reports 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def cpu_times() -> list[int] | None:
    """The host's cumulative CPU times (Linux /proc/stat), or None."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before: list[int] | None, after: list[int] | None) -> float | None:
    """Share of the host's CPU time the hypervisor gave to other guests
    between two ``cpu_times()`` readings (steal, the eighth field)."""
    if not before or not after or len(before) < 8:
        return None
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) > 0 else None


CPU_AT_START = cpu_times()

MAX_ITERATIONS = 60


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=["etl_logs", "corpus_dedup", "daemon_tcp"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # -XX:-UsePerfData: HotSpot writes its perf-data file to /tmp whatever
    # java.io.tmpdir says
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )
    tempfile.tempdir = tmp


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        proc.wait(timeout=60)
    # the next session in this process launches a fresh JVM
    SparkContext._gateway = SparkContext._jvm = None


def batch_measure(wl, spark, seconds, outcome, spans, layers):
    """``wl.warm_iterations`` full-size iterations, checked but not timed
    (the JIT and Spark's caches keep warming for several iterations after
    the set-up pass), then timed iterations until ``seconds`` have passed
    and at least ``wl.min_iterations`` were timed. With tracing on,
    untraced and traced iterations alternate (at least one of each) so
    their difference is the tracing overhead."""
    from tracing import NO_SPANS

    for _ in range(wl.warm_iterations):
        wl.iteration(spark, outcome, NO_SPANS, layers)
    walls = {False: [], True: []}
    deadline = time.perf_counter() + seconds
    for i in range(MAX_ITERATIONS):
        traced = spans.enabled and i % 2 == 1
        spans.unit = i
        wall = wl.iteration(spark, outcome, spans if traced else NO_SPANS, layers)
        if wall is not None:
            walls[traced].append(wall)
        enough = len(walls[False]) + len(walls[True]) >= wl.min_iterations
        if spans.enabled:
            enough = enough and walls[False] and walls[True]
        if enough and time.perf_counter() >= deadline:
            break
    return walls


def run(args, work: str) -> dict:
    from baker_spark import get_spark

    from tracing import Spans, median, tail_percentile
    from workloads import CORES, WORKLOADS, Outcome

    spans = Spans(enabled=bool(args.trace))
    wl = WORKLOADS[args.workload]()
    wl.spans = spans
    outcome = Outcome()
    layers: dict[str, list] = {}

    with spans.span("session.start"):
        spark = get_spark("perfbench", cpus=CORES)
    session_s = time.perf_counter() - PROCESS_START
    try:
        wl.prepare(work, args.seed)  # the benchmark's own work: not set-up time
        t0 = time.perf_counter()
        wl.warmup(spark, outcome)
        setup_s = session_s + time.perf_counter() - t0
        if args.workload == "daemon_tcp":
            samples = wl.measure(spark, args.seconds, outcome, spans, layers)
        else:
            walls = batch_measure(wl, spark, args.seconds, outcome, spans, layers)
            samples = walls[False]
            if args.trace:
                wl_decompose = getattr(wl, "decompose", None)
                if wl_decompose is not None:
                    outcome.run(wl_decompose, spark, spans, layers)
                layers["trace.overhead_s"] = [median(walls[True]) - median(walls[False])]
    finally:
        if hasattr(wl, "stop"):
            wl.stop()
        stop_session(spark)
    if not samples:
        raise RuntimeError("no successful timed operation: " + "; ".join(outcome.problems[:3]))

    lines = [
        f"workload={args.workload} seed={args.seed} spark_cores={CORES} sending_threads="
        f"{1 if args.workload == 'daemon_tcp' else 0} trace={args.trace}",
        f"setup_s={setup_s:.3f} s (session {session_s:.3f} s + warm-up pass)",
        f"latency_p50_s={median(samples):.4f} s over {len(samples)} samples",
    ]
    if args.workload == "daemon_tcp":
        try:
            lines.append(f"latency_p95_s={tail_percentile(samples, 0.95):.4f} s over {len(samples)} samples")
        except ValueError as exc:
            lines.append(f"latency_p95_s not reported: {exc}")
        lines.append(f"generator.late_max_s={layers['generator.late_max_s'][0]:.4f} s")
    else:
        lines.append("iteration walls: " + " ".join(f"{w:.3f}" for w in samples))
        rate_name = "docs_per_s" if args.workload == "corpus_dedup" else "records_per_s"
        lines.append(f"{rate_name}={wl.n_input / median(samples):.1f} 1/s ({wl.n_input} {wl.unit} per pass)")
    steal = steal_share(CPU_AT_START, cpu_times())
    if steal is not None:
        # CPU time the hypervisor gave to other guests: runs above a few
        # per cent are slower in every metric
        lines.append(f"host steal during the run: {steal:.2%}")
    lines.append(f"attempted={outcome.attempted} failed={outcome.failed}")
    lines += [f"problem: {p}" for p in outcome.problems]

    if args.trace:
        os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
        spans.write(os.path.join(ROOT, ".perfbench_work", f"spans-{args.workload}.jsonl"))
        metrics = per_layer(wl, spans, layers, session_s)
        for name in wl.exact_counters:
            lines.append(f"exact {name}={metrics[name]['value']}")
    else:
        values = {"setup_s": setup_s, "latency_p50_s": median(samples)}
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in metric_units("end_to_end").items()}
    return {
        "lines": lines,
        "result": {
            "correct": outcome.failed == 0,
            "attempted": outcome.attempted,
            "failed": outcome.failed,
            "metrics": metrics,
        },
    }


def per_layer(wl, spans, layers: dict, session_s: float) -> dict:
    """Median over the traced passes of each per-layer value; a timing
    the workload did not record explicitly is its span's duration (span
    ``plans.compile`` gives ``plans.compile_s``)."""
    from tracing import median

    def med(name):
        vals = layers.get(name) or spans.durations(name.removesuffix("_s"))
        return median(vals) if vals else 0

    units = metric_units("per_layer")
    values = {name: med(name) for name in units}
    values["session.start_s"] = session_s
    # what the engine was given, counted by the generator
    values["sources.input_records"] = wl.n_input
    values["sources.input_bytes"] = wl.input_bytes
    if wl.uses_operators:
        values["operators.records_in"] = wl.n_input
        values["operators.keep_ratio"] = values["operators.records_out"] / wl.n_input
    return {name: {"value": values[name], "unit": unit} for name, unit in units.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    isolate(work)
    sys.path.insert(0, ROOT)
    try:
        import baker_spark  # noqa: F401
    except ImportError as exc:
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    try:
        out = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in out["lines"]:
        print(line)
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
