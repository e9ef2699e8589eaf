#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "records_per_sec": ...}

The suite covers the engine's three workload families:
- the reference's own shape: a record-at-a-time filter topology over the
  string-cast lineitem (compare against BASELINE.md's 178k rec/s per
  8 vCPU published number — here it's parquet->chain->gzip csv), its
  filters placed by Catalyst below the fan-out exchange
- analytics: scan-agg (q1), broadcast joins (q3/q5), windows
- document pipeline: exact + minhash-LSH dedup, simhash pairs, ANN top-k

Each query is forced with a noop write (full materialization, no driver
collect). A warmup action absorbs JVM/codegen startup.

The default entry point runs the whole suite in N_JVMS fresh JVMs and
headlines the median clean pass; every pass's totals, per-query times,
canary stamps and host steal share stay in ``suite_passes``. A pass is
clean when the CPU canary stamped before and after it got at least
CANARY_MIN_SHARE of the cores it asked for: ``canary_share`` is the
user+system CPU of $SPARK_GRAFT_CPUS md5 child processes over
width x wall, so a slower or throttled host stretches both sides and
the gate needs no calibration against the run's own stamps. Its
bandwidth stamps must also sit within CANARY_BW_RELATIVE_FACTOR of the
run's bandwidth floor, because memory-bus stalls do not show as lost
CPU share, and its host steal share must not exceed STEAL_MAX_SHARE,
because steal between the two stamps shows in neither. Whole passes
are retried while clean passes are short of MIN_CLEAN, up to MAX_JVMS;
a run with no clean pass headlines its least-contended pass and says
``"contended": true``.

    python bench.py                  # the orchestrated run
    python bench.py --single         # one in-process suite pass
    python bench.py --compare A B    # suite and per-query deltas of two artifacts
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.run import cpu_times, steal_share  # noqa: E402

BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q_topk_per_group",
    "q_session_windows",
    "q_cube_rollup",
    "dp_dedup_exact",
    "dp_minhash_lsh_pairs",
    "dp_simhash_pairs",
    "dp_ann_topk",
    "dp_token_counts",
    "dp_scrub",
    "dp_corpus_pipeline",
    "dp_exact_substring_dedup",
]

#: round-13 catalog-freshness row (VERDICT r12 #8): the heaviest
#: round-12 kernel gets round-over-round tracking, but at 3 runs
#: instead of N_RUNS — measured descent at sf0.1/local[32] is
#: 12.5s (plan compile + codegen of the interval-fold chain), 4.4s,
#: 3.4s, 3.5s: run 3 IS steady state (run 3 vs 4 within 3%), while
#: best-of-2 would over-read by ~28%. Run 4 would buy nothing for
#: +3.5s per pass. Budget: the row adds ~20s per pass / ~1 min across
#: the 3-pass orchestrate, keeping the orchestrated wall under ~4 min.
BENCH_RUN_OVERRIDES = {"dp_exact_substring_dedup": 3}

#: best-of-N: run 1 pays plan compilation + whole-stage codegen, run 2
#: still JITs; run 3+ is steady state — the number a 100 TB projection
#: scales from (at that scale compile cost is noise; here it is not).
#: All N per-query times are ALSO emitted (``runs`` key) so a reader can
#: tell a real regression from same-commit variance — see PERFORMANCE.md
#: for the pinned envelope.
N_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "4"))

#: orchestrator shape: K fresh-JVM suite passes, require MIN_CLEAN of
#: them uncontended (before+after canary clear the gate), retry whole passes
#: up to MAX_JVMS total. 3/2/6 keeps the per-round wall under ~3 min
#: while making a single contended capture non-fatal AND non-headline.
N_JVMS = int(os.environ.get("SPARK_GRAFT_BENCH_JVMS", "3"))
MIN_CLEAN = int(os.environ.get("SPARK_GRAFT_BENCH_MIN_CLEAN", "2"))
MAX_JVMS = int(os.environ.get("SPARK_GRAFT_BENCH_MAX_JVMS", "6"))


def baker_chain(spark, sf_dir):
    """The reference's published topology shape: string records through a
    filter chain to compressed files (README.md:111-120). lineitem rows
    stand in for the ~4.5 KB log lines.

    The scan is a single parquet row group (serial task), so it is fanned
    out first (≈ [filterchain] procs), then cast to string records, then
    the whole chain runs. Catalyst pushes the chain's filters through the
    cast and below the fan-out exchange into the scan stage, so only
    surviving rows are exchanged and each filter runs once, like the
    reference's single-pass chain."""
    from baker_spark import operators as ops
    from baker_spark.session import fan_out
    from baker_spark.sources.tables import load_table

    chain = [
        ops.ClauseFilter("(or (l_returnflag A) (l_returnflag N))"),
        ops.NotNull(["l_orderkey", "l_partkey"]),
        ops.RegexMatch(fields=["l_linenumber"], regexs=["^[0-9]+$"]),
        ops.Concatenate(["l_orderkey", "l_linenumber"], target="line_id", separator="-"),
        ops.Hash(src_field="line_id", dst_field="line_hash", function="md5", encoding="hex"),
        ops.TimestampRange(
            # l_partkey, not l_quantity: the op now carries ParseInt
            # strictness (a float's "23.0" string rightly drops), and the
            # chain wants the parse-to-long WORK on every row, not a
            # drop-everything filter
            field="l_partkey", start_datetime=None, end_datetime=None
        ),  # parse-to-long predicate
    ]
    li = fan_out(load_table(spark, sf_dir, "lineitem"), by="l_orderkey")
    # one selectExpr call for the 16-column string cast: the Column
    # listcomp cost ~80 py4j round trips per build, paid on every one of
    # the 6 timed chain runs (round 13; same projection either way).
    # Names backtick-escaped like transforms._q (ADVICE r13).
    df = li.selectExpr(
        *[
            "cast(`{0}` as string) AS `{0}`".format(c.replace("`", "``"))
            for c in li.columns
        ]
    )
    return ops.chain(df, chain)


def force(df):
    df.write.format("noop").mode("overwrite").save()


def cpu_canary() -> dict:
    """Machine-state stamp taken before and after every suite pass.

    - ``canary_share``: $SPARK_GRAFT_CPUS (``canary_width``) child
      processes each run a fixed md5 loop; their user+system CPU over
      width x wall is the share of the requested cores they actually
      got. A slower or throttled core stretches CPU time and wall
      alike, so the share reads the same on any idle host.
    - ``canary_32p_s`` holds that wide wall (the name predates the
      width) and ``canary_1p_s`` the same loop in this process.
    - ``canary_bw_s``: sixteen single-thread sums over a 256 MB buffer,
      far past any LLC, so the wall is 1/(this process's memory
      bandwidth share). It closes the md5 loop's blind spot: a
      co-tenant saturating the memory bus lifted Spark walls 30-40%
      while the register-bound loop moved ~4% (PERFORMANCE.md round 13).
    """
    import hashlib
    import resource

    import numpy as np

    from baker_spark.session import default_parallelism

    def one() -> float:
        t0 = time.perf_counter()
        h = hashlib.md5()
        for _ in range(2_000_000):
            h.update(b"x" * 32)
        return round(time.perf_counter() - t0, 3)

    single = one()
    width = default_parallelism()
    code = "import hashlib\nh=hashlib.md5()\nfor i in range(2_000_000): h.update(b'x'*32)"
    t0 = time.perf_counter()
    procs = [subprocess.Popen([sys.executable, "-c", code]) for _ in range(width)]
    # read after the starts: Popen reaps stray finished children, whose
    # CPU must not count as the canary's
    r0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    for p in procs:
        p.wait()
    wide = time.perf_counter() - t0
    r1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    cpu = (r1.ru_utime - r0.ru_utime) + (r1.ru_stime - r0.ru_stime)
    arr = np.zeros(32 * 1024 * 1024)  # 256 MB of float64
    arr.sum()  # fault the pages in; allocation cost is not bandwidth
    t0 = time.perf_counter()
    for _ in range(16):
        arr.sum()
    bw = round(time.perf_counter() - t0, 3)
    return {
        "canary_1p_s": single,
        "canary_32p_s": round(wide, 3),
        "canary_width": width,
        "canary_share": round(cpu / (width * wide), 3),
        "canary_bw_s": bw,
    }


#: a canary stamp is clean when its children got at least this share of
#: the cores they asked for. Measured at width 4 on a 4-core host, 26
#: idle stamps read 0.767-0.952 (median 0.88); with k busy-loop
#: co-processes, k=1 read 0.67-0.75, k=2 0.57-0.63 and k=8 0.30-0.33.
#: 0.65 sits under every idle stamp and over every k=2 one: a pass is
#: contended once a co-tenant holds about half the requested cores.
CANARY_MIN_SHARE = 0.65
#: bandwidth stamps gate relative to the run's own floor: single-thread
#: DRAM-sweep walls vary with page placement and prefetcher state, and
#: no absolute calibration exists for them yet.
CANARY_BW_RELATIVE_FACTOR = 1.35
#: a pass is contended when the hypervisor gave more than this share of
#: the host's CPU time to other guests during it: idle perfbench runs on
#: a 4-core host read at most 0.34% steal, while BENCH_4cpu.json's passes
#: at 4.8-8.6% steal cleared both share stamps and spread 15% in wall.
STEAL_MAX_SHARE = 0.02


def run_floor_bw(passes: list[dict]) -> float | None:
    """Min canary_bw_s across every before/after stamp of every pass
    (None when no pass carries one)."""
    stamps = [
        d.get(side, {}).get("canary_bw_s")
        for d in passes
        for side in ("canary_before", "canary_after")
    ]
    return min((s for s in stamps if s is not None), default=None)


def effective_bw_gate(passes: list[dict]) -> float | None:
    """Bandwidth gate for THIS run: floor * factor; None when no pass
    carries bandwidth stamps (legacy artifacts, synthetic test docs)."""
    floor = run_floor_bw(passes)
    return None if floor is None else round(floor * CANARY_BW_RELATIVE_FACTOR, 4)


def share_ok(stamp: dict) -> bool:
    """The CPU half of the gate, for one canary stamp."""
    share = stamp.get("canary_share")
    return share is not None and share >= CANARY_MIN_SHARE


def _worst_share(doc: dict) -> float:
    shares = [doc.get(side, {}).get("canary_share") for side in ("canary_before", "canary_after")]
    return min(0.0 if s is None else s for s in shares)


def pass_is_clean(doc: dict, bw_gate: float | None = None) -> bool:
    """A suite pass is uncontended iff BOTH canary stamps (before and
    after the Spark work) clear the share gate — a co-tenant burst
    starting mid-suite trips the after-stamp. When a bandwidth gate is
    in force and the pass carries bandwidth stamps, BOTH of those must
    clear it too. Steal that lands between the stamps is caught by the
    pass's recorded ``steal_share``, which must not exceed
    STEAL_MAX_SHARE. A pass without bandwidth stamps or a steal share is
    judged on the rest; one without share stamps (artifacts older than
    the share) is never clean."""
    before, after = doc.get("canary_before", {}), doc.get("canary_after", {})
    if not (share_ok(before) and share_ok(after)):
        return False
    steal = doc.get("steal_share")
    if steal is not None and steal > STEAL_MAX_SHARE:
        return False
    if bw_gate is not None:
        bw_b, bw_a = before.get("canary_bw_s"), after.get("canary_bw_s")
        if bw_b is not None and bw_a is not None and max(bw_b, bw_a) > bw_gate:
            return False
    return True


def orchestrate(run_pass, n_jvms: int = N_JVMS, min_clean: int = MIN_CLEAN,
                max_jvms: int = MAX_JVMS) -> dict:
    """Contention-proof envelope over ``run_pass() -> suite doc``.

    Runs ``n_jvms`` passes, classifies each clean/contended on its
    before+after canaries, and RETRIES WHOLE PASSES while clean count
    < ``min_clean`` and total passes < ``max_jvms``. Headline = the
    MEDIAN clean pass by suite total (its queries/records_per_sec are
    reported verbatim so `value` == sum(queries) within rounding). If
    the budget exhausts with no clean pass, the least-contended pass
    headlines and the artifact carries ``"contended": true`` — the
    artifact can be captured hot, but never silently.

    Pure orchestration (no Spark, no clock beyond what run_pass does) so
    tests can drive it with synthetic passes."""
    passes: list[dict] = []
    while len(passes) < max_jvms:
        passes.append(run_pass())
        bw_gate = effective_bw_gate(passes)
        clean = [d for d in passes if pass_is_clean(d, bw_gate)]
        if len(passes) >= n_jvms and len(clean) >= min_clean:
            break
        # chronic-load short-circuit: when the quota pass count is done
        # and NOT ONE pass was clean, the contention is steady, not
        # bursty — one extra probe pass is allowed, then retrying is
        # wasted wall (measured: a steadily-loaded host read hot on all
        # six passes; the extra three bought nothing but ~4.5 min).
        # Bursty contention (some passes clean) still retries to
        # max_jvms chasing the min_clean quota.
        if len(passes) >= n_jvms + 1 and not clean:
            break
    contended = not clean
    if clean:
        ranked = sorted(clean, key=lambda d: d["value"])
        headline = ranked[(len(ranked) - 1) // 2]  # lower median
    else:
        # least-contended pass: largest worst-case share, fastest suite
        # as the tie-break
        headline = max(passes, key=lambda d: (_worst_share(d), -d["value"]))
    totals = sorted(d["value"] for d in (clean or passes))
    out = dict(headline)
    out.update(
        {
            "suite_passes": [
                {
                    "value": d["value"],
                    "records_per_sec": d.get("records_per_sec"),
                    "queries": d.get("queries"),
                    "chain_retried": d.get("chain_retried"),
                    "steal_share": d.get("steal_share"),
                    "canary_before": d.get("canary_before"),
                    "canary_after": d.get("canary_after"),
                    "clean": pass_is_clean(d, bw_gate),
                }
                for d in passes
            ],
            "envelope": {
                "min": totals[0],
                "median": totals[(len(totals) - 1) // 2],
                "max": totals[-1],
                "n": len(totals),
            },
            "n_passes": len(passes),
            "n_clean": len(clean),
            "suite_retried": len(passes) > n_jvms,
            "contended": contended,
            "canary_gate_mode": "share",
            "canary_min_share": CANARY_MIN_SHARE,
            "steal_max_share": STEAL_MAX_SHARE,
            # keys of the wall-relative CPU gate the share replaced,
            # kept so every artifact carries one key set
            "canary_gate_32p_s": None,
            "canary_floor_32p_s": None,
            "canary_relative_factor": None,
            "canary_chronic_32p_s": None,
            "canary_bw_gate_s": bw_gate,
            "canary_bw_floor_s": run_floor_bw(passes),
            "canary_bw_relative_factor": CANARY_BW_RELATIVE_FACTOR,
        }
    )
    if len(clean) < min_clean:
        # VERDICT r13 #2 fallback, recorded IN the artifact: when this
        # host's burst throttling denies the clean-pass quota (the
        # r12/r13/r14 driver captures all hit this), cross-round
        # per-query comparisons should prefer interleaved same-JVM A/B
        # measurements (old and new shapes alternating in one session —
        # robust to weather; methodology + numbers in
        # OPTIMIZATION_r{13,14}.md). All absolute per-pass stamps above
        # are retained so an artifact-tail comparison stays possible.
        out["clean_quota_note"] = (
            "clean-pass quota unmet (burst-throttled host); prefer "
            "interleaved same-JVM A/B for cross-round per-query claims "
            "- see OPTIMIZATION_r14.md methodology; per-pass canary "
            "stamps retained"
        )
    return out


def _chain_runs(spark, sf_dir) -> list[float]:
    """N_RUNS of the full reference-topology analog: read -> filter
    chain -> serialize (ToText, logline.go:152-220) -> gzip files. Same
    write path as sinks/filewriter.py: one concat_ws line per record
    through the text writer — byte-identical to the quote-disabled CSV
    writer and ~9% faster (the CSV escape machinery does nothing useful
    with quoting off)."""
    from baker_spark.sinks.filewriter import serialize_line

    out_dir = tempfile.mkdtemp(prefix="baker_bench_out_")
    runs = []
    # +2 over the per-query N_RUNS: the chain is the HEADLINE number
    # (records_per_sec derives from its min) and it is the suite's
    # JIT-heaviest pipeline — round-10 measurement showed run 4 still
    # descending (1.43s) toward the deep-warm steady state (~1.15s, the
    # interleaved same-session A/B), so the extra two runs buy headline
    # stability for ~3s of wall. The full run list stays in `runs`.
    for i in range(N_RUNS + 2):
        t0 = time.perf_counter()
        df = baker_chain(spark, sf_dir)
        line = serialize_line(df.columns, ",")
        (
            df.select(line.alias("value"))
            .write.mode("overwrite")
            .option("compression", "gzip")
            # the reference writes gzip BestSpeed (filewriter.go:392-394);
            # Hadoop 3.3+'s BuiltInGzipCompressor honors this per-job
            # option, so the chain pays the same deflate CPU it would
            .option("zlib.compress.level", "BEST_SPEED")
            .text(os.path.join(out_dir, f"csv_gz_{i}"))
        )
        runs.append(round(time.perf_counter() - t0, 3))
    shutil.rmtree(out_dir, ignore_errors=True)
    return runs


def run_suite() -> dict:
    """ONE full suite pass in THIS process: canary -> Spark suite ->
    canary. The orchestrator spawns this via `bench.py --single`; local
    iteration calls it directly."""
    from baker_spark.queries import all_queries
    from baker_spark.session import default_parallelism, get_spark
    from baker_spark.sources.tables import load_table

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    host_before = cpu_times()
    canary_before = cpu_canary()
    spark = get_spark("baker_spark_bench")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0

    # warmup: JVM, codegen, parquet footer caches
    load_table(spark, sf_dir, "lineitem").limit(1000).count()

    queries = all_queries()
    timings: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}

    n_lineitem = load_table(spark, sf_dir, "lineitem").count()
    runs = _chain_runs(spark, sf_dir)
    chain_retried = not share_ok(canary_before)
    if chain_retried:
        # a pass that starts on a busy host gives it one chance to quiet
        # down: a fresh before stamp and a second set of chain runs,
        # keeping the union (min() picks the best either way). The
        # orchestrator still judges the whole pass on its stamps.
        canary_before = cpu_canary()
        runs = runs + _chain_runs(spark, sf_dir)
    all_runs["baker_filter_chain"] = runs
    timings["baker_filter_chain"] = min(runs)
    records_per_sec = int(n_lineitem / min(runs))

    for name in BENCH_QUERIES:
        runs = []
        for _ in range(BENCH_RUN_OVERRIDES.get(name, N_RUNS)):
            t0 = time.perf_counter()
            force(queries[name](spark, sf_dir))
            runs.append(round(time.perf_counter() - t0, 3))
        all_runs[name] = runs
        timings[name] = min(runs)

    spark.stop()
    canary_after = cpu_canary()
    steal = steal_share(host_before, cpu_times())
    total = round(sum(timings.values()), 3)
    return {
        "metric": "headline_suite_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "runs": all_runs,
        "sf": sf,
        "records_per_sec": records_per_sec,
        "cpus": default_parallelism(),
        "chain_retried": chain_retried,
        "steal_share": None if steal is None else round(steal, 4),
        "canary_before": canary_before,
        "canary_after": canary_after,
        # back-compat stamps (rounds 7-11 artifacts carried exactly one
        # pre-run canary under these keys; keep tooling comparisons alive)
        **canary_before,
    }


def _spawn_pass() -> dict:
    """One fresh-JVM suite pass via subprocess."""
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--single"],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.abspath(__file__)),
        env=dict(os.environ),
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"bench suite pass failed (exit {proc.returncode})")
    doc = json.loads(proc.stdout.strip().splitlines()[-1])
    sys.stderr.write(
        f"bench pass: total={doc['value']}s rec/s={doc['records_per_sec']}"
        f" share={doc['canary_before']['canary_share']}"
        f"->{doc['canary_after']['canary_share']} steal={doc['steal_share']}\n"
    )
    return doc


def _clean_range(doc: dict, name: str) -> str:
    """min-max of one query over an artifact's clean passes."""
    vals = [p["queries"][name] for p in doc.get("suite_passes", [])
            if p.get("clean") and name in (p.get("queries") or {})]
    return f"{min(vals):.3f}-{max(vals):.3f}" if vals else "?"


def compare(path_a: str, path_b: str) -> None:
    """`bench.py --compare A.json B.json`: suite and per-query deltas
    between two bench artifacts, each headline next to its worst
    canary_share and each query next to its range over the artifact's clean passes."""
    docs = []
    for path in (path_a, path_b):
        with open(path) as fh:
            doc = json.load(fh)
        docs.append(doc.get("parsed", doc))  # BENCH_r*.json wrap the line in "parsed"
    print("| artifact | suite | worst canary_share | envelope min/median/max | clean |")
    print("|---|---|---|---|---|")
    for path, d in zip((path_a, path_b), docs):
        env = d.get("envelope")
        env = f"{env['min']}/{env['median']}/{env['max']}" if env else "?"
        # artifacts older than the share carry none
        share = f"{_worst_share(d):.2f}" if "canary_share" in d.get("canary_before", {}) else "?"
        print(f"| {os.path.basename(path)} | {d['value']:.3f}s | {share} "
              f"| {env} | {d.get('n_clean', '?')}/{d.get('n_passes', '?')} |")
    a, b = docs
    print()
    print("| query | A | A clean range | B | B clean range | delta |")
    print("|---|---|---|---|---|---|")
    for name, va in a.get("queries", {}).items():
        vb = b.get("queries", {}).get(name)
        if vb is None:
            continue
        print(f"| {name} | {va:.3f} | {_clean_range(a, name)} | {vb:.3f} "
              f"| {_clean_range(b, name)} | {(vb / va - 1) * 100:+.0f}% |")


def main() -> None:
    args = sys.argv[1:]
    if args == ["--single"]:
        print(json.dumps(run_suite()))
    elif len(args) == 3 and args[0] == "--compare":
        compare(args[1], args[2])
    elif not args:
        print(json.dumps(orchestrate(_spawn_pass)))
    else:
        sys.exit("usage: bench.py [--single | --compare A.json B.json]")


if __name__ == "__main__":
    main()
