"""Scaling cells: noop-timed, best-of-3 runs of catalog queries at one
or more scale factors and one core count.

With no query names it runs the four ROWS whose 8->32-core ratio read
<= 1 at sf0.1 (dp_simhash_pairs, dp_corpus_pipeline,
dp_exact_substring_dedup, dp_minhash_lsh_pairs): there they are bound
by the ~0.4-0.5 s per-exchange AQE scheduling floor and the driver-side
build, not by operator serialism. At sf1 (50k docs, 10x the tokens)
executor work dominates and the core-count ratio becomes meaningful.
Name queries to run any other catalog cell, e.g. a ladder step one
decade past an existing SCALING.md cell.

    python tools/scaling_sf1.py [--cpus N] [--sf-dir DIR ...] [query ...]

Every ``--sf-dir`` must exist and every query name must be in the
catalog before a session starts. Each directory's parquet tables are
read once before its cells are timed: without that, the first queries
at a big SF pay a cold disk read the later ones don't (measured: q1 at
sf10 read 7.3 s cold vs 2.6 s warm), which bends the fitted exponents.

Prints one JSON line per query cell as it lands (best-of-3, noop sink,
same timing discipline as bench.py) and a summary line per directory.
Given two or more directories, in increasing scale factor, it then
prints SCALING.md's markdown table: per-cell best walls and ``exp``,
the fit of t ~ sf^exp between the last two directories.
"""

from __future__ import annotations

import glob
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROWS = [
    "dp_simhash_pairs",
    "dp_corpus_pipeline",
    "dp_exact_substring_dedup",
    "dp_minhash_lsh_pairs",
]


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def sf_of(sf_dir: str) -> float:
    """The scale factor a testdata directory is named for (sf0.1 -> 0.1)."""
    return float(os.path.basename(sf_dir.rstrip("/")).rsplit("sf", 1)[-1])


def markdown_table(best: dict[str, dict[str, float]], sf_dirs: list[str]) -> str:
    """``best[sf_dir][query]`` walls as SCALING.md's table, with the
    last-pair exponent."""
    names = [os.path.basename(d.rstrip("/")) for d in sf_dirs]
    a, b = sf_dirs[-2:]
    lines = [
        "| query | " + " | ".join(names) + " | exp(last pair) |",
        "|---|" + "---|" * (len(names) + 1),
    ]
    for query in best[sf_dirs[0]]:
        cells = [f"{best[d][query]:.2f}s" for d in sf_dirs]
        exp = math.log(best[b][query] / best[a][query]) / math.log(sf_of(b) / sf_of(a))
        lines.append(f"| {query} | " + " | ".join(cells) + f" | {exp:.2f} |")
    return "\n".join(lines)


def main() -> None:
    args = sys.argv[1:]
    cpus, sf_dirs, names = 32, [], []
    while args:
        a = args.pop(0)
        if a == "--cpus":
            cpus = int(args.pop(0))
        elif a == "--sf-dir":
            sf_dirs.append(args.pop(0))
        else:
            names.append(a)
    # default resolves against the REPO ROOT, not the CWD (the big-SF
    # ladders live in <repo>/testdata, gitignored; /root/testdata holds
    # only the driver's small SFs), and $SPARK_GRAFT_SF_DIR wins like
    # everywhere else
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf_dirs = sf_dirs or [
        os.environ.get("SPARK_GRAFT_SF_DIR", os.path.join(repo, "testdata", "sf1"))
    ]
    from baker_spark.queries import all_queries

    queries = all_queries()
    # a typo must fail before any session starts, naming every unknown
    # name or directory, not as an error after minutes of timed cells
    unknown = sorted(set(names) - set(queries))
    if unknown:
        sys.exit(f"unknown query name(s): {', '.join(unknown)}")
    missing = [d for d in sf_dirs if not os.path.isdir(d)]
    if missing:
        sys.exit(f"--sf-dir not found: {', '.join(missing)}")
    if len(sf_dirs) > 1:
        try:
            sfs = [sf_of(d) for d in sf_dirs]
        except ValueError:
            sys.exit(f"--sf-dir names must end in sf<scale factor>: {', '.join(sf_dirs)}")
        if sfs != sorted(set(sfs)):
            sys.exit(f"--sf-dir values must be in increasing scale factor: {', '.join(sf_dirs)}")
    from baker_spark.session import get_spark

    spark = get_spark("scaling_sf1", cpus=cpus)
    best: dict[str, dict[str, float]] = {}
    for sf_dir in sf_dirs:
        for tbl in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
            force(spark.read.parquet(tbl))
        out = {}
        for name in names or ROWS:
            spark.sparkContext.setJobDescription(f"scaling_sf1:{name}")
            times = []
            for _ in range(3):
                t0 = time.perf_counter()
                force(queries[name](spark, sf_dir))
                times.append(round(time.perf_counter() - t0, 3))
            out[name] = {"best": min(times), "runs": times}
            cell = {"query": name, "cpus": cpus, "sf_dir": sf_dir, **out[name]}
            print(json.dumps(cell), flush=True)
        print(json.dumps({"summary": out, "cpus": cpus, "sf_dir": sf_dir}), flush=True)
        best[sf_dir] = {name: c["best"] for name, c in out.items()}
    spark.stop()
    if len(sf_dirs) > 1:
        print(markdown_table(best, sf_dirs))


if __name__ == "__main__":
    main()
