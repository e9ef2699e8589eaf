"""Scaling cells: noop-timed, best-of-3 runs of catalog queries at one
scale factor and core count.

With no query names it runs the four ROWS whose 8->32-core ratio read
<= 1 at sf0.1 (dp_simhash_pairs, dp_corpus_pipeline,
dp_exact_substring_dedup, dp_minhash_lsh_pairs): there they are bound
by the ~0.4-0.5 s per-exchange AQE scheduling floor and the driver-side
build, not by operator serialism. At sf1 (50k docs, 10x the tokens)
executor work dominates and the core-count ratio becomes meaningful.
Name queries to run any other catalog cell, e.g. a ladder step one
decade past an existing SCALING.md cell.

    python tools/scaling_sf1.py [--cpus N] [--sf-dir testdata/sf1] [query ...]

Prints one JSON line per query cell as it lands (best-of-3, noop sink,
same timing discipline as bench.py) plus a closing summary line.
"""

from __future__ import annotations

import json
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

_VALUED = ("--cpus", "--sf-dir")


def main() -> None:
    args = sys.argv[1:]
    opts, names = {}, []
    while args:
        a = args.pop(0)
        if a in _VALUED:
            opts[a] = args.pop(0)
        else:
            names.append(a)
    cpus = int(opts.get("--cpus", 32))
    # default resolves against the REPO ROOT, not the CWD (the big-SF
    # ladders live in <repo>/testdata, gitignored; /root/testdata holds
    # only the driver's small SFs), and $SPARK_GRAFT_SF_DIR wins like
    # everywhere else
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    default_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR", os.path.join(repo, "testdata", "sf1")
    )
    sf_dir = opts.get("--sf-dir", default_dir)
    from baker_spark.queries import all_queries

    queries = all_queries()
    # a typo must fail before any session starts, naming every unknown
    # name, not as a KeyError after minutes of timed cells
    unknown = sorted(set(names) - set(queries))
    if unknown:
        sys.exit(f"unknown query name(s): {', '.join(unknown)}")
    from baker_spark.session import get_spark

    spark = get_spark("scaling_sf1", cpus=cpus)
    out = {}
    for name in names or ROWS:
        spark.sparkContext.setJobDescription(f"scaling_sf1:{name}")
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            queries[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            times.append(round(time.perf_counter() - t0, 3))
        out[name] = {"best": min(times), "runs": times}
        print(json.dumps({"query": name, "cpus": cpus, "sf_dir": sf_dir, **out[name]}), flush=True)
    print(json.dumps({"summary": out, "cpus": cpus, "sf_dir": sf_dir}))
    spark.stop()


if __name__ == "__main__":
    main()
