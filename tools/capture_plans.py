"""Capture .explain('formatted') for every BENCH_QUERIES row (plus the
baker_filter_chain topology) into plans/<tag>/<query>_<suffix>.txt.

Usage: python tools/capture_plans.py <tag> <suffix> [query ...]
  e.g. python tools/capture_plans.py r13 before
       python tools/capture_plans.py r13 after dp_exact_substring_dedup

Builds each DataFrame and writes its formatted physical plan; the
queries themselves are not executed. Some builders do run Spark jobs
while building (index builds write parquet, k-means training collects
centroids, clustering checkpoints, the streaming rows run their streams
to completion): dp_ann_search_indexed, dp_ann_search_indexed_lsh,
dp_dedup_clusters, dp_embedding_dedup, dp_ivfpq_topk, dp_kmeans_train,
dp_lsh_verified_pairs, dp_pq_adc_topk and the dp_streaming_* rows.
Capturing those costs Spark work and disturbs a timed run beside it.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from baker_spark.queries import all_queries  # noqa: E402
from baker_spark.session import get_spark  # noqa: E402


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r13"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3:])
    queries = all_queries()
    # a typo must fail before any session starts or file is written,
    # naming every unknown name, not as a KeyError halfway through
    unknown = sorted(only - set(queries) - {"baker_filter_chain"})
    if unknown:
        sys.exit(f"unknown query name(s): {', '.join(unknown)}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("baker_spark_plan_capture")
    # default: the bench rows. With explicit names, ANY catalog query can
    # be captured (round 14 touches rows outside BENCH_QUERIES, e.g.
    # dp_bigram_surprisal).
    names = sorted(only) if only else list(bench.BENCH_QUERIES) + ["baker_filter_chain"]
    for name in names:
        df = (bench.baker_chain(spark, sf_dir) if name == "baker_filter_chain"
              else queries[name](spark, sf_dir))
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan_of(df))
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
