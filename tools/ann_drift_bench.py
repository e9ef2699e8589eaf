"""Recall-drift harness for the frozen-quantizer ANN index.

`ann_index_add` encodes arrivals against the centroids the ORIGINAL
build trained. When the arrival distribution drifts, two things degrade
silently: cell balance (arrivals funnel into whichever frozen cells sit
nearest) and recall (the coarse probe ranks cells by stale centroids, so
a drifted query's true neighbors hide in unprobed or overstuffed
cells). This harness measures both, and validates that the cell-skew
retrain signal (`ann_index_stats` / `ann_index_compact` ->
``needs_retrain``) fires on the distribution that loses recall — and
stays quiet on one that doesn't:

- **control (no drift)**: build on half A, `ann_index_add` half B from
  the same distribution, vs a fresh build on A∪B — the VERDICT-r10
  aged-index question. Expected: recall gap ~0, skew ~1, flag False.
- **drifted**: half B pulled toward a fixed direction and re-normalized
  (a "new topic cluster" arriving — the realistic drift for embedding
  corpora; a constant offset without renormalization would instead
  make every pairwise cosine degenerate and measure a metric artifact,
  not aging). Aged (build A, add drifted B) vs fresh build on the
  combined corpus, recall scored on queries FROM the drifted region.
  Expected: aged recall < fresh recall, skew over threshold, flag True.

Method under test is ``ivf`` — exact per-vector scoring with trained
cells (recall floor 0.87 on this data, PERFORMANCE.md), so the
aged-vs-fresh delta is measurable; the pq/ivfpq code-quantization floor
(~0.19 on isotropic gaussians) would drown it. The coarse quantizer —
the thing that ages — is the SAME k-means for ivf/ivfpq, so the skew
signal transfers. All vectors are unit-norm (corpus is; the drift
transform renormalizes), making cosine and L2 rank identically — the
ivf ranking and the brute ground truth agree by construction.

Recall ground truth: exact brute cosine top-k over the combined corpus,
self-hit excluded, one distributed job (queries x corpus broadcast).

    python tools/ann_drift_bench.py [sf_dir] [n_queries] [k] [pull]

Output: markdown rows for SCALING.md + one JSON line.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from baker_spark.datapipe import ann_index  # noqa: E402
from baker_spark.datapipe.vectors import (  # noqa: E402
    EMBED_DIM,
    as_double,
    spark_cosine_c4_sql,
    spark_dot_sql,
)
from baker_spark.sources.tables import load_table  # noqa: E402

KC, NPROBE = 8, 2
#: Lloyd iterations for every build here: 1-iter builds from the
#: deterministic id<k seeds (all drawn from region A) mis-cluster the
#: bimodal drifted corpus so badly that even the FRESH index looks
#: skewed — a seeding artifact, not drift. Production retrains iterate.
ITERS = 4


def brute_truth(corpus: DataFrame, queries: DataFrame, k: int) -> dict[int, set]:
    """Exact cosine top-k per query (one job), self-hit excluded."""
    from pyspark.sql import Window

    scored = corpus.crossJoin(F.broadcast(queries.select("qid", "qv"))).select(
        "qid",
        "vec_id",
        F.expr(spark_cosine_c4_sql("cast(embedding as array<double>)", "qv")).alias("c"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("c"), F.col("vec_id"))
    top = (
        scored.filter(F.col("vec_id") != F.col("qid"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .collect()
    )
    out: dict[int, set] = {}
    for r in top:
        out.setdefault(int(r["qid"]), set()).add(int(r["vec_id"]))
    return out


def index_recall(
    spark, path: str, queries: DataFrame, truth: dict[int, set], k: int
) -> float:
    idx = ann_index.AnnIndex(spark, path)
    # k+1 then drop the self-hit, mirroring the truth protocol
    res, _, _ = idx.search_batch(queries, k=k + 1, nprobe=NPROBE)
    got: dict[int, set] = {}
    for r in sorted(res.collect(), key=lambda r: (-r["cosine_c4"], r["vec_id"])):
        qid, vid = int(r["qid"]), int(r["vec_id"])
        if vid != qid:
            got.setdefault(qid, set())
            if len(got[qid]) < k:
                got[qid].add(vid)
    hits = sum(len(got.get(q, set()) & t) for q, t in truth.items())
    return hits / (len(truth) * k)


def main() -> int:
    from baker_spark import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "testdata/sf1"
    n_q = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    pull = float(sys.argv[4]) if len(sys.argv) > 4 else 1.5
    spark = get_spark("ann-drift", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "16")))
    base = str(os.environ.get("ANN_DRIFT_DIR") or "/tmp/ann_drift_bench")

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    half = emb.agg(F.expr("percentile_approx(vec_id, 0.5)")).first()[0]
    a = emb.filter(F.col("vec_id") < half)
    b = emb.filter(F.col("vec_id") >= half)

    def toward_topic(df: DataFrame, strength: float) -> DataFrame:
        """v -> normalize(v + strength*u), u = ones/sqrt(dim): every
        arrival gains a shared 'topic' component; residual variety is
        preserved, norms return to 1 (metric consistency)."""
        u = 1.0 / math.sqrt(EMBED_DIM)
        shifted = f"transform(cast(embedding as array<double>), x -> x + {strength * u!r}D)"
        norm = f"sqrt({spark_dot_sql(shifted, shifted)})"
        return df.selectExpr(
            "vec_id", f"transform({shifted}, x -> x / {norm}) AS embedding", "label"
        )

    results = {}
    for scenario, arrivals in (("control", b), ("drifted", toward_topic(b, pull))):
        combined = a.select("vec_id", as_double("embedding").alias("embedding"), "label") \
            .unionByName(arrivals.select("vec_id", as_double("embedding").alias("embedding"), "label")).persist()
        combined.count()
        aged_p = f"{base}/{scenario}/aged"
        fresh_p = f"{base}/{scenario}/fresh"
        t0 = time.perf_counter()
        ann_index.ann_index_build(a, aged_p, method="ivf", kc=KC, iters=ITERS)
        ann_index.ann_index_add(arrivals, aged_p)
        t_aged = time.perf_counter() - t0
        t0 = time.perf_counter()
        ann_index.ann_index_build(combined, fresh_p, method="ivf", kc=KC, iters=ITERS)
        t_fresh = time.perf_counter() - t0

        # queries from the ARRIVAL region — where drift degradation lives
        queries = (
            arrivals.orderBy("vec_id")
            .limit(n_q)
            .select(F.col("vec_id").alias("qid"), as_double("embedding").alias("qv"))
            .persist()
        )
        truth = brute_truth(combined, queries, k)
        r_aged = index_recall(spark, aged_p, queries, truth, k)
        r_fresh = index_recall(spark, fresh_p, queries, truth, k)
        s_aged = ann_index.ann_index_stats(spark, aged_p)
        s_fresh = ann_index.ann_index_stats(spark, fresh_p)
        results[scenario] = {
            "recall_aged": round(r_aged, 3),
            "recall_fresh": round(r_fresh, 3),
            "skew_aged": round(s_aged["skew"], 2),
            "skew_fresh": round(s_fresh["skew"], 2),
            "qerr_ratio_aged": round(s_aged["qerr_ratio"], 3),
            "qerr_ratio_fresh": round(s_fresh["qerr_ratio"], 3),
            "needs_retrain_aged": s_aged["needs_retrain"],
            "needs_retrain_fresh": s_fresh["needs_retrain"],
            "t_aged_s": round(t_aged, 2),
            "t_fresh_s": round(t_fresh, 2),
        }
        combined.unpersist()
        queries.unpersist()

    print(f"\n| scenario | corpus | recall@{k} aged | recall@{k} fresh | "
          "skew aged | skew fresh | qerr ratio aged | qerr ratio fresh | "
          "retrain flag (aged/fresh) |")
    print("|---|---|---|---|---|---|---|---|---|")
    for s, r in results.items():
        print(
            f"| {s} (pull={pull if s == 'drifted' else 0}) | {n} "
            f"| {r['recall_aged']} | {r['recall_fresh']} | {r['skew_aged']} "
            f"| {r['skew_fresh']} | {r['qerr_ratio_aged']} "
            f"| {r['qerr_ratio_fresh']} | {r['needs_retrain_aged']}/"
            f"{r['needs_retrain_fresh']} |"
        )
    print(json.dumps({"sf_dir": sf_dir, "n": n, "k": k, "n_q": n_q,
                      "pull": pull, **results}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
