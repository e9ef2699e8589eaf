"""Extended analytics: as-of join, set operations, pivot, range join,
IVF centroid assignment — operators beyond both the reference and plain
group-by SQL, each expressed Spark-first with a DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from baker_spark.datapipe.vectors import as_double, duck_cosine_c4, spark_cosine_c4_sql
from baker_spark.sources.tables import load_table

from baker_spark.queries.registry import make_registry

QUERIES, ORACLES, query = make_registry()


@query(
    "q_asof_join",
    """
WITH purchases AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events WHERE event_type = 'purchase'
),
views AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_id
  FROM events WHERE event_type = 'view'
)
SELECT p.event_id, p.user_id, v.sec AS last_view_sec
FROM purchases p ASOF LEFT JOIN views v
  ON p.user_id = v.user_id AND v.sec <= p.sec
""",
)
def q_asof_join(spark, sf_dir):
    """As-of join — Spark has no native one (pyspark guide: bucketize or
    merge_asof). This implementation COMPOSES existing ops instead of
    dropping to Python: union both sides, one window pass per key carries
    the latest 'view' timestamp forward onto each 'purchase' row. One
    shuffle total, scales like any windowed aggregation.

    Tie semantics: a view at exactly the purchase second counts (<=),
    matching DuckDB ASOF. Window ordering is (sec, is_purchase, event_id)
    so ties order views before purchases deterministically."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_timestamp("ts").alias("sec"), "event_type"
    )
    both = ev.filter(F.col("event_type").isin("purchase", "view")).withColumn(
        "is_purchase", (F.col("event_type") == "purchase").cast("int")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec", "is_purchase", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    view_sec = F.when(F.col("is_purchase") == 0, F.col("sec"))
    carried = both.withColumn("last_view_sec", F.last(view_sec, ignorenulls=True).over(w))
    return carried.filter(F.col("is_purchase") == 1).select(
        "event_id", "user_id", "last_view_sec"
    )


@query(
    "q_set_ops",
    """
SELECT 'both' AS tag, CAST(user_id AS BIGINT) AS uid FROM (
  SELECT user_id FROM events WHERE event_type = 'purchase'
  INTERSECT
  SELECT user_id FROM events WHERE event_type = 'error'
)
UNION ALL
SELECT 'only_purchase' AS tag, CAST(user_id AS BIGINT) AS uid FROM (
  SELECT user_id FROM events WHERE event_type = 'purchase'
  EXCEPT
  SELECT user_id FROM events WHERE event_type = 'error'
)
""",
)
def q_set_ops(spark, sf_dir):
    """Set operations (intersect / except / union) — absent from the
    reference (SURVEY.md §2.6), native here."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select("user_id")
    e = ev.filter(F.col("event_type") == "error").select("user_id")
    both = p.intersect(e).select(F.lit("both").alias("tag"), F.col("user_id").alias("uid"))
    only = p.subtract(e).select(  # EXCEPT has set semantics, not exceptAll
        F.lit("only_purchase").alias("tag"), F.col("user_id").alias("uid")
    )
    return both.unionAll(only)


@query(
    "q_pivot",
    """
SELECT user_id,
       CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
       CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view,
       CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase
FROM events GROUP BY user_id
""",
)
def q_pivot(spark, sf_dir):
    """Pivot with explicit values (no extra pass to discover columns —
    the two-phase auto-pivot would scan twice at 100 TB)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase"])
        .count()
        .select(
            "user_id",
            F.coalesce("click", F.lit(0)).alias("click"),
            F.coalesce("view", F.lit(0)).alias("view"),
            F.coalesce("purchase", F.lit(0)).alias("purchase"),
        )
    )


@query(
    "q_range_join",
    """
WITH buckets(lo, hi, label) AS (
  VALUES (0.0, 5.0, 'low'), (5.0, 15.0, 'mid'), (15.0, 1e9, 'high')
)
SELECT b.label, count(*) AS n
FROM events e JOIN buckets b ON e.value >= b.lo AND e.value < b.hi
GROUP BY b.label
""",
)
def q_range_join(spark, sf_dir):
    """Range (theta) join against a tiny bucket table — broadcast turns
    it into a per-row scan of 3 ranges, no shuffle of the fact side."""
    ev = load_table(spark, sf_dir, "events")
    buckets = ev.sparkSession.createDataFrame(
        [(0.0, 5.0, "low"), (5.0, 15.0, "mid"), (15.0, 1e9, "high")],
        ["lo", "hi", "label"],
    )
    return (
        ev.join(
            F.broadcast(buckets),
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
        .groupBy("label")
        .agg(F.count("*").alias("n"))
    )


@query(
    "dp_ivf_assign",
    f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
scored AS (
  SELECT e.vec_id, c.cid,
         CAST(CAST({duck_cosine_c4('e.v', 'c.cv')} AS BIGINT) AS BIGINT) AS sim_c4
  FROM e, c
),
ranked AS (
  SELECT vec_id, cid, sim_c4,
         row_number() OVER (PARTITION BY vec_id ORDER BY sim_c4 DESC, cid) AS rn
  FROM scored
)
SELECT vec_id, cid AS centroid_id, sim_c4 FROM ranked WHERE rn = 1
""",
)
def dp_ivf_assign(spark, sf_dir):
    """IVF-style coarse quantization: assign every vector to its nearest
    of k seed centroids (here: the first 8 stored vectors — a real system
    would k-means them; assignment mechanics are identical). The centroid
    table is broadcast; at 100 TB this is one scan, no shuffle, and the
    resulting centroid_id is the partition key for IVF-bucketed ANN."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    c = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    scored = e.crossJoin(F.broadcast(c)).select(
        "vec_id",
        "cid",
        F.expr(spark_cosine_c4_sql("v", "cv")).alias("sim_c4"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim_c4"), F.col("cid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("cid").alias("centroid_id"), "sim_c4")
    )


@query(
    "q_unpivot",
    """
SELECT user_id, metric, CAST(n AS BIGINT) AS n FROM (
  SELECT user_id,
         CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
         CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
  FROM events GROUP BY user_id
) UNPIVOT (n FOR metric IN (click, view))
""",
)
def q_unpivot(spark, sf_dir):
    """Unpivot (melt) — wide metrics back to long form. Narrow operation:
    no shuffle beyond the feeding aggregation (DuckDB UNPIVOT drops NULL
    rows; counts here are never NULL so the engines agree)."""
    ev = load_table(spark, sf_dir, "events")
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view"])
        .count()
        .select(
            "user_id",
            F.coalesce("click", F.lit(0)).alias("click"),
            F.coalesce("view", F.lit(0)).alias("view"),
        )
    )
    return wide.unpivot("user_id", ["click", "view"], "metric", "n")


_IVF_NPROBE = 2
_IVF_K = 10
_IVF_QUERY = 42


@query(
    "dp_ivf_topk",
    f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
q AS (SELECT v AS qv FROM e WHERE vec_id = {_IVF_QUERY}),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY CAST({duck_cosine_c4('e.v', 'c.cv')} AS BIGINT) DESC, c.cid
           ) AS rn
    FROM e, c
  ) WHERE rn = 1
),
probes AS (
  SELECT cid FROM (
    SELECT c.cid,
           row_number() OVER (
             ORDER BY CAST({duck_cosine_c4('c.cv', 'q.qv')} AS BIGINT) DESC, c.cid
           ) AS rn
    FROM c, q
  ) WHERE rn <= {_IVF_NPROBE}
)
SELECT e.vec_id, CAST({duck_cosine_c4('e.v', 'q.qv')} AS BIGINT) AS cosine_c4
FROM e
JOIN assign a ON a.vec_id = e.vec_id
JOIN probes p ON p.cid = a.cid
CROSS JOIN q
ORDER BY cosine_c4 DESC, e.vec_id
LIMIT {_IVF_K}
""",
)
def dp_ivf_topk(spark, sf_dir):
    """IVF ANN search: rank the 8 coarse centroids against the query,
    probe the best nprobe=2 cells, exact-score only the vectors assigned
    there (~nprobe/k_cells of the corpus) — the standard recall/cost
    dial. Centroids and the query row are broadcast; the only shuffle is
    the assignment argmax, which a real deployment materializes once
    (like dp_ivf_assign) and reuses across every query."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    c = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    q = e.filter(F.col("vec_id") == _IVF_QUERY).select(F.col("v").alias("qv"))

    scored = e.crossJoin(F.broadcast(c)).select(
        "vec_id", "cid",
        F.expr(spark_cosine_c4_sql("v", "cv")).alias("sim_c4"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim_c4"), F.col("cid"))
    assign = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid")
    )

    # top-nprobe cells via orderBy().limit() — TakeOrderedAndProject
    # (parallel partial top-k), not a single-partition Window ranking
    # the same rows (VERDICT r12 #6); identical pinned order (exact
    # centroid-query similarity desc, cid asc)
    probes = (
        c.crossJoin(F.broadcast(q))
        .orderBy(F.expr(spark_cosine_c4_sql("cv", "qv")).desc(), F.col("cid"))
        .limit(_IVF_NPROBE)
        .select("cid")
    )

    cands = e.join(assign, "vec_id").join(F.broadcast(probes), "cid")
    return (
        cands.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.expr(spark_cosine_c4_sql("v", "qv")).alias("cosine_c4"),
        )
        .orderBy(F.desc("cosine_c4"), "vec_id")
        .limit(_IVF_K)
    )


from baker_spark.datapipe.vectors import duck_kmeans_train, kmeans_train  # noqa: E402


@query("dp_kmeans_train", duck_kmeans_train())
def dp_kmeans_train(spark, sf_dir):
    """K-means centroid training (Lloyd's, 2 iterations) over the
    embeddings — the step dp_ivf_assign's docstring defers to ("a real
    system would k-means them"). Integer-exact quantized arithmetic end
    to end; the driver sees k*dim ints per iteration (MLlib's own
    traffic pattern), assignment is a narrow Arrow-batched int64 kernel,
    and the update shuffle carries map-side-combined partial sums."""
    return kmeans_train(load_table(spark, sf_dir, "embeddings"))


from baker_spark.datapipe.vectors import duck_semdedup, semdedup  # noqa: E402


@query("dp_semdedup", duck_semdedup())
def dp_semdedup(spark, sf_dir):
    """Semantic dedup over trained k-means cells: within each cluster,
    drop every vector with a lower-id near-duplicate (quantized cosine
    >= 0.45). The 100 TB shape: one shuffle on cluster id, exact int64
    kernel per cell, no cross-cluster pair ever materializes."""
    return semdedup(load_table(spark, sf_dir, "embeddings"))


from baker_spark.datapipe.vectors import (  # noqa: E402
    duck_ivfpq_topk,
    duck_pq_adc_topk,
    duck_pq_codes,
    ivfpq_topk,
    pq_adc_topk,
    pq_train_encode,
)


@query("dp_pq_codes", duck_pq_codes())
def dp_pq_codes(spark, sf_dir):
    """Product-quantization codebook training + corpus encoding (Jegou
    et al. 2011): per-subspace exact-int64 Lloyd's (all m subspaces in
    ONE job per iteration), emitting the (vec_id, sub, cid) codes that
    compress the corpus ~64x for ANN. Driver traffic is the
    m*ksub*(dim/m) codebook per round — 1024 ints at the defaults."""
    codes, _ = pq_train_encode(load_table(spark, sf_dir, "embeddings"))
    return codes


@query("dp_pq_adc_topk", duck_pq_adc_topk(query_id=42))
def dp_pq_adc_topk(spark, sf_dir):
    """Asymmetric-distance top-k over PQ codes: the query's m*ksub
    distance table broadcasts against the codes, so search is one
    broadcast hash join + a map-side-combined sum per vector — it scans
    8-byte codes, never the embedding column. The billion-vector search
    shape (exact int64 throughout, so the oracle hash-matches)."""
    return pq_adc_topk(load_table(spark, sf_dir, "embeddings"), query_id=42)


@query("dp_ivfpq_topk", duck_ivfpq_topk(query_id=42))
def dp_ivfpq_topk(spark, sf_dir):
    """IVF-PQ search — the FAISS IVFPQ composition: coarse k-means
    cells prune to nprobe nearest the query, PQ asymmetric distances
    rank only those cells' codes. Per query the driver holds a few KB
    (coarse centroids + distance table); the corpus-side work is a
    broadcast semi-join over the probed cells' 8-byte codes."""
    return ivfpq_topk(load_table(spark, sf_dir, "embeddings"), query_id=42)


@query(
    "q_scalar_subquery",
    """
SELECT p_brand, count(*) AS n_large
FROM part
WHERE p_size > (SELECT CAST(floor(avg(p_size)) AS BIGINT) FROM part)
GROUP BY p_brand
""",
)
def q_scalar_subquery(spark, sf_dir):
    """Scalar-subquery shape: parts larger than the average size, by
    brand. The single-row aggregate is broadcast into the scan filter —
    two passes over part, no wide shuffle."""
    p = load_table(spark, sf_dir, "part")
    avg_size = p.agg(
        F.floor(F.avg("p_size")).cast("long").alias("avg_size")
    )
    return (
        p.crossJoin(F.broadcast(avg_size))
        .filter(F.col("p_size") > F.col("avg_size"))
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_large"))
    )


@query(
    "q_grouping_sets",
    """
SELECT coalesce(event_type, 'ALL') AS et,
       coalesce(CAST(user_id AS VARCHAR), 'ALL') AS uid,
       count(*) AS n
FROM events
GROUP BY GROUPING SETS ((event_type), (user_id), ())
""",
)
def q_grouping_sets(spark, sf_dir):
    """Explicit grouping sets (distinct from cube: only the requested
    combinations aggregate — one shuffle computes all three)."""
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("_gs_events")
    return spark.sql(
        """
        SELECT coalesce(event_type, 'ALL') AS et,
               coalesce(CAST(user_id AS STRING), 'ALL') AS uid,
               count(*) AS n
        FROM _gs_events
        GROUP BY GROUPING SETS ((event_type), (user_id), ())
        """
    )
