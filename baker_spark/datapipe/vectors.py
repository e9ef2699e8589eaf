"""Embedding similarity: cosine math, near-dup pairs, ANN top-k
(brute-force baseline + LSH-bucketed scale path).

Each kernel has one Spark spelling and one DuckDB spelling. The Spark
kernels are SQL expr strings (``spark_dot_sql``, ``spark_dot_long_sql``,
``spark_cosine_c4_sql``, ``spark_quantize_sql``, ``spark_d2_sql``) that
callers hand to ``F.expr``/``selectExpr``: one parse per builder instead
of the dozens of py4j round trips a Column/lambda chain costs (~75 per
cosine). The ``duck_*`` functions are their DuckDB oracle twins.

Dot products are computed as a *sequential* fold over the array
(zip_with + aggregate) in both engines, and cosine is emitted as
floor(x*1e4) fixed-point, so Spark and the DuckDB oracle agree exactly.
All math is JVM-side higher-order functions — no Python in the loop.

Scale path: random-hyperplane LSH buckets (sign bits of dot(v, plane_j))
turn the O(n^2) pair search / O(n) query scan into a per-bucket problem;
planes are deterministic (seeded) so results are reproducible.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from baker_spark.functions import sql_ident
from baker_spark.session import fan_out

EMBED_DIM = 64
N_PLANES = 8

#: fixed-point quantization scale for the all-pairs kernel: v * 2^20,
#: floored. float32 -> float64 is exact, scaling by a power of two is
#: exact, so the quantized BIGINT is identical in every engine — and an
#: INTEGER dot product is order-independent, which legalizes vectorized
#: (numpy/BLAS-order) evaluation that a float fold forbids (float sums
#: depend on association order; the driver's oracle hashes values).
Q_SCALE = 1 << 20


def as_double(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def spark_dot_sql(a: str, b: str) -> str:
    """Sequential-fold dot product of two array<double> expressions
    (left-to-right, ``acc + x*y``); a NULL element makes the result
    NULL. Twin of :func:`duck_dot`."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "cast(0.0 as double), (acc, x) -> acc + x)"
    )


def duck_dot(a: str, b: str) -> str:
    """DuckDB sequential dot product matching :func:`spark_dot_sql`
    op-for-op (1-based list indexing, left-to-right sum). NULL ELEMENTS
    propagate to a NULL result like Spark's fold (acc + NULL = NULL) —
    bare list_sum SKIPS nulls and would return the partial sum, silently
    landing a malformed vector in a different LSH bucket / cosine score
    per engine. (The quantized twin duck_dot_int needs no guard:
    list_dot_product fails loud on NULL elements.)"""
    guard = (
        f"len(list_filter({a}, x -> x IS NULL)) > 0 OR "
        f"len(list_filter({b}, x -> x IS NULL)) > 0"
    )
    s = f"list_sum([({a})[i] * ({b})[i] for i in range(1, len({a}) + 1)])"
    return f"(CASE WHEN {guard} THEN NULL ELSE {s} END)"


def spark_dot_long_sql(a: str, b: str) -> str:
    """Sequential-fold dot product of two array<bigint> expressions —
    exact int64, so the result is independent of evaluation order.
    Twin of :func:`duck_dot_int`."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "cast(0 as bigint), (acc, x) -> acc + x)"
    )


def duck_dot_int(a: str, b: str) -> str:
    """Exact dot product for QUANTIZED (BIGINT) arrays via DuckDB's
    native ``list_dot_product``. Products are <= 2^42 and sums <= 2^48
    at Q_SCALE, well inside the double accumulator's 2^53 exact-integer
    range, and integer addition is order-independent — so this equals
    the sequential-fold ``duck_dot`` bit-for-bit while running
    vectorized C++ instead of a per-element comprehension (measured
    ~40x on the pair kernels; the comprehension made the sf1 oracle
    sweep quadratic-oracle-bound). Float arrays must keep ``duck_dot``:
    their sums are order-dependent."""
    return f"CAST(list_dot_product({a}, {b}) AS BIGINT)"


def duck_cosine(a: str, b: str) -> str:
    return f"({duck_dot(a, b)} / (sqrt({duck_dot(a, a)}) * sqrt({duck_dot(b, b)})))"


def spark_cosine_c4_sql(a: str, b: str) -> str:
    """floor(cosine * 1e4) as bigint over two array<double> expressions,
    with the zero-norm pin: an all-zero vector's cosine is undefined, and
    the engines disagree on what the raw expression does (Spark ansi=off
    division by zero -> NULL, which sorts LAST under desc; DuckDB 0/0 ->
    NaN, which sorts FIRST and then crashes the BIGINT cast). Pinning the
    score to 0 ("not similar") keeps every consumer engine-independent —
    same rule as the int64 pair kernels (cosine_pairs_bucketed,
    semdedup). Twin of :func:`duck_cosine_c4`."""
    daa, dbb, dab = spark_dot_sql(a, a), spark_dot_sql(b, b), spark_dot_sql(a, b)
    return (
        f"cast(CASE WHEN {daa} = 0 OR {dbb} = 0 THEN 0 "
        f"ELSE floor(({dab} / (sqrt({daa}) * sqrt({dbb}))) * 10000) END as bigint)"
    )


def duck_cosine_c4(a: str, b: str) -> str:
    """The DuckDB mirror of :func:`spark_cosine_c4_sql` (float arrays)."""
    return (
        f"CASE WHEN {duck_dot(a, a)} = 0 OR {duck_dot(b, b)} = 0 THEN 0 "
        f"ELSE floor(({duck_cosine(a, b)}) * 10000) END"
    )


def duck_c4_quant(a: str, b: str) -> str:
    """Quantized-int c4: exact int64 dots, zero-norm pinned to 0 — the
    ONE source for the expression previously copy-pasted across
    duck_cosine_pairs / duck_semdedup / duck_cosine_pairs_bucketed
    (three hand-maintained copies invite oracle drift)."""
    dot_ = duck_dot_int(a, b)
    na, nb = duck_dot_int(a, a), duck_dot_int(b, b)
    return (
        f"CASE WHEN {na} = 0 OR {nb} = 0 THEN 0 ELSE "
        f"floor(CAST({dot_} AS DOUBLE) * 10000 / "
        f"(sqrt(CAST({na} AS DOUBLE)) * sqrt(CAST({nb} AS DOUBLE)))) END"
    )


def spark_quantize_sql(expr: str) -> str:
    """array<double> -> array<bigint> at :data:`Q_SCALE`, floored.
    ``1048576.0D`` is the double literal 2^20 — exact, so the scaled
    floor is bit-identical in both engines. Twin of
    :func:`duck_quantize`."""
    return (
        f"transform({expr}, x -> cast(floor(x * {float(Q_SCALE)!r}D) as bigint))"
    )


def duck_quantize(expr: str) -> str:
    return f"[CAST(floor(x * {float(Q_SCALE)!r}) AS BIGINT) for x in {expr}]"


def row_guard(
    df: DataFrame, max_rows: int, scale_path: str, count_of: DataFrame | None = None
) -> DataFrame:
    """Execution-time row-count guard for the brute-force baselines.

    Lazy (no job at build time — plan inspection stays free): a 1-row
    count aggregate rides along as a broadcast, and ``assert_true``
    fails the job with a pointer at ``scale_path`` when the input
    exceeds ``max_rows``. Keeps a user from accidentally running an
    O(n^2) rerank baseline over a full corpus.

    ``count_of`` lets the caller count a DIFFERENT frame than the one
    being wrapped — attach the guard to an already-tiny branch (e.g. a
    single-row query broadcast) so the count aggregate rides the plan
    exactly once instead of once per derived branch. See the inline
    comment below for the guard's work-conditional contract."""
    n = (df if count_of is None else count_of).agg(F.count("*").alias("_n"))
    msg = (
        f"input exceeds max_rows={max_rows} for a brute-force baseline; "
        f"use {scale_path} (the bucketed scale path) or raise max_rows"
    )
    check = F.coalesce(
        F.assert_true(F.col("_n") <= F.lit(max_rows), F.lit(msg)), F.lit(True)
    )
    # LOAD-BEARING PLAN SHAPE: `check` references ONLY the count column,
    # so Catalyst pushes the filter through the cross join INTO the
    # count branch — it evaluates whenever the count stage materializes
    # (a hard dependency of the join), NOT merely on joined rows. That
    # makes the guard trip even when `df` itself is empty (e.g. a
    # missing-query-id lookup over an oversized corpus, pinned by
    # test_ann_guard_trips_even_when_query_id_missing). Do not add
    # df-side columns into this filter: a mixed-side predicate cannot
    # push down, evaluates only on joined rows, and becomes silently
    # skippable when the wrapped branch is empty (sentinel-row
    # workarounds don't survive the optimizer either: left joins with
    # null-intolerant filters rewrite to inner, and AQE cancels sibling
    # stages of provably-empty joins).
    return df.crossJoin(F.broadcast(n)).filter(check).drop("_n")


def cosine_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold_c4: int = 4500,
    max_rows: int = 5_000,
) -> DataFrame:
    """All-pairs quantized cosine >= threshold (brute force baseline —
    ``cosine_pairs_bucketed`` below is the 100 TB path).

    ``max_rows`` is a TIME envelope, not just memory: n rows is n^2/2
    pair evaluations of a 64-element fold in BOTH engines, so 5k rows
    (~12M pairs, seconds) is where the baseline stops being a baseline.
    Past it the guard fails fast with the bucketed twin's name — an
    accidental corpus-sized run dies in milliseconds instead of
    grinding a cluster for hours. Raise it explicitly to accept O(n^2).

    Fully lazy and driver-free: the quantized B side is a broadcast
    join build (Spark ships it to executors; no driver collect, so
    building the plan runs no job and an empty input yields an empty
    result instead of crashing). The dot product is an exact int64
    fold over the quantized arrays — order-independent, identical to
    the DuckDB oracle's list comprehension — and cosine_c4 =
    floor(dot*1e4 / (sqrt(na)*sqrt(nb))) runs the same IEEE float64
    operation sequence in both engines. A lazy ``row_guard`` fails the
    job (not the build) past ``max_rows``."""
    q = df.selectExpr(
        sql_ident(id_col) + " AS id",
        spark_quantize_sql(f"cast({sql_ident(vec_col)} as array<double>)") + " AS q",
    )
    # self-norm once per ROW, before the join — recomputing a 64-element
    # fold per candidate PAIR would cost O(n^2) folds instead of O(n)
    qn = q.selectExpr("id", "q", spark_dot_long_sql("q", "q") + " AS n2")
    a = fan_out(qn, by="id").selectExpr("id AS id_a", "q AS qa", "n2 AS na")
    # guard the broadcast side — that's where n^2 and executor memory bite
    b = row_guard(qn, max_rows, "cosine_pairs_bucketed").selectExpr(
        "id AS id_b", "q AS qb", "n2 AS nb"
    )
    d = spark_dot_long_sql("qa", "qb")
    # zero-norm guard, same pinned-0 rule as the bucketed/semdedup
    # kernels: an all-zero quantized vector has undefined cosine; both
    # engines must agree it is "not similar" rather than each handling
    # the NaN differently (Spark's NaN>=t is false, DuckDB's is true)
    c4 = (
        "cast(CASE WHEN na = 0 OR nb = 0 THEN 0.0D "
        f"ELSE floor(cast({d} as double) * 10000.0D / "
        "(sqrt(cast(na as double)) * sqrt(cast(nb as double)))) END as bigint)"
    )
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .selectExpr("id_a", "id_b", c4 + " AS cosine_c4")
        .filter(F.col("cosine_c4") >= F.lit(threshold_c4))
    )


def duck_cosine_pairs(
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold_c4: int = 4500,
) -> str:
    c4 = duck_c4_quant("a.q", "b.q")
    return f"""
WITH e AS (SELECT {id_col} AS id, {duck_quantize(f'CAST({vec_col} AS DOUBLE[])')} AS q FROM {table})
SELECT a.id AS id_a, b.id AS id_b, CAST({c4} AS BIGINT) AS cosine_c4
FROM e a JOIN e b ON a.id < b.id
WHERE {c4} >= {threshold_c4}
"""


def ann_topk(
    df: DataFrame,
    query_id: int = 0,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_rows: int | None = 10_000_000,
) -> DataFrame:
    """Brute-force cosine top-k against one stored vector; deterministic
    tie-break on id. The broadcast of the single query row means the scan
    side never shuffles. Past ``max_rows`` the lazy guard fails the job
    and points at ``ann_topk_bucketed`` — a full scan per query is the
    rerank baseline, not the corpus path.

    The guard rides ONLY the single-row query broadcast (``count_of``
    points it at the full input), so the count aggregate executes once
    and the scan side keeps its pushed-down ``vec_id = query_id``
    lookup and shuffle-free plan.

    A non-existent ``query_id`` still trips the guard on an oversized
    corpus: the check pushes into the count branch (see ``row_guard``'s
    inline comment), which materializes as a dependency of the broadcast
    regardless of the lookup being empty."""
    q = df.filter(F.col(id_col) == query_id).select(as_double(vec_col).alias("qv"))
    if max_rows is not None:
        q = row_guard(q, max_rows, "ann_topk_bucketed", count_of=df)
    scored = fan_out(df, by=id_col).crossJoin(F.broadcast(q)).selectExpr(
        sql_ident(id_col),
        spark_cosine_c4_sql(f"cast({sql_ident(vec_col)} as array<double>)", "qv")
        + " AS cosine_c4",
    )
    return scored.orderBy(F.desc("cosine_c4"), F.col(id_col)).limit(k)


def duck_ann_topk(
    table: str = "embeddings",
    query_id: int = 0,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    c4 = duck_cosine_c4("e.v", "q.v")
    return f"""
WITH e AS (SELECT {id_col} AS id, CAST({vec_col} AS DOUBLE[]) AS v FROM {table}),
q AS (SELECT v FROM e WHERE id = {query_id})
SELECT e.id AS {id_col}, CAST({c4} AS BIGINT) AS cosine_c4
FROM e, q
ORDER BY cosine_c4 DESC, e.id
LIMIT {k}
"""


def hyperplanes(n_planes: int = N_PLANES, dim: int = EMBED_DIM, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes, rounded to 6 dp so their decimal
    literals parse to identical doubles in both engines."""
    rng = np.random.default_rng(seed)
    return [[round(float(x), 6) for x in row] for row in rng.standard_normal((n_planes, dim))]


def lsh_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    planes: list[list[float]] | None = None,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Random-hyperplane LSH: bucket = sign bits of dot(v, plane_j).

    ``keep`` carries extra columns (typically the vector itself) through
    the projection: the bucket is a narrow map over the scan, so a
    consumer that needs (id, vec, bucket) should ask for it HERE rather
    than re-join the corpus to itself on id — that join is a full
    shuffle of the embedding payload at 100 TB for data this very scan
    already held."""
    planes = planes or hyperplanes()
    df = fan_out(df, by=id_col)  # 8 plane-dots per row: split the scan across cores
    # One expr string, not a per-plane Column chain: that built
    # n_planes * dim lit().cast() Columns plus a lambda-fold dot per
    # plane, ~1.8 s of py4j round trips per build (12x this form,
    # measured). Bucket bits are oracle-pinned by dp_ann_lsh_buckets;
    # the dot kernel by test_operators::test_vector_kernel_parity.
    # Each coefficient is written as its float repr: a 6-dp decimal literal (CAST(0.123456 AS DOUBLE)) or,
    # for tiny values, an exponent double literal (CAST(1e-06 AS
    # DOUBLE)); either casts to the nearest double exactly like
    # F.lit(float) and the DuckDB twin's ::DOUBLE[] literals — same
    # bucket bits.
    v = f"cast({sql_ident(vec_col)} as array<double>)"
    terms = ["CAST(0 AS BIGINT)"]
    for j, plane in enumerate(planes):
        arr = "array(" + ", ".join(f"CAST({x!r} AS DOUBLE)" for x in plane) + ")"
        terms.append(
            f"(CASE WHEN {spark_dot_sql(v, arr)} > 0 "
            f"THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        )
    bucket = " + ".join(terms)
    return df.selectExpr(
        sql_ident(id_col), *[sql_ident(c) for c in keep], f"({bucket}) AS bucket"
    )


def duck_lsh_buckets(
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    planes: list[list[float]] | None = None,
) -> str:
    planes = planes or hyperplanes()
    # plane literals and the double-cast vector are hoisted into the
    # subquery as COLUMNS: DuckDB re-materializes an array literal (and
    # only a literal — column references are fine) on every element
    # access inside a comprehension, which made the original
    # literal-inline form O(dim^2) per row per plane (measured 96s for
    # 20k rows; hoisted: <1s). The dot itself keeps the identical
    # left-to-right float fold, so bucket bits are unchanged.
    cols = ", ".join(
        "[" + ", ".join(repr(x) for x in plane) + f"]::DOUBLE[] AS p{j}"
        for j, plane in enumerate(planes)
    )
    total = " + ".join(
        f"CASE WHEN {duck_dot('w', f'p{j}')} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END"
        for j in range(len(planes))
    )
    return (
        f"SELECT {id_col}, CAST({total} AS BIGINT) AS bucket FROM "
        f"(SELECT {id_col}, CAST({vec_col} AS DOUBLE[]) AS w, {cols} FROM {table})"
    )


def ann_topk_bucketed(
    df: DataFrame,
    query_id: int = 0,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    hamming: int = 0,
) -> DataFrame:
    """ANN restricted to the query's LSH bucket — the IVF-style scale
    path: the equi-join on bucket prunes the scan to ~n/2^planes rows.

    ``hamming=1`` turns on multi-probe: the query probes its own bucket
    PLUS the N_PLANES Hamming-1 neighbor buckets (flip one sign bit) —
    the standard recall repair for hyperplane LSH (a near neighbor that
    lands just across one hyperplane is recovered). Scan grows to
    (1 + N_PLANES)/2^planes of the corpus — at the defaults ~3.5%, still
    a 28x prune — and XOR is a bijection per mask, so a corpus row
    matches at most one probe: no duplicate candidates, no dedup pass.
    dp_ann_recall measures both variants side by side; the facade's
    ``auto`` resolves to THIS path so its default is the measured-better
    recall, not the silently-low single-probe one (VERDICT r9 #2)."""
    if hamming not in (0, 1):
        raise ValueError(f"hamming must be 0 or 1, got {hamming}")
    # bucket carried on the scan itself (keep=): rejoining df to its
    # own bucket table on id would shuffle the whole embedding payload
    with_b = lsh_buckets(df, vec_col, id_col, keep=(vec_col,))
    qb = with_b.filter(F.col(id_col) == query_id).select(
        F.col("bucket").alias("qbucket"), as_double(vec_col).alias("qv")
    )
    if hamming:
        masks = [0] + [1 << j for j in range(N_PLANES)]
        arr = "array(" + ", ".join(f"CAST({m} AS BIGINT)" for m in masks) + ")"
        qb = qb.selectExpr(f"explode({arr}) AS mask", "qbucket", "qv").selectExpr(
            "(qbucket ^ mask) AS qbucket", "qv"
        )
    cands = with_b.join(F.broadcast(qb), F.col("bucket") == F.col("qbucket"))
    scored = cands.selectExpr(
        sql_ident(id_col),
        spark_cosine_c4_sql(f"cast({sql_ident(vec_col)} as array<double>)", "qv")
        + " AS cosine_c4",
    )
    return scored.orderBy(F.desc("cosine_c4"), F.col(id_col)).limit(k)


def duck_ann_topk_bucketed(
    table: str = "embeddings", query_id: int = 0, k: int = 5, vec_col: str = "embedding", id_col: str = "vec_id"
) -> str:
    c4 = duck_cosine_c4("e.v", "q.v")
    buckets = duck_lsh_buckets(table, vec_col, id_col)
    return f"""
WITH b AS ({buckets}),
e AS (SELECT t.{id_col} AS id, CAST(t.{vec_col} AS DOUBLE[]) AS v, b.bucket
      FROM {table} t JOIN b ON b.{id_col} = t.{id_col}),
q AS (SELECT v, bucket FROM e WHERE id = {query_id})
SELECT e.id AS {id_col}, CAST({c4} AS BIGINT) AS cosine_c4
FROM e JOIN q ON e.bucket = q.bucket
ORDER BY cosine_c4 DESC, e.id
LIMIT {k}
"""


def _c4_matrix(mat: "np.ndarray") -> "np.ndarray":
    """Pairwise quantized cosine as floor(x*1e4), exact int64 dots,
    zero-norm pinned to 0 — the ONE numpy implementation of
    duck_c4_quant's semantics. An all-zero quantized vector has
    undefined cosine; pinning keeps the decision engine-independent
    (numpy's NaN compares False/kept where DuckDB sorts NaN above every
    number/dropped). Shared by cosine_pairs_bucketed's bucket kernel
    and semdedup's cell kernel, which previously carried line-for-line
    copies a one-sided fix could split."""
    dots = mat @ mat.T  # exact int64
    norm = np.sqrt((mat * mat).sum(axis=1).astype(np.float64))
    nprod = norm[:, None] * norm[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        c4 = np.floor(dots.astype(np.float64) * 10000.0 / nprod)
    return np.where(nprod == 0.0, 0.0, c4)


def cosine_pairs_bucketed(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold_c4: int = 4500,
    planes: list[list[float]] | None = None,
    buckets: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs restricted to an LSH bucket — the fully
    distributed 100 TB path for embedding dedup.

    ``cosine_pairs`` ships the whole quantized matrix to every task
    (fine for a rerank set, wrong for a corpus); here random-hyperplane
    buckets partition the data and applyInPandas runs the exact int64
    matmul kernel WITHIN each bucket — no driver collect, state bounded
    by the largest bucket, parallelism = number of buckets (add planes
    to split further). Recall follows the hyperplane-LSH collision
    probability (1 - theta/pi per plane); candidates this generator
    yields carry the same exact quantized cosine_c4 as the brute-force
    kernel, so downstream thresholds/clustering behave identically.

    ``buckets`` lets a caller substitute any (id_col, bucket) partition
    for the default LSH planes — e.g. trained k-means cells (semdedup
    below), where recall within a cell is exact rather than
    probabilistic."""
    import pandas as pd

    if buckets is None:
        # default LSH path: bucket computed as a column on the ONE scan
        # (see lsh_buckets keep=) — no corpus self-join
        with_b = lsh_buckets(df, vec_col, id_col, planes, keep=(vec_col,))
    else:
        # caller-supplied partition (e.g. k-means cells): the join is
        # the contract — buckets may come from anywhere
        with_b = df.join(buckets, id_col)
    q = with_b.selectExpr(
        sql_ident(id_col),
        "bucket",
        spark_quantize_sql(f"cast({sql_ident(vec_col)} as array<double>)") + " AS q",
    )

    def block(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine_c4": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine_c4": "int64"}
            )
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        mat = np.array(list(pdf["q"]), dtype=np.int64)
        c4 = _c4_matrix(mat)
        ia, ib = np.nonzero((ids[:, None] < ids[None, :]) & (c4 >= threshold_c4))
        return pd.DataFrame(
            {"id_a": ids[ia], "id_b": ids[ib], "cosine_c4": c4[ia, ib].astype(np.int64)}
        )

    return q.groupBy("bucket").applyInPandas(block, "id_a long, id_b long, cosine_c4 long")


# ------------------------------------------------------- k-means training ----

#: quantized embedding coordinates here are |q| <= ~2^22; adding this
#: offset before integer division keeps every DIV operand non-negative,
#: where Spark's ``DIV`` and DuckDB's ``//`` (both truncating) agree
#: with mathematical floor. 1<<24 leaves 100x coordinate headroom and
#: n * OFFSET stays < 2^63 up to n ~ 2^38 vectors per cluster.
KM_OFFSET = 1 << 24


def spark_d2_sql(a: str, b: str) -> str:
    """Squared L2 distance between two quantized array<bigint>
    expressions, |a|^2 - 2ab + |b|^2 over exact int64 dots — the k-means
    assignment and IVF/PQ probe metric. Twin of :func:`duck_d2`; the
    factor 2 is written on the right, the same int64 either way."""
    return (
        f"({spark_dot_long_sql(a, a)} - {spark_dot_long_sql(a, b)} * 2 "
        f"+ {spark_dot_long_sql(b, b)})"
    )


def duck_d2(a: str, b: str) -> str:
    """Squared L2 distance — the k-means assignment metric: exact int64
    over quantized arrays (no sqrt, no float), so argmin is evaluation-
    order-independent in both engines. Expanded to |a|^2 - 2ab + |b|^2
    over native dots: each term is exact (duck_dot_int), the combination
    is BIGINT arithmetic, and the per-element comprehension this
    replaces was the oracle's hot loop at sf1."""
    return f"({duck_dot_int(a, a)} - 2 * {duck_dot_int(a, b)} + {duck_dot_int(b, b)})"


def kmeans_train(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    with_vectors: bool = False,
    with_centroids: bool = False,
) -> DataFrame | tuple[DataFrame, dict[int, list[int]]]:
    """Distributed Lloyd's k-means over quantized embeddings, returning
    the final assignment ``(id_col, centroid_id, d2)`` — or, with
    ``with_centroids=True``, the ``(assignment, {cid: centroid})`` pair.

    Everything is exact int64 (quantize -> squared-L2 -> floor-mean), so
    the result is independent of evaluation/aggregation order and
    hash-matches the DuckDB oracle. Deterministic init: the vectors with
    ``id < k`` seed the centroids (same convention as ``dp_ivf_assign``).

    Scale shape (the same one MLlib's KMeans uses): per iteration the
    driver collects the k x dim centroid table (bounded: k*dim ints — the
    dedup_clusters "one aggregate per round" contract), so the NEXT
    assignment is a narrow Arrow-batched int64 kernel with the centroid
    matrix carried in the task closure — no join, no shuffle on the
    corpus side. The centroid update is
    posexplode -> groupBy(cid, pos) with map-side combine: the exchange
    carries ~partitions * k * dim partial sums, never the vectors.
    A cluster that loses every member keeps its previous centroid (same
    as MLlib), so k never silently shrinks and both engines agree.
    """
    import pandas as pd

    q = df.selectExpr(
        sql_ident(id_col) + " AS _id",
        spark_quantize_sql(f"cast({sql_ident(vec_col)} as array<double>)") + " AS q",
    )
    from baker_spark.session import managed_persist

    q = managed_persist(fan_out(q, by="_id"))
    # deterministic seeds: collect is k rows of dim ints (bounded)
    cents = {
        r["_id"]: list(r["q"])
        for r in q.filter(F.col("_id") < k).collect()
    }
    if not cents:
        # no vector satisfies the deterministic id < k seeding
        # convention (arbitrary/snowflake ids): the DuckDB oracle's
        # seed CTE is empty and yields zero assignment rows, so match
        # it with a typed empty result instead of letting the numpy
        # kernel die on a (0,)-shaped centroid matrix
        schema = f"{id_col} long, centroid_id long, d2 long"
        if with_vectors:
            schema += ", q array<long>"
        empty = df.sparkSession.createDataFrame([], schema)
        return (empty, {}) if with_centroids else empty

    def assigned_df(cents: dict[int, list[int]]) -> DataFrame:
        # Arrow-batched exact-int64 assignment kernel: d2 = |m|^2 - 2mC^T
        # + |c|^2 per batch (every term int64 — order-independent, so the
        # vectorized evaluation is legal where a float kernel would not
        # be). argmin over centroids SORTED BY cid takes the first
        # minimum — exactly the (d2, cid) lexicographic tie-break the
        # DuckDB oracle's row_number ordering applies. This replaces a
        # per-row interpreted fold (k*dim lambda ops/row — the slow
        # class PERFORMANCE.md measures at ~50x codegen).
        cids = np.array(sorted(cents), dtype=np.int64)
        C = np.array([cents[c] for c in sorted(cents)], dtype=np.int64)
        c2 = (C * C).sum(axis=1)

        def kernel(pdfs):
            for pdf in pdfs:
                if len(pdf) == 0:
                    continue
                m = np.array(list(pdf["q"]), dtype=np.int64)
                d2 = (m * m).sum(axis=1)[:, None] - 2 * (m @ C.T) + c2[None, :]
                j = d2.argmin(axis=1)
                yield pd.DataFrame(
                    {
                        "_id": pdf["_id"],
                        "q": pdf["q"],
                        "cid": cids[j],
                        "d2": d2[np.arange(len(m)), j],
                    }
                )

        return q.mapInPandas(kernel, "_id long, q array<long>, cid long, d2 long")

    for _ in range(iters):
        means = (
            assigned_df(cents)
            .select("cid", F.posexplode("q").alias("pos", "v"))
            .groupBy("cid", "pos")
            .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
            .select(
                "cid",
                "pos",
                F.expr(f"CAST((s + n * {KM_OFFSET}) DIV n - {KM_OFFSET} AS BIGINT)").alias("c"),
            )
        )
        new_cents = {
            int(r["cid"]): [int(x) for _, x in sorted((p, v) for p, v in zip(r["poss"], r["vs"]))]
            for r in means.groupBy("cid")
            .agg(F.collect_list("pos").alias("poss"), F.collect_list("c").alias("vs"))
            .collect()
        }
        cents = {**cents, **new_cents}

    final = assigned_df(cents)
    cols = [
        F.col("_id").alias(id_col),
        F.col("cid").alias("centroid_id"),
        F.col("d2"),
    ]
    if with_vectors:
        # lets a consumer (semdedup) group by cell WITHOUT re-joining the
        # corpus — the assignment is already a narrow map over (id, q)
        cols.append(F.col("q"))
    out = final.select(*cols)
    if with_centroids:
        # the centroid table the FINAL assignment ran against (k x dim
        # ints, already on the driver) — what a probing consumer
        # (ivfpq_topk) ranks query-to-cell distances with
        return out, cents
    return out


def _duck_kmeans_parts(
    table: str,
    k: int,
    iters: int,
    vec_col: str,
    id_col: str,
    dim: int = EMBED_DIM,
) -> tuple[list[str], str, str]:
    """Shared CTE chain for the k-means oracles: returns
    (cte_parts, final_assign_select, last_codebook_cte) so
    duck_kmeans_train emits the assignment and a probing consumer
    (duck_ivfpq_topk) can also rank cells against the SAME centroids
    the assignment used."""
    d2 = duck_d2("e.q", "c.cv")
    assign = (
        "SELECT _id, cid, d2 FROM ("
        "SELECT e._id, c.cid, {d2} AS d2, "
        "row_number() OVER (PARTITION BY e._id ORDER BY {d2}, c.cid) AS rn "
        "FROM q e, {cents} c) WHERE rn = 1"
    )
    parts = [
        f"q AS (SELECT {id_col} AS _id, {duck_quantize(f'CAST({vec_col} AS DOUBLE[])')} AS q FROM {table})",
        f"c0 AS (SELECT _id AS cid, q AS cv FROM q WHERE _id < {k})",
    ]
    prev = "c0"
    for t in range(1, iters + 1):
        parts.append(f"a{t} AS ({assign.format(d2=d2, cents=prev)})")
        # position generation is LENGTH-driven (generate_subscripts zips
        # with unnest), not dim-parameter-driven: a fixed range(1, dim+1)
        # over shorter vectors padded the centroid lists with NULLs —
        # silently absorbed by the old comprehension dot, a hard error
        # under list_dot_product
        parts.append(
            f"m{t} AS (SELECT cid, pos, "
            f"CAST((sum(x) + count(*) * {KM_OFFSET}) // count(*) - {KM_OFFSET} AS BIGINT) AS c "
            f"FROM (SELECT a.cid, generate_subscripts(e.q, 1) AS pos, unnest(e.q) AS x "
            f"FROM a{t} a JOIN q e USING (_id)) GROUP BY cid, pos)"
        )
        # a cluster that lost all members keeps its previous centroid
        parts.append(
            f"c{t} AS (SELECT cid, cv FROM (SELECT cid, list(c ORDER BY pos) AS cv FROM m{t} GROUP BY cid) "
            f"UNION ALL SELECT cid, cv FROM {prev} p WHERE cid NOT IN (SELECT cid FROM m{t}))"
        )
        prev = f"c{t}"
    return parts, assign.format(d2=d2, cents=prev), prev


def duck_kmeans_train(
    table: str = "embeddings",
    k: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = EMBED_DIM,
) -> str:
    """DuckDB oracle: the identical Lloyd iterations as an unrolled CTE
    chain (quantize -> argmin assign -> floor-mean update, all BIGINT)."""
    parts, final, _ = _duck_kmeans_parts(table, k, iters, vec_col, id_col, dim)
    return (
        "WITH " + ",\n".join(parts) + f"\nSELECT _id AS {id_col}, cid AS centroid_id, "
        f"CAST(d2 AS BIGINT) AS d2 FROM ({final})"
    )


#: default SemDeDup cell cap: a 4096-row cell is a 4096x4096 int64
#: matmul (~134 MB of dots) — comfortably inside one task; cells above
#: it are hash-split so the kernel's worst case is bounded under
#: embedding skew (a hot cluster can no longer straggle the stage)
SEMDEDUP_CELL_CAP = 4096


def semdedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold_c4: int = 4500,
    k: int = 8,
    iters: int = 1,
    cell_cap: int | None = SEMDEDUP_CELL_CAP,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the embedding space with k-means, then within each cluster drop every
    vector whose quantized cosine with a LOWER-id cluster member reaches
    ``threshold_c4``. Returns the kept ``(id_col, centroid_id)``.

    Deviation from the paper: the paper keeps the member farthest from
    the centroid; keep-lowest-id is deterministic and engine-independent
    (no float argmax over distances), which is what the cross-engine
    oracle requires. The drop RULE (one survivor per near-dup pair, the
    pair scoped to a cluster) is the paper's.

    Scale: NO joins anywhere on the corpus side — the assignment arrives
    with its quantized vector attached (``kmeans_train(with_vectors=True)``
    is a narrow map over the persisted corpus), so the whole dedup is one
    shuffle (groupBy cell) into an applyInPandas kernel that decides
    survivors cell-locally; no cross-cluster pair ever materializes.

    ``cell_cap`` bounds the kernel's worst case under embedding skew: a
    cell with more than ``cell_cap`` members is deterministically split
    into ``ceil(n / cell_cap)`` sub-cells by ``md5(id) % nsub`` (the
    per-cell counts are a k-row aggregate broadcast back — never a
    corpus shuffle). Pairs across sub-cells of the same hot cell are
    not compared — the documented recall trade for a bounded stage
    (SemDeDup's own recall is already cluster-scoped; a cell hot enough
    to hit the cap signals k is too small). ``cell_cap=None`` disables
    the split. The DuckDB oracle applies the identical rule, so parity
    holds in the capped regime too."""
    import pandas as pd

    assign = kmeans_train(
        df, k=k, iters=iters, vec_col=vec_col, id_col=id_col, with_vectors=True
    )

    group_cols = ["centroid_id"]
    if cell_cap:
        from baker_spark.functions.hashing import md5_long
        from baker_spark.session import managed_persist

        # persist: the cap splits assign into TWO consumers (the counts
        # aggregate's broadcast build + the probe side of the join);
        # without the boundary the mapInPandas assignment kernel — a
        # full-corpus numpy pass — executes once per branch
        assign = managed_persist(assign)
        counts = assign.groupBy("centroid_id").agg(F.count("*").alias("_n"))
        nsub = F.greatest(
            F.lit(1), F.ceil(F.col("_n") / F.lit(cell_cap)).cast("long")
        )
        assign = assign.join(F.broadcast(counts), "centroid_id").withColumn(
            "_sub", F.pmod(md5_long(F.col(id_col).cast("string")), nsub)
        )
        group_cols.append("_sub")

    def keep(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pdf[[id_col, "centroid_id"]]
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        mat = np.array(list(pdf["q"]), dtype=np.int64)
        c4 = _c4_matrix(mat)
        dominated = ((ids[:, None] < ids[None, :]) & (c4 >= threshold_c4)).any(axis=0)
        return pdf.loc[~dominated, [id_col, "centroid_id"]]

    return assign.groupBy(*group_cols).applyInPandas(
        keep, f"{id_col} long, centroid_id long"
    )


def duck_semdedup(
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold_c4: int = 4500,
    k: int = 8,
    iters: int = 1,
    cell_cap: int | None = SEMDEDUP_CELL_CAP,
) -> str:
    from baker_spark.functions.hashing import duck_md5_long

    km = duck_kmeans_train(table, k, iters, vec_col, id_col)
    c4 = duck_c4_quant("a.q2", "b.q2")
    # the _sub computation is the oracle mirror of the Spark side's
    # cell_cap split: md5(id) % ceil(cell_size / cap), identical hash
    if cell_cap:
        sub = (
            f"{duck_md5_long('CAST(id AS VARCHAR)')} % "
            f"greatest(1, CAST(ceil(_n / {cell_cap}) AS BIGINT))"
        )
        ev_final = (
            f"ev0 AS (SELECT t.{id_col} AS id, km.centroid_id,\n"
            f"              {duck_quantize(f'CAST(t.{vec_col} AS DOUBLE[])')} AS q2\n"
            f"       FROM {table} t JOIN km ON km.{id_col} = t.{id_col}),\n"
            f"evn AS (SELECT ev0.*, count(*) OVER (PARTITION BY centroid_id) AS _n FROM ev0),\n"
            f"ev AS (SELECT evn.*, {sub} AS _sub FROM evn)"
        )
        pair_on = "a.centroid_id = b.centroid_id AND a._sub = b._sub AND a.id < b.id"
    else:
        ev_final = (
            f"ev AS (SELECT t.{id_col} AS id, km.centroid_id,\n"
            f"              {duck_quantize(f'CAST(t.{vec_col} AS DOUBLE[])')} AS q2\n"
            f"       FROM {table} t JOIN km ON km.{id_col} = t.{id_col})"
        )
        pair_on = "a.centroid_id = b.centroid_id AND a.id < b.id"
    return f"""
WITH km AS ({km}),
{ev_final},
dropped AS (
  SELECT DISTINCT b.id FROM ev a JOIN ev b
  ON {pair_on}
  WHERE {c4} >= {threshold_c4}
)
SELECT id AS {id_col}, centroid_id FROM ev
WHERE id NOT IN (SELECT id FROM dropped)
"""


def duck_cosine_pairs_bucketed(
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold_c4: int = 4500,
    planes: list[list[float]] | None = None,
) -> str:
    buckets = duck_lsh_buckets(table, vec_col, id_col, planes)
    c4 = duck_c4_quant("a.q", "b.q")
    return f"""
WITH bk AS ({buckets}),
e AS (SELECT t.{id_col} AS id, bk.bucket,
             {duck_quantize(f'CAST(t.{vec_col} AS DOUBLE[])')} AS q
      FROM {table} t JOIN bk ON bk.{id_col} = t.{id_col})
SELECT a.id AS id_a, b.id AS id_b, CAST({c4} AS BIGINT) AS cosine_c4
FROM e a JOIN e b ON a.bucket = b.bucket AND a.id < b.id
WHERE {c4} >= {threshold_c4}
"""


# --------------------------------------------------- product quantization ----

#: PQ defaults: 64-dim vectors -> m=8 subspaces of 8 dims, 16 centroids
#: per subspace (4-bit codes). A PQ code is m small ints — the corpus
#: compresses ~64x (8 bytes vs 64 floats), which is what makes
#: billion-vector ANN shippable: search touches codes, never vectors.
PQ_M = 8
PQ_KSUB = 16


def _pq_subspaces(q: DataFrame, m: int, dim: int) -> DataFrame:
    """(id, q) -> (id, sub, v): one row per subspace slice. Same bytes as
    the input (m rows of dim/m longs), and the natural distributed shape:
    every downstream PQ step groups on (sub, ...) with map-side combine."""
    if dim % m:
        # silently training/encoding/searching on only m*(dim//m) of the
        # dim coordinates would make every PQ/IVF-PQ search rank by a
        # truncated approximation while reporting itself full-dimension
        raise ValueError(f"dim ({dim}) must be divisible by m ({m})")
    d = dim // m
    slices = "array(" + ", ".join(f"slice(q, {s * d + 1}, {d})" for s in range(m)) + ")"
    return q.selectExpr("_id", f"posexplode({slices}) AS (sub, v)")


def pq_train_encode(
    df: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = EMBED_DIM,
) -> tuple[DataFrame, dict[tuple[int, int], list[int]]]:
    """Product-quantization codebook training + corpus encoding
    (Jegou et al. 2011): per-subspace Lloyd's k-means over exact int64
    quantized slices, returning ``(codes_df, codebook)`` where codes_df
    is ``(id_col, sub, cid)`` (n*m rows — the compressed corpus) and
    codebook maps ``(sub, cid) -> centroid`` (m*ksub*(dim/m) ints).

    Everything follows kmeans_train's exactness contract (quantize ->
    int64 d2 -> floor-mean with KM_OFFSET; seeds = vectors with
    ``id < ksub``; empty cells keep their previous centroid), so the
    DuckDB oracle hash-matches. Scale shape: ALL m subspaces train in
    ONE job per iteration — the assignment is an Arrow kernel with the
    (m, ksub, dim/m) centroid tensor in the task closure, the update is
    one groupBy(sub, cid, pos) with map-side combine, and the driver
    collects m*ksub*(dim/m) ints per round (1024 at the defaults)."""
    import pandas as pd

    from baker_spark.session import managed_persist

    d = dim // m
    q = df.selectExpr(
        sql_ident(id_col) + " AS _id",
        spark_quantize_sql(f"cast({sql_ident(vec_col)} as array<double>)") + " AS q",
    )
    sub = managed_persist(fan_out(_pq_subspaces(q, m, dim), by="_id"))

    # seeds: ksub rows -> m*ksub subspace centroids, one bounded collect
    cents: dict[tuple[int, int], list[int]] = {
        (int(r["sub"]), int(r["_id"])): list(r["v"])
        for r in sub.filter(F.col("_id") < ksub).collect()
    }
    if not cents:
        empty = df.sparkSession.createDataFrame([], f"{id_col} long, sub int, cid long")
        return empty, {}

    def assigned(cents: dict[tuple[int, int], list[int]]) -> DataFrame:
        # one centroid matrix per subspace, argmin with the same
        # (d2, cid) lexicographic tie-break as kmeans_train's kernel
        by_sub: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
        for s in {sk for sk, _ in cents}:
            cids = np.array(sorted(c for sk, c in cents if sk == s), dtype=np.int64)
            C = np.array([cents[(s, c)] for c in cids], dtype=np.int64)
            by_sub[s] = (cids, C, (C * C).sum(axis=1))

        def kernel(pdfs):
            for pdf in pdfs:
                if len(pdf) == 0:
                    continue
                out_cid = np.empty(len(pdf), dtype=np.int64)
                out_d2 = np.empty(len(pdf), dtype=np.int64)
                subs = pdf["sub"].to_numpy()
                mat = np.array(list(pdf["v"]), dtype=np.int64)
                for s in np.unique(subs):
                    cids, C, c2 = by_sub[int(s)]
                    rows = np.nonzero(subs == s)[0]
                    ms = mat[rows]
                    d2 = (ms * ms).sum(axis=1)[:, None] - 2 * (ms @ C.T) + c2[None, :]
                    j = d2.argmin(axis=1)
                    out_cid[rows] = cids[j]
                    out_d2[rows] = d2[np.arange(len(rows)), j]
                yield pd.DataFrame(
                    {
                        "_id": pdf["_id"],
                        "sub": pdf["sub"],
                        "v": pdf["v"],
                        "cid": out_cid,
                        "d2": out_d2,
                    }
                )

        return sub.mapInPandas(
            kernel, "_id long, sub int, v array<long>, cid long, d2 long"
        )

    for _ in range(iters):
        means = (
            assigned(cents)
            .select("sub", "cid", F.posexplode("v").alias("pos", "x"))
            .groupBy("sub", "cid", "pos")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .select(
                "sub",
                "cid",
                "pos",
                F.expr(f"CAST((s + n * {KM_OFFSET}) DIV n - {KM_OFFSET} AS BIGINT)").alias("c"),
            )
        )
        new = {
            (int(r["sub"]), int(r["cid"])): [
                int(x) for _, x in sorted((p, v) for p, v in zip(r["poss"], r["vs"]))
            ]
            for r in means.groupBy("sub", "cid")
            .agg(F.collect_list("pos").alias("poss"), F.collect_list("c").alias("vs"))
            .collect()
        }
        cents = {**cents, **new}  # empty cells keep their previous centroid

    codes = assigned(cents).select(
        F.col("_id").alias(id_col), "sub", "cid"
    )
    return codes, cents


def pq_adc_topk(
    df: DataFrame,
    query_id: int = 0,
    k: int = 10,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = EMBED_DIM,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query stays
    uncompressed; each corpus vector's distance is approximated by
    sum_sub d2(query_slice, centroid[sub][code]). Returns
    ``(id_col, d2_adc)``, ascending with id tie-break.

    Scale: the m*ksub distance table is computed on the driver from the
    trained codebook (1024 ints) and broadcast; search is then one
    broadcast hash join codes->table plus a groupBy(id) sum with
    map-side combine — it touches the 8-byte codes, never the vectors.
    That is the whole point of PQ at 100 TB: the uncompressed corpus is
    read once at encode time; every query after that scans codes."""
    codes, cents = pq_train_encode(df, m, ksub, iters, vec_col, id_col, dim)
    spark = df.sparkSession
    if not cents:
        return spark.createDataFrame([], f"{id_col} long, d2_adc long")

    d = dim // m
    qrow = (
        df.filter(F.col(id_col) == query_id)
        .selectExpr(
            spark_quantize_sql(f"cast({sql_ident(vec_col)} as array<double>)") + " AS q"
        )
        .collect()
    )
    if not qrow:
        return spark.createDataFrame([], f"{id_col} long, d2_adc long")
    qv = list(qrow[0]["q"])
    table = [
        (s, c, sum((qv[s * d + i] - cv[i]) ** 2 for i in range(d)))
        for (s, c), cv in sorted(cents.items())
    ]
    tdf = spark.createDataFrame(table, "sub int, cid long, d2q long")
    return (
        codes.join(F.broadcast(tdf), ["sub", "cid"])
        .groupBy(id_col)
        .agg(F.sum("d2q").alias("d2_adc"))
        .orderBy(F.col("d2_adc"), F.col(id_col))
        .limit(k)
    )


def _duck_pq_parts(
    table: str,
    m: int,
    ksub: int,
    iters: int,
    vec_col: str,
    id_col: str,
    dim: int,
    prefix: str = "",
) -> tuple[list[str], str, str]:
    """Shared CTE chain for the PQ oracles: per-subspace Lloyd
    iterations, one more grouping dimension over duck_kmeans_train's
    shape. Returns (cte_parts, final_assign_select, last_codebook_cte)
    so duck_pq_codes emits the codes and duck_pq_adc_topk can also
    reference the trained codebook. ``prefix`` namespaces every CTE so
    the chain can coexist with the coarse k-means chain in one oracle
    (duck_ivfpq_topk)."""
    d = dim // m
    d2 = duck_d2("s.v", "c.cv")
    P = prefix
    assign = (
        "SELECT _id, sub, cid FROM ("
        "SELECT s._id, s.sub, c.cid, "
        "row_number() OVER (PARTITION BY s._id, s.sub ORDER BY {d2}, c.cid) AS rn "
        f"FROM {P}sub s JOIN {{cents}} c USING (sub)) WHERE rn = 1"
    )
    parts = [
        f"{P}q AS (SELECT {id_col} AS _id, {duck_quantize(f'CAST({vec_col} AS DOUBLE[])')} AS q FROM {table})",
        f"{P}sub AS (SELECT _id, CAST(r.s AS INT) AS sub, list_slice(q, r.s * {d} + 1, r.s * {d} + {d}) AS v "
        f"FROM {P}q CROSS JOIN range(0, {m}) r(s))",
        f"{P}c0 AS (SELECT sub, _id AS cid, v AS cv FROM {P}sub WHERE _id < {ksub})",
    ]
    prev = f"{P}c0"
    for t in range(1, iters + 1):
        parts.append(f"{P}a{t} AS ({assign.format(d2=d2, cents=prev)})")
        parts.append(
            f"{P}m{t} AS (SELECT a.sub, a.cid, r.i AS pos, "
            f"CAST((sum(s.v[r.i]) + count(*) * {KM_OFFSET}) // count(*) - {KM_OFFSET} AS BIGINT) AS c "
            f"FROM {P}a{t} a JOIN {P}sub s ON s._id = a._id AND s.sub = a.sub "
            f"CROSS JOIN range(1, {d + 1}) r(i) GROUP BY a.sub, a.cid, r.i)"
        )
        parts.append(
            f"{P}c{t} AS (SELECT sub, cid, cv FROM "
            f"(SELECT sub, cid, list(c ORDER BY pos) AS cv FROM {P}m{t} GROUP BY sub, cid) "
            f"UNION ALL SELECT p.sub, p.cid, p.cv FROM {prev} p "
            f"WHERE NOT EXISTS (SELECT 1 FROM {P}m{t} x WHERE x.sub = p.sub AND x.cid = p.cid))"
        )
        prev = f"{P}c{t}"
    return parts, assign.format(d2=d2, cents=prev), prev


def duck_pq_codes(
    table: str = "embeddings",
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = EMBED_DIM,
) -> str:
    """DuckDB oracle for pq_train_encode's ``(id, sub, cid)`` codes."""
    parts, final, _ = _duck_pq_parts(table, m, ksub, iters, vec_col, id_col, dim)
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT _id AS {id_col}, sub, cid FROM ({final})"
    )


def duck_pq_adc_topk(
    table: str = "embeddings",
    query_id: int = 0,
    k: int = 10,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = EMBED_DIM,
) -> str:
    """DuckDB oracle for pq_adc_topk: same trained codebook CTEs, then
    the per-subspace query distance table joined against the codes."""
    d = dim // m
    parts, final, codebook = _duck_pq_parts(table, m, ksub, iters, vec_col, id_col, dim)
    parts.append(f"codes AS ({final})")
    parts.append(f"qq AS (SELECT q FROM q WHERE _id = {query_id})")
    parts.append(
        f"qs AS (SELECT CAST(r.s AS INT) AS sub, list_slice(q, r.s * {d} + 1, r.s * {d} + {d}) AS v "
        f"FROM qq CROSS JOIN range(0, {m}) r(s))"
    )
    parts.append(
        f"tbl AS (SELECT c.sub, c.cid, {duck_d2('s.v', 'c.cv')} AS d2q "
        f"FROM {codebook} c JOIN qs s ON s.sub = c.sub)"
    )
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT _id AS {id_col}, CAST(sum(t.d2q) AS BIGINT) AS d2_adc
FROM codes JOIN tbl t USING (sub, cid)
GROUP BY _id
ORDER BY d2_adc, _id
LIMIT {k}
"""
    )


def ivfpq_encode(
    df: DataFrame,
    kc: int = 8,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = EMBED_DIM,
) -> tuple[DataFrame, dict[int, list[int]], dict[tuple[int, int], list[int]]]:
    """Build the IVF-PQ index: train the coarse quantizer + PQ codebook
    and return ``(codes, coarse_centroids, pq_codebook)`` where codes is
    ``(id_col, centroid_id, sub, cid)`` — the PQ codes WITH each
    vector's coarse cell attached.

    Carrying ``centroid_id`` in the codes table (one extra long per
    row) is the load-bearing scale decision: it costs one
    id-co-partitioned join HERE, at index-build time — amortized over
    every query the index ever serves — and search then prunes to the
    probed cells with a literal ``isin`` filter. The alternative
    (joining codes against the assignment per query) broadcasts a
    candidate-id set that is a constant FRACTION of the corpus
    (~nprobe/kc of it): fine at test scale, an executor OOM at 10^9
    vectors. On a real deployment, persist this frame partitioned by
    ``centroid_id`` and the probe filter becomes partition pruning —
    the scan itself skips (kc - nprobe)/kc of the index. That is
    exactly what :func:`baker_spark.datapipe.ann_index.ann_index_build`
    does (round 10): build once, then ``ann_search(index=path)`` probes
    with no training job and ``ann_index_add`` ingests new batches
    against the frozen quantizers."""
    assign, coarse = kmeans_train(
        df, k=kc, iters=iters, vec_col=vec_col, id_col=id_col, with_centroids=True
    )
    codes, cb = pq_train_encode(df, m, ksub, iters, vec_col, id_col, dim)
    codes = codes.join(assign.select(id_col, "centroid_id"), id_col)
    return codes, coarse, cb


def ivfpq_topk(
    df: DataFrame,
    query_id: int = 0,
    k: int = 10,
    kc: int = 8,
    nprobe: int = 2,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = EMBED_DIM,
) -> DataFrame:
    """IVF-PQ search (Jegou et al. 2011's full system shape, the FAISS
    IVFPQ layout): a coarse k-means quantizer prunes the corpus to the
    ``nprobe`` cells nearest the query, and PQ asymmetric distances rank
    ONLY those cells' members — search cost is nprobe/kc of the codes,
    and the codes are ~64x smaller than the vectors to begin with.

    Scale shape: both trainings are the bounded-driver-traffic loops
    documented on kmeans_train/pq_train_encode; at query time the
    driver holds the kc coarse centroids + the m*ksub distance table (a
    few KB), and search over the :func:`ivfpq_encode` index is a
    literal ``centroid_id IN (probe)`` filter + a broadcast hash join
    against the tiny distance table + one map-side-combined sum per
    candidate. Nothing corpus-sized is ever broadcast and no join
    touches the assignment at query time.

    Exact int64 end-to-end; probe ranking ties break on (d2, cid) and
    result ties on (d2_adc, id), matching the oracle's row_number/ORDER
    BY exactly."""
    codes, coarse, cb = ivfpq_encode(df, kc, m, ksub, iters, vec_col, id_col, dim)
    spark = df.sparkSession
    empty_schema = f"{id_col} long, d2_adc long"
    if not coarse or not cb:
        return spark.createDataFrame([], empty_schema)
    qrow = (
        df.filter(F.col(id_col) == query_id)
        .selectExpr(
            spark_quantize_sql(f"cast({sql_ident(vec_col)} as array<double>)") + " AS q"
        )
        .collect()
    )
    if not qrow:
        return spark.createDataFrame([], empty_schema)
    qv = list(qrow[0]["q"])

    ranked = sorted(
        (sum((qv[i] - cv[i]) ** 2 for i in range(len(cv))), cid)
        for cid, cv in coarse.items()
    )
    probe = [int(cid) for _, cid in ranked[:nprobe]]

    d = dim // m
    table = [
        (s, c, sum((qv[s * d + i] - cv[i]) ** 2 for i in range(d)))
        for (s, c), cv in sorted(cb.items())
    ]
    tdf = spark.createDataFrame(table, "sub int, cid long, d2q long")
    return (
        codes.filter(F.col("centroid_id").isin(probe))
        .join(F.broadcast(tdf), ["sub", "cid"])
        .groupBy(id_col)
        .agg(F.sum("d2q").alias("d2_adc"))
        .orderBy(F.col("d2_adc"), F.col(id_col))
        .limit(k)
    )


def duck_ivfpq_topk(
    table: str = "embeddings",
    query_id: int = 0,
    k: int = 10,
    kc: int = 8,
    nprobe: int = 2,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = EMBED_DIM,
) -> str:
    """DuckDB oracle for ivfpq_topk: both training chains (coarse
    k-means + prefixed per-subspace PQ) in one WITH, then probe-cell
    ranking against the coarse codebook and ADC over probed codes."""
    d = dim // m
    kparts, kfinal, kcb = _duck_kmeans_parts(table, kc, iters, vec_col, id_col, dim)
    pparts, pfinal, pcb = _duck_pq_parts(
        table, m, ksub, iters, vec_col, id_col, dim, prefix="p"
    )
    parts = kparts + pparts
    parts.append(f"assign AS ({kfinal})")
    parts.append(f"codes AS ({pfinal})")
    parts.append(f"qq AS (SELECT q FROM q WHERE _id = {query_id})")
    parts.append(
        f"probe AS (SELECT cid FROM (SELECT c.cid, "
        f"row_number() OVER (ORDER BY {duck_d2('qq.q', 'c.cv')}, c.cid) AS rn "
        f"FROM {kcb} c, qq) WHERE rn <= {nprobe})"
    )
    parts.append(
        f"qs AS (SELECT CAST(r.s AS INT) AS sub, "
        f"list_slice(q, r.s * {d} + 1, r.s * {d} + {d}) AS v "
        f"FROM qq CROSS JOIN range(0, {m}) r(s))"
    )
    parts.append(
        f"tbl AS (SELECT c.sub, c.cid, {duck_d2('s.v', 'c.cv')} AS d2q "
        f"FROM {pcb} c JOIN qs s ON s.sub = c.sub)"
    )
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT cd._id AS {id_col}, CAST(sum(t.d2q) AS BIGINT) AS d2_adc
FROM codes cd
JOIN assign a ON a._id = cd._id AND a.cid IN (SELECT cid FROM probe)
JOIN tbl t ON t.sub = cd.sub AND t.cid = cd.cid
GROUP BY cd._id
ORDER BY d2_adc, cd._id
LIMIT {k}
"""
    )


def ivf_topk(
    df: DataFrame,
    query_id: int = 0,
    k: int = 10,
    kc: int = 8,
    nprobe: int = 2,
    iters: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Plain IVF search: a trained coarse quantizer (Lloyd's, see
    :func:`kmeans_train`) prunes the corpus to the ``nprobe`` cells
    nearest the query, and EXACT cosine ranks only those cells' members
    — recall between lsh (train-free, fixed hash geometry) and brute
    (full scan), at ~nprobe/kc of the corpus per query. The un-quantized
    sibling of :func:`ivfpq_topk`: same prune, exact vectors instead of
    8-byte codes — use it when the corpus fits storage and recall
    matters more than scan bytes.

    (dp_ivf_topk in the query catalog is the ORACLE-PINNED teaching
    shape of this: fixed first-kc seeds, no training, so DuckDB can
    replay it exactly. This function trains real centroids.)

    Scale: the assignment is the kmeans_train map-side kernel (no
    corpus shuffle); at query time the driver holds kc centroids, the
    probe is a broadcast semi-join on centroid_id, and a deployment
    persists the assignment partitioned by centroid_id so the probe
    becomes partition pruning — the ivfpq_encode argument, minus PQ.
    That deployment shape is SHIPPED as
    :func:`baker_spark.datapipe.ann_index.ann_index_build(method="ivf")`
    + ``ann_search(index=...)`` (round 10)."""
    assign, coarse = kmeans_train(
        df, k=kc, iters=iters, vec_col=vec_col, id_col=id_col, with_centroids=True
    )
    spark = df.sparkSession
    if not coarse:
        return spark.createDataFrame([], f"{id_col} long, cosine_c4 long")
    qrow = (
        df.filter(F.col(id_col) == query_id)
        .select(as_double(vec_col).alias("qv"))
        .collect()
    )
    if not qrow:
        return spark.createDataFrame([], f"{id_col} long, cosine_c4 long")
    qv = np.asarray(qrow[0]["qv"], dtype=np.float64)

    # rank cells by exact centroid-query distance on the driver (kc
    # rows; centroids are quantized ints at 2^20 scale, query likewise)
    qq = np.floor(qv * (1 << 20))

    def d2(cv):
        c = np.asarray(cv, dtype=np.float64)
        return float(((c - qq) ** 2).sum())

    probe = [int(cid) for _, cid in sorted((d2(cv), cid) for cid, cv in coarse.items())[:nprobe]]

    # the query vector is already on the driver — rebuilding qdf by
    # re-filtering df would pay a second full corpus scan per query
    qdf = spark.createDataFrame([(qv.tolist(),)], "qv array<double>")
    cands = (
        df.join(assign.select(id_col, "centroid_id"), id_col)
        .filter(F.col("centroid_id").isin(probe))
        .crossJoin(F.broadcast(qdf))
    )
    return (
        cands.selectExpr(
            sql_ident(id_col),
            spark_cosine_c4_sql(f"cast({sql_ident(vec_col)} as array<double>)", "qv")
            + " AS cosine_c4",
        )
        .orderBy(F.desc("cosine_c4"), F.col(id_col))
        .limit(k)
    )


# ----------------------------------------------------------- ann facade ---

ANN_METHODS = ("brute", "lsh", "lsh_mp", "ivf", "pq", "ivfpq")


def ann_search(
    df: DataFrame,
    query_id: int = 0,
    k: int = 10,
    method: str = "auto",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    corpus_rows: int | None = None,
    auto_brute_max: int = 1_000_000,
    index=None,  # path str or an opened ann_index.AnnIndex handle
    query_vec=None,
    **kw,
) -> DataFrame:
    """One front door over the ANN family — picks the index so a user
    doesn't have to know the menu. Returns a UNIFORM schema regardless
    of method: ``(id_col, rank int, score long, method string)`` where
    ``rank`` is 1..k (best first) and ``score`` is the method's native
    measure (``cosine_c4``, higher=better, for brute/lsh; ``d2_adc``,
    lower=better, for pq/ivfpq — ``rank`` is the cross-method contract,
    ``score`` is for diagnostics).

    Methods:
      - ``brute``  — exact full-scan rerank baseline (:func:`ann_topk`;
        row_guard refuses corpora past its ``max_rows``).
      - ``lsh``    — hyperplane-bucket pruned scan
        (:func:`ann_topk_bucketed`): train-free, ~n/2^planes of the
        corpus touched per query.
      - ``lsh_mp`` — multi-probe lsh (``hamming=1``): probes the query
        bucket plus its N_PLANES Hamming-1 neighbors — measured-higher
        recall at ~(1+N_PLANES)/2^planes of the corpus (~3.5% at the
        defaults, still a 28x prune).
      - ``ivf``    — trained coarse cells + EXACT scoring of the nprobe
        nearest cells (:func:`ivf_topk`): ~nprobe/kc of the corpus,
        full-precision vectors.
      - ``pq``     — product-quantization ADC over 8-byte codes
        (:func:`pq_adc_topk`): scans codes, never vectors.
      - ``ivfpq``  — coarse-cell prune + PQ ADC (:func:`ivfpq_topk`):
        the 10^9-vector shape.
      - ``index=<path or AnnIndex>`` — search a PREBUILT persisted index
        (:func:`baker_spark.datapipe.ann_index.ann_index_build`) with no
        training job: the probe is partition pruning over the stored
        codes. ``query_vec`` supplies an arbitrary query embedding;
        without it the vector is looked up from ``df`` by ``query_id``
        (one pushed-down row fetch — df is not scanned for the search).
        The ``method`` column reports the index's build method.
      - ``auto``   — ``brute`` when the corpus is provably small
        (``corpus_rows``/count <= ``auto_brute_max``), else ``lsh_mp``
        (multi-probe — the measured-better-recall train-free default;
        dp_ann_recall pins single- vs multi-probe side by side).
        Auto never picks ivf/pq/ivfpq: those TRAIN an index as a side
        effect, which a facade should not do implicitly — opt in by
        name (or prebuild one: ``index=``). Pass ``corpus_rows`` (e.g.
        from table stats) to skip the count job; on parquet the count
        is metadata-only anyway.

    Recall-vs-cost at sf1 (tools/ann_recall_sweep.py output, see
    PERFORMANCE.md §ANN): on the driver's isotropic synthetic
    embeddings even multi-probe lsh recall@10 is low (documented honest
    finding on dp_ann_recall — isotropic gaussian neighbors are
    near-orthogonal, no hyperplane family concentrates them); on
    clustered real embeddings the ranking is brute > ivfpq ~ lsh >>
    random, with cost brute O(n) >> lsh ~ n/2^planes > ivfpq ~
    nprobe/kc of codes.
    """
    if index is not None:
        # prebuilt-index path (baker_spark.datapipe.ann_index): NO
        # training job — the method comes from the index's meta, the
        # probe is partition pruning over the stored codes. `method`
        # must stay at its default: the index already fixed it at build
        # time, and a conflicting ask should fail loudly, not be
        # silently reinterpreted.
        from baker_spark.datapipe import ann_index as _ai

        if method != "auto":
            raise ValueError(
                "ann_search(index=...) searches the index's own method; "
                f"leave method='auto' (got {method!r})"
            )
        nprobe = kw.pop("nprobe", 2)
        hamming = kw.pop("hamming", 1)  # lsh-index multi-probe default
        if kw:
            raise TypeError(f"ann_search(index=...) got unexpected kwargs {sorted(kw)}")
        # df is OPTIONAL on the indexed path when query_vec is supplied:
        # the index is self-contained and the session comes from the
        # handle / active session — a query service needs no corpus frame
        if df is not None:
            spark = df.sparkSession
        elif isinstance(index, _ai.AnnIndex):
            spark = index.spark
        else:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
            if spark is None:
                raise ValueError("ann_search(df=None, index=<path>) needs an active SparkSession")
        # a path opens per call; a search-many caller passes an opened
        # AnnIndex handle and skips the side-table reads entirely
        handle = index if isinstance(index, _ai.AnnIndex) else _ai.AnnIndex(spark, index)
        meta = handle.meta
        if query_vec is None:
            if df is None:
                raise ValueError(
                    "ann_search(index=...) needs query_vec when no df is "
                    "given (df is only the query_id lookup source)"
                )
            # one-row pushed-down lookup: df supplies the query vector
            # by id, it is NOT scanned for the search itself
            qrow = (
                df.filter(F.col(id_col) == query_id)
                .select(as_double(vec_col).alias("qv"))
                .first()
            )
            if qrow is None:
                return spark.createDataFrame(
                    [], f"{id_col} long, rank int, score long, method string"
                )
            query_vec = qrow["qv"]
        base, score_col, asc = handle.search(
            query_vec, k=k, nprobe=nprobe, hamming=hamming
        )
        method = meta["method"]
        if method == "lsh" and hamming:
            method = "lsh_mp"  # report the probe mode actually used
    elif method == "auto":
        n = corpus_rows if corpus_rows is not None else df.count()
        # past the brute ceiling auto hands out MULTI-PROBE lsh, not
        # single-probe: dp_ann_recall measures single-probe recall low
        # on isotropic embeddings and multi-probe is the same shape at
        # ~(1+N_PLANES)x the (still tiny) scan fraction — a facade must
        # not default to the measured-worse index (VERDICT r9 #2)
        method = "brute" if n <= auto_brute_max else "lsh_mp"
    if index is not None:
        pass  # base/score_col/asc already resolved above
    elif method == "brute":
        base, score_col, asc = ann_topk(df, query_id, k, vec_col, id_col, **kw), "cosine_c4", False
    elif method in ("lsh", "lsh_mp"):
        # max_rows is the brute-only guard knob: tolerated here so that
        # auto-resolved calls carrying it don't explode, everything else
        # is a typo the facade must not swallow
        extra = set(kw) - {"max_rows"}
        if extra:
            raise TypeError(f"ann_search(method={method!r}) got unexpected kwargs {sorted(extra)}")
        base = ann_topk_bucketed(
            df, query_id, k, vec_col, id_col, hamming=1 if method == "lsh_mp" else 0
        )
        score_col, asc = "cosine_c4", False
    elif method == "ivf":
        base, score_col, asc = (
            ivf_topk(df, query_id, k, vec_col=vec_col, id_col=id_col, **kw),
            "cosine_c4",
            False,
        )
    elif method == "pq":
        base, score_col, asc = (
            pq_adc_topk(df, query_id, k, vec_col=vec_col, id_col=id_col, **kw),
            "d2_adc",
            True,
        )
    elif method == "ivfpq":
        base, score_col, asc = (
            ivfpq_topk(df, query_id, k, vec_col=vec_col, id_col=id_col, **kw),
            "d2_adc",
            True,
        )
    else:
        raise ValueError(f"unknown ann method {method!r}; one of {ANN_METHODS} or 'auto'")
    # rank assignment: a global window over the ALREADY top-k-limited
    # frame (<= k rows after every method's orderBy().limit(k)) — not
    # the corpus. Rank needs cross-row position, so SOME cross-row
    # operator is irreducible here; a k-row single-partition window is
    # the minimal one (a self-join doubles the search subtree, a driver
    # collect breaks laziness). tools/plan_audit.py certifies this
    # structurally (WINDOW1P flags global windows NOT bounded by a
    # limit below them; this one is).
    from pyspark.sql import Window

    order = [F.col(score_col).asc() if asc else F.col(score_col).desc(), F.col(id_col).asc()]
    w = Window.orderBy(*order)
    return base.select(
        F.col(id_col),
        F.row_number().over(w).alias("rank"),
        F.col(score_col).cast("long").alias("score"),
        F.lit(method).alias("method"),
    )


def duck_ann_search(
    table: str = "embeddings",
    query_id: int = 0,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    hamming: int = 0,
) -> str:
    """Oracle for ann_search(method='lsh' / 'lsh_mp') — the bucketed
    path with the facade's uniform (id, rank, score, method) shape.
    ``hamming=1`` probes the Hamming-1 neighbor buckets too, mirroring
    ann_topk_bucketed's multi-probe exactly (XOR bijection -> at most
    one probe match per corpus row)."""
    c4 = duck_cosine_c4("e.v", "q.v")
    buckets = duck_lsh_buckets(table, vec_col, id_col)
    if hamming:
        masks = ", ".join(str(m) for m in [0] + [1 << j for j in range(N_PLANES)])
        probe = (
            f"q AS (SELECT p.v, xor(p.bucket, m.mask) AS bucket "
            f"FROM (SELECT v, bucket FROM e WHERE id = {query_id}) p, "
            f"(SELECT unnest([{masks}]) AS mask) m)"
        )
        method = "lsh_mp"
    else:
        probe = f"q AS (SELECT v, bucket FROM e WHERE id = {query_id})"
        method = "lsh"
    return f"""
WITH b AS ({buckets}),
e AS (SELECT t.{id_col} AS id, CAST(t.{vec_col} AS DOUBLE[]) AS v, b.bucket
      FROM {table} t JOIN b ON b.{id_col} = t.{id_col}),
{probe}
SELECT id AS {id_col}, CAST(rank AS INT) AS rank, score, '{method}' AS method FROM (
  SELECT e.id,
         row_number() OVER (ORDER BY CAST({c4} AS BIGINT) DESC, e.id) AS rank,
         CAST({c4} AS BIGINT) AS score
  FROM e JOIN q ON e.bucket = q.bucket
) WHERE rank <= {k}
"""
