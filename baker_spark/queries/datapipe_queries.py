"""LLM-training-data pipeline queries: dedup family, similarity search,
text analysis, multimodal plumbing — each with a DuckDB oracle built on
the identical md5/fixed-point arithmetic."""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from baker_spark.datapipe import ann_index, dedup, multimodal, text, vectors
from baker_spark.session import fan_out, managed_persist
from baker_spark.sources.tables import load_table

from baker_spark.queries.registry import make_registry

QUERIES, ORACLES, query = make_registry()


# ------------------------------------------------------------------ dedup ---

@query("dp_dedup_exact", dedup.duck_exact_dedup())
def dp_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"))


@query(
    "dp_dedup_fingerprint",
    f"""
SELECT min(doc_id) AS doc_id, {text.duck_fingerprint('text')} AS fp, count(*) AS n_dups
FROM documents GROUP BY {text.duck_fingerprint('text')}
""",
)
def dp_dedup_fingerprint(spark, sf_dir):
    df = load_table(spark, sf_dir, "documents")
    return (
        df.groupBy(text.fingerprint("text").alias("fp"))
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_dups"))
        .select("doc_id", "fp", "n_dups")
    )


@query("dp_minhash_lsh_pairs", dedup.duck_lsh_pairs())
def dp_minhash_lsh_pairs(spark, sf_dir):
    """LSH candidate pairs at the PRODUCTION default: hot buckets over
    DEFAULT_BUCKET_CAP members are excluded (oracle applies the
    identical rule), so the default name is safe on a boilerplate-heavy
    100 TB corpus. dp_minhash_exhaustive is the uncapped audit shape."""
    return dedup.lsh_pairs(load_table(spark, sf_dir, "documents"))


@query("dp_minhash_exhaustive", dedup.duck_lsh_pairs(bucket_cap=None))
def dp_minhash_exhaustive(spark, sf_dir):
    """The explicit cap opt-out: full LSH recall, output quadratic in
    dup-group size — an audit/verification shape, not the default (at
    sf10 the synthetic corpus emits 2.92B pairs through this)."""
    return dedup.lsh_pairs(load_table(spark, sf_dir, "documents"), bucket_cap=None)


@query("dp_minhash_capped", dedup.duck_lsh_pairs(bucket_cap=3))
def dp_minhash_capped(spark, sf_dir):
    """lsh_pairs with the hot-bucket cap engaged — the 100 TB guard
    against boilerplate mega-buckets emitting |bucket|^2/2 pairs. The
    cap's exclusion list is a tiny broadcast anti-join; the oracle
    applies the identical rule, so the recall trade is pinned
    cross-engine, not just asserted."""
    return dedup.lsh_pairs(load_table(spark, sf_dir, "documents"), bucket_cap=3)


@query("dp_ngram_jaccard_pairs", dedup.duck_ngram_jaccard_pairs())
def dp_ngram_jaccard_pairs(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))


@query("dp_simhash", dedup.duck_simhash())
def dp_simhash(spark, sf_dir):
    return dedup.simhash(load_table(spark, sf_dir, "documents"))


@query("dp_simhash_pairs", dedup.duck_simhash_pairs())
def dp_simhash_pairs(spark, sf_dir):
    """Simhash near-dup pairs at the PRODUCTION default: (band, key)
    groups over DEFAULT_BAND_CAP members are excluded before the
    self-join (oracle mirrors the rule). dp_simhash_exhaustive keeps
    the exact pigeonhole guarantee for audits."""
    return dedup.simhash_pairs(load_table(spark, sf_dir, "documents"))


@query("dp_simhash_exhaustive", dedup.duck_simhash_pairs(band_cap=None))
def dp_simhash_exhaustive(spark, sf_dir):
    """The explicit cap opt-out: exact banded-pigeonhole equivalence to
    brute force at hamming <= 3, unbounded quadratic output (2.92B
    pairs at sf10) — audit shape, not the default."""
    return dedup.simhash_pairs(load_table(spark, sf_dir, "documents"), band_cap=None)


@query("dp_simhash_capped", dedup.duck_simhash_pairs(band_cap=40))
def dp_simhash_capped(spark, sf_dir):
    """simhash_pairs with the hot-band cap — near-dup pair count is
    quadratic in dup-group size (sf10's corpus emits 2.92B pairs
    uncapped), and a boilerplate mega-band does the same on real data;
    the cap drops (band, key) groups above the threshold before the
    self-join, identical rule in the oracle."""
    return dedup.simhash_pairs(load_table(spark, sf_dir, "documents"), band_cap=40)


@query(
    "dp_dedup_incremental",
    dedup.duck_incremental_dedup(
        text.duck_fingerprint("text"), "doc_id >= 200", "doc_id < 300"
    ),
)
def dp_dedup_incremental(spark, sf_dir):
    """Incremental-ingest dedup against a fingerprint ledger: the 'new
    batch' (doc_id >= 200) overlaps the 'seen corpus' (doc_id < 300) by
    100 redelivered docs — the at-least-once scenario — plus genuine
    cross-split near-dups via the normalized fingerprint. Keys, never
    text, cross the anti-join exchange."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.incremental_dedup(
        docs.filter(F.col("doc_id") >= 200),
        docs.filter(F.col("doc_id") < 300),
        key=text.fingerprint("text"),
    )


@query(
    "dp_dedup_incremental_neardup",
    dedup.duck_incremental_neardup("doc_id >= 200", "doc_id < 300"),
)
def dp_dedup_incremental_neardup(spark, sf_dir):
    """Incremental NEAR-dup ingest: the batch (doc_id >= 200) against
    the frozen corpus (doc_id < 300) by LSH band collision — redelivered
    docs AND boilerplate-shifted near-dup variants both drop, then the
    in-batch greedy-by-id pass keeps first-seen among new near-dup
    groups. The near-dup twin of dp_dedup_incremental; at deployment
    the seen side is the bucketed band ledger
    (incremental_neardup_against_band_ledger) and the batch is the only
    exchanged side."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.incremental_neardup(
        docs.filter(F.col("doc_id") >= 200),
        docs.filter(F.col("doc_id") < 300),
    )


@query("dp_dedup_clusters", dedup.duck_dedup_clusters())
def dp_dedup_clusters(spark, sf_dir):
    """Near-dup cluster resolution: connected components over the
    minhash-LSH candidate pairs (iterative min-label propagation; the
    oracle is a recursive CTE), canonical survivor = min doc per
    component — the final keep/drop decision of corpus dedup."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dedup_clusters(docs, dedup.lsh_pairs(docs))


# ------------------------------------------------------------- similarity ---

@query("dp_cosine_pairs", vectors.duck_cosine_pairs())
def dp_cosine_pairs(spark, sf_dir):
    return vectors.cosine_pairs(load_table(spark, sf_dir, "embeddings"))


@query("dp_ann_topk", vectors.duck_ann_topk())
def dp_ann_topk(spark, sf_dir):
    return vectors.ann_topk(load_table(spark, sf_dir, "embeddings"))


@query("dp_ann_lsh_buckets", vectors.duck_lsh_buckets())
def dp_ann_lsh_buckets(spark, sf_dir):
    return vectors.lsh_buckets(load_table(spark, sf_dir, "embeddings"))


@query("dp_ann_topk_bucketed", vectors.duck_ann_topk_bucketed())
def dp_ann_topk_bucketed(spark, sf_dir):
    return vectors.ann_topk_bucketed(load_table(spark, sf_dir, "embeddings"))


@query("dp_ann_search", vectors.duck_ann_search())
def dp_ann_search(spark, sf_dir):
    """The ann_search facade (method pinned to 'lsh' so the static
    oracle is SF-stable; 'auto' would flip brute->lsh across scales).
    Verifies the uniform (id, rank, score, method) contract every
    method normalizes into — the other methods' internals are gated by
    their own queries (dp_ann_topk / dp_ann_topk_bucketed /
    dp_pq_adc_topk / dp_ivfpq_topk)."""
    return vectors.ann_search(
        load_table(spark, sf_dir, "embeddings"), method="lsh", k=5
    )


@query("dp_ann_search_mp", vectors.duck_ann_search(hamming=1))
def dp_ann_search_mp(spark, sf_dir):
    """The facade's multi-probe lsh path (method pinned to 'lsh_mp' so
    the static oracle is SF-stable) — what 'auto' resolves to past the
    brute ceiling: probe bucket + N_PLANES Hamming-1 neighbors, the
    measured-better-recall train-free default (VERDICT r9 #2)."""
    return vectors.ann_search(
        load_table(spark, sf_dir, "embeddings"), method="lsh_mp", k=5
    )


_RECALL_Q, _RECALL_K = 10, 5
_RECALL_C4 = vectors.duck_cosine_c4("e.v", "q.v")


@query(
    "dp_ann_recall",
    f"""
WITH b AS ({vectors.duck_lsh_buckets()}),
e AS (SELECT t.vec_id AS id, CAST(t.embedding AS DOUBLE[]) AS v, b.bucket
      FROM embeddings t JOIN b ON b.vec_id = t.vec_id),
q AS (SELECT id AS qid, v, bucket FROM e WHERE id < {_RECALL_Q}),
exact AS (
  SELECT qid, id FROM (
    SELECT q.qid, e.id,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY CAST({_RECALL_C4} AS BIGINT) DESC, e.id) AS rn
    FROM e, q
  ) WHERE rn <= {_RECALL_K}
),
approx AS (
  SELECT qid, id FROM (
    SELECT q.qid, e.id,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY CAST({_RECALL_C4} AS BIGINT) DESC, e.id) AS rn
    FROM e JOIN q ON e.bucket = q.bucket
  ) WHERE rn <= {_RECALL_K}
),
probes AS (
  SELECT q.qid, q.v, xor(q.bucket, m.mask) AS pbucket
  FROM q, (SELECT unnest([{", ".join(str(m) for m in [0] + [1 << j for j in range(8)])}]) AS mask) m
),
approx_mp AS (
  SELECT qid, id FROM (
    SELECT q.qid, e.id,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY CAST({_RECALL_C4} AS BIGINT) DESC, e.id) AS rn
    FROM e JOIN probes q ON e.bucket = q.pbucket
  ) WHERE rn <= {_RECALL_K}
)
SELECT x.qid AS query_id,
       CAST(count(a.id) AS BIGINT) AS n_hits,
       CAST(floor(count(a.id) * 100 / {_RECALL_K}) AS BIGINT) AS recall_c2,
       CAST(count(mp.id) AS BIGINT) AS n_hits_multiprobe,
       CAST(floor(count(mp.id) * 100 / {_RECALL_K}) AS BIGINT) AS recall_mp_c2
FROM exact x
LEFT JOIN approx a ON a.qid = x.qid AND a.id = x.id
LEFT JOIN approx_mp mp ON mp.qid = x.qid AND mp.id = x.id
GROUP BY x.qid
""",
)
def dp_ann_recall(spark, sf_dir):
    """Recall@k validation of the LSH-bucketed ANN against exact
    brute-force ground truth, per query, single-probe and multi-probe
    (the 8 Hamming-1 neighbor buckets, ~3.5% of corpus scanned — still
    a 28x prune) side by side — the measurement loop every approximate
    index needs before it's trusted. The honest finding on THIS data:
    single-probe recall@5 is low (~26% mean at sf1) and multi-probe
    lifts it meaningfully but not to health (~36% at sf1 — which is why
    ann_search's auto resolves to the multi-probe path, r10), because
    the driver's synthetic embeddings are isotropic gaussian — true
    neighbors are near-orthogonal and no hyperplane family concentrates
    them. That is exactly what this harness exists to surface: bucketed
    ANN earns its prune only on structured (clustered) embeddings, and
    the recall column is what tells you whether yours are.

    Ground truth uses a SAMPLED query set (vec_id < 10): at corpus
    scale you validate recall on a sample precisely because exact top-k
    over everything is the thing you're avoiding; the sample's cross
    join is (sample x corpus), embarrassingly parallel, and the
    per-query window state is bounded by the corpus rows of one query
    id. Identical fixed-point cosine + (score, id) tie-break in both
    engines makes even the rank cut deterministic. A corpus row matches
    at most one probe of a query (XOR is a bijection), so the
    multi-probe join introduces no duplicate candidates."""
    emb = load_table(spark, sf_dir, "embeddings")
    buckets = vectors.lsh_buckets(emb)
    # persisted: three candidate generators (exact, probe, multiprobe)
    # read e; without the boundary the bucket join recomputes per reader
    e = managed_persist(
        fan_out(emb, by="vec_id").join(buckets, "vec_id").select(
            F.col("vec_id").alias("id"),
            vectors.as_double("embedding").alias("v"),
            "bucket",
        )
    )
    q = e.filter(F.col("id") < _RECALL_Q).select(
        F.col("id").alias("qid"), F.col("v").alias("qv"), F.col("bucket").alias("qbucket")
    )
    # cosine_c4, not raw floor(cosine*1e4): the zero-norm pin keeps a
    # padding/dead vector from NULL-vs-NaN ranking divergence (and the
    # oracle's BIGINT cast crash) — see vectors.spark_cosine_c4_sql
    score = F.expr(vectors.spark_cosine_c4_sql("v", "qv"))
    rn = F.row_number().over(
        Window.partitionBy("qid").orderBy(F.desc("_s"), F.col("id"))
    )
    exact = (
        e.crossJoin(F.broadcast(q))
        .select("qid", "id", score.alias("_s"))
        .withColumn("rn", rn)
        .filter(F.col("rn") <= _RECALL_K)
        .select("qid", "id")
    )
    approx = (
        e.join(F.broadcast(q), F.col("bucket") == F.col("qbucket"))
        .select("qid", "id", score.alias("_s"))
        .withColumn("rn", rn)
        .filter(F.col("rn") <= _RECALL_K)
        .select("qid", F.col("id").alias("aid"))
    )
    masks = [0] + [1 << j for j in range(8)]
    probes = q.select(
        "qid",
        "qv",
        F.explode(F.array(*[F.lit(m).cast("long") for m in masks])).alias("mask"),
        "qbucket",
    ).select("qid", "qv", F.col("qbucket").bitwiseXOR(F.col("mask")).alias("pbucket"))
    approx_mp = (
        e.join(F.broadcast(probes), F.col("bucket") == F.col("pbucket"))
        .select("qid", "id", score.alias("_s"))
        .withColumn("rn", rn)
        .filter(F.col("rn") <= _RECALL_K)
        .select("qid", F.col("id").alias("mpid"))
    )
    # candidate lists are (n_queries * k) rows — broadcast, never SMJ
    hits = (
        exact.join(
            F.broadcast(approx),
            (exact.qid == approx.qid) & (exact.id == approx.aid),
            "left",
        )
        .select(exact.qid.alias("query_id"), "id", "aid")
        .join(
            F.broadcast(approx_mp),
            (F.col("query_id") == approx_mp.qid) & (F.col("id") == approx_mp.mpid),
            "left",
        )
        .select("query_id", "aid", "mpid")
    )
    return hits.groupBy("query_id").agg(
        F.count("aid").cast("long").alias("n_hits"),
        F.floor(F.count("aid") * 100 / _RECALL_K).cast("long").alias("recall_c2"),
        F.count("mpid").cast("long").alias("n_hits_multiprobe"),
        F.floor(F.count("mpid") * 100 / _RECALL_K).cast("long").alias("recall_mp_c2"),
    )


_ANN_IDX_K, _ANN_IDX_KC, _ANN_IDX_NPROBE = 10, 8, 2


@query(
    "dp_ann_search_indexed",
    ann_index.duck_ann_search_indexed(
        k=_ANN_IDX_K, kc=_ANN_IDX_KC, nprobe=_ANN_IDX_NPROBE, iters=1
    ),
)
def dp_ann_search_indexed(spark, sf_dir):
    """The persistent-index lifecycle: ann_index_build persists the
    IVF-PQ codes partitioned by centroid_id ONCE per (corpus, params) —
    rebuild=False reuses an existing index across sweeps, keyed by the
    source file's mtime — and ann_search(index=...) answers with NO
    training job: probe = parquet partition pruning, per-query driver
    state = kc centroids + the m*ksub ADC table. The exact-int64
    training contract makes index-then-search bit-identical to the
    inline ivfpq_topk, so duck_ivfpq_topk (in the facade's uniform
    rank/score shape) gates this path too."""
    import hashlib
    import os
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    src = os.path.join(sf_dir, "embeddings.parquet")
    key = f"{src}:{os.path.getmtime(src)}:kc={_ANN_IDX_KC}:iters=1"
    path = os.path.join(
        tempfile.gettempdir(),
        "baker_ann_index",
        hashlib.md5(key.encode()).hexdigest(),
    )
    ann_index.ann_index_build(
        emb, path, method="ivfpq", kc=_ANN_IDX_KC, iters=1, key=key, rebuild=False
    )
    return vectors.ann_search(
        emb, query_id=0, k=_ANN_IDX_K, index=path, nprobe=_ANN_IDX_NPROBE
    )


@query("dp_ann_search_indexed_lsh", vectors.duck_ann_search(k=5, hamming=1))
def dp_ann_search_indexed_lsh(spark, sf_dir):
    """The train-free persisted index: corpus partitioned by hyperplane
    bucket at build time, so the multi-probe search — which inline
    (dp_ann_search_mp) re-hashes the whole corpus per query — becomes
    partition pruning over 9 of 256 bucket dirs. Bit-identical to the
    inline path, so the same oracle gates both."""
    import hashlib
    import os
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    src = os.path.join(sf_dir, "embeddings.parquet")
    key = f"{src}:{os.path.getmtime(src)}:lsh"
    path = os.path.join(
        tempfile.gettempdir(),
        "baker_ann_index",
        hashlib.md5(key.encode()).hexdigest(),
    )
    ann_index.ann_index_build(emb, path, method="lsh", key=key, rebuild=False)
    return vectors.ann_search(emb, query_id=0, k=5, index=path, hamming=1)


# ----------------------------------------------------------- text analysis ---

@query(
    "dp_langid",
    f"""
SELECT doc_id, lang, {text.duck_langid('text')} AS pred_lang FROM documents
""",
)
def dp_langid(spark, sf_dir):
    df = load_table(spark, sf_dir, "documents")
    return df.select("doc_id", "lang", text.langid("text").alias("pred_lang"))


_QUALITY = text.duck_quality_sql("text")


@query(
    "dp_quality",
    f"""
SELECT doc_id, {_QUALITY['n_words']} AS n_words, {_QUALITY['n_punct']} AS n_punct,
       {_QUALITY['mean_word_len_c2']} AS mean_word_len_c2,
       {_QUALITY['quality_ok']} AS quality_ok
FROM documents
""",
)
def dp_quality(spark, sf_dir):
    df = load_table(spark, sf_dir, "documents")
    flags = text.quality_flags("text")
    return df.select("doc_id", *[c.alias(n) for n, c in flags.items()])


# The synthetic corpus is single-line and punctuation-free, which would
# leave the line-level Gopher/C4 rules trivially satisfied. Stage line
# structure DETERMINISTICALLY from corpus words (the multimodal queries'
# fixture trick): the same literal-replace chain runs in both engines,
# so every rule — terminal punctuation, bullets, ellipses, the
# javascript line drop — sees real positives and negatives at sf0.01.
_STAGE_REPLACES = [
    (" value ", ".\n"),
    (" part ", "!\n"),
    (" row ", "\n- "),
    (" merge ", "...\n"),
    (" scan ", " javascript "),
    # the fixture vocabulary holds exactly ONE Gopher stop word ('the'),
    # which would pin the >=2-stopwords rule (and gopher_ok) to a
    # constant false corpus-wide; staging stop words off a common vocab
    # word makes the gate VARY, so its hash carries signal
    (" key ", " of and that have with "),
]


def _staged_text() -> Column:
    c = F.col("text")
    for find, repl in _STAGE_REPLACES:
        c = F.replace(c, F.lit(find), F.lit(repl))
    return c


_STAGED_SQL = "text"
for _find, _repl in _STAGE_REPLACES:
    _repl_sql = _repl.replace("\n", "' || chr(10) || '")
    _STAGED_SQL = f"replace({_STAGED_SQL}, '{_find}', '{_repl_sql}')"

_GOPHER = text.duck_gopher_sql(_STAGED_SQL)


@query(
    "dp_gopher_quality",
    "SELECT doc_id, "
    + ", ".join(f"{sql} AS {name}" for name, sql in _GOPHER.items())
    + " FROM documents",
)
def dp_gopher_quality(spark, sf_dir):
    """The Gopher quality rules (Rae et al. 2021 A1.1) over the staged
    corpus: all seven published rules plus the duplicate-line repetition
    signal, integer-exact in both engines (text.gopher_rules docstring
    has the rule list and the scale argument — one narrow projection,
    no shuffle)."""
    df = load_table(spark, sf_dir, "documents").withColumn("_staged", _staged_text())
    rules = text.gopher_rules("_staged")
    return df.select("doc_id", *[c.alias(n) for n, c in rules.items()])


_URL_SYNTH_SQL = """CASE CAST(doc_id % 5 AS INTEGER)
  WHEN 0 THEN 'HTTP://Example.COM:80/docs/' || CAST(doc_id % 50 AS VARCHAR) || '?utm_source=x&b=2&a=1#f'
  WHEN 1 THEN 'http://example.com/docs/' || CAST(doc_id % 50 AS VARCHAR) || '?a=1&b=2'
  WHEN 2 THEN 'https://Example.com:443/d/' || CAST(doc_id % 50 AS VARCHAR) || '/'
  WHEN 3 THEN 'https://example.com/d/' || CAST(doc_id % 50 AS VARCHAR)
  ELSE 'http://other.org/' || CAST(doc_id % 50 AS VARCHAR) || '/?gclid=abc'
END"""


@query(
    "dp_url_dedup",
    f"""
WITH raw AS (SELECT doc_id, {_URL_SYNTH_SQL} AS url FROM documents),
norm AS (SELECT doc_id, {text.duck_url_normalize("url")} AS url FROM raw)
SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, url,
       CAST(count(*) AS BIGINT) AS n_dups
FROM norm GROUP BY url
""",
)
def dp_url_dedup(spark, sf_dir):
    """URL-level dedup — the tier web corpora apply BEFORE content
    dedup (Common-Crawl-style pipelines key their seen ledgers on the
    canonical URL). Deterministic messy URLs are synthesized from doc
    ids (host case, default ports, fragments, utm/gclid tracking
    params, trailing slashes — the same
    regenerate-in-both-engines pattern as the media fixtures), then
    text.url_normalize canonicalizes and the group keeps the smallest
    id. The hash covers the NORMALIZED url, so the oracle proves the
    canonicalizer byte-exact on every rule. Scale shape: pure per-row
    string ops + one exchange on the canonical URL (at 100 TB this key
    feeds the same bucketed seen-ledger machinery as content dedup)."""
    df = load_table(spark, sf_dir, "documents")
    uid = (F.col("doc_id") % 50).cast("string")
    v = (F.col("doc_id") % 5).cast("int")
    url = (
        F.when(v == 0, F.concat(F.lit("HTTP://Example.COM:80/docs/"), uid, F.lit("?utm_source=x&b=2&a=1#f")))
        .when(v == 1, F.concat(F.lit("http://example.com/docs/"), uid, F.lit("?a=1&b=2")))
        .when(v == 2, F.concat(F.lit("https://Example.com:443/d/"), uid, F.lit("/")))
        .when(v == 3, F.concat(F.lit("https://example.com/d/"), uid))
        .otherwise(F.concat(F.lit("http://other.org/"), uid, F.lit("/?gclid=abc")))
    )
    norm = df.select("doc_id", text.url_normalize(url).alias("url"))
    return norm.groupBy("url").agg(
        F.min("doc_id").cast("long").alias("doc_id"),
        F.count(F.lit(1)).cast("long").alias("n_dups"),
    ).select("doc_id", "url", "n_dups")


@query("dp_exact_substring_dedup", dedup.duck_exact_substring_dedup(k=12))
def dp_exact_substring_dedup(spark, sf_dir):
    """ExactSubstr dedup (Lee et al. 2022): remove every token covered
    by a 12-token span occurring >= 2 times anywhere in the corpus
    (cross-document AND self-repeats), keep the surrounding text — the
    within-document surgical tier whole-doc dedup can't express. The
    hash covers the REWRITTEN text itself, so the oracle proves the
    surgery byte-exact, not just the counters. Scale shape on the
    operator docstring (one token-scale exchange on the gram hash, one
    id exchange for spans, per-doc linear interval fold)."""
    df = load_table(spark, sf_dir, "documents")
    return dedup.exact_substring_dedup(df, k=12)


_REPETITION = text.duck_gopher_repetition_sql(_STAGED_SQL)


@query(
    "dp_gopher_repetition",
    "SELECT doc_id, "
    + ", ".join(f"{sql} AS {name}" for name, sql in _REPETITION.items())
    + " FROM documents",
)
def dp_gopher_repetition(spark, sf_dir):
    """The FULL Gopher A1.2 repetition battery (Rae et al. 2021, Table
    A1 — the filter set FineWeb/Dolma re-implement) over the staged
    corpus: duplicate line/paragraph fractions by count and character
    mass, top {2,3,4}-gram character fractions, duplicate {5..10}-gram
    character fractions, and the thresholded repetition_ok verdict.
    Spark computes each signal with one array_sort + one linear
    aggregate() run-length scan per n (pure per-row Columns, scan
    parallelism, no shuffle). The words array is MATERIALIZED once
    (managed_persist) before the nine shingle signals reference it —
    without the boundary Catalyst inlines the split into every signal
    and re-evaluates it per signal (measured 4.5x at sf0.1; same
    blowup class as PERFORMANCE.md "Expression-substitution blowup").
    The oracle mirrors the pinned definitions via DuckDB list
    histograms — every c6 value hash-matches."""
    from baker_spark.session import managed_persist

    df = managed_persist(
        load_table(spark, sf_dir, "documents")
        .withColumn("_staged", _staged_text())
        .select("doc_id", "_staged", F.split(F.col("_staged"), " ", -1).alias("_w"))
    )
    cols = text.gopher_repetition("_staged", words_col="_w")
    return df.select("doc_id", *[c.alias(n) for n, c in cols.items()])


_C4 = text.duck_c4_sql(_STAGED_SQL)


@query(
    "dp_c4_filters",
    "SELECT doc_id, "
    + ", ".join(f"{sql} AS {name}" for name, sql in _C4.items())
    + " FROM documents",
)
def dp_c4_filters(spark, sf_dir):
    """The C4 cleaning rules (Raffel et al. 2020 §2.2) over the staged
    corpus: line-level terminal-punctuation / min-words / javascript
    drops rebuilt into clean_text, document-level sentence-count,
    curly-brace and lorem-ipsum gates. The hash covers the cleaned TEXT
    itself, so the oracle proves the reassembled artifact byte-exact,
    not just the counters."""
    df = load_table(spark, sf_dir, "documents").withColumn("_staged", _staged_text())
    cols = text.c4_filters("_staged")
    return df.select("doc_id", *[c.alias(n) for n, c in cols.items()])


@query(
    "dp_tfidf_topk",
    """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
ranked AS (
  SELECT t.doc_id, t.w, t.tf, d.df,
         row_number() OVER (PARTITION BY t.doc_id
                            ORDER BY t.tf DESC, d.df ASC, t.w ASC) AS rnk
  FROM tf t JOIN df d USING (w)
)
SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, w AS term,
       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df
FROM ranked WHERE rnk <= 3
""",
)
def dp_tfidf_topk(spark, sf_dir):
    """Per-document distinctive-term extraction (TF-IDF made integer-
    exact): rank a doc's terms by (term frequency DESC, document
    frequency ASC, term) — high-tf low-df terms are the classic tf-idf
    winners, and the all-integer ordering needs no float idf, so it
    hash-matches the oracle. Shapes: tf groupBy (map-side combine over
    exploded tokens), df derived FROM the tf table (one count per
    distinct (doc, term) — never re-explodes the corpus), an equi-join
    on term (vocabulary is unbounded: no broadcast), and a per-document
    window whose state is one doc's vocabulary — bounded regardless of
    corpus size."""
    toks = fan_out(load_table(spark, sf_dir, "documents"), by="doc_id").select(
        "doc_id", F.explode(text.words("text")).alias("w")
    )
    # persisted: df is derived FROM tf and the ranking joins tf again —
    # without the boundary the corpus explode + tf aggregate run twice
    tf = managed_persist(toks.groupBy("doc_id", "w").agg(F.count("*").alias("tf")))
    df_ = tf.groupBy("w").agg(F.count("*").alias("df"))
    win = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("w").asc()
    )
    return (
        tf.join(df_, "w")
        .select("doc_id", F.row_number().over(win).alias("rnk"),
                F.col("w").alias("term"), F.col("tf").cast("long").alias("tf"),
                F.col("df").cast("long").alias("df"))
        .filter(F.col("rnk") <= 3)
    )


@query("dp_unigram_logprob", text.duck_unigram_logprob())
def dp_unigram_logprob(spark, sf_dir):
    """Unigram-LM quality score (integer-exact pseudo-perplexity): per
    document, the summed/mean floor(log2(corpus frequency)) over its
    token occurrences. Low mean = rare-token-heavy (gibberish, OCR
    noise); high mean = stopword boilerplate. See text.unigram_logprob
    for the plan shape and the no-broadcast vocabulary rationale."""
    return text.unigram_logprob(load_table(spark, sf_dir, "documents"))


@query("dp_bigram_surprisal", text.duck_bigram_surprisal())
def dp_bigram_surprisal(spark, sf_dir):
    """Bigram-LM quality score (integer-exact conditional surprisal):
    per document, the summed/mean floor(log2 c(w1·)) - floor(log2
    c(w1 w2)) over its adjacent word pairs — the word-ORDER-aware
    counterpart of dp_unigram_logprob (scrambled boilerplate scores
    ordinary on unigrams but surprising on bigrams). One map-side
    count aggregation straight off the explode, c(w1 ·) derived from
    the type table, one (w1,w2) equi-join probe pass — no token-scale
    persist (round 14; cache cost exceeded its recompute savings at
    every measured decade); nothing broadcast by hint (vocabulary² is
    unbounded); see text.bigram_surprisal for the shape rationale and
    the AQE skew-join note on head bigrams."""
    return text.bigram_surprisal(load_table(spark, sf_dir, "documents"))


@query("dp_kn_perplexity", text.duck_kn_bigram_surprisal("lang = 'en'"))
def dp_kn_perplexity(spark, sf_dir):
    """CCNet-style cross-slice perplexity score (Wenzek et al. 2020):
    a Kneser-Ney-flavored bigram LM trained on the lang='en' slice
    scores EVERY document — the reference-distribution filter the
    corpus-self MLE rows (dp_unigram_logprob / dp_bigram_surprisal)
    cannot express, since a self-trained LM never sees a zero-count
    bigram. High mean = far from the target slice (CCNet's tail
    bucket). Integer-exact throughout (discount 3/4 via the pinned
    4*c1 rescale, binary-digit-count log2, integral div); see
    text.kn_bigram_surprisal for the smoothing algebra, the overflow
    bound, and the no-broadcast vocabulary rationale."""
    return text.kn_bigram_surprisal(
        load_table(spark, sf_dir, "documents"), target=F.col("lang") == "en"
    )


@query("dp_dsir_weights", text.duck_dsir_weights("lang = 'en'"))
def dp_dsir_weights(spark, sf_dir):
    """DSIR importance weights: rank every document by hashed-unigram
    log-ratio resemblance to the lang='en' target slice vs the raw
    corpus — the data-selection step upstream of resampling. One
    persisted token pass, a 256-row broadcast score table, map-side
    combines everywhere (see text.dsir_weights)."""
    return text.dsir_weights(
        load_table(spark, sf_dir, "documents"), target=F.col("lang") == "en"
    )


@query(
    "dp_token_counts",
    """
SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
       CAST(floor((length(text) + 3) / 4) AS BIGINT) AS n_bpe_est
FROM documents
""",
)
def dp_token_counts(spark, sf_dir):
    df = load_table(spark, sf_dir, "documents")
    n_ws, n_bpe = text.token_counts("text")
    return df.select("doc_id", n_ws.alias("n_ws_tokens"), n_bpe.alias("n_bpe_est"))


@query(
    "dp_token_frequency",
    """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
  WHERE text IS NOT NULL
),
agg AS (
  SELECT word, CAST(count(*) AS BIGINT) AS tf,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM tok WHERE word <> '' GROUP BY word
)
SELECT word, tf, df FROM agg ORDER BY tf DESC, word ASC LIMIT 200
""",
)
def dp_token_frequency(spark, sf_dir):
    """Corpus vocabulary diagnostics: top-200 whitespace tokens by term
    frequency with their document frequency — the Zipf table every
    corpus report opens with, and the df side of tf-idf/DSIR-style
    weighting. Scale shape: explode words -> ONE hash aggregate on the
    token (partial map-side combine collapses each partition's
    vocabulary before the exchange — the shuffle carries distinct
    (token, doc) pairs for df and distinct tokens for tf, not token
    occurrences), then a 200-row ordered cut (deterministic tie-break
    on the token). Empty tokens (split artifacts of repeated spaces)
    and NULL texts are excluded in both engines."""
    df = load_table(spark, sf_dir, "documents")
    tok = (
        df.filter(F.col("text").isNotNull())
        .select("doc_id", F.explode(text.words("text")).alias("word"))
        .filter(F.col("word") != "")
    )
    agg = tok.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("tf"),
        F.countDistinct("doc_id").cast("long").alias("df"),
    )
    return agg.orderBy(F.desc("tf"), F.asc("word")).limit(200)


@query(
    "dp_quality_filter",
    """
WITH scored AS (
  SELECT doc_id, lang, CAST(floor((length(text) + 3) / 4) AS BIGINT) AS n_bpe
  FROM documents
),
med AS (
  SELECT lang, quantile_cont(CAST(n_bpe AS DOUBLE), 0.5) AS med
  FROM scored GROUP BY lang
)
SELECT s.doc_id, s.lang, s.n_bpe
FROM scored s JOIN med USING (lang)
WHERE CAST(s.n_bpe AS DOUBLE) >= med
""",
)
def dp_quality_filter(spark, sf_dir):
    """Keep docs at/above their language's median token count — the
    quantile-threshold quality gate (exact median here for oracle
    parity; text.quality_filter_by_median(exact=False) is the t-digest
    scale path). Threshold table broadcasts; the corpus never shuffles."""
    return text.quality_filter_by_median(load_table(spark, sf_dir, "documents"))


@query(
    "dp_fingerprint",
    f"SELECT doc_id, {text.duck_fingerprint('text')} AS fp FROM documents",
)
def dp_fingerprint(spark, sf_dir):
    df = load_table(spark, sf_dir, "documents")
    return df.select("doc_id", text.fingerprint("text").alias("fp"))


_SCRUB = text.duck_scrub_sql("text")


@query(
    "dp_scrub",
    f"""
SELECT doc_id, {_SCRUB['n_url']} AS n_url, {_SCRUB['n_email']} AS n_email,
       {_SCRUB['n_longnum']} AS n_longnum, {_SCRUB['clean_text']} AS clean_text
FROM documents
""",
)
def dp_scrub(spark, sf_dir):
    # fan_out: 6 regex passes/row dominate the one-time exchange of the
    # raw text (0.33s -> 0.20s at sf0.1; no-op on multi-split inputs)
    df = fan_out(load_table(spark, sf_dir, "documents"), by="doc_id")
    cols = text.scrub("text")
    return df.select("doc_id", *[c.alias(n) for n, c in cols.items()])


@query(
    "dp_scrub_arrow",
    f"""
SELECT doc_id, {_SCRUB['n_url']} AS n_url, {_SCRUB['n_email']} AS n_email,
       {_SCRUB['n_longnum']} AS n_longnum, {_SCRUB['clean_text']} AS clean_text
FROM documents
""",
)
def dp_scrub_arrow(spark, sf_dir):
    """scrub via Arrow/RE2 (text.scrub_arrow) against the IDENTICAL
    oracle as dp_scrub — pins that the vectorized RE2 path and the JVM
    regex chain agree byte-for-byte, and at text-dominated scale it is
    the one to use (4.7x at sf10)."""
    df = fan_out(load_table(spark, sf_dir, "documents"), by="doc_id")
    return df.withColumn("_s", text.scrub_arrow("text")).select("doc_id", "_s.*")


_REP = text.duck_repetition_sql("text")


@query(
    "dp_repetition",
    f"""
SELECT doc_id, {_REP['n_shingles']} AS n_shingles, {_REP['n_distinct']} AS n_distinct,
       {_REP['rep_ratio_c6']} AS rep_ratio_c6
FROM documents
""",
)
def dp_repetition(spark, sf_dir):
    """Staged projection: the shingle array (interpreted higher-order
    transform, no codegen CSE across output columns) is bound once, then
    the counts, then the ratio — instead of re-shingling per stat."""
    df = load_table(spark, sf_dir, "documents")
    staged = df.select("doc_id", text.word_shingles("text").alias("_sh")).select(
        "doc_id",
        F.size("_sh").cast("long").alias("n_shingles"),
        F.size(F.array_distinct("_sh")).cast("long").alias("n_distinct"),
    )
    ratio = text.repetition_ratio_c6(F.col("n_shingles"), F.col("n_distinct"))
    return staged.select("doc_id", "n_shingles", "n_distinct", ratio.alias("rep_ratio_c6"))


@query(
    "dp_chunking",
    f"""
WITH c AS (
  SELECT doc_id, unnest({text.duck_chunks('text')}) AS chunk,
         generate_subscripts({text.duck_chunks('text')}, 1) - 1 AS chunk_idx
  FROM documents
)
SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx, chunk FROM c
""",
)
def dp_chunking(spark, sf_dir):
    """Document -> overlapping token-window training samples (32-word
    chunks, 8-word overlap); posexplode keeps the chunk index."""
    df = load_table(spark, sf_dir, "documents")
    return df.select(
        "doc_id", F.posexplode(text.chunks("text")).alias("chunk_idx", "chunk")
    )


# -------------------------------------------------------------- multimodal ---

# the oracle recomputes every header field ARITHMETICALLY from doc_id
# (the with_media_payload generation formulas), while the Spark side
# struct-parses them out of real PNG/WAV bytes — so a decode bug cannot
# cancel out: the two engines share no code path.
_WAV_CH = "(1 + doc_id % 2)"
_WAV_SR = "(8000 * (1 + doc_id % 3))"
_WAV_NS = "(100 + doc_id % 50)"
_WAV_DATA = f"({_WAV_NS} * {_WAV_CH} * 2)"


def _le32hex(x: str) -> str:
    """Lowercase hex of a u32 little-endian — the byte order a RIFF size
    field has on disk, for the head_hex oracle."""
    return (
        "lower("
        + " || ".join(
            f"lpad(to_hex(({x} // {1 << (8 * i)}) % 256), 2, '0')" for i in range(4)
        )
        + ")"
    )


#: hex of one byte, lowercase zero-padded — head_hex oracle building block
def _b2hex(x: str) -> str:
    return f"lower(lpad(to_hex({x}), 2, '0'))"


@query(
    "dp_multimodal_decode",
    f"""
SELECT doc_id,
       CAST(CASE doc_id % 5
            WHEN 0 THEN 33 + doc_id % 7
            WHEN 1 THEN 44 + {_WAV_DATA}
            WHEN 2 THEN 23 + doc_id % 9
            WHEN 3 THEN 14 + doc_id % 6
            ELSE octet_length(encode(coalesce(text, ''))) END AS BIGINT) AS n_bytes,
       CASE doc_id % 5
            WHEN 0 THEN '89504e470d0a1a0a'
            WHEN 1 THEN '52494646' || {_le32hex(f"(36 + {_WAV_DATA})")}
            WHEN 2 THEN 'ffd8ffc0001108' || {_b2hex("(((doc_id % 480) + 1) // 256)")}
            WHEN 3 THEN '474946383961'
                 || {_b2hex("(((doc_id % 640) + 1) % 256)")}
                 || {_b2hex("(((doc_id % 640) + 1) // 256)")}
            ELSE substring(lower(hex(encode(coalesce(text, '')))), 1, 16) END AS head_hex,
       CAST(CASE doc_id % 5
            WHEN 1 THEN 0
            WHEN 4 THEN octet_length(encode(coalesce(text, ''))) % 640
            ELSE (doc_id % 640) + 1 END AS INTEGER) AS width,
       CAST(CASE doc_id % 5
            WHEN 1 THEN 0
            WHEN 4 THEN (octet_length(encode(coalesce(text, ''))) * 7) % 480
            ELSE (doc_id % 480) + 1 END AS INTEGER) AS height,
       CAST(CASE doc_id % 5 WHEN 1 THEN 0 WHEN 4 THEN 0 ELSE 8 END AS INTEGER) AS bit_depth,
       CAST(CASE doc_id % 5 WHEN 1 THEN {_WAV_CH} WHEN 2 THEN 3 ELSE 0 END AS INTEGER) AS channels,
       CAST(CASE doc_id % 5 WHEN 1 THEN {_WAV_SR} ELSE 0 END AS INTEGER) AS sample_rate,
       CAST(CASE doc_id % 5 WHEN 1 THEN ({_WAV_NS} * 1000) // {_WAV_SR} ELSE 0 END AS INTEGER) AS duration_ms,
       CASE doc_id % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'wav' WHEN 2 THEN 'jpeg'
            WHEN 3 THEN 'gif' ELSE 'fake/v1' END AS format
FROM documents
""",
)
def dp_multimodal_decode(spark, sf_dir):
    """Binary-column decode: generate real PNG/WAV/JPEG/GIF/text
    payloads per row (deterministic from doc_id), then struct-parse
    headers via mapInPandas — width/height/bit-depth from PNG IHDR or
    the JPEG SOFn / GIF screen descriptor, channels/sample-rate/duration
    from the WAV fmt+data chunks, labeled fake for raw text. The oracle
    recomputes expectations arithmetically."""
    df = load_table(spark, sf_dir, "documents")
    packed = multimodal.with_media_payload(df)
    return multimodal.decode_media(packed)


@query(
    "dp_multimodal_features",
    """
WITH png AS (
  SELECT doc_id, (doc_id % 16) + 1 AS w, (doc_id % 12) + 1 AS h
  FROM documents WHERE doc_id % 5 = 0
),
png_x AS (
  SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM png
),
png_px AS (
  SELECT doc_id, w, h,
         (x + 2 * unnest(generate_series(0, h - 1)) + doc_id) % 256 AS v
  FROM png_x
),
gif AS (
  SELECT doc_id, (doc_id % 16) + 1 AS w, (doc_id % 12) + 1 AS h
  FROM documents WHERE doc_id % 5 = 2
),
gif_x AS (
  SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM gif
),
gif_px AS (
  SELECT doc_id, w, h,
         (3 * x + unnest(generate_series(0, h - 1)) + doc_id) % 256 AS v
  FROM gif_x
),
gif_rows AS (
  SELECT doc_id, 'gif' AS format,
         CAST(any_value(w) AS INTEGER) AS width,
         CAST(any_value(h) AS INTEGER) AS height,
         CAST(1 AS INTEGER) AS channels,
         CAST(count(*) AS BIGINT) AS units,
         CAST(sum(v) AS BIGINT) AS val_sum,
         CAST((sum(v) * 1000000
               - ((sum(v) * 1000000 % count(*)) + count(*)) % count(*))
              // count(*) AS BIGINT) AS val_mean_c6
  FROM gif_px GROUP BY doc_id
),
png_rows AS (
  SELECT doc_id, 'png' AS format,
         CAST(any_value(w) AS INTEGER) AS width,
         CAST(any_value(h) AS INTEGER) AS height,
         CAST(1 AS INTEGER) AS channels,
         CAST(count(*) AS BIGINT) AS units,
         CAST(sum(v) AS BIGINT) AS val_sum,
         -- FLOOR division (Python // semantics, negative sums too):
         -- subtract the non-negative remainder first so DuckDB's
         -- truncating // sees an exactly-divisible numerator
         CAST((sum(v) * 1000000
               - ((sum(v) * 1000000 % count(*)) + count(*)) % count(*))
              // count(*) AS BIGINT) AS val_mean_c6
  FROM png_px GROUP BY doc_id
),
jpg AS (
  SELECT doc_id, (doc_id % 24) + 8 AS w, (doc_id % 16) + 8 AS h
  FROM documents WHERE doc_id % 5 = 3
),
jpg_x AS (
  SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM jpg
),
jpg_px AS (
  -- constant 8x8 DCT blocks: the value depends only on the block cell,
  -- which is what makes the REAL entropy round-trip bit-exact
  SELECT doc_id, w, h,
         (5 * (x // 8) + 3 * (unnest(generate_series(0, h - 1)) // 8) + doc_id) % 256 AS v
  FROM jpg_x
),
jpg_rows AS (
  SELECT doc_id, 'jpeg' AS format,
         CAST(any_value(w) AS INTEGER) AS width,
         CAST(any_value(h) AS INTEGER) AS height,
         CAST(1 AS INTEGER) AS channels,
         CAST(count(*) AS BIGINT) AS units,
         CAST(sum(v) AS BIGINT) AS val_sum,
         CAST((sum(v) * 1000000
               - ((sum(v) * 1000000 % count(*)) + count(*)) % count(*))
              // count(*) AS BIGINT) AS val_mean_c6
  FROM jpg_px GROUP BY doc_id
),
wav AS (
  SELECT doc_id, (doc_id % 64) + 16 AS n FROM documents WHERE doc_id % 5 = 1
),
wav_s AS (
  SELECT doc_id, ((37 * unnest(generate_series(0, n - 1)) + doc_id) % 2000) - 1000 AS v
  FROM wav
),
wav_rows AS (
  SELECT doc_id, 'wav' AS format,
         CAST(0 AS INTEGER) AS width, CAST(0 AS INTEGER) AS height,
         CAST(1 AS INTEGER) AS channels,
         CAST(count(*) AS BIGINT) AS units,
         CAST(sum(v) AS BIGINT) AS val_sum,
         -- FLOOR division (Python // semantics, negative sums too):
         -- subtract the non-negative remainder first so DuckDB's
         -- truncating // sees an exactly-divisible numerator
         CAST((sum(v) * 1000000
               - ((sum(v) * 1000000 % count(*)) + count(*)) % count(*))
              // count(*) AS BIGINT) AS val_mean_c6
  FROM wav_s GROUP BY doc_id
)
SELECT * FROM png_rows UNION ALL SELECT * FROM gif_rows
UNION ALL SELECT * FROM jpg_rows UNION ALL SELECT * FROM wav_rows
""",
)
def dp_multimodal_features(spark, sf_dir):
    """SAMPLE-level media features, not header fields: generate
    full-pixel PNGs (real zlib IDAT, filters cycling None/Sub/Up/
    Average/Paeth per row), LZW-compressed GIFs (pure-python codec,
    grayscale identity palette), baseline grayscale JPEGs (real
    Huffman-coded scans via jpegcodec, constant 8x8 blocks + all-ones
    quant so the entropy round-trip is bit-exact) and PCM WAVs
    deterministically from doc_id, pixel-decode them back with the
    pure-python decoders (inflate + unfilter / LZW / Huffman + IDCT /
    struct) and emit exact unit counts / value sums / micro-mean. The
    oracle NEVER touches the binary: it regenerates the pixel and
    sample grids arithmetically with generate_series and aggregates —
    so a hash match proves each encode->decode path is value-exact,
    row by row. Raw-text rows (doc_id % 5 == 4) produce no output on
    either side."""
    df = load_table(spark, sf_dir, "documents")
    packed = multimodal.with_pixel_payload(df)
    return multimodal.media_features(packed)


# the arithmetic pixel grids of with_pixel_payload's three image
# formats, regenerated in SQL (same generate_series trick as
# dp_multimodal_features' oracle), reduced to the 60-bit average
# perceptual hash with the exact cross-multiplied cell-vs-image mean
# compare of multimodal.phash60. Shared by the hash and the pairs
# oracles so they can't drift.
_PHASH_HASHES_SQL = """
png_dims AS (
  SELECT doc_id, 'png' AS format, (doc_id % 16) + 1 AS w, (doc_id % 12) + 1 AS h
  FROM documents WHERE doc_id % 5 = 0
),
gif_dims AS (
  SELECT doc_id, 'gif' AS format, (doc_id % 16) + 1 AS w, (doc_id % 12) + 1 AS h
  FROM documents WHERE doc_id % 5 = 2
),
jpg_dims AS (
  SELECT doc_id, 'jpeg' AS format, (doc_id % 24) + 8 AS w, (doc_id % 16) + 8 AS h
  FROM documents WHERE doc_id % 5 = 3
),
dims AS (
  SELECT * FROM png_dims UNION ALL SELECT * FROM gif_dims UNION ALL SELECT * FROM jpg_dims
),
xs AS (SELECT doc_id, format, w, h, unnest(generate_series(0, w - 1)) AS x FROM dims),
xy AS (SELECT doc_id, format, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xs),
vals AS (
  SELECT doc_id, format, w, h, x, y,
         CASE format
           WHEN 'png' THEN (x + 2 * y + doc_id) % 256
           WHEN 'gif' THEN (3 * x + y + doc_id) % 256
           ELSE (5 * (x // 8) + 3 * (y // 8) + doc_id) % 256 END AS v
  FROM xy
),
cells AS (
  SELECT doc_id, format, w, h, (y * 6 // h) * 10 + (x * 10 // w) AS cell,
         CAST(sum(v) AS BIGINT) AS cs, CAST(count(*) AS BIGINT) AS cc
  FROM vals GROUP BY ALL
),
tot AS (
  SELECT doc_id, CAST(sum(cs) AS BIGINT) AS ts, CAST(sum(cc) AS BIGINT) AS tc
  FROM cells GROUP BY doc_id
),
hashes AS (
  SELECT c.doc_id, any_value(c.format) AS format,
         CAST(any_value(c.w) AS INTEGER) AS width,
         CAST(any_value(c.h) AS INTEGER) AS height,
         CAST(sum(CASE WHEN c.cs * t.tc > t.ts * c.cc
                       THEN CAST(1 AS BIGINT) << CAST(c.cell AS INTEGER)
                       ELSE 0 END) AS BIGINT) AS phash
  FROM cells c JOIN tot t USING (doc_id) GROUP BY c.doc_id
)"""


@query(
    "dp_image_phash",
    f"WITH {_PHASH_HASHES_SQL}\n"
    "SELECT doc_id, format, width, height, phash FROM hashes",
)
def dp_image_phash(spark, sf_dir):
    """Perceptual image hashing over REAL binary decode: encode the
    arithmetic pixel grids as PNG/GIF/JPEG (with_pixel_payload), decode
    them back with the pure-python codecs, and reduce each image to a
    60-bit average hash (multimodal.phash60). The oracle never touches
    the binaries — it regenerates the grids with generate_series and
    replays the integer cell arithmetic, so a hash match proves
    encode -> decode -> hash is value-exact end to end."""
    df = load_table(spark, sf_dir, "documents")
    packed = multimodal.with_pixel_payload(df)
    return multimodal.media_phash(packed)


@query(
    "dp_image_phash_pairs",
    f"""WITH {_PHASH_HASHES_SQL},
bands0 AS (
  SELECT doc_id, phash,
         (phash >> (CAST(r.b AS INTEGER) * 15)) & 32767 AS key,
         CAST(r.b AS INTEGER) AS band
  FROM hashes CROSS JOIN range(0, 4) r(b)
),
bands AS (
  SELECT b.* FROM bands0 b
  LEFT JOIN (SELECT band, key FROM bands0 GROUP BY band, key
             HAVING count(*) > {dedup.DEFAULT_BAND_CAP}) hot
    ON b.band = hot.band AND b.key = hot.key
  WHERE hot.key IS NULL
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
FROM bands a JOIN bands b
  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.phash, b.phash)) <= 3""",
)
def dp_image_phash_pairs(spark, sf_dir):
    """Image near-dup pairs: hamming(phash) <= 3 via the SAME 4 x 15-bit
    banding engine as text simhash (dedup.banded_hamming_pairs — exact
    recall by pigeonhole, hot-band cap against the quadratic-output
    regime, mirrored in the oracle's cap CTE). The multimodal-dedup
    crossover: image dedup at LAION scale is this exact shape, with the
    pure-python decode swapped for libvips behind the same mapInPandas
    plumbing."""
    df = load_table(spark, sf_dir, "documents")
    packed = multimodal.with_pixel_payload(df)
    sig = multimodal.media_phash(packed).select("doc_id", "phash")
    return dedup.banded_hamming_pairs(sig, "phash")


@query(
    "dp_image_neardup_ingest",
    f"""WITH {_PHASH_HASHES_SQL},
seen AS (SELECT doc_id, phash FROM hashes WHERE doc_id % 2 = 0),
batch AS (SELECT doc_id, phash FROM hashes WHERE doc_id % 2 = 1),
sb AS (
  SELECT phash, (phash >> (CAST(r.b AS INTEGER) * 15)) & 32767 AS h,
         CAST(r.b AS INTEGER) AS band
  FROM seen CROSS JOIN range(0, 4) r(b)
),
nb AS (
  SELECT doc_id, phash, (phash >> (CAST(r.b AS INTEGER) * 15)) & 32767 AS h,
         CAST(r.b AS INTEGER) AS band
  FROM batch CROSS JOIN range(0, 4) r(b)
),
hit_ledger AS (
  SELECT DISTINCT n.doc_id FROM nb n JOIN sb s ON n.band = s.band AND n.h = s.h
  WHERE bit_count(xor(n.phash, s.phash)) <= 3
),
kept1 AS (SELECT * FROM nb WHERE doc_id NOT IN (SELECT doc_id FROM hit_ledger)),
hit_batch AS (
  SELECT DISTINCT a.doc_id FROM kept1 a JOIN kept1 b
    ON a.band = b.band AND a.h = b.h AND b.doc_id < a.doc_id
  WHERE bit_count(xor(a.phash, b.phash)) <= 3
)
SELECT DISTINCT doc_id FROM kept1
WHERE doc_id NOT IN (SELECT doc_id FROM hit_batch)""",
)
def dp_image_neardup_ingest(spark, sf_dir):
    """Incremental image near-dup ingest: even-id images are the frozen
    corpus, odd-id images the arriving batch; keep a batch image only
    if no corpus image — and no smaller-id surviving batch image —
    shares a band AND sits within hamming 3. The VERIFIED-band twist
    (phash bands are 15 bits, so bare collisions are random at corpus
    scale — the dedup.incremental_neardup_phash docstring carries the
    2^-15 arithmetic) is what makes this shape deployable for LAION-
    style dedup; the persisted-ledger form
    (incremental_neardup_against_phash_ledger) stores the hash beside
    each band key in the same fp-bucketed ledger as text near-dup."""
    df = load_table(spark, sf_dir, "documents")
    sigs = multimodal.media_phash(multimodal.with_pixel_payload(df)).select(
        "doc_id", "phash"
    )
    new_sigs = sigs.filter(F.col("doc_id") % 2 == 1)
    seen_sigs = sigs.filter(F.col("doc_id") % 2 == 0)
    return dedup.incremental_neardup_phash(new_sigs, seen_sigs)


@query(
    "dp_phash_band_saturation",
    f"""WITH {_PHASH_HASHES_SQL},
bands0 AS (
  SELECT doc_id, phash,
         (phash >> (CAST(r.b AS INTEGER) * 15)) & 32767 AS key,
         CAST(r.b AS INTEGER) AS band
  FROM hashes CROSS JOIN range(0, 4) r(b)
),{dedup.duck_band_cap_saturation("bands0")}""",
)
def dp_phash_band_saturation(spark, sf_dir):
    """Band-cap saturation report for the image phash corpus (VERDICT
    r11 next-round #2): the fraction of pair-capable (band,key) groups
    that banded_hamming_pairs' hot-band cap excludes. At sf100 density
    every group saturates and dp_image_phash_pairs correctly returns
    zero pairs — this one-row metric makes that regime visible in the
    RESULT (capped_frac_c6 ~= 1000000) instead of only in SCALING.md;
    at the driver SFs it reads 0. Same numbers ride
    dp_image_phash_pairs itself via the optional Observation hook on
    dedup.banded_hamming_pairs."""
    df = load_table(spark, sf_dir, "documents")
    sig = multimodal.media_phash(multimodal.with_pixel_payload(df)).select(
        "doc_id", "phash"
    )
    return dedup.band_cap_saturation(sig, "phash")


# the WAV fixture's sample grid regenerated in SQL and reduced to the
# 60-bit delta-sign fingerprint of multimodal.audio_fp60 — shared by
# the fingerprint and the pairs oracles
_AUDIO_FP_SQL = """
wav AS (
  SELECT doc_id, (doc_id % 64) + 16 AS n, 8000 * (1 + doc_id % 3) AS rate
  FROM documents WHERE doc_id % 5 = 1
),
idx AS (
  SELECT doc_id, n, rate, unnest(generate_series(0, least(59, n - 2))) AS j
  FROM wav
),
bits AS (
  SELECT doc_id, n, rate, j,
         CASE WHEN ((37 * (j + 1) + doc_id) % 2000) - 1000
                 > ((37 * j + doc_id) % 2000) - 1000
              THEN 1 ELSE 0 END AS b
  FROM idx
),
afps AS (
  SELECT doc_id, CAST(any_value(rate) AS INTEGER) AS sample_rate,
         CAST(any_value(n) AS INTEGER) AS n_samples,
         CAST(sum(CASE WHEN b = 1
                       THEN CAST(1 AS BIGINT) << CAST(j AS INTEGER)
                       ELSE 0 END) AS BIGINT) AS afp
  FROM bits GROUP BY doc_id
)"""


@query(
    "dp_audio_fp",
    f"WITH {_AUDIO_FP_SQL}\n"
    "SELECT doc_id, sample_rate, n_samples, afp FROM afps",
)
def dp_audio_fp(spark, sf_dir):
    """Acoustic fingerprinting over REAL binary decode: the PCM WAV
    payloads decode through the RIFF chunk walk and reduce to 60-bit
    delta-sign fingerprints (multimodal.audio_fp60). The oracle
    regenerates the sample grid arithmetically — a hash match proves
    encode -> decode -> fingerprint value-exact, the audio twin of
    dp_image_phash."""
    df = load_table(spark, sf_dir, "documents")
    packed = multimodal.with_pixel_payload(df)
    return multimodal.media_audio_fp(packed)


@query(
    "dp_audio_fp_pairs",
    f"""WITH {_AUDIO_FP_SQL},
bands0 AS (
  SELECT doc_id, afp,
         (afp >> (CAST(r.b AS INTEGER) * 15)) & 32767 AS key,
         CAST(r.b AS INTEGER) AS band
  FROM afps CROSS JOIN range(0, 4) r(b)
),
bands AS (
  SELECT b.* FROM bands0 b
  LEFT JOIN (SELECT band, key FROM bands0 GROUP BY band, key
             HAVING count(*) > {dedup.DEFAULT_BAND_CAP}) hot
    ON b.band = hot.band AND b.key = hot.key
  WHERE hot.key IS NULL
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.afp, b.afp)) AS INTEGER) AS hamming
FROM bands a JOIN bands b
  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.afp, b.afp)) <= 3""",
)
def dp_audio_fp_pairs(spark, sf_dir):
    """Audio near-dup pairs at hamming(afp) <= 3 through the SAME
    banding engine as text simhash and image phash — one pair-search
    implementation now serves all three modalities, with the hot-band
    cap mirrored in SQL."""
    df = load_table(spark, sf_dir, "documents")
    packed = multimodal.with_pixel_payload(df)
    sig = multimodal.media_audio_fp(packed).select("doc_id", "afp")
    return dedup.banded_hamming_pairs(sig, "afp")


@query(
    "dp_audio_band_saturation",
    f"""WITH {_AUDIO_FP_SQL},
bands0 AS (
  SELECT doc_id, afp,
         (afp >> (CAST(r.b AS INTEGER) * 15)) & 32767 AS key,
         CAST(r.b AS INTEGER) AS band
  FROM afps CROSS JOIN range(0, 4) r(b)
),{dedup.duck_band_cap_saturation("bands0")}""",
)
def dp_audio_band_saturation(spark, sf_dir):
    """Audio leg of the band-cap saturation observable (VERDICT r11
    next-round #2) — the same one-row report as
    dp_phash_band_saturation, over the delta-sign audio fingerprints,
    so a zero-pair dp_audio_fp_pairs at saturation density is
    distinguishable from a duplicate-free corpus."""
    df = load_table(spark, sf_dir, "documents")
    sig = multimodal.media_audio_fp(multimodal.with_pixel_payload(df)).select(
        "doc_id", "afp"
    )
    return dedup.band_cap_saturation(sig, "afp")


@query(
    "dp_quality_funnel",
    f"""
WITH flags AS (
  SELECT source,
         {_C4['c4_keep']} AS c4_keep,
         {_GOPHER['gopher_ok']} AS gopher_ok,
         {_C4['n_lines_kept']} AS n_lines_kept,
         {text.duck_fingerprint('text')} AS fp
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE c4_keep) AS BIGINT) AS n_c4_keep,
       CAST(count(*) FILTER (WHERE gopher_ok) AS BIGINT) AS n_gopher_ok,
       CAST(count(*) FILTER (WHERE c4_keep AND gopher_ok) AS BIGINT) AS n_both,
       CAST(count(DISTINCT fp) AS BIGINT) AS n_unique_docs,
       CAST(sum(n_lines_kept) AS BIGINT) AS lines_kept
FROM flags GROUP BY source
""",
)
def dp_quality_funnel(spark, sf_dir):
    """Per-source quality FUNNEL — the observability report every
    production ingest pipeline ships: how many documents each source
    contributes, how many survive the C4 gates, the Gopher rules, both,
    and how many are unique by fingerprint (the dedup stage's yield),
    plus total retained lines. One scan -> one map-side-combined
    aggregate on the 20-source key; the count(DISTINCT fp) is the only
    expansion and Spark plans it as the standard two-phase
    partial-distinct (per-source state is bounded by that source's
    unique docs, and at 100 TB this is the same shape as any
    distinct-count rollup). Integer-exact columns only."""
    df = load_table(spark, sf_dir, "documents").withColumn("_staged", _staged_text())
    c4 = text.c4_filters("_staged")
    g = text.gopher_rules("_staged")
    flags = df.select(
        "source",
        c4["c4_keep"].alias("c4_keep"),
        g["gopher_ok"].alias("gopher_ok"),
        c4["n_lines_kept"].alias("n_lines_kept"),
        text.fingerprint("text").alias("fp"),
    )
    both = F.col("c4_keep") & F.col("gopher_ok")
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("c4_keep")).alias("n_c4_keep"),
        F.count_if(F.col("gopher_ok")).alias("n_gopher_ok"),
        F.count_if(both).alias("n_both"),
        F.countDistinct("fp").alias("n_unique_docs"),
        F.sum("n_lines_kept").alias("lines_kept"),
    )


# ---------------------------------------------------------- full pipeline ---

_P_CLEAN = _SCRUB["clean_text"]  # same binding as dp_scrub's oracle — must not drift
_P_Q = text.duck_quality_sql("clean_text")


@query(
    "dp_corpus_pipeline",
    f"""
WITH cleaned AS (
  SELECT doc_id, {_P_CLEAN} AS clean_text FROM documents
),
flagged AS (
  SELECT doc_id, clean_text, {text.duck_langid('clean_text')} AS lang,
         CAST(floor((length(clean_text) + 3) / 4) AS BIGINT) AS n_bpe
  FROM cleaned WHERE {_P_Q['quality_ok']}
),
survivors AS (
  SELECT min(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang,
         arg_min(n_bpe, doc_id) AS n_bpe, count(*) AS n_dups
  FROM flagged GROUP BY {text.duck_fingerprint('clean_text')}
)
SELECT lang, count(*) AS n_docs, CAST(sum(n_bpe) AS BIGINT) AS total_bpe_tokens,
       CAST(sum(n_dups) - count(*) AS BIGINT) AS n_removed
FROM survivors GROUP BY lang
""",
)
def dp_corpus_pipeline(spark, sf_dir):
    """The end-to-end training-corpus pipeline: scrub (PII/noise) ->
    quality gate -> fingerprint dedup (canonical = min doc id,
    deterministic via min_by) -> per-language corpus stats. Two wide
    shuffles total (dedup groupBy + final groupBy).

    The cleaned text is persisted deliberately: every downstream
    expression (quality predicate, langid, token count, fingerprint)
    reads ``clean_text``, and without a materialization boundary
    Catalyst substitutes the 3-pass scrub regex chain for it. The
    quality predicate binds its column once (``text._bound_once``), so
    the filter runs the chain once per row rather than once per
    reference; but predicate pushdown still drags that filter below
    the fan-out exchange onto the serial scan task, and the projection
    above the exchange runs the chain a second time. The persist
    computes scrub exactly once per row, in parallel (measured before
    the binding, when the filter ran the chain ~15x per row: 1.98s ->
    0.48s at sf0.1). At 100 TB the same tradeoff holds per-partition —
    one cached pass (spilling to disk) vs two recomputed regex passes
    over every document, one of them at scan parallelism."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), by="doc_id")
    # engine auto-pick: JVM regex chain below the measured crossover,
    # Arrow/RE2 (~4.7x/core) above it — identical output either way,
    # both pinned to the same oracle (dp_scrub / dp_scrub_arrow)
    cleaned = managed_persist(
        text.scrubbed(docs, "text").select("doc_id", "clean_text")
    )
    qf = text.quality_flags("clean_text")
    n_bpe = text.token_counts("clean_text")[1]
    flagged = (
        cleaned.filter(qf["quality_ok"])
        .select(
            "doc_id",
            "clean_text",
            text.langid("clean_text").alias("lang"),
            n_bpe.alias("n_bpe"),
        )
    )
    survivors = flagged.groupBy(text.fingerprint("clean_text").alias("fp")).agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("lang", "doc_id").alias("lang"),
        F.min_by("n_bpe", "doc_id").alias("n_bpe"),
        F.count("*").alias("n_dups"),
    )
    return survivors.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_bpe").alias("total_bpe_tokens"),
        (F.sum("n_dups") - F.count("*")).cast("long").alias("n_removed"),
    )


_EMB_PAIRS = f"""
SELECT id_a AS doc_a, id_b AS doc_b FROM ({vectors.duck_cosine_pairs(threshold_c4=4500)})
"""


@query(
    "dp_embedding_dedup",
    dedup.duck_dedup_clusters(pairs_sql=_EMB_PAIRS, table="embeddings", id_col="vec_id"),
)
def dp_embedding_dedup(spark, sf_dir):
    """Embedding-space dedup: connected components over cosine>=0.45
    near-dup pairs, canonical = min vec_id per cluster. The pair source
    here is the brute-force compare (exact, fine at this SF); at corpus
    scale swap in the LSH-bucketed pair generator — the cluster/survivor
    machinery is identical."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = vectors.cosine_pairs(emb).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    return dedup.dedup_clusters(emb, pairs, id_col="vec_id")


@query("dp_lsh_verified_pairs", dedup.duck_lsh_verified_pairs())
def dp_lsh_verified_pairs(spark, sf_dir):
    """Prune -> verify: exact jaccard computed only on LSH candidates."""
    return dedup.lsh_verified_pairs(load_table(spark, sf_dir, "documents"))


_JK = 16


@query(
    "dp_minhash_jaccard_est",
    f"""
WITH sh AS (
  SELECT DISTINCT doc_id, unnest({text.duck_word_shingles('text', 3)}) AS s
  FROM documents
),
hp AS (
  SELECT doc_id, {dedup.duck_md5_long('s', nchars=8)} AS h32 FROM sh
),
sig AS (
  SELECT doc_id,
         {", ".join(f"min({dedup.duck_affine_hash('h32', a, b)}) AS m{i}" for i, (a, b) in enumerate(dedup.minhash_params(16)))}
  FROM hp GROUP BY doc_id
),
pairs AS ({dedup.duck_lsh_pairs()})
SELECT p.doc_a, p.doc_b,
       CAST(({" + ".join(f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(16))})
            * 1000000 // 16 AS BIGINT) AS jaccard_est_c6
FROM pairs p
JOIN sig a ON a.doc_id = p.doc_a
JOIN sig b ON b.doc_id = p.doc_b
""",
)
def dp_minhash_jaccard_est(spark, sf_dir):
    """Sketch-based jaccard estimate: fraction of agreeing minhashes
    over LSH candidate pairs — the O(k) similarity check that replaces
    exact set intersection when the shingle sets are too big to move.
    The signature aggregate is computed ONCE and persisted; the band
    table and both compare sides read it from cache instead of
    re-running the shingle->md5->agg pipeline three times.

    No forced broadcasts: the candidate-pair table grows LINEARLY with
    the corpus (the bucket cap bounds per-bucket blowup, not pair
    count), so a broadcast hint here would collect a corpus-sized table
    to the driver at scale and hit the 8 GB broadcast wall. The joins
    carry (pair ids + 16 longs) — plain shuffle joins, AQE promotes
    them to broadcast when the run-time size is actually small."""
    docs = load_table(spark, sf_dir, "documents")
    sig = managed_persist(dedup.minhash_signature(docs))
    cands = dedup.lsh_pairs(docs, sig=sig)
    a = sig.select(F.col("doc_id").alias("doc_a"), *[F.col(f"m{i}").alias(f"a{i}") for i in range(_JK)])
    b = sig.select(F.col("doc_id").alias("doc_b"), *[F.col(f"m{i}").alias(f"b{i}") for i in range(_JK)])
    agree = sum(F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(_JK))
    with_a = a.join(cands, "doc_a")
    est = F.lit(1000000 // _JK).cast("long") * agree  # exact: 1e6/16 divides evenly
    return (
        b.join(with_a, "doc_b")
        .select("doc_a", "doc_b", est.cast("long").alias("jaccard_est_c6"))
    )


from baker_spark.functions import hashing as _hashing


@query(
    "dp_kmv_distinct",
    f"""
WITH h AS (
  SELECT DISTINCT event_type, {_hashing.duck_md5_long("CAST(user_id AS VARCHAR)")} AS hv
  FROM events
  WHERE user_id IS NOT NULL
),
ranked AS (
  SELECT event_type, hv,
         row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n_exact
  FROM h
)
SELECT event_type,
       CAST(n_exact AS BIGINT) AS exact_distinct,
       {_hashing.duck_kmv_estimate_c0("hv")} AS kmv_estimate
FROM ranked WHERE rn = {_hashing.KMV_K}
""",
)
def dp_kmv_distinct(spark, sf_dir):
    """KMV distinct-count sketch per event_type: the k-th smallest
    distinct md5 hash yields the estimate (k-1)*S/kth. Deterministic
    cross-engine (unlike HLL), and the oracle checks estimate AND
    exact side by side.

    Bottom-k as a salted partial aggregate merge, NOT a per-group
    window sort: salt = hv mod S is a function of the hash, so
    collect_set within (event_type, salt) dedups globally in ONE
    shuffle, each salt task sorts only ~1/S of a group's hashes and
    keeps its k smallest, and the merge shuffles just S*k longs per
    group. The window formulation funneled every distinct hash of an
    event_type through one reducer and sorted it all — the classic
    skew bottleneck at 100 TB."""
    S = 32  # salt fan-out: per-task state = distinct_hashes/S
    k = _hashing.KMV_K
    ev = load_table(spark, sf_dir, "events")
    # NULL user_ids are excluded EXPLICITLY on both engines: collect_set
    # silently drops NULL hashes while SELECT DISTINCT counts NULL as one
    # value, so without this stated contract the two sides would diverge
    # the first time a nullable user_id appears.
    salted = ev.filter(F.col("user_id").isNotNull()).select(
        "event_type",
        _hashing.md5_long(F.col("user_id").cast("string")).alias("hv"),
    ).withColumn("salt", F.pmod("hv", F.lit(S)))
    partial = (
        salted.groupBy("event_type", "salt")
        .agg(F.array_sort(F.collect_set("hv")).alias("s"))
        .select(
            "event_type",
            F.size("s").alias("n"),
            F.slice("s", 1, k).alias("bk"),
        )
    )
    merged = partial.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("exact_distinct"),
        F.element_at(F.array_sort(F.flatten(F.collect_list("bk"))), k).alias("kth"),
    )
    return merged.filter(F.col("exact_distinct") >= k).select(
        "event_type",
        "exact_distinct",
        _hashing.kmv_estimate_c0(F.col("kth")).alias("kmv_estimate"),
    )


@query("dp_decontaminate", dedup.duck_decontaminate())
def dp_decontaminate(spark, sf_dir):
    """Eval-set decontamination: docs 0-19 stand in for the benchmark;
    every other doc is flagged if it shares a 5-gram with them."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 20)
    rest = docs.filter(F.col("doc_id") >= 20)
    return dedup.decontaminate(rest, bench)


@query("dp_decontaminate_shuffle", dedup.duck_decontaminate())
def dp_decontaminate_shuffle(spark, sf_dir):
    """The shuffle-strategy twin of dp_decontaminate — identical rows,
    different physical plan: both sides hash-partitioned on the
    shingle (benchmark side builds the hash table), for eval unions
    too large to broadcast. Same oracle, byte-for-byte."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 20)
    rest = docs.filter(F.col("doc_id") >= 20)
    return dedup.decontaminate(rest, bench, strategy="shuffle")


# ------------------------------------------------------- corpus statistics ---

@query(
    "dp_vocab_topk",
    """
WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
SELECT word, count(*) AS cf, count(DISTINCT doc_id) AS df
FROM w GROUP BY word
ORDER BY cf DESC, word LIMIT 100
""",
)
def dp_vocab_topk(spark, sf_dir):
    """Vocabulary building: top-100 words by collection frequency, with
    document frequency alongside (the df side of tf-idf; idf's log stays
    with the consumer — doubles don't hash-compare across engines).
    Scale shape: explode -> hash aggregate with map-side combine (the
    exchange carries one row per distinct word per partition, not one
    per token), then TakeOrderedAndProject — top-k per partition, merge
    at the driver; total order (cf desc, word) makes the cut
    deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    w = fan_out(docs, by="doc_id").select(
        "doc_id", F.explode(text.words("text")).alias("word")
    )
    return (
        w.groupBy("word")
        .agg(F.count("*").alias("cf"), F.countDistinct("doc_id").alias("df"))
        .orderBy(F.desc("cf"), F.asc("word"))
        .limit(100)
    )


@query(
    "dp_bigram_topk",
    f"""
WITH b AS (
  SELECT doc_id, unnest({text.duck_word_shingles('text', 2)}) AS bigram FROM documents
)
SELECT bigram, count(*) AS cf FROM b GROUP BY bigram
ORDER BY cf DESC, bigram LIMIT 100
""",
)
def dp_bigram_topk(spark, sf_dir):
    """Top-100 word bigrams — n-gram LM counts / collocation mining over
    the corpus; same explode -> partial-agg -> top-k shape as the
    vocabulary query."""
    docs = load_table(spark, sf_dir, "documents")
    b = fan_out(docs, by="doc_id").select(
        "doc_id", F.split(F.col("text"), " ", -1).alias("_w")
    ).select(
        "doc_id",
        F.explode(text.word_shingles(F.col("_w"), 2, split=False)).alias("bigram"),
    )
    return (
        b.groupBy("bigram")
        .agg(F.count("*").alias("cf"))
        .orderBy(F.desc("cf"), F.asc("bigram"))
        .limit(100)
    )


#: per-language keep-rates (percent) for the stratified sampling demo.
_STRATA_RATES = {"en": 80, "de": 50, "fr": 50}
_STRATA_DEFAULT = 25


@query(
    "dp_sample_stratified",
    f"""
SELECT doc_id, lang FROM documents
WHERE {_hashing.duck_md5_long("CAST(doc_id AS VARCHAR)")} % 100 <
      CASE lang {' '.join(f"WHEN '{k}' THEN {v}" for k, v in _STRATA_RATES.items())}
      ELSE {_STRATA_DEFAULT} END
""",
)
def dp_sample_stratified(spark, sf_dir):
    """Deterministic stratified corpus sampling: keep a per-language
    fraction chosen by hash(doc_id) mod 100 — reproducible across runs,
    engines and cluster sizes (unlike rand()-based sampling), fully
    narrow (no shuffle, filter pushes to the scan), and stable under
    re-partitioning — the properties corpus subsampling at 100 TB needs."""
    docs = load_table(spark, sf_dir, "documents")
    expr = None
    for k, v in _STRATA_RATES.items():
        cond = (F.col("lang") == k, F.lit(v))
        expr = F.when(*cond) if expr is None else expr.when(*cond)
    rate = expr.otherwise(F.lit(_STRATA_DEFAULT))
    keep = _hashing.md5_long(F.col("doc_id").cast("string")) % 100 < rate
    return docs.filter(keep).select("doc_id", "lang")


@query(
    "dp_train_split",
    f"""
WITH b AS (
  SELECT doc_id,
         {_hashing.duck_md5_long("CAST(doc_id AS VARCHAR)", salt="split")} % 100 AS bucket
  FROM documents
)
SELECT doc_id,
       CASE WHEN bucket < 90 THEN 'train'
            WHEN bucket < 95 THEN 'val'
            ELSE 'test' END AS split
FROM b
""",
)
def dp_train_split(spark, sf_dir):
    """Deterministic train/val/test assignment: salted hash(doc_id) mod
    100 -> 90/5/5. Purely narrow (no shuffle, no state), reproducible
    across engines, runs and cluster sizes, and stable under corpus
    growth — adding documents never reassigns an existing one, the
    property that keeps eval sets uncontaminated across dataset
    versions (a rand()-seeded split has none of these)."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = _hashing.md5_long(F.col("doc_id").cast("string"), salt="split") % 100
    split = (
        F.when(bucket < 90, F.lit("train"))
        .when(bucket < 95, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.select("doc_id", split.alias("split"))


@query(
    "dp_shard_manifest",
    f"""
WITH a AS (
  SELECT {_hashing.duck_md5_long("CAST(doc_id AS VARCHAR)", salt="shard")} % 16 AS shard_id,
         strlen(text) AS n_bytes,
         CAST(floor((length(text) + 3) / 4) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(sum(n_bytes) AS BIGINT) AS n_bytes
FROM a GROUP BY shard_id
""",
)
def dp_shard_manifest(spark, sf_dir, n_shards: int = 16):
    """Training-shard manifest: deterministic hash assignment of docs to
    N shards plus the per-shard doc/token/byte totals a shard writer
    needs up front (WebDataset/Megatron-style shard planning — balanced
    shards, and the same doc always lands in the same shard so a
    partial re-run never rewrites finished shards).

    Scale shape: the assignment is a narrow salted-hash projection (the
    same stability contract as dp_train_split); the manifest is ONE
    map-side-combined aggregation whose exchange carries N_shards rows
    of partial sums per partition — at 100 TB the shuffle moves a few
    KB regardless of corpus size. To materialize the shards themselves,
    reuse the assignment column as ``partitionBy``/``repartition`` key:
    the manifest and the data layout then agree by construction."""
    docs = load_table(spark, sf_dir, "documents")
    # the ORACLE pins the default n_shards=16 (the gated configuration);
    # callers may pass any shard count
    shard = _hashing.md5_long(F.col("doc_id").cast("string"), salt="shard") % n_shards
    _, n_bpe = text.token_counts("text")
    return (
        docs.select(
            shard.alias("shard_id"),
            n_bpe.alias("n_tokens"),
            F.octet_length("text").cast("long").alias("n_bytes"),
        )
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("n_bytes").alias("n_bytes"),
        )
    )


@query(
    "dp_global_shuffle",
    f"""
WITH a AS (
  SELECT doc_id,
         {_hashing.duck_md5_long("CAST(doc_id AS VARCHAR)", salt="shard")} % 16 AS shard_id,
         {_hashing.duck_md5_long("CAST(doc_id AS VARCHAR)", salt="order:42")} AS ord
  FROM documents
)
SELECT doc_id, shard_id,
       CAST(row_number() OVER (PARTITION BY shard_id ORDER BY ord, doc_id) AS BIGINT) AS pos
FROM a
""",
)
def dp_global_shuffle(spark, sf_dir, n_shards: int = 16, seed: int = 42):
    """Seeded GLOBAL SHUFFLE into training shards: every doc gets its
    shard (same salted assignment as dp_shard_manifest, so the manifest
    describes exactly these shards) and a dense within-shard position
    ordered by an independent seeded hash — the reproducible random
    training order every pretraining run needs (docs must arrive
    decorrelated from crawl/source order, identically across reruns,
    engines and cluster sizes; rand() gives none of that, and the
    seed in the salt makes epoch-2 a different-but-reproducible order).

    Scale shape: one exchange on shard_id, then a per-shard sort for
    row_number — the sort IS the operation (a total order within each
    shard cannot cost less), and parallelism equals the shard count,
    which in production is the knob already sized to the corpus
    (thousands of Megatron/WebDataset shards for a 100 TB run; the 16
    here is the fixture-scale oracle configuration). Tie-break on
    doc_id makes positions deterministic even under hash collisions.
    To materialize, write ``repartition(shard_id).sortWithinPartitions
    (ord)`` with the manifest riding the same assignment."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.col("doc_id").cast("string")
    shard = _hashing.md5_long(key, salt="shard") % n_shards
    ord_ = _hashing.md5_long(key, salt=f"order:{seed}")
    win = Window.partitionBy("shard_id").orderBy("ord", "doc_id")
    return (
        docs.select("doc_id", shard.alias("shard_id"), ord_.alias("ord"))
        .select("doc_id", "shard_id", F.row_number().over(win).cast("long").alias("pos"))
    )


@query(
    "dp_repeated_passages",
    f"""
WITH sh AS (
  SELECT doc_id, unnest({text.duck_word_shingles("text", 5)}) AS gram FROM documents
)
SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occurrences
FROM sh GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
""",
)
def dp_repeated_passages(spark, sf_dir):
    """Cross-document repeated-passage detection — the signal behind
    exact-substring dedup (memorization-prone boilerplate shows up as
    5-gram passages shared by >= 2 docs). One explode + one aggregation:
    the exchange carries (gram, doc_id) pairs, linear in corpus tokens,
    with map-side partial aggregation; no pairwise comparison ever
    happens, so this scales where suffix-array approaches need
    specialized infrastructure. Downstream, the passage list drives
    span-level scrubbing or doc-level drop decisions.

    fan_out before the explode: the 5-gram construction is the
    expensive per-row expression here, and without it Spark evaluates
    it inside the scan stage on however many splits the parquet
    offers (2 at sf1 — measured 17s; fanned: 2s on 32 cores)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), by="doc_id")
    grams = docs.select(
        "doc_id", F.explode(text.word_shingles("text", 5)).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
    )


_BLK = text.duck_chunks("text", size=5, step=5)


@query(
    "dp_passage_scrub",
    f"""
WITH blk AS (
  SELECT doc_id, unnest({_BLK}) AS chunk,
         generate_subscripts({_BLK}, 1) - 1 AS idx
  FROM documents
),
rep AS (
  SELECT {_hashing.duck_md5_long('chunk')} AS hv
  FROM blk GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
),
kept AS (
  SELECT b.doc_id, b.idx, b.chunk FROM blk b
  WHERE {_hashing.duck_md5_long('b.chunk')} NOT IN (SELECT hv FROM rep)
)
SELECT doc_id, string_agg(chunk, ' ' ORDER BY idx) AS scrubbed_text,
       CAST(count(*) AS BIGINT) AS n_blocks_kept
FROM kept GROUP BY doc_id
""",
)
def dp_passage_scrub(spark, sf_dir):
    """Exact-substring dedup at passage granularity (the RefinedWeb /
    MassiveText recipe, block-approximated so it distributes): cut every
    document into non-overlapping 5-word blocks, drop each block that
    appears verbatim in >= 2 documents, reassemble the survivors in
    order. Documents that were ALL boilerplate disappear entirely.

    Scale shape: the repetition count groups on the block's 60-bit hash
    — that exchange carries (hash, doc) longs, never text. Block text
    crosses the wire exactly once, into the anti-join + per-doc
    reassembly (unavoidable: the output IS text). No window: reassembly
    is collect_list -> array_sort on (idx, block) structs, whose state
    is one document's blocks. A true suffix-array dedup removes
    arbitrary-offset repeats; the block approximation trades that for
    three shuffles of linear size, which is why production corpus
    pipelines run it at the billions-of-docs scale."""
    docs = load_table(spark, sf_dir, "documents")
    blocks = fan_out(docs, by="doc_id").select(
        "doc_id",
        F.posexplode(text.chunks("text", size=5, step=5)).alias("idx", "chunk"),
    )
    blocks = blocks.withColumn("hv", _hashing.md5_long("chunk"))
    # persist: blocks feeds BOTH the repetition aggregate and the
    # anti-join probe; without the boundary the chunk explode + md5
    # pipeline (the expensive per-row stage) runs twice — same pattern
    # as dp_tfidf_topk's tf persist
    blocks = managed_persist(blocks)
    repeated = (
        blocks.groupBy("hv")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("hv")
    )
    kept = blocks.join(repeated, "hv", "left_anti")
    return (
        kept.groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("idx", "chunk"))).alias("_blks"),
            F.count("*").cast("long").alias("n_blocks_kept"),
        )
        .select(
            "doc_id",
            F.array_join(
                F.transform(F.col("_blks"), lambda s: s.chunk), " "
            ).alias("scrubbed_text"),
            "n_blocks_kept",
        )
    )


#: source-curation demo parameters: blocked origins + per-source cap
_BLOCKED_SOURCES = ["src7", "src13"]
_SOURCE_QUOTA = 15


@query(
    "dp_source_overlap",
    f"""
WITH sh AS (
  SELECT DISTINCT source, unnest({text.duck_word_shingles("text", 3)}) AS s
  FROM documents
)
SELECT a.source AS source_a, b.source AS source_b,
       count(*) AS shared_shingles
FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
GROUP BY source_a, source_b
""",
)
def dp_source_overlap(spark, sf_dir):
    """Cross-source contamination matrix: for every unordered source
    pair, how many distinct 3-gram shingles they share — the
    leakage-analysis view behind train/eval splits by source (a pair
    with outsized overlap means splitting on source does NOT decorrelate
    the sets; the per-pair counts feed an overlap-jaccard downstream).

    Scale shape: GROUP-AND-ENUMERATE on the shingle, never a shingle
    self-join — collect_set(source) per shingle is bounded by the
    source-universe size (20 here; never by corpus size), the pair
    explode emits <= C(|sources|, 2) rows per shingle, and the final
    aggregate's output is one row per source pair. The oracle uses the
    self-join formulation — fine at DuckDB's fixture scale, same
    semantics — while the Spark plan keeps every stage map-side-combined
    and skew-proof (a boilerplate shingle shared by millions of docs
    still contributes one set of <= 20 sources)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = fan_out(docs, by="doc_id").select(
        "source", F.explode(text.word_shingles("text", 3)).alias("s")
    )
    per = sh.groupBy("s").agg(F.sort_array(F.collect_set("source")).alias("_src"))
    pair_expr = (
        "flatten(transform(_src, (x, i) -> "
        "transform(slice(_src, i + 2, size(_src)), y -> "
        "struct(x AS source_a, y AS source_b))))"
    )
    return (
        per.select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy(F.col("p.source_a").alias("source_a"), F.col("p.source_b").alias("source_b"))
        .agg(F.count("*").alias("shared_shingles"))
    )


@query(
    "dp_source_quota",
    f"""
WITH allowed AS (
  SELECT doc_id, source FROM documents
  WHERE source NOT IN ({", ".join(f"'{s}'" for s in _BLOCKED_SOURCES)})
),
ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM allowed
)
SELECT doc_id, source FROM ranked WHERE rn <= {_SOURCE_QUOTA}
""",
)
def dp_source_quota(spark, sf_dir):
    """Source curation (the C4/RefinedWeb pattern): drop blocklisted
    origins, then cap any single source's contribution at K docs
    (deterministic: the K smallest doc_ids survive).

    The cap is the same salted bottom-k partial-aggregate merge as
    dp_kmv_distinct, NOT a per-source row_number window: a hot source
    at 100 TB would funnel its billions of rows through one windowing
    reducer, while the salted aggregate keeps per-task state at
    group/S ids and merges S*K longs per source. The oracle uses the
    window formulation — fine at DuckDB's scale, the semantics match."""
    S = 8
    docs = load_table(spark, sf_dir, "documents")
    allowed = docs.filter(~F.col("source").isin(_BLOCKED_SOURCES))
    salted = allowed.select("source", "doc_id").withColumn(
        "salt", F.pmod("doc_id", F.lit(S))
    )
    partial = salted.groupBy("source", "salt").agg(
        F.slice(F.array_sort(F.collect_list("doc_id")), 1, _SOURCE_QUOTA).alias("bk")
    )
    kept = partial.groupBy("source").agg(
        F.slice(
            F.array_sort(F.flatten(F.collect_list("bk"))), 1, _SOURCE_QUOTA
        ).alias("keep_ids")
    )
    return kept.select(F.explode("keep_ids").alias("doc_id"), "source")


@query(
    "dp_lang_mix_weights",
    """
SELECT lang, count(*) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000000) AS BIGINT) AS weight_sqrt_c6
FROM documents GROUP BY lang
""",
)
def dp_lang_mix_weights(spark, sf_dir):
    """Temperature-mixing statistics per language: doc/token counts and
    the alpha=0.5 sampling weight sqrt(n_docs) as fixed-point micros.
    IEEE-754 sqrt is correctly rounded in both engines, so unlike
    pow/log it hash-compares exactly; normalization (dividing by the
    sum) is left to the consumer because a cross-partition double sum
    is order-dependent."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        # n_words, not raw size(words()): legacy size(NULL) = -1 would
        # SUBTRACT one per null-text doc where the oracle's sum skips it
        F.sum(text.n_words("text")).cast("long").alias("n_tokens"),
        F.floor(F.sqrt(F.count("*").cast("double")) * 1000000)
        .cast("long")
        .alias("weight_sqrt_c6"),
    )


_PACK_BUDGET = 512  # BPE-estimate tokens per packed training sequence
_PACK_STREAMS = 16
#: stream slot width for seq_id = stream * SLOT + per-stream index.
#: At 1e6 a stream collided into its neighbor once it accumulated
#: 512M tokens (~2 GB of text — a ~32 GB corpus at 16 streams),
#: far below the 100 TB this query advertises. 1e12 sequences/stream
#: = 512e12 tokens/stream; stream*SLOT tops out at 16e12, five
#: decimal orders inside int64.
_PACK_SLOT = 10**12


@query(
    "dp_sequence_packing",
    f"""
WITH t AS (
  SELECT doc_id,
         CAST(floor((length(text) + 3) / 4) AS BIGINT) AS n_tok,
         {_hashing.duck_md5_long("CAST(doc_id AS VARCHAR)")} AS h
  FROM documents
),
s AS (
  SELECT doc_id, n_tok, h % {_PACK_STREAMS} AS stream,
         sum(n_tok) OVER (PARTITION BY h % {_PACK_STREAMS} ORDER BY h, doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT doc_id, CAST(stream AS BIGINT) AS stream,
       CAST(stream * {_PACK_SLOT} + (cum - n_tok) // {_PACK_BUDGET} AS BIGINT) AS seq_id,
       CAST((cum - n_tok) % {_PACK_BUDGET} AS BIGINT) AS offset_in_seq
FROM s
""",
)
def dp_sequence_packing(spark, sf_dir):
    """Pack documents into ~fixed-token training sequences: docs are
    dealt into S deterministic streams by hash, each stream greedily
    fills sequences by a running token sum (window), and
    seq_id = stream * 1e12 + cum_tokens div budget. Deterministic
    (md5-ordered, pure integer arithmetic — reproducible across engines
    and cluster sizes) and scalable: streams are the parallelism unit,
    each stream's window state is one running sum, and S grows with the
    cluster at 100 TB. The per-doc start offset inside its sequence
    comes out of the same window pass."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        text.token_counts("text")[1].alias("n_tok"),
        _hashing.md5_long(F.col("doc_id").cast("string")).alias("h"),
    ).withColumn("stream", F.col("h") % _PACK_STREAMS)
    w = (
        Window.partitionBy("stream")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s = t.withColumn("cum", F.sum("n_tok").over(w))
    return s.select(
        "doc_id",
        F.col("stream").cast("long").alias("stream"),
        F.expr(f"stream * {_PACK_SLOT} + (cum - n_tok) div {_PACK_BUDGET}")
        .cast("long")
        .alias("seq_id"),
        F.expr(f"(cum - n_tok) % {_PACK_BUDGET}").cast("long").alias("offset_in_seq"),
    )


@query("dp_cosine_pairs_bucketed", vectors.duck_cosine_pairs_bucketed())
def dp_cosine_pairs_bucketed(spark, sf_dir):
    """Scale path for embedding near-dup: hyperplane-LSH buckets
    partition the corpus and the exact quantized matmul kernel runs per
    bucket (applyInPandas) — distributed, no driver collect."""
    return vectors.cosine_pairs_bucketed(load_table(spark, sf_dir, "embeddings"))
