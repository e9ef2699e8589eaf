

def test_exact_substring_dedup_surgical_removal(spark):
    """ExactSubstr (Lee et al. 2022) pinned semantics: a k-token span
    repeated ANYWHERE (cross-doc or self-repeat) is cut from every
    occurrence while the surrounding text survives; sub-k docs and
    repeat-free docs pass through byte-identical; NULL/empty text is
    preserved. Both engines hash-matched on the same fixtures."""
    import duckdb

    from baker_spark.datapipe import dedup as D

    span = "alpha beta gamma delta epsilon zeta eta theta"
    docs = [
        (1, f"intro one two {span} tail one"),
        (2, f"other prefix {span} closing words here"),
        (3, "clean document with no repeats at all whatsoever"),
        (4, f"{span} middle {span}"),   # self-repeat inside one doc
        (5, "tiny doc"),                 # < k tokens: untouchable
        (6, None),
        (7, ""),
        (8, span),                       # fully covered -> empty rewrite
        (9, span),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in D.exact_substring_dedup(df, k=5).collect()}

    # the shared 8-token span is cut from both docs, surroundings kept
    assert out[1]["clean_text"] == "intro one two tail one"
    assert out[2]["clean_text"] == "other prefix closing words here"
    assert out[1]["n_removed_tokens"] == 8 and out[1]["n_tokens"] == 13
    assert out[1]["removed_frac_c6"] == 615384
    # self-repeat: both occurrences cut, connective survives
    assert out[4]["clean_text"] == "middle"
    assert out[4]["n_removed_tokens"] == 16
    # untouched classes
    assert out[3]["clean_text"] == docs[2][1] and out[3]["n_removed_tokens"] == 0
    assert out[5]["clean_text"] == "tiny doc"
    assert out[6]["clean_text"] is None and out[6]["n_tokens"] is None
    assert out[7]["clean_text"] == ""
    # whole-doc duplicates collapse to the empty rewrite ('' not NULL)
    assert out[8]["clean_text"] == "" and out[8]["removed_frac_c6"] == 1_000_000

    # cross-engine: identical rows from the DuckDB twin
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    dk = sorted(tuple(r) for r in con.execute(D.duck_exact_substring_dedup(k=5)).fetchall())
    sp = sorted(tuple(r) for r in D.exact_substring_dedup(df, k=5).collect())
    assert sp == dk



def test_exact_substring_hash_swap_results_pinned(spark, sf_dir):
    """The xxhash64 internal swap must keep the rewrite byte-identical
    to the md5-hash formulation (equality-only use of the hash)."""
    from baker_spark.datapipe import dedup
    from baker_spark.functions.hashing import md5_long
    from baker_spark.sources.tables import load_table
    from pyspark.sql import Window, functions as F

    df = load_table(spark, sf_dir, "documents")
    new = sorted(tuple(r) for r in dedup.exact_substring_dedup(df, k=12).collect())

    # md5 reference formulation (the earlier internal hash)
    k = 12
    w = F.split(F.col("text"), " ", -1)
    m = F.size(w) - (k - 1)
    grams = F.transform(
        F.sequence(F.lit(1), m),
        lambda i: md5_long(F.concat_ws(" ", F.slice(w, i, k))),
    )
    hashed = (
        df.filter(m >= 1)
        .select(F.col("doc_id"), F.posexplode(grams).alias("_p0", "h"))
        .select("doc_id", (F.col("_p0") + 1).cast("long").alias("pos"), "h")
    )
    dup_pos = sorted(
        tuple(r)
        for r in hashed.withColumn(
            "_c", F.count(F.lit(1)).over(Window.partitionBy("h"))
        )
        .filter(F.col("_c") >= 2)
        .select("doc_id", "pos")
        .collect()
    )
    # same duplicated-position set through the current (xxhash64) path
    w_sql = "split(`text`, ' ', -1)"
    hashed2 = (
        df.where(f"size({w_sql}) - {k - 1} >= 1")
        .selectExpr(
            "`doc_id`",
            f"posexplode(transform(sequence(1, size({w_sql}) - {k - 1}), "
            f"i -> xxhash64(concat_ws(' ', slice({w_sql}, i, {k}))))) AS (_p0, h)",
        )
        .selectExpr("`doc_id`", "cast(_p0 + 1 as bigint) AS pos", "h")
    )
    dup_pos2 = sorted(
        tuple(r)
        for r in hashed2.withColumn(
            "_c", F.count(F.lit(1)).over(Window.partitionBy("h"))
        )
        .filter(F.col("_c") >= 2)
        .select("doc_id", "pos")
        .collect()
    )
    assert dup_pos == dup_pos2
    assert len(new) == df.count()
