#!/usr/bin/env python3
"""Cross-check the corpus_dedup reference of check.py against DuckDB.

    python3 perfbench/crosscheck_duckdb.py 1 2 3

For each seed, generates the benchmark's documents and compares the
pure-Python reference (surviving documents, chunk count and chunk
digest) with the same pipeline evaluated by DuckDB through the engine's
DuckDB oracle SQL (scrub, quality gate, minhash LSH pairs, connected
components, chunking). Spark is not involved. Prints one line per seed
and exits non-zero on any mismatch.
"""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import duckdb  # noqa: E402

import check  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402


def duckdb_chunks(texts: list[str]) -> tuple[list[int], list[str]]:
    from baker_spark.datapipe import dedup, text

    con = duckdb.connect()
    con.execute("CREATE TABLE raw (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO raw VALUES (?, ?)", list(enumerate(texts)))
    clean = text.duck_scrub_sql("text")["clean_text"]
    ok = text.duck_quality_sql("clean_text")["quality_ok"]
    con.execute(f"CREATE TABLE flagged AS SELECT doc_id, {clean} AS clean_text FROM raw")
    con.execute(f"DELETE FROM flagged WHERE NOT ({ok})")
    pairs = dedup.duck_lsh_pairs(table="flagged", text_col="clean_text")
    clusters = dedup.duck_dedup_clusters(pairs_sql=pairs, table="flagged")
    survivors = [r[0] for r in con.execute(f"SELECT doc_id FROM ({clusters}) WHERE is_canonical ORDER BY doc_id").fetchall()]
    rows = con.execute(
        f"""SELECT f.doc_id, u.i, u.chunk FROM flagged f
        JOIN ({clusters}) c ON c.doc_id = f.doc_id AND c.is_canonical,
        LATERAL (SELECT generate_subscripts(ch, 1) - 1 AS i, unnest(ch) AS chunk
                 FROM (SELECT {text.duck_chunks('f.clean_text')} AS ch)) u"""
    ).fetchall()
    return survivors, [f"{d}\t{i}\t{c}" for d, i, c in rows]


def main(seeds: list[int]) -> int:
    bad = 0
    for seed in seeds:
        texts = gen.documents(seed, workloads.DOCS)
        ref = check.corpus_expected(texts)
        survivors, lines = duckdb_chunks(texts)
        n, digest = check.line_digest(lines)
        same = survivors == ref["survivors"] and (n, digest) == (ref["chunks"], ref["chunk_digest"])
        bad += not same
        print(f"seed={seed} docs={len(texts)} survivors={len(survivors)} chunks={n} "
              f"python_chunks={ref['chunks']} {'agree' if same else 'DIFFER'}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main([int(s) for s in sys.argv[1:]] or [1]))
