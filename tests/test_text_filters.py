"""Rule-by-rule tests for the published text-filter sets — Gopher
(Rae et al. 2021 A1.1) and C4 (Raffel et al. 2020 §2.2) — on handcrafted
documents that isolate each rule, PLUS cross-engine parity: the same
fixture rows go through the Spark columns and the DuckDB oracle SQL, and
every output cell must agree (the catalog oracle only sees the synthetic
corpus; these fixtures hit the edges it can't — unicode ellipsis,
quote-terminated lines, NULL/empty text, case-folded blocklist hits)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from baker_spark.datapipe import text

# one doc per rule; (doc_id, text, expected-failure note)
GOOD = (
    "the quick brown fox jumps over that lazy dog with plenty of words "
    * 5
).strip()  # 60 words, stopwords the/that/with/of, mean len ~4

GOPHER_DOCS = [
    (0, GOOD, None),
    (1, "the of short doc", "word count < 50"),
    (2, ("a " * 60).strip() + " the of", "mean word length < 3"),
    (3, GOOD + " " + "# " * 8, "symbol ratio > 0.1"),
    (4, "\n".join("- bullet line item here" for _ in range(10)), "all lines bullets"),
    (5, GOOD + "\n" + "\n".join("trailing thought..." for _ in range(9)), ">30% ellipsis lines"),
    (6, ("12345 " * 40 + "the of word " * 10).strip(), "<80% alphabetic words"),
    (7, ("quick brown fox jumps dog " * 12).strip() + " the", "only 1 stopword"),
    (8, GOOD + "\n" + "same line\nsame line\nsame line", "dup lines (signal only)"),
    (9, GOOD + "\nends with unicode ellipsis…", "unicode ellipsis counted"),
    (10, "", "empty text"),
    (11, None, "NULL text"),
]

C4_DOCS = [
    (0, "This is a sentence with enough words here.\nshort line.\nno terminal punct line with many words\nAnother full sentence keeps the page alive.\nA third sentence closes out the page nicely.", None),
    (1, 'He said "this line ends with a quote"\nThat one has five words.\nAnd another sentence lands here too.\nA fourth sentence for good measure arrives.', "quote-terminated line kept"),
    (2, "This page mentions JavaScript somewhere in a line.\nBut other sentences keep going strong here.\nAnd a third sentence is also present today.\nA fourth sentence makes it safe regardless.", "javascript line dropped, page kept"),
    (3, "Only two sentences appear on this page.\nHere is the second complete sentence now.", "fewer than 3 sentences"),
    (4, "A code page has a brace { in it.\nStill it has quite a few sentences inside.\nThree of them in fact are right here.", "curly brace page dropped"),
    (5, "This page contains Lorem Ipsum placeholder text sadly.\nIt also has full sentences everywhere else.\nThree sentences appear on this page total.", "lorem ipsum page dropped"),
    (6, "", "empty text"),
    (7, None, "NULL text"),
]


def _duck_rows(docs, sql_map):
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", [(i, t) for i, t, _ in docs])
    cols = ", ".join(f"{sql} AS {name}" for name, sql in sql_map.items())
    rows = con.sql(f"SELECT doc_id, {cols} FROM t ORDER BY doc_id").fetchall()
    con.close()
    return rows


def _spark_rows(spark, docs, col_map):
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in docs], "doc_id long, text string"
    )
    out = df.select("doc_id", *[c.alias(n) for n, c in col_map.items()])
    return [tuple(r) for r in out.orderBy("doc_id").collect()]


def test_gopher_rules_per_rule(spark):
    rules = text.gopher_rules("text")
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in GOPHER_DOCS], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", *[c.alias(n) for n, c in rules.items()]
        ).collect()
    }
    assert got[0]["gopher_ok"] is True
    for i, _, note in GOPHER_DOCS[1:8]:
        assert got[i]["gopher_ok"] is False, f"doc {i} should fail: {note}"
    # rule-specific counters
    assert got[1]["n_words"] < 50
    assert got[2]["mean_word_len_c2"] < 300
    assert got[3]["n_symbols"] == 8
    assert got[4]["n_bullet_lines"] == got[4]["n_lines"] == 10
    assert got[5]["n_ellipsis_lines"] == 9
    assert got[6]["n_alpha_words"] * 5 < got[6]["n_words"] * 4
    assert got[7]["n_stopwords"] == 1
    # dup-line repetition signal: 3 dup lines of 4 -> 2/4 duplicates
    assert got[8]["dup_line_frac_c6"] == (4 - 2) * 1_000_000 // 4
    assert got[9]["n_ellipsis_lines"] == 1  # the unicode '…' line
    # empty text: one empty word of length 0, no rules crash
    assert got[10]["n_words"] == 1 and got[10]["gopher_ok"] is False
    assert got[11]["n_words"] is None and got[11]["gopher_ok"] is None


def test_c4_filters_per_rule(spark):
    cols = text.c4_filters("text")
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in C4_DOCS], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", *[c.alias(n) for n, c in cols.items()]
        ).collect()
    }
    # doc 0: 5 lines -> "short line." (<5 words) and the unterminated
    # line drop; 3 sentences survive -> keep
    assert got[0]["n_lines"] == 5 and got[0]["n_lines_kept"] == 3
    assert got[0]["c4_keep"] is True
    assert "short line." not in got[0]["clean_text"]
    assert "no terminal punct" not in got[0]["clean_text"]
    # doc 1: quote-terminated line retained
    assert got[1]["n_lines_kept"] == 4
    assert got[1]["clean_text"].startswith('He said "this line ends with a quote"')
    assert got[1]["c4_keep"] is True
    # doc 2: the JavaScript LINE is dropped, the page survives
    assert got[2]["n_lines_kept"] == 3
    assert "JavaScript" not in got[2]["clean_text"]
    assert got[2]["c4_keep"] is True
    # doc 3: only 2 sentences -> page dropped
    assert got[3]["n_sentences"] == 2 and got[3]["c4_keep"] is False
    # docs 4/5: page-level blocklist gates
    assert got[4]["c4_keep"] is False, "curly brace"
    assert got[5]["c4_keep"] is False, "lorem ipsum"
    # empty / NULL
    assert got[6]["clean_text"] == "" and got[6]["c4_keep"] is False
    assert got[7]["clean_text"] is None and got[7]["c4_keep"] is None


@pytest.mark.parametrize(
    "docs,spark_map,duck_map",
    [
        (GOPHER_DOCS, "gopher", "gopher"),
        (C4_DOCS, "c4", "c4"),
    ],
    ids=["gopher", "c4"],
)
def test_cross_engine_parity_on_edge_fixtures(spark, docs, spark_map, duck_map):
    """Every cell of every fixture row must agree between the Spark
    columns and the DuckDB oracle SQL — this is the catalog compare,
    run on edge cases the synthetic corpus never produces."""
    if spark_map == "gopher":
        col_map, sql_map = text.gopher_rules("text"), text.duck_gopher_sql("text")
    else:
        col_map, sql_map = text.c4_filters("text"), text.duck_c4_sql("text")
    s_rows = _spark_rows(spark, docs, col_map)
    d_rows = _duck_rows(docs, sql_map)
    assert len(s_rows) == len(d_rows)
    names = ["doc_id", *col_map.keys()]
    for s, d in zip(s_rows, d_rows):
        for name, sv, dv in zip(names, s, d):
            assert sv == dv, f"doc {s[0]} col {name}: spark={sv!r} duck={dv!r}"


def test_cross_engine_parity_randomized_fuzz(spark):
    """200 seeded random documents over an adversarial alphabet —
    newlines, bullets, ASCII and unicode ellipses, '#', quotes, braces,
    digits, blocklist words in mixed case, empty and whitespace-heavy
    lines — must produce CELL-IDENTICAL Gopher and C4 outputs in both
    engines. One batched DataFrame/table keeps it fast (a per-example
    Spark job would take minutes); the seed makes failures replayable."""
    import random

    rng = random.Random(0xBA5E)
    words = [
        "the", "of", "and", "that", "have", "with", "be", "to",  # gopher stops
        "word", "data", "12345", "c++", "#", "...", "…", "x",
        "javascript", "JavaScript", "lorem", "ipsum", "Lorem Ipsum",
        "{", "}", '"quoted"', "", "  ",
    ]
    line_ends = [".", "!", "?", '"', "...", "…", "", " "]
    line_starts = ["", "- ", "* ", "• ", " -", ". "]

    def rand_line():
        n = rng.randrange(0, 9)
        body = " ".join(rng.choice(words) for _ in range(n))
        return rng.choice(line_starts) + body + rng.choice(line_ends)

    docs = []
    for i in range(200):
        n_lines = rng.randrange(0, 7)
        docs.append((i, "\n".join(rand_line() for _ in range(n_lines)), None))
    docs.append((200, None, None))
    docs.append((201, "", None))

    for col_map, sql_map in (
        (text.gopher_rules("text"), text.duck_gopher_sql("text")),
        (text.c4_filters("text"), text.duck_c4_sql("text")),
    ):
        s_rows = _spark_rows(spark, docs, col_map)
        d_rows = _duck_rows(docs, sql_map)
        names = ["doc_id", *col_map.keys()]
        for s, d in zip(s_rows, d_rows):
            for name, sv, dv in zip(names, s, d):
                assert sv == dv, f"doc {s[0]} col {name}: spark={sv!r} duck={dv!r}"


def test_gopher_repetition_hand_computed(spark):
    """A1.2 battery against hand-computed fixtures: the pinned
    definitions (module-section comment in datapipe/text.py), the 1.0
    cap on overlap-naive n-gram mass, and the threshold verdict."""
    from baker_spark.datapipe import text as T
    from pyspark.sql import functions as F

    docs = [
        (1, "a b a b a b c d"),          # 15 chars; top 2-gram "a b" x3
        (2, "x\ny\nx\nz"),               # 4 lines, 3 distinct; 7 chars
        (3, "one two three four five"),  # clean
        (4, "w w w w w w w w w w w w"),  # degenerate: every signal maxed
        (5, None),
        (6, ""),
        (7, "same\n\nsame\n\ndiff"),     # 3 paras, 2 distinct
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    cols = T.gopher_repetition("text")
    out = {
        r["doc_id"]: r
        for r in df.select("doc_id", *[v.alias(k) for k, v in cols.items()]).collect()
    }
    # doc 1: top 2-gram "a b" count 3, len 3 -> 9/15 = 600000; trips the
    # 0.20 threshold -> not ok
    assert out[1]["top_2gram_char_frac_c6"] == 600_000
    assert not out[1]["repetition_ok"]
    # doc 2: dup line frac (4-3)/4; char mass (count-1)*len("x")=1 over 7
    assert out[2]["dup_line_frac_c6"] == 250_000
    assert out[2]["dup_line_char_frac_c6"] == 142_857
    # doc 3: clean -> all zeros, ok
    assert out[3]["repetition_ok"]
    assert out[3]["top_2gram_char_frac_c6"] == 0
    assert out[3]["dup_5gram_char_frac_c6"] == 0
    # doc 4: overlap-naive mass far exceeds chars -> capped at 1.0
    assert out[4]["dup_5gram_char_frac_c6"] == 1_000_000
    assert out[4]["top_2gram_char_frac_c6"] == 1_000_000
    assert not out[4]["repetition_ok"]
    # NULL/empty: zeros, ok (nothing repeats in nothing)
    for i in (5, 6):
        assert out[i]["repetition_ok"]
        assert out[i]["dup_line_frac_c6"] == 0
    # doc 7: paragraphs split on blank lines -> (3-2)/3, char mass
    # (2-1)*len("same")=4 over 16 chars
    assert out[7]["dup_para_frac_c6"] == 333_333
    assert out[7]["dup_para_char_frac_c6"] == 250_000


def test_gopher_repetition_matches_duckdb_bit_for_bit(spark):
    """The SQL twin hash-matches on adversarial fixtures: ties between
    equal-count n-grams (lexicographically smallest must win in BOTH
    engines), multi-line + multi-paragraph structure, unicode."""
    import duckdb

    from baker_spark.datapipe import text as T

    docs = [
        (1, "b a b a c"),                      # tie: "a b" x1... counts tie
        (2, "z y z y x w x w"),                # two 2-grams tied at 2
        (3, "l1.\nl1.\n\nl2.\nl2.\n\nl1.\nl3."),
        (4, "héllo wörld héllo wörld héllo"),
        (5, "single"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    cols = T.gopher_repetition("text")
    sp = [
        tuple(r)
        for r in df.select("doc_id", *[v.alias(k) for k, v in cols.items()])
        .orderBy("doc_id")
        .collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE d(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", docs)
    dsql = T.duck_gopher_repetition_sql("text")
    dk = con.execute(
        "SELECT doc_id, "
        + ", ".join(f"{v} AS {k}" for k, v in dsql.items())
        + " FROM d ORDER BY doc_id"
    ).fetchall()
    assert sp == [tuple(r) for r in dk]


def test_quality_ok_scrubs_each_document_once(spark):
    """The corpus composition scrubbed -> select -> filter(quality_ok):
    predicate pushdown substitutes scrub's regexp_replace chain for each
    reference to clean_text, and FilterExec eliminates no common
    subexpressions, so the predicate must name its column once. Naming
    it per reference put the chain in the executed plan 16 times.
    The binding changes no value: NULL, '' and a short document keep
    the flags they had, and match the DuckDB oracle."""
    docs = [(0, GOOD, None), (1, "the of short doc", None), (2, "", None), (3, None, None)]
    df = spark.createDataFrame([(i, t) for i, t, _ in docs], "doc_id long, text string")
    cleaned = text.scrubbed(df, "text").select("doc_id", "clean_text")
    flagged = cleaned.filter(text.quality_flags("clean_text")["quality_ok"])
    plan = flagged._jdf.queryExecution().executedPlan().toString()
    assert 1 <= plan.count("regexp_replace(regexp_replace(regexp_replace") <= 2
    assert [r.doc_id for r in flagged.collect()] == [0]

    ok = {"quality_ok": text.quality_flags("text")["quality_ok"]}
    spark_ok = _spark_rows(spark, docs, ok)
    assert spark_ok == [(0, True), (1, False), (2, False), (3, None)]
    duck_ok = _duck_rows(docs, {"quality_ok": text.duck_quality_sql("text")["quality_ok"]})
    assert spark_ok == [(i, v) for i, v in duck_ok]


def test_sql_str_escapes_survive_the_parser(spark):
    """Regex patterns with backslashes/quotes come back byte-identical
    through ``sql_str``'s string literal — the property every expr-string
    builder leans on."""
    from baker_spark.functions import sql_str

    for s in [r"[A-Za-z0-9._%+-]+@x\.[A-Za-z]{2,}", r"(?= |\z)", "it's",
              "back\\slash", r"\d+\.\d+", "mixed '\\' quote"]:
        got = spark.sql(f"SELECT {sql_str(s)} AS v").collect()[0]["v"]
        assert got == s, f"{s!r} round-tripped as {got!r}"


def test_builders_accept_backtick_column_name(spark):
    """A column whose name holds a backtick goes through ``sql_ident``:
    langid, scrub, quality_flags, minhash_signature and simhash give the
    same values over ``te`xt`` as over ``text`` (unescaped, the name
    ended the identifier early and the expr failed to parse)."""
    from baker_spark.datapipe import dedup

    odd = "te`xt"
    rows = [(i, t) for i, t, _ in GOPHER_DOCS[:4]]
    rows.append((9, "mail a@b.com or see http://x.y 12345678"))
    plain = spark.createDataFrame(rows, "doc_id long, text string")
    quoted = plain.withColumnRenamed("text", odd)

    def cols(df, name):
        built = {"lang": text.langid(name), **text.scrub(name), **text.quality_flags(name)}
        out = df.select("doc_id", *[c.alias(k) for k, c in built.items()])
        return sorted(tuple(r) for r in out.collect())

    assert cols(quoted, odd) == cols(plain, "text")
    for build in (dedup.minhash_signature, dedup.simhash):
        got = sorted(tuple(r) for r in build(quoted, text_col=odd).collect())
        want = sorted(tuple(r) for r in build(plain, text_col="text").collect())
        assert got == want and len(got) > 0, build.__name__
