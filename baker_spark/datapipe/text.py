"""Text-analysis operators for LLM training-data pipelines.

All are pure Catalyst column expressions (JVM-side, codegen'd — no Python
in the hot path) and have exact DuckDB oracle equivalents built from the
same integer/md5 arithmetic (see baker_spark.functions.hashing).

These extend the reference's row-operator family (Hash, Dedup,
ExternalMatch — /root/reference/filter/) toward the document-pipeline
operations a 100 TB text corpus needs.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, functions as F

from baker_spark.functions import sql_ident, sql_str

#: tiny English stopword list shared by langid & quality scoring.
EN_STOPWORDS = ["the", "a", "of", "to", "and", "in", "is", "for", "on", "that"]


def words(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ", -1)


def word_shingles(col: Column | str, n: int = 3, split: bool = True) -> Column:
    """Word n-gram shingles as an array<string>; docs with < n words get
    an empty array. Mirrors the classic shingling step of MinHash dedup.
    ``split=False`` treats ``col`` as an already-split word array (project
    the words once, then shingle — avoids re-splitting in every
    reference)."""
    w = words(col) if split else (F.col(col) if isinstance(col, str) else col)
    count = F.size(w) - (n - 1)
    return F.when(
        count >= 1,
        F.transform(F.sequence(F.lit(1), count), lambda i: F.concat_ws(" ", F.slice(w, i, n))),
    ).otherwise(F.array().cast("array<string>"))


def duck_word_shingles(expr: str, n: int = 3) -> str:
    """DuckDB list comprehension computing identical shingles."""
    w = f"string_split({expr}, ' ')"
    return (
        f"[array_to_string(({w})[i:i+{n - 1}], ' ') "
        f"for i in range(1, len({w}) - {n - 2})]"
    )


def n_words(col: Column | str) -> Column:
    """Word count with NULL text -> NULL: under ansi=false (the engine's
    baker-fidelity setting) ``size(split(NULL))`` is the legacy -1,
    while every DuckDB oracle computes ``len(string_split(NULL, ' '))``
    = NULL — a silent cross-engine divergence on nullable text columns.
    ``nullif(size, -1)`` pins them together; -1 occurs ONLY for null
    input ('' splits to [''], size 1), so nothing else changes."""
    return F.nullif(F.size(words(col)), F.lit(-1))


def token_counts(col: Column | str) -> tuple[Column, Column]:
    """(whitespace token count, BPE-ish estimate ceil(chars/4)) — integer
    arithmetic only, so cross-engine deterministic."""
    c = F.col(col) if isinstance(col, str) else col
    n_ws = n_words(c)
    n_bpe = F.floor((F.length(c) + F.lit(3)) / F.lit(4)).cast("long")
    return n_ws, n_bpe


def quality_filter_by_median(
    df, lang_col: str = "lang", id_col: str = "doc_id", text_col: str = "text", exact: bool = True
):
    """Per-language quality gating: keep documents whose BPE-ish token
    count is at or above their language's median — the quantile-threshold
    filter every corpus pipeline applies before training.

    The per-language threshold table is tiny (one row per language), so
    it broadcasts and the corpus itself never shuffles — one scan for
    the thresholds, one broadcast-joined scan to filter. ``exact=True``
    uses the exact interpolated median (deterministic cross-engine: a
    lerp over integers — the oracle-parity baseline), but exact
    percentile buffers every group value in one aggregator, a
    scale-killer when one language carries billions of docs; at 100 TB
    pass ``exact=False`` for the bounded-memory t-digest sketch
    (``approx_percentile``)."""
    _, n_bpe = token_counts(text_col)
    scored = df.select(id_col, lang_col, n_bpe.alias("n_bpe"))
    med_fn = F.percentile if exact else (lambda c, p: F.approx_percentile(c, F.lit(p), F.lit(10000)))
    med = scored.groupBy(lang_col).agg(med_fn(F.col("n_bpe"), 0.5).alias("med"))
    return (
        scored.join(F.broadcast(med), lang_col)
        .filter(F.col("n_bpe").cast("double") >= F.col("med"))
        .select(id_col, lang_col, "n_bpe")
    )


def langid(col_name: str, stopwords: list[str] | None = None, threshold_pct: int = 5) -> Column:
    """Heuristic language ID: 'en' iff stopword ratio > threshold_pct %.
    Integer comparison (n_stop * 100 > n_words * pct) keeps it exact.

    The stopword count is a codegen'd regexp_count with zero-width
    lookarounds — exactly "token == stopword" over space-split tokens
    (matches can't overlap: stopwords contain no spaces and the
    boundaries aren't consumed). The previous size(filter(split(...)))
    form evaluated an interpreted lambda per word."""
    import re as _re

    sw = stopwords or EN_STOPWORDS
    # caller-supplied stopwords may carry regex metacharacters ("c++");
    # escape each alternative so they match literally instead of
    # throwing PatternSyntaxException at execution
    # \z, not $: Java's $ also matches BEFORE a final trailing line
    # terminator, so "... see the\n" would count a stopword the oracle's
    # space-split token equality (token = "the\n") does not — a
    # threshold-boundary doc would then langid differently per engine
    rx = "(?<=^| )(" + "|".join(_re.escape(s) for s in sw) + r")(?= |\z)"
    # long casts: same int32-wrap class as the other fixed-point sites
    # (a ~100 MB doc of stopwords would wrap n_stop * 100).
    # One expr string (round 13): identical expression, ~4 py4j calls.
    e = sql_ident(col_name)
    n_stop = f"cast(regexp_count({e}, {sql_str(rx)}) as bigint)"
    nw = f"cast(nullif(size(split({e}, ' ', -1)), -1) as bigint)"
    return F.expr(
        f"CASE WHEN {n_stop} * 100 > {nw} * {threshold_pct} "
        "THEN 'en' ELSE 'unk' END"
    )


def duck_langid(expr: str, stopwords: list[str] | None = None, threshold_pct: int = 5) -> str:
    sw = stopwords or EN_STOPWORDS
    # '' doubling: an apostrophe in a stopword ("l'") must not
    # terminate the SQL string literal
    arr = ", ".join("'" + s.replace("'", "''") + "'" for s in sw)
    w = f"string_split({expr}, ' ')"
    return (
        f"CASE WHEN len([x for x in {w} if x IN ({arr})]) * 100 > len({w}) * {threshold_pct} "
        f"THEN 'en' ELSE 'unk' END"
    )


def _bound_once(e: str, body) -> str:
    """``body(var)`` evaluated with ``e`` bound to a lambda variable, so
    ``e`` appears ONCE in the expression however often ``body`` names it.

    Why: a filter over an aliased column (``scrubbed(...).filter(ok)``)
    gets the alias's defining expression substituted for every
    reference by predicate pushdown, and FilterExec does no common-
    subexpression elimination. A predicate naming its column a dozen
    times over scrub's regexp_replace chain ran that chain a dozen
    times per row; bound through ``transform(array(e), doc -> ...)[0]``
    it runs once. NULL input binds NULL, so every result is unchanged."""
    return f"transform(array({e}), doc -> {body('doc')})[0]"


def quality_flags(col_name: str) -> dict[str, Column]:
    """Quality-score components: word count, punctuation density, mean
    word length (fixed-point), all integers -> deterministic.

    ``quality_ok`` reads its column through one lambda binding
    (``_bound_once``): it is the one meant for ``filter``, where no
    common-subexpression elimination runs, so a column that is an
    expensive alias (scrubbed text) is computed once per row instead of
    once per reference. The three score columns are plain expressions:
    projections do eliminate common subexpressions."""
    # long casts up front: size/length/regexp_count are INT, and the
    # fixed-point multiplies below wrap at 2^31 under ansi=false for
    # mega-documents (>~21M chars) while the DuckDB oracle's BIGINT
    # arithmetic stays exact. Expr strings (round 13): identical
    # expressions, a handful of py4j calls per build instead of ~50.
    def flags(e: str) -> dict[str, str]:
        nw = f"cast(nullif(size(split({e}, ' ', -1)), -1) as bigint)"
        n_punct = f"cast(regexp_count({e}, '[.!?,;:]') as bigint)"
        n_chars = f"cast(length({e}) as bigint)"
        mean = f"cast(floor(({n_chars} - ({nw} - 1)) * 100 / {nw}) as bigint)"
        ok = (
            f"({nw} >= 20 AND {n_punct} * 5 <= {nw} "
            f"AND {mean} BETWEEN 150 AND 1200)"
        )
        return {"n_words": nw, "n_punct": n_punct, "mean_word_len_c2": mean, "quality_ok": ok}

    e = sql_ident(col_name)
    exprs = flags(e)
    exprs["quality_ok"] = _bound_once(e, lambda v: flags(v)["quality_ok"])
    return {k: F.expr(v) for k, v in exprs.items()}


def duck_quality_sql(expr: str) -> dict[str, str]:
    w = f"string_split({expr}, ' ')"
    n_words = f"len({w})"
    n_punct = f"len(regexp_extract_all({expr}, '[.!?,;:]'))"
    mean = f"CAST(floor((length({expr}) - ({n_words} - 1)) * 100 / {n_words}) AS BIGINT)"
    return {
        "n_words": f"CAST({n_words} AS BIGINT)",
        "n_punct": f"CAST({n_punct} AS BIGINT)",
        "mean_word_len_c2": mean,
        "quality_ok": (
            f"({n_words} >= 20 AND {n_punct} * 5 <= {n_words} "
            f"AND {mean} BETWEEN 150 AND 1200)"
        ),
    }


#: the eight Gopher "stop words" (Rae et al. 2021, A1.1): a document
#: must contain at least two of these to pass the stop-word rule.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

#: bullet glyphs for the Gopher bullet-line rule. The paper says
#: "bullet point"; we pin the concrete set here so Spark and the
#: oracle can never disagree on what a bullet is.
GOPHER_BULLETS = ["•", "-", "*"]


def _lines(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, "\n", -1)


def gopher_rules(col_name: str) -> dict[str, Column]:
    """The Gopher quality rules (Rae et al. 2021, "Scaling Language
    Models", Appendix A1.1) — the published filter set FineWeb / Dolma /
    RedPajama re-implement — as pure integer Catalyst expressions:

    1. word count in [50, 100000]
    2. mean word length in [3, 10] chars (fixed-point c2: [300, 1000])
    3. symbol-to-word ratio ('#' or ellipsis) <= 0.1
    4. <= 90% of lines start with a bullet glyph
    5. <= 30% of lines end with an ellipsis
    6. >= 80% of words contain an alphabetic character
    7. >= 2 distinct Gopher stop words present

    plus the A1.2 repetition signal ``dup_line_frac_c6`` (fraction of
    lines that are duplicates of an earlier line, micro-fixed-point).
    Every ratio is cross-multiplied, never divided, so the booleans are
    integer-exact and hash-match the DuckDB oracle bit for bit. All
    expressions are narrow (no shuffle): the filter runs at scan
    parallelism on any corpus size."""
    w = words(col_name)
    nw = n_words(col_name).cast("long")
    n_chars = F.length(F.col(col_name)).cast("long")
    mean_c2 = F.floor((n_chars - (nw - 1)) * 100 / nw).cast("long")
    n_sym = (
        F.regexp_count(F.col(col_name), F.lit("#"))
        + F.regexp_count(F.col(col_name), F.lit(r"\.\.\."))
        + F.regexp_count(F.col(col_name), F.lit("…"))
    ).cast("long")
    ls = _lines(col_name)
    # every size() goes through nullif(-1): under the engine's legacy
    # sizeOfNull setting size(NULL array) is -1 where the DuckDB oracle's
    # len(NULL) is NULL — same pin as n_words, and -1 is unambiguous
    # (a real array/filter result size is always >= 0)
    sz = lambda c: F.nullif(F.size(c), F.lit(-1)).cast("long")  # noqa: E731
    n_lines = sz(ls)
    is_bullet = lambda l: reduce(  # noqa: E731
        lambda acc, b: acc | l.startswith(b), GOPHER_BULLETS, F.lit(False)
    )
    n_bullet = sz(F.filter(ls, is_bullet))
    n_ellipsis = sz(F.filter(ls, lambda l: l.endswith("...") | l.endswith("…")))
    n_alpha = sz(F.filter(w, lambda x: x.rlike("[A-Za-z]")))
    n_stop = sz(
        F.array_intersect(
            F.array_distinct(w), F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
        )
    )
    n_distinct_lines = sz(F.array_distinct(ls))
    dup_line_frac_c6 = repetition_ratio_c6(n_lines, n_distinct_lines)
    ok = (
        nw.between(50, 100000)
        & mean_c2.between(300, 1000)
        & (n_sym * 10 <= nw)
        & (n_bullet * 10 <= n_lines * 9)
        & (n_ellipsis * 10 <= n_lines * 3)
        & (n_alpha * 5 >= nw * 4)
        & (n_stop >= 2)
    )
    return {
        "n_words": nw,
        "mean_word_len_c2": mean_c2,
        "n_symbols": n_sym,
        "n_lines": n_lines,
        "n_bullet_lines": n_bullet,
        "n_ellipsis_lines": n_ellipsis,
        "n_alpha_words": n_alpha,
        "n_stopwords": n_stop,
        "dup_line_frac_c6": dup_line_frac_c6,
        "gopher_ok": ok,
    }


def duck_gopher_sql(expr: str) -> dict[str, str]:
    """DuckDB twin of :func:`gopher_rules` — identical integer arithmetic."""
    w = f"string_split({expr}, ' ')"
    nw = f"len({w})"
    mean = f"CAST(floor((length({expr}) - ({nw} - 1)) * 100 / {nw}) AS BIGINT)"
    n_sym = (
        f"(len(regexp_extract_all({expr}, '#'))"
        f" + len(regexp_extract_all({expr}, '\\.\\.\\.'))"
        f" + len(regexp_extract_all({expr}, '…')))"
    )
    ls = f"string_split({expr}, chr(10))"
    n_lines = f"len({ls})"
    bullet_pred = " OR ".join(f"starts_with(l, '{b}')" for b in GOPHER_BULLETS)
    n_bullet = f"len(list_filter({ls}, l -> {bullet_pred}))"
    n_ellipsis = f"len(list_filter({ls}, l -> ends_with(l, '...') OR ends_with(l, '…')))"
    n_alpha = f"len(list_filter({w}, x -> regexp_matches(x, '[A-Za-z]')))"
    stop_list = "[" + ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS) + "]"
    n_stop = f"len(list_intersect(list_distinct({w}), {stop_list}))"
    n_dl = f"len(list_distinct({ls}))"
    dup_frac = (
        f"CAST(CASE WHEN {n_lines} > 0 THEN floor(({n_lines} - {n_dl}) * 1000000 / {n_lines}) "
        f"ELSE 0 END AS BIGINT)"
    )
    return {
        "n_words": f"CAST({nw} AS BIGINT)",
        "mean_word_len_c2": mean,
        "n_symbols": f"CAST({n_sym} AS BIGINT)",
        "n_lines": f"CAST({n_lines} AS BIGINT)",
        "n_bullet_lines": f"CAST({n_bullet} AS BIGINT)",
        "n_ellipsis_lines": f"CAST({n_ellipsis} AS BIGINT)",
        "n_alpha_words": f"CAST({n_alpha} AS BIGINT)",
        "n_stopwords": f"CAST({n_stop} AS BIGINT)",
        "dup_line_frac_c6": dup_frac,
        "gopher_ok": (
            f"({nw} BETWEEN 50 AND 100000 AND {mean} BETWEEN 300 AND 1000"
            f" AND {n_sym} * 10 <= {nw}"
            f" AND {n_bullet} * 10 <= {n_lines} * 9"
            f" AND {n_ellipsis} * 10 <= {n_lines} * 3"
            f" AND {n_alpha} * 5 >= {nw} * 4"
            f" AND {n_stop} >= 2)"
        ),
    }


#: terminal punctuation for the C4 line rule (Raffel et al. 2020 §2.2):
#: a line is retained only if it ends in one of these.
C4_TERMINALS = [".", "!", "?", '"']


def c4_filters(col_name: str, min_line_words: int = 5) -> dict[str, Column]:
    """The C4 cleaning rules (Raffel et al. 2020, §2.2) as Catalyst
    expressions. Line level: keep only lines that end in terminal
    punctuation, have >= ``min_line_words`` words, and don't mention
    'javascript'. Document level: ``c4_keep`` is false for pages with
    fewer than 3 sentences after line filtering, pages containing '{'
    (code), or the string 'lorem ipsum' (placeholder boilerplate).

    APPROXIMATION (deliberate, oracle-mirrored): ``n_sentences`` is a
    raw count of ``[.!?]`` CHARACTERS in the cleaned text, not a
    sentence segmentation — an ellipsis-terminated line counts as 3 and
    abbreviations inflate the >= 3-sentence gate, making it LOOSER than
    the paper's sentence-based drop. Both engines compute the identical
    count (duck_c4_sql), so parity holds; a deployment wanting the
    stricter rule counts terminal-punct LINE ENDINGS instead — change
    this expression and duck_c4_sql together.

    ``clean_text`` is the page with dropped lines removed — the actual
    C4 output artifact. Narrow per-row array ops: the whole filter is
    one scan-stage projection at any corpus size; the dirty-word list
    (the paper's remaining rule) plugs in as RegexMatch/StringMatch
    upstream, which is where the reference handles blocklists."""
    ls = _lines(col_name)
    term = lambda l: reduce(  # noqa: E731
        lambda acc, t: acc | l.endswith(t), C4_TERMINALS, F.lit(False)
    )
    keep = lambda l: (  # noqa: E731
        term(l)
        & (F.size(F.split(l, " ", -1)) >= min_line_words)
        & ~F.contains(F.lower(l), F.lit("javascript"))
    )
    kept = F.filter(ls, keep)
    clean = F.array_join(kept, "\n")
    n_sentences = F.regexp_count(clean, F.lit(r"[.!?]")).cast("long")
    c4_keep = (
        (n_sentences >= 3)
        & ~F.contains(F.col(col_name), F.lit("{"))
        & ~F.contains(F.lower(F.col(col_name)), F.lit("lorem ipsum"))
    )
    sz = lambda c: F.nullif(F.size(c), F.lit(-1)).cast("long")  # noqa: E731
    return {
        "clean_text": clean,
        "n_lines": sz(ls),
        "n_lines_kept": sz(kept),
        "n_sentences": n_sentences,
        "c4_keep": c4_keep,
    }


def duck_c4_sql(expr: str, min_line_words: int = 5) -> dict[str, str]:
    """DuckDB twin of :func:`c4_filters`."""
    ls = f"string_split({expr}, chr(10))"
    term_pred = " OR ".join(f"ends_with(l, '{t}')" for t in C4_TERMINALS)
    keep_pred = (
        f"({term_pred}) AND len(string_split(l, ' ')) >= {min_line_words} "
        f"AND NOT contains(lower(l), 'javascript')"
    )
    kept = f"list_filter({ls}, l -> {keep_pred})"
    # DuckDB's array_to_string returns NULL for an EMPTY list where
    # Spark's array_join returns '' — pin them together, but only for
    # non-NULL text (NULL text stays NULL in both engines)
    clean = (
        f"CASE WHEN {expr} IS NULL THEN NULL "
        f"ELSE coalesce(array_to_string({kept}, chr(10)), '') END"
    )
    n_sent = f"len(regexp_extract_all({clean}, '[.!?]'))"
    return {
        "clean_text": clean,
        "n_lines": f"CAST(len({ls}) AS BIGINT)",
        "n_lines_kept": f"CAST(len({kept}) AS BIGINT)",
        "n_sentences": f"CAST({n_sent} AS BIGINT)",
        "c4_keep": (
            f"({n_sent} >= 3 AND NOT contains({expr}, '{{')"
            f" AND NOT contains(lower({expr}), 'lorem ipsum'))"
        ),
    }


def repetition_ratio_c6(total: Column, distinct: Column) -> Column:
    """Fixed-point (total - distinct) / total — THE repetition formula,
    shared by :func:`repetition_stats` and the staged ``dp_repetition``
    query so the two can't drift. Inputs must already be BIGINT: an INT
    ``total * 1000000`` wraps at 2^31 for docs with >~2147 duplicate
    shingles, inverting the removal signal for exactly the long spam
    docs it exists to flag (the oracle's len() is BIGINT and exact)."""
    return (
        F.when(total > 0, F.floor((total - distinct) * 1000000 / total))
        .otherwise(F.lit(0))
        .cast("long")
    )


def repetition_stats(col_name: str, n: int = 3) -> dict[str, Column]:
    """Within-document repetition: distinct vs total n-gram shingles.
    High repetition (boilerplate, generated spam) is a standard LLM
    training-data removal signal. Fixed-point ratio keeps it exact."""
    sh = word_shingles(col_name, n)
    total = F.size(sh).cast("long")
    distinct = F.size(F.array_distinct(sh)).cast("long")
    return {
        "n_shingles": total,
        "n_distinct": distinct,
        "rep_ratio_c6": repetition_ratio_c6(total, distinct),
    }


def duck_repetition_sql(expr: str, n: int = 3) -> dict[str, str]:
    sh = duck_word_shingles(expr, n)
    total = f"len({sh})"
    distinct = f"len(list_distinct({sh}))"
    return {
        "n_shingles": f"CAST({total} AS BIGINT)",
        "n_distinct": f"CAST({distinct} AS BIGINT)",
        "rep_ratio_c6": (
            f"CAST(CASE WHEN {total} > 0 THEN floor(({total} - {distinct}) * 1000000 / {total}) "
            f"ELSE 0 END AS BIGINT)"
        ),
    }


def chunks(col_name: str, size: int = 32, step: int = 24) -> Column:
    """Token-window chunking with overlap (size-step tokens) — the
    document->training-sample split. Returns array<string> of chunks;
    chunk i covers words [i*step+1, i*step+size]; NULL text chunks to
    NULL (posexplode emits nothing — no phantom samples; unguarded,
    size(NULL) = -1 under ansi=off and F.sequence(0, -1) counts DOWN,
    yielding TWO empty chunks per NULL row).

    Count is ceil((n-size)/step) + 1, clamped: the naive
    floor((n-1)/step) + 1 emits a final window FULLY CONTAINED in the
    previous one whenever the tail is shorter than the overlap
    (n=56, 32/24 -> third chunk = words 49-56, a strict suffix of
    25-56) — a duplicate training sample for every such doc."""
    w = words(col_name)
    n = F.size(w)
    n_chunks = F.greatest(F.ceil((n - F.lit(size)) / F.lit(step)), F.lit(0)) + 1
    return F.when(
        F.col(col_name).isNotNull(),
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.concat_ws(" ", F.slice(w, i * step + 1, size)),
        ),
    )


def duck_chunks(expr: str, size: int = 32, step: int = 24) -> str:
    w = f"string_split({expr}, ' ')"
    n_chunks = (
        f"greatest(CAST(ceil((len({w}) - {size}) / {step}) AS BIGINT), 0) + 1"
    )
    return (
        f"[array_to_string(({w})[(i * {step} + 1):(i * {step} + {size})], ' ') "
        f"for i in range(0, {n_chunks})]"
    )


#: scrub patterns, ordered — URLs first (they may contain '@' and digit
#: runs), then emails, then long digit runs (ids/phones). Each pattern is
#: valid and identically-greedy in both Java regex (Spark) and RE2-style
#: (DuckDB), which is what makes the oracle exact.
SCRUB_PATTERNS: list[tuple[str, str, str]] = [
    ("url", r"https?://[^ ]+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("longnum", r"[0-9]{7,}", "<NUM>"),
]


def scrub(col_name: str) -> dict[str, Column]:
    """PII/noise redaction for training corpora: replace URLs, emails and
    long digit runs with typed placeholder tokens, and count each kind
    (the counts feed quality filtering — a doc that is mostly URLs is
    boilerplate). Pure regexp_replace chain: JVM-side, no UDF."""
    # expr strings (round 13): the chained replace inlines identically
    # either way; this hands it to the JVM in 4 py4j calls instead of ~30
    out: dict[str, Column] = {}
    e = sql_ident(col_name)
    for name, pat, repl in SCRUB_PATTERNS:
        out[f"n_{name}"] = F.expr(f"cast(regexp_count({e}, {sql_str(pat)}) as bigint)")
        e = f"regexp_replace({e}, {sql_str(pat)}, {sql_str(repl)})"
    out["clean_text"] = F.expr(e)
    return out


def duck_scrub_sql(expr: str) -> dict[str, str]:
    out: dict[str, str] = {}
    e = expr
    for name, pat, repl in SCRUB_PATTERNS:
        out[f"n_{name}"] = f"CAST(len(regexp_extract_all({e}, '{pat}')) AS BIGINT)"
        e = f"regexp_replace({e}, '{pat}', '{repl}', 'g')"
    out["clean_text"] = e
    return out


def scrub_arrow(col_name: str) -> Column:
    """The same scrub as :func:`scrub`, executed by Arrow/RE2 instead of
    the JVM regex chain: pyarrow's replace_substring_regex /
    count_substring_regex are vectorized RE2 over zero-copy Arrow
    batches, while Spark's RegExpReplace drives java.util.regex per
    row. Measured at sf10 (175 MB text): ~4.7x per core (0.63s vs
    2.99s on identical 15-partition scans); end-to-end with fan_out to
    32 cores, 0.75s vs 1.44s — the gap narrows because the Arrow path
    carries ~0.4s of fixed Python-worker/transfer overhead, which is
    also why the JVM chain stays the default at small scale.
    RE2-vs-Java semantics for SCRUB_PATTERNS are not assumed — they
    are PROVEN corpus-wide by the dp_scrub oracle, which DuckDB
    (itself RE2) hash-matches against the JVM chain; dp_scrub_arrow
    pins this path against the identical oracle.

    Returns one struct column ``(n_url, n_email, n_longnum,
    clean_text)`` — a single Python round-trip computes all four
    outputs (four separate UDF columns would ship the text to the
    worker four times). Trade: an ArrowEvalPython stage instead of
    whole-stage codegen; worth it when text dominates (the 100 TB
    corpus case), not for short config-like strings."""
    import pandas as pd

    fields = ", ".join(f"n_{name} long" for name, _, _ in SCRUB_PATTERNS)

    def kernel(s):
        import pyarrow as pa
        import pyarrow.compute as pc

        # type pinned: an all-NULL batch otherwise infers a NullArray,
        # for which count_substring_regex has no kernel
        # (ArrowNotImplementedError kills the job) — the JVM engine
        # handles the same rows by returning NULL counts, and so must we
        arr = pa.Array.from_pandas(s, type=pa.string())
        out: dict[str, object] = {}
        for name, pat, repl in SCRUB_PATTERNS:
            out[f"n_{name}"] = pc.count_substring_regex(arr, pattern=pat).to_pandas()
            arr = pc.replace_substring_regex(arr, pattern=pat, replacement=repl)
        out["clean_text"] = arr.to_pandas()
        return pd.DataFrame(out)

    # annotations set explicitly: `from __future__ import annotations`
    # turns inline hints into strings pyspark can't resolve here
    kernel.__annotations__ = {"s": pd.Series, "return": pd.DataFrame}
    return F.pandas_udf(f"struct<{fields}, clean_text string>")(kernel)(F.col(col_name))


#: Measured crossover for the scrub engine pick: the Arrow/RE2 path
#: carries ~0.4s of fixed Python-worker/transfer overhead per stage but
#: runs ~4.7x faster per core on the regex work itself (PERFORMANCE.md
#: round 7). On this corpus shape the win shows at the sf10 decade
#: (~60 MB parquet / 175 MB text) and not below it — so the auto pick
#: switches on compressed input size, a driver-side metadata stat.
SCRUB_ARROW_MIN_INPUT_BYTES = 32 << 20


def _input_bytes(df, cap_files: int = 1000) -> int | None:
    """Sum of the DataFrame scan's input file sizes — driver-side
    FileStatus metadata only, no data read. Capped listing with linear
    extrapolation past ``cap_files`` (at 100 TB the point is only
    'bigger than the crossover', not an exact byte count). None when
    the plan has no file scan (in-memory test frames) or a filesystem
    refuses to answer — callers treat that as 'small'."""
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001
        return None
    if not files:
        return None
    sess = df.sparkSession
    jvm = sess._jvm
    hconf = sess._jsc.hadoopConfiguration()
    total = 0
    for f in files[:cap_files]:
        try:
            path = jvm.org.apache.hadoop.fs.Path(f)
            fs = path.getFileSystem(hconf)
            total += fs.getFileStatus(path).getLen()
        except Exception:  # noqa: BLE001
            return None
    if len(files) > cap_files:
        total = total * len(files) // cap_files
    return total


def scrub_engine(df, engine: str = "auto") -> str:
    """Resolve 'auto' to 'arrow' | 'jvm' by the measured crossover."""
    if engine == "auto":
        n = _input_bytes(df)
        engine = "arrow" if n is not None and n >= SCRUB_ARROW_MIN_INPUT_BYTES else "jvm"
    if engine not in ("arrow", "jvm"):
        raise ValueError(f"scrub engine {engine!r}: expected auto|arrow|jvm")
    return engine


def scrubbed(df, col_name: str = "text", engine: str = "auto"):
    """``df`` + the four scrub outputs (n_url, n_email, n_longnum,
    clean_text) as top-level columns, computed by whichever engine the
    crossover picks — identical results either way (both engines
    hash-match the same DuckDB oracle: dp_scrub / dp_scrub_arrow).
    This is the entry the corpus pipeline and examples call, so a 100 TB
    run gets the Arrow path without anyone remembering to ask."""
    engine = scrub_engine(df, engine)
    if engine == "arrow":
        out = df.withColumn("_scrub", scrub_arrow(col_name))
        return out.select(
            *[c for c in df.columns], "_scrub.*"
        )
    cols = scrub(col_name)
    return df.select(*[F.col(c) for c in df.columns], *[c.alias(n) for n, c in cols.items()])


def log2_floor(c: Column) -> Column:
    """Integer floor(log2(x)) for x >= 1 via binary digit count — exact
    in both engines (no float log), the trick that makes an information-
    content score cross-engine hash-comparable."""
    return (F.length(F.conv(c.cast("string"), 10, 2)) - 1).cast("long")


def duck_log2_floor(expr: str) -> str:
    return f"(length(format('{{:b}}', {expr})) - 1)"


def unigram_logprob(df, text_col: str = "text", id_col: str = "doc_id"):
    """Corpus-self unigram LM quality score (CCNet-style perplexity
    filtering, made integer-exact): per document, the summed information
    content floor(log2(corpus_frequency)) of its token occurrences and
    the fixed-point mean. Gibberish / OCR noise is rare-token-heavy ->
    low mean; boilerplate is stopword-heavy -> high mean. Both tails are
    standard removal candidates.

    Shape (the TF-IDF shape): explode tokens -> frequency groupBy
    (map-side combine; exchange carries (token, count)) -> shuffle join
    tokens⋈freqs on token -> per-doc re-aggregate. The frequency table
    is NOT broadcast by hint: vocabulary is unbounded at corpus scale,
    so the equi-join co-partitions both sides instead; AQE may still
    broadcast when it measures small. The explode is NOT persisted
    (round 14): a token-scale MEMORY_AND_DISK cache writes ~n× the
    input bytes to executor storage — recomputing the scan + split for
    the probe pass measured strictly cheaper and far more stable at
    the sf100 decade (see bigram_surprisal; guide §5). No floats
    anywhere: bit-length stands in for log2, so the score hash-matches
    the DuckDB oracle exactly."""
    from baker_spark.session import fan_out

    toks = fan_out(df, by=id_col).select(
        id_col, F.explode(words(text_col)).alias("_w")
    )
    cf = toks.groupBy("_w").agg(F.count("*").alias("_cf"))
    per_doc = (
        toks.join(cf, "_w")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(log2_floor(F.col("_cf"))).cast("long").alias("sum_log2_cf"),
        )
    )
    return per_doc.select(
        id_col,
        "n_tokens",
        "sum_log2_cf",
        F.floor(F.col("sum_log2_cf") * 100 / F.col("n_tokens"))
        .cast("long")
        .alias("mean_log2_cf_c2"),
    )


def duck_unigram_logprob(table: str = "documents", text_col: str = "text", id_col: str = "doc_id") -> str:
    lg = duck_log2_floor("cnt")
    return f"""
WITH tok AS (
  SELECT {id_col}, unnest(string_split({text_col}, ' ')) AS w FROM {table}
),
cf AS (SELECT w, count(*) AS cnt FROM tok GROUP BY w),
j AS (SELECT t.{id_col}, c.cnt FROM tok t JOIN cf c USING (w))
SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum({lg}) AS BIGINT) AS sum_log2_cf,
       CAST(floor(sum({lg}) * 100 / count(*)) AS BIGINT) AS mean_log2_cf_c2
FROM j GROUP BY {id_col}
"""


def bigram_surprisal(df, text_col: str = "text", id_col: str = "doc_id"):
    """Corpus-self BIGRAM LM quality score — the conditional-probability
    counterpart of :func:`unigram_logprob` (CCNet-style perplexity
    filtering one order up, made integer-exact). Per bigram occurrence
    (w1, w2), the surprisal of seeing w2 after w1 is

        floor(log2(c(w1 ·))) - floor(log2(c(w1 w2)))   >= 0

    where c(w1 ·) counts corpus bigrams starting with w1 and c(w1 w2)
    the exact bigram — an integer floor of log2(1 / P(w2|w1)) under the
    corpus MLE. Per document: bigram count, summed surprisal, and the
    fixed-point mean (c2). Gibberish/OCR noise has improbable
    transitions -> high mean; templated boilerplate -> near-zero.
    Unigram frequency can't see word ORDER: "the of and the of" scores
    as perfectly ordinary unigrams but as wildly surprising bigrams.

    Scale shape (round 14 — the shape that fixed the sf100 decade):
    one pass builds adjacent pairs INSIDE the token array (transform
    over a slice — no positional self-join, no second explode), a
    map-side-combined count aggregation folds the explode straight to
    the (w1, w2) type table, c(w1 ·) is DERIVED from that table
    (c1 = Σ_w2 c12 — a type-scale regroup, exact, one fewer corpus
    pass than counting it from the explode), and the probe side
    re-explodes and joins. The explode is intentionally NOT persisted:
    a token-scale MEMORY_AND_DISK cache writes ~n× the input bytes to
    executor storage and reads them back once per consumer — at sf100
    (275M bigram occurrences) the cached shape measured 136-193 s
    while recomputing the explode (a scan + split, cheap per row)
    measured 59-92 s with far lower variance (guide §5: cache only
    when recompute costs more than the memory pressure; a corpus-scale
    explode never qualifies at 100 TB). The bigram table is never
    broadcast by hint (vocabulary² is unbounded at corpus scale; AQE
    still broadcasts when it measures small); head-bigram skew ("of
    the") is probe-side skew against UNIQUE build keys, exactly the
    shape AQE skew-join splitting handles. No floats anywhere:
    bit-length log2 keeps the result hash-identical to the DuckDB
    oracle."""
    from baker_spark.session import fan_out

    pairs = F.expr(
        "transform(slice(_ws, 1, greatest(size(_ws) - 1, 0)), "
        "(x, i) -> struct(x AS w1, element_at(_ws, i + 2) AS w2))"
    )
    bg = (
        fan_out(df, by=id_col)
        .select(id_col, words(text_col).alias("_ws"))
        .select(id_col, F.explode(pairs).alias("_bg"))
        .select(id_col, F.col("_bg.w1").alias("_w1"), F.col("_bg.w2").alias("_w2"))
    )
    c12 = bg.groupBy("_w1", "_w2").agg(F.count("*").alias("_c12"))
    c1 = c12.groupBy("_w1").agg(F.sum("_c12").alias("_c1"))
    scored = bg.join(c12, ["_w1", "_w2"]).join(c1, ["_w1"])
    per_doc = scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.sum(log2_floor(F.col("_c1")) - log2_floor(F.col("_c12")))
        .cast("long")
        .alias("sum_surprisal"),
    )
    return per_doc.select(
        id_col,
        "n_bigrams",
        "sum_surprisal",
        F.floor(F.col("sum_surprisal") * 100 / F.col("n_bigrams"))
        .cast("long")
        .alias("mean_surprisal_c2"),
    )


def duck_bigram_surprisal(
    table: str = "documents", text_col: str = "text", id_col: str = "doc_id"
) -> str:
    s = f"({duck_log2_floor('c1')} - {duck_log2_floor('c12')})"
    return f"""
WITH t AS (
  SELECT {id_col}, string_split({text_col}, ' ') AS ws FROM {table}
),
pos AS (
  SELECT {id_col}, ws, unnest(generate_series(1, len(ws) - 1)) AS i
  FROM t WHERE len(ws) > 1
),
bg AS (SELECT {id_col}, ws[i] AS w1, ws[i + 1] AS w2 FROM pos),
c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
j AS (
  SELECT b.{id_col}, c1.c1, c12.c12
  FROM bg b JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
)
SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum({s}) AS BIGINT) AS sum_surprisal,
       CAST(floor(sum({s}) * 100 / count(*)) AS BIGINT) AS mean_surprisal_c2
FROM j GROUP BY {id_col}
"""


def kn_bigram_surprisal(
    df,
    target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    model_cap: int | None = None,
):
    """CCNet-style cross-slice perplexity filter (Wenzek et al. 2020):
    train a bigram LM on a TARGET slice of the corpus (the role
    Wikipedia plays for KenLM in CCNet), score EVERY document against
    it, with a Kneser-Ney-flavored smoothed probability so bigrams the
    target never saw get a principled continuation-based score instead
    of a blowup. This is the missing third member of the LM-quality
    family: unigram_logprob and bigram_surprisal are corpus-SELF MLE
    scores (every observed bigram has nonzero corpus count by
    construction), so neither can rank documents against a REFERENCE
    distribution — the actual CCNet pipeline shape.

    The pinned integer-exact analog of interpolated KN with absolute
    discount d = 3/4. Over target bigrams: c12 = count(w1 w2),
    c1 = count(w1 ·), T1(w1) = distinct continuations of w1,
    T2(w2) = distinct predecessors of w2, T = distinct bigram types.
    True KN: P(w2|w1) = (c12 - d)/c1 + d*(T1/c1)*(T2/T). Multiplying
    by 4*c1 and flooring the continuation term keeps every quantity a
    BIGINT (no c1*T product, so nothing near 64-bit overflow even at
    1e12-token targets):

        seen w1:   M = 4*c12 - 3 + (3*T1*T2) div T     (c12 > 0)
                   M = greatest((3*T1*T2) div T, 1)    (c12 = 0)
                   surp = log2_floor(4*c1) - log2_floor(M)   >= 0
        unseen w1: surp = log2_floor(2*(T+1)) - log2_floor(T2+1)

    High mean = far from the target distribution (the removal/bucketing
    signal CCNet thresholds into head/middle/tail); target-like text
    scores low. No floats anywhere — log2_floor is binary digit count,
    div is integral division — so the score hash-matches the DuckDB
    twin exactly in both engines.

    Scale shape (the bigram_surprisal class plus one join): the model
    pass explodes ONLY the target slice (the ``target`` predicate sits
    under the explode, so a pushable predicate prunes the model scan at
    the source) into the map-side-combined c12 count table; T1/T2/T and
    the c1 totals are all type-scale regroups OF c12 — no second corpus
    pass; the probe side re-explodes every document and left-joins the
    three count tables, then re-aggregates per document. Neither
    explode is persisted (round 14): a token-scale MEMORY_AND_DISK
    cache costs more than the recompute it saves at every measured
    decade (see bigram_surprisal; guide §5). Count tables are never
    broadcast by default (vocabulary**2 is unbounded); the type total T
    rides as a broadcast 1-row frame. Head-bigram skew is probe-side
    skew against unique build keys — the AQE skew-join shape. Shuffles
    carry (token, token, count), never documents.

    ``model_cap`` is the at-scale knob, and it is what CCNet itself
    does — the KenLM it scores with is PRUNED, not the raw corpus
    model: keep only the top ``model_cap`` bigram types by target
    count (ties broken on (w1, w2) so the model is deterministic);
    everything outside the kept model scores through the same backoff
    branches as genuinely-unseen text. The capped count tables are
    bounded, so they are explicitly broadcast and the probe side
    crosses ZERO further exchanges before the per-doc re-aggregate —
    measured at sf100 (5M docs, 275M bigram occurrences) the exact
    default paid three vocabulary-keyed sort-merge probes (171.1s,
    round 13 — since cut further by dropping the token-scale persist)
    while the capped model scores map-side (SCALING.md round-13
    addendum). Exact result when model_cap >= the true bigram type
    count."""
    from baker_spark.session import fan_out

    pairs = F.expr(
        "transform(slice(_ws, 1, greatest(size(_ws) - 1, 0)), "
        "(x, i) -> struct(x AS w1, element_at(_ws, i + 2) AS w2))"
    )
    bg = (
        fan_out(df, by=id_col)
        .select(id_col, target.alias("_tgt"), words(text_col).alias("_ws"))
        .select(id_col, "_tgt", F.explode(pairs).alias("_bg"))
        .select(id_col, "_tgt", F.col("_bg.w1").alias("_w1"), F.col("_bg.w2").alias("_w2"))
    )
    c12 = bg.filter("_tgt").groupBy("_w1", "_w2").agg(F.count("*").alias("_c12"))
    if model_cap is not None:
        # LM pruning (the CCNet/KenLM regime): keep the top model_cap
        # bigram types by count, deterministic tie-break — a
        # TakeOrderedAndProject, never a global window
        c12 = c12.orderBy(F.desc("_c12"), "_w1", "_w2").limit(int(model_cap))
    w1s = c12.groupBy("_w1").agg(
        F.sum("_c12").cast("long").alias("_c1"), F.count("*").alias("_t1")
    )
    t2s = c12.groupBy("_w2").agg(F.count("*").alias("_t2"))
    tt = c12.agg(F.count("*").alias("_T"))

    if model_cap is not None:
        # the pruned model is <= model_cap rows per table: broadcast
        # all three so the token-scale probe side crosses no exchange
        c12, w1s, t2s = F.broadcast(c12), F.broadcast(w1s), F.broadcast(t2s)
    scored = (
        bg.join(c12, ["_w1", "_w2"], "left")
        .join(w1s, ["_w1"], "left")
        .join(t2s, ["_w2"], "left")
        .crossJoin(F.broadcast(tt))
    )
    t2z = F.coalesce(F.col("_t2"), F.lit(0))
    cont = F.expr("(3 * _t1 * coalesce(_t2, 0)) div _T")
    m = F.when(F.col("_c12").isNotNull(), F.col("_c12") * 4 - 3 + cont).otherwise(
        F.greatest(cont, F.lit(1))
    )
    surp = F.when(
        F.col("_c1").isNotNull(), log2_floor(F.col("_c1") * 4) - log2_floor(m)
    ).otherwise(log2_floor((F.col("_T") + 1) * 2) - log2_floor(t2z + 1))
    per_doc = scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.sum(surp).cast("long").alias("sum_kn_surprisal"),
    )
    return per_doc.select(
        id_col,
        "n_bigrams",
        "sum_kn_surprisal",
        F.floor(F.col("sum_kn_surprisal") * 100 / F.col("n_bigrams"))
        .cast("long")
        .alias("mean_kn_surprisal_c2"),
    )


def duck_kn_bigram_surprisal(
    target_sql: str,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    model_cap: int | None = None,
) -> str:
    cont = "(3 * w1s.t1 * coalesce(t2s.t2, 0)) // tt.T"
    m = (
        f"CASE WHEN c12.c12 IS NOT NULL THEN 4 * c12.c12 - 3 + {cont} "
        f"ELSE greatest({cont}, 1) END"
    )
    surp = (
        f"CASE WHEN w1s.c1 IS NULL THEN "
        f"({duck_log2_floor('2 * (tt.T + 1)')}) - ({duck_log2_floor('coalesce(t2s.t2, 0) + 1')}) "
        f"ELSE ({duck_log2_floor('4 * w1s.c1')}) - ({duck_log2_floor(m)}) END"
    )
    return f"""
WITH t AS (
  SELECT {id_col}, ({target_sql}) AS tgt, string_split({text_col}, ' ') AS ws FROM {table}
),
pos AS (
  SELECT {id_col}, tgt, ws, unnest(generate_series(1, len(ws) - 1)) AS i
  FROM t WHERE len(ws) > 1
),
bg AS (SELECT {id_col}, tgt, ws[i] AS w1, ws[i + 1] AS w2 FROM pos),
c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg WHERE tgt GROUP BY w1, w2
        {f"ORDER BY c12 DESC, w1, w2 LIMIT {int(model_cap)}" if model_cap is not None else ""}),
w1s AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1, count(*) AS t1 FROM c12 GROUP BY w1),
t2s AS (SELECT w2, count(*) AS t2 FROM c12 GROUP BY w2),
tt AS (SELECT count(*) AS T FROM c12),
j AS (
  SELECT b.{id_col}, {surp} AS surp
  FROM bg b
  LEFT JOIN c12 USING (w1, w2)
  LEFT JOIN w1s USING (w1)
  LEFT JOIN t2s USING (w2)
  CROSS JOIN tt
)
SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(surp) AS BIGINT) AS sum_kn_surprisal,
       CAST(floor(sum(surp) * 100 / count(*)) AS BIGINT) AS mean_kn_surprisal_c2
FROM j GROUP BY {id_col}
"""


def dsir_weights(
    df,
    target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
):
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every document
    by how much its hashed-unigram distribution resembles a ``target``
    subset (a Column predicate over the doc row, e.g. lang = 'en')
    relative to the raw corpus. High score -> resample into training.

    Integer-exact analog of the paper's log-ratio: tokens hash into
    ``n_buckets`` features; each bucket scores
    floor(log2(n_target+1)) - floor(log2(n_raw+1)) (bit-length log2, no
    floats); a document's weight is the sum of its tokens' bucket scores
    plus a -per-token normalizer is deliberately omitted (ranking is
    shift-invariant given n_tokens, which is also emitted).

    Scale shape: one exploded token pass (persisted — it feeds both the
    distribution aggregate and the per-doc re-aggregate), a ``n_buckets``-row
    score table that always broadcasts, and map-side-combined groupBys.
    Nothing unbounded crosses an exchange except (token-bucket, count)
    partials."""
    from baker_spark.functions.hashing import md5_long
    from baker_spark.session import fan_out, managed_persist

    toks = managed_persist(
        fan_out(df, by=id_col)
        .select(
            id_col,
            target.cast("long").alias("_t"),
            F.explode(words(text_col)).alias("_w"),
        )
        .select(id_col, "_t", (md5_long("_w") % F.lit(n_buckets)).alias("_b"))
    )
    dist = toks.groupBy("_b").agg(
        F.count("*").alias("n_raw"), F.sum("_t").alias("n_target")
    )
    score = dist.select(
        "_b",
        (log2_floor(F.col("n_target") + 1) - log2_floor(F.col("n_raw") + 1)).alias("_s"),
    )
    return (
        toks.join(F.broadcast(score), "_b")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("_s").cast("long").alias("dsir_score"),
        )
    )


def duck_dsir_weights(
    target_sql: str,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
) -> str:
    from baker_spark.functions.hashing import duck_md5_long

    b = duck_md5_long("w")
    s = f"({duck_log2_floor('n_target + 1')} - {duck_log2_floor('n_raw + 1')})"
    return f"""
WITH tok AS (
  SELECT {id_col}, CAST(_tgt AS BIGINT) AS t, {b} % {n_buckets} AS b
  FROM (SELECT {id_col}, {target_sql} AS _tgt, unnest(string_split({text_col}, ' ')) AS w
        FROM {table})
),
dist AS (SELECT b, count(*) AS n_raw, CAST(sum(t) AS BIGINT) AS n_target FROM tok GROUP BY b),
score AS (SELECT b, {s} AS s FROM dist)
SELECT t.{id_col}, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(sc.s) AS BIGINT) AS dsir_score
FROM tok t JOIN score sc USING (b)
GROUP BY t.{id_col}
"""


def fingerprint(col_name: str) -> Column:
    """OpenRefine-style key-collision fingerprint: lowercase, strip
    non-alnum, sorted distinct words, md5. Catches reordered/near-identical
    docs that exact dedup misses."""
    # split on DELIMITER RUNS instead of regexp_replace-then-split:
    # token semantics are identical (maximal [a-z0-9] runs; empties
    # filtered), but Spark's StringSplit costs ~1/15th of RegExpReplace
    # (measured 23.5s -> 2.3s over sf10's 500k docs — RegExpReplace
    # rebuilds the string through a Matcher per row; split is one pass)
    return F.expr(
        f"md5(array_join(array_sort(array_distinct(filter("
        f"split(lower({sql_ident(col_name)}), '[^a-z0-9]+', -1), x -> x != ''))), ' '))"
    )


def duck_fingerprint(expr: str) -> str:
    cleaned = f"regexp_replace(lower({expr}), '[^a-z0-9 ]', ' ', 'g')"
    toks = f"[x for x in string_split({cleaned}, ' ') if x <> '']"
    return f"md5(array_to_string(list_sort(list_distinct({toks})), ' '))"


# ---------------------------------------------- Gopher A1.2 repetition ----
#
# The FULL repetition-removal battery (Rae et al. 2021, Appendix A1.2,
# Table A1 — the filter set FineWeb/Dolma/RedPajama re-implement):
# duplicate line / paragraph fractions by count and by character mass,
# top n-gram character fraction for n=2..4, duplicate n-gram character
# fraction for n=5..10. Definitions pinned here (implementations in the
# wild differ; ours is mirrored EXACTLY in SQL so the oracle
# hash-matches):
#
# - unit (line/paragraph) dup fraction: (n_units - n_distinct)/n_units.
# - unit dup CHAR fraction: chars in repeated occurrences beyond the
#   first of each distinct unit, over total doc chars — sum over units
#   with count >= 2 of (count-1)*len(unit).
# - top n-gram char fraction: count(g*) * len(g*) / doc chars, g* = the
#   most frequent word n-gram (ties -> lexicographically smallest), the
#   overlap-naive mass the published batteries use; 0 when even the top
#   gram occurs once (a gram seen once is not repetition — otherwise
#   every short document fails the 2-gram gate tautologically).
# - dup n-gram char fraction: sum over n-grams with count >= 2 of
#   count*len over doc chars (ALL occurrences — a repeated n-gram's
#   every occurrence is repetition mass).
# - both n-gram fractions are CAPPED at 1.0 (overlap-naive mass can
#   exceed doc length on wildly repetitive text; the thresholds sit at
#   0.10-0.20 so the cap never changes a filter decision).
#
# Every signal is a pure per-row Column expression: one array_sort +
# one linear aggregate() run-length scan per n — no shuffle, no UDF;
# the whole battery runs at scan parallelism at any corpus size.

#: (signal key, threshold in c6 micro-units, n) — Table A1. A doc fails
#: the battery when ANY signal exceeds its threshold.
GOPHER_REPETITION_THRESHOLDS = [
    ("dup_line_frac_c6", 300_000),
    ("dup_para_frac_c6", 300_000),
    ("dup_line_char_frac_c6", 200_000),
    ("dup_para_char_frac_c6", 200_000),
    ("top_2gram_char_frac_c6", 200_000),
    ("top_3gram_char_frac_c6", 180_000),
    ("top_4gram_char_frac_c6", 160_000),
    ("dup_5gram_char_frac_c6", 150_000),
    ("dup_6gram_char_frac_c6", 140_000),
    ("dup_7gram_char_frac_c6", 130_000),
    ("dup_8gram_char_frac_c6", 120_000),
    ("dup_9gram_char_frac_c6", 110_000),
    ("dup_10gram_char_frac_c6", 100_000),
]


def _run_length_stats(arr: Column) -> Column:
    """One linear scan over a SORTED string array -> struct(top_cnt,
    top_g, dup_mass): the most frequent element's count (ties -> the
    lexicographically smallest, which in a sorted array is simply the
    FIRST max run), and the summed count*len over elements occurring
    >= 2 times. aggregate() with a tiny struct state — no explode, no
    shuffle."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("bc"),
        F.lit("").alias("bg"),
        F.lit(0).cast("long").alias("dm"),
    )

    def _flush_bc(acc):
        return F.when(acc.prev.isNotNull() & (acc.run > acc.bc), acc.run).otherwise(acc.bc)

    def _flush_bg(acc):
        return F.when(acc.prev.isNotNull() & (acc.run > acc.bc), acc.prev).otherwise(acc.bg)

    def _flush_dm(acc):
        return F.when(
            acc.prev.isNotNull() & (acc.run >= 2),
            acc.dm + acc.run * F.length(acc.prev),
        ).otherwise(acc.dm)

    def merge(acc, x):
        boundary = ~x.eqNullSafe(acc.prev)
        return F.struct(
            x.alias("prev"),
            F.when(boundary, F.lit(1).cast("long")).otherwise(acc.run + 1).alias("run"),
            F.when(boundary, _flush_bc(acc)).otherwise(acc.bc).alias("bc"),
            F.when(boundary, _flush_bg(acc)).otherwise(acc.bg).alias("bg"),
            F.when(boundary, _flush_dm(acc)).otherwise(acc.dm).alias("dm"),
        )

    def finish(acc):
        return F.struct(
            _flush_bc(acc).alias("top_cnt"),
            _flush_bg(acc).alias("top_g"),
            _flush_dm(acc).alias("dup_mass"),
        )

    return F.aggregate(arr, init, merge, finish)


def _frac_c6(mass: Column, chars: Column) -> Column:
    # capped at 1.0: the n-gram masses are overlap-naive (an occurrence's
    # chars count fully even when occurrences share words), so a wildly
    # repetitive doc can push raw mass past the doc length — the battery
    # thresholds sit at 0.10-0.20, far under the cap, so the filter
    # decision is unchanged and the metric stays a fraction
    return F.coalesce(
        F.when(
            chars > 0,
            F.least(F.floor(mass * 1_000_000 / chars), F.lit(1_000_000)),
        ).otherwise(F.lit(0)),
        F.lit(0),
    ).cast("long")


def _unit_dup_fracs(units: Column, chars: Column) -> tuple[Column, Column]:
    """(dup count fraction, dup char fraction) for a line/paragraph
    array — the char mass counts occurrences beyond the first of each
    distinct unit, so both numerators derive from the same histogram."""
    sz = F.nullif(F.size(units), F.lit(-1)).cast("long")
    n_distinct = F.nullif(F.size(F.array_distinct(units)), F.lit(-1)).cast("long")
    frac = repetition_ratio_c6(sz, n_distinct)
    # (count-1)*len per distinct unit == total run mass minus one
    # occurrence each: from the run-length scan, dup_mass counts ALL
    # occurrences of repeated units, so subtract one len per repeated
    # distinct unit — a second tiny scan is avoided by computing
    # directly: sum over sorted runs of (run-1)*len(unit)
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("dm"),
    )

    def _flush(acc):
        return F.when(
            acc.prev.isNotNull() & (acc.run >= 2),
            acc.dm + (acc.run - 1) * F.length(acc.prev),
        ).otherwise(acc.dm)

    def merge(acc, x):
        boundary = ~x.eqNullSafe(acc.prev)
        return F.struct(
            x.alias("prev"),
            F.when(boundary, F.lit(1).cast("long")).otherwise(acc.run + 1).alias("run"),
            F.when(boundary, _flush(acc)).otherwise(acc.dm).alias("dm"),
        )

    char_mass = F.aggregate(F.array_sort(units), init, merge, _flush)
    return frac, _frac_c6(char_mass, chars)


def gopher_repetition(col_name: str, words_col: str | None = None) -> dict[str, Column]:
    """The thirteen A1.2 repetition signals + ``repetition_ok`` (true
    iff every signal is at or under its Table-A1 threshold), all micro
    fixed-point longs — see the module-section comment for the pinned
    definitions and :data:`GOPHER_REPETITION_THRESHOLDS` for the
    battery. Complements :func:`gopher_rules` (A1.1), whose
    dup_line_frac_c6 this supersedes with the full set.

    ``words_col``: name of a PRE-MATERIALIZED ``split(text, ' ')``
    column. Without it the split expression is inlined into all nine
    shingle signals and Catalyst re-evaluates it per signal — measured
    4.5x slower at sf0.1 (37.1s vs 8.2s with a persisted words column).
    Callers looping over a corpus should project (text, words) through
    a materialization boundary first, as dp_gopher_repetition does."""
    chars = F.length(F.col(col_name)).cast("long")
    w = F.col(words_col) if words_col else words(col_name)
    lines = _lines(col_name)
    paras = F.split(F.col(col_name), "\n\n", -1)

    out: dict[str, Column] = {}
    out["dup_line_frac_c6"], out["dup_line_char_frac_c6"] = _unit_dup_fracs(lines, chars)
    out["dup_para_frac_c6"], out["dup_para_char_frac_c6"] = _unit_dup_fracs(paras, chars)
    for n in (2, 3, 4):
        st = _run_length_stats(F.array_sort(word_shingles(w, n, split=False)))
        out[f"top_{n}gram_char_frac_c6"] = _frac_c6(
            F.when(st["top_cnt"] >= 2, st["top_cnt"] * F.length(st["top_g"]))
            .otherwise(F.lit(0)),
            chars,
        )
    for n in range(5, 11):
        st = _run_length_stats(F.array_sort(word_shingles(w, n, split=False)))
        out[f"dup_{n}gram_char_frac_c6"] = _frac_c6(st["dup_mass"], chars)
    out["repetition_ok"] = reduce(
        lambda acc, kt: acc & (out[kt[0]] <= kt[1]),
        GOPHER_REPETITION_THRESHOLDS,
        F.lit(True),
    )
    return out


def _duck_grams(w: str, n: int) -> str:
    # w[i:i+n-1] is DuckDB's 1-based INCLUSIVE slice of n elements
    return (
        f"CASE WHEN len({w}) >= {n} THEN "
        f"list_transform(range(1, len({w}) - {n} + 2), "
        f"i -> array_to_string({w}[i:i+{n - 1}], ' ')) "
        f"ELSE [] END"
    )


def _duck_hist_ents(lst: str) -> str:
    return f"map_entries(list_aggregate({lst}, 'histogram'))"


def _duck_frac(mass: str, chars: str) -> str:
    return (
        f"CAST(CASE WHEN {chars} > 0 THEN least(floor(({mass}) * 1000000 / {chars}), 1000000) "
        f"ELSE 0 END AS BIGINT)"
    )


def duck_gopher_repetition_sql(expr: str) -> dict[str, str]:
    """DuckDB twin of :func:`gopher_repetition` — identical definitions
    via list histograms (map_entries + list_sum), so every c6 value
    hash-matches the Spark run-length scan."""
    chars = f"length({expr})"
    w = f"string_split({expr}, ' ')"
    out: dict[str, str] = {}
    for key, unit_list in (
        ("line", f"string_split({expr}, chr(10))"),
        ("para", f"string_split({expr}, chr(10) || chr(10))"),
    ):
        n_u = f"len({unit_list})"
        n_d = f"len(list_distinct({unit_list}))"
        out[f"dup_{key}_frac_c6"] = (
            f"CAST(CASE WHEN {n_u} > 0 THEN floor(({n_u} - {n_d}) * 1000000 / {n_u}) "
            f"ELSE 0 END AS BIGINT)"
        )
        dup_chars = (
            f"list_sum(list_transform({_duck_hist_ents(unit_list)}, "
            f"e -> CASE WHEN e.value >= 2 THEN (CAST(e.value AS BIGINT) - 1) * length(e.key) "
            f"ELSE 0 END))"
        )
        out[f"dup_{key}_char_frac_c6"] = _duck_frac(f"coalesce({dup_chars}, 0)", chars)
    for n in (2, 3, 4):
        ents = _duck_hist_ents(_duck_grams(w, n))
        top = (
            f"coalesce(list_sort(list_transform({ents}, "
            f"e -> {{c: -CAST(e.value AS BIGINT), g: e.key}}))[1], {{c: 0, g: ''}})"
        )
        out[f"top_{n}gram_char_frac_c6"] = _duck_frac(
            f"CASE WHEN -({top}.c) >= 2 THEN -({top}.c) * length(({top}).g) ELSE 0 END",
            chars,
        )
    for n in range(5, 11):
        ents = _duck_hist_ents(_duck_grams(w, n))
        dup = (
            f"coalesce(list_sum(list_transform({ents}, "
            f"e -> CASE WHEN e.value >= 2 THEN CAST(e.value AS BIGINT) * length(e.key) "
            f"ELSE 0 END)), 0)"
        )
        out[f"dup_{n}gram_char_frac_c6"] = _duck_frac(dup, chars)
    out["repetition_ok"] = (
        "("
        + " AND ".join(f"{out[k]} <= {t}" for k, t in GOPHER_REPETITION_THRESHOLDS)
        + ")"
    )
    return out


# ------------------------------------------------------ URL canonicalize ----

#: query parameters stripped by url_normalize: the tracking keys every
#: web-corpus pipeline drops before URL-level dedup (utm_* campaign
#: tags, Google/Facebook click ids). RE2-safe pattern (no lookaround —
#: the DuckDB twin runs RE2 while Spark runs java.util.regex).
URL_TRACKING_PARAM_RX = r"^(utm_[^=]*|fbclid|gclid)(=.*)?$"


def url_normalize(col: Column | str) -> Column:
    """Canonical URL for URL-level dedup (the tier web corpora apply
    BEFORE content dedup — Common-Crawl-style pipelines key their seen
    lists on this). Pinned rules, mirrored exactly in
    :func:`duck_url_normalize`:

    1. fragment stripped (``#...``);
    2. scheme and authority lowercased (path/query case preserved —
       paths are case-sensitive per RFC 3986);
    3. default ports dropped (``http://...:80``, ``https://...:443``);
    4. tracking params removed (:data:`URL_TRACKING_PARAM_RX`), the
       rest SORTED (byte order) — canonical param order;
    5. single trailing slash dropped from non-root paths; an empty
       path becomes ``/``;
    6. NULL passes through NULL; a string with no ``scheme://`` is
       returned with rules 1/4/5 applied to its path-like tail and no
       authority casefold (best effort, never an error — baker's
       error->null column discipline doesn't fit a normalizer whose
       output keys a dedup ledger).
    """
    u = F.col(col) if isinstance(col, str) else col
    u1 = F.regexp_replace(u, "#.*", "")
    prefix = F.regexp_extract(u1, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)", 1)
    rest = F.substring(u1, F.length(prefix) + 1, F.lit(2_000_000_000))
    p = F.lower(prefix)
    p = F.regexp_replace(p, r"^(http://[^/?]*):80$", "$1")
    p = F.regexp_replace(p, r"^(https://[^/?]*):443$", "$1")
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    qs = F.when(
        F.length(rest) > F.length(path),
        F.substring(rest, F.length(path) + 2, F.lit(2_000_000_000)),
    ).otherwise(F.lit(""))
    path = F.when(
        (path == "") & (p != ""), F.lit("/")
    ).otherwise(F.regexp_replace(path, r"^(.+?)/$", "$1"))
    params = F.array_sort(
        F.filter(
            F.split(qs, "&", -1),
            lambda x: (x != "") & ~x.rlike(URL_TRACKING_PARAM_RX),
        )
    )
    q2 = F.array_join(params, "&")
    return F.concat(p, path, F.when(q2 == "", F.lit("")).otherwise(F.concat(F.lit("?"), q2)))


def duck_url_normalize(expr: str) -> str:
    """DuckDB twin of :func:`url_normalize` — same regexes (RE2-safe),
    same pinned rules, byte-identical output."""
    u1 = f"regexp_replace({expr}, '#.*', '')"
    prefix = f"regexp_extract({u1}, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)', 1)"
    rest = f"substr({u1}, length({prefix}) + 1)"
    p = f"lower({prefix})"
    p = f"regexp_replace({p}, '^(http://[^/?]*):80$', '\\1')"
    p = f"regexp_replace({p}, '^(https://[^/?]*):443$', '\\1')"
    path = f"regexp_extract({rest}, '^([^?]*)', 1)"
    qs = (
        f"CASE WHEN length({rest}) > length({path}) "
        f"THEN substr({rest}, length({path}) + 2) ELSE '' END"
    )
    path = (
        f"CASE WHEN {path} = '' AND {p} <> '' THEN '/' "
        f"ELSE regexp_replace({path}, '^(.+?)/$', '\\1') END"
    )
    params = (
        f"list_sort(list_filter(string_split({qs}, '&'), "
        f"x -> x <> '' AND NOT regexp_matches(x, '{URL_TRACKING_PARAM_RX}')))"
    )
    # coalesce: DuckDB's array_to_string of an EMPTY list is NULL (the
    # same engine quirk duck_exact_substring_dedup pins) and would null
    # out the whole concatenation for any query-free URL
    q2 = f"coalesce(array_to_string({params}, '&'), '')"
    return (
        f"({p} || {path} || CASE WHEN {q2} = '' THEN '' ELSE '?' || {q2} END)"
    )
