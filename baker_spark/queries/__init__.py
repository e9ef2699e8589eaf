"""Query catalog — every operator from SURVEY.md §2 exercised over the
driver's synthetic tables, each with an ANSI-SQL DuckDB oracle.

Modules contribute ``QUERIES: dict[name, fn(spark, sf_dir) -> DataFrame]``
and ``ORACLES: dict[name, sql]``; this package aggregates them for
``__spark_entry__``.

The driver's correctness gate checks the FIRST 50 queries in catalog
order, so ``GATE_ORDER`` pins which 50 get a hard driver oracle row.
Which rows sit in that window, and when they rotate, follows
COVERAGE.md §gate-rotation. Rotation changes which rows get a DRIVER
receipt, never which queries are checked: every query is swept
value-exact at four SFs by tests/test_oracle_parity.py.
"""

from __future__ import annotations

from baker_spark.queries import (
    analytics,
    baker_ops,
    datapipe_queries,
    extended,
    streaming_queries,
)

# the driver's 50-query correctness window, in order; which rows are
# in it and why is COVERAGE.md §gate-rotation.
GATE_ORDER = [
    # flagship + headline bench rows
    "q1_pricing_summary",
    "dp_ann_search",
    "dp_bigram_surprisal",
    "q5_local_supplier_volume",
    "q_cube_rollup",
    "dp_dedup_exact",
    "dp_minhash_lsh_pairs",
    "dp_simhash_pairs",
    "dp_ann_topk",
    "dp_corpus_pipeline",
    # ANN trainer/encoder family
    "dp_kmeans_train",
    "dp_pq_codes",
    "dp_pq_adc_topk",
    "dp_ivfpq_topk",
    # recent additions inside their freshness horizon
    "dp_phash_band_saturation",
    "dp_audio_band_saturation",
    "dp_gopher_repetition",
    "dp_exact_substring_dedup",
    "dp_token_frequency",
    "dp_url_dedup",
    "dp_kn_perplexity",
    # §2.2 filters with reference-quirk semantics
    "op_clausefilter",
    "op_crypt",
    "op_dedup",
    "op_expandjson",
    "op_externalmatch",
    "op_formattime",          # Go layout table
    "op_metadata",            # graceful missing-metadata
    "op_timestamprange",      # ParseInt strictness
    "op_urlparam",            # URL-decoded values
    # the plain §2.2 set
    "op_concatenate",
    "op_countandtag",
    "op_expandlist",
    "op_hash",
    "op_notnull",
    "op_regexmatch",
    "op_replacefields",
    "op_setstringfromurl",
    "op_slice",
    "op_stringmatch",
    "op_timestamp",
    "q_stats_timestamps",
    # benched analytics rows (fresh receipts ride the bench)
    "q3_shipping_priority",
    "q_topk_per_group",
    "q_session_windows",
    # flagship scale paths (pinned in-gate by tests/test_gate_window.py:
    # iterative propagation and the stateful streaming machinery have no
    # true in-window sibling)
    "dp_dedup_clusters",
    # streaming surface (ordered micro-batch replay)
    "dp_streaming_dedup",
    "dp_streaming_running_counter",
    "dp_streaming_sessions",
    "dp_streaming_ingest_ledger",
]


def _merged() -> dict:
    out = {}
    for mod in (baker_ops, analytics, datapipe_queries, extended, streaming_queries):
        overlap = set(out) & set(mod.QUERIES)
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        out.update(mod.QUERIES)
    return out


def all_queries() -> dict:
    merged = _merged()
    missing = [n for n in GATE_ORDER if n not in merged]
    if missing:
        raise ValueError(f"GATE_ORDER names not registered: {missing}")
    out = {n: merged[n] for n in GATE_ORDER}
    out.update({n: fn for n, fn in merged.items() if n not in out})
    return out


def all_oracles() -> dict:
    merged = {}
    for mod in (baker_ops, analytics, datapipe_queries, extended, streaming_queries):
        merged.update(mod.ORACLES)
    return {n: merged[n] for n in all_queries() if n in merged}
