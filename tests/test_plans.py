"""Physical-plan regression tests — the 100 TB guarantees are plan
properties, not timings, so they are asserted directly:

- predicate pushdown + column pruning reach the parquet scans
- dimension joins broadcast (a sort-merge join on region/nation/customer
  would shuffle the fact table at scale)
- operator chains stay inside whole-stage codegen (no Python in the path)

These mirror the manual `.explain("formatted")` audit; a change that
silently plants a shuffle or un-prunes a scan fails here, long before a
benchmark would notice at local scale.
"""

import contextlib
import io

import pytest

import bench
from baker_spark.queries import all_queries
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def plans(spark):
    q = all_queries()

    def plan(name):
        df = bench.baker_chain(spark, SF_DIR) if name == "baker_filter_chain" else q[name](spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    return plan


def test_q1_pushdown_and_pruning(plans):
    p = plans("q1_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in p  # date filter reached the scan
    assert "l_comment" not in p  # unused wide column pruned from ReadSchema
    # (codegen ids are absent from pre-execution AQE plans; codegen
    # coverage is implied by the operators being pure Column expressions)


def test_join_queries_broadcast_not_shuffle(plans):
    for name in ("q3_shipping_priority", "q5_local_supplier_volume"):
        p = plans(name)
        assert "BroadcastHashJoin" in p, name
        assert "SortMergeJoin" not in p, name  # dims must never shuffle the fact side
        assert "CartesianProduct" not in p, name


def test_q3_scan_pruned_to_join_columns(plans):
    p = plans("q3_shipping_priority")
    # lineitem: 16 columns, the query needs 4
    assert "ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double,l_shipdate" in p


def test_filter_chain_pushdown(plans):
    p = plans("baker_filter_chain")
    assert "IsNotNull(l_orderkey)" in p  # NotNull op pushed through the string cast
    assert "SortMergeJoin" not in p and "Exchange" in p  # only the fan_out repartition


def test_lsh_join_is_hash_not_cartesian(plans):
    p = plans("dp_minhash_lsh_pairs")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p  # band-key equi-join, not a theta join


def test_capped_emitters_group_enumerate_shape(plans):
    """The capped (default) pair emitters must keep the group-and-
    enumerate plan: hot buckets truncate MAP-SIDE via WindowGroupLimit
    (a mega-bucket ships <= cap+1 rows per map partition), and there is
    no self-join and no broadcast build job (whose build side serialized
    the whole signature pipeline — the measured round-8 cap premium)."""
    for name in ("dp_minhash_lsh_pairs", "dp_simhash_pairs"):
        p = plans(name)
        assert "WindowGroupLimit" in p, name  # rn <= cap+1 pushed below the exchange
        assert "Join" not in p, name  # no band self-join, no broadcast anti-join
    # the exhaustive audit twins keep the streamed self-join: enumerating
    # an unbounded bucket into one in-memory array is the OOM the join avoids
    for name in ("dp_minhash_exhaustive", "dp_simhash_exhaustive"):
        p = plans(name)
        assert "Join" in p, name
        assert "WindowGroupLimit" not in p, name


def test_ann_scan_prunes_to_vec_columns(plans):
    p = plans("dp_ann_topk")
    assert "EqualTo(vec_id,0)" in p  # query-row lookup pushed to the scan


def test_kmv_is_salted_aggregate_not_window(plans):
    """Bottom-k must stay a two-level salted aggregate; a Window here
    means every distinct hash of an event_type funnels through one
    reducer and gets fully sorted — the skew bottleneck at scale."""
    p = plans("dp_kmv_distinct")
    assert "Window" not in p
    assert "partial_" in p  # map-side combine is on


def test_ann_guard_counts_once(plans):
    """The row guard's count(*) must ride only the single-row query
    broadcast — a guard wrapped around the shared input subtree executes
    in every derived branch (the round-3 3x bench regression)."""
    p = plans("dp_ann_topk")
    assert p.count("partial_count(1)") == 1  # exactly one count-aggregate subtree


def test_ann_guard_trips_past_max_rows(spark):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from baker_spark.datapipe import vectors
    from baker_spark.sources.tables import load_table

    df = load_table(spark, SF_DIR, "embeddings")
    guarded = vectors.ann_topk(df, max_rows=3)
    with pytest.raises((SparkRuntimeException, Py4JJavaError), match="ann_topk_bucketed"):
        guarded.collect()
    # and the same guard stays silent under the limit
    assert len(vectors.ann_topk(df, k=5, max_rows=10_000_000).collect()) == 5


def test_ann_guard_trips_even_when_query_id_missing(spark):
    """The guard check references only the count column, so Catalyst
    pushes it INTO the count branch — it evaluates whenever the count
    stage materializes (a dependency of the broadcast build), not only
    on joined rows. A non-existent query_id therefore still rejects an
    over-max_rows corpus instead of silently returning empty. (The
    push-down is load-bearing: a guard filter that mixes in columns
    from the wrapped side cannot push and IS skippable — keep row_guard's
    filter single-sided.)"""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from baker_spark.datapipe import vectors
    from baker_spark.sources.tables import load_table

    df = load_table(spark, SF_DIR, "embeddings")
    guarded = vectors.ann_topk(df, query_id=-999, max_rows=3)
    with pytest.raises((SparkRuntimeException, Py4JJavaError), match="ann_topk_bucketed"):
        guarded.collect()
    # under the cap a missing query_id is just an empty (not failed) result
    assert vectors.ann_topk(df, query_id=-999, max_rows=10_000_000).collect() == []


def test_sqs_input_requires_a_queue(tmp_path):
    """The SQS daemon input needs a queue (QueueNames, QueuePrefixes or a
    FakeDir directory queue); the compiler fails at compile time with a
    clear message, not at stream start, like sqs.go. Each retired key
    fails with an error naming what replaced it. A FakeDir queue
    compiles."""
    import pytest

    from baker_spark.plans import compile_toml

    toml = '[fields]\nnames=["a"]\n[input]\nname="SQS"\n[input.config]\n'
    with pytest.raises(ValueError, match="QueuePrefixes or QueueNames must be set"):
        compile_toml(toml)
    with pytest.raises(ValueError, match="QueueNames or QueuePrefixes.*FakeDir"):
        compile_toml(toml + f'Path="{tmp_path}"\n')
    with pytest.raises(ValueError, match="MaxFilesPerTrigger has no replacement"):
        compile_toml(toml + 'QueueNames=["q"]\nMaxFilesPerTrigger=2\n')
    src = compile_toml(toml + f'FakeDir="{tmp_path}"\n').source
    assert src.fake_dir == str(tmp_path) and src.fields == ["a"]


def test_incremental_dedup_is_key_anti_join(plans):
    """The ledger check must be a hash anti join over 128-bit keys —
    never a cartesian, and the batch side aggregates before joining so
    the exchange carries (key, id, count), not document text."""
    p = plans("dp_dedup_incremental")
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "partial_min" in p  # in-batch dedup aggregate keeps map-side combine


def test_quality_filter_broadcasts_thresholds(plans):
    """The per-language median table is one row per language — it must
    broadcast so the corpus side never shuffles for the join."""
    p = plans("dp_quality_filter")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_quality_filter_approx_variant_runs(spark):
    """The t-digest scale path (exact=False) yields a superset-agnostic
    sane result: same schema, and a kept-count within sketch error of
    the exact gate's."""
    from baker_spark.datapipe import text
    from baker_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    exact = text.quality_filter_by_median(docs, exact=True)
    approx = text.quality_filter_by_median(docs, exact=False)
    assert exact.columns == approx.columns
    ne, na = exact.count(), approx.count()
    assert abs(ne - na) <= max(5, ne // 20)  # within ~5% at this scale


def test_source_quota_is_salted_aggregate_not_window(plans):
    """Per-source cap must be the salted bottom-k aggregate; a Window
    here funnels a hot source through one reducer at scale."""
    p = plans("dp_source_quota")
    assert "Window" not in p
    assert "partial_" in p  # map-side combine on the salted aggregate


def test_corpus_pipeline_scrub_materialized_once(plans):
    """The corpus pipeline's 4x win (PERFORMANCE.md
    'Expression-substitution blowup') is a plan property: the scrub
    chain must sit below an InMemoryRelation boundary, and nothing ABOVE
    the cache may re-run the scrub regexes — without the boundary,
    CollapseProject+PushDownPredicates substitute the 3-regex chain into
    every clean_text reference (~4x per row in the quality filter
    alone)."""
    p = plans("dp_corpus_pipeline")
    assert "InMemoryTableScan" in p or "InMemoryRelation" in p, p[:2000]
    # the plan above the cache boundary reads the materialized column;
    # the scrub regexes live only in the cached plan, which explain()
    # renders separately — the main operator tree must not re-run them
    main_tree = p.split("InMemoryRelation")[0]
    assert "<URL>" not in main_tree, "scrub chain leaked above the cache boundary"
