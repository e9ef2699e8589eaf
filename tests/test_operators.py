"""Unit tests for the row-operator inventory, mirroring the reference's
table-driven filter tests (SURVEY.md §5: feed tiny records through the
operator, assert emitted count + field values)."""

import os

import pytest
from pyspark.sql import Row, functions as F

from baker_spark import operators as ops
from tests.conftest import rows_to_tuples


def make_df(spark, rows, cols):
    return spark.createDataFrame([Row(**dict(zip(cols, r))) for r in rows])


@pytest.fixture(scope="module")
def generic(spark):
    # FIXTURES.md §3 'generic' schema
    rows = [
        ("abc", "def", "ghi", "1704067200", "https://x.com/a?p=1&q=two", '{"jfield1":"v1","n":123,"b":true}'),
        ("abc", "zzz", "", "1704153600", "https://x.com/b?p=2", "a;b;c"),
        ("xyz", "def", "ghi", "not_a_ts", "%%bad", '{"jfield1":"v2"}'),
    ]
    return make_df(spark, rows, ["f1", "f2", "f3", "ts", "url", "payload"])


def test_clausefilter_atoms(spark, generic):
    kept = ops.ClauseFilter("(f1 abc)").apply(generic)
    assert kept.count() == 2
    kept = ops.ClauseFilter("(and (f1 abc) (f2 def))").apply(generic)
    assert kept.count() == 1
    kept = ops.ClauseFilter("(or (f1 xyz) (f2 zzz))").apply(generic)
    assert kept.count() == 2
    kept = ops.ClauseFilter("(not (f1 abc))").apply(generic)
    assert kept.count() == 1
    # empty clause keeps everything; (and) nothing; (or) everything
    assert ops.ClauseFilter("").apply(generic).count() == 3
    assert ops.ClauseFilter("(and)").apply(generic).count() == 0
    assert ops.ClauseFilter("(or)").apply(generic).count() == 3
    # single-arg and collapses to the arg (clausefilter.go:157-163)
    assert ops.ClauseFilter("(and (f1 abc))").apply(generic).count() == 2
    # n-ary
    assert ops.ClauseFilter("(and (f1 abc) (f2 def) (f3 ghi))").apply(generic).count() == 1



def test_clausefilter_expr_matches_column_form(spark):
    """The expr-string clause compiler must keep every reference edge:
    empty clause, (and)/(or), single-arg collapse, empty-value atom,
    null fields, quotes/backslashes in values."""
    from functools import reduce
    from baker_spark.operators.clausefilter import (
        ClauseFilter,
        parse_sexpr,
    )

    df = spark.createDataFrame(
        [("N", "O", None), ("A", "", "x'y"), (None, "F", "a\\b"), ("N", "F", "z")],
        "f1 string, f2 string, f3 string",
    )

    def old_compile(node):
        if node is None:
            return F.lit(True)
        head, args = node[0], node[1:]
        if head == "and":
            return (
                reduce(lambda a, b: a & b, (old_compile(a) for a in args))
                if args
                else F.lit(False)
            )
        if head == "or":
            return (
                reduce(lambda a, b: a | b, (old_compile(a) for a in args))
                if args
                else F.lit(True)
            )
        if head == "not":
            return ~old_compile(args[0])
        f, v = head, node[1]
        col = F.col(f).cast("string")
        if v == "":
            return col.isNull() | (col == F.lit(""))
        return F.coalesce(col, F.lit("")) == F.lit(v)

    for clause in [
        "(and (f1 N) (or (f2 O) (not (f3 x'y))))",
        "(or (and) (f3 a\\b))",
        "(not (f2 F))",
        "(f1 N)",
        "(and (f1 N))",
    ]:
        ast = parse_sexpr(clause)
        old = sorted(map(tuple, df.filter(old_compile(ast)).collect()), key=repr)
        new = sorted(map(tuple, ClauseFilter(clause).apply(df).collect()), key=repr)
        assert old == new, clause
    # empty clause keeps everything
    assert ClauseFilter("").apply(df).count() == 4


def test_clear_and_replace(spark, generic):
    out = ops.ClearFields(["f2"]).apply(generic)
    assert [r.f2 for r in out.collect()] == ["", "", ""]
    out = ops.ReplaceFields(copy_fields=["f1", "f3"], replace_fields=["K", "f2"]).apply(generic)
    first = out.orderBy("ts").collect()[0]
    assert first.f3 == first.f1 and first.f2 == "K"
    with pytest.raises(ValueError):
        ops.ReplaceFields(copy_fields=["f1"])
    with pytest.raises(ValueError):
        ops.ReplaceFields(copy_fields=["f1", "f1"])


def test_concatenate(spark, generic):
    out = ops.Concatenate(["f1", "f2"], target="cat", separator="-").apply(generic)
    assert sorted(r.cat for r in out.collect()) == ["abc-def", "abc-zzz", "xyz-def"]
    out = ops.Concatenate(["f1", "f3"], target="cat").apply(generic)
    assert "abczzz" not in [r.cat for r in out.collect()]
    assert sorted(r.cat for r in out.collect()) == ["abc", "abcghi", "xyzghi"]


def test_expand_list(spark, generic):
    out = ops.ExpandList(source="payload", fields={0: "e0", 2: "e2"}).apply(generic)
    row = out.filter(F.col("payload") == "a;b;c").collect()[0]
    assert row.e0 == "a" and row.e2 == "c"
    # non-list payload: single element, index 2 out of range -> untouched ('')
    row = out.filter(F.col("f1") == "xyz").collect()[0]
    assert row.e0 == '{"jfield1":"v2"}' and row.e2 == ""


def test_expand_json(spark, generic):
    out = ops.ExpandJSON(source="payload", fields={"jfield1": "j1", "n": "jn", "b": "jb"}).apply(generic)
    rows = {r.f1 + r.f2: r for r in out.collect()}
    assert rows["abcdef"].j1 == "v1"
    assert rows["abcdef"].jn == "123"
    assert rows["abcdef"].jb == "true"
    assert rows["abczzz"].j1 == ""  # not json -> untouched
    # custom true/false mapping
    out = ops.ExpandJSON(source="payload", fields={"b": "jb"}, true_false_values=("yes", "no")).apply(generic)
    assert {r.jb for r in out.collect()} == {"yes", ""}


def test_not_null_and_stringmatch(spark, generic):
    assert ops.NotNull(["f3"]).apply(generic).count() == 2
    assert ops.StringMatch(field="f1", strings=["abc"]).apply(generic).count() == 1
    assert ops.StringMatch(field="f1", strings=["abc"], invert_match=True).apply(generic).count() == 2
    with pytest.raises(ValueError):
        ops.StringMatch(field="f1", strings=[])


def test_regex_match(spark, generic):
    kept = ops.RegexMatch(fields=["f1", "f2"], regexs=["^a", "def"]).apply(generic)
    assert kept.count() == 1
    inv = ops.RegexMatch(fields=["f1"], regexs=["^a"], invert_match=True).apply(generic)
    assert inv.count() == 1



def test_regexmatch_expr_matches_column_form(spark):
    from functools import reduce
    from baker_spark.operators.transforms import RegexMatch

    df = spark.createDataFrame(
        [("abc", "x1"), ("a'b", None), (None, "d\\e"), ("", "zz")],
        "f1 string, f2 string",
    )
    pairs = [("f1", r"^a.*"), ("f2", r"[xz\d]|d\\e")]

    def old_pred(pairs, invert):
        m = reduce(
            lambda a, b: a & b,
            (
                F.coalesce(F.col(f).cast("string"), F.lit("")).rlike(rx)
                for f, rx in pairs
            ),
            F.lit(True),
        )
        return ~m if invert else m

    for invert in (False, True):
        old = sorted(map(tuple, df.filter(old_pred(pairs, invert)).collect()), key=repr)
        op = RegexMatch([p[0] for p in pairs], [p[1] for p in pairs], invert_match=invert)
        new = sorted(map(tuple, op.apply(df).collect()), key=repr)
        assert old == new, invert
    # Fields=[] keeps everything; inverted drops everything
    assert RegexMatch([], []).apply(df).count() == 4
    assert RegexMatch([], [], invert_match=True).apply(df).count() == 0


def test_chain_operator_expr_rewrites_match_column_shapes(spark):
    from baker_spark.operators.transforms import Concatenate, Hash, NotNull, TimestampRange

    df = spark.createDataFrame(
        [("1", "a", "170000"), (None, "", "17.5"), ("", "b", "-3"),
         ("x", "c", " 17 ")],
        "f1 string, f2 string, ts string",
    )
    # NotNull: empty-and-null drop, Fields=[] keeps everything
    kept = df.filter(NotNull(["f1", "f2"]).keep_predicate())
    assert kept.count() == 2  # ("1","a"), ("x","c")
    assert df.filter(NotNull([]).keep_predicate()).count() == 4
    # Concatenate with and without separator; empty fields -> ''
    out = Concatenate(["f1", "f2"], target="t", separator="-").apply(df)
    vals = {r["t"] for r in out.collect()}
    assert "1-a" in vals and "-" in vals  # null/'' slots keep their separator
    out2 = Concatenate([], target="t").apply(df)
    assert {r["t"] for r in out2.collect()} == {""}
    # Hash: hex and raw agree with the reference md5 of the cast string
    h = Hash("f1", "d", function="md5", encoding="hex").apply(df.filter(F.col("f1") == "1"))
    import hashlib
    assert h.collect()[0]["d"] == hashlib.md5(b"1").hexdigest()
    # TimestampRange ParseInt strictness: floats and padded ints drop
    pred = TimestampRange("ts", None, None).keep_predicate()
    kept_ts = {r["ts"] for r in df.filter(pred).collect()}
    assert kept_ts == {"170000", "-3"}
    bounded = TimestampRange("ts", "1970-01-02 00:00:00", None).keep_predicate()
    assert {r["ts"] for r in df.filter(bounded).collect()} == {"170000"}


def test_hash_and_slice(spark, generic):
    import hashlib

    out = ops.Hash(src_field="f1", dst_field="h", function="md5", encoding="hex").apply(generic)
    row = out.filter(F.col("f1") == "xyz").collect()[0]
    assert row.h == hashlib.md5(b"xyz").hexdigest()
    out = ops.Hash(src_field="f1", dst_field="h", function="sha256", encoding="hex").apply(generic)
    row = out.filter(F.col("f1") == "xyz").collect()[0]
    assert row.h == hashlib.sha256(b"xyz").hexdigest()
    # the DEFAULT is the reference's raw pass-through (hash.go:82-93,
    # Encoding required:false default "") — raw digest bytes, not hex
    out = ops.Hash(src_field="f1", dst_field="h", function="md5").apply(generic)
    row = out.filter(F.col("f1") == "xyz").collect()[0]
    assert bytes(row.h) == hashlib.md5(b"xyz").digest()

    out = ops.Slice(src="url", dst="s", start_idx=8, end_idx=13).apply(generic)
    assert "x.com" in {r.s for r in out.collect()}
    # clamped past end -> empty
    out = ops.Slice(src="f1", dst="s", start_idx=100).apply(generic)
    assert {r.s for r in out.collect()} == {""}


def test_format_time(spark, generic):
    out = ops.FormatTime(src_field="ts", dst_field="d", src_format="unix", dst_format="DateTime").apply(generic)
    rows = {r.ts: r.d for r in out.collect()}
    assert rows["1704067200"] == "2024-01-01 00:00:00"
    assert rows["not_a_ts"] == ""  # parse error clears dst (format_time.go)
    out = ops.FormatTime(src_field="ts", dst_field="d", src_format="unix", dst_format="unixms").apply(generic)
    assert {r.d for r in out.collect()} == {"1704067200000", "1704153600000", ""}
    # named Go layout round-trip
    df2 = make_df(spark, [("2024-03-05T06:07:08Z",)], ["t"])
    out = ops.FormatTime(src_field="t", dst_field="d", src_format="RFC3339", dst_format="unix").apply(df2)
    assert out.collect()[0].d == "1709618828"


def test_format_time_go_space_padded_day(spark):
    """Go's `_2` layouts (ANSIC/UnixDate/Stamp*) space-pad days < 10:
    'Sun Jan  2' has a DOUBLE space Java's strict `d` can't parse, and
    formatting must emit the pad back (format_time.go named layouts)."""
    df = make_df(spark, [("Sun Jan  2 15:04:05 UTC 2022",), ("Wed Jan 12 15:04:05 UTC 2022",)], ["t"])
    out = ops.FormatTime(src_field="t", dst_field="d", src_format="UnixDate", dst_format="unix").apply(df)
    got = {r.t: r.d for r in out.collect()}
    assert got["Sun Jan  2 15:04:05 UTC 2022"] == "1641135845"
    assert got["Wed Jan 12 15:04:05 UTC 2022"] == "1641999845"
    # format side: day < 10 gets the pad space, day >= 10 does not
    out = ops.FormatTime(src_field="d", dst_field="s", src_format="unix", dst_format="Stamp").apply(
        out.select("d")
    )
    assert {r.s for r in out.collect()} == {"Jan  2 15:04:05", "Jan 12 15:04:05"}


def test_format_time_weekday_required_and_validated(spark):
    """Go's time.Parse requires a REAL weekday name where the layout has
    one (it does not check consistency with the date): a missing or
    bogus prefix must clear dst, not silently parse."""
    rows = [
        ("Mon, 02 Jan 2006 15:04:05 UTC",),  # valid
        ("02 Jan 2006 15:04:05 UTC",),  # weekday missing
        ("Xyz, 02 Jan 2006 15:04:05 UTC",),  # not a weekday
    ]
    df = make_df(spark, rows, ["t"])
    out = ops.FormatTime(src_field="t", dst_field="d", src_format="RFC1123", dst_format="unix").apply(df)
    got = {r.t: r.d for r in out.collect()}
    assert got["Mon, 02 Jan 2006 15:04:05 UTC"] == "1136214245"
    assert got["02 Jan 2006 15:04:05 UTC"] == ""
    assert got["Xyz, 02 Jan 2006 15:04:05 UTC"] == ""


def test_external_match_null_value_matches_empty_field(spark):
    """empty==null on the VALUE side too: a NULL entry in the match set
    (empty CSV cell / NULL in a frame) must match an empty record field."""
    df = make_df(spark, [("", "keep_a"), ("x", "keep_b")], ["f", "tag"])
    vals = spark.createDataFrame([(None,), ("zzz",)], ["v"])
    kept = ops.ExternalMatch("f", values=vals, keep_on_match=True).apply(df)
    assert {r.tag for r in kept.collect()} == {"keep_a"}


def test_expand_json_custom_tf_leaves_string_true_alone(spark):
    """TrueFalseValues maps JSON BOOLEANS only (expand_json.go case
    bool); a JSON string "true" must come through verbatim even with a
    custom mapping — the native get_json_object path can't tell the two
    apart, so custom mappings route through the typed UDF path."""
    df = make_df(spark, [('{"a": "true", "b": true}',)], ["src"])
    out = ops.ExpandJSON(
        source="src", fields={"a": "fa", "b": "fb"}, true_false_values=("yes", "no")
    ).apply(df)
    row = out.collect()[0]
    assert row.fa == "true"  # string stays verbatim
    assert row.fb == "yes"  # boolean maps


def test_validation_is_not_a_hoisting_barrier(spark):
    """Validation is a pure regex predicate: with it first in a chain,
    later cheap predicates must still hoist above the fan-out exchange
    (it previously had writes=None, a barrier that disabled the whole
    pre-exchange filter optimization for any [validation] topology)."""
    from baker_spark.operators.topology import Validation

    chain = [Validation({"f": "^[0-9]+$"}), ops.NotNull(["g"])]
    preds, rest = ops.split_chain(chain)
    assert len(preds) == 1  # NotNull hoisted past Validation
    # Validation itself stays in the chain (expensive_predicate)
    assert any(isinstance(op, Validation) for op in rest)


def test_timestamp_range(spark, generic):
    op = ops.TimestampRange(field="ts", start_datetime="2024-01-01 00:00:00", end_datetime="2024-01-02 00:00:00")
    kept = op.apply(generic)
    assert kept.count() == 1  # second row is exactly at the exclusive end
    assert kept.collect()[0].ts == "1704067200"


def test_url_ops(spark, generic):
    out = ops.URLParam(src_field="url", dst_field="p", param="q").apply(generic)
    vals = {r.f1 + r.f2: r.p for r in out.collect()}
    assert vals["abcdef"] == "two" and vals["abczzz"] == "" and vals["xyzdef"] == ""
    out = ops.URLEscape(src_field="f2", dst_field="e").apply(make_df(spark, [("a b&c",)], ["f2"]))
    assert out.collect()[0].e == "a+b%26c"
    out = ops.URLEscape(src_field="f2", dst_field="e", unescape=True).apply(
        make_df(spark, [("a+b%26c",), ("%zz",)], ["f2"])
    )
    assert sorted(r.e for r in out.collect()) == ["", "a b&c"]


def test_dedup(spark, generic):
    out = ops.Dedup(fields=["f2"]).apply(generic)
    assert out.count() == 2
    out = ops.Dedup(fields=["f2"], order_by="f1").apply(generic)
    assert sorted(r.f1 for r in out.collect()) == ["abc", "abc"]


def test_external_match(spark, generic):
    semi = ops.ExternalMatch(field_name="f1", values=["abc", "nope"], keep_on_match=True).apply(generic)
    assert semi.count() == 2
    anti = ops.ExternalMatch(field_name="f1", values=["abc", "nope"]).apply(generic)
    assert anti.count() == 1


def test_crypt_roundtrip(spark, generic):
    from cryptography.fernet import Fernet

    key = Fernet.generate_key()
    enc = ops.Crypt(src_field="f1", dst_field="c", key=key).apply(generic)
    dec = ops.Crypt(src_field="c", dst_field="plain", key=key, decrypt=True).apply(enc)
    assert sorted(r.plain for r in dec.collect()) == ["abc", "abc", "xyz"]
    # decrypting garbage drops the row (crypt.go: error -> no next())
    bad = ops.Crypt(src_field="f1", dst_field="p", key=key, decrypt=True).apply(generic)
    assert bad.count() == 0


def test_partial_clone_and_select(spark, generic):
    out = ops.PartialClone(fields=["f1", "f2"]).apply(generic)
    assert out.columns == ["f1", "f2"]
    out = ops.FieldSelect(fields=["f3"]).apply(generic)
    assert out.columns == ["f3"]


def test_timestamp_fixed(spark, generic):
    out = ops.Timestamp(field="now", fixed_time=1234).apply(generic)
    assert {r.now for r in out.collect()} == {"1234"}


def test_validation(spark, generic):
    v = ops.Validation({"f1": "^[a-z]+$", "ts": "^[0-9]+$"})
    assert v.apply(generic).count() == 2
    q = v.quarantine(generic).collect()
    assert len(q) == 1 and q[0]._bk_invalid_field == "ts"
    counts = rows_to_tuples(v.invalid_counts(generic))
    assert counts == [("ts", 1)]
    assert v.total_invalid(generic).collect()[0].n_quarantined == 1


def test_validation_all_valid_scalar_survives(spark, generic):
    """total_invalid must emit one row with 0 on a fully valid input, so
    the validation query's crossJoin keeps (not annihilates) valid rows."""
    v = ops.Validation({"f1": "^.*$"})  # everything validates
    joined = v.apply(generic).crossJoin(F.broadcast(v.total_invalid(generic)))
    rows = joined.collect()
    assert len(rows) == generic.count()
    assert all(r.n_quarantined == 0 for r in rows)


def test_explode_fanout(spark, generic):
    out = ops.Explode(source="payload", dst="item").apply(
        generic.filter(F.col("payload") == "a;b;c")
    )
    assert sorted(r.item for r in out.collect()) == ["a", "b", "c"]


def test_count_and_tag(spark, generic):
    op = ops.CountAndTag(metric="m", field="f3", default_value="none")
    counts = rows_to_tuples(op.tag_counts(generic))
    assert counts == [("ghi", 2), ("none", 1)]
    assert op.apply(generic).count() == 3


def test_registry_create():
    op = ops.create("stringmatch", Field="f1", Strings=["x"], InvertMatch=True)
    assert isinstance(op, ops.StringMatch) and op.invert
    with pytest.raises(KeyError):
        ops.create("NoSuchFilter")


def test_dedup_clusters(spark):
    from baker_spark.datapipe.dedup import dedup_clusters

    docs = make_df(spark, [(i,) for i in range(1, 8)], ["doc_id"])
    # chain 1-2-3 merges transitively; 4-5 pairs; 6,7 singletons
    pairs = make_df(spark, [(1, 2), (2, 3), (4, 5)], ["doc_a", "doc_b"])
    out = rows_to_tuples(dedup_clusters(docs, pairs))
    assert out == [
        (1, 1, True), (2, 1, False), (3, 1, False),
        (4, 4, True), (5, 4, False),
        (6, 6, True), (7, 7, True),
    ]

    # a component whose diameter exceeds max_iters must FAIL, not return
    # labels that are not component minima (is_canonical would then drop
    # whole groups silently)
    import pytest as _pytest

    # pointer doubling reaches O(3^rounds) down a chain, so forcing
    # non-convergence at max_iters=2 needs a chain well past 3^3
    chain_pairs = make_df(
        spark, [(i, i + 1) for i in range(1, 100)], ["doc_a", "doc_b"]
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(docs, chain_pairs, max_iters=2)

    # and the same 99-link chain RESOLVES in O(log d) rounds (the
    # pointer-jump payoff: 99 rounds would breach max_iters=10)
    long_docs = make_df(spark, [(i,) for i in range(1, 101)], ["doc_id"])
    out = dedup_clusters(long_docs, chain_pairs, max_iters=10).collect()
    assert all(r.cluster_id == 1 for r in out)
    assert sum(r.is_canonical for r in out) == 1


def test_dedup_clusters_reliable_checkpoint(spark, tmp_path):
    """reliable=True writes each round's label table to the configured
    checkpoint dir (executor loss costs one task retry, not a restart
    from round 0 — VERDICT r9 #3): identical clusters, lineage truncated
    to a ReliableCheckpointRDD, files actually on the reliable store,
    and a loud error when no checkpoint dir is configured."""
    from baker_spark.datapipe.dedup import dedup_clusters

    docs = make_df(spark, [(i,) for i in range(1, 8)], ["doc_id"])
    pairs = make_df(spark, [(1, 2), (2, 3), (4, 5)], ["doc_a", "doc_b"])
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    with pytest.raises(ValueError, match="setCheckpointDir"):
        dedup_clusters(docs, pairs, reliable=True)

    # session-global and harmless to leave set: nothing else in the
    # suite calls .checkpoint(), and localCheckpoint ignores the dir
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    out = dedup_clusters(docs, pairs, reliable=True)
    assert "ReliableCheckpointRDD" in out.rdd.toDebugString().decode()
    assert rows_to_tuples(out) == rows_to_tuples(dedup_clusters(docs, pairs))
    ckpt_files = [
        f for d, _, fs in os.walk(tmp_path / "ckpt") for f in fs if f.startswith("part-")
    ]
    assert ckpt_files  # rounds really landed on the reliable store


def _jobs_run_by(spark, build) -> int:
    """Spark jobs started while ``build()`` runs."""
    sc = spark.sparkContext
    group = "jobs_run_by"
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_dedup_clusters_job_count(spark):
    """The sum(label) witness rides on each label table's checkpoint
    job as an observed metric instead of an agg + collect of its own,
    and round 1 is one aggregation over the edges instead of a
    checkpointed table of initial labels joined back. On the
    test_dedup_clusters fixture the build ran 21 jobs with the separate
    collects and the initial table; it runs 10 now."""
    from baker_spark.datapipe.dedup import dedup_clusters

    docs = make_df(spark, [(i,) for i in range(1, 8)], ["doc_id"])
    pairs = make_df(spark, [(1, 2), (2, 3), (4, 5)], ["doc_a", "doc_b"])
    assert _jobs_run_by(spark, lambda: dedup_clusters(docs, pairs)) <= 10


@pytest.mark.parametrize("reliable", [False, True])
def test_dedup_clusters_observed_witness_matches_agg(spark, tmp_path, reliable):
    """The observed witness is the exact sum(label) of the checkpointed
    table, None for an empty one, on both checkpoint kinds; and a
    component too long for max_iters still fails loudly."""
    from baker_spark.datapipe.dedup import _checkpoint_label_sum, dedup_clusters

    sc = spark.sparkContext
    if reliable and sc.getCheckpointDir() is None:
        sc.setCheckpointDir(str(tmp_path / "ckpt"))
    frame = spark.range(1, 200).selectExpr("id", "id * 7919 % 101 AS label")
    for f in (frame, frame.limit(0)):
        done, witness = _checkpoint_label_sum(f, reliable)
        assert witness == done.agg(F.sum("label")).collect()[0][0]
    assert witness is None

    docs = make_df(spark, [(i,) for i in range(1, 101)], ["doc_id"])
    chain = make_df(spark, [(i, i + 1) for i in range(1, 100)], ["doc_a", "doc_b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(docs, chain, max_iters=2, reliable=reliable)


def test_scrub(spark):
    from baker_spark.datapipe.text import scrub

    df = make_df(
        spark,
        [("see https://ex.com/x?id=12345678 or mail a.b@ex.co id 123456789 ok",)],
        ["text"],
    )
    row = df.select(*[c.alias(n) for n, c in scrub("text").items()]).collect()[0]
    assert (row.n_url, row.n_email, row.n_longnum) == (1, 1, 1)
    assert row.clean_text == "see <URL> or mail <EMAIL> id <NUM> ok"


def test_multimodal_frame_sample_and_features(spark):
    from baker_spark.datapipe import multimodal

    df = make_df(spark, [(1, "x" * 300), (2, "y" * 10), (3, None)], ["doc_id", "text"])
    packed = multimodal.with_binary_payload(df.fillna({"text": ""}))
    frames = multimodal.frame_sample(packed, frame_bytes=64, every=2)
    rows = rows_to_tuples(frames.select("doc_id", "frame_idx"))
    # doc 1: 300 bytes -> 5 windows -> every 2nd = 3 frames; doc 2: 1; doc 3 (empty): 0
    assert [r[0] for r in rows] == [1, 1, 1, 2]
    # frame_idx is the ORIGINAL window index (source offset = idx*bytes),
    # not the position in the sampled list
    assert [r[1] for r in rows] == [0, 2, 4, 0]
    feats = multimodal.extract_features(packed).collect()
    assert all(len(r.features) == 8 for r in feats)
    by_id = {r.doc_id: r.features for r in feats}
    assert by_id[1] != by_id[2]  # different payloads -> different features


def test_kmv_sketch_merge(spark):
    """KMV mergeability: the sketch of a union equals the k smallest of
    the combined per-partition minima — estimate from merged halves must
    equal the estimate over the whole set."""
    from pyspark.sql import functions as F

    from baker_spark.functions.hashing import KMV_K, kmv_estimate_c0, md5_long

    vals = [(f"v{i}",) for i in range(500)]
    df = make_df(spark, vals, ["v"]).select(md5_long("v").alias("h")).distinct()
    whole_kth = df.orderBy("h").limit(KMV_K).agg(F.max("h")).collect()[0][0]

    h1 = df.filter(F.col("h") % 2 == 0).orderBy("h").limit(KMV_K)
    h2 = df.filter(F.col("h") % 2 == 1).orderBy("h").limit(KMV_K)
    merged_kth = h1.union(h2).orderBy("h").limit(KMV_K).agg(F.max("h")).collect()[0][0]

    assert whole_kth == merged_kth
    est = spark.range(1).select(kmv_estimate_c0(F.lit(whole_kth)).alias("e")).collect()[0].e
    assert abs(est - 500) / 500 < 0.35  # within the ~1/sqrt(64) regime


def test_predicate_hoisting(spark):
    """split_chain's hoisted predicates filtering a natively-typed frame
    (the fan_out pushdown path), then the remaining chain == the chain
    alone; predicates reading a field a transform writes must NOT hoist;
    unknown ops are barriers."""
    native = spark.createDataFrame(
        [(1, "A", 10), (2, "N", 0), (3, "R", 7), (4, "A", None)],
        "id int, flag string, qty int",
    )
    chain = [
        ops.ClauseFilter("(or (flag A) (flag N))"),
        ops.Concatenate(["id", "flag"], target="tag", separator="-"),
        ops.StringMatch(field="tag", strings=["1-A"], invert_match=False),
        ops.NotNull(["qty"]),
    ]
    # tag is written by Concatenate -> StringMatch must not hoist;
    # ClauseFilter and NotNull do, and are elided from the remaining
    # chain; transforms and the non-hoistable StringMatch keep their order
    preds, rest = ops.split_chain(chain)
    assert len(preds) == 2
    assert [type(o).__name__ for o in rest] == ["Concatenate", "StringMatch"]

    def run(df, chain_ops):
        return sorted(
            r.id
            for r in ops.chain(
                df.select(*[F.col(c).cast("string").alias(c) for c in df.columns]),
                chain_ops,
            ).collect()
        )

    filtered = native
    for p in preds:
        filtered = filtered.filter(p)
    # re-running the whole chain after the hoisted filters drops nothing more
    assert run(native, chain) == run(filtered, rest) == run(filtered, chain) == ["2"]

    # a stateful op (Dedup) is a barrier: nothing after it hoists, and
    # the post-barrier NotNull stays in the remaining chain
    barrier_chain = [
        ops.Dedup(fields=["flag"]),
        ops.NotNull(["qty"]),
    ]
    preds, rest = ops.split_chain(barrier_chain)
    assert preds == []
    assert [type(o).__name__ for o in rest] == ["Dedup", "NotNull"]


def test_managed_cache_release(spark):
    """Operator caches registered via managed_persist are dropped at the
    next query build (load_table -> release_caches): catalog sweeps and
    best-of-N bench runs must not accumulate storage (round-1 advisory)."""
    from baker_spark import session as S

    df = S.managed_persist(spark.range(10).toDF("n"))
    assert df.storageLevel.useMemory or df.storageLevel.useDisk
    assert S._MANAGED_CACHES
    S.release_caches()
    assert not S._MANAGED_CACHES
    assert not (df.storageLevel.useMemory or df.storageLevel.useDisk)


def test_null_equals_empty_across_operators(spark):
    """The record model has no NULL distinct from '' (record.go:35-39);
    operators must treat both identically: Crypt keeps NULL-field rows
    on encrypt, ExternalMatch matches NULL against an '' value, Explode
    fans a NULL field to one empty element instead of deleting the row."""
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(id="1", v=None), Row(id="2", v=""), Row(id="3", v="x")]
    )

    # Crypt encrypt: NULL and '' both encrypt (3 rows kept)
    key = b"8Llfjrs9NM32AsE9PIeaFIdCRp8cSTwwI_Hw2B9QLuo="
    enc = ops.Crypt(src_field="v", dst_field="ct", key=key).apply(df)
    assert enc.count() == 3

    # ExternalMatch semi vs an '' value: NULL and '' rows both match
    kept = ops.ExternalMatch(field_name="v", values=[""], keep_on_match=True).apply(df)
    assert sorted(r.id for r in kept.collect()) == ["1", "2"]

    # Explode: NULL source -> one row with an empty element, not zero
    ex = ops.Explode(source="v", dst="e", separator=";").apply(df)
    assert sorted((r.id, r.e) for r in ex.collect()) == [("1", ""), ("2", ""), ("3", "x")]


def test_multimodal_decode_parses_real_png_wav_headers(spark):
    """decode_media is a real stdlib struct parse for PNG/WAV headers —
    width/height/bit-depth out of IHDR big-endian fields, channels/
    sample-rate/duration out of the RIFF chunk walk — with the labeled
    fake only for unrecognized magic (including truncated headers)."""
    from baker_spark.datapipe import multimodal

    png = multimodal.png_bytes(640, 360, bit_depth=16, filler=5)
    wav = multimodal.wav_bytes(channels=2, sample_rate=44100, n_samples=22050)
    rows = [
        (0, bytearray(png)),
        (1, bytearray(wav)),
        (2, bytearray(b"plain text, not media")),
        (3, bytearray(png[:20])),  # truncated IHDR -> not parseable as png
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r.asDict() for r in multimodal.decode_media(df).collect()}

    p = got[0]
    assert (p["format"], p["width"], p["height"], p["bit_depth"]) == ("png", 640, 360, 16)
    assert p["n_bytes"] == len(png) and p["head_hex"] == png[:8].hex()
    assert (p["channels"], p["sample_rate"], p["duration_ms"]) == (0, 0, 0)

    w = got[1]
    assert (w["format"], w["channels"], w["sample_rate"]) == ("wav", 2, 44100)
    assert w["duration_ms"] == 500  # 22050 samples at 44.1 kHz
    assert w["n_bytes"] == 44 + 22050 * 2 * 2

    assert got[2]["format"] == "fake/v1"
    assert got[3]["format"] == "fake/v1"  # truncated header falls back
    assert got[4]["format"] == "none" and got[4]["n_bytes"] == 0


def test_multimodal_decode_parses_jpeg_gif_headers(spark):
    """JPEG dimensions come from a marker WALK to the first SOFn — not a
    fixed offset — so a leading APP0/comment segment must not break the
    parse; GIF from the little-endian logical screen descriptor."""
    from baker_spark.datapipe import multimodal

    jpg = multimodal.jpeg_bytes(1920, 1080, filler=3)
    # same SOF0 but preceded by an APP0 (JFIF) segment and a fill byte
    app0 = b"\xff\xe0" + (2 + 14).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
    jpg_app0 = b"\xff\xd8" + app0 + b"\xff" + multimodal.jpeg_bytes(320, 200)[2:]
    gif = multimodal.gif_bytes(800, 600, filler=2)
    rows = [
        (0, bytearray(jpg)),
        (1, bytearray(jpg_app0)),
        (2, bytearray(gif)),
        (3, bytearray(b"GIF89a\x01")),  # truncated descriptor
        (4, bytearray(b"\xff\xd8\x00\x00")),  # SOI then lost marker sync
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r.asDict() for r in multimodal.decode_media(df).collect()}

    j = got[0]
    assert (j["format"], j["width"], j["height"]) == ("jpeg", 1920, 1080)
    assert (j["bit_depth"], j["channels"]) == (8, 3)
    assert j["n_bytes"] == len(jpg) and j["head_hex"] == jpg[:8].hex()

    assert (got[1]["format"], got[1]["width"], got[1]["height"]) == ("jpeg", 320, 200)

    g = got[2]
    assert (g["format"], g["width"], g["height"], g["bit_depth"]) == ("gif", 800, 600, 8)
    assert (g["channels"], g["sample_rate"], g["duration_ms"]) == (0, 0, 0)

    assert got[3]["format"] == "fake/v1"
    assert got[4]["format"] == "fake/v1"


def test_scrub_arrow_matches_jvm_chain(spark):
    """The Arrow/RE2 scrub and the JVM regexp chain must agree
    byte-for-byte — including multi-match rows, pattern ordering
    effects (URLs consumed before emails/digit runs) and nulls."""
    from baker_spark.datapipe import text

    rows = [
        (1, "see https://x.co/a?b=1 or mail a.b+c@d-e.org now 12345678 end"),
        (2, "no pii here"),
        (3, "https://q.io x@y.zz 9999999 and 1234567890123 twice 7654321"),
        (4, ""),
        (5, None),
        (6, "u@v.ww inside https://h.io/u@v.ww path"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    jvm = df.select(
        "doc_id", *[c.alias(n) for n, c in text.scrub("text").items()]
    )
    arrow = df.withColumn("_s", text.scrub_arrow("text")).select("doc_id", "_s.*")
    a = sorted(tuple(r) for r in jvm.collect())
    b = sorted(tuple(r) for r in arrow.collect())
    assert a == b


def test_png_pixel_roundtrip_all_filters(spark):
    """png_pixel_bytes writes scanlines with filters cycling None/Sub/
    Up/Average/Paeth; the stdlib decoder must undo every one to recover
    the exact (x + 2y + seed) % 256 gradient."""
    from baker_spark.datapipe import multimodal as M

    for w, h, seed in [(1, 1, 0), (5, 7, 3), (16, 12, 123), (2, 6, 42)]:
        got = M.decode_png_pixels(M.png_pixel_bytes(w, h, seed))
        assert got is not None
        gw, gh, ch, px = got
        assert (gw, gh, ch) == (w, h, 1)
        assert bytes(px) == bytes((x + 2 * y + seed) % 256 for y in range(h) for x in range(w))


def test_pixel_decoders_are_total(spark):
    """Random bytes and every truncation of valid files must return
    None, never raise — the sniff-don't-crash contract."""
    import random

    from baker_spark.datapipe import multimodal as M

    rng = random.Random(7)
    for _ in range(500):
        junk = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 80)))
        M.decode_png_pixels(junk)
        M.decode_wav_samples(junk)
    png = M.png_pixel_bytes(9, 9, 1)
    wav = M.wav_pcm_bytes(8000, 20, 2)
    assert all(M.decode_png_pixels(png[:i]) is None for i in range(33))
    for i in range(len(png)):
        M.decode_png_pixels(png[:i])
    for i in range(len(wav)):
        M.decode_wav_samples(wav[:i])
    # interlaced and 16-bit depth are outside the decodable envelope
    bad = bytearray(png)
    bad[28] = 1  # IHDR interlace byte (8 sig + 8 len/tag + body[12])
    assert M.decode_png_pixels(bytes(bad)) is None


def test_resize_media_real_formats(spark):
    """resize_media is REAL for PNG/GIF/JPEG (nearest-neighbor,
    re-encoded, still decodable in-format) and WAV (decimated samples,
    rewritten header), byte-truncation only for the codec-bound rest."""
    from baker_spark.datapipe import multimodal as M

    rows = [(10, "a"), (6, "b"), (7, "c"), (8, "d")]  # %5: png/wav/gif/jpeg
    df = make_df(spark, rows, ["doc_id", "text"])
    packed = M.with_pixel_payload(df)
    out = {r.doc_id: bytes(r.payload) for r in M.resize_media(packed, max_side=4).collect()}

    # doc 10: 11x11 png, step ceil(11/4)=3 -> 4x4 nearest-neighbor
    w, h, ch, px = M.decode_png_pixels(out[10])
    assert (w, h, ch) == (4, 4, 1)
    big = M.decode_png_pixels(M.png_pixel_bytes(11, 11, 10))[3]
    assert bytes(px) == bytes(big[y * 3 * 11 + x * 3] for y in range(4) for x in range(4))

    # doc 7: 8x8 gif, step 2 -> 4x4, still a decodable GIF89a
    w, h, ch, px = M.decode_gif_pixels(out[7])
    assert (w, h, ch) == (4, 4, 1)
    big = M.decode_gif_pixels(M.gif_pixel_bytes(8, 8, 7))[3]
    assert bytes(px) == bytes(big[y * 2 * 8 + x * 2] for y in range(4) for x in range(4))

    # doc 8: 16x16 jpeg, step 4 -> 4x4, a valid baseline JPEG out; the
    # downscale breaks block-constancy so re-encode is near-lossless
    # (all-ones quant), not bit-exact: tolerance 1
    w, h, ch, px = M.decode_jpeg_pixels(out[8])
    assert (w, h, ch) == (4, 4, 1)
    big = M.decode_jpeg_pixels(M.jpeg_pixel_bytes(16, 16, 8))[3]
    want = [big[y * 4 * 16 + x * 4] for y in range(4) for x in range(4)]
    assert all(abs(a - b) <= 1 for a, b in zip(px, want))

    # doc 6: wav seed 6, n=(6%64)+16=22 samples decimated by 2
    ch, rate, samples = M.decode_wav_samples(out[6])
    orig = [((37 * j + 6) % 2000) - 1000 for j in range(22)]
    assert samples == orig[::2]
    assert rate == 8000 * (1 + 6 % 3) // 2


def test_extract_features_uses_real_pixels(spark):
    """Two PNGs with identical byte LENGTH but different pixels must
    produce different features (the old byte-stripe stub on the raw
    payload could not see through the zlib layer deterministically;
    the real path decodes first)."""
    from baker_spark.datapipe import multimodal as M

    df = make_df(spark, [(3,), (6,)], ["doc_id"])
    a = M.png_pixel_bytes(8, 8, 1)
    b = M.png_pixel_bytes(8, 8, 2)
    pdf = spark.createDataFrame([(1, a), (2, b)], "doc_id long, payload binary")
    feats = {r.doc_id: r.features for r in M.extract_features(pdf).collect()}
    assert feats[1] != feats[2]
    # and they equal stripe sums over the DECODED pixels, not the bytes
    px = M.decode_png_pixels(a)[3]
    assert feats[1] == [float(sum(px[j::8]) % 997) for j in range(8)]


def test_scrubbed_auto_engine_pick(spark, tmp_path):
    """scrubbed('auto') resolves by input size: in-memory / tiny scans
    use the JVM chain, large scans the Arrow path — and both engines
    produce identical rows on the same input."""
    from baker_spark.datapipe import text as T

    df = make_df(spark, [(1, "mail a.b@ex.co or https://x.io/q id 123456789")],
                 ["doc_id", "text"])
    assert T.scrub_engine(df) == "jvm"  # no file scan -> small

    p = str(tmp_path / "docs")
    df.write.parquet(p)
    scanned = spark.read.parquet(p)
    assert T.scrub_engine(scanned) == "jvm"  # tiny file
    assert T._input_bytes(scanned) > 0

    jvm_rows = T.scrubbed(scanned, engine="jvm").collect()
    arrow_rows = T.scrubbed(scanned, engine="arrow").collect()
    key = lambda r: (r.doc_id, r.n_url, r.n_email, r.n_longnum, r.clean_text)
    assert sorted(map(key, jvm_rows)) == sorted(map(key, arrow_rows))
    assert jvm_rows[0].clean_text == "mail <EMAIL> or <URL> id <NUM>"

    import pytest as _pytest
    with _pytest.raises(ValueError, match="auto|arrow|jvm"):
        T.scrubbed(scanned, engine="re2")

    # crossover: force the threshold under the file size -> arrow
    old = T.SCRUB_ARROW_MIN_INPUT_BYTES
    try:
        T.SCRUB_ARROW_MIN_INPUT_BYTES = 1
        assert T.scrub_engine(scanned) == "arrow"
    finally:
        T.SCRUB_ARROW_MIN_INPUT_BYTES = old


def test_gif_lzw_roundtrip_and_totality(spark):
    """gif_pixel_bytes writes a genuine LZW bitstream (dictionary
    growth, width bumps, 4096 reset on big images); the pure-python
    decoder must recover the exact (3x + y + seed) % 256 grid — and
    return None, never raise, on junk/truncation."""
    import random

    from baker_spark.datapipe import multimodal as M

    for w, h, seed in [(1, 1, 0), (5, 7, 3), (16, 12, 123), (120, 90, 9)]:
        got = M.decode_gif_pixels(M.gif_pixel_bytes(w, h, seed))
        assert got is not None
        gw, gh, ch, px = got
        assert (gw, gh, ch) == (w, h, 1)
        assert bytes(px) == bytes((3 * x + y + seed) % 256 for y in range(h) for x in range(w))

    rng = random.Random(11)
    for _ in range(400):
        M.decode_gif_pixels(bytes(rng.randrange(256) for _ in range(rng.randrange(0, 90))))
    g = M.gif_pixel_bytes(9, 9, 1)
    for i in range(0, len(g), 7):
        M.decode_gif_pixels(g[:i])
    # interlace flag is outside the envelope
    bad = bytearray(g)
    di = 13 + 768  # header+LSD (13) + 256-entry GCT -> image descriptor
    assert bad[di] == 0x2C
    bad[di + 9] |= 0x40  # interlace flag in the descriptor's packed byte
    assert M.decode_gif_pixels(bytes(bad)) is None


def test_jpeg_codec_exact_on_constant_blocks(spark):
    """jpeg_pixel_bytes fixtures decode BIT-EXACTLY through the real
    entropy codec: constant 8x8 blocks have DC-only DCTs, and an
    all-ones quant table stores the DC losslessly — including
    non-multiple-of-8 edges (edge-replication padding keeps partial
    blocks constant)."""
    from baker_spark.datapipe import multimodal as M

    for w, h, seed in [(8, 8, 0), (27, 21, 7), (24, 16, 3), (9, 10, 255), (31, 23, 13)]:
        got = M.decode_jpeg_pixels(M.jpeg_pixel_bytes(w, h, seed))
        assert got is not None
        gw, gh, ch, px = got
        assert (gw, gh, ch) == (w, h, 1)
        want = bytes(
            (5 * (x // 8) + 3 * (y // 8) + seed) % 256
            for y in range(h) for x in range(w)
        )
        assert bytes(px) == want


def test_jpeg_codec_general_roundtrip(spark):
    """The codec is a GENERAL baseline coder, not a constant-block
    trick: pseudorandom images exercise the full AC run/size + ZRL
    path and round-trip within 1 gray level at all-ones quant
    (float DCT rounding), restart markers resync the DC predictor,
    and a coarse quant table still decodes to plausible pixels."""
    import random

    import numpy as np

    from baker_spark.datapipe.jpegcodec import decode_jpeg_pixels, encode_gray_jpeg

    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, size=(24, 40), dtype=np.uint8)
    j = encode_gray_jpeg(img.tobytes(), 40, 24)
    w, h, ch, px = decode_jpeg_pixels(j)
    assert (w, h, ch) == (40, 24, 1)
    got = np.frombuffer(bytes(px), dtype=np.uint8).astype(int).reshape(24, 40)
    assert np.abs(got - img.astype(int)).max() <= 1

    # restart markers: DRI + RSTn every 2 MCUs, still within 1
    j2 = encode_gray_jpeg(img.tobytes(), 40, 24, restart_interval=2)
    assert b"\xff\xd0" in j2 or b"\xff\xd1" in j2
    w, h, ch, px2 = decode_jpeg_pixels(j2)
    got2 = np.frombuffer(bytes(px2), dtype=np.uint8).astype(int).reshape(24, 40)
    assert np.abs(got2 - img.astype(int)).max() <= 1

    # a coarse quant table quantizes hard but must stay decodable and
    # land within half a quant step per coefficient's worst case
    q = [16] * 64
    j3 = encode_gray_jpeg(img.tobytes(), 40, 24, qtable=q)
    out3 = decode_jpeg_pixels(j3)
    assert out3 is not None and (out3[0], out3[1]) == (40, 24)

    # totality: junk, truncations, and progressive SOF -> None, no raise
    rnd = random.Random(17)
    for _ in range(400):
        decode_jpeg_pixels(bytes(rnd.randrange(256) for _ in range(rnd.randrange(0, 90))))
    for i in range(0, len(j), 5):
        decode_jpeg_pixels(j[:i])
    prog = bytearray(j)
    sof = prog.find(b"\xff\xc0")
    prog[sof + 1] = 0xC2  # progressive DCT: out of envelope
    assert decode_jpeg_pixels(bytes(prog)) is None


def test_url_param_decodes_like_go_query_get(spark):
    """url.Query().Get returns the DECODED value (%XX and '+'→space,
    url_param.go:61-63); parse_url alone returns the encoded text."""
    df = spark.createDataFrame(
        [
            (1, "http://x/p?q=hello%20world&r=1"),
            (2, "http://x/p?q=a+b"),
            (3, "http://x/p?other=1"),
        ],
        ["id", "url"],
    )
    out = {r.id: r.q for r in ops.URLParam(src_field="url", dst_field="q", param="q").apply(df).collect()}
    assert out == {1: "hello world", 2: "a b", 3: ""}


def test_format_time_rfc3339nano_zero_to_nine_fraction_digits(spark):
    """Go's .999999999 TRIMS trailing zeros: a whole second has NO
    fraction at all, full precision has nine digits — both must parse;
    the format side must trim like Go (no fixed-width zeros)."""
    df = spark.createDataFrame(
        [
            (1, "2026-01-02T15:04:05Z"),
            (2, "2026-01-02T15:04:05.5Z"),
            (3, "2026-01-02T15:04:05.123456789Z"),
        ],
        ["id", "t"],
    )
    out = {
        r.id: r.u
        for r in ops.FormatTime(
            src_field="t", dst_field="u", src_format="RFC3339Nano", dst_format="unixms"
        ).apply(df).collect()
    }
    assert out[1].isdigit() and out[2].isdigit() and out[3].isdigit()
    assert int(out[2]) - int(out[1]) == 500
    rt = {
        r.id: r.u
        for r in ops.FormatTime(
            src_field="t", dst_field="u", src_format="RFC3339Nano", dst_format="RFC3339Nano"
        ).apply(df).collect()
    }
    assert rt[1] == "2026-01-02T15:04:05Z"  # no bare dot, no zero padding
    assert rt[2] == "2026-01-02T15:04:05.5Z"
    assert rt[3] == "2026-01-02T15:04:05.123456Z"  # micros precision


def test_format_time_arbitrary_go_layout(spark):
    """format_time.go's default case accepts ANY Go layout; the engine
    translates it to a Java pattern instead of crashing the job with
    DATETIME_PATTERN_RECOGNITION."""
    df = spark.createDataFrame([(1, "2026/01/02 15:04")], ["id", "t"])
    out = ops.FormatTime(
        src_field="t", dst_field="u", src_format="2006/01/02 15:04", dst_format="DateOnly"
    ).apply(df).collect()
    assert out[0].u == "2026-01-02"


def test_timestamp_range_parseint_strict(spark):
    """strconv.ParseInt rejects floats and padded strings
    (timestamp_range.go:92); Spark's lax cast must not re-admit them."""
    df = spark.createDataFrame(
        [(1, "1700000000"), (2, "1700000000.9"), (3, " 1700000000 "), (4, "x")],
        ["id", "f"],
    )
    out = ops.TimestampRange(field="f", start_datetime=None, end_datetime=None).apply(df)
    assert [r.id for r in out.collect()] == [1]


def test_dedup_and_shard_unify_null_and_empty(spark):
    """The record model keys NULL and '' as the SAME empty value
    (record.go:35-39): Dedup must keep one of the pair, and Shard must
    route both to one shard."""
    df = spark.createDataFrame([(1, None), (2, ""), (3, "x")], ["id", "k"])
    kept = ops.Dedup(fields=["k"], order_by="id").apply(df)
    assert sorted(r.id for r in kept.collect()) == [1, 3]

    sharded = ops.Shard(field="k", procs=8, deterministic=True)
    import pyspark.sql.functions as SF

    shards = {
        r.k: r.s
        for r in df.select("k", sharded.shard_column().alias("s")).collect()
    }
    assert shards[None] == shards[""]


def test_notnull_and_regexmatch_accept_empty_fields(spark):
    """Fields=[] is legal in the reference (zero-iteration loop passes
    every record); reduce() without an initializer raised TypeError."""
    df = spark.createDataFrame([(1, "a")], ["id", "v"])
    assert ops.NotNull(fields=[]).apply(df).count() == 1
    assert ops.RegexMatch(fields=[], regexs=[]).apply(df).count() == 1
    assert ops.RegexMatch(fields=[], regexs=[], invert_match=True).apply(df).count() == 0


def test_expand_json_batches_jmespath_paths(spark):
    """Multiple UDF-routed paths share ONE pandas UDF (one json.loads
    per row), and custom true/false values map booleans only."""
    df = spark.createDataFrame(
        [(1, '{"a": {"b": 5}, "ok": true, "s": "true"}')], ["id", "j"]
    )
    out = ops.ExpandJSON(
        source="j",
        fields={"a.b": "ab", "ok": "okf", "s": "sf"},
        true_false_values=("YES", "NO"),
    ).apply(df).collect()[0]
    assert (out.ab, out.okf, out.sf) == ("5", "YES", "true")


def test_media_decode_payload_size_guard(spark):
    """Payloads over max_decode_bytes never reach the pure-python pixel
    codecs (the CPU-bomb guard): media_features skips them like any
    undecodable payload, resize_media passes them through UNCHANGED
    (never truncates/corrupts a decodable format it refused to decode),
    and the default cap is high enough that normal payloads are
    untouched."""
    from baker_spark.datapipe import multimodal as M

    small = M.png_pixel_bytes(6, 6, 1)
    big = M.png_pixel_bytes(40, 40, 2)  # decodable, but over the tiny cap
    assert len(big) > 256 >= len(small)
    df = spark.createDataFrame(
        [(1, bytearray(small)), (2, bytearray(big))], "doc_id long, payload binary"
    )

    feats = M.media_features(df, max_decode_bytes=256).collect()
    assert [r.doc_id for r in feats] == [1]
    # default cap (8 MiB): both decode
    assert len(M.media_features(df).collect()) == 2

    resized = {
        r.doc_id: bytes(r.payload)
        for r in M.resize_media(df, max_side=3, max_decode_bytes=256).collect()
    }
    assert resized[2] == big                      # oversized: untouched
    assert M.decode_png_pixels(resized[1])[:2] == (3, 3)  # small: resized


def test_media_decode_pixel_bomb_guard():
    """The byte cap alone can't bound decode work — decode time scales
    with DECODED samples, and headers can claim gigapixel dims from a
    tiny payload. Each codec must reject over-max_pixels dims from the
    header BEFORE its inflate loop, and the PNG inflate itself must be
    length-bounded (a stream longer than its declared dims dies at the
    bound, not after materializing)."""
    import struct
    import zlib

    from baker_spark.datapipe import multimodal as M
    from baker_spark.datapipe.jpegcodec import decode_jpeg_pixels

    # PNG claiming 60000x60000 gray (3.6G samples) from ~100 bytes
    ihdr = struct.pack(">IIBBBBB", 60000, 60000, 8, 0, 0, 0, 0)
    bomb = (
        M._PNG_SIG
        + M._png_chunk(b"IHDR", ihdr)
        + M._png_chunk(b"IDAT", zlib.compress(b"\x00" * 1024))
        + M._png_chunk(b"IEND", b"")
    )
    assert M.decode_png_pixels(bomb) is None

    # PNG whose zlib stream inflates LONGER than its declared 2x2 dims:
    # must be rejected at the bound (len check), not trusted
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    overlong = (
        M._PNG_SIG
        + M._png_chunk(b"IHDR", ihdr)
        + M._png_chunk(b"IDAT", zlib.compress(b"\x00" * 100_000))
        + M._png_chunk(b"IEND", b"")
    )
    assert M.decode_png_pixels(overlong) is None

    # a good payload still decodes under the default budget
    good = M.png_pixel_bytes(6, 6, 1)
    assert M.decode_png_pixels(good) is not None
    # and an explicit tiny budget rejects it the same way
    assert M.decode_png_pixels(good, max_pixels=4) is None

    # GIF descriptor claiming 65535x65535 from a tiny payload
    gif = bytearray(M.gif_pixel_bytes(4, 4, 0))
    # image descriptor = 0x2C with left=top=0 (a bare index(0x2C) would
    # hit the gray value 44 inside the palette)
    desc = bytes(gif).index(b"\x2c\x00\x00\x00\x00")
    struct.pack_into("<HH", gif, desc + 5, 65535, 65535)
    assert M.decode_gif_pixels(bytes(gif)) is None

    # JPEG SOF claiming 65535x65535
    jpg = bytearray(M.jpeg_pixel_bytes(8, 8, 0))
    sof = jpg.index(b"\xff\xc0")
    struct.pack_into(">HH", jpg, sof + 5, 65535, 65535)
    assert decode_jpeg_pixels(bytes(jpg)) is None
    # jpegcodec's literal default must track multimodal's constant
    import inspect

    sig = inspect.signature(decode_jpeg_pixels)
    assert sig.parameters["max_pixels"].default == M.MAX_DECODE_PIXELS


def test_png_bounded_inflate_rejects_stored_blocks_and_garbage():
    """The inflate drain must catch what an empty-input probe can't:
    stored (level-0) deflate blocks need input to resume, so an
    overlong stored stream previously slipped past the bound; trailing
    garbage after a valid stream must also reject (the eager
    zlib.decompress used to throw on both)."""
    import struct
    import zlib

    from baker_spark.datapipe import multimodal as M

    def png(idat_payload):
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)  # expects 6 raw bytes
        return (
            M._PNG_SIG
            + M._png_chunk(b"IHDR", ihdr)
            + M._png_chunk(b"IDAT", idat_payload)
            + M._png_chunk(b"IEND", b"")
        )

    raw = b"\x00\x01\x02" + b"\x00\x03\x04"  # 2 scanlines: filter0 + 2px
    assert M.decode_png_pixels(png(zlib.compress(raw))) is not None
    # valid stream in STORED blocks also decodes
    assert M.decode_png_pixels(png(zlib.compress(raw, 0))) is not None
    # overlong via stored blocks: inflate needs input to resume, the
    # old empty-probe check returned b'' and accepted it
    assert M.decode_png_pixels(png(zlib.compress(bytes(100), 0))) is None
    # trailing garbage after a complete stream
    assert M.decode_png_pixels(png(zlib.compress(raw) + b"JUNKJUNK")) is None
    # truncated stream (never reaches eof)
    assert M.decode_png_pixels(png(zlib.compress(raw)[:-4])) is None


def test_ann_search_rejects_typoed_kwargs_for_lsh(spark):
    import pytest

    from baker_spark.datapipe import vectors

    df = spark.createDataFrame(
        [(i, [float(i)] * 4) for i in range(5)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(TypeError, match="unexpected kwargs"):
        vectors.ann_search(df, method="lsh", nprobe=3)
    # max_rows is tolerated (auto-resolved calls carry it for brute)
    assert vectors.ann_search(df, k=2, method="lsh", max_rows=10).count() <= 2



@pytest.mark.parametrize("kernel", ["quantize", "dot", "dot_long", "cosine_c4", "d2"])
def test_vector_kernel_parity(spark, sf_dir, kernel):
    """Each Spark vector kernel (``vectors.spark_*_sql``) equals its
    DuckDB oracle twin (``duck_*``) value for value: every sf embedding
    paired with vector 0, plus one all-zero vector, whose cosine_c4 is
    pinned to 0 in both engines. Inputs are Python doubles (float32 ->
    float64 is exact), so both engines read identical values."""
    import duckdb
    import pandas as pd
    import pyarrow.parquet as pq

    from baker_spark.datapipe import vectors as V

    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet")).to_pydict()
    vecs = {int(i): [float(x) for x in v] for i, v in zip(t["vec_id"], t["embedding"])}
    b = vecs[0]
    rows = [(i, v, b) for i, v in sorted(vecs.items())] + [(-1, [0.0] * len(b), b)]

    sq, dq = V.spark_quantize_sql, V.duck_quantize
    spark_sql, duck_sql = {
        "quantize": (sq("a"), dq("a")),
        "dot": (V.spark_dot_sql("a", "b"), V.duck_dot("a", "b")),
        "dot_long": (V.spark_dot_long_sql(sq("a"), sq("b")), V.duck_dot_int(dq("a"), dq("b"))),
        "cosine_c4": (V.spark_cosine_c4_sql("a", "b"), f"CAST({V.duck_cosine_c4('a', 'b')} AS BIGINT)"),
        "d2": (V.spark_d2_sql(sq("a"), sq("b")), V.duck_d2(dq("a"), dq("b"))),
    }[kernel]

    df = spark.createDataFrame(rows, "id long, a array<double>, b array<double>")
    got = {r["id"]: r["k"] for r in df.selectExpr("id", f"{spark_sql} AS k").collect()}
    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["id", "a", "b"]))
    want = dict(
        con.execute(
            f"SELECT id, {duck_sql} FROM (SELECT id, a::DOUBLE[] AS a, b::DOUBLE[] AS b FROM t)"
        ).fetchall()
    )
    assert len(got) == len(rows) > 1
    assert got == want
    if kernel == "cosine_c4":
        assert got[-1] == 0


def test_jpeg_decode_crosses_idct_chunk_boundary(spark):
    """The chunked batched IDCT (bounded float64 intermediates) must be
    seamless across its 4096-block flush boundary: a 608x608 image is
    76x76 = 5776 blocks — one full chunk plus a remainder — and decodes
    bit-identically to the encoder's input at all-ones quant within the
    1-level float rounding envelope, with no discontinuity at block
    4096 (row 53 of the block grid)."""
    import numpy as np

    from baker_spark.datapipe.jpegcodec import decode_jpeg_pixels, encode_gray_jpeg

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, size=(608, 608), dtype=np.uint8)
    j = encode_gray_jpeg(img.tobytes(), 608, 608)
    w, h, ch, px = decode_jpeg_pixels(j)
    assert (w, h, ch) == (608, 608, 1)
    got = np.frombuffer(bytes(px), dtype=np.uint8).astype(int).reshape(608, 608)
    assert np.abs(got - img.astype(int)).max() <= 1


def test_format_time_epoch_parse_is_strict(spark):
    """ParseInt strictness (format_time.go:156): '1700000000.9' and
    ' 17 ' must clear dst, not truncate-cast to an epoch — the same
    rlike guard TimestampRange always had."""
    df = make_df(
        spark,
        [("1700000000",), ("1700000000.9",), (" 17 ",), ("-1",)],
        ["ts"],
    )
    out = ops.FormatTime(
        src_field="ts", dst_field="d", src_format="unix", dst_format="DateTime"
    ).apply(df)
    got = {r.ts: r.d for r in out.collect()}
    assert got["1700000000"] == "2023-11-14 22:13:20"
    assert got["1700000000.9"] == ""
    assert got[" 17 "] == ""
    assert got["-1"] == "1969-12-31 23:59:59"  # negative epochs are valid ints


def test_format_time_custom_layout_space_pad_and_mid_weekday(spark):
    """Custom Go layouts (not just the named ones) must honor _2
    space-padding and weekday tokens ANYWHERE in the pattern — Spark
    forbids E in parse patterns, so the weekday is stripped from
    pattern and input wherever it sits."""
    # custom layout with _2: day < 10 arrives double-spaced
    df = make_df(spark, [("Jan  2 15:04:05",), ("Jan 12 15:04:05",)], ["t"])
    out = ops.FormatTime(
        src_field="t", dst_field="d", src_format="Jan _2 15:04:05", dst_format="unix"
    ).apply(df)
    got = [r.d for r in out.collect()]
    assert "" not in got and len(set(got)) == 2
    # custom layout with a MID-pattern weekday
    df2 = make_df(spark, [("2024-03-05 Tue 06:07",)], ["t"])
    out2 = ops.FormatTime(
        src_field="t",
        dst_field="d",
        src_format="2006-01-02 Mon 15:04",
        dst_format="unix",
    ).apply(df2)
    assert out2.collect()[0].d == "1709618820"


def test_externalmatch_empty_values_matches_nothing(spark, generic):
    """An empty values iterable must behave like the reference's empty
    set (keep_on_match drops everything, anti keeps everything) — not
    crash on CANNOT_INFER_EMPTY_SCHEMA."""
    kept = ops.ExternalMatch(field_name="f1", values=[], keep_on_match=True).apply(generic)
    assert kept.count() == 0
    anti = ops.ExternalMatch(field_name="f1", values=[], keep_on_match=False).apply(generic)
    assert anti.count() == generic.count()


def test_phash60_construction_properties():
    """The 60-bit average hash: brightness-shift invariance (the aHash
    property, as long as no pixel wraps mod 256), uniform image -> 0,
    torn decode -> None, multi-channel luminance = channel sum."""
    from baker_spark.datapipe import multimodal as M

    w, h = 16, 12
    base = [((x + 2 * y) % 100) + 20 for y in range(h) for x in range(w)]
    shifted = [v + 50 for v in base]  # stays < 256: no wrap
    h1 = M.phash60(w, h, 1, base)
    h2 = M.phash60(w, h, 1, shifted)
    assert h1 == h2 and h1 is not None and 0 < h1 < (1 << 60)
    # uniform image: strict > never fires
    assert M.phash60(8, 8, 1, [7] * 64) == 0
    # 1x1: single cell equals the image mean
    assert M.phash60(1, 1, 1, [200]) == 0
    # torn decode (wrong pixel count) refuses
    assert M.phash60(4, 4, 1, [1, 2, 3]) is None
    assert M.phash60(0, 4, 1, []) is None
    # channels: per-pixel sum as luminance — (r+g+b) grid equals the
    # same grid pre-summed into one channel
    rgb = [c for v in base for c in (v, v // 2, 10)]
    summed = [v + v // 2 + 10 for v in base]
    assert M.phash60(w, h, 3, rgb) == M.phash60(w, h, 1, summed)


def test_media_phash_operator_matches_direct_decode(spark):
    """media_phash over real encoded payloads equals phash60 of the
    direct decoder output for every image format; WAV and raw-text
    payloads emit nothing (the honest-skip contract)."""
    from baker_spark.datapipe import multimodal as M

    ids = list(range(10))  # id % 5 cycles png/wav/gif/jpeg/text
    df = spark.createDataFrame([(i, f"doc {i}") for i in ids], "doc_id long, text string")
    out = M.media_phash(M.with_pixel_payload(df)).collect()
    got = {r.doc_id: r for r in out}
    assert set(got) == {i for i in ids if i % 5 in (0, 2, 3)}
    for i, r in got.items():
        fmt = {0: "png", 2: "gif", 3: "jpeg"}[i % 5]
        assert r.format == fmt
        dec = {
            "png": M.decode_png_pixels,
            "gif": M.decode_gif_pixels,
            "jpeg": M.decode_jpeg_pixels,
        }[fmt]
        pay = {
            "png": lambda i: M.png_pixel_bytes((i % 16) + 1, (i % 12) + 1, seed=i),
            "gif": lambda i: M.gif_pixel_bytes((i % 16) + 1, (i % 12) + 1, seed=i),
            "jpeg": lambda i: M.jpeg_pixel_bytes((i % 24) + 8, (i % 16) + 8, seed=i),
        }[fmt](i)
        pw, ph_, ch, px = dec(pay)
        assert (r.width, r.height) == (pw, ph_)
        assert r.phash == M.phash60(pw, ph_, ch, px)


def test_banded_hamming_pairs_phash_equals_brute_force(spark):
    """banded_hamming_pairs on an arbitrary 60-bit signature column is
    EXACTLY brute force at hamming <= 3 (pigeonhole over 4 x 15-bit
    bands) when no cap binds — verified on image hashes with planted
    near-dups at hamming 0/1/3/4."""
    from baker_spark.datapipe import dedup

    base = 0x0123456789ABCDE  # 60-bit pattern
    sigs = [
        (0, base),
        (1, base),                      # hamming 0
        (2, base ^ 0b1),                # hamming 1 vs 0/1
        (3, base ^ 0b10110),            # hamming 4 vs 0/1 -> excluded
        (4, base ^ (1 << 59)),          # hamming 1, high bit
        (5, 0x0FFFFFFFFFFFFFF ^ base),  # far away
    ]
    df = spark.createDataFrame(sigs, "doc_id long, phash long")
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup.banded_hamming_pairs(df, "phash", band_cap=None).collect()
    }
    brute = set()
    for i in range(len(sigs)):
        for j in range(i + 1, len(sigs)):
            d = bin(sigs[i][1] ^ sigs[j][1]).count("1")
            if d <= 3:
                brute.add((sigs[i][0], sigs[j][0], d))
    assert got == brute and (0, 1, 0) in got and (0, 4, 1) in got
    # capped path agrees when the cap doesn't bind
    capped = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup.banded_hamming_pairs(df, "phash", band_cap=200).collect()
    }
    assert capped == brute


def test_audio_fp60_construction_properties():
    """Delta-sign fingerprint: amplitude scaling and DC offset preserve
    it (slopes keep their signs), short recordings zero-fill the tail,
    empty input refuses."""
    from baker_spark.datapipe import multimodal as M

    base = [((37 * j) % 200) - 100 for j in range(80)]
    scaled = [v * 3 for v in base]
    offset = [v + 500 for v in base]
    fp = M.audio_fp60(base)
    assert fp == M.audio_fp60(scaled) == M.audio_fp60(offset)
    assert fp is not None and 0 < fp < (1 << 60)
    # a recording with n samples sets only the first n-1 bits
    assert M.audio_fp60([1, 2]) == 1
    assert M.audio_fp60([2, 1]) == 0
    assert M.audio_fp60([5]) == 0
    assert M.audio_fp60([]) is None
    # hamming between base and a one-sample corruption is exactly the
    # two slope signs the dent reverses (deltas 9->10 and 10->11)
    dented = list(base)
    dented[10] = -2000
    d = bin(fp ^ M.audio_fp60(dented)).count("1")
    assert d == 2


def test_media_audio_fp_matches_direct_decode(spark):
    """media_audio_fp over real WAV payloads equals audio_fp60 of the
    direct decoder output; image and text payloads emit nothing."""
    from baker_spark.datapipe import multimodal as M

    ids = list(range(10))
    df = spark.createDataFrame([(i, f"doc {i}") for i in ids], "doc_id long, text string")
    out = {r.doc_id: r for r in M.media_audio_fp(M.with_pixel_payload(df)).collect()}
    assert set(out) == {i for i in ids if i % 5 == 1}
    for i, r in out.items():
        pay = M.wav_pcm_bytes(8000 * (1 + i % 3), (i % 64) + 16, seed=i)
        ch, rate, samples = M.decode_wav_samples(pay)
        assert (r.sample_rate, r.n_samples) == (rate, len(samples))
        assert r.afp == M.audio_fp60(samples)


def test_llm_filter_hoisting_metadata(spark):
    """GopherQuality/C4Filter are expensive pure predicates (hoist-
    eligible in shape, skipped by the cost rule, elidable never since
    they stay in the chain); C4Clean writes its field; NearDupDrop is a
    barrier — the chain splitter must not hoist a later predicate
    across it."""
    from baker_spark import operators as ops

    chain = [
        ops.GopherQuality(field="text"),
        ops.C4Clean(field="text"),
        ops.NearDupDrop(field="text", id_field="doc_id"),
        ops.NotNull(["doc_id"]),  # after the barrier: must NOT hoist
    ]
    preds, rest = ops.split_chain(chain)
    assert preds == []  # gopher is expensive_predicate; rest blocked
    assert [type(o).__name__ for o in rest] == [
        "GopherQuality", "C4Clean", "NearDupDrop", "NotNull",
    ]
    # a cheap predicate BEFORE the battery still hoists and elides
    chain2 = [ops.NotNull(["doc_id"]), ops.GopherQuality(field="text")]
    preds2, rest2 = ops.split_chain(chain2)
    assert len(preds2) == 1
    assert [type(o).__name__ for o in rest2] == ["GopherQuality"]
