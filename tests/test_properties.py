"""Property-based tests: operator semantics vs direct Python models.
The reference has no fuzz suite (SURVEY.md §5) — this goes beyond it.
Batched: each example builds one small DataFrame and compares whole-
result sets, keeping Spark round-trips per example to one job."""

import os

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import Row, functions as F

from baker_spark import operators as ops

#: BAKER_FUZZ_EXAMPLES=200 pytest tests/test_properties.py -> intensive run
SETTINGS = dict(
    max_examples=int(os.environ.get("BAKER_FUZZ_EXAMPLES", "12")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

token = st.sampled_from(["a", "b", "cc", "dd", ""])


@st.composite
def clauses(draw, depth=0):
    if depth >= 3 or draw(st.booleans()):
        field = draw(st.sampled_from(["f1", "f2"]))
        value = draw(st.sampled_from(["a", "b", "cc", "zz"]))
        return ["atom", field, value]
    op = draw(st.sampled_from(["and", "or", "not"]))
    n = 1 if op == "not" else draw(st.integers(0, 3))
    return [op] + [draw(clauses(depth=depth + 1)) for _ in range(n)]


def to_sexpr(node):
    if node[0] == "atom":
        return f"({node[1]} {node[2]})"
    return "(" + node[0] + "".join(" " + to_sexpr(c) for c in node[1:]) + ")"


def eval_model(node, rec):
    """Python model of clausefilter.go:251-282."""
    if node[0] == "atom":
        return rec.get(node[1], "") == node[2]
    if node[0] == "and":
        return all(eval_model(c, rec) for c in node[1:]) if len(node) > 1 else False
    if node[0] == "or":
        return any(eval_model(c, rec) for c in node[1:]) if len(node) > 1 else True
    return not eval_model(node[1], rec)


@given(clause=clauses(), rows=st.lists(st.tuples(token, token), min_size=1, max_size=8))
@settings(**SETTINGS)
def test_clausefilter_matches_model(spark, clause, rows):
    text = to_sexpr(clause)
    df = spark.createDataFrame([Row(f1=a, f2=b) for a, b in rows])
    got = sorted(tuple(r) for r in ops.ClauseFilter(text).apply(df).collect())
    want = sorted((a, b) for a, b in rows if eval_model(clause, {"f1": a, "f2": b}))
    assert got == want, f"clause={text}"


@given(
    rows=st.lists(
        st.text(alphabet=st.characters(codec="utf-8", exclude_characters="\x00"), max_size=20),
        min_size=1,
        max_size=6,
    ),
    start=st.integers(0, 12),
    length=st.integers(0, 12),
)
@settings(**SETTINGS)
def test_slice_matches_byte_model(spark, rows, start, length):
    end = start + length
    df = spark.createDataFrame([Row(s=v) for v in rows])
    out = ops.Slice(src="s", dst="d", start_idx=start, end_idx=end).apply(df)
    got = sorted((r.s, r.d) for r in out.collect())
    want = sorted(
        (v, v.encode()[start:end].decode("utf-8", errors="replace")) for v in rows
    )
    assert got == want


@given(epochs=st.lists(st.integers(0, 4_000_000_000), min_size=1, max_size=8))
@settings(**SETTINGS)
def test_format_time_roundtrip(spark, epochs):
    df = spark.createDataFrame([Row(ts=str(e)) for e in epochs])
    out = ops.FormatTime(src_field="ts", dst_field="dt", src_format="unix", dst_format="DateTime").apply(df)
    out = ops.FormatTime(src_field="dt", dst_field="back", src_format="DateTime", dst_format="unix").apply(out)
    assert sorted((r.ts, r.back) for r in out.collect()) == sorted((str(e), str(e)) for e in epochs)


@given(
    rows=st.lists(st.tuples(token, token), min_size=1, max_size=8),
    strings=st.lists(st.sampled_from(["a", "b", "cc", "zz"]), min_size=1, max_size=3),
    invert=st.booleans(),
)
@settings(**SETTINGS)
def test_stringmatch_matches_model(spark, rows, strings, invert):
    df = spark.createDataFrame([Row(f1=a, f2=b) for a, b in rows])
    out = ops.StringMatch(field="f1", strings=strings, invert_match=invert).apply(df)
    got = sorted(tuple(r) for r in out.collect())
    want = sorted((a, b) for a, b in rows if (a in strings) == invert)
    assert got == want


# ------------------------------------------------------ oracle foundation ---

text_strat = st.text(
    alphabet=st.characters(codec="utf-8", exclude_characters="'\\\x00"),
    min_size=0,
    max_size=40,
)


@given(values=st.lists(text_strat, min_size=1, max_size=6, unique=True))
@settings(**SETTINGS)
def test_md5_long_cross_engine(spark, values):
    """md5_long (Spark) == duck_md5_long (DuckDB) on arbitrary strings —
    the identity every dedup/LSH oracle in the repo depends on."""
    import duckdb

    from baker_spark.functions.hashing import duck_md5_long, md5_long

    df = spark.createDataFrame([Row(s=v) for v in values])
    got = {r.s: r.h for r in df.select("s", md5_long("s").alias("h")).collect()}
    con = duckdb.connect()
    for v in values:
        expected = con.execute(
            f"SELECT {duck_md5_long('?::VARCHAR')}", [v]
        ).fetchone()[0]
        assert got[v] == expected, v
    con.close()


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["w1", "w2", "w3", "x", ""]), min_size=0, max_size=7).map(" ".join),
        min_size=1,
        max_size=4,
        unique=True,
    ),
    n=st.integers(2, 4),
)
@settings(**SETTINGS)
def test_word_shingles_cross_engine(spark, docs, n):
    """word_shingles (Spark) == duck_word_shingles (DuckDB), including the
    short-doc empty-array edge."""
    import duckdb

    from baker_spark.datapipe.text import duck_word_shingles, word_shingles

    df = spark.createDataFrame([Row(t=d) for d in docs])
    got = {r.t: r.sh for r in df.select("t", word_shingles("t", n).alias("sh")).collect()}
    con = duckdb.connect()
    for d in docs:
        sql = f"SELECT {duck_word_shingles('?::VARCHAR', n)}"
        expected = con.execute(sql, [d] * sql.count("?")).fetchone()[0]
        assert got[d] == expected, (d, n)
    con.close()


scrub_word = st.sampled_from(
    [
        "see", "a.b@ex.co", "bob@x", "@", "http://x.io/p?q=1", "https://y",
        "1234567", "123456", "mail.me", "a@b.cdef", "...", "x9y",
    ]
)


@given(docs=st.lists(st.lists(scrub_word, min_size=0, max_size=8).map(" ".join), min_size=1, max_size=5, unique=True))
@settings(**SETTINGS)
def test_scrub_cross_engine(spark, docs):
    """scrub (Spark/Java regex) == duck_scrub_sql (DuckDB/RE2-style) on
    adversarial URL/email/number fragments."""
    import duckdb

    from baker_spark.datapipe.text import duck_scrub_sql, scrub

    df = spark.createDataFrame([Row(t=d) for d in docs])
    cols = scrub("t")
    got = {
        r.t: (r.n_url, r.n_email, r.n_longnum, r.clean_text)
        for r in df.select("t", *[c.alias(n) for n, c in cols.items()]).collect()
    }
    con = duckdb.connect()
    # $1 positional params: the patterns themselves contain '?', which
    # would corrupt qmark-style parameter counting
    sqls = duck_scrub_sql("$1::VARCHAR")
    for d in docs:
        sql = (
            f"SELECT {sqls['n_url']} AS u, {sqls['n_email']} AS e, "
            f"{sqls['n_longnum']} AS n, {sqls['clean_text']} AS c"
        )
        row = con.execute(sql, [d]).fetchone()
        assert got[d] == row, d
    con.close()


def test_long_document_fixed_point_stays_exact(spark):
    """The fixed-point sites multiply shingle/char counts by 1e6-scale
    literals; INT arithmetic wraps at 2^31 under ansi=false once a doc
    passes ~2150 shingles, silently dropping exact-duplicate pairs and
    inverting the repetition signal for long docs. All sites now cast to
    BIGINT first — this pins it with a 3000-shingle duplicate pair."""
    from baker_spark.datapipe.dedup import ngram_jaccard_pairs
    from baker_spark.datapipe.text import quality_flags, repetition_stats

    words = " ".join(f"w{i}" for i in range(3000))  # ~3000 distinct shingles
    df = spark.createDataFrame([(1, words), (2, words)], ["doc_id", "text"])
    pairs = ngram_jaccard_pairs(df).collect()
    assert len(pairs) == 1 and pairs[0].jaccard_c6 == 1000000  # exact dup found

    spam = " ".join(["a b c"] * 2500)  # 7498 shingles, 7 distinct
    df2 = spark.createDataFrame([(1, spam)], ["doc_id", "text"])
    rep = repetition_stats("text")
    row = df2.select(*[c.alias(n) for n, c in rep.items()]).collect()[0]
    assert row.n_shingles == 7498
    assert 0 < row.rep_ratio_c6 <= 1000000  # wrapped arithmetic went negative
    q = quality_flags("text")
    qrow = df2.select(q["mean_word_len_c2"].alias("m")).collect()[0]
    assert 0 < qrow.m < 10000


def test_simhash_overflows_loudly_past_lane_capacity(spark):
    """Past 2^16 distinct words a SWAR lane carry would corrupt the
    signature identically in BOTH engines (unfalsifiable by the oracle
    harness) — the job must fail with a clear message instead."""
    import pytest as _pytest

    from baker_spark.datapipe.dedup import simhash

    big = " ".join(f"t{i}" for i in range(1 << 16))
    df = spark.createDataFrame([(1, big)], ["doc_id", "text"])
    with _pytest.raises(Exception, match="SWAR"):
        simhash(df).collect()
    ok = " ".join(f"t{i}" for i in range((1 << 16) - 1))
    assert simhash(spark.createDataFrame([(1, ok)], ["doc_id", "text"])).count() == 1


def test_prefix_filter_jaccard_completeness(spark):
    """The All-Pairs prefix filter + PPJoin size/positional pruning must
    find EXACTLY the brute-force jaccard >= t pairs (completeness is a
    theorem; this guards the integer filter arithmetic on random
    corpora, including threshold-straddling near-duplicates)."""
    import itertools
    import random

    from baker_spark.datapipe.dedup import ngram_jaccard_pairs

    rng = random.Random(20260813)
    vocab = [f"w{i}" for i in range(30)]
    for trial in range(3):
        docs = []
        base = [rng.choice(vocab) for _ in range(rng.randint(3, 24))]
        for i in range(24):
            if rng.random() < 0.5 and len(base) >= 3:
                # near-duplicate of base with light edits -> pairs that
                # straddle the 0.8 threshold
                d = list(base)
                for _ in range(rng.randint(0, 3)):
                    pos = rng.randrange(len(d))
                    d[pos] = rng.choice(vocab)
                docs.append(" ".join(d))
            else:
                docs.append(
                    " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 20)))
                )

        def shingles(text):
            w = text.split(" ")
            return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

        expected = set()
        sets_ = [shingles(d) for d in docs]
        for a, b in itertools.combinations(range(len(docs)), 2):
            union = len(sets_[a] | sets_[b])
            if union == 0:
                continue
            inter = len(sets_[a] & sets_[b])
            if inter * 1000000 // union >= 800000:
                expected.add((a, b, inter * 1000000 // union))

        df = spark.createDataFrame(
            [Row(doc_id=i, text=d) for i, d in enumerate(docs)]
        )
        got = {
            (r.doc_a, r.doc_b, r.jaccard_c6)
            for r in ngram_jaccard_pairs(df).collect()
        }
        assert got == expected, f"trial {trial}: {got ^ expected}"


# ------------------------------------------------ TCP chunker invariants


@given(
    lines=st.lists(st.binary(min_size=0, max_size=60).map(lambda b: b.replace(b"\n", b"x")), min_size=0, max_size=30),
    chunk_bytes=st.integers(min_value=1, max_value=64),
    terminated=st.booleans(),
)
@settings(**SETTINGS)
def test_tcp_chunker_never_tears_or_drops(tmp_path_factory, lines, chunk_bytes, terminated):
    """For ANY payload and chunk size: spooled bytes reassemble to the
    payload (modulo the completed final newline), every spool file holds
    only whole lines, and line count is preserved — the tcp.go:162-207
    contract."""
    import glob
    import gzip
    import io
    import os

    from baker_spark.streaming.tcp import TCPGzipListener

    payload = b"\n".join(lines) + (b"\n" if terminated and lines else b"")
    spool = str(tmp_path_factory.mktemp("spool"))
    listener = TCPGzipListener(spool, port=0, chunk_bytes=chunk_bytes)
    # drive the stream handler directly (no sockets): same code path,
    # deterministic, hypothesis-speed
    listener._handle_stream(io.BytesIO(gzip.compress(payload)))
    files = sorted(glob.glob(os.path.join(spool, "tcp-*.csv")))
    data = b"".join(open(f, "rb").read() for f in files)
    expected = payload if (not payload or payload.endswith(b"\n")) else payload + b"\n"
    assert data == expected
    for f in files:
        content = open(f, "rb").read()
        assert content.endswith(b"\n")


# ------------------------------------------------- SQS parse properties


@given(path=st.text(alphabet="abcdefgh/._-", min_size=1, max_size=40))
@settings(**SETTINGS)
def test_sqs_sns_roundtrip_any_path(path):
    """SNS wrapping then parsing returns the original path for any
    path-ish string; with Bucket set, exactly the key survives."""
    import json

    from baker_spark.streaming.sqs import SQSConfig

    body = json.dumps({"Message": f"s3://bkt/{path}"})
    assert SQSConfig(message_format="sns").parse_function()(body) == f"s3://bkt/{path}"
    rel = SQSConfig(message_format="sns", bucket="bkt").parse_function()(body)
    assert rel == path.lstrip("/")


# ------------------------------------ [filterchain] procs equivalence


@st.composite
def op_chains(draw):
    """Random mixes of predicates, transforms, joins and fan-outs."""
    pool = []
    have_t = False
    for _ in range(draw(st.integers(1, 5))):
        kind = draw(
            st.sampled_from(
                ["clause", "notnull", "stringmatch", "concat", "dedup", "external", "explode"]
            )
        )
        if kind == "clause":
            pool.append(ops.ClauseFilter(f"(or (f1 a) (f2 {draw(token) or 'zz'}))"))
        elif kind == "notnull":
            pool.append(ops.NotNull([draw(st.sampled_from(["f1", "f2"]))]))
        elif kind == "stringmatch":
            fields = ["f1", "f2"] + (["t"] if have_t else [])
            pool.append(
                ops.StringMatch(
                    field=draw(st.sampled_from(fields)),
                    strings=["a", "cc"],
                    invert_match=draw(st.booleans()),
                )
            )
        elif kind == "concat":
            have_t = True
            pool.append(ops.Concatenate(["f1", "f2"], target="t", separator="-"))
        elif kind == "dedup":
            # order_by pins the survivor so both evaluation orders agree
            pool.append(ops.Dedup(fields=["f1"], order_by="f2"))
        elif kind == "external":
            # join-based predicate: stays a join in the chain
            pool.append(
                ops.ExternalMatch(
                    field_name="f2", values=["a", "dd"], keep_on_match=draw(st.booleans())
                )
            )
        else:
            # fan-out: one row -> N rows; later predicates see its output
            pool.append(ops.Explode(source="f1", dst="f1", separator="c"))
    return pool


@given(chain=op_chains(), rows=st.lists(st.tuples(token, token), min_size=1, max_size=6))
@settings(**SETTINGS)
def test_chain_procs_equivalent_to_plain_chain(spark, chain, rows):
    """For ANY chain mix, widening a one-partition source to
    ``chain_procs`` (Catalyst then places the chain's filters around the
    exchange) produces exactly the plain left-fold's multiset of rows.
    Concatenate may write a field a later StringMatch reads; Dedup,
    ExternalMatch and Explode must keep their place in the chain."""
    from baker_spark.pipeline import Pipeline

    df = spark.createDataFrame([Row(f1=a, f2=b) for a, b in rows]).coalesce(1)
    plain = ops.chain(df, chain)
    plain = plain.drop(*[c for c in plain.columns if c.startswith("_bk_")])
    want = sorted(map(tuple, plain.collect()))
    widened = Pipeline(source=df, ops=chain, chain_procs=3).dataframe(spark)
    assert "Repartition 3, true" in widened._jdf.queryExecution().analyzed().toString()
    got = sorted(map(tuple, widened.collect()))
    assert got == want


# ------------------------------------------------- http line splitting ---

@given(
    lines=st.lists(
        st.text(
            # printable unicode incl. multi-byte chars, no line breaks
            st.characters(blacklist_categories=("Cs", "Cc")),
            min_size=0,
            max_size=40,
        ),
        min_size=0,
        max_size=30,
    ),
    crlf=st.booleans(),
    trailing_newline=st.booleans(),
    block=st.integers(1, 64),
)
@settings(**SETTINGS)
def test_iter_line_blocks_matches_line_model(lines, crlf, trailing_newline, block):
    """iter_line_blocks must produce exactly the non-empty lines of the
    payload — regardless of block size (multi-byte UTF-8 chars split
    across read() boundaries), \\r\\n vs \\n, and a missing final
    newline. The model is the reference's newline-record dialect: split
    on \\n, strip one trailing \\r, drop empties."""
    import io

    from baker_spark.sources import http_datasource as hd

    lines = [ln.replace("\n", "").replace("\r", "") for ln in lines]
    sep = "\r\n" if crlf else "\n"
    payload = sep.join(lines) + (sep if trailing_newline and lines else "")
    data = payload.encode("utf-8")

    expected = [ln for ln in payload.split("\n")]
    expected = [ln[:-1] if ln.endswith("\r") else ln for ln in expected]
    expected = [ln for ln in expected if ln]

    old = hd._BLOCK_BYTES
    hd._BLOCK_BYTES = block  # force many boundary crossings
    try:
        got = [ln for blk in hd.iter_line_blocks(io.BytesIO(data)) for ln in blk]
    finally:
        hd._BLOCK_BYTES = old
    assert got == expected


# ------------------------------------------------- multimodal decode ---

@given(
    w=st.integers(1, 65535),
    h=st.integers(1, 65535),
    apps=st.lists(
        st.tuples(st.integers(0xE0, 0xEF), st.binary(min_size=0, max_size=12)),
        min_size=0,
        max_size=3,
    ),
    fills=st.integers(0, 2),
)
@settings(**SETTINGS)
def test_jpeg_marker_walk_skips_arbitrary_app_segments(w, h, apps, fills):
    """The SOFn scan must survive any prefix of APPn segments (with
    arbitrary payloads) and 0xFF fill bytes, and still read the true
    dimensions from the first SOF0."""
    import struct

    from baker_spark.datapipe import multimodal

    blob = b"\xff\xd8"
    for marker, payload in apps:
        blob += bytes([0xFF, marker]) + struct.pack(">H", 2 + len(payload)) + payload
    blob += b"\xff" * fills
    blob += multimodal.jpeg_bytes(w, h)[2:]  # SOF0 + EOI from the fixture
    meta = multimodal.decode_payload(blob)
    assert (meta["format"], meta["width"], meta["height"]) == ("jpeg", w, h)


@given(blob=st.binary(min_size=0, max_size=120))
@settings(**SETTINGS)
def test_decode_payload_is_total_on_arbitrary_bytes(blob):
    """Whatever bytes arrive (truncated headers, hostile lengths), the
    decoder returns a full metadata row — never raises. Fields stay
    non-negative and n_bytes/head_hex always reflect the payload."""
    from baker_spark.datapipe import multimodal

    meta = multimodal.decode_payload(blob)
    assert meta["n_bytes"] == len(blob)
    assert meta["head_hex"] == blob[:8].hex()
    assert meta["format"] in ("png", "wav", "jpeg", "gif", "fake/v1")
    for k in ("width", "height", "bit_depth", "channels", "sample_rate", "duration_ms"):
        assert meta[k] >= 0


@given(
    w=st.integers(1, 40),
    h=st.integers(1, 32),
    seed=st.integers(0, 10_000),
)
@settings(**SETTINGS)
def test_jpeg_codec_roundtrip_any_image_within_one(w, h, seed):
    """Arbitrary pixel content (not just the constant-block fixture)
    round-trips through the REAL entropy codec within 1 gray level at
    all-ones quant — the bound set by FDCT coefficient rounding. Covers
    1xN / Nx1 degenerate dims, non-multiple-of-8 edges, and the AC
    run/size + ZRL paths that the exact fixture never emits."""
    import random

    import numpy as np

    from baker_spark.datapipe.jpegcodec import decode_jpeg_pixels, encode_gray_jpeg

    rng = random.Random(seed)
    px = bytes(rng.randrange(256) for _ in range(w * h))
    out = decode_jpeg_pixels(encode_gray_jpeg(px, w, h))
    assert out is not None
    gw, gh, ch, got = out
    assert (gw, gh, ch) == (w, h, 1)
    a = np.frombuffer(bytes(got), dtype=np.uint8).astype(int)
    b = np.frombuffer(px, dtype=np.uint8).astype(int)
    assert np.abs(a - b).max() <= 1


@given(
    w=st.integers(1, 32),
    h=st.integers(1, 24),
    seed=st.integers(0, 1000),
    cut=st.integers(0, 400),
    flip_at=st.integers(0, 400),
    flip_to=st.integers(0, 255),
)
@settings(**SETTINGS)
def test_jpeg_decoder_total_under_truncation_and_mutation(w, h, seed, cut, flip_at, flip_to):
    """Any truncation or single-byte mutation of a valid JPEG either
    decodes (to the right dimensions) or returns None — never raises,
    never emits a wrong-sized buffer. The sniff-don't-crash contract the
    other three format decoders already hold."""
    from baker_spark.datapipe.jpegcodec import decode_jpeg_pixels
    from baker_spark.datapipe.multimodal import jpeg_pixel_bytes

    j = jpeg_pixel_bytes(w, h, seed)
    out = decode_jpeg_pixels(j[: cut % (len(j) + 1)])
    assert out is None or (out[0], out[1], out[2]) == (w, h, 1)
    mutated = bytearray(j)
    mutated[flip_at % len(j)] = flip_to
    out = decode_jpeg_pixels(bytes(mutated))
    if out is not None:
        ow, oh, ch, px = out
        assert len(px) == ow * oh * ch


def test_jpeg_decoder_total_on_short_sof_and_dri_bodies():
    """Two totality holes the random fuzz never drew (found in review):
    an SOF whose length field reads 10 (body shorter than the 9 bytes
    the single-component layout needs) must return None, not IndexError;
    a DRI segment with an empty body must return None, not struct.error."""
    from baker_spark.datapipe.jpegcodec import decode_jpeg_pixels
    from baker_spark.datapipe.multimodal import jpeg_pixel_bytes

    j = jpeg_pixel_bytes(8, 8, 0)
    sof_at = j.index(b"\xff\xc0")
    shortened = bytearray(j)
    shortened[sof_at + 3] = 10  # length 11 -> 10: comp_q now out of range
    assert decode_jpeg_pixels(bytes(shortened)) is None

    empty_dri = j[: sof_at] + b"\xff\xdd\x00\x02" + j[sof_at:]
    assert decode_jpeg_pixels(empty_dri) is None


@given(
    vecs=st.lists(
        st.lists(st.integers(-5, 5).map(float), min_size=8, max_size=8),
        min_size=6,
        max_size=14,
    ),
    qpick=st.integers(0, 13),
)
@settings(max_examples=int(os.environ.get("BAKER_FUZZ_EXAMPLES", "12")) // 3 + 1,
          deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
def test_ann_index_equals_inline_ivfpq(spark, tmp_path_factory, vecs, qpick):
    """Persisted-index search must equal the inline train+search on
    ARBITRARY small corpora — including ties, duplicate vectors and
    zero vectors, where only the pinned (d2, cid)/(d2_adc, id)
    tie-breaks keep the two paths aligned. Small ivfpq geometry
    (dim 8, m 2, ksub 4, kc 4) so each example is a handful of jobs."""
    from baker_spark.datapipe import ann_index, vectors

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    qid = qpick % len(vecs)
    kw = dict(kc=4, m=2, ksub=4, iters=1, dim=8)
    inline = vectors.ivfpq_topk(df, query_id=qid, k=5, nprobe=2, **kw)
    path = str(tmp_path_factory.mktemp("fuzzidx") / "i")
    ann_index.ann_index_build(df, path, method="ivfpq", **kw)
    out, _, _ = ann_index.ann_index_search(spark, path, vecs[qid], k=5, nprobe=2)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, inline.collect()))


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["red", "blue", "fox", "jumps", "wall"]), min_size=1, max_size=7),
        min_size=1,
        max_size=10,
    ),
    split=st.integers(0, 9),
)
@settings(**SETTINGS)
def test_incremental_neardup_matches_model(spark, docs, split):
    """incremental_neardup vs a direct Python model of its contract:
    same md5/affine/banding arithmetic, cross-corpus band-collision
    drop, greedy-by-id in-batch, sub-shingle docs excluded. A tiny word
    pool makes shared bands (and full near-dups) frequent."""
    import hashlib

    from baker_spark.datapipe import dedup
    from baker_spark.functions.hashing import MINHASH_P, minhash_params

    def model_bands(words):
        sh = (
            {" ".join(words[i : i + 3]) for i in range(len(words) - 2)}
            if len(words) >= 3
            else set()
        )
        if not sh:
            return None
        hs = [int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in sh]
        mins = [min((a * h + b) % MINHASH_P for h in hs) for a, b in minhash_params(16)]
        return {
            (
                b,
                hashlib.md5(
                    ",".join(str(mins[b * 4 + j]) for j in range(4)).encode()
                ).hexdigest(),
            )
            for b in range(4)
        }

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    cut = min(split, len(rows))
    seen_rows, new_rows = rows[:cut], rows[cut:]

    seen_bands = set()
    for i, _ in seen_rows:
        b = model_bands(docs[i])
        if b:
            seen_bands |= b
    kept1 = {
        i: b
        for i, _ in new_rows
        if (b := model_bands(docs[i])) is not None and not (b & seen_bands)
    }
    band_min: dict = {}
    for i, bs in kept1.items():
        for bk in bs:
            band_min[bk] = min(band_min.get(bk, i), i)
    want = sorted(i for i, bs in kept1.items() if all(band_min[bk] == i for bk in bs))

    schema = "doc_id long, text string"
    new_df = spark.createDataFrame(new_rows or [], schema)
    seen_df = spark.createDataFrame(seen_rows or [], schema)
    got = sorted(
        r["doc_id"] for r in dedup.incremental_neardup(new_df, seen_df).collect()
    )
    assert got == want, f"docs={docs} split={cut}"


@given(
    docs=st.lists(
        st.tuples(
            st.lists(st.sampled_from(["a", "b", "c", "z"]), min_size=0, max_size=6).map(" ".join),
            st.booleans(),  # in the target slice?
        ),
        min_size=1,
        max_size=5,
    ),
    model_cap=st.sampled_from([None, 1, 2, 100]),
)
@settings(**SETTINGS)
def test_kn_perplexity_cross_engine(spark, docs, model_cap):
    """kn_bigram_surprisal (Spark) == duck_kn_bigram_surprisal (DuckDB)
    on random corpora with random target slices — fuzzes smoothing
    branch COMBINATIONS (empty target, unseen w1, unseen continuation,
    single-type targets near the M <= 4*c1 boundary) that no pinned
    fixture anticipates."""
    import duckdb
    import pandas as pd

    from baker_spark.datapipe.text import duck_kn_bigram_surprisal, kn_bigram_surprisal
    from pyspark.sql import functions as F
    from tests.oracle_harness import compare

    rows = [(i, text, "en" if tgt else "xx") for i, (text, tgt) in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    con = duckdb.connect()
    con.register("_fixture", pd.DataFrame(rows, columns=["doc_id", "text", "lang"]))
    con.execute("CREATE VIEW documents AS SELECT * FROM _fixture")
    ok, msg = compare(
        kn_bigram_surprisal(df, target=F.col("lang") == "en", model_cap=model_cap),
        con,
        duck_kn_bigram_surprisal("lang = 'en'", model_cap=model_cap),
    )
    con.close()
    assert ok, f"{msg} docs={docs} cap={model_cap}"
