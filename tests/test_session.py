"""Session settings, fan_out's split cache and the table loader's schema
cache: configure()'s fast path must notice a drifted sentinel conf, the
split-count cache must stay scoped to the scan it was stamped on, and a
rewritten table must never be served its old schema."""

import os
import shutil

from baker_spark.session import RUNTIME_CONFS, configure

ESCAPED = "spark.sql.parser.escapedStringLiterals"


def test_configure_repins_after_escaped_literals_flip(spark):
    """A mid-session flip of the string-literal parser mode would double
    every backslash the expr-string compilers escape, so the next
    configure() must put the pinned settings back, not take its fast
    path."""
    configure(spark)
    assert spark._baker_configured
    tz = "spark.sql.session.timeZone"
    try:
        spark.conf.set(ESCAPED, "true")
        spark.conf.set(tz, "America/New_York")  # not a sentinel: re-pinned with the set
        configure(spark)
        assert spark.conf.get(ESCAPED) == RUNTIME_CONFS[ESCAPED]
        assert spark.conf.get(tz) == RUNTIME_CONFS[tz]
        assert spark.sql(r"SELECT '\\d' AS s").first().s == "\\d"
    finally:
        spark.conf.set(ESCAPED, RUNTIME_CONFS[ESCAPED])
        spark.conf.set(tz, RUNTIME_CONFS[tz])


def test_schema_key_senses_replace_by_rename(tmp_path):
    """Same size, same mtime, new inode: a write-then-rename rewrite.
    Only the inode tells it apart, for a file table and for a part file
    of a directory table."""
    from baker_spark.sources.tables import _schema_key

    def rewrite(path):
        tmp = str(tmp_path / "staged")
        shutil.copyfile(path, tmp)
        st = os.stat(path)
        os.utime(tmp, ns=(st.st_atime_ns, st.st_mtime_ns))
        os.replace(tmp, path)

    table = tmp_path / "t.parquet"
    table.write_bytes(b"x" * 64)
    before = _schema_key(str(table))
    rewrite(str(table))
    assert _schema_key(str(table)) != before

    part_dir = tmp_path / "d.parquet"
    part_dir.mkdir()
    part = part_dir / "part-0.parquet"
    part.write_bytes(b"y" * 64)
    dir_st = os.stat(part_dir)
    before = _schema_key(str(part_dir))
    rewrite(str(part))
    os.utime(part_dir, ns=(dir_st.st_atime_ns, dir_st.st_mtime_ns))
    assert _schema_key(str(part_dir)) != before


def test_fan_out_split_cache_scoped_to_stamped_frames(spark, sf_dir):
    from baker_spark import session as S
    from baker_spark.sources.tables import load_table

    df = load_table(spark, sf_dir, "documents")
    key = getattr(df, "_baker_split_key", None)
    assert key is not None and key[1].endswith("documents.parquet")
    S._SPLIT_COUNTS.pop(key, None)
    S.fan_out(df, by="doc_id")
    assert key in S._SPLIT_COUNTS  # stamped frame populated the cache
    # a derived frame must NOT read (or write) the scan's cached count:
    # poison the cache and check the derived frame ignores it
    derived = df.repartition(3, "doc_id")
    assert getattr(derived, "_baker_split_key", None) is None
    S._SPLIT_COUNTS[key] = 1
    out = S.fan_out(derived, by="doc_id")
    # current=3 >= target would be False at cpus=4... regardless of the
    # decision, the derived frame's introspection must see ITS count (3),
    # not the poisoned scan count (1): with target=4 and current=3 a
    # repartition happens; with the poisoned 1 it would also happen —
    # so assert on the introspection path instead: the cache entry for
    # the scan is untouched by the derived call
    assert S._SPLIT_COUNTS[key] == 1
    assert out is not None
    S._SPLIT_COUNTS.pop(key, None)


def test_schema_cache_returns_same_schema(spark, sf_dir):
    from baker_spark.sources import tables as T

    T._SCHEMA_CACHE.clear()
    df1 = T.load_table(spark, sf_dir, "lineitem")  # populates
    assert any(k.endswith("lineitem.parquet") for k in T._SCHEMA_CACHE)
    df2 = T.load_table(spark, sf_dir, "lineitem")  # schema'd read
    assert df1.schema == df2.schema
    assert df1.count() == df2.count()


def test_schema_cache_invalidates_on_rewrite(spark, tmp_path):
    """A parquet file rewritten at the same path with a different schema
    must re-infer — a stale cached schema would silently read renamed
    columns back as NULL."""
    import os
    import shutil
    import pyarrow as pa
    import pyarrow.parquet as pq
    from baker_spark.sources import tables as T

    sf = str(tmp_path)
    path = os.path.join(sf, "documents.parquet")
    pq.write_table(pa.table({"doc_id": [1, 2], "text": ["a", "b"]}), path)
    df1 = T.load_table(spark, sf, "documents")
    assert set(df1.columns) == {"doc_id", "text"}
    # rewrite at the same path with a changed column set (mtime moves)
    pq.write_table(
        pa.table({"doc_id": [1], "text": ["a"], "lang": ["en"]}), path
    )
    os.utime(path, ns=(1, 1))  # force a distinct mtime even on coarse clocks
    df2 = T.load_table(spark, sf, "documents")
    assert set(df2.columns) == {"doc_id", "text", "lang"}, (
        "rewritten file served with the stale cached schema"
    )
    shutil.rmtree(sf, ignore_errors=True)


def test_schema_cache_one_entry_per_path(spark, tmp_path):
    """A rewritten file REPLACES its cache entry (no per-rewrite leak)."""
    import os
    import pyarrow as pa
    import pyarrow.parquet as pq
    from baker_spark.sources import tables as T

    sf = str(tmp_path)
    path = os.path.join(sf, "documents.parquet")
    pq.write_table(pa.table({"doc_id": [1], "text": ["a"]}), path)
    T.load_table(spark, sf, "documents")
    n0 = len(T._SCHEMA_CACHE)
    pq.write_table(pa.table({"doc_id": [1], "lang": ["en"]}), path)
    os.utime(path, ns=(1, 1))
    df = T.load_table(spark, sf, "documents")
    assert set(df.columns) == {"doc_id", "lang"}
    assert len(T._SCHEMA_CACHE) == n0, "rewrite leaked a stale cache entry"
