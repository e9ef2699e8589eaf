"""Session settings and the table loader's schema cache: configure()'s
fast path must notice a drifted sentinel conf, and a table rewritten by
write-then-rename must never be served its old schema."""

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
