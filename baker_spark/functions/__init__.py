from baker_spark.functions.hashing import md5_long, duck_md5_long  # noqa: F401
from baker_spark.functions.numeric import dec, cents, micros  # noqa: F401


def sql_str(s: str) -> str:
    """A Spark-SQL single-quoted string literal for ``s``: backslashes
    and quotes escaped so regex patterns survive the SQL parser's
    unescaping byte-identical (``spark.sql.parser.escapedStringLiterals``
    is pinned false by ``session.configure``). The one spelling of a
    string literal inside an expr string."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_ident(name: str) -> str:
    """A backtick-quoted column name for an expr string: an embedded
    backtick is doubled, so a name like ``te`xt`` parses instead of
    ending the identifier early. The one spelling of an interpolated
    column name."""
    return "`" + name.replace("`", "``") + "`"
