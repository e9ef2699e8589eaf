"""SQLite sink (/root/reference/output/sqlite.go:15-44).

Reference semantics preserved: all fields stored as TEXT columns, an
optional raw serialized-record column (SQLiteRaw), Pre/PostRun SQL hooks,
one transaction per file, shardable paths ({{.ShardId}} ->
``shard-<partition_id>.sqlite3``).

Scale note: writing SQLite is inherently single-writer-per-file, so each
Spark partition writes its own shard file via ``foreachPartition`` —
same-key->same-shard holds when the caller repartitions by the shard key
first (Shard operator). ``single_file=True`` coalesces to one partition.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F


@dataclass
class SQLiteWriter:
    """All records into a SQLite table; optional raw BLOB column,
    Pre/PostRun SQL hooks, per-shard files (output/sqlite.go:15-44)."""

    path: str  # may contain {shard} -> partition id
    table: str = "records"
    raw_column: bool = False  # SQLiteRaw variant: add serialized record BLOB
    pre_run: list[str] = field(default_factory=list)
    post_run: list[str] = field(default_factory=list)
    journal_mode: str = "WAL"
    vacuum: bool = False
    #: Clear (sqlite.go:40): truncate the table before inserting instead
    #: of appending to an existing file
    clear: bool = False
    #: PageSize (sqlite.go:43): PRAGMA page_size, applied before any
    #: table exists (0 = SQLite's default)
    page_size: int = 0
    #: record separator for the SQLiteRaw serialized column — must match
    #: the topology's field_separator so raw records are ToText-identical
    separator: str = ","
    single_file: bool = True

    @classmethod
    def from_config(
        cls,
        separator: str,
        #: the database file; {shard} becomes the Spark partition id
        path_string: str = "out.sqlite3",
        table_name: str = "records",
        #: SQL run before the inserts, in order (sqlite.go:36-43)
        pre_run: list[str] = (),
        #: SQL run after the inserts, in order
        post_run: list[str] = (),
        #: empty the table before inserting
        clear: bool = False,
        #: VACUUM after the inserts
        vacuum: bool = False,
        #: PRAGMA page_size before any table exists; 0 = SQLite's default
        page_size: int = 0,
    ) -> "SQLiteWriter":
        return cls(
            path=path_string,
            table=table_name,
            separator=separator,
            pre_run=list(pre_run),
            post_run=list(post_run),
            clear=bool(clear),
            vacuum=bool(vacuum),
            page_size=int(page_size),
        )

    def write(self, df: DataFrame) -> None:
        if self.raw_column:
            from baker_spark.sinks.filewriter import serialize_line

            df = df.withColumn("_record", serialize_line(df.columns, self.separator))
        if "{shard}" not in self.path:
            # ONE writer for one file, always: SQLite allows a single
            # writer at a time, so N partitions committing into the same
            # path serialize on the 5s busy timeout and fail under
            # contention ("database is locked") — and on a multi-host
            # cluster each executor would silently write a different
            # LOCAL file. single_file=False only means "don't force it
            # when the path shards per partition".
            if self.single_file or df.rdd.getNumPartitions() > 1:
                df = df.coalesce(1)

        columns = df.columns
        path, table = self.path, self.table
        pre, post = list(self.pre_run), list(self.post_run)
        journal, vacuum = self.journal_mode, self.vacuum
        clear, page_size = self.clear, self.page_size
        # no driver-side truncate needed: the non-{shard} path is always
        # coalesced to ONE partition above (single-writer SQLite), so
        # the per-partition Clear can never race another partition's
        # inserts — a multi-partition truncate guard here would be dead
        # code (the old one tested getNumPartitions() > 1 AFTER the
        # coalesce and never fired)

        def write_partition(rows):
            import sqlite3
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId() if TaskContext.get() else 0
            rows = list(rows)
            if not rows and "{shard}" in path:
                return
            final_path = path.replace("{shard}", str(pid))
            # write to a temp sibling and atomically rename on success:
            # the commit below is NOT the end of the task (VACUUM, and
            # the task itself, can still fail after it), and a Spark
            # retry or speculative duplicate would otherwise re-insert
            # every row into the already-committed file. For append-mode
            # reruns over an EXISTING db (no Clear), start the temp from
            # a copy so prior content survives.
            _tc = TaskContext.get()
            _attempt = _tc.taskAttemptId() if _tc else 0
            # attempt id, not partition id: two SPECULATIVE attempts of
            # one partition must not share a temp file
            tmp_path = f"{final_path}.inflight.{_attempt}"
            import os as _os
            import shutil as _shutil

            if _os.path.exists(final_path):
                _shutil.copyfile(final_path, tmp_path)
            elif _os.path.exists(tmp_path):
                _os.remove(tmp_path)  # stale attempt: restart clean
            conn = sqlite3.connect(tmp_path)
            try:
                if page_size:
                    # must precede table creation (sqlite.go:163-200
                    # applies it during setup, before the schema exists)
                    conn.execute(f"PRAGMA page_size={int(page_size)}")
                conn.execute(f"PRAGMA journal_mode={journal}")
                for sql in pre:
                    conn.execute(sql)
                col_defs = ", ".join(f'"{c}" TEXT' for c in columns)
                conn.execute(f'CREATE TABLE IF NOT EXISTS "{table}" ({col_defs})')
                if clear:
                    conn.execute(f'DELETE FROM "{table}"')  # Clear (sqlite.go:40)
                placeholders = ",".join("?" * len(columns))
                conn.executemany(
                    f'INSERT INTO "{table}" VALUES ({placeholders})',
                    [tuple(None if v is None else str(v) for v in r) for r in rows],
                )
                for sql in post:
                    conn.execute(sql)
                conn.commit()
                if vacuum:
                    conn.execute("VACUUM")
            finally:
                conn.close()
            _os.replace(tmp_path, final_path)  # atomic publish

        df.foreachPartition(write_partition)


@dataclass
class SQLiteRawWriter(SQLiteWriter):
    """SQLiteRaw: the SQLite output plus a BLOB column holding each
    serialized record (output/sqlite.go:15-44)."""

    raw_column: bool = True
