"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (a single JVM); the
defaults below are chosen so the same code runs unchanged on a large
cluster: AQE handles runtime re-planning (partition coalescing, skew
joins), shuffle partitions track parallelism, and zstd is used for
shuffle/ouput compression (the reference ships zstd output too,
/root/reference/output/filewriter.go:26-99).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: SQL confs that are safe to (re)apply to an externally provided session.
#: The test-data parquet stores TIMESTAMP(NANOS) which Spark refuses to read
#: unless legacy nanosAsLong is on; DuckDB (the correctness oracle) truncates
#: nanos to micros, so we read nanos as long and truncate identically.
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    # baker semantics: malformed values become empty/null, never errors
    # (e.g. TimestampRange drops non-integer epochs, timestamp_range.go:92)
    "spark.sql.ansi.enabled": "false",
    # Slice cuts bytes, not chars (slice.go:13-16): decoding a cut
    # mid-sequence must yield replacement chars, not an error
    "spark.sql.legacy.codingErrorAction": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # baker semantics again: an unparseable datetime must yield NULL
    # (FormatTime clears dst), never a SparkUpgradeException — the
    # default EXCEPTION policy throws mid-job for inputs the legacy
    # parser MIGHT have handled differently (e.g. "Sun Jan  2 ...")
    "spark.sql.legacy.timeParserPolicy": "CORRECTED",
    # the expr-string compilers (clausefilter, RegexMatch, text.sql_str
    # regex literals) escape backslashes for the DEFAULT parser; the
    # Hive-compat raw-literal mode would silently double them (round 14:
    # pin the dependency instead of assuming the default)
    "spark.sql.parser.escapedStringLiterals": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # Streaming checkpoints (offsets, commits, file-source log, state
    # store) through the FileSystem API instead of the default
    # FileContext manager. On a file: path FileContext resolves link
    # status via RawLocalFileSystem, which without libhadoop execs a
    # `readlink` per lookup (FileUtil.readLink -> Shell.execCommand):
    # one createAtomic measured 20 task creations and 34 ms, against 4
    # and 8.6 ms here (4-core host, JDK 17, Hadoop 3.4.2), and a trigger
    # makes three of them (PERFORMANCE.md, per-trigger floor). The
    # semantics are the same: temp file + rename with .crc siblings, and
    # the no-overwrite guard HDFSMetadataLog.add relies on still raises.
    # On file: FileContext was already check-then-rename
    # (AbstractFileSystem.renameInternal, documented non-atomic, is not
    # overridden by DelegateToFileSystem/RawLocalFs); this manager does
    # the same exists + rename. On HDFS FileSystem.rename refuses an
    # existing destination, which it raises as a subclass of Hadoop's
    # FileAlreadyExistsException.
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


_SHIPPED_SESSIONS: set = set()


def _ship_package(spark: SparkSession) -> None:
    """Distribute baker_spark to the session's Python workers.

    A session created by an external harness won't have this repo on the
    workers' PYTHONPATH; pandas UDFs (Crypt, multimodal decode, jmespath
    fallback) reference module functions, so the package must travel with
    the job. addPyFile is the cluster-correct mechanism (works the same
    on a 1000-executor cluster as on local[32])."""
    # keyed by applicationId, not id(spark): a recycled object address
    # would silently skip the ship for a brand-new session (executors
    # then fail pandas UDFs with ModuleNotFoundError), and addPyFile is
    # a SparkContext-level op anyway — two sessions sharing one context
    # need exactly one ship
    try:
        key = spark.sparkContext.applicationId
    except Exception:
        key = id(spark)
    if key in _SHIPPED_SESSIONS:
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # the zip is keyed by a CONTENT hash, not pid: a pid-keyed path could
    # reuse a stale zip after the source tree changed (or after pid
    # recycling against a persistent /tmp), shipping old module code to
    # executors under new driver code. Hash of (relpath, mtime, size)
    # per file is cheap and changes whenever any shipped file does.
    import hashlib

    members = []
    for root, _dirs, files in os.walk(pkg_dir):
        if "__pycache__" in root:
            continue
        for name in files:
            if name.endswith(".py"):
                full = os.path.join(root, name)
                st = os.stat(full)
                members.append((full, os.path.relpath(full, pkg_dir), st.st_mtime_ns, st.st_size))
    members.sort(key=lambda m: m[1])
    digest = hashlib.md5(
        "\n".join(f"{r}|{m}|{z}" for _, r, m, z in members).encode()
    ).hexdigest()[:16]
    zpath = os.path.join(tempfile.gettempdir(), f"baker_spark_pkg_{digest}.zip")
    if not os.path.exists(zpath):
        # write-then-rename: a concurrent session builder never observes
        # (or addPyFile-reads) a half-written archive
        tmp = f"{zpath}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for full, rel, _m, _z in members:
                zf.write(full, os.path.join("baker_spark", rel))
        os.replace(tmp, zpath)
    try:
        spark.sparkContext.addPyFile(zpath)
    except Exception:
        pass  # e.g. Spark Connect sessions; UDF-free operators still work
    _SHIPPED_SESSIONS.add(key)


#: pinned confs configure() re-checks on every call (see there)
_SENTINEL_CONFS = ("spark.sql.ansi.enabled", "spark.sql.parser.escapedStringLiterals")


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (e.g. one the
    correctness driver created). Never raises on read-only confs.

    Idempotent per session OBJECT, and guarded as such (round 13): every
    load_table calls through here, so an unguarded configure re-issued 9
    conf.set py4j round trips per table load (~25ms; a 6-table join paid
    ~0.15s per build). The confs are only ever set to the same pinned
    values, so first-application semantics are identical. The
    ``_SENTINEL_CONFS`` are re-checked on the fast path: a drift in
    either re-pins the whole set at the cost of two conf.gets per call
    instead of every conf.set. They are ansi mode (the conf test
    fixtures actually flip) and the string-literal parser mode (its
    drift silently doubles the backslashes of every compiled regex and
    clause literal, corrupting results instead of raising). A flip of
    any OTHER pinned conf is NOT sensed — sensing all of them would
    cost what the guard saves. Code that mutates other RUNTIME_CONFS
    mid-session must call configure() with a cleared
    ``_baker_configured`` flag itself."""
    if getattr(spark, "_baker_configured", False):
        try:
            if all(spark.conf.get(k) == RUNTIME_CONFS[k] for k in _SENTINEL_CONFS):
                return spark
            spark._baker_configured = False  # drifted: re-pin everything
        except Exception:
            return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    _ship_package(spark)
    _register_python_sources(spark)
    spark._baker_configured = True
    return spark


def _register_python_sources(spark: SparkSession) -> None:
    """Register the repo's Python data sources so
    ``spark.read.format("bakerhttp")`` / ``readStream.format("bakersqs")``
    work out of the box on any configured session. Idempotent;
    registration is name->class only, so it costs nothing until used."""
    # once per session object: DataSourceManager logs a WARN
    # ("replaced a previously registered data source") on every
    # re-register, which spams configure_session callers (bench runs
    # the sweep through here 100+ times)
    if getattr(spark, "_baker_sources_registered", False):
        return
    # independent try per source: a failure in one must not silently
    # unregister the other
    try:
        from baker_spark.sources.http_datasource import HttpLinesDataSource

        spark.dataSource.register(HttpLinesDataSource)
    except Exception:  # pragma: no cover — a foreign session may forbid it
        pass
    try:
        from baker_spark.streaming.sqs_datasource import SQSStreamDataSource

        spark.dataSource.register(SQSStreamDataSource)
    except Exception:  # pragma: no cover
        pass
    try:
        from baker_spark.streaming.kinesis_datasource import KinesisStreamDataSource

        spark.dataSource.register(KinesisStreamDataSource)
    except Exception:  # pragma: no cover
        pass
    spark._baker_sources_registered = True


#: DataFrames persisted by operator builders (LSH band tables, shingle
#: inverted indexes, ...). A query's caches must outlive its build — the
#: caller runs the action later — so they are released lazily: the NEXT
#: query build (load_table -> release_caches) drops them. Bounded
#: exposure instead of leak-forever; 50-query sweeps and best-of-3 bench
#: runs hold at most one query's caches at a time.
_MANAGED_CACHES: list = []


def managed_persist(df):
    """persist(MEMORY_AND_DISK) + register for release at next query build."""
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _MANAGED_CACHES.append(df)
    return df


def release_caches() -> None:
    while _MANAGED_CACHES:
        try:
            _MANAGED_CACHES.pop().unpersist()
        except Exception:
            pass


def fan_out(df, multiple: int = 1, by: str | None = None):
    """Repartition ONLY when the scan produced fewer splits than the
    cluster has slots (small files, single row-group parquet). On a real
    cluster reading 100 TB the condition is false and this is a no-op —
    no gratuitous shuffle; locally it unlocks all cores for
    compute-heavy-per-row operators (minhash, simhash, UDF decode).

    ``by`` names a high-cardinality column (the row id) to hash-partition
    on. Round-robin repartition must locally SORT every partition first
    (``spark.sql.execution.sortBeforeRepartition``, on by default since
    SPARK-23207 — without it a task retry replays rows into different
    output partitions and duplicates/loses them). Hash partitioning is
    retry-deterministic per row, so it skips that sort: ~2x cheaper on
    this exchange, identical balance when the key is unique. Callers
    that know their id column should always pass it."""
    try:
        target = df.sparkSession.sparkContext.defaultParallelism * multiple
        # df.rdd plans the subtree and builds the Python RDD wrapper —
        # ~60-80ms of driver time PER CALL (measured round 13), paid on
        # every catalog build. A bare table scan's split count is a pure
        # function of (session, path), so load_table stamps its exact
        # return object with a cache key and fan_out reuses the count on
        # repeat builds. ONLY the stamped object uses the cache — a
        # derived frame (select/filter/join) loses the attribute and
        # pays df.rdd as before, so a post-shuffle frame can never read
        # a stale scan count.
        key = getattr(df, "_baker_split_key", None)
        if key is not None and key in _SPLIT_COUNTS:
            current = _SPLIT_COUNTS[key]
        else:
            current = df.rdd.getNumPartitions()
            if key is not None:
                _SPLIT_COUNTS[key] = current
    except Exception:
        # Spark Connect sessions expose neither sparkContext nor df.rdd;
        # configure()'s contract is graceful degradation there (see
        # _ship_package), so the split heuristic becomes a no-op rather
        # than crashing every UDF-free catalog build that calls fan_out
        return df
    if current < target:
        if by is not None:
            from pyspark.sql import functions as F

            return df.repartition(target, F.col(by))
        return df.repartition(target)
    return df


#: split counts of stamped table scans, keyed by (applicationId, path)
#: — see fan_out; populated on first introspection per session+path.
_SPLIT_COUNTS: dict = {}


#: compiled Hadoop codec bridging zstd-jni (tools/build_zstd_codec.sh):
#: gives the text/CSV writer the reference's default .zst output format.
#: Classpath entries are launch-time-only, so the jar has to ride the
#: builder — configure() on a foreign session can't retrofit it.
ZSTD_CODEC_JAR = os.path.join(os.path.dirname(__file__), "jars", "bakerspark-zstd-codec.jar")
ZSTD_CODEC_CLASS = "bakerspark.ZstdJniCodec"


def zstd_codec_available(spark: SparkSession) -> bool:
    """True when the bakerspark zstd codec class is loadable in this
    session's JVM (i.e. the session was built by get_spark with the jar
    present, or the user added it themselves)."""
    try:
        spark._jvm.java.lang.Class.forName(ZSTD_CODEC_CLASS)
        return True
    except Exception:
        return False


def get_spark(app: str = "baker_spark", cpus: int | None = None) -> SparkSession:
    cpus = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.shuffle.compress", "true")
        # lz4 (Spark's default) for shuffle/spill blocks: measurably
        # faster than zstd on the serial-scan -> wide-shuffle path here,
        # and the right ratio/speed point for intra-cluster traffic too;
        # zstd stays where ratio matters (parquet output above)
        .config("spark.io.compression.codec", "lz4")
    )
    if os.path.exists(ZSTD_CODEC_JAR):
        builder = (
            # extraClassPath (not spark.jars): codec instantiation goes
            # through Hadoop ReflectionUtils with the JVM app classloader,
            # which never sees spark.jars entries in local mode
            builder.config("spark.driver.extraClassPath", ZSTD_CODEC_JAR)
            .config("spark.executor.extraClassPath", ZSTD_CODEC_JAR)
            # register for extension-based codec discovery (.zst reads)
            .config("spark.hadoop.io.compression.codecs", ZSTD_CODEC_CLASS)
        )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure(spark)
