"""Deduplication family for document corpora.

Four tiers, each the right tool at a different scale/fuzziness point:

- exact:      md5(text) group-by — one shuffle on the hash
- fingerprint: normalized-token md5 group-by — catches reorder/punct noise
- minhash LSH: shingle -> k minhashes -> b bands -> bucket join — near-dup
               pairs without the O(n^2) compare (VLDB-classic MinHash/LSH)
- simhash:    60-bit sign-hash; banded candidate join + hamming filter

Every hash is md5-derived (baker_spark.functions.hashing) so the DuckDB
oracle reproduces results bit-for-bit. The reference's Dedup filter
(/root/reference/filter/dedup.go) is the exact tier with a global
in-memory set; these scale it out and add the fuzzy tiers.

Scale notes (100 TB):
- the LSH band join shuffles only (band, hash) pairs — k*b small ints per
  doc, not the text; skewed buckets (boilerplate shingles) are capped by
  AQE skew-join handling.
- simhash banding guarantees recall for hamming <= bands-1 by pigeonhole
  (3 errors across 4 bands leave one band intact) — so the banded join
  plus hamming<=3 filter is *exactly* brute force, at a fraction of the
  shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window, functions as F

from baker_spark.datapipe.text import duck_word_shingles, word_shingles, words
from baker_spark.functions import sql_ident
from baker_spark.functions.hashing import (
    MINHASH_P,
    duck_affine_hash,
    duck_md5_long,
    md5_long,
    minhash_params,
)
from baker_spark.session import fan_out, managed_persist


# ---------------------------------------------------------------- exact ----

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One survivor (min id) per distinct text; n_dups counts the group."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_dups"))
        .select(id_col, "text_hash", "n_dups")
    )


def duck_exact_dedup(table: str = "documents", text_col: str = "text", id_col: str = "doc_id") -> str:
    return f"""
SELECT min({id_col}) AS {id_col}, md5({text_col}) AS text_hash, count(*) AS n_dups
FROM {table} GROUP BY md5({text_col})
"""


def incremental_dedup(new_docs: DataFrame, seen_docs: DataFrame, key, id_col: str = "doc_id") -> DataFrame:
    """Cross-corpus (incremental-ingest) dedup: exact-dedup the new
    batch by content ``key`` (a Column — md5 for exact, a normalized
    fingerprint for near-dup ledgers), then drop every group whose key
    already exists in the ingested corpus. This is the at-least-once
    ingestion pattern: a redelivered file re-contains already-ingested
    documents, and the anti join against the fingerprint ledger is what
    keeps the corpus append-only-clean.

    Scale shape: both sides project to the 128-bit key BEFORE the join,
    so neither exchange ever carries document text — the in-batch
    groupBy is one shuffle of (key, id) and the left_anti joins keys
    against keys. The seen side needs no distinct (anti join semantics
    ignore duplicates; a distinct would buy nothing but a shuffle). On a
    real deployment persist the ledger with :func:`write_seen_ledger`
    and batch through :func:`incremental_dedup_against_ledger`: the
    anti join then co-locates on the stored buckets and the ever-growing
    ledger is never reshuffled (measured: tools/ledger_bench.py)."""
    return incremental_dedup_against_keys(
        new_docs, seen_docs.select(key.alias("fp")), key, id_col
    )


def incremental_dedup_against_keys(
    new_docs: DataFrame, seen_keys: DataFrame, key, id_col: str = "doc_id"
) -> DataFrame:
    """Same as :func:`incremental_dedup` but the seen side is already a
    key table (an ``fp`` column) — the shape of a persisted fingerprint
    ledger, where recomputing keys from stored text would be waste."""
    # NO fan_out here, by measurement: the fingerprint is one md5 over
    # the text — cheap enough that at sf1 the extra exchange + task
    # overhead LOST 60% (2.0s -> 3.4s A/B). fan_out pays only when the
    # per-row expression dominates (shingle/regex-class, see
    # _verify_jaccard); the groupBy's map-side combine already spreads
    # the shuffle.
    batch = (
        new_docs.groupBy(key.alias("fp"))
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_dups"))
    )
    return batch.join(seen_keys.select("fp"), "fp", "left_anti").select(id_col, "fp", "n_dups")


#: default bucket count for the persisted seen-key ledger. 64 keeps a
#: per-bucket file comfortably sized at the test SFs; at 100 TB pick
#: buckets so each holds ~256 MB of keys (fp is 32 bytes -> ~8e6 keys).
LEDGER_BUCKETS = 64


def _table_location(spark, table: str) -> str:
    """Canonical storage location for ``table`` — the fence directory.
    Deriving it by string-concatenating the CALLER'S SPELLING onto the
    warehouse dir would let two writers addressing one table by
    different names ('db.ledger' vs 'ledger' under USE db) fence on
    different paths and interleave freely. An existing table's location
    comes from the catalog (canonical however it is spelled); a not-yet-
    created one resolves the database explicitly so both racers of a
    first write compute the same path."""
    try:
        for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect():
            if (r["col_name"] or "").strip() == "Location":
                return r["data_type"]
    except Exception:
        pass  # not created yet — resolve where the metastore will put it
    parts = table.split(".")
    name = parts[-1].lower()
    db = parts[-2].lower() if len(parts) > 1 else spark.catalog.currentDatabase()
    wh = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
    return f"{wh}/{name}" if db == "default" else f"{wh}/{db}.db/{name}"


def write_seen_ledger(
    seen_keys: DataFrame,
    table: str,
    path: str | None = None,
    n_buckets: int = LEDGER_BUCKETS,
    mode: str = "overwrite",
    extra_cols: tuple[str, ...] = (),
) -> None:
    """Persist a fingerprint ledger as a parquet table BUCKETED (and
    sorted) by ``fp`` — the storage layout that makes per-batch
    incremental dedup cheap at 100 TB.

    Why bucketed: the per-batch anti-join hash-partitions both sides on
    fp. Against plain parquet that re-shuffles the ENTIRE ledger every
    batch — and the ledger is the side that grows forever (it is the
    whole ingested corpus's key set), so per-batch network cost grows
    with corpus size. Stored bucketed, the ledger side of the
    sort-merge anti-join needs NO exchange: only the small new batch is
    shuffled (into ``n_buckets`` partitions) while the ledger is read
    in place, one narrow fp column. A per-partition sort of the ledger
    remains (local CPU, zero network — Spark ignores stored bucket
    sort order by default since 3.0; flip
    ``spark.sql.legacy.bucketedTableScanOutputOrdering`` to elide it,
    which is why this writer still ``sortBy``s and keeps ONE file per
    bucket via the pre-write ``repartition``).

    ``path`` makes it an external table (tests use a tmp dir); default
    is the session warehouse.

    Single-writer contract: the write runs under the artifact fence
    (artifacts.writer_fence) on the table's storage directory — two
    concurrent appends (a scheduler retrying a whole ingest job, two
    daemons pointed at one ledger) would interleave with no error and
    no repair signal, so the loser fails fast instead."""
    from baker_spark.datapipe.artifacts import writer_fence

    spark = seen_keys.sparkSession
    lock_dir = path or _table_location(spark, table)
    # extra_cols ride the same fp-bucketed files (the image band ledger
    # stores the full phash beside each key for collision verification
    # — see incremental_neardup_against_phash_ledger); bucketing and
    # probe economics are unchanged, the join key is still fp alone
    w = (
        seen_keys.select("fp", *extra_cols)
        .repartition(n_buckets, F.col("fp"))
        .write.mode(mode)
        .bucketBy(n_buckets, "fp")
        .sortBy("fp")
    )
    if path is not None:
        w = w.option("path", path)
    with writer_fence(spark, lock_dir, f"write_seen_ledger({table})"):
        w.format("parquet").saveAsTable(table)


def ledger_spec(spark, table: str) -> tuple[int | None, tuple[str, ...]]:
    """The live ledger's physical spec from the catalog: (bucket count
    from DESCRIBE FORMATTED's "Num Buckets" row — None when the table
    is unbucketed — and the non-``fp`` columns in table order)."""
    cols = spark.table(table).columns
    if "fp" not in cols:
        raise ValueError(f"{table} is not a seen-ledger: no `fp` column in {cols}")
    n_buckets = None
    for row in spark.sql(f"DESCRIBE FORMATTED {table}").collect():
        if (row.col_name or "").strip() == "Num Buckets":
            n_buckets = int(str(row.data_type).strip())
    return n_buckets, tuple(c for c in cols if c != "fp")


def compact_seen_ledger(
    spark,
    table: str,
    path: str | None = None,
    n_buckets: int | None = None,
    extra_cols: tuple[str, ...] | None = None,
) -> dict:
    """Maintenance pass for an append-heavy seen-ledger: every
    ``write_seen_ledger(mode="append")`` lands ONE file per bucket, so
    a daemon at batch B holds B files per bucket and the per-batch
    anti-join's "read the ledger in place" opens B x n_buckets files —
    open/footer overhead that grows with ingest age (the same decay
    ann_index_compact fixes for the ANN codes). Compaction rewrites the
    ledger to one file per bucket, dropping any duplicate rows along
    the way (harmless insurance; the crash-window replay itself never
    double-appends, see the ingest module doc).

    Crash-safe like ann_index_compact: the compacted copy is fully
    written BESIDE the live directory, then swapped in with renames
    (live -> ``_precompact`` backup -> delete); a failure at any step
    leaves a recoverable directory — the next compact restores a
    missing live dir from the backup at entry. A LOST ledger re-admits
    the whole corpus on replay, so there is deliberately no window
    where the only copy is already deleted. Runs under the writer
    fence: a concurrent ingest append would race the swap.

    The rewrite spec is DERIVED FROM THE LIVE TABLE (bucket count via
    DESCRIBE FORMATTED, column set via the catalog schema): compacting
    a 16-bucket fp+phash MediaIngest ledger with hard-coded defaults
    would silently rewrite it 64-bucketed and phash-less while the
    table DDL still said otherwise — the shuffle-free bucketed
    anti-join then reads misplaced rows and re-admits duplicates.
    Passing ``n_buckets``/``extra_cols`` explicitly is allowed only as
    an assertion: a value that disagrees with the live spec raises
    instead of rewriting.

    Returns ``{rows, files_before, files_after, n_buckets}``."""
    from baker_spark.datapipe.artifacts import writer_fence

    live_dir = path or _table_location(spark, table)
    jvm = spark._jvm

    def hp(p: str):
        return jvm.org.apache.hadoop.fs.Path(p)

    live, backup = hp(live_dir), hp(f"{live_dir.rstrip('/')}_precompact")
    tmp_dir = f"{live_dir.rstrip('/')}_compacting"
    fs = live.getFileSystem(spark._jsc.hadoopConfiguration())
    tmp_table = f"{table}__compacting"

    def _n_files(p) -> int:
        if not fs.exists(p):
            return 0
        it, n = fs.listFiles(p, True), 0
        while it.hasNext():
            f = it.next()
            if not f.getPath().getName().startswith(("_", ".")):
                n += 1
        return n

    with writer_fence(spark, live_dir, f"compact_seen_ledger({table})"):
        # recovery: a previous compact that died between its renames
        # left live missing + backup present — restore before anything
        if not fs.exists(live) and fs.exists(backup):
            if not fs.rename(backup, live):
                raise RuntimeError(f"could not restore {live_dir} from backup")
            spark.sql(f"REFRESH TABLE {table}")
        # the rewrite must preserve the LIVE physical spec, not a
        # caller default — a 16-bucket fp+phash ledger compacted
        # 64-bucket/phash-less silently breaks the bucketed anti-join
        live_n_buckets, live_extra = ledger_spec(spark, table)
        if n_buckets is None:
            n_buckets = live_n_buckets if live_n_buckets is not None else LEDGER_BUCKETS
        elif live_n_buckets is not None and n_buckets != live_n_buckets:
            raise ValueError(
                f"compact_seen_ledger({table}): n_buckets={n_buckets} disagrees "
                f"with the live table's Num Buckets={live_n_buckets}"
            )
        if extra_cols is None:
            extra_cols = live_extra
        elif tuple(extra_cols) != live_extra:
            raise ValueError(
                f"compact_seen_ledger({table}): extra_cols={tuple(extra_cols)} "
                f"disagrees with the live table's columns fp+{live_extra}"
            )
        files_before = _n_files(live)
        rows = spark.table(table).dropDuplicates(["fp", *extra_cols])
        # the full rewrite lands in a SIBLING table/dir first — the
        # inner write takes its own fence on tmp_dir, disjoint from
        # the live fence held here
        spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")
        fs.delete(hp(tmp_dir), True)
        write_seen_ledger(
            rows, tmp_table, tmp_dir, n_buckets=n_buckets,
            mode="overwrite", extra_cols=extra_cols,
        )
        n_rows = spark.table(tmp_table).count()
        spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")  # registration only
        fs.delete(backup, True)  # stale backup from a crashed-late run
        if not fs.rename(live, backup):
            raise RuntimeError(f"compaction could not move {live_dir} aside")
        if not fs.rename(hp(tmp_dir), live):
            fs.rename(backup, live)  # restore — tmp remains for inspection
            raise RuntimeError(f"compaction rename failed for {live_dir} (restored)")
        fs.delete(backup, True)
        spark.sql(f"REFRESH TABLE {table}")
        files_after = _n_files(live)
    return {
        "rows": n_rows,
        "files_before": files_before,
        "files_after": files_after,
        "n_buckets": n_buckets,
    }


def incremental_dedup_against_ledger(
    new_docs: DataFrame, spark, table: str, key, id_col: str = "doc_id"
) -> DataFrame:
    """Per-batch incremental dedup against a ledger persisted by
    :func:`write_seen_ledger`: same semantics as
    :func:`incremental_dedup_against_keys`, but the seen side is the
    bucketed table, so the anti-join leaves the ledger in place — the
    plan has exactly one exchange (the new batch) regardless of how
    large the ledger has grown. After accepting a batch, append its
    surviving keys with ``write_seen_ledger(..., mode="append")``.

    The ``shuffle_hash`` hint matters: without it the bucketed side
    falls into a sort-merge join and pays a per-partition SORT of the
    whole ledger every batch (Spark ignores stored bucket sort order by
    default — see write_seen_ledger), which erases the bucketing win.
    Hinted, the plan is bucketed scan -> per-bucket hash build -> probe:
    no ledger shuffle, no ledger sort. Per-bucket hash tables are why
    ``n_buckets`` should track ledger growth (~256 MB of keys each)."""
    seen = spark.table(table).hint("shuffle_hash")
    return incremental_dedup_against_keys(new_docs, seen, key, id_col)


def duck_incremental_dedup(
    key_sql: str, new_pred: str, seen_pred: str, table: str = "documents", id_col: str = "doc_id"
) -> str:
    return f"""
WITH batch AS (
  SELECT min({id_col}) AS {id_col}, {key_sql} AS fp, count(*) AS n_dups
  FROM {table} WHERE {new_pred} GROUP BY {key_sql}
),
seen AS (SELECT DISTINCT {key_sql} AS fp FROM {table} WHERE {seen_pred})
SELECT b.{id_col}, b.fp, b.n_dups
FROM batch b WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.fp = b.fp)
"""


def incremental_neardup(
    new_docs: DataFrame,
    seen_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Incremental NEAR-dup ingest: which new docs are worth adding to a
    corpus that already holds near-duplicates of the rest? The near-dup
    extension of :func:`incremental_dedup` — the exact/fingerprint
    ledger only stops byte-level redelivery, while a crawl refresh
    mostly redelivers boilerplate-shifted variants of already-ingested
    pages. This is the ingest-side shape of production corpus dedup
    (e.g. the RefinedWeb/FineWeb pipelines): new docs are checked
    against the frozen corpus by LSH band collision, never pairwise.

    Semantics (deterministic, oracle-replayable):
    1. drop every new doc sharing >= 1 LSH band (k minhashes, b bands)
       with ANY seen doc — the jaccard >= ~(1/b)^(1/r) near-dup rule of
       lsh_pairs, applied cross-corpus;
    2. within the surviving batch, GREEDY-BY-ID: a doc is dropped if any
       of its bands is also held by a smaller-id survivor ("keep first
       seen", the standard streaming-LSH rule). Greedy is deliberately
       not transitive-closure: in a chain a<b<c where only (a,b) and
       (b,c) collide, c is dropped too — for INGEST that is the right
       bias (c is a near-dup of something the corpus would hold had b
       arrived in an earlier batch), and it keeps the decision a 2-join
       plan instead of an iterative connected-components job
       (dedup_clusters stays the offline/audit tool).

    Returns the kept doc ids. Docs with < shingle_n words have no
    shingles, hence no signature, and are EXCLUDED from the decision on
    both engines (same convention as minhash_signature / unnest) —
    route sub-shingle snippets through the exact fingerprint ledger,
    where a key always exists. Scale shape: both corpora reduce to
    (id, band, h) rows — 4 rows of ~40 bytes per doc, text never moves —
    and every join key is (band, h). For a persisted, growing corpus
    use :func:`incremental_neardup_against_band_ledger`, which reads
    the band ledger bucketed so the per-batch plan exchanges ONLY the
    batch."""
    newb = managed_persist(lsh_bands(new_docs, text_col, id_col, k, bands, shingle_n))
    seenb = lsh_bands(seen_docs, text_col, id_col, k, bands, shingle_n).select("band", "h")
    hit_ledger = (
        newb.join(seenb, ["band", "h"], "left_semi").select(id_col).distinct()
    )
    kept1 = managed_persist(newb.join(hit_ledger, id_col, "left_anti"))
    mins = kept1.groupBy("band", "h").agg(F.min(id_col).alias("_m"))
    hit_batch = (
        kept1.join(mins, ["band", "h"])
        .filter(F.col("_m") < F.col(id_col))
        .select(id_col)
        .distinct()
    )
    return kept1.select(id_col).distinct().join(hit_batch, id_col, "left_anti")


def band_fp() -> Column:
    """The band ledger's key encoding, ``'band:h'`` — the ONE place it
    is spelled. Both the ledger writer (:func:`band_ledger_keys`) and
    the per-batch probe (:func:`incremental_neardup_against_band_ledger`)
    build their ``fp`` through this column; a private respelling on
    either side would silently break ledger-vs-batch key parity (every
    probe misses -> near-dup dedup admits everything)."""
    return F.concat_ws(":", F.col("band").cast("string"), F.col("h"))


def band_ledger_keys(bands_df: DataFrame) -> DataFrame:
    """(band, h) rows -> single-column ``fp`` keys ('band:h') in the
    shape :func:`write_seen_ledger` stores — the near-dup band ledger
    IS a seen-key ledger, so it inherits the bucketed-storage/no-ledger-
    shuffle machinery and the writer fence for free."""
    return bands_df.select(band_fp().alias("fp"))


def _explode_hash_bands(
    sig: DataFrame, hash_col: str, id_col: str, key_name: str
) -> DataFrame:
    """The ONE spelling of the 4 x 15-bit band explode over a <=60-bit
    signature column: (id, hash, band, <key_name>) rows. Shared by
    :func:`banded_hamming_pairs` (key column ``key``) and
    :func:`phash_bands` (key column ``h``, the band-ledger convention)
    so the pair-search and ingest paths can never drift in their
    banding arithmetic."""
    structs = ", ".join(
        f"named_struct('band', {b}, '{key_name}', "
        f"shiftright({sql_ident(hash_col)}, {b * SIMHASH_BAND_BITS}) & {SIMHASH_BAND_MASK}L)"
        for b in range(4)
    )
    return sig.selectExpr(
        sql_ident(id_col), sql_ident(hash_col), f"explode(array({structs})) AS bk"
    ).selectExpr(
        sql_ident(id_col), sql_ident(hash_col), "bk.band AS band",
        f"bk.{key_name} AS {key_name}",
    )


def phash_bands(sig: DataFrame, hash_col: str = "phash", id_col: str = "doc_id") -> DataFrame:
    """(id, phash, band, h) rows from a 60-bit image signature — the
    image twin of :func:`lsh_bands`, 4 rows of 3 longs per image, built
    on the same band explode as text simhash/banded_hamming_pairs."""
    out = _explode_hash_bands(sig, hash_col, id_col, "h")
    return out.withColumnRenamed(hash_col, "phash") if hash_col != "phash" else out


def incremental_neardup_phash(
    new_sigs: DataFrame,
    seen_sigs: DataFrame,
    hash_col: str = "phash",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Incremental IMAGE near-dup ingest: :func:`incremental_neardup`'s
    greedy semantics over perceptual hashes, with one load-bearing
    difference — band collisions are VERIFIED against the colliding
    hash before anything is dropped.

    Why verification is not optional here (it is for minhash): a
    minhash band key lives in a ~60-bit space, so an accidental
    collision between genuinely dissimilar docs is ~2^-60 — dropping on
    bare collision is sound. A phash band is only 15 BITS of the
    signature: two unrelated images share a given band with p = 2^-15,
    so against a 100M-image corpus a new image accidentally collides
    with ~12k non-duplicates (4 bands x 100M x 2^-15). Unverified
    banding would reject essentially every image once the corpus is
    large. The verify step pins the drop rule to the real predicate —
    hamming(phash) <= ``max_hamming`` (pigeonhole-complete for <= 3,
    same guarantee as banded_hamming_pairs) — at the cost of carrying
    the 8-byte hash alongside each band row.

    Rules (oracle-replayable, same greedy-by-id bias as the text form):
    1. drop a new image if ANY seen image shares a band AND is within
       ``max_hamming`` bits;
    2. within the ledger-surviving batch, drop image i if a SMALLER-id
       survivor j shares a band and is within ``max_hamming`` bits
       (non-transitive by design — see incremental_neardup).

    Scale shape: both sides reduce to (id, phash, band, h) rows; joins
    key on (band, h), and — load-bearing at dup-heavy density — the
    PROBED side is collapsed to DISTINCT hashes per band key before the
    join. The drop decision only asks "is SOME collider within
    max_hamming", so every member of an identical-hash class beyond
    the first adds nothing; without the collapse a corpus whose
    classes have grown to ~1300 members (measured, sf100 synthetic)
    multiplies the verify join into billions of candidate rows — the
    exact quadratic blowup the pair emitter's band_cap guards against,
    which an INGEST rule cannot cap without admitting near-dups.
    In-batch, the same collapse keeps min(id) per (band, h, phash):
    "exists j < i sharing a band within max_hamming" is equivalent to
    "some group's min id < i" because hamming to every member of an
    equal-hash group is one number. Returns the kept ids."""
    newb = managed_persist(phash_bands(new_sigs, hash_col, id_col))
    seenb = (
        phash_bands(seen_sigs, hash_col, id_col)
        .select("band", "h", F.col("phash").alias("_sp"))
        .distinct()
    )
    hit_ledger = (
        newb.join(seenb, ["band", "h"])
        .filter(F.bit_count(F.col("phash").bitwiseXOR(F.col("_sp"))) <= max_hamming)
        .select(id_col)
        .distinct()
    )
    # the id anti-joins hint shuffle_hash: their build sides are hit-id
    # sets bounded by the BATCH (never the corpus), but Catalyst's
    # static estimate for a band-join-derived subtree is inflated by the
    # join multiplier, so without the hint these plan as SortMergeJoin —
    # a pointless full sort of both sides. AQE still upgrades the tiny
    # real sides to broadcast at runtime.
    kept1 = managed_persist(
        newb.join(hit_ledger.hint("shuffle_hash"), id_col, "left_anti")
    )
    groups = kept1.groupBy("band", "h", "phash").agg(F.min(id_col).alias("_mid"))
    hit_batch = (
        kept1.alias("a")
        .join(
            groups.alias("g"),
            (F.col("a.band") == F.col("g.band")) & (F.col("a.h") == F.col("g.h")),
        )
        .filter(
            (F.bit_count(F.expr("a.phash ^ g.phash")) <= max_hamming)
            & (F.col("g._mid") < F.col(f"a.{id_col}"))
        )
        .select(F.col(f"a.{id_col}").alias(id_col))
        .distinct()
    )
    return (
        kept1.select(id_col)
        .distinct()
        .join(hit_batch.hint("shuffle_hash"), id_col, "left_anti")
    )


def incremental_neardup_against_phash_ledger(
    new_sigs: DataFrame,
    spark,
    table: str,
    hash_col: str = "phash",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    persist_fn=None,
) -> tuple[DataFrame, DataFrame]:
    """Per-batch :func:`incremental_neardup_phash` against a persisted
    band ledger whose rows carry the full hash for verification:
    ``write_seen_ledger(keys, table, extra_cols=["phash"])`` where keys
    come from this function's second return value (fp = 'band:h' via
    the shared :func:`band_fp`, plus the phash column). Economics match
    the text band ledger: the fp-bucketed ledger is probed in place
    (zero ledger exchange per batch; the stored phash rides the same
    bucket files), only the batch bands shuffle, and the writer fence
    makes concurrent appenders fail fast. Returns (kept_ids,
    kept_keys) — append kept_keys after accepting the batch.

    ``persist_fn`` overrides how the two intermediate frames are
    cached. The default (session.managed_persist) registers them for
    release at the next catalog-query build — right for one-shot
    queries, a leak for a long-running sink calling this every
    micro-batch; MediaIngest passes its own collector and unpersists
    per batch."""
    persist_fn = persist_fn or managed_persist
    newb = persist_fn(
        phash_bands(new_sigs, hash_col, id_col).withColumn("fp", band_fp())
    )
    # distinct (fp, phash) before the verify join — the dup-density
    # guard incremental_neardup_phash documents. The distinct itself is
    # exchange-FREE: the ledger is bucketed by fp, and hash-partitioning
    # on fp co-locates every (fp, phash) group, so the aggregate runs on
    # the bucketed scan in place.
    seen = (
        spark.table(table)
        .select("fp", F.col("phash").alias("_sp"))
        .distinct()
        .hint("shuffle_hash")
    )
    hit_ledger = (
        newb.join(seen, "fp")
        .filter(F.bit_count(F.col("phash").bitwiseXOR(F.col("_sp"))) <= max_hamming)
        .select(id_col)
        .distinct()
    )
    # shuffle_hash on the batch-bounded hit sets — same SMJ-estimate
    # rationale as incremental_neardup_phash
    kept1 = persist_fn(
        newb.join(hit_ledger.hint("shuffle_hash"), id_col, "left_anti")
    )
    groups = kept1.groupBy("fp", "phash").agg(F.min(id_col).alias("_mid"))
    hit_batch = (
        kept1.alias("a")
        .join(groups.alias("g"), F.col("a.fp") == F.col("g.fp"))
        .filter(
            (F.bit_count(F.expr("a.phash ^ g.phash")) <= max_hamming)
            & (F.col("g._mid") < F.col(f"a.{id_col}"))
        )
        .select(F.col(f"a.{id_col}").alias(id_col))
        .distinct()
    )
    kept_ids = (
        kept1.select(id_col)
        .distinct()
        .join(hit_batch.hint("shuffle_hash"), id_col, "left_anti")
    )
    kept_keys = kept1.join(kept_ids, id_col, "left_semi").select("fp", "phash")
    return kept_ids, kept_keys


def incremental_neardup_against_band_ledger(
    new_docs: DataFrame,
    spark,
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Per-batch :func:`incremental_neardup` against a persisted band
    ledger (written by ``write_seen_ledger(band_ledger_keys(lsh_bands(
    corpus)), table, ...)``): same kept set as the two-corpora form, but
    the ever-growing seen side is the bucketed table probed in place —
    one exchange for the batch bands, zero for the ledger, identical to
    the exact ledger's economics (see incremental_dedup_against_ledger
    on why the shuffle_hash hint is load-bearing).

    Returns ``(kept_ids, kept_keys)``; after accepting the batch, append
    ``kept_keys`` with ``write_seen_ledger(..., mode="append")`` so the
    next batch dedups against this one too (the fence makes concurrent
    appenders fail fast, and duplicate fp rows from an at-least-once
    replay are harmless — anti-join semantics ignore them)."""
    newb = managed_persist(
        lsh_bands(new_docs, text_col, id_col, k, bands, shingle_n).withColumn(
            "fp", band_fp()
        )
    )
    seen = spark.table(table).hint("shuffle_hash")
    hit_ledger = newb.join(seen, "fp", "left_semi").select(id_col).distinct()
    kept1 = managed_persist(newb.join(hit_ledger, id_col, "left_anti"))
    mins = kept1.groupBy("fp").agg(F.min(id_col).alias("_m"))
    hit_batch = (
        kept1.join(mins, "fp")
        .filter(F.col("_m") < F.col(id_col))
        .select(id_col)
        .distinct()
    )
    kept_ids = kept1.select(id_col).distinct().join(hit_batch, id_col, "left_anti")
    kept_keys = kept1.join(kept_ids, id_col, "left_semi").select("fp")
    return kept_ids, kept_keys


def duck_incremental_neardup(
    new_pred: str,
    seen_pred: str,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> str:
    """Oracle: identical minhash/banding arithmetic, then the two drop
    rules as plain joins (no recursion — greedy-by-id needs only the
    per-(band,h) min over ledger-survivors)."""
    r = k // bands
    mins = ",\n  ".join(
        f"min({duck_affine_hash('h32', a, b)}) AS m{i}"
        for i, (a, b) in enumerate(minhash_params(k))
    )
    band_rows = "\nUNION ALL\n".join(
        f"SELECT {id_col}, {b} AS band, "
        f"md5(concat_ws(',', {', '.join(f'm{b * r + j}' for j in range(r))})) AS h FROM sig"
        for b in range(bands)
    )
    return f"""
WITH sh AS (
  SELECT DISTINCT {id_col}, unnest({duck_word_shingles(text_col, shingle_n)}) AS s
  FROM {table} WHERE ({new_pred}) OR ({seen_pred})
),
hp AS (SELECT {id_col}, {duck_md5_long('s', nchars=8)} AS h32 FROM sh),
sig AS (SELECT {id_col}, {mins} FROM hp GROUP BY {id_col}),
allbands AS ({band_rows}),
newb AS (SELECT * FROM allbands JOIN {table} USING ({id_col}) WHERE {new_pred}),
seenb AS (SELECT DISTINCT band, h FROM allbands JOIN {table} USING ({id_col}) WHERE {seen_pred}),
hit1 AS (SELECT DISTINCT {id_col} FROM newb JOIN seenb USING (band, h)),
kept1 AS (SELECT n.* FROM newb n WHERE NOT EXISTS (SELECT 1 FROM hit1 x WHERE x.{id_col} = n.{id_col})),
mins AS (SELECT band, h, min({id_col}) AS m FROM kept1 GROUP BY band, h),
hit2 AS (
  SELECT DISTINCT k.{id_col} FROM kept1 k
  JOIN mins m ON k.band = m.band AND k.h = m.h AND m.m < k.{id_col}
)
SELECT DISTINCT {id_col} FROM kept1 k2
WHERE NOT EXISTS (SELECT 1 FROM hit2 y WHERE y.{id_col} = k2.{id_col})
"""


# -------------------------------------------------------------- minhash ----

#: Default hot-group caps for the candidate-pair emitters. Near-dup
#: CANDIDATE volume is quadratic in (band, key) group size (sf10's
#: synthetic corpus emits 2.92B simhash pairs uncapped — x98 pairs for
#: x10 docs), so the production default is CAPPED: any group larger
#: than this is excluded before the self-join, bounding the worst
#: group at ~cap^2/2 candidates. Pass ``None`` explicitly for the
#: exhaustive audit shape (exact pigeonhole / LSH recall guarantee,
#: unbounded output); the dp_*_exhaustive catalog entries do that.
#:
#: The values are MEASURED (cap sweeps at sf1/sf10, round 8), and the
#: two algorithms earn DIFFERENT defaults. Minhash: the final DISTINCT
#: pair set is IDENTICAL at cap 50 vs 200 vs uncapped on both decades
#: (27,265 pairs at sf10 — buckets above 50 only re-derive pairs found
#: in smaller buckets), and cold-cache wall is cap-insensitive (10-20s
#: at sf10 under all caps: the cost is the signature explode+min-agg,
#: linear in corpus, not the candidates) — so 50 costs nothing here
#: and is pure insurance against a boilerplate corpus whose mega-
#: buckets WOULD blow up candidate volume. Simhash is the opposite:
#: its (band, key) groups under hamming<=3 are genuinely large, cap 50
#: loses real pairs (70,761 -> 6,846 at sf1), while cap 200 bounds the
#: sf10 blowup (2.92B pairs uncapped -> exp 0.27) with the documented
#: hot-band recall trade.
DEFAULT_BUCKET_CAP = 50
DEFAULT_BAND_CAP = 200

def minhash_signature(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 16, shingle_n: int = 3
) -> DataFrame:
    """k minhashes over word n-gram shingles.

    Shape: explode shingles -> one codegen'd md5 per shingle -> hash
    aggregate with k partial-min columns. This is the op where the
    explode+codegen-agg shape WINS and the higher-order fold (the shape
    that won simhash() its round-11 rewrite) LOSES: a single-pass
    ``aggregate()`` fold carrying the 16 running mins in a struct
    measured 2.039s vs 0.466s for this shape at sf0.1 (bit-identical
    output, same warm best-of-5 protocol) — 4.4x SLOWER. The per-element
    fold work here is 16 interpreted (a*h + b) % P + least() steps plus
    a 16-field struct allocation against simhash's bare shift-and-add,
    over ~4x more elements (every shingle; no array_distinct applies
    since min over duplicates is min over the set). Whole-stage codegen
    on the k min() columns amortizes exactly that arithmetic, and min's
    map-side partial aggregation means the exchange carries only k longs
    per (doc, partition), not the shingles. No
    array_distinct either: min over duplicates equals min over the
    distinct set, so the dedup work (and the oracle's SELECT DISTINCT)
    is irrelevant here. Docs with < n words have no shingle rows and
    drop out of the groupBy, exactly like unnest in the DuckDB oracle.

    The k hash functions are a Carter-Wegman universal family over ONE
    32-bit md5-derived base hash per shingle: minhash_i =
    min((a_i*h + b_i) mod P) — k times fewer digests than salted
    re-hashing, and the maps are pairwise independent so the LSH
    (1/b)^(1/r) threshold analysis holds (correlated families like
    h1+i*h2 double hashing inflate band collisions)."""
    # SQL expr strings end to end, not Column chains (round 13): the
    # identical expression tree handed to the JVM in a few py4j calls
    # instead of a few hundred — see simhash() for the measured
    # driver-side build cost this removes (bit-identical, asserted)
    n = int(shingle_n)
    base = fan_out(df, by=id_col).selectExpr(
        sql_ident(id_col), f"split({sql_ident(text_col)}, ' ', -1) AS _w"
    )
    shingles = (
        f"CASE WHEN size(_w) - {n - 1} >= 1 THEN "
        f"transform(sequence(1, size(_w) - {n - 1}), "
        f"i -> concat_ws(' ', slice(_w, i, {n}))) "
        "ELSE cast(array() as array<string>) END"
    )
    h = base.selectExpr(sql_ident(id_col), f"explode({shingles}) AS _s").selectExpr(
        sql_ident(id_col), "cast(conv(substring(md5(_s), 1, 8), 16, 10) as bigint) AS _h"
    )
    return h.groupBy(id_col).agg(
        *[
            F.expr(f"min(({a}L * _h + {b}L) % {MINHASH_P}L)").alias(f"m{i}")
            for i, (a, b) in enumerate(minhash_params(k))
        ]
    )


def lsh_bands(
    df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    sig: DataFrame | None = None,
) -> DataFrame:
    """(id, band, h) LSH band keys: k minhashes grouped into ``bands``
    rows of r = k/bands each, h = md5 of the comma-joined row. The
    shared banding step of lsh_pairs (self-join flavor) and
    incremental_neardup (ledger flavor) — one definition so the two
    can never drift apart on band layout."""
    if k % bands:
        # silently banding only bands*(k//bands) of the k minhashes
        # would shift the documented (1/b)^(1/r) jaccard threshold with
        # no warning — the recall knob the caller is explicitly tuning
        raise ValueError(f"k ({k}) must be divisible by bands ({bands})")
    if sig is None:
        sig = minhash_signature(df, text_col, id_col, k, shingle_n)
    r = k // bands
    # one selectExpr instead of a per-band Column loop (round 13): the
    # band structs cost ~30 py4j round trips per build the old way
    band_structs = ", ".join(
        f"named_struct('band', {b}, 'h', md5(concat_ws(',', "
        + ", ".join(f"cast(m{b * r + j} as string)" for j in range(r))
        + ")))"
        for b in range(bands)
    )
    return sig.selectExpr(
        sql_ident(id_col), f"explode(array({band_structs})) AS bh"
    ).selectExpr(sql_ident(id_col), "bh.band AS band", "bh.h AS h")


def lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    sig: DataFrame | None = None,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Candidate near-duplicate pairs: docs sharing >= 1 LSH band.
    With k=16, b=4 (r=4) the jaccard threshold is ~(1/b)^(1/r) ~= 0.7.

    ``bucket_cap``: drop every (band, hash) bucket with more members
    than the cap BEFORE the self-join. A boilerplate-heavy corpus puts
    millions of near-identical docs in one bucket, and the join then
    emits cap-free |bucket|^2/2 pairs — the work AQE's skew handling
    cannot reduce (it balances partitions, not pair counts). The trade
    is explicit and standard for production LSH dedup: a pair whose
    EVERY matching band is hot goes undetected; hot-bucket members are
    precisely the near-identical mass that exact/fingerprint dedup
    (dp_dedup_exact, incremental_dedup) already collapses upstream.
    Default DEFAULT_BUCKET_CAP; pass None for the exhaustive audit
    shape (unbounded quadratic output)."""
    # Signatures are (id + k longs) — tiny relative to the corpus even at
    # 100 TB, the standard LSH materialization point. A caller that also
    # needs the signatures passes its (persisted) sig to avoid a
    # recompute. The capped (default) shape reads them exactly once; the
    # exhaustive self-join persists its band table below so the
    # shingle->md5 pipeline (the expensive part) doesn't run twice.
    bands_df = lsh_bands(df, text_col, id_col, k, bands, shingle_n, sig)
    if bucket_cap is not None:
        # GROUP-AND-ENUMERATE: the capped shape needs no self-join at
        # all. One exchange on (band, h); a row_number bound of cap+1
        # (Spark rewrites it to WindowGroupLimit, truncating hot
        # buckets map-side BEFORE the shuffle, so a 100M-member
        # boilerplate bucket ships <= cap+1 rows per map partition);
        # any group still holding cap+1 members after the window is
        # ">cap" and dropped — exactly the anti-join semantics; the
        # survivors' pairs are enumerated locally from a <= cap array.
        # Replaces the broadcast-anti-join shape, whose build side ran
        # the whole shingle->minhash pipeline as its own serialized job
        # (the measured premium, PERFORMANCE.md round 8): 1.12s vs
        # 1.50s best-of-3 at sf0.1, identical output.
        w = Window.partitionBy("band", "h").orderBy(id_col)
        bounded = (
            bands_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= bucket_cap + 1)
            .groupBy("band", "h")
            .agg(F.expr(f"sort_array(collect_list({sql_ident(id_col)}))").alias("_ids"))
            .filter(F.size("_ids") <= bucket_cap)
        )
        return (
            bounded.select(
                F.explode(
                    F.expr(
                        "flatten(transform(_ids, (x, i) -> "
                        "transform(slice(_ids, i + 2, size(_ids)), y -> "
                        "struct(x AS doc_a, y AS doc_b))))"
                    )
                ).alias("p")
            )
            .select("p.doc_a", "p.doc_b")
            # multi-band duplicates: sparse under the cap, tiny exchange
            .distinct()
        )
    # exhaustive shape: persist — the band table feeds both join sides
    bands_df = managed_persist(bands_df)
    a = bands_df.alias("a")
    b_ = bands_df.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        # multi-band duplicates are removed with a distinct here, UNLIKE
        # simhash_pairs' first-match-band predicate: that trick needs each
        # joined row to see the OTHER bands' keys, which simhash carries
        # for free (bit-fields of the one signature long) but minhash
        # would have to ship as 4 extra hashes on every band row — a
        # per-doc exchange cost paid always, to save a shuffle of a
        # candidate set that LSH banding keeps sparse by design. The
        # trade flips exactly when candidates stop being sparse, which
        # is the regime simhash's skewed byte-band buckets live in.
        .distinct()
    )


def _duck_cap_cte(key_col: str, cap: int | None) -> tuple[str, str]:
    """The oracle's hot-group exclusion, shared by duck_lsh_pairs
    (key ``h``) and duck_simhash_pairs (key ``key``): returns
    (cap_cte, bands_name) so the band CTE is named ``bands0`` and
    filtered into ``bands`` when a cap applies, or emitted directly as
    ``bands`` when not. One implementation keeps the two oracles'
    cap semantics (strictly ``> cap`` dropped) in lockstep with each
    other and with the Spark side's group-and-enumerate bound."""
    if cap is None:
        return "", "bands"
    cte = (
        ",\nbands AS (SELECT b.* FROM bands0 b "
        f"LEFT JOIN (SELECT band, {key_col} FROM bands0 GROUP BY band, {key_col} "
        f"HAVING count(*) > {cap}) hot "
        f"ON b.band = hot.band AND b.{key_col} = hot.{key_col} "
        f"WHERE hot.{key_col} IS NULL)"
    )
    return cte, "bands0"


def duck_lsh_pairs(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> str:
    r = k // bands
    mins = ",\n  ".join(
        f"min({duck_affine_hash('h32', a, b)}) AS m{i}"
        for i, (a, b) in enumerate(minhash_params(k))
    )
    band_rows = "\nUNION ALL\n".join(
        f"SELECT {id_col}, {b} AS band, "
        f"md5(concat_ws(',', {', '.join(f'm{b * r + j}' for j in range(r))})) AS h FROM sig"
        for b in range(bands)
    )
    # identical hot-bucket exclusion as the Spark side's cap bound
    cap_cte, bands_name = _duck_cap_cte("h", bucket_cap)
    return f"""
WITH sh AS (
  SELECT DISTINCT {id_col}, unnest({duck_word_shingles(text_col, shingle_n)}) AS s
  FROM {table}
),
hp AS (SELECT {id_col}, {duck_md5_long('s', nchars=8)} AS h32 FROM sh),
sig AS (SELECT {id_col}, {mins} FROM hp GROUP BY {id_col}),
{bands_name} AS ({band_rows}){cap_cte}
SELECT DISTINCT a.{id_col} AS doc_a, b.{id_col} AS doc_b
FROM bands a JOIN bands b ON a.band = b.band AND a.h = b.h AND a.{id_col} < b.{id_col}
"""


# ------------------------------------------------------- n-gram jaccard ----

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold_c6: int = 800000,
    max_candidates: int | None = 500_000_000,
) -> DataFrame:
    """Exact jaccard >= t pairs over shingle sets via ALL-PAIRS PREFIX
    FILTERING (Bayardo et al. WWW'07; Vernica et al. SIGMOD'10 is the
    MapReduce formulation this mirrors).

    A naive inverted-index self-join compares every doc pair sharing ANY
    shingle — on a repetitive corpus that is nearly all pairs, and the
    threshold only applies after the quadratic blowup. Prefix filtering
    makes the exactness cheap: order each doc's shingles globally by
    (rarity, shingle); if J(A,B) >= t then |A intersect B| >=
    ceil(t*|A|), so A and B MUST share an element inside their first
    |X| - ceil(t*|X|) + 1 shingles. Only those prefixes are indexed —
    the self-join touches the rarest slice of each set, candidates
    shrink by orders of magnitude, and NO qualifying pair can be missed
    (unlike LSH pruning, which is probabilistic). Candidates are then
    verified with one exact jaccard over the full sets, fetched for
    candidate docs only via a broadcast semi-join.

    Shuffle ledger: shingle-frequency agg (map-side combined), one
    doc_id window for prefix ranks, the prefix self-join, candidate
    distinct — each moving a fraction of the corpus; the full text never
    moves.

    ``max_candidates`` is the exact operator's scale tripwire. Prefix
    filtering's candidate volume is sum over shingles of C(df_prefix, 2)
    — tiny on natural text (rare shingles index ~1-2 docs) but
    LOW-ENTROPY CORPORA COLLAPSE IT: when the vocabulary is small every
    "rarest" shingle is still shared by thousands of docs and the
    self-join's OUTPUT is quadratic no matter how exact the pruning
    bounds are (measured on the 30-word-vocab synthetic corpus, the
    estimate grows ~x100 per x10 docs: 252 candidates at 500 docs, 122k
    at 5k, 19.7M at 50k, 2.18B at 500k — where a single run did not
    finish in 50 minutes; see SCALING.md round 11). The guard
    computes that sum with one map-side-combined aggregate over the
    prefix table (a ~second-scale job, independent of the join) and
    fails LOUD past the budget, naming lsh_verified_pairs — the
    prune->verify twin whose candidate volume is banded, not quadratic —
    instead of silently launching a week-long join. ``None`` disables
    (the exhaustive-audit escape hatch, same convention as band_cap)."""
    # set size _n travels with each exploded row (narrow, from the array
    # itself) instead of a second count-window over the shuffle
    arr = F.array_distinct(word_shingles(text_col, shingle_n))
    sh = managed_persist(
        fan_out(df, by=id_col)
        .select(F.col(id_col), arr.alias("_arr"))
        # cast: F.size is INT; the PPJoin filters multiply _n by 1e6-scale
        # literals, which wraps at 2^31 under ansi=false for docs with
        # >~2150 shingles while the DuckDB oracle (BIGINT len) keeps the
        # pair — long arithmetic end-to-end preserves the exact contract
        .select(
            F.col(id_col),
            F.size("_arr").cast("long").alias("_n"),
            F.explode("_arr").alias("s"),
        )
    )
    # global canonical order = (document frequency asc, shingle) —
    # rarest first, standard for prefix filtering. The frequency table
    # is an aggregate of sh; AQE picks broadcast vs shuffle join by its
    # actual size (corpus-dependent), so no hint here.
    dfreq = sh.groupBy("s").agg(F.count("*").alias("_dfs"))
    w_rank = Window.partitionBy(id_col).orderBy("_dfs", "s")
    ranked = sh.join(dfreq, "s").select(
        F.col(id_col),
        "s",
        "_n",
        F.row_number().over(w_rank).alias("_rn"),
    )
    # prefix length |X| - ceil(t*|X|) + 1, in exact integer arithmetic
    prefix = ranked.filter(
        F.col("_rn")
        <= F.col("_n")
        - F.expr(f"(({threshold_c6} * _n) + 999999) div 1000000")
        + F.lit(1)
    )
    if max_candidates is not None:
        # the guard materializes prefix once for its aggregate and the
        # join reads it again — persist so the rank window runs once
        prefix = managed_persist(prefix)
        est = (
            prefix.groupBy("s")
            .agg(F.count("*").cast("long").alias("_c"))
            .agg(F.sum(F.expr("_c * (_c - 1) div 2")).alias("_pairs"))
            .collect()[0][0]
        ) or 0
        if est > max_candidates:
            raise RuntimeError(
                f"ngram_jaccard_pairs: the prefix self-join would emit "
                f"~{est:,} candidate pairs (> max_candidates="
                f"{max_candidates:,}) — the corpus is too low-entropy for "
                "exact prefix filtering (every 'rare' shingle is still "
                "shared by thousands of docs). Use lsh_verified_pairs "
                "(banded prune -> exact verify) at this scale, or raise "
                "max_candidates / pass None to run the exhaustive join "
                "anyway"
            )
    a, b = prefix.alias("a"), prefix.alias("b")
    na, nb_ = F.col("a._n"), F.col("b._n")
    rna, rnb = F.col("a._rn"), F.col("b._rn")
    # PPJoin-style pruning inside the join condition, all in exact
    # integer arithmetic (multiplicative forms — no division, so no
    # float-rounding completeness holes):
    # - size filter: t*|A| <= |B| and t*|B| <= |A|
    # - positional filter: overlap still reachable from this match
    #   position, 1 + min(|A|-rn_a, |B|-rn_b) >= ceil(t/(1+t)*(|A|+|B|))
    tc, one = threshold_c6, 1000000
    size_ok = (nb_ * one >= na * tc) & (na * one >= nb_ * tc)
    reach = F.lit(1) + F.least(na - rna, nb_ - rnb)
    pos_ok = reach * (one + tc) >= (na + nb_) * tc
    cands = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & size_ok
            & pos_ok,
        )
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )
    return _verify_jaccard(
        df, cands, text_col, id_col, shingle_n, threshold_c6, shingles=sh
    )


def _verify_jaccard(
    df: DataFrame,
    cands: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    threshold_c6: int,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact-jaccard verification of candidate pairs: fetch shingle sets
    for candidate docs only (broadcast semi-prune — the candidate list is
    small by construction of the pruning step), intersect, threshold.

    ``shingles`` lets the caller hand over an already-persisted exploded
    ``(id_col, s)`` shingle table (ngram_jaccard_pairs has one from its
    prefix stage): the verify sets are then regrouped from it instead of
    re-scanning ``df`` and re-running the shingle expression — one
    groupBy whose output partitioning the b-side of the pair join reuses,
    which is both an exchange and a full second document scan saved."""
    cands = managed_persist(cands)
    # bound the explicit broadcasts: ngram_jaccard_pairs' tripwire
    # deliberately admits up to max_candidates (default 500M) pairs —
    # a size no broadcast survives (gigabytes collected through the
    # driver, Spark's 8GB broadcast hard cap). Past a few million
    # candidates the verify join must go shuffle-side; the count also
    # materializes the persist the downstream consumers share.
    bcast = cands.count() <= 5_000_000

    def maybe_b(frame: DataFrame) -> DataFrame:
        return F.broadcast(frame) if bcast else frame

    cand_ids = (
        cands.select(F.col("doc_a").alias(id_col))
        .union(cands.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    if shingles is not None:
        # the exploded rows were array_distinct'd before the explode, so
        # collect_list reassembles exactly the shingle SET
        sets_ = (
            shingles.join(maybe_b(cand_ids), id_col, "left_semi")
            .groupBy(id_col)
            .agg(F.collect_list("s").alias("sh"))
        )
    else:
        # fan_out AFTER the semi-prune: only candidate docs' text crosses
        # the (conditional) exchange, and the shingle construction — the
        # expensive expression — then runs on every core instead of inside
        # the scan stage on however many splits the parquet offers
        sets_ = fan_out(
            df.join(maybe_b(cand_ids), id_col, "left_semi"), by=id_col
        ).select(
            F.col(id_col),
            F.array_distinct(word_shingles(text_col, shingle_n)).alias("sh"),
        )
    a = sets_.select(F.col(id_col).alias("doc_a"), F.col("sh").alias("sha"))
    b = sets_.select(F.col(id_col).alias("doc_b"), F.col("sh").alias("shb"))
    # broadcast (when bounded) only the array-free pair list; the
    # array-carrying enrichment result stays partitioned (broadcasting
    # rows that drag whole shingle arrays through the driver is the
    # expensive mistake)
    with_a = a.join(maybe_b(cands), "doc_a")
    joined = with_a.join(b, "doc_b")
    # long casts: int32 `inter * 1000000` wraps for pairs sharing
    # >2147 shingles — exactly the long near-dups this verifies
    inter = F.size(F.array_intersect("sha", "shb")).cast("long")
    union = F.size("sha").cast("long") + F.size("shb").cast("long") - inter
    jac = F.floor(inter * 1000000 / union).cast("long")
    return (
        joined.select("doc_a", "doc_b", jac.alias("jaccard_c6"))
        .filter(F.col("jaccard_c6") >= threshold_c6)
    )


def duck_ngram_jaccard_pairs(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold_c6: int = 800000,
) -> str:
    return f"""
WITH sh AS (
  SELECT DISTINCT {id_col}, unnest({duck_word_shingles(text_col, shingle_n)}) AS s
  FROM {table}
),
sizes AS (SELECT {id_col}, count(*) AS n FROM sh GROUP BY {id_col}),
shared AS (
  SELECT a.{id_col} AS doc_a, b.{id_col} AS doc_b, count(*) AS shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.{id_col} < b.{id_col}
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(floor(shared * 1000000 / (na.n + nb.n - shared)) AS BIGINT) AS jaccard_c6
FROM shared
JOIN sizes na ON na.{id_col} = doc_a
JOIN sizes nb ON nb.{id_col} = doc_b
WHERE floor(shared * 1000000 / (na.n + nb.n - shared)) >= {threshold_c6}
"""


# ------------------------------------------------------------- clusters ----

def _checkpoint(frame: DataFrame, reliable: bool) -> DataFrame:
    return frame.checkpoint(eager=True) if reliable else frame.localCheckpoint(eager=True)


def _checkpoint_label_sum(frame: DataFrame, reliable: bool) -> tuple[DataFrame, int | None]:
    """Checkpoint ``frame`` and return sum(label) alongside it (None when
    empty). The sum is observed on the plan being checkpointed, so it is
    computed in the checkpoint job's result stage: a separate agg +
    collect costs two more jobs every round."""
    obs = Observation()
    done = _checkpoint(frame.observe(obs, F.sum("label").alias("s")), reliable)
    return done, obs.get["s"]


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 25,
    reliable: bool = False,
) -> DataFrame:
    """Resolve near-dup pairs into connected components; every doc gets a
    cluster_id = min doc id in its component (singletons cluster with
    themselves) and is_canonical marks the one survivor per cluster — the
    standard final step of corpus dedup (keep where is_canonical).

    Iterative min-label propagation over ONLY the pair-connected
    subgraph — near-dup graphs are tiny relative to the corpus, so the
    per-round state is |nodes in pairs|, not |docs|; the untouched
    majority joins back at the end as singleton clusters via one
    anti-join. Labels only ever decrease, so sum(label) is a monotone
    convergence witness — observed inside each round's checkpoint job
    (no extra action) instead of a change-count join. Each round is one
    neighbor hop PLUS one pointer jump (label <- label-of-label), so
    rounds needed = O(log diameter), not diameter — a long drift chain
    costs a handful of driver-synchronous actions, not one per link.
    Round 1's hop needs no label table: every node starts labelled
    with its own id, so it is one aggregation over the edges. Per round
    the moving data is (id, label) longs — never the text — and
    localCheckpoint truncates the growing lineage so round N's plan
    does not replay rounds 1..N-1.

    ``reliable=True`` swaps localCheckpoint for RELIABLE checkpoints
    (``DataFrame.checkpoint`` into the session's configured checkpoint
    directory). localCheckpoint stores blocks on the executors that
    computed them: losing ONE executor mid-resolution loses blocks every
    later round's plan depends on, and — the lineage having been
    truncated — the job dies rather than recomputes, restarting a
    multi-hour component resolution from round 0 on a real cluster.
    Reliable checkpoints write each round's (id, label) table to the
    checkpoint dir (HDFS/S3), so executor loss costs one task retry.
    The per-round data is two longs/node of the pair-connected subgraph
    — the write is tiny next to any round's shuffle. Requires
    ``spark.sparkContext.setCheckpointDir(...)`` first; fails fast with
    that instruction otherwise.
    """
    if reliable and df.sparkSession.sparkContext.getCheckpointDir() is None:
        raise ValueError(
            "dedup_clusters(reliable=True) needs a reliable checkpoint "
            "directory: call spark.sparkContext.setCheckpointDir(<hdfs/s3 path>) first"
        )

    # one scan, both directions: a union of two selects would evaluate
    # the caller's pair-generation subplan twice at materialization
    # (exchange reuse dedups only the shuffle, not the join/filter work
    # above it) — explode duplicates each row after computing it once
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
                    F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .persist()
    )
    # round 1's hop: a node's label is the least of its own id and its
    # neighbours' ids (the edges are symmetric). Checkpoint BEFORE the
    # jump's self-join: joining an un-checkpointed plan with itself trips
    # attribute deduplication; a LogicalRDD base self-joins cleanly, and
    # the checkpoint doubles as the usual lineage truncation.
    prop = _checkpoint(
        edges.groupBy(F.col("src").alias("id")).agg(
            F.least(F.col("id"), F.min("dst")).alias("label")
        ),
        reliable,
    )
    # None: with any edge, round 1 lowers some label, so no round-1 sum
    # equals it; with none, round 1's empty sum (None) does, at once
    prev_sum = None
    # max_iters + 1: convergence is only WITNESSED by a round that
    # changes nothing, so a component of diameter exactly max_iters —
    # whose last label change lands on round max_iters — needs one
    # extra confirming round or a correct result would raise below
    for _ in range(max_iters + 1):
        # pointer jump (label <- label-of-label): treats the label map
        # as a pointer forest and halves every path through it, so a
        # diameter-d chain converges in O(log d) rounds instead of d —
        # the round count IS the number of driver-synchronous actions,
        # which is what a long drift chain at 100 TB would otherwise
        # pay (VERDICT r8 "what's wrong" #2). Total inner join: every
        # label value is some subgraph node's id by construction
        # (initial labels are own ids; messages only forward existing
        # labels), and ptr's label <= its id == the joined label keeps
        # monotonicity.
        ptr = prop.select(
            F.col("id").alias("_pid"), F.col("label").alias("_plabel")
        )
        labels, cur_sum = _checkpoint_label_sum(
            prop.join(ptr, F.col("label") == F.col("_pid"))
            .select("id", F.col("_plabel").alias("label")),
            # checkpoint the JUMP RESULT too: it feeds the next hop's
            # msgs join and union — uncached, the jump join would run
            # twice per round
            reliable,
        )
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
        # next round's neighbour hop
        msgs = edges.join(labels, edges.src == labels.id).select(
            F.col("dst").alias("id"), F.col("label")
        )
        prop = _checkpoint(
            labels.union(msgs)
            .groupBy("id")
            .agg(F.min("label").alias("label")),
            reliable,
        )
    else:
        # silent non-convergence would return labels that are not
        # component minima: a diameter > max_iters chain splits into
        # clusters whose ids are not members, and `keep where
        # is_canonical` would then DROP whole groups. Fail loudly.
        edges.unpersist()
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iters} rounds — a "
            "near-dup component has diameter > max_iters (long drift "
            "chain); raise max_iters"
        )
    edges.unpersist()
    clustered = labels.select(
        F.col("id").alias(id_col),
        F.col("label").alias("cluster_id"),
        (F.col("label") == F.col("id")).alias("is_canonical"),
    )
    singletons = (
        df.select(id_col)
        # the clustered-id table is |nodes in pairs| — tiny next to the
        # corpus, so the anti-join must broadcast it, never sort-merge
        .join(F.broadcast(clustered.select(id_col)), id_col, "left_anti")
        .select(
            F.col(id_col),
            F.col(id_col).alias("cluster_id"),
            F.lit(True).alias("is_canonical"),
        )
    )
    return clustered.union(singletons)


def duck_dedup_clusters(
    pairs_sql: str | None = None, table: str = "documents", id_col: str = "doc_id"
) -> str:
    """Recursive-CTE oracle: propagate each label to neighbors (pruned to
    labels smaller than the target — the component min always survives the
    prune), then min per node."""
    pairs_sql = pairs_sql or duck_lsh_pairs(table=table, id_col=id_col)
    return f"""
WITH RECURSIVE
pairs AS ({pairs_sql}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(id, label) AS (
  SELECT {id_col}, {id_col} FROM {table}
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id WHERE r.label < e.dst
)
SELECT id AS {id_col}, min(label) AS cluster_id, min(label) = id AS is_canonical
FROM reach GROUP BY id
"""


# -------------------------------------------------------------- simhash ----

SIMHASH_BITS = 60
SIMHASH_BAND_BITS = 15  # 4 bands x 15 bits -> 32768 buckets/band
SIMHASH_BAND_MASK = (1 << SIMHASH_BAND_BITS) - 1
#: SWAR lane mask: bits 0,16,32,48 — ``(h >> k) & mask`` drops bit
#: positions k, k+16, k+32, k+48 into four independent 16-bit counter
#: lanes of a single BIGINT accumulator (see simhash()).
SIMHASH_LANE_MASK = 0x0001000100010001


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """60-bit simhash over distinct words (md5-derived word hashes).

    60 bits (15 md5 hex chars) is the widest signature whose bit
    assembly stays a non-negative BIGINT in BOTH engines — bit 63 would
    need sign-wrap special cases on each side. Width buys precision AND
    banding power: 4 x 15-bit bands give 32768 buckets/band, vs 256 for
    the 8-bit bands of a 32-bit signature (measured on sf0.1: 9.5M
    candidate pairs -> 1.6M for the same 5000 docs).

    Shape: explode distinct words -> one codegen'd md5 per word -> SWAR
    hash aggregate -> assemble bits. Per word row the aggregate runs 16
    masked sums, not 60 conditional ones: ``(h >> k) & LANE_MASK``
    selects bit positions k, k+16, k+32, k+48 into their own 16-bit
    lanes of one accumulator long, so lane m of ``sum(...)`` is the
    one-count of bit position k+16m. Lanes never carry into each other
    while a doc has < 2^16 distinct words (lane value = count <= n);
    the sign-bit wrap of lane 3 is harmless two's-complement (extraction
    masks to 16 bits after an arithmetic shift). Bit j of the signature
    is then set iff 2*count_j > n — the same majority vote as the
    textbook +/-1 fold, decided in the final 1-row-per-doc projection.
    Integer sums are order-independent, so the result is bit-identical
    to the per-row fold and to the DuckDB oracle (whose HUGEINT sums are
    exact at any n; both engines agree whenever a doc stays under 2^16
    distinct words — ~400 KB of unique text).

    Round-11 shape decision, measured both ways: a single-projection
    ``aggregate()`` fold (no explode, no hash agg — the lane sums
    accumulated in a 17-field struct per doc) is bit-identical and
    WINS at sf0.1 (signature 0.236s vs 0.451s; the row there is
    exchange-floor-bound, and the fold dodges agg machinery), but
    LOSES at sf10 where compute dominates: interleaved same-session
    A/B 4.437s vs 3.611s for dp_simhash_pairs (the fold's lambda —
    md5+conv per distinct word — runs INTERPRETED, while this shape
    keeps the hash inside whole-stage codegen, same economics as
    minhash_signature's 4.4x result). 100 TB is the compute regime,
    so the codegen explode stays; PERFORMANCE.md round 11 has the
    full profile, including the 0.487s-per-exchange local floor that
    made the fold look good at bench scale."""
    # The lane sums and the 60-term bit assembly are built as SQL expr
    # STRINGS, not nested Column objects (round 13): each F.<op> call is
    # a py4j round trip, and the old per-bit Python loop (~600 calls)
    # cost 1.15-1.4s of DRIVER time per build — more than the whole
    # executed job at sf0.1 (jvm planning itself is ~0.06s). One
    # F.expr() per aggregate/projection hands the JVM the identical
    # expression tree in a single call (bit-identical output, asserted
    # at sf0.1 and by the oracle parity sweep).
    wh = fan_out(df, by=id_col).selectExpr(
        sql_ident(id_col),
        f"explode(array_distinct(split({sql_ident(text_col)}, ' ', -1))) AS _word",
    ).selectExpr(
        sql_ident(id_col),
        "cast(conv(substring(md5(_word), 1, 15), 16, 10) as bigint) AS _h",
    )
    lane_sums = wh.groupBy(id_col).agg(
        F.count("*").alias("_n"),
        *[
            F.expr(f"sum(shiftright(_h, {k}) & {SIMHASH_LANE_MASK}L)").alias(f"_a{k}")
            for k in range(16)
        ],
    )
    acc = " + ".join(
        f"(CASE WHEN 2 * (shiftright(_a{j % 16}, {16 * (j // 16)}) & 65535) > _n"
        f" THEN {1 << j}L ELSE 0L END)"
        for j in range(SIMHASH_BITS)
    )
    # loud, not silent: past 2^16 distinct words a lane carry would
    # corrupt the signature IDENTICALLY in both engines, so the oracle
    # harness could never catch it — fail the job with the cause instead
    guarded = (
        f"CASE WHEN _n < {1 << 16} THEN CAST({acc} AS BIGINT) "
        "ELSE CAST(raise_error('simhash: a document has >= 2^16 distinct words; "
        "the SWAR counter lanes would overflow — split such documents first') "
        "AS BIGINT) END"
    )
    return lane_sums.select(F.col(id_col), F.expr(guarded).alias("simhash"))


def duck_simhash(table: str = "documents", text_col: str = "text", id_col: str = "doc_id") -> str:
    h = duck_md5_long("w", nchars=15)
    sums = ",\n  ".join(
        f"sum((({h}) >> {k}) & {SIMHASH_LANE_MASK}) AS a{k}" for k in range(16)
    )
    acc = " + ".join(
        f"CASE WHEN 2 * ((a{j % 16} >> {16 * (j // 16)}) & 65535) > n"
        f" THEN CAST({1 << j} AS BIGINT) ELSE 0 END"
        for j in range(SIMHASH_BITS)
    )
    return f"""
WITH wh AS (
  SELECT DISTINCT {id_col}, unnest(string_split({text_col}, ' ')) AS w FROM {table}
),
bits AS (SELECT {id_col}, count(*) AS n, {sums} FROM wh GROUP BY {id_col})
SELECT {id_col}, CAST({acc} AS BIGINT) AS simhash FROM bits
"""


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    band_cap: int | None = DEFAULT_BAND_CAP,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Uses banded blocking (4 x 15-bit bands): by pigeonhole any pair within
    hamming 3 shares an intact band, so the banded join + hamming filter
    equals brute force while shuffling only (band, key) ints.

    ``band_cap`` is simhash's version of lsh_pairs' ``bucket_cap``: drop
    every (band, key) group with more members than the cap before the
    self-join. Near-dup PAIR COUNT is inherently quadratic in dup-group
    size — sf10's synthetic corpus emits 2.92 BILLION pairs uncapped
    (measured; throughput holds at ~13M pairs/s, it is the output that
    explodes) — and a boilerplate mega-band does the same on real data.
    The trade is the same explicit one as minhash's: a pair whose every
    intact band is hot goes undetected; that near-identical mass is what
    exact/fingerprint dedup collapses upstream. Default DEFAULT_BAND_CAP;
    pass None for the exhaustive audit shape, which keeps the exact
    pigeonhole guarantee at unbounded output."""
    sig = simhash(df, text_col, id_col)
    return banded_hamming_pairs(sig, "simhash", id_col, max_hamming, band_cap)


def banded_hamming_pairs(
    sig: DataFrame,
    hash_col: str,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    band_cap: int | None = DEFAULT_BAND_CAP,
) -> DataFrame:
    """Hamming near-dup pairs over ANY <=60-bit signature column — the
    banding engine behind :func:`simhash_pairs`, shared with the image
    perceptual hash (multimodal.media_phash) so text and image near-dup
    can never drift in their banding arithmetic. ``sig`` must carry
    (``id_col``, ``hash_col``: a long using at most 60 bits); see
    simhash_pairs for the pigeonhole guarantee and the band_cap trade.

    At saturation density (every pair-capable (band,key) group over
    ``band_cap`` — the documented sf100 regime, SCALING.md) this query
    correctly returns ZERO pairs, and the bare result is then
    indistinguishable from "no near-dups exist". Callers that DECIDE on
    the pair set should also run :func:`band_cap_saturation` (one cheap
    group-count job over the same band explode) or use
    :func:`banded_hamming_pairs_with_metrics`, which returns both. A
    ``df.observe``/Observation hook was tried first and rejected: under
    AQE this plan's CollectMetrics row comes back empty flakily in
    Spark 4.1 (the metrics future resolves to a size-0 row), and a
    saturation signal that silently vanishes is worse than a second
    tiny job."""
    if max_hamming > 3:
        # a hard error, not an assert: asserts strip under python -O,
        # and past bands-1 differing bits the pigeonhole guarantee is
        # gone — the function would silently return an incomplete pair
        # set while claiming exact banded recall
        raise ValueError(
            "banded blocking guarantees recall only for max_hamming <= 3 "
            "(pairs can differ in all 4 bands beyond bands-1 bits)"
        )
    if band_cap is None:
        # persist: both sides of the exhaustive band self-join read the
        # signature; tiny (id + 1 long) at any corpus scale. The capped
        # (default) shape reads it exactly once — no persist needed.
        sig = managed_persist(sig)
    bands = _explode_hash_bands(sig, hash_col, id_col, "key")
    if band_cap is not None:
        # GROUP-AND-ENUMERATE, same shape and rationale as lsh_pairs'
        # capped path: one exchange on (band, key), WindowGroupLimit
        # truncates hot bands to cap+1 rows map-side before the shuffle,
        # a group still at cap+1 after the window is ">cap" and dropped
        # (identical to the former anti-join semantics), and the
        # survivors' pairs + hamming distances are computed locally from
        # a <= cap member array — no self-join, no broadcast build job.
        # The member struct carries the full simhash so hamming is a
        # local bit_count, and the array filter drops non-pairs before
        # the explode ever materializes them as rows.
        w = Window.partitionBy("band", "key").orderBy(id_col)
        bounded = (
            bands.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= band_cap + 1)
            .groupBy("band", "key")
            .agg(
                F.expr(
                    "sort_array(collect_list("
                    f"named_struct('i', {sql_ident(id_col)}, 's', {sql_ident(hash_col)})))"
                ).alias("_m")
            )
            .filter(F.size("_m") <= band_cap)
        )
        pair_expr = (
            "filter(flatten(transform(_m, (x, i) -> "
            "transform(slice(_m, i + 2, size(_m)), y -> "
            "struct(x.i AS doc_a, y.i AS doc_b, bit_count(x.s ^ y.s) AS hamming)))), "
            f"p -> p.hamming <= {int(max_hamming)})"
        )
        return (
            bounded.select(F.explode(F.expr(pair_expr)).alias("p"))
            # a pair can share several surviving bands (the first-match-
            # band trick is unsound under a cap — its xor-first intact
            # band may be the dropped hot one); candidates are sparse
            # under the cap, so the dedup exchange is tiny. groupBy
            # rather than .distinct(): identical semantics (hamming is a
            # function of the pair) and exchange count, but distinct-
            # above-an-observed-aggregate breaks Observation.get in
            # Spark 4.1 (PythonSQLUtils.toPyRow assertion) while this
            # shape reports metrics fine.
            .groupBy(
                F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b")
            )
            .agg(F.min("p.hamming").alias("hamming"))
        )
    a, b = bands.alias("a"), bands.alias("b")
    xor = F.expr(f"a.{hash_col} ^ b.{hash_col}")
    ham = F.bit_count(xor)
    # first-match-band dedup: a pair matching in several bands would come
    # out of the join once per band; instead of a `.distinct()` (a full
    # shuffle of the candidate-pair set — the pair volume is quadratic in
    # bucket skew, so at scale that exchange dwarfs the signatures), keep
    # the row only when every EARLIER band differs — a per-row bitwise
    # predicate, no exchange. Each qualifying pair survives exactly once.
    band_intact = [
        F.shiftright(xor, j * SIMHASH_BAND_BITS).bitwiseAND(F.lit(SIMHASH_BAND_MASK)) == 0
        for j in range(4)
    ]
    first_match = F.col("a.band") == F.when(band_intact[0], 0).otherwise(
        F.when(band_intact[1], 1).otherwise(F.when(band_intact[2], 2).otherwise(3))
    )
    joined = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).filter(ham <= max_hamming)
    return joined.filter(first_match).select(
        F.col(f"a.{id_col}").alias("doc_a"),
        F.col(f"b.{id_col}").alias("doc_b"),
        ham.alias("hamming"),
    )


def band_cap_saturation(
    sig: DataFrame,
    hash_col: str,
    id_col: str = "doc_id",
    band_cap: int = DEFAULT_BAND_CAP,
) -> DataFrame:
    """One-row saturation report for the band cap on a signature frame:
    how much of the candidate mass :func:`banded_hamming_pairs` would
    exclude at ``band_cap``. Columns: ``n_groups`` (all (band,key)
    groups), ``n_pair_groups`` (>= 2 members — the only groups that can
    emit pairs), ``n_capped_groups`` (pair groups over cap),
    ``capped_frac_c6`` (capped / pair groups, micro fixed-point; 0 when
    no pair groups exist). ~1,000,000 means EVERY potential pair source
    was excluded — the sf100-dense regime where a zero-pair result means
    "cap saturated", not "no near-dups" (VERDICT r11 watch-point #1).
    One exchange on (band,key) group counts; integer-exact for the
    DuckDB oracle twin."""
    bands = _explode_hash_bands(sig, hash_col, id_col, "key")
    g = bands.groupBy("band", "key").agg(F.count(F.lit(1)).alias("n"))
    pair = F.sum((F.col("n") >= 2).cast("long"))
    capped = F.sum((F.col("n") > band_cap).cast("long"))
    return g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        pair.alias("n_pair_groups"),
        capped.alias("n_capped_groups"),
        F.when(pair > 0, F.floor(capped * 1000000 / pair))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("capped_frac_c6"),
    )


def banded_hamming_pairs_with_metrics(
    sig: DataFrame,
    hash_col: str,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    band_cap: int = DEFAULT_BAND_CAP,
) -> tuple[DataFrame, DataFrame]:
    """:func:`banded_hamming_pairs` plus its :func:`band_cap_saturation`
    report as a (pairs, saturation) tuple — the operational entry point
    for callers that act on the pair set: a zero-pair result with
    ``capped_frac_c6`` ~= 1,000,000 means the cap excluded everything
    (the sf100-dense regime), not that the corpus is duplicate-free.
    ``sig`` is persisted across the two jobs so the signature lineage
    (often a media decode) computes once; caller owns the unpersist via
    the returned frames' lifecycle (managed_persist registry)."""
    sig = managed_persist(sig)
    return (
        banded_hamming_pairs(sig, hash_col, id_col, max_hamming, band_cap),
        band_cap_saturation(sig, hash_col, id_col, band_cap),
    )


def duck_band_cap_saturation(
    bands_cte: str, band_cap: int = DEFAULT_BAND_CAP
) -> str:
    """DuckDB twin of :func:`band_cap_saturation` over a CTE named by
    ``bands_cte`` exposing (band, key) rows — identical integer
    arithmetic so the saturation numbers hash-match."""
    return f"""
g AS (SELECT band, key, count(*) AS n FROM {bands_cte} GROUP BY band, key)
SELECT CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_pair_groups,
       CAST(sum(CASE WHEN n > {band_cap} THEN 1 ELSE 0 END) AS BIGINT) AS n_capped_groups,
       CAST(CASE WHEN sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) > 0
                 THEN floor(sum(CASE WHEN n > {band_cap} THEN 1 ELSE 0 END) * 1000000
                            / sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END))
                 ELSE 0 END AS BIGINT) AS capped_frac_c6
FROM g"""


def duck_simhash_pairs(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    band_cap: int | None = DEFAULT_BAND_CAP,
) -> str:
    # the oracle bands exactly like the Spark side — pigeonhole makes
    # banded blocking provably equal to brute force at hamming <= 3, and
    # the equi-join on (band, key) is a parallel hash join where the
    # n^2 theta-join this replaces ran one core for an hour at sf1.
    # DISTINCT (instead of Spark's first-match-band predicate) collapses
    # multi-band duplicates AFTER the cheap hamming filter. band_cap
    # mirrors the Spark side's hot-band exclusion.
    base = duck_simhash(table, text_col, id_col)
    cap_cte, bands_name = _duck_cap_cte("key", band_cap)
    return f"""
WITH sim AS ({base}),
{bands_name} AS (
  SELECT {id_col}, simhash,
         (simhash >> (CAST(r.b AS INTEGER) * {SIMHASH_BAND_BITS})) & {SIMHASH_BAND_MASK} AS key,
         CAST(r.b AS INTEGER) AS band
  FROM sim CROSS JOIN range(0, 4) r(b)
){cap_cte}
SELECT DISTINCT a.{id_col} AS doc_a, b.{id_col} AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM bands a JOIN bands b
  ON a.band = b.band AND a.key = b.key AND a.{id_col} < b.{id_col}
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


# ------------------------------------------------------ LSH + verification ----

def lsh_verified_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold_c6: int = 600000,
) -> DataFrame:
    """The scalable near-dup pipeline shape: cheap LSH candidate
    generation, then exact jaccard ONLY on candidates (prune -> verify,
    shared with the prefix-filter join via _verify_jaccard). Unlike
    ngram_jaccard_pairs' prefix filter, LSH pruning is probabilistic —
    a pair can miss every band — so this trades completeness for a
    candidate set that does not depend on shingle-frequency skew."""
    cands = lsh_pairs(df, text_col, id_col, k, bands, shingle_n)
    return _verify_jaccard(df, cands, text_col, id_col, shingle_n, threshold_c6)


def duck_lsh_verified_pairs(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold_c6: int = 600000,
) -> str:
    pairs = duck_lsh_pairs(table, text_col, id_col, k, bands, shingle_n)
    sh = f"list_distinct({duck_word_shingles(text_col, shingle_n)})"
    return f"""
WITH cands AS ({pairs}),
sets_ AS (SELECT {id_col}, {sh} AS sh FROM {table})
SELECT c.doc_a, c.doc_b,
       CAST(floor(len(list_intersect(a.sh, b.sh)) * 1000000 /
                  (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))) AS BIGINT) AS jaccard_c6
FROM cands c
JOIN sets_ a ON a.{id_col} = c.doc_a
JOIN sets_ b ON b.{id_col} = c.doc_b
WHERE floor(len(list_intersect(a.sh, b.sh)) * 1000000 /
            (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))) >= {threshold_c6}
"""


# -------------------------------------------------------- decontamination ----

def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
    strategy: str = "broadcast",
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any word
    n-gram with a benchmark/eval set — the standard leakage check before
    training. The benchmark shingle set is distinct'd once, then the
    corpus is scanned once: explode -> semi-probe -> count per doc.
    Returns every input doc with its hit count and a contaminated flag.

    ``strategy`` picks the probe's physical shape; results are
    identical:

    - ``"broadcast"`` — ship the shingle set to every executor. Right
      while the eval union stays broadcast-sized (a handful of
      benchmarks: MBs of shingles against a 100 TB corpus).
    - ``"shuffle"`` — hash-partition both sides on the shingle
      (``shuffle_hash`` hint builds the table on the benchmark side).
      Right when the eval union grows past broadcast comfort (a
      hundred-suite union reaches GBs of distinct shingles — broadcast
      would replicate that per executor); Spark's runtime bloom filter
      (spark.sql.optimizer.runtime.bloomFilter.enabled) then prunes
      corpus shingles before the exchange.
    """
    if strategy not in ("broadcast", "shuffle"):
        raise ValueError(f"unknown decontaminate strategy {strategy!r}")
    bench_sh = (
        benchmark.select(
            F.explode(F.array_distinct(word_shingles(text_col, shingle_n))).alias("s")
        )
        .distinct()
    )
    doc_sh = fan_out(df, by=id_col).select(
        F.col(id_col),
        F.explode(F.array_distinct(word_shingles(text_col, shingle_n))).alias("s"),
    )
    probe = (
        doc_sh.join(F.broadcast(bench_sh), "s")
        if strategy == "broadcast"
        else doc_sh.join(bench_sh.hint("shuffle_hash"), "s")
    )
    hits = probe.groupBy(id_col).agg(F.count("*").alias("n_hits"))
    return (
        df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def duck_decontaminate(
    table: str = "documents",
    bench_filter: str = "doc_id < 20",
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
) -> str:
    sh = duck_word_shingles(text_col, shingle_n)
    return f"""
WITH bench_sh AS (
  SELECT DISTINCT unnest({sh}) AS s FROM {table} WHERE {bench_filter}
),
doc_sh AS (
  SELECT DISTINCT {id_col}, unnest({sh}) AS s FROM {table} WHERE NOT ({bench_filter})
),
hits AS (
  SELECT d.{id_col}, count(*) AS n_hits
  FROM doc_sh d JOIN bench_sh b ON d.s = b.s
  GROUP BY d.{id_col}
)
SELECT t.{id_col} AS {id_col}, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM (SELECT {id_col} FROM {table} WHERE NOT ({bench_filter})) t
LEFT JOIN hits h ON h.{id_col} = t.{id_col}
"""


# ------------------------------------------------ exact substring dedup ----

def exact_substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 50,
) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better"): REMOVE every token covered by a
    k-token span that occurs >= 2 times anywhere in the corpus
    (including self-repeats within one document), keeping the
    surrounding text. This is the within-document surgical tier the
    whole-doc exact/near-dup family can't express — boilerplate
    headers, license blocks, quoted chunks.

    Definitions pinned (mirrored exactly in
    :func:`duck_exact_substring_dedup`): tokens are space-split words;
    a position i (1-based) is duplicated when the k-gram starting there
    hashes equal (60-bit md5) to any other position's k-gram; removed
    tokens are the UNION of [i, i+k-1] over duplicated positions; docs
    under k tokens are never touched; NULL text passes through NULL.

    Returns (id, n_tokens, n_removed_tokens, removed_frac_c6,
    clean_text).

    Scale shape (the honest cost of exact substring dedup — the
    suffix-array formulation needs a dedicated single-box build at
    100 TB, this is the distributed shuffle formulation): one row per
    TOKEN flows into one exchange on the 64-bit gram hash (the window
    count), duplicated positions (normally a tiny fraction) flow into
    one exchange on id, and one id-join resolves spans back to the
    corpus — AQE broadcasts the span side when it fits (the usual
    case: only span-carrying docs have rows), else the corpus pays one
    id exchange. Interval union is a per-row linear fold over each
    doc's sorted duplicate positions — no further shuffle. ~24 B/token
    through the hash exchange, same order as dp_global_shuffle.

    The gram hash is xxhash64, NOT md5_long (round 13): the hash never
    leaves the plan — the result depends only on gram EQUALITY, so any
    injective-enough hash computes the identical output. The DuckDB
    oracle twin keeps md5, so the engines no longer share collision
    behavior: a differential collision would fail the value-exact
    parity sweep loudly — nil at any corpus the oracle can sweep
    (n^2/2^65 ~ 1e-10 at sf1). At a true 100 TB corpus (~1e12 grams)
    the expected collision count n^2/2^65 is ~2.7e4, each falsely
    marking one <=2k-token span duplicated: a bounded loss of ~3e-6 of
    corpus tokens, and strictly BETTER than the 60-bit md5 prefix this
    replaced (16x fewer collisions) — not "nil", and worth stating
    honestly at that scale (round 14, VERDICT r13 #9). xxhash64
    skips md5's digest + hex + conv chain per gram — together with the
    fan_out below, measured 1.95x end-to-end at sf0.1 (interleaved A/B,
    min 2.802s -> 1.439s; OPTIMIZATION_r13.md).
    fan_out parallelizes the gram-hash pass AND (via the reused
    exchange) the rewrite projection: a single-row-group local scan
    otherwise evaluates every gram hash and the per-token covered()
    rewrite in ONE task; on real multi-split input it is a no-op."""
    # SQL expr strings end to end (round 13): the old Column/lambda
    # construction of the gram transform, the interval fold and the
    # rewrite projection cost ~0.3s of driver time per build in py4j
    # round trips; these strings hand the JVM the identical trees in a
    # handful of calls (value-exact parity re-swept at 3 SFs)
    df = fan_out(df, by=id_col)
    w_sql = f"split({sql_ident(text_col)}, ' ', -1)"
    # the under-k filter sits BEFORE the gram explode on purpose:
    # Catalyst pushes it below the fan_out repartition, so short docs
    # never cross this branch's exchange at all. (A CASE-guarded empty
    # gram array — the shape that would keep both fan_out branches'
    # subtrees identical — was measured equivalent at sf0.1, 1.17s vs
    # 1.20s interleaved min, because exchange reuse does not engage on
    # these branches either way; the filter shape shuffles fewer rows.)
    hashed = (
        df.where(f"size({w_sql}) - {k - 1} >= 1")
        .selectExpr(
            sql_ident(id_col),
            f"posexplode(transform(sequence(1, size({w_sql}) - {k - 1}), "
            f"i -> xxhash64(concat_ws(' ', slice({w_sql}, i, {k}))))) AS (_p0, h)",
        )
        .selectExpr(sql_ident(id_col), "cast(_p0 + 1 as bigint) AS pos", "h")
    )
    dup = hashed.withColumn(
        "_c", F.count(F.lit(1)).over(Window.partitionBy("h"))
    ).filter(F.col("_c") >= 2)
    # merged intervals per doc: linear fold over the sorted duplicate
    # positions (fixed span length k keeps the running end monotone,
    # so appending/extending the LAST interval is exhaustive)
    merge_sql = (
        "aggregate(sort_array(collect_list(pos)), "
        "cast(array() as array<struct<s:bigint,e:bigint>>), "
        "(acc, p) -> CASE WHEN size(acc) > 0 AND p <= element_at(acc, -1).e + 1 "
        "THEN concat(slice(acc, 1, size(acc) - 1), "
        "array(named_struct('s', element_at(acc, -1).s, "
        f"'e', greatest(element_at(acc, -1).e, cast(p + {k - 1} as bigint))))) "
        "ELSE concat(acc, array(named_struct('s', cast(p as bigint), "
        f"'e', cast(p + {k - 1} as bigint)))) END)"
    )
    spans = dup.groupBy(id_col).agg(F.expr(merge_sql).alias("_iv"))
    out = df.join(spans, id_col, "left")
    n_tokens_sql = f"cast(nullif(size({w_sql}), -1) as bigint)"
    n_removed_sql = (
        "coalesce(aggregate(_iv, cast(0 as bigint), "
        "(acc, x) -> acc + (x.e - x.s + 1)), cast(0 as bigint))"
    )
    frac_sql = (
        f"cast(coalesce(CASE WHEN {n_tokens_sql} > 0 "
        f"THEN floor({n_removed_sql} * 1000000 / {n_tokens_sql}) "
        "ELSE 0 END, 0) as bigint)"
    )
    # span-free docs (the vast majority; _iv is NULL for them) keep their
    # text verbatim — split/join round-trips space-split exactly, so the
    # shortcut is value-identical while skipping the per-token covered()
    # scan for every clean doc (the oracle twin has the same
    # CASE WHEN iv IS NULL branch)
    clean_sql = (
        f"CASE WHEN _iv IS NULL THEN {sql_ident(text_col)} ELSE array_join("
        f"filter({w_sql}, (x, j) -> NOT coalesce("
        "exists(_iv, iv -> iv.s <= j + 1 AND j + 1 <= iv.e), false)), ' ') END"
    )
    return out.selectExpr(
        sql_ident(id_col),
        f"{n_tokens_sql} AS n_tokens",
        f"{n_removed_sql} AS n_removed_tokens",
        f"{frac_sql} AS removed_frac_c6",
        f"{clean_sql} AS clean_text",
    )


def duck_exact_substring_dedup(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 50,
) -> str:
    """DuckDB twin of :func:`exact_substring_dedup` — gaps-and-islands
    over the duplicated positions instead of the fold (SQL-natural,
    value-identical: fixed span length makes the island break condition
    pos > lag(pos) + k equivalent to the fold's last.e + 1 test)."""
    gram = f"array_to_string(w[pos:pos+{k - 1}], ' ')"
    return f"""
WITH w0 AS (SELECT {id_col}, {text_col} AS text, string_split({text_col}, ' ') AS w
            FROM {table}),
p0 AS (SELECT {id_col}, unnest(range(1, greatest(len(w) - {k} + 2, 1))) AS pos, w
       FROM w0),
ph AS (SELECT {id_col}, CAST(pos AS BIGINT) AS pos, {duck_md5_long(gram)} AS h FROM p0),
dup AS (SELECT {id_col}, pos
        FROM (SELECT *, count(*) OVER (PARTITION BY h) AS c FROM ph) WHERE c >= 2),
isl AS (SELECT {id_col}, pos,
               CASE WHEN pos > lag(pos, 1, CAST(-{k + 1} AS BIGINT))
                              OVER (PARTITION BY {id_col} ORDER BY pos) + {k}
                    THEN 1 ELSE 0 END AS brk
        FROM dup),
isl2 AS (SELECT {id_col}, pos,
                sum(brk) OVER (PARTITION BY {id_col} ORDER BY pos
                               ROWS UNBOUNDED PRECEDING) AS island
         FROM isl),
iv0 AS (SELECT {id_col}, island, min(pos) AS s, max(pos) + {k - 1} AS e
        FROM isl2 GROUP BY {id_col}, island),
ivs AS (SELECT {id_col}, list({{'s': s, 'e': e}} ORDER BY s) AS iv
        FROM iv0 GROUP BY {id_col})
SELECT w0.{id_col},
       CAST(len(w0.w) AS BIGINT) AS n_tokens,
       CAST(coalesce(list_sum(list_transform(ivs.iv, x -> x.e - x.s + 1)), 0) AS BIGINT)
         AS n_removed_tokens,
       CAST(CASE WHEN len(w0.w) > 0
                 THEN coalesce(floor(coalesce(list_sum(list_transform(ivs.iv,
                        x -> x.e - x.s + 1)), 0) * 1000000 / len(w0.w)), 0)
                 ELSE 0 END AS BIGINT) AS removed_frac_c6,
       CASE WHEN ivs.iv IS NULL THEN w0.text
            -- coalesce: a fully-covered doc keeps ZERO words and
            -- DuckDB's array_to_string(empty comprehension) is NULL
            -- where Spark's array_join(empty) is '' — the iv branch
            -- only runs for non-null text, so '' is always right here
            ELSE coalesce(array_to_string([w0.w[j] for j in range(1, len(w0.w) + 1)
                                  if len(list_filter(ivs.iv,
                                         x -> x.s <= j AND j <= x.e)) = 0], ' '), '')
       END AS clean_text
FROM w0 LEFT JOIN ivs ON w0.{id_col} = ivs.{id_col}
"""
