"""Continuous corpus ingestion: the end-to-end composition of this
engine's streaming sources and the incremental-dedup family — new
document batches arrive (file notifications, queue messages, TCP), each
batch is deduplicated against a PERSISTENT fingerprint ledger, survivors
append to the corpus, and their fingerprints append to the ledger.

This is the 100 TB ingestion loop the reference's daemon topologies
approximate with an in-memory dedup set that grows forever
(/root/reference/filter/dedup.go:14-21 documents its own OOM): here the
ledger lives on disk as parquet keyed by a 128-bit fingerprint, the
anti join ships only keys, and executor memory stays flat no matter how
old the corpus grows.

Semantics under failure: ``write`` appends the corpus BEFORE the ledger,
so a crash between the two re-admits the batch on replay — duplicates,
never loss (at-least-once; a downstream ``exact_dedup`` pass restores
exactly-once). Used as a ``StreamingPipeline`` sink the batch boundary
is Spark's micro-batch, checkpointed by the streaming engine.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StringType, StructField, StructType

from baker_spark.datapipe.dedup import (
    incremental_dedup_against_keys,
    write_seen_ledger,
)
from baker_spark.functions import sql_ident, sql_str

LEDGER_SCHEMA = StructType([StructField("fp", StringType())])

_IDENT_RX = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _ledger_ddl_parts(table: str, location: str) -> tuple[str, str]:
    """Validate/escape the two values the ledger DDL interpolates:
    ``table`` may be a dot-qualified name (``db.ledger`` is a legal
    Spark table name that _table_location canonicalizes) but EVERY
    segment must be a bare identifier — quotes, hyphens, or empty
    segments would re-scope or break the statement; segments are
    backtick-quoted in the emitted DDL so reserved words stay inert.
    ``location`` comes back as a complete string literal (``sql_str``):
    quotes and backslashes are escaped, so a POSIX-legal path holding
    either neither re-scopes the LOCATION clause nor has ``\\b`` read
    as a backspace."""
    segments = table.split(".")
    if not all(_IDENT_RX.match(s) for s in segments):
        raise ValueError(
            "ledger_table segments must be bare SQL identifiers, "
            f"got {table!r}"
        )
    return ".".join(sql_ident(s) for s in segments), sql_str(location)


@dataclass
class CorpusIngest:
    """Dedup-and-append sink. ``key`` is a Column computing the content
    fingerprint (e.g. ``F.md5(F.col("text"))`` for exact,
    ``text.fingerprint("text")`` for near-dup normalization) — the same
    contract as :func:`~baker_spark.datapipe.dedup.incremental_dedup`.

    Works as a batch call (``ingest(df)``) or as the ``sink`` of a
    ``StreamingPipeline`` (``write`` is the foreachBatch hook)."""

    corpus_dir: str
    ledger_dir: str
    key: object  # pyspark Column
    id_col: str = "doc_id"
    #: opt-in bucketed ledger: when set, the ledger is maintained as a
    #: catalog table CLUSTERED BY (fp) over ``ledger_dir`` — the
    #: per-batch anti-join then reads the ledger in place (no shuffle,
    #: no sort; see dedup.write_seen_ledger) instead of re-shuffling
    #: the whole ever-growing key set every batch. The table is
    #: registered idempotently each write, so a restarted session (or
    #: a fresh metastore) recovers from the directory alone.
    ledger_buckets: int | None = None
    ledger_table: str = "corpus_ingest_ledger"
    #: cumulative stats across writes (InputStats analog)
    ingested: int = 0
    dropped: int = 0
    #: fp groups whose ids were ALL NULL: rejected whole (neither
    #: corpus nor ledger) so a later identified copy can still land —
    #: see the inline comment in ``write``
    dropped_null_id: int = 0
    batches: int = 0
    #: failure-injection seam (soak tests): raise on the Nth write call
    #: (1-based) BETWEEN the corpus append and the ledger append —
    #: the exact crash window the module doc documents as "re-admits on
    #: replay: duplicates, never loss". 0 = off (production default).
    inject_crash_between_appends: int = 0

    def _ledger(self, spark) -> DataFrame:
        if self.ledger_buckets:
            table, loc = _ledger_ddl_parts(self.ledger_table, self.ledger_dir)
            spark.sql(
                f"CREATE TABLE IF NOT EXISTS {table} (fp STRING) "
                f"USING PARQUET CLUSTERED BY (fp) SORTED BY (fp) "
                f"INTO {int(self.ledger_buckets)} BUCKETS "
                f"LOCATION {loc}"
            )
            # shuffle_hash: without it the bucketed side falls into a
            # sort-merge join that re-sorts the whole ledger per batch
            # (see incremental_dedup_against_ledger)
            return spark.table(self.ledger_table).hint("shuffle_hash")
        # existence must be checked through Hadoop's FS, not os.path —
        # a driver-local isdir() is always False for s3a://, hdfs://,
        # etc., which would silently disable dedup forever (every
        # redelivered batch re-admitted against an empty ledger)
        try:
            return spark.read.schema(LEDGER_SCHEMA).parquet(self.ledger_dir)
        except Exception as exc:
            if "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc):
                return spark.createDataFrame([], LEDGER_SCHEMA)
            raise

    def write(self, batch_df: DataFrame) -> int:
        """One batch through the loop; returns docs admitted."""
        from pyspark.sql import Observation

        spark = batch_df.sparkSession
        ledger = self._ledger(spark)
        # the ledger's on-disk fp column is STRING (LEDGER_SCHEMA); a
        # caller-supplied key of any other type (md5_long -> BIGINT,
        # xxhash64 -> BIGINT) would write a differently-typed ledger
        # that the schema-forced read breaks on at the NEXT batch, so
        # the key is normalized to string at this boundary — a no-op
        # for string fingerprints, a deterministic decimal rendering
        # for integer ones (identical on every batch, so dedup holds)
        key = F.col(self.key) if isinstance(self.key, str) else self.key
        # coalesce the key: md5 of a NULL text yields a NULL fingerprint,
        # and NULL never equals NULL in the ledger anti-join — so the
        # "one survivor per empty document" the in-batch groupBy rightly
        # picks (all NULL/empty docs ARE duplicates in the record model)
        # was re-admitted EVERY batch and its ledger row re-appended
        # forever. Keyed as '' the ledger match works like any other fp.
        key = F.coalesce(key.cast("string"), F.lit(""))
        # batch size rides the dedup scan as an observation — a separate
        # batch_df.count() would re-execute the whole batch lineage just
        # for the dropped counter
        obs = Observation()
        batch_df = batch_df.observe(obs, F.count(F.lit(1)).alias("n"))
        # survivors: one (id, fp) per batch fingerprint group absent from
        # the ledger — small relative to the batch, so persist once and
        # feed both the corpus join and the ledger append from it
        kept_all = incremental_dedup_against_keys(batch_df, ledger, key, self.id_col).persist()
        try:
            # a survivor whose id is NULL (min over an ALL-NULL-id group)
            # can never be resolved by the semi join below — admitting
            # its fp to the ledger anyway would mark the document "seen"
            # while the corpus never received it: PERMANENT loss, and a
            # redelivery carrying a real id would be anti-joined away
            # forever. Such groups are rejected WHOLE (not ledgered, not
            # admitted) and counted, so a later batch with ids gets in.
            kept = kept_all.filter(F.col(self.id_col).isNotNull())
            n_kept = kept.count()
            n_null_id = kept_all.count() - n_kept  # cached: both read the persist
            n_batch = int(obs.get["n"])
            # resolve surviving ids back to full rows; the semi join
            # ships ids only, text never crosses twice (AQE broadcasts
            # the kept side when it is small, which it normally is)
            admitted = batch_df.join(kept.select(self.id_col), self.id_col, "left_semi")
            # corpus BEFORE ledger: replay re-admits (duplicates), never
            # loses — see module doc
            admitted.write.mode("append").parquet(self.corpus_dir)
            if self.inject_crash_between_appends == self.batches + 1:
                raise RuntimeError(
                    "injected crash between corpus and ledger append "
                    "(CorpusIngest failure-injection seam)"
                )
            if self.ledger_buckets:
                # bucketed append: rows land in their fp bucket so the
                # next batch's anti-join stays exchange-free. ONE writer
                # implements the bucket/sort/one-file-per-bucket recipe
                # (dedup.write_seen_ledger) — duplicating it here drifted
                write_seen_ledger(
                    kept, self.ledger_table, self.ledger_dir,
                    n_buckets=self.ledger_buckets, mode="append",
                )
            else:
                kept.select("fp").write.mode("append").parquet(self.ledger_dir)
        finally:
            kept_all.unpersist()
        self.ingested += n_kept
        self.dropped += n_batch - n_kept  # rows not admitted (dups + null-id)
        self.dropped_null_id += n_null_id  # GROUPS rejected for NULL ids
        self.batches += 1
        return n_kept


@dataclass
class MediaIngest:
    """Continuous IMAGE ingestion: the near-dup twin of
    :class:`CorpusIngest` for binary media batches. Each batch's
    payloads pixel-decode to 60-bit perceptual hashes
    (multimodal.media_phash), the batch is screened against a
    persistent phash band ledger with VERIFIED collisions
    (dedup.incremental_neardup_against_phash_ledger — bare 15-bit band
    collisions are random at corpus scale, see its docstring), admitted
    rows append to the corpus, and their (fp, phash) band keys append
    to the fp-bucketed ledger.

    Same failure contract as CorpusIngest: corpus BEFORE ledger, so a
    crash between the appends re-admits on replay — duplicates, never
    loss (the verified anti-join absorbs the replay at the next batch).
    Payloads that don't pixel-decode (or exceed the decode budget) are
    SKIPPED and counted, never admitted — the honest-skip contract of
    media_phash; route them through CorpusIngest's byte-exact
    fingerprint if undecodable blobs must still be kept.

    Works as a batch call or as a ``StreamingPipeline`` foreachBatch
    sink. Scale shape: only (id, phash, band, h) rows join; the ledger
    is read in place (bucketed, zero exchange per batch); payload bytes
    cross the wire once, into the corpus append."""

    corpus_dir: str
    ledger_dir: str
    id_col: str = "doc_id"
    payload_col: str = "payload"
    max_hamming: int = 3
    ledger_buckets: int = 16
    ledger_table: str = "media_ingest_ledger"
    ingested: int = 0
    dropped_dup: int = 0
    skipped_undecodable: int = 0
    batches: int = 0
    #: failure-injection seam (see CorpusIngest): raise on the Nth
    #: write, between corpus append and ledger append
    inject_crash_between_appends: int = 0

    def _ensure_ledger(self, spark) -> None:
        table, loc = _ledger_ddl_parts(self.ledger_table, self.ledger_dir)
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {table} "
            f"(fp STRING, phash BIGINT) "
            f"USING PARQUET CLUSTERED BY (fp) SORTED BY (fp) "
            f"INTO {int(self.ledger_buckets)} BUCKETS "
            f"LOCATION {loc}"
        )

    def write(self, batch_df: DataFrame) -> int:
        """One batch through the loop; returns images admitted."""
        from pyspark.sql import Observation

        from baker_spark.datapipe.dedup import (
            incremental_neardup_against_phash_ledger,
        )
        from baker_spark.datapipe.multimodal import media_phash

        spark = batch_df.sparkSession
        self._ensure_ledger(spark)
        # collapse same-id rows INSIDE the batch first: the left_semi
        # admit below keeps every physical row carrying a kept id, and
        # the in-batch greedy rule (min id < id) cannot drop an EQUAL
        # id — so a same-id redelivery landing in one micro-batch would
        # write duplicate corpus rows and skew the counters (CorpusIngest
        # collapses via its groupBy(fp).min(id); this is the media twin).
        # Counters are derived from the deduped frame: one unit per id.
        batch_df = batch_df.dropDuplicates([self.id_col])
        obs = Observation()
        batch_df = batch_df.observe(obs, F.count(F.lit(1)).alias("n"))
        # every cache this batch creates is unpersisted in the finally —
        # a long-running sink must own its caches per batch (the default
        # managed_persist registry is only drained at catalog-query
        # builds, which a streaming daemon never performs)
        caches: list[DataFrame] = []

        def _persist(df: DataFrame) -> DataFrame:
            df = df.persist()
            caches.append(df)
            return df

        sigs = _persist(
            media_phash(batch_df, self.payload_col, self.id_col).select(
                self.id_col, "phash"
            )
        )
        try:
            n_decoded = sigs.count()
            n_batch = int(obs.get["n"])
            kept_ids, kept_keys = incremental_neardup_against_phash_ledger(
                sigs, spark, self.ledger_table,
                id_col=self.id_col, max_hamming=self.max_hamming,
                persist_fn=_persist,
            )
            kept_ids = _persist(kept_ids)
            n_kept = kept_ids.count()
            admitted = batch_df.join(kept_ids, self.id_col, "left_semi")
            # corpus BEFORE ledger — duplicates on replay, never loss
            admitted.write.mode("append").parquet(self.corpus_dir)
            if self.inject_crash_between_appends == self.batches + 1:
                raise RuntimeError(
                    "injected crash between corpus and ledger append "
                    "(MediaIngest failure-injection seam)"
                )
            write_seen_ledger(
                kept_keys, self.ledger_table, self.ledger_dir,
                n_buckets=self.ledger_buckets, mode="append",
                extra_cols=("phash",),
            )
        finally:
            for df in caches:
                df.unpersist()
        self.ingested += n_kept
        self.dropped_dup += n_decoded - n_kept
        self.skipped_undecodable += n_batch - n_decoded
        self.batches += 1
        return n_kept
