"""Continuous corpus ingestion: incremental dedup against a persistent
fingerprint ledger, composed with the streaming file source — the
bounded-memory replacement for the reference's grow-forever dedup set
(/root/reference/filter/dedup.go:14-21)."""

import os

import pytest

from pyspark.sql import functions as F

from baker_spark.datapipe.ingest import CorpusIngest
from baker_spark.streaming.daemon import FileStreamSource, StreamingPipeline


def _ingestor(tmp_path):
    return CorpusIngest(
        corpus_dir=str(tmp_path / "corpus"),
        ledger_dir=str(tmp_path / "ledger"),
        key=F.md5(F.col("text")),
        id_col="doc_id",
    )


def test_batch_ingest_dedups_within_and_across_batches(spark, tmp_path):
    sink = _ingestor(tmp_path)
    b1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], ["doc_id", "text"]  # 3 = in-batch dup
    )
    assert sink.write(b1) == 2  # alpha (min id 1) + beta
    b2 = spark.createDataFrame(
        [(4, "beta"), (5, "gamma")], ["doc_id", "text"]  # beta already ledgered
    )
    assert sink.write(b2) == 1  # only gamma
    corpus = spark.read.parquet(sink.corpus_dir)
    assert {r.doc_id for r in corpus.collect()} == {1, 2, 5}
    ledger = spark.read.parquet(sink.ledger_dir)
    assert ledger.count() == 3  # alpha, beta, gamma fingerprints
    assert (sink.ingested, sink.dropped, sink.batches) == (3, 2, 2)


def test_batch_ingest_integer_fingerprint_key(spark, tmp_path):
    """A non-string key (md5_long -> BIGINT, the dedup family's
    canonical fingerprint) must not poison the string-typed ledger:
    the sink normalizes the key to string at the boundary, so batch 2
    reads batch 1's ledger cleanly and cross-batch dedup still holds."""
    from baker_spark.functions.hashing import md5_long

    sink = CorpusIngest(
        corpus_dir=str(tmp_path / "corpus"),
        ledger_dir=str(tmp_path / "ledger"),
        key=md5_long(F.col("text")),
        id_col="doc_id",
    )
    b1 = spark.createDataFrame([(1, "alpha"), (2, "beta")], ["doc_id", "text"])
    assert sink.write(b1) == 2
    b2 = spark.createDataFrame([(3, "beta"), (4, "gamma")], ["doc_id", "text"])
    assert sink.write(b2) == 1  # beta dedups against batch 1's ledger
    corpus = spark.read.parquet(sink.corpus_dir)
    assert {r.doc_id for r in corpus.collect()} == {1, 2, 4}


def test_streaming_ingest_via_file_source(spark, tmp_path):
    """The full daemon: files arrive, each micro-batch dedups against
    the ledger, corpus grows append-only — redelivered content is
    dropped by the anti join, not by fragile file-level tracking."""
    watch = tmp_path / "watch"
    watch.mkdir()
    (watch / "a.csv").write_text("1,the quick fox\n2,jumped over\n")

    sink = _ingestor(tmp_path)
    pipe = StreamingPipeline(
        source=FileStreamSource(str(watch), fields=["doc_id", "text"]),
        ops=[],
        sink=sink,
    )
    q = pipe.start(spark, checkpoint_dir=str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        assert spark.read.parquet(sink.corpus_dir).count() == 2

        # a redelivered copy of doc 2 under a NEW file name plus one new
        # doc: content-level dedup drops the former, admits the latter
        (watch / "b.csv").write_text("9,jumped over\n3,and ran away\n")
        q.processAllAvailable()
        corpus = spark.read.parquet(sink.corpus_dir)
        assert sorted(r.text for r in corpus.collect()) == [
            "and ran away",
            "jumped over",
            "the quick fox",
        ]
        assert {r.doc_id for r in corpus.collect()} == {"1", "2", "3"}
    finally:
        q.stop()

    # restart from the checkpoint: already-processed files stay
    # processed, and a post-restart arrival still dedups vs the ledger
    sink2 = _ingestor(tmp_path)
    pipe2 = StreamingPipeline(
        source=FileStreamSource(str(watch), fields=["doc_id", "text"]),
        ops=[],
        sink=sink2,
    )
    q2 = pipe2.start(spark, checkpoint_dir=str(tmp_path / "ckpt"))
    try:
        (watch / "c.csv").write_text("7,the quick fox\n8,brand new doc\n")
        q2.processAllAvailable()
        corpus = spark.read.parquet(sink2.corpus_dir)
        assert corpus.count() == 4  # only "brand new doc" was admitted
        assert "brand new doc" in {r.text for r in corpus.collect()}
    finally:
        q2.stop()


def test_bucketed_ledger_ingest_dedups_and_survives_restart(spark, tmp_path):
    """ledger_buckets mode: the ledger is a catalog table CLUSTERED BY
    fp over ledger_dir — per-batch anti-joins read it in place, appends
    land in their bucket, and a fresh session (simulated by dropping
    the catalog entry; the directory survives) re-registers it and
    keeps deduplicating against everything already ingested."""
    import contextlib
    import io

    table = "corpus_ingest_ledger_test"
    sink = CorpusIngest(
        corpus_dir=str(tmp_path / "corpus"),
        ledger_dir=str(tmp_path / "ledger"),
        key=F.md5(F.col("text")),
        id_col="doc_id",
        ledger_buckets=4,
        ledger_table=table,
    )
    try:
        b1 = spark.createDataFrame(
            [(1, "alpha"), (2, "beta"), (3, "alpha")], ["doc_id", "text"]
        )
        assert sink.write(b1) == 2
        # the anti-join against the registered ledger is a hash join over
        # the bucketed scan — no sort-merge of the stored side
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            from baker_spark.datapipe.dedup import incremental_dedup_against_keys

            probe = incremental_dedup_against_keys(
                b1, sink._ledger(spark), F.md5(F.col("text"))
            )
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                probe.explain("formatted")
            plan = buf.getvalue()
            assert "Bucketed: true" in plan
            assert "ShuffledHashJoin" in plan and "SortMergeJoin" not in plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

        # "restart": catalog entry gone, directory intact
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        sink2 = CorpusIngest(
            corpus_dir=sink.corpus_dir,
            ledger_dir=sink.ledger_dir,
            key=F.md5(F.col("text")),
            id_col="doc_id",
            ledger_buckets=4,
            ledger_table=table,
        )
        b2 = spark.createDataFrame(
            [(4, "beta"), (5, "gamma")], ["doc_id", "text"]
        )
        assert sink2.write(b2) == 1  # beta still deduped across the restart
        corpus = spark.read.parquet(sink.corpus_dir)
        assert {r.doc_id for r in corpus.collect()} == {1, 2, 5}
        assert spark.table(table).count() == 3
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_null_id_group_rejected_whole_not_ledgered(spark, tmp_path):
    """An fp group whose ids are ALL NULL can't be resolved by the
    id semi-join; ledgering its fp anyway would mark the document
    'seen' while the corpus never received it — permanent loss. The
    group must be rejected WHOLE (no corpus row, no ledger row,
    counted) so a later identified copy still lands."""
    sink = _ingestor(tmp_path)
    b1 = spark.createDataFrame(
        [(None, "ghost"), (7, "real")], "doc_id long, text string"
    )
    assert sink.write(b1) == 1  # only 'real'
    corpus = spark.read.parquet(sink.corpus_dir)
    assert {r.doc_id for r in corpus.collect()} == {7}
    assert spark.read.parquet(sink.ledger_dir).count() == 1  # 'real' only
    assert sink.dropped_null_id == 1

    # a redelivery of the same content WITH an id must be admitted —
    # the old behavior anti-joined it away forever
    b2 = spark.createDataFrame([(8, "ghost")], "doc_id long, text string")
    assert sink.write(b2) == 1
    assert {r.doc_id for r in spark.read.parquet(sink.corpus_dir).collect()} == {7, 8}
    assert spark.read.parquet(sink.ledger_dir).count() == 2


def test_bucketed_ledger_ingest_dedups_and_reuses_writer(spark, tmp_path):
    """The ledger_buckets branch (now routed through the ONE
    write_seen_ledger implementation): cross-batch dedup through the
    bucketed catalog table, appends landing in fp buckets, and the
    idempotent re-registration recovering from the directory alone."""
    import uuid

    table = f"ingest_ledger_{uuid.uuid4().hex[:8]}"
    sink = CorpusIngest(
        corpus_dir=str(tmp_path / "corpus"),
        ledger_dir=str(tmp_path / "ledger"),
        key=F.md5(F.col("text")),
        id_col="doc_id",
        ledger_buckets=4,
        ledger_table=table,
    )
    try:
        b1 = spark.createDataFrame([(1, "alpha"), (2, "beta")], ["doc_id", "text"])
        assert sink.write(b1) == 2
        b2 = spark.createDataFrame(
            [(3, "alpha"), (4, "gamma")], ["doc_id", "text"]  # alpha ledgered
        )
        assert sink.write(b2) == 1  # only gamma
        assert {r.doc_id for r in spark.read.parquet(sink.corpus_dir).collect()} == {1, 2, 4}
        assert spark.table(table).count() == 3

        # a FRESH ingest object (daemon restart) recovers the table from
        # the directory and keeps deduping
        sink2 = CorpusIngest(
            corpus_dir=sink.corpus_dir, ledger_dir=sink.ledger_dir,
            key=F.md5(F.col("text")), id_col="doc_id",
            ledger_buckets=4, ledger_table=table,
        )
        b3 = spark.createDataFrame([(5, "beta"), (6, "delta")], ["doc_id", "text"])
        assert sink2.write(b3) == 1  # only delta
        assert spark.table(table).count() == 4
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


# five mutually-distinct images (pairwise phash hamming 8-26, computed
# offline): aHash is brightness-shift INVARIANT, so same-dim fixtures
# differing only in seed are hamming-0 duplicates by design — distinct
# images need distinct dimensions here
_IMGS = {"A": (1, 9, 7), "B": (2, 16, 5), "C": (40, 7, 11),
         "D": (50, 12, 12), "E": (3, 5, 13)}


def _png(key):
    from baker_spark.datapipe import multimodal as M

    seed, w, h = _IMGS[key]
    return M.png_pixel_bytes(w, h, seed=seed)


def test_media_ingest_dedups_images_within_and_across_batches(spark, tmp_path):
    """MediaIngest: identical and hamming<=3 images drop against the
    ledger; a fresh instance over the same dirs (restart) keeps
    dedup'ing; undecodable payloads are skipped and counted."""
    from baker_spark.datapipe.ingest import MediaIngest

    sink = MediaIngest(
        corpus_dir=str(tmp_path / "mcorpus"),
        ledger_dir=str(tmp_path / "mledger"),
        ledger_table="media_ledger_t1",
        ledger_buckets=4,
    )
    try:
        b1 = spark.createDataFrame(
            [
                (1, _png("A")),
                (2, _png("B")),
                (3, _png("A")),      # identical to 1 -> in-batch drop
                (4, b"not an image"),  # undecodable -> skipped
            ],
            "doc_id long, payload binary",
        )
        assert sink.write(b1) == 2  # images 1 and 2
        assert sink.skipped_undecodable == 1 and sink.dropped_dup == 1
        b2 = spark.createDataFrame(
            [(5, _png("B")), (6, _png("C"))],  # 5 identical to ledgered 2
            "doc_id long, payload binary",
        )
        assert sink.write(b2) == 1  # only C is new
        corpus = spark.read.parquet(sink.corpus_dir)
        assert {r.doc_id for r in corpus.collect()} == {1, 2, 6}
        # restart: a FRESH instance over the same dirs still dedups
        sink2 = MediaIngest(
            corpus_dir=sink.corpus_dir,
            ledger_dir=sink.ledger_dir,
            ledger_table=sink.ledger_table,
            ledger_buckets=4,
        )
        b3 = spark.createDataFrame(
            [(7, _png("A")), (8, _png("D"))], "doc_id long, payload binary"
        )
        assert sink2.write(b3) == 1
        corpus = spark.read.parquet(sink.corpus_dir)
        assert {r.doc_id for r in corpus.collect()} == {1, 2, 6, 8}
        assert (sink.ingested, sink2.ingested) == (3, 1)
    finally:
        spark.sql("DROP TABLE IF EXISTS media_ledger_t1")


def test_media_ingest_crash_window_readmits_never_loses(spark, tmp_path):
    """A crash between corpus and ledger append re-admits the batch on
    replay (duplicate corpus rows), never loses it — CorpusIngest's
    contract, verified on the image loop."""
    from baker_spark.datapipe.ingest import MediaIngest

    sink = MediaIngest(
        corpus_dir=str(tmp_path / "mcorpus"),
        ledger_dir=str(tmp_path / "mledger"),
        ledger_table="media_ledger_t2",
        ledger_buckets=4,
        inject_crash_between_appends=1,
    )
    try:
        b = spark.createDataFrame(
            [(1, _png("A")), (2, _png("B"))], "doc_id long, payload binary"
        )
        import pytest as _pytest

        with _pytest.raises(RuntimeError, match="injected crash"):
            sink.write(b)
        sink.inject_crash_between_appends = 0  # disarm for the replay
        # corpus has the rows, ledger does not -> replay re-admits
        assert spark.read.parquet(sink.corpus_dir).count() == 2
        assert sink.write(b) == 2  # replay: duplicates, never loss
        corpus = spark.read.parquet(sink.corpus_dir)
        assert corpus.count() == 4
        assert {r.doc_id for r in corpus.collect()} == {1, 2}
        # next batch dedups against the now-written ledger
        b2 = spark.createDataFrame([(3, _png("A"))], "doc_id long, payload binary")
        assert sink.write(b2) == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS media_ledger_t2")


def test_media_ingest_as_streaming_sink(spark, tmp_path):
    """MediaIngest as a foreachBatch sink on the file stream source:
    two micro-batches of image rows, cross-batch near-dups dropped."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from baker_spark.datapipe.ingest import MediaIngest

    src_dir = tmp_path / "arrivals"
    src_dir.mkdir()
    sink = MediaIngest(
        corpus_dir=str(tmp_path / "mcorpus"),
        ledger_dir=str(tmp_path / "mledger"),
        ledger_table="media_ledger_t3",
        ledger_buckets=4,
    )

    def drop(name, rows):
        t = pa.table(
            {"doc_id": pa.array([r[0] for r in rows], pa.int64()),
             "payload": pa.array([r[1] for r in rows], pa.binary())}
        )
        pq.write_table(t, str(src_dir / name))

    try:
        drop("b1.parquet", [(1, _png("A")), (2, _png("B"))])
        stream = (
            spark.readStream.schema("doc_id long, payload binary")
            .parquet(str(src_dir))
        )
        q = (
            stream.writeStream.foreachBatch(lambda df, _id: sink.write(df))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        drop("b2.parquet", [(3, _png("B")), (4, _png("E"))])
        q2 = (
            stream.writeStream.foreachBatch(lambda df, _id: sink.write(df))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(120)
        corpus = spark.read.parquet(sink.corpus_dir)
        assert {r.doc_id for r in corpus.collect()} == {1, 2, 4}
    finally:
        spark.sql("DROP TABLE IF EXISTS media_ledger_t3")


def test_media_ingest_releases_every_cache_per_batch(spark, tmp_path):
    """The long-running-sink contract: after write() returns, NO frame
    this batch persisted may remain cached (the managed_persist registry
    is only drained at catalog-query builds, which a streaming daemon
    never performs — so the sink must own its caches per batch)."""
    from baker_spark.datapipe.ingest import MediaIngest
    from baker_spark.session import release_caches

    release_caches()  # start from a clean registry
    spark.catalog.clearCache()
    sink = MediaIngest(
        corpus_dir=str(tmp_path / "mcorpus"),
        ledger_dir=str(tmp_path / "mledger"),
        ledger_table="media_ledger_t4",
        ledger_buckets=4,
    )
    try:
        for n, batch in enumerate(
            [[(1, _png("A")), (2, _png("B"))], [(3, _png("A")), (4, _png("C"))]]
        ):
            sink.write(
                spark.createDataFrame(batch, "doc_id long, payload binary")
            )
            cached = [
                info.name()
                for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
            ]
            assert not cached, f"batch {n} leaked cached RDDs: {cached}"
    finally:
        spark.sql("DROP TABLE IF EXISTS media_ledger_t4")


def test_qualified_ledger_table_name_accepted(spark, tmp_path):
    """ADVICE r12: ``db.ledger`` is a legal Spark table name that
    _table_location canonicalizes — a namespaced deployment must not
    fail at the first bucketed write. Segments are validated
    individually; injection shapes still raise."""
    import pytest

    from baker_spark.datapipe.ingest import _ledger_ddl_parts

    assert _ledger_ddl_parts("db1.ledger", "/x")[0] == "`db1`.`ledger`"
    # a path holding a quote and a backslash survives as one literal
    odd = "/x/it's\\b"
    loc = _ledger_ddl_parts("t", odd)[1]
    assert spark.sql(f"SELECT {loc} AS v").first()["v"] == odd
    for bad in ("a-b", "a.b-c", "a..b", "x'y", "a.b.c.d'"):
        with pytest.raises(ValueError):
            _ledger_ddl_parts(bad, "/x")

    spark.sql("CREATE DATABASE IF NOT EXISTS ingest_ns_test")
    sink = CorpusIngest(
        corpus_dir=str(tmp_path / "corpus"),
        ledger_dir=str(tmp_path / "ledger"),
        key=F.md5(F.col("text")),
        ledger_buckets=4,
        ledger_table="ingest_ns_test.corpus_ledger",
    )
    try:
        b1 = spark.createDataFrame([(1, "alpha"), (2, "beta")], ["doc_id", "text"])
        assert sink.write(b1) == 2
        b2 = spark.createDataFrame([(3, "beta"), (4, "gamma")], ["doc_id", "text"])
        assert sink.write(b2) == 1
        assert spark.table("ingest_ns_test.corpus_ledger").count() == 3
    finally:
        spark.sql("DROP TABLE IF EXISTS ingest_ns_test.corpus_ledger")
        spark.sql("DROP DATABASE IF EXISTS ingest_ns_test")


def test_media_ingest_decoder_stamp_warns_on_backend_swap(spark, tmp_path):
    """ADVICE r12: a band ledger built under one pixel backend silently
    stops matching near-dups after a backend swap (GIF palette / JPEG
    IDCT differ per backend). MediaIngest stamps the EFFECTIVE decoder
    name beside the ledger on first write; a later instance resolving a
    different backend warns loudly, same backend stays silent."""
    import warnings

    from baker_spark.datapipe import multimodal as M
    from baker_spark.datapipe.ingest import MediaIngest

    def _swap_decode(payload):  # distinct callable (same behavior)
        return M._pure_pixel_decode(payload)

    M.register_image_decoder("stampswap_test", _swap_decode)
    kw = dict(
        corpus_dir=str(tmp_path / "mcorpus"),
        ledger_dir=str(tmp_path / "mledger"),
        ledger_table="media_ledger_stamp",
        ledger_buckets=4,
    )
    try:
        sink = MediaIngest(**kw)
        with warnings.catch_warnings():
            warnings.simplefilter("error")  # first write must not warn
            sink.write(
                spark.createDataFrame([(1, _png("A"))], "doc_id long, payload binary")
            )
        assert (tmp_path / "mledger" / "_DECODER").read_text() == "pure"
        # restart under the same backend: silent
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            MediaIngest(**kw).write(
                spark.createDataFrame([(2, _png("B"))], "doc_id long, payload binary")
            )
        # restart under a DIFFERENT backend: loud
        swapped = MediaIngest(decoder="stampswap_test", **kw)
        with pytest.warns(RuntimeWarning, match="built with image decoder 'pure'"):
            swapped.write(
                spark.createDataFrame([(3, _png("C"))], "doc_id long, payload binary")
            )
        # the stamp records the ORIGINAL backend, not the intruder
        assert (tmp_path / "mledger" / "_DECODER").read_text() == "pure"
    finally:
        M.IMAGE_DECODERS.pop("stampswap_test", None)
        spark.sql("DROP TABLE IF EXISTS media_ledger_stamp")
