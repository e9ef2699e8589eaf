"""The three workloads, each driven through the engine's public entry points.

- ``etl_logs``: ``compile_toml`` -> ``Pipeline.run`` over gzip CSV logs.
- ``corpus_dedup``: the ``datapipe.text`` / ``datapipe.dedup`` calls of
  ``examples/corpus_pipeline.py``, ending in one parquet write.
- ``daemon_tcp``: ``TCPFileSource.listener()`` + ``StreamingPipeline.start``
  fed by one open-loop sender thread.

A workload has ``prepare`` (generate inputs, untimed), ``warmup`` (one pass
over a small slice, part of set-up time) and either ``iteration`` (one full
pass, which ``run.batch_measure`` repeats) or ``measure`` (the daemon's timed
window).
Every pass is checked against :mod:`check`; a pass that raises or fails its
check is a failed operation.
"""

from __future__ import annotations

import glob
import gzip
import json
import os
import socket
import threading
import time
import traceback
from contextlib import contextmanager

import check
import gen
from tracing import NO_SPANS, StageReader, count_exchanges, median, progress_summary

#: Spark cores: at most three, leaving one core of a four-core host to the
#: Python process (py4j calls, the TCP listener and the sender thread)
CORES = max(1, min(3, os.cpu_count() or 1))

LOG_RECORDS = 160_000
LOG_FILES = 6
SHARD_PROCS = 4
DOCS = 1_200
#: the corpus set-up pass runs over the first documents only
WARM_DOCS = 200
#: open loop: one sender thread, one connection at a time, on a fixed
#: schedule; at 8 connections/s the batches queue behind each other and
#: a slower minute of the host doubles the latency
CONN_PER_S = 4
RECORDS_PER_CONN = 40
#: traffic while the daemon warms up: the first part is set-up time; the
#: per-connection latency keeps falling for about ten seconds after the
#: query starts, so the rest is sent, untimed, before the measured window
WARMUP_S = 3.0
SETTLE_S = 7.0
DRAIN_TIMEOUT_S = 30.0

#: TimestampRange window of the daemon topology (the records carry their
#: send time)
DAEMON_TS = ("2020-01-01 00:00:00", "2100-01-01 00:00:00")
DAEMON_TS_EPOCH = (1577836800, 4102444800)

TOPOLOGY = """
[fields]
names = {fields}

[input]
name = "{input}"

    [input.config]
{input_config}

[[filter]]
name = "ClauseFilter"

    [filter.config]
    Clause = "(not (or (method HEAD) (status 500)))"

[[filter]]
name = "NotNull"

    [filter.config]
    Fields = ["uid"]

[[filter]]
name = "TimestampRange"

    [filter.config]
    Field = "ts"
    StartDatetime = "{start}"
    EndDatetime = "{end}"

[[filter]]
name = "URLParam"

    [filter.config]
    SrcField = "url"
    DstField = "campaign"
    Param = "utm_campaign"

[[filter]]
name = "Hash"

    [filter.config]
    SrcField = "uid"
    DstField = "uid_md5"
    Function = "md5"
    Encoding = "hex"

[output]
name = "FileWriter"
{sharding}
fields = ["country", "ts", "uid_md5", "campaign", "status", "{last}"]

    [output.config]
    PathString = {out}
"""


def _toml_list(items) -> str:
    return "[" + ", ".join(json.dumps(i) for i in items) + "]"


def _dir_stats(directory: str) -> tuple[int, int]:
    """(files, bytes) of the data files below ``directory``."""
    files = [
        p for p in glob.glob(os.path.join(directory, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith((".", "_"))
    ]
    return len(files), sum(os.path.getsize(p) for p in files)


class PassTrace:
    """What a traced batch pass records besides its spans: Spark's stage
    counters from the start of the pass, the plan's exchanges, and the
    sink's time outside its Spark jobs, files and bytes. With tracing off
    it records nothing and makes no call into Spark."""

    def __init__(self, spark, spans, layers: dict):
        self.spans, self.layers = spans, layers
        self.reader = StageReader(spark) if spans.enabled else None
        if self.reader:
            self.reader.mark()

    def add(self, name: str, value) -> None:
        self.layers.setdefault(name, []).append(value)

    def plan(self, df) -> None:
        if self.reader:
            with self.spans.span("spark.plan"):
                self.add("spark.exchanges", count_exchanges(df))

    @contextmanager
    def sink_write(self, out: str):
        jobs_t0 = self.reader.job_mark() if self.reader else None
        t0 = time.perf_counter()
        with self.spans.span("sinks.write"):
            yield
        if not self.reader:
            return
        write_s = time.perf_counter() - t0
        for key, value in self.reader.since_mark().items():
            self.add(f"spark.{key}", value)
        self.add("sinks.post_write_s", write_s - self.reader.jobs_wall_s(jobs_t0))
        files, nbytes = _dir_stats(out)
        self.add("sinks.files", files)
        self.add("sinks.output_bytes", nbytes)


class Outcome:
    """Operations attempted and failed, with the first few reasons."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def record(self, problems: list[str]) -> bool:
        """One operation; it failed when its check found ``problems``."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems[:3])
        return not problems

    def run(self, fn, *args):
        """Call ``fn``; an exception is a failed operation. Returns
        ``fn``'s result, or None when it raised."""
        try:
            return fn(*args)
        except Exception:  # a failed operation, counted and reported
            self.record([traceback.format_exc(limit=3)])
            return None


# ------------------------------------------------------------------ etl_logs


#: per-layer counters that repeat exactly between traced runs of the same
#: code and seed: the noise-free regression signal
BATCH_EXACT = [
    "spark.stages", "spark.tasks", "spark.exchanges", "spark.scan_output_records", "sources.input_records",
    "sources.input_bytes", "sinks.files",
]


class EtlLogs:
    name = "etl_logs"
    unit = "records"
    exact_counters = BATCH_EXACT + ["operators.records_in", "operators.records_out"]
    uses_operators = True
    #: after the set-up pass over one file, the first full runs fall from
    #: about 2.0 to 1.2 s: three of them are left untimed
    warm_iterations = 3
    min_iterations = 5

    def prepare(self, work: str, seed: int) -> None:
        self.work = work
        records = gen.log_records(seed, LOG_RECORDS)
        self.files = gen.write_log_files(records, os.path.join(work, "in"), LOG_FILES)
        self.n_input = len(records)
        self.input_bytes = sum(os.path.getsize(p) for p in self.files)
        self.expected = check.line_digest(check.topology_lines(records, gen.TS_LO, gen.TS_HI))
        self.warm_expected = check.line_digest(
            check.topology_lines(records[0::LOG_FILES], gen.TS_LO, gen.TS_HI)
        )

    def _toml(self, files: list[str], out: str) -> str:
        return TOPOLOGY.format(
            fields=_toml_list(gen.LOG_FIELDS),
            input="List",
            input_config=f"    files = {_toml_list(files)}",
            start="2024-01-01 00:00:00",
            end="2024-07-01 00:00:00",
            sharding=f'sharding = "country"\nprocs = {SHARD_PROCS}',
            last="bytes",
            out=json.dumps(out),
        )

    def _problems(self, out: str, expected) -> list[str]:
        got = check.line_digest(check.read_gz_lines(out))
        if got == expected:
            return []
        return [f"output (lines, digest) {got} != reference {expected}"]

    def _run(self, spark, files, out, spans=NO_SPANS, layers=None) -> float:
        """One topology run. Untraced it is one ``Pipeline.run`` call;
        traced, the same steps with a span around each layer."""
        from baker_spark.plans import compile_toml

        trace = PassTrace(spark, spans, layers)
        t0 = time.perf_counter()
        if not spans.enabled:
            compile_toml(self._toml(files, out)).run(spark)
            return time.perf_counter() - t0
        with spans.span("iteration"):
            with spans.span("plans.compile"):
                pipe = compile_toml(self._toml(files, out))
            with spans.span("pipeline.build"):
                df = pipe.dataframe(spark)
            trace.plan(df)
            with trace.sink_write(out):
                pipe.sink.write(df)
        trace.add("operators.records_out", layers["spark.output_records"][-1])
        return time.perf_counter() - t0

    def warmup(self, spark, outcome: Outcome) -> None:
        out = os.path.join(self.work, "warm_out")
        if outcome.run(self._run, spark, self.files[:1], out) is not None:
            outcome.record(self._problems(out, self.warm_expected))

    def iteration(self, spark, outcome: Outcome, spans, layers: dict) -> float | None:
        out = os.path.join(self.work, "out")
        wall = outcome.run(self._run, spark, self.files, out, spans, layers)
        if wall is None:
            return None
        return wall if outcome.record(self._problems(out, self.expected)) else None


# -------------------------------------------------------------- corpus_dedup


def corpus_flow(spark, path: str):
    """The corpus pipeline's lazy prefixes, in order: scan, scrub, quality
    gate, LSH pairs, clusters (resolved eagerly by ``dedup_clusters``) and
    the chunked survivors."""
    from pyspark.sql import functions as F

    from baker_spark.datapipe import dedup, text

    docs = spark.read.parquet(path)
    cleaned = text.scrubbed(docs, "text").select("doc_id", "clean_text")
    flagged = cleaned.filter(text.quality_flags("clean_text")["quality_ok"])
    pairs = dedup.lsh_pairs(flagged, text_col="clean_text")
    yield "scan", docs
    yield "scrub", cleaned
    yield "quality", flagged
    yield "lsh_pairs", pairs
    clusters = dedup.dedup_clusters(flagged, pairs)
    yield "clusters", clusters
    kept = flagged.join(clusters.filter("is_canonical").select("doc_id"), "doc_id", "left_semi")
    yield "chunks", kept.select(
        "doc_id", F.posexplode(text.chunks("clean_text")).alias("chunk_idx", "chunk")
    )


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class CorpusDedup:
    name = "corpus_dedup"
    unit = "documents"
    exact_counters = BATCH_EXACT + ["datapipe.pairs"]
    uses_operators = False
    #: a warm pass takes about 6 s, nearly all of it fixed per-job cost,
    #: and falls by under 10% after the set-up pass: three passes, all of
    #: them timed, fit the run's time budget
    warm_iterations = 0
    min_iterations = 3

    def prepare(self, work: str, seed: int) -> None:
        self.work = work
        texts = gen.documents(seed, DOCS)
        self.n_input = len(texts)
        self.path = gen.write_documents(texts, os.path.join(work, "docs.parquet"))
        self.input_bytes = os.path.getsize(self.path)
        self.expected = check.corpus_expected(texts)
        self.dups = gen.exact_duplicate_groups(texts)
        warm = texts[:WARM_DOCS]
        self.warm_path = gen.write_documents(warm, os.path.join(work, "warm_docs.parquet"))
        self.warm_expected = check.corpus_expected(warm)
        self.warm_dups = gen.exact_duplicate_groups(warm)

    def _run(self, spark, path, out, spans=NO_SPANS, layers=None) -> float:
        trace = PassTrace(spark, spans, layers)
        t0 = time.perf_counter()
        with spans.span("iteration"):
            with spans.span("pipeline.build"):
                *_, (_, chunked) = corpus_flow(spark, path)
            trace.plan(chunked)
            with trace.sink_write(out):
                chunked.write.mode("overwrite").parquet(out)
        return time.perf_counter() - t0

    def warmup(self, spark, outcome: Outcome) -> None:
        out = os.path.join(self.work, "warm_out")
        if outcome.run(self._run, spark, self.warm_path, out) is not None:
            outcome.record(check.corpus_output_problems(out, self.warm_expected, self.warm_dups))

    def iteration(self, spark, outcome: Outcome, spans, layers: dict) -> float | None:
        out = os.path.join(self.work, "out")
        wall = outcome.run(self._run, spark, self.path, out, spans, layers)
        if wall is None:
            return None
        ok = outcome.record(check.corpus_output_problems(out, self.expected, self.dups))
        return wall if ok else None

    def decompose(self, spark, spans, layers: dict) -> None:
        """Self time of each stage. Every lazy prefix of the flow is forced
        from scratch with a noop write, and a stage's self time is the
        difference between consecutive prefixes. ``dedup_clusters``
        resolves its components eagerly while it is built (computing the
        pairs once more) and checkpoints them, so the clusters stage is its
        build time minus the pairs prefix, plus what forcing the cluster
        table adds to the quality prefix; the chunks stage is the final
        parquet write minus the cluster table."""
        out = os.path.join(self.work, "decompose_out")
        t: dict[str, float] = {}
        flow = corpus_flow(spark, self.path)
        while True:
            t0 = time.perf_counter()
            step = next(flow, None)
            if step is None:
                break
            name, df = step
            t[f"{name}_build"] = time.perf_counter() - t0
            with spans.span(f"datapipe.{name}"):
                t0 = time.perf_counter()
                if name == "chunks":
                    df.write.mode("overwrite").parquet(out)
                else:
                    _noop(df)
                t[name] = time.perf_counter() - t0
            if name == "lsh_pairs":
                layers["datapipe.pairs"] = [df.count()]
        layers["datapipe.scrub_s"] = [t["scrub"] - t["scan"]]
        layers["datapipe.quality_s"] = [t["quality"] - t["scrub"]]
        layers["datapipe.lsh_pairs_s"] = [t["lsh_pairs"] - t["quality"]]
        layers["datapipe.clusters_s"] = [t["clusters_build"] - t["lsh_pairs"] + t["clusters"] - t["quality"]]
        layers["datapipe.chunks_write_s"] = [t["chunks"] - t["clusters"]]


# ----------------------------------------------------------------- daemon_tcp


class Sender:
    """One thread, one connection at a time, each due at ``t0 + i / rate``
    whatever the system does (open loop). A connection is timed from its
    due time, so a stall that delays later sends counts against them; how
    late the sender itself ran is reported as lateness."""

    def __init__(self, addr, conns: list[list[list[str]]], rate: float, clock=time.time, sleep=time.sleep, send=None):
        self.addr, self.conns, self.rate = addr, conns, rate
        self.clock, self.sleep = clock, sleep
        self.send = send or self._send
        self.log: list[dict] = []  # per connection: due, start, end, first seq, bytes
        self.error: str | None = None
        self._thread: threading.Thread | None = None

    def _send(self, payload: bytes) -> None:
        with socket.create_connection(self.addr) as conn:
            conn.sendall(payload)
            conn.shutdown(socket.SHUT_WR)
            conn.recv(1)  # the listener closes once it has read the stream

    def run(self) -> None:
        t0 = self.clock()
        for i, recs in enumerate(self.conns):
            due = t0 + i / self.rate
            wait = due - self.clock()
            if wait > 0:
                self.sleep(wait)
            start = self.clock()
            stamp = str(int(start))
            body = "".join(",".join(stamp if f == gen.STAMP else f for f in r) + "\n" for r in recs)
            payload = gzip.compress(body.encode(), compresslevel=1)
            try:
                self.send(payload)
            except OSError as exc:
                self.error = str(exc)
                return
            self.log.append({"due": due, "start": start, "end": self.clock(), "seq": int(recs[0][6]),
                             "bytes": len(payload)})

    def start(self) -> None:
        self._thread = threading.Thread(target=self.run, name="perfbench-sender")
        self._thread.start()

    def join(self, timeout: float) -> None:
        self._thread.join(timeout)
        if self._thread.is_alive():
            raise RuntimeError("sender thread did not finish")

    def lateness(self) -> list[float]:
        return [c["start"] - c["due"] for c in self.log]


def batch_commits(ckpt: str) -> tuple[dict[str, int], dict[int, float]]:
    """From the query's checkpoint: spool file name -> batch id (the file
    source's metadata log), and batch id -> commit time (mtime of the
    batch's commit log entry, written once the sink's write returned)."""
    file_batch: dict[str, int] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                if line.startswith("{"):
                    entry = json.loads(line)
                    file_batch[os.path.basename(entry["path"])] = entry["batchId"]
    commits = {}
    for path in glob.glob(os.path.join(ckpt, "commits", "*")):
        name = os.path.basename(path)
        if name.isdigit():
            commits[int(name)] = os.path.getmtime(path)
    return file_batch, commits


class DaemonTcp:
    name = "daemon_tcp"
    unit = "records"
    #: stage, task and file counts depend on where batch boundaries fall,
    #: and the gzip size of a connection on the second it was stamped with
    exact_counters = ["sources.input_records", "operators.records_in", "operators.records_out"]
    uses_operators = True

    def prepare(self, work: str, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.spool = os.path.join(work, "spool")
        self.out = os.path.join(work, "out")
        self.ckpt = os.path.join(work, "ckpt")
        self.sent: list[list[str]] = []
        self.input_bytes = 0
        self.errors: list[str] = []
        self._spooled_before = 0
        self.query = self.listener = None

    def _connections(self, seconds: float) -> list[list[list[str]]]:
        """The next ``seconds`` worth of connections, numbered after those
        already sent."""
        n = int(seconds * CONN_PER_S)
        start = len(self.sent) // RECORDS_PER_CONN
        conns = gen.daemon_connections(self.seed, start + n, RECORDS_PER_CONN)[start:]
        for c in conns:
            self.sent.extend(c)
        return conns

    def start(self, spark) -> None:
        from baker_spark.plans import compile_toml

        with self.spans.span("plans.compile"):
            pipe = compile_toml(
                TOPOLOGY.format(
                    fields=_toml_list(gen.DAEMON_FIELDS),
                    input="TCP",
                    input_config=f'    Listener = "127.0.0.1:0"\n    SpoolDir = {json.dumps(self.spool)}',
                    start=DAEMON_TS[0],
                    end=DAEMON_TS[1],
                    sharding="",
                    last="seq",
                    out=json.dumps(self.out),
                )
            )
        with self.spans.span("pipeline.build"):
            self.listener = pipe.source.listener()
            self.addr = self.listener.start()
            self.query = pipe.start(spark, self.ckpt)

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
        if self.listener is not None:
            self.listener.stop()

    def _send_and_drain(self, seconds: float) -> tuple[Sender, dict]:
        """Send ``seconds`` of connections, then wait until every spool file
        is committed (or DRAIN_TIMEOUT_S passes: the check then counts
        the records that never arrived as lost)."""
        sender = Sender(self.addr, self._connections(seconds), CONN_PER_S)
        sender.start()
        sender.join(seconds + 30)
        self.input_bytes += sum(c["bytes"] for c in sender.log)
        if sender.error:
            self.errors.append(f"sender: {sender.error}")
        deadline = time.time() + DRAIN_TIMEOUT_S
        while True:
            spooled = {os.path.basename(p) for p in glob.glob(os.path.join(self.spool, "tcp-*"))}
            file_batch, commits = batch_commits(self.ckpt)
            pending = [f for f in spooled if file_batch.get(f) not in commits]
            if len(spooled) >= len(sender.log) + self._spooled_before and not pending:
                break
            if time.time() > deadline:
                self.errors.append(f"{len(pending)} spool files not committed after {DRAIN_TIMEOUT_S}s")
                break
            time.sleep(0.05)
        self._spooled_before = len(spooled)
        return sender, self._conn_latency(sender, file_batch, commits)

    def _conn_latency(self, sender: Sender, file_batch, commits) -> dict:
        """Per connection: due time -> commit of the batch that carried it,
        and send start -> spool file visible."""
        first_seq = {}
        for path in glob.glob(os.path.join(self.spool, "tcp-*")):
            with open(path) as fh:
                first_seq[int(fh.readline().split(",")[6])] = path
        lat, spool, per_batch = [], [], {}
        for c in sender.log:
            path = first_seq.get(c["seq"])
            batch = file_batch.get(os.path.basename(path)) if path else None
            if batch not in commits:
                continue
            per_batch[batch] = per_batch.get(batch, 0) + 1
            lat.append(commits[batch] - c["due"])
            spool.append(os.path.getmtime(path) - c["start"])
        return {"latency": lat, "spool": spool, "backlog_max": max(per_batch.values(), default=0)}

    def warmup(self, spark, outcome: Outcome) -> None:
        def warm():
            self.start(spark)
            self._send_and_drain(WARMUP_S)

        outcome.run(warm)

    def _problems(self) -> list[str]:
        """Every sent record that passes the filter appears exactly once."""
        stamped = [[str(DAEMON_TS_EPOCH[0]) if f == gen.STAMP else f for f in r] for r in self.sent]
        want = [ln.rsplit(",", 1)[1] for ln in check.topology_lines(stamped, *DAEMON_TS_EPOCH)]
        got: dict[str, int] = {}
        for line in check.read_gz_lines(self.out):
            seq = line.rsplit(",", 1)[1]
            got[seq] = got.get(seq, 0) + 1
        lost = [s for s in want if s not in got]
        dup = [s for s, n in got.items() if n > 1]
        extra = set(got) - set(want)
        problems = [f"lost seq {s}" for s in lost] + [f"duplicated seq {s}" for s in dup]
        return problems + [f"unexpected seq {s}" for s in sorted(extra)]

    def measure(self, spark, seconds: float, outcome: Outcome, spans, layers: dict) -> list[float]:
        """SETTLE_S of untimed traffic, then the open-loop window.
        Attempted operations are the records sent (warm-up included); each
        lost, duplicated or unexpected record is a failure."""
        if self.query is None:
            raise RuntimeError("the daemon did not start: " + "; ".join(outcome.problems[:1]))
        self._send_and_drain(SETTLE_S)
        first_batch = self.query.lastProgress["batchId"] + 1 if self.query.lastProgress else 0
        reader = StageReader(spark) if spans.enabled else None
        if reader:
            reader.mark()
        sender, lat = self._send_and_drain(seconds)
        problems = self.errors + self._problems()
        outcome.attempted += len(self.sent)
        outcome.failed += len(problems)
        outcome.problems.extend(problems[:3])
        layers["generator.late_max_s"] = [max(sender.lateness(), default=0.0)]
        if reader:
            t0 = time.perf_counter()
            progress = [json.loads(p.json) for p in self.query.recentProgress]
            for key, value in progress_summary(progress, first_batch).items():
                layers[f"streaming.{key}"] = [value]
            for key, value in reader.since_mark().items():
                layers[f"spark.{key}"] = [value]
            layers["trace.overhead_s"] = [time.perf_counter() - t0]
            layers["streaming.spool_s"] = [median(lat["spool"])] if lat["spool"] else []
            layers["streaming.backlog_files_max"] = [lat["backlog_max"]]
            layers["operators.records_out"] = [len(check.read_gz_lines(self.out))]
            files, nbytes = _dir_stats(self.out)
            layers["sinks.files"] = [files]
            layers["sinks.output_bytes"] = [nbytes]
        self.n_input = len(self.sent)
        return lat["latency"]


WORKLOADS = {w.name: w for w in (EtlLogs, CorpusDedup, DaemonTcp)}
