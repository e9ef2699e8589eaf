"""Tests of the benchmark's own logic.

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark once per workload at toy scale (about a
minute in all); the rest run in well under a second.
"""

import gzip
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from tracing import NO_SPANS, tail_percentile  # noqa: E402


# ---------------------------------------------------------------- generators


def test_generators_are_deterministic_per_seed(tmp_path):
    assert gen.log_records(7, 500) == gen.log_records(7, 500)
    assert gen.log_records(7, 500) != gen.log_records(8, 500)
    assert gen.documents(7, 300) == gen.documents(7, 300)
    assert gen.documents(7, 300) != gen.documents(8, 300)
    assert gen.daemon_connections(7, 5, 10) == gen.daemon_connections(7, 5, 10)
    # a longer schedule extends a shorter one: connections sent during the
    # warm-up keep their records when the measured window is generated
    assert gen.daemon_connections(7, 8, 10)[:5] == gen.daemon_connections(7, 5, 10)
    a = gen.write_log_files(gen.log_records(7, 500), str(tmp_path / "a"), 3)
    b = gen.write_log_files(gen.log_records(7, 500), str(tmp_path / "b"), 3)
    assert [open(p, "rb").read() for p in a] == [open(p, "rb").read() for p in b]


def test_documents_plant_exact_and_near_duplicates():
    texts = gen.documents(3, 5000)
    assert gen.exact_duplicate_groups(texts)
    assert 0.03 < sum(" dup " in f" {t} " for t in texts) / len(texts) < 0.07


def test_daemon_sequence_numbers_are_unique_and_ordered():
    conns = gen.daemon_connections(1, 6, 4)
    seqs = [int(r[6]) for c in conns for r in c]
    assert seqs == list(range(24))


# --------------------------------------------------------------- percentiles


def test_tail_percentile_needs_ten_samples_beyond_it():
    with pytest.raises(ValueError, match="needs 10"):
        tail_percentile(list(range(199)), 0.95)
    assert tail_percentile(list(range(1, 201)), 0.95) == 190
    with pytest.raises(ValueError):
        tail_percentile(list(range(99)), 0.90)
    assert tail_percentile(list(range(1, 101)), 0.90) == 90
    # the median is not a tail: five warm iterations are enough for it
    assert tail_percentile([5, 1, 4, 2, 3], 0.5) == 3


# ----------------------------------------------------------------- open loop


class FakeClock:
    def __init__(self):
        self.now = 100.0

    def time(self):
        return self.now

    def sleep(self, s):
        self.now += s


def test_open_loop_times_from_due_and_reports_lateness():
    clock = FakeClock()
    conns = gen.daemon_connections(0, 5, 2)

    def send(payload):
        # the third connection stalls for 1.3 s; the system, not the
        # generator, is slow, so the schedule does not move
        clock.now += 1.3 if len(sender.log) == 2 else 0.01
        assert gzip.decompress(payload).count(b"\n") == 2

    sender = workloads.Sender(("localhost", 0), conns, rate=2.0, clock=clock.time, sleep=clock.sleep, send=send)
    sender.run()
    dues = [c["due"] for c in sender.log]
    assert dues == [100.0, 100.5, 101.0, 101.5, 102.0]
    late = sender.lateness()
    assert late[:3] == [0, 0, 0]
    assert late[3] == pytest.approx(0.8)  # waits behind the stall
    assert late[4] == pytest.approx(0.31)
    assert [c["seq"] for c in sender.log] == [0, 2, 4, 6, 8]


def test_sender_stamps_records_with_the_send_second():
    clock = FakeClock()
    bodies = []
    sender = workloads.Sender(("localhost", 0), gen.daemon_connections(4, 3, 50), rate=1.0,
                              clock=clock.time, sleep=clock.sleep, send=lambda p: bodies.append(gzip.decompress(p)))
    sender.run()
    stamps = {line.split(b",")[0] for body in bodies for line in body.splitlines()}
    assert stamps <= {b"100", b"101", b"102", b"-"}
    assert gen.STAMP.encode() not in stamps


# ------------------------------------------------------- failure accounting


def test_outcome_counts_raised_and_failed_checks():
    o = workloads.Outcome()
    assert o.run(lambda: 1 / 0) is None
    assert o.record([]) is True
    assert o.record(["bad digest"]) is False
    assert (o.attempted, o.failed) == (3, 2)
    assert "ZeroDivisionError" in o.problems[0]


def _write_gz(directory, lines):
    os.makedirs(directory, exist_ok=True)
    with gzip.open(os.path.join(directory, "part-0.csv.gz"), "wt") as fh:
        fh.write("".join(line + "\n" for line in lines))


def test_daemon_check_counts_lost_and_duplicated_records(tmp_path):
    d = workloads.DaemonTcp()
    d.prepare(str(tmp_path), 0)
    d.sent = [r for c in gen.daemon_connections(0, 2, 20) for r in c]
    stamped = [[str(workloads.DAEMON_TS_EPOCH[0]) if f == gen.STAMP else f for f in r] for r in d.sent]
    lines = check.topology_lines(stamped, *workloads.DAEMON_TS_EPOCH)
    assert len(lines) > 10
    _write_gz(d.out, lines)
    assert d._problems() == []
    _write_gz(d.out, lines[1:] + lines[-1:])
    problems = d._problems()
    assert len(problems) == 2
    assert problems[0].startswith("lost") and problems[1].startswith("duplicated")


def test_etl_digest_is_order_free_but_counts_duplicates():
    lines = ["a,1", "b,2", "c,3"]
    assert check.line_digest(lines) == check.line_digest(reversed(lines))
    assert check.line_digest(lines + ["a,1"]) != check.line_digest(lines)


def test_topology_reference_applies_each_operator():
    keep = ["1710000000", "US", "ab", "https://x.org/p?utm_campaign=brand&ref=1", "GET", "200", "9", "curl"]
    rows = [
        keep,
        [*keep[:4], "HEAD", *keep[5:]],  # ClauseFilter
        [*keep[:5], "500", *keep[6:]],  # ClauseFilter
        [keep[0], keep[1], "", *keep[3:]],  # NotNull
        ["17e8", *keep[1:]],  # TimestampRange: not an integer
        [str(gen.TS_HI), *keep[1:]],  # TimestampRange: end is exclusive
    ]
    out = check.topology_lines(rows, gen.TS_LO, gen.TS_HI)
    md5 = "187ef4436122d1cc2f40dc2b92f0eba0"
    assert out == [f"US,1710000000,{md5},brand,200,9"]


def test_corpus_check_flags_surviving_exact_duplicates(tmp_path):
    pa = pytest.importorskip("pyarrow")
    pq = pytest.importorskip("pyarrow.parquet")
    texts = gen.documents(5, 400)
    dups = gen.exact_duplicate_groups(texts) or [[0, 1]]
    expected = check.corpus_expected(texts)
    rows = [(i, k, c) for i in expected["survivors"] for k, c in enumerate(check.chunks(check.scrub(texts[i])))]
    out = tmp_path / "chunks"
    out.mkdir()

    def write(rows):
        pq.write_table(pa.table({"doc_id": [r[0] for r in rows], "chunk_idx": [r[1] for r in rows],
                                 "chunk": [r[2] for r in rows]}), str(out / "part-0.parquet"))

    write(rows)
    assert check.corpus_output_problems(str(out), expected, dups) == []
    group = dups[0]
    write(rows + [(g, 0, "x") for g in group])
    problems = check.corpus_output_problems(str(out), expected, dups)
    assert any("exact duplicates" in p for p in problems)


# ------------------------------------------------------------------- smoke


@pytest.fixture
def toy_scale(monkeypatch):
    monkeypatch.setattr(workloads, "LOG_RECORDS", 3000)
    monkeypatch.setattr(workloads, "DOCS", 300)
    monkeypatch.setattr(workloads, "WARMUP_S", 1.0)
    monkeypatch.setattr(workloads, "SETTLE_S", 1.0)


@pytest.mark.parametrize("workload", ["etl_logs", "corpus_dedup", "daemon_tcp"])
def test_toy_scale_smoke_run(workload, toy_scale, capsys):
    assert run.main(["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "0"]) == 0
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(run.metric_units("end_to_end"))
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_toy_scale_traced_run_reports_every_layer(toy_scale, capsys):
    assert run.main(["--workload", "etl_logs", "--seed", "3", "--seconds", "1", "--trace", "1"]) == 0
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert result["correct"] is True
    metrics = {k: m["value"] for k, m in result["metrics"].items()}
    assert set(metrics) == set(run.metric_units("per_layer"))
    assert metrics["sources.input_records"] == metrics["operators.records_in"] == 3000
    assert 0 < metrics["operators.records_out"] < 3000
    assert metrics["spark.exchanges"] >= 1 and metrics["sinks.files"] >= 1
    assert metrics["datapipe.pairs"] == 0  # a layer etl_logs bypasses


def test_untraced_pass_makes_no_spark_call(tmp_path):
    layers = {}
    trace = workloads.PassTrace(None, NO_SPANS, layers)
    trace.plan(None)
    with trace.sink_write(str(tmp_path)):
        pass
    assert layers == {}
