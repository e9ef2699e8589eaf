"""``spark.readStream.format("bakerkinesis")`` — the Kinesis tail as a
Spark 4 Python streaming data source.

The reference has two Kinesis inputs: a raw GetRecords tail over every
shard (/root/reference/input/kinesis.go:58-66 refreshShards,
ProcessRecords from LATEST) and a KCL consumer whose DynamoDB lease
table gives multi-worker balancing + resume (/root/reference/input/
kcl.go:27-49). This source expresses both contracts Spark-first:

- **shard -> input partition**: ``partitions`` emits one partition per
  shard with new data, so a 128-shard stream fans out across the
  cluster exactly like KCL's lease balancing — except Spark's task
  scheduler does the balancing and there is no "shard stealing is not
  implemented yet" caveat (kcl.go help text);
- **sequence numbers -> offsets**: the per-shard last-read sequence
  number lives in the checkpoint's offset WAL — the KCL lease table's
  checkpoint column without the DynamoDB sidecar. ``AppName`` isolation
  (kcl.go:43) maps to the checkpoint dir
  (:meth:`baker_spark.streaming.connectors.KinesisPythonSource.checkpoint_dir`);
- **InitialPosition LATEST | TRIM_HORIZON** (kcl.go InitialPosition,
  kinesis.go's hardcoded LATEST): LATEST snapshots each shard's current
  tip at first planning and starts after it; TRIM_HORIZON starts at 0;
- **resharding**: every ``latestOffset`` re-describes the stream
  (kinesis.go refreshShards); a shard that appears later starts at its
  initial position — the KCL shard-sync behavior;
- rows carry the exact layout the ``aws-kinesis`` connector jar emits
  (:data:`baker_spark.streaming.connectors.KINESIS_RECORD_SCHEMA`), and
  :func:`baker_spark.streaming.connectors.kinesis_records` parses them
  into record columns. The jar itself is not used: this source is the
  engine's one Kinesis path.

**What is deliberately NOT ported: KCL's COMPETING-worker lease
protocol.** KCL exists because N independent daemon processes must
divide shards among themselves with no coordinator — hence the DynamoDB
lease table, lease stealing, worker heartbeats, and split-brain windows
(kcl.go:27-49's machinery; its own help text admits "shard stealing is
not implemented yet"). Spark's execution model makes that protocol
redundant rather than missing: ONE streaming driver owns the topology
and already has a coordinator (the task scheduler) to balance
shard-partitions across executors, and a FAILED driver's replacement
resumes from the checkpoint WAL — the lease table's checkpoint column,
without the sidecar table or the steal/heartbeat edge cases. The
engine therefore assumes one streaming driver per topology; running
two drivers against one checkpoint dir is unsupported (exactly as two
KCL apps sharing an AppName are). What you give up is live handoff
between two SIMULTANEOUS consumer processes — on Spark that scenario
is expressed as one cluster scaling executors, not two drivers.

Planning cost: Kinesis has no "tip" query, so ``latestOffset`` probes
each shard forward from its last known position with bounded
``get_records`` calls (``max_records_per_trigger`` caps admission per
micro-batch, like Kafka's maxOffsetsPerTrigger). Probed records are
counted, not kept: executors re-fetch their exact (start, end] slice by
sequence number, which is what makes a WAL replay rebuild the batch
byte-for-byte with no driver state.

Clients: production builds boto3 (import-guarded — not bundled here);
tests use ``fake_dir``, a directory where each ``<shardId>.jsonl`` file
is one shard, a line is one record, and the line number is its sequence
number. Append a line to 'put'; it is observable and shared-filesystem
friendly so executors can read it in local mode.
"""

from __future__ import annotations

import base64
import json
import os
import sys
import time
from datetime import datetime, timezone

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from baker_spark.streaming.connectors import KINESIS_RECORD_SCHEMA


class DirStreamClient:
    """boto3-kinesis-shaped client over a spool directory: each
    ``<shardId>.jsonl`` file is one shard, each line one record
    (``{"Data": <b64>, "PartitionKey": str, "Ts": epoch_s}``), sequence
    number = 0-based line index. ``put_record`` appends; resharding =
    creating a new file."""

    def __init__(self, root: str):
        self.root = root

    # --- producer side (tests) ------------------------------------------
    def put_record(self, StreamName: str, Data: bytes, PartitionKey: str,
                   ShardId: str = "shardId-000000000000", Ts: float | None = None):
        path = os.path.join(self.root, f"{ShardId}.jsonl")
        rec = {
            "Data": base64.b64encode(Data).decode("ascii"),
            "PartitionKey": PartitionKey,
            "Ts": 0.0 if Ts is None else Ts,
        }
        with open(path, "a") as fh:
            fh.write(json.dumps(rec) + "\n")

    # --- consumer side (boto3 surface) ----------------------------------
    def describe_stream(self, StreamName: str) -> dict:
        try:
            names = sorted(
                n[: -len(".jsonl")] for n in os.listdir(self.root) if n.endswith(".jsonl")
            )
        except FileNotFoundError:
            names = []
        return {"StreamDescription": {"Shards": [{"ShardId": n} for n in names]}}

    def get_shard_iterator(self, StreamName: str, ShardId: str,
                           ShardIteratorType: str,
                           StartingSequenceNumber: str | None = None) -> dict:
        if ShardIteratorType == "TRIM_HORIZON":
            pos = 0
        elif ShardIteratorType == "AFTER_SEQUENCE_NUMBER":
            pos = int(StartingSequenceNumber) + 1
        elif ShardIteratorType == "AT_SEQUENCE_NUMBER":
            pos = int(StartingSequenceNumber)
        else:  # LATEST
            pos = self._count(ShardId)
        return {"ShardIterator": json.dumps({"shard": ShardId, "pos": pos})}

    def get_records(self, ShardIterator: str, Limit: int = 10000) -> dict:
        it = json.loads(ShardIterator)
        shard, pos = it["shard"], it["pos"]
        out = []
        try:
            with open(os.path.join(self.root, f"{shard}.jsonl")) as fh:
                for i, line in enumerate(fh):
                    if i < pos or len(out) >= Limit:
                        continue
                    rec = json.loads(line)
                    out.append(
                        {
                            "Data": base64.b64decode(rec["Data"]),
                            "PartitionKey": rec.get("PartitionKey", ""),
                            "SequenceNumber": str(i),
                            "ApproximateArrivalTimestamp": datetime.fromtimestamp(
                                rec.get("Ts", 0.0), tz=timezone.utc
                            ),
                        }
                    )
        except FileNotFoundError:
            pass
        nxt = json.dumps({"shard": shard, "pos": pos + len(out)})
        return {"Records": out, "NextShardIterator": nxt}

    def _count(self, shard: str) -> int:
        try:
            with open(os.path.join(self.root, f"{shard}.jsonl")) as fh:
                return sum(1 for _ in fh)
        except FileNotFoundError:
            return 0


def _make_client(options):
    fake_dir = options.get("fake_dir")
    if fake_dir:
        return DirStreamClient(fake_dir)
    import boto3

    kw = {"region_name": options.get("aws_region", "us-west-2")}
    # endpoint_url: LocalStack/moto wire-level testing and private
    # VPC endpoints (covered by tests/test_moto_aws.py)
    ep = options.get("endpoint_url")
    if ep:
        kw["endpoint_url"] = ep
    return boto3.client("kinesis", **kw)


class _ShardSlice(InputPartition):
    """(start, end] of one shard — everything an executor needs to
    re-fetch its records without driver state."""

    def __init__(self, shard_id: str, start: int, end: int,
                 start_inclusive: bool = False):
        self.shard_id = shard_id
        self.start = start  # exclusive: last already-admitted seq (-1 = none)
        self.end = end      # inclusive
        #: True only for a shard's first batch under LATEST: ``start``
        #: is then the first admitted seq itself (AT_SEQUENCE_NUMBER)
        self.start_inclusive = start_inclusive

    def __repr__(self) -> str:
        return f"_ShardSlice({self.shard_id}, ({self.start}, {self.end}])"


class KinesisStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self._options = dict(options)
        self._stream = options.get("stream") or options.get("stream_name") or ""
        pos = (options.get("initial_position") or "LATEST").upper()
        if pos not in ("LATEST", "TRIM_HORIZON"):
            # kcl.go validate(): accepts only LATEST or TRIM_HORIZON
            raise ValueError(
                f"invalid 'initial_position' {pos!r}, accepts only 'LATEST' or 'TRIM_HORIZON'"
            )
        self._initial_position = pos
        self._max_per_trigger = int(
            options.get("max_records_per_trigger", "100000")
        )
        self._client = _make_client(options)
        #: shard -> last sequence number PROBED (seen by the driver);
        #: -1 = nothing yet. After a restart the tips are rebuilt from,
        #: in priority order: the lease file (exact committed positions,
        #: see ``lease_dir``), the healing in :meth:`partitions` (a WAL
        #: replay hands back the journaled end), then the initial
        #: position. The last is only a FLOOR: under TRIM_HORIZON a
        #: budget-bounded probe from 0 can stop BELOW the WAL's
        #: committed offset, so without a lease a restart whose
        #: committed backlog exceeds one trigger budget re-admits up to
        #: one probe window (at-least-once); with a lease, resume is
        #: exact.
        self._tips: dict[str, int | str | None] = {}
        #: rotating head for the per-trigger budget (see latestOffset)
        self._rr = 0
        #: shard -> first sequence number ever admitted for shards that
        #: started in unseeded-latest mode (no prior concrete position);
        #: carried in offsets so a WAL replay can AT_SEQUENCE_NUMBER it
        self._first: dict[str, int] = {}
        #: shard -> concrete LATEST seed for shards DISCOVERED
        #: mid-stream (resharding): journaled in every end offset so
        #: partitions() can lower-bound a shard absent from the start
        #: offset at its discovery tip instead of -1 — without this, a
        #: new shard's entire pre-existing backlog would be admitted in
        #: one uncapped batch, violating both LATEST semantics and
        #: max_records_per_trigger.
        self._seeded: dict[str, int] = {}
        #: KCL-lease-table analog (kcl.go:27-49): when set, commit()
        #: journals the committed per-shard positions into
        #: <lease_dir>/tips.json and a restarted reader seeds its tips
        #: from it — exactly-once resume independent of probe budgets.
        lease_dir = options.get("lease_dir")
        self._lease_path = (
            os.path.join(lease_dir, "tips.json") if lease_dir else None
        )
        #: static shard ownership (MIGRATION.md's multi-job recipe):
        #: a comma-separated shard-id list restricts this reader to a
        #: DISJOINT subset so several daemons can split one stream with
        #: deterministic ownership and separate checkpoints — the
        #: Spark-native replacement for KCL's lease rebalancing.
        raw = options.get("shard_filter") or ""
        self._shard_filter = {s.strip() for s in raw.split(",") if s.strip()} or None
        for shard, tip in self._read_lease().items():
            self._tips[shard] = tip

    def _read_lease(self) -> dict[str, int]:
        if not self._lease_path:
            return {}
        try:
            with open(self._lease_path) as fh:
                return {s: int(t) for s, t in json.load(fh).items()}
        except (FileNotFoundError, ValueError, OSError):
            return {}

    # --- driver-side planning -------------------------------------------
    def _shards(self) -> list[str]:
        # PAGINATED: describe_stream returns at most 100 shards per call
        # plus HasMoreShards — a single call on a 128-shard stream (the
        # module docstring's own sizing example) would silently plan
        # only the first page and never read the rest
        c = self.client()
        shards: list[str] = []
        kw: dict = {"StreamName": self._stream}
        while True:
            desc = c.describe_stream(**kw)["StreamDescription"]
            page = [s["ShardId"] for s in desc["Shards"]]
            shards.extend(page)
            if not desc.get("HasMoreShards") or not page:
                break
            kw = {"StreamName": self._stream, "ExclusiveStartShardId": page[-1]}
        if self._shard_filter is not None:
            # a filter entry matching NO live shard is a typo (or a
            # shard aged past retention): the reader would silently
            # consume nothing for it forever while looking healthy —
            # fail loud instead. Live shards OUTSIDE every daemon's
            # filter (reshard children) are this daemon's blind spot
            # by design; it can't know the other daemons' filters, so
            # it logs them for the operator reconciling ownership.
            unknown = self._shard_filter - set(shards)
            if unknown:
                raise ValueError(
                    f"shard_filter names unknown shards {sorted(unknown)}; "
                    f"stream {self._stream!r} has {sorted(shards)}"
                )
            unowned = [s for s in shards if s not in self._shard_filter]
            if unowned:
                print(
                    f"bakerkinesis: shards NOT owned by this reader's "
                    f"shard_filter: {unowned} — verify another daemon's "
                    "filter covers them (reshard children are not "
                    "picked up by static ownership)",
                    file=sys.stderr,
                )
            shards = [s for s in shards if s in self._shard_filter]
        return shards

    def client(self):
        if self._client is None:  # executor-side lazy rebuild
            self._client = _make_client(self._options)
        return self._client

    def _seed(self, shard: str):
        """A shard seen for the first time starts at its initial
        position: -1 (read all) for TRIM_HORIZON; for LATEST, the
        current tip. The fake client can count its tip directly; real
        Kinesis has no tip query, so the sentinel ``None`` marks the
        shard "unseeded-latest" — its first probe uses a LATEST
        iterator (which never yields earlier records) and the first
        record's sequence number becomes the concrete lower bound,
        journaled in the offset's ``first`` map so executors can
        AT_SEQUENCE_NUMBER to it on replay."""
        if self._initial_position == "TRIM_HORIZON":
            return -1
        c = self.client()
        if isinstance(c, DirStreamClient):
            return c._count(shard) - 1
        # real Kinesis has no tip query. A bare LATEST iterator cannot
        # be the seed: iterators expire in minutes and a FRESH LATEST
        # iterator per trigger only returns records written after its
        # own issuance — records landing BETWEEN triggers would never be
        # admitted by any batch. Pin the start as a timestamp instead:
        # every probe until the first record uses AT_TIMESTAMP(seed),
        # which replays everything since the pin.
        return f"t:{time.time()}"  # pragma: no cover — real-service path

    def initialOffset(self) -> dict:
        return {"shards": {s: self._seed(s) for s in self._shards()}}

    def latestOffset(self) -> dict:
        budget = self._max_per_trigger
        c = self.client()
        shards = self._shards()
        # ROTATE who drinks the budget first: a fixed sorted order lets
        # one hot early shard exhaust max_records_per_trigger every
        # trigger and starve the rest indefinitely (their tips never
        # advance while backlog grows). Rotation gives each shard the
        # front of the line once per cycle — Kafka's maxOffsetsPerTrigger
        # apportions for the same reason.
        if shards:
            rot = self._rr % len(shards)
            self._rr += 1
            shards = shards[rot:] + shards[:rot]
        for shard in shards:
            if shard not in self._tips:
                seed = self._seed(shard)
                self._tips[shard] = seed
                if isinstance(seed, int) and seed >= 0:
                    # discovered mid-stream under LATEST: journal the
                    # discovery tip so partitions() can bound this
                    # shard's first slice (see _seeded)
                    self._seeded[shard] = seed
            if budget <= 0:
                continue
            tip = self._tips[shard]
            if isinstance(tip, str):  # pragma: no cover — pinned LATEST
                it = c.get_shard_iterator(
                    StreamName=self._stream, ShardId=shard,
                    ShardIteratorType="AT_TIMESTAMP",
                    Timestamp=float(tip[2:]),
                )["ShardIterator"]
            elif tip is None:  # pragma: no cover — legacy unseeded marker
                it = c.get_shard_iterator(
                    StreamName=self._stream, ShardId=shard,
                    ShardIteratorType="LATEST",
                )["ShardIterator"]
            elif tip < 0:
                it = c.get_shard_iterator(
                    StreamName=self._stream, ShardId=shard,
                    ShardIteratorType="TRIM_HORIZON",
                )["ShardIterator"]
            else:
                it = c.get_shard_iterator(
                    StreamName=self._stream, ShardId=shard,
                    ShardIteratorType="AFTER_SEQUENCE_NUMBER",
                    StartingSequenceNumber=str(self._tips[shard]),
                )["ShardIterator"]
            # bounded probe: count forward, never keep the payloads.
            # Empty pages with MillisBehindLatest > 0 are paged THROUGH
            # (bounded — this is planning, not correctness: stopping
            # early only defers records to the next trigger, unlike the
            # read() path where an early stop would LOSE them), so a
            # real-Kinesis empty page doesn't starve every batch down
            # to a sliver of max_records_per_trigger.
            empty_pages = 0
            while budget > 0 and it:
                resp = c.get_records(ShardIterator=it, Limit=min(budget, 10000))
                recs = resp.get("Records", [])
                if not recs:
                    empty_pages += 1
                    if (
                        int(resp.get("MillisBehindLatest") or 0) <= 0
                        or empty_pages > 10
                    ):
                        break
                    it = resp.get("NextShardIterator")
                    continue
                empty_pages = 0
                if not isinstance(self._tips[shard], int):  # pragma: no cover
                    # first records under (pinned or legacy) LATEST
                    self._first[shard] = int(recs[0]["SequenceNumber"])
                self._tips[shard] = int(recs[-1]["SequenceNumber"])
                budget -= len(recs)
                it = resp.get("NextShardIterator")
        return {
            "shards": dict(self._tips),
            **({"first": dict(self._first)} if self._first else {}),
            **({"seeded": dict(self._seeded)} if self._seeded else {}),
        }

    def partitions(self, start: dict, end: dict):
        out = []
        starts = start.get("shards", {})
        first = end.get("first", {})
        seeded = end.get("seeded", {})
        for shard, tip in end.get("shards", {}).items():
            if not isinstance(tip, int):
                continue  # unseeded-latest shard with nothing admitted yet
            if shard in starts:
                lo = starts[shard]
                if isinstance(lo, str):
                    lo = None  # pinned-LATEST marker: same as legacy None
            else:
                # shard absent from the start offset = discovered
                # mid-stream during this batch's planning: its lower
                # bound is the journaled discovery seed (LATEST), else
                # the initial position
                lo = seeded.get(shard, -1)
            # heal driver tips from the journaled offsets: after a
            # restart this floors the next probe at the WAL positions
            # (a replayed batch's end, or a committed start), so a
            # budget-bounded re-probe can never plan a regressed slice
            cur = self._tips.get(shard)
            floor = max(tip, lo if isinstance(lo, int) else -1)
            if not isinstance(cur, int) or cur < floor:
                self._tips[shard] = floor
            if lo is None:
                # the shard's first concrete batch under LATEST: start
                # AT the first probed sequence number (journaled in the
                # end offset), inclusive
                out.append(_ShardSlice(shard, first[shard], tip, start_inclusive=True))
            elif tip > lo:
                out.append(_ShardSlice(shard, lo, tip))
        return out

    def commit(self, end: dict) -> None:
        """Offsets live in Spark's WAL; the lease file (when configured)
        additionally journals committed positions so a RESTARTED reader
        resumes exactly where the last run committed instead of
        re-probing from the initial position (kcl.go checkpoint
        semantics). Written atomically (tmp + rename); merged monotonic
        so a stale write can never move a position backwards."""
        if not self._lease_path:
            return
        tips = self._read_lease()
        for shard, tip in end.get("shards", {}).items():
            if isinstance(tip, int) and tip > tips.get(shard, -1):
                tips[shard] = tip
        tmp = self._lease_path + ".tmp"
        os.makedirs(os.path.dirname(self._lease_path), exist_ok=True)
        with open(tmp, "w") as fh:
            json.dump(tips, fh)
        os.replace(tmp, self._lease_path)

    # --- executor-side ---------------------------------------------------
    def __getstate__(self):
        state = self.__dict__.copy()
        state["_client"] = None  # boto3 clients don't pickle
        state.pop("_tips", None)
        return state

    def __setstate__(self, state):
        self.__dict__.update(state)
        self._tips = {}

    def read(self, partition: _ShardSlice):
        c = _make_client(self._options)
        if partition.start_inclusive:
            it = c.get_shard_iterator(
                StreamName=self._stream, ShardId=partition.shard_id,
                ShardIteratorType="AT_SEQUENCE_NUMBER",
                StartingSequenceNumber=str(partition.start),
            )["ShardIterator"]
        elif partition.start < 0:
            it = c.get_shard_iterator(
                StreamName=self._stream, ShardId=partition.shard_id,
                ShardIteratorType="TRIM_HORIZON",
            )["ShardIterator"]
        else:
            it = c.get_shard_iterator(
                StreamName=self._stream, ShardId=partition.shard_id,
                ShardIteratorType="AFTER_SEQUENCE_NUMBER",
                StartingSequenceNumber=str(partition.start),
            )["ShardIterator"]
        empty_pages = 0
        while it:
            resp = c.get_records(ShardIterator=it, Limit=10000)
            recs = resp.get("Records", [])
            if not recs:
                # Real Kinesis legitimately returns an EMPTY page with a
                # live NextShardIterator mid-shard; breaking here would
                # silently drop the rest of a planned slice whose offsets
                # the WAL has already committed — permanent loss. Page on
                # while the service says there is data behind the tip
                # (MillisBehindLatest > 0; the fakes omit the key and get
                # the old caught-up break). Bounded: a slice planned from
                # an observed end sequence must eventually reach it, so a
                # long run of empty pages means the shard was trimmed or
                # the iterator is wedged — fail LOUDLY, never truncate.
                if int(resp.get("MillisBehindLatest") or 0) <= 0:
                    break  # caught up to the shard tip
                empty_pages += 1
                if empty_pages > 600:
                    raise RuntimeError(
                        f"bakerkinesis: shard {partition.shard_id} returned "
                        f"{empty_pages} consecutive empty pages before reaching "
                        f"planned end seq {partition.end} — records trimmed or "
                        "iterator wedged; refusing to silently drop the slice"
                    )
                time.sleep(0.1)
                it = resp.get("NextShardIterator")
                continue
            empty_pages = 0
            for r in recs:
                seq = int(r["SequenceNumber"])
                if seq > partition.end:
                    return
                ts = r.get("ApproximateArrivalTimestamp")
                if ts is not None and ts.tzinfo is not None:
                    ts = ts.astimezone(timezone.utc).replace(tzinfo=None)
                yield (
                    r["Data"],
                    self._stream,
                    r.get("PartitionKey", ""),
                    str(seq),
                    ts,
                )
            if int(recs[-1]["SequenceNumber"]) >= partition.end:
                return
            it = resp.get("NextShardIterator")


class KinesisStreamDataSource(DataSource):
    """``spark.readStream.format("bakerkinesis")`` — rows in the exact
    ``aws-kinesis`` connector layout, parsed downstream by
    :func:`connectors.kinesis_records`."""

    @classmethod
    def name(cls) -> str:
        return "bakerkinesis"

    def schema(self):
        return KINESIS_RECORD_SCHEMA

    def streamReader(self, schema) -> KinesisStreamReader:
        return KinesisStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(KinesisStreamDataSource)
