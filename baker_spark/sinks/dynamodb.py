"""DynamoDB sink (/root/reference/output/dyndb.go:20-31).

Reference semantics re-implemented per executor partition (the infra —
goroutines/channels — is replaced by ``foreachPartition`` tasks):

- 25-item batch_write_item requests (dyndb.go:33,307-364)
- ``s:``/``n:`` typed column declarations, first column is the primary
  key (dyndb.go:25-30, validation 234-243)
- duplicate-PK skip within one batch (DynamoDB rejects them)
- token-bucket MaxWritesPerSec rate limit per writer (dyndb.go:171-175)
- retry with exponential backoff on UnprocessedItems (dyndb.go:366-389)

boto3 is not bundled in this environment, so the client is injected: any
object with ``batch_write_item(RequestItems=...) -> {"UnprocessedItems":
{...}}``. ``client_factory=None`` tries boto3 and raises a clear error if
unavailable.

Delivery semantics under Spark task retries (SURVEY.md hard part (f)):

- default (batch puts): AT-LEAST-ONCE. A task that dies mid-partition
  replays its whole partition; DynamoDB puts are idempotent per PK, so
  replays OVERWRITE rather than duplicate — the table converges to one
  item per PK with the last-written attribute values. Safe whenever the
  row content for a PK is deterministic (the normal ETL case). Pinned
  wire-level by test_moto_aws.py's crash-replay test.
- ``strict_once=True``: FIRST-WRITER-WINS via per-item conditional puts
  (``attribute_not_exists(pk)``). A replay — or a concurrent job racing
  the same PK — can never clobber an item that already landed; losers
  are counted in ``skipped_existing``. Costs one put_item per row
  instead of 25-item batches (the condition is unsupported in
  batch_write_item), so reserve it for sinks where a replay might
  legitimately carry DIFFERENT values for a PK (non-deterministic
  enrichment, wall-clock columns) and silent overwrite would corrupt.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame

BATCH_SIZE = 25  # DynamoDB batch_write_item hard limit (dyndb.go:33)


def _default_client_factory(regions: list[str], endpoint_url: str = ""):
    try:
        import boto3  # type: ignore
    except ImportError as e:  # pragma: no cover - boto3 absent in this env
        raise RuntimeError(
            "boto3 is not installed; pass client_factory= to DynamoDBWriter"
        ) from e
    kw = {"endpoint_url": endpoint_url} if endpoint_url else {}
    return [boto3.client("dynamodb", region_name=r, **kw) for r in regions]


def _to_item(columns: list[str], types: list[str], row) -> dict:
    item = {}
    for col, typ in zip(columns, types):
        v = row[col]
        if v is None or v == "":
            continue
        if typ == "n":
            float(v)  # validate number like dyndb.go:234-243
            item[col] = {"N": str(v)}
        else:
            item[col] = {"S": str(v)}
    return item


class _TokenBucket:
    """MaxWritesPerSec limiter (dyndb.go:171-175)."""

    def __init__(self, rate: int):
        self.rate = rate
        self.allowance = float(rate)
        self.last = time.monotonic()

    def take(self, n: int = 1):
        if self.rate <= 0:
            return
        while True:
            now = time.monotonic()
            # burst cap must admit the request: clamping to `rate` alone
            # would make take(25) with rate=10 spin forever — allowance
            # can never reach n (a 25-item batch at 10/sec legitimately
            # waits 2.5s, it must not hang)
            cap = float(max(self.rate, n))
            self.allowance = min(cap, self.allowance + (now - self.last) * self.rate)
            self.last = now
            if self.allowance >= n:
                self.allowance -= n
                return
            time.sleep((n - self.allowance) / self.rate)


def _err_code(e: Exception) -> str:
    return getattr(e, "response", {}).get("Error", {}).get("Code", "")


def write_batches(
    rows,
    *,
    table: str,
    columns: list[str],
    types: list[str],
    clients,
    max_writes_per_sec: int = 0,
    max_backoff: float = 2.0,
    strict_once: bool = False,
) -> dict:
    """Core batching loop — pure enough to unit-test with a fake client.

    ``strict_once`` switches 25-item batch puts to per-item conditional
    puts (``attribute_not_exists(pk)``): first-writer-wins under task
    replays and races; refused items count in ``skipped_existing``."""
    bucket = _TokenBucket(max_writes_per_sec)
    stats = {"written": 0, "skipped_dup_pk": 0, "retries": 0, "skipped_existing": 0}
    pk = columns[0]
    batch: list[dict] = []
    seen_pks: set[str] = set()

    def _put_conditional(client, item) -> bool:
        backoff = 0.05
        while True:
            try:
                client.put_item(
                    TableName=table,
                    Item=item,
                    ConditionExpression="attribute_not_exists(#pk)",
                    ExpressionAttributeNames={"#pk": pk},
                )
                return True
            except Exception as e:
                code = _err_code(e)
                if code == "ConditionalCheckFailedException":
                    return False  # already landed: first writer won
                if code not in (
                    "ProvisionedThroughputExceededException",
                    "ThrottlingException",
                ):
                    raise
                # throttling is the put_item analog of UnprocessedItems:
                # same charged-retry + capped-backoff policy as below
                stats["retries"] += 1
                bucket.take(1)
                time.sleep(backoff)
                backoff = min(backoff * 2, max_backoff)

    def flush():
        if not batch:
            return
        bucket.take(len(batch))
        if strict_once:
            # stats count the PRIMARY region's outcome (batch mode also
            # counts each batch once, not once per region client)
            for i, client in enumerate(clients):
                for it in batch:
                    won = _put_conditional(client, it)
                    if i == 0:
                        stats["written" if won else "skipped_existing"] += 1
            batch.clear()
            seen_pks.clear()
            return
        for client in clients:
            request = {table: [{"PutRequest": {"Item": it}} for it in batch]}
            backoff = 0.05
            while request[table]:
                resp = client.batch_write_item(RequestItems=request)
                unprocessed = (resp or {}).get("UnprocessedItems", {})
                if not unprocessed.get(table):
                    break
                stats["retries"] += 1
                request = unprocessed
                # retried items are REAL write traffic: charge them
                # against max_writes_per_sec too, or a throttled table
                # gets hammered outside the configured rate exactly when
                # it is already over capacity. Retries stay unbounded
                # with capped backoff — the reference's own semantics
                # (dyndb.go:120-143 loops until UnprocessedItems drains,
                # MaxBackoff caps the WAIT, not the attempts).
                bucket.take(len(request[table]))
                time.sleep(backoff)
                backoff = min(backoff * 2, max_backoff)
        stats["written"] += len(batch)
        batch.clear()
        seen_pks.clear()

    for row in rows:
        try:
            item = _to_item(columns, types, row)
        except ValueError:
            # malformed n: value — one bad row must not abort the task
            # (and with it the whole job, mid-write, after some batches
            # already landed); count it like the reference's errn
            # skipped-lines counter (dyndb.go:202)
            stats["skipped_bad_number"] = stats.get("skipped_bad_number", 0) + 1
            continue
        if pk not in item:
            # empty/NULL PK: _to_item skips empty values, and an item
            # without the hash key makes DynamoDB reject the ENTIRE
            # 25-item batch with ValidationException — count and skip
            # the row instead of poisoning its batch
            stats["skipped_empty_pk"] = stats.get("skipped_empty_pk", 0) + 1
            continue
        key = str(item.get(pk))
        if key in seen_pks:  # dup PK within batch -> skip (dyndb.go docs)
            stats["skipped_dup_pk"] += 1
            continue
        seen_pks.add(key)
        batch.append(item)
        if len(batch) >= BATCH_SIZE:
            flush()
    flush()
    return stats


@dataclass
class DynamoDBWriter:
    """Batch-write records to DynamoDB: 25-item batches, s:/n: typed
    columns (first = PK), dup-PK skip, token-bucket rate limit, backoff
    retries (output/dyndb.go:20-31)."""

    table: str
    columns: list[str]  # declared as 's:name' / 'n:name', first = PK
    regions: list[str] = field(default_factory=lambda: ["us-west-2"])
    max_writes_per_sec: int = 0
    #: MaxBackoff (dyndb.go:173, default "2m"): cap on the retry backoff
    #: for UnprocessedItems before giving up growing the wait
    max_backoff: float = 120.0
    client_factory: Callable | None = None
    #: LocalStack/moto/VPC endpoint for the DEFAULT factory (ignored
    #: when client_factory is injected)
    endpoint_url: str = ""
    #: first-writer-wins conditional puts (see module docstring): task
    #: replays and racing jobs can never clobber a landed item
    strict_once: bool = False

    @classmethod
    def from_config(
        cls,
        #: the table to write
        table: str,
        #: "s:name" / "n:name" per column; the first is the partition key
        columns: list[str],
        #: a write goes to every region's table (output/dyndb.go:20-31)
        regions: list[str] = ("us-west-2",),
        #: per-task write-rate cap; 0 = none
        max_writes_per_sec: int = 0,
        #: Go duration capping the UnprocessedItems retry backoff
        max_backoff: str = "2m",
        #: engine extension (not in dyndb.go): first-writer-wins
        #: conditional puts for replay/race safety — see the module
        #: docstring for when to pay the per-item cost
        strict_once: bool = False,
    ) -> "DynamoDBWriter":
        from baker_spark.sinks.filewriter import parse_go_duration

        return cls(
            table=table,
            columns=columns,
            regions=list(regions),
            max_writes_per_sec=int(max_writes_per_sec),
            max_backoff=parse_go_duration(max_backoff),
            strict_once=bool(strict_once),
        )

    def __post_init__(self):
        # validate BEFORE splitting: a column missing its ':' prefix must
        # produce the clear error, not an IndexError from split()[1]
        bad = [c for c in self.columns if ":" not in c or c.split(":", 1)[0] not in ("s", "n")]
        if bad:
            raise ValueError(f"column types must be 's:' or 'n:', got {bad}")
        self._names = [c.split(":", 1)[1] for c in self.columns]
        self._types = [c.split(":", 1)[0] for c in self.columns]

    def write(self, df: DataFrame) -> None:
        table, names, types = self.table, self._names, self._types
        regions, rate = self.regions, self.max_writes_per_sec
        backoff_cap = self.max_backoff
        endpoint = self.endpoint_url
        strict = self.strict_once
        factory = self.client_factory or (
            lambda rs: _default_client_factory(rs, endpoint)
        )

        def per_partition(rows):
            clients = factory(regions)
            write_batches(
                rows,
                table=table,
                columns=names,
                types=types,
                clients=clients,
                max_writes_per_sec=rate,
                max_backoff=backoff_cap,
                strict_once=strict,
            )

        df.select(*names).foreachPartition(per_partition)
