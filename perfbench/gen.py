"""Seeded input generators for the three workloads.

Everything the engine reads is written here from ``--seed``: the same
seed always yields byte-identical inputs. Nothing outside the run's own
work directory is read.
"""

from __future__ import annotations

import gzip
import os
import random

#: baker's flat CSV record: eight string fields (about 113 bytes a line)
LOG_FIELDS = ["ts", "country", "uid", "url", "method", "status", "bytes", "agent"]
#: the daemon records carry a sequence number where the batch logs carry a size
DAEMON_FIELDS = ["ts", "country", "uid", "url", "method", "status", "seq", "agent"]
COUNTRIES = ["US", "DE", "FR", "GB", "JP", "BR", "IN", "CA", "ES", "IT", "NL", "SE"]
METHODS = ["GET", "GET", "GET", "GET", "POST", "POST", "HEAD"]
STATUSES = ["200", "200", "200", "200", "200", "301", "404", "500"]
AGENTS = ["curl/8.5", "Mozilla/5.0", "okhttp/4.12", "python-requests/2.31", "Go-http/1.1"]
CAMPAIGNS = ["spring", "summer", "fall", "winter", "brand", "retarget", "promo_a", "promo_b"]
HOSTS = ["shop.example.com", "news.example.org", "cdn.example.net"]

#: TimestampRange window of the etl_logs topology: [TS_LO, TS_HI)
TS_LO = 1704067200  # 2024-01-01 00:00:00 UTC
TS_HI = 1719792000  # 2024-07-01 00:00:00 UTC

#: placeholder the daemon sender replaces with the epoch second it sends at
STAMP = "@"

#: the 30-word vocabulary of tools/gen_testdata.py's documents table
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]


def _url(rng: random.Random) -> str:
    path = f"https://{rng.choice(HOSTS)}/p/{rng.randrange(10_000)}"
    r = rng.random()
    if r < 0.6:
        return f"{path}?utm_campaign={rng.choice(CAMPAIGNS)}&ref={rng.randrange(100)}"
    if r < 0.85:
        return f"{path}?ref={rng.randrange(100)}"
    return path


def _record(rng: random.Random, ts_lo: int, ts_hi: int, last: str) -> list[str]:
    r = rng.random()
    ts = "-" if r < 0.01 else str(rng.randrange(ts_lo, ts_hi))
    uid = "" if rng.random() < 0.03 else f"{rng.getrandbits(64):016x}"
    return [
        ts,
        rng.choice(COUNTRIES),
        uid,
        _url(rng),
        rng.choice(METHODS),
        rng.choice(STATUSES),
        last,
        rng.choice(AGENTS),
    ]


def log_records(seed: int, n: int) -> list[list[str]]:
    """``n`` etl_logs records. About a tenth fall outside the topology's
    timestamp window, 1% carry a non-integer timestamp, 3% an empty uid."""
    rng = random.Random(f"logs-{seed}")
    span = TS_HI - TS_LO
    lo, hi = TS_LO - span // 20, TS_HI + span // 20
    return [_record(rng, lo, hi, str(rng.randrange(200, 90_000))) for _ in range(n)]


def write_log_files(records: list[list[str]], directory: str, n_files: int) -> list[str]:
    """Spread ``records`` over ``n_files`` gzip CSV files, round robin."""
    os.makedirs(directory, exist_ok=True)
    paths = []
    for i in range(n_files):
        path = os.path.join(directory, f"logs-{i:03d}.csv.gz")
        body = "".join(",".join(r) + "\n" for r in records[i::n_files])
        with gzip.open(path, "wb", compresslevel=1) as fh:
            fh.write(body.encode())
        paths.append(path)
    return paths


def daemon_connections(seed: int, n_conns: int, per_conn: int) -> list[list[list[str]]]:
    """Records for ``n_conns`` connections of ``per_conn`` records each.
    Field ``seq`` numbers every record once, in send order. Field ``ts``
    is :data:`STAMP` where the sender writes the creation stamp at send
    time, or a non-integer (1%) that the topology drops."""
    rng = random.Random(f"daemon-{seed}")
    seq = 0
    conns = []
    for _ in range(n_conns):
        recs = []
        for _ in range(per_conn):
            rec = _record(rng, 0, 1, str(seq))
            if rec[0] != "-":
                rec[0] = STAMP
            recs.append(rec)
            seq += 1
        conns.append(recs)
    return conns


def documents(seed: int, n: int) -> list[str]:
    """``n`` documents shaped like tools/gen_testdata.py: 10-100 words of
    the 30-word vocabulary, about 5% near-duplicates (a copy of an
    earlier document with one word replaced by 'dup') and 0.16% exact
    duplicates. One document in fifty also carries a URL, an email
    address or a long number for the scrub stage to redact."""
    rng = random.Random(f"docs-{seed}")
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        r = rng.random()
        # duplicates copy an original, never another duplicate: every
        # cluster is a star, so the cluster resolution takes the same
        # number of rounds whatever the seed
        if i > 10 and r < 0.0016:
            texts.append(texts[rng.choice(originals)])
            continue
        if i > 10 and r < 0.0516:
            words = texts[rng.choice(originals)].split(" ")
            words[rng.randrange(len(words))] = "dup"
            texts.append(" ".join(words))
            continue
        originals.append(i)
        words = [rng.choice(VOCAB) for _ in range(rng.randint(10, 100))]
        if rng.random() < 0.02:
            words[rng.randrange(len(words))] = rng.choice(
                [
                    f"https://example.com/doc/{rng.randrange(1000)}",
                    f"user{rng.randrange(1000)}@example.com",
                    str(rng.randrange(10**7, 10**10)),
                ]
            )
        texts.append(" ".join(words))
    return texts


def exact_duplicate_groups(texts: list[str]) -> list[list[int]]:
    """Doc ids sharing one text, for every text that occurs more than once."""
    by_text: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        by_text.setdefault(t, []).append(i)
    return [ids for ids in by_text.values() if len(ids) > 1]


def write_documents(texts: list[str], path: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()), "text": texts})
    pq.write_table(table, path)
    return path
