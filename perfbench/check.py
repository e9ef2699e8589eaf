"""Output checks that never run the engine under test.

Each workload's expected output is recomputed here by a pure-Python pass
over the generated inputs, following the documented semantics of the
operators the topology names (baker's ClauseFilter, NotNull,
TimestampRange, URLParam and Hash; the corpus tier's scrub, quality
gate, minhash LSH, connected components and chunking). The engine's
output is read back from disk with gzip and pyarrow only.
"""

from __future__ import annotations

import glob
import gzip
import hashlib
import math
import os
import re
from urllib.parse import parse_qsl, urlsplit

_MASK64 = (1 << 64) - 1
_INT_RX = re.compile(r"-?[0-9]+")


def line_digest(lines) -> tuple[int, int]:
    """(count, order-free digest): the digest is the sum, modulo 2**64,
    of the first eight md5 bytes of every line, so it ignores line order
    but not duplicated or missing lines."""
    n = total = 0
    for line in lines:
        n += 1
        total += int.from_bytes(hashlib.md5(line.encode()).digest()[:8], "big")
    return n, total & _MASK64


def read_gz_lines(directory: str) -> list[str]:
    """Every line of every ``*.gz`` file below ``directory``."""
    lines: list[str] = []
    for path in sorted(glob.glob(os.path.join(directory, "**", "*.gz"), recursive=True)):
        with gzip.open(path, "rt") as fh:
            lines.extend(fh.read().splitlines())
    return lines


# ------------------------------------------------------------ row topology


def _query_param(url: str, name: str) -> str:
    """URLParam: the first value of query parameter ``name``, form-decoded;
    '' when absent."""
    for key, value in parse_qsl(urlsplit(url).query, keep_blank_values=True):
        if key == name:
            return value
    return ""


def topology_lines(records, ts_lo: int, ts_hi: int) -> list[str]:
    """The lines the etl_logs / daemon_tcp topology writes for ``records``:
    drop HEAD requests and status 500 (ClauseFilter), empty uids (NotNull)
    and timestamps that are not integers in [ts_lo, ts_hi)
    (TimestampRange); add the utm_campaign parameter (URLParam) and the hex
    md5 of the uid (Hash); project the output fields."""
    out = []
    for ts, country, uid, url, method, status, last, _agent in records:
        if method == "HEAD" or status == "500" or not uid:
            continue
        if not _INT_RX.fullmatch(ts) or not ts_lo <= int(ts) < ts_hi:
            continue
        fields = [country, ts, hashlib.md5(uid.encode()).hexdigest(), _query_param(url, "utm_campaign"), status, last]
        out.append(",".join(fields))
    return out


# ------------------------------------------------------------------ corpus

SCRUB = [
    (re.compile(r"https?://[^ ]+"), "<URL>"),
    (re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"), "<EMAIL>"),
    (re.compile(r"[0-9]{7,}"), "<NUM>"),
]
_PUNCT = re.compile(r"[.!?,;:]")
MINHASH_K, BANDS, SHINGLE_N, BUCKET_CAP = 16, 4, 3, 50
CHUNK_SIZE, CHUNK_STEP = 32, 24
_P = (1 << 31) - 1
#: the Carter-Wegman family (a_i * h + b_i) mod P, i = 0..15
_AB = [
    (
        ((2654435761 * (i + 1)) ^ (40503 * i * i * i)) % (_P - 1) + 1,
        (11400714819323198485 * (i + 1) + 2654435769 * i) % _P,
    )
    for i in range(MINHASH_K)
]


def scrub(text: str) -> str:
    for rx, repl in SCRUB:
        text = rx.sub(repl, text)
    return text


def quality_ok(text: str) -> bool:
    """At least 20 words, at most one punctuation mark per five words and
    a mean word length between 1.50 and 12.00 characters."""
    nw = len(text.split(" "))
    mean_c2 = math.floor((len(text) - (nw - 1)) * 100 / nw)
    return nw >= 20 and len(_PUNCT.findall(text)) * 5 <= nw and 150 <= mean_c2 <= 1200


def band_keys(text: str) -> list[str]:
    """The four LSH band keys of ``text``: 16 minhashes of its word
    3-shingles, md5 of each comma-joined row of four."""
    w = text.split(" ")
    hs = {
        int(hashlib.md5(" ".join(w[i : i + SHINGLE_N]).encode()).hexdigest()[:8], 16)
        for i in range(len(w) - SHINGLE_N + 1)
    }
    if not hs:
        return []
    mins = [min((a * h + b) % _P for h in hs) for a, b in _AB]
    r = MINHASH_K // BANDS
    return [
        hashlib.md5(",".join(str(m) for m in mins[b * r : (b + 1) * r]).encode()).hexdigest()
        for b in range(BANDS)
    ]


def chunks(text: str) -> list[str]:
    w = text.split(" ")
    n = max(math.ceil((len(w) - CHUNK_SIZE) / CHUNK_STEP), 0) + 1
    return [" ".join(w[i * CHUNK_STEP : i * CHUNK_STEP + CHUNK_SIZE]) for i in range(n)]


def corpus_expected(texts: list[str]) -> dict:
    """Survivors and chunks of scrub -> quality gate -> LSH pairs ->
    connected components (canonical = smallest id) -> chunking."""
    clean = {i: scrub(t) for i, t in enumerate(texts)}
    kept = [i for i in clean if quality_ok(clean[i])]
    buckets: dict[tuple[int, str], list[int]] = {}
    for i in kept:
        for b, key in enumerate(band_keys(clean[i])):
            buckets.setdefault((b, key), []).append(i)
    parent = {i: i for i in kept}

    def root(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    pairs = set()
    for ids in buckets.values():
        if 1 < len(ids) <= BUCKET_CAP:
            for x in range(len(ids)):
                for y in range(x + 1, len(ids)):
                    pairs.add((ids[x], ids[y]))
    for a, b in pairs:
        ra, rb = root(a), root(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    survivors = sorted(i for i in kept if root(i) == i)
    chunk_lines = [f"{i}\t{k}\t{c}" for i in survivors for k, c in enumerate(chunks(clean[i]))]
    n, digest = line_digest(chunk_lines)
    return {"survivors": survivors, "chunks": n, "chunk_digest": digest}


def corpus_output_problems(out_dir: str, expected: dict, dup_groups: list[list[int]]) -> list[str]:
    """Compare the parquet chunks the pipeline wrote with ``expected``."""
    import pyarrow.parquet as pq

    table = pq.read_table(out_dir, columns=["doc_id", "chunk_idx", "chunk"]).to_pydict()
    rows = list(zip(table["doc_id"], table["chunk_idx"], table["chunk"]))
    problems = []
    ids = {d for d, _, _ in rows}
    for group in dup_groups:
        if len(ids.intersection(group)) > 1:
            problems.append(f"exact duplicates {sorted(ids.intersection(group))} all survived")
    if len(rows) != expected["chunks"]:
        problems.append(f"{len(rows)} chunks, expected {expected['chunks']}")
    if sorted(ids) != expected["survivors"]:
        problems.append(f"{len(ids)} surviving documents, expected {len(expected['survivors'])}")
    _, digest = line_digest(f"{d}\t{k}\t{c}" for d, k, c in rows)
    if digest != expected["chunk_digest"]:
        problems.append("chunk digest differs from the reference")
    return problems
