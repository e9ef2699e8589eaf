"""Deterministic cross-engine hashing.

Spark's native ``hash``/``xxhash64`` and DuckDB's ``hash`` use different
algorithms, so every hash the correctness oracle needs to reproduce is
derived from md5 (identical in both engines). A 60-bit integer hash is
taken from the first 15 hex chars of the md5 digest — always positive,
always fits in an int64 in both engines.

The reference hashes with md5/sha256 too (/root/reference/filter/hash.go:67-96)
and shards with FNV (/root/reference/examples/sharding/shard.go:10-27);
md5-derived integers give the same "stable hash -> partition/bucket"
capability with cross-engine reproducibility.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

#: number of md5 hex chars used for the integer hash (15 -> 60 bits, < 2^63).
HEX_CHARS = 15


def md5_long(col: Column | str, salt: str | None = None, nchars: int = HEX_CHARS) -> Column:
    """Spark: 60-bit non-negative integer hash of a string column."""
    c = F.col(col) if isinstance(col, str) else col
    if salt is not None:
        c = F.concat(F.lit(salt + "|"), c)
    return F.conv(F.substring(F.md5(c), 1, nchars), 16, 10).cast("long")


def duck_md5_long(expr: str, salt: str | None = None, nchars: int = HEX_CHARS) -> str:
    """DuckDB SQL string computing the identical 60-bit hash.

    ``||``, not ``concat()``: DuckDB's concat SKIPS null arguments, so a
    NULL input would become md5('salt|') — a real hash where Spark's
    md5_long yields NULL — and the unsalted form would try
    CAST('0x' AS BIGINT) and crash the oracle. The ANSI ``||`` operator
    propagates NULL exactly like Spark's concat, keeping the two
    engines' hashes (and their NULL handling) identical."""
    if salt is not None:
        expr = f"('{salt}|' || {expr})"
    return f"CAST('0x' || substr(md5({expr}), 1, {nchars}) AS BIGINT)"


#: Carter-Wegman universal-hash family for minhash: one 32-bit md5-derived
#: base hash per element, then k independent affine maps
#: ``(a_i * h + b_i) mod P`` with the Mersenne prime P = 2^31 - 1 (the
#: classic linear-congruential minhash permutation, e.g. ekzhu/datasketch).
#: Bounds make every intermediate fit BIGINT in Spark AND DuckDB:
#: a < 2^31, h < 2^32 -> a*h + b < 2^63. a*h wraps the modulus ~2^32
#: times, so the k maps genuinely scramble the element order — a modulus
#: near a*h_max (e.g. 2^61-1 with a 32-bit h) wraps at most once, leaving
#: the map near-monotone in h and every minhash picking the same argmin.
#: Unlike salted re-hashing this costs ONE digest per element; the maps
#: are pairwise independent, so LSH band-agreement probabilities follow
#: the standard (1/b)^(1/r) threshold analysis.
MINHASH_P = (1 << 31) - 1


def minhash_params(k: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) constants: 1 <= a < P, 0 <= b < P."""
    params = []
    for i in range(k):
        a = ((2654435761 * (i + 1)) ^ (40503 * i * i * i)) % (MINHASH_P - 1) + 1
        b = (11400714819323198485 * (i + 1) + 2654435769 * i) % MINHASH_P
        params.append((a, b))
    return params


def duck_affine_hash(h_expr: str, a: int, b: int) -> str:
    return f"(({a} * {h_expr} + {b}) % {MINHASH_P})"


#: KMV sketch parameter: estimate from the k-th smallest distinct hash.
KMV_K = 64
HASH_SPACE = float(1 << (4 * HEX_CHARS))  # 2^60


def kmv_estimate_c0(kth_hash, k: int = KMV_K):
    """Cardinality estimate from the k-th minimum value: (k-1) * S / kth,
    floored to BIGINT. Deterministic given the md5 hash — the same
    arithmetic runs in DuckDB, so unlike HLL this sketch is exactly
    reproducible cross-engine. Mergeable at scale: the union's KMV is
    the k smallest of the combined minima, so partial sketches combine
    with one tiny shuffle."""
    from pyspark.sql import functions as F

    return F.floor(F.lit(float(k - 1) * HASH_SPACE) / kth_hash).cast("long")


def duck_kmv_estimate_c0(kth_expr: str, k: int = KMV_K) -> str:
    return f"CAST(floor({float(k - 1) * HASH_SPACE} / ({kth_expr})) AS BIGINT)"
