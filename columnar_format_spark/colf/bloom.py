"""Per-file Bloom filters for COLF datasets (sidecar, format-compatible).

Zone maps prune range/point predicates on CLUSTERED columns, but a
point lookup on a high-cardinality unclustered key (doc ids, order
keys written in arrival order) finds every file's [min, max] covering
the probe value — zone maps prune nothing. The standard fix (Parquet
column bloom filters, Iceberg puffin sketches) is a per-file Bloom
filter: ~10 bits/row buys a ~1% false-positive rate, so an
`id = 'x'` lookup opens ~1 file + 1% of the rest instead of all of
them. The reference has no dataset or statistics concept at all
(metadata is offsets+sizes only — SURVEY.md §4.2); this lives beside
the `_manifests/` zone maps as `_blooms/` sidecar shards so every file
stays byte-readable by the reference reader.

Determinism contract (same reasons as SCALING.md §5): membership
hashing derives from md5 over a fixed byte encoding of the value —
int32 as little-endian 4 bytes, utf8 as UTF-8, float64 as CANONICAL
little-endian IEEE-754 bits (-0.0 normalized to 0.0 and every NaN
payload to one quiet NaN, so SQL-equal values always share one
encoding and a probe can never false-negative on a signed zero or an
odd NaN bit pattern) — never from Python `hash()` (salted per
process) or RNG state, so a filter built by any task on any executor,
or rebuilt by a CoW rewrite, answers queries identically. Float
equality probes remain a rare query shape (0.1-literal-vs-stored
mismatch is the USER's problem, same as in any SQL engine), but when
a pipeline does key on exact stored doubles — sensor ids, quantized
scores — the bloom now serves it instead of scanning every file.

False positives cost I/O only — a bloom "maybe" falls through to the
scan and Spark re-applies the filter row-level; false NEGATIVES would
lose rows, so `might_contain` is exact-no-false-negative by
construction and `tests/test_colf_bloom.py` property-tests it.
"""

from __future__ import annotations

import base64
import hashlib
import math
import struct
from typing import Iterable

# Bits are capped so one filter never exceeds 128 KiB (2^20 bits)
# even for a very large part file; past the cap the realized fpp
# degrades gracefully and is recorded in the sidecar for observability.
MAX_BITS = 1 << 20
DEFAULT_FPP = 0.01

# Character-prefix lengths indexed for utf8 bloom columns: a pushed
# StringStartsWith(pattern) probes the longest indexed length <=
# len(pattern) with pattern[:L]. Any value matching the pattern has
# len(value) >= len(pattern) >= L and value[:L] == pattern[:L], which
# IS indexed — so a negative probe proves no match (no false
# negatives). Distinct prefixes are few, so these blooms are tiny
# relative to the value filter.
PREFIX_LENGTHS = (2, 4, 8)


def encode_int32(v: int) -> bytes:
    return struct.pack("<i", v)


def encode_utf8(v: str) -> bytes:
    return v.encode("utf-8")


def encode_float64(v: float) -> bytes:
    """Canonical IEEE-754 bits: -0.0 → 0.0 (SQL-equal, different bit
    patterns) and any NaN → the one struct-pack quiet NaN (Spark
    orders/compares all NaNs equal). Build and probe share this, so
    bitwise variety can never cause a false negative."""
    if v != v:  # NaN, any payload
        v = float("nan")
    elif v == 0.0:  # collapses -0.0
        v = 0.0
    return struct.pack("<d", v)


def _params(n: int, fpp: float) -> tuple[int, int]:
    """Optimal (m bits, k hashes) for n items at target fpp, m capped."""
    n = max(1, n)
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = min(max(64, m), MAX_BITS)
    k = max(1, round(m / n * math.log(2)))
    return m, min(k, 16)


def _indexes(value_bytes: bytes, m: int, k: int):
    """Kirsch-Mitzenmacher double hashing over the two md5 halves:
    index_i = (h1 + i*h2) mod m. One md5 per value, k probes."""
    d = hashlib.md5(value_bytes).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1  # odd -> full-period stride
    return ((h1 + i * h2) % m for i in range(k))


def build(values: Iterable[bytes], n_hint: int,
          fpp: float = DEFAULT_FPP) -> dict:
    """Build a serializable filter over pre-encoded values. ``n_hint``
    sizes the filter (distinct-count upper bound: row count is fine —
    oversizing only lowers fpp). Returns the JSON-ready dict stored in
    the ``_blooms/`` sidecar."""
    m, k = _params(n_hint, fpp)
    bits = bytearray((m + 7) // 8)
    n_added = 0
    for vb in values:
        for idx in _indexes(vb, m, k):
            bits[idx >> 3] |= 1 << (idx & 7)
        n_added += 1
    return {
        "m": m,
        "k": k,
        "n": n_added,
        "fpp": round(realized_fpp(m, k, n_added), 6),
        "b64": base64.b64encode(bytes(bits)).decode("ascii"),
    }


def realized_fpp(m: int, k: int, n: int) -> float:
    """(1 - e^{-kn/m})^k — the standard estimate, recorded so an
    operator can see when the MAX_BITS cap degraded a huge file's
    filter below its target."""
    if n == 0:
        return 0.0
    return (1.0 - math.exp(-k * n / m)) ** k


def decode_bits(bloom: dict) -> tuple[bytes, int, int]:
    """(bits, m, k) decoded once — callers probing MANY values against
    one filter (IN lists) should decode once and use contains() per
    probe instead of paying the base64 decode per probe."""
    return base64.b64decode(bloom["b64"]), bloom["m"], bloom["k"]


def contains(bits: bytes, m: int, k: int, value_bytes: bytes) -> bool:
    return all(bits[idx >> 3] & (1 << (idx & 7))
               for idx in _indexes(value_bytes, m, k))


def might_contain(bloom: dict, value_bytes: bytes) -> bool:
    """True unless the filter PROVES the value absent (no false
    negatives; false-positive rate ≈ bloom['fpp'])."""
    bits, m, k = decode_bits(bloom)
    return contains(bits, m, k, value_bytes)


def build_prefixes(strings: Iterable[str],
                   fpp: float = DEFAULT_FPP) -> dict:
    """{str(L): bloom} over the distinct L-char prefixes of the given
    strings, for each L in PREFIX_LENGTHS. A value shorter than L is
    not indexed at L — it cannot match any pattern of length >= L, so
    probes at L stay false-negative-free. Each filter is sized by its
    DISTINCT prefix count (prefix cardinality is far below row count)."""
    per_len: dict[int, set] = {L: set() for L in PREFIX_LENGTHS}
    for s in strings:
        for L in PREFIX_LENGTHS:
            if len(s) >= L:
                per_len[L].add(s[:L])
    return {str(L): build((encode_utf8(p) for p in sorted(vals)),
                          n_hint=len(vals), fpp=fpp)
            for L, vals in per_len.items() if vals}


def prefix_might_match(bloom: dict, pattern: str) -> bool:
    """True unless some prefix filter PROVES no stored value starts
    with ``pattern``. Uses the longest indexed length <= len(pattern);
    shorter patterns than every indexed length stay unknowable (True)."""
    prefixes = bloom.get("prefixes")
    if not prefixes:
        return True
    usable = [L for L in PREFIX_LENGTHS
              if len(pattern) >= L and str(L) in prefixes]
    if not usable:
        return True
    L = max(usable)
    return might_contain(prefixes[str(L)], encode_utf8(pattern[:L]))


def merge(a: dict, b: dict) -> dict:
    """OR-merge two filters with identical (m, k) — how a compaction
    could carry blooms forward without re-reading data. Raises on
    parameter mismatch (a rebuilt filter is then the correct move)."""
    if a["m"] != b["m"] or a["k"] != b["k"]:
        raise ValueError(
            f"cannot merge bloom filters with different params: "
            f"({a['m']},{a['k']}) vs ({b['m']},{b['k']})")
    merged = bytes(x | y for x, y in zip(base64.b64decode(a["b64"]),
                                         base64.b64decode(b["b64"])))
    n = a["n"] + b["n"]
    out = {"m": a["m"], "k": a["k"], "n": n,
           "fpp": round(realized_fpp(a["m"], a["k"], n), 6),
           "b64": base64.b64encode(merged).decode("ascii")}
    # carry prefix filters forward when both sides have compatible
    # params per length; otherwise drop them (absence is conservative)
    pa_, pb = a.get("prefixes") or {}, b.get("prefixes") or {}
    if pa_ and pb and set(pa_) == set(pb):
        try:
            out["prefixes"] = {L: merge(pa_[L], pb[L]) for L in pa_}
        except ValueError:
            pass
    return out
