"""Per-file Bloom-filter data skipping.

Min/max stats answer range predicates; they are useless for point
lookups on high-cardinality columns that are neither the partition nor
the clustering key (every file's [min, max] spans the probe). A
per-file Bloom filter over the column's distinct values answers
``col = literal`` / ``col IN (...)`` probabilistically: a clean miss
PROVES the file cannot contain the value, so the scan skips it; a hit
keeps the file (false positives only cost I/O, never correctness).

The filter rides ``AddFile.tags`` (``bloom.<col>`` → ``"<m>:<k>:<hex>"``),
the file-level annotation channel the reference reserves for exactly
this kind of metadata (actions.scala:109-132). Writers build filters in
the SAME distributed publish pass that footer-reads stats
(writer.publish_plan). The pruner (scan.py, which states when it probes)
hashes its values once per scan with :func:`bloom_hashes` and tests them
against each file's tag with :func:`bloom_may_contain`. Tags are
self-describing: the probe computes a file's bit positions from ITS m
and k, so a config change between writes never mis-tests old files, and
files without a tag are kept.

Sizing: with n distinct values per file, fpp ≈ (1 - e^(-kn/m))^k.
By default m is AUTO-SIZED per file (~10 bits per distinct value →
~1% fpp at k=7, floor 16 Ki bits, capped at 2^23 — see auto_bits);
pin delta.dataSkipping.bloomFilter.numBits to trade tag bytes for
selectivity explicitly (a pinned m that is too small saturates
SILENTLY: still sound, skips nothing — SCALE.md §23 measured the
threshold). The tag cost is metadata-plane: O(files × bloom'd
columns), the same budget dataSkippingNumIndexedCols bounds for
min/max width.

Hashing is md5-derived double hashing (seedless — the same determinism
doctrine as ops/sketches.py), over a canonical string key: integers as
their decimal form, strings as their UTF-8 text. Other types are out
of scope (no tag written, no test applied).
"""

from __future__ import annotations

import hashlib
from typing import Dict, Iterable, List, Optional, Tuple

import numpy as np

BLOOM_COLUMNS_KEY = "delta.dataSkipping.bloomFilter.columns"
BLOOM_BITS_KEY = "delta.dataSkipping.bloomFilter.numBits"
BLOOM_HASHES_KEY = "delta.dataSkipping.bloomFilter.numHashes"
TAG_PREFIX = "bloom."

DEFAULT_BITS = 16384
DEFAULT_HASHES = 7
_MAX_HASHES = 16        # config bound on k (k per file may vary)


def bloom_config(configuration: Optional[Dict[str, str]]
                 ) -> Optional[Tuple[List[str], int, int]]:
    """(columns, m, k) from a metadata configuration, or None when the
    table has no bloom columns configured."""
    conf = configuration or {}
    cols = [c.strip() for c in conf.get(BLOOM_COLUMNS_KEY, "").split(",")
            if c.strip()]
    if not cols:
        return None
    m = None                       # None = auto-size per file
    if BLOOM_BITS_KEY in conf:
        m = int(conf[BLOOM_BITS_KEY])
        if m < 8 or m % 4:
            raise ValueError(f"{BLOOM_BITS_KEY} must be a multiple of "
                             f"4 >= 8, got {m}")
    k = int(conf.get(BLOOM_HASHES_KEY, str(DEFAULT_HASHES)))
    if not 1 <= k <= _MAX_HASHES:
        raise ValueError(f"{BLOOM_HASHES_KEY} must be in "
                         f"[1, {_MAX_HASHES}], got {k}")
    return cols, m, k


_AUTO_MAX_BITS = 1 << 23           # 1 MiB binary / 2 MiB hex per tag


def auto_bits(n_distinct: int) -> int:
    """Per-file filter size when numBits is not pinned: ~10 bits per
    distinct value (≈1% fpp at k=7), floor DEFAULT_BITS, capped at
    _AUTO_MAX_BITS (past the cap fpp degrades gracefully instead of
    the tag growing unbounded — still sound, just less selective).
    Self-describing tags make per-file sizing free: the probe reads
    each file's own m."""
    m = max(DEFAULT_BITS, 10 * max(n_distinct, 1))
    m = min(m, _AUTO_MAX_BITS)
    return (m + 3) // 4 * 4


def bloom_key(value) -> Optional[str]:
    """Canonical hash key shared by writer and probe; None = out of
    scope (no evidence either way)."""
    if value is None or isinstance(value, bool):
        return None
    if isinstance(value, int):
        return str(value)
    if isinstance(value, str):
        return value
    return None


def _hashes64(key: str) -> Tuple[int, int]:
    h = hashlib.md5(key.encode("utf-8")).hexdigest()
    return int(h[:15], 16), int(h[15:30], 16) | 1


def build_bloom_hex(values: Iterable, m: int, k: int) -> Optional[str]:
    """Hex filter over the values' canonical keys. Bit p lives in hex
    char p//4 at bit p%4 (nibble-wise layout: the probe reads one hex
    char per position). Returns None when no value was hashable (no
    tag — the file is always kept).

    The md5 per distinct value is irreducible Python, but the k
    position computations and bit sets are vectorized numpy over the
    whole (h1, h2) array — at ~60k distinct values/file the scalar
    loop dominated the publish pass. Positions reduce mod m before
    scaling, as the probe does, so every intermediate fits in int64."""
    h1s, h2s = [], []
    for v in values:
        key = bloom_key(v)
        if key is None:
            continue
        h1, h2 = _hashes64(key)
        h1s.append(h1)
        h2s.append(h2)
    if not h1s:
        return None
    h1a = np.asarray(h1s, dtype=np.int64) % m
    h2a = np.asarray(h2s, dtype=np.int64) % m
    nibbles = np.zeros(m // 4, dtype=np.uint8)
    for i in range(k):
        p = (h1a + i * h2a) % m
        np.bitwise_or.at(nibbles, p // 4,
                         np.left_shift(1, (p % 4)).astype(np.uint8))
    lut = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)
    return lut[nibbles].tobytes().decode("ascii")


def bloom_tag_value(hex_filter: str, m: int, k: int) -> str:
    return f"{m}:{k}:{hex_filter}"


def bloom_hashes(values) -> Optional[np.ndarray]:
    """The (h1, h2) hash pairs of ``values``, one row each; None when any
    value is out of scope (None, bool, non-int/str): under IN's OR
    semantics one unprovable value forfeits the whole test."""
    keys = [bloom_key(v) for v in values]
    if not keys or any(key is None for key in keys):
        return None
    return np.array([_hashes64(key) for key in keys], dtype=np.int64)


# ASCII hex digit -> nibble value
_NIBBLE = np.zeros(256, dtype=np.int64)
_NIBBLE[np.frombuffer(b"0123456789abcdef", dtype=np.uint8)] = np.arange(16)


def bloom_may_contain(tag: Optional[str], hashes) -> bool:
    """False only when a file's tag proves every hashed value absent; a
    missing or unparseable tag, or ``hashes`` of None, keeps the file."""
    if not tag or hashes is None:
        return True
    parts = tag.split(":", 2)
    try:
        m, k, hx = int(parts[0]), int(parts[1]), parts[2]
    except (ValueError, IndexError):
        return True
    if m < 4 or len(hx) * 4 < m:
        return True
    h = hashes % m
    pos = (h[:, :1] + np.arange(k) * h[:, 1:]) % m
    nib = _NIBBLE[np.frombuffer(hx.encode("ascii"), dtype=np.uint8)[pos // 4]]
    return bool(((nib >> (pos % 4)) & 1).all(axis=1).any())
