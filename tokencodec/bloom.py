"""Per-chunk doc-id Bloom filters: point-lookup pruning metadata.

Parquet (ColumnMetaData.bloom_filter_offset) and Iceberg v2 attach
Bloom filters to column chunks so an exact-match predicate can skip
chunks whose min/max range matches but which cannot contain the value.
The reference parses chunk Statistics but has no Bloom surface
(/root/reference/src/Parquet/Types/ColumnChunk.hs:19-30); this engine
adds it for the lookup a 100-TB training table actually serves:
"fetch / verify-takedown of ONE doc_id". Salt pruning (decode_job)
narrows such a lookup to 1/n_salts of chunks; the Bloom filter then
skips all but ~1 chunk of that salt — without it every chunk of the
salt is parsed, because hash-spread doc_id ranges carry no order.

Layout (little-endian, stored in the pages table's `doc_bloom` binary
column, NULL = unknown = never prune):
    u32 m_bits (power of two) | u8 k | u8 hash_scheme
                              | bitmap (m_bits/8 bytes)
A blob of any other length (a malformed one, or one without the scheme
byte) or with an UNKNOWN scheme id reads as "keep" — so a probe can never
false-negative against a blob whose hashing it cannot reproduce
(ADVICE r5 #2: a silently changed hash would otherwise DROP rows that
exist, not just cost pruning power).

Hashing (scheme 1): pandas' vectorized SipHash-1-3
(`pd.util.hash_array`, fixed default key b'0123456789123456') ->
double hashing h1 + i*h2 (Kirsch-Mitzenmacher) for k probe positions.
If a future pandas changes that function, bump the scheme id — old
blobs then degrade to "keep", never to dropped rows.
Sizing: m = next power of two >= 10 bits/doc (~1% FPR at k=7),
clamped to [64 bits, 2^19 bits] so a degenerate 1-token-per-doc chunk
caps its filter at 64 KiB (FPR degrades gracefully past the cap).
"""

from __future__ import annotations

import struct

import numpy as np

_HEADER_V2 = struct.Struct("<IBB")    # m_bits, k, hash scheme id
_SCHEME_PANDAS_SIPHASH13 = 1
_K = 7
_BITS_PER_DOC = 10
_MIN_M = 1 << 6
_MAX_M = 1 << 19


def _parse(blob) -> tuple[int, int, np.ndarray] | None:
    """(m_bits, k, bitmap) of a probe-able blob, or None = "keep":
    NULL, malformed, truncated, or a hash scheme this build cannot
    reproduce all degrade to keep — a Bloom no may drop real rows, so
    only a blob we can re-hash exactly is allowed to say no."""
    if blob is None:
        return None
    mv = memoryview(blob)
    if len(mv) < _HEADER_V2.size:
        return None
    m, k, scheme = _HEADER_V2.unpack_from(mv, 0)
    if (m & (m - 1) or not (1 <= k <= 32)
            or len(mv) != _HEADER_V2.size + (m >> 3)
            or scheme != _SCHEME_PANDAS_SIPHASH13):
        return None
    return m, k, np.frombuffer(mv, dtype=np.uint8, offset=_HEADER_V2.size)


def _hashes(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """-> (h1, h2) uint64 arrays; h2 forced odd so probe strides cycle."""
    import pandas as pd
    h = pd.util.hash_array(np.asarray(ids, dtype=object))
    h1 = h
    h2 = (h >> np.uint64(33)) | np.uint64(1)
    return h1, h2


def _m_bits(n_docs: int) -> int:
    target = max(int(n_docs) * _BITS_PER_DOC, 1)
    m = 1 << (target - 1).bit_length()
    return min(max(m, _MIN_M), _MAX_M)


def build(doc_ids) -> bytes:
    """Bloom blob over a chunk's doc ids (duplicates are free)."""
    ids = np.asarray(doc_ids, dtype=object)
    m = _m_bits(len(ids))
    bitmap = np.zeros(m >> 3, dtype=np.uint8)
    if len(ids):
        h1, h2 = _hashes(ids)
        probes = np.arange(_K, dtype=np.uint64)
        pos = (h1[:, None] + probes * h2[:, None]) & np.uint64(m - 1)
        pos = np.unique(pos.ravel())
        np.bitwise_or.at(bitmap, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
    return (_HEADER_V2.pack(m, _K, _SCHEME_PANDAS_SIPHASH13)
            + bitmap.tobytes())


def might_contain(blob: bytes | memoryview | None, doc_id: str) -> bool:
    """False ONLY when the chunk provably lacks doc_id; NULL blob, a
    malformed blob or an unknown hash scheme -> True (keep)."""
    parsed = _parse(blob)
    if parsed is None:
        return True
    m, k, bitmap = parsed
    h1, h2 = _hashes(np.array([doc_id], dtype=object))
    pos = (h1[0] + np.arange(k, dtype=np.uint64) * h2[0]) & np.uint64(m - 1)
    return bool((bitmap[pos >> np.uint64(3)]
                 >> (pos & np.uint64(7)).astype(np.uint8) & 1).all())


def series_might_contain_any(blobs, doc_ids) -> np.ndarray:
    """Batch-lookup variant: keep a chunk when ANY of the target ids
    might be present. Targets are hashed once; per chunk the test is
    len(doc_ids) x k vectorized bit probes. NULL/malformed/unknown-
    scheme blob -> keep. Takedown-sized target lists by contract (the
    same bound as decode's broadcast delete sets)."""
    h1, h2 = _hashes(np.asarray(doc_ids, dtype=object))
    out = np.ones(len(blobs), dtype=bool)
    for i, blob in enumerate(blobs):
        parsed = _parse(blob)
        if parsed is None:
            continue
        m, k, bitmap = parsed
        p = np.arange(k, dtype=np.uint64)
        pos = (h1[:, None] + p * h2[:, None]) & np.uint64(m - 1)
        hits = ((bitmap[pos >> np.uint64(3)]
                 >> (pos & np.uint64(7)).astype(np.uint8)) & 1).all(axis=1)
        out[i] = bool(hits.any())
    return out


def contains_all(blob: bytes | memoryview, ids) -> bool:
    """True iff EVERY id tests positive — the integrity invariant fsck
    checks (a Bloom filter may false-positive but never false-negative
    on the ids it was built from). Fully vectorized. Unlike the keep-
    biased probes, an unparseable blob FAILS here: fsck must flag a
    filter it cannot validate."""
    parsed = _parse(blob)
    if parsed is None:
        return False
    m, k, bitmap = parsed
    h1, h2 = _hashes(np.asarray(ids, dtype=object))
    pos = (h1[:, None] + np.arange(k, dtype=np.uint64) * h2[:, None]) \
        & np.uint64(m - 1)
    return bool(((bitmap[pos >> np.uint64(3)]
                  >> (pos & np.uint64(7)).astype(np.uint8)) & 1).all())


def series_might_contain(blobs, doc_id: str) -> np.ndarray:
    """Vectorized-over-chunks membership test for ONE doc_id: the
    target is hashed once; each chunk's (m, bitmap) is then a couple of
    array lookups. Chunk-granular loop (like fsck), never per-row."""
    h1, h2 = _hashes(np.array([doc_id], dtype=object))
    out = np.ones(len(blobs), dtype=bool)
    for i, blob in enumerate(blobs):
        parsed = _parse(blob)
        if parsed is None:
            continue
        m, k, bitmap = parsed
        pos = (h1[0] + np.arange(k, dtype=np.uint64) * h2[0]) \
            & np.uint64(m - 1)
        out[i] = bool((bitmap[pos >> np.uint64(3)]
                       >> (pos & np.uint64(7)).astype(np.uint8) & 1).all())
    return out
