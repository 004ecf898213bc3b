"""Dictionary codec: unique-value dictionary + hybrid-encoded indices.

Decode semantics mirror the reference PLAIN_DICTIONARY data-page path
(/root/reference/src/Parquet/Stream/Reader.hs:148-182): a 1-byte index
bit width, then an RLE/bit-packed hybrid stream of dictionary indices;
values are reconstructed by dictionary lookup (`construct_dict_values`,
Stream/Reader.hs:101-109). The dictionary page itself holds PLAIN
values in the reference (`dictPageReader`, Stream/Reader.hs:211-220);
here the dictionary is delta-encoded (np.unique output is sorted, so
deltas are small) — strictly smaller, same information.

Encode (absent in the reference) is `np.unique(return_inverse=True)`
plus the hybrid index encoder — fully vectorized.

Payload layout:
    varint dict_size
    varint dict_bytes_len | dict payload (delta codec over sorted uniques)
    u8 index_bit_width    | hybrid index stream
      (index_bit_width 255 = base-packed index stream instead: the
       basepack codec at R = dict_size — recovers the fractional bit
       the hybrid's whole-bit width wastes on off-power-of-two
       cardinalities; chosen by exact-size trial, so the pick is a
       pure function of content)
"""

from __future__ import annotations

import zlib

import numpy as np

from tokencodec.codecs import basepack, bitpack, delta, rle, varint

_IDX_BASEPACK = 255


_BINCOUNT_MAX_RANGE = 1 << 22


def _unique_inverse(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """np.unique(values, return_inverse=True), but O(n + R) via
    bincount when the value range R is small (token vocabularies are
    ~2^16) instead of the O(n log n) full sort — identical outputs.
    R must also be small relative to n: a short array spanning a wide
    range would allocate and scan O(R) bins where the sort is cheap."""
    vmin = int(values.min())
    vmax = int(values.max())
    R = vmax - vmin + 1
    if R > _BINCOUNT_MAX_RANGE or R > 4 * len(values):
        return np.unique(values, return_inverse=True)
    shifted = (values - vmin).astype(np.int64, copy=False)
    present = np.bincount(shifted, minlength=R) > 0
    uniq = np.flatnonzero(present) + vmin
    lut = np.cumsum(present) - 1
    return uniq, lut[shifted]


def encode(values: np.ndarray) -> tuple[bytes, int]:
    """-> (payload, dict_size). Values: any int64-safe integers."""
    if len(values) == 0:
        uniq, inverse = np.unique(values, return_inverse=True)
    else:
        uniq, inverse = _unique_inverse(values)
    dict_size = len(uniq)
    dict_payload, first, dbw = delta.encode(uniq.astype(np.int64))
    ibw = bitpack.width_for(dict_size - 1)
    idx_payload = rle.encode(inverse.astype(np.uint64), ibw)
    k, _ = basepack.plan(dict_size)
    bp_n = basepack.payload_nbytes(len(inverse), dict_size)
    if k >= 2 and bp_n < len(idx_payload):
        # wrap-aware: a skewed index stream compresses below its
        # whole-bit width under the page-level DEFLATE wrap — switch to
        # basepack only when it also beats that (basepacked bits are
        # alignment-free and opaque to zlib, so the choice is exclusive)
        if bp_n < len(zlib.compress(idx_payload, 1)):
            ibw = _IDX_BASEPACK
            idx_payload = basepack.encode(inverse.astype(np.int64), 0, dict_size)
    out = b"".join([
        varint.encode(dict_size),
        varint.encode(len(dict_payload)),
        int(first).to_bytes(8, "little", signed=True),
        bytes([dbw]),
        dict_payload,
        bytes([ibw]),
        idx_payload,
    ])
    return out, dict_size


def decode(buf: bytes | memoryview, n_values: int) -> np.ndarray:
    mv = memoryview(buf)
    dict_size, pos = varint.decode(mv, 0)
    dlen, pos = varint.decode(mv, pos)
    first = int.from_bytes(mv[pos:pos + 8], "little", signed=True)
    pos += 8
    dbw = mv[pos]
    pos += 1
    uniq = delta.decode(mv[pos:pos + dlen], first, dbw, dict_size)
    pos += dlen
    ibw = mv[pos]
    pos += 1
    if ibw == _IDX_BASEPACK:
        idx = basepack.decode(mv[pos:], 0, n_values)
    else:
        idx = rle.decode(mv[pos:], ibw, n_values).astype(np.int64)
    return uniq[idx]
