"""Delta-gap + VByte posting compression — vectorized numpy kernels.

No Spark primitive compresses posting lists, so this is genuine custom code
(SURVEY.md §4 item 2), run inside Arrow-batched pandas UDFs only. Layout of
one stored posting row (one per (shard, term) per posting group):

    [n: varint] [delta varints x n] [weights x n]

deltas[0] = doc_ids[0] + 1, deltas[i] = doc_ids[i] - doc_ids[i-1]; doc_ids
are non-negative and strictly ascending, so every delta >= 1. Weights are
little-endian float32, or uint8 block-relative codes at weight_bits=8. The
encoder (index/build._encode_groups) and the run merge
(index/build._merge_groups) build this layout from ``vbyte_encode``;
``decode_run`` reads it back.

VByte: classic 7-bit groups, little-endian, high bit set on the LAST byte of
each value (the scheme used by Lucene's VInt, public knowledge).
"""

from __future__ import annotations

import numpy as np

_MASK = np.uint64(0x7F)


def vbyte_encode(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Vectorized VByte encode of a uint64 array -> (buffer, per-value byte
    counts); the counts let callers slice the buffer per logical segment
    without re-parsing."""
    v = values.astype(np.uint64, copy=False)
    n = v.size
    if n == 0:
        return b"", np.zeros(0, dtype=np.int64)
    # bytes needed per value: ceil(bit_length / 7), min 1
    nbits = np.zeros(n, dtype=np.int64)
    tmp = v.copy()
    nz = tmp > 0
    while nz.any():
        nbits[nz] += 1
        tmp >>= np.uint64(7)
        nz = tmp > 0
    nbytes = np.maximum(nbits, 1)
    total = int(nbytes.sum())
    out = np.empty(total, dtype=np.uint8)
    # position of each value's first byte
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(nbytes[:-1], out=starts[1:])
    # write 7-bit groups, at most 10 rounds for 64-bit
    remaining = v.copy()
    idx = starts.copy()
    left = nbytes.copy()
    while (left > 0).any():
        active = left > 0
        byte = (remaining[active] & _MASK).astype(np.uint8)
        last = left[active] == 1
        byte[last] |= np.uint8(0x80)
        out[idx[active]] = byte
        remaining[active] >>= np.uint64(7)
        idx[active] += 1
        left[active] -= 1
    return out.tobytes(), nbytes


def vbyte_decode(buf: np.ndarray | bytes, n: int, offset: int = 0) -> tuple[np.ndarray, int]:
    """Decode n varints from buf starting at offset -> (values, next_offset).

    Vectorized: terminator bytes (high bit set) mark value ends; values are
    reconstructed by per-byte shifts grouped with cumulative segment ids.
    """
    b = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    if n == 0:
        return np.empty(0, dtype=np.uint64), offset
    b = b[offset:]
    ends = np.flatnonzero(b & 0x80)
    last = ends[n - 1]
    b = b[: last + 1]
    ends = ends[:n]
    # segment id per byte = number of terminators before it
    seg = np.zeros(b.size, dtype=np.int64)
    seg[ends[:-1] + 1] = 1
    seg = np.cumsum(seg)
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    shifts = ((np.arange(b.size, dtype=np.int64) - starts[seg]) * 7).astype(np.uint64)
    parts = (b & np.uint8(0x7F)).astype(np.uint64) << shifts
    values = np.zeros(n, dtype=np.uint64)
    np.add.at(values, seg, parts)
    return values, offset + int(last) + 1


def _write_varint_scalar(x: int) -> bytes:
    if x < 0:
        # Python's arithmetic right shift never zeroes a negative int, so a
        # negative value would loop forever; callers must validate doc ids
        # (and therefore deltas) are non-negative before encoding.
        raise ValueError(f"varint value must be non-negative, got {x}")
    out = bytearray()
    while True:
        b = x & 0x7F
        x >>= 7
        if x == 0:
            out.append(b | 0x80)
            return bytes(out)
        out.append(b)


def decode_run(buf: bytes, base: int = -1,
               weight_bits: int = 32) -> tuple[np.ndarray, np.ndarray]:
    """-> (doc_ids int64, weights float32 or uint8 codes for weight_bits=8)."""
    arr = np.frombuffer(buf, dtype=np.uint8)
    (nv,), off = vbyte_decode(arr, 1, 0)
    n = int(nv)
    deltas, off = vbyte_decode(arr, n, off)
    doc_ids = np.cumsum(deltas.astype(np.int64)) + base
    if weight_bits == 8:
        weights = np.frombuffer(buf, dtype=np.uint8, count=n, offset=off)
    else:
        weights = np.frombuffer(buf, dtype=np.float32, count=n, offset=off)
    return doc_ids, weights
