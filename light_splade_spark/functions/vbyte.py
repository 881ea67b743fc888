"""Delta-gap + VByte posting compression — vectorized numpy kernels.

No Spark primitive compresses posting lists, so this is genuine custom code
(SURVEY.md §4 item 2), run inside Arrow-batched pandas UDFs only. Layout of an
encoded run (one per (term, salt-range) in phase 1; one per term after the
phase-2 merge):

    [n: varint] [delta varints x n] [weights: float32 x n little-endian]

deltas[0] = doc_ids[0] - base (base = -1 for a standalone run, or the previous
run's last doc at merge time), deltas[i] = doc_ids[i] - doc_ids[i-1]; doc_ids
strictly ascending and strictly > base, so every delta >= 1.

VByte: classic 7-bit groups, little-endian, high bit set on the LAST byte of
each value (the scheme used by Lucene's VInt, public knowledge).
"""

from __future__ import annotations

import numpy as np

_MASK = np.uint64(0x7F)


def vbyte_encode(values: np.ndarray) -> bytes:
    """Vectorized VByte encode of a uint64 array."""
    v = values.astype(np.uint64, copy=False)
    n = v.size
    if n == 0:
        return b""
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
    return out.tobytes()


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


def vbyte_encode_sized(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Like vbyte_encode but also returns per-value byte counts, so callers
    can slice the buffer per logical segment without re-parsing."""
    v = values.astype(np.uint64, copy=False)
    n = v.size
    if n == 0:
        return b"", np.zeros(0, dtype=np.int64)
    nbits = np.zeros(n, dtype=np.int64)
    tmp = v.copy()
    nz = tmp > 0
    while nz.any():
        nbits[nz] += 1
        tmp >>= np.uint64(7)
        nz = tmp > 0
    nbytes = np.maximum(nbits, 1)
    return vbyte_encode(v), nbytes


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


def encode_run(doc_ids: np.ndarray, weights: np.ndarray, base: int = -1) -> bytes:
    """Encode one doc-id-ascending posting run.

    doc_ids must be non-negative and strictly ascending, and all > ``base`` —
    otherwise a delta would go negative and silently corrupt via the uint64
    cast, so this raises instead."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    weights = np.asarray(weights, dtype=np.float32)
    n = doc_ids.size
    deltas = np.empty(n, dtype=np.uint64)
    if n:
        if int(doc_ids[0]) < 0 or int(doc_ids[0]) <= base:
            raise ValueError(
                f"doc ids must be non-negative and > base={base}; "
                f"got first id {int(doc_ids[0])} (equality would decode a "
                "duplicate doc id after run concatenation)")
        d = np.diff(doc_ids)
        if d.size and int(d.min()) <= 0:
            raise ValueError("doc ids must be strictly ascending")
        deltas[0] = np.uint64(doc_ids[0] - base)
        deltas[1:] = d.astype(np.uint64)
    return _write_varint_scalar(n) + vbyte_encode(deltas) + weights.tobytes()


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


def concat_runs(runs: list[bytes], bases_first_docs: list[tuple[int, int]],
                weight_bits: int = 32) -> bytes:
    """Phase-2 external merge: concatenate doc-range-disjoint sorted runs.

    ``bases_first_docs[i] = (first_doc_i, last_doc_i)``; runs must be ordered
    and non-overlapping (guaranteed by doc-id-range salting). Only the first
    delta of each subsequent run needs patching, so the merge cost is O(runs),
    not O(postings) — the point of the two-phase build.

    ``weight_bits`` must match the encoding of the runs (32 = float32 weights,
    8 = block-quantized uint8 codes); the production phase-2 merge is the
    inlined variant in index/build.py's posting writer, which handles both.
    """
    wwidth = {32: 4, 8: 1}[weight_bits]
    if len(runs) == 1:
        return runs[0]
    out = bytearray()
    total_n = 0
    payload = bytearray()
    weights = bytearray()
    prev_last = -1
    for run, (first, last) in zip(runs, bases_first_docs):
        arr = np.frombuffer(run, dtype=np.uint8)
        (nv,), off = vbyte_decode(arr, 1, 0)
        n = int(nv)
        total_n += n
        # patch first delta: stored as first - (-1); needs first - prev_last
        d, off2 = vbyte_decode(arr, 1, off)
        payload += _write_varint_scalar(first - prev_last)
        payload += run[off2: off2 + _rest_delta_bytes(arr, off2, n - 1)]
        woff = _weights_offset(arr, off, n)
        weights += run[woff: woff + wwidth * n]
        prev_last = last
    out += _write_varint_scalar(total_n)
    out += payload
    out += weights
    return bytes(out)


def _rest_delta_bytes(arr: np.ndarray, off: int, n: int) -> int:
    if n == 0:
        return 0
    _, end = vbyte_decode(arr, n, off)
    return end - off


def _weights_offset(arr: np.ndarray, delta_off: int, n: int) -> int:
    _, end = vbyte_decode(arr, n, delta_off)
    return end
