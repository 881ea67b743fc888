"""VByte codec, and posting lists through the build's own encode-and-merge
path: phase-1 runs from ``_encode_groups`` (one call per doc-id-range
salt, as the build's groupBy issues them), the phase-2 ``_merge_groups``,
then ``decode_posting_list`` — at weight_bits 32 and 8."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from light_splade_spark.functions.vbyte import (
    decode_run,
    vbyte_decode,
    vbyte_encode,
)
from light_splade_spark.index.build import (
    _encode_groups,
    _merge_groups,
    decode_posting_list,
)

BLOCK = 16


def _posting_row(ids, ws, cuts=(), weight_bits=32):
    """Encode one term's postings as runs split at the doc-id ``cuts``
    (salt = number of cuts <= doc id), merge them, and return the single
    stored posting row."""
    ids = np.asarray(ids, dtype=np.int64)
    salts = np.searchsorted(np.sort(np.asarray(cuts, dtype=np.int64)), ids,
                            side="right")
    runs = []
    for salt in np.unique(salts):
        sel = salts == salt
        runs.append(_encode_groups(pd.DataFrame({
            "shard": 0, "bucket": 3, "salt": int(salt), "term_id": 7,
            "doc_id": ids[sel], "w": np.asarray(ws, np.float32)[sel]}),
            block_size=BLOCK, weight_bits=weight_bits))
    merged = _merge_groups(pd.concat(runs, ignore_index=True))
    assert len(merged) == 1 and int(merged["df"][0]) == ids.size
    return merged.iloc[0]


def _decoded(row, weight_bits):
    return decode_posting_list(row["postings"], row["bm_last"],
                               row["bm_max"], weight_bits)


def _assert_weights(got, want, weight_bits):
    if weight_bits == 32:
        assert (got == want).all()
    else:  # dequantized: within half a code step of the block maximum
        assert np.abs(got - want).max() <= want.max() / 510 * 1.001


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500))
@settings(max_examples=50, deadline=None)
def test_vbyte_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    buf, sizes = vbyte_encode(arr)
    assert int(sizes.sum()) == len(buf)
    out, off = vbyte_decode(buf, len(values))
    assert out.tolist() == values
    assert off == len(buf)


@given(
    st.lists(st.integers(min_value=0, max_value=10**12), min_size=1,
             max_size=300, unique=True),
    st.lists(st.integers(min_value=0, max_value=10**12), max_size=4),
)
@settings(max_examples=50, deadline=None)
def test_run_roundtrip(ids, cuts):
    ids = np.sort(np.array(ids, dtype=np.int64))
    w = (np.arange(ids.size) % 97).astype(np.float32) / 7
    for wb in (32, 8):
        d, ww = _decoded(_posting_row(ids, w, cuts, wb), wb)
        assert (d == ids).all()
        _assert_weights(ww, w, wb)


def test_empty_run():
    # the zero-posting blob, and runs whose delta tail is empty (one
    # posting per salt: the merge writes only their boundary deltas)
    d, w = decode_run(b"\x80")
    assert d.size == 0 and w.size == 0
    ids = np.array([3, 40, 41, 900], dtype=np.int64)
    w = np.array([0.5, 1.0, 2.0, 0.25], dtype=np.float32)
    for wb in (32, 8):
        d, ww = _decoded(_posting_row(ids, w, [10, 41, 100], wb), wb)
        assert (d == ids).all()
        _assert_weights(ww, w, wb)


@pytest.mark.parametrize("cuts", [[100], [1, 900], [300, 600, 900]])
def test_concat_runs_equals_whole(cuts):
    rng = np.random.default_rng(7)
    ids = np.sort(rng.choice(10**9, 1000, replace=False)).astype(np.int64)
    w = rng.random(1000).astype(np.float32)
    doc_cuts = [int(ids[c]) for c in cuts]  # run i starts at ids[cuts[i-1]]
    for wb in (32, 8):
        row = _posting_row(ids, w, doc_cuts, wb)
        d, ww = _decoded(row, wb)
        assert (d == ids).all()
        _assert_weights(ww, w, wb)
        assert list(row["bm_last"])[-1] == ids[-1]
    # at w32 the merged bytes ARE the single-run encoding: only the
    # boundary deltas were re-encoded
    assert (_posting_row(ids, w, doc_cuts)["postings"]
            == _posting_row(ids, w)["postings"])


def test_compression_beats_raw():
    rng = np.random.default_rng(1)
    ids = np.sort(rng.choice(10**7, 50_000, replace=False)).astype(np.int64)
    w = rng.random(ids.size).astype(np.float32)
    raw = ids.size * (8 + 4)  # int64 + float32
    for wb in (32, 8):
        enc = _posting_row(ids, w, [10**6, 5 * 10**6], wb)["postings"]
        assert len(enc) < raw * 0.5  # delta+vbyte at least halves it
