"""Posting-list codec: round-trip + block-level properties."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from wikitfidf_spark.index import codec


def _encode_row(docs, tfs, scores, block_size):
    """Fused row via the PRODUCTION encoder pair (structure first, then
    scores in the structure's doc order) — the same composition
    build.py's encode_structure_df performs."""
    order = np.argsort(np.asarray(docs, dtype=np.int64), kind="stable")
    d = np.asarray(docs, dtype=np.int64)[order]
    t = np.asarray(tfs, dtype=np.uint64)[order]
    s = np.asarray(scores, dtype=np.int64)[order]
    st = codec.encode_structure(
        d, t, np.ones(len(d), np.uint64), block_size, presorted=True
    )
    scores_payload, maxes, score_offs = codec.encode_scores(s, st.block_counts)
    return {
        "n_docs": st.n,
        "block_counts": st.block_counts,
        "block_firsts": st.block_firsts,
        "block_lasts": st.block_lasts,
        "block_max_score": maxes,
        "block_doc_offs": st.block_doc_offs,
        "block_score_offs": score_offs,
        "docs_payload": st.docs_payload,
        "tfs_payload": st.tfs_payload,
        "scores_payload": scores_payload,
    }


def _roundtrip(docs, tfs, scores, block_size):
    row = _encode_row(docs, tfs, scores, block_size)
    return row, codec.decode_all(row)


def test_roundtrip_random():
    rng = np.random.RandomState(7)
    for block in (4, 128):
        docs = np.unique(rng.randint(-(2**62), 2**62, size=1500).astype(np.int64))
        rng.shuffle(docs)
        tfs = rng.randint(1, 999, size=len(docs)).astype(np.int64)
        scores = rng.randint(0, 10**8, size=len(docs)).astype(np.int64)
        _, (d, t, s) = _roundtrip(docs, tfs, scores, block)
        order = np.argsort(docs, kind="stable")
        assert np.array_equal(d, docs[order])
        assert np.array_equal(t, tfs[order])
        assert np.array_equal(s, scores[order])


def test_block_sidecars():
    rng = np.random.RandomState(3)
    docs = np.unique(rng.randint(-(2**40), 2**40, size=700).astype(np.int64))
    tfs = np.ones(len(docs), dtype=np.int64)
    scores = rng.randint(0, 10**6, size=len(docs)).astype(np.int64)
    enc, _ = _roundtrip(docs, tfs, scores, 128)
    srt = np.sort(docs)
    starts = np.arange(0, len(docs), 128)
    assert np.array_equal(enc["block_firsts"], srt[starts])
    ends = np.minimum(starts + 128, len(docs)) - 1
    assert np.array_equal(enc["block_lasts"], srt[ends])
    # block max scores
    order = np.argsort(docs, kind="stable")
    s_sorted = scores[order]
    for i, a in enumerate(starts):
        b = min(a + 128, len(docs))
        assert enc["block_max_score"][i] == s_sorted[a:b].max()
        assert enc["block_counts"][i] == b - a


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=300))
def test_varint_property(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(codec.varint_decode(codec.varint_encode(arr), len(arr)), arr)


def test_signed_unsigned_order_preserving():
    xs = np.array([-(2**63), -1, 0, 1, 2**63 - 1], dtype=np.int64)
    u = codec.to_unsigned(xs)
    assert np.array_equal(np.argsort(u), np.arange(len(xs)))
    assert np.array_equal(codec.to_signed(u), xs)
