"""Codec round-trip tests (mirrors reference codec tests, SURVEY.md §5.1 item 4:
TestContentStoreBlockCodec / TestThreeByteInt / TestTokensCodecRunLength)."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from blacklab_spark.codecs import (
    DEFAULT_BLOCK_SIZE,
    decode_block,
    decode_block_positions,
    decode_blocks,
    decode_positions,
    encode_block_batch,
    encode_blocks,
    encode_positions,
    encode_positions_column,
    varint_decode,
    varint_encode,
)


def test_varint_empty():
    assert varint_encode(np.array([], dtype=np.uint64)) == b""
    assert varint_decode(b"").size == 0


def test_varint_known():
    assert varint_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert varint_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert varint_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    assert varint_encode(np.array([300], dtype=np.uint64)) == b"\xac\x02"


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500))
@settings(max_examples=100, deadline=None)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    out = varint_decode(varint_encode(arr))
    assert np.array_equal(out, arr)


def test_varint_u64_max():
    arr = np.array([2**64 - 1, 0, 1], dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(arr)), arr)


@given(
    st.lists(st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=20),
             min_size=1, max_size=30)
)
@settings(max_examples=50, deadline=None)
def test_positions_roundtrip(pos_lists):
    pos_lists = [sorted(set(p)) for p in pos_lists if p]
    if not pos_lists:
        return
    flat = np.array([x for p in pos_lists for x in p], dtype=np.int64)
    tfs = np.array([len(p) for p in pos_lists], dtype=np.int64)
    buf = encode_positions(flat, tfs)
    out = decode_positions(buf, tfs)
    assert np.array_equal(out, flat)


def rand_postings(rng, n):
    doc_ids = np.sort(rng.choice(10**7, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 20, n).astype(np.int64)
    dls = (tfs + rng.integers(0, 100, n)).astype(np.int64)
    pos = []
    for tf, dl in zip(tfs, dls):
        pos.extend(sorted(rng.choice(max(dl, tf), size=tf, replace=False).tolist()))
    return doc_ids, tfs, dls, np.array(pos, dtype=np.int64)


@pytest.mark.parametrize("n", [1, 5, 127, 128, 129, 1000])
def test_block_roundtrip(n):
    rng = np.random.default_rng(7)
    doc_ids, tfs, dls, pos = rand_postings(rng, n)
    blocks = encode_blocks(doc_ids, tfs, dls, pos, avgdl=50.0, idf_val=1.5)
    assert len(blocks) == (n + DEFAULT_BLOCK_SIZE - 1) // DEFAULT_BLOCK_SIZE
    got_d, got_t, got_l, got_p = [], [], [], []
    for b in blocks:
        d, t, l = decode_block(b)
        assert b["first_doc_id"] == d[0] and b["last_doc_id"] == d[-1]
        assert b["num_docs"] == len(d)
        assert b["block_max_tf"] == t.max()
        got_d.append(d); got_t.append(t); got_l.append(l)
        got_p.append(decode_block_positions(b))
    assert np.array_equal(np.concatenate(got_d), doc_ids)
    assert np.array_equal(np.concatenate(got_t), tfs)
    assert np.array_equal(np.concatenate(got_l), dls)
    assert np.array_equal(np.concatenate(got_p), pos)


def test_block_max_score_is_upper_bound():
    from blacklab_spark.scoring import bm25
    rng = np.random.default_rng(11)
    doc_ids, tfs, dls, pos = rand_postings(rng, 300)
    avgdl, w = 42.0, 2.0
    blocks = encode_blocks(doc_ids, tfs, dls, pos, avgdl=avgdl, idf_val=w)
    for b in blocks:
        d, t, l = decode_block(b)
        scores = bm25(t, l, avgdl, w)
        assert scores.max() <= b["block_max_score"] + 1e-15
        assert abs(scores.max() - b["block_max_score"]) < 1e-12  # exact, not loose


# ----------------------------------------------------------- block batches --

BLOCK_FIELDS = [
    "first_doc_id", "last_doc_id", "num_docs", "doc_gaps", "tfs", "dls",
    "positions", "block_max_tf", "block_max_score",
]


def wide_postings(rng, n):
    """Postings whose doc gaps, dls and positions all need multi-byte
    varints (values well past 127 and 16383)."""
    doc_ids = np.sort(rng.choice(10**9, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 200, n).astype(np.int64)
    dls = (tfs + rng.integers(0, 50_000, n)).astype(np.int64)
    pos = np.concatenate([
        np.sort(rng.choice(dl, size=tf, replace=False)) for tf, dl in zip(tfs, dls)
    ]) if n else np.zeros(0, np.int64)
    return doc_ids, tfs, dls, pos.astype(np.int64)


@pytest.mark.parametrize("sizes", [
    [],                       # empty batch
    [1],                      # one 1-posting block
    [1, 1, 1],                # several 1-posting terms
    [127], [128], [129],      # the block boundary (129 → a 1-posting tail)
    [129, 1, 300, 128, 127],  # several terms mixed in one batch
])
def test_block_batch_roundtrip(sizes):
    """encode_block_batch → decode_blocks equals the per-block reference
    (encode_blocks / decode_block / decode_block_positions) byte for byte."""
    rng = np.random.default_rng(len(sizes) * 1000 + sum(sizes))
    avgdl = 777.5
    terms = [wide_postings(rng, n) for n in sizes]
    idf = rng.uniform(0.1, 9.0, len(sizes))
    cat = [np.concatenate([t[i] for t in terms]) if terms else np.zeros(0, np.int64)
           for i in range(4)]
    doc_ids, tfs, dls, pos = cat

    # the per-posting position column is encode_positions of each doc
    pos_col = encode_positions_column(pos, tfs)
    offs = np.concatenate(([0], np.cumsum(tfs)))
    assert pos_col.to_pylist() == [
        encode_positions(pos[offs[i]:offs[i + 1]], tfs[i:i + 1])
        for i in range(len(tfs))
    ]

    grp, in_grp, cols = encode_block_batch(
        np.concatenate(([0], np.cumsum(sizes))), doc_ids, tfs, dls, pos_col,
        idf, avgdl,
    )
    ref = [
        (g, j, b)
        for g, (t, w) in enumerate(zip(terms, idf))
        for j, b in enumerate(encode_blocks(*t, avgdl=avgdl, idf_val=w))
    ]
    assert grp.tolist() == [g for g, _, _ in ref]
    assert in_grp.tolist() == [j for _, j, _ in ref]
    for f in BLOCK_FIELDS:
        assert cols[f].to_pylist() == [b[f] for _, _, b in ref], f

    ref_blocks = [b for _, _, b in ref]
    for as_arrow in (True, False):  # Arrow columns and plain bytes sequences
        col = (lambda f: cols[f]) if as_arrow else (
            lambda f: [b[f] for b in ref_blocks]
        )
        got = decode_blocks(
            col("first_doc_id"), col("doc_gaps"), col("tfs"), col("dls"),
            col("positions"),
        )
        assert np.array_equal(got.doc_ids, doc_ids)
        assert np.array_equal(got.tfs, tfs)
        assert np.array_equal(got.dls, dls)
        assert np.array_equal(got.positions, pos)
        assert np.array_equal(
            got.block, np.repeat(np.arange(len(ref_blocks)),
                                 [b["num_docs"] for b in ref_blocks])
        )
        for i, b in enumerate(ref_blocks):
            d, t, l = decode_block(b)
            sel = got.block == i
            assert np.array_equal(got.doc_ids[sel], d)
            assert np.array_equal(got.tfs[sel], t)
            assert np.array_equal(got.dls[sel], l)
            po = np.concatenate(([0], np.cumsum(got.tfs)))
            lo, hi = np.flatnonzero(sel)[[0, -1]]
            assert np.array_equal(
                got.positions[po[lo]:po[hi + 1]], decode_block_positions(b)
            )
    # a sliced Arrow column (non-zero array offset) decodes the same blocks
    if len(ref_blocks) > 1:
        sl = decode_blocks(*(cols[f].slice(1) for f in (
            "first_doc_id", "doc_gaps", "tfs", "dls")))
        assert np.array_equal(sl.doc_ids, doc_ids[ref_blocks[0]["num_docs"]:])
        assert sl.positions is None
