"""Posting-list block codecs — the one owner of the posting-block format.

Reference analog: BlackLab's VInt/ZInt payload discipline and multi-codec token
storage (/root/reference/doc/technical/index-formats/integrated.md:78-94,252-258;
/root/reference/engine/src/main/java/nl/inl/blacklab/codec/tokens/TokensCodecType.java:15-21).
Ours is a columnar posting-block layout designed for Parquet rows:

    one block = up to `block_size` postings of ONE term, doc-id-sorted:
      first_doc_id   int64   (skip pointer: absolute docID of first posting)
      last_doc_id    int64   (skip pointer: absolute docID of last posting)
      num_docs       int32
      doc_gaps       binary  varint(d[0]-first=0, d[i]-d[i-1])
      tfs            binary  varint(tf[i])
      dls            binary  varint(dl[i])   exact doc lengths co-located so
                                             scoring never joins at query time
      positions      binary  varint position-gaps, doc-major (tf[i] entries per doc)
      block_max_tf   int32
      block_max_score float64  exact per-block BM25 upper bound (block-max WAND)

Delta decoding restarts at every block, so blocks are independently decodable —
this is what makes salted high-DF term merges correct: salt boundaries are
block boundaries (SURVEY.md §7.3 "Skew").

Both directions of the format live here, at two granularities:

  * per block  — encode_blocks / decode_block / decode_block_positions: one
    term's postings, one block at a time; the reference implementation;
  * per batch  — encode_block_batch (the index build) and decode_blocks (every
    query-side decode): N blocks per call, ONE varint pass per column over the
    concatenated block buffers, exchanged as zero-copy Arrow binary columns.
    Bitwise equal to the per-block functions (pinned in tests/test_codecs.py).

All paths are vectorized numpy (bounded ≤10-iteration loops over byte
positions, never over values or blocks) — usable inside Arrow-batched UDFs
with no per-row Python.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

DEFAULT_BLOCK_SIZE = 128


# ---------------------------------------------------------------- varint ----

def varint_encode_with_lengths(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-encode a uint64 array, also returning per-value byte lengths so
    callers can slice the buffer into sub-ranges (one batch-wide encode split
    into per-block byte strings without re-encoding). Vectorized: loops only
    over byte slots (<=10)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.zeros(0, dtype=np.int64)
    nb = np.ones(v.size, dtype=np.int64)
    t = v >> np.uint64(7)
    while t.any():
        nb += (t > 0).astype(np.int64)
        t = t >> np.uint64(7)
    total = int(nb.sum())
    out = np.zeros(total, dtype=np.uint8)
    starts = np.concatenate(([0], np.cumsum(nb)[:-1]))
    for j in range(int(nb.max())):
        m = nb > j
        b = ((v[m] >> np.uint64(7 * j)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nb[m] - 1) > j
        b[cont] |= 0x80
        out[starts[m] + j] = b
    return out.tobytes(), nb


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array."""
    return varint_encode_with_lengths(values)[0]


def varint_decode(buf) -> np.ndarray:
    """Decode LEB128 bytes (any bytes-like or uint8 array) back to a uint64
    array. Vectorized like encode."""
    arr = np.frombuffer(buf, dtype=np.uint8)
    if arr.size == 0:
        return np.zeros(0, dtype=np.uint64)
    ends = np.flatnonzero((arr & 0x80) == 0)
    starts = np.concatenate(([0], ends[:-1] + 1))
    lengths = ends - starts + 1
    out = np.zeros(ends.size, dtype=np.uint64)
    for j in range(int(lengths.max())):
        m = lengths > j
        out[m] |= (arr[starts[m] + j] & np.uint8(0x7F)).astype(np.uint64) << np.uint64(7 * j)
    return out


# ------------------------------------------------------- binary columns ----

def _binary_buffers(col) -> tuple[np.ndarray, np.ndarray]:
    """A binary column — Arrow (chunked) array, or any sequence of bytes such
    as a pandas object column — as ONE uint8 buffer plus int64 value offsets
    into it. Zero-copy for Arrow; varints are self-delimiting, so the buffer
    decodes as the concatenation of the values."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if isinstance(col, pa.Array):
        if len(col) == 0:
            return np.zeros(0, np.uint8), np.zeros(1, np.int64)
        odt = np.int64 if pa.types.is_large_binary(col.type) else np.int32
        _, obuf, dbuf = col.buffers()
        offs = np.frombuffer(obuf, dtype=odt)[col.offset: col.offset + len(col) + 1]
        offs = offs.astype(np.int64)
        data = np.frombuffer(dbuf, dtype=np.uint8) if dbuf is not None else np.zeros(0, np.uint8)
        return data[offs[0]:offs[-1]], offs - offs[0]
    vals = col.tolist() if hasattr(col, "tolist") else list(col)
    lens = np.fromiter(map(len, vals), dtype=np.int64, count=len(vals))
    data = np.frombuffer(b"".join(vals), dtype=np.uint8)
    return data, np.concatenate(([0], np.cumsum(lens))).astype(np.int64)


def _binary_array(buf, offsets: np.ndarray):
    """Arrow binary array whose value i is buf[offsets[i]:offsets[i+1]] —
    zero-copy int32 offsets over the one buffer (plain byte strings past
    2 GiB, where int32 offsets overflow)."""
    import pyarrow as pa

    n = offsets.size - 1
    if len(buf) > 0x7FFFFFFF:
        mv = memoryview(buf)
        return pa.array(
            [mv[offsets[i]:offsets[i + 1]].tobytes() for i in range(n)],
            pa.binary(),
        )
    return pa.Array.from_buffers(
        pa.binary(), n,
        [None, pa.py_buffer(offsets.astype(np.int32).tobytes()), pa.py_buffer(buf)],
    )


# ------------------------------------------------------------- pos lists ----

def _position_gaps(positions_flat: np.ndarray, tfs: np.ndarray) -> np.ndarray:
    """Doc-major positions → gaps restarting at each doc (first gap of a doc
    = its absolute first position)."""
    p = np.ascontiguousarray(positions_flat, dtype=np.int64)
    gaps = np.diff(p, prepend=np.int64(0))
    doc_starts = np.concatenate(([0], np.cumsum(tfs)[:-1])).astype(np.int64)
    gaps[doc_starts] = p[doc_starts]  # restart per doc
    return gaps.astype(np.uint64)


def encode_positions(positions_flat: np.ndarray, tfs: np.ndarray) -> bytes:
    """Encode doc-major flattened position lists as per-doc position gaps.

    positions_flat: ascending positions per doc, concatenated in doc order;
    tfs: number of positions per doc. Gap restarts at each doc (first gap =
    absolute first position).
    """
    if np.size(positions_flat) == 0:
        return b""
    return varint_encode(_position_gaps(positions_flat, tfs))


def encode_positions_column(positions_flat: np.ndarray, tfs: np.ndarray):
    """encode_positions of every doc separately, as an Arrow binary column
    (one value per doc) cut from ONE batch-wide encode: gaps restart per doc,
    so any contiguous run of docs' values is a single buffer slice."""
    tfs = np.asarray(tfs, dtype=np.int64)
    if np.size(positions_flat) == 0:
        return _binary_array(b"", np.zeros(tfs.size + 1, dtype=np.int64))
    buf, nb = varint_encode_with_lengths(_position_gaps(positions_flat, tfs))
    value_offs = np.concatenate(([0], np.cumsum(nb)))
    return _binary_array(buf, value_offs[np.concatenate(([0], np.cumsum(tfs)))])


def decode_positions(buf, tfs: np.ndarray) -> np.ndarray:
    """Inverse of encode_positions → flat int64 positions (doc-major).

    Per-doc cumulative sums computed as one global cumsum minus the running
    total at each doc's start (vectorized segment-cumsum trick).
    """
    gaps = varint_decode(buf).astype(np.int64)
    if gaps.size == 0:
        return gaps
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    cs = np.cumsum(gaps)
    doc_starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
    base = np.zeros(len(tfs), dtype=np.int64)
    if len(tfs) > 1:
        base[1:] = cs[doc_starts[1:] - 1]
    return cs - np.repeat(base, tfs)


# ---------------------------------------------------------------- blocks ----

def encode_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    positions_flat: np.ndarray | None,
    avgdl: float,
    idf_val: float,
    block_size: int = DEFAULT_BLOCK_SIZE,
) -> list[dict]:
    """Split one term's doc-sorted postings into independently-decodable blocks.

    Returns a list of dicts matching the FIXTURES.md §5 postings schema
    (minus term_id/block_no, which the caller assigns).
    """
    from blacklab_spark.scoring import bm25_upper_bound

    doc_ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    dls = np.ascontiguousarray(dls, dtype=np.int64)
    n = doc_ids.size
    blocks = []
    pos_offsets = None
    if positions_flat is not None:
        pos_offsets = np.concatenate(([0], np.cumsum(tfs))).astype(np.int64)
    for s in range(0, n, block_size):
        e = min(s + block_size, n)
        d = doc_ids[s:e]
        t = tfs[s:e]
        l = dls[s:e]
        gaps = np.diff(d, prepend=d[0]).astype(np.uint64)  # first gap = 0
        if positions_flat is not None:
            pf = positions_flat[pos_offsets[s]:pos_offsets[e]]
            pos_bytes = encode_positions(np.asarray(pf), t)
        else:
            pos_bytes = b""
        blocks.append({
            "first_doc_id": int(d[0]),
            "last_doc_id": int(d[-1]),
            "num_docs": int(e - s),
            "doc_gaps": varint_encode(gaps),
            "tfs": varint_encode(t.astype(np.uint64)),
            "dls": varint_encode(l.astype(np.uint64)),
            "positions": pos_bytes,
            "block_max_tf": int(t.max()),
            "block_max_score": bm25_upper_bound(t, l, avgdl, idf_val),
        })
    return blocks


def decode_block(block: dict) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode one block → (doc_ids int64, tfs int64, dls int64)."""
    gaps = varint_decode(block["doc_gaps"]).astype(np.int64)
    doc_ids = np.cumsum(gaps) + np.int64(block["first_doc_id"])
    tfs = varint_decode(block["tfs"]).astype(np.int64)
    dls = varint_decode(block["dls"]).astype(np.int64)
    return doc_ids, tfs, dls


def decode_block_positions(block: dict) -> np.ndarray:
    """Decode a block's flat doc-major positions array."""
    tfs = varint_decode(block["tfs"]).astype(np.int64)
    return decode_positions(block["positions"], tfs)


# --------------------------------------------------------- block batches ----

def encode_block_batch(
    group_offsets: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    positions,
    idf: np.ndarray,
    avgdl: float,
    block_size: int = DEFAULT_BLOCK_SIZE,
):
    """Encode G groups of postings into posting blocks in one batch.

    Group g is rows group_offsets[g]:group_offsets[g+1] of the flat doc-sorted
    columns — one term's postings (or one salt range of them). `positions` is
    a binary column holding each posting's encode_positions bytes (what
    encode_positions_column writes); `idf` is the per-group idf.

    Every group is split exactly like encode_blocks splits it, and every
    emitted byte and float equals encode_blocks' output: varints are
    per-value, gap restarts land on block starts, and block_max_score keeps
    scoring.bm25's op order elementwise before the max.

    Returns (block_group, block_in_group, columns): each block's group and
    its index within the group, so the caller can assign term_id/block_no,
    and an Arrow array per block field first_doc_id … block_max_score.
    """
    import pyarrow as pa

    from blacklab_spark.scoring import bm25

    loffs = np.asarray(group_offsets, dtype=np.int64)
    d = np.asarray(doc_ids, dtype=np.int64)
    n = int(loffs[-1]) if loffs.size else 0
    gstart = loffs[:-1]
    gsize = np.diff(loffs)
    # block starts: every block_size-th row within its group
    off_in_g = np.arange(n, dtype=np.int64) - np.repeat(gstart, gsize)
    bstarts = np.flatnonzero(off_in_g % block_size == 0)
    bnd = np.concatenate((bstarts, [n])).astype(np.int64)
    bends = bnd[1:]
    block_group = np.searchsorted(gstart, bstarts, side="right") - 1
    # doc gaps restarting (=0) at every block start
    gaps = np.zeros(n, dtype=np.int64)
    np.subtract(d[1:], d[:-1], out=gaps[1:])
    gaps[bstarts] = 0

    def varint_column(values):
        buf, nb = varint_encode_with_lengths(values.astype(np.uint64))
        return _binary_array(buf, np.concatenate(([0], np.cumsum(nb)))[bnd])

    pos_data, pos_offs = _binary_buffers(positions)
    scores = bm25(tfs, dls, avgdl, np.repeat(np.asarray(idf, dtype=np.float64), gsize))
    columns = {
        "first_doc_id": pa.array(d[bstarts], pa.int64()),
        "last_doc_id": pa.array(d[bends - 1], pa.int64()),
        "num_docs": pa.array((bends - bstarts).astype(np.int32), pa.int32()),
        "doc_gaps": varint_column(gaps),
        "tfs": varint_column(np.asarray(tfs)),
        "dls": varint_column(np.asarray(dls)),
        "positions": _binary_array(pos_data, pos_offs[bnd]),
        "block_max_tf": pa.array(
            np.maximum.reduceat(np.asarray(tfs), bstarts).astype(np.int32), pa.int32()
        ),
        "block_max_score": pa.array(np.maximum.reduceat(scores, bstarts), pa.float64()),
    }
    return block_group, off_in_g[bstarts] // block_size, columns


class Postings(NamedTuple):
    """Flat postings decoded from a batch of blocks, in block order."""

    block: np.ndarray  # int64 index of each posting's source block
    doc_ids: np.ndarray  # int64
    tfs: np.ndarray  # int64
    dls: np.ndarray  # int64
    positions: np.ndarray | None  # int64 doc-major; posting i owns tfs[i]


def decode_blocks(first_doc_ids, doc_gaps, tfs, dls, positions=None) -> Postings:
    """Decode N blocks at once — the batch inverse of encode_block_batch and
    the one query-side decode kernel.

    Columns are per block: first_doc_ids an int sequence, the rest binary
    columns (Arrow arrays or sequences of bytes). The result equals
    concatenating decode_block (and decode_block_positions when `positions`
    is given) over the blocks in order."""
    gbuf, goffs = _binary_buffers(doc_gaps)
    gaps = varint_decode(gbuf).astype(np.int64)
    # values per block: varint terminators (high bit clear) in its byte range
    ends = np.flatnonzero(gbuf < 0x80)
    per_block = np.diff(np.searchsorted(ends, goffs))
    block = np.repeat(np.arange(per_block.size, dtype=np.int64), per_block)
    # per-block cumsum of the gaps = global cumsum minus the total before
    # the block's first posting
    cs = np.cumsum(gaps)
    first_idx = np.repeat(np.cumsum(per_block) - per_block, per_block)
    first = np.asarray(first_doc_ids, dtype=np.int64)
    doc_ids = cs - (cs - gaps)[first_idx] + first[block]
    tf = varint_decode(_binary_buffers(tfs)[0]).astype(np.int64)
    dl = varint_decode(_binary_buffers(dls)[0]).astype(np.int64)
    pos = None
    if positions is not None:
        pos = decode_positions(_binary_buffers(positions)[0], tf)
    return Postings(block, doc_ids, tf, dl, pos)
