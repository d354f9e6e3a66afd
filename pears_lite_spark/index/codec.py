"""Delta + varint block codec for posting lists, with block-max metadata.

The reference (PeARS-lite) stores posting lists as joblib-pickled Python
dicts of pipe-delimited position strings (`/root/reference/app/indexer/
posix.py:5-28`) — O(index) rewrite per document and no compression. This
module replaces that with the standard IR layout used by block-max WAND
engines (Ding & Suel, "Faster Top-k Document Retrieval Using Block-Max
Indexes", SIGIR 2011):

- postings for one term are sorted by doc_id and chunked into blocks of
  ``BLOCK_SIZE`` docs;
- doc_ids are delta-encoded (strictly increasing -> gaps >= 1, stored as
  ``gap - 1``) then LEB128-varint encoded;
- term frequencies are varint encoded as ``tf - 1``;
- positions (optional) are stored per doc as ``[npos, delta positions...]``
  varint streams;
- each block carries ``max_impact`` = max over its docs of the BM25
  tf-normalization term  tf / (tf + k1*(1-b + b*dl/avgdl)),  so that
  ``idf * max_impact`` upper-bounds any score contribution from the block
  (the block-max bound used for pruning).

All encode/decode paths are numpy-vectorized (no per-element Python in
the varint kernels). Every Spark-side reader of the block format goes
through `decode_blocks` (a whole Arrow batch of blocks at once) and
every reader of a binary Arrow column through `blob`. The per-block
`encode_postings` and its `decode_block_docs` / `decode_block_tfs`
readers are the reference the tests and the benchmark use; the
per-block positions reader lives with the tests (`tests/oracle.py`).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

BLOCK_SIZE = 128
K1 = 1.2
B = 0.75

_U64 = np.uint64
_THRESH = np.array([1 << (7 * i) for i in range(1, 10)], dtype=np.uint64)


def varint_encode_with_lengths(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-encode a uint64 array, fully vectorized; also returns the
    per-value byte count (so callers can slice the stream into blocks
    without re-encoding).

    Flat formulation: byte widths via searchsorted against the 2^(7k)
    thresholds, then every output byte computed in one 1-D pass over
    the exact output length (value index per byte via np.repeat) — no
    (n, max_width) intermediate matrix, no boolean compaction. ~3x
    faster than the matrix form at mixed widths, and output-size-bound
    rather than n*max_width-bound."""
    v = np.ascontiguousarray(values, dtype=_U64)
    n = v.size
    if n == 0:
        return b"", np.empty(0, dtype=np.int64)
    nb = np.searchsorted(_THRESH, v, side="right").astype(np.int64) + 1
    cs = np.empty(n + 1, dtype=np.int64)
    cs[0] = 0
    np.cumsum(nb, out=cs[1:])
    total = int(cs[-1])
    idx = np.repeat(np.arange(n, dtype=np.int64), nb)  # value idx per byte
    bpos = (np.arange(total, dtype=np.int64) - cs[idx]).astype(_U64)
    out = ((v[idx] >> (_U64(7) * bpos)) & _U64(0x7F)).astype(np.uint8)
    out[bpos < (nb[idx] - 1).astype(_U64)] |= 0x80  # continuation bits
    return out.tobytes(), nb


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array, fully vectorized."""
    return varint_encode_with_lengths(values)[0]


def varint_decode(buf: bytes | np.ndarray, count: int | None = None) -> np.ndarray:
    """Decode a LEB128 byte stream into a uint64 array, vectorized."""
    b = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    if b.size == 0:
        if count:
            raise ValueError(f"varint stream held 0 values, expected {count}")
        return np.empty(0, dtype=_U64)
    ends = (b & 0x80) == 0
    gid = np.zeros(b.size, dtype=np.int64)
    gid[1:] = np.cumsum(ends[:-1])
    n = int(gid[-1]) + 1
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = np.flatnonzero(ends)[: n - 1] + 1
    pos = np.arange(b.size, dtype=np.int64) - starts[gid]
    out = np.zeros(n, dtype=_U64)
    np.bitwise_or.at(out, gid, (b & _U64(0x7F)).astype(_U64) << (_U64(7) * pos.astype(_U64)))
    if count is not None and n != count:
        raise ValueError(f"varint stream held {n} values, expected {count}")
    return out


@dataclass
class Block:
    """One encoded posting block (== one row of the postings table)."""

    block_id: int
    first_doc: int
    last_doc: int
    n: int
    max_impact: float
    docs: bytes  # varint(delta-1) stream, first value = first_doc raw
    tfs: bytes  # varint(tf-1) stream
    positions: bytes | None  # concat per doc: varint(npos), varint deltas


def bm25_impact(tf: np.ndarray, dl: np.ndarray, avgdl: float,
                k1: float = K1, b: float = B) -> np.ndarray:
    """tf / (tf + k1*(1 - b + b*dl/avgdl)) — the doc-side BM25 factor."""
    tf = tf.astype(np.float64)
    return tf / (tf + k1 * (1.0 - b + b * dl.astype(np.float64) / avgdl))


def encode_postings(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
                    avgdl: float,
                    positions: "list[np.ndarray] | tuple[np.ndarray, np.ndarray] | None" = None,
                    block_size: int = BLOCK_SIZE) -> list[Block]:
    """Chunk one term's postings (sorted by doc_id asc) into encoded
    blocks. `positions` is either a per-doc list of arrays or the flat
    form (lens, flat_sorted_positions) from the sort-based builder."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)
    pos_flat = pos_lens = pos_starts = None
    if isinstance(positions, tuple):
        pos_lens = np.asarray(positions[0], dtype=np.int64)
        pos_flat = np.asarray(positions[1], dtype=np.int64)
        pos_starts = np.zeros(pos_lens.size + 1, dtype=np.int64)
        np.cumsum(pos_lens, out=pos_starts[1:])
        positions = None
    # NB: monotonicity must be checked by element COMPARISON — np.diff
    # overflows int64 when neighboring xxhash64 ids are > 2^63 apart
    if doc_ids.size and np.any(doc_ids[1:] <= doc_ids[:-1]):
        if pos_lens is not None:
            raise ValueError("flat positions require pre-sorted doc_ids")
        order = np.argsort(doc_ids, kind="stable")
        doc_ids, tfs, dls = doc_ids[order], tfs[order], dls[order]
        if positions is not None:
            positions = [positions[i] for i in order]
    impacts = bm25_impact(tfs, dls, avgdl)
    blocks: list[Block] = []
    for bi, lo in enumerate(range(0, doc_ids.size, block_size)):
        hi = min(lo + block_size, doc_ids.size)
        d = doc_ids[lo:hi]
        deltas = np.empty(d.size, dtype=_U64)
        deltas[0] = d[0]
        deltas[1:] = (np.diff(d) - 1).astype(_U64)
        pos_bytes = None
        if positions is not None:
            pos_bytes = encode_positions(positions[lo:hi])
        elif pos_lens is not None:
            pos_bytes = encode_positions_flat(
                pos_lens[lo:hi], pos_flat[pos_starts[lo]:pos_starts[hi]])
        blocks.append(Block(
            block_id=bi,
            first_doc=int(d[0]),
            last_doc=int(d[-1]),
            n=int(d.size),
            max_impact=float(impacts[lo:hi].max()),
            docs=varint_encode(deltas),
            tfs=varint_encode((tfs[lo:hi] - 1).astype(_U64)),
            positions=pos_bytes,
        ))
    return blocks


def encode_positions_flat(lens: np.ndarray, flat: np.ndarray) -> bytes:
    """Encode per-doc position lists given as (run lengths, flattened
    sorted positions) as ONE varint stream
    [n_0, p_00, Δ…, n_1, p_10, Δ…, …] — a single vectorized varint call
    per block instead of one per posting."""
    lens = np.asarray(lens, dtype=np.int64)
    if not lens.size:
        return b""
    total = int(lens.sum())
    if total == 0:
        return varint_encode(np.zeros(lens.size, dtype=_U64))
    flat = np.asarray(flat, dtype=np.int64)
    deltas = flat.copy()
    deltas[1:] -= flat[:-1]
    starts = np.empty(lens.size, dtype=np.int64)
    starts[0] = 0
    np.cumsum(lens[:-1], out=starts[1:])
    nz = lens > 0
    deltas[starts[nz]] = flat[starts[nz]]  # first position raw per doc
    out = np.empty(lens.size + total, dtype=_U64)
    cnt_idx = np.arange(lens.size) + starts
    mask = np.ones(out.size, dtype=bool)
    mask[cnt_idx] = False
    out[cnt_idx] = lens.astype(_U64)
    out[mask] = deltas.astype(_U64)
    return varint_encode(out)


def encode_positions(pos_list: list[np.ndarray]) -> bytes:
    """List-of-arrays convenience wrapper over encode_positions_flat."""
    if not len(pos_list):
        return b""
    lens = np.fromiter((len(p) for p in pos_list), dtype=np.int64,
                       count=len(pos_list))
    flat = (np.concatenate([np.asarray(p, dtype=np.int64) for p in pos_list])
            if lens.sum() else np.empty(0, np.int64))
    return encode_positions_flat(lens, flat)


def blob(col: pa.Array) -> np.ndarray:
    """The bytes of a binary Arrow column, its values back to back
    (zero-copy; null values hold no bytes)."""
    offs_t = np.int64 if pa.types.is_large_binary(col.type) else np.int32
    _, offs, data = col.buffers()
    if data is None or not len(col):
        return np.empty(0, np.uint8)
    off = np.frombuffer(offs, offs_t)[col.offset:col.offset + len(col) + 1]
    return np.frombuffer(data, np.uint8)[off[0]:off[-1]]


def decode_blocks(rb: pa.RecordBatch, positions: bool = False):
    """One Arrow batch of blocks -> flat (term_id, doc_id, tf, dl) int64
    arrays, one entry per posting, and the positions flattened
    run-major (None unless asked for). A column's varint streams lie
    back to back in its data buffer, so each decodes in one pass over
    the whole batch; doc gaps are summed per block by one cumsum minus
    each block's base (int64 wraparound keeps that exact for hashed
    doc_ids). A positions stream is [tf, first, deltas...] per posting:
    the count slots sit at known offsets, so one mask drops them and
    one segmented cumsum restores the positions."""
    n = rb.column("n").to_numpy().astype(np.int64)
    total = int(n.sum())
    starts = np.cumsum(n) - n
    gaps = varint_decode(blob(rb.column("docs")), total).astype(np.int64)
    gaps += 1
    gaps[starts] -= 1  # a block's first value is its raw first doc_id
    cs = np.cumsum(gaps)
    docs = cs - np.repeat(cs[starts] - gaps[starts], n)
    tfs = varint_decode(blob(rb.column("tfs")), total).astype(np.int64) + 1
    dls = varint_decode(blob(rb.column("dls")), total).astype(np.int64)
    out = (np.repeat(rb.column("term_id").to_numpy(), n), docs, tfs, dls)
    if not positions:
        return out + (None,)
    r0 = np.cumsum(tfs) - tfs  # each posting's first position, flat
    vals = varint_decode(blob(rb.column("positions")),
                         total + int(tfs.sum())).astype(np.int64)
    keep = np.ones(vals.size, bool)
    keep[r0 + np.arange(total)] = False  # the count slots
    d = vals[keep]
    c = np.cumsum(d)
    return out + (c - np.repeat(c[r0] - d[r0], tfs),)


def decode_block_docs(docs: bytes, n: int) -> np.ndarray:
    deltas = varint_decode(docs, n).astype(np.int64)
    deltas[1:] += 1
    return np.cumsum(deltas)


def decode_block_tfs(tfs: bytes, n: int) -> np.ndarray:
    return varint_decode(tfs, n).astype(np.int64) + 1
