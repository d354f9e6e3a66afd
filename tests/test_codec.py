import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from pears_lite_spark.index import codec

from .oracle import decode_block_positions


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=60, deadline=None)
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    assert np.array_equal(codec.varint_decode(codec.varint_encode(arr),
                                              len(values)), arr)


def test_varint_edge_values():
    edges = np.array([0, 1, 127, 128, 16383, 16384, 2**32, 2**63 - 1,
                      2**64 - 1], dtype=np.uint64)
    assert np.array_equal(codec.varint_decode(codec.varint_encode(edges)),
                          edges)


def test_varint_decode_checks_count_on_empty_buffer():
    """An empty stream holds 0 values: asked for more, it raises as a
    short non-empty stream does; asked for None or 0, it decodes to []."""
    for buf in (b"", b"\x01"):
        with pytest.raises(ValueError, match="expected 5"):
            codec.varint_decode(buf, 5)
    assert codec.varint_decode(b"").size == 0
    assert codec.varint_decode(b"", 0).size == 0


@given(st.integers(min_value=1, max_value=500), st.integers(0, 2**31))
@settings(max_examples=25, deadline=None)
def test_postings_roundtrip(n, seed):
    rng = np.random.default_rng(seed)
    docs = np.sort(rng.choice(10**7, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 100, n)
    dls = rng.integers(1, 1000, n)
    poss = [np.sort(rng.choice(10000, size=min(int(t), 50), replace=False))
            for t in tfs]
    avgdl = 123.45
    blocks = codec.encode_postings(docs, tfs, dls, avgdl, positions=poss,
                                   block_size=64)
    i = 0
    for b in blocks:
        assert np.array_equal(codec.decode_block_docs(b.docs, b.n),
                              docs[i:i + b.n])
        assert np.array_equal(codec.decode_block_tfs(b.tfs, b.n),
                              tfs[i:i + b.n])
        got_pos = decode_block_positions(b.positions, b.n)
        for j in range(b.n):
            assert np.array_equal(got_pos[j], poss[i + j])
        imp = codec.bm25_impact(tfs[i:i + b.n], dls[i:i + b.n], avgdl)
        assert b.max_impact == pytest.approx(imp.max(), abs=1e-15)
        assert b.first_doc == docs[i] and b.last_doc == docs[i + b.n - 1]
        i += b.n
    assert i == n


@pytest.mark.parametrize("seed", [0, 1])
def test_decode_blocks_matches_reference(seed):
    """The batch decoder over an Arrow slice of many terms' blocks
    (hashed-style doc_ids of both signs) gives the reference decoder's
    postings and positions, flattened in block order."""
    import pyarrow as pa
    rng = np.random.default_rng(seed)
    rows, want = [], []
    for term in range(-2, 4):
        n = int(rng.integers(1, 300))
        docs = np.sort(rng.choice(np.arange(-2**62, 2**62, 2**50,
                                            dtype=np.int64), n, replace=False))
        tfs = rng.integers(1, 6, n)
        dls = rng.integers(5, 50, n)
        poss = [np.sort(rng.choice(60, t, replace=False)) for t in tfs]
        for b in codec.encode_postings(docs, tfs, dls, 20.0, positions=poss):
            lo = b.block_id * codec.BLOCK_SIZE
            dl = codec.varint_encode(dls[lo:lo + b.n].astype(np.uint64))
            rows.append((term, b.n, b.docs, b.tfs, dl, b.positions))
            want.append((np.full(b.n, term), docs[lo:lo + b.n],
                         tfs[lo:lo + b.n], dls[lo:lo + b.n],
                         np.concatenate(poss[lo:lo + b.n])))
    rb = pa.RecordBatch.from_arrays(
        [pa.array([r[i] for r in rows]) for i in range(6)],
        names=["term_id", "n", "docs", "tfs", "dls", "positions"]).slice(1)
    got = codec.decode_blocks(rb, positions=True)
    for g, w in zip(got, zip(*want[1:])):
        assert np.array_equal(g, np.concatenate(w))
    assert codec.decode_blocks(rb)[4] is None


def test_decode_blocks_positions_of_positionless_blocks_raises():
    """Blocks written without positions (null `positions`) decode their
    postings, and asking them for positions is a ValueError, not an
    IndexError from the count-slot mask."""
    import pyarrow as pa
    docs, tfs, dls = np.array([3, 9, 40]), np.array([1, 2, 1]), \
        np.array([5, 8, 6])
    b = codec.encode_postings(docs, tfs, dls, 6.0)[0]
    rb = pa.RecordBatch.from_arrays(
        [pa.array([7]), pa.array([b.n]), pa.array([b.docs]),
         pa.array([b.tfs]),
         pa.array([codec.varint_encode(dls.astype(np.uint64))]),
         pa.array([None], pa.binary())],
        names=["term_id", "n", "docs", "tfs", "dls", "positions"])
    assert np.array_equal(codec.decode_blocks(rb)[1], docs)
    with pytest.raises(ValueError, match="held 0 values"):
        codec.decode_blocks(rb, positions=True)


def test_blockmax_upper_bounds_scores():
    """block-max must upper-bound every contained posting's impact."""
    rng = np.random.default_rng(7)
    docs = np.sort(rng.choice(10**6, 1000, replace=False))
    tfs = rng.integers(1, 20, 1000)
    dls = rng.integers(10, 500, 1000)
    blocks = codec.encode_postings(docs, tfs, dls, 100.0)
    i = 0
    for b in blocks:
        imps = codec.bm25_impact(tfs[i:i + b.n], dls[i:i + b.n], 100.0)
        assert (imps <= b.max_impact + 1e-15).all()
        i += b.n


def test_negative_doc_ids():
    """xxhash64 doc ids are signed; codec must handle negatives."""
    docs = np.array([-9_000_000_000_000_000_000, -5, 0, 7,
                     8_000_000_000_000_000_000], dtype=np.int64)
    tfs = np.array([1, 2, 3, 4, 5])
    dls = np.array([10, 10, 10, 10, 10])
    blocks = codec.encode_postings(docs, tfs, dls, 10.0, block_size=2)
    got = np.concatenate([codec.decode_block_docs(b.docs, b.n)
                          for b in blocks])
    assert np.array_equal(got, docs)


def test_wide_gap_doc_ids_no_overflow_false_positive():
    """Neighboring xxhash64 ids can differ by > 2^63; np.diff wraps but
    encode/decode must stay consistent and the sort check must not
    false-trigger (regression for an int64-overflow bug)."""
    docs = np.array([-9_000_000_000_000_000_000, 8_900_000_000_000_000_000],
                    dtype=np.int64)
    tfs = np.array([2, 3])
    dls = np.array([10, 20])
    poss = (tfs, np.array([1, 5, 2, 4, 9], dtype=np.int64))
    blocks = codec.encode_postings(docs, tfs, dls, 15.0, positions=poss,
                                   block_size=128)
    assert len(blocks) == 1
    b = blocks[0]
    assert np.array_equal(codec.decode_block_docs(b.docs, 2), docs)
    assert np.array_equal(codec.decode_block_tfs(b.tfs, 2), tfs)
    got = decode_block_positions(b.positions, 2)
    assert np.array_equal(got[0], [1, 5]) and np.array_equal(got[1], [2, 4, 9])
