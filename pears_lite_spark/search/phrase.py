"""Positional phrase scoring over the block index (C6 at scale).

The reference's `posix()` loads the whole pickled positional index per
query and intersects python dicts (`/root/reference/app/search/
overlap_calculation.py:124-154`). Here the positions already live
delta+varint-encoded inside the posting blocks, so phrase scoring has
the shape of `bm25.search_blocks`: a term_id IN filter prunes the scan
to the query pieces' blocks (Parquet row-group statistics), the scan is
repartitioned by doc_range (every doc's postings land in one
partition), and one mapInArrow kernel decodes each batch with
`codec.decode_blocks` and scores every candidate doc at once by the
reference's subword-adjacency rule (`parity.phrase_adjacency_score`).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

from ..index import codec
from ..xxh64 import xxh64_signed
from .bm25 import _BLOCK_COLS
from .parity import group_subwords


def _phrase_factory(words: list[list[int]]):
    """The phrase kernel for mapInArrow over blocks whose doc_ranges lie
    wholly in one partition; `words` are the query words as their
    pieces' term_ids.

    The candidates are the docs that hold every distinct piece. A word
    matches a doc iff, for one start s, each of its pieces i occurs at
    s + i: one intersect per piece of the occurrence keys (doc, pos - i),
    the doc ordinal scaled past every position so that no key aliases
    across docs. The score is the matched fraction of words. One doc's
    postings of one piece in several parts (a multi-part index) count
    as one posting: their positions are unioned, as `search_blocks`
    sums a doc's postings across parts."""
    tids = np.unique([t for w in words for t in w]).astype(np.int64)
    span = max(map(len, words), default=0)

    def kernel(batches):
        flat = []
        for rb in batches:
            if rb.column("positions").null_count:
                raise ValueError("phrase scoring needs an index built "
                                 "with positions")
            flat.append(codec.decode_blocks(rb, positions=True))
        if not flat:
            return
        tid, doc, tf, _, pos = (np.concatenate(c) for c in zip(*flat))
        ud, ordn = np.unique(doc, return_inverse=True)
        held = np.unique(ordn * tids.size + np.searchsorted(tids, tid))
        cand = np.bincount(held // tids.size, minlength=ud.size) == tids.size
        stride = int(pos.max(initial=0)) + span + 1
        key = np.repeat(ordn * stride + span, tf) + pos
        occ = np.repeat(tid, tf)
        matched = np.zeros(ud.size)
        for w in words:
            starts = key[occ == w[0]]
            for i, t in enumerate(w[1:], 1):
                starts = np.intersect1d(starts, key[occ == t] - i)
            matched[np.unique(starts // stride)] += 1
        yield pa.RecordBatch.from_arrays(
            [pa.array(ud[cand]), pa.array(matched[cand] / len(words))],
            names=["doc_id", "phrase_score"])

    return kernel


def phrase_scores_from_index(postings: DataFrame,
                             query_pieces: list[str]) -> DataFrame:
    """(doc_id, phrase_score) for docs containing every query piece
    (the reference's candidate intersection, J1) scored by the C6
    consecutive-positions rule. The index must hold positions: a
    positionless one fails the scoring job with a ValueError."""
    words = [[xxh64_signed(p) for p in w]
             for w in group_subwords(query_pieces)]
    tids = sorted({t for w in words for t in w})
    return (postings.filter(F.col("term_id").isin(tids))
            .repartition("doc_range").select(*_BLOCK_COLS, "positions")
            .mapInArrow(_phrase_factory(words),
                        "doc_id long, phrase_score double"))
