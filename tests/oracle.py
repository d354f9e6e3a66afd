"""Single-process numpy BM25 oracle — the frozen ground truth for
rank-identity tests (SURVEY.md §5: the reference ships no tests, so
this oracle defines the semantics the engine must match)."""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa

from pears_lite_spark.index import codec


def bm25_topk_oracle(doc_tokens: dict[int, list[str]],
                     query_terms: list[str], k: int,
                     k1: float = 1.2, b: float = 0.75) -> list[tuple[int, float]]:
    n = len(doc_tokens)
    dls = {d: len(t) for d, t in doc_tokens.items()}
    avgdl = sum(dls.values()) / n if n else 0.0
    qterms = sorted(set(query_terms))
    tfs = {d: Counter(t) for d, t in doc_tokens.items()}
    scores: dict[int, float] = {}
    for t in qterms:
        df = sum(1 for d in doc_tokens if tfs[d][t] > 0)
        if df == 0:
            continue
        idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
        for d in doc_tokens:
            tf = tfs[d][t]
            if tf:
                scores[d] = scores.get(d, 0.0) + idf * tf / (
                    tf + k1 * (1 - b + b * dls[d] / avgdl))
    out = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return out


# ------------------------------------------------ block decode references

_BLOCK_COLS = ["term_id", "n", "docs", "tfs", "dls", "positions"]


def decode_block_positions(pos: bytes, n: int) -> list[np.ndarray]:
    """The per-doc position lists of one block, decoded one posting at
    a time: the reference `codec.encode_postings`' round trips are
    checked against."""
    vals = codec.varint_decode(pos).astype(np.int64)
    out: list[np.ndarray] = []
    i = 0
    for _ in range(n):
        npos = int(vals[i])
        out.append(np.cumsum(vals[i + 1: i + 1 + npos]))
        i += 1 + npos
    return out


def decoded_postings(blocks: pd.DataFrame) -> list[tuple]:
    """(term_id, doc_id, tf, dl, positions list) per posting of a pandas
    frame of posting-table rows, in row order, through the engine's one
    batch decoder `codec.decode_blocks`."""
    rb = pa.RecordBatch.from_pandas(
        blocks[_BLOCK_COLS].reset_index(drop=True), preserve_index=False)
    tid, doc, tf, dl, pos = codec.decode_blocks(rb, positions=True)
    poss = np.split(pos, np.cumsum(tf)[:-1]) if tf.size else []
    return list(zip(tid.tolist(), doc.tolist(), tf.tolist(), dl.tolist(),
                    [p.tolist() for p in poss]))
