"""Python sub-layer probes, run single-threaded in the harness process.

The event log sees only JVM time for the Python stages of a build, so
extraction, SentencePiece tokenization and the postings codec are timed
by calling their public functions on a fixed seeded sample. Each probe
reports the median of three repetitions.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

REPS = 3


def _median_rate(fn, work: float) -> float:
    rates = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        rates.append(work / (time.perf_counter() - t0))
    return statistics.median(rates)


def extract_probe(htmls: list[bytes]) -> dict:
    from pears_lite_spark.functions.extract import extract_html
    kept = sum(1 for h in htmls if extract_html(h)[1])
    rate = _median_rate(lambda: [extract_html(h) for h in htmls], len(htmls))
    return {"extract.docs_per_s": rate,
            "extract.kept_frac": kept / len(htmls)}


def vocab_probe(texts: list[str]) -> dict:
    """Tokens per second from a fresh Vocab (empty word cache), as a
    worker process sees its first batches."""
    from pears_lite_spark.vocab import Vocab, get_vocab
    n_tokens = sum(len(get_vocab().encode_as_pieces(t)) for t in texts)
    pieces = get_vocab().pieces
    rates = []
    for _ in range(REPS):
        v = Vocab(pieces)
        t0 = time.perf_counter()
        for t in texts:
            v.encode_as_pieces(t)
        rates.append(n_tokens / (time.perf_counter() - t0))
    return {"vocab.tokens_per_s": statistics.median(rates)}


def codec_probe(seed: int, n_terms: int = 200) -> dict:
    """Encode and decode postings lists shaped like the index's: doc
    gaps from a geometric law, tf >= 1, doc lengths around 350. A
    posting encodes two values, its doc-id delta and its tf."""
    from pears_lite_spark.index import codec
    rng = np.random.default_rng(seed)
    lists = []
    for _ in range(n_terms):
        n = int(rng.integers(20, 2000))
        docs = np.cumsum(rng.geometric(0.05, n)).astype(np.int64)
        tfs = rng.geometric(0.5, n).astype(np.int64)
        dls = rng.integers(150, 600, n).astype(np.int64)
        lists.append((docs, tfs, dls))
    n_post = sum(d.size for d, _, _ in lists)
    blocks = [b for d, t, l in lists
              for b in codec.encode_postings(d, t, l, 350.0)]
    n_bytes = sum(len(b.docs) + len(b.tfs) for b in blocks)

    def encode():
        for d, t, l in lists:
            codec.encode_postings(d, t, l, 350.0)

    def decode():
        for b in blocks:
            codec.decode_block_docs(b.docs, b.n)
            codec.decode_block_tfs(b.tfs, b.n)

    return {"codec.encode_values_per_s": _median_rate(encode, 2 * n_post),
            "codec.decode_postings_per_s": _median_rate(decode, n_post),
            "codec.bytes_per_posting": n_bytes / n_post}


def probe_all(corpus_dir: str, seed: int, n_docs: int = 300) -> dict:
    import pyarrow.parquet as pq
    tbl = pq.read_table(corpus_dir, columns=["html", "text"]).slice(0, n_docs)
    htmls = tbl.column("html").to_pylist()
    texts = [t for t in tbl.column("text").to_pylist() if t]
    return {**extract_probe(htmls), **vocab_probe(texts), **codec_probe(seed)}
