"""Seeded benchmark inputs and their expected answers.

The corpus comes from `corpus.write_corpus_parquet(seed=...)`, the
queries from `corpus.gen_query_set` tokenized into SentencePiece
pieces, and the expected top-k from an independent single-process
BM25 over each page's text as `functions.extract.extract_html` gives
it. Extraction is the one program function the answers rest on: the
tier-1 suite pins it to the reference jusText rules. The generator's
own `text` column gave the same pieces on all but 1 of 296,000 pages
over 40 seeds: a German page whose only paragraph jusText rejects.
All of it is input, not program output, so it is cached on disk keyed
by (docs, files, seed).
"""

from __future__ import annotations

import json
import math
import os
import shutil
from collections import Counter
from dataclasses import dataclass

import numpy as np

K = 10
K1, B = 1.2, 0.75
SCORE_TOL = 1e-6


@dataclass
class Inputs:
    corpus_dir: str
    files: list[str]          # parquet files of the corpus, in order
    n_rows: int               # corpus rows (pages)
    n_docs: int               # pages with extractable text
    queries: list[list[str]]  # query pieces, OOV-only queries dropped
    expected: list[list[tuple[int, float]]]
    tokens_path: str          # (doc_id, tokens) parquet of the oracle docs


def bm25_oracle(doc_tokens: dict[int, list[str]], queries: list[list[str]],
                k: int = K) -> list[list[tuple[int, float]]]:
    """Exhaustive BM25 top-k, ties broken by ascending doc_id; the same
    formula as the tier-1 oracle, vectorized over a term -> postings map."""
    ids = np.array(sorted(doc_tokens), dtype=np.int64)
    dl = np.array([len(doc_tokens[d]) for d in ids], dtype=np.float64)
    n = ids.size
    avgdl = float(dl.mean()) if n else 0.0
    post: dict[str, tuple[list[int], list[int]]] = {}
    for i, d in enumerate(ids):
        for t, tf in Counter(doc_tokens[int(d)]).items():
            e = post.setdefault(t, ([], []))
            e[0].append(i)
            e[1].append(tf)
    out = []
    for q in queries:
        scores = np.zeros(n)
        hit = np.zeros(n, dtype=bool)
        for t in sorted(set(q)):
            if t not in post:
                continue
            idx = np.array(post[t][0])
            tf = np.array(post[t][1], dtype=np.float64)
            df = idx.size
            idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
            scores[idx] += idf * tf / (tf + K1 * (1 - B + B * dl[idx] / avgdl))
            hit[idx] = True
        cand = np.flatnonzero(hit)
        order = np.lexsort((ids[cand], -scores[cand]))[:k]
        out.append([(int(ids[cand[j]]), float(scores[cand[j]])) for j in order])
    return out


def topk_mismatch(got: list[tuple[int, float]], exp: list[tuple[int, float]],
                  tol: float = SCORE_TOL) -> str | None:
    """None when `got` is rank-identical to `exp` with scores within
    `tol`; docs may swap only inside a group of tied scores."""
    if len(got) != len(exp):
        return f"length {len(got)} != {len(exp)}"
    for i, ((_, sg), (_, se)) in enumerate(zip(got, exp)):
        if abs(sg - se) > tol * max(1.0, abs(se)):
            return f"rank {i}: score {sg!r} != {se!r}"
    i = 0
    while i < len(exp):
        j = i
        while j + 1 < len(exp) and abs(exp[j + 1][1] - exp[i][1]) <= tol:
            j += 1
        tie_cut = j == len(exp) - 1 and j > i  # a tie may run past k
        if not tie_cut and {d for d, _ in got[i:j + 1]} != \
                {d for d, _ in exp[i:j + 1]}:
            return f"ranks {i}-{j}: docs {got[i:j + 1]} != {exp[i:j + 1]}"
        i = j + 1
    return None


def check_all(name: str, got: list, exp: list, failures: list[str]) -> None:
    for qi, (g, e) in enumerate(zip(got, exp)):
        why = topk_mismatch(g, e)
        if why:
            failures.append(f"{name} query {qi}: {why}")
    if len(got) != len(exp):
        failures.append(f"{name}: {len(got)} results for {len(exp)} queries")


def load(cache_root: str, n_docs: int, n_files: int, seed: int) -> Inputs:
    """Generate (or reuse) the corpus, queries and expected top-k."""
    from pears_lite_spark.corpus import gen_query_set, write_corpus_parquet
    key = f"d{n_docs}_f{n_files}_s{seed}"
    base = os.path.join(cache_root, key)
    meta_path = os.path.join(base, "inputs.json")
    if not os.path.exists(meta_path):
        tmp = f"{base}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        write_corpus_parquet(os.path.join(tmp, "corpus"), n_docs, seed=seed,
                             docs_per_file=-(-n_docs // n_files))
        _write_answers(tmp, seed, gen_query_set)
        shutil.rmtree(base, ignore_errors=True)
        os.replace(tmp, base)
    with open(meta_path) as fh:
        meta = json.load(fh)
    cdir = os.path.join(base, "corpus")
    return Inputs(
        corpus_dir=cdir,
        files=[os.path.join(cdir, f) for f in sorted(os.listdir(cdir))],
        n_rows=meta["n_rows"], n_docs=meta["n_docs"],
        queries=meta["queries"],
        expected=[[(int(d), float(s)) for d, s in r] for r in meta["expected"]],
        tokens_path=os.path.join(base, "tokens.parquet"))


def _write_answers(base: str, seed: int, gen_query_set) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pears_lite_spark.functions.extract import extract_html
    from pears_lite_spark.vocab import get_vocab
    from pears_lite_spark.xxh64 import xxh64_signed
    tbl = pq.read_table(os.path.join(base, "corpus"),
                        columns=["url", "html", "text", "lang"])
    pdf = tbl.to_pandas()
    vocab = get_vocab()
    pieces = ((xxh64_signed(u), vocab.encode_as_pieces(extract_html(h)[1]))
              for u, h in zip(pdf["url"], pdf["html"]))
    docs = {d: p for d, p in pieces if p}
    queries = [vocab.encode_as_pieces(q)
               for q in gen_query_set(pdf, seed=seed)]
    queries = [q for q in queries if q]
    pq.write_table(pa.table({"doc_id": pa.array(list(docs), pa.int64()),
                             "tokens": pa.array(list(docs.values()),
                                                pa.list_(pa.string()))}),
                   os.path.join(base, "tokens.parquet"))
    with open(os.path.join(base, "inputs.json"), "w") as fh:
        json.dump({"n_rows": len(pdf), "n_docs": len(docs),
                   "queries": queries,
                   "expected": bm25_oracle(docs, queries)}, fh)


def score_index(path: str, queries: list[list[str]],
                k: int = K) -> list[list[tuple[int, float]]]:
    """BM25 top-k read straight from an index directory's parquet files
    (single-segment or multi-part) with the postings codec: a check of
    the written bytes that runs no Spark serving code."""
    import pyarrow.dataset as ds
    from pears_lite_spark.index import codec
    from pears_lite_spark.xxh64 import xxh64_signed
    with open(os.path.join(path, "_stats.json")) as fh:
        st = json.load(fh)
    n_docs, avgdl = st["n_docs"], st["avgdl"]
    tids = sorted({xxh64_signed(t) for q in queries for t in q})
    tbl = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["term_id", "n", "docs", "tfs", "dls"],
        filter=ds.field("term_id").isin(tids)).to_pydict()
    post: dict[int, list[tuple]] = {}
    for tid, n, d, t, l in zip(tbl["term_id"], tbl["n"], tbl["docs"],
                               tbl["tfs"], tbl["dls"]):
        post.setdefault(tid, []).append((
            codec.decode_block_docs(d, n), codec.decode_block_tfs(t, n),
            codec.varint_decode(l, n).astype(np.float64)))
    out = []
    for q in queries:
        scores: dict[int, float] = {}
        for t in sorted(set(q)):
            blocks = post.get(xxh64_signed(t), [])
            df = sum(b[0].size for b in blocks)
            if not df:
                continue
            idf = math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)
            for docs, tfs, dls in blocks:
                tf = tfs.astype(np.float64)
                part = idf * tf / (tf + K1 * (1 - B + B * dls / avgdl))
                for d, s in zip(docs.tolist(), part.tolist()):
                    scores[d] = scores.get(d, 0.0) + s
        out.append(sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k])
    return out
