"""BM25 top-k scoring: exhaustive DataFrame path + block-index path.

The reference has no BM25 (its scoring is cosine+completeness+snippet+
positional — `/root/reference/app/search/score_pages.py:96-114`); the
north rule specifies BM25 (k1=1.2, b=0.75) with

    idf_t  = ln((N - df_t + 0.5) / (df_t + 0.5) + 1)
    s(q,d) = sum_t idf_t * tf / (tf + k1*(1 - b + b*dl/avgdl))

Two implementations, both returning (doc_id, score) with ties broken
doc_id ascending:

1. `bm25_scores` / `bm25_topk`: pure DataFrame algebra over
   (doc_id, tokens) — filter-early explode, two hash aggregates, one
   broadcast join. SQL-expressible, so it is DuckDB-oracle-checked by
   the driver and doubles as the pytest ground truth.

2. `search_blocks` / `Searcher`: the scale path over the
   block-compressed posting table (index/build.py). Both decode blocks
   with `codec.decode_blocks`.

   `search_blocks` prunes the scan to the query terms (a term_id IN
   filter, pushed to Parquet's row-group statistics; every index file
   is term-ordered), and one mapInArrow kernel
   (`_topk_factory`) runs over doc_range-partitioned blocks: it decodes
   each block once, weights the impacts by idf, sums them per doc and
   keeps a local top-k per query; a window rank then takes the global
   top-k. Every doc lives in exactly one doc_range, so the union of the
   local top-ks holds the global top-k. Multi-part indexes need no
   special case: a doc's postings from several parts sum in the same
   per-doc accumulate.

   `Searcher` opens a driver replica instead, in one Spark job (the
   same block decode, then `toArrow()`): per posting a dense int32 doc
   ordinal and the float64 contribution idf_t * impact, 12 B, plus
   per-term offsets and an ordinal -> doc_id array. Every `search`
   call, whatever its query count, runs in-process: gather the query
   terms' slices, sum per doc with one `np.bincount` over the ordinals,
   take the top-k. Ordinals follow doc_id order, so ties still break
   doc_id ascending, and each doc's contributions sum in the kernel's
   term order, so the scores equal `search_blocks`'.

The per-block `max_impact` metadata stays in the index format as the
block-max upper bound (Ding & Suel 2011); no scorer prunes with it yet.
"""

from __future__ import annotations

import math
from collections import namedtuple
from functools import lru_cache

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, Window, functions as F

from ..index import codec
from ..index.build import CorpusStats
from ..xxh64 import xxh64_signed

K1 = codec.K1
B = codec.B

# query term -> term_id, each distinct string hashed once per process
# (lru_cache is thread-safe)
_term_id = lru_cache(maxsize=1 << 16)(xxh64_signed)


def idf(n_docs: int, df: float) -> float:
    return math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)


# ---------------------------------------------------------------- exhaustive

def bm25_scores(tokens_df: DataFrame, query_terms: list[str],
                k1: float = K1, b: float = B) -> DataFrame:
    """All matching docs scored; pure DataFrame ops (oracle-checkable).

    tokens_df: (doc_id, tokens array<string>). Duplicate query terms are
    deduped (qtf=1). Filter on term happens BEFORE the tf aggregate so
    only query-term postings shuffle.
    """
    qterms = sorted(set(query_terms))
    tok = tokens_df.select("doc_id", F.size("tokens").alias("dl"),
                           F.explode("tokens").alias("term"))
    hits = tok.filter(F.col("term").isin(qterms))
    tf = hits.groupBy("doc_id", "term").agg(
        F.count("*").alias("tf"), F.first("dl").alias("dl"))
    stats = tokens_df.agg(
        F.count("*").alias("n_docs"),
        F.avg(F.size("tokens")).alias("avgdl"))
    dft = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (tf
              .join(F.broadcast(dft), "term")
              .crossJoin(F.broadcast(stats))
              .withColumn("idf", F.log(
                  (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0))
              .withColumn("part", F.col("idf") * F.col("tf") /
                          (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))))
    return scored.groupBy("doc_id").agg(F.sum("part").alias("score"))


def bm25_topk(tokens_df: DataFrame, query_terms: list[str], k: int = 10,
              k1: float = K1, b: float = B) -> DataFrame:
    return (bm25_scores(tokens_df, query_terms, k1, b)
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


# ---------------------------------------------------------- block-index path

# the block columns the scorer reads (positions and block metadata stay
# on disk)
_BLOCK_COLS = ["term_id", "doc_range", "n", "docs", "tfs", "dls"]
_SCORE_SCHEMA = "query_id int, doc_id long, score double"


def _decode_impacts(rb: pa.RecordBatch, avgdl: float):
    """One Arrow batch of blocks -> flat (term_id, doc_id, impact)
    arrays, one entry per posting."""
    tid, doc, tf, dl, _ = codec.decode_blocks(rb)
    return tid, doc, codec.bm25_impact(tf, dl, avgdl)


def _by_term(tid: np.ndarray, doc: np.ndarray, imp: np.ndarray):
    """The postings stable-sorted by term_id, the order `_score_topk`
    slices."""
    order = np.argsort(tid, kind="stable")
    return tid[order], doc[order], imp[order]


def _score_topk(tid: np.ndarray, doc: np.ndarray, imp: np.ndarray,
                qmaps: list[dict[int, float]], k: int):
    """Top-k over term-sorted postings: per query slice each term out
    with searchsorted, weight it by idf, sum per doc (unique + bincount)
    and keep the k best, doc_id ascending on ties. Yields (query index,
    doc_ids, scores) for every query with a hit."""
    for qid, qmap in enumerate(qmaps):
        terms = np.fromiter(qmap, np.int64, len(qmap))
        lo = np.searchsorted(tid, terms, "left")
        hi = np.searchsorted(tid, terms, "right")
        spans = [(a, z, w) for a, z, w in zip(lo, hi, qmap.values()) if z > a]
        if not spans:
            continue
        ud, inv = np.unique(np.concatenate([doc[a:z] for a, z, _ in spans]),
                            return_inverse=True)
        agg = np.bincount(inv, minlength=ud.size, weights=np.concatenate(
            [w * imp[a:z] for a, z, w in spans]))
        top = np.lexsort((ud, -agg))[:k]
        yield qid, ud[top], agg[top]


def _topk_factory(qmaps: list[dict[int, float]], k: int, avgdl: float):
    """The top-k kernel for mapInArrow over blocks whose doc_ranges lie
    wholly in one partition: decode every block once, sort the postings
    by term and score them with `_score_topk`."""
    def kernel(batches):
        flat = [_decode_impacts(rb, avgdl) for rb in batches]
        cols = (np.concatenate(c) for c in zip(*flat)) if flat \
            else (np.empty(0, np.int64),) * 3
        qids = [np.empty(0, np.int32)]
        dids, scores = [np.empty(0, np.int64)], [np.empty(0)]
        for qid, d, sc in _score_topk(*_by_term(*cols), qmaps, k):
            qids.append(np.full(d.size, qid, np.int32))
            dids.append(d)
            scores.append(sc)
        yield pa.RecordBatch.from_arrays(
            [pa.array(np.concatenate(c)) for c in (qids, dids, scores)],
            names=["query_id", "doc_id", "score"])
    return kernel


def _qterms(terms: list[str], term_dfs: dict[int, int]) -> list[int]:
    """A query's distinct term_ids that the index holds, in the one
    (set) order both serving paths sum a doc's contributions in."""
    return [t for t in {_term_id(s) for s in terms} if term_dfs.get(t, 0) > 0]


def _qmaps(queries: list[list[str]], term_dfs: dict[int, int],
           n_docs: int) -> list[dict[int, float]]:
    """Per query: term_id -> idf over its distinct terms in the index."""
    return [{t: idf(n_docs, term_dfs[t]) for t in _qterms(terms, term_dfs)}
            for terms in queries]


def search_blocks(postings: DataFrame, stats: CorpusStats,
                  queries: list[list[str]], k: int = 10) -> DataFrame:
    """Batch top-k over the block index for many queries in one scoring
    job.

    Returns a lazy (query_id, doc_id, score, rank) DataFrame. The
    posting scan is pruned to the query terms (a term_id IN filter,
    which Parquet row-group statistics prune on); query-term
    dfs come from the block metadata (sum of n per term) in one small
    collect; the scan is repartitioned by doc_range into the top-k
    kernel and a window rank keeps each query's global top k.
    """
    tids = sorted({_term_id(t) for terms in queries for t in terms})
    scan = postings.filter(F.col("term_id").isin(tids))
    qmaps = _qmaps(queries, collect_term_dfs(scan), stats.n_docs)
    local = (scan.repartition("doc_range").select(*_BLOCK_COLS)
             .mapInArrow(_topk_factory(qmaps, k, stats.avgdl), _SCORE_SCHEMA))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (local.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def collect_term_dfs(postings: DataFrame) -> dict[int, int]:
    """Precollect the term dictionary (term_id -> df) for serving —
    16k terms is a few hundred KB, the broadcast-stats pattern of
    SURVEY.md §3.1."""
    return {int(r["term_id"]): int(r["df"]) for r in
            postings.groupBy("term_id").agg(F.sum("n").alias("df")).collect()}


class Replica(namedtuple("Replica", "terms offs ords contrib doc_ids")):
    """The driver-resident postings, sorted by term, as read-only numpy
    arrays: `terms` (int64 term_ids, ascending), `offs` (int64; term i's
    postings are [offs[i], offs[i+1])), per posting `ords` (int32 doc
    ordinal) and `contrib` (float64 idf_t * impact), 12 B together, and
    `doc_ids` (int64 doc_id per ordinal, ascending)."""

    def topk(self, tids: list[int], k: int) -> list[tuple[int, float]]:
        """Top-k over the terms' slices, (score desc, doc_id asc): one
        bincount sums every doc's contributions in `tids` order. A doc
        is a candidate iff it has a posting for some term. The others
        score exactly 0.0, so when the k-th best score is positive the
        docs at or above it are all candidates and hold the top-k with
        every tie at the k-th score; otherwise the candidates come from
        the postings. Few whole-array calls: each one that releases the
        GIL can hand it to a concurrent caller."""
        if not tids:
            return []
        n = self.doc_ids.size
        i = np.searchsorted(self.terms, tids)
        spans = [slice(a, z) for a, z in zip(self.offs[i].tolist(),
                                             self.offs[i + 1].tolist())]
        o = np.concatenate([self.ords[sl] for sl in spans])
        agg = np.bincount(o, weights=np.concatenate(
            [self.contrib[sl] for sl in spans]), minlength=n)
        thr = np.partition(agg, n - k)[n - k] if 0 < k < n else 0.0
        cand = np.flatnonzero(agg >= thr if thr > 0 else np.bincount(o, minlength=n))
        sc = agg[cand]
        top = np.lexsort((cand, -sc))[:k]
        return list(zip(self.doc_ids[cand[top]].tolist(), sc[top].tolist()))


def _open_replica(postings: DataFrame, stats: CorpusStats):
    """The replica and its term dfs (postings per term, what
    `collect_term_dfs` sums) from one Spark job: executors decode the
    blocks, the driver collects the postings with `toArrow()`, sorts
    them by term, numbers the docs in doc_id order and folds each
    term's idf into its impacts."""
    avgdl = stats.avgdl

    def decode(batches):
        for rb in batches:
            yield pa.RecordBatch.from_arrays(
                [pa.array(c) for c in _decode_impacts(rb, avgdl)],
                names=["term_id", "doc_id", "impact"])

    t = postings.select(*_BLOCK_COLS).mapInArrow(
        decode, "term_id long, doc_id long, impact double").toArrow()
    tid, doc, imp = _by_term(*(t.column(c).to_numpy()
                               for c in ("term_id", "doc_id", "impact")))
    terms, dfs = np.unique(tid, return_counts=True)
    doc_ids, ords = np.unique(doc, return_inverse=True)
    w = np.repeat([idf(stats.n_docs, df) for df in dfs.tolist()], dfs)
    rep = Replica(terms, np.concatenate(([0], np.cumsum(dfs))),
                  ords.astype(np.int32), w * imp, doc_ids)
    for a in rep:
        a.flags.writeable = False
    return rep, dict(zip(terms.tolist(), dfs.tolist()))


class Searcher:
    """Serving-optimized index handle: a driver-resident `Replica`
    opened in one Spark job (the blocks decoded on the executors,
    collected with `toArrow()`); no block cache, no term-df job. Every
    `search` call, one query or a thousand, then runs in-process over
    it: no Spark job, no py4j call, no lock. The replica costs 12 B per
    posting of driver memory plus per-term offsets and one doc_id per
    doc (2.6M postings at 20k docs: about 30 MB). Per query the work is
    whole-array numpy: gather the terms' slices, one `np.bincount` over
    all `n_docs` ordinals, a partition-based top-k; a very sparse query
    over a very large index would pay the O(n_docs) bincount, which no
    workload here does. Results rank identically to `search_blocks`,
    with equal scores. `close()` releases the replica.
    """

    def __init__(self, postings: DataFrame, stats: CorpusStats):
        self.stats = stats
        self.flat, self.term_dfs = _open_replica(postings, stats)

    def close(self) -> None:
        """Release the driver replica."""
        self.flat = None

    def search(self, queries: list[list[str]], k: int = 10) -> list[list[tuple[int, float]]]:
        """Top-k per query: [(doc_id, score) ranked] per input query."""
        return [self.flat.topk(_qterms(q, self.term_dfs), k) for q in queries]
