"""BM25 top-k scoring: exhaustive DataFrame path + block-max WAND path.

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

2. `search_blocks` / `BlockMaxWand`: the scale path over the
   block-compressed posting table (index/build.py). Queries prune the
   scan to their terms' buckets, then a per-(query, doc_range)
   applyInPandas runs document-at-a-time WAND (Broder et al. 2003) with
   block-max skipping (Ding & Suel 2011): blocks whose [first,last]
   window lies below the pivot are skipped WITHOUT decoding; a pivot is
   only scored when the sum of current term upper bounds beats the
   running local top-k threshold. Per-range local top-k then a global
   TakeOrderedAndProject(k). Because every doc lives in exactly one
   range, the union of local top-ks contains the global top-k; pruning
   uses a 1e-9 safety epsilon so rank-identity vs the exhaustive path
   holds exactly.

Within a range, `score_topk` picks the physical strategy: ranges under
WAND_MIN_POSTINGS are scored by `exhaustive_range_topk` (decode every
block, one bincount accumulate — ~10x faster than the python cursor
loop on salt-bounded ranges); WAND takes over where skipping can
actually pay. Verified rank/score-identical between the two branches.
"""

from __future__ import annotations

import heapq
import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F, types as T

from ..index import codec
from ..index.build import CorpusStats

K1 = codec.K1
B = codec.B
EPS = 1e-9
_SENTINEL = 1 << 63  # > any signed-64 doc_id


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


# ----------------------------------------------------------------- WAND path

class _Cursor:
    """Posting iterator for one term within one doc_range, with lazy
    block decoding and metadata-only block skipping."""

    __slots__ = ("idf", "blocks", "ub", "bi", "pi", "docs", "imps",
                 "exhausted", "_avg")

    def __init__(self, idf_: float, blocks: list, avgdl: float,
                 k1: float, b: float):
        # blocks: list of (first, last, n, max_impact, docs_b, tfs_b, dls_b)
        self.idf = idf_
        self.blocks = blocks
        self.ub = idf_ * max(bl[3] for bl in blocks)
        self.bi = -1
        self.pi = 0
        self.docs: np.ndarray | None = None
        self.imps: np.ndarray | None = None
        self.exhausted = False
        self._avg = (avgdl, k1, b)
        self._next_block()

    def _decode(self):
        first, last, n, mx, docs_b, tfs_b, dls_b = self.blocks[self.bi]
        self.docs = codec.decode_block_docs(docs_b, n)
        tfs = codec.decode_block_tfs(tfs_b, n)
        dls = codec.varint_decode(dls_b, n).astype(np.int64)
        avgdl, k1, b = self._avg
        self.imps = self.idf * codec.bm25_impact(tfs, dls, avgdl, k1, b)

    def _next_block(self):
        self.bi += 1
        self.pi = 0
        if self.bi >= len(self.blocks):
            self.exhausted = True
            self.docs = None
        else:
            self._decode()

    @property
    def doc(self) -> int:
        return _SENTINEL if self.exhausted else int(self.docs[self.pi])

    @property
    def contribution(self) -> float:
        return float(self.imps[self.pi])

    def advance(self):
        self.pi += 1
        if not self.exhausted and self.pi >= len(self.docs):
            self._next_block()

    def seek(self, target: int):
        """Advance to first doc >= target; skips whole blocks by their
        [first_doc, last_doc] metadata without decoding."""
        while self.blocks[self.bi][1] < target:
            # metadata-only skip: jump block pointer, decode lazily
            self.bi += 1
            self.pi = 0
            self.docs = None
            if self.bi >= len(self.blocks):
                self.exhausted = True
                return
        if self.docs is None:
            self._decode()
        self.pi = int(np.searchsorted(self.docs, target, side="left"))
        if self.pi >= len(self.docs):
            self._next_block()


def wand_topk(term_lists: list[dict], k: int, avgdl: float,
              k1: float = K1, b: float = B) -> list[tuple[int, float]]:
    """Document-at-a-time WAND over one doc_range's cursors.

    term_lists: [{'idf': float, 'blocks': [(first,last,n,max_imp,docs,
    tfs,dls), ...sorted by first_doc]}]. Returns [(doc_id, score)].
    """
    cursors = [_Cursor(t["idf"], t["blocks"], avgdl, k1, b)
               for t in term_lists if t["blocks"]]
    heap: list[tuple[float, int]] = []  # (score, -doc_id) min-heap, size k
    while True:
        cursors = [c for c in cursors if not c.exhausted]
        if not cursors:
            break
        cursors.sort(key=lambda c: c.doc)
        threshold = heap[0][0] if len(heap) >= k else float("-inf")
        acc = 0.0
        pivot = -1
        for i, c in enumerate(cursors):
            acc += c.ub
            if acc > threshold + EPS:
                pivot = i
                break
        if pivot < 0:
            break  # not even the sum of all UBs beats the threshold
        pivot_doc = cursors[pivot].doc
        if pivot_doc >= _SENTINEL:
            break
        if cursors[0].doc == pivot_doc:
            # fully aligned: score pivot_doc exactly
            score = 0.0
            for c in cursors:
                if c.doc == pivot_doc:
                    score += c.contribution
                    c.advance()
                elif c.doc > pivot_doc:
                    break
            item = (score, -pivot_doc)
            if len(heap) < k:
                heapq.heappush(heap, item)
            elif item > heap[0]:
                heapq.heapreplace(heap, item)
        else:
            # advance the highest-UB cursor strictly below the pivot doc
            c = max((c for c in cursors[:pivot] if c.doc < pivot_doc),
                    key=lambda c: c.ub)
            c.seek(pivot_doc)
    out = [(-nd, s) for s, nd in heap]
    out.sort(key=lambda t: (-t[1], t[0]))
    return out


def exhaustive_range_topk(term_lists: list[dict], k: int, avgdl: float,
                          k1: float = K1, b: float = B) -> list[tuple[int, float]]:
    """Vectorized decode-everything scorer for one doc_range: decode
    every block of every query term, one bincount accumulate, one
    lexsort top-k. For ranges bounded by the build's doc_range salt
    (<= ~16k docs) this beats document-at-a-time WAND by ~10x — the
    python cursor loop costs more than decoding the whole range.
    Multi-part indexes need no cursor merging: equal doc_ids across
    parts sum naturally through the unique/bincount accumulate.
    Scores are identical to WAND's modulo float summation order."""
    docs_l, score_l = [], []
    for t in term_lists:
        idf_ = t["idf"]
        for first, last, n, mx, db, tb, lb in t["blocks"]:
            docs_l.append(codec.decode_block_docs(db, n))
            tfs = codec.decode_block_tfs(tb, n)
            dls = codec.varint_decode(lb, n).astype(np.int64)
            score_l.append(idf_ * codec.bm25_impact(tfs, dls, avgdl, k1, b))
    if not docs_l:
        return []
    d = np.concatenate(docs_l)
    s = np.concatenate(score_l)
    ud, inv = np.unique(d, return_inverse=True)
    agg = np.bincount(inv, weights=s, minlength=ud.size)
    order = np.lexsort((ud, -agg))[:k]
    return [(int(ud[i]), float(agg[i])) for i in order]


# above this many postings in one (query, doc_range) pair, block-max
# WAND's skipping pays for its python cursor loop; below it, decoding
# everything vectorized is faster
WAND_MIN_POSTINGS = 1 << 19


def score_topk(term_lists: list[dict], k: int, avgdl: float,
               k1: float = K1, b: float = B) -> list[tuple[int, float]]:
    """Hybrid scorer: vectorized exhaustive for bounded ranges, WAND
    with block-max skipping for oversized ones."""
    est = sum(bl[2] for t in term_lists for bl in t["blocks"])
    if est < WAND_MIN_POSTINGS:
        return exhaustive_range_topk(term_lists, k, avgdl, k1, b)
    return wand_topk(term_lists, k, avgdl, k1, b)


_SCORE_SCHEMA = T.StructType([
    T.StructField("query_id", T.IntegerType()),
    T.StructField("doc_id", T.LongType()),
    T.StructField("score", T.DoubleType()),
])


def _wand_group_factory(avgdl: float, k: int, k1: float, b: float):
    def score_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        query_id = int(key[0])
        term_lists = []
        # a multi-part index (resumed/streaming build) holds several
        # disjoint sorted posting lists per term — one cursor each;
        # disjointness keeps WAND's per-doc scoring exact.
        gcols = ["term_id", "part"] if "part" in pdf.columns else ["term_id"]
        for _, g in pdf.groupby(gcols, sort=True):
            g = g.sort_values(["block_id"], kind="mergesort")
            blocks = list(zip(g["first_doc"], g["last_doc"], g["n"],
                              g["max_impact"], g["docs"], g["tfs"], g["dls"]))
            term_lists.append({"idf": float(g["idf"].iloc[0]),
                               "blocks": blocks})
        hits = score_topk(term_lists, k, avgdl, k1, b)
        return pd.DataFrame({
            "query_id": query_id,
            "doc_id": [d for d, _ in hits],
            "score": [s for _, s in hits],
        })
    return score_group


def search_blocks(postings: DataFrame, stats: CorpusStats,
                  queries: list[list[str]], k: int = 10,
                  k1: float = K1, b: float = B,
                  n_buckets: int | None = None,
                  term_dfs: dict[int, int] | None = None) -> DataFrame:
    """Batch top-k over the block index for many queries in ONE job.

    Returns (query_id, doc_id, score, rank). The posting scan is pruned
    to the query terms (term_bucket partition filter + term_id filter);
    df/idf stats come from `term_dfs` (the precollected term dictionary
    — pass it for serving so each query is a single scan+score job) or,
    when absent, from the block metadata itself (sum of n per term) via
    an extra aggregate; WAND runs per (query, doc_range).
    """
    from ..xxh64 import xxh64_signed
    spark = postings.sparkSession
    qrows = []
    for qid, terms in enumerate(queries):
        for t in sorted(set(terms)):
            qrows.append((qid, t, xxh64_signed(t)))
    if not qrows:
        return spark.createDataFrame([], schema=_SCORE_SCHEMA)
    term_ids = sorted({r[2] for r in qrows})

    scan = postings.filter(F.col("term_id").isin(term_ids))
    if "term_bucket" in postings.columns and n_buckets:
        buckets = sorted({tid % n_buckets for tid in term_ids})
        scan = scan.filter(F.col("term_bucket").isin(buckets))
    # column pruning: positions are not needed for BM25 scoring
    cols = ["term_id", "doc_range", "block_id", "first_doc",
            "last_doc", "n", "max_impact", "docs", "tfs", "dls"]
    if "part" in postings.columns:
        cols.append("part")
    scan = scan.select(*cols)

    n_docs = stats.n_docs
    if term_dfs is not None:
        qstats = spark.createDataFrame(
            [(qid, tid, idf(n_docs, term_dfs.get(tid, 0)))
             for qid, _, tid in qrows],
            schema="query_id int, term_id long, idf double")
    else:
        # df per term from block metadata (no second pass over the corpus)
        qdf = spark.createDataFrame(
            qrows, schema="query_id int, term string, term_id long")
        dft = scan.groupBy("term_id").agg(F.sum("n").alias("df"))
        qstats = (qdf.join(dft, "term_id", "left")
                  .withColumn("df", F.coalesce("df", F.lit(0)))
                  .withColumn("idf", F.log(
                      (F.lit(float(n_docs)) - F.col("df") + 0.5)
                      / (F.col("df") + 0.5) + 1.0))
                  .select("query_id", "term_id", "idf"))

    joined = scan.join(F.broadcast(qstats), "term_id")
    local = (joined.groupBy("query_id", "doc_range")
             .applyInPandas(_wand_group_factory(stats.avgdl, k, k1, b),
                            schema=_SCORE_SCHEMA))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (local.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


from contextlib import contextmanager


@contextmanager
def _scoped_conf(spark, kv: dict):
    """Set session confs for one action, restoring previous values —
    serving tweaks must not leak into batch jobs on the same session."""
    old: dict = {}
    for key, val in kv.items():
        try:
            old[key] = spark.conf.get(key)
        except Exception:
            old[key] = None
        spark.conf.set(key, val)
    try:
        yield
    finally:
        for key, val in old.items():
            if val is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, val)


def collect_term_dfs(postings: DataFrame) -> dict[int, int]:
    """Precollect the term dictionary (term_id -> df) for serving —
    16k terms is a few hundred KB, the broadcast-stats pattern of
    SURVEY.md §3.1."""
    return {int(r["term_id"]): int(r["df"]) for r in
            postings.groupBy("term_id").agg(F.sum("n").alias("df")).collect()}


class Searcher:
    """Serving-optimized index handle: scatter-gather top-k.

    Build-time layout is term_bucket-partitioned, one file per bucket
    per build task (good for bulk scans);
    serving re-partitions the cached postings by doc_range so every
    partition holds whole doc ranges. Two physical paths:

    - **batch** (many queries): one mapInArrow job runs WAND/exhaustive
      per (query, doc_range) locally and the driver merges the tiny
      per-range top-k lists — amortizes the ~150 ms Python-runner setup
      across the whole query batch.
    - **single-query flat path**: a decoded JVM-side projection
      (term_id, doc_range, doc_id, impact) cached sorted-by-term per
      doc_range partition. A query is then PURE DataFrame algebra — an
      isin filter (pruned against cached-batch term_id min/max stats),
      a no-shuffle partial+final aggregate (hashpartitioning(doc_range)
      satisfies the (doc_range, doc_id) clustering, and ranges are
      disjoint), and a driver-side TakeOrdered merge. No Python worker
      in the loop. Executed interpreted (codegen off, scoped): the
      embedded query-term literals would force a fresh ~150-200 ms
      Janino compile per query, which dwarfs interpreted evaluation
      over the stat-pruned batches. Measured p50 ~115 ms vs ~300 ms
      through the Python path at sf0.1 (100k docs).

    The flat cache holds one row per posting (~3x the encoded blocks);
    at cluster scale each executor caches only its own doc ranges
    (MEMORY_AND_DISK), the standard price of a serving replica.

    The flat path executes on a DEDICATED cloned session (same
    SparkContext, shared cache, separate SQLConf with codegen/AQE
    permanently off) — no session-conf mutation ever, so concurrent
    batch jobs on the caller's session keep codegen+AQE, and concurrent
    flat callers run LOCK-FREE with overlapping jobs (measured 29 QPS
    with 4 threads at sf0.1 vs 7.4 when serialized — bench.py
    `bm25_concurrent_qps`). For still-higher throughput use the batch
    path (one job amortized over the query set) or one Searcher per
    serving replica. `close()` releases both caches.
    """

    def __init__(self, postings: DataFrame, stats: CorpusStats,
                 term_dfs: dict[int, int] | None = None,
                 n_partitions: int | None = None,
                 k1: float = K1, b: float = B,
                 flat_cache: bool = True, flat_batch_size: int = 8192):
        self.stats = stats
        self.k1, self.b = k1, b
        # cached-batch granularity of the flat projection: batch min/max
        # term_id stats prune scans, so SMALLER batches prune finer at
        # the cost of more header checks. Measured sweep (BASELINE.md
        # round 3, sf0.1): 65536 -> 137 ms p50, 8192 -> ~100 ms, 2048
        # regresses; at 5x corpus the fixed job cost dominates and the
        # knob is flat. 8192 is the knee.
        self._flat_batch_size = flat_batch_size
        self._has_part = "part" in postings.columns
        cols = ["term_id", "doc_range", "block_id", "first_doc",
                "last_doc", "n", "max_impact", "docs", "tfs", "dls"]
        if self._has_part:
            cols.append("part")
        spark = postings.sparkSession
        base = postings.select(*cols)
        if n_partitions is None:
            # one task per doc_range shard (scatter width); more tasks
            # than ranges only adds scheduling + worker roundtrips.
            # Materialize the base FIRST so a freshly-built (lazy)
            # postings plan executes once, then derive the range count
            # from the cache instead of re-running the whole build.
            base = base.persist()
            base.count()
            n_rng = base.select("doc_range").distinct().count()
            n_partitions = max(1, min(
                spark.sparkContext.defaultParallelism, n_rng))
        self.df = base.repartition(n_partitions, "doc_range").persist()
        self.df.count()
        if base is not self.df:
            base.unpersist()
        from ..index.build import release_build
        release_build(postings)
        self.term_dfs = term_dfs if term_dfs is not None else \
            collect_term_dfs(self.df)
        self.flat: DataFrame | None = None
        if flat_cache:
            self._build_flat_cache()

    def _build_flat_cache(self) -> None:
        """Decode the block cache into the JVM-side flat serving
        projection (one Python pass at init, never again)."""
        import pyarrow as pa
        avgdl, k1, b = self.stats.avgdl, self.k1, self.b

        def decode(batches):
            for rb in batches:
                d = rb.to_pydict()
                ts, rs, ds, imps = [], [], [], []
                for tid, rng, docs_b, tfs_b, dls_b, n in zip(
                        d["term_id"], d["doc_range"], d["docs"],
                        d["tfs"], d["dls"], d["n"]):
                    dd = codec.decode_block_docs(docs_b, n)
                    tf = codec.decode_block_tfs(tfs_b, n)
                    dl = codec.varint_decode(dls_b, n).astype(np.int64)
                    ts.append(np.full(dd.size, tid, np.int64))
                    rs.append(np.full(dd.size, rng, np.int64))
                    ds.append(dd)
                    imps.append(codec.bm25_impact(tf, dl, avgdl, k1, b))
                if ts:
                    yield pa.RecordBatch.from_arrays(
                        [pa.array(np.concatenate(ts)),
                         pa.array(np.concatenate(rs)),
                         pa.array(np.concatenate(ds)),
                         pa.array(np.concatenate(imps))],
                        names=["term_id", "doc_range", "doc_id", "impact"])

        spark = self.df.sparkSession
        n_parts = self.df.rdd.getNumPartitions()
        # duplicate (term, doc) rows from multi-part segments sum
        # correctly through the aggregate — no part column needed
        flat = (self.df
                .mapInArrow(decode, "term_id long, doc_range long, "
                                    "doc_id long, impact double")
                .repartition(n_parts, "doc_range")
                .sortWithinPartitions("term_id", "doc_id"))
        with _scoped_conf(spark, {
                # batch sizing: the sort makes term_id min/max stats
                # prune scans (see _flat_batch_size comment in __init__)
                "spark.sql.inMemoryColumnarStorage.batchSize":
                    str(self._flat_batch_size)}):
            self.flat = flat.persist()
            self.flat.count()
        # serve through a DEDICATED cloned session (same SparkContext +
        # shared cache, separate SQLConf): codegen/AQE are turned off
        # ONCE there and never touch the caller's session, so batch
        # jobs planned concurrently with flat queries keep codegen+AQE
        # (the scoped-conf mutation this replaces leaked to them), and
        # flat queries no longer need conf-swap serialization at all.
        self._view = f"pears_flat_{id(self)}"
        self.flat.createOrReplaceGlobalTempView(self._view)
        self._serving = spark.newSession()
        for key, val in {
                # embedded query-term literals would trigger a fresh
                # Janino compile per query (~150-200 ms); interpreted
                # evaluation over the pruned batches is faster
                "spark.sql.codegen.wholeStage": "false",
                "spark.sql.codegen.factoryMode": "NO_CODEGEN",
                "spark.sql.adaptive.enabled": "false"}.items():
            self._serving.conf.set(key, val)

    def _search_flat(self, terms: list[str], k: int) -> list[tuple[int, float]]:
        """Single-query top-k through the pure-JVM flat path. One
        spark.sql() string (a single py4j roundtrip; the DataFrame API
        costs ~30 driver calls per query at this latency scale): an IN
        filter the cached-batch stats prune, a CASE idf weighting, the
        no-shuffle aggregate, and a TakeOrdered merge."""
        from ..xxh64 import xxh64_signed
        n_docs = self.stats.n_docs
        qidf = {}
        for t in set(terms):
            tid = xxh64_signed(t)
            df_ = self.term_dfs.get(tid, 0)
            if df_ > 0:
                qidf[tid] = idf(n_docs, df_)
        if not qidf:
            return []
        tids = ",".join(str(t) for t in sorted(qidf))
        case = " ".join(f"WHEN {t} THEN {w!r}"
                        for t, w in sorted(qidf.items()))
        sql = f"""SELECT doc_id, score FROM (
  SELECT doc_range, doc_id,
         sum(impact * CASE term_id {case} END) AS score
  FROM global_temp.{self._view} WHERE term_id IN ({tids})
  GROUP BY doc_range, doc_id)
ORDER BY score DESC, doc_id LIMIT {k}"""
        # no session-conf mutation (the serving session is permanently
        # interpreted/non-adaptive) and no shared mutable state, so
        # concurrent callers are safe WITHOUT a lock and their jobs
        # overlap in the scheduler: measured 29 QPS with 4 threads vs
        # 7.4 through the round-3 lock (BASELINE.md)
        rows = self._serving.sql(sql).collect()
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    # below this many queries, per-query flat-path jobs beat one
    # Python-runner batch job (~115 ms each vs ~300 ms + 40 ms/query)
    FLAT_BATCH_MAX = 3

    def close(self) -> None:
        """Release the serving caches (block + flat) and the temp view."""
        self.df.unpersist()
        if self.flat is not None:
            spark = self.flat.sparkSession
            self.flat.unpersist()
            spark.catalog.dropGlobalTempView(self._view)
            self.flat = None
            self._serving = None

    def search(self, queries: list[list[str]], k: int = 10) -> list[list[tuple[int, float]]]:
        """Top-k per query: [(doc_id, score) ranked] per input query."""
        import pyarrow as pa
        from ..xxh64 import xxh64_signed
        if self.flat is not None and 0 < len(queries) <= self.FLAT_BATCH_MAX:
            return [self._search_flat(terms, k) for terms in queries]
        n_docs = self.stats.n_docs
        qmaps: list[dict[int, float]] = []
        for terms in queries:
            tids = {xxh64_signed(t) for t in set(terms)}
            qmaps.append({tid: idf(n_docs, self.term_dfs.get(tid, 0))
                          for tid in tids if self.term_dfs.get(tid, 0) > 0})
        all_tids = sorted({t for m in qmaps for t in m})
        if not all_tids:
            return [[] for _ in queries]
        avgdl, k1, b, has_part = self.stats.avgdl, self.k1, self.b, self._has_part
        out_schema = "query_id int, doc_id long, score double"

        def kernel(batches):
            rows: dict = {}  # (range, term_id, part) -> list[block tuple]
            for rb in batches:
                d = rb.to_pydict()
                parts = d["part"] if has_part else [0] * rb.num_rows
                for i in range(rb.num_rows):
                    key = (d["doc_range"][i], d["term_id"][i], parts[i])
                    rows.setdefault(key, []).append(
                        (d["block_id"][i], d["first_doc"][i],
                         d["last_doc"][i], d["n"][i], d["max_impact"][i],
                         d["docs"][i], d["tfs"][i], d["dls"][i]))
            by_range: dict = {}
            for (rng, tid, part), blocks in rows.items():
                blocks.sort(key=lambda t: t[0])
                by_range.setdefault(rng, {}).setdefault(tid, []).append(
                    [(f, l, n_, mx, db, tb, lb)
                     for _, f, l, n_, mx, db, tb, lb in blocks])
            qids, dids, scores = [], [], []
            for rng, terms_here in by_range.items():
                for qid, qmap in enumerate(qmaps):
                    term_lists = []
                    for tid, idf_ in qmap.items():
                        for lst in terms_here.get(tid, []):
                            term_lists.append({"idf": idf_, "blocks": lst})
                    if not term_lists:
                        continue
                    for did, sc in score_topk(term_lists, k, avgdl,
                                                 k1, b):
                        qids.append(qid)
                        dids.append(did)
                        scores.append(sc)
            yield pa.RecordBatch.from_arrays(
                [pa.array(qids, pa.int32()), pa.array(dids, pa.int64()),
                 pa.array(scores, pa.float64())],
                names=["query_id", "doc_id", "score"])

        local = (self.df.filter(F.col("term_id").isin(all_tids))
                 .mapInArrow(kernel, schema=out_schema).collect())
        merged: list[list[tuple[int, float]]] = [[] for _ in queries]
        for r in local:
            merged[r["query_id"]].append((r["doc_id"], r["score"]))
        out = []
        for cand in merged:
            cand.sort(key=lambda t: (-t[1], t[0]))
            out.append(cand[:k])
        return out
