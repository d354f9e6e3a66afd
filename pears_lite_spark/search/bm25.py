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
   block-compressed posting table (index/build.py). A query set prunes
   the scan to its terms (term_id filter, plus the term_bucket
   partition filter), and one mapInArrow kernel (`_topk_factory`) runs
   over doc_range-partitioned blocks: it decodes each block once,
   weights the impacts by idf, sums them per doc and keeps a local
   top-k per query. A window rank (`search_blocks`) or a driver merge
   (`Searcher`) then takes the global top-k. Every doc lives in exactly
   one doc_range, so the union of the local top-ks holds the global
   top-k, and scores equal the exhaustive path's up to float summation
   order. Multi-part indexes need no special case: a doc's postings
   from several parts sum in the same per-doc accumulate.

The per-block `max_impact` metadata stays in the index format as the
block-max upper bound (Ding & Suel 2011); no scorer prunes with it yet.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, Window, functions as F

from ..index import codec
from ..index.build import CorpusStats

K1 = codec.K1
B = codec.B


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


def _blob(col: pa.Array) -> np.ndarray:
    """The bytes of a binary Arrow column, its values back to back."""
    offs_t = np.int64 if pa.types.is_large_binary(col.type) else np.int32
    _, offs, data = col.buffers()
    if data is None or not len(col):
        return np.empty(0, np.uint8)
    off = np.frombuffer(offs, offs_t)[col.offset:col.offset + len(col) + 1]
    return np.frombuffer(data, np.uint8)[off[0]:off[-1]]


def _decode_impacts(rb: pa.RecordBatch, avgdl: float):
    """One Arrow batch of blocks -> flat (term_id, doc_range, doc_id,
    impact) arrays, one entry per posting. A column's varint streams lie
    back to back in its data buffer, so each column decodes in one
    vectorized pass over the whole batch; doc gaps are summed per block
    by one cumsum minus each block's base (int64 wraparound keeps that
    exact for hashed doc_ids)."""
    n = rb.column("n").to_numpy().astype(np.int64)
    total = int(n.sum())
    starts = np.cumsum(n) - n
    gaps = codec.varint_decode(_blob(rb.column("docs")), total).astype(np.int64)
    gaps += 1
    gaps[starts] -= 1  # a block's first value is its raw first doc_id
    cs = np.cumsum(gaps)
    docs = cs - np.repeat(cs[starts] - gaps[starts], n)
    tfs = codec.varint_decode(_blob(rb.column("tfs")), total).astype(np.int64) + 1
    dls = codec.varint_decode(_blob(rb.column("dls")), total).astype(np.int64)
    return (np.repeat(rb.column("term_id").to_numpy(), n),
            np.repeat(rb.column("doc_range").to_numpy(), n),
            docs, codec.bm25_impact(tfs, dls, avgdl))


def _topk_factory(qmaps: list[dict[int, float]], k: int, avgdl: float):
    """The top-k kernel for mapInArrow over blocks whose doc_ranges lie
    wholly in one partition: decode every block once, stable-sort the
    postings by term_id, then per query slice each term out with
    searchsorted, weight it by idf, sum per doc (unique + bincount) and
    keep the k best, doc_id ascending on ties."""
    def kernel(batches):
        flat = [_decode_impacts(rb, avgdl) for rb in batches]
        tid, _, doc, imp = (np.concatenate(c) for c in zip(*flat)) if flat \
            else (np.empty(0, np.int64),) * 4
        order = np.argsort(tid, kind="stable")
        tid, doc, imp = tid[order], doc[order], imp[order]
        qids = [np.empty(0, np.int32)]
        dids, scores = [np.empty(0, np.int64)], [np.empty(0)]
        for qid, qmap in enumerate(qmaps):
            terms = np.fromiter(qmap, np.int64, len(qmap))
            lo = np.searchsorted(tid, terms, "left")
            hi = np.searchsorted(tid, terms, "right")
            spans = [(a, z, w) for a, z, w in zip(lo, hi, qmap.values())
                     if z > a]
            if not spans:
                continue
            ud, inv = np.unique(np.concatenate([doc[a:z] for a, z, _ in spans]),
                                return_inverse=True)
            agg = np.bincount(inv, minlength=ud.size, weights=np.concatenate(
                [w * imp[a:z] for a, z, w in spans]))
            top = np.lexsort((ud, -agg))[:k]
            qids.append(np.full(top.size, qid, np.int32))
            dids.append(ud[top])
            scores.append(agg[top])
        yield pa.RecordBatch.from_arrays(
            [pa.array(np.concatenate(c)) for c in (qids, dids, scores)],
            names=["query_id", "doc_id", "score"])
    return kernel


def _qmaps(queries: list[list[str]], term_dfs: dict[int, int],
           n_docs: int) -> list[dict[int, float]]:
    """Per query: term_id -> idf over its distinct terms in the index."""
    from ..xxh64 import xxh64_signed
    out = []
    for terms in queries:
        tids = {xxh64_signed(t) for t in terms}
        out.append({t: idf(n_docs, term_dfs[t]) for t in tids
                    if term_dfs.get(t, 0) > 0})
    return out


def _local_topk(blocks_df: DataFrame, qmaps: list[dict[int, float]],
                k: int, avgdl: float) -> DataFrame:
    """(query_id, doc_id, score): each query's top k in each partition of
    `blocks_df`, which must hold every doc_range whole."""
    tids = sorted({t for m in qmaps for t in m})
    return (blocks_df.filter(F.col("term_id").isin(tids))
            .select(*_BLOCK_COLS)
            .mapInArrow(_topk_factory(qmaps, k, avgdl), _SCORE_SCHEMA))


def search_blocks(postings: DataFrame, stats: CorpusStats,
                  queries: list[list[str]], k: int = 10,
                  n_buckets: int | None = None) -> DataFrame:
    """Batch top-k over the block index for many queries in one scoring
    job.

    Returns a lazy (query_id, doc_id, score, rank) DataFrame. The
    posting scan is pruned to the query terms (term_id filter, plus the
    term_bucket partition filter when `n_buckets` is given); query-term
    dfs come from the block metadata (sum of n per term) in one small
    collect; the scan is repartitioned by doc_range into the top-k
    kernel and a window rank keeps each query's global top k.
    """
    from ..xxh64 import xxh64_signed
    tids = sorted({xxh64_signed(t) for terms in queries for t in terms})
    scan = postings.filter(F.col("term_id").isin(tids))
    if "term_bucket" in postings.columns and n_buckets:
        buckets = sorted({tid % n_buckets for tid in tids})
        scan = scan.filter(F.col("term_bucket").isin(buckets))
    qmaps = _qmaps(queries, collect_term_dfs(scan), stats.n_docs)
    local = _local_topk(scan.repartition("doc_range"), qmaps, k, stats.avgdl)
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


# cached-batch granularity of the flat projection: batch min/max term_id
# stats prune scans, so SMALLER batches prune finer at the cost of more
# header checks. Measured sweep (BASELINE.md round 3, sf0.1): 65536 ->
# 137 ms p50, 8192 -> ~100 ms, 2048 regresses; at 5x corpus the fixed
# job cost dominates and the size is flat. 8192 is the knee.
_FLAT_BATCH_SIZE = 8192


class Searcher:
    """Serving-optimized index handle: scatter-gather top-k.

    Build-time layout is term_bucket-partitioned, one file per bucket
    per build task (good for bulk scans);
    serving caches the scored block columns re-partitioned by doc_range
    (one partition per core, at most one per range), so every partition
    holds whole doc ranges. Two physical paths:

    - **batch** (many queries): one mapInArrow job runs the top-k
      kernel (`_topk_factory`, shared with `search_blocks`) per
      partition and the driver merges the tiny per-partition top-k
      lists — amortizes the ~150 ms Python-runner setup across the
      whole query batch.
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
                 flat_cache: bool = True):
        self.stats = stats
        spark = postings.sparkSession
        # one task per doc_range shard (scatter width); more tasks than
        # ranges only adds scheduling + worker roundtrips. Materialize
        # the base FIRST so a freshly-built (lazy) postings plan executes
        # once, then derive the range count from the cache instead of
        # re-running the whole build.
        base = postings.select(*_BLOCK_COLS).persist()
        base.count()
        n_rng = base.select("doc_range").distinct().count()
        n_partitions = max(1, min(spark.sparkContext.defaultParallelism, n_rng))
        self.df = base.repartition(n_partitions, "doc_range").persist()
        self.df.count()
        base.unpersist()
        from ..index.build import release_build
        release_build(postings)
        self.term_dfs = collect_term_dfs(self.df)
        self.flat: DataFrame | None = None
        if flat_cache:
            self._build_flat_cache()

    def _build_flat_cache(self) -> None:
        """Decode the block cache into the JVM-side flat serving
        projection (one Python pass at init, never again)."""
        avgdl = self.stats.avgdl

        def decode(batches):
            for rb in batches:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(c) for c in _decode_impacts(rb, avgdl)],
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
                # prune scans (see _FLAT_BATCH_SIZE)
                "spark.sql.inMemoryColumnarStorage.batchSize":
                    str(_FLAT_BATCH_SIZE)}):
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

    def _search_flat(self, qmap: dict[int, float], k: int) -> list[tuple[int, float]]:
        """Single-query top-k through the pure-JVM flat path. One
        spark.sql() string (a single py4j roundtrip; the DataFrame API
        costs ~30 driver calls per query at this latency scale): an IN
        filter the cached-batch stats prune, a CASE idf weighting, the
        no-shuffle aggregate, and a TakeOrdered merge."""
        if not qmap:
            return []
        tids = ",".join(str(t) for t in sorted(qmap))
        case = " ".join(f"WHEN {t} THEN {w!r}"
                        for t, w in sorted(qmap.items()))
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
        qmaps = _qmaps(queries, self.term_dfs, self.stats.n_docs)
        if self.flat is not None and 0 < len(queries) <= self.FLAT_BATCH_MAX:
            return [self._search_flat(qmap, k) for qmap in qmaps]
        if not any(qmaps):
            return [[] for _ in queries]
        merged: list[list[tuple[int, float]]] = [[] for _ in queries]
        for r in _local_topk(self.df, qmaps, k, self.stats.avgdl).collect():
            merged[r["query_id"]].append((r["doc_id"], r["score"]))
        return [sorted(c, key=lambda t: (-t[1], t[0]))[:k] for c in merged]
