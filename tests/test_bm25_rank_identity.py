"""BM25 rank-identity: engine (exhaustive DataFrame AND block-max WAND
index) vs the frozen numpy oracle, over the deterministic reference
query set on the synthetic SPM-tokenized corpus."""

import pytest
from pyspark.sql import functions as F

from pears_lite_spark.corpus import gen_query_set
from pears_lite_spark.index.build import build_postings
from pears_lite_spark.search.bm25 import bm25_topk, search_blocks
from pears_lite_spark.vocab import get_vocab

from .oracle import bm25_topk_oracle


@pytest.fixture(scope="module")
def oracle_docs(spm_tokens_df):
    return {r["doc_id"]: list(r["tokens"]) for r in spm_tokens_df.collect()}


@pytest.fixture(scope="module")
def query_pieces(corpus_pdf):
    v = get_vocab()
    qs = gen_query_set(corpus_pdf)[:24]  # subset for test runtime
    return [(q, v.encode_as_pieces(q)) for q in qs]


@pytest.fixture(scope="module")
def index(spm_tokens_df):
    postings, stats = build_postings(spm_tokens_df)
    return postings.persist(), stats


def _blocks_ranked(postings, stats, queries, k=10):
    """search_blocks' answer in Searcher.search's shape: [(doc_id,
    score) ranked] per query."""
    out = [[] for _ in queries]
    for r in sorted(search_blocks(postings, stats, queries, k=k).collect(),
                    key=lambda r: (r["query_id"], r["rank"])):
        out[r["query_id"]].append((r["doc_id"], r["score"]))
    return out


def test_wand_rank_identity_vs_oracle(index, oracle_docs, query_pieces):
    postings, stats = index
    queries = [p for _, p in query_pieces]
    res = search_blocks(postings, stats, queries, k=10).toPandas()
    for qid, (q, pieces) in enumerate(query_pieces):
        exp = bm25_topk_oracle(oracle_docs, pieces, 10)
        sub = res[res.query_id == qid].sort_values("rank")
        got_ids = [int(d) for d in sub["doc_id"]]
        got_scores = [float(s) for s in sub["score"]]
        assert got_ids == [d for d, _ in exp], q
        for gs, (ed, es) in zip(got_scores, exp):
            assert gs == pytest.approx(es, abs=1e-6), q


def test_exhaustive_rank_identity_vs_oracle(spm_tokens_df, oracle_docs,
                                            query_pieces):
    for q, pieces in query_pieces[:8]:
        exp = bm25_topk_oracle(oracle_docs, pieces, 10)
        got = bm25_topk(spm_tokens_df, pieces, 10).collect()
        assert [r["doc_id"] for r in got] == [d for d, _ in exp], q
        for r, (ed, es) in zip(got, exp):
            assert r["score"] == pytest.approx(es, abs=1e-6), q


def test_planted_phrase_docs_rank(index, oracle_docs):
    """Docs with the planted phrase must surface for the phrase query."""
    postings, stats = index
    v = get_vocab()
    pieces = v.encode_as_pieces("watermelon festival season")
    res = search_blocks(postings, stats, [pieces], k=10).toPandas()
    assert len(res) > 0
    top = bm25_topk_oracle(oracle_docs, pieces, 10)
    assert int(res.sort_values("rank")["doc_id"].iloc[0]) == top[0][0]


def test_zero_hit_query(index):
    postings, stats = index
    res = search_blocks(postings, stats, [["▁zzzznothere"]], k=10).toPandas()
    assert len(res) == 0
    # a query with no terms at all still yields the full ranked schema
    empty = search_blocks(postings, stats, [[]])
    assert empty.columns == ["query_id", "doc_id", "score", "rank"]
    assert empty.count() == 0


def test_hot_term_salting_equivalence(spm_tokens_df, oracle_docs,
                                      query_pieces):
    """Force a fine doc_range salt (8 ranges at 240 docs) and verify
    WAND results are identical to the single-range build."""
    from pyspark.sql import functions as F
    postings, stats = build_postings(spm_tokens_df, range_shift=61)
    postings = postings.persist()
    n_ranges = postings.select("doc_range").distinct().count()
    assert n_ranges > 1  # salting actually engaged
    queries = [p for _, p in query_pieces[:8]]
    res = search_blocks(postings, stats, queries, k=10).toPandas()
    for qid, (q, pieces) in enumerate(query_pieces[:8]):
        exp = bm25_topk_oracle(oracle_docs, pieces, 10)
        sub = res[res.query_id == qid].sort_values("rank")
        assert [int(d) for d in sub["doc_id"]] == [d for d, _ in exp], q
    # the Searcher over the salted index: the replica for a query set
    # and for single queries, equal to search_blocks' kernel
    from pears_lite_spark.search.bm25 import Searcher
    s = Searcher(postings, stats)
    batch = s.search(queries, k=10)
    for qid, ((q, pieces), via_batch) in enumerate(zip(query_pieces[:8],
                                                       batch)):
        exp = [d for d, _ in bm25_topk_oracle(oracle_docs, pieces, 10)]
        assert [d for d, _ in via_batch] == exp, q
        assert [d for d, _ in s.search([pieces], k=10)[0]] == exp, q
        sub = res[res.query_id == qid].sort_values("rank")
        assert via_batch == list(zip(sub["doc_id"].tolist(),
                                     sub["score"].tolist())), q
    s.close()


def test_searcher_scatter_gather_rank_identity(index, oracle_docs,
                                               query_pieces):
    """The serving path (the driver replica, every query in one call)
    must match the oracle exactly."""
    from pears_lite_spark.search.bm25 import Searcher
    postings, stats = index
    s = Searcher(postings, stats)
    queries = [p for _, p in query_pieces]
    res = s.search(queries, k=10)
    for (q, pieces), got in zip(query_pieces, res):
        exp = bm25_topk_oracle(oracle_docs, pieces, 10)
        assert [d for d, _ in got] == [d for d, _ in exp], q
        for (gd, gs), (ed, es) in zip(got, exp):
            assert gs == pytest.approx(es, abs=1e-6), q


def test_flat_jvm_path_rank_identity(index, oracle_docs, query_pieces):
    """Single queries on the driver replica (no Spark job in the loop)
    must rank identically to the numpy oracle AND to the distributed
    mapInArrow kernel (`search_blocks`)."""
    from pears_lite_spark.search.bm25 import Searcher
    postings, stats = index
    s = Searcher(postings, stats)
    assert s.flat is not None
    queries = [p for _, p in query_pieces]
    batch = _blocks_ranked(postings, stats, queries)
    for (q, pieces), via_batch in zip(query_pieces, batch):
        one = s.search([pieces], k=10)[0]
        exp = bm25_topk_oracle(oracle_docs, pieces, 10)
        assert [d for d, _ in one] == [d for d, _ in exp], q
        assert [d for d, _ in one] == [d for d, _ in via_batch], q
        for (gd, gs), (ed, es) in zip(one, exp):
            assert gs == pytest.approx(es, abs=1e-6), q


def test_concurrent_flat_queries_rank_identical(index, oracle_docs,
                                                query_pieces):
    """4 threads hammering the flat path concurrently: the replica is
    read-only and shared without a lock. Every result must equal the
    sequential answer AND the numpy oracle; afterwards the caller's
    session confs must be unchanged."""
    import threading
    from pears_lite_spark.search.bm25 import Searcher
    postings, stats = index
    s = Searcher(postings, stats)
    spark = postings.sparkSession
    codegen_before = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    work = [(qid, pieces) for qid, (q, pieces)
            in enumerate(query_pieces[:8])] * 3     # 24 queries, 4 threads
    results: dict = {}
    errors: list = []

    def worker(chunk):
        try:
            for qid, pieces in chunk:
                got = s.search([pieces], k=10)[0]
                prev = results.setdefault(qid, got)
                assert got == prev, f"nondeterministic result for q{qid}"
        except Exception as e:  # surface into the main thread
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(work[i::4],))
               for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    for qid, (q, pieces) in enumerate(query_pieces[:8]):
        exp = bm25_topk_oracle(oracle_docs, pieces, 10)
        assert [d for d, _ in results[qid]] == [d for d, _ in exp], q
    assert spark.conf.get("spark.sql.codegen.wholeStage",
                          "true") == codegen_before


def test_flat_path_launches_no_spark_job(index, query_pieces):
    """One call with every query on the driver replica launches no
    Spark job, while the same queries through `search_blocks` run the
    batch kernel; the replica's results equal the kernel's for every
    query, a zero-hit (no terms), an OOV and repeated-term queries
    included, and a single query equals its slot in the all-queries
    call."""
    from pears_lite_spark.search.bm25 import Searcher
    postings, stats = index
    sc = postings.sparkSession.sparkContext
    s = Searcher(postings, stats)
    pieces0 = query_pieces[0][1]
    queries = [p for _, p in query_pieces] + [
        [], ["▁zzzznothere"], ["▁the", "▁the"], pieces0 + pieces0]
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("replica-all", "replica-all")
        got = s.search(queries, k=10)
        sc.setJobGroup("kernel-all", "kernel-all")
        want = _blocks_ranked(postings, stats, queries)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job events reach the tracker in order: once the kernel call's job
    # shows up, any replica job would have too
    import time
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup("kernel-all") \
            and time.time() < deadline:
        time.sleep(0.1)
    assert tracker.getJobIdsForGroup("kernel-all")
    assert tracker.getJobIdsForGroup("replica-all") == []
    n = len(query_pieces)
    assert got[n:n + 2] == [[], []]
    assert got[n + 2] and got[n + 3] == got[0]
    assert got == want
    for pieces, via_all in zip(queries, got):
        assert s.search([pieces], k=10)[0] == via_all, pieces
    s.close()


def test_replica_layout(index):
    """The replica holds 12 B per posting (int32 ordinal + float64
    contribution), sorted by term with per-term offsets, its term dfs
    equal `collect_term_dfs`, and ordinals follow doc_id order."""
    import numpy as np
    from pears_lite_spark.search.bm25 import Searcher, collect_term_dfs
    postings, stats = index
    s = Searcher(postings, stats)
    r = s.flat
    assert s.term_dfs == collect_term_dfs(postings)
    assert r.ords.dtype == np.int32 and r.contrib.dtype == np.float64
    assert r.ords.nbytes + r.contrib.nbytes == 12 * r.ords.size
    assert r.ords.size == sum(s.term_dfs.values()) == r.offs[-1]
    assert dict(zip(r.terms.tolist(), np.diff(r.offs).tolist())) == s.term_dfs
    assert (np.diff(r.terms) > 0).all() and (np.diff(r.doc_ids) > 0).all()
    assert r.doc_ids.size <= stats.n_docs  # docs without tokens have no postings
    assert not r.contrib.flags.writeable
    s.close()


def test_replica_ties_at_kth_score(spark):
    """More than k identical docs tie at the k-th score: the replica
    keeps the k smallest doc_ids (negative hashed ids included). Every
    query, tied, with fewer than k hits, or scored under stale stats
    that make idf negative (n_docs below df), equals search_blocks, and
    under the true stats the exhaustive bm25_topk too."""
    from pears_lite_spark.index.build import CorpusStats
    from pears_lite_spark.search.bm25 import Searcher
    ids = [41, -7, 3, 1 << 40, -(1 << 50), 12, 5, 99, -3, 8, 77, 0, 64, 2]
    rows = [(d, ["▁alpha", "▁beta"]) for d in ids]
    rows += [(1000, ["▁alpha", "▁alpha"]), (1001, ["▁gamma"]),
             (1002, ["▁beta", "▁gamma", "▁gamma"])]
    toks = spark.createDataFrame(rows, "doc_id long, tokens array<string>")
    postings, stats = build_postings(toks)
    postings = postings.persist()
    tied = [["▁alpha"], ["▁beta"], ["▁alpha", "▁beta"]]
    queries = tied + [["▁gamma"], ["▁gamma", "▁zzzznothere"]]
    for st in (stats, CorpusStats(n_docs=1, avgdl=stats.avgdl)):
        s = Searcher(postings, st)
        got = s.search(queries, k=10)
        blocks = search_blocks(postings, st, queries, k=10).toPandas()
        for qid, q in enumerate(queries):
            sub = blocks[blocks.query_id == qid].sort_values("rank")
            assert got[qid] == list(zip(sub["doc_id"].tolist(),
                                        sub["score"].tolist())), (st, q)
        s.close()
    assert [len(g) for g in got] == [10, 10, 10, 2, 2]
    assert all(sc < 0 for g in got for _, sc in g)     # stale: idf < 0
    s = Searcher(postings, stats)
    for q in queries:
        got = s.search([q], k=10)[0]
        if q in tied:
            ties = [d for d, sc in got if sc == got[-1][1]]
            assert len(got) == 10 and ties == sorted(ids)[:len(ties)], q
        exh = bm25_topk(toks, q, 10).collect()
        assert [d for d, _ in got] == [r["doc_id"] for r in exh], q
        for (_, gs), r in zip(got, exh):
            assert gs == pytest.approx(r["score"], abs=1e-9), q
    s.close()
    postings.unpersist()


@pytest.mark.parametrize("case", ["vocab_filter_drops_all", "no_docs"])
def test_searcher_over_empty_index(spark, spm_tokens_df, query_pieces, case):
    """An index without postings serves [] per query on the replica
    (empty) and on the batch kernel (`search_blocks`)."""
    from pears_lite_spark.search.bm25 import Searcher
    if case == "no_docs":
        postings, stats = build_postings(spark.createDataFrame(
            [], "doc_id long, tokens array<string>"))
    else:
        postings, stats = build_postings(
            spm_tokens_df, vocab_filter=spark.createDataFrame(
                [("▁zzzznothere",)], "term string"))
    queries = [p for _, p in query_pieces[:5]]
    s = Searcher(postings, stats)
    assert s.flat is not None
    assert s.search(queries[:1], k=10) == [[]]                # replica
    assert s.search(queries, k=10) == [[] for _ in queries]   # replica
    s.close()
    assert _blocks_ranked(postings, stats, queries[:1]) == [[]]
