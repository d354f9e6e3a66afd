"""Source operators (S1/S5/S6/S10/S15/S16) + index-positions phrase
scoring (C6 through the codec)."""

import os

import pytest
from pyspark.sql import functions as F


def test_read_url_list(spark, tmp_path):
    from pears_lite_spark.sources import read_url_list
    p = tmp_path / "urls.txt"
    p.write_text("https://a/x;news;en\nhttps://b/y;;de\nhttps://c/z\n\n"
                 "https://d/w;blog\n")
    rows = {r["url"]: (r["keyword"], r["lang"])
            for r in read_url_list(spark, str(p)).collect()}
    assert rows["https://a/x"] == ("news", "en")
    assert rows["https://b/y"] == ("home", "de")   # default keyword
    assert rows["https://c/z"] == ("home", "en")   # both defaults
    assert rows["https://d/w"] == ("blog", "en")   # default lang
    assert len(rows) == 4


def test_extract_links(spark):
    from pears_lite_spark.sources import extract_links_df
    html = (b"<html><body><a href='/rel'>r</a> "
            b"<a href=\"https://other.example/abs\">a</a></body></html>")
    df = spark.createDataFrame([("https://base.example/dir/page", html)],
                               "url string, html binary")
    links = sorted(r["link"] for r in extract_links_df(df).collect())
    assert links == ["https://base.example/rel",
                     "https://other.example/abs"]


def test_bfs_frontier_first_reach_depth(spark):
    from pears_lite_spark.sources import bfs_frontier
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3), (4, 5), (9, 1)],
        "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["depth"]
           for r in bfs_frontier(edges, seeds, max_depth=10).collect()}
    assert got == {1: 0, 2: 1, 3: 1, 4: 2, 5: 3}


def test_share_and_subscribe(spark):
    from pears_lite_spark.sources import make_shareable_pod, subscribe_pod
    docs = spark.createDataFrame(
        [(1, "t1", "en", "podA"), (2, "t2", "en", "podB")],
        "doc_id long, text string, lang string, source string")
    lines = [r["line"] for r in make_shareable_pod(docs, "podA").collect()]
    assert lines == ["1;podA;en"]
    imported = spark.createDataFrame(
        [(2, "dup", "en", "podB"), (3, "t3", "de", "podC")],
        "doc_id long, text string, lang string, source string")
    merged = subscribe_pod(docs, imported)
    got = {r["doc_id"]: r["text"] for r in merged.collect()}
    assert got == {1: "t1", 2: "t2", 3: "t3"}  # existing rows win


def test_csv_to_docs(spark, tmp_path):
    from pears_lite_spark.sources import csv_to_docs
    p = tmp_path / "x.csv"
    p.write_text("a;b\n1;hello\n2;world\n")
    rows = csv_to_docs(spark, str(p), "x.csv").collect()
    assert len(rows) == 2
    assert all("a: " in r["text"] and "b: " in r["text"] for r in rows)
    assert all(r["url"].startswith("x.csv#row [") for r in rows)


def test_phrase_scores_from_index_matches_oracle(spark, corpus_pdf,
                                                 spm_tokens_df):
    from pears_lite_spark.corpus import PHRASES
    from pears_lite_spark.index.build import build_postings
    from pears_lite_spark.search.parity import (group_subwords,
                                                phrase_adjacency_score)
    from pears_lite_spark.search.phrase import phrase_scores_from_index
    from pears_lite_spark.vocab import get_vocab
    v = get_vocab()
    postings, stats = build_postings(spm_tokens_df)
    docs = {r["doc_id"]: list(r["tokens"]) for r in spm_tokens_df.collect()}
    for phrase in PHRASES[:3]:
        pieces = v.encode_as_pieces(phrase)
        words = group_subwords(pieces)
        got = {r["doc_id"]: r["phrase_score"] for r in
               phrase_scores_from_index(postings, pieces).collect()}
        # oracle: same rule computed directly from token positions
        exp = {}
        pset = {p for w in words for p in w}
        for d, toks in docs.items():
            posmap = {}
            for i, t in enumerate(toks):
                if t in pset:
                    posmap.setdefault(t, []).append(i)
            if len(posmap) == len(pset):
                exp[d] = phrase_adjacency_score(words, posmap)
        assert got == pytest.approx(exp), phrase
        assert any(s == 1.0 for s in got.values()), phrase  # planted doc



def _phrase_scores(postings, phrase):
    from pears_lite_spark.search.phrase import phrase_scores_from_index
    from pears_lite_spark.vocab import get_vocab
    pieces = get_vocab().encode_as_pieces(phrase)
    return {r["doc_id"]: r["phrase_score"] for r in
            phrase_scores_from_index(postings, pieces).collect()}


def test_phrase_plan_is_one_arrow_kernel_over_pruned_scan(spark, tmp_path,
                                                          spm_tokens_df):
    """Phrase scoring reads the index as search_blocks does: the term_id
    IN filter reaches the Parquet scan and one mapInArrow kernel scores
    the doc_range-partitioned blocks, with no grouped pandas UDF."""
    import re
    from pears_lite_spark.corpus import PHRASES
    from pears_lite_spark.index.build import (build_postings, read_index,
                                              write_index)
    from pears_lite_spark.search.phrase import phrase_scores_from_index
    from pears_lite_spark.vocab import get_vocab
    postings, stats = build_postings(spm_tokens_df)
    write_index(postings, str(tmp_path / "idx"), stats=stats)
    postings, _ = read_index(spark, str(tmp_path / "idx"))
    out = phrase_scores_from_index(
        postings, get_vocab().encode_as_pieces(PHRASES[0]))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bMapInArrow\b", plan)) == 1, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    pushed = re.findall(r"PushedFilters: \[[^\n]*", plan)
    assert any("In(term_id," in p for p in pushed), plan


def test_phrase_scores_multi_part_index_match_single_part(spark, tmp_path,
                                                           spm_tokens_df):
    """A 3-part resumable index scores every phrase as the single-part
    build does: each doc_range's blocks from every part meet in one
    kernel call."""
    from pears_lite_spark.corpus import PHRASES
    from pears_lite_spark.index.build import build_postings
    from pears_lite_spark.index.checkpoint import (build_resumable,
                                                   read_resumable)
    one, _ = build_postings(spm_tokens_df)
    build_resumable(spm_tokens_df, str(tmp_path / "res"), n_parts=3)
    three, _ = read_resumable(spark, str(tmp_path / "res"))
    assert three.select("part").distinct().count() == 3
    for phrase in PHRASES[:3]:
        want = _phrase_scores(one, phrase)
        assert want, phrase
        assert _phrase_scores(three, phrase) == want, phrase


def test_phrase_scores_refuse_positionless_index(spark):
    """An index built without positions cannot be phrase-scored: the
    kernel refuses it by name instead of failing inside the decoder."""
    from pears_lite_spark.index.build import build_postings
    from pears_lite_spark.search.phrase import phrase_scores_from_index
    toks = spark.createDataFrame(
        [(1, ["▁a", "▁b"]), (2, ["▁b", "▁a"])],
        "doc_id long, tokens array<string>")
    postings, _ = build_postings(toks, with_positions=False)
    with pytest.raises(Exception, match="ValueError: phrase scoring needs "
                       "an index built with positions"):
        phrase_scores_from_index(postings, ["▁a", "▁b"]).collect()

def test_robots_gate_reference_quirk(spark):
    from pears_lite_spark.contract import ROBOTS_FIXTURES
    from pears_lite_spark.sources import robots_gate
    df = spark.createDataFrame(ROBOTS_FIXTURES, "site string, robots string")
    got = {r["site"]: (r["n_disallow"], r["allowed"])
           for r in robots_gate(df).collect()}
    assert got["a.example"] == (2, False)   # two Disallow under *
    assert got["b.example"] == (0, True)    # Disallow under googlebot only
    assert got["c.example"] == (0, True)    # Allow-only section
    assert got["d.example"] == (1, False)   # only the * section counts
    assert got["e.example"] == (0, True)    # empty robots.txt


def test_local_docs_and_bookmarks_scan(spark):
    from pears_lite_spark.contract import (_fixture_bookmarks_file,
                                           _fixture_docs_file)
    from pears_lite_spark.sources import read_bookmarks, read_local_docs
    docs = {r["url"]: (r["title"], r["text"])
            for r in read_local_docs(spark, _fixture_docs_file()).collect()}
    assert docs["file:///a"] == ("Alpha", "first local document body")
    assert docs["file:///c"] == ("Gamma", "padded body")
    assert len(docs) == 3
    bms = {r["url"]: r["title"]
           for r in read_bookmarks(spark, _fixture_bookmarks_file()).collect()}
    assert bms == {"https://n1.example/": "Site One",
                   "https://n2.example/x": "Site Two",
                   "https://other.example/": "Other"}


def test_subscribe_pod_existing_wins(spark):
    from pears_lite_spark.sources import subscribe_pod
    existing = spark.createDataFrame(
        [(1, "old"), (2, "old")], "doc_id long, source string")
    imported = spark.createDataFrame(
        [(2, "new"), (3, "new")], "doc_id long, source string")
    got = {r["doc_id"]: r["source"]
           for r in subscribe_pod(existing, imported).collect()}
    assert got == {1: "old", 2: "old", 3: "new"}


def test_fetch_urls_host_partitioning_and_errors(spark):
    """S2: each host's urls serialize through one partition; fetch
    failures become error rows, not crashes."""
    from pears_lite_spark.sources import fetch_urls_df
    from pyspark.sql import functions as F
    urls = spark.createDataFrame(
        [(f"https://h{i % 4}.example/p{i}",) for i in range(24)],
        "url string")

    def fake(url):
        if url.endswith("7"):
            raise RuntimeError("boom")
        return b"<html>" + url.encode() + b"</html>"

    out = fetch_urls_df(urls, fetcher=fake, rate_limit_per_sec=1e6,
                        n_partitions=4).cache()
    assert out.count() == 24
    bad = out.filter(~F.col("ok"))
    assert bad.count() == 2  # p7, p17
    assert all("boom" in r["err"] for r in bad.collect())
    ok = out.filter(F.col("ok"))
    assert all(bytes(r["html"]).startswith(b"<html>") for r in ok.collect())


def test_fetch_rate_limit_enforced(spark):
    """The per-task token bucket actually spaces requests."""
    import time
    from pears_lite_spark.sources import fetch_urls_df
    urls = spark.createDataFrame([(f"https://one.example/{i}",)
                                  for i in range(6)], "url string")
    t0 = time.time()
    fetch_urls_df(urls, fetcher=lambda u: b"x", rate_limit_per_sec=20,
                  n_partitions=1).count()
    # 6 sequential fetches at 20 req/s >= 0.25s of enforced spacing
    assert time.time() - t0 >= 0.25


def test_access_check_blocks_disallowed_hosts(spark):
    from pears_lite_spark.contract import ROBOTS_FIXTURES
    from pears_lite_spark.sources import access_check
    robots = spark.createDataFrame(ROBOTS_FIXTURES,
                                   "site string, robots string")
    urls = spark.createDataFrame(
        [(f"https://{s}/x",) for s, _ in ROBOTS_FIXTURES]
        + [("https://unknown.example/x",)], "url string")
    got = sorted(r["url"] for r in access_check(urls, robots).collect())
    # a: Disallow rules -> blocked; d: Disallow under * -> blocked;
    # b (googlebot-only section), c (Allow /), e (empty) -> allowed;
    # unknown host (no robots row) -> blocked
    assert got == ["https://b.example/x", "https://c.example/x",
                   "https://e.example/x"]


def test_pagerank_fixed_point_properties(spark):
    """Deterministic integer PageRank: mass approximately conserved
    (floor-division leakage only), hubs with more in-links rank
    higher, dangling mass redistributed (no zero ranks)."""
    from pears_lite_spark.sources import PAGERANK_SCALE, pagerank
    edges = spark.createDataFrame(
        [(1, 3), (2, 3), (4, 3), (5, 3),   # 3 is the hub
         (1, 2), (3, 6)],                  # 6 only fed by the hub
        "src long, dst long")
    out = {r["node"]: r["rank_e12"] for r in pagerank(edges, iters=5).collect()}
    assert set(out) == {1, 2, 3, 4, 5, 6}
    total = sum(out.values())
    assert 0.95 * PAGERANK_SCALE <= total <= PAGERANK_SCALE
    # the hub (3) and its sole successor (6, receiving ALL of the
    # hub's mass) dominate the leaf nodes
    assert sorted(out, key=out.get, reverse=True)[:2] == [6, 3]
    assert out[3] > max(out[v] for v in (1, 2, 4, 5))
    assert all(v > 0 for v in out.values())     # teleport floor
    # deterministic: a second run is bit-identical
    out2 = {r["node"]: r["rank_e12"] for r in pagerank(edges, iters=5).collect()}
    assert out == out2
