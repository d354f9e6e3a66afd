"""Unit tests for the reference-parity operators (SURVEY.md §2)."""

import pytest
from pyspark.sql import functions as F

from pears_lite_spark.search import parity


def test_parse_query():
    assert parity.parse_query("black cat -fr") == ("black cat", None, "fr")
    assert parity.parse_query("?word rest") == ("word rest", "ind", None)
    assert parity.parse_query("!csvdoc find me") == ("find me", "csvdoc", None)
    assert parity.parse_query("path/doc thing")[1] == "doc"
    assert parity.parse_query("plain query") == ("plain query", None, None)


def test_phrase_adjacency_score_reference_rule():
    # pieces of "watermelon" = ▁water mel on at positions 5,6,7 (adjacent)
    positions = {"▁water": [5], "mel": [6], "on": [7, 20], "▁festival": [8]}
    qw = [["▁water", "mel", "on"], ["▁festival"]]
    assert parity.phrase_adjacency_score(qw, positions) == 1.0
    # break adjacency -> word no longer matches
    positions2 = {"▁water": [5], "mel": [9], "on": [10], "▁festival": [8]}
    assert parity.phrase_adjacency_score(qw, positions2) == 0.5
    # missing piece -> 0 for that word
    assert parity.phrase_adjacency_score(qw, {"▁festival": [1]}) == 0.5
    assert parity.phrase_adjacency_score([], {}) == 0.0


def test_group_subwords_marker_rule():
    pieces = ["▁water", "mel", "on", "▁festival", "▁sea", "son"]
    assert parity.group_subwords(pieces) == [
        ["▁water", "mel", "on"], ["▁festival"], ["▁sea", "son"]]
    # leading non-marker piece still starts a word (defensive)
    assert parity.group_subwords(["x", "▁a"]) == [["x"], ["▁a"]]


@pytest.fixture(scope="module")
def toy_tokens(spark):
    rows = [
        (1, ["a", "b", "c", "a"]),
        (2, ["b", "c", "d"]),
        (3, ["a", "x", "y", "b"]),
        (4, ["z"]),
    ]
    return spark.createDataFrame(rows, "doc_id long, tokens array<string>")


def test_conjunctive_and(toy_tokens):
    got = sorted(r["doc_id"] for r in
                 parity.conjunctive_and(toy_tokens, ["a", "b"]).collect())
    assert got == [1, 3]


def test_completeness(toy_tokens):
    got = {r["doc_id"]: r["completeness"] for r in
           parity.completeness(toy_tokens, ["a", "b", "z"]).collect()}
    assert got[1] == pytest.approx(2 / 3)
    assert got[4] == pytest.approx(1 / 3)


def test_phrase_match(toy_tokens):
    got = sorted(r["doc_id"] for r in
                 parity.phrase_match(toy_tokens, ["b", "c"]).collect())
    assert got == [1, 2]
    got2 = sorted(r["doc_id"] for r in
                  parity.phrase_match(toy_tokens, ["c", "b"]).collect())
    assert got2 == []


def test_wta_and_l2(spark):
    rows = [(1, "a", 3.0), (1, "b", 4.0), (1, "c", 1.0), (2, "a", 2.0)]
    df = spark.createDataFrame(rows, "doc_id long, term string, w double")
    top = parity.wta_topk(df, 2)
    assert sorted((r["doc_id"], r["term"]) for r in top.collect()) == [
        (1, "a"), (1, "b"), (2, "a")]
    norm = parity.l2_normalize(df.filter("doc_id = 1"))
    vals = {r["term"]: r["w"] for r in norm.collect()}
    assert vals["a"] == pytest.approx(3 / (26 ** 0.5))
    s = sum(v * v for v in vals.values())
    assert s == pytest.approx(1.0)


def test_pod_prune_top3_or_all(spark):
    rows = [("p%d" % i, s) for i, s in
            enumerate([0.5, 0.4, 0.3, 0.2, 0.1])]
    df = spark.createDataFrame(rows, "pod string, score double")
    kept = sorted(r["pod"] for r in parity.pod_prune(df).collect())
    assert kept == ["p0", "p1", "p2"]
    low = spark.createDataFrame([("a", 0.005), ("b", 0.002), ("c", 0.001),
                                 ("d", 0.0005)], "pod string, score double")
    assert len(parity.pod_prune(low).collect()) == 4  # fallback: all pods


def test_cosine_scores(spark, toy_tokens):
    got = {r["doc_id"]: r["cosine"] for r in
           parity.cosine_scores(toy_tokens, ["a", "b"]).collect()}
    # doc 1: tf a=2,b=1,c=1; dot = (2+1)/sqrt(2); |d| = sqrt(6)
    assert got[1] == pytest.approx(3 / (2 ** 0.5) / (6 ** 0.5))
    assert 4 not in got


def test_parse_query_df_matches_scalar(spark):
    qs = ["black cat -fr", "?word rest", "!csvdoc find me",
          "path/doc thing", "plain query", "!x", "mix ?x !y end -de"]
    got = {r["q"]: (r["clean"], r["doctype"], r["lang"])
           for r in parity.parse_query_df(
               spark.createDataFrame([(s,) for s in qs], "q string")).collect()}
    for q in qs:
        clean, doctype, lang = parity.parse_query(q)
        assert got[q] == (clean, doctype or "", lang or ""), q


def test_url_dice_overlap_reference_formula(spark):
    # reference: dice(set(query.lower()), set(last_segment.lower()))
    df = spark.createDataFrame(
        [(1, "https://x.example/a/spark-doc/"), (2, "https://x.example/zzz")],
        "doc_id long, url string")
    got = {r["doc_id"]: r["dice"] for r in
           parity.url_dice_overlap(df, "spark").collect()}

    def ref(q, url):
        import re
        url = url.rstrip("/")
        m = re.search(r".*/([^/]+)", url)
        seg = m.group(1) if m else url
        a, b = set(q.lower()), set(seg.lower())
        return 2 * len(a & b) / (len(a) + len(b))

    assert got[1] == pytest.approx(ref("spark", "https://x.example/a/spark-doc/"))
    assert got[2] == pytest.approx(ref("spark", "https://x.example/zzz"))


def test_embedding_near_dup_exact_superset_of_lsh(spark):
    import random
    rnd = random.Random(7)
    base = [rnd.gauss(0, 1) for _ in range(40)]
    rows = []
    for i in range(30):
        if i % 3 == 0:  # near-dup of base
            v = [x + rnd.gauss(0, 0.01) for x in base]
        else:
            v = [rnd.gauss(0, 1) for _ in range(40)]
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    from pears_lite_spark.dedup import embedding_near_dup_pairs
    exact = {(r["id_a"], r["id_b"]) for r in
             embedding_near_dup_pairs(df, 0.99, method="exact").collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in
           embedding_near_dup_pairs(df, 0.99, method="lsh").collect()}
    assert lsh <= exact          # LSH never invents pairs
    assert len(exact) == 45      # C(10,2) near-dup cluster
    assert len(lsh) == 45        # sign-buckets agree for near-identical vecs


def test_min_window_spans_hand_cases(spark):
    """Minimum cover window: exact smallest span, docs missing a
    term excluded, overlapping occurrences handled."""
    from pears_lite_spark.search.parity import min_window_spans
    docs = spark.createDataFrame(
        [(1, "a x x b x c a b c x".split(" ")),       # abc at 6,7,8 -> 3
         (2, "a x b x x c".split(" ")),               # 0..5 -> 6
         (3, "a b x x x x".split(" ")),               # missing c
         (4, "c b a".split(" "))],                    # 0..2 -> 3
        "doc_id long, tokens array<string>")
    out = {r["doc_id"]: r["min_window"] for r in
           min_window_spans(docs, ["a", "b", "c"]).collect()}
    assert out == {1: 3, 2: 6, 4: 3}
