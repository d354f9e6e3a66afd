"""Extraction + tokenization parity: the per-row invariant (distributed
UDF output must be byte-identical to the driver-side oracle and to the
corpus's stored expected text)."""

import pandas as pd
from pyspark.sql import functions as F

from pears_lite_spark.functions.extract import detect_lang, extract_df, extract_html
from pears_lite_spark.vocab import get_vocab
from pears_lite_spark.search.parity import group_subwords


def test_extract_invariant_driver_side(corpus_pdf):
    for _, row in corpus_pdf.iterrows():
        title, body, snippet, lang = extract_html(row.html)
        assert body == row.text, row.url
        assert snippet == body[:300].replace(",", "-")
        assert lang == row.lang


def test_extract_parity_spark(spark, corpus_pdf):
    cdf = spark.createDataFrame(corpus_pdf)
    got = extract_df(cdf).select("url", "text", "lang").toPandas()
    exp = corpus_pdf[["url", "text", "lang"]]
    m = got.merge(exp, on="url", suffixes=("_got", "_exp"))
    assert len(m) == len(corpus_pdf)
    assert (m.text_got == m.text_exp).all()
    assert (m.lang_got == m.lang_exp).all()


GOOD_P = (b"<p>the quick brown fox jumps over the lazy dog and it runs far "
          b"away from the old house into the deep green forest by the "
          b"river</p>")  # >100 chars, high stopword density -> cf good


def test_extract_boilerplate_rules():
    html = (b"<html><head><title>T</title></head><body>"
            b"<nav><a href='/'>home</a> <a href='/x'>about</a></nav>"
            + GOOD_P +
            b"<p>short</p>"
            b"<footer>copyright 2024</footer></body></html>")
    title, body, snippet, lang = extract_html(html)
    assert title == "T"
    assert "quick brown fox" in body
    assert "home" not in body          # link-density kill
    assert "short" not in body         # short, good+bad neighbours -> bad
    assert "copyright" not in body     # short boilerplate -> bad
    assert lang == "en"


def test_revision_short_between_goods_promoted():
    # jusText context-sensitive rule: a short block flanked by good
    # paragraphs on both sides is content (figure caption, list item)
    html = (b"<html><body>" + GOOD_P + b"<p>fig one</p>" + GOOD_P
            + b"</body></html>")
    _, body, _, _ = extract_html(html)
    assert "fig one" in body


def test_revision_lone_neargood_dies():
    # neargood between two document boundaries (= bad) is boilerplate;
    # real jusText drops a lone sub-length_high paragraph like this
    html = (b"<html><body><p>the quick brown fox jumps over the lazy "
            b"dog today</p></body></html>")
    _, body, _, _ = extract_html(html)
    assert body == ""


def test_revision_heading_adopts_good_content():
    # a short heading directly above good content is kept (neargood ->
    # good via the neighbour rule), per jusText's heading promotion
    html = (b"<html><body><h2>Forest rivers</h2>" + GOOD_P
            + b"</body></html>")
    _, body, _, _ = extract_html(html)
    assert body.startswith("Forest rivers ")
    # the same short text NOT as a heading, at the document edge -> bad
    html2 = (b"<html><body><p>Forest rivers</p>" + GOOD_P
             + b"</body></html>")
    _, body2, _, _ = extract_html(html2)
    assert not body2.startswith("Forest rivers")


def test_copyright_mark_kills_paragraph():
    p = ("<p>\xa9 2024 the quick brown fox jumps over the lazy dog and "
         "it runs far away from the old house into the deep green "
         "forest</p>").encode("utf-8")
    html = b"<html><body>" + GOOD_P + p + b"</body></html>"
    _, body, _, _ = extract_html(html)
    assert "\xa9" not in body and "2024" not in body
    assert "quick brown fox" in body  # the clean twin stays


def test_detect_lang_profiles():
    assert detect_lang("the cat is on the mat and it is happy") == "en"
    assert detect_lang("der hund ist in dem haus und er ist") == "de"
    assert detect_lang("zq001 zq002 zq003") == "xx"
    assert detect_lang("") == "xx"


def test_tokenizer_deterministic_and_word_markers():
    v = get_vocab()
    a = v.encode_as_pieces("Watermelon Festival Season")
    b = v.encode_as_pieces("watermelon  festival   season")
    assert a == b  # lowercase + whitespace collapse
    words = group_subwords(a)
    assert len(words) == 3  # three ▁-initiated words
    assert all(w[0].startswith("▁") for w in words)
    assert "".join(p for w in words for p in w).count("▁") == 3


def test_tokenizer_spark_parity(spark, corpus_pdf, spm_tokens_df, corpus_df):
    v = get_vocab()
    got = {r["doc_id"]: r["tokens"] for r in spm_tokens_df.collect()}
    ids = {r["url"]: r["doc_id"]
           for r in corpus_df.select("url", "doc_id").collect()}
    checked = 0
    for _, row in corpus_pdf.head(60).iterrows():
        exp = v.encode_as_pieces(row.text)
        assert got[ids[row.url]] == exp, row.url
        checked += 1
    assert checked == 60


def test_vocab_membership_unknowns():
    v = get_vocab()
    pieces = v.encode_as_pieces("water §§§")
    assert "▁water" in pieces
    # unknown chars surface as single-char fallback pieces, droppable by
    # a vocab-membership filter (reference posix.py:20-22 rule)
    unknown = [p for p in pieces if p not in v.piece_to_id]
    assert unknown


def test_partial_builder_deferred_hash_matches_per_token():
    """The vectorized flush path (pd.factorize + unique-term hashing,
    _drain_pend) must produce the same RUN SET as a per-token
    reference: same (slot, term_id, doc_id, tf, dl, positions) for
    every run. Within-term run ORDER may differ (insertion vs doc
    order) — phase B canonicalizes it with its own (doc, term)
    lexsort, which test_build_from_corpus_matches_tokens_path and the
    byte-parity resume tests pin end-to-end."""
    import numpy as np

    from pears_lite_spark.index.build import _PartialBuilder
    from pears_lite_spark.xxh64 import xxh64_signed

    docs = [
        (xxh64_signed("u1"), ["a", "b", "a", "c", "a"]),
        (xxh64_signed("u2"), ["b", "b", "d"]),
        (xxh64_signed("u3"), ["e"]),
        (xxh64_signed("u4"), ["a", "e", "a"]),
    ]

    def runs_of(frames):
        out = {}
        for f in frames:
            for _, row in f.iterrows():
                t = np.frombuffer(row["terms"], np.int64)
                d = np.frombuffer(row["docs"], np.int64)
                tf = np.frombuffer(row["tfs"], np.int32)
                dl = np.frombuffer(row["dls"], np.int32)
                pp = np.frombuffer(row["poss"], np.int32)
                starts = np.zeros(tf.size, np.int64)
                np.cumsum(tf[:-1], out=starts[1:])
                for i in range(t.size):
                    key = (row["p"], int(t[i]), int(d[i]))
                    assert key not in out, "duplicate run in one flush"
                    out[key] = (int(tf[i]), int(dl[i]),
                                tuple(pp[starts[i]:starts[i] + tf[i]]))
        return out

    # deferred path (production): add_tokens -> pend -> flush
    b_new = _PartialBuilder(50, 4, True)
    for did, toks in docs:
        b_new.add_tokens(did, toks, len(toks))
    got = runs_of([b_new.flush()])

    # per-token reference: hash each token eagerly through add()
    b_ref = _PartialBuilder(50, 4, True)
    for did, toks in docs:
        ids = np.fromiter(map(b_ref.tid_of, toks), np.int64, len(toks))
        b_ref.add(did, ids, np.arange(len(toks), dtype=np.int32),
                  len(toks))
    exp = runs_of([b_ref.flush()])

    assert got == exp
    # sanity: tf>1 runs kept their ascending in-doc positions
    a_tid = xxh64_signed("a")
    u1 = xxh64_signed("u1")
    tf, dl, pos = next(v for (p, t, d), v in got.items()
                       if t == a_tid and d == u1)
    assert (tf, dl, pos) == (3, 5, (0, 2, 4))
