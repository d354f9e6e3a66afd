"""The phase-A kernel and the phase-B merge, run in-process (no Spark):
duplicate docs inside one flush, and flush boundaries."""

import numpy as np
import pandas as pd
import pyarrow as pa

from pears_lite_spark.index import build, codec
from pears_lite_spark.xxh64 import xxh64_signed

from .oracle import decoded_postings

SLOTS = 4
SHIFT = 62  # doc_range = doc_id >> SHIFT: four doc ranges


def _merged(frames, avgdl=10.0):
    """Phase B over partial frames: one _merge_factory call per slot
    (stats rows included; avgdl None takes it from them), blocks sorted
    by (term_id, doc_range, block_id)."""
    parts = pd.concat(frames, ignore_index=True)
    out = []
    for _, slot in parts.groupby("p", sort=True):
        rb = pa.RecordBatch.from_pandas(slot.reset_index(drop=True),
                                        preserve_index=False)
        kern = build._merge_factory(avgdl, codec.BLOCK_SIZE, True, SHIFT)
        out += [b.to_pandas() for b in kern(iter([rb]))]
    return (pd.concat(out, ignore_index=True)
            .sort_values(["term_id", "doc_range", "block_id"])
            .reset_index(drop=True))


def _postings(blocks, term):
    """{doc_id: (tf, dl, positions)} of one term's decoded blocks."""
    out = {}
    for _, d, tf, dl, p in decoded_postings(
            blocks[blocks["term_id"] == xxh64_signed(term)]):
        assert d not in out, "one doc twice in a posting list"
        out[d] = (tf, dl, p)
    return out


def _flush(docs):
    b = build._PartialBuilder(SHIFT, SLOTS, True)
    for d, toks in docs:
        b.add_tokens(d, toks, len(toks))
    return b.flush()


def test_duplicate_doc_in_one_flush_matches_split_flushes():
    """Doc 7 arriving twice in ONE flush indexes exactly as when its
    copies land in two flushes: phase B sums tf and dl and sorts the
    positions (the fragments behave as the concatenated doc)."""
    frag1, frag2 = ["a", "b", "a"], ["a", "c"]
    one = _merged([_flush([(7, frag1), (7, frag2), (9, ["a"])])])
    two = _merged([_flush([(7, frag1), (9, ["a"])]), _flush([(7, frag2)])])
    assert one.equals(two)
    got = _postings(one, "a")
    assert got[7] == (3, 5, [0, 0, 2])
    assert got[9] == (1, 1, [0])
    # terms in one fragment only keep that fragment's dl
    assert _postings(one, "b")[7] == (1, 3, [1])
    assert _postings(one, "c")[7] == (1, 2, [1])


def test_per_token_add_keys_runs_per_source_doc():
    """add(), the per-token reference, splits a duplicate doc's runs
    the same way the deferred-hash drain does."""
    frag1, frag2 = ["a", "b", "a"], ["a", "c"]
    b = build._PartialBuilder(SHIFT, SLOTS, True)
    for toks in (frag1, frag2):
        ids = np.fromiter(map(b.tid_of, toks), np.int64, len(toks))
        b.add(7, ids, np.arange(len(toks), dtype=np.int32), len(toks))
    blocks = _merged([b.flush()])
    assert blocks.equals(_merged([_flush([(7, frag1), (7, frag2)])]))
    assert _postings(blocks, "a")[7] == (3, 5, [0, 0, 2])


def _run_phase_a(docs_of, pdf, batch_rows=50):
    """The phase-A frames, and per frame its stats rows' (p, n_docs,
    sum_dl): the rows with an empty `terms` blob."""
    kern = build._phase_a_factory(docs_of, SHIFT, SLOTS, True)
    batches = (pdf.iloc[i:i + batch_rows].reset_index(drop=True)
               for i in range(0, len(pdf), batch_rows))
    frames = list(kern(batches))
    stats = [[(p, *np.frombuffer(d, np.int64).tolist())
              for p, t, d in zip(f["p"], f["terms"], f["dls"]) if t == b""]
             for f in frames]
    return frames, stats


def test_flush_boundaries_do_not_change_blocks(monkeypatch):
    """The one phase-A kernel, fed by either docs_of source (tokens as
    given, or extract/hash/tokenize over html), gives the same merged
    blocks and doc stats with a ~100-row flush threshold as with the
    default one. Each flush sends its (n_docs, sum_dl) to every slot,
    and phase B given no avgdl takes total_dl / n_docs from them."""
    from pears_lite_spark.corpus import gen_corpus
    corpus = gen_corpus(300)[["url", "html"]]
    tokens = pd.DataFrame(list(build._extracted(corpus, "spm")),
                          columns=["doc_id", "url", "lang", "tokens"])
    sources = {
        "tokens": (lambda pdf: zip(pdf["doc_id"], pdf["tokens"]), tokens),
        "corpus": (lambda pdf: ((d, t) for d, _, _, t
                                in build._extracted(pdf, "spm")), corpus),
    }
    n_docs = len(tokens)
    total_dl = int(sum(len(t) for t in tokens["tokens"]))
    assert 0 < n_docs < len(corpus)     # the 'xx' pages are dropped
    default, ref = build.FLUSH_ROWS, None
    for flush_rows in (default, 100):
        monkeypatch.setattr(build, "FLUSH_ROWS", flush_rows)
        for name, (docs_of, pdf) in sources.items():
            frames, stats = _run_phase_a(docs_of, pdf)
            # one stats emission per flush, one row per slot: 6 batches
            # -> 1 flush at the default threshold, ~one per doc at 100
            for rows in stats:
                assert sorted(p for p, _, _ in rows) == list(range(SLOTS))
                assert len({(n, s) for _, n, s in rows}) == 1
            assert (len(frames) == 1) == (flush_rows == default)
            assert sum(rows[0][1] for rows in stats) == n_docs
            assert sum(rows[0][2] for rows in stats) == total_dl
            blocks = _merged(frames, avgdl=total_dl / n_docs)
            if ref is None:
                ref = blocks
            assert blocks.equals(ref), (name, flush_rows)
            assert _merged(frames, avgdl=None).equals(ref), (name, flush_rows)
