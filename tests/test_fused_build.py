"""The fused build's job shape and its stats channel: build_from_corpus
+ write_index run the corpus row count and one write job, persist
nothing, and the corpus stats come from the phase-B tasks."""

import json
import os

import pandas as pd
import pytest

from pears_lite_spark.corpus import gen_corpus
from pears_lite_spark.index.build import (CorpusStats, build_from_corpus,
                                          corpus_stats, ingest_tokens,
                                          range_shift_for, read_stats,
                                          write_index)

from tools.explain_audit import jobs_launched

from .test_resume_streaming import _block_frame

COLS = ["term_id", "doc_range", "block_id", "first_doc", "last_doc",
        "n", "max_impact", "docs", "tfs", "dls", "positions"]
NOT_RUN = "stats are known once the postings have run"


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_fused_build_is_the_count_and_one_write(spark, tmp_path):
    """build_from_corpus persists nothing and launches only the corpus
    row count's jobs; write_index launches only the write's: the
    phase-A shuffle (AQE runs it as a map-stage job) and the phase-B +
    write job. The stats equal corpus_stats over ingest_tokens exactly,
    and reading them before the postings have run raises."""
    cdf = spark.createDataFrame(gen_corpus(120)).select("url", "html")
    path = str(tmp_path / "idx")
    before = _persisted(spark)
    n_count = jobs_launched(spark, cdf.count, "fused-shape-count")
    built = {}

    def build():
        built["postings"], built["stats"] = build_from_corpus(cdf)

    assert jobs_launched(spark, build, "fused-shape-build") == n_count
    assert _persisted(spark) == before
    stats = built["stats"]
    with pytest.raises(RuntimeError, match=NOT_RUN):
        stats.n_docs

    def write():
        write_index(built["postings"], path, stats=stats)

    assert jobs_launched(spark, write, "fused-shape-write") == 2
    assert _persisted(spark) == before
    ref = corpus_stats(ingest_tokens(cdf))
    assert ref.n_docs > 0
    assert stats == ref
    assert read_stats(path) == ref


def test_edge_corpora_give_zero_stats(spark, tmp_path):
    """A corpus with no extractable page, and an empty one, write
    `_stats.json` {n_docs: 0, avgdl: 0.0}."""
    pages = gen_corpus(100)
    xx = pages[pages["lang"] == "xx"][["url", "html"]]
    empty = pd.DataFrame({"url": ["https://empty.example/"], "html": [b""]})
    unextractable = spark.createDataFrame(pd.concat([xx, empty]))
    for name, df in (("unextractable", unextractable),
                     ("empty", unextractable.limit(0))):
        path = str(tmp_path / name)
        postings, stats = build_from_corpus(df)
        write_index(postings, path, stats=stats)
        with open(os.path.join(path, "_stats.json")) as fh:
            assert json.load(fh) == {"n_docs": 0, "avgdl": 0.0}, name
        assert stats == CorpusStats(n_docs=0, avgdl=0.0)


def test_postings_run_twice_give_one_stats_value(spark, tmp_path):
    """Running the postings twice (a collect, then write_index) counts
    the corpus once: the phase-B tasks of both runs report the same
    (n_docs, sum_dl), and the stats stay those of the tokens path."""
    cdf = spark.createDataFrame(gen_corpus(90)).select("url", "html")
    ref = corpus_stats(ingest_tokens(cdf))
    postings, stats = build_from_corpus(
        cdf, range_shift=range_shift_for(ref.n_docs))
    blocks = _block_frame(postings, COLS)
    assert len(blocks) > 0
    first = (stats.n_docs, stats.avgdl)
    path = str(tmp_path / "idx")
    write_index(postings, path, stats=stats)
    assert (stats.n_docs, stats.avgdl) == first == (ref.n_docs, ref.avgdl)
    assert read_stats(path) == ref
    assert _block_frame(spark.read.parquet(path), COLS).equals(blocks)
