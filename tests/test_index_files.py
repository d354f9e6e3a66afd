"""The index's files: every posting writer goes through write_index,
so every file it leaves is zstd-compressed and holds a fresh build's
blocks; a resumable build reads its input once per part plus once for
its stats, and sizes each part's phase B by the part."""

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pears_lite_spark.index.build import (build_postings, corpus_stats,
                                          tokenize_whitespace, with_doc_id)

from .test_resume_streaming import _block_frame

COLS = ["term_id", "doc_range", "block_id", "first_doc", "last_doc",
        "n", "max_impact", "docs", "tfs", "dls", "positions"]


@pytest.fixture(scope="module")
def corpus(spark):
    from pears_lite_spark.corpus import gen_corpus
    return spark.createDataFrame(gen_corpus(60))


@pytest.fixture(scope="module")
def tokens(corpus):
    return (tokenize_whitespace(with_doc_id(corpus))
            .select("doc_id", "tokens").persist())


def _codecs(path: str) -> set[str]:
    """The compression of every column chunk of every parquet file
    under `path`."""
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    assert files, path
    mds = [pq.read_metadata(f) for f in files]
    return {md.row_group(g).column(c).compression for md in mds
            for g in range(md.num_row_groups) for c in range(md.num_columns)}


def _assert_written(spark, path: str, ref) -> None:
    assert _codecs(path) == {"ZSTD"}
    want = _block_frame(ref, COLS)
    assert len(want) > 0
    assert _block_frame(spark.read.parquet(path), COLS).equals(want)


def test_every_posting_writer_writes_zstd(spark, capsys, corpus, tokens,
                                          tmp_path):
    """A fused build's write_index, a build_resumable part, a
    stream_build segment, an index_table_delta part and `jobs.py
    compact` output: every column chunk is ZSTD, and each holds the
    blocks of its in-memory reference build."""
    from pears_lite_spark import catalog, jobs
    from pears_lite_spark.index.build import (build_from_corpus,
                                              ingest_tokens, range_shift_for,
                                              read_stats, write_index)
    from pears_lite_spark.index.checkpoint import (build_resumable,
                                                   index_table_delta)
    from pears_lite_spark.streaming.ingest import stream_build

    # fused build -> write_index
    cdf = corpus.select("url", "html")
    ref_toks = ingest_tokens(cdf, tokenizer="ws").select("doc_id", "tokens")
    ref_stats = corpus_stats(ref_toks)
    shift = range_shift_for(ref_stats.n_docs)
    fused, fstats = build_from_corpus(cdf, tokenizer="ws", range_shift=shift)
    path = str(tmp_path / "fused")
    write_index(fused, path, stats=fstats)
    ref, _ = build_postings(ref_toks, stats=ref_stats, range_shift=shift)
    _assert_written(spark, path, ref)

    # build_resumable: each part is its slice's build
    res = str(tmp_path / "resumable")
    stats = build_resumable(tokens, res, n_parts=2)
    for p in range(2):
        part = tokens.filter(
            F.pmod(F.xxhash64("doc_id"), F.lit(2)) == p)
        _assert_written(spark, os.path.join(res, f"part={p}"),
                        build_postings(part, stats=stats)[0])

    # jobs.py compact over the resumable index: a fresh build's blocks
    out = str(tmp_path / "compacted")
    assert jobs.main(["compact", "--index", res, "--output", out]) == 0
    capsys.readouterr()
    _assert_written(spark, out, build_postings(tokens, stats=stats)[0])

    # stream_build: one file, one micro-batch, one segment
    corpus_dir = str(tmp_path / "stream_corpus")
    corpus.coalesce(1).write.parquet(corpus_dir)
    idx = str(tmp_path / "stream_idx")
    stream_build(spark, corpus_dir, idx, stats, tokenize_whitespace)
    _assert_written(spark, os.path.join(idx, "part=0"),
                    build_postings(tokens, stats=stats)[0])

    # index_table_delta: the baseline snapshot's part
    table = str(tmp_path / "tbl")
    catalog.create_table(corpus.select("url", "text", "lang"), table,
                         key_col="url")
    idx = str(tmp_path / "delta_idx")
    index_table_delta(spark, table, idx, tokenize_whitespace)
    _assert_written(spark, os.path.join(idx, "part=1"),
                    build_postings(tokens, stats=read_stats(idx))[0])


def test_resumable_build_reads_input_once_per_part(spark, tokens, tmp_path):
    """build_resumable reads its tokens input 1 + n_parts times: one
    aggregate for every part's doc stats and fingerprint, and one build
    per part. Each manifest's counts come from the committed part's
    files, not from a second run of the part's build."""
    from pears_lite_spark.index.checkpoint import build_resumable, manifests
    log = str(tmp_path / "rows.txt")

    def counted(batches):
        for pdf in batches:
            with open(log, "a") as fh:
                fh.write(f"{len(pdf)}\n")
            yield pdf

    n_docs = tokens.count()
    n_parts = 3
    build_resumable(tokens.mapInPandas(counted, tokens.schema),
                    str(tmp_path / "idx"), n_parts=n_parts)
    with open(log) as fh:
        rows = sum(int(x) for x in fh)
    assert rows == (1 + n_parts) * n_docs
    ms = manifests(str(tmp_path / "idx"))
    assert sum(m["n_docs"] for m in ms) == n_docs
    assert all(m["n_blocks"] > 0 and m["n_postings"] > 0 for m in ms)


def test_resumable_parts_size_phase_b_by_their_own_occurrences(
        spark, tokens, tmp_path, monkeypatch):
    """Each part's phase B gets slots for its own occurrences: with
    TARGET_PART_ROWS small enough that the occurrence count sets the
    slot count, every part writes at most its own slot count, fewer
    than a whole build's, and its blocks are the slice's build's."""
    from pears_lite_spark.index import build
    from pears_lite_spark.index.checkpoint import build_resumable, manifests
    sum_dl = tokens.agg(F.sum(F.size("tokens"))).first()[0]
    monkeypatch.setattr(build, "TARGET_PART_ROWS", sum_dl // 40)
    whole = build._n_partitions(spark, sum_dl)
    assert whole > int(spark.conf.get("spark.sql.shuffle.partitions"))
    # one file per slot: no coalescing of small shuffle partitions
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        path = str(tmp_path / "idx")
        stats = build_resumable(tokens, path, n_parts=3)
    finally:
        spark.conf.set(key, before)
    for m in manifests(path):
        own = build._n_partitions(spark, m["sum_dl"])
        assert 0 < len(m["files"]) <= own < whole
        part = tokens.filter(
            F.pmod(F.xxhash64("doc_id"), F.lit(3)) == m["partition"])
        _assert_written(spark, os.path.join(path, f"part={m['partition']}"),
                        build_postings(part, stats=stats)[0])
