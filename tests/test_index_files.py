"""The index's files: every posting writer goes through write_index,
so every file it leaves is zstd-compressed and holds a fresh build's
blocks; a resumable build reads its input once per part plus once for
its stats; a directory holding both a fused index and parts is refused;
every index part sizes its phase B by its own occurrences; and the file
phase-B task k writes holds merge slot k."""

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


def test_segment_next_to_a_fused_index_is_refused(spark, tokens, tmp_path):
    """read_resumable reads only the part=<p>/ dirs, so a segment
    committed into a directory that holds a fused build's root-level
    files would drop the fused docs: that directory is refused."""
    from pears_lite_spark.index.build import write_index
    from pears_lite_spark.index.checkpoint import (commit_segment,
                                                   read_resumable)
    path = str(tmp_path / "idx")
    postings, stats = build_postings(tokens)
    write_index(postings, path, stats=stats)
    commit_segment(postings, path, 0, stats.n_docs,
                   round(stats.n_docs * stats.avgdl))
    with pytest.raises(ValueError, match="both part=<p>/ segments"):
        read_resumable(spark, path)


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
        spark, corpus, tokens, tmp_path, monkeypatch):
    """Each index part's phase B gets slots for its own occurrences:
    with TARGET_PART_ROWS small enough that the occurrence count sets
    the slot count, every build_resumable part, stream_build segment
    and index_table_delta part writes at most its own slot count, fewer
    than a whole build's, and its blocks are the slice's build's."""
    from pears_lite_spark import catalog
    from pears_lite_spark.index import build
    from pears_lite_spark.index.build import read_stats
    from pears_lite_spark.index.checkpoint import (build_resumable,
                                                   index_table_delta,
                                                   manifests)
    from pears_lite_spark.streaming.ingest import stream_build
    sum_dl = tokens.agg(F.sum(F.size("tokens"))).first()[0]
    monkeypatch.setattr(build, "TARGET_PART_ROWS", sum_dl // 40)
    whole = build._n_partitions(spark, sum_dl)
    assert whole > int(spark.conf.get("spark.sql.shuffle.partitions"))
    # thirds of the corpus by doc_id = xxhash64(url)
    third = [corpus.filter(F.pmod(F.xxhash64("url"), F.lit(3)) == i)
             for i in range(3)]
    third_toks = [tokens.filter(F.pmod("doc_id", F.lit(3)) == i)
                  for i in range(3)]
    # one file per slot: no coalescing of small shuffle partitions
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        res = str(tmp_path / "idx")
        stats = build_resumable(tokens, res, n_parts=3)
        # one stream segment: a third of the corpus, one file
        corpus_dir = str(tmp_path / "stream_corpus")
        third[0].coalesce(1).write.parquet(corpus_dir)
        stream = str(tmp_path / "stream_idx")
        stream_build(spark, corpus_dir, stream, stats, tokenize_whitespace)
        # one table delta: a third appended to a baseline third
        table = str(tmp_path / "tbl")
        catalog.create_table(third[1].select("url", "text", "lang"), table,
                             key_col="url")
        delta = str(tmp_path / "delta_idx")
        index_table_delta(spark, table, delta, tokenize_whitespace)
        catalog.append(third[2].select("url", "text", "lang"), table)
        index_table_delta(spark, table, delta, tokenize_whitespace)
    finally:
        spark.conf.set(key, before)
    part_of = F.pmod(F.xxhash64("doc_id"), F.lit(3))
    for path, n_parts, slice_of in (
            (res, 3, lambda m: tokens.filter(part_of == m["partition"])),
            (stream, 1, lambda m: third_toks[0]),
            (delta, 2, lambda m: third_toks[
                1 if m["table_version_from"] is None else 2])):
        ms = manifests(path)
        assert len(ms) == n_parts, path
        for m in ms:
            own = build._n_partitions(spark, m["sum_dl"])
            assert 0 < len(m["files"]) <= own < whole, (path, m)
            _assert_written(
                spark, os.path.join(path, f"part={m['partition']}"),
                build_postings(slice_of(m), stats=read_stats(path))[0])


def test_slot_k_is_written_by_phase_b_task_k(spark, corpus, tokens,
                                             tmp_path):
    """The build shuffle takes each partial row's merge slot as its
    partition id: in a written fused build and in a written compaction,
    every block of file part-<k> has _slot_of(term_id, doc_range, n)
    == k, so each file holds one slot, no two files share one, and the
    file count is the index's distinct slot count."""
    from pears_lite_spark.index.build import (_n_partitions, _slot_of,
                                              build_from_corpus, write_index)
    from pears_lite_spark.index.checkpoint import (build_resumable,
                                                   compact_index,
                                                   read_resumable)
    res = str(tmp_path / "resumable")
    stats = build_resumable(tokens, res, n_parts=2)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        fused, _ = build_from_corpus(corpus.select("url", "html"),
                                     tokenizer="ws", n_partitions=12)
        write_index(fused, str(tmp_path / "fused"))
        write_index(compact_index(*read_resumable(spark, res)),
                    str(tmp_path / "compacted"))
    finally:
        spark.conf.set(key, before)
    n_compact = _n_partitions(
        spark, int(stats.n_docs * max(stats.avgdl, 1.0)))
    for name, n in (("fused", 12), ("compacted", n_compact)):
        files = glob.glob(os.path.join(tmp_path, name, "*.parquet"))
        all_slots = set()
        for f in files:
            t = pq.read_table(f, columns=["term_id", "doc_range"])
            slots = set(_slot_of(t["term_id"].to_numpy(),
                                 t["doc_range"].to_numpy(), n).tolist())
            task = int(os.path.basename(f).split("-")[1])
            assert slots == {task}, (name, f, sorted(slots))
            all_slots |= slots
        assert len(files) == len(all_slots) > 1, name
