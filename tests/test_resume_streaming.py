"""Checkpoint/resume + streaming ingestion + compaction equivalence."""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from pears_lite_spark.index.build import (build_postings, corpus_stats,
                                          tokenize_whitespace)
from pears_lite_spark.index.checkpoint import (build_resumable, compact_index,
                                               manifests, read_resumable)
from pears_lite_spark.search.bm25 import search_blocks

from .oracle import decoded_postings


@pytest.fixture(scope="module")
def tokens(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    return tokenize_whitespace(docs).select("doc_id", "tokens").cache()


QUERIES = [["spark", "join"], ["the"], ["window", "vector", "batch"]]


def _results(postings, stats, k=10):
    df = search_blocks(postings, stats, QUERIES, k=k).toPandas()
    return [(int(r.query_id), int(r.doc_id), round(float(r.score), 9))
            for r in df.sort_values(["query_id", "rank"]).itertuples()]


def test_resume_after_injected_failure(spark, tokens, tmp_path):
    full = str(tmp_path / "full")
    partial = str(tmp_path / "partial")
    stats = build_resumable(tokens, full, n_parts=4)
    with pytest.raises(RuntimeError, match="injected failure"):
        build_resumable(tokens, partial, n_parts=4, fail_after_parts=2)
    assert len(manifests(partial)) == 2  # crash left 2 complete partitions
    build_resumable(tokens, partial, n_parts=4)  # resume fills the rest
    assert len(manifests(partial)) == 4
    # resumed index answers queries identically to the clean build
    p1, s1 = read_resumable(spark, full)
    p2, s2 = read_resumable(spark, partial)
    resumed = _results(p2, s2)
    assert _results(p1, s1) == resumed
    # the Searcher's replica over the multi-part index
    from pears_lite_spark.search.bm25 import Searcher
    s = Searcher(p2, s2)
    got = [(qid, d, round(sc, 9)) for qid, hits in
           enumerate(s.search(QUERIES, k=10)) for d, sc in hits]
    s.close()
    assert got == resumed
    # byte-identical partition content (deterministic encoding)
    cols = ["term_id", "doc_range", "block_id", "first_doc", "last_doc",
            "n", "docs", "tfs", "dls"]
    d1 = p1.select(*cols).toPandas().sort_values(
        ["term_id", "doc_range", "block_id"]).reset_index(drop=True)
    d2 = p2.select(*cols).toPandas().sort_values(
        ["term_id", "doc_range", "block_id"]).reset_index(drop=True)
    assert d1.equals(d2)


def test_resume_skips_completed_partitions(spark, tokens, tmp_path):
    path = str(tmp_path / "idx")
    build_resumable(tokens, path, n_parts=3)
    mtimes = {f: os.path.getmtime(f)
              for f in glob.glob(os.path.join(path, "manifest_*.json"))}
    build_resumable(tokens, path, n_parts=3)  # no-op re-run
    for f, t in mtimes.items():
        assert os.path.getmtime(f) == t  # untouched -> skipped


def _jobs_launched(spark, fn, group):
    """(fn(), Spark jobs it launched): fn runs in job group `group`; a
    job in a later group is the barrier (job events reach the status
    tracker in order)."""
    import time
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
        sc.setJobGroup(group + "-barrier", group)
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(group + "-barrier"):
        assert time.time() < deadline, "barrier job never reported"
        time.sleep(0.1)
    return out, len(tracker.getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def segment_indexes(spark, tmp_path_factory):
    """One 60-doc corpus indexed by each of the three segment writers:
    build_resumable (2 parts), stream_build (2 files, so 2 micro-batches)
    and index_table_delta (a 40-row baseline, then a 20-row append).
    Returns the corpus tokens and {writer: index path}."""
    import shutil
    from pears_lite_spark import catalog
    from pears_lite_spark.corpus import gen_corpus
    from pears_lite_spark.index.build import with_doc_id
    from pears_lite_spark.index.checkpoint import index_table_delta
    from pears_lite_spark.streaming.ingest import stream_build
    root = tmp_path_factory.mktemp("segments")
    pdf = gen_corpus(60)
    corpus_dir = str(root / "corpus")
    os.makedirs(corpus_dir)
    for i in range(2):
        tmp = str(root / f"tmp{i}")
        spark.createDataFrame(pdf.iloc[i * 30:(i + 1) * 30]) \
            .coalesce(1).write.parquet(tmp)
        shutil.move(glob.glob(os.path.join(tmp, "*.parquet"))[0],
                    os.path.join(corpus_dir, f"file{i}.parquet"))
    toks = tokenize_whitespace(with_doc_id(spark.read.parquet(corpus_dir))) \
        .select("doc_id", "tokens").cache()
    paths = {w: str(root / w) for w in ("resumable", "stream", "delta")}
    stats = build_resumable(toks, paths["resumable"], n_parts=2)
    stream_build(spark, corpus_dir, paths["stream"], stats,
                 tokenize_whitespace)
    table = str(root / "tbl")
    rows = pdf[["url", "text", "lang"]]
    catalog.create_table(spark.createDataFrame(rows.iloc[:40]), table,
                         key_col="url")
    index_table_delta(spark, table, paths["delta"], tokenize_whitespace)
    catalog.append(spark.createDataFrame(rows.iloc[40:]), table)
    index_table_delta(spark, table, paths["delta"], tokenize_whitespace)
    yield toks, paths
    toks.unpersist()


def test_manifest_lineage_fields(spark, segment_indexes):
    """Every segment writer commits its parts through commit_segment:
    each manifest carries the shared keys plus its writer's lineage,
    and its counts equal what pyarrow reads from the part's files."""
    import pyarrow.parquet as pq
    toks, paths = segment_indexes
    shared = {"partition", "n_docs", "sum_dl", "n_blocks", "n_postings",
              "payload_bytes", "files"}
    lineage = {"resumable": {"input"}, "stream": {"streaming"},
               "delta": {"table", "table_version_from", "table_version_to",
                         "n_delete_commits_in_range"}}
    part_of = F.pmod(F.xxhash64("doc_id"), F.lit(2))
    for writer, path in paths.items():
        ms = manifests(path)
        assert len(ms) == 2, writer
        assert sum(m["n_docs"] for m in ms) == toks.count()
        assert sum(m["sum_dl"] for m in ms) == \
            toks.agg(F.sum(F.size("tokens"))).first()[0]
        for m in ms:
            assert set(m) == shared | lineage[writer], writer
            part_dir = os.path.join(path, f"part={m['partition']}")
            files = sorted(f for f in os.listdir(part_dir)
                           if f.endswith(".parquet"))
            assert m["files"] == files and files
            mds = [pq.read_metadata(os.path.join(part_dir, f)) for f in files]
            table = pq.read_table(part_dir, columns=["n"])
            assert m["n_blocks"] == table.num_rows > 0
            assert m["n_postings"] == sum(table.column("n").to_pylist())
            assert m["payload_bytes"] == sum(
                md.row_group(g).column(c).total_uncompressed_size
                for md in mds for g in range(md.num_row_groups)
                for c in range(md.num_columns)
                if md.schema.column(c).name in
                ("docs", "tfs", "dls", "positions"))
            if writer == "resumable":
                part = toks.filter(part_of == m["partition"])
                assert m["input"]["n_docs"] == m["n_docs"] == part.count()
                assert m["input"]["sum_dl"] == m["sum_dl"]
    ms = manifests(paths["delta"])
    assert [(m["table_version_from"], m["table_version_to"], m["n_docs"])
            for m in ms] == [(None, 1, 40), (1, 2, 20)]
    assert all(m["streaming"] for m in manifests(paths["stream"]))


def test_refresh_stats_sums_manifests_without_spark(spark, segment_indexes,
                                                     tmp_path):
    """refresh_stats on a resumable and on a streamed index launches no
    Spark job and equals corpus_stats of the tokens; an index without
    manifests, or with one lacking sum_dl, is a ValueError."""
    from pears_lite_spark.index.build import read_stats
    from pears_lite_spark.index.checkpoint import refresh_stats
    toks, paths = segment_indexes
    want = corpus_stats(toks)
    for writer in ("resumable", "stream"):
        got, n_jobs = _jobs_launched(
            spark, lambda: refresh_stats(paths[writer]), f"refresh-{writer}")
        assert n_jobs == 0
        assert got.n_docs == want.n_docs
        assert got.avgdl == pytest.approx(want.avgdl, abs=1e-12)
        assert read_stats(paths[writer]) == got
    with pytest.raises(ValueError, match="manifest"):
        refresh_stats(str(tmp_path))
    m = manifests(paths["resumable"])[0]
    del m["sum_dl"]
    (tmp_path / "manifest_0.json").write_text(json.dumps(m))
    with pytest.raises(ValueError, match="sum_dl"):
        refresh_stats(str(tmp_path))


def test_compaction_equivalence(spark, tokens, tmp_path):
    path = str(tmp_path / "c")
    build_resumable(tokens, path, n_parts=4)
    postings, stats = read_resumable(spark, path)
    compacted = compact_index(postings, stats).persist()
    assert "part" not in compacted.columns or True
    assert _results(postings, stats) == _results(compacted, stats)
    # compaction merges each term's lists into one per (term, range)
    per = (compacted.groupBy("term_id", "doc_range", "block_id").count()
           .filter(F.col("count") > 1).count())
    assert per == 0
    # a fresh build's bytes, also from parts built without positions
    # (null positions on both sides) or cut with another range_shift
    cols = ["term_id", "doc_range", "block_id", "first_doc", "last_doc",
            "n", "max_impact", "docs", "tfs", "dls", "positions"]
    fresh, _ = build_postings(tokens, stats=stats)
    assert _block_frame(compacted, cols).equals(_block_frame(fresh, cols))
    # (hashed doc_ids, so range_shift 61 cuts 8 ranges, the default 2)
    hashed = tokens.withColumn("doc_id", F.xxhash64("doc_id"))
    for name, toks, kw in (("no_positions", tokens, {"with_positions": False}),
                           ("range_shift_61", hashed, {"range_shift": 61})):
        path = str(tmp_path / name)
        build_resumable(toks, path, n_parts=4, **kw)
        parts, pstats = read_resumable(spark, path)
        fresh, _ = build_postings(
            toks, stats=pstats, with_positions=kw.get("with_positions", True))
        want = _block_frame(fresh, cols)
        assert len(want) > 0
        assert _block_frame(compact_index(parts, pstats), cols).equals(want), name
    assert parts.select("doc_range").distinct().count() == 8


def test_streaming_segments_match_batch(spark, tmp_path):
    from pears_lite_spark.corpus import gen_corpus
    from pears_lite_spark.index.build import with_doc_id
    from pears_lite_spark.streaming.ingest import stream_build

    corpus_dir = str(tmp_path / "stream_corpus")
    os.makedirs(corpus_dir)
    pdf = gen_corpus(90)
    for i in range(3):  # three arriving files -> three micro-batches
        chunk = spark.createDataFrame(pdf.iloc[i * 30:(i + 1) * 30])
        chunk.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"tmp{i}"))
        src = glob.glob(str(tmp_path / f"tmp{i}" / "*.parquet"))[0]
        os.rename(src, os.path.join(corpus_dir, f"file{i}.parquet"))

    batch_docs = with_doc_id(spark.read.parquet(corpus_dir))
    batch_toks = (tokenize_whitespace(batch_docs)
                  .select("doc_id", "tokens").cache())
    stats = corpus_stats(batch_toks)
    batch_postings, _ = build_postings(batch_toks, stats=stats)

    idx_path = str(tmp_path / "stream_idx")
    tokenizer = lambda d: tokenize_whitespace(d)
    stream_build(spark, corpus_dir, idx_path, stats, tokenizer)
    ms = manifests(idx_path)
    assert len(ms) == 3 and all(m["streaming"] for m in ms)
    sp, sstats = read_resumable(spark, idx_path)
    q = [["the", "of"], ["water", "system"]]
    def res(p, s):
        df = search_blocks(p, s, q, k=10).toPandas()
        return [(int(r.query_id), int(r.doc_id), round(float(r.score), 9))
                for r in df.sort_values(["query_id", "rank"]).itertuples()]
    assert res(sp, sstats) == res(batch_postings, stats)


def test_windowed_event_counts_stream_matches_batch(spark, tmp_path):
    """Watermarked streaming agg (append mode, AvailableNow) finalizes
    the same windows as the batch twin for on-time data."""
    import shutil
    from pyspark.sql import functions as F
    from pears_lite_spark.streaming.events import (stream_event_counts,
                                                   windowed_event_counts)
    ev = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
          .select("event_id", "ts", "event_type", "value"))
    # split into 3 arrival files ordered by time so AvailableNow drains
    # them as micro-batches and the watermark advances monotonically
    src = str(tmp_path / "events_in")
    import glob
    import os
    os.makedirs(src, exist_ok=True)
    from pyspark.sql import Window
    w = Window.orderBy("ts", "event_id")
    ranked = ev.withColumn("rn", F.row_number().over(w))
    n = ranked.count()
    for i in range(3):
        chunk_dir = str(tmp_path / f"chunk{i}")
        (ranked.filter((F.col("rn") > i * n // 3)
                       & (F.col("rn") <= (i + 1) * n // 3))
         .drop("rn").coalesce(1).write.parquet(chunk_dir))
        part = glob.glob(f"{chunk_dir}/part-*.parquet")[0]
        shutil.move(part, f"{src}/part{i}.parquet")
    out = str(tmp_path / "events_out")
    stream_event_counts(spark, src, out, str(tmp_path / "ckpt"))
    got = spark.read.parquet(out)
    batch = windowed_event_counts(ev)
    # append mode withholds windows not yet passed by the watermark at
    # stream end; every window it DID emit must match the batch twin
    j = (got.join(batch, ["event_type", "window_start"], "left")
         .filter((got["n"] != batch["n"])
                 | (got["sum_value_r"] != batch["sum_value_r"])))
    assert got.count() > 0
    assert j.count() == 0


def test_build_from_corpus_matches_tokens_path(spark):
    """Fused corpus build is byte-identical to the tokens-path build
    (same range_shift) and derives identical corpus stats."""
    from pyspark.sql import functions as F
    from pears_lite_spark.corpus import gen_corpus
    from pears_lite_spark.index.build import (build_from_corpus,
                                              build_postings, corpus_stats,
                                              ingest_tokens,
                                              range_shift_for)
    cdf = spark.createDataFrame(gen_corpus(300)).select("url", "html")
    toks = ingest_tokens(cdf).select("doc_id", "tokens").persist()
    ref_stats = corpus_stats(toks)
    ref, _ = build_postings(toks, stats=ref_stats)
    shift = range_shift_for(ref_stats.n_docs)
    new, new_stats = build_from_corpus(cdf, range_shift=shift)
    key = ["term_id", "doc_range", "block_id"]
    cols = ["first_doc", "last_doc", "n", "max_impact",
            "docs", "tfs", "dls", "positions"]
    o = ref.select(*key, *cols)
    nw = new.select(*key, *[F.col(c).alias(c + "_n") for c in cols])
    j = o.join(nw, key, "full_outer")
    cond = F.col("n").isNull() | F.col("n_n").isNull()
    for c in cols:
        cond = cond | (F.col(c) != F.col(c + "_n"))
    assert j.filter(cond).count() == 0
    assert o.count() == new.count() > 0
    # known once the postings have run
    assert new_stats.n_docs == ref_stats.n_docs
    assert abs(new_stats.avgdl - ref_stats.avgdl) < 1e-9


def test_duplicate_doc_id_runs_merge_in_phase_b(spark):
    """The same doc_id arriving in two phase-A splits must collapse to
    ONE posting run (tf summed, positions union-sorted) — otherwise
    WAND could emit a doc twice in top-k while the exhaustive scorer
    silently summed it (ADVICE r01)."""
    from pears_lite_spark.index.build import build_postings
    from pears_lite_spark.xxh64 import xxh64_signed
    d1 = spark.createDataFrame([(5, ["apple", "pear", "apple"])],
                               "doc_id long, tokens array<string>")
    d2 = spark.createDataFrame([(5, ["apple", "cherry"]), (7, ["apple"])],
                               "doc_id long, tokens array<string>")
    toks = d1.union(d2)   # doc 5 spans two input partitions
    assert toks.rdd.getNumPartitions() >= 2
    postings, stats = build_postings(toks)
    got = decoded_postings(postings.filter(
        F.col("term_id") == xxh64_signed("apple")).toPandas())
    by_doc = {d: (tf, dl, p) for _, d, tf, dl, p in got}
    assert sorted(d for _, d, *_ in got) == [5, 7]  # no duplicate runs
    assert by_doc[5][0] == 3                        # 2 + 1 merged
    # fragment semantics (ADVICE r02): dl sums across merged runs so
    # the merged run scores as the concatenated doc (dl 3 + 2 = 5)
    assert by_doc[5][1] == 5 and by_doc[7][1] == 1
    assert by_doc[5][2] == [0, 0, 2]                # union, sorted


def test_duplicate_doc_id_in_one_partition_merges_in_phase_b(spark):
    """Both copies of doc 5 in ONE input partition (so one phase-A
    flush) index exactly as when they span two partitions: one run,
    tf 3, dl 3 + 2 = 5, positions union-sorted."""
    from pears_lite_spark.xxh64 import xxh64_signed
    toks = spark.createDataFrame(
        [(5, ["apple", "pear", "apple"]), (5, ["apple", "cherry"]),
         (7, ["apple"])], "doc_id long, tokens array<string>").coalesce(1)
    assert toks.rdd.getNumPartitions() == 1
    postings, _ = build_postings(toks)
    got = {}
    for _, d, tf, dl, p in decoded_postings(postings.filter(
            F.col("term_id") == xxh64_signed("apple")).toPandas()):
        assert d not in got                          # no duplicate runs
        got[d] = (tf, dl, p)
    assert got == {5: (3, 5, [0, 0, 2]), 7: (1, 1, [0])}


def test_edge_corpus_fused_matches_tokens_path(spark):
    """Duplicate URLs (as exact copies and with other html),
    unextractable ('xx') and empty-html pages, and more input
    partitions than docs: the fused build equals ingest_tokens +
    build_postings byte for byte, with equal stats, under any input
    partitioning."""
    import pandas as pd
    from pears_lite_spark.corpus import gen_corpus
    from pears_lite_spark.index.build import (build_from_corpus,
                                              ingest_tokens, range_shift_for)
    pages = gen_corpus(100).iloc[90:][["url", "html"]]   # en, de, fr, xx
    other = pages.iloc[:3].assign(html=pages["html"].iloc[3:6].values)
    empty = pd.DataFrame({"url": ["https://empty.example/"], "html": [b""]})
    edge = pd.concat([pages, other, pages.iloc[:2], empty], ignore_index=True)
    cdf = spark.createDataFrame(edge).repartition(len(edge) + 8)
    toks = ingest_tokens(cdf).select("doc_id", "tokens").persist()
    ref_stats = corpus_stats(toks)
    assert ref_stats.n_docs == len(edge) - 2              # 'xx' + empty
    assert toks.select("doc_id").distinct().count() == len(pages) - 1
    shift = range_shift_for(ref_stats.n_docs)
    ref, _ = build_postings(toks, stats=ref_stats, range_shift=shift)
    cols = ["term_id", "doc_range", "block_id", "first_doc", "last_doc",
            "n", "max_impact", "docs", "tfs", "dls", "positions"]
    want = _block_frame(ref, cols)
    assert len(want) > 0
    for df in (cdf, cdf.coalesce(1), cdf.repartition(8)):
        got, stats = build_from_corpus(df, range_shift=shift)
        assert _block_frame(got, cols).equals(want)
        assert stats.n_docs == ref_stats.n_docs
        assert abs(stats.avgdl - ref_stats.avgdl) < 1e-9
    toks.unpersist()


def test_stream_refresh_compact_equals_fresh_build(spark, tmp_path):
    """Drain with a WRONG frozen seed (N, avgdl) -> refresh_stats ->
    compact must equal a fresh batch build byte-for-byte: long-running
    ingest no longer drifts BM25 impacts (VERDICT r01 item 9). In the
    second round the last file repeats three URLs of the first, so
    three doc_ids sit in two segments: compaction must merge them as
    the fresh build does."""
    import shutil
    from pears_lite_spark.corpus import gen_corpus
    from pears_lite_spark.index.build import (CorpusStats, build_postings,
                                              with_doc_id)
    from pears_lite_spark.index.checkpoint import refresh_stats
    from pears_lite_spark.streaming.ingest import stream_build

    for n_rep in (0, 3):
        corpus_dir = str(tmp_path / f"rc_corpus{n_rep}")
        os.makedirs(corpus_dir)
        pdf = gen_corpus(90)
        pdf.loc[60:59 + n_rep, "url"] = pdf["url"][:n_rep].values
        for i in range(3):
            chunk = spark.createDataFrame(pdf.iloc[i * 30:(i + 1) * 30])
            chunk.coalesce(1).write.mode("overwrite").parquet(
                str(tmp_path / f"rc{n_rep}_{i}"))
            src = glob.glob(str(tmp_path / f"rc{n_rep}_{i}" / "*.parquet"))[0]
            shutil.move(src, os.path.join(corpus_dir, f"file{i}.parquet"))

        idx = str(tmp_path / f"rc_idx{n_rep}")
        seed = CorpusStats(n_docs=30, avgdl=10.0)  # deliberately wrong
        stream_build(spark, corpus_dir, idx, seed,
                     lambda d: tokenize_whitespace(d))

        stats = refresh_stats(idx)
        sp, sstats = read_resumable(spark, idx)
        assert sstats.n_docs == stats.n_docs  # _stats.json rewritten

        batch_docs = with_doc_id(spark.read.parquet(corpus_dir))
        toks = tokenize_whitespace(batch_docs).select("doc_id", "tokens").cache()
        true_stats = corpus_stats(toks)
        assert stats.n_docs == true_stats.n_docs
        assert stats.avgdl == pytest.approx(true_stats.avgdl, abs=1e-12)

        compacted = compact_index(sp, stats).persist()
        fresh, _ = build_postings(toks, stats=true_stats)
        key = ["term_id", "doc_range", "block_id"]
        cols = ["first_doc", "last_doc", "n", "max_impact",
                "docs", "tfs", "dls", "positions"]
        o = fresh.select(*key, *cols)
        nw = compacted.select(*key, *[F.col(c).alias(c + "_n") for c in cols])
        j = o.join(nw, key, "full_outer")
        cond = F.col("n").isNull() | F.col("n_n").isNull()
        for c in cols:
            cond = cond | (F.col(c) != F.col(c + "_n"))
        assert j.filter(cond).count() == 0
        assert o.count() == compacted.count() > 0


def test_stateful_sessionize_matches_batch_session_window(spark, tmp_path):
    """The applyInPandasWithState sessionizer (custom stateful operator,
    emit-on-close + event-time timeout) must agree with Catalyst's
    batch session_window on every session it closes."""
    import shutil
    from pears_lite_spark.streaming.events import (session_windows,
                                                   stream_sessionize)
    # normalize to TIMESTAMP (the stream schema's type) so the batch
    # twin and the streamed output compare type-exactly
    ev = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
          .select("event_id", F.col("ts").cast("timestamp").alias("ts"),
                  "event_type", "value"))
    from pyspark.sql import Window
    src = str(tmp_path / "sess_in")
    os.makedirs(src, exist_ok=True)
    w = Window.orderBy("ts", "event_id")
    ranked = ev.withColumn("rn", F.row_number().over(w))
    n = ranked.count()
    for i in range(3):  # time-ordered arrival chunks
        chunk_dir = str(tmp_path / f"sess{i}")
        (ranked.filter((F.col("rn") > i * n // 3)
                       & (F.col("rn") <= (i + 1) * n // 3))
         .drop("rn").coalesce(1).write.parquet(chunk_dir))
        part = glob.glob(f"{chunk_dir}/part-*.parquet")[0]
        dst = f"{src}/part{i}.parquet"
        shutil.move(part, dst)
        # the file stream source orders micro-batches by modification
        # time; make arrival order deterministic and time-ordered
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    out = str(tmp_path / "sess_out")
    stream_sessionize(spark, src, out, str(tmp_path / "sess_ckpt"),
                      gap_seconds=600)
    got = (spark.read.parquet(out)
           .select("event_type", "session_start", "n",
                   F.round("sum_value", 4).alias("sum_value_r")))
    # materialize: the PushDownLeftSemiAntiJoin rule would otherwise
    # push the anti-join below the session aggregation and filter
    # PARTIAL (pre-merge) sessions on their non-final starts (split
    # sessions, observed on Spark 4.1 — see session_windows docstring)
    batch = session_windows(ev, gap="10 minutes").cache()
    batch.count()
    # every closed session must match the batch twin exactly
    j = (got.join(batch, ["event_type", "session_start"], "left")
         .filter(batch["n"].isNull()
                 | (got["n"] != batch["n"])
                 | (got["sum_value_r"] != batch["sum_value_r"])))
    assert got.count() > 0
    assert j.count() == 0
    # the only batch sessions it may miss are the per-key OPEN tails
    # (at most one per event_type) the drain never timed out
    missed = batch.join(got, ["event_type", "session_start"],
                        "left_anti")
    n_types = ev.select("event_type").distinct().count()
    assert missed.count() <= n_types


def test_stream_dedup_first_arrival_wins(spark, tmp_path):
    """Streaming exact dedup (P4's streaming twin): duplicates inside
    one micro-batch AND across later micro-batches are dropped; the
    survivor set equals the batch exact_dedup winners when arrival
    order matches id order."""
    import pandas as pd
    from pears_lite_spark.streaming.events import stream_dedup

    src = tmp_path / "docs_in"
    src.mkdir()
    batches = [
        # batch 0: in-batch duplicate (ids 1,2 same text) -> 1 wins
        [(1, "alpha text"), (2, "alpha text"), (3, "beta text")],
        # batch 1: cross-batch duplicate of 'alpha' -> dropped; new ok
        [(10, "alpha text"), (11, "gamma text")],
        # batch 2: duplicate of batch-1 text and one more new
        [(20, "gamma text"), (21, "delta text")],
    ]
    for i, rows in enumerate(batches):
        p = str(src / f"b{i}.parquet")
        pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(p)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    out = str(tmp_path / "deduped")
    stream_dedup(spark, str(src), out, str(tmp_path / "ckpt"))
    got = {int(r["doc_id"]) for r in spark.read.parquet(out).collect()}
    assert got == {1, 3, 11, 21}
    # equals the batch twin on the union (ids ordered by arrival)
    from pears_lite_spark.dedup import exact_dedup
    union = spark.createDataFrame(
        [r for b in batches for r in b], "doc_id long, text string")
    batch_ids = {int(r["doc_id"])
                 for r in exact_dedup(union).select("doc_id").collect()}
    assert got == batch_ids


def test_build_output_independent_of_input_partitioning(spark, tokens):
    """SURVEY §5.7: the same corpus built under different parallelism /
    input partitioning must produce IDENTICAL index bytes (the encode
    is deterministic per (term_id, doc_range), never order-dependent) —
    the single-box stand-in for 'same output at N and 4N executors'."""
    cols = ["term_id", "doc_range", "block_id", "first_doc", "last_doc",
            "n", "docs", "tfs", "dls"]

    def blocks(n_parts):
        p, _ = build_postings(tokens.repartition(n_parts))
        df = (p.select(*cols).toPandas()
              .sort_values(["term_id", "doc_range", "block_id"])
              .reset_index(drop=True))
        df["docs"] = df["docs"].map(bytes)
        df["tfs"] = df["tfs"].map(bytes)
        df["dls"] = df["dls"].map(bytes)
        return df

    a, b = blocks(3), blocks(11)
    assert a.equals(b)


def _block_frame(postings, cols):
    df = (postings.select(*cols).toPandas()
          .sort_values(["term_id", "doc_range", "block_id"])
          .reset_index(drop=True))
    for c in ("docs", "tfs", "dls", "positions"):
        if c in df.columns:
            df[c] = df[c].map(lambda v: None if v is None else bytes(v))
    return df


@pytest.mark.parametrize("n_partitions", [4, 8])
def test_write_index_one_file_per_phase_b_task(spark, tmp_path, n_partitions):
    """The fused build hands write_index its phase-B partitions, and the
    write needs no exchange: at most one file per phase-B task, every
    file sorted by (term_id, doc_range, block_id), and the rows equal a
    tokens-path build's."""
    import pyarrow.parquet as pq
    from pears_lite_spark.corpus import gen_corpus
    from pears_lite_spark.index.build import (build_from_corpus,
                                              ingest_tokens, range_shift_for,
                                              read_index, write_index)
    cdf = spark.createDataFrame(gen_corpus(200)).select("url", "html")
    toks = ingest_tokens(cdf).select("doc_id", "tokens").persist()
    ref_stats = corpus_stats(toks)
    shift = range_shift_for(ref_stats.n_docs)
    ref, _ = build_postings(toks, stats=ref_stats, range_shift=shift,
                            n_partitions=n_partitions)
    new, stats = build_from_corpus(cdf, range_shift=shift,
                                   n_partitions=n_partitions)
    path = str(tmp_path / "idx")
    write_index(new, path, stats=stats)
    files = glob.glob(os.path.join(path, "*.parquet"))
    assert 0 < len(files) <= n_partitions
    assert not glob.glob(os.path.join(path, "*", "*.parquet"))
    for f in files:
        t = pq.read_table(f, columns=["term_id", "doc_range",
                                      "block_id"]).to_pandas()
        assert t.equals(t.sort_values(["term_id", "doc_range", "block_id"])
                        .reset_index(drop=True))
    cols = ["term_id", "doc_range", "block_id", "first_doc", "last_doc",
            "n", "max_impact", "docs", "tfs", "dls", "positions"]
    written, _ = read_index(spark, path)
    assert _block_frame(written, cols).equals(_block_frame(ref, cols))
    toks.unpersist()


def test_slot_of_keeps_groups_and_spreads_hot_terms():
    """Every (term_id, doc_range) group maps to one slot, all slots are
    used, and a hot term's 16 doc ranges land on more than one slot at
    every slot count from 4 up."""
    import numpy as np
    import pandas as pd
    from pears_lite_spark.index.build import _slot_of
    rng = np.random.default_rng(0)
    tids = rng.integers(-2**63, 2**63 - 1, 5_000, dtype=np.int64)
    tids = np.concatenate([tids, tids[:2_000]])
    ranges = rng.integers(0, 16, tids.size, dtype=np.int64)
    ranges[5_000:] = ranges[:2_000]
    hot = np.full(16, tids[0])
    for n_slots in (4, 5, 12, 64, 256):
        slot = _slot_of(tids, ranges, n_slots)
        assert ((slot >= 0) & (slot < n_slots)).all()
        assert len(set(slot.tolist())) == n_slots
        groups = pd.DataFrame({"t": tids, "r": ranges, "s": slot})
        assert (groups.groupby(["t", "r"])["s"].nunique() == 1).all()
        assert len(set(_slot_of(hot, np.arange(16), n_slots).tolist())) > 1


def test_repartitioned_write_roundtrip(spark, tokens, tmp_path):
    """write_index of postings in any partitioning, here a
    repartition(7), gives the same top-k as the phase-B-partitioned
    postings it came from, one file per partition."""
    from pears_lite_spark.index.build import read_index, write_index
    postings, stats = build_postings(tokens)

    def write_and_search(df, name):
        path = str(tmp_path / name)
        write_index(df, path, stats=stats)
        idx, st = read_index(spark, path)
        hits = _results(idx, st)
        return hits, len(glob.glob(os.path.join(path, "*.parquet")))

    built, _ = write_and_search(postings, "built")
    moved, n_moved = write_and_search(postings.repartition(7), "moved")
    assert built and moved == built
    assert 0 < n_moved <= 7


def test_vocab_filter_build_matches_prefiltered_oracle(spark, tokens):
    """build_postings(vocab_filter=...) keeps only in-vocabulary tokens:
    its docs/tfs blocks equal a tokens-path build over pre-filtered
    tokens, while positions stay the original token offsets and dl the
    unfiltered document length."""
    from pears_lite_spark.xxh64 import xxh64_signed
    pdf = tokens.toPandas()
    vocab = sorted({t for ts in pdf["tokens"] for t in ts
                    if xxh64_signed(t) % 3 == 0})
    vocab_set = set(vocab)
    vocab_df = spark.createDataFrame([(t,) for t in vocab], "term string")
    stats = corpus_stats(tokens)
    got, _ = build_postings(tokens, stats=stats, vocab_filter=vocab_df)
    pre = spark.createDataFrame(
        [(int(d), [t for t in ts if t in vocab_set])
         for d, ts in zip(pdf["doc_id"], pdf["tokens"])],
        "doc_id long, tokens array<string>")
    ref, _ = build_postings(pre, stats=stats)
    cols = ["term_id", "doc_range", "block_id", "first_doc", "last_doc",
            "n", "docs", "tfs"]
    g = _block_frame(got, cols + ["dls", "positions"])
    assert len(g) > 0
    assert g[cols].equals(_block_frame(ref, cols))
    # per-(term, doc) oracle: original offsets and unfiltered length
    exp = {}
    for d, ts in zip(pdf["doc_id"], pdf["tokens"]):
        for i, t in enumerate(ts):
            if t in vocab_set:
                exp.setdefault((xxh64_signed(t), int(d)),
                               (len(ts), []))[1].append(i)
    seen = {(t, d): (dl, p) for t, d, _, dl, p in decoded_postings(g)}
    assert seen == {k: (dl, p) for k, (dl, p) in exp.items()}
