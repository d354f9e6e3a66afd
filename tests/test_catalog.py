"""Snapshot-catalog semantics: append without rewrite, merge-on-read
equality deletes, time travel, compaction equivalence, atomic commit
pointer, and the jobs-CLI `table` surface feeding `build`.

Mirrors the behaviors the reference implements destructively (full
index rewrite per insert, `/root/reference/app/indexer/posix.py:17-28`;
delete-and-renumber, `app/api/controllers.py:62-106`) as non-mutating
snapshot commits.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from pears_lite_spark import catalog


@pytest.fixture()
def docs_pdf():
    from pears_lite_spark.corpus import gen_corpus
    pdf = gen_corpus(40)
    return pdf[["url", "text", "lang"]]


def _ids(df):
    return sorted(r["url"] for r in df.select("url").collect())


def test_create_append_delete_compact_roundtrip(spark, docs_pdf, tmp_path):
    t = str(tmp_path / "tbl")
    d1 = spark.createDataFrame(docs_pdf.iloc[:25])
    d2 = spark.createDataFrame(docs_pdf.iloc[25:])

    snap1 = catalog.create_table(d1, t, key_col="url")
    assert snap1["version"] == 1
    assert _ids(catalog.scan(spark, t)) == _ids(d1)

    snap2 = catalog.append(d2, t)
    # append re-references v1's files — nothing rewritten
    assert set(snap1["data_files"]) <= set(snap2["data_files"])
    assert _ids(catalog.scan(spark, t)) == sorted(docs_pdf["url"])

    catalog.delete_where(spark, t, "lang <> 'en'")
    live = catalog.scan(spark, t)
    assert live.filter(F.col("lang") != "en").count() == 0
    want = sorted(docs_pdf.loc[docs_pdf["lang"] == "en", "url"])
    assert _ids(live) == want
    # merge-on-read: the delete touched no data file
    snap3 = catalog._read_snapshot(t, 3)
    assert snap3["data_files"] == snap2["data_files"]
    assert len(snap3["delete_files"]) > 0

    # compaction rewrites live rows and drops delete files; the scan
    # result is value-identical
    before = sorted(map(tuple, catalog.scan(spark, t).collect()))
    snap4 = catalog.compact(spark, t)
    assert snap4["delete_files"] == []
    after = sorted(map(tuple, catalog.scan(spark, t).collect()))
    assert before == after


def test_time_travel_and_history(spark, docs_pdf, tmp_path):
    t = str(tmp_path / "tt")
    catalog.create_table(spark.createDataFrame(docs_pdf.iloc[:30]), t,
                         key_col="url")
    catalog.delete_where(spark, t, "lang <> 'en'")
    # v1 still reads the full pre-delete snapshot
    assert catalog.scan(spark, t, version=1).count() == 30
    assert catalog.scan(spark, t).count() == \
        int((docs_pdf.iloc[:30]["lang"] == "en").sum())
    ops = [s["operation"] for s in catalog.history(t)]
    assert ops == ["create", "delete"]


def test_version_pointer_is_single_source_of_truth(spark, docs_pdf,
                                                   tmp_path):
    """A v{N}.json without the pointer flip must be invisible —
    readers follow VERSION, never directory listings."""
    t = str(tmp_path / "ptr")
    catalog.create_table(spark.createDataFrame(docs_pdf.iloc[:10]), t,
                         key_col="url")
    # simulate a torn commit: metadata file exists, pointer not flipped
    orphan = {"version": 2, "parent": 1, "operation": "append",
              "key_col": "url", "schema": "x", "data_files": ["nope"],
              "delete_files": [], "summary": {}}
    with open(os.path.join(t, "metadata", "v2.json"), "w") as fh:
        json.dump(orphan, fh)
    assert catalog.current_version(t) == 1
    assert catalog.scan(spark, t).count() == 10


def test_delete_key_semantics_are_row_level(spark, tmp_path):
    """Equality delete removes exactly the keyed rows, including ones
    appended AFTER the delete is committed? No — Iceberg equality
    deletes apply to the snapshot they were committed against and all
    later reads of those files; a re-appended key IS visible again
    only after compaction clears the delete file. We implement the
    simpler always-applied form and assert it explicitly."""
    t = str(tmp_path / "keys")
    rows = [("u1", 1), ("u2", 2), ("u3", 3)]
    catalog.create_table(spark.createDataFrame(rows, "url string, v int"),
                         t, key_col="url")
    catalog.delete_where(spark, t, "url = 'u2'")
    assert _ids(catalog.scan(spark, t)) == ["u1", "u3"]
    # re-append the deleted key: the standing equality-delete file
    # still masks it (documented always-applied semantics)
    catalog.append(spark.createDataFrame([("u2", 9)],
                                         "url string, v int"), t)
    assert _ids(catalog.scan(spark, t)) == ["u1", "u3"]
    # compaction clears delete files; a fresh append then surfaces
    catalog.compact(spark, t)
    catalog.append(spark.createDataFrame([("u2", 9)],
                                         "url string, v int"), t)
    assert _ids(catalog.scan(spark, t)) == ["u1", "u2", "u3"]


def test_scan_has_no_shuffle_for_deletes(spark, docs_pdf, tmp_path):
    """The delete subtraction must be a broadcast anti-join — no
    exchange of data rows."""
    t = str(tmp_path / "plan")
    catalog.create_table(spark.createDataFrame(docs_pdf), t,
                         key_col="url")
    catalog.delete_where(spark, t, "lang <> 'en'")
    plan = (catalog.scan(spark, t)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "Exchange hashpartitioning" not in plan


def test_table_cli_and_build_over_table(spark, capsys, docs_pdf,
                                        tmp_path):
    from pears_lite_spark import jobs
    src = str(tmp_path / "src.parquet")
    spark.createDataFrame(docs_pdf).write.parquet(src)
    t = str(tmp_path / "tbl")

    def run(argv):
        rc = jobs.main(argv)
        out = capsys.readouterr().out.strip().splitlines()
        assert rc == 0
        return json.loads(out[-1])

    r = run(["table", "--op", "create", "--path", t, "--input", src,
             "--key", "url"])
    assert r["n_live_rows"] == len(docs_pdf)
    r = run(["table", "--op", "delete", "--path", t,
             "--predicate", "lang <> 'en'"])
    n_en = int((docs_pdf["lang"] == "en").sum())
    assert r["n_live_rows"] == n_en and r["n_delete_files"] >= 1
    hist = run(["table", "--op", "history", "--path", t])
    assert [v["operation"] for v in hist["versions"]] == \
        ["create", "delete"]
    # the build job consumes the table path directly and indexes only
    # live (non-deleted) rows
    idx = str(tmp_path / "idx")
    built = run(["build", "--input", t, "--output", idx,
                 "--tokenizer", "ws"])
    assert built["n_docs"] == n_en


def test_streaming_append_exactly_once(spark, docs_pdf, tmp_path):
    """One snapshot per micro-batch; a replayed batch id from the same
    stream commits nothing; a later delete applies across streamed
    snapshots like any other."""
    from pears_lite_spark.streaming.ingest import CORPUS_SCHEMA
    from pears_lite_spark.corpus import gen_corpus
    full = gen_corpus(30)
    src = tmp_path / "src"
    src.mkdir()
    # three single-file arrivals -> three micro-batches
    for i in range(3):
        spark.createDataFrame(full.iloc[i * 10:(i + 1) * 10]) \
            .coalesce(1).write.parquet(str(src / f"arrival_{i}"))
    t = str(tmp_path / "tbl")
    catalog.create_table(
        spark.createDataFrame([], CORPUS_SCHEMA), t, key_col="url")
    ck = str(tmp_path / "ck")
    catalog.stream_append(spark, str(src / "arrival_*"), t,
                          CORPUS_SCHEMA, checkpoint_dir=ck)
    hist = catalog.history(t)
    appends = [s for s in hist if s["operation"] == "append"]
    assert len(appends) == 3
    assert sorted(s["summary"]["batch_id"] for s in appends) == [0, 1, 2]
    assert catalog.scan(spark, t).count() == 30

    # replay: calling the sink again with an already-committed batch id
    # must be a no-op for this stream (identity = hash of the full
    # checkpoint path, exactly as stream_append derives it)
    import hashlib
    sid = hashlib.md5(os.path.abspath(ck).encode()).hexdigest()[:16]
    sink = catalog.idempotent_batch_appender(t, stream_id=sid)
    sink(spark.createDataFrame(full.iloc[:10]), 1)
    assert catalog.current_version(t) == 1 + 3  # create + 3 appends
    # ...but a different stream id is a genuine new append
    sink2 = catalog.idempotent_batch_appender(t, stream_id="other")
    sink2(spark.createDataFrame(full.iloc[:5]), 1)
    assert catalog.current_version(t) == 1 + 3 + 1


def test_metadata_file_pruning(spark, tmp_path):
    """Manifest column bounds prune the FILE LIST before Spark plans
    the scan (Iceberg scan planning); results stay exact because the
    row filter is applied on top."""
    t = str(tmp_path / "pr")
    mk = lambda lo, hi: spark.createDataFrame(
        [(i, f"u{i}") for i in range(lo, hi)],
        "doc_id long, url string").coalesce(1)
    catalog.create_table(mk(0, 100), t, key_col="doc_id")
    catalog.append(mk(100, 200), t)
    catalog.append(mk(200, 300), t)
    snap = catalog._read_snapshot(t, 3)
    assert len(snap["data_files"]) == 3
    # every data file carries rows/bytes/bounds in the manifest
    for f in snap["data_files"]:
        st = snap["file_stats"][f]
        assert st["rows"] == 100 and st["bytes"] > 0
        assert "doc_id" in st["bounds"]

    pruned = catalog.scan(spark, t, prune={"doc_id": (120, 180)})
    assert len(pruned.inputFiles()) == 1  # only the middle file
    assert sorted(r["doc_id"] for r in pruned.collect()) == \
        list(range(120, 180 + 1))
    # full scan still reads all three
    assert len(catalog.scan(spark, t).inputFiles()) == 3
    # a range touching nothing -> empty result, correct schema
    none = catalog.scan(spark, t, prune={"doc_id": (10_000, 10_001)})
    assert none.count() == 0
    assert set(none.columns) == {"doc_id", "url"}
    # pruning composes with merge-on-read deletes
    catalog.delete_where(spark, t, "doc_id % 2 = 0")
    odd = catalog.scan(spark, t, prune={"doc_id": (120, 180)})
    assert sorted(r["doc_id"] for r in odd.collect()) == \
        [i for i in range(120, 181) if i % 2 == 1]


def test_incremental_scan_feeds_resumable_builds(spark, tmp_path):
    """Incremental append scan: only the data files committed after
    the consumer's recorded snapshot version; raises across a compact
    (file identity broken -> consumer must re-baseline)."""
    t = str(tmp_path / "inc")
    mk = lambda lo, hi: spark.createDataFrame(
        [(i, f"u{i}") for i in range(lo, hi)],
        "doc_id long, url string")
    catalog.create_table(mk(0, 20), t, key_col="doc_id")     # v1
    catalog.append(mk(20, 30), t)                            # v2
    catalog.append(mk(30, 45), t)                            # v3
    inc = catalog.incremental_scan(spark, t, from_version=1)
    assert sorted(r["doc_id"] for r in inc.collect()) == \
        list(range(20, 45))
    inc23 = catalog.incremental_scan(spark, t, 2, 3)
    assert sorted(r["doc_id"] for r in inc23.collect()) == \
        list(range(30, 45))
    # nothing new -> empty with the table schema
    none = catalog.incremental_scan(spark, t, 3)
    assert none.count() == 0 and set(none.columns) == {"doc_id", "url"}
    # standing deletes mask incremental rows too
    catalog.delete_where(spark, t, "doc_id = 25")            # v4
    inc_d = catalog.incremental_scan(spark, t, 1)
    assert 25 not in {r["doc_id"] for r in inc_d.collect()}
    # compaction breaks file identity for earlier baselines
    catalog.compact(spark, t)                                # v5
    with pytest.raises(ValueError, match="re-baseline"):
        catalog.incremental_scan(spark, t, 1)
    # ...but a post-compact baseline works again
    catalog.append(mk(45, 50), t)                            # v6
    inc_post = catalog.incremental_scan(spark, t, 5)
    assert sorted(r["doc_id"] for r in inc_post.collect()) == \
        list(range(45, 50))


def test_index_delta_consumes_table_versions(spark, capsys, tmp_path):
    """Snapshot commits in -> index segments out: the delta indexer
    baselines on the current snapshot, then each run indexes only the
    appended rows; re-running is a no-op; refresh_stats recovers exact
    totals across segments; `compact --refresh-stats` turns the two
    segments into a fresh build's index, one file per term bucket."""
    import glob
    import json as _json
    from pears_lite_spark import jobs
    from pears_lite_spark.corpus import gen_corpus
    from pears_lite_spark.index.checkpoint import (manifests,
                                                   read_resumable,
                                                   refresh_stats)
    full = gen_corpus(30)[["url", "text", "lang"]]
    t = str(tmp_path / "tbl")
    catalog.create_table(spark.createDataFrame(full.iloc[:20]), t,
                         key_col="url")
    idx = str(tmp_path / "idx")

    def run(argv):
        rc = jobs.main(argv)
        out = capsys.readouterr().out.strip().splitlines()
        assert rc == 0
        return _json.loads(out[-1])

    r1 = run(["index-delta", "--table", t, "--index", idx,
              "--tokenizer", "ws"])
    assert r1["n_docs_delta"] == 20 and not r1["up_to_date"]
    assert r1["to_version"] == 1

    # append -> only the 10 new docs are indexed, as a new segment
    catalog.append(spark.createDataFrame(full.iloc[20:]), t)
    r2 = run(["index-delta", "--table", t, "--index", idx,
              "--tokenizer", "ws"])
    assert r2["n_docs_delta"] == 10
    assert r2["from_version"] == 1 and r2["to_version"] == 2
    ms = manifests(idx)
    assert [m["n_docs"] for m in ms] == [20, 10]
    assert ms[1]["table_version_from"] == 1

    # already current -> no-op, no third segment
    r3 = run(["index-delta", "--table", t, "--index", idx,
              "--tokenizer", "ws"])
    assert r3["up_to_date"] and len(manifests(idx)) == 2

    # the union index covers all 30 docs; refresh_stats is exact
    postings, _ = read_resumable(spark, idx)
    stats = refresh_stats(idx)
    assert stats.n_docs == 30
    # and it serves: every doc's url token is findable via BM25
    from pears_lite_spark.search.bm25 import search_blocks
    hits = search_blocks(postings, stats, [["the"]], k=30).collect()
    assert len(hits) > 0

    # compaction through the CLI equals a fresh build of the 30 docs
    from pears_lite_spark.index.build import (build_postings, read_index,
                                              tokenize_whitespace,
                                              with_doc_id)
    out = str(tmp_path / "compacted")
    r4 = run(["compact", "--index", idx, "--output", out,
              "--refresh-stats"])
    assert r4["job"] == "compact" and r4["n_docs"] == 30
    cp, cstats = read_index(spark, out)
    fresh, fstats = build_postings(tokenize_whitespace(
        with_doc_id(spark.createDataFrame(full))).select("doc_id", "tokens"))
    assert cstats.n_docs == fstats.n_docs
    assert cstats.avgdl == pytest.approx(fstats.avgdl, abs=1e-12)
    queries = [["the"], ["page", "example"], ["zzzznothere"]]

    def ranked(p, st):
        return sorted(search_blocks(p, st, queries, k=30).collect())
    assert ranked(cp, cstats) == ranked(fresh, fstats) != []
    # written as a build is: at most one file per phase-B task
    from pears_lite_spark.index.build import _n_partitions
    files = glob.glob(os.path.join(out, "*.parquet"))
    assert 0 < len(files) <= _n_partitions(
        spark, int(cstats.n_docs * max(cstats.avgdl, 1.0)))
    assert not glob.glob(os.path.join(out, "*", "*.parquet"))


# ------------------------------------------------ model-based random ops

from hypothesis import given, settings, strategies as st

_op = st.one_of(
    st.tuples(st.just("append"),
              st.lists(st.integers(0, 60), min_size=1, max_size=6)),
    st.tuples(st.just("delete"), st.integers(0, 60)),
    st.tuples(st.just("compact"), st.just(0)),
)


@settings(max_examples=8, deadline=None)
@given(ops=st.lists(_op, min_size=1, max_size=6), seed=st.integers(0, 3))
def test_catalog_matches_model_under_random_ops(spark, tmp_path_factory,
                                                ops, seed):
    """Random append/delete/compact sequences vs a pure-Python model of
    the documented semantics (equality deletes always-applied until a
    compact clears them; appends are multiset, no upsert). After the
    run, every historical version must replay to the model state it
    had when committed (time travel)."""
    t = str(tmp_path_factory.mktemp("hyp") / "tbl")
    mk = lambda ks: spark.createDataFrame(
        [(f"k{k}", k) for k in ks], "url string, v long")
    # model: appended = list of keys (multiset); deleted = active keys
    appended = [seed, seed + 1]
    deleted: set = set()
    catalog.create_table(mk(appended), t, key_col="url")

    def live():
        return sorted(f"k{k}" for k in appended
                      if f"k{k}" not in deleted)

    states = {1: live()}
    v = 1
    for kind, arg in ops:
        if kind == "append":
            catalog.append(mk(arg), t)
            appended.extend(arg)
        elif kind == "delete":
            catalog.delete_where(spark, t, f"v <= {arg}")
            deleted |= {f"k{k}" for k in appended
                        if k <= arg and f"k{k}" not in deleted}
        else:
            catalog.compact(spark, t)
            appended = [k for k in appended if f"k{k}" not in deleted]
            deleted = set()
        v += 1
        states[v] = live()
        got = sorted(r["url"] for r in
                     catalog.scan(spark, t).select("url").collect())
        assert got == states[v], f"v{v} after {kind}"
    # time travel: every version replays to its recorded model state
    for ver, want in states.items():
        got = sorted(r["url"] for r in
                     catalog.scan(spark, t, version=ver)
                     .select("url").collect())
        assert got == want, f"time travel v{ver}"


def test_expire_snapshots_and_orphan_cleanup(spark, tmp_path):
    """Expiry retains the newest K snapshots' files, removes
    unreferenced files (including crash orphans no snapshot ever
    committed), keeps the current scan identical, and makes expired
    time travel / stale incremental baselines fail loudly."""
    t = str(tmp_path / "exp")
    mk = lambda lo, hi: spark.createDataFrame(
        [(i, f"u{i}") for i in range(lo, hi)],
        "doc_id long, url string")
    catalog.create_table(mk(0, 10), t, key_col="doc_id")     # v1
    catalog.append(mk(10, 20), t)                            # v2
    catalog.delete_where(spark, t, "doc_id < 5")             # v3
    catalog.compact(spark, t)                                # v4 (drops v1-v3 files)
    catalog.append(mk(20, 25), t)                            # v5
    # plant a crash orphan: a data dir no snapshot references
    orphan_dir = os.path.join(t, "data", "snap-99")
    os.makedirs(orphan_dir)
    with open(os.path.join(orphan_dir, "junk.parquet"), "wb") as fh:
        fh.write(b"not really parquet")
    before = sorted(r["doc_id"] for r in catalog.scan(spark, t).collect())

    res = catalog.expire_snapshots(t, keep_last=2)           # keep v4, v5
    assert res["removed_snapshots"] == 3 and res["removed_files"] >= 3
    assert not os.path.exists(orphan_dir)
    # current reads are untouched
    after = sorted(r["doc_id"] for r in catalog.scan(spark, t).collect())
    assert after == before
    # retained time travel works; expired raises
    assert catalog.scan(spark, t, version=4).count() == 15
    with pytest.raises(FileNotFoundError):
        catalog.scan(spark, t, version=2)
    # history lists only retained snapshots
    assert [s["version"] for s in catalog.history(t)] == [4, 5]
    # stale incremental baseline -> loud re-baseline error
    with pytest.raises(ValueError, match="re-baseline"):
        catalog.incremental_scan(spark, t, 1)
    # fresh baseline still works
    inc = catalog.incremental_scan(spark, t, 4)
    assert sorted(r["doc_id"] for r in inc.collect()) == list(range(20, 25))


def test_timestamp_bounds_prune_time_windows(spark, tmp_path):
    """warc_ts-style time-window queries prune files by timestamp
    bounds (stored as epoch micros in the manifest; int64-micros
    parquet timestamps carry footer stats, unlike legacy INT96)."""
    import datetime as dt
    t = str(tmp_path / "ts")
    day = lambda d: dt.datetime(2024, 1, d, tzinfo=dt.timezone.utc)
    mk = lambda d0, n: spark.createDataFrame(
        [(f"u{d0}_{i}", day(d0)) for i in range(n)],
        "url string, warc_ts timestamp").coalesce(1)
    catalog.create_table(mk(1, 5), t, key_col="url")   # day 1
    catalog.append(mk(10, 5), t)                       # day 10
    catalog.append(mk(20, 5), t)                       # day 20
    snap = catalog._read_snapshot(t, 3)
    assert all("warc_ts" in st["bounds"]
               for st in snap["file_stats"].values())
    window = catalog.scan(spark, t,
                          prune={"warc_ts": (day(9), day(11))})
    assert len(window.inputFiles()) == 1
    assert window.count() == 5
    assert {r["url"][:3] for r in window.collect()} == {"u10"}


def test_ann_delta_consumes_embedding_table(spark, capsys, tmp_path):
    """ANN artifact maintained incrementally off an embeddings snapshot
    table: baseline build, append-only delta, no-op when current, and
    probes see the union."""
    import json as _json
    from pears_lite_spark import jobs
    from pears_lite_spark.ann import ivf_topk_indexed

    def vecs(lo, hi):
        # i/1000 in dim 0 keeps every vector unique (the bare %13
        # pattern repeats with period 13 -> exact duplicates)
        return spark.createDataFrame(
            [(i, [float((i * 7 + d) % 13) + (i / 1000.0 if d == 0
                                             else 0.0)
                  for d in range(8)])
             for i in range(lo, hi)],
            "vec_id long, embedding array<float>")

    t = str(tmp_path / "etbl")
    catalog.create_table(vecs(0, 60), t, key_col="vec_id")
    idx = str(tmp_path / "aidx")

    def run(argv):
        rc = jobs.main(argv)
        out = capsys.readouterr().out.strip().splitlines()
        assert rc == 0
        return _json.loads(out[-1])

    base = ["ann-index", "--mode", "delta", "--input", t,
            "--output", idx, "--n-cells", "4"]
    r1 = run(base)
    assert r1["n_vectors_delta"] == 60 and not r1["up_to_date"]
    catalog.append(vecs(60, 80), t)
    r2 = run(base)
    assert r2["n_vectors_delta"] == 20
    assert r2["from_version"] == 1 and r2["to_version"] == 2
    r3 = run(base)
    assert r3["up_to_date"]
    # a probe over the maintained index can return appended vectors
    q = [float((70 * 7 + d) % 13) + (0.07 if d == 0 else 0.0)
         for d in range(8)]  # = vector 70
    top = ivf_topk_indexed(spark, idx, q, k=1, nprobe=4).collect()
    assert top and top[0]["vec_id"] == 70


def _vecs(spark, lo, hi):
    """Unique 8-d embeddings vec_id lo..hi-1 (dim 0 carries i/1000)."""
    return spark.createDataFrame(
        [(i, [float((i * 7 + d) % 13) + (i / 1000.0 if d == 0 else 0.0)
              for d in range(8)]) for i in range(lo, hi)],
        "vec_id long, embedding array<float>")


def _run_job(capsys, argv):
    from pears_lite_spark import jobs
    rc = jobs.main(argv)
    out = capsys.readouterr().out.strip().splitlines()
    assert rc == 0
    return json.loads(out[-1])


def test_index_delta_refuses_an_index_it_did_not_baseline(spark, docs_pdf,
                                                         tmp_path):
    """A table delta into a directory it did not baseline (here a
    4-part build_resumable of the same table) is refused before it
    writes anything, and so is a cursor of another table."""
    from pears_lite_spark.index.build import tokenize_whitespace, with_doc_id
    from pears_lite_spark.index.checkpoint import (build_resumable,
                                                   index_table_delta,
                                                   manifests, refresh_stats)
    t = str(tmp_path / "tbl")
    catalog.create_table(spark.createDataFrame(docs_pdf), t, key_col="url")
    idx = str(tmp_path / "idx")
    build_resumable(tokenize_whitespace(with_doc_id(catalog.scan(spark, t)))
                    .select("doc_id", "tokens"), idx, n_parts=4)
    before = sorted(os.listdir(idx))
    with pytest.raises(ValueError, match="no table cursor"):
        index_table_delta(spark, t, idx, tokenize_whitespace)
    assert sorted(os.listdir(idx)) == before and len(manifests(idx)) == 4
    assert refresh_stats(idx).n_docs == len(docs_pdf)
    # a cursor names its table: another table's rows are refused
    delta = str(tmp_path / "delta")
    index_table_delta(spark, t, delta, tokenize_whitespace)
    other = str(tmp_path / "other")
    catalog.create_table(spark.createDataFrame(docs_pdf.iloc[:5]), other,
                         key_col="url")
    with pytest.raises(ValueError, match="consumes table"):
        index_table_delta(spark, other, delta, tokenize_whitespace)


def test_index_delta_crash_before_advance_replays_its_range(
        spark, tmp_path, monkeypatch):
    """A delta run that commits its segment and dies before the cursor
    advances is replayed over exactly its own range, though a row was
    appended in between: the index ends with one part per version and
    as many docs as the table has live rows."""
    from pears_lite_spark.corpus import gen_corpus
    from pears_lite_spark.index.build import tokenize_whitespace
    from pears_lite_spark.index.checkpoint import (index_table_delta,
                                                   manifests, refresh_stats)
    full = gen_corpus(30)[["url", "text", "lang"]]
    rows = [spark.createDataFrame(full.iloc[i:i + 10]) for i in (0, 10, 20)]
    t = str(tmp_path / "tbl")
    idx = str(tmp_path / "idx")
    catalog.create_table(rows[0], t, key_col="url")              # v1
    index_table_delta(spark, t, idx, tokenize_whitespace)
    catalog.append(rows[1], t)                                   # v2
    advance, crashed = catalog.advance, []

    def crash_once(*args):
        if not crashed:
            crashed.append(args)
            raise RuntimeError("injected crash before advance")
        advance(*args)
    monkeypatch.setattr(catalog, "advance", crash_once)
    with pytest.raises(RuntimeError, match="injected"):
        index_table_delta(spark, t, idx, tokenize_whitespace)
    catalog.append(rows[2], t)                                   # v3
    runs = [index_table_delta(spark, t, idx, tokenize_whitespace)
            for _ in range(3)]
    assert [(r["from_version"], r["to_version"], r["up_to_date"])
            for r in runs] == [(1, 2, False), (2, 3, False), (3, 3, True)]
    assert [(m["partition"], m["n_docs"]) for m in manifests(idx)] == \
        [(1, 10), (2, 10), (3, 10)]
    assert refresh_stats(idx).n_docs == catalog.scan(spark, t).count() == 30


def test_ann_delta_counts_delete_commits_in_range(spark, capsys, tmp_path):
    """An ANN delta over a range holding a delete commit reports it
    (`n_delete_commits_in_range`) and warns: the delete does not reach
    the vectors indexed before the range."""
    t = str(tmp_path / "etbl")
    catalog.create_table(_vecs(spark, 0, 40), t, key_col="vec_id")
    idx = str(tmp_path / "aidx")
    base = ["ann-index", "--mode", "delta", "--input", t,
            "--output", idx, "--n-cells", "4"]
    assert _run_job(capsys, base)["n_delete_commits_in_range"] == 0
    catalog.append(_vecs(spark, 40, 50), t)
    catalog.delete_where(spark, t, "vec_id < 5")
    with pytest.warns(UserWarning, match=r"1 delete commit\(s\)"):
        r = _run_job(capsys, base)
    assert (r["from_version"], r["to_version"]) == (1, 3)
    assert r["n_delete_commits_in_range"] == 1 and r["n_vectors_delta"] == 10


def test_ann_build_over_table_records_the_version_it_scanned(
        spark, capsys, tmp_path, monkeypatch):
    """`ann-index --mode build` over a table records the version it
    scanned, not the one current after its write: vectors appended
    while it builds are indexed by the next --mode delta, which then
    continues from there."""
    from pears_lite_spark import ann
    t = str(tmp_path / "etbl")
    catalog.create_table(_vecs(spark, 0, 60), t, key_col="vec_id")
    idx = str(tmp_path / "aidx")
    write = ann.write_ann_index

    def append_during_write(emb, path, **kw):
        catalog.append(_vecs(spark, 60, 80), t)
        return write(emb, path, **kw)
    monkeypatch.setattr(ann, "write_ann_index", append_during_write)
    b = _run_job(capsys, ["ann-index", "--mode", "build", "--input", t,
                          "--output", idx, "--n-cells", "4"])
    monkeypatch.undo()
    assert b["to_version"] == 1
    base = ["ann-index", "--mode", "delta", "--input", t,
            "--output", idx, "--n-cells", "4"]
    r = _run_job(capsys, base)
    assert (r["from_version"], r["to_version"], r["n_vectors_delta"]) == \
        (1, 2, 20)
    assert _run_job(capsys, base)["up_to_date"]
    assert ann.ivf_topk_indexed(spark, idx, _vecs(spark, 70, 71).first()[1],
                                k=1, nprobe=4).first()["vec_id"] == 70


def test_ann_delta_into_an_index_without_cursor_is_refused(spark, capsys,
                                                           tmp_path):
    """`ann-index --mode delta` into a non-empty directory without a
    table cursor (an index built over raw parquet) fails with the
    cursor's message rather than appending every vector again."""
    from pears_lite_spark import jobs
    t = str(tmp_path / "etbl")
    catalog.create_table(_vecs(spark, 0, 40), t, key_col="vec_id")
    raw = str(tmp_path / "raw.parquet")
    catalog.scan(spark, t).write.parquet(raw)
    idx = str(tmp_path / "aidx")
    _run_job(capsys, ["ann-index", "--mode", "build", "--input", raw,
                      "--output", idx, "--n-cells", "4"])
    with pytest.raises(ValueError, match="no table cursor"):
        jobs.main(["ann-index", "--mode", "delta", "--input", t,
                   "--output", idx, "--n-cells", "4"])


def test_torn_commit_orphan_does_not_wedge_writes(spark, tmp_path):
    """A crash between data write and pointer flip leaves an orphan
    snap-{v} dir; the next commit of that version must clear it and
    succeed (regression: mode('error') used to throw path-exists
    forever)."""
    t = str(tmp_path / "torn")
    mk = lambda ks: spark.createDataFrame(
        [(f"k{k}", k) for k in ks], "url string, v long")
    catalog.create_table(mk([1, 2]), t, key_col="url")
    # simulate the torn write: v2 data exists, VERSION still 1
    catalog._write_data_files(mk([99]), t, 2)
    assert catalog.current_version(t) == 1
    snap = catalog.append(mk([3, 4]), t)  # must not raise
    assert snap["version"] == 2
    got = sorted(r["url"] for r in catalog.scan(spark, t).collect())
    assert got == ["k1", "k2", "k3", "k4"]  # orphan rows invisible


def test_expire_guards_and_replay_watermark_survives(spark, tmp_path):
    """keep_last < 1 raises instead of bricking the table, and the
    streaming replay watermark survives snapshot expiry (regression:
    dedup state used to be rebuilt from expired history)."""
    t = str(tmp_path / "wm")
    mk = lambda ks: spark.createDataFrame(
        [(f"k{k}", k) for k in ks], "url string, v long")
    catalog.create_table(mk([1]), t, key_col="url")
    sink = catalog.idempotent_batch_appender(t, stream_id="s1")
    sink(mk([2]), 0)
    sink(mk([3]), 1)
    with pytest.raises(ValueError, match="keep_last"):
        catalog.expire_snapshots(t, keep_last=0)
    catalog.expire_snapshots(t, keep_last=1)  # drops the append metas
    sink(mk([99]), 1)  # replay after expiry: still a no-op
    got = sorted(r["url"] for r in catalog.scan(spark, t).collect())
    assert got == ["k1", "k2", "k3"]


def test_scan_version_zero_raises(spark, tmp_path):
    t = str(tmp_path / "v0")
    catalog.create_table(
        spark.createDataFrame([("a", 1)], "url string, v long"), t,
        key_col="url")
    with pytest.raises(ValueError, match="invalid"):
        catalog.scan(spark, t, version=0)
    with pytest.raises(ValueError, match="invalid"):
        catalog.incremental_scan(spark, t, 0)


def test_crash_between_commit_and_sidecar_does_not_duplicate(
        spark, tmp_path):
    """ADVICE r04: a crash AFTER the VERSION flip but BEFORE the sidecar
    write leaves a fully committed snapshot under a stale watermark; the
    replayed batch must find its (stream_id, batch_id) in the HEAD
    snapshot's summary, repair the sidecar, and append nothing."""
    t = str(tmp_path / "crash")
    mk = lambda ks: spark.createDataFrame(
        [(f"k{k}", k) for k in ks], "url string, v long")
    catalog.create_table(mk([1]), t, key_col="url")
    sink = catalog.idempotent_batch_appender(t, stream_id="s1")
    sink(mk([2]), 0)
    v_after = catalog.current_version(t)
    # simulate the torn sidecar: batch 0's append committed but the
    # watermark write was lost in the crash
    sp = catalog._streams_path(t)
    with open(sp) as fh:
        marks = json.load(fh)
    marks["s1"] = -1
    with open(sp, "w") as fh:
        json.dump(marks, fh)
    sink(mk([99]), 0)  # replay of the committed batch
    assert catalog.current_version(t) == v_after  # no duplicate append
    with open(sp) as fh:
        assert json.load(fh)["s1"] == 0  # sidecar repaired
    got = sorted(r["url"] for r in catalog.scan(spark, t).collect())
    assert got == ["k1", "k2"]
    sink(mk([3]), 1)  # the NEXT batch is a genuine append
    assert catalog.current_version(t) == v_after + 1


def test_append_rejects_schema_mismatch(spark, tmp_path):
    """ADVICE r04: a mismatched append must fail at write time instead
    of committing mixed-schema parquet that scan() resolves silently."""
    t = str(tmp_path / "schema")
    catalog.create_table(
        spark.createDataFrame([("a", 1)], "url string, v long"), t,
        key_col="url")
    bad = spark.createDataFrame([("x", "oops")], "url string, v string")
    with pytest.raises(ValueError, match="schema"):
        catalog.append(bad, t)
    missing = spark.createDataFrame([("y",)], "url string")
    with pytest.raises(ValueError, match="schema"):
        catalog.append(missing, t)
    # matching schema still appends
    catalog.append(
        spark.createDataFrame([("b", 2)], "url string, v long"), t)
    assert catalog.scan(spark, t).count() == 2
