"""End-to-end tests of the spark-submit job surface (`jobs.py` /
`jobs/run_job.py`) — the north rule's deployment contract. Each
subcommand is driven through `main(argv)` exactly as spark-submit
would, and its single stdout JSON metrics line is parsed back.

Reference contrast: PeARS-lite ingests via per-URL Flask POSTs
(`/root/reference/app/indexer/controllers.py:159-184`); this surface
is the batch-cluster equivalent.
"""

import json
import os

import pytest


def _run_cli(capsys, argv):
    from pears_lite_spark import jobs
    rc = jobs.main(argv)
    out = capsys.readouterr().out.strip().splitlines()
    assert rc == 0
    # exactly one machine-parseable line on stdout (logs go to stderr)
    payload = json.loads(out[-1])
    return payload


@pytest.fixture(scope="module")
def corpus_path(spark, tmp_path_factory):
    from pears_lite_spark.corpus import gen_corpus
    p = str(tmp_path_factory.mktemp("jobs_cli") / "corpus.parquet")
    spark.createDataFrame(gen_corpus(120)).write.parquet(p)
    return p


@pytest.mark.parametrize("extra", [[], ["--resume", "--n-parts", "3"],
                                   ["--resume", "--n-parts", "1"],
                                   ["--no-positions"]],
                         ids=["fused", "resumable", "resumable_1part",
                              "fused_no_positions"])
def test_build_then_query_cli(spark, capsys, corpus_path, tmp_path, extra):
    """Build with the given options (and, for a non-default build, the
    fused build beside it), then query each index through the CLI: the
    `query` subcommand reads either layout through `_read_any_index`.
    Its hits must be rank-identical to search_blocks over the same
    postings, and every other build's hits to the fused build's. The
    build line reports the index's blocks, payload bytes, on-disk file
    bytes and files; a 1-part --resume build reports the fused build's
    blocks, payload bytes and file bytes; a --no-positions build
    stores no positions."""
    import glob
    from pears_lite_spark import jobs
    from pears_lite_spark.search.bm25 import search_blocks
    qfile = tmp_path / "queries.txt"
    qfile.write_text("the of\nand\n", encoding="utf-8")
    builds = {"fused": []}
    if extra:
        builds["other"] = extra
    hits, payload, facts = {}, {}, {}
    for name, opts in builds.items():
        idx = str(tmp_path / name)
        built = _run_cli(capsys, ["build", "--input", corpus_path,
                                  "--output", idx, "--tokenizer", "ws",
                                  *opts])
        resume = "--resume" in opts
        assert built["job"] == "build" and built["resume"] == resume
        assert built["n_docs"] > 0 and built["avgdl"] > 0
        assert any(f.startswith("manifest_")
                   for f in os.listdir(idx)) == resume
        postings, stats = jobs._read_any_index(spark, idx)
        assert built["n_blocks"] == postings.count()
        assert built["files"] == len(glob.glob(
            os.path.join(idx, "**", "*.parquet"), recursive=True))
        assert built["payload_bytes"] > 0
        assert built["file_bytes"] == sum(
            os.path.getsize(f) for f in glob.glob(
                os.path.join(idx, "**", "*.parquet"), recursive=True))
        # compressed below the payload; split into 3 parts, 120 docs
        # nearly double their blocks, and the per-block key columns and
        # 12 footers outweigh what zstd saves (README, "Index layout")
        assert 0 < built["file_bytes"] < built["payload_bytes"] or resume
        payload[name] = built["payload_bytes"]
        facts[name] = [built[k] for k in
                       ("n_blocks", "payload_bytes", "file_bytes")]
        if "--no-positions" in opts:
            assert postings.filter("positions IS NOT NULL").isEmpty()
        res = _run_cli(capsys, ["query", "--index", idx,
                                "--queries", str(qfile),
                                "--tokenizer", "ws", "--k", "5"])
        assert res["job"] == "query" and res["n_queries"] == 2
        direct = search_blocks(postings, stats, [["the", "of"], ["and"]],
                               k=5).collect()
        hits[name] = [[(h["doc_id"], round(h["score"], 6))
                       for h in cli_q["hits"]] for cli_q in res["results"]]
        for qid, got in enumerate(hits[name]):
            want = sorted((r["rank"], r["doc_id"], round(r["score"], 6))
                          for r in direct if r["query_id"] == qid)
            assert got == [(d, s) for _, d, s in want]
    assert all(h == hits["fused"] for h in hits.values())
    assert all(hits["fused"])
    if "--no-positions" in extra:
        assert payload["other"] < payload["fused"]
    if extra[-2:] == ["--n-parts", "1"]:
        assert facts["other"] == facts["fused"]


def test_pipeline_cli_all_gates(spark, capsys, corpus_path, tmp_path):
    """Every opt-in gate enabled at permissive thresholds; the planted
    benchmark row must knock out exactly its source doc via the
    13-gram decontamination anti-join."""
    from pears_lite_spark.corpus import gen_corpus
    bench_dir = str(tmp_path / "bench.parquet")
    # benchmark "leak": the verbatim text of one corpus doc
    leak = gen_corpus(120).iloc[7]["text"]
    spark.createDataFrame([(leak,)], "text string") \
        .write.parquet(bench_dir)
    idx = str(tmp_path / "pidx")
    res = _run_cli(capsys, [
        "pipeline", "--input", corpus_path, "--output", idx,
        "--tokenizer", "ws", "--min-quality", "0.0",
        "--gopher", "--gopher-min-words", "5",
        "--min-loglik", "-999", "--min-classifier-score", "0.0",
        "--decontam-benchmarks", bench_dir,
        "--span-dedup", "--line-dedup", "--line-min-df", "3"])
    assert res["job"] == "pipeline"
    assert 0 < res["n_indexed"] <= res["n_raw"]
    # at minimum the contaminated doc is gone
    assert res["dropped"] >= 1
    # the emitted index is readable and indexes exactly n_indexed docs
    from pears_lite_spark.index.build import read_index
    _, stats = read_index(spark, idx)
    assert stats.n_docs == res["n_indexed"]


def test_pipeline_cli_decontam_is_surgical(spark, capsys, tmp_path):
    """Decontamination alone (no other gates) drops exactly the docs
    sharing a 13-gram with the benchmarks, nothing else."""
    from pears_lite_spark.corpus import gen_corpus
    pdf = gen_corpus(60)
    cpath = str(tmp_path / "c.parquet")
    spark.createDataFrame(pdf).write.parquet(cpath)
    bench_dir = str(tmp_path / "b.parquet")
    spark.createDataFrame([(pdf.iloc[3]["text"],)], "text string") \
        .write.parquet(bench_dir)
    idx = str(tmp_path / "idx2")
    res = _run_cli(capsys, [
        "pipeline", "--input", cpath, "--output", idx,
        "--tokenizer", "ws", "--min-quality", "0.0",
        "--decontam-benchmarks", bench_dir,
        "--jaccard-threshold", "1.01"])  # disable near-dup drops
    # exact-dedup may also collapse identical twins; decontam must
    # account for at least one drop and the source doc must be out
    assert res["dropped"] >= 1
    assert res["n_indexed"] < res["n_raw"]
