"""spark-submit entrypoints: build / resume / query / compact /
pipeline / ann-index / table / index-delta.

The north rule requires the pipeline to run "via spark-submit
--py-files on multi-executor clusters". This module is that surface:

    python tools/make_pyfiles.py                      # -> pears_lite_spark.zip
    spark-submit --master <cluster> \
        --py-files /tmp/pears_lite_spark.zip \
        jobs/run_job.py build --input corpus/ --output idx/ --resume
    spark-submit ... jobs/run_job.py query --index idx/ --queries qs.txt

The SparkSession comes from spark-submit's conf (master, executor
topology); `get_spark` defaults apply only when run standalone. Each
subcommand prints ONE JSON metrics line on stdout (logs go to stderr),
so a workflow engine can parse results.

Contrast the reference's ingestion surface: a Flask POST handler
indexing one URL per request with a full-index rewrite per doc
(`/root/reference/app/indexer/controllers.py:159-184`,
`posix.py:17-28`).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _spark(app_name: str):
    # under spark-submit the builder picks up the submitted conf; the
    # session factory only fills gaps (AQE, Arrow, shuffle partitions)
    from .session import get_spark
    master = os.environ.get("PEARS_MASTER")  # standalone runs only
    return get_spark(app_name=app_name, master=master)


def _emit(obj: dict) -> None:
    print(json.dumps(obj), flush=True)


def _read_corpus(spark, path: str):
    """Corpus input: an Iceberg-style snapshot table (metadata/VERSION
    present -> catalog.scan, which honors row-level deletes) or a plain
    parquet path."""
    from . import catalog
    if catalog.is_table(path):
        return catalog.scan(spark, path)
    return spark.read.parquet(path)


def _load_corpus_tokens(spark, path: str, tokenizer: str):
    """Corpus parquet -> (doc_id, tokens). Accepts either the input-hint
    schema (url, warc_ts, html, text, lang) — html is extracted+tokenized
    in one Arrow pass — or a pre-extracted (doc_id|url, text) table."""
    from .index.build import ingest_tokens, tokenize_spm, \
        tokenize_whitespace, with_doc_id
    df = _read_corpus(spark, path)
    cols = set(df.columns)
    if "html" in cols:
        return ingest_tokens(df, tokenizer=tokenizer).select(
            "doc_id", "tokens")
    if "doc_id" not in cols:
        df = with_doc_id(df)
    if tokenizer == "spm":
        return tokenize_spm(df.select("doc_id", "text")).select(
            "doc_id", "tokens")
    return tokenize_whitespace(df).select("doc_id", "tokens")


def cmd_build(args) -> int:
    spark = _spark("pears-build")
    t0 = time.time()
    # html corpora take the fused build (below); resume + pre-extracted
    # tables go through the tokens path
    has_html = "html" in _read_corpus(spark, args.input).columns
    tokens = None if (has_html and not args.resume) else \
        _load_corpus_tokens(spark, args.input, args.tokenizer)
    from .index.checkpoint import build_resumable, manifests, segment_facts
    if args.resume:
        stats = build_resumable(tokens, args.output, n_parts=args.n_parts,
                                with_positions=not args.no_positions)
        segments = manifests(args.output)
    else:
        from .index.build import (build_from_corpus, build_postings,
                                  write_index)
        if tokens is None:  # html corpus: fused single-pass build
            postings, stats = build_from_corpus(
                _read_corpus(spark, args.input), tokenizer=args.tokenizer,
                with_positions=not args.no_positions)
        else:
            postings, stats = build_postings(
                tokens, with_positions=not args.no_positions)
        write_index(postings, args.output, stats=stats)
        segments = [segment_facts(args.output)]
    dt = time.time() - t0
    _emit({"job": "build", "input": args.input, "output": args.output,
           "resume": bool(args.resume), "n_docs": stats.n_docs,
           "avgdl": round(stats.avgdl, 3), "seconds": round(dt, 2),
           "docs_per_sec": round(stats.n_docs / dt, 1),
           "n_blocks": sum(m["n_blocks"] for m in segments),
           "payload_bytes": sum(m["payload_bytes"] for m in segments),
           "file_bytes": _file_bytes(args.output),
           "files": sum(len(m["files"]) for m in segments)})
    return 0


def _file_bytes(path: str) -> int:
    """On-disk bytes of an index's parquet files, every part included
    (compressed, footers counted)."""
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))


def _read_any_index(spark, path: str):
    """Detect layout: resumable multi-part (manifest_*.json + part=N/)
    vs single-segment (one parquet file per phase-B task)."""
    entries = os.listdir(path)
    if any(e.startswith("manifest_") for e in entries):
        from .index.checkpoint import read_resumable
        return read_resumable(spark, path)
    from .index.build import read_index
    return read_index(spark, path)


def cmd_query(args) -> int:
    from .search.bm25 import Searcher
    from .vocab import get_vocab
    spark = _spark("pears-query")
    t0 = time.time()
    postings, stats = _read_any_index(spark, args.index)
    with open(args.queries, encoding="utf-8") as fh:
        raw = [ln.strip() for ln in fh if ln.strip()]
    if args.tokenizer == "spm":
        v = get_vocab()
        queries = [v.encode_as_pieces(q) for q in raw]
    else:
        queries = [q.split() for q in raw]
    searcher = Searcher(postings, stats)
    t1 = time.time()
    results = searcher.search(queries, k=args.k)
    t2 = time.time()
    _emit({"job": "query", "index": args.index, "n_queries": len(raw),
           "k": args.k, "load_seconds": round(t1 - t0, 2),
           "search_seconds": round(t2 - t1, 2),
           "results": [
               {"query": q, "hits": [
                   {"doc_id": d, "score": round(s, 6)} for d, s in hits]}
               for q, hits in zip(raw, results)]})
    return 0


def cmd_compact(args) -> int:
    from .index.build import write_index
    from .index.checkpoint import compact_index, refresh_stats
    spark = _spark("pears-compact")
    t0 = time.time()
    postings, stats = _read_any_index(spark, args.index)
    if args.refresh_stats:
        # post-drain correction: streamed segments carry the frozen
        # seed (N, avgdl); recompute exact stats and re-encode impacts
        stats = refresh_stats(args.index)
    merged = compact_index(postings, stats)
    write_index(merged, args.output, stats=stats)
    _emit({"job": "compact", "index": args.index, "output": args.output,
           "refreshed_stats": bool(args.refresh_stats),
           "n_docs": stats.n_docs, "avgdl": round(stats.avgdl, 3),
           "seconds": round(time.time() - t0, 2)})
    return 0


def cmd_ann_index(args) -> int:
    """Build / append / probe the materialized ANN artifact (ivf_cell
    and (lsh_table, lsh_bucket) as stored parquet partition keys — the
    serving path that partition-prunes instead of rescanning per
    query)."""
    from . import catalog
    from .ann import (append_ann_index, ivf_topk_indexed,
                      lsh_topk_indexed, read_ann_meta, write_ann_index)
    spark = _spark("pears-ann")
    t0 = time.time()
    if args.mode == "delta":
        # incremental maintenance off an embeddings snapshot table
        # through the table cursor: a baseline write, then only the
        # vectors appended since the version the index last consumed
        cur = catalog.current_version(args.input)
        pending = catalog.pending_appends(spark, args.input, args.output)
        if pending is None:
            _emit({"job": "ann-index", "mode": "delta",
                   "from_version": cur, "to_version": cur,
                   "up_to_date": True, "n_vectors_delta": 0,
                   "seconds": round(time.time() - t0, 2)})
            return 0
        frm, to, emb, n_deletes = pending
        n_delta = emb.count()
        if frm is None:
            write_ann_index(emb, args.output, n_cells=args.n_cells,
                            n_planes=args.n_planes,
                            n_tables=args.n_tables)
        elif n_delta:
            append_ann_index(emb, args.output)
        catalog.advance(args.output, args.input, to)
        _emit({"job": "ann-index", "mode": "delta",
               "from_version": frm, "to_version": to,
               "up_to_date": False, "n_vectors_delta": int(n_delta),
               "n_delete_commits_in_range": n_deletes,
               "seconds": round(time.time() - t0, 2)})
        return 0
    if args.mode == "build":
        # over a snapshot table, scan the version it then records, so a
        # later --mode delta resumes from exactly what was indexed
        version = (catalog.current_version(args.input)
                   if catalog.is_table(args.input) else None)
        emb = (catalog.scan(spark, args.input, version=version)
               if version else spark.read.parquet(args.input))
        meta = write_ann_index(emb, args.output, n_cells=args.n_cells,
                               n_planes=args.n_planes,
                               n_tables=args.n_tables)
        if version:
            catalog.advance(args.output, args.input, version)
        _emit({"job": "ann-index", "mode": "build", "output": args.output,
               "n_cells": meta["n_cells"], "dim": meta["dim"],
               "n_tables": meta["n_tables"], "to_version": version,
               "seconds": round(time.time() - t0, 2)})
    elif args.mode == "append":
        append_ann_index(_read_corpus(spark, args.input), args.output)
        _emit({"job": "ann-index", "mode": "append", "output": args.output,
               "seconds": round(time.time() - t0, 2)})
    else:  # probe
        meta = read_ann_meta(args.output)
        vid = args.query_id
        emb = spark.read.parquet(args.input)
        from pyspark.sql import functions as F
        q = [float(x) for x in
             emb.filter(F.col(meta["id_col"]) == vid)
                .select(meta["vec_col"]).collect()[0][0]]
        fn = (lambda: ivf_topk_indexed(spark, args.output, q, k=args.k,
                                       nprobe=args.nprobe)) \
            if args.method == "ivf" else \
            (lambda: lsh_topk_indexed(spark, args.output, q, k=args.k))
        rows = fn().collect()
        _emit({"job": "ann-index", "mode": "probe", "method": args.method,
               "query_id": vid,
               "hits": [{"vec_id": int(r[0]), "cosine": round(r[1], 6)}
                        for r in rows],
               "seconds": round(time.time() - t0, 2)})
    return 0


def cmd_table(args) -> int:
    """Maintain an Iceberg-style snapshot table (see catalog.py):
    create / append / delete / compact / history. `build` and
    `pipeline` accept a table path as --input directly (deletes are
    honored at scan time)."""
    from . import catalog
    spark = _spark("pears-table")
    t0 = time.time()
    if args.op == "create":
        snap = catalog.create_table(spark.read.parquet(args.input),
                                    args.path, key_col=args.key)
    elif args.op == "append":
        snap = catalog.append(spark.read.parquet(args.input), args.path)
    elif args.op == "delete":
        snap = catalog.delete_where(spark, args.path, args.predicate)
    elif args.op == "compact":
        snap = catalog.compact(spark, args.path)
    elif args.op == "expire":
        res = catalog.expire_snapshots(args.path,
                                       keep_last=args.keep_last)
        _emit({"job": "table", "op": "expire", "path": args.path,
               **res, "seconds": round(time.time() - t0, 2)})
        return 0
    else:  # history
        hist = catalog.history(args.path)
        _emit({"job": "table", "op": "history", "path": args.path,
               "versions": [{k: s[k] for k in
                             ("version", "operation", "summary")}
                            for s in hist],
               "seconds": round(time.time() - t0, 2)})
        return 0
    n_live = catalog.scan(spark, args.path).count()
    _emit({"job": "table", "op": args.op, "path": args.path,
           "version": snap["version"], "n_live_rows": int(n_live),
           "n_data_files": len(snap["data_files"]),
           "n_delete_files": len(snap["delete_files"]),
           "seconds": round(time.time() - t0, 2)})
    return 0


def cmd_index_delta(args) -> int:
    """Incremental indexing off a snapshot table: index only the rows
    appended since the table version this index last consumed (lineage
    in the index's table cursor + per-segment manifests)."""
    from .index.build import tokenize_spm, tokenize_whitespace
    from .index.checkpoint import index_table_delta
    spark = _spark("pears-index-delta")
    t0 = time.time()
    tokenizer = tokenize_spm if args.tokenizer == "spm" \
        else tokenize_whitespace
    res = index_table_delta(spark, args.table, args.index, tokenizer,
                            with_positions=not args.no_positions)
    _emit({"job": "index-delta", "table": args.table,
           "index": args.index, **res,
           "seconds": round(time.time() - t0, 2)})
    return 0


def cmd_pipeline(args) -> int:
    """End-to-end training-data pipeline: corpus -> extract ->
    [sample] -> quality filter [-> Gopher rule suite] [-> LM-loglik
    filter] [-> classifier filter] [-> benchmark decontamination] ->
    exact + MinHash-LSH dedup [-> span dedup] [-> line dedup] -> block
    index. One declarative plan per stage; every stage is the same
    operator the contract checks; the bracketed stages are opt-in
    flags."""
    from .dedup import (exact_dedup, jaccard_pairs, line_dedup,
                        lsh_candidate_pairs, span_dedup)
    from .functions.decontam import ngram_contamination
    from .functions.extract import extract_df
    from .functions.sampling import deterministic_sample
    from .functions.textstats import (classifier_score, gopher_rules,
                                      quality_scores, unigram_loglik)
    from .index.build import (build_postings, tokenize_spm,
                              tokenize_whitespace, with_doc_id, write_index)
    from pyspark.sql import functions as F
    spark = _spark("pears-pipeline")
    t0 = time.time()
    corpus = _read_corpus(spark, args.input)
    docs = corpus
    if "html" in corpus.columns:
        docs = extract_df(corpus)
    docs = with_doc_id(docs).select("doc_id", "url", "text")
    if args.sample_rate < 1.0:
        docs = deterministic_sample(docs, args.sample_rate,
                                    seed=args.sample_seed)
    docs = docs.persist()
    n_raw = docs.count()
    # quality gate(s)
    q = quality_scores(docs)
    kept_ids = q.filter(F.col("quality") >= args.min_quality) \
                .select("doc_id")
    docs_q = docs.join(kept_ids, "doc_id", "left_semi")
    if args.gopher:
        g_ids = (gopher_rules(docs_q, min_words=args.gopher_min_words)
                 .filter(F.col("pass_gopher")).select("doc_id"))
        docs_q = docs_q.join(g_ids, "doc_id", "left_semi")
    if args.min_loglik is not None:
        ll_ids = (unigram_loglik(docs_q)
                  .filter(F.col("avg_logprob") >= args.min_loglik)
                  .select("doc_id"))
        docs_q = docs_q.join(ll_ids, "doc_id", "left_semi")
    if args.min_classifier_score is not None:
        c_ids = (classifier_score(docs_q)
                 .filter(F.col("score_r") >= args.min_classifier_score)
                 .select("doc_id"))
        docs_q = docs_q.join(c_ids, "doc_id", "left_semi")
    if args.decontam_benchmarks is not None:
        bench = spark.read.parquet(args.decontam_benchmarks)
        bad = (ngram_contamination(docs_q, bench, n=args.decontam_n)
               .filter(F.col("contaminated")).select("doc_id"))
        docs_q = docs_q.join(bad, "doc_id", "left_anti")
    # Stage barrier: each gate above is docs_q.join(f(docs_q), ...),
    # so the logical plan DOUBLES per gate, and the dedup stages below
    # reference their input 3-4x more — left unchecked the analyzer
    # cost goes exponential in stage count (observed: Catalyst hung
    # analyzing the line_dedup join with all gates on). Truncate
    # lineage here and between the rewrite stages; at cluster scale
    # these are exactly the materialization barriers a multi-stage
    # corpus pipeline wants anyway (swap localCheckpoint for a
    # checkpoint dir / staging parquet on a real deployment).
    docs_q = docs_q.localCheckpoint()
    # exact dedup, then near-dup removal (keep lowest doc_id of a pair)
    docs_d = exact_dedup(docs_q)
    cands = lsh_candidate_pairs(docs_d, num_hashes=args.minhash_k,
                                bands=args.minhash_bands)
    near = jaccard_pairs(docs_d, candidates=cands,
                         threshold=args.jaccard_threshold)
    drop = near.select(F.col("doc_b").alias("doc_id")).distinct()
    clean = docs_d.join(drop, "doc_id", "left_anti")
    if args.span_dedup or args.line_dedup:
        clean = clean.localCheckpoint()
    if args.span_dedup:
        # cross-doc boilerplate removal; re-key text to the cleaned form
        clean = (clean.drop("text")
                 .join(span_dedup(clean, k=args.span_k)
                       .select("doc_id",
                               F.col("text_clean").alias("text")),
                       "doc_id"))
    if args.line_dedup:
        if args.span_dedup:  # re-truncate after the span rewrite join
            clean = clean.localCheckpoint()
        clean = (clean.drop("text")
                 .join(line_dedup(clean, min_doc_freq=args.line_min_df)
                       .select("doc_id",
                               F.col("text_clean").alias("text")),
                       "doc_id"))
    clean = clean.persist()
    n_clean = clean.count()
    tokenizer = tokenize_spm if args.tokenizer == "spm" \
        else tokenize_whitespace
    toks = tokenizer(clean.select("doc_id", "text")) \
        .select("doc_id", "tokens")
    postings, stats = build_postings(toks)
    write_index(postings, args.output, stats=stats)
    # release the two corpus caches (harmless for the exit-after-run
    # CLI, required when this function is reused programmatically)
    docs.unpersist()
    clean.unpersist()
    dt = time.time() - t0
    _emit({"job": "pipeline", "input": args.input, "output": args.output,
           "n_raw": int(n_raw), "n_indexed": int(n_clean),
           "dropped": int(n_raw - n_clean),
           "n_docs": stats.n_docs, "avgdl": round(stats.avgdl, 3),
           "seconds": round(dt, 2)})
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="pears-jobs",
        description="PySpark full-text engine jobs (spark-submit surface)")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="corpus parquet -> block index")
    b.add_argument("--input", required=True)
    b.add_argument("--output", required=True)
    b.add_argument("--tokenizer", default="spm", choices=["spm", "ws"])
    b.add_argument("--resume", action="store_true",
                   help="per-partition checkpointed build (skips "
                        "partitions whose manifest matches the input)")
    b.add_argument("--n-parts", type=int, default=8)
    b.add_argument("--no-positions", action="store_true")
    b.set_defaults(fn=cmd_build)

    q = sub.add_parser("query", help="BM25 top-k over a built index")
    q.add_argument("--index", required=True)
    q.add_argument("--queries", required=True,
                   help="text file, one query per line")
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--tokenizer", default="spm", choices=["spm", "ws"])
    q.set_defaults(fn=cmd_query)

    c = sub.add_parser("compact", help="merge a multi-part index")
    c.add_argument("--index", required=True)
    c.add_argument("--output", required=True)
    c.add_argument("--refresh-stats", action="store_true",
                   help="recompute exact (N, avgdl) from the part manifests "
                        "before re-encoding (post-streaming-drain step)")
    c.set_defaults(fn=cmd_compact)

    ai = sub.add_parser("ann-index",
                        help="build/append/probe the materialized ANN index")
    ai.add_argument("--mode", required=True,
                    choices=["build", "append", "probe", "delta"])
    ai.add_argument("--input", required=True,
                    help="embeddings parquet (vec_id, embedding)")
    ai.add_argument("--output", required=True, help="index root dir")
    ai.add_argument("--n-cells", type=int, default=16)
    ai.add_argument("--n-planes", type=int, default=8)
    ai.add_argument("--n-tables", type=int, default=4)
    ai.add_argument("--method", default="ivf", choices=["ivf", "lsh"])
    ai.add_argument("--query-id", type=int, default=0)
    ai.add_argument("--k", type=int, default=10)
    ai.add_argument("--nprobe", type=int, default=4)
    ai.set_defaults(fn=cmd_ann_index)

    pl = sub.add_parser("pipeline",
                        help="corpus -> quality filter -> dedup -> index")
    pl.add_argument("--input", required=True)
    pl.add_argument("--output", required=True)
    pl.add_argument("--tokenizer", default="spm", choices=["spm", "ws"])
    pl.add_argument("--min-quality", type=float, default=0.3)
    pl.add_argument("--jaccard-threshold", type=float, default=0.85)
    pl.add_argument("--minhash-k", type=int, default=16)
    pl.add_argument("--minhash-bands", type=int, default=4)
    pl.add_argument("--sample-rate", type=float, default=1.0,
                    help="deterministic md5 hash-threshold sample")
    pl.add_argument("--sample-seed", type=int, default=0)
    pl.add_argument("--min-loglik", type=float, default=None,
                    help="unigram-LM mean piece log-prob floor")
    pl.add_argument("--span-dedup", action="store_true",
                    help="cross-doc duplicate-span removal before indexing")
    pl.add_argument("--span-k", type=int, default=12)
    pl.add_argument("--gopher", action="store_true",
                    help="apply the Gopher quality rule suite")
    pl.add_argument("--gopher-min-words", type=int, default=50)
    pl.add_argument("--min-classifier-score", type=float, default=None,
                    help="hashed-linear classifier sigmoid-score floor")
    pl.add_argument("--decontam-benchmarks", default=None,
                    help="parquet of benchmark texts; docs sharing an "
                         "n-gram are dropped")
    pl.add_argument("--decontam-n", type=int, default=13)
    pl.add_argument("--line-dedup", action="store_true",
                    help="corpus-frequency boilerplate line removal")
    pl.add_argument("--line-min-df", type=int, default=5)
    pl.set_defaults(fn=cmd_pipeline)

    tb = sub.add_parser("table",
                        help="Iceberg-style snapshot table maintenance")
    tb.add_argument("--op", required=True,
                    choices=["create", "append", "delete", "compact",
                             "history", "expire"])
    tb.add_argument("--path", required=True, help="table root dir")
    tb.add_argument("--input", default=None,
                    help="parquet to load (create/append)")
    tb.add_argument("--key", default="url",
                    help="equality-delete key column (create)")
    tb.add_argument("--predicate", default=None,
                    help="SQL predicate for --op delete")
    tb.add_argument("--keep-last", type=int, default=2,
                    help="snapshots to retain for --op expire")
    tb.set_defaults(fn=cmd_table)

    idl = sub.add_parser("index-delta",
                         help="index rows appended to a snapshot table "
                              "since the last consumed version")
    idl.add_argument("--table", required=True)
    idl.add_argument("--index", required=True)
    idl.add_argument("--tokenizer", default="spm", choices=["spm", "ws"])
    idl.add_argument("--no-positions", action="store_true")
    idl.set_defaults(fn=cmd_index_delta)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
