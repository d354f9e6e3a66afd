"""Per-phase build profiling at one parallelism level (subprocess per
level, same protocol as bench.timed_build).

    python tools/profile_build.py <cores> [corpus_path]

Phases: ingest (extract+tokenize, materialized via persist+count),
stats (agg over persisted tokens), encode (phase-A mapInPandas ->
partial runs -> the one slot shuffle -> phase-B mapInArrow merge +
block encode, materialized via persist+count), write (per-partition
sort + term_bucket-partitioned parquet, no exchange). Phase A is the
same kernel the fused build_from_corpus runs; only its input differs
(tokens here, html there).
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(cores: int, cpath: str):
    from bench import make_session
    from pears_lite_spark.index.build import (build_postings, corpus_stats,
                                              ingest_tokens, write_index)
    spark = make_session(cores)
    spark.sparkContext.setLogLevel("ERROR")
    # warm python workers
    warm = spark.read.parquet(cpath).limit(40 * cores).repartition(2 * cores)
    warm.write.mode("overwrite").parquet("/tmp/prof_warm_in")
    from pears_lite_spark.index.build import ingest_tokens as it
    it(spark.read.parquet("/tmp/prof_warm_in")).count()

    corpus = spark.read.parquet(cpath).select("url", "html")
    t0 = time.time()
    toks = ingest_tokens(corpus).select("doc_id", "tokens").persist()
    n = toks.count()
    t1 = time.time()
    stats = corpus_stats(toks)
    t2 = time.time()
    postings, stats = build_postings(toks, stats=stats)
    postings = postings.persist()
    nb = postings.count()
    t3 = time.time()
    write_index(postings, f"/tmp/prof_idx_{cores}", stats=stats)
    t4 = time.time()
    print(f"RESULT cores={cores} docs={n} blocks={nb} "
          f"ingest={t1-t0:.1f} stats={t2-t1:.1f} encode={t3-t2:.1f} "
          f"write={t4-t3:.1f} total={t4-t0:.1f}")
    spark.stop()


if __name__ == "__main__":
    cores = int(sys.argv[1])
    cpath = sys.argv[2] if len(sys.argv) > 2 else \
        "/tmp/pears_bench_corpus_100000_f64.parquet"
    main(cores, cpath)
