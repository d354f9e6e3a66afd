"""Per-phase build profiling at one parallelism level.

    python tools/profile_build.py <cores> <corpus_path>

corpus_path is a parquet corpus with url and html columns, such as one
`corpus.write_corpus_parquet` writes or the bench corpus
(.perfbench/cache/d99000_f64_s42/corpus, generated by `python bench.py`).

Phases: ingest (extract+tokenize, materialized via persist+count),
stats (agg over persisted tokens), encode (phase-A mapInPandas ->
partial runs -> the one slot shuffle -> phase-B mapInArrow merge +
block encode, materialized via persist+count), write (per-partition
sort, one parquet file per partition, no exchange). Phase A is the
same kernel the fused build_from_corpus runs; only its input differs
(tokens here, html there).
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(cores: int, cpath: str):
    from pears_lite_spark.index.build import (build_postings, corpus_stats,
                                              ingest_tokens, write_index)
    from pears_lite_spark.session import get_spark
    spark = get_spark(master=f"local[{cores}]", shuffle_partitions=cores)
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
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(int(sys.argv[1]), sys.argv[2])
