"""Incremental / streaming index ingestion.

The reference ingests one document at a time, rewriting the entire
matrix + positional index per doc and making it immediately searchable
(`/root/reference/app/indexer/controllers.py:159-184`, SURVEY.md §2.10).
The Spark-native equivalent is micro-batch ingestion: Structured
Streaming over the corpus directory, `foreachBatch` building an index
SEGMENT per micro-batch (part = batch_id), committed with its manifest
by checkpoint.commit_segment like every other index part, appended
next to earlier segments.
Queries see the union immediately (the block scorers sum a doc's
postings from every segment); `checkpoint.compact_index` merges
segments, so the steady state is the same LSM-ish segment+merge
lifecycle real search engines use — but every step is a declarative
Spark job.

Late data needs no watermark here (an inverted index has no event-time
aggregation — `warc_ts` rides along for snapshot/dedup ordering), so
ingestion uses the default append semantics; `Trigger.AvailableNow`
drains a backlog batch-by-batch and stops.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..index.build import (_n_partitions, build_postings, CorpusStats,
                           with_doc_id, write_stats)
from ..index.checkpoint import commit_segment

CORPUS_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
])


def _segment_writer(index_path: str, stats: CorpusStats,
                    tokenizer, with_positions: bool = True):
    """foreachBatch sink: tokenize the micro-batch, build its posting
    segment (phase B sized by the batch's own occurrences) and commit it
    (checkpoint.commit_segment) as part=<batch_id> with the batch's doc
    stats, so refresh_stats can correct the frozen seed (N, avgdl)
    after the drain without re-reading the corpus."""

    def write_batch(batch_df: DataFrame, batch_id: int):
        toks = (tokenizer(with_doc_id(batch_df)).select("doc_id", "tokens")
                .persist())  # one tokenize pass feeds build + stats agg
        agg = toks.agg(F.count("*").alias("n"),
                       F.sum(F.size("tokens")).alias("sum_dl")).collect()[0]
        sum_dl = int(agg["sum_dl"] or 0)
        postings, _ = build_postings(
            toks, stats=stats, with_positions=with_positions,
            n_partitions=_n_partitions(batch_df.sparkSession, sum_dl))
        commit_segment(postings, index_path, int(batch_id),
                       int(agg["n"] or 0), sum_dl, streaming=True)
        toks.unpersist()

    return write_batch


def stream_build(spark: SparkSession, corpus_dir: str, index_path: str,
                 stats: CorpusStats, tokenizer,
                 checkpoint_dir: str | None = None,
                 max_files_per_trigger: int = 1,
                 with_positions: bool = True):
    """Drain `corpus_dir` (parquet files of CORPUS_SCHEMA) into index
    segments with Trigger.AvailableNow; returns the finished query.

    `stats` (N, avgdl) must be supplied — a streaming build can't see
    the full corpus; provide estimates or stats of the seed batch (BM25
    treats them as slowly-varying constants; `compact_index` re-encodes
    with refreshed stats when desired).
    """
    os.makedirs(index_path, exist_ok=True)
    write_stats(index_path, stats)
    checkpoint_dir = checkpoint_dir or os.path.join(index_path, "_checkpoint")
    stream = (spark.readStream.schema(CORPUS_SCHEMA)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(corpus_dir))
    q = (stream.writeStream
         .foreachBatch(_segment_writer(index_path, stats, tokenizer,
                                       with_positions))
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q
